"""Protocol versioning (Delta's `protocol` action): a table carries a
minimum reader/writer requirement in its log; a build below it refuses
the WHOLE table loudly (ProtocolError) instead of silently mis-replaying
actions it does not understand. Requirements only ratchet up — RESTORE
rolls back data, never the protocol.

Pure log-level tests (the gate chokepoints are `_replay` for reads and
`_append` for writes — every Spark read/write path goes through them).
"""

from __future__ import annotations

import pytest

from curator_spark.checkpoint import (
    READER_VERSION, WRITER_VERSION, ProtocolError, make_ledger,
    restore_table, table_protocol, upgrade_protocol)


def _table(tmp_path, n_commits=3):
    import os
    out = str(tmp_path / "t")
    led = make_ledger(out)
    for i in range(n_commits):
        d = os.path.join(out, "data", f"part={i}")
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, f"f{i}.parquet"), "wb").close()
        led.append_part(i, {f"f{i}.parquet": {"n_rows": 10}}, 10,
                        run_id=f"r{i}")
    return out, led


def test_fresh_table_is_at_the_floor(tmp_path):
    out, led = _table(tmp_path)
    assert table_protocol(out) == {
        "min_reader": 1, "min_writer": 1,
        "reader_features": [], "writer_features": []}
    assert len(led.committed()) == 3  # readable


def test_upgrade_ratchets_and_merges_monotonically(tmp_path):
    out, led = _table(tmp_path)
    upgrade_protocol(out, min_reader=2, reader_features=["time-travel"])
    upgrade_protocol(out, min_writer=2, writer_features=["row-delete"])
    # a second, WEAKER upgrade is absorbed, never a downgrade
    upgrade_protocol(out, min_reader=1)
    p = table_protocol(out)
    assert (p["min_reader"], p["min_writer"]) == (2, 2)
    assert p["reader_features"] == ["time-travel"]
    assert p["writer_features"] == ["row-delete"]
    # table stays fully usable — this build supports the requirement
    led.append_part(9, {"f9.parquet": {"n_rows": 5}}, 5, run_id="r9")
    assert 9 in led.committed()


def test_future_reader_requirement_refuses_reads_and_writes(tmp_path):
    out, led = _table(tmp_path)
    # simulate a table written by a FUTURE build: raw protocol action
    # (upgrade_protocol would refuse to set what this build can't honor)
    led._append([{"type": "protocol", "protocol": {
        "min_reader": READER_VERSION + 1, "min_writer": 1}}])
    with pytest.raises(ProtocolError, match="reader version"):
        led.committed()
    # a writer that cannot read the log cannot safely append either
    with pytest.raises(ProtocolError, match="reader version"):
        led.append_part(5, {"x.parquet": {"n_rows": 1}}, 1, run_id="x")


def test_unknown_writer_feature_blocks_writes_not_reads(tmp_path):
    out, led = _table(tmp_path)
    led._append([{"type": "protocol", "protocol": {
        "min_reader": 1, "min_writer": 1,
        "writer_features": ["deletion-vectors"]}}])
    assert len(led.committed()) == 3  # reads unaffected
    with pytest.raises(ProtocolError, match="deletion-vectors"):
        led.append_part(5, {"x.parquet": {"n_rows": 1}}, 1, run_id="x")


def test_unknown_reader_feature_refuses_the_table(tmp_path):
    # (this test once used "column-mapping" as its unknown example —
    # that feature is implemented now, so a fictional one stands in)
    out, led = _table(tmp_path)
    led._append([{"type": "protocol", "protocol": {
        "min_reader": 1, "reader_features": ["holographic-manifests"]}}])
    with pytest.raises(ProtocolError, match="holographic-manifests"):
        table_protocol(out)


def test_restore_never_downgrades_the_protocol(tmp_path):
    out, led = _table(tmp_path)
    v0 = led.latest_version()
    upgrade_protocol(out, min_reader=2, min_writer=2,
                     writer_features=["compaction"])
    restore_table(out, version=v0)
    p = table_protocol(out)
    assert (p["min_reader"], p["min_writer"]) == (2, 2)
    assert p["writer_features"] == ["compaction"]
    # and the data DID roll back
    assert set(led.committed()) == {0, 1, 2}


def test_upgrade_beyond_this_build_is_refused(tmp_path):
    out, _ = _table(tmp_path)
    with pytest.raises(ProtocolError, match="cannot require"):
        upgrade_protocol(out, min_reader=READER_VERSION + 1)
    with pytest.raises(ProtocolError, match="cannot require"):
        upgrade_protocol(out, min_writer=WRITER_VERSION + 1)
    with pytest.raises(ProtocolError, match="cannot require"):
        upgrade_protocol(out, writer_features=["deletion-vectors"])


def test_protocol_survives_log_checkpoints(tmp_path):
    """The requirement rides table meta into log checkpoints, so a
    checkpoint-bounded replay (the steady-state read on a long-lived
    table) still enforces it."""
    out, led = _table(tmp_path, n_commits=2)
    upgrade_protocol(out, min_reader=2, reader_features=["restore"])
    while (led.latest_version() or 0) % led.CKPT_INTERVAL != 0:
        led.append_part(0, {f"g{led.latest_version()}.parquet":
                            {"n_rows": 1}}, 1, run_id="g")
    assert led._checkpoints(), "a log checkpoint should exist now"
    p = table_protocol(out)
    assert p["min_reader"] == 2 and p["reader_features"] == ["restore"]


def test_status_surfaces_the_protocol(tmp_path):
    from curator_spark.status import format_run_status, run_status
    out, _ = _table(tmp_path)
    assert run_status(out)["protocol"] is None  # floor: nothing shown
    assert "protocol:" not in format_run_status(out)
    upgrade_protocol(out, min_reader=2, reader_features=["time-travel"])
    s = run_status(out)
    assert s["protocol"]["min_reader"] == 2
    assert "protocol: reader>=2 writer>=1 features=time-travel" \
        in format_run_status(out)


def test_markers_backend_has_no_protocol(legacy_markers_table):
    with pytest.raises(ValueError, match="adopt_markers"):
        table_protocol(legacy_markers_table)
    with pytest.raises(ValueError, match="adopt_markers"):
        upgrade_protocol(legacy_markers_table, min_reader=2)
