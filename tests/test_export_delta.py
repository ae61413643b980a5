"""Commitlog → Delta Lake `_delta_log` export (export_delta.py): the
curated table readable by any Delta engine. The sandbox has no Delta
reader (DuckDB's delta extension needs a network install), so the
round-trip is verified the way a Delta reader itself starts: replay
the exported log to the live add-set, then have an INDEPENDENT engine
(DuckDB read_parquet) scan exactly those files + partitionValues and
match the package's own snapshot read value-for-value. A guarded
`delta_scan` lane upgrades the check automatically where the
extension exists."""

from __future__ import annotations

import json
import os

import duckdb
import pytest

from conftest import copy_table
from curator_spark import fixtures
from curator_spark.checkpoint import (
    compact_partition, delete_conversations, delete_rows_dv,
    make_ledger, read_committed, run_checkpointed)
from curator_spark.export_delta import delta_live_files, export_delta_log
from curator_spark.incremental import append_new_conversations


@pytest.fixture(scope="module")
def built_table(spark, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("export_delta")
    inp = str(tmp_path / "t.parquet")
    fixtures.write_transcripts_parquet(inp, 600, seed=91, n_parts=4)
    out = str(tmp_path / "tbl")
    run_checkpointed(spark, inp, out)
    return out


@pytest.fixture()
def table(built_table, tmp_path):
    """A private copy of the module's table for each test."""
    return {"out": copy_table(built_table, tmp_path / "tbl"),
            "tmp": tmp_path}


def _duckdb_read_live(table_root: str):
    """Scan the log's live file set with DuckDB, part attached from
    partitionValues — the scan any Delta engine would plan."""
    live = delta_live_files(table_root)
    assert live, "no live files in the exported log"
    con = duckdb.connect()
    parts: dict[int, list[str]] = {}
    for a in live:
        assert os.path.exists(a["abs_path"]), a["abs_path"]
        assert os.path.getsize(a["abs_path"]) == a["size"]
        parts.setdefault(int(a["partitionValues"]["part"]),
                         []).append(a["abs_path"])
    sql = " union all ".join(
        f"select *, {p} as part from read_parquet({json.dumps(fs)})"
        for p, fs in sorted(parts.items()))
    return con.execute(sql).df()


def _maybe_delta_scan(table_root: str):
    """Real-reader lane: only where the duckdb delta extension is
    installed (needs network; absent in this sandbox)."""
    con = duckdb.connect()
    try:
        con.execute("LOAD delta")
    except Exception:
        return None
    return con.execute(
        f"select * from delta_scan('{table_root}')").df()


def _assert_matches_snapshot(spark, out, table_root, version=None):
    ddf = _duckdb_read_live(table_root)
    sdf = read_committed(spark, out, version=version) \
        .toPandas()
    assert len(ddf) == len(sdf)
    key = lambda df: sorted(zip(df["conv_id"], df["turn_idx"],  # noqa: E731
                                df["text"], df["part"]))
    assert key(ddf) == key(sdf)
    real = _maybe_delta_scan(table_root)
    if real is not None:
        assert len(real) == len(sdf) and key(real) == key(sdf)


def test_inplace_export_is_spec_shaped_and_readable(spark, table):
    out = table["out"]
    r = export_delta_log(out)
    assert r["delta_version"] == 0 and r["removes"] == 0
    assert r["table_root"] == os.path.join(os.path.abspath(out), "data")
    log = os.path.join(r["table_root"], "_delta_log",
                       "00000000000000000000.json")
    actions = [json.loads(line) for line in open(log)]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "commitInfo"
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    md = next(a["metaData"] for a in actions if "metaData" in a)
    assert md["partitionColumns"] == ["part"]
    assert md["format"] == {"provider": "parquet", "options": {}}
    schema = json.loads(md["schemaString"])
    names = [f["name"] for f in schema["fields"]]
    assert "part" in names and "conv_id" in names and "text" in names
    adds = [a["add"] for a in actions if "add" in a]
    assert len(adds) == r["adds"] == r["files_live"]
    for a in adds:
        assert set(a) >= {"path", "partitionValues", "size",
                          "modificationTime", "dataChange", "stats"}
        st = json.loads(a["stats"])
        assert st["numRecords"] > 0
        # manifest min/max stats ride along for reader file-skipping
        assert "conv_id" in st.get("minValues", {})
        # timestamp columns are never emitted (epoch-micros internal
        # representation has no sound Delta string rendering)
        assert "ts" not in st.get("minValues", {})
    _assert_matches_snapshot(spark, out, r["table_root"])
    # the in-place log must not confuse the package's own reader
    assert read_committed(spark, out).count() == r["n_rows"]


def test_reexport_appends_incremental_diff(spark, table):
    out = table["out"]
    v0 = export_delta_log(out)
    # mutate: append a new batch, delete a conversation (file
    # rewrites), compact a partition (file swaps)
    batch = str(table["tmp"] / "b2.parquet")
    fixtures.write_transcripts_parquet(batch, 300, seed=92, n_parts=4)
    append_new_conversations(spark, batch, out)
    victim = read_committed(spark, out).select("conv_id") \
        .distinct().orderBy("conv_id").first()["conv_id"]
    delete_conversations(spark, out, [victim])
    compact_partition(spark, out, 0)

    r1 = export_delta_log(out)
    assert r1["delta_version"] == 1
    assert r1["adds"] > 0 and r1["removes"] > 0
    # the replayed live set IS the current snapshot's manifest
    live = {a["path"] for a in delta_live_files(r1["table_root"])}
    sl = make_ledger(out)
    want = {f"part={int(p)}/{fn}"
            for p, m in sl.snapshot()[0].items()
            if m and m.get("status") == "COMMITTED"
            for fn in (m.get("files") or {})}
    assert live == want
    _assert_matches_snapshot(spark, out, r1["table_root"])
    # idempotent: nothing changed → no new Delta version
    r2 = export_delta_log(out)
    assert r2["delta_version"] is None and r2["adds"] == 0


def test_schema_evolution_reemits_metadata(spark, table):
    from curator_spark.alter import add_column
    out = table["out"]
    export_delta_log(out)
    add_column(out, "review_tag", "string")
    r = export_delta_log(out)
    assert r["delta_version"] == 1
    log = os.path.join(r["table_root"], "_delta_log",
                       "00000000000000000001.json")
    actions = [json.loads(line) for line in open(log)]
    md = next(a["metaData"] for a in actions if "metaData" in a)
    schema = json.loads(md["schemaString"])
    assert "review_tag" in [f["name"] for f in schema["fields"]]
    # metaData.id is minted once and stable across versions
    log0 = os.path.join(r["table_root"], "_delta_log",
                        "00000000000000000000.json")
    md0 = next(json.loads(line)["metaData"] for line in open(log0)
               if "metaData" in line)
    assert md["id"] == md0["id"]


def test_live_deletion_vectors_refuse_export(spark, table):
    out = table["out"]
    victim = read_committed(spark, out).select("conv_id") \
        .distinct().orderBy("conv_id").first()["conv_id"]
    delete_rows_dv(spark, out, [victim])
    with pytest.raises(ValueError, match="deletion vectors"):
        export_delta_log(out)
    # materializing the masks (compaction) unblocks the export
    for p in range(4):
        compact_partition(spark, out, p)
    r = export_delta_log(out)
    assert r["delta_version"] == 0
    _assert_matches_snapshot(spark, out, r["table_root"])


def test_standalone_export_links_files(spark, table, tmp_path):
    out = table["out"]
    dest = str(tmp_path / "delta_tbl")
    r = export_delta_log(out, dest=dest)
    assert r["table_root"] == os.path.abspath(dest)
    assert r["linked"] == r["files_live"] > 0
    for a in delta_live_files(dest):
        src = os.path.join(out, "data", a["path"])
        assert os.path.samefile(src, a["abs_path"])  # zero-copy
    _assert_matches_snapshot(spark, out, dest)


def test_time_travel_export(spark, table):
    out = table["out"]
    sl = make_ledger(out)
    v_head = sl.latest_version()
    batch = str(table["tmp"] / "b3.parquet")
    fixtures.write_transcripts_parquet(batch, 200, seed=93, n_parts=4)
    append_new_conversations(spark, batch, out)
    dest = str(table["tmp"] / "delta_asof")
    r = export_delta_log(out, dest=dest, version=v_head)
    assert r["delta_version"] == 0
    _assert_matches_snapshot(spark, out, dest, version=v_head)


def test_cli_export_delta_verb(spark, table, capsys):
    from curator_spark.cli import main
    out = table["out"]
    rc = main(["--output", out, "--export-delta"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["delta_version"] == 0 and summary["files_live"] > 0


def test_read_delta_roundtrip_inplace(spark, table):
    from curator_spark.export_delta import read_delta
    out = table["out"]
    r = export_delta_log(out)
    got = read_delta(spark, r["table_root"]).toPandas()
    want = read_committed(spark, out).toPandas()
    assert len(got) == len(want)
    key = lambda df: sorted(zip(df["conv_id"], df["turn_idx"],  # noqa: E731
                                df["text"], df["part"]))
    assert key(got) == key(want)
    assert set(got.columns) == set(want.columns)


def test_read_delta_as_of_exported_version(spark, table):
    from curator_spark.export_delta import read_delta
    out = table["out"]
    export_delta_log(out)
    before = read_committed(spark, out).count()
    batch = str(table["tmp"] / "b4.parquet")
    fixtures.write_transcripts_parquet(batch, 200, seed=94, n_parts=4)
    append_new_conversations(spark, batch, out)
    r1 = export_delta_log(out)
    assert r1["delta_version"] == 1
    root = r1["table_root"]
    assert read_delta(spark, root).count() == \
        read_committed(spark, out).count()
    # Delta-version time travel over the exported log
    assert read_delta(spark, root, version=0).count() == before


def test_read_delta_foreign_log(spark, tmp_path):
    """A Delta table written by ANOTHER engine: different partition
    column, string-typed values, flat layout (no hive dirs), nulls in
    partitionValues — read_delta must plan purely from the log."""
    import pandas as pd

    from curator_spark.export_delta import read_delta
    from curator_spark.fixtures import to_spark_parquet

    root = str(tmp_path / "foreign")
    os.makedirs(os.path.join(root, "_delta_log"))
    files = {}
    for i, region in enumerate(["eu", "us", None]):
        pdf = pd.DataFrame({"id": [i * 10 + j for j in range(3)],
                            "name": [f"r{i}-{j}" for j in range(3)]})
        fn = f"data-{i:03d}.parquet"
        to_spark_parquet(pdf, os.path.join(root, fn))
        files[fn] = region
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "name", "type": "string", "nullable": True,
         "metadata": {}},
        {"name": "region", "type": "string", "nullable": True,
         "metadata": {}}]}
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "foreign-0001", "format":
                      {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": ["region"],
                      "configuration": {}, "createdTime": 0}},
    ]
    for fn, region in files.items():
        pv = {} if region is None else {"region": region}
        actions.append({"add": {
            "path": fn, "partitionValues": pv,
            "size": os.path.getsize(os.path.join(root, fn)),
            "modificationTime": 0, "dataChange": True}})
    with open(os.path.join(root, "_delta_log",
                           f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions))
    df = read_delta(spark, root).toPandas()
    assert len(df) == 9
    assert sorted(df.columns) == ["id", "name", "region"]
    by_region = df.groupby(df["region"].fillna("<null>")).size().to_dict()
    assert by_region == {"eu": 3, "us": 3, "<null>": 3}


def test_read_delta_refuses_unreadable_features(spark, table, tmp_path):
    from curator_spark.export_delta import read_delta
    out = table["out"]
    r = export_delta_log(out)
    root = r["table_root"]
    # a later commit ratcheting the reader past what we implement
    with open(os.path.join(root, "_delta_log",
                           f"{1:020d}.json"), "w") as f:
        f.write(json.dumps(
            {"protocol": {"minReaderVersion": 3,
                          "minWriterVersion": 7}}) + "\n")
    with pytest.raises(NotImplementedError, match="reader 3"):
        read_delta(spark, root)
    # version-travel BEFORE the ratchet still reads
    assert read_delta(spark, root, version=0).count() > 0


def test_read_delta_column_mapping_name_mode(spark, table):
    """Rename a column (metadata-only DDL) then export: the log rides
    Delta name-mode mapping, and read_delta resolves physical in-file
    names back to the renamed logical schema."""
    from curator_spark.alter import rename_column

    from curator_spark.export_delta import read_delta
    out = table["out"]
    rename_column(out, "text", "body")
    r = export_delta_log(out)
    log = os.path.join(r["table_root"], "_delta_log",
                       "00000000000000000000.json")
    md = next(json.loads(line)["metaData"] for line in open(log)
              if "metaData" in line)
    assert json.loads(md["schemaString"])  # parses
    got = read_delta(spark, r["table_root"])
    assert "body" in got.columns and "text" not in got.columns
    want = read_committed(spark, out)
    assert got.count() == want.count()
    a = sorted(r["body"] for r in got.select("body").collect())
    b = sorted(r["body"] for r in want.select("body").collect())
    assert a == b


def _foreign_log(root, n_versions):
    """Build a minimal foreign Delta table: version v adds file v."""
    import pandas as pd

    from curator_spark.fixtures import to_spark_parquet
    os.makedirs(os.path.join(root, "_delta_log"), exist_ok=True)
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "part", "type": "integer", "nullable": True,
         "metadata": {}}]}
    for v in range(n_versions):
        fn = f"f-{v:03d}.parquet"
        to_spark_parquet(pd.DataFrame({"id": [v]}),
                         os.path.join(root, fn))
        actions = []
        if v == 0:
            actions += [
                {"protocol": {"minReaderVersion": 1,
                              "minWriterVersion": 2}},
                {"metaData": {"id": "fk-1", "format":
                              {"provider": "parquet", "options": {}},
                              "schemaString": json.dumps(schema),
                              "partitionColumns": ["part"],
                              "configuration": {}, "createdTime": 0}}]
        actions.append({"add": {
            "path": fn, "partitionValues": {"part": str(v % 2)},
            "size": os.path.getsize(os.path.join(root, fn)),
            "modificationTime": 0, "dataChange": True}})
        with open(os.path.join(root, "_delta_log",
                               f"{v:020d}.json"), "w") as f:
            f.write("\n".join(json.dumps(a) for a in actions))


def test_delta_checkpoint_bootstrap_and_truncated_tail(spark, tmp_path):
    """Checkpoint consumption: replay state at v7, write the Delta
    parquet checkpoint + _last_checkpoint, DELETE the JSON prefix
    (Delta log retention does exactly this) — the reader must
    bootstrap from the checkpoint plus the JSON tail and see all 10
    files; without the checkpoint the truncated tail must refuse."""
    from curator_spark.export_delta import (
        _replay_delta_log, _write_delta_checkpoint, read_delta)

    root = str(tmp_path / "fk")
    _foreign_log(root, 10)
    log_dir = os.path.join(root, "_delta_log")
    state = _replay_delta_log(log_dir, upto=7)
    _write_delta_checkpoint(log_dir, 7, state)
    assert json.load(open(os.path.join(log_dir, "_last_checkpoint"))) \
        == {"version": 7, "size": 2 + 8}
    for v in range(7):  # retention-expire the JSON prefix
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    df = read_delta(spark, root).toPandas()
    assert sorted(df["id"]) == list(range(10))
    assert sorted(df["part"].unique()) == [0, 1]
    # time travel to the checkpoint version itself
    assert read_delta(spark, root, version=7).count() == 8
    # without the checkpoint, the same truncated tail refuses loudly
    os.remove(os.path.join(
        log_dir, f"{7:020d}.checkpoint.parquet"))
    os.remove(os.path.join(log_dir, "_last_checkpoint"))
    with pytest.raises(NotImplementedError, match="contiguous"):
        read_delta(spark, root)


def test_multi_part_checkpoint_bootstrap(spark, tmp_path):
    """A foreign classic multi-part checkpoint
    (`<v>.checkpoint.<i>.<n>.parquet`) bootstraps the replay once all n
    parts exist, folding like a single-file one: after the JSON prefix
    expires, the read equals the full replay. With a part missing it
    is not a checkpoint, and the truncated tail refuses."""
    import pyarrow.parquet as pq

    from curator_spark.export_delta import (
        _replay_delta_log, _write_delta_checkpoint, read_delta)

    root = str(tmp_path / "fk")
    _foreign_log(root, 10)
    log_dir = os.path.join(root, "_delta_log")
    want = sorted(tuple(r) for r in read_delta(spark, root).collect())
    _write_delta_checkpoint(log_dir, 7, _replay_delta_log(log_dir, upto=7))
    single = os.path.join(log_dir, f"{7:020d}.checkpoint.parquet")
    tbl = pq.read_table(single)
    half = tbl.num_rows // 2
    parts = [os.path.join(log_dir,
                          f"{7:020d}.checkpoint.{i:010d}.{2:010d}.parquet")
             for i in (1, 2)]
    pq.write_table(tbl.slice(0, half), parts[0])
    pq.write_table(tbl.slice(half), parts[1])
    os.remove(single)
    os.remove(os.path.join(log_dir, "_last_checkpoint"))
    for v in range(8):  # retention-expire the JSON prefix
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    assert sorted(tuple(r) for r in read_delta(spark, root).collect()) \
        == want
    os.remove(parts[1])
    with pytest.raises(NotImplementedError, match="contiguous"):
        read_delta(spark, root)


def test_export_writes_checkpoint_at_interval(spark, table, monkeypatch):
    from curator_spark import export_delta as ed

    monkeypatch.setattr(ed, "CHECKPOINT_INTERVAL", 2)
    out = table["out"]
    assert ed.export_delta_log(out)["checkpointed"] is False  # v0
    for i, seed in enumerate((95, 96)):
        batch = str(table["tmp"] / f"ck{i}.parquet")
        fixtures.write_transcripts_parquet(batch, 120, seed=seed,
                                           n_parts=4)
        append_new_conversations(spark, batch, out)
        r = ed.export_delta_log(out)
        assert r["checkpointed"] == (r["delta_version"] == 2)
    root = os.path.join(os.path.abspath(out), "data")
    ck = os.path.join(root, "_delta_log",
                      f"{2:020d}.checkpoint.parquet")
    assert os.path.exists(ck)
    # bootstrap path gives the same table as full JSON replay
    a = ed.read_delta(spark, root).count()
    assert a == read_committed(spark, out).count()
    # and the checkpoint alone + tail survives JSON-prefix expiry
    for v in range(2):
        os.remove(os.path.join(root, "_delta_log", f"{v:020d}.json"))
    assert ed.read_delta(spark, root).count() == a


def test_delta_insert_feed_and_durable_cursor(spark, table, tmp_path):
    """Incremental ingestion FROM a Delta-published corpus: each poll
    of consume_delta_inserts reads exactly the new versions' adds
    (cost ∝ change), commits a durable cursor only after the sink ran,
    and a crashed poll replays the same window. Rewrite versions honor
    the Delta streaming-source options."""
    from curator_spark.export_delta import (
        consume_delta_inserts, delta_inserts, export_delta_log,
        read_delta)

    out = table["out"]
    export_delta_log(out)
    root = os.path.join(os.path.abspath(out), "data")
    sd = str(tmp_path / "consumer_state")  # read-only-upstream shape

    fed: list[int] = []
    s1 = consume_delta_inserts(
        spark, root, "trainer", lambda df, a, b: fed.append(df.count()),
        state_dir=sd)
    assert s1["since"] == -1 and s1["until"] == 0  # bootstrap incl. v0
    assert s1["rows_fed"] == read_delta(spark, root).count()
    # nothing new → no-op poll, no sink call
    s2 = consume_delta_inserts(
        spark, root, "trainer", lambda df, a, b: fed.append(-1),
        state_dir=sd)
    assert s2["rows_fed"] == 0 and len(fed) == 1

    # an append lands upstream and is re-exported
    batch = str(table["tmp"] / "feed1.parquet")
    fixtures.write_transcripts_parquet(batch, 150, seed=97, n_parts=4)
    append_new_conversations(spark, batch, out)
    export_delta_log(out)
    s3 = consume_delta_inserts(
        spark, root, "trainer", lambda df, a, b: fed.append(df.count()),
        state_dir=sd)
    assert s3["rows_fed"] > 0 and s3["since"] == s1["until"]
    assert fed[-1] == s3["rows_fed"]
    # total fed == table rows (insert feed carried everything once)
    assert sum(fed) == read_delta(spark, root).count()

    # a delete (rewrite version) → error by default, skip on request
    victim = read_committed(spark, out).select("conv_id") \
        .distinct().orderBy("conv_id").first()["conv_id"]
    delete_conversations(spark, out, [victim])
    export_delta_log(out)
    with pytest.raises(ValueError, match="rewrites files"):
        delta_inserts(spark, root, s3["until"])
    df, head = delta_inserts(spark, root, s3["until"],
                             on_changes="skip")
    assert df.count() == 0 and head == s3["until"] + 1

    # crash-safety: a sink that dies does NOT advance the cursor
    class Boom(Exception):
        pass

    batch2 = str(table["tmp"] / "feed2.parquet")
    fixtures.write_transcripts_parquet(batch2, 100, seed=98, n_parts=4)
    append_new_conversations(spark, batch2, out)
    export_delta_log(out)

    def dying(df, a, b):
        raise Boom()

    with pytest.raises(Boom):
        consume_delta_inserts(spark, root, "trainer", dying,
                              on_changes="skip", state_dir=sd)
    replay = consume_delta_inserts(
        spark, root, "trainer", lambda df, a, b: fed.append(df.count()),
        on_changes="skip", state_dir=sd)
    assert replay["rows_fed"] > 0  # the same window replayed


def test_consume_delta_inserts_counts_rows_from_add_stats(spark, table,
                                                          tmp_path,
                                                          monkeypatch):
    """A poll takes rows_fed from the window adds' numRecords, so only
    the sink scans the window; adds without stats (a foreign writer)
    fall back to one count()."""
    from curator_spark.export_delta import consume_delta_inserts
    out = table["out"]
    export_delta_log(out)
    root = os.path.join(os.path.abspath(out), "data")
    n_live = read_committed(spark, out).count()
    counts = []
    DataFrame = type(spark.range(1))  # the session's DataFrame class
    real_count = DataFrame.count

    def counting(self):
        counts.append(1)
        return real_count(self)

    monkeypatch.setattr(DataFrame, "count", counting)
    fed: list[int] = []

    def sink(df, a, b):
        fed.append(len(df.collect()))

    sd = str(tmp_path / "state")
    s = consume_delta_inserts(spark, root, "stats", sink, state_dir=sd)
    assert counts == []  # no scan besides the sink's
    assert s["rows_fed"] == fed[-1] == n_live

    foreign = str(tmp_path / "foreign")
    _foreign_log(foreign, 3)  # adds carry no stats
    s = consume_delta_inserts(spark, foreign, "nostats", sink,
                              state_dir=sd)
    assert counts == [1]  # the fallback count
    assert s["rows_fed"] == fed[-1] == 3


def test_read_delta_where_prunes_files_and_stays_exact(spark, table):
    """where= pushes into log planning: the admitted add-set shrinks
    to files whose stats/partitionValues can match (zero data I/O to
    decide), while the residual filter keeps the result exactly the
    predicate's rows."""
    from curator_spark.export_delta import (_delta_add_admits,
                                            delta_live_files,
                                            read_delta)
    from curator_spark.checkpoint import _normalize_where

    out = table["out"]
    export_delta_log(out)
    root = os.path.join(os.path.abspath(out), "data")
    full = read_delta(spark, root).toPandas()
    probe = sorted(full["conv_id"])[0]

    got = read_delta(spark, root,
                     where=("conv_id", "=", probe)).toPandas()
    want = full[full["conv_id"] == probe]
    assert len(got) == len(want) > 0
    assert sorted(got["turn_idx"]) == sorted(want["turn_idx"])

    # the planner really pruned: admitted adds < live adds
    live = delta_live_files(root)
    conj = _normalize_where(("conv_id", "=", probe))
    admitted = [a for a in live
                if _delta_add_admits(a, conj, ["part"])]
    assert 0 < len(admitted) < len(live)

    # partition-column predicate prunes by partitionValues alone
    got_p = read_delta(spark, root,
                       where=("part", "=", 2)).toPandas()
    assert set(got_p["part"].unique()) == {2}
    assert len(got_p) == len(full[full["part"] == 2])
    conj_p = _normalize_where(("part", "=", 2))
    adm_p = [a for a in live if _delta_add_admits(a, conj_p, ["part"])]
    assert all(a["partitionValues"]["part"] == "2" for a in adm_p)
    assert len(adm_p) < len(live)

    # range predicate over a stats column
    cut = sorted(full["conv_id"])[len(full) // 2]
    got_r = read_delta(spark, root,
                       where=("conv_id", ">=", cut)).toPandas()
    assert len(got_r) == (full["conv_id"] >= cut).sum()


def test_checkpointed_run_over_delta_input(spark, tmp_path):
    """Curate FROM Delta: run_checkpointed pointed at a Delta table
    directory (here: an exported one — any writer's works) coerces the
    log's declared schema to the transcripts shape and produces the
    same curated table as the parquet path, resume semantics intact."""
    inp = str(tmp_path / "t.parquet")
    fixtures.write_transcripts_parquet(inp, 400, seed=61, n_parts=4)
    # upstream: a curated table published as Delta (raw columns kept)
    up = str(tmp_path / "upstream")
    run_checkpointed(spark, inp, up)
    from curator_spark.export_delta import export_delta_log
    export_delta_log(up)
    delta_dir = os.path.join(os.path.abspath(up), "data")

    out_d = str(tmp_path / "from_delta")
    s = run_checkpointed(spark, delta_dir, out_d)
    assert s["parts_committed"] > 0
    # re-run memoizes (fingerprint + ledger intact over a Delta input)
    s2 = run_checkpointed(spark, delta_dir, out_d)
    assert s2["memoized"] is True
    got = read_committed(spark, out_d)
    # the upstream table's rows all flowed through the filter again
    assert got.count() == read_committed(spark, up).count()
    assert {r["part"] for r in got.select("part").distinct().collect()} \
        == {r["part"] for r in read_committed(spark, up)
            .select("part").distinct().collect()}


def test_vacuum_delta_standalone(spark, table, tmp_path):
    """VACUUM for standalone exported tables: files the log no longer
    references are reclaimed once past retention; recent orphans and
    every live file survive; in-place exports refuse (the commitlog
    owns that data dir)."""
    from curator_spark.export_delta import (delta_live_files,
                                            read_delta, vacuum_delta)
    out = table["out"]
    dest = str(tmp_path / "standalone")
    export_delta_log(out, dest=dest)
    # mutate upstream: delete + compact (files get superseded)
    victim = read_committed(spark, out).select("conv_id") \
        .distinct().orderBy("conv_id").first()["conv_id"]
    delete_conversations(spark, out, [victim])
    compact_partition(spark, out, 0)
    export_delta_log(out, dest=dest)  # removes + adds in the dest log

    n_before = read_delta(spark, dest).count()
    dry = vacuum_delta(dest, min_age_s=0, dry_run=True)
    assert dry["reclaimed"] > 0 and dry["dry_run"]
    # retention: nothing young enough is touched
    keep = vacuum_delta(dest, min_age_s=10 ** 6)
    assert keep["reclaimed"] == 0 and keep["kept_recent"] > 0
    got = vacuum_delta(dest, min_age_s=0)
    assert got["reclaimed"] == dry["reclaimed"]
    assert got["bytes_reclaimed"] > 0
    # the table still reads identically — only orphans died
    assert read_delta(spark, dest).count() == n_before
    for a in delta_live_files(dest):
        assert os.path.exists(a["abs_path"])
    # idempotent
    assert vacuum_delta(dest, min_age_s=0)["reclaimed"] == 0
    # in-place export: refuse
    export_delta_log(out)
    with pytest.raises(ValueError, match="IN-PLACE"):
        vacuum_delta(os.path.join(os.path.abspath(out), "data"),
                     min_age_s=0)


def test_delta_feed_pushdown_prunes_scheduled_files(spark, table):
    """The delta_feed batch reader's pushFilters shrinks the scheduled
    file set from add stats / partitionValues while results stay exact
    (Spark re-evaluates every filter)."""
    from curator_spark.delta_source import DeltaFeedDataSource
    from curator_spark.export_delta import read_delta
    out = table["out"]
    export_delta_log(out)
    root = os.path.join(os.path.abspath(out), "data")
    spark.dataSource.register(DeltaFeedDataSource)
    full = read_delta(spark, root).toPandas()
    df = (spark.read.format("delta_feed").load(root)
          .filter("part = 1"))
    got = df.toPandas()
    assert len(got) == len(full[full["part"] == 1]) > 0
    assert set(got["part"].unique()) == {1}
    # plan evidence: the scheduled input partitions shrank
    pruned = df.rdd.getNumPartitions()
    total = spark.read.format("delta_feed").load(root) \
        .rdd.getNumPartitions()
    assert 0 < pruned < total


def test_cli_vacuum_and_consume_delta(spark, table, tmp_path, capsys):
    from curator_spark.cli import main
    out = table["out"]
    dest = str(tmp_path / "standalone")
    export_delta_log(out, dest=dest)
    rc = main(["--output", out, "--vacuum-delta", dest,
               "--maintain-retention", "0"])
    assert rc == 0
    v = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert v["dry_run"] is False and v["live"] > 0

    cdir = str(tmp_path / "consumed")
    rc = main(["--output", out, "--input", dest,
               "--consume-delta", "trainer", "--consume-out", cdir])
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["rows_fed"] > 0
    from curator_spark.export_delta import read_delta
    got = spark.read.parquet(f"{cdir}/window-*").count()
    assert got == read_delta(spark, dest).count() == s["rows_fed"]


def test_delta_input_missing_transcript_columns_refused(spark, tmp_path):
    """Curating FROM a Delta table whose schema lacks transcript
    columns fails fast, naming them — the rows are never scored
    without them."""
    import pandas as pd

    from curator_spark.fixtures import to_spark_parquet

    root = str(tmp_path / "narrow")
    os.makedirs(os.path.join(root, "_delta_log"))
    to_spark_parquet(pd.DataFrame({"conv_id": ["c0", "c1"],
                                   "turn_idx": [0, 0],
                                   "text": ["hi", "yo"]}),
                     os.path.join(root, "f.parquet"))
    schema = {"type": "struct", "fields": [
        {"name": n, "type": t, "nullable": True, "metadata": {}}
        for n, t in (("conv_id", "string"), ("turn_idx", "long"),
                     ("text", "string"))]}
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "narrow", "format":
                      {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": [], "configuration": {},
                      "createdTime": 0}},
        {"add": {"path": "f.parquet", "partitionValues": {},
                 "size": os.path.getsize(os.path.join(root, "f.parquet")),
                 "modificationTime": 0, "dataChange": True}}]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions))
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match=r"\['role', 'tool', 'ts'\]"):
        run_checkpointed(spark, root, out)
    assert make_ledger(out).latest_version() is None  # nothing committed


def test_delta_version_publish_is_create_exclusive(spark, table,
                                                   monkeypatch):
    """Two exporters plan the same next Delta version: the one that
    publishes second must raise and leave the winner's commit file
    byte-for-byte intact (a plain exists-check + rename would silently
    replace it)."""
    out = table["out"]
    r0 = export_delta_log(out)
    victim = read_committed(spark, out).select("conv_id") \
        .orderBy("conv_id").first()["conv_id"]
    delete_conversations(spark, out, [victim])
    target = os.path.join(r0["table_root"], "_delta_log",
                          f"{1:020d}.json")
    winner = b'{"commitInfo": {"writer": "concurrent exporter"}}\n'
    real_fsync = os.fsync

    def racing_fsync(fd):
        # the concurrent exporter publishes v1 while this one writes it
        if not os.path.exists(target):
            with open(target, "wb") as f:
                f.write(winner)
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", racing_fsync)
    with pytest.raises(FileExistsError, match="concurrent export"):
        export_delta_log(out)
    monkeypatch.setattr(os, "fsync", real_fsync)
    with open(target, "rb") as f:
        assert f.read() == winner


def test_cli_consume_delta_replayed_window_not_duplicated(spark, table,
                                                          tmp_path,
                                                          monkeypatch):
    """A crash between the --consume-delta sink and the cursor commit
    replays the same window; the sink overwrites its window dir, so
    every row lands exactly once."""
    from curator_spark import feed
    from curator_spark.cli import main
    from curator_spark.export_delta import read_delta

    dest = str(tmp_path / "standalone")
    export_delta_log(table["out"], dest=dest)
    cdir = str(tmp_path / "consumed")
    argv = ["--output", table["out"], "--input", dest,
            "--consume-delta", "trainer", "--consume-out", cdir]

    def crash(*a, **k):
        raise RuntimeError("crash before the cursor commit")

    monkeypatch.setattr(feed, "_commit_cursor", crash)
    with pytest.raises(RuntimeError, match="cursor commit"):
        main(argv)
    monkeypatch.undo()
    assert main(argv) == 0  # the replay
    got = spark.read.parquet(f"{cdir}/window-*")
    assert got.count() == read_delta(spark, dest).count()
    assert got.count() == got.dropDuplicates().count()


def test_delta_inserts_refuses_dv_add_in_window(spark, tmp_path):
    """A rewrite version adds a file with a deletion vector, and a later
    version removes it again, so the live snapshot carries no DV. The
    insert feed with on_changes="include" would feed that add without
    its mask, so the shared window planner refuses it — for
    delta_inserts and the delta_feed stream alike."""
    import pandas as pd

    from curator_spark.delta_source import _DeltaFeedStreamReader
    from curator_spark.export_delta import delta_inserts
    from curator_spark.fixtures import to_spark_parquet

    root = str(tmp_path / "fk_dv")
    _foreign_log(root, 1)  # v0 adds f-000.parquet
    f0 = {"path": "f-000.parquet", "partitionValues": {"part": "0"},
          "size": os.path.getsize(os.path.join(root, "f-000.parquet")),
          "modificationTime": 0, "dataChange": True}
    to_spark_parquet(pd.DataFrame({"id": [5]}),
                     os.path.join(root, "f-new.parquet"))
    versions = [
        [{"remove": {"path": f0["path"], "dataChange": True}},
         {"add": dict(f0, deletionVector={
             "storageType": "i", "pathOrInlineDv": "wi5b=0000100",
             "sizeInBytes": 34, "cardinality": 1})}],
        [{"remove": {"path": f0["path"], "dataChange": True}},
         {"add": dict(f0, path="f-new.parquet")}]]
    for v, actions in enumerate(versions, start=1):
        with open(os.path.join(root, "_delta_log", f"{v:020d}.json"),
                  "w") as f:
            f.write("\n".join(json.dumps(a) for a in actions))
    with pytest.raises(NotImplementedError, match="deletion vector"):
        delta_inserts(spark, root, 0, on_changes="include")
    reader = _DeltaFeedStreamReader(None, root, {"onchanges": "include"})
    with pytest.raises(NotImplementedError, match="deletion vector"):
        reader.partitions({"version": 0}, {"version": 2})
    # skipping the rewrites feeds nothing, so nothing needs a mask
    df, head = delta_inserts(spark, root, 0, on_changes="skip")
    assert head == 2 and df.count() == 0


def test_vacuum_keeps_files_an_inplace_export_references(spark, table):
    """export in place, then compact, then vacuum: the commit log no
    longer references the pre-compaction files, but the Delta log
    still does — vacuum keeps them, and read_delta still returns the
    pre-compaction rows."""
    from curator_spark.checkpoint import vacuum
    from curator_spark.export_delta import read_delta

    out = table["out"]
    root = export_delta_log(out)["table_root"]

    def rows(df):
        return sorted((r["conv_id"], r["turn_idx"], r["part"])
                      for r in df.select("conv_id", "turn_idx",
                                         "part").collect())

    want = rows(read_delta(spark, root))
    assert compact_partition(spark, out, 0, sort_by=["conv_id"])[
        "compacted"]
    vacuum(out, min_age_s=0)
    for a in delta_live_files(root):
        assert os.path.exists(a["abs_path"]), a["path"]
    assert rows(read_delta(spark, root)) == want
    # a re-export releases them: the next vacuum reclaims the old files
    export_delta_log(out)
    assert vacuum(out, min_age_s=0) > 0
    assert rows(read_delta(spark, root)) == want
