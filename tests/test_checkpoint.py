"""Checkpoint/resume/memoization tests — the curator crown jewels
(SURVEY.md §2 A13/A14/A23): kill-after-k-partitions resume must yield a
table identical to a clean single run, and a completed run must
short-circuit (mirrors reference cache-hit semantics,
tests/unittests/test_caching.py:12-26 and resume test
tests/integrations/test_all.py:180-192).

The core kill/resume/corruption/concurrency suite runs the commit log
over every atomic store (os.link, conditional put, the S3 adapter), so
the protocol is shown to depend only on the put-if-absent contract.
"""

from __future__ import annotations

import os

import pytest

from conftest import multi_file_parts
from curator_spark import fixtures
from curator_spark.checkpoint import (ATOMIC_STORES, CommitLogLedger,
                                      committed_parts, make_ledger,
                                      read_committed, run_checkpointed)


@pytest.fixture(params=sorted(ATOMIC_STORES),
                # the default store's case is the plain commit-log one
                ids=lambda s: "commitlog" if s == "oslink" else s)
def store(request, monkeypatch):
    """Every ledger the run builds publishes through this store."""
    monkeypatch.setenv("CURATOR_SPARK_ATOMIC_STORE", request.param)
    return request.param


@pytest.fixture(scope="module")
def small_input(tmp_path_factory):
    p = tmp_path_factory.mktemp("ckpt") / "t.parquet"
    fixtures.write_transcripts_parquet(str(p), 2500, seed=11, n_parts=4)
    return str(p)


def _read_sorted(spark, out_dir):
    # the log defines visibility: read the snapshot, not the raw
    # directory (which may hold invisible orphans)
    return (
        read_committed(spark, out_dir).orderBy("conv_id", "turn_idx")
        .drop("part")  # partition column ordering differs; value-compared via sort
        .toPandas()
    )


def _run_success(out_dir):
    return make_ledger(out_dir).run_success() is not None


def test_kill_and_resume_identical(spark, small_input, tmp_path, store):
    crashed = str(tmp_path / "crashed")
    clean = str(tmp_path / "clean")

    # simulated crash: only partitions 0,1 commit
    r1 = run_checkpointed(spark, small_input, crashed, only_parts=[0, 1])
    assert r1["parts_committed"] == 2
    assert committed_parts(crashed) == {0, 1}
    assert not _run_success(crashed)

    # resume: skips committed, finishes the rest
    r2 = run_checkpointed(spark, small_input, crashed)
    assert r2["parts_skipped"] == 2 and r2["parts_committed"] == 2
    assert _run_success(crashed)

    # clean single run for comparison
    run_checkpointed(spark, small_input, clean)
    a, b = (_read_sorted(spark, crashed),
           _read_sorted(spark, clean))
    assert a.equals(b), "resumed output != clean-run output"


def test_memoization_short_circuit(spark, small_input, tmp_path, store):
    out = str(tmp_path / "memo")
    r1 = run_checkpointed(spark, small_input, out)
    assert not r1["memoized"]
    r2 = run_checkpointed(spark, small_input, out)
    assert r2["memoized"] and r2["parts_committed"] == 0


def test_param_change_invalidates_memo(spark, small_input, tmp_path):
    out = str(tmp_path / "memo2")
    r1 = run_checkpointed(spark, small_input, out, params={"v": 1})
    r2 = run_checkpointed(spark, small_input, out, params={"v": 2})
    # different fingerprint → not memoized (parts ARE committed though,
    # so nothing recomputes — the ledger is per-partition)
    assert r1["run_id"] != r2["run_id"]
    assert not r2["memoized"]


def test_corrupted_partition_recomputed(spark, small_input, tmp_path, store):
    """Resume must not trust a commit marker whose partition data no
    longer reconciles (reference cache-integrity verifier,
    base_request_processor.py:120-167): the marker is dropped and the
    partition recomputes, yielding a table identical to a clean run."""
    import glob

    crashed = str(tmp_path / "corrupt")
    clean = str(tmp_path / "clean_for_corrupt")
    run_checkpointed(spark, small_input, crashed, only_parts=[0, 1, 2])
    assert committed_parts(crashed) == {0, 1, 2}

    # corrupt committed part 1: remove one of its data files
    files = glob.glob(os.path.join(crashed, "data", "part=1", "*.parquet"))
    assert files
    os.remove(files[0])

    r = run_checkpointed(spark, small_input, crashed)
    assert r["parts_invalidated"] == 1
    assert r["parts_committed"] == 2  # part 3 (pending) + part 1 (recomputed)
    assert r["parts_skipped"] == 2

    run_checkpointed(spark, small_input, clean)
    a, b = (_read_sorted(spark, crashed),
           _read_sorted(spark, clean))
    assert a.equals(b), "recomputed output != clean-run output"


def test_memoized_run_still_revalidated(spark, small_input, tmp_path, store):
    """Integrity checking does NOT stop once a run is memoized: data
    corrupted AFTER full completion is detected on the next invocation —
    the run-success marker is dropped, the partition recomputes, and the
    table again equals a clean run (per-reuse contract of the
    reference's _verify_existing_request_files)."""
    import glob

    out = str(tmp_path / "memo_corrupt")
    clean = str(tmp_path / "memo_corrupt_clean")
    r1 = run_checkpointed(spark, small_input, out)
    assert not r1["memoized"] and _run_success(out)

    files = glob.glob(os.path.join(out, "data", "part=2", "*.parquet"))
    os.remove(files[0])

    r2 = run_checkpointed(spark, small_input, out)
    assert not r2["memoized"]
    assert r2["parts_invalidated"] == 1 and r2["parts_committed"] == 1
    assert _run_success(out)  # re-marked after the recompute

    r3 = run_checkpointed(spark, small_input, out)
    assert r3["memoized"]

    run_checkpointed(spark, small_input, clean)
    a, b = (_read_sorted(spark, out),
           _read_sorted(spark, clean))
    assert a.equals(b), "post-memo recompute != clean-run output"


def test_sharded_completion_writes_success_marker(spark, small_input,
                                                  tmp_path, store):
    """A run completed entirely via only_parts shards still gets the
    whole-run marker, so run-level memoization engages for the
    production sharding path."""
    out = str(tmp_path / "sharded")
    run_checkpointed(spark, small_input, out, only_parts=[0, 1])
    assert not _run_success(out)
    run_checkpointed(spark, small_input, out, only_parts=[2, 3])
    assert _run_success(out)
    r3 = run_checkpointed(spark, small_input, out)
    assert r3["memoized"]


def test_staged_scratch_removed_after_commit(spark, small_input, tmp_path):
    out = str(tmp_path / "scratch")
    run_checkpointed(spark, small_input, out, only_parts=[0, 1])
    run_checkpointed(spark, small_input, out)
    leftovers = [d for d in os.listdir(out) if d.startswith("_scored")]
    assert leftovers == []


def test_strict_mode_fails_all_on_error_rows(spark, small_input, tmp_path):
    """require_all_responses analogue (reference
    base_request_processor.py:398-426): with error rows present, strict
    mode raises and commits NOTHING, so a rerun reprocesses; default
    mode soft-fails to error rows and completes."""
    out = str(tmp_path / "strict")
    with pytest.raises(RuntimeError, match="strict mode"):
        run_checkpointed(spark, small_input, out, strict=True)
    assert committed_parts(out) == set()
    assert not _run_success(out)
    # nothing published, no metrics appended (rerun must not double-count);
    # the staged output is deliberately kept for inspection
    assert not os.path.exists(os.path.join(out, "data"))
    assert not os.path.exists(os.path.join(out, "_metrics"))
    assert any(d.startswith("_scored-") for d in os.listdir(out))
    # same out_dir, default mode: completes (error rows carried as data)
    r = run_checkpointed(spark, small_input, out)
    assert r["parts_committed"] == 4
    m = spark.read.parquet(os.path.join(out, "_metrics")).toPandas()
    assert len(m) == 4  # exactly one metrics row per (run, part)


def test_concurrent_shards_do_not_clobber(spark, small_input, tmp_path,
                                          store):
    """Two only_parts shards of one run executing CONCURRENTLY (the
    documented production sharding) must not corrupt each other: each
    stages under its own scratch root and publishes disjoint partition
    directories; commitlog additionally exercises the optimistic-
    concurrency retry (two writers racing for the same log version)."""
    from concurrent.futures import ThreadPoolExecutor

    crashed = str(tmp_path / "conc")
    clean = str(tmp_path / "conc_clean")
    with ThreadPoolExecutor(2) as ex:
        f1 = ex.submit(run_checkpointed, spark, small_input, crashed,
                       only_parts=[0, 1])
        f2 = ex.submit(run_checkpointed, spark, small_input, crashed,
                       only_parts=[2, 3])
        r1, r2 = f1.result(timeout=300), f2.result(timeout=300)
    assert r1["parts_committed"] == 2 and r2["parts_committed"] == 2
    assert committed_parts(crashed) == {0, 1, 2, 3}
    assert _run_success(crashed)
    run_checkpointed(spark, small_input, clean)
    a, b = (_read_sorted(spark, crashed),
           _read_sorted(spark, clean))
    assert a.equals(b), "concurrent-shard output != clean-run output"


def test_commitlog_versions_are_immutable_and_ordered(tmp_path):
    """Protocol-level check without Spark: concurrent appends from many
    threads produce a gapless version sequence with no lost updates."""
    from concurrent.futures import ThreadPoolExecutor

    led = CommitLogLedger(str(tmp_path / "log"))
    with ThreadPoolExecutor(8) as ex:
        list(ex.map(lambda i: led.commit_part(
            {"part": i, "run_id": "r", "n_rows": i, "files": {}}), range(40)))
    vs = led._versions()
    assert [int(v[1:-5]) for v in vs] == list(range(1, 41))  # gapless
    assert set(led.committed()) == set(range(40))  # no lost updates
    led.drop_part(7)
    led.mark_run_success("r", 39)
    assert 7 not in led.committed()
    assert led.run_success() == {"run_id": "r", "n_parts": 39}
    led.drop_run_success()
    assert led.run_success() is None


def test_commitlog_orphans_invisible_until_vacuum(spark, small_input,
                                                  tmp_path):
    """Recomputing an invalidated partition under commitlog leaves the
    superseded commit's intact files on disk as ORPHANS: the snapshot
    reader never sees them, and vacuum() reclaims exactly them."""
    import glob

    from curator_spark.checkpoint import vacuum

    out = str(tmp_path / "vac")
    with multi_file_parts(spark):  # part 0 needs sibling files
        run_checkpointed(spark, small_input, out)
    before = read_committed(spark, out).orderBy("conv_id", "turn_idx").toPandas()

    # delete ONE of part 0's files; its siblings become orphans after
    # the recompute (their commit is superseded, files remain on disk)
    part0 = sorted(glob.glob(os.path.join(out, "data", "part=0", "*.parquet")))
    assert len(part0) > 1
    os.remove(part0[0])
    survivors = len(part0) - 1

    r = run_checkpointed(spark, small_input, out)
    assert r["parts_invalidated"] == 1

    after = read_committed(spark, out).orderBy("conv_id", "turn_idx").toPandas()
    assert after.equals(before), "snapshot changed across recompute"

    n_files_before_vac = len(glob.glob(
        os.path.join(out, "data", "part=0", "*.parquet")))
    # default retention window protects files a concurrent in-flight
    # shard may have just placed: freshly-written orphans survive
    assert vacuum(out) == 0
    removed = vacuum(out, min_age_s=0)  # quiesced maintenance: reclaim
    assert removed == survivors  # exactly the superseded commit's files
    assert len(glob.glob(os.path.join(out, "data", "part=0", "*.parquet"))) \
        == n_files_before_vac - survivors
    # post-vacuum snapshot still identical, and still validates
    r2 = run_checkpointed(spark, small_input, out)
    assert r2["memoized"]
    post = read_committed(spark, out).orderBy("conv_id", "turn_idx").toPandas()
    assert post.equals(before)


def test_metrics_and_lineage_written(spark, small_input, tmp_path):
    out = str(tmp_path / "metrics")
    run_checkpointed(spark, small_input, out)
    m = spark.read.parquet(os.path.join(out, "_metrics")).toPandas()
    assert set(m["part"]) == {0, 1, 2, 3}
    data = read_committed(spark, out)
    n_in = data.count()
    assert m["n_in"].sum() == n_in
    assert m["n_kept"].sum() == data.filter("keep").count()
    metas = os.listdir(os.path.join(out, "_meta"))
    assert any(f.startswith("run_") for f in metas)


def test_recomputed_part_metrics_supersede(spark, small_input, tmp_path):
    """An invalidated+recomputed partition must not double-count: the
    raw _metrics table keeps both rows (history), but read_metrics —
    the path run_cost and QualityFilter.metrics consume — returns ONE
    row per (run_id, part) with the n_kept-sum == kept-rows
    reconciliation intact."""
    import glob

    from curator_spark.checkpoint import read_metrics, run_cost

    out = str(tmp_path / "supersede")
    run_checkpointed(spark, small_input, out)
    os.remove(glob.glob(os.path.join(out, "data", "part=1", "*.parquet"))[0])
    r = run_checkpointed(spark, small_input, out)
    assert r["parts_invalidated"] == 1

    raw = spark.read.parquet(os.path.join(out, "_metrics")).toPandas()
    assert len(raw) == 5  # 4 original + 1 recompute appended as history

    m = read_metrics(spark, out).toPandas()
    assert len(m) == 4
    data = read_committed(spark, out)
    assert m["n_in"].sum() == data.count()
    assert m["n_kept"].sum() == data.filter("keep").count()

    c = run_cost(spark, out).collect()
    assert len(c) == 1 and c[0].n_tokens == m["n_tokens"].sum()


def test_stale_scratch_swept_on_next_invocation(spark, small_input, tmp_path):
    """A scratch dir whose owning process is dead (crash/strict debris)
    is garbage-collected by the next invocation; a live owner's is not."""
    out = str(tmp_path / "gc")
    dead = os.path.join(out, "_scored-deadrun-deadbeef")
    live = os.path.join(out, "_scored-liverun-cafebabe")
    os.makedirs(dead)
    os.makedirs(live)
    with open(os.path.join(dead, "OWNER"), "w") as f:
        f.write("999999999")           # no such pid
    with open(os.path.join(live, "OWNER"), "w") as f:
        f.write(str(os.getpid()))      # this very process
    run_checkpointed(spark, small_input, out)
    assert not os.path.exists(dead)
    assert os.path.exists(live)


def test_renamed_file_detected_by_manifest(spark, small_input, tmp_path):
    """File-level manifests catch integrity drift that row-count totals
    miss: renaming a data file keeps the partition total identical but
    changes the committed file set → marker dropped, part recomputed."""
    import glob

    out = str(tmp_path / "manifest")
    run_checkpointed(spark, small_input, out, only_parts=[0, 1])
    f = glob.glob(os.path.join(out, "data", "part=0", "*.parquet"))[0]
    os.rename(f, os.path.join(os.path.dirname(f), "renamed-file.parquet"))
    r = run_checkpointed(spark, small_input, out)
    assert r["parts_invalidated"] == 1
    assert committed_parts(out) == {0, 1, 2, 3}


def test_run_cost_prices_token_volume(spark, small_input, tmp_path):
    from curator_spark.checkpoint import run_cost
    out = str(tmp_path / "cost")
    run_checkpointed(spark, small_input, out)
    c = run_cost(spark, out, usd_per_1k_tokens=0.5).collect()
    assert len(c) == 1
    m = spark.read.parquet(os.path.join(out, "_metrics")).toPandas()
    assert c[0].n_tokens == m["n_tokens"].sum()
    assert abs(c[0].cost_usd - round(c[0].n_tokens / 1000 * 0.5, 6)) < 1e-9


def test_partitioned_input_lists_parts_without_scan(spark, small_input,
                                                    tmp_path):
    """A bucket-partitioned input (part=K dirs — the on-disk face of the
    Iceberg bucket partitioning) yields its partition inventory from
    directory listing, not a data scan, and produces the identical
    table. An EMPTY partition directory exercises the zero-row commit
    path: it gets an n_rows=0 marker (else it would re-enter todo
    forever and block the whole-run marker)."""
    from curator_spark.checkpoint import _list_input_parts

    part_in = str(tmp_path / "hive_in")
    (spark.read.parquet(small_input)
     .write.mode("overwrite").partitionBy("part").parquet(part_in))
    # an empty partition dir: present in the inventory, zero rows
    os.makedirs(os.path.join(part_in, "part=9"))

    assert _list_input_parts(part_in) == [0, 1, 2, 3, 9]
    assert _list_input_parts(small_input) is None  # single-file: fall back

    out = str(tmp_path / "hive_out")
    r = run_checkpointed(spark, part_in, out)
    assert r["parts_committed"] == 5
    assert committed_parts(out) == {0, 1, 2, 3, 9}
    led = make_ledger(out)
    assert led.committed()[9]["n_rows"] == 0
    assert led.run_success() is not None
    r2 = run_checkpointed(spark, part_in, out)
    assert r2["memoized"]

    clean = str(tmp_path / "hive_clean")
    run_checkpointed(spark, small_input, clean)
    a, b = _read_sorted(spark, out), _read_sorted(spark, clean)
    assert a.equals(b), "partitioned-input output != single-file output"


def test_run_status_surface(spark, small_input, tmp_path):
    """The tracker analogue (reference online_status_tracker table):
    readable mid-run (partial ledger, resumable) and after completion,
    with supersede-correct counter totals — no Spark session needed."""
    from curator_spark.status import format_run_status, run_status

    out = str(tmp_path / "status")
    run_checkpointed(spark, small_input, out, only_parts=[0, 1])
    s = run_status(out)
    assert not s["complete"] and s["parts_committed"] == 2
    assert s["totals"]["n_in"] > 0

    run_checkpointed(spark, small_input, out)
    s = run_status(out)
    assert s["complete"] and s["parts_committed"] == 4
    data = read_committed(spark, out)
    assert s["totals"]["n_in"] == data.count()
    assert s["totals"]["n_kept"] == data.filter("keep").count()
    txt = format_run_status(out)
    assert "COMPLETE" in txt and "keep rate" in txt and "COMMITTED" in txt


def test_vacuum_safety_rails(legacy_markers_table, tmp_path):
    """vacuum must never classify live data as orphans: it refuses a
    legacy marker-layout dir (pointing at adopt_markers) and no-ops on
    an empty/absent commit log."""
    from curator_spark.checkpoint import vacuum

    with pytest.raises(ValueError, match="adopt_markers"):
        vacuum(legacy_markers_table, min_age_s=0)
    out = str(tmp_path / "rails")
    d = os.path.join(out, "data", "part=0")
    os.makedirs(d)
    with open(os.path.join(d, "f.parquet"), "wb") as f:
        f.write(b"x")
    # no log: nothing was committed → no-op, the file survives
    assert vacuum(out, min_age_s=0) == 0
    assert os.path.exists(os.path.join(d, "f.parquet"))


def test_status_totals_scoped_to_ledger_across_run_ids(spark, small_input,
                                                       tmp_path):
    """A partition recomputed under a DIFFERENT run fingerprint counts
    once in status totals — through the marker that owns it."""
    import glob

    from curator_spark.status import run_status

    out = str(tmp_path / "multi_run")
    run_checkpointed(spark, small_input, out, params={"v": 1})
    os.remove(glob.glob(os.path.join(out, "data", "part=1", "*.parquet"))[0])
    r = run_checkpointed(spark, small_input, out, params={"v": 2})
    assert r["parts_invalidated"] == 1  # part 1 recomputed under run B

    s = run_status(out)
    data = read_committed(spark, out)
    assert s["totals"]["n_in"] == data.count()
    assert s["totals"]["n_kept"] == data.filter("keep").count()


def test_cancel_run_aborts_and_resumes(spark, tmp_path):
    """A34 batch cancel: cancel_run aborts the run's in-flight Spark
    jobs from another thread; the interruption is crash-equivalent, so
    a rerun resumes to a table identical to a clean run."""
    import threading
    import time as _time

    from curator_spark.checkpoint import cancel_run, run_fingerprint

    big = str(tmp_path / "big.parquet")
    fixtures.write_transcripts_parquet(big, 12000, seed=31, n_parts=4)
    out = str(tmp_path / "cancelled")
    result: dict = {}

    def work():
        try:
            run_checkpointed(spark, big, out)
            result["done"] = True
        except Exception as e:  # noqa: BLE001 — cancellation surfaces here
            result["err"] = e

    run_id = run_fingerprint(big, None)
    tracker = spark.sparkContext.statusTracker()
    t = threading.Thread(target=work)
    t.start()
    # cancel once one of the run's jobs is in flight, and again for each
    # later one until the run gives up: a fixed delay before a single
    # cancel let a fast host finish the run first
    deadline = _time.monotonic() + 300
    while t.is_alive() and _time.monotonic() < deadline:
        if set(tracker.getJobIdsForGroup(f"curator-run-{run_id}")) \
                & set(tracker.getActiveJobsIds()):
            cancel_run(spark, run_id)
        _time.sleep(0.02)
    t.join(60)
    assert not result.get("done"), "the run finished despite the cancel"
    assert "err" in result and "cancel" in str(result["err"]).lower()

    # crash-equivalence: rerun completes the remaining parts and the
    # table equals a clean single run
    r = run_checkpointed(spark, big, out)
    assert r["parts_committed"] + r["parts_skipped"] == 4
    clean = str(tmp_path / "clean")
    run_checkpointed(spark, big, clean)
    a, b = _read_sorted(spark, out), _read_sorted(spark, clean)
    assert a.equals(b), "post-cancel resume != clean-run output"


def test_commitlog_replay_matches_model_under_random_histories():
    """Property: for ANY action history, the commit log's replayed
    state equals a trivial in-memory model — the protocol has no
    order/visibility surprises."""
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    action = st.one_of(
        st.tuples(st.just("add"), st.integers(0, 5), st.integers(0, 99)),
        st.tuples(st.just("remove"), st.integers(0, 5)),
        st.tuples(st.just("success"), st.integers(0, 5)),
        st.tuples(st.just("clear")),
    )

    @settings(max_examples=40, deadline=None)
    @given(st.lists(action, max_size=25))
    def run(history):
        with tempfile.TemporaryDirectory() as d:
            led = CommitLogLedger(d)
            model: dict = {}
            success = None
            for a in history:
                if a[0] == "add":
                    marker = {"part": a[1], "run_id": "r",
                              "n_rows": a[2], "files": {}}
                    led.commit_part(marker)
                    model[a[1]] = marker
                elif a[0] == "remove":
                    led.drop_part(a[1])
                    model.pop(a[1], None)
                elif a[0] == "success":
                    led.mark_run_success("r", a[1])
                    success = {"run_id": "r", "n_parts": a[1]}
                else:
                    led.drop_run_success()
                    success = None
            assert led.committed() == model
            assert led.run_success() == success

    run()


def test_mixed_ledger_backends_refused(spark, small_input, tmp_path):
    """One out_dir, one ledger: a legacy marker ledger without a commit
    log is refused (the error names adopt_markers); once a commit log
    exists it governs, and marker files left by an interrupted adoption
    are ignored. Only "commitlog" names a ledger backend."""
    from conftest import write_legacy_markers_dir

    out = str(tmp_path / "mixed")
    write_legacy_markers_dir(out, {}, {"run_id": "r", "n_parts": 0})
    with pytest.raises(ValueError, match="adopt_markers"):
        run_checkpointed(spark, small_input, out)
    with pytest.raises(ValueError, match="adopt_markers"):
        committed_parts(out)

    out2 = str(tmp_path / "mixed2")
    run_checkpointed(spark, small_input, out2, only_parts=[0])
    write_legacy_markers_dir(out2, {}, {"run_id": "r", "n_parts": 0})
    assert committed_parts(out2) == {0}
    assert not _run_success(out2)
    with pytest.raises(ValueError, match="commitlog"):
        run_checkpointed(spark, small_input, out2, ledger_backend="markers")
    with pytest.raises(ValueError, match="commitlog"):
        make_ledger(out2, "markers")


def test_read_with_lineage_attributes_rows_to_runs(spark, tmp_path):
    """Every row carries the file/part/run that produced it, exact
    across an incremental append (multi-run partitions list both
    contributors) and under time travel (the pre-append snapshot
    knows only the first run)."""
    from curator_spark import fixtures
    from curator_spark.checkpoint import make_ledger, read_with_lineage
    from curator_spark.incremental import append_new_conversations

    p1 = str(tmp_path / "l1.parquet")
    fixtures.write_transcripts_parquet(p1, 300, seed=61, n_parts=4)
    out = str(tmp_path / "ltable")
    run_checkpointed(spark, p1, out)
    v1 = make_ledger(out).latest_version()
    p2 = str(tmp_path / "l2.parquet")
    fixtures.write_transcripts_parquet(p2, 200, seed=62, n_parts=4)
    append_new_conversations(spark, p2, out)

    got = read_with_lineage(spark, out).collect()
    assert got and all(r["_lineage_file"] is not None for r in got)
    for r in got:
        assert r["_lineage_part"] == r["part"]
        assert r["_lineage_run_id"] in r["_lineage_runs"]
    # appended partitions are multi-run; at least one row shows both
    assert any(len(r["_lineage_runs"]) >= 2 for r in got)
    # time travel: the v1 snapshot predates the append — single-run
    old = read_with_lineage(spark, out, version=v1).collect()
    assert old and all(len(r["_lineage_runs"]) == 1 for r in old)
    assert len(old) < len(got)
