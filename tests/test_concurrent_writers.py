"""Optimistic concurrency with REAL concurrent writers: separate
processes (each its own JVM/SparkSession) race appends into one
commitlog table. The put-if-absent version protocol must serialize
them with no lost updates, no duplicated rows, and a gap-free history
— the multi-writer story the thread-level protocol test
(test_checkpoint.py) cannot fully claim, because threads share one
process's view of the filesystem."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from curator_spark import fixtures
from curator_spark.checkpoint import (
    make_ledger, read_committed, run_checkpointed, table_row_count)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WRITER = """
import sys
from curator_spark.session import get_spark
from curator_spark.incremental import append_new_conversations
inp, out = sys.argv[1], sys.argv[2]
spark = get_spark("writer-" + inp[-12:], parallelism=4,
                  shuffle_partitions=8)
s = append_new_conversations(spark, inp, out)
print("APPENDED", s["rows_appended"])
spark.stop()
"""


# both put-if-absent stores must serialize real multi-process races:
# os.link natively, the conditional-put emulation via its server-side-
# style lock — the same contract an S3 If-None-Match adapter provides
@pytest.mark.parametrize("store_name", ["oslink", "condput", "s3"])
def test_processes_race_appends_without_lost_updates(spark, tmp_path,
                                                     store_name,
                                                     monkeypatch):
    # "s3" routes every publish through the S3 adapter's conditional
    # PUT (over the filesystem-backed fake client), with one 409
    # ConditionalRequestConflict injected per key so the adapter's
    # retry path runs UNDER the real multi-process races
    monkeypatch.setenv("CURATOR_SPARK_ATOMIC_STORE", store_name)
    if store_name == "s3":
        monkeypatch.setenv("CURATOR_SPARK_FAKE_S3_409", "1")
    p0 = str(tmp_path / "base.parquet")
    fixtures.write_transcripts_parquet(p0, 400, seed=91, n_parts=4)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p0, out)
    n_base = table_row_count(out)

    batches = []
    for i, seed in enumerate((92, 93, 94)):
        p = str(tmp_path / f"b{i}.parquet")
        pdf = fixtures.write_transcripts_parquet(p, 300, seed=seed,
                                                 n_parts=4)
        batches.append((p, pdf))

    env = dict(os.environ, PYTHONPATH=REPO,
               CURATOR_SPARK_ATOMIC_STORE=store_name)
    procs = [subprocess.Popen(
        [sys.executable, "-c", WRITER, p, out],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, cwd=str(tmp_path)) for p, _ in batches]
    outs = [pr.communicate(timeout=420)[0] for pr in procs]
    for pr, o in zip(procs, outs):
        assert pr.returncode == 0, o[-2000:]
        assert "APPENDED" in o

    # no lost updates: every writer's batch landed exactly once
    expected = n_base + sum(len(pdf) for _, pdf in batches)
    assert table_row_count(out) == expected
    head = read_committed(spark, out)
    assert head.count() == expected
    assert head.select("conv_id", "turn_idx").distinct().count() == expected

    # the racing commits serialized into a gap-free, strictly-increasing
    # version sequence (os.link losers retried at the next number)
    led = make_ledger(out)
    versions = [h["version"] for h in led.history()]
    assert versions == list(range(1, len(versions) + 1))
    # at least one add_files commit per writer
    n_appends = sum(1 for h in led.history()
                    if "add_files" in h["operations"])
    assert n_appends >= len(batches)


@pytest.mark.parametrize("store_name", ["oslink", "condput", "s3"])
def test_atomic_store_contract_under_thread_races(tmp_path, store_name):
    """The put_if_absent contract both stores must honor: for one name,
    exactly ONE writer wins, the loser learns it (False — never an
    exception), and the published content is one writer's payload IN
    FULL (complete content or nothing, never an interleaving)."""
    import threading

    from curator_spark.checkpoint import ATOMIC_STORES
    store = ATOMIC_STORES[store_name]()
    for round_ in range(8):
        path = str(tmp_path / f"v{round_:03d}.json")
        results: dict[int, bool] = {}
        payloads = {i: (f'{{"writer": {i}, "round": {round_}}}'
                        * 200).encode() for i in range(6)}
        barrier = threading.Barrier(6)

        def attempt(i):
            barrier.wait()
            results[i] = store.put_if_absent(path, payloads[i])

        ts = [threading.Thread(target=attempt, args=(i,)) for i in range(6)]
        [t.start() for t in ts]
        [t.join() for t in ts]
        winners = [i for i, ok in results.items() if ok]
        assert len(winners) == 1, results
        with open(path, "rb") as f:
            assert f.read() == payloads[winners[0]]  # full content
        # and a later put against the existing name just loses
        assert store.put_if_absent(path, b"late") is False


MERGER = """
import sys
from pyspark.sql import functions as F
from curator_spark.session import get_spark
from curator_spark.merge import ConcurrentMergeError, merge_into
out, lo, n, base = (sys.argv[1], int(sys.argv[2]), int(sys.argv[3]),
                    float(sys.argv[4]))
spark = get_spark("merger-%d" % lo, parallelism=4, shuffle_partitions=8)
src = spark.range(lo, lo + n).select(
    F.format_string("conv-%06d", F.col("id")).alias("conv_id"),
    (F.col("id") % 5).cast("int").alias("turn_idx"),
    F.lit("user").alias("role"),
    (F.lit(base) + F.col("id")).cast("double").alias("ppl"))
for attempt in range(4):
    try:
        s = merge_into(spark, out, src)
        print("MERGED", s["rows_updated"], s["rows_inserted"])
        break
    except ConcurrentMergeError:
        print("RETRY", attempt)
else:
    raise SystemExit("never converged")
spark.stop()
"""


def test_processes_race_merges_without_lost_updates(spark, tmp_path):
    """Three processes MERGE concurrently into one table: two update
    DISJOINT key ranges, one inserts brand-new keys. Optimistic
    concurrency must land all three exactly (ConcurrentMergeError
    retries converge per the module contract) — no lost updates, no
    duplicate keys, every version gap-free."""
    from pyspark.sql import functions as F
    from curator_spark.datasource import CuratorTableDataSource
    spark.dataSource.register(CuratorTableDataSource)
    out = str(tmp_path / "t")
    (spark.range(600).select(
        F.format_string("conv-%06d", F.col("id")).alias("conv_id"),
        (F.col("id") % 5).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        (F.col("id") % 97).cast("double").alias("ppl"))
     .write.format("curator_table")
     .option("bucketBy", "conv_id").option("buckets", "4")
     .mode("append").save(out))

    env = dict(os.environ, PYTHONPATH=REPO)
    jobs = [(0, 200, 10_000.0),      # updates conv-0..199
            (200, 200, 20_000.0),    # updates conv-200..399
            (5_000, 50, 30_000.0)]   # inserts conv-5000..5049
    procs = [subprocess.Popen(
        [sys.executable, "-c", MERGER, out, str(lo), str(n), str(b)],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, cwd=str(tmp_path)) for lo, n, b in jobs]
    outs = [pr.communicate(timeout=420)[0] for pr in procs]
    for pr, o in zip(procs, outs):
        assert pr.returncode == 0, o[-2000:]
        assert "MERGED" in o

    head = read_committed(spark, out)
    assert head.count() == 600 + 50
    assert head.select("conv_id").distinct().count() == 650
    got = {r["conv_id"]: r["ppl"] for r in
           head.select("conv_id", "ppl").collect()}
    for lo, n, base in jobs:
        for i in range(lo, lo + n):
            assert got[f"conv-{i:06d}"] == base + i, (i, base)
    # untouched rows unchanged
    assert got["conv-000450"] == 450 % 97
    led = make_ledger(out)
    versions = [h["version"] for h in led.history()]
    assert versions == list(range(1, len(versions) + 1))
