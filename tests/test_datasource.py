"""`curator_table` Python Data Source: the commitlog table consumed
through plain `spark.read` / `spark.readStream` (Spark 4 DataSource
API). Batch = pinned snapshot; streaming = versions-as-offsets insert
feed with Delta streaming-source semantics (rewrites/restores never
fed), exactly-once across restarts via Spark's own offset checkpoint.
Write side: `df.write` / `df.writeStream` stage files under their
final partition dirs (invisible until committed) and publish ONE
atomic log commit; the streaming sink is exactly-once via the
idempotent-writer txn action (txnAppId, batchId). The batch reader
pushes filters down to manifest-stats file skipping + bucket pruning.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from conftest import copy_table
from curator_spark import fixtures
from curator_spark.checkpoint import (
    compact_partition, delete_conversations, make_ledger, read_committed,
    run_checkpointed, snapshot_files)
from curator_spark.datasource import (
    CuratorTableDataSource, _LedgerStreamWriter, _SnapshotReader,
    _StagedFiles)
from curator_spark.delta_source import DeltaFeedDataSource
from curator_spark.export_delta import export_delta_log, read_delta
from curator_spark.incremental import append_new_conversations


def _ms(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols)
                  for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def built_table(spark, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("datasource")
    p1 = str(tmp_path / "b1.parquet")
    fixtures.write_transcripts_parquet(p1, 600, seed=81, n_parts=4)
    out = str(tmp_path / "out")
    # one shard per part: a backlog of several insert versions for the
    # rate-limited stream tests (a whole run commits its parts as one)
    for part in range(4):
        run_checkpointed(spark, p1, out, only_parts=[part])
    return out


@pytest.fixture()
def table(spark, built_table, tmp_path):
    """A private copy of the module's table for each test."""
    spark.dataSource.register(CuratorTableDataSource)
    return copy_table(built_table, tmp_path / "out")


def test_batch_read_is_the_snapshot(spark, table):
    df = spark.read.format("curator_table").load(table)
    assert _ms(df) == _ms(read_committed(spark, table))
    # orphaned / uncommitted files stay invisible: manifests govern
    assert df.schema == read_committed(spark, table).schema


def test_stream_is_exactly_once_across_restarts(spark, table, tmp_path):
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")

    def drain():
        q = (spark.readStream.format("curator_table").load(table)
             .writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()  # bootstrap: the whole table arrives once
    assert _ms(spark.read.parquet(sink)) == \
        _ms(read_committed(spark, table))
    drain()  # no new commits: nothing re-delivered
    assert spark.read.parquet(sink).count() == \
        read_committed(spark, table).count()
    # append a batch; restart delivers exactly the new rows
    p2 = str(tmp_path / "b2.parquet")
    fixtures.to_spark_parquet(
        fixtures.generate_transcripts(250, seed=82, n_parts=4), p2)
    app = append_new_conversations(spark, p2, table)
    assert app["rows_appended"] > 0
    drain()
    assert _ms(spark.read.parquet(sink)) == \
        _ms(read_committed(spark, table))


def test_stream_skips_rewrites_like_delta_skipchangecommits(spark, table,
                                                            tmp_path):
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")

    def drain():
        q = (spark.readStream.format("curator_table").load(table)
             .writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    n0 = spark.read.parquet(sink).count()
    # delete + compact: non-append commits must feed NOTHING (no
    # duplicates from the rewrites' output files)
    ids = [r.conv_id for r in read_committed(spark, table)
           .select("conv_id").distinct().limit(3).collect()]
    delete_conversations(spark, table, ids)
    led = make_ledger(table)
    part = max(led.committed(), key=lambda p: len(led.committed()[p]["files"]))
    compact_partition(spark, table, part)
    drain()
    assert spark.read.parquet(sink).count() == n0


# ---------------------------------------------------------------- write


def _toy(spark, n=800):
    return spark.range(n).select(
        F.concat(F.lit("conv-"), F.col("id")).alias("conv_id"),
        (F.col("id") % 5).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        (F.col("id") % 97).cast("double").alias("ppl"))


def test_batch_write_creates_table_and_prunes_probes(spark, tmp_path):
    spark.dataSource.register(CuratorTableDataSource)
    out = str(tmp_path / "t")
    (_toy(spark).write.format("curator_table")
     .option("bucketBy", "conv_id").option("buckets", "8")
     .mode("append").save(out))
    # readable through BOTH the format and the library reader
    assert _ms(spark.read.format("curator_table").load(out)) == \
        _ms(read_committed(spark, out))
    # the write recorded the bucket spec: an equality probe on the
    # bucketed column prunes to ONE partition's files, from the log
    led = make_ledger(out)
    assert led.table_meta().get("bucket") == {
        "col": "conv_id", "n_parts": 8, "fn": "md5full"}
    n_all = len(snapshot_files(out))
    n_probe = len(snapshot_files(out, where=("conv_id", "=", "conv-7")))
    assert n_probe * 2 <= n_all  # 1-of-8 buckets survive
    got = (spark.read.format("curator_table").load(out)
           .where(F.col("conv_id") == "conv-7").collect())
    assert len(got) == 1 and got[0].conv_id == "conv-7"


def test_batch_overwrite_is_one_atomic_commit(spark, tmp_path):
    spark.dataSource.register(CuratorTableDataSource)
    out = str(tmp_path / "t")
    (_toy(spark, 400).write.format("curator_table")
     .option("bucketBy", "conv_id").option("buckets", "4")
     .mode("append").save(out))
    led = make_ledger(out)
    v_before = led.latest_version()
    (_toy(spark, 50).write.format("curator_table")
     .mode("overwrite").save(out))
    # remove-all + add landed as ONE log version: readers can never
    # have observed a mix of old and new table
    assert led.latest_version() == v_before + 1
    assert spark.read.format("curator_table").load(out).count() == 50
    # the overwritten era stays time-travel-readable until vacuum
    assert read_committed(spark, out, version=v_before).count() == 400


def test_batch_write_routes_by_part_column(spark, tmp_path):
    spark.dataSource.register(CuratorTableDataSource)
    out = str(tmp_path / "t")
    df = _toy(spark, 300).withColumn(
        "part", (F.length("conv_id") * 0 + F.col("turn_idx") % 3)
        .cast("int"))
    df.write.format("curator_table").mode("append").save(out)
    led = make_ledger(out)
    assert sorted(led.committed()) == [0, 1, 2]
    back = spark.read.format("curator_table").load(out)
    # part materializes from the directory, identical to the routing col
    assert back.where(F.col("part") != F.col("turn_idx") % 3).count() == 0
    assert back.count() == 300


def test_batch_write_needs_routing(spark, tmp_path):
    spark.dataSource.register(CuratorTableDataSource)
    out = str(tmp_path / "t")
    with pytest.raises(Exception, match="part.*column|bucketBy"):
        _toy(spark, 10).write.format("curator_table") \
            .mode("append").save(out)


def test_write_refuses_markers_table(spark, legacy_markers_table):
    spark.dataSource.register(CuratorTableDataSource)
    with pytest.raises(Exception, match="adopt_markers"):
        (_toy(spark, 10).withColumn("part", F.lit(0).cast("int"))
         .write.format("curator_table").mode("append")
         .save(legacy_markers_table))


def test_stream_write_is_exactly_once(spark, tmp_path):
    spark.dataSource.register(CuratorTableDataSource)
    src, out, ck = (str(tmp_path / d) for d in ("src", "t", "ck"))
    df = _toy(spark, 500)
    df.write.parquet(src)

    def drain():
        q = (spark.readStream.schema(df.schema).parquet(src)
             .writeStream.format("curator_table")
             .option("path", out).option("txnAppId", "sink-a")
             .option("bucketBy", "conv_id").option("buckets", "4")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    assert _ms(spark.read.format("curator_table").load(out)
               .drop("part")) == _ms(df)
    drain()  # restart with no new data: nothing re-delivered
    assert spark.read.format("curator_table").load(out).count() == 500
    led = make_ledger(out)
    assert led.last_txn("sink-a") is not None

    # replayed epoch (sink committed, Spark's offset didn't advance):
    # same batchId → no new log version, re-staged files GC'd
    w = _LedgerStreamWriter(df.schema, out, {"txnappid": "sink-a"})
    orphan_dir = os.path.join(out, "data", "part=0")
    os.makedirs(orphan_dir, exist_ok=True)
    orphan = os.path.join(orphan_dir, "ds-replayed.parquet")
    open(orphan, "wb").write(b"x")
    v = led.latest_version()
    w.commit([_StagedFiles(entries=[(0, "ds-replayed.parquet", 1, 1, {})])],
             int(led.last_txn("sink-a")))
    assert led.latest_version() == v
    assert not os.path.exists(orphan)


def test_stream_write_requires_txn_app_id(spark, tmp_path):
    with pytest.raises(Exception, match="txnAppId"):
        _LedgerStreamWriter(_toy(spark, 1).schema, str(tmp_path / "t"),
                            {"bucketby": "conv_id", "buckets": "2"})


def test_table_to_table_incremental_pipeline(spark, table, tmp_path):
    """readStream FROM one curator_table INTO another: the derived-
    table story (tokenize/filter downstream of ingestion) with
    exactly-once on BOTH sides — versions-as-offsets source, txn-
    marker sink."""
    spark.dataSource.register(CuratorTableDataSource)
    dst, ck = str(tmp_path / "derived"), str(tmp_path / "ck2")

    def drain():
        q = (spark.readStream.format("curator_table").load(table)
             .writeStream.format("curator_table")
             .option("path", dst).option("txnAppId", "derive-1")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    assert _ms(spark.read.format("curator_table").load(dst)) == \
        _ms(read_committed(spark, table))
    drain()  # no new upstream commits: no duplicates downstream
    assert spark.read.format("curator_table").load(dst).count() == \
        read_committed(spark, table).count()


# ------------------------------------------------------------- pushdown


def test_pushdown_prunes_scheduled_files(spark, table):
    """The pushable conjuncts of a .where() shrink the scheduled file
    set via manifest stats — asserted at the reader level (partitions()
    after pushFilters), plus value parity with the unfiltered read."""
    from pyspark.sql.datasource import EqualTo, GreaterThan
    from curator_spark.datasource import _declared_schema
    sch = _declared_schema(table)
    r_all = _SnapshotReader(sch, table)
    n_all = len(r_all.partitions())

    r = _SnapshotReader(sch, table)
    conv = read_committed(spark, table).select("conv_id").first().conv_id
    returned = list(r.pushFilters([EqualTo(("conv_id",), conv)]))
    # every filter is handed back for Spark-side re-evaluation
    assert len(returned) == 1
    assert len(r.partitions()) < n_all

    # unpushable filter shapes are simply ignored (kept files)
    r2 = _SnapshotReader(sch, table)
    r2.pushFilters([GreaterThan(("no_such_col",), 1)])
    assert len(r2.partitions()) == n_all

    got = (spark.read.format("curator_table").load(table)
           .where(F.col("conv_id") == conv))
    want = read_committed(spark, table).where(F.col("conv_id") == conv)
    assert _ms(got) == _ms(want)


def test_stream_starting_version_skips_history(spark, table, tmp_path):
    """startingVersion: attach a NEW consumer without re-bootstrapping
    the table ('latest' = only commits after stream start; an explicit
    version = resume from there) — Delta's startingVersion option."""
    led = make_ledger(table)
    v0 = led.latest_version()
    p2 = str(tmp_path / "b2.parquet")
    fixtures.write_transcripts_parquet(p2, 200, seed=83, n_parts=4)
    app = append_new_conversations(spark, p2, table)
    assert app["rows_appended"] > 0
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
    q = (spark.readStream.format("curator_table")
         .option("startingVersion", str(v0)).load(table)
         .writeStream.format("parquet")
         .option("path", sink).option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    # only the post-v0 append arrived — history was skipped
    assert got.count() == app["rows_appended"]


def test_stream_rate_limit_bounds_each_batch(spark, table, tmp_path):
    """maxVersionsPerTrigger: a backlogged stream drains the SAME rows
    in bounded bites — final content identical, multiple micro-batches
    recorded in Spark's offset checkpoint (the log-version analogue of
    Delta's maxFilesPerTrigger)."""
    for seed in (84, 85):
        p = str(tmp_path / f"b{seed}.parquet")
        fixtures.write_transcripts_parquet(p, 150, seed=seed, n_parts=4)
        append_new_conversations(spark, p, table)
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
    # Python micro-batch sources fall back to single-batch under
    # availableNow, which would defeat the rate limiter — drive the
    # drain with a processing-time trigger and stop once caught up
    import time

    want = read_committed(spark, table).count()
    q = (spark.readStream.format("curator_table")
         .option("maxVersionsPerTrigger", "1").load(table)
         .writeStream.format("parquet")
         .option("path", sink).option("checkpointLocation", ck)
         .trigger(processingTime="250 milliseconds").start())
    deadline = time.time() + 150
    got = 0
    while time.time() < deadline and got < want:
        time.sleep(1.0)
        try:
            got = spark.read.parquet(sink).count()
        except Exception:
            got = 0
    q.stop()
    assert _ms(spark.read.parquet(sink)) == \
        _ms(read_committed(spark, table))
    n_batches = len([f for f in os.listdir(os.path.join(ck, "offsets"))
                     if not f.startswith(".")])
    assert n_batches > 2          # drained in bounded bites, not one gulp


@pytest.mark.parametrize("fmt", ["curator_table", "delta_feed"])
def test_rate_limited_restart_after_commit_delivers_once(spark, table,
                                                         tmp_path, fmt):
    """A rate-limited stream (maxVersionsPerTrigger=1) stopped after
    two committed micro-batches and restarted on the same checkpoint
    resumes at Spark's committed offset: the sink ends holding exactly
    the source's rows, none twice. On restart Spark replans its last
    committed batch before the first latestOffset; that replan is what
    tells the rate limiter where the query stood."""
    if fmt == "delta_feed":
        spark.dataSource.register(DeltaFeedDataSource)
        # one Delta version per commit-log version: a backlog of
        # several insert versions, as the commit log itself has
        for v in range(1, make_ledger(table).latest_version() + 1):
            export_delta_log(table, version=v)
        path = os.path.join(os.path.abspath(table), "data")
        want = read_delta(spark, path)
    else:
        path, want = table, read_committed(spark, table)
    n_want = want.count()
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")

    def committed():
        d = os.path.join(ck, "commits")
        return len([f for f in os.listdir(d) if f.isdigit()]) \
            if os.path.isdir(d) else 0

    def delivered():
        try:
            return spark.read.parquet(sink).count()
        except Exception:  # no batch has written the sink yet
            return 0

    def run_until(done):
        # a processing-time trigger: under availableNow a Python
        # micro-batch source runs one batch, bypassing the rate limiter
        q = (spark.readStream.format(fmt)
             .option("maxVersionsPerTrigger", "1").load(path)
             .writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ck)
             .trigger(processingTime="1 second").start())
        deadline = time.time() + 60
        try:
            while time.time() < deadline and not done():
                time.sleep(0.2)
        finally:
            q.stop()

    run_until(lambda: committed() >= 2)
    assert 0 < delivered() < n_want  # stopped with a backlog left
    run_until(lambda: delivered() >= n_want)
    assert _ms(spark.read.parquet(sink)) == _ms(want)


def test_batched_read_masks_dv_across_row_groups(spark, tmp_path):
    """A file of several row groups is streamed in several Arrow
    batches; deletion-vector positions on both sides of a row-group
    boundary and of a batch boundary are masked by the running row
    offset, and the data source read equals read_committed."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    from curator_spark.checkpoint import _evolve_meta
    from curator_spark.datasource import _BATCH_ROWS, _declared_schema

    out = str(tmp_path / "rg")
    d = os.path.join(out, "data", "part=2")
    os.makedirs(d)
    n, fn = 2 * _BATCH_ROWS + 5000, "rg.parquet"
    pq.write_table(pa.table({
        "conv_id": [f"c{i:05d}" for i in range(n)],
        "turn_idx": pa.array(range(n), type=pa.int32())}),
        os.path.join(d, fn), row_group_size=6000)
    led = make_ledger(out)
    led.set_table_meta(_evolve_meta(led.table_meta(), StructType([
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("part", IntegerType(), False)])))
    led.append_part(2, {fn: {"n_rows": n, "n_bytes": os.path.getsize(
        os.path.join(d, fn))}}, n, run_id="rg")
    dv = [5999, 6000, _BATCH_ROWS - 1, _BATCH_ROWS, n - 1]
    led.add_dv([(2, fn, dv)])

    r = _SnapshotReader(_declared_schema(out), out)
    [p] = r.partitions()
    batches = list(r.read(p))
    assert len(batches) >= 3
    assert [i for b in batches for i in b.column("turn_idx").to_pylist()] \
        == [i for i in range(n) if i not in dv]
    assert {v for b in batches for v in b.column("part").to_pylist()} \
        == {2}

    spark.dataSource.register(CuratorTableDataSource)
    got = spark.read.format("curator_table").load(out)
    assert got.count() == n - len(dv)
    assert _ms(got) == _ms(read_committed(spark, out))
