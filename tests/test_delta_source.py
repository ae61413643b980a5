"""`delta_feed` Python Data Source (delta_source.py): batch + stream
over any Delta log without a Delta jar — the Structured-Streaming face
of the import door. Exercised against this package's own exports
(whose round-trip fidelity test_export_delta.py proves independently)
and a hand-built foreign log."""

from __future__ import annotations

import json
import os

import pytest

from curator_spark import fixtures
from curator_spark.checkpoint import (delete_conversations,
                                      read_committed, run_checkpointed)
from curator_spark.delta_source import DeltaFeedDataSource
from curator_spark.export_delta import export_delta_log, read_delta
from curator_spark.incremental import append_new_conversations


@pytest.fixture()
def dtable(spark, tmp_path):
    inp = str(tmp_path / "t.parquet")
    fixtures.write_transcripts_parquet(inp, 500, seed=71, n_parts=4)
    out = str(tmp_path / "tbl")
    run_checkpointed(spark, inp, out)
    export_delta_log(out)
    spark.dataSource.register(DeltaFeedDataSource)
    return {"out": out,
            "root": os.path.join(os.path.abspath(out), "data"),
            "tmp": tmp_path}


def _ms(df):
    return sorted((r["conv_id"], r["turn_idx"], r["text"], r["part"])
                  for r in df.select("conv_id", "turn_idx", "text",
                                     "part").collect())


def test_batch_read_matches_function_api(spark, dtable):
    got = spark.read.format("delta_feed").load(dtable["root"])
    want = read_delta(spark, dtable["root"])
    assert _ms(got) == _ms(want)
    assert got.schema == want.schema


def test_stream_exactly_once_across_restarts(spark, dtable, tmp_path):
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")

    def drain(**opts):
        r = spark.readStream.format("delta_feed")
        for k, v in opts.items():
            r = r.option(k, v)
        q = (r.load(dtable["root"])
             .writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()  # bootstrap: whole table once (version 0 included)
    assert _ms(spark.read.parquet(sink)) == \
        _ms(read_delta(spark, dtable["root"]))
    drain()  # nothing new → nothing re-delivered
    n1 = spark.read.parquet(sink).count()
    assert n1 == read_delta(spark, dtable["root"]).count()

    # upstream appends + re-exports; restart delivers exactly the delta
    p2 = str(tmp_path / "b2.parquet")
    fixtures.write_transcripts_parquet(p2, 200, seed=72, n_parts=4)
    append_new_conversations(spark, p2, dtable["out"])
    export_delta_log(dtable["out"])
    drain()
    assert _ms(spark.read.parquet(sink)) == \
        _ms(read_delta(spark, dtable["root"]))


def test_stream_rewrite_version_error_and_skip(spark, dtable, tmp_path):
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")

    def drain(**opts):
        r = spark.readStream.format("delta_feed")
        for k, v in opts.items():
            r = r.option(k, v)
        q = (r.load(dtable["root"])
             .writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain(onChanges="skip")  # bootstrap
    n0 = spark.read.parquet(sink).count()
    victim = read_committed(spark, dtable["out"]).select("conv_id") \
        .distinct().orderBy("conv_id").first()["conv_id"]
    delete_conversations(spark, dtable["out"], [victim])
    export_delta_log(dtable["out"])  # a remove+add rewrite version
    # default stance errors the stream
    with pytest.raises(Exception, match="rewrites files"):
        q = (spark.readStream.format("delta_feed")
             .load(dtable["root"])
             .writeStream.format("parquet")
             .option("path", str(tmp_path / "sink2"))
             .option("checkpointLocation", str(tmp_path / "ck2"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
    # skip stance: the rewrite version contributes nothing
    drain(onChanges="skip")
    assert spark.read.parquet(sink).count() == n0


def test_stream_starting_version_latest_and_rate_limit(spark, dtable,
                                                       tmp_path):
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")

    def drain(**opts):
        r = spark.readStream.format("delta_feed")
        for k, v in opts.items():
            r = r.option(k, v)
        q = (r.load(dtable["root"])
             .writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    # startingVersion=latest: the existing table is NOT bootstrapped
    drain(startingVersion="latest", maxVersionsPerTrigger="1")
    assert not os.path.exists(sink) or \
        spark.read.parquet(sink).count() == 0
    # two upstream waves; with maxVersionsPerTrigger=1 each availableNow
    # run advances the offset by at most ONE version (bounded catch-up
    # — a backlogged consumer drains in replayable bites, the
    # log-version analogue of Delta's maxFilesPerTrigger)
    for i, seed in enumerate((73, 74)):
        p = str(tmp_path / f"w{i}.parquet")
        fixtures.write_transcripts_parquet(p, 120, seed=seed, n_parts=4)
        append_new_conversations(spark, p, dtable["out"])
        export_delta_log(dtable["out"])
    base = read_delta(spark, dtable["root"], version=0).count()
    want = read_delta(spark, dtable["root"]).count() - base
    drain(startingVersion="latest", maxVersionsPerTrigger="1")
    after_one = spark.read.parquet(sink).count()
    assert 0 < after_one < want  # rate limit really bounded the bite
    drain(startingVersion="latest", maxVersionsPerTrigger="1")
    assert spark.read.parquet(sink).count() == want  # caught up, exact


def test_foreign_log_with_nonint_partition(spark, tmp_path):
    """Foreign Delta table (string partition column, flat layout) read
    through the data source, batch and schema both from the log."""
    import pandas as pd

    from curator_spark.fixtures import to_spark_parquet

    root = str(tmp_path / "foreign")
    os.makedirs(os.path.join(root, "_delta_log"))
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "region", "type": "string", "nullable": True,
         "metadata": {}}]}
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "fk-2", "format":
                      {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": ["region"],
                      "configuration": {}, "createdTime": 0}}]
    for i, region in enumerate(["eu", "us"]):
        fn = f"d{i}.parquet"
        to_spark_parquet(pd.DataFrame({"id": [i * 10, i * 10 + 1]}),
                         os.path.join(root, fn))
        actions.append({"add": {
            "path": fn, "partitionValues": {"region": region},
            "size": os.path.getsize(os.path.join(root, fn)),
            "modificationTime": 0, "dataChange": True}})
    with open(os.path.join(root, "_delta_log",
                           f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions))

    spark.dataSource.register(DeltaFeedDataSource)
    df = spark.read.format("delta_feed").load(root)
    rows = sorted((r["id"], r["region"]) for r in df.collect())
    assert rows == [(0, "eu"), (1, "eu"), (10, "us"), (11, "us")]


def test_foreign_multi_row_group_file_matches_read_delta(spark, tmp_path):
    """A foreign file of several row groups is streamed in batches by
    the shared reader and reads the same rows, under the same schema,
    as read_delta."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from curator_spark.datasource import _BATCH_ROWS

    root = str(tmp_path / "foreign_rg")
    os.makedirs(os.path.join(root, "_delta_log"))
    n = 2 * _BATCH_ROWS + 5000
    rel = "region=eu/rg.parquet"
    os.makedirs(os.path.join(root, "region=eu"))
    pq.write_table(pa.table({"id": pa.array(range(n), type=pa.int64())}),
                   os.path.join(root, rel), row_group_size=6000)
    assert pq.ParquetFile(os.path.join(root, rel)) \
        .metadata.num_row_groups > 1
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "region", "type": "string", "nullable": True,
         "metadata": {}}]}
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "fk-rg", "format":
                      {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": ["region"],
                      "configuration": {}, "createdTime": 0}},
        {"add": {"path": rel, "partitionValues": {"region": "eu"},
                 "size": os.path.getsize(os.path.join(root, rel)),
                 "modificationTime": 0, "dataChange": True}}]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"),
              "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions))

    spark.dataSource.register(DeltaFeedDataSource)
    got = spark.read.format("delta_feed").load(root)
    want = read_delta(spark, root)
    # names, types AND nullability: the string partition column is
    # nullable in the log, so both readers must say so
    assert got.schema == want.schema
    assert want.schema["region"].nullable
    rows = sorted((r["id"], r["region"]) for r in got.collect())
    assert rows == sorted((r["id"], r["region"]) for r in want.collect())
    assert rows == [(i, "eu") for i in range(n)]
