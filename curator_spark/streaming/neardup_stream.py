"""Streaming near-dup dedup against the persistent MinHash-LSH index.

The incremental face of corpus near-dup dedup (operators/
minhash_index.py): new crawl batches arrive as files, each micro-batch
is probed against the index (work proportional to the BATCH, never the
corpus), survivors land in the output table, and the survivors'
signatures are appended so the NEXT batch — and the next run — sees
them. Near-duplicates are caught across trigger boundaries and across
restarts, which `dropDuplicatesWithinWatermark` cannot do for
similarity (it is exact-key only and its state dies with the horizon).

Epoch commit protocol (foreachBatch is at-least-once, so the sink must
make replays safe), in this exact order:

  1. probe: verdicts + novel signatures computed on the PRE-append
     index snapshot, eagerly materialized (probe_neardup severs
     lineage — a lazy plan would be silently recomputed against the
     post-append index and every novel doc would flag itself);
  2. survivors + verdicts written under epoch=<id>/ dirs;
  3. the epoch's _COMMITTED marker (data-then-marker: the files are
     placed before the marker that makes them count, as a commit-log
     writer places its files before the version naming them);
  4. the index append.

A replayed epoch short-circuits on the marker, so rows are never
duplicated or lost. Crash windows: before 3 → full re-run of the
epoch against the unchanged index (same verdicts, overwrite is
idempotent); between 3 and 4 → the epoch's novel signatures are
missing from the index — reduced RECALL for those docs only (a later
near-dup of them may survive), never false flags and never row
loss/duplication. For an index with transactional appends, route the
signatures through the commitlog instead (operators/minhash_index.py
module docstring).

Reference analogue: the polling consumer loop + durable batch ledger
(/root/reference/src/bespokelabs/curator/request_processor/batch/
base_batch_request_processor.py:300-309), generalized to Structured
Streaming with content-level (near-dup) rather than request-level
idempotence.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.minhash_index import append_to_index, probe_neardup

_MARKER = "_COMMITTED"


def process_neardup_batch(spark: SparkSession, batch: DataFrame,
                          out_dir: str, index_dir: str, epoch_id: int,
                          text_col: str = "text", id_col: str = "doc_id",
                          n: int = 5) -> None:
    """One epoch of the protocol above. Exposed (rather than inlined in
    the foreachBatch closure) so tests can drive replay and
    crash-window interleavings deterministically."""
    epoch_dir = os.path.join(out_dir, f"epoch={epoch_id}")
    marker = os.path.join(epoch_dir, _MARKER)
    if os.path.exists(marker):  # replayed epoch: already durable
        return
    verdicts, novel_bands = probe_neardup(
        spark, batch, index_dir, text_col=text_col, id_col=id_col, n=n)
    survivors = batch.join(verdicts.filter("novel").select(id_col),
                           id_col, "left_semi")
    # overwrite: a half-written previous attempt of THIS epoch is
    # replaced wholesale (no marker was written, so nothing read it)
    survivors.write.mode("overwrite").parquet(
        os.path.join(epoch_dir, "rows"))
    verdicts.write.mode("overwrite").parquet(
        os.path.join(epoch_dir, "verdicts"))
    with open(marker, "w", encoding="utf-8") as f:
        f.write("")
    append_to_index(novel_bands, index_dir)


def run_neardup_stream(spark: SparkSession, input_dir: str, out_dir: str,
                       index_dir: str, checkpoint_dir: str,
                       text_col: str = "text", id_col: str = "doc_id",
                       n: int = 5, max_files_per_trigger: int | None = None,
                       available_now: bool = True,
                       trigger_interval: str | None = None):
    """Probe-dedup-append every micro-batch of a document file stream.

    The index must exist (write_minhash_index seeds it from the
    initial corpus; an empty seed frame works for a cold start).
    max_files_per_trigger bounds admission per trigger exactly as in
    run_quality_stream."""
    schema = spark.read.parquet(input_dir).schema
    r = spark.readStream.schema(schema)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = r.parquet(input_dir)

    def _epoch(batch: DataFrame, epoch_id: int) -> None:
        process_neardup_batch(batch.sparkSession, batch, out_dir,
                              index_dir, epoch_id, text_col=text_col,
                              id_col=id_col, n=n)

    writer = (stream.writeStream.foreachBatch(_epoch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval is not None:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def read_survivors(spark: SparkSession, out_dir: str) -> DataFrame:
    """Union of all COMMITTED epochs' survivor rows (uncommitted
    epoch dirs — crash debris — are invisible, like unmarked
    partitions under the batch ledger)."""
    dirs = [os.path.join(out_dir, d, "rows")
            for d in sorted(os.listdir(out_dir))
            if d.startswith("epoch=")
            and os.path.exists(os.path.join(out_dir, d, _MARKER))]
    if not dirs:
        raise FileNotFoundError(f"no committed epochs under {out_dir}")
    return spark.read.parquet(*dirs)


def read_verdicts(spark: SparkSession, out_dir: str) -> DataFrame:
    """Union of all committed epochs' verdict rows, with the epoch id."""
    frames = []
    for d in sorted(os.listdir(out_dir)):
        if (d.startswith("epoch=")
                and os.path.exists(os.path.join(out_dir, d, _MARKER))):
            frames.append(
                spark.read.parquet(os.path.join(out_dir, d, "verdicts"))
                .withColumn("epoch", F.lit(int(d.split("=", 1)[1]))))
    if not frames:
        raise FileNotFoundError(f"no committed epochs under {out_dir}")
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out
