"""Streaming continuous ingestion: the incremental-append maintenance
op (curator_spark/incremental.py) driven by Structured Streaming — new
transcript deliveries appear as files, each micro-batch appends ONLY
conversations the committed table has never seen.

Exactly-once story, layered:
* foreachBatch gives at-least-once micro-batch delivery with a
  deterministic epoch id persisted in the stream checkpoint;
* a txn marker in the table's own log (Delta's txn action, committed
  in the SAME log version as the epoch's data, so the log never holds
  one without the other) makes a replayed epoch a no-op BEFORE any
  Spark work — the cheap fast path;
* the append itself is idempotent BY CONTENT — a whole re-run with a
  fresh checkpoint directory (a new txn app id) re-derives the same
  conversation fingerprints, finds them committed, and appends
  nothing.
  Content-keyed dedup is thus a stronger dedup key than the sink
  transaction id alone: it also absorbs duplicates the SOURCE
  re-delivers under new file names, which no transaction id can see.

Delivery-unit contract: a conversation must arrive whole within one
micro-batch (in practice: within one delivery file — crawl/export
pipelines emit whole conversations per file). A conversation split
across epochs would append as two content-distinct fragments; this is
the same whole-unit requirement the reference places on a request file
(one request's messages never span files).

Reference analogue: the batch polling loop
(base_batch_request_processor.py:538-582) — watch for newly finished
work, download, append, repeat — generalized to an event-driven stream
with admission control (maxFilesPerTrigger, the token-bucket analogue).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .. import schema
from ..checkpoint import run_fingerprint
from ..incremental import append_batch_df


def run_append_stream(spark: SparkSession, input_dir: str, out_dir: str,
                      checkpoint_dir: str, available_now: bool = True,
                      max_files_per_trigger: int | None = None,
                      trigger_interval: str | None = None,
                      broadcast_conv_aggs: bool = False,
                      params: dict | None = None,
                      cooldown=None):
    """Drain (available_now) or follow (not) a transcript-file stream
    into a committed commitlog table via content-deduped appends.

    Returns (query, summaries) — summaries is a driver-local list of
    per-epoch append summaries (convs_new / convs_dup_prior / ...),
    appended as epochs complete.

    cooldown: an optional `streaming.cooldown.CooldownPolicy` — wraps
    the epoch sink with rate-limit pause-and-retry (A20). Safe here
    precisely because this sink is idempotent per epoch (txn marker +
    content dedup): a throttled half-attempt plus a retry converges to
    the same committed table as one clean run.
    """
    r = spark.readStream.schema(schema.TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = r.parquet(input_dir)

    summaries: list[dict] = []

    def _sink(batch_df, epoch_id: int) -> None:
        # epoch-deterministic run id: a replayed epoch writes its
        # metrics under the SAME run_id (latest shard supersedes at
        # read time), so a crash between data commit and checkpoint
        # advance never double-counts
        run_id = run_fingerprint(input_dir, {"kind": "append-stream",
                                             "epoch": int(epoch_id),
                                             **(params or {})})
        # txn marker (Delta's txn action): app id = this stream's
        # checkpoint identity, version = the epoch. A replayed epoch
        # whose mark landed is skipped before ANY Spark work; a fresh
        # checkpoint dir is a new app id, so its epoch 0 is never
        # falsely skipped (content dedup still absorbs its rows)
        s = append_batch_df(batch_df.sparkSession, batch_df, out_dir,
                            run_id=run_id,
                            input_desc=f"{input_dir}#epoch={epoch_id}",
                            params={"epoch": int(epoch_id),
                                    **(params or {})},
                            broadcast_conv_aggs=broadcast_conv_aggs,
                            txn=(f"append-stream:{checkpoint_dir}",
                                 int(epoch_id)))
        s["epoch"] = int(epoch_id)
        summaries.append(s)

    sink = _sink
    if cooldown is not None:
        from .cooldown import with_cooldown
        sink = with_cooldown(_sink, cooldown)

    w = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", checkpoint_dir))
    if available_now:
        w = w.trigger(availableNow=True)
    elif trigger_interval:
        w = w.trigger(processingTime=trigger_interval)
    q = w.start()
    if available_now:
        q.awaitTermination()
    return q, summaries
