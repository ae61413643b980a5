"""User-facing API: the curator call shape on Spark.

The reference's UX is: construct a curation object, call it on a
dataset, get a curated dataset back — with caching, resume, and metrics
handled underneath (reference: src/bespokelabs/curator/llm/llm.py:34-67
class LLM, __call__ at :165-239). QualityFilter is that surface for the
deterministic quality-filter payload:

    from curator_spark.api import QualityFilter
    qf = QualityFilter(cache_dir="/data/curated")
    curated = qf(transcripts_df)          # ephemeral: full DataFrame plan
    curated = qf(input_path="s3://...")   # durable: checkpointed + memoized

* Called with a DataFrame → returns the lazily-planned curated
  DataFrame (OUTPUT_SCHEMA columns appended; filter on `keep`).
* Called with an input path → runs the checkpointed pipeline
  (per-partition ledger, resume, lineage, metrics) into a
  fingerprint-derived run directory under cache_dir and returns the
  committed snapshot read back from storage — the analogue of the
  reference's run-cache short-circuit (llm/llm.py:138-163 fingerprint,
  base_request_processor.py:282-303 cache load).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .checkpoint import (check_ledger_backend, read_committed,
                         run_checkpointed, run_fingerprint)
from .ingest import coerce_to_transcripts
from .pipeline import run_pipeline_df


class QualityFilter:
    def __init__(self, cache_dir: str | None = None,
                 broadcast_conv_aggs: bool = False,
                 params: dict | None = None,
                 strict: bool = False,
                 ledger_backend: str = "commitlog") -> None:
        """strict: fail-all policy — a durable run raises instead of
        committing when error rows are present (reference
        require_all_responses, base_request_processor.py:398-426).
        ledger_backend: the commit protocol; only 'commitlog' (the
        put-if-absent versioned transaction log) exists."""
        check_ledger_backend(ledger_backend)
        self.cache_dir = cache_dir
        self.broadcast_conv_aggs = broadcast_conv_aggs
        self.params = params or {}
        self.strict = strict
        self.last_run: dict | None = None  # summary of the last durable run

    def __call__(self, dataset=None, *,
                 input_path: str | None = None,
                 spark: SparkSession | None = None) -> DataFrame:
        if (dataset is None) == (input_path is None):
            raise ValueError("pass exactly one of `dataset` or `input_path`")
        if dataset is not None:
            if not isinstance(dataset, DataFrame):
                # reference input breadth (llm/llm.py:288-309): str /
                # message list / iterable coerce to the transcripts shape
                spark = spark or SparkSession.getActiveSession()
                if spark is None:
                    raise ValueError("no active SparkSession; pass `spark=`")
                dataset = coerce_to_transcripts(spark, dataset)
            return run_pipeline_df(
                dataset, broadcast_conv_aggs=self.broadcast_conv_aggs)

        if self.cache_dir is None:
            raise ValueError("cache_dir is required for durable path runs")
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise ValueError("no active SparkSession; pass `spark=`")
        run_id = run_fingerprint(input_path, self.params)
        out_dir = os.path.join(self.cache_dir, run_id)
        self.last_run = run_checkpointed(
            spark, input_path, out_dir, params=self.params,
            broadcast_conv_aggs=self.broadcast_conv_aggs,
            strict=self.strict)
        return read_committed(spark, out_dir)

    def metrics(self, spark: SparkSession) -> DataFrame | None:
        """Counter metrics of the last durable run (reference:
        online_status_tracker.py:40-78 as a table). Reads through
        checkpoint.read_metrics — one row per (run_id, part), with
        recomputed partitions superseding their stale rows."""
        if not (self.cache_dir and self.last_run):
            return None
        out_dir = os.path.join(self.cache_dir, self.last_run["run_id"])
        if not os.path.isdir(os.path.join(out_dir, "_metrics")):
            return None
        from .checkpoint import read_metrics
        return read_metrics(spark, out_dir)
