"""The Spark quality-filter pipeline (the flagship dataflow).

Spark-first re-expression of the reference's per-row curation lifecycle
(reference: src/bespokelabs/curator/llm/llm.py:165-239 +
request_processor/*): scan → vectorized scoring (scalar Arrow UDF,
models loaded once per Python worker) → conversation-level aggregates
via SALTED multi-phase groupBy (defuses 10^3–10^6-turn conversation
skew) → join aggregates back to turns → keep/scrub columns.

Scale notes (100 TB design point):
* Scoring is a narrow map — no shuffle; only the text column crosses
  the Arrow boundary; zero per-row Python at the Spark level.
* All conversation-level state flows through ONE salted partial
  aggregation + one compact final aggregation; the per-conv aggregate
  table is ~1/avg_turns the size of the input.
* The agg→turns join broadcasts only when the aggregate side is small
  (configurable threshold); otherwise it is a plain shuffle join that
  AQE can convert/split at runtime (skew-join enabled in session.py).
* Window functions over whole conversations are deliberately avoided in
  the hot path — a window over a 10^6-turn conversation serializes one
  task; the salted groupBy shape does not.
"""

from __future__ import annotations


import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from . import rules, schema, scoring

SALT_BUCKETS = 16  # salt cardinality for the two-phase aggregation


_SCORE_STRUCT = schema.T.StructType(schema.SCORED_EXTRA_FIELDS)


@F.arrow_udf(_SCORE_STRUCT)
def _score_udf(text: pa.Array) -> pa.Array:
    return scoring.score_text_array(text)


def score_turns(df: DataFrame) -> DataFrame:
    """Per-turn scoring: langid, perplexity, scrub, heuristic rules.

    A scalar Arrow UDF over ONLY the text column — every other column
    (ids, timestamps, tool payloads) stays JVM-side and never pays Arrow
    serialization; Catalyst column pruning through the plan is
    preserved. The batch stays a `pa.Array` end to end (no pandas
    conversion on either side of the payload). The models are
    executor-process singletons (lru_cache in curator_spark.models.*) —
    the Spark analogue of the reference loading the vLLM model once per
    chunk (reference: vllm_offline_request_processor.py:43-54).
    """
    return df.withColumn("_s", _score_udf(F.col("text"))).select(
        *df.columns, "_s.*")


_SCORE_SAFE_STRUCT = schema.T.StructType(
    schema.SCORED_EXTRA_FIELDS
    + [schema.T.StructField("errors", schema.T.StringType(), True)])


def score_turns_safe(df: DataFrame, scorer=None) -> DataFrame:
    """score_turns with the reference's terminal-failure semantics
    (reference: base_online_request_processor.py:446-462 — after
    retries, emit an error row instead of data, never kill the run):
    if a batch throws, re-score it one-row slice by slice to isolate the
    poison rows, which come out with null scores and an `errors`
    message while every healthy row still produces data.

    `scorer` overrides the batch scoring callable, `pa.Array` →
    `pa.StructArray` (dependency injection for fault testing; defaults
    to scoring.score_text_array)."""
    fn = scorer or scoring.score_text_array
    safe_type = pa.struct([*scoring.SCORE_TYPE, pa.field("errors", pa.string())])

    def scored(text: pa.Array) -> pa.StructArray:
        return pa.StructArray.from_arrays(
            [*fn(text).flatten(), pa.nulls(len(text), pa.string())],
            fields=list(safe_type))

    @F.arrow_udf(_SCORE_SAFE_STRUCT)
    def _safe_udf(text: pa.Array) -> pa.Array:
        try:
            return scored(text)
        except Exception:
            rows = []
            for i in range(len(text)):
                try:
                    rows.append(scored(text.slice(i, 1)))
                except Exception as e:  # noqa: BLE001 — error-row semantics
                    rows.append(pa.array([{"errors": f"{type(e).__name__}: {e}"}],
                                         type=safe_type))
            return pa.concat_arrays(rows)

    return df.withColumn("_s", _safe_udf(F.col("text"))).select(
        *df.columns, "_s.*")


def conversation_aggregates(scored: DataFrame) -> DataFrame:
    """Per-conversation aggregates via salted multi-phase groupBy,
    ONE scan of the scored table, no self-joins.

    Phase 1 groups by (conv_id, lang, salt) — a single million-turn
    conversation fans out over SALT_BUCKETS×langs reducers instead of
    serializing one reducer (SURVEY.md §4 O10); phase 2 collapses salts
    into per-(conv, lang) partials; phase 3 folds langs into the final
    per-conv row, where majority-vote language is argmax(count) with a
    deterministic (count desc, lang asc) tie-break expressed as
    min_by(lang, struct(-count, lang)). Phases 2/3 operate on tables
    ~|convs|·|langs| — vanishing next to the turn table — so the only
    data-proportional shuffle is phase 1's partially-aggregated one.
    """
    salted = scored.select(
        "conv_id", "turn_idx", "role", "lang", "ppl",
        F.pmod(F.col("turn_idx"), F.lit(SALT_BUCKETS)).alias("salt"),
        F.col("role").isin(*sorted(rules.VALID_ROLES)).__and__(
            (F.col("role") != F.lit("system")) | (F.col("turn_idx") == F.lit(0))
        ).alias("role_valid"),
    )

    s1 = salted.groupBy("conv_id", "lang", "salt").agg(
        F.sum("ppl").alias("ppl_sum"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("role").eqNullSafe("assistant").cast("long")).alias("n_assistant"),
        F.sum(F.col("role").isin("user", "assistant").cast("long")).alias("n_ua"),
        F.sum(F.col("role_valid").cast("long")).alias("n_role_valid"),
        F.min("turn_idx").alias("min_turn"),
        F.min_by("role", "turn_idx").alias("first_role"),
    )
    s2 = s1.groupBy("conv_id", "lang").agg(
        F.sum("ppl_sum").alias("ppl_sum"),
        F.sum("n").alias("c"),
        F.sum("n_assistant").alias("n_assistant"),
        F.sum("n_ua").alias("n_ua"),
        F.sum("n_role_valid").alias("n_role_valid"),
        F.min("min_turn").alias("min_turn"),
        # turn_idx is unique per conv → min_turn ties impossible
        F.min_by("first_role", "min_turn").alias("first_role"),
    )
    conv = s2.groupBy("conv_id").agg(
        F.round(F.sum("ppl_sum") / F.sum("c"), 6).alias("conv_mean_ppl"),
        F.sum("c").alias("conv_n_turns"),
        # exact integer sums → the k/n division is bit-identical to the
        # pandas oracle's mean-of-bools, no rounding needed
        F.round(F.sum("n_assistant") / F.greatest(F.sum("n_ua"), F.lit(1)), 6)
        .alias("role_balance"),
        ((F.lit(1.0) - F.sum("n_role_valid") / F.sum("c"))
         <= F.lit(rules.MAX_INVALID_ROLE_FRAC)).alias("roles_mostly_valid"),
        F.min_by("first_role", "min_turn").alias("first_role"),
        F.min_by("lang", F.struct((-F.col("c")).alias("nc"), F.col("lang")))
        .alias("conv_lang"),
    )

    lo, hi = rules.CONV_ROLE_BALANCE_RANGE
    return (
        conv.withColumn(
            "structure_ok",
            F.col("roles_mostly_valid") & F.col("first_role").isin("system", "user"),
        )
        .withColumn(
            "conv_pass",
            (F.col("conv_n_turns") >= F.lit(rules.CONV_MIN_TURNS))
            & (F.col("conv_mean_ppl") <= F.lit(rules.CONV_MAX_MEAN_PPL))
            & F.col("conv_lang").isin(*sorted(rules.ALLOWED_LANGS))
            & (F.col("role_balance") >= F.lit(lo))
            & (F.col("role_balance") <= F.lit(hi)),
        )
        .drop("roles_mostly_valid", "first_role")
    )


def _finalize(scored: DataFrame, conv: DataFrame) -> DataFrame:
    """Join conversation aggregates back to turns and derive keep."""
    out = scored.join(conv, "conv_id").select(
        *[c for c in scored.columns],
        F.col("role").isin(*sorted(rules.VALID_ROLES)).__and__(
            (F.col("role") != F.lit("system")) | (F.col("turn_idx") == F.lit(0))
        ).alias("role_valid"),
        "structure_ok", "conv_n_turns", "conv_mean_ppl", "conv_lang",
        "role_balance", "conv_pass",
    )
    return out.withColumn(
        "keep",
        F.col("turn_pass") & F.col("role_valid") & F.col("structure_ok")
        & F.col("conv_pass"),
    )


def run_pipeline_staged(spark, transcripts: DataFrame, scored_path: str,
                        broadcast_conv_aggs: bool = False) -> DataFrame:
    """Production (100 TB) shape of the pipeline: materialize the scored
    stage ONCE to columnar storage, then feed both consumers (the
    conversation aggregation and the final join) from re-scans of it.

    vs run_pipeline_df's in-memory persist: parquet is the durable
    resume unit (the checkpoint runner's partition commit), the
    aggregation re-scan is column-pruned to 5 narrow columns at the
    storage layer, and executor loss never forces re-scoring. This is
    the analogue of the reference durably appending responses_*.jsonl
    before the finalize pass (reference: src/bespokelabs/curator/
    request_processor/base_request_processor.py:305-428).
    """
    scored = score_turns(transcripts)
    scored.write.mode("overwrite").parquet(scored_path)
    # re-read with the schema in hand: no footer-inference job
    scored = spark.read.schema(scored.schema).parquet(scored_path)
    conv = conversation_aggregates(scored)
    if broadcast_conv_aggs:
        conv = F.broadcast(conv)
    return _finalize(scored, conv)


def run_pipeline_df(transcripts: DataFrame,
                    broadcast_conv_aggs: bool = False) -> DataFrame:
    """Full quality-filter plan: transcripts → OUTPUT_SCHEMA columns.

    broadcast_conv_aggs: True forces a broadcast join of the per-conv
    aggregate table back to turns (right for small/medium conv counts);
    otherwise (the default) Catalyst/AQE statistics pick the join.

    The scored stage feeds BOTH the conversation aggregation and the
    final join, so it is persisted (MEMORY_AND_DISK) — without that the
    expensive Python scoring stage would execute twice. The
    checkpointing runner instead writes the scored stage to scratch
    parquet and re-reads it (run_pipeline_staged), which is the
    100 TB-scale shape.
    """
    from pyspark import StorageLevel
    scored = score_turns(transcripts).persist(StorageLevel.MEMORY_AND_DISK)
    conv = conversation_aggregates(scored)
    if broadcast_conv_aggs:
        conv = F.broadcast(conv)
    return _finalize(scored, conv)
