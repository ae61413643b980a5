"""Semantic table diff between two commit versions: DESCRIBE DIFF.

`row_changes` (cdf.py) yields the exact multiset delta between two
snapshots as insert/delete ROW IMAGES — scan cost ∝ changed files,
never table size. This module pairs those images by key into the
reviewer-facing classification:

    add     key exists at `until` only
    remove  key exists at `since` only
    update  key exists on both sides with different values —
            reported ONCE with before/after images and the exact
            list of changed columns

The pairing is one equi-join keyed on the table key over the DELTA
(not the table): at 10^12 rows a diff that touched 10^6 rows joins
10^6-row sides. Changed-column attribution is a codegen'd
`eqNullSafe` per column — no Python.

Key-uniqueness contract: `key_cols` must identify a row within one
snapshot (for transcripts: (conv_id, turn_idx) — the table's own
primary key). Duplicate keys within a side would cross-join in the
pairing; `table_diff` counts them and raises rather than mis-report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .cdf import CHANGE_COL, row_changes

DEFAULT_KEY = ("conv_id", "turn_idx")


def table_diff(spark: SparkSession, out_dir: str, since_version: int,
               until_version: int | None = None,
               key_cols: tuple[str, ...] = DEFAULT_KEY) -> DataFrame:
    """One row per changed key: key columns, `change` in
    {add, remove, update}, `changed_cols` (update only), and the
    full `before` / `after` row-image structs."""
    delta = row_changes(spark, out_dir, since_version,
                        until_version)
    keys = list(key_cols)
    vals = [c for c in delta.columns if c not in keys + [CHANGE_COL]]

    ins = delta.filter(F.col(CHANGE_COL) == "insert").drop(CHANGE_COL)
    rem = delta.filter(F.col(CHANGE_COL) == "delete").drop(CHANGE_COL)

    # a duplicate key WITHIN a side breaks the 1:1 pairing — refuse
    dup = (delta.groupBy(CHANGE_COL, *keys).count()
           .filter(F.col("count") > 1).limit(1).collect())
    if dup:
        d = dup[0]
        raise ValueError(
            f"key {key_cols} is not unique within the delta "
            f"(e.g. {[d[k] for k in keys]} appears {d['count']}× on the "
            f"{d[CHANGE_COL]} side); pass key_cols that identify a row")

    a = ins.select(*keys, F.struct(*vals).alias("after"))
    b = rem.select(*keys, F.struct(*vals).alias("before"))
    j = a.join(b, keys, "full_outer")

    changed = F.array_compact(F.array(*[
        F.when(~F.col(f"after.{c}").eqNullSafe(F.col(f"before.{c}")),
               F.lit(c))
        for c in vals])) if vals else F.array().cast("array<string>")

    return (j.withColumn(
        "change",
        F.when(F.col("before").isNull(), F.lit("add"))
         .when(F.col("after").isNull(), F.lit("remove"))
         .otherwise(F.lit("update")))
        .withColumn("changed_cols",
                    F.when(F.col("change") == "update", changed))
        # a compaction-style rewrite never reaches here (identical rows
        # cancel in row_changes' exceptAll), but keep the invariant
        # explicit: an 'update' with zero changed columns is impossible
        .select(*keys, "change", "changed_cols", "before", "after"))


def diff_summary(diff: DataFrame) -> dict:
    """Counts by change kind plus per-column update attribution —
    metadata-sized output however large the diff."""
    kinds = {r["change"]: int(r["n"]) for r in
             diff.groupBy("change").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    cols = {r["col"]: int(r["n"]) for r in
            (diff.filter(F.col("change") == "update")
             .select(F.explode("changed_cols").alias("col"))
             .groupBy("col").agg(F.count(F.lit(1)).alias("n"))
             .collect())}
    return {"added": kinds.get("add", 0),
            "removed": kinds.get("remove", 0),
            "updated": kinds.get("update", 0),
            "updated_by_column": dict(sorted(cols.items()))}


def drift_report(spark: SparkSession, out_dir: str, since_version: int,
                 until_version: int | None = None,
                 dims: tuple[str, ...] = ("lang",)) -> DataFrame:
    """Distribution drift between two snapshots: where `table_diff`
    reports WHICH rows changed, this reports how the corpus SHAPE
    moved — per dimension cell (e.g. lang, source): row count before
    and after, the delta, and the cell's share of the corpus before
    and after in exact integer permille. The dataset-governance number
    a curation owner watches across ingestion campaigns ("did this
    crawl shift the language mix?").

    Cost: two column-pruned snapshot scans (only `dims` columns are
    read — manifest-backed time travel, no text), one
    map-side-combined aggregate each, a k-cell full-outer join.
    Output is metadata-sized at any corpus size."""
    from .checkpoint import read_committed

    def counts(version, name):
        df = read_committed(spark, out_dir, version=version)
        return (df.groupBy(*dims)
                .agg(F.count(F.lit(1)).alias(name)))

    before = counts(since_version, "n_before")
    after = counts(until_version, "n_after")
    j = (before.join(after, list(dims), "full_outer")
         .na.fill({"n_before": 0, "n_after": 0}))
    # corpus totals via the 1-row scalar-join idiom (never an
    # empty-partition window — the shape tools/plan_audit.py flags)
    totals = j.agg(F.sum("n_before").alias("tot_b"),
                   F.sum("n_after").alias("tot_a"))
    return (j.crossJoin(F.broadcast(totals))
            .withColumn("delta", F.col("n_after") - F.col("n_before"))
            .withColumn("share_before_pm",
                        F.expr("(n_before * 1000) div greatest(1, tot_b)"))
            .withColumn("share_after_pm",
                        F.expr("(n_after * 1000) div greatest(1, tot_a)"))
            .select(*dims, "n_before", "n_after", "delta",
                    "share_before_pm", "share_after_pm"))
