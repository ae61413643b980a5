"""Predicate DML over commitlog tables: UPDATE ... SET ... WHERE and
DELETE ... WHERE — the two standard verbs the table surface still
lacked next to append (INSERT), key-based deletes, and MERGE.

Both share one engine (`_rewrite_where`), the same two-pass shape as
MERGE (merge.py):

* prune (metadata-only): when the predicate is a (col, op, value)
  triple — or an ANDed list of them, read_committed's `where=`
  convention — the reads' planner (`checkpoint._plan_files`) skips
  without opening them every partition the table's bucket transform
  rules out (an `=`/`in` on the bucketed column) and every file whose
  manifest stats or Bloom filter cannot match. An arbitrary SQL string
  predicate skips this pass (nothing to prune on) but still gets
  pass 2.
* findTouchedFiles (one probe job): candidate rows are filtered by
  the predicate and counted per `_metadata.file_path` — only files
  actually HOLDING a matching row are rewritten.
* rewrite + ONE atomic commit: UPDATE rewrites each touched file with
  CASE WHEN pred THEN expr ELSE col END per SET column (row counts
  verified unchanged); DELETE keeps rows failing the predicate
  (verified against the probe's count). All swaps land in one log
  version; its precondition, the stale-swap check, raises
  ConcurrentDMLError before anything publishes rather than silently
  drop a mutation that lost to a concurrent OPTIMIZE (Delta's conflict
  rule).

The scan, the per-part rewrite, the file landing, the CHECK gate and
the stale-swap check are checkpoint.py's copy-on-write core, shared
with compaction, the key deletes and MERGE.

NULL predicate semantics are SQL's: a NULL predicate row is NOT
matched — kept by DELETE, untouched by UPDATE.

Reference parity: the reference revises response rows in place when a
retry supersedes an error row (base_request_processor.py:438-481 keyed
replace) — UPDATE/DELETE WHERE is that idiom as declarative verbs.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .checkpoint import (
    _bucket_column, _check_constraints, _land_staged,
    _plan_files, _rewrite_files, _scan_committed, _swaps_precondition,
    _table_bucket, _where_column, make_ledger, to_physical)

__all__ = ["ConcurrentDMLError", "delete_where",
           "insert_overwrite_where", "update_where"]


class ConcurrentDMLError(RuntimeError):
    """A concurrent rewrite replaced a touched file between the DML
    snapshot and its commit; the stale swap was ignored by replay.
    Retry: the verb recomputes from the new snapshot and converges."""


def _pred_column(where) -> Column:
    """Predicate from either read_committed's (col, op, value) triples
    (ANDed) or a raw Spark SQL boolean string."""
    cond = F.expr(where) if isinstance(where, str) \
        else _where_column(where)
    if cond is None:
        raise ValueError("empty predicate: refusing a whole-table "
                         "mutation without an explicit WHERE — pass "
                         "e.g. ('conv_id', '>=', '') to mean ALL")
    return cond


def _rewrite_where(spark: SparkSession, out_dir: str, where,
                   transform, verify, op_name: str,
                   extra_actions: list | None = None) -> dict:
    """Common engine: prune → probe → rewrite touched files →
    one atomic commit → stale-swap verification.

    transform(df, pred) -> rewritten df; verify(before, matched,
    after) -> None or error message.

    extra_actions: pre-built log actions (e.g. replaceWhere's insert
    leg add_files) committed in the SAME atomic version as the
    rewrites — and committed even when the predicate touches no file
    (an overwrite of an empty region is a plain insert)."""
    ledger = make_ledger(out_dir)
    committed, _s, meta, _t = ledger.snapshot()
    if not meta.get("schema"):
        raise ValueError(f"{op_name} requires the table schema in "
                         "table_meta")
    pred = _pred_column(where)
    hit = F.coalesce(pred, F.lit(False))   # SQL WHERE: NULL = no match

    summary = {"version": None, "rows_matched": 0, "files_rewritten": 0,
               "files_untouched": 0, "parts_touched": []}
    extra_actions = list(extra_actions or [])
    files, summary["files_untouched"] = _plan_files(
        committed, meta, None if isinstance(where, str) else where)
    cand_by_part = {p: (c, committed[p] or {}) for p, c in files.items()}
    if not cand_by_part and not extra_actions:
        return summary

    touched: dict[int, dict[str, int]] = {}
    if cand_by_part:
        # findTouchedFiles: one probe job, bounded collect (≤ n files)
        probe = _scan_committed(
            spark, out_dir, meta,
            {p: c for p, (c, _m) in cand_by_part.items()},
            {p: m.get("dv") for p, (_c, m) in cand_by_part.items()},
            path_col="__path")
        for r in (probe.filter(hit).groupBy("__path")
                  .agg(F.count(F.lit(1)).alias("m")).collect()):
            pstr, fn = r["__path"].split("/", 1)
            touched.setdefault(int(pstr.split("=", 1)[1]),
                               {})[fn] = int(r["m"])
        for part, (cand, _m) in cand_by_part.items():
            summary["files_untouched"] += len(cand) - len(
                touched.get(part, {}))
    if not touched and not extra_actions:
        return summary

    def _one(part: int) -> dict:
        _cand, marker = cand_by_part[part]
        tfiles = sorted(touched[part])
        matched = sum(touched[part].values())
        man, new_stats, before, after = _rewrite_files(
            spark, out_dir, meta, part, marker, tfiles,
            lambda t: transform(t, hit), len(tfiles), op_name)
        err = verify(before, matched, after)
        if err:
            raise RuntimeError(
                f"{op_name} rewrite of part {part}: {err}; aborted, "
                "table unchanged")
        return {"part": part, "tfiles": tfiles, "man": man,
                "stats": new_stats, "matched": matched}

    results = []
    if touched:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=min(8, len(touched))) as pool:
            results = list(pool.map(_one, sorted(touched)))
    from datetime import datetime, timezone
    now = datetime.now(timezone.utc).isoformat()
    actions = []
    for r in results:
        actions.append({"type": "delete", "part": r["part"],
                        "remove_files": r["tfiles"],
                        "add_files": r["man"], "stats": r["stats"],
                        "updated_at": now})
        summary["rows_matched"] += r["matched"]
        summary["files_rewritten"] += len(r["tfiles"])
        summary["parts_touched"].append(r["part"])
    actions += extra_actions  # e.g. replaceWhere's insert leg — one
    # atomic version carries the delete rewrites AND the new files
    _check_constraints(spark, out_dir, meta, actions, op_name.upper())
    ver = ledger.merge_commit(actions, precondition=_swaps_precondition(
        ledger, {r["part"]: r["tfiles"] for r in results},
        ConcurrentDMLError, op_name))
    summary["version"] = int(ver)
    summary["parts_touched"].sort()
    return summary


def insert_overwrite_where(spark: SparkSession, out_dir: str,
                           df: DataFrame, where) -> dict:
    """INSERT OVERWRITE ... WHERE (Delta's replaceWhere): atomically
    replace EXACTLY the rows matching `where` with `df`'s rows — the
    standard backfill idiom at corpus scale (reprocess one day / one
    source, swap the region in). ONE log version carries both legs:
    the predicate's stats-pruned, probe-exact delete rewrites AND the
    new files, so readers see the old region or the new one, never a
    mix, and a crash at any point leaves only vacuum-able orphans.

    Delta's replaceWhere contract is enforced: every `df` row must
    itself satisfy `where` — a violating backfill would silently land
    rows OUTSIDE the replaced region (raises before staging anything).
    The schema must match the table's (widening belongs to MERGE's
    evolve_schema); routing uses an explicit `part` column or the
    table's recorded bucket spec, exactly like the other writers.
    CHECK constraints validate both legs; column mapping projects the
    new files to physical names. Concurrent-rewrite conflicts raise
    ConcurrentDMLError like any DML (retry converges).

    Returns {version, rows_deleted, rows_inserted, files_rewritten,
    files_added, files_untouched, parts_touched}."""
    from pyspark.sql.types import StructType

    ledger = make_ledger(out_dir)
    _c, _s, meta, _t = ledger.snapshot()
    if not meta.get("schema"):
        raise ValueError("replaceWhere requires the table schema in "
                         "table_meta")
    declared = StructType(
        [f for f in StructType.fromJson(meta["schema"]).fields
         if f.name != "part"])
    cols = [f.name for f in declared.fields]
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"df lacks table columns {missing}")
    extra = [c for c in df.columns if c not in cols and c != "part"]
    if extra:
        raise ValueError(
            f"df carries columns the table lacks {extra}; replaceWhere "
            "never evolves the schema (use merge_into evolve_schema)")
    pred = _pred_column(where)
    if df.filter(~F.coalesce(pred, F.lit(False))).limit(1).count():
        raise ValueError(
            "replaceWhere: df holds row(s) NOT matching the predicate "
            "— they would land outside the replaced region (Delta "
            "raises identically)")

    bucket = _table_bucket(meta)
    dtypes = {f.name: f.dataType for f in declared.fields}
    staged = df.select(
        [F.col(c).cast(dtypes[c]).alias(c) for c in cols]
        + ([F.col("part").cast("int").alias("part")]
           if "part" in df.columns else []))
    if "part" not in staged.columns:
        if bucket and bucket["col"] in cols:
            staged = staged.withColumn("part", _bucket_column(bucket))
        else:
            raise ValueError("cannot route rows to partitions: give "
                             "df a `part` column or record a bucket "
                             "spec on the table")

    tag = uuid.uuid4().hex[:12]
    staging = os.path.join(out_dir, f"_compact-{tag}-ow")
    (to_physical(staged, meta).repartition("part")
     .write.partitionBy("part").parquet(staging))
    from datetime import datetime, timezone
    now = datetime.now(timezone.utc).isoformat()
    adds = [{"type": "add_files", "part": part, "files": man,
             "n_rows": n_rows, "run_id": f"ow-{tag}", "stats": new_stats,
             "updated_at": now}
            for part, (man, new_stats, n_rows) in sorted(_land_staged(
                out_dir, staging, meta, "ow").items())]

    def transform(d_, hit):
        return d_.filter(~hit)

    def verify(before, matched, after):
        if after != before - matched:
            return (f"kept {after} rows where the probe predicted "
                    f"{before - matched} ({matched} matches)")
        return None

    s = _rewrite_where(spark, out_dir, where, transform, verify,
                       "overwrite", extra_actions=adds)
    s["rows_deleted"] = s.pop("rows_matched")
    s["rows_inserted"] = sum(a["n_rows"] for a in adds)
    s["files_added"] = sum(len(a["files"]) for a in adds)
    for a in adds:
        if a["part"] not in s["parts_touched"]:
            s["parts_touched"].append(a["part"])
    s["parts_touched"].sort()
    return s


def update_where(spark: SparkSession, out_dir: str, set_exprs: dict,
                 where) -> dict:
    """UPDATE table SET col = expr, ... WHERE pred. `set_exprs` maps
    existing column names to Spark SQL expression strings (or Columns)
    evaluated over the row; values are cast back to the column's
    declared type (UPDATE never changes the schema). Row counts are
    verified unchanged per rewritten file set.

    Returns {version, rows_matched, files_rewritten, files_untouched,
    parts_touched}; version is None when nothing matched."""
    from pyspark.sql.types import StructType

    meta_schema = make_ledger(out_dir).table_meta().get("schema")
    declared = {f.name: f.dataType for f in
                StructType.fromJson(meta_schema).fields} \
        if meta_schema else {}
    unknown = [c for c in set_exprs if declared and c not in declared]
    if unknown:
        raise ValueError(f"UPDATE SET on unknown columns {unknown}")

    def transform(df, hit):
        out = df
        for c, e in set_exprs.items():
            expr = F.expr(e) if isinstance(e, str) else e
            if declared:
                expr = expr.cast(declared[c])
            out = out.withColumn(c, F.when(hit, expr)
                                 .otherwise(F.col(c)))
        return out

    def verify(before, _matched, after):
        if after != before:
            return f"row count changed {before} → {after}"
        return None

    s = _rewrite_where(spark, out_dir, where, transform, verify,
                       "update")
    s["rows_updated"] = s.pop("rows_matched")
    return s


def delete_where(spark: SparkSession, out_dir: str, where) -> dict:
    """DELETE FROM table WHERE pred. NULL-predicate rows survive (SQL
    semantics). The surviving row count is verified against the
    probe's match count per file set.

    Returns {version, rows_deleted, files_rewritten, files_untouched,
    parts_touched}; version is None when nothing matched."""
    def transform(df, hit):
        return df.filter(~hit)

    def verify(before, matched, after):
        if after != before - matched:
            return (f"kept {after} rows where the probe predicted "
                    f"{before - matched} ({matched} matches)")
        return None

    s = _rewrite_where(spark, out_dir, where, transform, verify,
                       "deletew")
    s["rows_deleted"] = s.pop("rows_matched")
    return s
