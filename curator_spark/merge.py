"""Delta-style MERGE INTO for commitlog tables, plus the pure
DataFrame-level merge expression it (and the oracle-gated q83 query)
are built from.

MERGE is the one mutation verb the table surface was missing next to
append (INSERT-if-absent), delete_conversations / delete_matching
(DELETE) and upsert_conversations (the transcripts-specific
replace-by-fingerprint): a schema-generic conditional upsert —

    MERGE INTO target t USING source s ON t.key = s.key
    WHEN MATCHED [AND <condition>] THEN UPDATE SET * | DELETE
    WHEN NOT MATCHED THEN INSERT *

Reference parity: the reference's batch resubmission loop re-delivers
completed request rows into the run's response file keyed by request
id, replacing failed rows and appending new ones
(/root/reference/src/bespokelabs/curator/request_processor/batch/
base_batch_request_processor.py:300-309 drives the state swap;
base_request_processor.py:438-481 is the id-keyed skip). MERGE is that
idiom generalized to a declarative table verb.

Scale shape (the Delta MERGE plan, re-expressed on the commitlog):
* the source is staged ONCE to scratch parquet (lineage cut — the
  possibly-expensive producing plan runs once, not once per partition);
* touched-file discovery is two-pass, exactly like Delta's: a
  metadata-only prune (per-bucket source-key [min, max] intervals vs
  each file's manifest stats) bounds the read set, then ONE
  findTouchedFiles probe job (candidate rows inner-joined to source
  keys, clause hits counted per `_metadata.file_path`) makes the
  rewrite set FILE-EXACT — a stats false positive costs a probe read,
  never a rewrite (bench-evidenced: a 1%-key merge over 2048 files
  rewrites only the 32 holding matches);
* the matched leg rewrites only those files via a key equi-join (AQE
  broadcasts a small source side), partitions rewritten as CONCURRENT
  Spark jobs from a driver pool; the not-matched leg is one LEFT ANTI
  join against the table's key column (scanned with column pruning —
  ReadSchema is the key alone);
* everything lands in ONE log version (swaps + add_files together),
  so readers see the merge atomically — never the deletes without the
  inserts;
* concurrency is optimistic, Delta-style: if a concurrent compaction /
  recompute replaced a candidate file between snapshot and commit, the
  swap is a no-op in replay and merge_into raises ConcurrentMergeError
  instead of reporting success. A retry converges: committed inserts
  re-match as updates (same values), un-applied swaps re-apply.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from .checkpoint import (
    _bucket_column, _check_constraints, _evolve_meta, _key_ranges,
    _land_staged, _meta_actions, _meta_precondition, _plan_files,
    _rewrite_files, _scan_committed, _swaps_precondition, _table_bucket,
    make_ledger, to_physical)

__all__ = ["ConcurrentMergeError", "merge_dataframes", "merge_into"]


class ConcurrentMergeError(RuntimeError):
    """A concurrent rewrite replaced a candidate file between the merge
    snapshot and its commit; the stale swap was ignored by replay.
    Retry the merge: it recomputes from the new snapshot and converges
    (already-inserted rows become same-value updates)."""


def _validate_clauses(when_matched, when_not_matched,
                      matched_delete_condition=None):
    if when_matched not in ("update", "delete", None):
        raise ValueError(
            f"when_matched must be 'update', 'delete' or None, got "
            f"{when_matched!r}")
    if when_not_matched not in ("insert", None):
        raise ValueError(
            f"when_not_matched must be 'insert' or None, got "
            f"{when_not_matched!r}")
    if when_matched is None and when_not_matched is None:
        raise ValueError("MERGE with no clauses is a no-op; give at "
                         "least one of when_matched / when_not_matched")
    if matched_delete_condition is not None and when_matched != "update":
        raise ValueError(
            "matched_delete_condition is the prioritized WHEN MATCHED "
            "AND <cond> THEN DELETE clause of a 3-clause merge — it "
            "requires when_matched='update' (for a pure delete use "
            "when_matched='delete')")


def merge_dataframes(target: DataFrame, source: DataFrame, key: str,
                     when_matched: str | None = "update",
                     when_not_matched: str | None = "insert",
                     matched_condition: str | None = None,
                     matched_delete_condition: str | None = None,
                     not_matched_condition: str | None = None
                     ) -> DataFrame:
    """MERGE semantics as one declarative DataFrame plan (no table, no
    commit): target rows matched by source key are updated to the
    source row (or deleted), unmatched source rows are inserted.

    Conditions are Spark SQL booleans over aliases `s` (source) and
    `t` (target) — extra source-only columns (e.g. CDC metadata) are
    in scope for conditions but never land in the output:
    * `matched_condition` — a matched row failing it keeps its target
      version (update) / survives (delete);
    * `matched_delete_condition` — Delta's 3-clause form: WHEN MATCHED
      AND <this> THEN DELETE, evaluated BEFORE the update clause (a
      row satisfying both is deleted), requires when_matched='update';
    * `not_matched_condition` — WHEN NOT MATCHED AND <this> THEN
      INSERT (source columns in scope; e.g. ``"NOT __is_delete"`` so
      CDC delete events for absent keys are no-ops).

    One left join + one anti join, both key equi-joins Catalyst can
    broadcast or shuffle-hash as sizes dictate — no window, no
    collect. NULL keys follow SQL equality: a NULL target key never
    matches (row kept), NULL-key source rows are dropped.
    """
    _validate_clauses(when_matched, when_not_matched,
                      matched_delete_condition)
    cols = target.columns
    missing = [c for c in cols if c not in source.columns]
    if missing and (when_matched == "update" or when_not_matched):
        raise ValueError(f"source lacks target columns {missing}")
    src = source.filter(F.col(key).isNotNull())

    cond = F.expr(matched_condition) if matched_condition else F.lit(True)
    mdel = F.expr(matched_delete_condition) if matched_delete_condition \
        else F.lit(False)
    mkey = F.col(f"s.{key}").isNotNull()
    del_hit = F.coalesce(mkey & mdel, F.lit(False))
    upd_hit = F.coalesce(mkey & cond, F.lit(False)) & ~del_hit
    j = target.alias("t").join(
        src.alias("s"), F.col(f"t.{key}") == F.col(f"s.{key}"), "left")
    if when_matched == "update":
        upd = j.filter(~del_hit).select(*[
            F.when(upd_hit, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
            .alias(c) for c in cols])
    elif when_matched == "delete":
        upd = j.filter(~upd_hit) \
            .select(*[F.col(f"t.{c}").alias(c) for c in cols])
    else:
        upd = target
    if when_not_matched == "insert":
        ins = src.alias("s")
        if not_matched_condition:
            ins = ins.filter(F.expr(not_matched_condition))
        ins = ins.join(
            target.select(key).filter(F.col(key).isNotNull()),
            [key], "left_anti").select(*cols)
        upd = upd.unionByName(ins)
    return upd


def merge_into(spark: SparkSession, out_dir: str, source: DataFrame,
               key: str = "conv_id",
               when_matched: str | None = "update",
               when_not_matched: str | None = "insert",
               matched_condition: str | None = None,
               matched_delete_condition: str | None = None,
               not_matched_condition: str | None = None,
               txn: tuple[str, int] | None = None,
               evolve_schema: bool = False) -> dict:
    """MERGE `source` into the committed commitlog table at `out_dir`
    on key equality, atomically (one log version carrying every file
    swap and every new file — see module docstring for the plan shape
    and the concurrency contract). The three condition parameters form
    Delta's full clause set (see merge_dataframes): WHEN MATCHED AND
    matched_delete_condition THEN DELETE / WHEN MATCHED [AND
    matched_condition] THEN UPDATE / WHEN NOT MATCHED [AND
    not_matched_condition] THEN INSERT — extra source-only columns
    (CDC metadata) are in scope for conditions, never in the output.

    evolve_schema=True (Delta's schema autoMerge): extra source
    columns instead BECOME table columns — appended nullable to the
    logged schema via the additive-evolution rule, recorded as a
    table_meta action IN THE SAME commit as the merge. Untouched files
    read NULL for the new columns (the evolution contract); only
    matched/inserted rows carry values. Leave False for CDC apply,
    where sequence/tombstone metadata must never land in the table.

    Duplicate source keys are refused (Delta's multiple-source-match
    error: the result would be nondeterministic). NULL-key source rows
    are dropped (SQL equality); NULL-key target rows always survive.

    txn=(app_id, version): idempotent-writer mark (Delta's txn action)
    committed IN THE SAME log version as the merge — if the table has
    already recorded `version` (or later) for `app_id`, the merge
    returns immediately with txn_skipped=True and NO Spark work. This
    is the exactly-once handle for streaming CDC apply (a replayed
    foreachBatch epoch is a cheap no-op).

    Returns {version, rows_updated, rows_deleted, rows_inserted,
    files_rewritten, files_added, files_untouched, parts_touched,
    n_source_rows, txn_skipped}. A merge that changes nothing commits
    no version (version is None).
    """
    from pyspark.sql.types import StructType

    _validate_clauses(when_matched, when_not_matched,
                      matched_delete_condition)
    ledger = make_ledger(out_dir)
    committed, _success, meta, _txns = ledger.snapshot()
    bucket = _table_bucket(meta, key)
    if not meta.get("schema"):
        raise ValueError("MERGE requires the table schema in table_meta "
                         "(tables written by run_checkpointed/append "
                         "record it)")
    declared = StructType([f for f in
                           StructType.fromJson(meta["schema"]).fields
                           if f.name != "part"])
    cols = [f.name for f in declared.fields]
    if key not in cols:
        raise ValueError(f"key {key!r} not in table schema {cols}")
    need_full_row = when_matched == "update" or when_not_matched
    missing = [c for c in cols if c not in source.columns]
    if need_full_row and missing:
        raise ValueError(f"source lacks target columns {missing}")

    patch: dict = {}
    if evolve_schema:
        from pyspark.sql.types import StructField
        add = [StructField(f.name, f.dataType, True)
               for f in source.schema.fields if f.name not in cols]
        if add:
            declared = StructType(declared.fields + add)
            cols = cols + [f.name for f in add]
            # the widened schema (and, on a mapped table, the new
            # columns' physical names) commits IN the merge's version
            patch = _evolve_meta(meta, declared)
    # the meta whose schema + mapping cover this merge
    eff_meta = {**meta, **patch}

    summary = {"version": None, "rows_updated": 0, "rows_deleted": 0,
               "rows_inserted": 0, "files_rewritten": 0, "files_added": 0,
               "files_untouched": 0, "parts_touched": [],
               "n_source_rows": 0, "txn_skipped": False}
    if txn is not None:
        last = ledger.last_txn(str(txn[0]))
        if last is not None and int(txn[1]) <= last:
            # replayed work unit (Delta's txn fast path): the epoch's
            # merge already landed — no Spark job, no new version
            summary["txn_skipped"] = True
            return summary
    tag = uuid.uuid4().hex[:12]
    scratch = os.path.join(out_dir, f"_compact-{tag}-src")
    try:
        # Stage the source once: lineage cut + exactly-one evaluation.
        # Target columns are cast to the declared schema; extra
        # source-only columns (CDC metadata) ride along untouched for
        # the condition expressions.
        dtypes = {f.name: f.dataType for f in declared.fields}
        proj = cols if need_full_row else [key]
        staged_cols = ([F.col(c).cast(dtypes[c]).alias(c) for c in proj]
                       + [F.col(c) for c in source.columns
                          if c not in cols])
        (source.select(*staged_cols)
         .filter(F.col(key).isNotNull())
         .write.parquet(scratch))
        src = spark.read.parquet(scratch)
        n_src = src.count()
        summary["n_source_rows"] = int(n_src)
        dups = (src.groupBy(key).count().filter(F.col("count") > 1)
                .limit(1).collect())
        if dups:
            raise ValueError(
                f"MERGE source has duplicate keys (e.g. "
                f"{dups[0][key]!r}): the matched result would be "
                "nondeterministic — dedup the source first")
        if n_src == 0:
            summary["files_untouched"] = sum(
                len((m or {}).get("files") or {})
                for m in committed.values())
            return summary

        actions: list[dict] = []
        swaps: dict[int, list[str]] = {}
        cond = F.expr(matched_condition) if matched_condition \
            else F.lit(True)
        mdel = F.expr(matched_delete_condition) \
            if matched_delete_condition else F.lit(False)

        mkey = F.col(f"s.{key}").isNotNull()
        del_hit = F.coalesce(mkey & mdel, F.lit(False))
        upd_hit = F.coalesce(mkey & cond, F.lit(False)) & ~del_hit

        if when_matched is not None:
            # ---- pass 1a: coarse manifest prune (metadata-only).
            # Deliberately loose: the per-bucket [kmin, kmax] interval
            # covers EVERY source key in the bucket (insert keys
            # included), so it only bounds the probe read, never the
            # rewrite set.
            files, summary["files_untouched"] = _plan_files(
                committed, eff_meta, key_ranges=(key, _key_ranges(
                    src, key, bucket, committed)))
            cand_by_part = {p: (c, committed[p] or {})
                            for p, c in files.items()}

            # ---- pass 1b: findTouchedFiles — ONE probe job over all
            # coarse candidates (Delta's first MERGE pass): inner-join
            # candidate rows to the source on the key and count clause
            # hits per file via _metadata.file_path. Only files that
            # actually HOLD a matched row get rewritten — a stats
            # false positive (or an interval blown open by unrelated
            # keys) costs a probe read, never a rewrite. The collect
            # is bounded by the candidate-file count.
            touched: dict[int, dict[str, tuple[int, int]]] = {}
            if cand_by_part:
                # the target's `part` is dropped (as in the rewrite):
                # a clause condition naming `part` means the source's
                t_all = _scan_committed(
                    spark, out_dir, eff_meta,
                    {p: c for p, (c, _m) in cand_by_part.items()},
                    {p: m.get("dv") for p, (_c, m) in cand_by_part.items()},
                    path_col="__path").drop("part")
                for r in (t_all.alias("t")
                          .join(src.alias("s"),
                                F.col(f"t.{key}") == F.col(f"s.{key}"),
                                "inner")
                          .groupBy("__path")
                          .agg(F.sum(F.when(del_hit, 1).otherwise(0))
                               .alias("d"),
                               F.sum(F.when(upd_hit, 1).otherwise(0))
                               .alias("u"))
                          .filter((F.col("d") + F.col("u")) > 0)
                          .collect()):
                    pstr, fn = r["__path"].split("/", 1)
                    touched.setdefault(int(pstr.split("=", 1)[1]),
                                       {})[fn] = (int(r["d"]),
                                                  int(r["u"]))
            for part, (cand, _m) in cand_by_part.items():
                hit = touched.get(part, {})
                summary["files_untouched"] += len(cand) - len(hit)

            # ---- pass 2: rewrite EXACTLY the touched files, per
            # partition (the swap unit of the log protocol). Rewrites
            # are independent per partition, so they run as CONCURRENT
            # Spark jobs from a driver thread pool — staged files are
            # invisible until the single commit below, so concurrency
            # never weakens atomicity.
            def _merged(t):
                j = t.drop("part").alias("t").join(
                    src.alias("s"),
                    F.col(f"t.{key}") == F.col(f"s.{key}"), "left")
                if when_matched == "update":
                    return j.filter(~del_hit).select(*[
                        F.when(upd_hit, F.col(f"s.{c}"))
                        .otherwise(F.col(f"t.{c}")).alias(c)
                        for c in cols])
                # delete: upd_hit marks the rows to remove
                return j.filter(~upd_hit) \
                    .select(*[F.col(f"t.{c}").alias(c) for c in cols])

            def _rewrite_part(part: int) -> dict:
                _cand, marker = cand_by_part[part]
                tfiles = sorted(touched[part])
                n_del = sum(d for d, _ in touched[part].values())
                n_upd = sum(u for _, u in touched[part].values())
                man, new_stats, before, after = _rewrite_files(
                    spark, out_dir, eff_meta, part, marker, tfiles,
                    _merged, len(tfiles), "merge")
                expect = before - (n_del if when_matched == "update"
                                   else n_upd)
                if after != expect:
                    raise RuntimeError(
                        f"merge rewrite of part {part} produced {after} "
                        f"rows where the probe predicted {expect} "
                        f"({before} before, {n_del} clause deletes, "
                        f"{n_upd} updates); aborted, table unchanged")
                return {"part": part, "tfiles": tfiles, "man": man,
                        "stats": new_stats, "n_del": n_del,
                        "n_upd": n_upd}

            if touched:
                from concurrent.futures import ThreadPoolExecutor
                with ThreadPoolExecutor(
                        max_workers=min(8, len(touched))) as pool:
                    results = list(pool.map(_rewrite_part,
                                            sorted(touched)))
                from datetime import datetime, timezone
                now = datetime.now(timezone.utc).isoformat()
                for r in results:   # deterministic action order
                    if when_matched == "update":
                        summary["rows_updated"] += r["n_upd"]
                        summary["rows_deleted"] += r["n_del"]
                    else:
                        summary["rows_deleted"] += r["n_upd"]
                    actions.append({"type": "delete", "part": r["part"],
                                    "remove_files": r["tfiles"],
                                    "add_files": r["man"],
                                    "stats": r["stats"],
                                    "updated_at": now})
                    swaps[r["part"]] = r["tfiles"]
                    summary["files_rewritten"] += len(r["tfiles"])
                    summary["parts_touched"].append(r["part"])

        if when_not_matched == "insert":
            # one anti join against the key column only (column-pruned
            # scan of the whole table — the unavoidable full-key pass)
            from .checkpoint import read_committed
            tkeys = read_committed(spark, out_dir) \
                .select(key).filter(F.col(key).isNotNull())
            ins = src.alias("s")
            if not_matched_condition:
                ins = ins.filter(F.expr(not_matched_condition))
            ins = ins.join(tkeys, [key], "left_anti").select(*cols)
            if bucket:
                ins = ins.withColumn("part", _bucket_column(bucket))
            else:
                home = max((int(p) for p in committed), default=0)
                ins = ins.withColumn("part", F.lit(int(home)))
            staging = os.path.join(out_dir, f"_compact-{tag}-ins")
            (to_physical(ins, eff_meta)
             .repartition("part").write.partitionBy("part")
             .parquet(staging))
            from datetime import datetime, timezone
            now = datetime.now(timezone.utc).isoformat()
            for part, (man, new_stats, n_rows) in sorted(_land_staged(
                    out_dir, staging, eff_meta, "merge").items()):
                actions.append({"type": "add_files", "part": part,
                                "files": man, "n_rows": n_rows,
                                "run_id": f"merge-{tag}",
                                "stats": new_stats, "updated_at": now})
                summary["rows_inserted"] += n_rows
                summary["files_added"] += len(man)
                if part not in summary["parts_touched"]:
                    summary["parts_touched"].append(part)

        if not actions:
            return summary
        # CHECK enforcement. Rewritten survivors re-validate for free —
        # the table is fully valid by induction (add_constraint scanned
        # existing rows), so only genuinely new values can fail.
        _check_constraints(spark, out_dir, eff_meta, actions, "MERGE")
        # the widened schema and the data that needs it land in ONE
        # version (Delta commits metaData + adds together); a no-op
        # merge never evolves the schema
        actions = _meta_actions(patch) + actions
        if txn is not None:
            # the idempotence mark rides the SAME atomic version as the
            # merge: a crash can never record the txn without the data
            # or the data without the txn
            actions.append({"type": "txn", "app_id": str(txn[0]),
                            "txn_version": int(txn[1])})
        # Optimistic-concurrency checks as the commit's precondition —
        # a stale swap (Delta raises on MERGE-vs-OPTIMIZE) or a schema
        # a concurrent ALTER moved under the patch publishes nothing; a
        # retry converges against the new snapshot
        swaps_ok = _swaps_precondition(ledger, swaps, ConcurrentMergeError,
                                       "MERGE")
        meta_ok = _meta_precondition(ledger, meta, patch)
        ver = ledger.merge_commit(actions, precondition=lambda v: (
            swaps_ok(v), meta_ok(v)))
        summary["version"] = int(ver)
        summary["parts_touched"].sort()
        return summary
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
