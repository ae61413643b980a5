"""Row-level change-data feed (read-time CDC) over the commitlog table.

`table_changes`/`read_changes` (checkpoint.py) feed INSERTED rows and
report deletions as counts — enough for an append-mostly trainer, not
for a consumer that must mirror the table (an incremental materialized
view, a downstream index, a replica). This module closes that gap with
Delta-CDF-shaped row images, WITHOUT write-time change files (no write
amplification): because data files are immutable and the log names
exactly which files each snapshot references, the row-level delta of a
window (since, until] is reconstructable at read time —

    inserts = live(until) exceptAll live(since)      (multiset)
    deletes = live(since) exceptAll live(until)

and rows living in files referenced by BOTH snapshots cancel without
being read. So the scan cost is proportional to the files that
CHANGED, not to the table: a pure-append window reads only the new
files, a row-level DELETE reads the removed originals plus their
rewritten survivors, and a partition whose in-window history is
compaction-only is skipped on metadata alone (row-preserving by the
compact contract — Delta likewise emits no CDF for OPTIMIZE).

The multiset identity is exact by construction for ANY interleaving of
append / recompute / delete / drop / restore / compact:

    live(since)  ∖ deletes  ⊎ inserts  ==  live(until)

which is precisely what a view maintainer needs (see
`consume_into_view`). Granularity is the WINDOW, not the commit: like
a multi-version Delta CDF batch read, intra-window churn (insert then
delete the same row) nets out — correct for state mirroring, not an
audit log (the commit log itself is the audit).

Like time travel and the insert feed, the window is bounded by
vacuum's retention: a before-side file already reclaimed raises
FileNotFoundError naming it, never a silent partial delta.

Reference analogue: the reference re-derives downstream state by
re-reading its durable ledger (base_batch_request_processor.py:300-309,
438-481); here the derivation is incremental, row-exact, and
cursor-driven.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import _file_paths, _scan_committed, make_ledger
from .feed import _commit_cursor, consumer_position

CHANGE_COL = "_change_type"


def _changed_file_sets(ledger, since: int, until: int
                       ) -> tuple[dict, dict, list[int], dict, dict]:
    """Pure-metadata planning: ({part: {file: meta}} removed,
    {part: {file: meta}} added, [parts skipped as compaction-only],
    before-side dv {part: {file: rows}}, after-side dv). Files referenced
    by both snapshots WITH THE SAME deletion vector are dropped from
    both sides — immutable files + identical masks mean identical live
    content, so their rows cancel in the multiset diff without any
    I/O. A file whose dv GREW in the window appears on BOTH sides
    (each read minus its own side's mask); exceptAll then nets exactly
    the newly-masked rows as deletes."""
    before = ledger.committed(version=since)
    after = ledger.committed(version=until)
    # action-type scan over the window: the ONLY metadata shortcut taken
    # is skipping partitions whose every in-window action is a `compact`
    # (row-preserving by contract); any restore in the window disables
    # the shortcut — a rollback re-points state without per-part actions
    touched: dict[int, set[str]] = {}
    window_restore = False
    for fn in ledger._versions(upto=until):
        v = int(fn[1:-5])
        if v <= int(since):
            continue
        try:
            with open(os.path.join(ledger.dir, fn)) as f:
                commit = json.load(f)
        except Exception:
            continue
        for a in commit.get("actions", []):
            if a.get("type") == "restore":
                window_restore = True
            if "part" in a:
                touched.setdefault(int(a["part"]), set()).add(a.get("type"))
    removed: dict[int, dict] = {}
    added: dict[int, dict] = {}
    skipped: list[int] = []
    dv_before: dict[int, dict[str, list]] = {}
    dv_after: dict[int, dict[str, list]] = {}
    for p in sorted(set(before) | set(after)):
        bf = dict(((before.get(p) or {}).get("files")) or {})
        af = dict(((after.get(p) or {}).get("files")) or {})
        bdv = (before.get(p) or {}).get("dv") or {}
        adv = (after.get(p) or {}).get("dv") or {}
        # identity = (file, its deletion vector): same name + same mask
        # cancels; a dv change puts the file on both sides
        same = {f for f in set(bf) & set(af)
                if sorted(bdv.get(f) or []) == sorted(adv.get(f) or [])}
        if same == set(bf) == set(af):
            continue
        if not window_restore and touched.get(p) == {"compact"}:
            skipped.append(p)
            continue
        rm = {f: m for f, m in bf.items() if f not in same}
        ad = {f: m for f, m in af.items() if f not in same}
        dv_before[p] = {f: bdv[f] for f in rm if bdv.get(f)}
        dv_after[p] = {f: adv[f] for f in ad if adv.get(f)}
        if rm:
            removed[p] = rm
        if ad:
            added[p] = ad
    return removed, added, skipped, dv_before, dv_after


def row_changes(spark: SparkSession, out_dir: str, since_version: int,
                until_version: int | None = None) -> DataFrame:
    """The row images changed in versions (since, until]: the table's
    columns plus `_change_type` in {'insert', 'delete'}, satisfying the
    exact multiset identity

        live(since) minus deletes plus inserts == live(until).

    Both sides read with the table's declared schema at `until`
    (schema evolution is additive, so before-side files read the new
    columns as null on both sides and still cancel)."""
    from pyspark.sql.types import StructType

    ledger = make_ledger(out_dir)
    until = until_version if until_version is not None \
        else (ledger.latest_version() or 0)
    # validate bounds exactly like table_changes — a typo'd version must
    # not silently read as an empty delta
    ledger._versions(upto=until)
    ledger._versions(upto=since_version)
    removed, added, _, dv_b, dv_a = _changed_file_sets(
        ledger, int(since_version), int(until))
    missing = [p for p in _file_paths(out_dir, removed)
               + _file_paths(out_dir, added) if not os.path.exists(p)]
    if missing:
        raise FileNotFoundError(
            f"row-level changes since v{since_version} reference "
            f"{len(missing)} file(s) already reclaimed by vacuum "
            f"(e.g. {missing[0]}); consume within the retention window")
    # both sides scan with the schema and column mapping AS OF `until`,
    # so they stay shape-identical; each reads minus ITS OWN snapshot's
    # deletion vectors, so a file whose mask grew contributes exactly
    # the newly-masked rows as deletes through the multiset diff
    meta = ledger.table_meta(version=until)
    after_df = _scan_committed(spark, out_dir, meta, added, dv_a)
    before_df = _scan_committed(spark, out_dir, meta, removed, dv_b)
    if meta.get("schema"):
        declared = StructType.fromJson(meta["schema"])
    else:
        # no declared schema (hand-built table): an empty side takes
        # the shape inferred from the other, so exceptAll lines up
        declared = (after_df if added else before_df).schema
        if not added:
            after_df = spark.createDataFrame([], declared)
        elif not removed:
            before_df = spark.createDataFrame([], declared)
    # exceptAll is POSITIONAL and the parquet scan appends partition
    # columns last regardless of the declared order — canonicalize both
    # sides to the declared column order (a silent misalignment between
    # same-typed columns would mis-diff, far worse than the analyzer
    # error a type clash raises)
    cols = [f.name for f in declared.fields]
    after_df = after_df.select(*cols)
    before_df = before_df.select(*cols)
    return (after_df.exceptAll(before_df)
            .withColumn(CHANGE_COL, F.lit("insert"))
            .unionByName(before_df.exceptAll(after_df)
                         .withColumn(CHANGE_COL, F.lit("delete"))))


def apply_row_changes(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Materialize one window: (state ∖ deletes) ⊎ inserts, multiset
    semantics. Folding this over consecutive windows reconstructs every
    snapshot exactly (each window's delta is defined BY that identity)."""
    dels = delta.filter(F.col(CHANGE_COL) == "delete").drop(CHANGE_COL)
    ins = delta.filter(F.col(CHANGE_COL) == "insert").drop(CHANGE_COL)
    # align by NAME before the positional exceptAll — callers' state
    # may carry the same columns in a different order (e.g. a parquet
    # scan appends partition columns last)
    dels = dels.select(*state.columns)
    ins = ins.select(*state.columns)
    return state.exceptAll(dels).unionByName(ins)


def consume_row_changes(spark: SparkSession, out_dir: str,
                        consumer_id: str,
                        sink: Callable[[DataFrame, int, int], None]) -> dict:
    """One poll of the ROW-LEVEL feed with the same durable cursor as
    `feed.consume_changes`: hand `sink(delta_df, since, until)` the
    window's row images, then advance the cursor. A window whose
    changed-file plan is empty (nothing, or compaction-only) advances
    the cursor without starting a Spark job. Crash inside the sink →
    the identical window replays next poll (exactly-once end to end
    with an idempotent sink, e.g. a view snapshot keyed on `until`)."""
    ledger = make_ledger(out_dir)
    since = consumer_position(out_dir, consumer_id)
    head = ledger.latest_version() or 0
    if head <= since:
        return {"since": since, "until": since, "advanced": False,
                "planned_files": 0}
    removed, added, _, _dvb, _dva = _changed_file_sets(ledger, since, head)
    n_files = sum(len(v) for v in removed.values()) \
        + sum(len(v) for v in added.values())
    if n_files:
        sink(row_changes(spark, out_dir, since, head),
             since, head)
    _commit_cursor(out_dir, consumer_id, head, 0)
    return {"since": since, "until": head, "advanced": True,
            "planned_files": n_files}


def consume_into_view(spark: SparkSession, out_dir: str,
                      consumer_id: str, view_dir: str,
                      keys: list[str], measures: dict[str, str]) -> dict:
    """Incrementally maintain an additive aggregate view of the table —
    GROUP BY `keys` with SUM `measures` (SQL expressions over the
    table's columns) — from the row-level feed, exactly-once.

    Each advancing poll folds the window's delta into the previous view
    snapshot with SIGNED partials (+expr for inserts, −expr for
    deletes; additivity is what makes count/sum views maintainable from
    deltas alone) and writes `view_dir/view-v{until}.parquet`. The
    cursor commits only after the snapshot lands, and a replayed window
    rewrites the SAME snapshot path with the same content — the
    idempotent-sink contract. Groups whose measures all net to zero are
    dropped (a fully-deleted group leaves the view). At 100 TB the poll
    cost is the changed files plus a view-sized merge — never a corpus
    re-scan."""
    since = consumer_position(out_dir, consumer_id)
    prev = _latest_view(view_dir, since)

    def _sink(delta: DataFrame, s: int, u: int) -> None:
        sign = F.when(F.col(CHANGE_COL) == "insert",
                      F.lit(1).cast("long")).otherwise(F.lit(-1).cast("long"))
        partial = delta.groupBy(*keys).agg(
            *[F.sum(sign * F.expr(e).cast("long")).alias(m)
              for m, e in measures.items()])
        merged = partial if prev is None else \
            spark.read.parquet(prev).unionByName(partial)
        out = (merged.groupBy(*keys)
               .agg(*[F.sum(m).alias(m) for m in measures])
               .filter(" OR ".join(f"{m} != 0" for m in measures)))
        tmp = os.path.join(view_dir, f".tmp-view-v{u}-{os.getpid()}")
        out.coalesce(1).write.mode("overwrite").parquet(tmp)
        final = os.path.join(view_dir, f"view-v{u:012d}.parquet")
        if os.path.isdir(final):  # replay: same window, same content
            import shutil
            shutil.rmtree(tmp)
        else:
            os.replace(tmp, final)

    os.makedirs(view_dir, exist_ok=True)
    r = consume_row_changes(spark, out_dir, consumer_id, _sink)
    if r["advanced"] and r["planned_files"] == 0 and prev is not None:
        # metadata-only window: carry the previous snapshot forward so
        # read_view(cursor) always resolves
        import shutil
        final = os.path.join(view_dir, f"view-v{r['until']:012d}.parquet")
        if not os.path.isdir(final):
            shutil.copytree(prev, final)
    return r


def _latest_view(view_dir: str, upto: int) -> str | None:
    if not os.path.isdir(view_dir):
        return None
    best = None
    for fn in sorted(os.listdir(view_dir)):
        if fn.startswith("view-v") and fn.endswith(".parquet"):
            v = int(fn[6:-8])
            if v <= upto:
                best = os.path.join(view_dir, fn)
    return best


def read_view(spark: SparkSession, view_dir: str,
              upto: int | None = None) -> DataFrame:
    """The maintained view at the latest snapshot (or AS OF a table
    version ≤ `upto` — view snapshots inherit the table's time-travel
    axis for free, being keyed on its versions)."""
    p = _latest_view(view_dir, upto if upto is not None else 10 ** 12)
    if p is None:
        raise FileNotFoundError(f"no view snapshot in {view_dir}")
    return spark.read.parquet(p)
