"""Maintenance auto-pilot: the nightly job as ONE verb.

A continuously-ingested table accretes three kinds of debt — small
files per partition (a file per run per partition), orphaned bytes
from superseded/crashed commits, and a growing commit-log tail past
the last checkpoint. `maintenance_report` prices all three from
METADATA alone (no data file opened, no Spark job); `run_maintenance`
executes the standard remedies in the safe order: OPTIMIZE first
(compaction creates the orphans vacuum then prices), VACUUM second,
and the log checkpoint rides the compaction commits themselves
(CommitLogLedger checkpoints every CKPT_INTERVAL commits).

Everything here composes verbs that are individually atomic and
crash-safe (checkpoint.optimize_table / vacuum), so the auto-pilot
inherits their guarantees: it can die at any point and the table
stays consistent; the next run finishes the job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .checkpoint import make_ledger, optimize_table, vacuum


def maintenance_report(out_dir: str, target_files: int = 4,
                       min_age_s: float = 3600.0) -> dict:
    """Metadata-only health report: which partitions exceed
    `target_files` live files, how many orphan files an aged vacuum
    would reclaim, and how long the log tail past the last checkpoint
    is. Safe to run anytime — opens zero data files."""
    ledger = make_ledger(out_dir)
    committed = ledger.committed()
    per_part = {int(p): len((m or {}).get("files") or {})
                for p, m in committed.items()
                if m and m.get("status") == "COMMITTED"}
    need = sorted(p for p, n in per_part.items() if n > target_files)
    reclaimable = vacuum(out_dir, min_age_s=min_age_s, dry_run=True)
    head = ledger.latest_version() or 0
    ckpts = ledger._checkpoints()
    return {
        "parts": len(per_part),
        "live_files": sum(per_part.values()),
        "parts_needing_compaction": need,
        "max_files_per_part": max(per_part.values(), default=0),
        "reclaimable_files": int(reclaimable),
        "log_head": int(head),
        "log_tail_past_checkpoint": int(head - (ckpts[-1] if ckpts
                                                else 0)),
    }


def run_maintenance(spark: SparkSession, out_dir: str,
                    target_files: int = 4,
                    min_age_s: float = 3600.0) -> dict:
    """Execute the report's remedies: compact every over-filed
    partition (each its own atomic commit; concurrent appends conflict
    per-partition, never table-wide), then vacuum aged orphans —
    including the ones the compaction just superseded once they age
    past `min_age_s`. Returns the before-report plus what was done."""
    before = maintenance_report(out_dir, target_files, min_age_s)
    opt = optimize_table(spark, out_dir, target_files=target_files)
    removed = vacuum(out_dir, min_age_s=min_age_s)
    after = maintenance_report(out_dir, target_files, min_age_s)
    return {"before": before,
            "parts_compacted": opt["parts_compacted"],
            "files_before": opt["files_before"],
            "files_after": opt["files_after"],
            "vacuumed_files": int(removed),
            "after": after}
