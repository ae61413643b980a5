"""Run-status surface: the reference's live status tracker re-expressed
over the durable run artifacts.

The reference renders an in-terminal table of request counts, token
usage, cost, and rate while a run executes (reference:
src/bespokelabs/curator/status_tracker/online_status_tracker.py:129-218
`display` rich table; install_ui.py). This engine's runs are Spark jobs
whose live view is the Spark UI; what the tracker ADDS there is the
curation-ledger view — per-partition commit state, counter totals,
token volume, derived cost — which here reads STRAIGHT off the durable
artifacts (_commitlog + _metrics), driver-side via pyarrow,
no Spark session required. That makes the same report available while a
run is in flight (partial ledger), after a crash (what resumes?), and
long after completion (lineage), from any process that can see the
output directory:

    python -m curator_spark.cli --status --output /data/curated/run1
    # or: print(format_run_status(out_dir))

Counters honor the metrics supersede rule (latest (created_us, shard)
row per (run_id, part)) so recomputed partitions never double-count —
the same read path as checkpoint.read_metrics, minus Spark.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from .checkpoint import make_ledger

COUNTER_COLS = ("n_in", "n_kept", "n_scrubbed", "n_errors", "n_tokens")


def _read_metrics_pandas(out_dir: str):
    """_metrics with supersede semantics, driver-side (pyarrow→pandas)."""
    import pandas as pd
    import pyarrow.parquet as pq
    mdir = os.path.join(out_dir, "_metrics")
    if not os.path.isdir(mdir):
        return None
    frames = [pq.read_table(os.path.join(mdir, f)).to_pandas()
              for f in sorted(os.listdir(mdir)) if f.endswith(".parquet")]
    if not frames:
        return None
    m = pd.concat(frames, ignore_index=True)
    if "created_us" not in m.columns:  # pre-supersede layout
        m["created_us"], m["shard"] = 0, ""
    # mixed old/new layouts: pre-supersede rows have NaN created_us
    # after the concat — they must sort FIRST (losing to any
    # recomputation), so fill with the minimal key, never let NaN
    # float to the end
    m["created_us"] = m["created_us"].fillna(0).astype("int64")
    m["shard"] = m["shard"].fillna("")
    m = m.sort_values(["created_us", "shard"], kind="mergesort")
    return m.groupby(["run_id", "part"], as_index=False).last()


def run_status(out_dir: str) -> dict:
    """Machine-readable status snapshot of a (possibly in-flight) run
    directory: ledger commit state + counter totals. Totals are scoped
    to the rows whose (run_id, part) the CURRENT ledger markers
    reference — a partition recomputed under a different run
    fingerprint contributes once, through the marker that owns it,
    never per historic run."""
    ledger = make_ledger(out_dir)
    committed, success, meta, txns = ledger.snapshot()  # ONE replay
    # downstream feed consumers (feed.py): how far each has read
    consumers: dict[str, int] = {}
    cdir = os.path.join(out_dir, "_consumers")
    if os.path.isdir(cdir):
        from .feed import consumer_position
        consumers = {c: consumer_position(out_dir, c)
                     for c in sorted(os.listdir(cdir))
                     if not c.startswith(".")}
    m = _read_metrics_pandas(out_dir)
    if m is not None and committed:
        # a multi-run partition (incremental appends) lists every
        # contributing run in `runs`; each run's metrics row for the
        # part is live — scoping to the base run_id alone would drop
        # appended rows from the totals
        live = {(run, int(part))
                for part, marker in committed.items() if marker
                for run in (marker.get("runs") or [marker.get("run_id")])}
        keys = list(zip(m["run_id"], m["part"].astype(int)))
        m = m[[k in live for k in keys]]
    totals = ({c: int(m[c].sum()) for c in COUNTER_COLS}
              if m is not None else {c: 0 for c in COUNTER_COLS})
    per_part = []
    for part in sorted(committed):
        marker = committed[part] or {}
        row = {"part": int(part), "status": marker.get("status", "?"),
               "n_rows": int(marker.get("n_rows", -1)),
               "run_id": marker.get("run_id"),
               "updated_at": marker.get("updated_at")}
        per_part.append(row)
    keep_rate = (totals["n_kept"] / totals["n_in"]) if totals["n_in"] else None
    return {
        "out_dir": out_dir,
        "parts_committed": len(committed),
        "run_success": success,
        "complete": success is not None,
        "totals": totals,
        "keep_rate": keep_rate,
        "per_part": per_part,
        "version": ledger.latest_version(),  # latest commit
        "protocol": meta.get("_protocol"),  # reader/writer requirement
        "constraints": dict(meta.get("constraints") or {}),  # CHECKs
        "txns": txns,                # idempotent-writer marks
        "consumers": consumers,      # feed cursors: id → last version read
        "as_of": datetime.now(timezone.utc).isoformat(timespec="seconds"),
    }


def format_run_status(out_dir: str,
                      usd_per_1k_tokens: float = 0.002,
                      max_parts: int = 24) -> str:
    """Human-readable render of run_status — the tracker table
    (reference: online_status_tracker.py:129-218, sections for request
    counts / token usage / cost / rate limits, rendered as one table)."""
    s = run_status(out_dir)
    t = s["totals"]
    cost = t["n_tokens"] / 1000.0 * usd_per_1k_tokens
    lines = [
        f"Run status — {s['out_dir']}  [as of {s['as_of']}]",
        f"  state: {'COMPLETE' if s['complete'] else 'IN PROGRESS / resumable'}"
        + (f" (run {s['run_success']['run_id']}, "
           f"{s['run_success']['n_parts']} parts)" if s["complete"] else
           f" — {s['parts_committed']} partition(s) committed"),
        "",
        "  turns in      kept        scrubbed    errors      tokens"
        "        est. cost",
        f"  {t['n_in']:<13,}{t['n_kept']:<12,}{t['n_scrubbed']:<12,}"
        f"{t['n_errors']:<12,}{t['n_tokens']:<14,}${cost:,.4f}",
    ]
    if s["keep_rate"] is not None:
        lines.append(f"  keep rate: {100 * s['keep_rate']:.2f}%")
    lines += ["", "  part   status      rows       committed at"]
    shown = s["per_part"][:max_parts]
    for r in shown:
        ts = (r["updated_at"] or "")[:19]
        lines.append(f"  {r['part']:<7}{r['status']:<12}"
                     f"{r['n_rows']:<11,}{ts}")
    hidden = len(s["per_part"]) - len(shown)
    if hidden > 0:
        lines.append(f"  ... {hidden} more partition(s)")
    if not s["per_part"]:
        lines.append("  (no partitions committed yet)")
    if s.get("version") is not None:
        lines.append(f"  table version: v{s['version']}")
    if s.get("protocol"):
        p = s["protocol"]
        feats = sorted(set(p.get("reader_features") or [])
                       | set(p.get("writer_features") or []))
        lines.append(
            f"  protocol: reader>={p.get('min_reader', 1)} "
            f"writer>={p.get('min_writer', 1)}"
            + (f" features={','.join(feats)}" if feats else ""))
    if s.get("constraints"):
        lines.append("  constraints: " + "; ".join(
            f"{n} CHECK ({e})" for n, e in
            sorted(s["constraints"].items())))
    if s.get("txns"):
        lines.append("  writers: " + ", ".join(
            f"{a}@{v}" for a, v in sorted(s["txns"].items())))
    if s.get("consumers"):
        lines.append("  consumers: " + ", ".join(
            f"{c}@v{v}" for c, v in sorted(s["consumers"].items())))
    return "\n".join(lines)
