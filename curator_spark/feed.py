"""Change-feed consumption with a durable cursor — the downstream half
of incremental corpus maintenance.

`table_changes`/`read_changes` (checkpoint.py) answer "what rows were
inserted in versions (since, until]?" from the log alone; this module
adds the piece a real consumer (tokenizer, embedding indexer, trainer
data loader) needs at 100 TB: a CRASH-SAFE record of how far it has
read, so every poll processes each inserted row exactly once end to
end without ever re-scanning the corpus.

Protocol (Spark Structured Streaming's offsets/commits shape, and
Delta's streaming-source semantics, re-expressed on the commitlog's
one primitive):

* the cursor is a monotone sequence of `cursor-<version>.json` files
  published with put-if-absent `os.link` — the same atomic primitive
  as the table's own commit log, so it transfers to object stores;
* each poll reads (cursor, head], hands the batch to the caller's
  sink, and only THEN commits the new cursor — a crash between the
  two replays the same window next poll (at-least-once; exactly-once
  when the sink is idempotent, which is exactly the contract Spark
  gives foreachBatch);
* two consumers sharing a consumer_id race safely: both process the
  same window, the cursor link is first-writer-wins, and the loser's
  FileExistsError is a success (identical content).

Reference analogue: the reference's resumable batch polling loop
(batch tracker + durable batch_objects.jsonl,
base_batch_request_processor.py:300-309, 438-481) — generalized from
"this run's own requests" to any downstream consumer of the table.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .checkpoint import make_ledger, read_changes, table_changes


def _cursor_dir(out_dir: str, consumer_id: str) -> str:
    if not consumer_id or "/" in consumer_id or consumer_id.startswith("."):
        raise ValueError(f"bad consumer_id {consumer_id!r}")
    return os.path.join(out_dir, "_consumers", consumer_id)


def consumer_position(out_dir: str, consumer_id: str) -> int:
    """The last table version this consumer has fully processed
    (0 = nothing yet — the first poll bootstraps the whole table)."""
    d = _cursor_dir(out_dir, consumer_id)
    if not os.path.isdir(d):
        return 0
    vs = [int(fn[7:-5]) for fn in os.listdir(d)
          if fn.startswith("cursor-") and fn.endswith(".json")]
    return max(vs, default=0)


def _commit_cursor(out_dir: str, consumer_id: str, version: int,
                   rows: int) -> None:
    from .checkpoint import get_atomic_store
    d = _cursor_dir(out_dir, consumer_id)
    os.makedirs(d, exist_ok=True)
    payload = json.dumps({"version": int(version), "rows": int(rows),
                          "pid": os.getpid()}).encode()
    # same put-if-absent seam as the commit log: a racing consumer with
    # the same id committing the same window is a success (identical
    # content), and the primitive transfers to object stores unchanged
    get_atomic_store().put_if_absent(
        os.path.join(d, f"cursor-{int(version):012d}.json"), payload)
    _gc_cursors(d, keep_tail=CURSOR_KEEP_TAIL)


# how many superseded cursor files to retain behind the max — a small
# crash-safety tail (a racer mid-commit may still be fsyncing an older
# cursor; position only ever reads the max, so the tail is purely
# forensic)
CURSOR_KEEP_TAIL = 4


def _gc_cursors(d: str, keep_tail: int = CURSOR_KEEP_TAIL) -> None:
    """Best-effort reclaim of superseded cursor files. Cursors are
    write-once and position is max(listdir), so without GC a long-lived
    consumer accretes one file per advancing poll and the listdir scan
    grows with table age — the same unbounded-history problem log
    checkpoints solve for the commit log. Keeping the max plus a short
    tail preserves crash-safety (the max is never removed; a concurrent
    committer's new max only ever extends the kept set)."""
    try:
        vs = sorted(int(fn[7:-5]) for fn in os.listdir(d)
                    if fn.startswith("cursor-") and fn.endswith(".json"))
    except OSError:
        return
    for v_ in vs[:-(keep_tail + 1)] if len(vs) > keep_tail + 1 else []:
        try:
            os.unlink(os.path.join(d, f"cursor-{v_:012d}.json"))
        except OSError:
            pass


def consume_changes(spark: SparkSession, out_dir: str, consumer_id: str,
                    sink: Callable[[DataFrame, int, int], None]) -> dict:
    """One poll: read the rows inserted in (cursor, head], hand them to
    `sink(batch_df, since_version, until_version)`, then advance the
    durable cursor to head. Returns {consumed_rows, since, until,
    advanced} — advanced=False means the table had nothing new.

    The sink runs BEFORE the cursor commit, so a crash inside it
    replays the identical window on the next poll: make the sink
    idempotent (write to a path keyed on until_version, MERGE on a
    key, etc.) and the pipeline is exactly-once end to end. An empty
    window still advances the cursor (versions that only compacted,
    deleted, or restored produce no feed rows but are consumed).

    A cursor that has fallen behind vacuum's retention window raises
    FileNotFoundError (from read_changes) rather than silently feeding
    a partial batch — re-bootstrap the consumer deliberately."""
    ledger = make_ledger(out_dir)
    since = consumer_position(out_dir, consumer_id)
    head = ledger.latest_version() or 0
    if head <= since:
        return {"consumed_rows": 0, "rows_deleted": 0,
                "since": since, "until": since, "advanced": False}
    # rows_inserted from the log alone decides whether the batch is
    # worth a Spark job at all (pure metadata; zero data I/O)
    ch = table_changes(out_dir, since, head)
    n = int(ch["rows_inserted"])
    if n > 0:
        sink(read_changes(spark, out_dir, since, head),
             since, head)
    _commit_cursor(out_dir, consumer_id, head, n)
    # rows_deleted surfaces deletions/rollbacks in the window — an
    # incremental trainer that must also FORGET (right-to-be-forgotten
    # downstream) keys a full re-derivation off this signal
    return {"consumed_rows": n, "rows_deleted": int(ch["rows_deleted"]),
            "since": since, "until": head, "advanced": True}
