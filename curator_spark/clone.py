"""SHALLOW CLONE: fork a committed table at a version with ZERO data
copy (Delta's CREATE TABLE ... SHALLOW CLONE).

The clone is a brand-new table directory whose commit log starts at
version 0 with the source's full snapshot state — partitions, file
manifests, per-file stats, deletion vectors, table metadata (schema,
constraints, column mapping, bucket spec, protocol features), run
memoization state, and writer txn markers (carried so an idempotent
writer replaying an epoch into the fork is still skipped, never
double-applied). Data files are HARD-LINKED into the clone's data
directory, not copied:

* zero bytes of data move at any table size — the clone of a 100 TB
  table is a metadata-sized operation (on an object store the same
  verb maps to server-side COPY, which S3/GCS execute without data
  transfer through the client; the one local primitive used here is
  `os.link`, the same one the commit log itself builds on);
* both tables stay fully independent afterwards: every write verb in
  this package (recompute, append, compact, DELETE, MERGE, restore)
  publishes NEW files and never mutates a committed file in place, so
  a post-clone write on either side is invisible to the other;
* vacuum stays safe on both sides: it removes names under its OWN
  data directory only, and unlinking one name of a multiply-linked
  inode leaves the other table's name (and the shared bytes) intact.

History does NOT carry over: the clone's time travel starts at its own
version 0 (as in Delta — CLONE depends on the source snapshot, not on
the source log). Reference analogue: forking a run from the durable
batch ledger state (base_batch_request_processor.py:300-309) without
re-downloading any batch output.
"""

from __future__ import annotations

import os
import shutil

from .checkpoint import _meta_actions, _protocol_action, make_ledger


def clone_table(src_dir: str, dst_dir: str, version: int | None = None,
                asof=None) -> dict:
    """Shallow-clone `src_dir` (a commitlog table) into `dst_dir` at
    the head, at VERSION AS OF `version`, or at TIMESTAMP AS OF
    `asof`. Returns {cloned_version, n_parts, n_files, n_rows,
    linked, copied}. Refuses to clone onto an existing table and
    refuses a source without commits."""
    if version is not None and asof is not None:
        raise ValueError("pass version= or asof=, not both")
    src = make_ledger(src_dir)
    if src.latest_version() is None:
        raise ValueError(f"{src_dir} has no commit log to clone from")
    if asof is not None:
        version = src.version_at(asof)
    committed, success, meta, txns = src.snapshot(version=version)
    cloned_version = version if version is not None \
        else src.latest_version()

    if make_ledger(dst_dir).latest_version() is not None:
        raise ValueError(f"destination {dst_dir} is already a table — "
                         "clone refuses to overwrite")
    os.makedirs(os.path.join(dst_dir, "data"), exist_ok=True)

    n_files = n_rows = n_parts = linked = copied = 0
    actions: list[dict] = []
    for part, marker in sorted(committed.items()):
        if not marker or marker.get("status") != "COMMITTED":
            continue
        files = marker.get("files") or {}
        src_pd = os.path.join(src_dir, "data", f"part={int(part)}")
        dst_pd = os.path.join(dst_dir, "data", f"part={int(part)}")
        os.makedirs(dst_pd, exist_ok=True)
        for fn in files:
            sp = os.path.join(src_pd, fn)
            dp = os.path.join(dst_pd, fn)
            try:
                os.link(sp, dp)  # zero-copy: one inode, two names
                linked += 1
            except OSError:
                # cross-device fallback (object-store adapters map this
                # branch to a server-side copy)
                shutil.copy2(sp, dp)
                copied += 1
        n_files += len(files)
        n_rows += int(marker.get("n_rows", 0))
        n_parts += 1
        actions.append({"type": "add", "part": int(part),
                        "marker": dict(marker)})

    # snapshot metadata travels in the SAME version-0 commit as the
    # manifests, so no reader can observe files without their schema/
    # constraints/mapping (the rule every multi-action commit here
    # follows). The protocol requirement rides its own ratchet action;
    # everything else is one table_meta merge.
    meta = dict(meta or {})
    protocol = meta.pop("_protocol", None)
    actions += _meta_actions(meta)
    if protocol:
        actions.append(_protocol_action({}, **protocol))
    if success:
        actions.append({"type": "run_success",
                        "run_id": success["run_id"],
                        "n_parts": success["n_parts"]})
    for app_id, txn_version in sorted((txns or {}).items()):
        actions.append({"type": "txn", "app_id": str(app_id),
                        "txn_version": int(txn_version)})

    dst = make_ledger(dst_dir)
    dst._append(actions)
    return {"cloned_version": cloned_version, "n_parts": n_parts,
            "n_files": n_files, "n_rows": n_rows,
            "linked": linked, "copied": copied}
