"""Write-Audit-Publish (WAP) branching over the commitlog table.

The pattern (Iceberg's audit branches / Netflix's WAP, Delta's
`CLONE` + replay): a producer never writes risky data straight into
the table consumers read. Instead it

1. **writes** into a BRANCH — a zero-copy fork of the table
   (`create_branch`, built on clone.py's hard-linked shallow clone,
   so branching a 100 TB table moves zero bytes);
2. **audits** the branch with whatever gates it likes (expectations
   rules, row counts, dedup-rate sanity) — the branch is a full table:
   every verb in this package (append, MERGE, DELETE, compact) works
   on it unchanged;
3. **publishes** atomically (`publish_branch`): the branch's NET state
   change vs its fork point becomes ONE commit on the source table,
   admitted at exactly `base_version + 1` via the log's put-if-absent
   primitive. Consumers see nothing of the branch until that single
   commit lands, and then they see all of it.

Publish is FAST-FORWARD-ONLY: if any writer advanced the source past
the fork point, the put-if-absent of `v{base+1}` loses and
`PublishConflict` is raised — re-branch from the new head and replay
(the same optimistic-concurrency rule every writer in checkpoint.py
follows, surfaced as an explicit conflict instead of a silent retry,
because a branch's changes were audited against the OLD base and must
not be transplanted onto a moved one without re-auditing).

Why the single-commit publish is atomic AND cheap at 100 TB: data
files written on the branch live under the branch's own data dir with
shard-unique immutable names; publish hard-links them into the source
data dir (object-store adapters: server-side copy) BEFORE attempting
the commit, so a lost race leaves only invisible unreferenced files —
exactly the debris `vacuum` already reclaims — and never a partial
table state. The commit itself is metadata-sized (one actions list).

Run/ledger state (`run_success`, run memoization) stays branch-local:
publish moves DATA and TABLE METADATA, not the branch's run ledger —
a resumed run on the source must re-derive its own state.

Reference analogue: the reference's durable batch state machine
verifies a whole batch before results become visible to the caller
(base_batch_request_processor.py:300-309 — submitted→finished→
downloaded with validation between); WAP is that verify-then-expose
contract lifted to table commits.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone
from typing import Callable

from .checkpoint import (
    _check_writer_protocol, _meta_actions, _protocol_action, make_ledger)
from .clone import clone_table


class PublishConflict(RuntimeError):
    """The source table advanced past the branch's fork point — the
    audited changes no longer apply cleanly. Re-branch and replay."""


def create_branch(src_dir: str, branch_dir: str) -> dict:
    """Fork `src_dir` at its current head into a WAP branch at
    `branch_dir` (zero data copy; see clone.py). Records provenance
    — source path + fork version — in the branch's table metadata, so
    publish knows its fast-forward target. Returns the clone summary
    plus {base_version}."""
    src = make_ledger(src_dir)
    base = src.latest_version()
    if base is None:
        raise ValueError(f"{src_dir} has no commits to branch from")
    info = clone_table(src_dir, branch_dir, version=base)
    bl = make_ledger(branch_dir)
    bl.set_table_meta({"_wap": {
        "source": os.path.abspath(src_dir), "base_version": int(base)}})
    info["base_version"] = int(base)
    return info


def _canon_marker(m: dict | None) -> str:
    return json.dumps(m, sort_keys=True) if m else ""


def publish_branch(src_dir: str, branch_dir: str,
                   audit: Callable | None = None,
                   spark=None) -> dict:
    """Atomically fast-forward `src_dir` with the branch's net changes.

    `audit`, if given, is called with the branch's committed DataFrame
    (requires `spark`); raising from it aborts the publish — that is
    the WAP gate. Returns {published_version, parts_added,
    parts_removed, files_linked}; `published_version` is None when the
    branch holds no net change. Raises PublishConflict if the source
    head moved past the fork point."""
    bl = make_ledger(branch_dir)
    committed_b, _success_b, meta_b, txns_b = bl.snapshot()
    prov = (meta_b or {}).get("_wap") or {}
    if not prov or "base_version" not in prov:
        raise ValueError(f"{branch_dir} is not a WAP branch "
                         "(no _wap provenance in table metadata)")
    base = int(prov["base_version"])
    if os.path.abspath(src_dir) != prov["source"]:
        raise ValueError(
            f"branch was forked from {prov['source']}, not {src_dir}")
    sl = make_ledger(src_dir)

    if audit is not None:
        if spark is None:
            raise ValueError("audit requires spark")
        from .checkpoint import read_committed
        audit(read_committed(spark, branch_dir))  # raise ⇒ abort

    committed_s, _s_succ, meta_s, txns_s = sl.snapshot(version=base)

    actions: list[dict] = []
    link_jobs: list[tuple[int, str]] = []
    live_b = {int(p) for p, m in committed_b.items()
              if m and m.get("status") == "COMMITTED"}
    for p in sorted(live_b):
        m = committed_b[p]
        if _canon_marker(m) == _canon_marker(committed_s.get(p)):
            continue  # untouched since fork
        actions.append({"type": "add", "part": int(p),
                        "marker": dict(m)})
        for fn in (m.get("files") or {}):
            link_jobs.append((int(p), fn))
    for p, m in sorted(committed_s.items()):
        if m and m.get("status") == "COMMITTED" and int(p) not in live_b:
            actions.append({"type": "remove", "part": int(p)})

    # table-metadata delta (schema evolution, constraints, bucket spec
    # changed ON the branch) — key-merged on replay, so ship only the
    # changed keys; provenance and protocol ride separately
    meta_delta = {k: v for k, v in (meta_b or {}).items()
                  if k not in ("_wap", "_protocol")
                  and json.dumps(v, sort_keys=True)
                  != json.dumps((meta_s or {}).get(k), sort_keys=True)}
    actions += _meta_actions(meta_delta)
    proto_b = (meta_b or {}).get("_protocol")
    ratchet = proto_b and _protocol_action(meta_s or {}, **proto_b)
    if ratchet:
        actions.append(ratchet)
    for app, v in sorted((txns_b or {}).items()):
        if int(v) > int((txns_s or {}).get(app, -1)):
            actions.append({"type": "txn", "app_id": str(app),
                            "txn_version": int(v)})

    if not actions:
        return {"published_version": None, "parts_added": 0,
                "parts_removed": 0, "files_linked": 0}

    # writer gate against the SOURCE's protocol (same rule as _append)
    _check_writer_protocol(sl.snapshot()[2].get("_protocol"))

    # stage data before the commit: unreferenced-on-failure, never a
    # partial table. Same-named files are immutable by construction
    # (shard-unique names), so an existing destination IS the file.
    linked = 0
    for p, fn in link_jobs:
        sp = os.path.join(branch_dir, "data", f"part={p}", fn)
        dp_dir = os.path.join(src_dir, "data", f"part={p}")
        dp = os.path.join(dp_dir, fn)
        if os.path.exists(dp):
            continue
        os.makedirs(dp_dir, exist_ok=True)
        try:
            os.link(sp, dp)
        except FileExistsError:
            pass  # racer staged the same immutable file
        except OSError:
            # cross-device (object-store: server-side COPY). A bare
            # copy2 is not atomic — a crash mid-copy would leave a
            # truncated file that a retried publish skips as complete
            # (the exists-check above is only safe for os.link). Copy
            # to a temp name in the destination dir, then rename into
            # place: atomic on the same filesystem.
            tmp = dp + f".publish-tmp-{os.getpid()}"
            try:
                shutil.copy2(sp, tmp)
                os.rename(tmp, dp)
            finally:
                if os.path.exists(tmp):
                    try:
                        os.remove(tmp)
                    except OSError:
                        pass
        linked += 1

    payload = json.dumps({
        "actions": actions, "writer_pid": os.getpid(),
        "wap_publish": {"branch": os.path.abspath(branch_dir),
                        "base_version": base},
        "ts": datetime.now(timezone.utc).isoformat()}).encode()
    target = base + 1
    ok = sl.store.put_if_absent(
        os.path.join(sl.dir, f"v{target:012d}.json"), payload)
    if not ok:
        raise PublishConflict(
            f"source {src_dir} advanced past fork version {base}; "
            "re-branch from the new head, re-audit, and publish again")
    if target % sl.CKPT_INTERVAL == 0:
        try:
            sl._write_checkpoint(target)
        except Exception:
            pass
    return {"published_version": target,
            "parts_added": sum(1 for a in actions if a["type"] == "add"),
            "parts_removed": sum(1 for a in actions
                                 if a["type"] == "remove"),
            "files_linked": linked}


def drop_branch(branch_dir: str) -> None:
    """Delete an (un)published branch. Always safe: branch data files
    are names in the BRANCH's data dir — the source's names (and the
    shared inodes behind published/cloned files) are untouched."""
    bl_dir = os.path.join(branch_dir, "_commitlog")
    if not os.path.isdir(bl_dir):
        raise ValueError(f"{branch_dir} is not a commitlog table")
    meta = make_ledger(branch_dir).snapshot()[2] or {}
    if not meta.get("_wap"):
        raise ValueError(f"{branch_dir} is not a WAP branch — refusing "
                         "to delete a primary table")
    shutil.rmtree(branch_dir)
