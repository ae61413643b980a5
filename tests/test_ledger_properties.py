"""Property-based protocol tests for the commitlog ledger
(PROTOCOL.md §3-§5): under ARBITRARY interleavings of every action
type, the log must satisfy its core invariants —

1. time travel is total history: the state read AS OF version v always
   equals the state that was current right after commit v;
2. log checkpoints are pure acceleration: deleting every checkpoint
   file (full-replay degradation) changes no answer at any version;
3. stale swaps never resurrect: a compact/delete whose remove set is
   no longer referenced leaves state untouched;
4. restore reproduces its target exactly and is itself a version.

Pure protocol — no Spark, no data files; runs hundreds of random
programs per suite execution."""

from __future__ import annotations

import copy
import itertools
import os
import uuid

import pytest
from hypothesis import given, settings, strategies as st

from curator_spark.checkpoint import ATOMIC_STORES, make_ledger

# one op = (kind, small ints); the interpreter below maps them onto
# ledger calls against whatever state the log has reached
OP = st.one_of(
    st.tuples(st.just("add"), st.integers(0, 3), st.integers(1, 3)),
    st.tuples(st.just("append"), st.integers(0, 3), st.integers(1, 2)),
    st.tuples(st.just("compact"), st.integers(0, 3)),
    st.tuples(st.just("stale_swap"), st.integers(0, 3)),
    st.tuples(st.just("delete_one"), st.integers(0, 3)),
    st.tuples(st.just("delete_partial"), st.integers(0, 3)),
    st.tuples(st.just("dv"), st.integers(0, 3), st.integers(0, 9)),
    st.tuples(st.just("dv_stale"), st.integers(0, 3)),
    st.tuples(st.just("remove"), st.integers(0, 3)),
    st.tuples(st.just("txn"), st.integers(0, 2), st.integers(0, 9)),
    st.tuples(st.just("meta"), st.integers(0, 2), st.integers(0, 9)),
    st.tuples(st.just("success"), st.integers(0, 9)),
    st.tuples(st.just("restore"), st.integers(0, 50)),
    st.tuples(st.just("rebucket"), st.integers(1, 4)),
    st.tuples(st.just("rebucket_stale"), st.integers(0, 3)),
    st.tuples(st.just("alter"), st.integers(0, 8)),
    st.tuples(st.just("bloomstats"), st.integers(0, 3)),
    st.tuples(st.just("bloomstats_stale"), st.integers(0, 3)),
)

_seq = itertools.count()


def _apply(led, op):
    """Drive one op; ops that need existing state read the snapshot
    first (exactly how the real maintenance code works)."""
    kind = op[0]
    parts = led.committed() if kind in (
        "compact", "stale_swap", "delete_one", "delete_partial",
        "dv") else None
    if kind == "add":
        _, p, nf = op
        files = {f"f{next(_seq)}-{i}.parquet": {"n_rows": 10 + i}
                 for i in range(nf)}
        led.commit_part({"part": p, "run_id": "r", "status": "COMMITTED",
                         "n_rows": sum(v["n_rows"] for v in files.values()),
                         "files": files})
    elif kind == "append":
        _, p, nf = op
        files = {f"a{next(_seq)}-{i}.parquet": {"n_rows": 5} for i in
                 range(nf)}
        led.append_part(p, files, 5 * nf, run_id=f"r{next(_seq)}")
    elif kind == "compact":
        _, p = op
        m = parts.get(p)
        if m and m.get("files"):
            led.compact_part(p, sorted(m["files"]),
                             {f"c{next(_seq)}.parquet":
                              {"n_rows": m["n_rows"]}})
    elif kind == "stale_swap":
        _, p = op
        # remove set references a file that is NOT in the manifest →
        # the whole swap must be ignored at replay
        led.compact_part(p, ["never-existed.parquet"],
                         {f"x{next(_seq)}.parquet": {"n_rows": 1}})
    elif kind == "delete_one":
        _, p = op
        m = parts.get(p)
        if m and m.get("files"):
            victim = sorted(m["files"])[0]
            led.merge_commit([{"type": "delete", "part": p,
                               "remove_files": [victim], "add_files": {}}])
    elif kind == "delete_partial":
        # filtered rewrite keeping some survivors — the delete shape
        # row-level right-to-be-forgotten actually produces
        _, p = op
        m = parts.get(p)
        if m and m.get("files"):
            victim = sorted(m["files"])[-1]
            n = int(m["files"][victim].get("n_rows", 0))
            if n > 1:
                led.merge_commit([{"type": "delete", "part": p,
                                   "remove_files": [victim],
                                   "add_files": {f"d{next(_seq)}.parquet":
                                                 {"n_rows": n - 1}}}])
    elif kind == "dv":
        # deletion vector: mark one row position of one live file —
        # repeats hit already-marked positions (union idempotence)
        _, p, r = op
        m = parts.get(p)
        if m and m.get("files"):
            victim = sorted(m["files"])[0]
            n_phys = int(m["files"][victim].get("n_rows", 0))
            if n_phys > 0:
                led.add_dv([(p, victim, [r % n_phys])])
    elif kind == "dv_stale":
        # dv against a file no manifest references: replay must ignore
        # it entirely (the mask analogue of a stale swap)
        led.add_dv([(op[1], "never-existed.parquet", [0])])
    elif kind == "rebucket":
        # whole-table spec change: gather live state, materialize the
        # dv masks, move every live row into `n` fresh partitions
        _, n = op
        parts = led.committed()
        expect = {p: {"files": sorted((m or {}).get("files") or {}),
                      "dv": {f: sorted(v) for f, v in
                             ((m or {}).get("dv") or {}).items() if v}}
                  for p, m in parts.items()}
        live = sum(int((m or {}).get("n_rows", 0))
                   for m in parts.values())
        newp = {}
        if live:
            per = [live // n + (1 if i < live % n else 0)
                   for i in range(n)]
            for i, c in enumerate(p_ for p_ in per if p_):
                rid = f"rb{next(_seq)}"
                newp[i] = {"part": i, "run_id": rid,
                           "status": "COMMITTED", "n_rows": c,
                           "files": {f"{rid}.parquet": {"n_rows": c}},
                           "runs": [rid]}
        led.rebucket(expect, newp, {"col": "conv_id", "n_parts": n,
                                    "fn": "md5full"})
    elif kind == "rebucket_stale":
        # expectation names a file no manifest references: the whole
        # swap must be ignored at replay (table AND spec unchanged)
        _, p = op
        rid = f"rbs{next(_seq)}"
        led.rebucket({p: {"files": ["never-existed.parquet"],
                          "dv": {}}},
                     {0: {"part": 0, "run_id": rid,
                          "status": "COMMITTED", "n_rows": 1,
                          "files": {f"{rid}.parquet": {"n_rows": 1}}}},
                     {"col": "conv_id", "n_parts": 9, "fn": "md5hex8"})
    elif kind == "remove":
        led.drop_part(op[1])
    elif kind == "txn":
        led.set_txn(f"app{op[1]}", op[2])
    elif kind == "meta":
        led.set_table_meta({f"k{op[1]}": op[2]})
    elif kind == "success":
        led.mark_run_success(f"run{op[1]}", op[1])
    elif kind == "restore":
        head = led.latest_version() or 0
        target = op[1] % (head + 1)
        parts_t, success_t, meta_t, txns_t = led.snapshot(version=target)
        led.restore(target, parts_t, success_t, meta_t, txns=txns_t)
    elif kind == "bloomstats":
        # advisory stats patch (bloom index): merged only while the
        # file is referenced; pure metadata, replay-deterministic
        p = op[1]
        m = led.committed().get(p)
        if m and m.get("files"):
            fn = sorted(m["files"])[0]
            led._append([{"type": "add_stats", "part": p, "stats": {
                fn: {"c0": {"bloom": "qg==", "bloom_m": 8,
                            "bloom_k": 1}}}}])
    elif kind == "bloomstats_stale":
        # patch against a file no manifest references: ignored whole
        led._append([{"type": "add_stats", "part": op[1], "stats": {
            "never-existed.parquet": {"c0": {"bloom": "qg==",
                                             "bloom_m": 8,
                                             "bloom_k": 1}}}}])
    elif kind == "alter":
        # column DDL interleaved with everything else: mapping +
        # retired_physical live in table_meta, so time travel,
        # checkpoint purity, and restore must reproduce them exactly
        from curator_spark.alter import (
            add_column, drop_column, rename_column)
        root_dir = os.path.dirname(led.dir)
        meta = led.table_meta()
        if not meta.get("schema"):
            led.set_table_meta({"schema": {"type": "struct", "fields": [
                {"name": "conv_id", "type": "string",
                 "nullable": True, "metadata": {}},
                {"name": "ppl", "type": "double",
                 "nullable": True, "metadata": {}}]}})
            return
        fields = [f["name"] for f in meta["schema"]["fields"]]
        k = op[1]
        try:
            if k % 3 == 0:
                rename_column(root_dir, fields[k % len(fields)],
                              f"col{next(_seq)}", ledger=led)
            elif k % 3 == 1:
                add_column(root_dir, f"add{next(_seq)}", "double",
                           ledger=led)
            elif len(fields) > 1:
                drop_column(root_dir, fields[k % len(fields)],
                            ledger=led)
        except ValueError:
            pass  # refusals (last column, etc.) are part of the surface


def _manifest_rows_consistent(parts):
    for m in parts.values():
        if m and m.get("files"):
            dv = m.get("dv") or {}
            # masks only ever reference live files, positions unique
            assert set(dv) <= set(m["files"])
            assert m["n_rows"] == sum(int(v.get("n_rows", 0))
                                      for v in m["files"].values()) \
                - sum(len(v) for v in dv.values())


# the whole property suite runs once per atomic store: os.link and the
# If-None-Match conditional-put emulation must satisfy every protocol
# invariant identically — the proof that the ledger depends only on the
# put-if-absent CONTRACT (PROTOCOL.md §2), not on POSIX link semantics
@pytest.mark.parametrize("store_name", sorted(ATOMIC_STORES))
@settings(max_examples=int(os.environ.get("LEDGER_PROP_EXAMPLES", "40")),
          deadline=None)
@given(st.lists(OP, min_size=1, max_size=40), st.data())
def test_random_programs_preserve_protocol_invariants(store_name, ops, data):
    root = f"/tmp/ledger_props/{uuid.uuid4().hex}"
    led = make_ledger(root)
    led.store = ATOMIC_STORES[store_name]()
    led.CKPT_INTERVAL = 8  # cross checkpoint boundaries often

    timeline: dict[int, tuple] = {}  # version → deep-copied state
    for op in ops:
        _apply(led, op)
        v = led.latest_version() or 0
        if v:
            timeline[v] = copy.deepcopy(led.snapshot())

    head = led.latest_version() or 0
    # (1) time travel is total history; manifests stay self-consistent
    for v, want in timeline.items():
        got = led.snapshot(version=v)
        assert got == want, f"time travel to v{v} diverged"
        _manifest_rows_consistent(got[0])
    # stale swaps: versions exist for them, but no manifest ever
    # references the poisoned rewrite
    for _, m in led.committed().items():
        if m:
            assert not any(fn.startswith("x") for fn in m.get("files") or {})

    # (1b) BOOTSTRAP FEED IDENTITY: over the full history, the change
    # feed's insert set carries exactly the live table's rows — under
    # ANY interleaving of adds, appends, compactions, partial deletes,
    # part drops, and restores. (A fresh consumer at cursor 0 must
    # never receive more or fewer rows than the table holds.)
    from curator_spark.checkpoint import table_changes
    if head:
        live_rows = sum(int((m or {}).get("n_rows", 0))
                        for m in led.committed().values())
        ch = table_changes(os.path.dirname(led.dir), 0, head)
        assert ch["rows_inserted"] == live_rows, \
            "full-history feed != live table"

    # (2) checkpoints are pure acceleration: remove them all, replay
    # from scratch — every answer identical
    if head:
        for c in led._checkpoints():
            os.remove(os.path.join(led.dir, f"ckpt-{c:012d}.json"))
        fresh = make_ledger(root)
        for v, want in timeline.items():
            assert fresh.snapshot(version=v) == want, \
                f"full replay diverged at v{v}"

    # (4) one more restore to a random recorded version reproduces it —
    # everything EXCEPT the protocol requirement, which never rolls
    # back (Delta's rule; an alter op may have ratcheted column-mapping
    # after the target, and restore must keep the stronger requirement)
    if timeline:
        from curator_spark.checkpoint import _merge_protocol
        target = data.draw(st.sampled_from(sorted(timeline)))
        parts_t, success_t, meta_t, txns_t = timeline[target]
        led.restore(target, parts_t, success_t, meta_t, txns=txns_t)
        g_parts, g_success, g_meta, g_txns = led.snapshot()
        g_meta, w_meta = dict(g_meta), dict(meta_t)
        g_proto = g_meta.pop("_protocol", None)
        w_proto = w_meta.pop("_protocol", None)
        assert (g_parts, g_success, g_meta, g_txns) == \
            (parts_t, success_t, w_meta, txns_t)
        # monotone: the restored protocol covers the target's
        assert _merge_protocol(g_proto, w_proto) == g_proto
        assert led.latest_version() > head  # rollback grew history


def test_dv_after_compaction_canonicalizes_feed():
    """Regression (found by the property harness, program
    add → compact → dv): a deletion vector landing on a COMPACTION
    OUTPUT — a file outside the feed's insert lineage — must still
    shrink the bootstrap feed. Reading the original insert files would
    deliver the masked-out rows; the fix canonicalizes the feed entry
    to the live post-dv manifest, exactly like the delete fallback."""
    from curator_spark.checkpoint import table_changes
    root = f"/tmp/ledger_props/{uuid.uuid4().hex}"
    led = make_ledger(root)
    _apply(led, ("add", 0, 1))    # one file, 10 rows
    _apply(led, ("compact", 0))   # rows renamed across file boundaries
    _apply(led, ("dv", 0, 0))     # mask row 0 of the compacted file
    head = led.latest_version()
    live = sum(int((m or {}).get("n_rows", 0))
               for m in led.committed().values())
    assert live == 9
    ch = table_changes(os.path.dirname(led.dir), 0, head)
    assert ch["rows_inserted"] == live, "feed would deliver deleted rows"
    assert ch["rows_deleted"] == 1
    # the feed entry now points at the live (compacted) file with the
    # mask annotated on it, not at the superseded original
    (files,) = ch["inserts"].values()
    (fn, meta), = files.items()
    assert fn.startswith("c") and meta.get("dv") == [0]
