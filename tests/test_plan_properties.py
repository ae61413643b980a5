"""Soundness property of the one file-pruning planner
(checkpoint._plan_files): over random files whose stats are built from
their own rows — exact min/max, null-only columns, missing entries,
Bloom filters with and without ranges — a random bucket spec, a random
column mapping, random conjunctions over = < <= > >= in, and optional
per-part key ranges, every file holding a row that satisfies the
conjunction is kept. Pure Python: no Spark, no data files."""

from __future__ import annotations

import base64

from hypothesis import given, settings, strategies as st

from curator_spark.checkpoint import BUCKET_FNS, _bloom_pos_py, _plan_files

KEYS = [f"c{i}" for i in range(12)]
N_VALS = list(range(-3, 8))
S_VALS = ["a", "b", "bb", "c", "zz"]
COLS = {"conv_id": KEYS, "n": N_VALS, "s": S_VALS}
# `n` and `s` may be renamed (files and stats hold the physical name);
# the bucket column and `part` never are
MAPPING = {"n": "n_phys_7", "s": "s_phys_3"}

ROW = st.fixed_dictionaries({
    "conv_id": st.sampled_from(KEYS),
    "n": st.one_of(st.none(), st.sampled_from(N_VALS)),
    "s": st.one_of(st.none(), st.sampled_from(S_VALS)),
    "part": st.integers(0, 3),
})


def _bloom(values, m_bits=64, k=3) -> dict:
    bits = bytearray(m_bits // 8)
    for v in {str(v) for v in values}:
        for i in range(k):
            j = _bloom_pos_py(v, i, m_bits)
            bits[j // 8] |= 1 << (j % 8)
    return {"bloom": base64.b64encode(bytes(bits)).decode(),
            "bloom_m": m_bits, "bloom_k": k}


def _col_stats(values, mode: str):
    """A sound stats entry for one column of one file, or None."""
    vals = [v for v in values if v is not None]
    nulls = len(values) - len(vals)
    ranged = {"min": min(vals) if vals else None,
              "max": max(vals) if vals else None, "nulls": nulls}
    if mode == "missing":
        return None
    if mode == "bloom":
        return {**ranged, **_bloom(vals)}
    if mode == "bloom_only":
        return _bloom(vals)
    return ranged


def _holds(row: dict, col: str, op: str, val) -> bool:
    """SQL semantics over one row: a NULL never satisfies."""
    x = row[col]
    if x is None:
        return False
    if op == "in":
        return x in val
    return {"=": x == val, "<": x < val, "<=": x <= val,
            ">": x > val, ">=": x >= val}[op]


def _triples_on(col: str):
    domain = COLS.get(col, list(range(4)))
    return st.one_of(
        st.tuples(st.just(col), st.sampled_from(["=", "<", "<=", ">", ">="]),
                  st.sampled_from(domain)),
        st.tuples(st.just(col), st.just("in"),
                  st.lists(st.sampled_from(domain), min_size=1, max_size=4)))


TRIPLE = st.sampled_from(sorted(COLS) + ["part"]).flatmap(_triples_on)


@st.composite
def _case(draw):
    bucket = draw(st.one_of(st.none(), st.fixed_dictionaries({
        "col": st.just("conv_id"), "n_parts": st.integers(1, 4),
        "fn": st.sampled_from(sorted(BUCKET_FNS))})))
    mapped = draw(st.booleans())
    meta = {"bucket": bucket} if bucket else {}
    if mapped:
        meta["column_mapping"] = dict(MAPPING)
    rows = draw(st.lists(ROW, min_size=1, max_size=40))
    if bucket:  # a bucketed table's rows live where their key hashes
        fn = BUCKET_FNS[bucket["fn"]]
        rows = [dict(r, part=fn(r["conv_id"], bucket["n_parts"]))
                for r in rows]
    # split each part's rows into files, each with its own stats modes
    committed: dict[int, dict] = {}
    holding: dict[tuple, list] = {}
    for r in rows:
        holding.setdefault((r["part"], draw(st.integers(0, 2))),
                           []).append(r)
    for (part, i), frows in sorted(holding.items()):
        name = f"f{i}.parquet"
        stats = {}
        for col in COLS:
            mode = draw(st.sampled_from(
                ["exact", "exact", "missing", "bloom", "bloom_only"]))
            entry = _col_stats([r[col] for r in frows], mode)
            if entry is not None:
                stats[MAPPING.get(col, col) if mapped else col] = entry
        m = committed.setdefault(part, {"files": {}, "stats": {}})
        m["files"][name] = {"n_rows": len(frows)}
        m["stats"][name] = stats
    conj = draw(st.lists(TRIPLE, max_size=3))
    keys = None
    if draw(st.booleans()):
        keys = draw(st.lists(st.sampled_from(KEYS), min_size=1,
                             max_size=5))
    return meta, committed, holding, conj, keys


def _key_ranges_py(keys: list, meta: dict, committed: dict) -> dict:
    """`_key_ranges`' contract in pure Python: per bucket when the
    table buckets on the key, else one global range for every part."""
    b = meta.get("bucket")
    if b:
        fn = BUCKET_FNS[b["fn"]]
        out: dict[int, tuple] = {}
        for k in keys:
            p = fn(k, b["n_parts"])
            lo, hi = out.get(p, (k, k))
            out[p] = (min(lo, k), max(hi, k))
        return out
    return {p: (min(keys), max(keys)) for p in committed}


@settings(max_examples=400, deadline=None)
@given(_case())
def test_planner_keeps_every_file_holding_a_match(case):
    meta, committed, holding, conj, keys = case
    key_ranges = None if keys is None \
        else ("conv_id", _key_ranges_py(keys, meta, committed))
    files, untouched = _plan_files(committed, meta, conj, key_ranges)

    n_files = sum(len(m["files"]) for m in committed.values())
    assert untouched == n_files - sum(len(fs) for fs in files.values())
    for (part, i), frows in holding.items():
        match = any(all(_holds(r, c, op, v) for c, op, v in conj)
                    and (keys is None or r["conv_id"] in keys)
                    for r in frows)
        if match:
            assert f"f{i}.parquet" in files.get(part, []), (
                part, i, conj, keys, committed[part]["stats"])
