"""Operator-level tests: dedup (exact, Jaccard, MinHash/LSH, SimHash),
similarity search (cosine top-k, sign-bucket ANN, near-dup pairs), and
the docs→transcripts ingest adapter. Oracles here are independent
pure-Python/numpy implementations.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from curator_spark.ingest import TURN_TOKENS, docs_to_transcripts
from curator_spark.operators import dedup, similarity

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bend"),
    (2, "completely different content about spark query engines and shuffles"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (4, "short text"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _shingles(text: str, n: int) -> set[str]:
    toks = [t for t in text.lower().split(" ") if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def test_exact_dedup(docs_df):
    out = {r.h: (r.canonical_id, r.n_dups)
           for r in dedup.exact_dedup(docs_df).collect()}
    assert len(out) == 4  # 5 docs, one exact dup
    assert (0, 2) in out.values()  # docs 0 and 3 collapse to canonical 0


def test_jaccard_pairs_matches_python(docs_df):
    n, thr = 3, 0.5
    got = {(r.id_a, r.id_b): r.jaccard
           for r in dedup.jaccard_pairs(docs_df, n=n, threshold=thr).collect()}
    want = {}
    for i, (ia, ta) in enumerate(DOCS):
        for ib, tb in DOCS[i + 1:]:
            sa, sb = _shingles(ta, n), _shingles(tb, n)
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= thr:
                want[(ia, ib)] = round(j, 4)
    assert got == want
    assert (0, 3) in got and got[(0, 3)] == 1.0  # exact dup
    assert (0, 1) in got  # near dup


def test_lsh_finds_exact_and_near_dups(docs_df):
    pairs = {(r.id_a, r.id_b)
             for r in dedup.lsh_candidate_pairs(docs_df, n=3).collect()}
    assert (0, 3) in pairs        # identical docs share every band
    assert (2, 4) not in pairs    # disjoint docs share none
    # LSH candidates must cover all high-jaccard pairs on this fixture
    assert (0, 1) in pairs


def test_simhash_properties(docs_df):
    sigs = {r.doc_id: r.simhash for r in dedup.simhash(docs_df).collect()}
    assert all(len(s) == dedup.SIMHASH_BITS and set(s) <= {"0", "1"}
               for s in sigs.values())
    assert sigs[0] == sigs[3]  # identical text → identical signature
    ham01 = sum(a != b for a, b in zip(sigs[0], sigs[1]))
    ham02 = sum(a != b for a, b in zip(sigs[0], sigs[2]))
    assert ham01 <= ham02  # near-dup closer than unrelated


@pytest.fixture(scope="module")
def emb_df(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_cosine_topk_matches_numpy(emb_df):
    rows = emb_df.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype="float64") for r in rows}
    q = vecs[0]
    sims = {i: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
            for i, v in vecs.items()}
    want = sorted(sims.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:10]
    got = [(r.vec_id, r.cos_sim)
           for r in similarity.cosine_topk(emb_df, 0, k=10).collect()]
    assert [w[0] for w in want] == [g[0] for g in got]
    for (_, ws), (_, gs) in zip(want, got):
        assert math.isclose(ws, gs, abs_tol=1e-5)
    assert got[0] == (0, 1.0)  # query itself ranks first at cos=1


def test_signbucket_ann_contains_query(emb_df):
    got = similarity.signbucket_ann(emb_df, 0, k=5).collect()
    assert got[0].vec_id == 0 and got[0].cos_sim == 1.0
    assert len({r.bucket for r in got}) == 1  # all from the probe bucket


def test_neardup_pairs_symmetric_bound(emb_df):
    out = similarity.embedding_neardup_pairs(emb_df, threshold=0.3).collect()
    assert all(r.id_a < r.id_b and r.cos_sim >= 0.3 for r in out)


def test_docs_to_transcripts_shape(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    t = docs_to_transcripts(docs).orderBy("conv_id", "turn_idx").collect()
    n_expected = sum(max(math.ceil(len(txt.split()) / TURN_TOKENS), 1)
                     for _, txt in DOCS)
    assert len(t) == n_expected
    for r in t:
        assert r.role == ("user" if r.turn_idx % 2 == 0 else "assistant")
        assert r.part is not None and 0 <= r.part < 8
    # deterministic: second invocation byte-identical
    t2 = docs_to_transcripts(docs).orderBy("conv_id", "turn_idx").collect()
    assert t == t2


def test_bucketed_ann_partition_pruning(spark, emb_df, tmp_path):
    """The bucket filter must reach the scan as a PartitionFilter, and
    the pruned probe must agree with the unpartitioned bucketed ANN."""
    path = str(tmp_path / "emb_bucketed")
    similarity.write_bucketed(emb_df, path)
    qvec = emb_df.filter("vec_id = 0").collect()[0].embedding
    pruned = similarity.signbucket_ann_pruned(spark, path, qvec, k=5)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan \
        or "PartitionFilters: [" in plan and "bucket" in plan.split(
            "PartitionFilters")[1][:120]
    got = [(r.vec_id, r.cos_sim) for r in pruned.collect()]
    want = [(r.vec_id, r.cos_sim)
            for r in similarity.signbucket_ann(emb_df, 0, k=5).collect()]
    assert got == want


def test_dedup_decisions_end_to_end(docs_df):
    out = {r.doc_id: r.keep_dedup
           for r in dedup.dedup_decisions(docs_df, n=3, threshold=0.5).collect()}
    assert out[0] is True    # canonical of the exact-dup pair
    assert out[3] is False   # exact dup of 0 → dropped
    assert out[1] is False   # near-dup of 0 (higher id) → dropped
    assert out[2] is True and out[4] is True  # unique docs kept


def test_score_turns_safe_error_rows(spark):
    """A15 semantics: poison rows become error rows; healthy rows in the
    same batch still score; the job never fails."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from curator_spark import scoring
    from curator_spark.pipeline import score_turns_safe

    def poison_scorer(text: pa.Array) -> pa.StructArray:
        if pc.any(pc.match_substring(text, "POISON")).as_py():
            raise RuntimeError("scorer blew up")
        return scoring.score_text_array(text)

    df = spark.createDataFrame(
        [("c1", 0, "user", "a perfectly ordinary sentence here"),
         ("c1", 1, "assistant", "POISON pill in this row"),
         ("c2", 0, "user", "another healthy row of text")],
        ["conv_id", "turn_idx", "role", "text"])
    out = {(r.conv_id, r.turn_idx): r
           for r in score_turns_safe(df, scorer=poison_scorer).collect()}
    bad = out[("c1", 1)]
    assert bad.errors is not None and "scorer blew up" in bad.errors
    assert bad.lang is None and bad.ppl is None
    for key in (("c1", 0), ("c2", 0)):
        r = out[key]
        assert r.errors is None and r.lang is not None and r.scrubbed_text


def test_dedup_conversations(spark):
    """Two identical conversations collapse to one; distinct survives."""
    rows = []
    for conv in ("conv-a", "conv-b"):  # byte-identical content
        rows += [(conv, 0, "user", "hello there how are you doing today my friend"),
                 (conv, 1, "assistant", "doing great thanks for asking about it all")]
    rows += [("conv-c", 0, "user", "completely different topic entirely about spark"),
             ("conv-c", 1, "assistant", "yes spark shuffles and joins and aggregates")]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "text"])
    out = {r.conv_id: r.keep_dedup
           for r in dedup.dedup_conversations(df).collect()}
    assert out == {"conv-a": True, "conv-b": False, "conv-c": True}


def test_lsh_bucket_cap_drops_degenerate_bucket(spark):
    """One shared-boilerplate bucket must be droppable without touching
    discriminative buckets (quadratic-bucket scale guard)."""
    from pyspark.sql import functions as F

    from curator_spark.operators.dedup import lsh_candidate_pairs
    boiler = "lorem ipsum dolor sit amet " * 4
    rows = [(i, boiler) for i in range(30)]           # identical docs
    rows += [(100, "a unique doc about spark and parquet tables"),
             (101, "a unique doc about spark and parquet tables!")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = lsh_candidate_pairs(docs, n=3).count()
    capped = lsh_candidate_pairs(docs, n=3, max_bucket=10)
    got = capped.toPandas()
    # the 30-doc boilerplate cluster (435 pairs/band) is dropped; the
    # near-identical unique pair survives via its small buckets
    assert uncapped >= 435 + 1
    assert (100, 101) in set(zip(got.id_a, got.id_b))
    assert not ((got.id_a < 30) & (got.id_b < 30)).any()


def test_jaccard_stop_shingle_cap(spark):
    """Dropping ultra-frequent shingles bounds join fan-out while
    keeping denominators exact: a pair sharing ONLY stop-shingles loses
    its (spurious) similarity; a genuinely near-dup pair keeps its."""
    from curator_spark.operators.dedup import jaccard_pairs
    common = "the quick brown fox jumps"
    rows = [(i, common) for i in range(20)]           # stop-shingle herd
    rows += [(100, "completely novel sentence describing lakehouse compaction"),
             (101, "completely novel sentence describing lakehouse compaction runs")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = jaccard_pairs(docs, n=3, threshold=0.5, max_shingle_df=5).toPandas()
    pairs = set(zip(capped.id_a, capped.id_b))
    assert (100, 101) in pairs
    assert not any(a < 20 and b < 20 for a, b in pairs)


def test_multiprobe_recall_floor(spark):
    """ANN recall, measured: plant near-dup pairs whose sign sketches
    differ in exactly one bit (a coordinate close to the hyperplane
    flips) — single-bucket LSH loses them, radius-1 multi-probe
    recovers them. The recall numbers are deterministic (seeded
    fixture) and gated: multi-probe ≥ 0.9 and ≥ single-probe."""
    import numpy as np

    from curator_spark.operators.similarity import (
        embedding_neardup_bucketed, embedding_neardup_multiprobe,
        embedding_neardup_pairs, signbucket_ann, signbucket_ann_multiprobe)

    rng = np.random.default_rng(20260817)
    rows = []
    vid = 0
    flip_queries = []
    for i in range(24):
        base = rng.normal(size=16)
        base /= np.linalg.norm(base)
        rows.append((vid, [float(x) for x in base]))
        base_id = vid
        vid += 1
        dup = base.copy()
        j = int(np.argmin(np.abs(base[:8])))
        if i % 2 == 0:
            # flip the near-hyperplane coordinate: 1-bit sketch change
            dup[j] = -np.sign(base[j]) * 0.01 if base[j] != 0 else -0.01
            flip_queries.append((base_id, vid))
        else:
            dup[j] = np.sign(base[j]) * max(abs(base[j]), 0.01)
        dup = dup + rng.normal(size=16) * 0.003
        rows.append((vid, [float(x) for x in dup]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    thr = 0.85
    exact = {(r.id_a, r.id_b)
             for r in embedding_neardup_pairs(emb, thr).collect()}
    single = {(r.id_a, r.id_b)
              for r in embedding_neardup_bucketed(emb, thr).collect()}
    multi = {(r.id_a, r.id_b)
             for r in embedding_neardup_multiprobe(emb, thr).collect()}
    assert exact, "fixture degenerate: no true near-dup pairs"
    assert multi <= exact and single <= exact  # LSH never invents pairs
    recall_single = len(single & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    # the planted 1-bit flips are invisible to single-probe by design
    assert recall_single < 1.0
    assert recall_multi >= recall_single
    assert recall_multi >= 0.9

    # top-k face: the 1-bit-flipped dup is missed by the plain bucket
    # probe but found by magnitude-ranked multi-probe
    qid, dup_id = flip_queries[0]
    plain = {r.vec_id for r in signbucket_ann(emb, qid, k=3).collect()}
    probed = {r.vec_id
              for r in signbucket_ann_multiprobe(emb, qid, k=3).collect()}
    assert dup_id not in plain
    assert dup_id in probed


def test_knn_join_exact_matches_numpy(emb_df):
    """Exact batched KNN vs a per-query numpy brute force, including
    the (rounded-cos desc, neighbor asc) tiebreak order."""
    rows = emb_df.limit(120).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype="float64") for r in rows}
    emb = emb_df.limit(120)
    q = emb.filter("vec_id % 40 = 0")
    c = emb.filter("vec_id % 40 <> 0")
    got = similarity.knn_join_exact(q, c, k=3).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append(r)
    for qid in [v for v in vecs if v % 40 == 0]:
        qv = vecs[qid]
        sims = {i: float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
                for i, v in vecs.items() if i % 40 != 0}
        want = sorted(sims.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:3]
        mine = sorted(by_query[qid], key=lambda r: r.rnk)
        assert [w[0] for w in want] == [m.neighbor_id for m in mine]
        assert [m.rnk for m in mine] == [1, 2, 3]
        for (_, ws), m in zip(want, mine):
            assert math.isclose(ws, m.cos_sim, abs_tol=1e-5)


def test_knn_join_recall_on_planted_neighbors(spark):
    """The LSH path never invents neighbors, ranks its candidates the
    same way the exact path does, and recovers planted 1-bit-flip
    nearest neighbors that single-bucket probing would lose."""
    import numpy as np

    rng = np.random.default_rng(4242)
    rows, planted = [], {}
    vid = 0
    for i in range(20):
        base = rng.normal(size=16)
        base /= np.linalg.norm(base)
        qid = vid
        rows.append((vid, [float(x) for x in base])); vid += 1
        dup = base.copy()
        j = int(np.argmin(np.abs(base[:8])))
        dup[j] = -np.sign(base[j]) * 0.01 if base[j] != 0 else -0.01
        planted[qid] = vid
        rows.append((vid, [float(x) for x in dup])); vid += 1
        for _ in range(3):  # background corpus
            noise = rng.normal(size=16)
            rows.append((vid, [float(x) for x in noise / np.linalg.norm(noise)]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id % 5 = 0")       # the 20 query/base vectors
    c = emb.filter("vec_id % 5 <> 0")      # dups + noise
    approx = similarity.knn_join(q, c, k=1).collect()
    exact = similarity.knn_join_exact(q, c, k=1).collect()
    exact_top = {r.query_id: r.neighbor_id for r in exact}
    # the planted 1-bit-flip dup IS the true nearest neighbor
    assert all(exact_top[qid] == nid for qid, nid in planted.items())
    approx_top = {r.query_id: r.neighbor_id for r in approx}
    hits = sum(approx_top.get(qid) == nid for qid, nid in planted.items())
    assert hits / len(planted) >= 0.9  # radius-1 probe recovers the flip
    # LSH similarities are a subset of the exact candidate space
    exact_all = {(r.query_id, r.neighbor_id): r.cos_sim
                 for r in similarity.knn_join_exact(q, c, k=10**6).collect()}
    for r in approx:
        assert math.isclose(exact_all[(r.query_id, r.neighbor_id)],
                            r.cos_sim, abs_tol=1e-9)


def test_bloom_decontaminate_equals_exact(spark):
    """The Bloom prefilter is pruning only: with the exact confirm in
    place, decontaminate_bloom's output must equal decontaminate's on
    any input, and its plan must carry the bloom_filter_agg sketch."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter("doc_id % 10 = 0")
    train = docs.filter("doc_id % 10 <> 0")
    exact = dedup.decontaminate(train, bench, n=3)
    bloom = dedup.decontaminate_bloom(train, bench, n=3,
                                      expected_items=50_000)
    assert sorted(bloom.collect()) == sorted(exact.collect())
    plan = bloom._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan  # the Arrow-vectorized probe
    assert "_probe" in plan


def test_range_join_binned_equals_naive(spark):
    """Binned range join vs the naive BETWEEN cross join on intervals
    that straddle bins, nest, touch boundaries exactly, and overlap."""
    from curator_spark.operators.temporal import range_join_binned
    pts = spark.createDataFrame(
        [(i, "u", 100 * i) for i in range(60)],
        "pid: long, k: string, ts_us: long")
    iv = spark.createDataFrame(
        [(1, "u", 0, 999), (2, "u", 500, 2500), (3, "u", 2500, 2500),
         (4, "u", 1000, 5898), (5, "v", 0, 5898)],
        "iid: long, k: string, start_us: long, end_us: long")
    got = sorted((r["pid"], r["iid"]) for r in range_join_binned(
        pts, iv, on=["k"], bin_width=1000).collect())
    naive = sorted((r["pid"], r["iid"]) for r in pts.crossJoin(
        iv.withColumnRenamed("k", "k2"))
        .filter("k = k2 AND ts_us BETWEEN start_us AND end_us").collect())
    assert got == naive and len(got) > 0


def test_range_join_binned_guard_raises_on_fanout_bomb(spark):
    from curator_spark.operators.temporal import range_join_binned
    pts = spark.createDataFrame([(1, 5)], "pid: long, ts_us: long")
    iv = spark.createDataFrame([(1, 0, 10_000_000)],
                               "iid: long, start_us: long, end_us: long")
    with pytest.raises(Exception, match="bins"):
        range_join_binned(pts, iv, bin_width=10,
                          max_bins_per_interval=100).collect()


def test_remove_duplicate_segments(spark):
    """Cross-doc duplicated segments cut, order preserved, all-dup doc
    empties, unique docs untouched (seg_words=3 for a small fixture)."""
    from curator_spark.operators.dedup import remove_duplicate_segments
    boiler = "subscribe to our newsletter"   # will repeat across docs
    # 11 words at seg_words=5 → 3 segments [5][5][1]; the first is the
    # shared boilerplate window in docs 1 and 2
    docs2 = spark.createDataFrame([
        (1, f"{boiler} now alpha beta gamma delta epsilon zeta"),
        (2, f"{boiler} now one two three four five six"),
        (3, "totally unique content here nothing repeated at all"),
    ], "doc_id: long, text: string")
    out = {r["doc_id"]: r for r in remove_duplicate_segments(
        docs2, seg_words=5, min_df=2).collect()}
    assert out[1]["clean_text"] == "alpha beta gamma delta epsilon zeta"
    assert out[1]["n_segs"] == 3 and out[1]["n_removed"] == 1
    assert out[2]["clean_text"] == "one two three four five six"
    assert out[3]["n_removed"] == 0
    assert out[3]["clean_text"] == docs2.collect()[2]["text"]

    # a doc that is pure boilerplate empties but stays present
    docs3 = spark.createDataFrame(
        [(1, boiler), (2, boiler), (3, "a")],
        "doc_id: long, text: string")
    out3 = {r["doc_id"]: r for r in remove_duplicate_segments(
        docs3, seg_words=4, min_df=2).collect()}
    assert out3[1]["clean_text"] == "" and out3[1]["n_removed"] == 1
    assert out3[3]["clean_text"] == "a" and out3[3]["n_segs"] == 1


def _brute_span_dedup(texts: dict, n: int, min_df: int) -> dict:
    """Pure-Python oracle for remove_duplicate_spans: per doc, a token
    is removed iff covered by any sliding n-gram whose exact text
    occurs in >= min_df distinct docs."""
    toks = {d: [t for t in s.split(" ") if t] for d, s in texts.items()}
    df: dict = {}
    for d, ts in toks.items():
        for w in {" ".join(ts[i:i + n]) for i in range(len(ts) - n + 1)}:
            df[w] = df.get(w, 0) + 1
    out = {}
    for d, ts in toks.items():
        covered = [False] * len(ts)
        for i in range(len(ts) - n + 1):
            if df[" ".join(ts[i:i + n])] >= min_df:
                for j in range(i, i + n):
                    covered[j] = True
        kept = [t for t, c in zip(ts, covered) if not c]
        out[d] = (" ".join(kept), len(ts), len(ts) - len(kept))
    return out


def test_remove_duplicate_spans_maximal_merge(spark):
    """The sliding-window span dedup cuts a shared block WHOLE even
    when it straddles any fixed segment boundary (the case q70's
    disjoint segments split), and overlapping duplicated windows merge
    into one maximal span."""
    from curator_spark.operators.dedup import remove_duplicate_spans
    block = "please subscribe to our mailing list today friends"  # 8 toks
    docs = spark.createDataFrame([
        (1, f"alpha beta gamma {block} delta epsilon"),
        (2, f"one two {block} three four five"),
        (3, "totally unique content here nothing repeated at all nine"),
    ], "doc_id: long, text: string")
    out = {r["doc_id"]: r for r in
           remove_duplicate_spans(docs, n=5, min_df=2).collect()}
    # the whole 8-token block disappears from both docs — maximal span,
    # not 5-token quanta
    assert out[1]["clean_text"] == "alpha beta gamma delta epsilon"
    assert out[1]["n_removed"] == 8 and out[1]["n_tokens"] == 13
    assert out[2]["clean_text"] == "one two three four five"
    assert out[3]["n_removed"] == 0

    # docs shorter than n have no windows: identical 3-token docs stay
    # (exact-dedup's job, not span removal's)
    short = spark.createDataFrame(
        [(1, "tiny dup doc"), (2, "tiny dup doc")],
        "doc_id: long, text: string")
    outs = {r["doc_id"]: r for r in
            remove_duplicate_spans(short, n=5, min_df=2).collect()}
    assert outs[1]["clean_text"] == "tiny dup doc"
    assert outs[1]["n_removed"] == 0


def test_remove_duplicate_spans_matches_brute_force(spark):
    """Operator == pure-Python oracle on a deterministic corpus with
    overlapping repeats, full-dup docs, short docs, and empty text."""
    from curator_spark.operators.dedup import remove_duplicate_spans
    words = ["w%d" % (i % 17) for i in range(60)]
    texts = {
        1: " ".join(words[0:20]),
        2: " ".join(words[5:30]),       # overlaps doc 1 and doc 3
        3: " ".join(words[17:45]),
        4: " ".join(words[0:20]),       # exact dup of doc 1
        5: "unique alpha beta gamma delta epsilon zeta eta theta",
        6: "sho rt",
        7: "",
    }
    docs = spark.createDataFrame(sorted(texts.items()),
                                 "doc_id: long, text: string")
    got = {r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
           for r in remove_duplicate_spans(docs, n=4, min_df=2).collect()}
    assert got == _brute_span_dedup(texts, n=4, min_df=2)


def test_priority_dedup_elects_trusted_source(spark):
    """dedup_by_priority keeps the lowest-(priority, id) copy per key —
    a later doc from a trusted source beats an earlier one from a raw
    crawl (contrast exact_dedup's min-id rule)."""
    from curator_spark.operators.dedup import dedup_by_priority
    rows = [
        # fp 'x': doc 5 (priority 0, curated) must beat doc 1 (crawl 9)
        (1, "src9", 9, "x"), (5, "src0", 0, "x"), (7, "src9", 9, "x"),
        # fp 'y': priority tie → min doc_id wins
        (2, "src3", 3, "y"), (4, "src3", 3, "y"),
        # singleton group
        (3, "src1", 1, "z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, "
                               "priority long, fp string")
    out = {r["doc_id"]: r
           for r in dedup_by_priority(df, "fp", "priority").collect()}
    assert out[5]["is_canonical"] and out[5]["canon_id"] == 5
    assert not out[1]["is_canonical"] and out[1]["canon_id"] == 5
    assert out[1]["group_size"] == 3 and out[1]["n_priorities"] == 2
    assert out[2]["is_canonical"] and not out[4]["is_canonical"]
    assert out[3]["is_canonical"] and out[3]["group_size"] == 1


def test_priority_dedup_plan_is_agg_join_not_window(spark):
    """The boilerplate-fingerprint defense: election must plan as a
    map-side-combined aggregate + equi-join, never a window over the
    content fingerprint (one viral fingerprint would single-task its
    partition at corpus scale)."""
    from curator_spark.operators.dedup import dedup_by_priority
    df = spark.createDataFrame(
        [(1, "src0", 0, "x")],
        "doc_id long, source string, priority long, fp string")
    plan = (dedup_by_priority(df, "fp", "priority")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan
    assert "partial_min" in plan and "partial_count" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_compressed_permille_matches_zlib_and_flags(spark):
    """The compression signal equals a direct zlib computation row by
    row; prose passes, repeated boilerplate flags low, base64-ish noise
    flags high."""
    import base64
    import random
    import zlib

    from curator_spark.operators.textstats import (compressed_permille,
                                                   compression_flags)
    prose = ("The quick brown fox jumps over the lazy dog near the "
             "river bank while the sun sets slowly behind old hills. "
             "Every sentence differs a little, carrying new words and "
             "fresh structure, the way natural writing does over time.")
    boiler = "click here to subscribe " * 40
    rng = random.Random(7)
    noise = base64.b64encode(bytes(rng.getrandbits(8)
                                   for _ in range(600))).decode()
    rows = [("p", prose), ("b", boiler), ("n", noise), ("e", "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # bounds are corpus-tuned; these fit the fixture lengths (zlib
    # header overhead inflates short-text ratios; base64's floor is
    # ~6/8 = 750‰, so 750 separates it from the 709‰ prose here)
    got = {r["doc_id"]: r for r in
           compression_flags(df, min_pm=300, max_pm=750).collect()}
    for k, t in rows:
        want = (1000 if not t else
                len(zlib.compress(t.encode(), 6)) * 1000 // len(t.encode()))
        assert got[k]["compress_pm"] == want, (k, got[k]["compress_pm"], want)
    assert got["p"]["compression_ok"]
    assert got["b"]["too_compressible"] and not got["b"]["compression_ok"]
    assert got["n"]["too_random"] and not got["n"]["compression_ok"]
    # plan: narrow Arrow lane, no shuffle
    plan = compressed_permille(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "Exchange" not in plan


def test_bitext_margin_penalizes_hubs(spark):
    """Ratio margin (LASER/CCMatrix): a mutual near-duplicate pair must
    out-margin a hub vector that is moderately close to EVERYTHING —
    the exact failure mode raw-cosine mining has. All vectors share a
    sign bucket (all-positive leading dims) so candidates are dense."""
    from curator_spark.operators.similarity import bitext_margin_pairs

    def vec(*xs):
        v = [0.0] * 8
        for i, x in enumerate(xs):
            v[i] = x
        return [float(a) for a in v]

    rows = [
        # src 0 <-> tgt 1: an aligned pair (nearly identical)
        (0, vec(1.0, 0.9, 0.1, 0.2)),
        (1, vec(1.0, 0.9, 0.12, 0.2)),
        # tgt 3: the hub — positive mass everywhere, ~equally close to
        # all srcs (raw cosine would hand it to several of them)
        (3, vec(0.6, 0.6, 0.6, 0.6, 0.6, 0.6, 0.6, 0.6)),
        # src 2/4: unaligned srcs pointing elsewhere
        (2, vec(0.1, 0.2, 1.0, 0.8)),
        (4, vec(0.2, 0.1, 0.8, 1.0)),
        # tgt 5: a second distractor target
        (5, vec(0.3, 0.4, 0.5, 0.9)),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r["src_id"]: r for r in
           bitext_margin_pairs(emb, k=2, threshold=0.0, n_bits=2).collect()}
    # forward-best is unique per src by construction
    assert set(got) == {0, 2, 4}
    # the aligned pair wins for src 0 and with the highest margin of all
    assert got[0]["tgt_id"] == 1
    assert got[0]["margin"] > got[2]["margin"]
    assert got[0]["margin"] > got[4]["margin"]
    # hub suppression: the hub may be SOME src's best raw-cosine match,
    # but its margin must sit near 1 (its cos ≈ its neighborhood mean)
    for r in got.values():
        if r["tgt_id"] == 3:
            assert r["margin"] < got[0]["margin"] - 0.05


def test_knn_pagerank_mass_and_centrality(spark):
    """Power iteration invariants on a hand-built geometry: total rank
    mass stays 1 (teleport + dangling redistribution conserve it), and
    a hub every vector points at out-ranks peripheral nodes."""
    from curator_spark.operators.graph import knn_pagerank

    # one shared sign bucket (first 2 dims positive); hub at the
    # centroid, satellites displaced along MUTUALLY ORTHOGONAL extra
    # dims so every satellite's nearest neighbor is the hub
    # (cos(sat,hub)=2/(√2·√2.25)≈.943 > cos(sat,sat)=2/2.25≈.889)
    dims = 7
    hub = [1.0, 1.0] + [0.0] * (dims - 2)
    rows = [(0, hub)]
    for i in range(1, 6):
        v = list(hub)
        v[1 + i] = 0.5
        rows.append((i, v))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # 0<->1 form a 2-cycle: convergence rate is d^2=0.7225/round,
    # so give the power iteration enough rounds to damp the swap
    got = knn_pagerank(emb, k=1, n_bits=2, iters=24).collect()
    ranks = {r["vec_id"]: r["pagerank_ppm"] for r in got}
    assert abs(sum(ranks.values()) - 1e6) < 1.0  # mass conservation
    hub = ranks[0]
    assert all(hub > v for k, v in ranks.items() if k != 0)
    # output is sorted by rank desc
    assert [r["vec_id"] for r in got][0] == 0


def test_token_budget_sample_exact_and_bucket_invariant(spark):
    """Per group: kept tokens never exceed the budget, the NEXT doc in
    hash order would overflow it (maximality), and the result is
    invariant to the bucket-decomposition width (4 vs 16 buckets) —
    the parallelism knob must not change the corpus."""
    from curator_spark.operators.sampling import token_budget_sample

    rows = [(i, "web" if i % 3 else "code", 10 + (i * 7) % 50)
            for i in range(120)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tokens"])

    out16 = token_budget_sample(df, "source", "n_tokens", "doc_id",
                                budget_frac=0.5, n_hash_buckets=16)
    got = sorted((r["source"], r["doc_id"], r["cum_tokens"],
                  r["budget"], r["keep_budget"])
                 for r in out16.collect())
    per_group: dict = {}
    for src, _id, cum, budget, keep in got:
        per_group.setdefault(src, []).append((cum, budget, keep))
    for src, items in per_group.items():
        items.sort()
        kept = [c for c, b, k in items if k]
        dropped = [c for c, b, k in items if not k]
        budget = items[0][1]
        assert kept and max(kept) <= budget
        # maximality: the first dropped cum is the first overflow
        if dropped:
            assert min(dropped) > budget
            assert min(dropped) == min(c for c, b, k in items
                                       if c > budget)
    # n_hash_buckets is part of the sampling key (bucket-major walk
    # order): a different width is a different — equally valid —
    # uniform draw, with identical budgets and the same invariants
    out4 = token_budget_sample(df, "source", "n_tokens", "doc_id",
                               budget_frac=0.5, n_hash_buckets=4)
    got4 = sorted((r["source"], r["doc_id"], r["cum_tokens"],
                   r["budget"], r["keep_budget"])
                  for r in out4.collect())
    assert {(s, b) for s, _i, _c, b, _k in got} \
        == {(s, b) for s, _i, _c, b, _k in got4}
    # determinism: the same width re-run is bit-identical
    rerun = sorted((r["source"], r["doc_id"], r["cum_tokens"],
                    r["budget"], r["keep_budget"])
                   for r in token_budget_sample(
                       df.repartition(7), "source", "n_tokens", "doc_id",
                       budget_frac=0.5, n_hash_buckets=16).collect())
    assert rerun == got


def test_hard_negative_mining_label_and_order(spark):
    """Negatives never share the anchor's label; per-anchor list is
    similarity-descending; the nearest same-label vector (the trivial
    positive) is excluded even when it is globally closest."""
    from curator_spark.operators.similarity import hard_negative_mining

    rows = [
        (0, [1.0, 1.0, 0.0, 0.0], 0),
        (1, [1.0, 1.0, 0.02, 0.0], 0),   # near-twin, SAME label
        (2, [1.0, 1.0, 0.3, 0.0], 1),    # nearest other-label
        (3, [1.0, 1.0, 0.9, 0.0], 1),
        (4, [1.0, 1.0, 0.0, 0.9], 2),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = [r for r in hard_negative_mining(emb, k=2, n_bits=2).collect()
           if r["anchor_id"] == 0]
    assert [r["negative_id"] for r in got] == [2, 3]
    assert all(r["neg_label"] != r["anchor_label"] for r in got)
    assert got[0]["cos_sim"] >= got[1]["cos_sim"]


def test_bitext_mutual_election_subset_and_unique(spark):
    """mutual=True keeps only pairs where the target also elects the
    source: a subset of the forward pairs with UNIQUE targets."""
    from curator_spark.operators.similarity import bitext_margin_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    fwd = {(r["src_id"], r["tgt_id"])
           for r in bitext_margin_pairs(emb, threshold=0.0).collect()}
    mut = [(r["src_id"], r["tgt_id"])
           for r in bitext_margin_pairs(emb, threshold=0.0,
                                        mutual=True).collect()]
    assert set(mut) <= fwd and 0 < len(mut) <= len(fwd)
    tgts = [t for _, t in mut]
    assert len(tgts) == len(set(tgts))  # each target claimed once
