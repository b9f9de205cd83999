"""Plan-quality regression tests: the optimizations SCALE.md claims must
stay visible in the optimized/executed plans (pushdown, pruning,
broadcast, anti-join)."""

from __future__ import annotations

import os

from extract_permits_spark.plans import analytics

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = analytics.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_filter_pushdown_and_pruning(spark):
    plan = _plan(spark, "s1_scan_filter_order")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # pruned read: only the 4 needed columns reach the scan
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint," in plan
    assert "l_extendedprice" not in plan


def test_dim_joins_broadcast(spark):
    for name in ("s2_dim_join_filter", "j1_preagg_join", "q5_nation_volume"):
        assert "BroadcastHashJoin" in _plan(spark, name), name


def test_anti_join_planned(spark):
    assert "LeftAnti" in _plan(spark, "j2_anti_join")


def test_aggregate_partial_pushdown(spark):
    # grouped aggregation plans with a partial (map-side) HashAggregate
    plan = _plan(spark, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_no_python_udfs_in_core_queries(spark):
    # §2.10: the reference-surface queries stay JVM-side; Python appears
    # only in the explicitly Arrow-batched ops (mm_binary_features)
    for name in (
        "q1_pricing_summary",
        "x1_explode_pipe_list",
        "p_clean_bundle",
        "e1_validate_partition",
        "dedup_exact",
        "text_quality",
    ):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_multimodal_is_arrow_batched(spark):
    # the one sanctioned Python op runs via Arrow (mapInPandas), not
    # row-at-a-time pickling
    plan = _plan(spark, "mm_binary_features")
    assert "MapInPandas" in plan


def test_range_join_avoids_nested_loop(spark):
    # the banded range join must plan as an equi-join; the naive
    # conditional form plans as BroadcastNestedLoopJoin (O(n·m))
    plan = _plan(spark, "j8_range_join")
    assert "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_asof_join_single_shuffle(spark):
    # as-of = union + one window over the key: exactly one hash exchange
    # per side feeding the window sort, no join operator at all
    plan = _plan(spark, "j7_asof_join")
    assert "Join" not in plan.replace("AdaptiveSparkPlan", "")
    assert "Window" in plan


def test_no_driver_collect_in_registry():
    """No registry entry may materialize a table on the driver: `.collect()`
    is banned from EVERY module that registers entries (bounded `.first()`
    / `.limit(k)` probes are the allowed driver-side scalars). Guards
    against the r1 s1_socrata_pull regression class. Post-r12-split the
    surface spans the hub, _registry, the four chunk modules, and
    tpch_extra — inspecting only `analytics` would cover the 149-line
    hub and nothing else."""
    import inspect

    from extract_permits_spark.plans import (
        _registry,
        analytics_core,
        analytics_corpus,
        analytics_events,
        analytics_rag,
        tpch_extra,
    )

    for mod in (
        analytics, _registry, analytics_core, analytics_corpus,
        analytics_events, analytics_rag, tpch_extra,
    ):
        src = inspect.getsource(mod)
        assert ".collect()" not in src, f"driver-side collect() in {mod.__name__}"


def test_lsh_topk_single_scan(spark):
    """r3: lsh_bucketed_topk computes all L table signatures in ONE
    projection over ONE corpus scan — the unioned-scans shape read the
    corpus L times and paid a dropDuplicates exchange."""
    plan = _plan(spark, "ann_lsh_topk")
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    # no dedup shuffle: the only exchange allowed is the top-k singleton
    assert "Union" not in plan


def test_emb_neardup_bucket_join_not_allpairs(spark):
    """r3: the embedding near-dup pair path must be an equi-join on
    (table, signature) buckets, never a nested-loop pairwise compare."""
    plan = _plan(spark, "emb_neardup_lsh")
    assert "NestedLoop" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_ivf_assignment_argmin_is_compact(spark):
    """r3 SCALE.md rule: the centroid-assignment argmin must be the
    array_position(array_min) form. The least()+when-chain spelling
    re-embeds every distance subtree O(k) times (~140k-node trees,
    ~20s driver-side analysis); source-assert the compact spelling."""
    import inspect

    from extract_permits_spark.functions import similarity

    src = inspect.getsource(similarity._nearest_by_l2)
    assert "array_position" in src and "array_min" in src


def test_ivf_persisted_index_partition_prunes(spark, tmp_path):
    """The IVF write-once contract: a query over the persisted index must
    read ONLY its probed clusters' partition directories — visible as
    PartitionFilters on the scan and equal results vs the in-memory path."""
    from pyspark.sql import functions as F

    from extract_permits_spark.functions import similarity as simfn
    from extract_permits_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    indexed, cents = simfn.ivf_index(emb, num_clusters=16, rounds=1)
    path = str(tmp_path / "ivf")
    simfn.write_ivf_index(indexed, path)
    got = simfn.ivf_topk_from_index(spark, path, cents, qvec, k=20, num_probes=6)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan
    # equal results vs the in-memory path with the same index
    want = simfn.ivf_topk(
        emb, qvec, k=20, num_probes=6, index=(indexed, cents)
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_no_bnlj_in_headline_plans(spark):
    # r5-VERDICT ask #5: the headline bench set must contain no
    # BroadcastNestedLoopJoin — the brute-force recall-oracle twins
    # (dedup_embedding_cosine et al.) are registry-only surface.
    # Exemptions: rag_bm25_topk's N/avg_len scalar rides a 1-ROW
    # broadcast cross join (the q22-class sanctioned appearance — a
    # single-row NLJ is a broadcast variable, not a pairwise compare);
    # its data-side joins are checked to stay hash joins below.
    # rag_context_assembly (r13/r16): the epilogue is a candidate-scale
    # ARRAY PROGRAM over the ≤10-row shortlist — it adds no joins of
    # its own. r16 dropped the shortlist checkpoint (single consumer
    # since the r13 rewrite; the checkpoint cost a full construction-
    # time planning pass), so the scorers' sanctioned 1-row NLJ scalars
    # are now VISIBLE in its plan instead of hidden behind a
    # pre-planned RDD — it joins the exempt set on the same grounds as
    # rag_bm25_topk, whose stats scalar that NLJ is.
    import bench

    qs = analytics.queries()
    # text_tfidf joined the sanctioned set in r12: its corpus-count
    # scalar moved from a driver count() job into the plan as a 1-row
    # broadcast cross join (hash unchanged, one job cheaper, fully lazy)
    # docs_hll_distinct's exact-baseline attach is a 1-row × 1-row
    # scalar cross join — same sanctioned class (Catalyst folds constant
    # join keys away, so it cannot be spelled as a hash join)
    exempt = {
        "rag_bm25_topk",
        "text_tfidf",
        "docs_hll_distinct",
        "rag_context_assembly",
    }
    for name in bench.HEADLINE:
        if name not in qs or name in exempt:
            continue
        assert "BroadcastNestedLoopJoin" not in _plan(spark, name), name
    for name in exempt:
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan, name
    # and the array-program epilogue really did shed every join: the
    # plan ABOVE the outermost aggregate (the candidate collect_list —
    # the first HashAggregate from the root in the formatted tree) is
    # higher-order array expressions only, no join node
    ctx_plan = _plan(spark, "rag_context_assembly")
    epilogue = ctx_plan[: ctx_plan.find("HashAggregate")]
    assert epilogue and "Join" not in epilogue
    assert "CartesianProduct" not in ctx_plan


def test_semdedup_intra_cluster_join_not_allpairs(spark):
    """dedup_semantic: the pairwise-cosine stage must be an equi-join on
    cluster_id (hash shuffle on the cluster key) — never a nested-loop
    all-pairs product. This is the whole point of SemDeDup's
    cluster-then-compare shape."""
    plan = _plan(spark, "dedup_semantic")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_host_cap_uses_window_group_limit(spark):
    """docs_host_cap: the rank-≤-N filter must plan as WindowGroupLimit —
    map-side partial top-N per host before the exchange. Without it a
    mega-host ships every page through the shuffle."""
    plan = _plan(spark, "docs_host_cap")
    assert "WindowGroupLimit" in plan


def test_incremental_dedup_bloom_probe_is_codegen(spark):
    """docs_incremental_dedup: the Bloom probe must be a literal-bitmask
    getbit expression (map-side, zero-shuffle), and only the candidate
    subset may reach the exact key join — the definite-new branch carries
    no join at all."""
    plan = _plan(spark, "docs_incremental_dedup")
    assert "getbit" in plan.lower()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_dsir_model_probe_is_broadcast(spark):
    """docs_dsir_weights: the bounded bucket-LM table must broadcast —
    the scoring pass is a map-side probe, never a shuffle of the corpus
    side on the bucket key."""
    plan = _plan(spark, "docs_dsir_weights")
    assert "BroadcastHashJoin" in plan


def test_q6_full_pushdown(spark):
    """TPC-H Q6: all three predicates must reach the parquet scan as
    PushedFilters, and the scan must read only the 4 touched columns."""
    plan = _plan(spark, "q6_forecast_revenue")
    assert "PushedFilters:" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan or col in plan.split("PushedFilters:")[1].split("]")[0], col
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_orderkey" not in read and "l_tax" not in read


def test_q10_top20_no_global_sort(spark):
    """Q10's ORDER BY + LIMIT 20 must plan as TakeOrderedAndProject (heap
    per partition + driver merge), never a full global Sort exchange."""
    plan = _plan(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan  # nation side broadcasts


def test_tfidf_df_join_broadcasts(spark):
    """The term→document-frequency join must broadcast the vocabulary,
    never sort-merge the exploded token stream; the corpus-count scalar
    rides the 1-row broadcast NLJ (sanctioned), never a CartesianProduct."""
    plan = _plan(spark, "text_tfidf")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_fuzzy_symspell_no_nested_loop(spark):
    """The SymSpell candidate join is an equi-join on deletion keys; a
    levenshtein theta-join would plan as a nested loop."""
    plan = _plan(spark, "j9_fuzzy_symspell")
    assert "NestedLoop" not in plan


def test_funnel_and_basket_no_cartesian(spark):
    for name in ("ev_funnel", "basket_brand_pairs"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name


def test_pagerank_flat_lineage_and_no_collect(spark):
    """5 fixed-point iterations: joins stay equi-joins (no nested loop)
    and the rank updates never materialize on the driver."""
    plan = _plan(spark, "graph_pagerank")
    assert "NestedLoop" not in plan


def test_join_strategy_hints_are_honored(spark):
    """The engine's join-strategy control surface: hints must change the
    physical plan (broadcast forces BHJ; merge forces SMJ even where the
    small side would auto-broadcast)."""
    from pyspark.sql import functions as F

    from extract_permits_spark.sources.readers import load_table

    c = load_table(spark, SF_DIR, "customer")
    n = load_table(spark, SF_DIR, "nation")

    bhj = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert "BroadcastHashJoin" in bhj._jdf.queryExecution().executedPlan().toString()

    smj = c.join(n.hint("merge"), c.c_nationkey == n.n_nationkey)
    assert "SortMergeJoin" in smj._jdf.queryExecution().executedPlan().toString()

    shj = c.join(n.hint("shuffle_hash"), c.c_nationkey == n.n_nationkey)
    assert "ShuffledHashJoin" in shj._jdf.queryExecution().executedPlan().toString()


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """A date/key-partitioned fact joined to a selectively-filtered dim
    must plan a dynamicpruning subquery on the fact scan — at 100 TB
    this is what turns 'scan the whole fact table' into 'scan the 5
    partitions the dim filter selects'."""
    from pyspark.sql import functions as F

    fact = spark.range(100_000).select((F.col("id") % 25).alias("nk"), "id")
    path = str(tmp_path / "fact")
    fact.write.partitionBy("nk").mode("overwrite").parquet(path)
    dim = spark.range(25).select(
        F.col("id").alias("nk"), (F.col("id") % 5).alias("region")
    )
    j = spark.read.parquet(path).join(dim.where(F.col("region") == 0), "nk")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_tpch_extra_semi_anti_shapes(spark):
    # Q4's EXISTS and Q22's NOT EXISTS decorrelate to semi/anti joins —
    # never a per-row correlated subquery.
    assert "LeftSemi" in _plan(spark, "q4_priority_exists")
    assert "LeftAnti" in _plan(spark, "q22_idle_customers")
    # Q21's EXISTS/NOT EXISTS pair is rewritten into per-order min/max
    # aggregates: ONE lineitem scan (not three), one semi join with
    # orders, no anti join, no Expand (countDistinct avoided).
    q21 = _plan(spark, "q21_waiting_supplier")
    assert "LeftSemi" in q21 and "LeftAnti" not in q21
    assert q21.count("lineitem.parquet") == 1  # fact table scanned once
    assert "Expand" not in q21


def test_tpch_extra_broadcasts_and_no_bnlj(spark):
    # every dimension/threshold side small enough to broadcast is
    # broadcast, and no plan degenerates to a nested-loop join (the q22
    # scalar cross-join is a 1-row broadcast NLJ by construction — the
    # only acceptable appearance).
    for name in (
        "q7_nation_trade",
        "q8_market_share",
        "q9_profit_by_nation",
        "q14_promo_revenue",
        "q17_small_quantity",
        "q18_large_volume",
        "q19_disjunctive",
    ):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_q2_min_per_group_is_single_window_shuffle(spark):
    # the correlated MIN-per-part decorrelates to a window MIN (one
    # shuffle), not an agg + join-back (two); dimension sides broadcast.
    plan = _plan(spark, "q2_min_balance_supplier")
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q19_hull_prefilters_pushed(spark):
    # the OR-of-ANDs evaluates post-join, but each side's hull must be
    # pushed into its scan: lineitem's quantity range reaches PushedFilters.
    plan = _plan(spark, "q19_disjunctive")
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "LessThanOrEqual(l_quantity,30.0)" in plan


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark):
    # At 100 TB a selective dim filter on one side of a SHUFFLE join
    # injects a runtime bloom filter on the fact scan (the non-broadcast
    # analog of DPP). The size thresholds that gate it are meant for
    # real clusters, so they're lowered here only to make the optimizer
    # take the same decision on fixture-sized inputs.
    from pyspark.sql import functions as F

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    ]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        o = (
            analytics.load_table(spark, SF_DIR, "orders")
            .where(F.col("o_orderstatus") == "P")
        )
        li = analytics.load_table(spark, SF_DIR, "lineitem")
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan  # probe-side pushdown filter
        assert "bloom_filter_agg" in plan  # build-side partial aggregate
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_quality_score_is_narrow_no_shuffle(spark):
    # model inference with fixed weights must stay a narrow map over the
    # scan — any Exchange here means a rewrite snuck in a shuffle
    plan = _plan(spark, "docs_quality_score")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_batch_topk_uses_window_group_limit(spark):
    # batched retrieval's rank-limit must plan as WindowGroupLimit:
    # per-partition top-k heaps run BEFORE the exchange, so the shuffle
    # carries ~n_queries x k rows, not the scored corpus
    plan = _plan(spark, "ann_batch_topk")
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_matryoshka_rerank_broadcasts_shortlist_no_corpus_shuffle(spark):
    """MRL funnel plan contract: the corpus is scanned ONCE at 16 dims
    (TakeOrderedAndProject shortlist) and once more only to rerank the
    broadcast 100-row shortlist — the ONLY Exchange is the shortlist
    broadcast; the corpus itself is never shuffled."""
    from extract_permits_spark.plans import analytics

    df = analytics.ann_matryoshka_rerank(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # shortlist joins broadcast-side
    assert plan.count("TakeOrderedAndProject") == 2  # coarse + final top-k
    # exactly one Exchange, and it is the broadcast (no shuffle exchange)
    assert plan.count("Exchange") == 1 and "BroadcastExchange" in plan
    assert "ShuffleExchange" not in plan and "SortMergeJoin" not in plan


def test_q11_q20_scalar_thresholds_broadcast_not_shuffled(spark):
    """The two scalar-subquery classics (adapted Q11/Q20): the 1-row
    global aggregate must reach the filter as a broadcast (BNLJ of a
    single row), never as a shuffled join; Q20's promo part list must
    semi-join broadcast-side into the fact scan."""
    from extract_permits_spark.plans import analytics

    qs = analytics.queries()
    p11 = (
        qs["q11_important_stock"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in p11  # 1-row scalar rides broadcast
    assert "SortMergeJoin" not in p11

    p20 = (
        qs["q20_potential_promotion"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" in p20 and "BroadcastHashJoin" in p20
    assert "SortMergeJoin" not in p20


def test_tokenize_pack_chunk_text_pruned_and_arrow_batched(spark):
    """llm_tokenize_pack: the chunker's chunk_text (a slice+concat per
    chunk) must be pruned away — packing needs only (shard, seq_id,
    weight) — and the pack walk must be Arrow-batched per shard
    (FlatMapGroupsInPandas), with no nested-loop join anywhere."""
    plan = _plan(spark, "llm_tokenize_pack")
    assert "FlatMapGroupsInPandas" in plan
    assert "chunk_text" not in plan  # column pruning removed the slice
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_rag_hash_retrieval_single_scan_one_pass(spark):
    """rag_hash_retrieval: dot product and corpus norm fold in ONE
    groupBy over ONE corpus scan (broadcast query vector LEFT-joined
    onto the sparse dims); top-k plans as an ordered limit, and the
    query side never induces a shuffle join."""
    plan = _plan(spark, "rag_hash_retrieval")
    assert plan.count("documents.parquet") == 1
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ivfpq_single_scan_no_joins(spark):
    """emb_ivfpq_topk (IVFADC): cluster assignment and PQ codes come from
    ONE Arrow-batched kernel over ONE corpus scan — no join anywhere (the
    probe filter and the ADC distance-table lookups are literal
    expressions). The only exchanges allowed are the final top-k
    (TakeOrderedAndProject) and the single parallelism-pinning RoundRobin
    repartition before the CPU-heavy kernel (SCALE.md rule)."""
    plan = _plan(spark, "emb_ivfpq_topk")
    assert plan.count("Scan parquet") == 1, plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, op
    assert "ArrowEvalPython" in plan, plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") <= 1, plan
    if "Exchange" in plan:
        assert "RoundRobinPartitioning" in plan


def test_ivfpq_persisted_index_partition_prunes(spark, tmp_path):
    """The IVFADC write-once contract (FAISS IndexIVFPQ on disk): a query
    over the persisted codes-only index must (a) read ONLY its probed
    clusters' partition directories (PartitionFilters on the scan),
    (b) carry no embedding column anywhere (the compression claim — the
    index stores 8 ints where the corpus stores 64 floats), and
    (c) return bitwise-identical rankings to the in-memory IVFADC path
    built from the same cached book + centroids."""
    from pyspark.sql import functions as F

    from extract_permits_spark.functions import pq as pqfn
    from extract_permits_spark.plans.analytics import (
        _ivf_centroids_cached,
        _pq_book_cached,
    )
    from extract_permits_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    book = _pq_book_cached(spark, emb, SF_DIR)
    cents = _ivf_centroids_cached(spark, emb, SF_DIR)
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    path = str(tmp_path / "ivfpq")
    pqfn.write_ivfpq_index(emb, book, cents, path)
    got = pqfn.ivfpq_topk_from_index(
        spark, path, book, cents, qvec, num_probes=6, topk=20
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan  # (a)
    assert "embedding" not in plan  # (b)
    want = pqfn.ivfpq_adc_topk(emb, book, cents, qvec, num_probes=6, topk=20)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]  # (c)


def test_ivfpq_batch_plan_shape(spark):
    """emb_ivfpq_batch_topk: ONE corpus scan + ONE Arrow kernel; the
    probe pruning is a broadcast equi-join on cluster_id (never a
    nested-loop fan-out); the per-query top-k runs as WindowGroupLimit
    (pre-exchange heaps) so the shuffle carries ~n_queries x k rows."""
    plan = _plan(spark, "emb_ivfpq_batch_topk")
    assert plan.count("Scan parquet") == 1, plan
    assert "ArrowEvalPython" in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    for op in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, op


def test_ivfpq_batch_consistent_with_single_query(spark):
    """The batch path must agree with the single-query path per query:
    for query 0, emb_ivfpq_batch_topk's (vec_id, adc_dist) rows equal
    ivfpq_adc_topk's — same fits, same probes, same ADC folds, only the
    orchestration differs (broadcast join + window vs filter + limit)."""
    from pyspark.sql import functions as F

    from extract_permits_spark.functions import pq as pqfn
    from extract_permits_spark.plans.analytics import (
        _ivf_centroids_cached,
        _pq_book_cached,
    )
    from extract_permits_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    book = _pq_book_cached(spark, emb, SF_DIR)
    cents = _ivf_centroids_cached(spark, emb, SF_DIR)
    batch = pqfn.ivfpq_batch_topk_from_table(
        emb, book, cents, n_queries=5, num_probes=6, topk=20
    )
    got = [
        (r["vec_id"], r["adc_dist"])
        for r in batch.where(F.col("query_id") == 0)
        .orderBy("adc_dist", "vec_id")
        .collect()
    ]
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    want = [
        (r["vec_id"], r["adc_dist"])
        for r in pqfn.ivfpq_adc_topk(
            emb, book, cents, qvec, num_probes=6, topk=20
        ).collect()
    ]
    assert got == want


def test_cross_decontaminate_bucket_join_not_pairwise(spark):
    """emb_cross_decontaminate: the candidate step must be an equi-join
    on (table, signature) — never a nested-loop pairwise scan of
    corpus x eval (that is the ORACLE's job). One hash/sort-merge join
    family only."""
    plan = _plan(spark, "emb_cross_decontaminate")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_salted_join_plans_as_hash_join_on_salted_key(spark):
    """j11_salted_skew_join: the salted form must still plan as a plain
    equi-join (hash family) — the salt only widens the shuffle key; no
    nested loop, no cartesian replicate."""
    plan = _plan(spark, "j11_salted_skew_join")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
    )


# ---------------------------------------------------------------------------
# r10-VERDICT ask #1: no registry plan may funnel an unbounded table
# through a partition-less Window (single-reducer global sort at 100 TB).
# ---------------------------------------------------------------------------


def _iter_plan(node):
    yield node
    for i in range(node.children().size()):
        yield from _iter_plan(node.children().apply(i))


# Operators through which "my input is bounded" propagates: each emits at
# most (a bounded function of) its child's rows. Generate (explode) is
# included — it multiplies rows only by per-row array size, so a bounded
# frame stays data-bounded.
_CARD_SPINE = {
    "Project",
    "Filter",
    "Sort",
    "Window",
    "WindowGroupLimit",
    "LocalLimit",
    "SubqueryAlias",
    "Repartition",
    "RepartitionByExpression",
    "RebalancePartitions",
    "Deduplicate",
    "DeduplicateWithinWatermark",
    "Generate",
    "Expand",
}


def _subtree_bounded(node) -> bool:
    """A partition-less Window is safe when its INPUT is bounded by
    construction: an Aggregate below it caps rows at group cardinality
    (distributed_rank's per-partition-count offset frames,
    sample_mixture_weights' per-source counts; a group-less Aggregate is
    one row), and a GlobalLimit below it caps rows outright (the RAG
    shortlist/rerank windows).

    The walk follows only the cardinality spine (r11-ADVICE fix): a
    bounding node must sit on a path of cardinality-preserving operators
    below the Window — NOT merely anywhere in the subtree, which would
    wrongly exempt e.g. huge_fact.join(tiny_agg) because the tiny side
    happens to contain an Aggregate. At a Join, semi/anti output is
    bounded by the left side alone; any other type needs BOTH sides
    bounded (inner/outer output can exceed either single side). Union
    needs every branch bounded. Anything else (a relation leaf above
    all) is unbounded."""
    kind = node.getClass().getSimpleName()
    if kind == "GlobalLimit" or kind == "Aggregate":
        return True
    if kind in _CARD_SPINE:
        return _subtree_bounded(node.children().apply(0))
    if kind == "Join":
        jt = node.joinType().toString()
        left = _subtree_bounded(node.children().apply(0))
        if jt in ("LeftSemi", "LeftAnti"):
            return left
        return left and _subtree_bounded(node.children().apply(1))
    if kind == "Union":
        return all(
            _subtree_bounded(node.children().apply(i))
            for i in range(node.children().size())
        )
    return False


def _partitionless_windows_over_unbounded(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan()
    n = 0
    for node in _iter_plan(plan):
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().size() == 0
            and not _subtree_bounded(node.children().apply(0))
        ):
            n += 1
    return n


def test_no_partitionless_window_over_unbounded_input(spark):
    """Every registry entry's optimized logical plan: a Window with an
    empty partitionSpec whose child subtree is NOT bounded (no grouped
    Aggregate, no GlobalLimit below it) is a single-reducer funnel — the
    docs_shard_shuffle/docs_shard_manifest/docs_quality_bins/
    sample_negatives class fixed in r11 via distributed_rank. By-name
    exemption: w3_line_numbers_batches keeps the reference's review-file
    semantics (global LLINE over a ≤few-thousand-row upload file,
    reference batch size 250 — chicago/legacy_permits/helper.py:167);
    its scale path exists as global_line_numbers(distributed=True)."""
    exempt = {"w3_line_numbers_batches"}
    offenders = {}
    for name, fn in analytics.queries().items():
        if name in exempt:
            continue
        df = fn(spark, SF_DIR)
        bad = _partitionless_windows_over_unbounded(df)
        if bad:
            offenders[name] = bad
    assert not offenders, f"unbounded partition-less Window in: {offenders}"


def test_partitionless_window_detector_catches_planted_violation(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    planted = docs.withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    )
    assert _partitionless_windows_over_unbounded(planted) == 1
    # and the exempt-by-construction shapes stay exempt
    agg = docs.groupBy("source").count()
    bounded = agg.withColumn(
        "rn", F.row_number().over(Window.orderBy("source"))
    )
    assert _partitionless_windows_over_unbounded(bounded) == 0
    # r11-ADVICE case: a grouped Aggregate somewhere OFF the spine (the
    # tiny side of a fact join) must NOT exempt a global window over the
    # joined (fact-sized) result — the old whole-subtree scan did.
    fact_join_tiny = docs.join(agg, "source").withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    )
    assert _partitionless_windows_over_unbounded(fact_join_tiny) == 1
    # ... while a window whose input spine bottoms out in a GlobalLimit
    # THROUGH a join with an unbounded lookup side stays flagged too
    # (boundedness must be on the spine, e.g. rag_context_assembly's
    # explicit post-lookup .limit), but a limit ABOVE the join is exempt
    limited_join = docs.join(agg, "source").limit(7).withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    )
    assert _partitionless_windows_over_unbounded(limited_join) == 0


def test_quality_bins_approx_no_global_row_sort(spark):
    """docs_quality_bins_approx is the sort-free 100-TB spelling: the
    corpus-sized frame must never pass through a range exchange (the
    global-sort signature that docs_quality_bins' distributed_rank
    legitimately pays), the cutpoint join must be a broadcast hash join
    (not a BNLJ cross join), and the only windows are over the bounded
    value histogram (the registry-wide partition-less-window test covers
    that via the Aggregate-on-spine exemption)."""
    plan = _plan(spark, "docs_quality_bins_approx")
    assert "rangepartitioning" not in plan.lower()
    # the 1-row cutpoint frame rides the sanctioned scalar-broadcast NLJ
    # (q11/rag_bm25 class); what's banned is a data x data cross join
    assert "BroadcastNestedLoopJoin" in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # contrast: the exact ntile twin DOES range-shuffle the corpus
    exact = _plan(spark, "docs_quality_bins")
    assert "rangepartitioning" in exact.lower()


def test_fanout_exchanges_pin_partition_count(spark):
    """r13 guard: every banded/collapsed near-dup plan (and text_tfidf)
    must carry at least one USER-PINNED exchange (REPARTITION_BY_NUM)
    feeding its fan-out stage. These plans' wide exchanges carry COMPACT
    rows (band triples, distinct texts, un-exploded docs) below which
    the work multiplies (shingle/ball/pair explode), so AQE's byte-based
    coalescing would merge them to 1-2 partitions and run the fan-out on
    1-2 cores — measured 40-85 s vs 10-12 s on the 100x tfidf shape and
    6-10 s vs 2.7-3.4 s on the sf0.1 curation edge pass (SCALE.md r13).
    A user-specified partition count is exempt from coalescing, which is
    exactly why the pin is load-bearing and must not be refactored away."""
    for name in (
        "text_tfidf",
        "dedup_minhash_lsh",
        "dedup_minhash_md5",
        "dedup_simhash",
        "emb_neardup_lsh",
    ):
        assert "REPARTITION_BY_NUM" in _plan(spark, name), name
    # the components path memoizes a checkpointed closure, so its final
    # plan is an RDD scan — assert on the edge construction directly.
    # The pinned exchange runs inside the shingle table's checkpoint job
    # (_registry._shingle_pairs), so the edge plan reads its partitions:
    # the table must keep the pinned 2 x defaultParallelism, not a
    # coalesced 1-2
    from extract_permits_spark.plans._registry import _collapsed_edges

    parts = _checkpoint_partitions(_collapsed_edges(spark, SF_DIR))
    assert parts == {spark.sparkContext.defaultParallelism * 2}, "_collapsed_edges"


def _checkpoint_partitions(df) -> set[int]:
    """Partition counts of the checkpointed (LogicalRDD) leaves df reads."""
    out, stack = set(), [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "LogicalRDD":
            out.add(node.rdd().getNumPartitions())
            continue
        ch = node.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
    return out


def test_pair_stage_builds_shingles_only_in_its_checkpoint(spark):
    """The shared-shingle pair stage shingles each document once, into
    a checkpoint: the consumers' executed plans must not contain the
    interpreted shingle builder at all. Left lazy, _collapsed_edges'
    plan evaluated it 8 times per document (eligibility filter, the
    inferred size > 0 filter pushed below the project, both sides of
    the self-join, the twin-star branch) and _jaccard_pairs_uncached's
    4 times."""
    from extract_permits_spark.plans._registry import (
        _collapsed_edges,
        _jaccard_pairs_uncached,
    )

    for fn in (_collapsed_edges, _jaccard_pairs_uncached):
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("lambdafunction(concat_ws") == 0, fn.__name__


def test_distributed_rank_counts_branch_reuses_range_exchange(spark):
    """The r14 ReuseExchange pin (operators/windows.py): the counts
    branch of distributed_group_rank must SHARE the main rail's range
    shuffle. Column pruning used to narrow the counts side whenever the
    consumer kept payload columns beyond the sort keys (the pipeline's
    `tk`), the exchanges stopped canonicalizing equal, and the entire
    upstream re-executed — a silent perf-only regression, so pin it at
    the plan level. Reuse is an AQE runtime decision: execute first,
    then read the FINAL plan (a ReusedExchange line embeds the
    referenced exchange's text — count only live nodes)."""
    for name in ("llm_pretrain_pipeline", "docs_quality_prune"):
        df = analytics.queries()[name](spark, SF_DIR)
        df.collect()
        plan = (
            df._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        live = [
            ln
            for ln in plan.splitlines()
            if "Exchange rangepartitioning" in ln and "ReusedExchange" not in ln
        ]
        reused = [ln for ln in plan.splitlines() if "ReusedExchange" in ln]
        assert len(live) == 1, (name, plan)
        assert any("rangepartitioning" in ln for ln in reused), (name, plan)


def _warehouse_frame(spark, raw, uni):
    """An ``iasworld_permit`` frame that holds the fixture's first 20
    permits (order keys 0-19), keyed as ``canonicalize_for_dedup`` keys
    their cleaned rows, so the dedup anti-join removes those permits.
    Collected into a local frame, so its plan is one ``LogicalRDD``."""
    from pyspark.sql import functions as F

    from extract_permits_spark.operators.dedup import canonicalize_for_dedup
    from extract_permits_spark.plans.permits import clean_permits
    from extract_permits_spark.sources.readers import IASWORLD_PERMIT_SCHEMA

    keyed = canonicalize_for_dedup(
        clean_permits(raw, uni).where(F.col("permit_number") < "100000020")
    ).select(
        "parid", "permdt", F.col("amount_key").alias("amount"),
        "note2", "user21", "user28", "user43",
    )
    return spark.createDataFrame(keyed.collect(), IASWORLD_PERMIT_SCHEMA)


def test_permit_chain_plan_shape(spark):
    """The §3.1 chain's staging, as ``validated_permits`` builds it over
    the fixtures, with and without a warehouse frame to dedup against:
    one explode; P9's lowered text staged once for all keyword branches,
    below the explode's Generate (once per permit, not per PIN); P4's stripped PIN and P11's digits each computed by ONE
    regexp_replace (not once per branch that reads them); both
    universe-side joins broadcast; and a fixed exchange count. Each
    staged piece is defined once, in operators/clean.py and
    operators/enrich.py — this pins that composing them keeps the plan."""
    import re

    from extract_permits_spark.plans.permits import (
        permits_from_tpch,
        validated_permits,
    )

    raw, uni = permits_from_tpch(spark, SF_DIR)
    existing = _warehouse_frame(spark, raw, uni)
    exchange = re.compile(r"^[\s:|+-]*(Exchange|BroadcastExchange|ReusedExchange)\b")
    for ex, n_exchanges in ((None, 7), (existing, 9)):
        qe = validated_permits(raw, uni, ex)._jdf.queryExecution()
        optimized = qe.optimizedPlan().toString()
        executed = qe.executedPlan().toString()
        label = "existing" if ex is not None else "no existing"
        assert len(re.findall(r"\bGenerate ", optimized)) == 1, label
        assert optimized.count("lower(") == 1, label
        lines = optimized.splitlines()
        gen = next(i for i, ln in enumerate(lines) if re.search(r"\bGenerate ", ln))
        depth = lambda ln: len(ln) - len(ln.lstrip(" :+-"))  # noqa: E731
        keyword = [i for i, ln in enumerate(lines) if "Contains(_kw_lowered" in ln]
        assert keyword and all(
            i > gen and depth(lines[i]) > depth(lines[gen]) for i in keyword
        ), label
        assert len(re.findall(r"regexp_replace\(solo_pin#\d+, -, ", optimized)) == 1, label
        assert len(re.findall(r"regexp_replace\(\w+#\d+, \\D, ", optimized)) == 1, label
        assert optimized.count("rightHint=(strategy=broadcast)") == 2, label
        assert executed.count("BroadcastHashJoin") >= 2, label
        got = sum(1 for ln in executed.splitlines() if exchange.match(ln))
        assert got == n_exchanges, (label, got)


_GOLDEN_PLAN = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "golden", "validated_permits_plan.txt"
)


def _validated_permits_plan_text(spark) -> str:
    """The optimized plan of ``validated_permits`` over the fixtures, with
    and without a warehouse frame, exprIds stripped and the common
    subexpression aliases (``_common_expr_<n>``, numbered by a global
    counter) renumbered in order of first use."""
    import re

    from extract_permits_spark.plans.permits import (
        permits_from_tpch,
        validated_permits,
    )

    raw, uni = permits_from_tpch(spark, SF_DIR)
    existing = _warehouse_frame(spark, raw, uni)
    out = []
    for label, ex in (("no-existing", None), ("existing", existing)):
        plan = validated_permits(raw, uni, ex)._jdf.queryExecution().optimizedPlan()
        out += [f"== {label} ==", re.sub(r"#\d+L?", "", plan.toString())]
    ids: dict[str, str] = {}
    return re.sub(
        r"_common_expr_\d+",
        lambda m: ids.setdefault(m.group(), f"_common_expr_{len(ids)}"),
        "\n".join(out) + "\n",
    )


def test_validated_permits_optimized_plan_golden(spark):
    """The whole optimized plan of the §3.1 chain, not just its staging
    counts: a refactor of the permit chain (specs, operators/{clean,
    dedup,enrich,joins,validate}.py, plans/permits.py) that claims to
    keep the plan must leave this text unchanged. The shuffle partition
    count is pinned here because the plan's repartition reads it. On a
    deliberate plan change, regenerate the golden from
    ``_validated_permits_plan_text`` and say why in the commit."""
    import difflib

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        got = _validated_permits_plan_text(spark)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    want = open(_GOLDEN_PLAN).read()
    if got != want:
        diff = "".join(difflib.unified_diff(
            want.splitlines(True), got.splitlines(True), "golden", "current", n=1
        ))
        raise AssertionError(f"validated_permits plan moved:\n{diff[:6000]}")
