"""Plan-shape tests: prove the physical plans are the ones a 100 TB run
needs — pushdown, pruning, broadcast, top-k without global sort, map-side
partial aggregation. A correct result with the wrong plan fails here."""

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(autouse=True)
def _mods(spark):
    global E, S, RL, load_table
    from pythonvectordb_spark.plans import explain as E
    from pythonvectordb_spark.operators import search as S
    from pythonvectordb_spark.operators import relational as RL
    from pythonvectordb_spark.sources.testdata import load_table

    # other test modules cache matching sub-plans (InMemoryTableScan hides
    # the parquet scan these tests introspect) — always start uncached
    spark.catalog.clearCache()


def has_take_ordered(df) -> bool:
    return "TakeOrderedAndProject" in E.explain_str(df)


def has_partial_aggregate(df) -> bool:
    """Map-side combine proof: a HashAggregate with partial mode below the
    exchange."""
    txt = E.explain_str(df)
    return "partial_" in txt or re.search(r"HashAggregate.*\n.*Exchange", txt) is not None


def test_filtered_search_pushes_predicate(spark):
    """The metadata predicate must reach the parquet scan (the reference
    evaluates filter_fn row-by-row in Python; Catalyst pushes it to IO)."""
    from pythonvectordb_spark import fixtures as FX

    emb = S.with_qvec(load_table(spark, SF_SMOKE, "embeddings"))
    q = S.knn_search(emb, FX.QUERY_VEC, k=10, pred=F.col("label") == 3)
    assert E.has_pushed_filter(q, "label")


def test_knn_search_uses_take_ordered(spark):
    """top-k must be TakeOrderedAndProject (per-partition heaps + driver
    merge — the distributed argpartition), never a global sort."""
    from pythonvectordb_spark import fixtures as FX

    emb = S.with_qvec(load_table(spark, SF_SMOKE, "embeddings"))
    q = S.knn_search(emb, FX.QUERY_VEC, k=10)
    assert has_take_ordered(q)


def test_with_qvec_folds_norm_once(spark):
    """l2_normalize let-binds the norm: the optimized plan of with_qvec
    holds ONE norm fold, not one per element. Degenerate rows keep their
    shape: NULL -> NULL, [] -> [], all-zero -> all zeros."""
    emb = S.with_qvec(load_table(spark, SF_SMOKE, "embeddings"))
    plan = emb._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("aggregate(") == 1
    edge = S.with_qvec(
        spark.createDataFrame(
            [(1, None), (2, []), (3, [0.0, 0.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
    )
    got = {r.vec_id: r.qvec for r in edge.collect()}
    assert got == {1: None, 2: [], 3: [0, 0, 0]}


def test_projection_prunes_scan(spark):
    """A 2-column projection must not read the other columns (ReadSchema)."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    pruned = E.pruned_columns(q, li.columns)
    assert "l_extendedprice" in pruned and "l_shipdate" in pruned


def test_q3_broadcasts_dimension(spark):
    """shipping_priority must broadcast the filtered customer dimension."""
    q = RL.shipping_priority(
        load_table(spark, SF_SMOKE, "customer"),
        load_table(spark, SF_SMOKE, "orders"),
        load_table(spark, SF_SMOKE, "lineitem"),
    )
    assert E.has_broadcast_join(q)
    assert E.has_pushed_filter(q, "c_mktsegment")


def test_pricing_summary_partial_aggregation(spark):
    """Q1 must partial-aggregate map-side before the shuffle, and push the
    shipdate filter into the scan."""
    q = RL.pricing_summary(load_table(spark, SF_SMOKE, "lineitem"))
    assert has_partial_aggregate(q)
    assert E.has_pushed_filter(q, "l_shipdate")


def test_get_vector_pushes_id_filter(spark):
    emb = S.with_qvec(load_table(spark, SF_SMOKE, "embeddings"))
    q = S.get_vector(emb, 7)
    assert E.has_pushed_filter(q, "vec_id")


def test_asof_join_single_exchange(spark):
    """The as-of join must compile to exactly ONE hash exchange (the
    union-below-shuffle formulation) with both event filters pushed."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["asof_purchase_attribution"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]" in plan
    assert "EqualTo(event_type,click)" in plan


def test_interval_join_broadcasts_clicks(spark):
    """The interval join keeps the residual time bounds on a broadcast
    hash join — no cartesian, no sort-merge on this data shape."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["purchase_click_interval_join"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sessionize_aggregate_reuses_window_partitioning(spark):
    """Grouping on (user_id, session_seq) is a superset of the window's
    hash partitioning on user_id: the final aggregate must NOT introduce
    a second exchange."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["sessionize_events"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_pivot_with_explicit_values_runs_no_distinct_job(spark):
    """Passing explicit pivot values must keep the pivot a single
    aggregate (an implicit-values pivot runs an extra collect-distinct
    job first — disallowed at scale)."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["orders_priority_pivot"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the literal pivot values are baked into the pivotfirst aggregate —
    # proof that no collect-distinct pre-job ran; two exchanges total
    # (pre-agg on (year, priority), then pivotfirst on year), never three
    assert "pivotfirst(o_orderpriority" in plan and "1-URGENT" in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_rollup_cascade_reads_cached_levels(spark):
    """The hour/day levels must read the persisted finer level
    (InMemoryTableScan), not re-derive their lineage from raw — the
    single-raw-scan property of the cascade."""
    from pythonvectordb_spark.registry import QUERIES

    from pythonvectordb_spark.operators.timeseries import release_rollup_levels

    df = QUERIES["hypertable_rollup"](spark, SF_SMOKE)
    df.count()  # materialize the persisted levels
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2
    # the release path must actually free the cached levels
    levels = df._persisted_levels
    assert levels and all(lv.storageLevel.useMemory for lv in levels)
    release_rollup_levels(df)
    assert all(not lv.storageLevel.useMemory for lv in levels)


def test_decontaminate_broadcasts_vocab_and_combines_map_side(spark):
    """The benchmark shingle vocabulary must reach the corpus as a
    broadcast (never a shuffle of the corpus inverted index against it)
    and the per-doc count must partial-aggregate map-side — the plan
    that keeps a 100 TB corpus to one scan + one small shuffle."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["decontaminate_corpus"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    # the corpus/benchmark split predicate reaches the scan
    assert "97" in plan.split("FileScan")[1].split("ReadSchema")[0]


def test_stratified_sample_is_one_codegen_stage(spark):
    """Content-hash stratified sampling must compile to a single
    whole-stage-codegen'd Filter over the pruned scan: zero exchanges,
    zero Python."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["stratified_corpus_sample"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_semantic_dedup_is_equi_join_on_cluster(spark):
    """Centroid blocking must candidate-generate through a hash/sort
    equi-join on cluster_id — never a nested-loop over all pairs."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["semantic_dedup"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "cluster_id" in plan


def test_ann_ivf_pq_full_dim_work_is_bounded(spark):
    """The IVF+PQ plan's exact-cosine stage must sit above a LIMIT-100
    shortlist (TakeOrderedAndProject), so full-dimension float work is
    O(rerank) regardless of table size; the cluster probe filter must
    sit on the scan side."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["ann_ivf_pq"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("TakeOrderedAndProject") == 2  # ADC top-100, exact top-k
    # the probe predicate (argmax-over-centroids membership) survives as a
    # Filter on the scan side — Catalyst collapses the cluster_id alias
    # into the predicate itself
    assert "Filter" in plan and "array_position" in plan


def test_encode_tokens_single_corpus_scan_no_token_join(spark):
    """The encode path must be transform-over-a-broadcast-map: exactly
    one Generate (the vocab count's explode), a broadcast of the one-row
    map, and no shuffle of the document token stream."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["encode_tokens"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate explode") == 1  # vocab build only
    assert "BroadcastNestedLoopJoin" in plan    # one-row map side
    assert "transform(" in plan                 # per-token map lookup


def test_incremental_dedup_is_bucket_equi_join(spark):
    """Batch-vs-corpus candidates must come from a (band, bkey)
    equi-join — no cross join, no nested loop; the verify joins hang off
    the candidate list, not the full sides."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["incremental_dedup"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bkey" in plan


def test_bm25_single_scan_no_corpus_shuffle(spark):
    """BM25 must be: one corpus projection, a one-row broadcast stats
    aggregate, a score projection, TakeOrderedAndProject — the corpus
    side must not pass through any hash exchange."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["bm25_rank"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # one-row stats side
    assert "Exchange hashpartitioning" not in plan


def test_semantic_dedup_arrow_assignment_matches_expr(spark):
    """The size-rule vectorized assignment (numpy matmul argmax) must
    produce the same pair set as the oracle-exact expression argmax on
    the registered config — the at-scale path may only diverge on exact
    float ties, which the fixture corpus does not contain."""
    from pythonvectordb_spark import fixtures as FX
    from pythonvectordb_spark.operators.dedup import semantic_dedup_pairs
    from pythonvectordb_spark.sources.testdata import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    expr_pairs = {
        (r.id_a, r.id_b, r.cluster_id, round(r.cosine, 9))
        for r in semantic_dedup_pairs(emb, FX.CENTROIDS, 0.4).collect()
    }
    arrow_pairs = {
        (r.id_a, r.id_b, r.cluster_id, round(r.cosine, 9))
        for r in semantic_dedup_pairs(emb, FX.CENTROIDS, 0.4, assign="arrow").collect()
    }
    assert expr_pairs == arrow_pairs and len(expr_pairs) > 0


def test_token_rank_drift_rank_window_is_bounded(spark):
    """The per-half rank must run over a TakeOrdered shortlist of at
    most top_k rows, never a half's full vocabulary — the old
    2-partition Window over the whole (half, token) count frame would
    serialize a 10^8-token vocab sort through one task at 100 TB."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["token_rank_drift"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("TakeOrderedAndProject") == 2  # one exact cut per half
    # no windowed rank may consume a hash-partitioned full-vocab exchange:
    # every Window sits above a limit, so the plan has no
    # "Window ... partitionBy(is_train)" spec anywhere
    assert "windowspecdefinition(is_train" not in plan.lower()


def test_kneser_ney_topn_is_take_ordered(spark):
    """The top-N bigram cut must be TakeOrderedAndProject over the
    count table (per-partition heaps), never a global sort of the
    corpus-sized bigram vocabulary; the moment joins and rank window
    run on the 20-row survivor frame only."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["kneser_ney_bigrams"](spark, SF_SMOKE)
    assert has_take_ordered(df)
    assert has_partial_aggregate(df)  # bigram counts map-side combine


def test_ngram_novelty_is_anti_join_no_cartesian(spark):
    """Novelty must be ONE left-anti equi-join on the shingle key —
    never a doc x doc or gram x gram cartesian."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["ngram_novelty"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan


def test_source_compressibility_partial_aggregates(spark):
    """The character explode must collapse through a map-side partial
    aggregate (the alphabet x source cells), not shuffle raw chars."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["source_compressibility"](spark, SF_SMOKE)
    assert has_partial_aggregate(df)


def test_spearman_midrank_frames_are_broadcast(spark):
    """Midranks join back to the pair frame as broadcasts (value
    cardinality, not row cardinality), and the pair count combines
    map-side."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["discount_quantity_spearman"](spark, SF_SMOKE)
    assert E.has_broadcast_join(df)
    assert has_partial_aggregate(df)


def test_pettitt_no_self_join(spark):
    """Pettitt's O(n^2) double sum must collapse to windows + ONE
    broadcast midrank join — no day x day self-join, no cartesian."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["pettitt_changepoint"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # argmax without global sort
    assert E.has_broadcast_join(df)


def test_ks_bh_pair_matrix_is_equi_join(spark):
    """The G^2/2 KS pair matrix must come from ONE equi-join on the
    grid value (residual a.g < b.g), never a pairwise loop."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["ks_bh_fdr"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # any equi-join strategy satisfies the contract (the session prefers
    # shuffled-hash over sort-merge since the round-10 optimization)
    assert (
        "SortMergeJoin" in plan
        or "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_vocab_jaccard_joins_on_shingle(spark):
    """Vocabulary overlap must equi-join on the shingle key (bucketed
    by content), with the G-row size frames broadcast."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["source_vocab_jaccard"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert E.has_broadcast_join(df)


def test_ljung_box_single_window_pass(spark):
    """All seven lags must share one window sort — a per-lag rescan
    would read the day series seven times."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["ljung_box_daily"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one Scan of events feeds the whole plan
    assert plan.count("Scan parquet") <= 1


def test_als_retrieval_plan_shape(spark):
    """The recommend arm is the broadcast-item-factor BLAS pass (round
    11): ONE Arrow MapInPandas over the user factors — no cartesian,
    no row-wise BatchEvalPython anywhere; the evaluation itself is
    equi-joins with the train-item exclusion an equi anti-join."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["mllib_als_retrieval"](spark, SF_SMOKE)
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("MapInPandas") == 1  # the broadcast gemm top-k arm
    assert "BatchEvalPython" not in plan
    assert "LeftAnti" in plan  # train-item exclusion is an equi anti-join


def test_gate_champion_challenger_plan_shape(spark):
    """Four gates, two labels, one spine: the whole report stays
    JVM-side (no row-wise Python — tree-model scoring is a ScalaUDF,
    not BatchEvalPython), with map-side partial aggregates under the
    NB token counts."""
    from pythonvectordb_spark.registry import QUERIES

    df = QUERIES["gate_champion_challenger"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(df)


def test_round10_mllib_queries_plan_jvm_only(spark):
    """The fourteen round-10 MLlib queries stay JVM-side end-to-end: no
    row-wise Python in any executed plan (mining/estimator internals
    are MLlib Scala; every verdict projection is expression-only), and
    no cartesian anywhere (the PCA audit's query fan-out is a broadcast
    replicated join, the sign_bit_recall shape)."""
    from pythonvectordb_spark.registry import QUERIES

    for name in (
        "mllib_fpgrowth_rules",
        "mllib_prefixspan_paths",
        "mllib_pca_compaction",
        "mllib_model_selection",
        "mllib_linreg_twin",
        "mllib_chisq_twin",
        "mllib_summarizer_twin",
        "mllib_minmax_scale",
        "mllib_standard_scaler",
        "mllib_imputer_twin",
        "mllib_quantile_buckets",
        "mllib_bisecting_kmeans",
        "mllib_countvec_idf",
        "mllib_multiclass_eval",
    ):
        df = QUERIES[name](spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
