"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Comparison against BASELINE.md (reference: ~1,100 QPS at 50k vectors,
dim 128, single host, k=10):
  * knn_qps_50k — batched multi-query knn throughput on a 50k-vector table
    (the testdata embeddings tiled to 50,000 rows, the baseline's regime),
    executed as ONE Spark job (broadcast queries + per-partition scoring +
    window top-k). This is the apples-to-apples throughput number.
  * knn_single_ms — single-query end-to-end latency on the cached table
    (expected to lose to the reference's ~1 ms in-process call; Spark pays
    per-job scheduling, see BASELINE.md "Bench targets").
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from pythonvectordb_spark.session import get_spark  # noqa: E402
from pythonvectordb_spark.registry import QUERIES  # noqa: E402
from pythonvectordb_spark import fixtures as FX  # noqa: E402
from pythonvectordb_spark.operators import search as S  # noqa: E402
from pythonvectordb_spark.sources.testdata import load_table  # noqa: E402

HEADLINE = [
    # round-10 additions (MLlib workhorses + twins)
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
    "knn_search",
    "knn_join",
    "quantize_vectors",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding",
    "text_quality",
    "pricing_summary",
    "shipping_priority",
    "regional_revenue",
    "customer_order_running",
    "events_by_hour",
    "media_features",
    # extension operator families (round-1 additions)
    "asof_purchase_attribution",
    "sessionize_events",
    "hypertable_rollup",
    "cms_user_estimates",
    "bpe_token_counts",
    # round-2 text-pipeline additions
    "chunk_documents",
    "repetition_stats",
    "unigram_surprisal",
    "quality_filter",
    # flagship LLM-pipeline composition (quality -> dedup -> join) as a
    # tracked end-to-end wall time
    "pipeline_clean_corpus",
    # round-2 late additions: composed ANN, SemDeDup blocking, packing,
    # tokenizer-apply, ingest-shape dedup, lexical ranking
    "ann_ivf_pq",
    "semantic_dedup",
    "pack_sequences",
    "encode_tokens",
    "incremental_dedup",
    "bm25_rank",
    # round-3 additions: trained-codebook ADC (production PQ path) and
    # the driver-witnessed batch twins of the streaming surface
    "ann_pq_trained",
    "matview_user_spend_twin",
    "dedup_gate_twin",
    # round-3 layout/pruning additions
    "zorder_pruning",
    "snapshot_diff",
    "bloom_prune_join",
    # round-3 late additions: hybrid retrieval, training export,
    # per-source caps, skew diagnostic, iterative graph
    "hybrid_rrf_search",
    "training_shard_stats",
    "source_token_caps",
    "event_key_skew",
    "trade_pagerank",
    # round-4 additions: GK error-bound contract, real PNG decode,
    # size-rule SimHash
    "approx_percentile_error",
    "media_image_stats",
    "dedup_simhash_wide",
    "duplicate_spans",
    "media_image_resize",
    "approx_distinct_error",
    "contamination_spans",
    # round-4 continuation: span scrubbing, temperature mixing, export
    # interleave audit, reciprocal-kNN degrees
    "scrub_spans",
    "source_mixture",
    "interleave_audit",
    "mutual_knn",
    "importance_weights",
    "media_audio_stats",
    "media_audio_resample",
    # round-5: real baseline-JPEG decode (DCT/Huffman path), KN-smoothed
    # bigram LM, batch novelty gate, char-entropy compressibility
    "media_jpeg_stats",
    "kneser_ney_bigrams",
    "ngram_novelty",
    "source_compressibility",
    "ivf_nprobe_curve",
    "discount_quantity_spearman",
    "nb_calibration_bins",
    "corpus_drift",
    "hard_negatives",
    "dup_source_matrix",
    "containment_pairs",
    "split_leakage",
    "nb_lang_confusion",
    "perplexity_buckets",
    "zipf_fit",
    "cluster_split_leakage",
    "epoch_plan",
    "dedup_inflation",
    "quantization_recall",
    "minhash_precision",
    "contrastive_triplets",
    "dq_violations",
    "tokenizer_fertility",
    "bpe_merge_pairs",
    "unimax_epochs",
    "mmr_rerank",
    "ann_recall_curve",
    "k_anonymity",
    "resolve_keep_best",
    "rbo_overlap",
    "ngram_coverage",
    "dedup_threshold_curve",
    "minhash_estimate_error",
    "neyman_allocation",
    "source_entropy",
    "embedding_drift",
    "dedup_graph_triangles",
    "heaps_law",
    "good_turing",
    "truncation_stats",
    "source_kl_matrix",
    "source_lang_mi",
    "pmi_collocations",
    "bootstrap_order_ci",
    "ivf_balance",
    "cusum_shift",
    "ks_drift",
    "dedup_kcore",
    "revenue_gini",
    "arrival_burstiness",
    "event_type_affinity",
    "benford_digits",
    "fk_orphans",
    "event_debounce",
    "conversion_lag",
    "user_behavior_entropy",
    "km_survival",
    "hourly_acf",
    "rank_stability",
    "trimmed_value_stats",
    "twonn_intrinsic_dim",
    "hourly_xcorr",
    "kendall_tau",
    "hhi_concentration",
    "mann_whitney",
    "runs_test",
    "hill_tail_index",
    "ivf_silhouette",
    "embedding_effective_rank",
    "dedup_assortativity",
    "copurchase_lift",
    "markov_entropy_rate",
    "discount_elasticity",
    "return_rate_wilson",
    "priority_segment_chisq",
    "interpurchase_gap",
    "source_ttr",
    "source_decile_shift",
    "session_depth_hist",
    "brand_pareto",
    "customer_rfm",
    "fk_fanout_stats",
    "source_js_matrix",
    "weekday_uniformity",
    "yearly_value_quartiles",
    "value_anova",
    "lognormal_jb",
    "hour_profile_fit",
    "return_curve",
    "user_lifecycle_census",
    "order_reconciliation",
    "user_activity_dispersion",
    "coldstart_rates",
    "event_bigram_oov",
    "hour_circular_concentration",
    "conversion_rate_shift",
    "brand_yoy_growth",
    "dup_cluster_purity",
    "single_source_parts",
    "basket_diversity",
    "priority_leadtime",
    "tax_discount_chisq",
    "weekend_value_mw",
    "lang_length_anova",
    "shard_uniformity",
    "price_ending_profile",
    "realized_vs_retail",
    "segment_acctbal_profile",
    "supplier_balance_corr",
    "dedup_method_agreement",
    "basket_size_value",
    "anomalous_days",
    "heldout_cross_entropy",
    "quality_pass_by_source",
    "token_rank_drift",
    "priority_mix_drift",
    "customer_brand_breadth",
    "nation_trade_balance",
    "brand_market_presence",
    "returnflag_quantity_mw",
    "daypart_value_anova",
    # round-6 additions
    "bpe_merge_table",
    "bpe_trained_fertility",
    "kruskal_wallis",
    "brown_forsythe",
    "cohens_kappa",
    "ewma_daily_value",
    "revenue_drawdown",
    "sign_bit_recall",
    "matryoshka_recall",
    "embedding_anisotropy",
    "ndcg_ivf",
    "mrr_lsh",
    "kmv_distinct_users",
    "bloom_fpr_purchases",
    "trade_hits",
    "burrows_delta",
    "nb_auc",
    "holt_linear_forecast",
    "theil_sen_trend",
    "label_centroid_affinity",
    "value_wasserstein_drift",
    "daily_max_gumbel",
    "bpe_encode_pieces",
    "friedman_types_by_day",
    "mann_kendall_trend",
    "nb_class_f1",
    "wilcoxon_week_over_week",
    "chao1_vocab_richness",
    # round-7 additions (graduated sketches keep their original
    # HEADLINE slots; these are the 20 new queries)
    "mllib_logreg_gate",
    "value_wasserstein_timecut",
    "kmv_custkey_overlap",
    "welch_ttest_sources",
    "dedup_mcnemar",
    "markov_stationary",
    "adamic_adar_mutual_knn",
    "hellinger_value_drift",
    "gpd_tail_fit",
    "mahalanobis_outliers",
    "pettitt_changepoint",
    "dow_seasonal_decomposition",
    "ljung_box_daily",
    "logrank_segments",
    "ks_bh_fdr",
    "stratification_deff",
    "quantization_saturation",
    "source_vocab_jaccard",
    "nb_average_precision",
    "mllib_isotonic_calibration",
    # round-8: third trained-estimator family (ALS retrieval) and the
    # three-gate champion-challenger report
    "mllib_als_retrieval",
    "gate_champion_challenger",
]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _tx():
    from pythonvectordb_spark.operators import textops

    return textops


def _cu():
    from pythonvectordb_spark.operators import curation

    return curation


def _control_query_s(spark, sf_dir: str) -> float:
    """Fixed small aggregate timed at the start AND end of the run: if
    the two disagree by much, a co-tenant was loading the host and the
    absolute numbers of this run aren't comparable across rounds
    (round-2 VERDICT item 8 — measured swings up to ~4x)."""
    df = load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.sum("l_quantity"), F.count(F.lit(1))
    )
    # 5 warm iterations: the start-of-run call must pay down JIT/codegen
    # and page-cache warm-up HERE, or the marker reads "cold JVM" as
    # "co-tenant load" (round-3 first run: start 0.062 vs end 0.018 —
    # all warm-up, no co-tenant)
    for _ in range(5):
        df.collect()
    best = float("inf")
    for _ in range(5):
        t0 = time.time()
        df.collect()
        best = min(best, time.time() - t0)
    return round(best, 3)


def _build_scaled_dir(spark, sf_dir: str, factor: int, out_dir: str) -> None:
    """Deterministic ``factor``x scale-up of documents + embeddings,
    written as parquet so registered queries run against it unchanged.

    The scale-up must preserve the WORKLOAD SHAPE, not just the row
    count: naive row replication makes every document a near-duplicate
    of its copies, which inflates candidate pairs quadratically and
    measures an artifact. Instead:

    * documents: replica r != 0 rewrites every token t as ``r<r>x<t>``
      (a per-replica vocabulary translation) — within-replica duplicate
      structure is exactly the original corpus's, across replicas there
      is none, so true near-dup pairs scale linearly with the data.
    * embeddings: replica r sign-flips each dimension by a seeded
      +/-1 pattern — norms and all WITHIN-replica cosines are exactly
      preserved, cross-replica similarities are scrambled.
    """
    import numpy as np

    docs = load_table(spark, sf_dir, "documents")
    reps = F.array(*[F.lit(i) for i in range(factor)])
    d = docs.select("*", F.explode(reps).alias("rep"))
    translated = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.concat(F.lit("r"), F.col("rep").cast("string"), F.lit("x"), w),
        ),
        " ",
    )
    d = d.withColumn(
        "text", F.when(F.col("rep") == 0, F.col("text")).otherwise(translated)
    ).withColumn(
        "doc_id", (F.col("doc_id") * factor + F.col("rep")).cast(docs.schema["doc_id"].dataType)
    ).drop("rep")
    d.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    rng = np.random.default_rng(4242)
    signs = [[1.0] * dim] + [
        [float(s) for s in rng.choice([-1.0, 1.0], size=dim)] for _ in range(factor - 1)
    ]
    rep_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("rep"),
                F.array(*[F.lit(s) for s in signs[i]]).alias("sg"),
            )
            for i in range(factor)
        ]
    )
    e = emb.select("*", F.explode(rep_structs).alias("p"))
    e = (
        e.withColumn(
            "embedding",
            F.zip_with("embedding", "p.sg", lambda x, s: (x * s).cast("float")),
        )
        .withColumn(
            "vec_id",
            (F.col("vec_id") * factor + F.col("p.rep")).cast(emb.schema["vec_id"].dataType),
        )
        .drop("p")
    )
    e.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def _scale_rehearsal(spark, sf_dir: str, factor: int = 10) -> dict:
    """Measured 10x scale point for the heaviest operator families: time
    each at sf_dir and at a ``factor``x scaled twin, report the scaling
    exponent log_factor(t_big / t_small) — 1.0 = perfectly linear in
    data, < 1 = fixed overhead still amortizing, > 1 = super-linear (a
    scale bug unless explained). Size-rule parameters (LSH bits,
    SemDeDup centroid count, SimHash width) grow with the corpus exactly
    as they would in production — THAT is what keeps candidate
    generation linear; the registered small-SF defaults are measured by
    the headline section above.
    """
    import math
    import shutil
    import tempfile

    from pythonvectordb_spark.fixtures import _seeded_unit
    from pythonvectordb_spark.operators import dedup as DD

    tmp = tempfile.mkdtemp(prefix="pvdb_sf1_")
    out: dict = {"factor": factor, "queries": {}}
    # self-labeling section (VERDICT r7 task 8): the same start/end
    # control pair the headline qps carries, so exponent flutter
    # (semantic_dedup read 0.76-0.95 across rounds) is attributable to
    # host load WITHOUT cross-round adjudication
    ctrl_start = _control_query_s(spark, sf_dir)
    log(f"bench sf1 rehearsal control (start): {ctrl_start}s")
    try:
        t0 = time.time()
        _build_scaled_dir(spark, sf_dir, factor, tmp)
        out["build_s"] = round(time.time() - t0, 1)

        docs1 = load_table(spark, sf_dir, "documents")
        docs10 = spark.read.parquet(f"{tmp}/documents.parquet")
        emb1 = load_table(spark, sf_dir, "embeddings")
        emb10 = spark.read.parquet(f"{tmp}/embeddings.parquet")
        n1, n10 = emb1.count(), emb10.count()

        # size rules: keep rows-per-bucket / rows-per-block constant
        def lsh_bits(n):  # ~32 rows per hyperplane bucket
            return max(4, int(math.ceil(math.log2(max(n, 1) / 32))))

        def sem_centroids(n):  # hold ~250 rows per SemDeDup block at
            # every scale (k floored at 8 = the registered small-SF
            # config, which happens to give ~250-row blocks at sf0.1 —
            # so the two measured points share the same block size and
            # the exponent isolates the ENGINE's scaling, not the rule's)
            k = max(8, n // 250)
            return [_seeded_unit(9000 + i) for i in range(k)]

        cases = {
            "dedup_exact": lambda d, e, n: DD.dedup_exact(d),
            "dedup_ngram_jaccard": lambda d, e, n: DD.ngram_jaccard_pairs(d, 0.8),
            "dedup_minhash_lsh": lambda d, e, n: DD.minhash_lsh_pairs(d, 0.8),
            "dedup_simhash": lambda d, e, n: DD.simhash_pairs(
                d, max_hamming=3, bits=(32 if n <= 10_000 else 60)
            ),
            "dedup_embedding": lambda d, e, n: DD.embedding_near_dup(
                e, 0.4, bands=12, bits=lsh_bits(n)
            ),
            "semantic_dedup": lambda d, e, n: DD.semantic_dedup_pairs(
                e, sem_centroids(n), 0.4, assign="arrow"
            ),
            "knn_join_1024q": lambda d, e, n: S.knn_join(
                S.with_qvec(e),
                e.limit(1024).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qvec_query"),
                ),
                k=10,
                query_vec="qvec_query",
            ),
            # round-4 continuation: O(tokens) window-hash spans and the
            # two-pass (checkpointed single-scan) mixture — both must
            # stay ~linear in corpus size
            "duplicate_spans": lambda d, e, n: _tx().duplicate_spans(d, window=8),
            "temperature_mixture": lambda d, e, n: _cu().temperature_mixture(d),
            # round-7 addition: pairwise shingle-vocabulary overlap —
            # work is the distinct (source, shingle) frame plus the
            # equi-join matches, both linear in corpus size (witnessed
            # below, per the round-6 work-witness discipline)
            "source_vocab_jaccard": lambda d, e, n: _tx().source_vocab_jaccard(d),
        }
        for name, fn in cases.items():
            fn(docs1, emb1, n1).count()  # warm (JIT/codegen on the small SF)
            t0 = time.time()
            rows_small = fn(docs1, emb1, n1).count()
            t_small = time.time() - t0
            t0 = time.time()
            rows_big = fn(docs10, emb10, n10).count()
            t_big = time.time() - t0
            exp = math.log(max(t_big, 1e-9) / max(t_small, 1e-9)) / math.log(factor)
            # two-point decomposition t = overhead + unit_cost * scale:
            # the fixed-overhead share of the SMALL run explains how far
            # below 1.0 a linear-work family's exponent sits (SCALING.md
            # "exact families" section) — a super-linear term would show
            # up as exponent > 1 instead
            unit = max((t_big - t_small) / (factor - 1), 0.0)
            overhead = max(t_small - unit, 0.0)
            out["queries"][name] = {
                "t_sf0_1_s": round(t_small, 2),
                "t_sf1_s": round(t_big, 2),
                "exponent": round(exp, 2),
                "rows_small": int(rows_small),
                "rows_big": int(rows_big),
                "fixed_overhead_s": round(overhead, 2),
            }
            log(
                f"bench sf1 rehearsal {name}: {t_small:.2f}s -> {t_big:.2f}s "
                f"(exponent {exp:.2f}; rows {rows_small} -> {rows_big}; "
                f"fixed overhead {overhead:.2f}s)"
            )

        # --- work witnesses (round-6 VERDICT ask #3): the ~0.9
        # exponents of the exact-verify families are LINEAR-WORK claims;
        # measure the work itself, not just wall time, so exponent
        # drift between rounds (semantic 0.77 r4 -> 0.94 r5) has a
        # recorded cause. semantic_dedup's compute is the within-block
        # candidate-pair count (threshold=-2 keeps every candidate —
        # output rows are threshold-dependent and the scaled twin's
        # scrambled cross-replica cosines add chance pairs above 0.4,
        # so OUTPUT growth is a twin artifact, candidate growth is the
        # engine's work). duplicate_spans' compute is the window-hash
        # count == total whitespace tokens.
        cand_small = DD.semantic_dedup_pairs(
            emb1, sem_centroids(n1), -2.0, assign="arrow"
        ).count()
        cand_big = DD.semantic_dedup_pairs(
            emb10, sem_centroids(n10), -2.0, assign="arrow"
        ).count()
        out["queries"]["semantic_dedup"]["candidates_small"] = int(cand_small)
        out["queries"]["semantic_dedup"]["candidates_big"] = int(cand_big)
        out["queries"]["semantic_dedup"]["candidate_growth"] = round(
            cand_big / max(cand_small, 1), 2
        )
        tok_small = docs1.select(
            F.sum(F.size(F.split("text", " "))).alias("t")
        ).first()[0]
        tok_big = docs10.select(
            F.sum(F.size(F.split("text", " "))).alias("t")
        ).first()[0]
        out["queries"]["duplicate_spans"]["tokens_small"] = int(tok_small)
        out["queries"]["duplicate_spans"]["tokens_big"] = int(tok_big)
        out["queries"]["duplicate_spans"]["token_growth"] = round(
            tok_big / max(tok_small, 1), 2
        )
        # round-7 witness: source_vocab_jaccard's work is the distinct
        # (source, shingle) frame it joins on — the per-replica
        # vocabulary translation makes it grow linearly, so a measured
        # ~10x here proves the pair matrix never goes quadratic in docs
        from pythonvectordb_spark.functions.text import shingles as _sh

        def _shingle_rows(d):
            return (
                d.select(F.col("source"), F.explode(_sh("text", 3)).alias("t"))
                .distinct()
                .count()
            )

        sh_small, sh_big = _shingle_rows(docs1), _shingle_rows(docs10)
        out["queries"]["source_vocab_jaccard"]["shingles_small"] = int(sh_small)
        out["queries"]["source_vocab_jaccard"]["shingles_big"] = int(sh_big)
        out["queries"]["source_vocab_jaccard"]["shingle_growth"] = round(
            sh_big / max(sh_small, 1), 2
        )
        log(
            f"bench sf1 work witness: semantic candidates {cand_small} -> "
            f"{cand_big} ({cand_big / max(cand_small, 1):.2f}x); spans tokens "
            f"{tok_small} -> {tok_big} ({tok_big / max(tok_small, 1):.2f}x); "
            f"vocab shingles {sh_small} -> {sh_big} "
            f"({sh_big / max(sh_small, 1):.2f}x)"
        )

        # iterative-graph scale point: the 25-node trade graph vs the
        # customer<-supplier purchase graph (~10k customers as nodes) on
        # the SAME sf — scaling axis is graph size, not table size
        from pythonvectordb_spark.operators.graph import pagerank

        lineitem = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        edges_big = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .groupBy(
                F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst")
            )
            .agg(F.count(F.lit(1)).cast("double").alias("w"))
        )
        QUERIES["trade_pagerank"](spark, sf_dir).count()  # warm
        t0 = time.time()
        QUERIES["trade_pagerank"](spark, sf_dir).count()
        t_small_pr = time.time() - t0
        n_edges = edges_big.count()
        t0 = time.time()
        n_nodes_pr = pagerank(edges_big, weight_col="w").count()
        t_big_pr = time.time() - t0
        out["pagerank"] = {
            "trade_25_nodes_s": round(t_small_pr, 2),
            "cust_supp_graph_s": round(t_big_pr, 2),
            "cust_supp_nodes": int(n_nodes_pr),
            "cust_supp_edges": int(n_edges),
        }
        log(
            f"bench sf1 rehearsal pagerank: 25 nodes {t_small_pr:.2f}s; "
            f"{n_nodes_pr} nodes / {n_edges} edges {t_big_pr:.2f}s"
        )

        # --- mllib_als_retrieval scale point (VERDICT r9 task 7): the
        # slowest headliner and the only expensive family whose scaling
        # exponent was argued (SCALING.md decomposition) rather than
        # measured. Scale axis: the USER universe — replica r remaps
        # every customer and order into a fresh id range, so each
        # replica contributes the original interaction structure on
        # disjoint users: distinct (user, item) interactions grow
        # exactly `factor`x (the work witness), the item catalog stays
        # fixed (the 100 TB shape: users/events grow, catalogs don't),
        # and ALS's per-sweep O(nnz * rank^2) block shuffles must scale
        # linearly in interactions. Shortlist rows (test_users x 96,
        # the recommendForUserSubset explode) are the retrieval arm's
        # own witness.
        from pythonvectordb_spark.indexing import als_purchase_retrieval

        orders1 = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        li1 = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        rep = F.explode(F.array(*[F.lit(i) for i in range(factor)]))
        (
            orders1.select("*", rep.alias("rep")).select(
                (F.col("o_orderkey") * factor + F.col("rep")).alias("o_orderkey"),
                (F.col("o_custkey") * factor + F.col("rep")).alias("o_custkey"),
            )
        ).write.mode("overwrite").parquet(f"{tmp}/orders10.parquet")
        (
            li1.select("*", rep.alias("rep")).select(
                (F.col("l_orderkey") * factor + F.col("rep")).alias("l_orderkey"),
                F.col("l_partkey"),
            )
        ).write.mode("overwrite").parquet(f"{tmp}/lineitem10.parquet")
        orders10 = spark.read.parquet(f"{tmp}/orders10.parquet")
        li10 = spark.read.parquet(f"{tmp}/lineitem10.parquet")

        als_ctrl = _control_query_s(spark, sf_dir)
        als_shortlist = 96  # the operator default; rows = test_users x this
        als_purchase_retrieval(orders1, li1).first()  # warm (JIT + codegen)
        t0 = time.time()
        r_small = als_purchase_retrieval(orders1, li1).first()
        t_small_als = time.time() - t0
        t0 = time.time()
        r_big = als_purchase_retrieval(orders10, li10).first()
        t_big_als = time.time() - t0
        exp_als = math.log(
            max(t_big_als, 1e-9) / max(t_small_als, 1e-9)
        ) / math.log(factor)
        out["queries"]["mllib_als_retrieval"] = {
            "t_sf0_1_s": round(t_small_als, 2),
            "t_sf1_s": round(t_big_als, 2),
            "exponent": round(exp_als, 2),
            "ctrl_before_s": als_ctrl,
            "interactions_small": int(r_small["n_interactions"]),
            "interactions_big": int(r_big["n_interactions"]),
            "interaction_growth": round(
                r_big["n_interactions"] / max(r_small["n_interactions"], 1), 2
            ),
            "shortlist_rows_small": int(r_small["n_test_users"]) * als_shortlist,
            "shortlist_rows_big": int(r_big["n_test_users"]) * als_shortlist,
        }
        log(
            f"bench sf1 rehearsal mllib_als_retrieval: {t_small_als:.2f}s -> "
            f"{t_big_als:.2f}s (exponent {exp_als:.2f}; interactions "
            f"{r_small['n_interactions']} -> {r_big['n_interactions']} = "
            f"{r_big['n_interactions'] / max(r_small['n_interactions'], 1):.2f}x; "
            f"ctrl {als_ctrl}s)"
        )
        # MLlib ALS persists factor/intermediate blocks internally and
        # only releases them on JVM GC of the model; the 10x fit's
        # residue plus the operator's lazy localCheckpoints otherwise
        # ride into the sf10 rehearsal's memory budget (observed: a
        # GCLocker allocation stall killed the JVM in the spans decade-2
        # point the first time this section ran). Drop every lingering
        # persisted block now — the later sections build their own.
        spark.catalog.clearCache()
        for rdd in list(
            spark.sparkContext._jsc.getPersistentRDDs().values()
        ):
            rdd.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    ctrl_end = _control_query_s(spark, sf_dir)
    out["control_query_s"] = {
        "start": ctrl_start,
        "end": ctrl_end,
        "delta_pct": round(
            (ctrl_end - ctrl_start) / max(ctrl_start, 1e-9) * 100, 1
        ),
    }
    log(
        f"bench sf1 rehearsal control (end): {ctrl_end}s "
        f"(delta {out['control_query_s']['delta_pct']}% vs start)"
    )
    return out


def _decade2_rehearsal(spark, sf_dir: str) -> dict:
    """Second measured decade (VERDICT r7 task 6; r8 tasks 5/6): three
    flagship families — knn_join, semantic_dedup, and the text-dedup
    family duplicate_spans — at a 100x twin of sf_dir, so the "linear
    by measurement" claim spans sf0.1 -> sf1 -> sf10 instead of one
    decade and covers a token-level text operator, not just vector
    ops. Same deterministic scale-up, same size rules, same work
    witnesses (semantic candidate count at threshold=-2; window-hash
    count == whitespace tokens for spans; scored pairs by definition
    for knn); the per-decade exponent here is measured between the 10x
    and 100x points. Self-labeling: carries its own start/end control
    pair PLUS a per-point control stamp taken immediately before each
    timed measurement (r8's driver artifact needed an out-of-band warm
    re-measure to adjudicate a 1.07 exponent; with per-point stamps a
    polluted point is identified inside the artifact).
    """
    import math
    import shutil
    import tempfile

    from pythonvectordb_spark.fixtures import _seeded_unit
    from pythonvectordb_spark.operators import dedup as DD

    ctrl_start = _control_query_s(spark, sf_dir)
    log(f"bench sf10 rehearsal control (start): {ctrl_start}s")
    tmp10 = tempfile.mkdtemp(prefix="pvdb_sf1_")
    tmp100 = tempfile.mkdtemp(prefix="pvdb_sf10_")
    out: dict = {"factors": [10, 100], "queries": {}}
    try:
        t0 = time.time()
        _build_scaled_dir(spark, sf_dir, 10, tmp10)
        _build_scaled_dir(spark, sf_dir, 100, tmp100)
        out["build_s"] = round(time.time() - t0, 1)
        emb1 = load_table(spark, sf_dir, "embeddings")
        n1 = emb1.count()
        emb10 = spark.read.parquet(f"{tmp10}/embeddings.parquet")
        emb100 = spark.read.parquet(f"{tmp100}/embeddings.parquet")
        n10, n100 = emb10.count(), emb100.count()
        docs1 = load_table(spark, sf_dir, "documents")
        docs10 = spark.read.parquet(f"{tmp10}/documents.parquet")
        docs100 = spark.read.parquet(f"{tmp100}/documents.parquet")

        def sem_centroids(n):  # same size rule as _scale_rehearsal
            k = max(8, n // 250)
            return [_seeded_unit(9000 + i) for i in range(k)]

        cases = {
            "semantic_dedup": lambda d, e, n: DD.semantic_dedup_pairs(
                e, sem_centroids(n), 0.4, assign="arrow"
            ),
            "knn_join_1024q": lambda d, e, n: S.knn_join(
                S.with_qvec(e),
                e.limit(1024).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qvec_query"),
                ),
                k=10,
                query_vec="qvec_query",
            ),
            # r8 task 5: a text-dedup family in the second decade —
            # window-hash spans are O(tokens), witnessed exactly below
            "duplicate_spans": lambda d, e, n: _tx().duplicate_spans(
                d, window=8
            ),
        }
        for name, fn in cases.items():
            # warm EACH point once before timing (plan codegen + first
            # parquet read of the freshly-built twin): the round-8
            # partition experiment showed the cold first read alone
            # inflates the decade-2 exponent 1.01 -> 1.06
            fn(docs1, emb1, n1).count()
            fn(docs10, emb10, n10).count()
            fn(docs100, emb100, n100).count()
            # r8 task 6: per-point control stamp immediately before
            # each timed point, so a co-tenant window that pollutes
            # exactly one point is identified inside the artifact
            ctrl_p10 = _control_query_s(spark, sf_dir)
            t0 = time.time()
            rows10 = fn(docs10, emb10, n10).count()
            t10 = time.time() - t0
            ctrl_p100 = _control_query_s(spark, sf_dir)
            t0 = time.time()
            rows100 = fn(docs100, emb100, n100).count()
            t100 = time.time() - t0
            exp = math.log(max(t100, 1e-9) / max(t10, 1e-9)) / math.log(10)
            out["queries"][name] = {
                "t_sf1_s": round(t10, 2),
                "t_sf10_s": round(t100, 2),
                "ctrl_before_sf1_s": ctrl_p10,
                "ctrl_before_sf10_s": ctrl_p100,
                "exponent_decade2": round(exp, 2),
                "rows_sf1": int(rows10),
                "rows_sf10": int(rows100),
            }
            log(
                f"bench sf10 rehearsal {name}: {t10:.2f}s -> {t100:.2f}s "
                f"(decade-2 exponent {exp:.2f}; rows {rows10} -> {rows100}; "
                f"point controls {ctrl_p10}s / {ctrl_p100}s)"
            )
        # work witness across the SECOND decade: within-block candidate
        # pairs (threshold=-2 keeps every candidate)
        cand10 = DD.semantic_dedup_pairs(
            emb10, sem_centroids(n10), -2.0, assign="arrow"
        ).count()
        cand100 = DD.semantic_dedup_pairs(
            emb100, sem_centroids(n100), -2.0, assign="arrow"
        ).count()
        q = out["queries"]["semantic_dedup"]
        q["candidates_sf1"] = int(cand10)
        q["candidates_sf10"] = int(cand100)
        q["candidate_growth_decade2"] = round(cand100 / max(cand10, 1), 2)
        # knn_join work is queries x corpus by definition: the witness
        # is the scored-pair count, exact and engine-independent
        out["queries"]["knn_join_1024q"]["scored_pairs_sf1"] = 1024 * n10
        out["queries"]["knn_join_1024q"]["scored_pairs_sf10"] = 1024 * n100
        # duplicate_spans work == window-hash count == whitespace tokens
        tok10 = docs10.select(
            F.sum(F.size(F.split("text", " "))).alias("t")
        ).first()[0]
        tok100 = docs100.select(
            F.sum(F.size(F.split("text", " "))).alias("t")
        ).first()[0]
        qs = out["queries"]["duplicate_spans"]
        qs["tokens_sf1"] = int(tok10)
        qs["tokens_sf10"] = int(tok100)
        qs["token_growth_decade2"] = round(tok100 / max(tok10, 1), 2)
        log(
            f"bench sf10 work witness: semantic candidates {cand10} -> "
            f"{cand100} ({cand100 / max(cand10, 1):.2f}x at 10x data); "
            f"spans tokens {tok10} -> {tok100} "
            f"({tok100 / max(tok10, 1):.2f}x)"
        )
    finally:
        shutil.rmtree(tmp10, ignore_errors=True)
        shutil.rmtree(tmp100, ignore_errors=True)
    ctrl_end = _control_query_s(spark, sf_dir)
    out["control_query_s"] = {
        "start": ctrl_start,
        "end": ctrl_end,
        "delta_pct": round(
            (ctrl_end - ctrl_start) / max(ctrl_start, 1e-9) * 100, 1
        ),
    }
    log(f"bench sf10 rehearsal control (end): {ctrl_end}s")
    return out


def _knn_retry_needed(
    control_start: float,
    knn_ctrl_end: float,
    control_end: float,
    qps: float,
    qps_32k: float,
) -> bool:
    """Decide whether the knn headline window was polluted (VERDICT r8
    task 2, tightened r10 after the r9 driver window evaded both
    triggers at controls 2.6x floor / small batch losing by 11%; pure
    so tests can pin the policy). Two triggers, OR-ed:

    * loaded window — the knn section's own control pair exceeded 2.5x
      the run's idle floor (the floor is the min of all three run
      controls; the end-of-run control is always fully warm). Was 3x
      through r9; the r9 driver window sat at 2.61x and stood polluted
      (881 qps recorded vs 1,690 clean same-day).
    * self-inconsistency — the 4,096 batch lost to the 32k batch AT
      ALL. Every clean round has the small batch FASTER (1,833 vs
      1,331 r8; 1,509 vs 1,331 r7; 1,690 vs 1,331-band r9 retry), so
      any loss is a polluted window even when the controls look
      plausible (a co-tenant can land between the control stamp and
      the measurement). Was a 25% margin through r9; the r9 driver
      window lost by 11% and evaded it.
    """
    idle_floor = min(control_start, knn_ctrl_end, control_end)
    loaded_window = max(control_start, knn_ctrl_end) > 2.5 * idle_floor
    inconsistent = qps < qps_32k
    return loaded_window or inconsistent


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    spark = get_spark("pvdb-bench")
    spark.sparkContext.setLogLevel("ERROR")

    control_start = _control_query_s(spark, sf_dir)
    log(f"bench control query (start): {control_start}s")

    # --- baseline-regime throughput: 50k vectors, batched knn as one job ---
    # (measured FIRST: the heavy dedup queries below leave GC/allocator
    # pressure that pollutes latency numbers)
    emb = load_table(spark, sf_dir, "embeddings")
    n_emb = emb.count()
    replicas = max(1, 50_000 // max(n_emb, 1))
    tiled = (
        emb.crossJoin(F.broadcast(spark.range(replicas).select(F.col("id").alias("rep"))))
        .withColumn("vec_id", F.col("vec_id") * replicas + F.col("rep"))
        .drop("rep")
    )
    # 32 partitions measured best on local[32] (re-measured: 8 parts
    # ~1330 qps, 16 ~1384, 32 ~1401 at 4096 queries; the gap widens at
    # 8192 queries where 32 parts hit ~1570). One task per core keeps the
    # matmul and the per-query top-k loop busy end-to-end. On a real
    # cluster the operator runs over however many partitions the table
    # has — scores are partition-local, the merge is a tiny window top-k.
    table = S.with_qvec(tiled).repartition(32).persist()
    n_vec = table.count()  # materialize cache (the reference is in-memory too)

    n_queries = 4096
    queries = (
        emb.crossJoin(
            F.broadcast(
                spark.range((n_queries + n_emb - 1) // n_emb).select(F.col("id").alias("r"))
            )
        )
        .withColumn("query_id", F.col("vec_id") * 100 + F.col("r"))
        .limit(n_queries)
        .select("query_id", F.col("embedding").alias("qvec_query"))
    )
    S.knn_join(table, queries, k=10, query_vec="qvec_query").count()  # warm-up
    batch_sec = float("inf")
    for _ in range(3):  # best-of-3: the 4096-batch number swung 3-8 s
        # across otherwise-identical runs on this host; min-of-3 is the
        # steady-state estimator (matches the control-marker rationale)
        t0 = time.time()
        S.knn_join(table, queries, k=10, query_vec="qvec_query").count()
        batch_sec = min(batch_sec, time.time() - t0)
    qps = n_queries / batch_sec
    log(f"bench knn_join batch: {n_queries} queries over {n_vec} vectors in {batch_sec:.2f}s -> {qps:.0f} qps")

    # --- large-batch throughput: 32k queries, one job ---
    # amortizes scheduling further than the 4,096 batch; the 8 MB query
    # matrix rides in the scan's closure, which PySpark broadcasts itself
    # because it is over 1 MB
    n_big = 32_768
    big_queries = (
        emb.crossJoin(
            F.broadcast(
                spark.range((n_big + n_emb - 1) // n_emb).select(F.col("id").alias("r"))
            )
        )
        .withColumn("query_id", F.col("vec_id") * 100 + F.col("r"))
        .limit(n_big)
        .select("query_id", F.col("embedding").alias("qvec_query"))
    )
    big_sec = float("inf")
    for _ in range(2):  # best-of-2 (one-shot swung 13-30 s across runs)
        t0 = time.time()
        S.knn_join(table, big_queries, k=10, query_vec="qvec_query").count()
        big_sec = min(big_sec, time.time() - t0)
    qps_32k = n_big / big_sec
    log(f"bench knn_join 32k batch: {big_sec:.2f}s -> {qps_32k:.0f} qps")

    S.knn_search(table, FX.QUERY_VEC, k=10).collect()
    single_ms = float("inf")
    for _ in range(5):
        t0 = time.time()
        S.knn_search(table, FX.QUERY_VEC, k=10).collect()
        single_ms = min(single_ms, (time.time() - t0) * 1000)

    # end-of-knn-section control: together with control_start this
    # brackets exactly the headline qps measurements (r8 task 2 — the
    # knn section must defend itself against loaded windows)
    knn_ctrl_end = _control_query_s(spark, sf_dir)
    log(f"bench knn section control (end): {knn_ctrl_end}s")

    # --- concurrent search (benchmark_suite.py:133-162 analogue): N
    # client threads issuing independent single-query jobs. Concurrency
    # needs narrow jobs: a 32-partition scan saturates every core, so
    # jobs would just serialize; a 4-partition clone lets 8 jobs
    # genuinely interleave (4 tasks x 8 in-flight jobs = full machine).
    from concurrent.futures import ThreadPoolExecutor

    conc_table = table.coalesce(4).persist()
    conc_table.count()
    conc_threads, conc_per_thread = 8, 8
    queries_conc = [
        [float(x) for x in r.embedding]
        for r in emb.limit(conc_threads * conc_per_thread).collect()
    ]

    def one_query(qv):
        S.knn_search(conc_table, qv, k=10).collect()

    one_query(FX.QUERY_VEC)  # warm
    t0 = time.time()
    with ThreadPoolExecutor(max_workers=conc_threads) as ex:
        list(ex.map(one_query, queries_conc))
    conc_sec = time.time() - t0
    concurrent_qps = len(queries_conc) / conc_sec
    log(
        f"bench concurrent: {len(queries_conc)} queries / {conc_threads} threads "
        f"in {conc_sec:.2f}s -> {concurrent_qps:.0f} qps"
    )
    # --- concurrent search, dynamic batching (serving.KnnServer): the
    # same client shape (N independent threads, one query per call), but
    # the server coalesces queries arriving within a few ms into ONE
    # batched job — the production answer to Spark's per-job floor. Runs
    # against the full 32-partition table (each coalesced job is a
    # normal batched-knn job).
    from pythonvectordb_spark.serving import KnnServer

    serve_table = table.coalesce(8).persist()
    serve_table.count()
    queries_co = [
        [float(x) for x in r.embedding] for r in emb.limit(256).collect()
    ]

    def serve_qps(n_threads: int, n_queries: int) -> tuple[float, dict]:
        """(qps, the server's stats() over the timed requests' tail)."""
        qs = (queries_co * ((n_queries + 255) // 256))[:n_queries]
        with KnnServer(
            serve_table, k=10, max_batch=512, max_wait_ms=8.0, max_inflight=4
        ) as srv:
            srv.search(qs[0])  # warm
            t0 = time.time()
            with ThreadPoolExecutor(max_workers=n_threads) as ex:
                list(ex.map(srv.search, qs))
            sec = time.time() - t0
            stats = srv.stats()
        return n_queries / sec, stats

    # same 8-client shape as the raw number above, then the scaling
    # story: throughput grows with offered concurrency (more queries
    # coalesce per job) instead of collapsing into the per-job floor.
    # The 64/256-client points are best-of-2 (round-5 variance fix: a
    # single window swung 2.4x across rounds on host scheduling noise;
    # min-of-N elapsed = max-of-N qps is the same steady-state
    # estimator every other timed section uses).
    # Each point carries the best window's end-to-end p50/p99 (ms) from
    # KnnServer.stats(): its last MAX_LATENCIES requests.
    concurrent_qps_coalesced, serve_stats_8 = serve_qps(8, 256)
    concurrent_qps_coalesced_64, serve_stats_64 = max(
        (serve_qps(64, 1024) for _ in range(2)), key=lambda r: r[0]
    )
    concurrent_qps_coalesced_256, serve_stats_256 = max(
        (serve_qps(256, 4096) for _ in range(2)), key=lambda r: r[0]
    )
    # pinned floor: coalescing must beat the raw per-job path by >= 5x
    # at 256 clients — if this ever reads False in a round's JSON, the
    # serving path regressed (not just host variance; the raw number is
    # measured in the same run under the same host conditions)
    coalesced_floor_ok = concurrent_qps_coalesced_256 >= 5.0 * concurrent_qps
    log(
        f"bench concurrent coalesced: 8 threads -> {concurrent_qps_coalesced:.0f} qps; "
        f"64 threads -> {concurrent_qps_coalesced_64:.0f} qps; "
        f"256 threads -> {concurrent_qps_coalesced_256:.0f} qps; "
        f"floor(>=5x raw {concurrent_qps:.0f}): {'OK' if coalesced_floor_ok else 'REGRESSED'}"
    )
    serve_table.unpersist()

    conc_table.unpersist()
    table.unpersist()

    # --- memory scaling (benchmark_suite.py:164-226 analogue): cached
    # int8-storage bytes per vector at 10k / 50k / 100k rows ---
    def cached_bytes(n_rows: int) -> float:
        reps = max(1, (n_rows + n_emb - 1) // n_emb)
        t = (
            emb.crossJoin(
                F.broadcast(spark.range(reps).select(F.col("id").alias("rep")))
            )
            .withColumn("vec_id", F.col("vec_id") * reps + F.col("rep"))
            .drop("rep")
            .limit(n_rows)
        )
        jsc = spark.sparkContext._jsc.sc()
        before = sum(i.memSize() for i in jsc.getRDDStorageInfo())
        ct = S.with_qvec(t).select("vec_id", "qvec").persist()
        ct.count()
        after = sum(i.memSize() for i in jsc.getRDDStorageInfo())
        ct.unpersist(blocking=True)
        return (after - before) / n_rows

    mem_scaling = {str(n): round(cached_bytes(n), 1) for n in (10_000, 50_000, 100_000)}
    log(f"bench memory bytes/vector (cached id+int8 qvec): {mem_scaling}")

    # --- reference-suite sections: insert / delete / save-load ---
    # (benchmark_suite.py:48-86, 228-272, 282-334 methodology at the 50k
    # regime; measured as Spark jobs on the same tiled table)
    import shutil
    import tempfile

    # control stamp bracketing the mutation scalars (VERDICT r9 task 6:
    # insert/delete/load swung 23-27% between driver artifacts with no
    # in-artifact adjudication — stamp the section exactly as the knn
    # section does so a polluted window is identified inside the JSON)
    mut_ctrl_start = _control_query_s(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="pvdb_bench_")
    try:
        t0 = time.time()
        S.with_qvec(tiled).write.mode("overwrite").parquet(f"{tmp}/ins")
        insert_s = time.time() - t0  # validate+normalize+quantize+persist
        insert_vps = n_vec / insert_s

        snap = spark.read.parquet(f"{tmp}/ins")
        del_ids = spark.range(500).select((F.col("id") * 100).alias("vec_id"))
        t0 = time.time()
        n_after = snap.join(del_ids, "vec_id", "left_anti").count()
        delete_ms = (time.time() - t0) * 1000  # lazy-delete analogue: anti-join
        t0 = time.time()
        n_back = spark.read.parquet(f"{tmp}/ins").count()
        load_ms = (time.time() - t0) * 1000
        log(
            f"bench insert: {n_vec} vecs in {insert_s:.2f}s ({insert_vps:.0f}/s); "
            f"delete(500): {delete_ms:.0f}ms -> {n_after} live; load: {load_ms:.0f}ms ({n_back} rows)"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    mut_ctrl_end = _control_query_s(spark, sf_dir)
    log(
        f"bench mutation section controls: {mut_ctrl_start}s / {mut_ctrl_end}s"
    )

    # --- ANN recall vs exact: the approximate operators' quality metric,
    # recorded per-round so recall regressions are as visible as latency
    # ones. The testdata is uniform-random (ANN's theoretical worst case:
    # no cluster structure), so these are recall FLOORS; see the
    # recall/pruning notes on each operator. ---
    from pythonvectordb_spark import fixtures_trained as FT
    from pythonvectordb_spark.fixtures import _seeded_unit
    from pythonvectordb_spark.indexing import brp_lsh_near_dup
    from pythonvectordb_spark.operators.dedup import embedding_near_dup, lsh_band_planes

    # recall is averaged over a fixed probe set — round 2's single-query
    # numbers swung by ±0.3 from codebook luck alone (recall@10 moves in
    # 0.1 steps), so one query can't separate a bad index from a bad draw
    probe_seeds = [42, 7, 11, 13, 17, 19, 23, 29, 31, 37]
    probes = [_seeded_unit(s) for s in probe_seeds]
    exact_by_probe = [
        {r.vec_id for r in S.knn_search_float(emb, q, k=10).collect()}
        for q in probes
    ]

    def mean_recall(search_fn, n_probes: int = 10) -> float:
        vals = [
            len({r.vec_id for r in search_fn(q).collect()} & ex) / len(ex)
            for q, ex in zip(probes[:n_probes], exact_by_probe[:n_probes])
        ]
        return round(sum(vals) / len(vals), 3)

    # PQ entries use 5 probes (the m=16 x 64 literal-codebook plan costs
    # ~2.5 s to build per query; codes are ingest-time in production)
    ann_recall = {
        "ivf_nprobe2": mean_recall(
            lambda q: S.ann_ivf_search(emb, q, FX.CENTROIDS, k=10, nprobe=2)
        ),
        "ivf_nprobe4": mean_recall(
            lambda q: S.ann_ivf_search(emb, q, FX.CENTROIDS, k=10, nprobe=4)
        ),
        # teaching baseline: single 6-bit table ~= random retrieval here
        "lsh_single_band_6bit": mean_recall(
            lambda q: S.ann_lsh_search(emb, q, FX.HYPERPLANES, k=10)
        ),
        # the registered ann_lsh default since round 3 (A/B: 16x6=0.58,
        # 20x5=0.80, 24x4=0.98 at ~equal cost; 20x5 is the ≥0.8 point
        # distinct from the multiprobe entry below)
        "lsh_default_20x5": mean_recall(
            lambda q: S.ann_lsh_multiprobe_search(emb, q, lsh_band_planes(20, 5), k=10)
        ),
        "lsh_multiprobe_24x4": mean_recall(
            lambda q: S.ann_lsh_multiprobe_search(emb, q, lsh_band_planes(24, 4), k=10)
        ),
        # trained codebooks (fixtures_trained.py) are the registered
        # production path since round 3; random books kept as contrast
        "pq_adc": mean_recall(
            lambda q: S.ann_pq_search(emb, q, FT.PQ_CODEBOOKS_TRAINED, k=10),
            n_probes=5,
        ),
        "pq_adc_rerank100": mean_recall(
            lambda q: S.ann_pq_search(
                emb, q, FT.PQ_CODEBOOKS_TRAINED, k=10, rerank=100
            ),
            n_probes=5,
        ),
        "pq_adc_random_books_rerank100": mean_recall(
            lambda q: S.ann_pq_search(emb, q, FX.PQ_CODEBOOKS, k=10, rerank=100),
            n_probes=5,
        ),
        "ivf_pq_nprobe4_rerank100": mean_recall(
            lambda q: S.ann_ivf_pq_search(
                emb, q, FT.CENTROIDS_TRAINED, FT.PQ_CODEBOOKS_TRAINED,
                k=10, nprobe=4, rerank=100,
            ),
            n_probes=5,
        ),
        # the registered ann_ivf_pq_trained default since round 3 (the
        # >=0.8 point on uniform-random testdata; clustered corpora get
        # there at much smaller probe fractions)
        "ivf_pq_nprobe6_rerank100": mean_recall(
            lambda q: S.ann_ivf_pq_search(
                emb, q, FT.CENTROIDS_TRAINED, FT.PQ_CODEBOOKS_TRAINED,
                k=10, nprobe=6, rerank=100,
            ),
            n_probes=5,
        ),
    }
    log(f"bench ann recall@10 (mean over {len(probes)} probes): {ann_recall}")

    exact_pairs = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup(emb, 0.4, method="pandas").collect()
    }
    lsh_pairs = {
        (r.id_a, r.id_b) for r in embedding_near_dup(emb, 0.4, method="lsh").collect()
    }
    brp_pairs = {
        (r.id_a, r.id_b)
        for r in brp_lsh_near_dup(emb, cosine_threshold=0.4, num_hash_tables=6).collect()
    }
    dedup_pair_recall = {
        "lsh_blocked_12x4": round(len(lsh_pairs & exact_pairs) / max(len(exact_pairs), 1), 3),
        "mllib_brp_6tables": round(len(brp_pairs & exact_pairs) / max(len(exact_pairs), 1), 3),
        "n_exact_pairs": len(exact_pairs),
    }
    log(f"bench near-dup pair recall: {dedup_pair_recall}")

    # best-of-2 after warm-up (methodology change in round 4 — rounds 1-3
    # timed a single post-warm run; min-of-N is the same steady-state
    # estimator the knn batch sections have always used, and it removes
    # most of the ±15% co-tenant drift seen in cross-round per-query
    # comparisons)
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        fn(spark, sf_dir).collect()  # warm-up: JIT/codegen/IO caches
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            fn(spark, sf_dir).collect()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
        log(f"bench {name}: {timings[name]}s (best of 2)")

    control_end = _control_query_s(spark, sf_dir)
    # SIGNED delta: co-tenant load arriving mid-run makes the END
    # control SLOWER than the start; end-faster-than-start is residual
    # JVM warm-up (C2 compilation reaches steady state only after many
    # jobs — both measured rounds showed start ~3x end with zero load)
    # and does NOT invalidate the run. Cross-ROUND comparisons should
    # use the END control, which is always fully warm.
    control_delta_pct = round(
        (control_end - control_start) / max(control_start, 1e-9) * 100, 1
    )
    log(
        f"bench control query (end): {control_end}s "
        f"(signed delta {control_delta_pct}% vs start — END slower by >20%"
        " means co-tenant load arrived mid-run, rerun; end faster than"
        " start is JVM warm-up, compare rounds on the END value)"
    )

    # --- knn headline self-defense (VERDICT r8 task 2): the official
    # record has twice carried a co-tenancy dip (r6 663 qps, r8 696 qps
    # vs clean readings of 1,509-1,833) because the knn section ran in
    # a loaded window while the rest of the run was clean. If the knn
    # section's own control pair exceeds 2.5x this run's idle floor,
    # or the 4,096 batch lost to the 32k batch at all (r10 tightening),
    # re-measure the headline number ONCE now (the host had the whole
    # run to calm down), with its own control pair, and emit BOTH
    # readings — the artifact then adjudicates itself.
    knn_retry = None
    if _knn_retry_needed(control_start, knn_ctrl_end, control_end, qps, qps_32k):
        log(
            f"bench knn headline suspect (controls {control_start}s/"
            f"{knn_ctrl_end}s vs idle floor "
            f"{min(control_start, knn_ctrl_end, control_end)}s; "
            f"qps {qps:.0f} vs 32k-batch {qps_32k:.0f}) -> "
            "re-measuring headline qps"
        )
        retry_ctrl_start = _control_query_s(spark, sf_dir)
        rtable = S.with_qvec(tiled).repartition(32).persist()
        rtable.count()
        S.knn_join(rtable, queries, k=10, query_vec="qvec_query").count()
        retry_sec = float("inf")
        for _ in range(3):
            t0 = time.time()
            S.knn_join(rtable, queries, k=10, query_vec="qvec_query").count()
            retry_sec = min(retry_sec, time.time() - t0)
        rtable.unpersist()
        retry_ctrl_end = _control_query_s(spark, sf_dir)
        knn_retry = {
            "qps": round(n_queries / retry_sec, 1),
            "control_query_s": {
                "start": retry_ctrl_start,
                "end": retry_ctrl_end,
            },
        }
        log(
            f"bench knn retry: {knn_retry['qps']} qps "
            f"(controls {retry_ctrl_start}s / {retry_ctrl_end}s)"
        )

    # --- 10x scale rehearsal (round-3 VERDICT ask #5): measure, don't
    # argue, the scaling exponent of the heaviest families. Skippable
    # for quick local iterations via SPARK_GRAFT_SKIP_SF1=1.
    sf1_rehearsal = None
    sf10_rehearsal = None
    if not os.environ.get("SPARK_GRAFT_SKIP_SF1"):
        sf1_rehearsal = _scale_rehearsal(spark, sf_dir)
        # second decade (VERDICT r7 task 6) for the two flagship
        # families; skippable together with the first
        sf10_rehearsal = _decade2_rehearsal(spark, sf_dir)

    total = round(sum(timings.values()), 3)
    # Key order matters: the driver records only the LAST 2000 chars of
    # output, so the bulky per-query `queries` dict (170+ entries) and
    # `sf1_rehearsal` go FIRST and the headline scalars LAST — r5 lost
    # its knn_qps_50k driver datapoint to the old ordering (VERDICT r5
    # task 2). json.dumps preserves dict insertion order.
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if sf1_rehearsal is not None:
        out["sf1_rehearsal"] = sf1_rehearsal
    if sf10_rehearsal is not None:
        out["sf10_rehearsal"] = sf10_rehearsal
    # Headline scalars LAST so they land inside the driver's tail window.
    out.update(
        {
            "mem_bytes_per_vector": mem_scaling,
            "ann_recall_at_10": ann_recall,
            "dedup_pair_recall": dedup_pair_recall,
            "n_vectors_tiled": n_vec,
            "insert_vecs_per_s": round(insert_vps, 1),
            "delete_anti_join_ms": round(delete_ms, 1),
            "snapshot_load_ms": round(load_ms, 1),
            "int8_bytes_per_vector": 64,  # dim bytes/vector, matches reference
            "knn_single_ms": round(single_ms, 1),
            "concurrent_qps": round(concurrent_qps, 1),
            "concurrent_qps_coalesced": round(concurrent_qps_coalesced, 1),
            "concurrent_coalesced_p50_ms": round(serve_stats_8["e2e_ms_p50"], 1),
            "concurrent_coalesced_p99_ms": round(serve_stats_8["e2e_ms_p99"], 1),
            "concurrent_qps_coalesced_64clients": round(
                concurrent_qps_coalesced_64, 1
            ),
            "concurrent_coalesced_64clients_p50_ms": round(serve_stats_64["e2e_ms_p50"], 1),
            "concurrent_coalesced_64clients_p99_ms": round(serve_stats_64["e2e_ms_p99"], 1),
            "concurrent_qps_coalesced_256clients": round(
                concurrent_qps_coalesced_256, 1
            ),
            "concurrent_coalesced_256clients_p50_ms": round(serve_stats_256["e2e_ms_p50"], 1),
            "concurrent_coalesced_256clients_p99_ms": round(serve_stats_256["e2e_ms_p99"], 1),
            "coalesced_floor_ok": bool(coalesced_floor_ok),
            "knn_qps_50k_32k_batch": round(qps_32k, 1),
            # Control marker sits NEXT TO the headline qps (VERDICT r6
            # task 5) so a loaded window is self-labeling without
            # cross-referencing: qps falls as host load rises while the
            # control query time rises, so qps x control-seconds is
            # roughly load-invariant — compare qps_x_control_s across
            # rounds, not raw qps.
            "control_query_s": {
                "start": control_start,
                "end": control_end,
                "delta_pct": control_delta_pct,
            },
            # the pair that brackets exactly the headline knn section
            # (start-of-run control doubles as the section start)
            "knn_section_control_s": {
                "start": control_start,
                "end": knn_ctrl_end,
            },
            # the pair bracketing insert/delete/snapshot-load (r10):
            # adjudicates mutation-scalar swings the same way
            "mutation_section_control_s": {
                "start": mut_ctrl_start,
                "end": mut_ctrl_end,
            },
            "qps_x_control_s": round(
                qps * (control_start + control_end) / 2.0, 2
            ),
            "knn_qps_50k": round(qps, 1),
        }
    )
    if knn_retry is not None:
        # loaded-window re-measure (see the self-defense block): the
        # retry value + its own control pair, emitted BESIDE the
        # original so the record carries both
        out["knn_qps_50k_retry"] = knn_retry["qps"]
        out["knn_retry_control_s"] = knn_retry["control_query_s"]
    spark.stop()
    line = json.dumps(out)
    # VERDICT r10 item 7: the one-line JSON now carries 240 timings plus
    # rehearsals; round 9's round-over-round comparison was lost because
    # the captured tail truncated mid-line. Persist the identical JSON to
    # a file beside the repo so a truncated stdout capture can never void
    # a round's baseline. The printed contract line is unchanged.
    try:
        with open(os.path.join(REPO, "bench_last.json"), "w") as f:
            f.write(line + "\n")
    except OSError:
        pass  # read-only checkout: the printed line remains the contract
    print(line)


if __name__ == "__main__":
    main()
