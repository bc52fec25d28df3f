"""MLlib index builders: recall measured against the exact operators."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def raw(spark):
    from pythonvectordb_spark.sources.testdata import load_table

    return load_table(spark, SF_SMOKE, "embeddings").cache()


def test_kmeans_centroids_power_ivf(spark, raw):
    """KMeans codebook plugs into ann_ivf_search; probing half the
    clusters must keep good recall vs brute force."""
    from pythonvectordb_spark.indexing import train_ivf_centroids
    from pythonvectordb_spark.operators.search import ann_ivf_search, knn_search_float

    cents = train_ivf_centroids(raw, n_clusters=8)
    assert len(cents) == 8 and len(cents[0]) == 64
    q = [float(x) for x in raw.filter(F.col("vec_id") == 11).first().embedding]
    exact = [r.vec_id for r in knn_search_float(raw, q, k=10).collect()]
    approx = [r.vec_id for r in ann_ivf_search(raw, q, cents, k=10, nprobe=4).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5  # self + near neighbors live in probed clusters
    assert approx[0] == 11  # the query's own row is always found


def test_materialized_ivf_index_prunes_partitions(spark, raw, tmp_path):
    """The materialized IVF index must (a) return the same results as the
    inline IVF operator and (b) plan the probe as partition pruning —
    only the probed cluster directories are read."""
    from pythonvectordb_spark import fixtures as FX
    from pythonvectordb_spark.indexing import ann_ivf_search_indexed, build_ivf_index
    from pythonvectordb_spark.operators.search import ann_ivf_search
    from pythonvectordb_spark.plans.explain import explain_str

    path = str(tmp_path / "ivf")
    build_ivf_index(raw, FX.CENTROIDS, path)

    q = ann_ivf_search_indexed(spark, path, FX.QUERY_VEC, FX.CENTROIDS, k=10, nprobe=2)
    inline = ann_ivf_search(raw, FX.QUERY_VEC, FX.CENTROIDS, k=10, nprobe=2)
    got = [(r.vec_id, round(r.score, 9)) for r in q.collect()]
    want = [(r.vec_id, round(r.score, 9)) for r in inline.collect()]
    assert got == want

    txt = explain_str(q)
    assert "PartitionFilters" in txt
    # the cluster predicate must be a partition filter, not a data filter
    pf = txt.split("PartitionFilters: [")[1].split("]")[0]
    assert "cluster_id" in pf


def test_brp_lsh_finds_top_cosine_pairs(spark, raw):
    """BRP-LSH candidates must cover most exact near-dup pairs."""
    from pythonvectordb_spark.indexing import brp_lsh_near_dup
    from pythonvectordb_spark.operators.dedup import embedding_near_dup

    exact = {(r.id_a, r.id_b) for r in embedding_near_dup(raw, 0.45, method="expr").collect()}
    approx = {
        (r.id_a, r.id_b)
        for r in brp_lsh_near_dup(raw, cosine_threshold=0.45, num_hash_tables=6).collect()
    }
    assert exact, "calibration: exact pair set should be non-empty"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"recall {recall:.2f} ({len(exact)} exact pairs)"


def test_minhash_lsh_finds_planted_dups(spark):
    """MLlib MinHashLSH must recover the planted near-duplicate docs that
    exact shingle-Jaccard finds."""
    from pythonvectordb_spark.indexing import minhash_lsh_text_pairs
    from pythonvectordb_spark.operators.dedup import ngram_jaccard_pairs
    from pythonvectordb_spark.sources.testdata import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    assert exact, "calibration: the testdata plants near-dup pairs"
    approx = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_text_pairs(docs, jaccard_threshold=0.7).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"recall {recall:.2f} of {len(exact)} planted pairs"


def test_pq_encode_uses_full_codebook_and_compresses(spark, raw):
    """Every subspace must spread across its 16 centroids (a collapsed
    codebook means the centroids missed the data shell) and codes must
    be valid one-byte indices — the 32x compression contract."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark import fixtures as FX
    from pythonvectordb_spark.operators.search import pq_code_expr

    codes = raw.select(pq_code_expr("embedding", FX.PQ_CODEBOOKS).alias("code"))
    rows = codes.collect()
    assert all(len(r.code) == FX.PQ_M for r in rows)
    assert all(0 <= c < FX.PQ_KS for r in rows for c in r.code)
    for s in range(FX.PQ_M):
        spread = codes.select(F.element_at("code", s + 1).alias("c")).distinct().count()
        assert spread >= FX.PQ_KS // 2, f"subspace {s} collapsed to {spread} codes"


def test_pq_rerank_recovers_recall_over_raw_adc(spark, raw):
    """The exact re-rank stage must dominate raw ADC ordering: the
    shortlist re-ranked top-10 contains at least as many true neighbors
    as ADC alone, and both find the query's own row at rank 1 when the
    query IS a table row (its ADC distance is the self-quantization
    floor)."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark import fixtures as FX
    from pythonvectordb_spark.operators.search import ann_pq_search, knn_search_float

    q = [float(x) for x in raw.filter(F.col("vec_id") == 11).first().embedding]
    exact = {r.vec_id for r in knn_search_float(raw, q, k=10).collect()}
    adc = [r.vec_id for r in ann_pq_search(raw, q, FX.PQ_CODEBOOKS, k=10).collect()]
    rr = [
        r.vec_id
        for r in ann_pq_search(raw, q, FX.PQ_CODEBOOKS, k=10, rerank=100).collect()
    ]
    assert len(set(rr) & exact) >= len(set(adc) & exact)
    assert rr[0] == 11  # self-match survives quantization + re-rank


def test_pq_code_arrow_bit_equal_to_expr(spark, raw):
    """The Arrow encode kernel must produce byte-identical codes to the
    expression twin for BOTH codebook shapes (random 8x16x8 and trained
    16x64x4) — it is the default inline-encode path in ann_pq_search,
    and the DuckDB oracles replicate the expression's fold order."""
    from pythonvectordb_spark import fixtures as FX
    from pythonvectordb_spark import fixtures_trained as FT
    from pythonvectordb_spark.operators.search import pq_code_arrow, pq_code_expr

    for books in (FX.PQ_CODEBOOKS, FT.PQ_CODEBOOKS_TRAINED):
        got = raw.select(
            "vec_id",
            pq_code_expr("embedding", books).alias("e"),
            pq_code_arrow("embedding", books).alias("a"),
        ).collect()
        assert all(list(r.e) == list(r.a) for r in got)


def test_word2vec_guarantee_contract_row(spark):
    """The guarantee row must assert the full model contract: vocab size
    equals the >=minCount token-set size (checked independently here
    with a DataFrame count, not the oracle), the synonym list is
    full-length, vocab-only, probe-free, and similarity-sorted."""
    from pythonvectordb_spark.functions.text import tokens  # noqa: F401
    from pythonvectordb_spark.indexing import word2vec_guarantee
    from pythonvectordb_spark.sources.testdata import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    (row,) = word2vec_guarantee(docs).collect()
    # independent vocab recount with the same tokenizer semantics
    n_vocab_expected = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"[^a-z]+"), lambda x: x != ""
                )
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 5)
        .count()
    )
    assert row.n_vocab == n_vocab_expected > 0
    assert row.n_neighbors == 5
    assert row.all_in_vocab == 1
    assert row.probe_excluded == 1
    assert row.sims_monotone == 1


def test_mllib_guarantee_queries_emit_pass_bits(spark):
    """The three recall-guarantee registry entries must emit their bound
    bits as 1 on the fixture corpus (bounds were pinned with >= 2x
    margin from measured recalls; a seed or pipeline regression flips
    the bit and the oracle hash)."""
    from pythonvectordb_spark.registry import QUERIES

    (ivf_row,) = {r for r in QUERIES["mllib_ivf_search"](spark, SF_SMOKE).collect()[:1]}
    assert ivf_row.pruned_recall_ok == 1
    (brp,) = QUERIES["mllib_brp_neardup"](spark, SF_SMOKE).collect()
    assert brp.recall_ok == 1 and brp.n_exact_pairs > 0
    (mh,) = QUERIES["mllib_minhash_dedup"](spark, SF_SMOKE).collect()
    assert mh.recall_ok == 1 and mh.n_exact_pairs > 0


def test_ann_nprobe_curve_monotone_to_exact(spark, raw):
    """Full probe (nprobe = n_centroids) + rerank >= corpus makes the
    sweep's last point EXACT (recall 1.0); earlier points never exceed
    a wider probe by construction of the candidate sets."""
    import pythonvectordb_spark.fixtures as FX
    import pythonvectordb_spark.fixtures_trained as FT
    from pythonvectordb_spark.operators.search import ann_nprobe_curve

    n = raw.count()
    rows = {
        r.nprobe: r
        for r in ann_nprobe_curve(
            raw,
            FX.QUERY_VEC,
            FT.CENTROIDS_TRAINED,
            FT.PQ_CODEBOOKS_TRAINED,
            nprobes=(1, len(FT.CENTROIDS_TRAINED)),
            k=10,
            rerank=int(n),
        ).collect()
    }
    full = rows[len(FT.CENTROIDS_TRAINED)]
    assert full.n_overlap == 10 and abs(full.recall - 1.0) < 1e-9
    assert 0 <= rows[1].n_overlap <= 10


def test_synonym_order_monotone_flag_is_not_tautological(spark):
    """Round-5 advice: the sims_monotone guarantee must check the order
    the synonyms frame ACTUALLY returned, so an out-of-order list flips
    the flag to 0 — lagging over a similarity-sorted window could never
    do that."""
    from pythonvectordb_spark.indexing import synonym_order_stats

    vocab = spark.createDataFrame([("a",), ("b",), ("c",)], "word string")
    ordered = spark.createDataFrame(
        [("a", 0.9), ("b", 0.5), ("c", 0.1)], "word string, similarity double"
    ).coalesce(1)
    (ok,) = synonym_order_stats(ordered, vocab, "zzz").collect()
    assert ok.sims_monotone == 1 and ok.all_in_vocab == 1

    shuffled = spark.createDataFrame(
        [("b", 0.5), ("a", 0.9), ("c", 0.1)], "word string, similarity double"
    ).coalesce(1)
    (bad,) = synonym_order_stats(shuffled, vocab, "zzz").collect()
    assert bad.sims_monotone == 0  # the regression the flag must catch


def test_logreg_text_gate_learns_separable_label(spark):
    """A label perfectly determined by a marker token must be learned:
    accuracy_ok and pos_recall_ok both 1 on held-out docs."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark.indexing import logreg_text_gate

    rows = [
        (i, ("yes marker " + "pad " * 5) if i % 2 else "plain filler text pad", )
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = logreg_text_gate(
        df, label_expr=F.col("text").contains("marker"), max_iter=10
    ).collect()
    (r,) = out
    assert r.n_test > 0 and 0 < r.n_pos_test < r.n_test
    assert r.accuracy_ok == 1 and r.pos_recall_ok == 1


def test_isotonic_length_calibration_flags(spark):
    """A clean monotone chars->tokens relationship calibrates well:
    monotone predictions and a Brier score beating the base rate."""
    from pythonvectordb_spark.indexing import isotonic_length_calibration

    # text with k tokens => n_chars ~ 2k, perfectly monotone
    rows = [(i, "w " * (5 + i), 2 * (5 + i)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    (r,) = isotonic_length_calibration(df).collect()
    assert r.n_test > 0
    assert r.monotone_ok == 1
    assert r.brier_beats_base_ok == 1


def _block_purchases(spark):
    # 60 users x 40 items in 4 blocks of (15 users x 10 items); each
    # user buys every item of their block once -> 600 interactions
    orders, lineitem, ok = [], [], 0
    for u in range(60):
        for it in range(40):
            if u // 15 == it // 10:
                ok += 1
                orders.append((ok, u))
                lineitem.append((ok, it))
    return (
        spark.createDataFrame(orders, "o_orderkey long, o_custkey long"),
        spark.createDataFrame(lineitem, "l_orderkey long, l_partkey long"),
    )


def test_als_purchase_retrieval_structured_data(spark):
    """On a block-structured purchase matrix (users buy only inside
    their block) ALS must clear the chance floor by construction, and
    the interaction census must be exact."""
    from pythonvectordb_spark.indexing import als_purchase_retrieval

    odf, ldf = _block_purchases(spark)
    (r,) = als_purchase_retrieval(odf, ldf, k=5, shortlist=24).collect()
    assert r.n_users == 60 and r.n_items == 40
    assert r.n_interactions == 600
    assert r.n_train + r.n_test == 600 and r.n_test > 0
    assert r.n_test_users > 0
    # within-block structure is learnable: both arms clear the floor
    # (popularity concentrates on block items too since blocks are equal)
    assert r.als_hit_rate_ok == 1


def test_als_item_collect_is_gated(spark, monkeypatch):
    """The item factor matrix is collected to the driver, so a catalog
    over `_ALS_MAX_ITEMS` raises instead of collecting it."""
    from pythonvectordb_spark import indexing

    monkeypatch.setattr(indexing, "_ALS_MAX_ITEMS", 10)
    odf, ldf = _block_purchases(spark)
    with pytest.raises(ValueError, match="_ALS_MAX_ITEMS=10"):
        indexing.als_purchase_retrieval(odf, ldf, k=5, shortlist=24)


def test_als_purchase_retrieval_split_is_md5(spark):
    """The census columns must match a direct md5-split recomputation."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark.indexing import als_purchase_retrieval
    from tests.conftest import SF_SMOKE
    from pythonvectordb_spark.sources.testdata import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    lineitem = load_table(spark, SF_SMOKE, "lineitem")
    (r,) = als_purchase_retrieval(orders, lineitem).collect()
    inter = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .count()
    )
    n = inter.count()
    n_test = inter.filter(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user").cast("string"),
                        F.lit("-"),
                        F.col("item").cast("string"),
                    )
                ),
                32,
                1,
            ),
            16,
            10,
        ).cast("long")
        % 5
        == 0
    ).count()
    assert r.n_interactions == n
    assert r.n_test == n_test and r.n_train == n - n_test


def test_fpgrowth_brand_rules_exact_mining(spark):
    """FPGrowth on a planted basket corpus must mine the exact frequent
    pairs and emit MLlib's confidence/lift/support for them — checked
    against hand-computed values (the DuckDB oracle recomputes the same
    thing at the registered SFs)."""
    from pythonvectordb_spark.indexing import fpgrowth_brand_rules

    # 20 baskets: {A,B} in all 20, C in the first 5 (so {A,C}/{B,C}
    # and the triple {A,B,C} are frequent at min_support=0.2 -> minCount 4)
    lineitem, part = [], [("pA", "A"), ("pB", "B"), ("pC", "C")]
    for ok in range(20):
        lineitem.append((ok, "pA"))
        lineitem.append((ok, "pB"))
        if ok < 5:
            lineitem.append((ok, "pC"))
    ldf = spark.createDataFrame(lineitem, "l_orderkey long, l_partkey string")
    pdf = spark.createDataFrame(part, "p_partkey string, p_brand string")
    rows = {
        (r.antecedent, r.consequent): r
        for r in fpgrowth_brand_rules(ldf, pdf, min_support=0.2).collect()
    }
    # pair rule A -> B: conf 20/20 = 1, lift 1/(20/20) = 1, support 1
    r = rows[("A", "B")]
    assert (r.confidence, r.lift, r.support) == (1.0, 1.0, 1.0)
    # pair rule A -> C: conf 5/20 = 0.25, lift 0.25/(5/20) = 1.0
    r = rows[("A", "C")]
    assert (r.confidence, r.lift, r.support) == (0.25, 1.0, 0.25)
    # pair rule C -> A: conf 5/5 = 1, lift 1/(20/20) = 1, support 0.25
    r = rows[("C", "A")]
    assert (r.confidence, r.lift, r.support) == (1.0, 1.0, 0.25)
    # triple rule {A,B} -> C mirrors A -> C (B rides along everywhere)
    r = rows[("A,B", "C")]
    assert (r.confidence, r.lift, r.support) == (0.25, 1.0, 0.25)
    # and {A,C} -> B is certain
    r = rows[("A,C", "B")]
    assert (r.confidence, r.lift, r.support) == (1.0, 1.0, 0.25)


def test_fpgrowth_brand_rules_antecedent_cap(spark):
    """Rules from itemsets deeper than max_antecedent+1 must be cut —
    the filter that keeps the output SQL-enumerable at every SF."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark.indexing import fpgrowth_brand_rules
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem")
    part = load_table(spark, SF_SMOKE, "part")
    out = fpgrowth_brand_rules(li, part, min_support=0.005)
    n_items = out.select(
        F.max(F.size(F.split("antecedent", ","))).alias("m")
    ).first()["m"]
    assert n_items <= 2
    assert out.count() > 0


def test_pca_compaction_audit_flags_and_census(spark):
    """The verdict row: exact census + both guarantee flags true on the
    real store (measured margins in the oracle contract note)."""
    from pythonvectordb_spark.indexing import pca_compaction_audit
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    (r,) = pca_compaction_audit(emb).collect()
    assert r.n_vectors == emb.count()
    assert r.dim == 64 and r.k_dims == 16 and r.k == 10
    assert r.n_queries == 32
    assert r.explained_variance_ok == 1
    assert r.recall_ok == 1


def test_pca_compaction_recall_flag_is_not_tautological(spark):
    """recall_ok must FAIL when the floor multiplier is set above what
    a 16/64 projection of uniform-random data can reach — the flag is
    measured, not hardcoded."""
    from pythonvectordb_spark.indexing import pca_compaction_audit
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    # floor = 40 * k/n = 0.8: measured recall is ~0.375 -> must fail
    (r,) = pca_compaction_audit(emb, recall_floor_mult=40).collect()
    assert r.recall_ok == 0


def test_tvs_depth_selection_recovers_minimal_depth(spark):
    """The parsimony rule must pick depth 1 on the axis-aligned length
    label (validation metrics tie across the grid) and the selected
    stump must classify the held-out split within bounds."""
    from pythonvectordb_spark.indexing import tvs_depth_selection
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    (r,) = tvs_depth_selection(docs).collect()
    assert r.grid_size == 3
    assert r.selected_depth_minimal == 1
    assert r.validation_metric_ok == 1
    assert r.heldout_accuracy_ok == 1
    assert r.n_test > 0 and 0 < r.n_pos_test < r.n_test


def test_prefixspan_event_paths_discriminates_and_counts_exact(spark):
    """Supports over the first-8-event prefix must vary (the journey
    prefix is what makes mining non-degenerate on this corpus), and a
    pattern's count must equal a direct ordered-subsequence recount."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark.indexing import prefixspan_event_paths
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events")
    rows = prefixspan_event_paths(events).collect()
    assert rows, "no frequent patterns"
    assert max(r.length for r in rows) <= 3
    supports = {r.support for r in rows}
    assert len(supports) > 1, "degenerate mining: every support equal"
    # recount one length-2 pattern by hand: users with a strictly
    # ordered (a then b) occurrence inside their first 8 events
    two = min((r for r in rows if r.length == 2), key=lambda r: r.pattern)
    a, b = two.pattern.split(",")
    w = F.row_number().over(
        __import__("pyspark.sql.window", fromlist=["Window"]).Window
        .partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    )
    pref = events.withColumn("rn", w).filter(F.col("rn") <= 8)
    n = (
        pref.alias("x")
        .join(
            pref.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.rn") < F.col("y.rn")),
        )
        .filter((F.col("x.event_type") == a) & (F.col("y.event_type") == b))
        .select("x.user_id")
        .distinct()
        .count()
    )
    assert two.n_users == n


def test_linreg_twin_agrees_with_closed_form(spark):
    """The normal-equation solver must reproduce the moment-formula
    slope/intercept within 1e-6 (flags true), and the hash-checked
    columns are the closed form itself."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark.indexing import linreg_hour_value_twin
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events")
    (r,) = linreg_hour_value_twin(events).collect()
    assert r.mllib_coef_agrees == 1 and r.mllib_intercept_agrees == 1
    expected = events.agg(
        F.round(F.regr_slope("value", F.hour("ts").cast("double")), 6)
    ).first()[0]
    assert r.slope == expected


def test_chisq_twin_flags_and_exact_surface(spark):
    """MLlib's ChiSquareTest must agree with the exact-integer chi²
    (dof exactly, statistic within the round-6 grain) and the exact
    surface must match contingency_chisq's own output."""
    from pythonvectordb_spark.indexing import chisq_mllib_twin
    from pythonvectordb_spark.operators.stats import contingency_chisq
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    (r,) = chisq_mllib_twin(orders, customer).collect()
    assert r.mllib_dof_agrees == 1 and r.mllib_statistic_agrees == 1
    from pyspark.sql import functions as F

    base = orders.join(
        F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
    ).select(F.col("o_orderpriority").alias("r"), F.col("c_mktsegment").alias("c"))
    (e,) = contingency_chisq(base, "r", "c").collect()
    assert (r.n_rows, r.dof, r.chisq, r.cramers_v) == (
        e.n_rows,
        e.dof,
        e.chisq,
        e.cramers_v,
    )


def test_summarizer_twin_all_dims_agree(spark):
    """Summarizer's vector moments must agree with the exact integer
    census on every dimension, and the census must be exact."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark.indexing import summarizer_int8_twin
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = summarizer_int8_twin(emb).collect()
    assert len(rows) == 64
    assert all(
        r.mllib_mean_agrees and r.mllib_var_agrees and r.mllib_minmax_agrees
        for r in rows
    )
    n = emb.count()
    assert all(r.n == n for r in rows)
    # spot-check one dimension's exact sum against a direct recount
    d1 = next(r for r in rows if r.dim_idx == 1)
    from pythonvectordb_spark.functions.vector import l2_normalize, quantize

    s = emb.select(
        quantize(l2_normalize("embedding"))[0].cast("long").alias("q")
    ).agg(F.sum("q")).first()[0]
    assert d1.sum_q == s


def test_minmax_scale_identity_and_range(spark):
    """MLlib's scaled column must be bit-equal to the reciprocal-multiply
    closed form on every row (the identity flag), and the per-type raw
    min/max must bracket the global extrema."""
    from pythonvectordb_spark.indexing import minmax_scale_events
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events")
    rows = minmax_scale_events(events).collect()
    assert len(rows) == 5
    assert all(r.mllib_identity_exact == 1 for r in rows)
    gmin = min(r.min_value for r in rows)
    gmax = max(r.max_value for r in rows)
    assert all(gmin <= r.min_value and r.max_value <= gmax for r in rows)
    assert all(0.0 <= r.mean_scaled <= 1.0 for r in rows)


def test_standard_scaler_identity_and_moments(spark):
    """MLlib's standardized column must be bit-equal to the
    reciprocal-multiply closed form on every row (the identity flag),
    the fitted moments must agree with the exact aggregates, and the
    measured fact the flag depends on — plain division is NOT the
    identity — must still hold on real rows."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark.indexing import standard_scaler_twin
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events")
    rows = standard_scaler_twin(events).collect()
    assert len(rows) == 5
    assert all(
        r.mllib_identity_exact and r.mllib_mean_agrees and r.mllib_std_agrees
        for r in rows
    )
    # hand-recount one type's mean at the round-6 grain
    import math

    vals = [
        r["value"]
        for r in events.filter(F.col("event_type") == rows[0].event_type)
        .select("value")
        .collect()
    ]
    assert rows[0].n == len(vals)
    assert abs(rows[0].mean_value - round(math.fsum(vals) / len(vals), 6)) <= 1e-6
    # the non-tautology: reciprocal-multiply and plain division differ
    # on real rows, so the identity flag could NOT pass by accident
    mu = events.agg(F.avg("value")).first()[0]
    sd = events.agg(F.stddev_samp("value")).first()[0]
    diff = events.filter(
        (F.col("value") - F.lit(mu)) / F.lit(sd)
        != (F.col("value") - F.lit(mu)) * F.lit(1.0 / sd)
    ).count()
    assert diff > 0


def test_imputer_twin_census_and_identity(spark):
    """The null census is exactly event_id % 7 == 0, the fill identity
    holds, and the non-null mean matches a driver-side fsum recount."""
    import math

    from pyspark.sql import functions as F

    from pythonvectordb_spark.indexing import imputer_mean_twin
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events")
    row = imputer_mean_twin(events).first()
    assert row.fill_identity_exact == 1 and row.surrogate_agrees == 1
    n_null = events.filter(F.col("event_id") % 7 == 0).count()
    assert row.n_null == n_null and row.n == events.count()
    vals = [
        r["value"]
        for r in events.filter(F.col("event_id") % 7 != 0).select("value").collect()
    ]
    mean = math.fsum(vals) / len(vals)
    assert abs(row.mean_nonnull - round(mean, 6)) <= 1e-6
    # closed-form post-fill mean
    filled = (math.fsum(vals) + n_null * mean) / row.n
    assert abs(row.mean_imputed - round(filled, 6)) <= 1e-6


def test_quantile_buckets_rank_contract_not_tautological(spark):
    """All flags green at the published GK bound — and the share flag
    must FAIL when the tolerance is tightened below the measured
    deviation (the audit really measures the engine)."""
    from pythonvectordb_spark.indexing import quantile_buckets_audit
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events")
    rows = quantile_buckets_audit(events).collect()
    assert [r.bucket for r in rows] == [0, 1, 2, 3]
    assert all(r.rank_ok and r.share_ok for r in rows)
    assert all(r.n == events.count() for r in rows)
    # tightening the share tolerance below the measured 0.002 deviation
    # must flip at least one bucket — the flag is a real measurement
    tight = quantile_buckets_audit(events, share_tol=1e-6).collect()
    assert any(r.share_ok == 0 for r in tight)


@pytest.mark.parametrize("bad", [None, float("nan")], ids=["null", "nan"])
def test_quantile_buckets_rejects_null_and_nan(spark, bad):
    """A NULL or NaN value is counted in the census agg and refused with
    ``ValueError`` (the fit skips it, so it would otherwise pass unseen)."""
    from pythonvectordb_spark.indexing import quantile_buckets_audit

    df = spark.createDataFrame([(float(i),) for i in range(100)] + [(bad,)], "value double")
    with pytest.raises(ValueError, match="NULL or NaN"):
        quantile_buckets_audit(df)


def test_bisecting_kmeans_invariants_not_tautological(spark):
    """Structural invariants hold at k=4 — and the balance flag must
    FAIL under an impossible max-share bound (k=4 forces some cluster
    to hold >= 1/4 of the points)."""
    from pythonvectordb_spark.indexing import bisecting_kmeans_census
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    row = bisecting_kmeans_census(emb).first()
    assert row.n == emb.count() and row.dim == 64 and row.k == 4
    assert (
        row.sizes_sum_ok
        and row.all_nonempty_ok
        and row.cost_le_global_ok
        and row.balance_ok
    )
    strict = bisecting_kmeans_census(emb, max_share=0.2).first()
    assert strict.balance_ok == 0  # pigeonhole: max share >= 0.25 at k=4


def test_countvec_idf_census_hand_recount(spark):
    """The df census matches a pure-Python recount, idf follows the
    published formula, and the MLlib arm agrees on every term."""
    import math
    from collections import Counter

    from pythonvectordb_spark.indexing import countvec_idf_twin
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    rows = countvec_idf_twin(docs).collect()
    assert rows and all(r.in_vocab_ok and r.mllib_idf_agrees for r in rows)
    texts = [r["text"] for r in docs.select("text").collect()]
    m = len(texts)
    df = Counter()
    for t in texts:
        df.update({w for w in t.split(" ") if w != ""})
    thr = math.ceil(0.05 * m)
    expect = {t: c for t, c in df.items() if c >= thr}
    got = {r.term: r.df for r in rows}
    assert got == expect
    for r in rows:
        assert abs(r.idf - round(math.log((m + 1) / (r.df + 1)), 6)) <= 1e-6
    # census must be non-degenerate for the idf ordering to mean anything
    assert len(set(got.values())) > 1


def test_multiclass_eval_twin_hand_recount(spark):
    """The evaluator twin's metrics must match a from-scratch confusion
    recount (via the already-pinned confusion operator), the evaluator
    must agree on all four, and weightedRecall must equal accuracy (the
    known identity Sum w_c * tp_c/n_true_c = Sum tp_c / n)."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark.indexing import multiclass_eval_twin
    from pythonvectordb_spark.operators.curation import nb_classifier_confusion
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    row = multiclass_eval_twin(docs).first()
    assert row.acc_agrees and row.wp_agrees and row.wr_agrees and row.f1_agrees
    assert row.weighted_recall == row.accuracy
    conf = {
        (r["lang"], r["predicted"]): r["n_docs"]
        for r in nb_classifier_confusion(docs, (F.col("doc_id") % 2) == 0).collect()
    }
    n = sum(conf.values())
    tp = sum(v for (l, p), v in conf.items() if l == p)
    assert row.n_test == n
    assert abs(row.accuracy - round(tp / n, 6)) <= 1e-6
    # non-degenerate: the gate must beat uniform chance on >= 5 classes
    assert 0 < row.accuracy < 1 and row.f1 > 0
