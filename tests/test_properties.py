"""Property and metamorphic tests (SURVEY.md §5): quantization error
bounds, search-self rank, delete-then-absent, dup guards, snapshot
roundtrip — the correctness properties the reference never tested."""


import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    from pythonvectordb_spark.operators.search import with_qvec
    from pythonvectordb_spark.sources.testdata import load_table

    return with_qvec(load_table(spark, SF_SMOKE, "embeddings")).cache()


def test_quantization_error_bound(spark, emb):
    """|x_normalized - q/127| <= 1/127 per element (truncation error)."""
    rows = emb.select("embedding", "qvec").limit(100).collect()
    for r in rows:
        v = np.array(r.embedding, dtype=np.float64)
        v = v / np.linalg.norm(v)
        q = np.array(r.qvec, dtype=np.float64) / 127.0
        assert np.max(np.abs(v - q)) <= 1.0 / 127.0 + 1e-12


def test_quantization_truncates_toward_zero(spark):
    """K3 parity detail: np.int8(3.7)==3, np.int8(-3.7)==-3 (SURVEY §2.1)."""
    from pythonvectordb_spark.functions.vector import quantize

    df = spark.createDataFrame(
        [([0.5, -0.5, 0.0291, -0.0291],)], "v array<double>"
    )
    # 0.5*127=63.5 -> 63; -0.5*127=-63.5 -> -63 (toward zero, not half-even
    # or half-up); 0.0291*127=3.6957 -> 3
    out = df.select(quantize(F.col("v")).alias("q")).first().q
    assert list(out) == [63, -63, 3, -3]


def test_search_self_is_rank_one(spark, emb):
    """Metamorphic: querying with a stored vector returns it at rank 1."""
    from pythonvectordb_spark.operators.search import knn_search, knn_search_float

    target = emb.filter(F.col("vec_id") == 3).first()
    q = list(target.embedding)
    top_f = knn_search_float(emb, q, k=1).first()
    assert top_f.vec_id == 3 and top_f.score > 0.999999
    top_q = knn_search(emb, q, k=1).first()
    assert top_q.vec_id == 3 and top_q.score > 0.995  # int8 noise floor


def test_zero_norm_query_scores_zero(spark, emb):
    """K1 guard: zero query -> all scores 0 (pythonvectordb.py:46-48)."""
    from pythonvectordb_spark.operators.search import knn_search

    out = knn_search(emb, [0.0] * 64, k=5).collect()
    assert all(r.score == 0.0 for r in out)


def test_delete_then_absent(spark, emb):
    """Metamorphic: deleted ids never appear in any subsequent top-k."""
    from pythonvectordb_spark.operators.mutation import delete_vectors
    from pythonvectordb_spark.operators.search import knn_search

    target = emb.filter(F.col("vec_id") == 7).first()
    ids = spark.createDataFrame([(7,)], "vec_id long")
    table = delete_vectors(emb, ids)
    assert table.count() == emb.count() - 1
    top = knn_search(table, list(target.embedding), k=10).collect()
    assert all(r.vec_id != 7 for r in top)


def test_add_vectors_dup_guard(spark, emb):
    """Reference semantics: duplicate ids raise; 'ignore' drops them."""
    from pythonvectordb_spark.operators.mutation import add_vectors

    batch = emb.select("vec_id", "embedding", "label").limit(3)
    with pytest.raises(ValueError, match="already exist"):
        add_vectors(emb, batch)
    out = add_vectors(emb, batch, on_duplicate="ignore")
    assert out.count() == emb.count()


def test_validate_batch_rejects_bad_input(spark):
    """Ingest guards: dim mismatch and NaN raise (pythonvectordb.py:279-285)."""
    from pythonvectordb_spark.sources.snapshot import validate_batch

    bad_dim = spark.createDataFrame(
        [(1, [0.1] * 63)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="dimension"):
        validate_batch(bad_dim, dim=64)
    bad_nan = spark.createDataFrame(
        [(1, [float("nan")] + [0.1] * 63)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="NaN"):
        validate_batch(bad_nan, dim=64)
    dup = spark.createDataFrame(
        [(1, [0.1] * 64), (1, [0.2] * 64)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="duplicate"):
        validate_batch(dup, dim=64)


def test_snapshot_roundtrip(spark, emb, tmp_path):
    """save -> load preserves rows exactly; version mismatch raises."""
    import json

    from pythonvectordb_spark.sources import snapshot as SN

    path = str(tmp_path / "snap")
    SN.save_snapshot(emb, path, dim=64, num_files=2)
    back = SN.load_snapshot(spark, path, expected_dim=64)
    assert back.count() == emb.count()
    a = sorted((r.vec_id, tuple(r.qvec)) for r in emb.select("vec_id", "qvec").collect())
    b = sorted((r.vec_id, tuple(r.qvec)) for r in back.select("vec_id", "qvec").collect())
    assert a == b
    # corrupt the version sidecar -> load must refuse
    meta = json.load(open(f"{path}/{SN.META_FILE}"))
    meta["version"] = "9.9.9"
    json.dump(meta, open(f"{path}/{SN.META_FILE}", "w"))
    with pytest.raises(ValueError, match="version"):
        SN.load_snapshot(spark, path)


def test_knn_join_paths_identical(spark, emb):
    """The BLAS mapInPandas path and the expression path are bit-equal
    (symmetric int8 scoring is exact integer arithmetic)."""
    from pythonvectordb_spark.operators.search import knn_join
    from pythonvectordb_spark.sources.testdata import load_table

    queries = (
        load_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id") < 6)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec_query"))
    )
    a = sorted(tuple(r) for r in knn_join(emb, queries, k=7, method="expr").collect())
    b = sorted(tuple(r) for r in knn_join(emb, queries, k=7, method="pandas").collect())
    assert a == b
    # k >= rows-per-partition exercises the emit-everything branch of the
    # chunked scorer (no partial select possible)
    a = sorted(tuple(r) for r in knn_join(emb, queries, k=60, method="expr").collect())
    b = sorted(tuple(r) for r in knn_join(emb, queries, k=60, method="pandas").collect())
    assert a == b


def test_kernel_callers_leave_no_broadcast_files(spark, emb):
    """The int8 kernel's callers ship their query matrices in the scan's
    closure, so ``knn_join``, the miners and exact near-dup leave no
    broadcast file in the driver's temp dir (an explicit broadcast keeps
    one there until it is destroyed)."""
    import os

    from pythonvectordb_spark.operators.dedup import embedding_near_dup
    from pythonvectordb_spark.operators.search import hard_negatives, knn_join
    from pythonvectordb_spark.sources.testdata import load_table

    raw = load_table(spark, SF_SMOKE, "embeddings")
    temp_dir = spark.sparkContext._temp_dir
    before = set(os.listdir(temp_dir))
    for lo in (0, 10, 20):
        queries = raw.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 6)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec_query")
        )
        assert knn_join(emb, queries, k=3, method="pandas").count() > 0
    assert hard_negatives(emb, k=2).count() > 0
    assert embedding_near_dup(raw, 0.4, method="pandas").count() > 0
    assert set(os.listdir(temp_dir)) - before == set()


def test_kernel_rejects_null_and_ragged_vectors(spark):
    """The kernel reads a batch's vectors as one flat value buffer
    reshaped to (rows, dim): a NULL vector, or rows of different
    lengths, would shift values into the wrong rows, so it raises a
    ``ValueError`` that names the fault instead."""
    from pyspark.errors import PythonException

    from pythonvectordb_spark.operators.search import scored_from_qmat

    qids = np.arange(1, dtype=np.int64)
    qmat = np.array([[1, 2]], dtype=np.float32)
    for rows, fault in (
        ([(1, [1, 2]), (2, None), (3, [3, 4])], "NULL vector"),
        ([(1, [1, 2]), (2, [1, 2, 3]), (3, [3, 4])], r"vectors of lengths \[2, 3\]"),
    ):
        data = spark.createDataFrame(rows, "vec_id long, qvec array<tinyint>").coalesce(1)
        with pytest.raises(PythonException, match=f"ValueError: int8_cosine_scan: .*{fault}"):
            scored_from_qmat(data, qids, qmat, 1).collect()


def test_connected_components_chain_and_clique(spark):
    """Min-label propagation must handle transitive chains (a-b, b-c) and
    leave singletons alone."""
    from pythonvectordb_spark.operators.dedup import connected_components, resolve_duplicates

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]], "doc_id long")
    resolved = resolve_duplicates(docs, pairs)
    survivors = sorted(r.doc_id for r in resolved.filter("is_survivor").collect())
    assert survivors == [1, 10, 20, 99]  # 99 untouched singleton survives


def _py_shingles(text, n=3):
    """Pure-Python shingler: whitespace split, empties dropped,
    first-occurrence distinct word n-grams."""
    w = [] if text is None else [t for t in text.split(" ") if t]
    return list(dict.fromkeys(" ".join(w[i : i + n]) for i in range(len(w) - n + 1)))


def test_shingle_implementations_identical(spark):
    """The expression shingler must produce exactly the pure-Python
    shingler's output (strings and first-occurrence order)."""
    from pythonvectordb_spark.functions.text import shingles
    from pythonvectordb_spark.sources.testdata import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    for r in docs.select("doc_id", "text", shingles("text").alias("a")).collect():
        assert list(r.a) == _py_shingles(r.text), f"doc {r.doc_id}"
    # edges: short document, a NULL text row (ADVICE r7 — must not
    # raise) and an empty string -> empty shingles in both
    edge = spark.createDataFrame(
        [(1, "one two"), (2, None), (3, "")], "doc_id long, text string"
    )
    for r in edge.select("text", shingles("text").alias("a")).collect():
        assert list(r.a) == [] and _py_shingles(r.text) == []


def test_embedding_near_dup_paths_identical(spark):
    from pythonvectordb_spark.operators.dedup import embedding_near_dup
    from pythonvectordb_spark.sources.testdata import load_table

    raw = load_table(spark, SF_SMOKE, "embeddings")
    a = sorted(tuple(r) for r in embedding_near_dup(raw, 0.4, method="expr").collect())
    b = sorted(tuple(r) for r in embedding_near_dup(raw, 0.4, method="pandas").collect())
    assert a == b and len(a) > 0


def test_embedding_near_dup_lsh_subset_and_recall(spark):
    """The default (LSH-blocked) path returns a subset of the exact pair
    set with identical cosine values, and recall at the tuned defaults
    stays high even at the hard 0.4 fixture threshold."""
    from pythonvectordb_spark.operators.dedup import embedding_near_dup
    from pythonvectordb_spark.sources.testdata import load_table

    raw = load_table(spark, SF_SMOKE, "embeddings")
    exact = {tuple(r) for r in embedding_near_dup(raw, 0.4, method="expr").collect()}
    lsh = {tuple(r) for r in embedding_near_dup(raw, 0.4, method="lsh").collect()}
    assert exact, "calibration: exact pair set should be non-empty"
    assert lsh <= exact, "LSH pairs must verify to the same exact cosines"
    recall = len(lsh) / len(exact)
    assert recall >= 0.8, f"recall {recall:.2f} ({len(exact)} exact pairs)"


@pytest.mark.slow
def test_lsh_int_signatures_arrow_equals_expr(spark):
    """The Arrow matmul signature kernel and the HOF expression twin
    must agree on EVERY band signature — they share exact int64
    arithmetic over int planes x int8 vectors, so equality is total (no
    FP tolerance), which is what licenses the vectorized default in
    embedding_near_dup."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark.functions.vector import (
        l2_normalize,
        lsh_band_signatures_int8_vec,
        quantize,
    )
    from pythonvectordb_spark.operators.dedup import lsh_band_planes_int
    from pythonvectordb_spark.operators.search import lsh_band_signatures_int_expr
    from pythonvectordb_spark.sources.testdata import load_table

    planes = lsh_band_planes_int()
    q = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", quantize(l2_normalize("embedding")).alias("qv")
    )
    both = q.select(
        lsh_band_signatures_int8_vec("qv", planes).alias("a"),
        lsh_band_signatures_int_expr("qv", planes).alias("b"),
    )
    n_bad = both.filter(F.col("a") != F.col("b")).count()
    assert n_bad == 0
    first = both.first()
    assert len(first.a) == len(planes)


def test_ngram_maxdf_caps_boilerplate_fanout(spark):
    """Boilerplate skew: 1k docs share a template sentence whose shingles
    would each emit ~500k inverted-index join rows uncapped. With the df
    cap ON, template shingles leave the index (fan-out bounded at
    max_df^2 per shingle), genuine near-dups are still found via their
    rare shingles, and boilerplate-ONLY overlap no longer creates pairs
    (that's dedup_exact's job)."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "subscribe to our newsletter for updates today"
    rows = [
        (i, f"{boiler} unique{i} alpha{i} beta{i} gamma{i} delta{i}")
        for i in range(1000)
    ]
    dup = "the quick brown fox jumps over the lazy dog repeatedly"
    rows += [(5001, dup), (5002, dup)]          # rare-shingle exact dup
    rows += [(6001, boiler), (6002, boiler)]    # boilerplate-only dup
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {(r.id_a, r.id_b): r.jaccard
              for r in ngram_jaccard_pairs(df, threshold=0.8, max_df=10).collect()}
    assert set(capped) == {(5001, 5002)}
    assert capped[(5001, 5002)] == 1.0

    uncapped = {(r.id_a, r.id_b)
                for r in ngram_jaccard_pairs(df, threshold=0.8, max_df=None).collect()}
    assert uncapped == {(5001, 5002), (6001, 6002)}

    # the capped inverted index really dropped every template shingle
    from pythonvectordb_spark.operators.dedup import _shingled

    inv = _shingled(df, "text", "doc_id", 3).select(
        F.col("doc_id"), F.explode("sh").alias("shingle")
    )
    keep = inv.groupBy("shingle").count().filter(F.col("count") <= 10)
    max_kept_df = keep.agg(F.max("count")).first()[0]
    assert max_kept_df is not None and max_kept_df <= 10


def test_incremental_dedup_side_table_path_identical(spark):
    """incremental_minhash_dedup with a precomputed minhash_side of the
    corpus (the materialized side-table design) must return exactly the
    pairs of the self-contained re-sign path."""
    from pythonvectordb_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_side,
    )
    from pythonvectordb_spark.sources.testdata import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    plain = {tuple(r) for r in incremental_minhash_dedup(corpus, batch).collect()}
    side = minhash_side(corpus)
    with_side = {
        tuple(r)
        for r in incremental_minhash_dedup(
            corpus, batch, corpus_side=side
        ).collect()
    }
    assert plain == with_side and len(plain) > 0


def test_embedding_near_dup_lsh_is_lazy_no_driver_jobs(spark):
    """Building the default near-dup plan must not materialize anything
    on the driver: zero Spark jobs run until an action is called, and the
    physical plan is the blocking join, not a Python map stage."""
    from pythonvectordb_spark.operators.dedup import embedding_near_dup
    from pythonvectordb_spark.sources.testdata import load_table

    raw = load_table(spark, SF_SMOKE, "embeddings")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    df = embedding_near_dup(raw, 0.4)  # default method: no action expected
    after = set(tracker.getJobIdsForGroup())
    assert before == after, "plan construction triggered driver-side jobs"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bkey" in plan, "blocking join key missing from physical plan"
    assert "MapInPandas" not in plan, "default path must not use Python row path"


def test_empty_table_search_returns_empty(spark, emb):
    """Reference fast path (pythonvectordb.py:363-364): searching an
    empty collection yields [] — and the plan must not fail on the
    degenerate input either."""
    from pythonvectordb_spark import fixtures as FX
    from pythonvectordb_spark.operators.search import knn_search

    none = emb.filter(F.lit(False))
    assert knn_search(none, FX.QUERY_VEC, k=5).collect() == []


def test_k_larger_than_table_is_clamped(spark, emb):
    """Reference clamps k to the live row count (pythonvectordb.py:366);
    limit(k) gives the same semantics — all rows, none invented."""
    from pythonvectordb_spark import fixtures as FX
    from pythonvectordb_spark.operators.search import knn_search

    n = emb.count()
    out = knn_search(emb, FX.QUERY_VEC, k=n + 50).collect()
    assert len(out) == n
    assert len({r.vec_id for r in out}) == n


def test_k_nonpositive_raises(spark, emb):
    """Reference raises on k <= 0 (pythonvectordb.py:347-348)."""
    from pythonvectordb_spark import fixtures as FX
    from pythonvectordb_spark.operators.search import knn_search

    with pytest.raises(ValueError, match="positive"):
        knn_search(emb, FX.QUERY_VEC, k=0)


def test_cms_estimate_never_undercounts(spark):
    """Count-min guarantee: the point estimate is >= the true count for
    EVERY key (collisions only inflate)."""
    from pythonvectordb_spark.operators.sketch import cms_estimate
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    all_users = [r.user_id for r in ev.select("user_id").distinct().collect()]
    rows = cms_estimate(ev, "user_id", all_users).collect()
    assert len(rows) == len(all_users)
    assert all(r.est_n >= r.true_n for r in rows)
    assert all(r.true_n > 0 for r in rows)


def test_cms_works_on_string_keys(spark):
    """The sketch is generic over key type: string keys must keep their
    identity (a long cast would NULL them into a single group)."""
    from pythonvectordb_spark.operators.sketch import cms_estimate, cms_heavy_hitters
    from pythonvectordb_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    types = [r.event_type for r in ev.select("event_type").distinct().collect()]
    hh = cms_heavy_hitters(ev, "event_type", k=3).collect()
    assert len(hh) == 3 and all(r.key in types for r in hh)
    est = cms_estimate(ev, "event_type", types).collect()
    assert {r.key for r in est} == set(types)
    assert all(r.est_n >= r.true_n > 0 for r in est)


def test_knn_classify_majority_and_tiebreak(spark):
    """Majority label wins; on a vote tie the smaller label wins; k=1
    degenerates to the nearest neighbor's label."""
    from pythonvectordb_spark.operators.search import knn_classify, with_qvec

    # unit vectors at known angles from the query [1, 0]: labels 7 (x2 close),
    # 3 (x2 mid), 9 (one far)
    rows = [
        (1, [1.0, 0.0], 7),
        (2, [0.99, 0.14], 7),
        (3, [0.7, 0.71], 3),
        (4, [0.71, 0.7], 3),
        (5, [-1.0, 0.0], 9),
    ]
    df = with_qvec(spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int"))
    [r] = knn_classify(df, [1.0, 0.0], k=1).collect()
    assert (r.pred_label, r.votes) == (7, 1)
    [r] = knn_classify(df, [1.0, 0.0], k=4).collect()  # 7x2 vs 3x2 -> tie -> 3
    assert (r.pred_label, r.votes) == (3, 2)
    [r] = knn_classify(df, [1.0, 0.0], k=3).collect()  # 7x2 beats 3x1
    assert (r.pred_label, r.votes) == (7, 2)
    with pytest.raises(ValueError):
        knn_classify(df, [1.0, 0.0], k=0)


def test_boilerplate_share_template_vs_unique(spark):
    """Docs sharing a template phrase score its shingles as shared; a
    fully unique doc scores 0; sub-n-token docs emit no row."""
    from pythonvectordb_spark.operators.textops import boilerplate_share

    template = "all rights reserved contact us today"  # 6 tokens -> 4 shingles
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {template}"),
            (2, f"delta epsilon zeta {template}"),
            (3, "one two three four five six seven"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    by_id = {r.doc_id: r for r in boilerplate_share(docs, n=3).collect()}
    # doc1: 7 shingles total; the 4 template shingles appear in doc2 too
    assert by_id[1].n_shingles == 7 and by_id[1].n_shared == 4
    assert abs(by_id[1].boilerplate_share - round(4 / 7, 9)) < 1e-12
    assert by_id[3].n_shared == 0 and by_id[3].boilerplate_share == 0.0
    assert 4 not in by_id  # 2 tokens < n: no shingles, no row


def test_approx_percentiles_bounded_error_vs_exact(spark):
    """The GK-sketch percentiles must land within rank-error distance of
    the exact interpolated twin at accuracy 10000 (rank eps = 1/10000 —
    far below the value spread here, so approx p50 must sit between the
    exact p25 and p95, and ap99 at/above exact p95)."""
    from tests.conftest import SF_SMOKE

    from pythonvectordb_spark.registry import (
        q_approx_value_percentiles,
        q_value_percentiles,
    )

    approx = {r.event_type: r for r in q_approx_value_percentiles(spark, SF_SMOKE).collect()}
    exact = {r.event_type: r for r in q_value_percentiles(spark, SF_SMOKE).collect()}
    assert set(approx) == set(exact)
    for et, a in approx.items():
        e = exact[et]
        assert e.p25 <= a.ap50 <= e.p95, (et, a.ap50, e.p25, e.p95)
        assert a.ap99 >= e.p95, (et, a.ap99, e.p95)


def test_hard_negatives_cross_label_only_and_nearest(spark):
    """Hard negatives are exactly the top-k most-similar OTHER-label
    vectors: same-label neighbors never appear even when they are the
    globally nearest, every anchor gets exactly k rows, and rank 1 is
    the best cross-label match."""
    import math

    from pythonvectordb_spark.operators.search import hard_negatives, with_qvec

    def unit(theta):
        return [float(x) for x in
                [math.cos(theta), math.sin(theta)] + [0.0] * 62]

    # label 0 pair nearly parallel; label 1 pair nearly parallel but
    # rotated; vector 3 (label 1) sits close to the label-0 pair
    rows = [
        (1, unit(0.00), 0),
        (2, unit(0.01), 0),     # 1's nearest overall is 2 (same label)
        (3, unit(0.10), 1),     # 1's nearest OTHER label is 3
        (4, unit(1.50), 1),
        (5, unit(1.52), 1),
    ]
    emb = with_qvec(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    )
    out = hard_negatives(emb, k=2).collect()
    labels = {1: 0, 2: 0, 3: 1, 4: 1, 5: 1}
    by_anchor = {}
    for r in out:
        assert labels[r.query_id] != labels[r.neg_id]
        by_anchor.setdefault(r.query_id, []).append((r.rank, r.neg_id))
    assert all(len(v) == 2 for v in by_anchor.values())
    assert sorted(by_anchor[1])[0] == (1, 3)   # nearest cross-label, not 2
    assert {n for _, n in by_anchor[4]} == {1, 2}  # 4's negs: the label-0 pair


def test_containment_catches_embedded_snippet_jaccard_misses(spark):
    """A short doc whose text is a contiguous substring of a longer one:
    containment = 1.0 (every shingle of the short doc appears in the
    long one) while Jaccard = |A|/|B| is far below threshold — the
    exact asymmetry the one-sided metric exists for."""
    from pythonvectordb_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    snippet = "w1 w2 w3 w4 w5 w6"
    page = snippet + " x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
    rows = [(1, snippet), (2, page), (3, "y1 y2 y3 y4 y5 y6 y7 y8")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    cont = {(r.id_a, r.id_b): r.containment
            for r in containment_pairs(df, threshold=0.8).collect()}
    assert cont == {(1, 2): 1.0}  # snippet fully contained; doc 3 unrelated

    jac = {(r.id_a, r.id_b)
           for r in ngram_jaccard_pairs(df, threshold=0.8).collect()}
    assert jac == set()  # symmetric Jaccard misses the embedded snippet


def test_containment_maxdf_cap_underestimates_like_jaccard(spark):
    """With a df cap, common counts drop capped shingles while min()
    sizes keep them — capped containment underestimates, mirroring the
    Jaccard operator's documented cap semantics."""
    from pythonvectordb_spark.operators.dedup import containment_pairs

    boiler = "subscribe to our newsletter for updates today"
    rows = [(i, f"{boiler} unique{i} alpha{i} beta{i}") for i in range(20)]
    rows += [(101, "a1 a2 a3 a4 a5"), (102, "a1 a2 a3 a4 a5 b1 b2")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r.id_a, r.id_b): r.containment
           for r in containment_pairs(df, threshold=0.8, max_df=5).collect()}
    assert got == {(101, 102): 1.0}  # boilerplate-only overlap never pairs


def test_quantization_recall_detects_int8_rank_flip(spark):
    """Two candidates whose float order is clear but whose int8
    quantizations collide: the float top-1 is the true nearest, the
    int8 top-1 resolves the tie by id the other way — recall@1 = 0 for
    that probe, while a well-separated probe scores 1.0. The audit
    measures exactly this compression loss."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark.operators.search import (
        quantization_recall,
        with_qvec,
    )

    def unit(vals):
        import math

        n = math.sqrt(sum(v * v for v in vals))
        return [v / n for v in vals]

    rows = [
        (0, unit([1.0, 0.0, 0.0, 0.0])),        # probe
        (1, unit([1.0, 0.001, 0.0, 0.0])),      # int8-identical to 2, id wins tie
        (2, unit([1.0, 0.0005, 0.0, 0.0])),     # float-nearest to probe
        (3, unit([0.0, 1.0, 0.0, 0.0])),        # far
        (10, unit([0.0, 0.0, 1.0, 0.0])),       # probe 2: isolated direction
        (11, unit([0.1, 0.0, 1.0, 0.0])),       # its clear nearest, both metrics
        (12, unit([0.0, 0.0, 0.0, 1.0])),
    ]
    emb = with_qvec(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    )
    got = {
        r.query_id: (r.n_overlap, r.recall)
        for r in quantization_recall(
            emb, k=1, query_pred=F.col("vec_id").isin(0, 10)
        ).collect()
    }
    assert got[0] == (0, 0.0)   # int8 tie-break picked id 1, float picked 2
    assert got[10] == (1, 1.0)  # unambiguous neighbor: no loss


def test_minhash_banding_report_reconciles_with_pairs(spark):
    """n_verified must equal the pair operator's output count on the
    same corpus/params; exact copies give precision-1 candidates, and
    a disjoint doc contributes none."""
    from pythonvectordb_spark.operators.dedup import (
        minhash_banding_report,
        minhash_lsh_pairs,
    )

    dup = "the quick brown fox jumps over the lazy dog again and again " * 2
    rows = [(1, dup), (2, dup), (3, "totally different words live here now " * 3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rep = minhash_banding_report(df, threshold=0.8).collect()[0]
    n_pairs = minhash_lsh_pairs(df, threshold=0.8).count()
    assert rep.n_docs == 3
    assert rep.n_verified == n_pairs == 1
    assert rep.n_candidates == 1 and rep.precision == 1.0


def test_contrastive_triplets_picks_nearest_pos_and_neg(spark):
    """Anchor 1: positive must be its same-label nearest (2, not the
    farther 6), negative the cross-label nearest (3); the planted
    violation case (negative closer than positive) is flagged; a
    singleton class yields no triplet."""
    import math

    from pyspark.sql import functions as F  # noqa: F401

    from pythonvectordb_spark.operators.search import (
        contrastive_triplets,
        with_qvec,
    )

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        (1, unit(0.00), 0),
        (2, unit(0.05), 0),   # 1's same-label nearest
        (6, unit(0.60), 0),   # same label, farther
        (3, unit(0.10), 1),   # 1's cross-label nearest — CLOSER than 2? no: 0.10 > 0.05
        (4, unit(1.50), 1),
        (9, unit(3.00), 2),   # singleton class: no triplet
    ]
    emb = with_qvec(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    )
    got = {r.anchor_id: r for r in contrastive_triplets(emb).collect()}
    assert 9 not in got  # singleton class
    t1 = got[1]
    assert (t1.pos_id, t1.neg_id) == (2, 3)
    assert t1.margin > 0 and t1.violation == 0
    # anchor 2 sits between 1 (same label, d=0.05) and 3 (other label,
    # d=0.05): pos 1 at 0.05, neg 3 at 0.05 -> margin ~0/positive tiny
    t3 = got[3]  # anchor 3's own positive is 4 (d=1.4), negative 2 (d=0.05)
    assert (t3.pos_id, t3.neg_id) == (4, 2)
    assert t3.margin < 0 and t3.violation == 1  # planted violation


def test_mmr_rerank_prefers_diversity(spark):
    """Two near-identical top-relevance vectors: pure relevance ranks them
    1-2; MMR must pick the diverse (lower-relevance) direction second."""
    import math

    from pythonvectordb_spark.operators.search import mmr_rerank, with_qvec

    def unit(*xs):
        n = math.sqrt(sum(x * x for x in xs))
        return [x / n for x in xs]

    q = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (1, unit(1.0, 0.01, 0.0, 0.0), 0),   # rel ~1
        (2, unit(1.0, 0.011, 0.0, 0.0), 0),  # near-clone of 1
        (3, unit(0.8, 0.0, 0.6, 0.0), 0),    # lower rel, diverse
        (4, unit(0.1, 0.0, 0.0, 1.0), 0),    # low rel, very diverse
    ]
    df = with_qvec(
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
    )
    out = {
        r["rank"]: r["vec_id"]
        for r in mmr_rerank(df, q, k=4, shortlist=4, lam=0.3).collect()
    }
    # relevance-only order would be 1, 2 (the clone), 3, 4; under a
    # diversity-heavy lambda the clone drops to LAST
    assert out == {1: 1, 2: 4, 3: 3, 4: 2}


def test_ann_recall_curve_counts_overlap(spark):
    """Hand-built ANN frame vs known exact ranking: recall@k must count
    the rank-limited intersection, including a zero-overlap cutoff."""
    from pythonvectordb_spark.operators.search import ann_recall_curve

    q = [1.0, 0.0]
    # exact float-cosine order by construction: 1 > 2 > 3 > 4
    base = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.8, 0.3]),
            (4, [0.1, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    # ANN got the top-1 wrong but found 2 and 3
    ann = spark.createDataFrame(
        [(2, 0.95), (3, 0.9), (4, 0.2)], "vec_id long, score double"
    )
    out = {
        r["k"]: (r["n_overlap"], r["recall"])
        for r in ann_recall_curve(base, ann, q, ks=(1, 2, 3)).collect()
    }
    assert out[1] == (0, 0.0)        # ann rank1=2, exact rank1=1
    assert out[2] == (1, 0.5)        # overlap {2}
    assert out[3] == (2, round(2 / 3, 6))  # overlap {2,3}


def test_resolve_keep_best_prefers_quality(spark):
    """Component survivorship must follow the score, not the smallest id,
    with id as tie-break; singletons survive untouched."""
    from pythonvectordb_spark.operators.dedup import resolve_keep_best

    df = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.1)],
        "doc_id long, quality_score double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: r.asDict() for r in resolve_keep_best(df, pairs).collect()}
    # component {1,2,3}: 2 and 3 tie on score, 2 wins on id
    assert out[2]["is_survivor"] is True
    assert out[1]["is_survivor"] is False and out[3]["is_survivor"] is False
    assert out[1]["component"] == out[2]["component"] == out[3]["component"]
    assert out[10]["is_survivor"] is True  # singleton


def test_rbo_curve_identical_and_disjoint(spark):
    """RBO = 1 - p^D for identical lists truncated at D; 0 for disjoint;
    the per-depth agreement tracks the prefix intersection."""
    from pythonvectordb_spark.operators.search import rbo_curve

    a = spark.createDataFrame(
        [(1, 3.0), (2, 2.0), (3, 1.0)], "doc_id long, s double"
    )
    same = rbo_curve(a, a.select("doc_id", F.col("s").alias("s2")),
                     "doc_id", "s", "s2", depth=3, p=0.9).collect()
    by_d = {r["d"]: r for r in same}
    assert all(by_d[d]["agreement"] == 1.0 for d in (1, 2, 3))
    # truncated RBO of identical lists = sum_{d<=D} (1-p) p^(d-1) = 1 - p^D
    assert abs(by_d[3]["rbo_cum"] - (1 - 0.9 ** 3)) < 1e-6

    b = spark.createDataFrame(
        [(10, 3.0), (11, 2.0), (12, 1.0)], "doc_id long, s2 double"
    )
    disjoint = rbo_curve(a, b, "doc_id", "s", "s2", depth=3, p=0.9).collect()
    assert all(r["rbo_cum"] == 0.0 and r["n_overlap"] == 0 for r in disjoint)


def test_dedup_threshold_curve_monotone(spark):
    """Counts must be monotone non-increasing in the threshold and match
    a hand-computed pair report."""
    from pythonvectordb_spark.operators.dedup import dedup_threshold_curve

    pairs = spark.createDataFrame(
        [(1, 2, 0.95), (1, 3, 0.75), (4, 5, 0.55), (6, 7, 0.85)],
        "id_a long, id_b long, jaccard double",
    )
    out = {r["threshold"]: r.asDict() for r in dedup_threshold_curve(pairs).collect()}
    assert out[0.5]["n_pairs"] == 4 and out[0.5]["n_docs_affected"] == 7
    assert out[0.7]["n_pairs"] == 3 and out[0.7]["n_docs_affected"] == 5
    assert out[0.8]["n_pairs"] == 2 and out[0.8]["n_docs_affected"] == 4
    assert out[0.9]["n_pairs"] == 1 and out[0.9]["n_docs_affected"] == 2
    ths = sorted(out)
    assert all(
        out[a]["n_pairs"] >= out[b]["n_pairs"] for a, b in zip(ths, ths[1:])
    )


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """On the real corpus: E[agreement] = Jaccard, so the mean absolute
    estimator error at 48 hashes must sit well inside the Hoeffding
    spread (~1/sqrt(48) ~ 0.14), and identical docs estimate 1.0."""
    from pythonvectordb_spark.operators.dedup import minhash_estimate_error
    from pythonvectordb_spark.sources.testdata import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    rows = minhash_estimate_error(docs, num_hashes=48).collect()
    assert rows, "the sf0.001 corpus has >=0.5-Jaccard pairs by construction"
    mean_err = sum(r["abs_error"] for r in rows) / len(rows)
    assert mean_err < 0.10, mean_err
    for r in rows:
        if r["exact_jaccard"] == 1.0:
            assert r["minhash_est"] == 1.0  # identical sets agree everywhere


def test_embedding_drift_identical_halves(spark):
    """A label whose halves hold the SAME vector drifts 0 (cosine 1);
    opposite-direction halves give cosine -1."""
    from pythonvectordb_spark.operators.search import with_qvec
    from pythonvectordb_spark.operators.stats import embedding_drift

    rows = []
    v = [1.0, 0.0, 0.0, 0.0]
    w = [-1.0, 0.0, 0.0, 0.0]
    # label 0: both halves = v -> cosine 1
    rows += [(0, v, 0), (1, v, 0), (2, v, 0), (3, v, 0)]
    # label 1: even ids v, odd ids -v -> cosine -1
    rows += [(10, v, 1), (11, w, 1), (12, v, 1), (13, w, 1)]
    emb = with_qvec(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    )
    out = {r["label"]: r.asDict() for r in embedding_drift(emb, dim=4).collect()}
    assert out[0]["centroid_cosine"] == 1.0
    assert out[0]["n_a"] == 2 and out[0]["n_b"] == 2
    assert out[1]["centroid_cosine"] == -1.0


def test_revenue_gini_extremes(spark):
    """One whale among zero-spend customers drives Gini toward
    (n-1)/n; equal spend gives exactly 0."""
    from pythonvectordb_spark.operators.relational import revenue_gini

    nation = spark.createDataFrame(
        [(0, "EQ", 0, "x"), (1, "WHALE", 0, "x")],
        "n_nationkey long, n_name string, n_regionkey long, n_comment string",
    )
    customer = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)] + [(i, 1) for i in range(10, 14)],
        "c_custkey long, c_nationkey long",
    )
    orders = spark.createDataFrame(
        # EQ nation: four customers spend 10.00 each
        [(100 + i, i, 10.0) for i in range(1, 5)]
        # WHALE nation: three spend 0.01, one spends 100.00
        + [(200 + i, 10 + i, 0.01) for i in range(3)]
        + [(299, 13, 100.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    got = {r["n_name"]: r.asDict() for r in revenue_gini(customer, orders, nation).collect()}
    assert got["EQ"]["gini"] == 0.0
    # cents sorted [1,1,1,10000]; G = 2*(1+2+3+40000)/(4*10003) - 5/4
    assert got["WHALE"]["gini"] == round(2 * 40006 / (4 * 10003) - 5 / 4, 6)
    assert got["WHALE"]["n_customers"] == 4


def test_benford_digits_shares(spark):
    """Planted first digits (1,1,2,3): shares are exact quarters, the
    expectation is log10(1+1/d), and excess differences the ROUNDED
    values."""
    import math

    from pythonvectordb_spark.operators.relational import benford_digits

    orders = spark.createDataFrame(
        [(1, 1.0), (2, 19.99), (3, 2.5), (4, 300.0)],
        "o_orderkey long, o_totalprice double",
    )
    got = {r["digit"]: r.asDict() for r in benford_digits(orders).collect()}
    assert got[1]["n_obs"] == 2 and got[1]["obs_share"] == 0.5
    p1 = round(math.log10(2), 9)
    assert got[1]["benford_p"] == p1
    assert got[1]["excess"] == round(0.5 - p1, 9)
    assert got[2]["n_obs"] == 1 and got[3]["n_obs"] == 1


def test_fk_orphans_planted(spark):
    """One orphaned orders.custkey and one orphaned lineitem.suppkey
    are counted on their edges; all other edges report zero."""
    from pythonvectordb_spark.operators.relational import fk_orphans

    region = spark.createDataFrame([(0, "R")], "r_regionkey long, r_name string")
    nation = spark.createDataFrame([(0, "N", 0)], "n_nationkey long, n_name string, n_regionkey long")
    customer = spark.createDataFrame([(1, 0)], "c_custkey long, c_nationkey long")
    supplier = spark.createDataFrame([(5, 0)], "s_suppkey long, s_nationkey long")
    part = spark.createDataFrame([(7,)], "p_partkey long")
    orders = spark.createDataFrame(
        [(10, 1), (11, 999)], "o_orderkey long, o_custkey long"
    )
    lineitem = spark.createDataFrame(
        [(10, 7, 5), (10, 7, 888)], "l_orderkey long, l_partkey long, l_suppkey long"
    )
    got = {
        r["relationship"]: (r["n_child"], r["n_orphans"])
        for r in fk_orphans(orders, customer, lineitem, nation, region, part, supplier).collect()
    }
    assert got["orders.custkey->customer"] == (2, 1)
    assert got["lineitem.suppkey->supplier"] == (2, 1)
    assert got["lineitem.orderkey->orders"] == (2, 0)
    assert got["nation.regionkey->region"] == (1, 0)
    assert len(got) == 7


def test_rank_stability_hand_computed(spark):
    """Two brands whose revenue ranks swap between halves: n=2,
    d^2 sums to 2, rho = 1 - 6*2/(2*3) = -1."""
    import datetime as dt

    from pythonvectordb_spark.operators.relational import rank_stability

    t1 = dt.datetime(2024, 1, 1)
    t2 = dt.datetime(2024, 12, 31)
    orders = spark.createDataFrame(
        [(1, 10, t1, 0.0), (2, 10, t2, 0.0)],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double",
    )
    # half 1: A=20.00, B=10.00 ; half 2: A=10.00, B=30.00 -> ranks swap
    lineitem = spark.createDataFrame(
        [
            (1, 100, 20.00, 0.0),
            (1, 200, 10.00, 0.0),
            (2, 100, 10.00, 0.0),
            (2, 200, 30.00, 0.0),
        ],
        "l_orderkey long, l_partkey long, l_extendedprice double, l_discount double",
    )
    part = spark.createDataFrame(
        [(100, "Brand#A"), (200, "Brand#B")], "p_partkey long, p_brand string"
    )
    (r,) = rank_stability(orders, lineitem, part).collect()
    assert r["n_brands"] == 2 and r["sum_d2"] == 2
    assert r["rho"] == -1.0


def test_trimmed_stats_hand_computed(spark):
    """Ten values with one huge outlier: k=1 trims one from each side;
    winsorized clamps the outlier to the 9th order statistic."""
    import datetime as dt

    from pythonvectordb_spark.operators.sketch import trimmed_stats

    t0 = dt.datetime(2024, 1, 1)
    vals = [1.00, 2.00, 3.00, 4.00, 5.00, 6.00, 7.00, 8.00, 9.00, 1000.00]
    rows = [(i, t0, 1, "click", v, "{}") for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    (r,) = trimmed_stats(df).collect()
    assert r["n"] == 10 and r["n_trimmed_each_side"] == 1
    assert r["mean"] == round(sum(vals) / 10, 6)
    assert r["trimmed_mean"] == round(sum(vals[1:9]) / 8, 6)
    # winsorized: 1.00 -> 2.00 and 1000.00 -> 9.00
    assert r["winsorized_mean"] == round((sum(vals[1:9]) + 2.00 + 9.00) / 10, 6)
    assert r["lo_cut"] == 2.0 and r["hi_cut"] == 9.0


def test_kendall_tau_full_reversal(spark):
    """Three brands whose revenue order fully reverses between halves:
    every one of the 3 pairs is discordant, tau_b = -1."""
    import datetime as dt

    from pythonvectordb_spark.operators.relational import kendall_tau

    t1 = dt.datetime(2024, 1, 1)
    t2 = dt.datetime(2024, 12, 31)
    orders = spark.createDataFrame(
        [(1, 10, t1, 0.0), (2, 10, t2, 0.0)],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double",
    )
    # half 1: A=30, B=20, C=10 ; half 2: A=10, B=20, C=30
    lineitem = spark.createDataFrame(
        [
            (1, 100, 30.00, 0.0),
            (1, 200, 20.00, 0.0),
            (1, 300, 10.00, 0.0),
            (2, 100, 10.00, 0.0),
            (2, 200, 20.00, 0.0),
            (2, 300, 30.00, 0.0),
        ],
        "l_orderkey long, l_partkey long, l_extendedprice double, l_discount double",
    )
    part = spark.createDataFrame(
        [(100, "Brand#A"), (200, "Brand#B"), (300, "Brand#C")],
        "p_partkey long, p_brand string",
    )
    (r,) = kendall_tau(orders, lineitem, part).collect()
    assert r["n_brands"] == 3 and r["n_pairs"] == 3
    assert r["concordant"] == 0 and r["discordant"] == 3
    assert r["tau_b"] == -1.0


def test_hhi_concentration_hand_computed(spark):
    """Two suppliers with revenue 3.00 / 1.00 (shares 0.75 / 0.25):
    HHI = 0.5625 + 0.0625 = 0.625 and the effective supplier count is
    1/0.625 = 1.6, both exactly representable."""
    from pythonvectordb_spark.operators.relational import hhi_concentration

    lineitem = spark.createDataFrame(
        [(1, 1, 3.00, 0.0), (2, 2, 1.00, 0.0)],
        "l_orderkey long, l_suppkey long, l_extendedprice double, l_discount double",
    )
    supplier = spark.createDataFrame(
        [(1, 7), (2, 7)], "s_suppkey long, s_nationkey long"
    )
    nation = spark.createDataFrame([(7, "FRANCE")], "n_nationkey long, n_name string")
    (r,) = hhi_concentration(lineitem, supplier, nation).collect()
    assert r["n_name"] == "FRANCE" and r["n_suppliers"] == 2
    assert r["hhi"] == 0.625 and r["eff_suppliers"] == 1.6


def test_hill_tail_index_hand_computed(spark):
    """Top-3 order values 100/50/25 with k=2: excess = ln(4)+ln(2) =
    3 ln 2 and alpha = 2/(3 ln 2)."""
    import math

    from pythonvectordb_spark.operators.sketch import hill_tail_index

    orders = spark.createDataFrame(
        [(1, 100.00), (2, 50.00), (3, 25.00), (4, 10.00)],
        "o_orderkey long, o_totalprice double",
    )
    (r,) = hill_tail_index(orders, ks=(2,)).collect()
    assert r["k"] == 2 and r["xk1_cents"] == 2500
    assert r["sum_log_excess"] == round(3 * math.log(2), 6)
    assert r["alpha_hill"] == round(2 / (3 * math.log(2)), 6)


def test_copurchase_lift_hand_computed(spark):
    """Four baskets: A+B together in 2 of 4 orders, each alone once
    more (n_a = n_b = 3): support = 0.5, lift = 2*4/(3*3) = 8/9."""
    from pythonvectordb_spark.operators.relational import copurchase_lift

    rows = []
    # orders 1,2: {A,B}; order 3: {A}; order 4: {B}
    for ok, pks in [(1, [100, 200]), (2, [100, 200]), (3, [100]), (4, [200])]:
        for pk in pks:
            rows.append((ok, pk))
    lineitem = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    part = spark.createDataFrame(
        [(100, "Brand#A"), (200, "Brand#B")], "p_partkey long, p_brand string"
    )
    (r,) = copurchase_lift(
        lineitem, part, min_brand_orders=1, min_cooc=1
    ).collect()
    assert (r["brand_a"], r["brand_b"]) == ("Brand#A", "Brand#B")
    assert r["n_cooc"] == 2 and r["n_a"] == 3 and r["n_b"] == 3
    assert r["support"] == 0.5
    assert r["lift"] == round(2 * 4 / 9.0, 9)


def test_discount_elasticity_hand_computed(spark):
    """One brand with (discount, qty) = (0,10), (10, 20): slope = 1
    unit per discount point; a zero-variance brand gets NULL."""
    from pythonvectordb_spark.operators.relational import (
        discount_quantity_elasticity,
    )

    lineitem = spark.createDataFrame(
        [
            (1, 100, 10.0, 0.00),
            (2, 100, 20.0, 0.10),
            (3, 200, 7.0, 0.05),
            (4, 200, 9.0, 0.05),
        ],
        "l_orderkey long, l_partkey long, l_quantity double, l_discount double",
    )
    part = spark.createDataFrame(
        [(100, "Brand#A"), (200, "Brand#B")], "p_partkey long, p_brand string"
    )
    got = {r["p_brand"]: r for r in discount_quantity_elasticity(lineitem, part).collect()}
    assert got["Brand#A"]["slope_per_point"] == 1.0
    assert got["Brand#B"]["slope_per_point"] is None


def test_return_rate_wilson_hand_computed(spark):
    """k=1 of n=4: p=0.25; the Wilson bounds match the textbook formula
    evaluated in the same operation order."""
    import math

    from pythonvectordb_spark.operators.relational import return_rate_wilson

    lineitem = spark.createDataFrame(
        [(1, 100, "R"), (2, 100, "N"), (3, 100, "N"), (4, 100, "A")],
        "l_orderkey long, l_partkey long, l_returnflag string",
    )
    part = spark.createDataFrame([(100, "Brand#A")], "p_partkey long, p_brand string")
    (r,) = return_rate_wilson(lineitem, part).collect()
    assert r["n"] == 4 and r["k"] == 1 and r["return_rate"] == 0.25
    p, n = 0.25, 4.0
    denom = 1.0 + 3.8416 / n
    center = p + 3.8416 / (2.0 * n)
    half = 1.96 * math.sqrt((p * (1.0 - p) + 3.8416 / (4.0 * n)) / n)
    assert r["wilson_lo"] == round((center - half) / denom, 9)
    assert r["wilson_hi"] == round((center + half) / denom, 9)
    assert 0.0 < r["wilson_lo"] < 0.25 < r["wilson_hi"] < 1.0


def test_brand_pareto_hand_computed(spark):
    """Brands with revenue 70/20/10: 50% needs 1 brand, 80% needs 2,
    90% needs 2 (70+20=90 >= 90)."""
    from pythonvectordb_spark.operators.relational import brand_pareto

    lineitem = spark.createDataFrame(
        [(1, 100, 70.0, 0.0), (2, 200, 20.0, 0.0), (3, 300, 10.0, 0.0)],
        "l_orderkey long, l_partkey long, l_extendedprice double, l_discount double",
    )
    part = spark.createDataFrame(
        [(100, "Brand#A"), (200, "Brand#B"), (300, "Brand#C")],
        "p_partkey long, p_brand string",
    )
    got = {r["threshold_pct"]: r for r in brand_pareto(lineitem, part).collect()}
    assert got[50]["brands_needed"] == 1
    assert got[80]["brands_needed"] == 2
    assert got[90]["brands_needed"] == 2
    assert got[90]["n_brands"] == 3


def test_customer_rfm_monotone_buckets(spark):
    """Nine customers with jointly increasing recency/frequency/spend
    land in the diagonal cells (1,1,1) x3, (2,2,2) x3, (3,3,3) x3."""
    import datetime as dt

    from pythonvectordb_spark.operators.relational import customer_rfm

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    ok = 0
    for ci in range(9):
        n_orders = ci + 1  # frequency rises with customer index
        for j in range(n_orders):
            ok += 1
            rows.append((ok, ci, t0 + dt.timedelta(days=10 * ci + j), 100.0 * (ci + 1)))
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    got = {
        (r["r_bucket"], r["f_bucket"], r["m_bucket"]): r["n_customers"]
        for r in customer_rfm(orders).collect()
    }
    assert got == {(1, 1, 1): 3, (2, 2, 2): 3, (3, 3, 3): 3}


def test_fk_fanout_stats_hand_computed(spark):
    """Orders per customer 1/1/2: mean 4/3, p50 1.0, max 2; lineitems
    per order fan-outs from a planted skew check p99 = max."""
    import datetime as dt

    from pythonvectordb_spark.operators.relational import fk_fanout_stats

    t0 = dt.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(1, 10, t0, 1.0), (2, 20, t0, 1.0), (3, 30, t0, 1.0), (4, 30, t0, 1.0)],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double",
    )
    lineitem = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3), (2, 1), (3, 1), (4, 1)],
        "l_orderkey long, l_linenumber long",
    )
    got = {r["edge"]: r for r in fk_fanout_stats(lineitem, orders).collect()}
    oc = got["orders_per_customer"]
    assert oc["n_parents"] == 3 and oc["n_children"] == 4
    assert oc["mean_fanout"] == round(4 / 3, 6)
    assert oc["p50_fanout"] == 1.0 and oc["max_fanout"] == 2
    lo = got["lineitems_per_order"]
    assert lo["n_parents"] == 4 and lo["n_children"] == 6
    assert lo["p50_fanout"] == 1.0 and lo["p99_fanout"] == 3 and lo["max_fanout"] == 3


def test_order_reconciliation_bands(spark):
    """One order matching its lines exactly, one off by 20%, one header
    with no lines: bands count 1/1/2 (cumulative) and one orphan."""
    from pythonvectordb_spark.operators.relational import order_reconciliation

    orders = spark.createDataFrame(
        [(1, 10.00), (2, 10.00), (3, 5.00)],
        "o_orderkey long, o_totalprice double",
    )
    # order 1 lines total exactly 10.00 (no disc/tax); order 2 lines 8.00
    lineitem = spark.createDataFrame(
        [(1, 10.00, 0.0, 0.0), (2, 8.00, 0.0, 0.0)],
        "l_orderkey long, l_extendedprice double, l_discount double, l_tax double",
    )
    (r,) = order_reconciliation(orders, lineitem).collect()
    assert r["n_orders"] == 3 and r["n_orphan_headers"] == 1
    assert r["n_within_1pct"] == 1
    assert r["n_within_10pct"] == 1
    assert r["n_within_50pct"] == 2
    # order 2: header 10.00 -> 1e7 e6-units, lines 8.00 -> 8e6; diff 2e6
    assert r["max_abs_diff_e6"] == 2_000_000


def test_brand_yoy_growth_hand_computed(spark):
    """A brand earning 10.00 in 2023 and 15.00 in 2024 grows 50%; the
    first year has no prior row and is absent."""
    import datetime as dt

    from pythonvectordb_spark.operators.relational import brand_yoy_growth

    orders = spark.createDataFrame(
        [(1, 1, dt.datetime(2023, 5, 1)), (2, 1, dt.datetime(2024, 5, 1))],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    lineitem = spark.createDataFrame(
        [(1, 100, 10.00, 0.0), (2, 100, 15.00, 0.0)],
        "l_orderkey long, l_partkey long, l_extendedprice double, l_discount double",
    )
    part = spark.createDataFrame([(100, "Brand#A")], "p_partkey long, p_brand string")
    rows = brand_yoy_growth(lineitem, orders, part).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["yr"] == 2024 and r["yoy_growth"] == 0.5


def test_cluster_source_purity_hand_computed(spark):
    """Two planted clusters: one pure (both docs src A), one mixed
    (A + B): purity 1/2, mean entropy ln(2)/2."""
    import math

    from pythonvectordb_spark.operators.dedup import cluster_source_purity

    docs = spark.createDataFrame(
        [
            (1, "x", "A"),
            (2, "x", "A"),
            (3, "y", "A"),
            (4, "y", "B"),
            (5, "z", "C"),
        ],
        "doc_id long, text string, source string",
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    (r,) = cluster_source_purity(docs, pairs).collect()
    assert r["n_clusters"] == 2 and r["n_pure"] == 1
    assert r["pure_share"] == 0.5
    assert r["mean_entropy"] == round(math.log(2.0) / 2.0, 6)


def test_single_source_parts_buckets(spark):
    """Parts with 1, 2, and 3 observed suppliers land in their buckets;
    repeat trades of the same pair count once."""
    from pythonvectordb_spark.operators.relational import single_source_parts

    lineitem = spark.createDataFrame(
        [(100, 1), (100, 1), (200, 1), (200, 2), (300, 1), (300, 2), (300, 3)],
        "l_partkey long, l_suppkey long",
    )
    (r,) = single_source_parts(lineitem).collect()
    assert r["n_parts"] == 3
    assert (r["n_single"], r["n_two"], r["n_three_plus"]) == (1, 1, 1)
    assert r["single_share"] == round(1 / 3, 9)


def test_basket_diversity_hand_computed(spark):
    """Orders touching 1, 1, and 3 distinct brands: mean 5/3, single
    share 2/3."""
    from pythonvectordb_spark.operators.relational import basket_diversity

    lineitem = spark.createDataFrame(
        [(1, 100), (1, 100), (2, 200), (3, 100), (3, 200), (3, 300)],
        "l_orderkey long, l_partkey long",
    )
    part = spark.createDataFrame(
        [(100, "Brand#A"), (200, "Brand#B"), (300, "Brand#C")],
        "p_partkey long, p_brand string",
    )
    (r,) = basket_diversity(lineitem, part).collect()
    assert r["n_orders"] == 3 and r["mean_brands"] == round(5 / 3, 6)
    assert (r["n_1"], r["n_2"], r["n_3plus"]) == (2, 0, 1)
    assert r["single_brand_share"] == round(2 / 3, 9)


def test_priority_leadtime_hand_computed(spark):
    """One priority with lead times 1, 2, 10 days: mean 13/3, median 2,
    p95 = nearest-rank ceil(2.85) = 3rd value = 10."""
    import datetime as dt

    from pythonvectordb_spark.operators.relational import priority_leadtime

    t0 = dt.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(k, "1-URGENT", t0) for k in (1, 2, 3)],
        "o_orderkey long, o_orderpriority string, o_orderdate timestamp",
    )
    lineitem = spark.createDataFrame(
        [
            (1, t0 + dt.timedelta(days=1)),
            (2, t0 + dt.timedelta(days=2)),
            (3, t0 + dt.timedelta(days=10)),
        ],
        "l_orderkey long, l_shipdate timestamp",
    )
    (r,) = priority_leadtime(lineitem, orders).collect()
    assert r["o_orderpriority"] == "1-URGENT" and r["n_items"] == 3
    assert r["mean_days"] == round(13 / 3, 6)
    assert r["median_days"] == 2.0 and r["p95_days"] == 10


def test_price_ending_profile_ranks_planted_endings(spark):
    """Endings 99 (x3), 0 (x2), 50 (x1): ranking is 99, 0, 50 with
    exact shares."""
    from pythonvectordb_spark.operators.relational import price_ending_profile

    prices = [1.99, 2.99, 9.99, 5.00, 7.00, 3.50]
    orders = spark.createDataFrame(
        [(i, p) for i, p in enumerate(prices)], "o_orderkey long, o_totalprice double"
    )
    rows = price_ending_profile(orders).collect()
    got = [(r["rank"], r["ending"], r["n_orders"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert got == [(1, 99, 3), (2, 0, 2), (3, 50, 1)]
    shares = {r["rank"]: r["share"] for r in rows}
    assert shares[1] == 0.5 and shares[3] == round(1 / 6, 9)


def test_realized_vs_retail_hand_computed(spark):
    """2 units sold at 8.00 total against a 5.00 list price: realized
    800 vs list 1000 cents, ratio 0.8."""
    from pythonvectordb_spark.operators.relational import realized_vs_retail

    lineitem = spark.createDataFrame(
        [(1, 100, 2.0, 8.00)],
        "l_orderkey long, l_partkey long, l_quantity double, l_extendedprice double",
    )
    part = spark.createDataFrame(
        [(100, "Brand#A", 5.00)], "p_partkey long, p_brand string, p_retailprice double"
    )
    (r,) = realized_vs_retail(lineitem, part).collect()
    assert r["realized_cents"] == 800 and r["list_cents"] == 1000
    assert r["realization_ratio"] == 0.8


def test_segment_acctbal_profile_negative_share(spark):
    """Balances -5, 1, 2, 3: one negative of four; quartiles are the
    1st/2nd/3rd order statistics in cents."""
    from pythonvectordb_spark.operators.relational import segment_acctbal_profile

    customer = spark.createDataFrame(
        [(1, "B", -5.0), (2, "B", 1.0), (3, "B", 2.0), (4, "B", 3.0)],
        "c_custkey long, c_mktsegment string, c_acctbal double",
    )
    (r,) = segment_acctbal_profile(customer).collect()
    assert r["n_customers"] == 4 and r["n_negative"] == 1
    assert r["negative_share"] == 0.25
    assert (r["q1_cents"], r["q2_cents"], r["q3_cents"]) == (-500, 100, 200)


def test_supplier_balance_corr_extremes(spark):
    """Balance proportional to revenue gives r = 1; constant balance
    gives NULL (zero variance)."""
    from pythonvectordb_spark.operators.relational import (
        supplier_balance_revenue_corr,
    )

    lineitem = spark.createDataFrame(
        [(1, 10.00, 0.0), (2, 20.00, 0.0), (3, 30.00, 0.0)],
        "l_suppkey long, l_extendedprice double, l_discount double",
    )
    prop = spark.createDataFrame(
        [(1, 1.00), (2, 2.00), (3, 3.00)], "s_suppkey long, s_acctbal double"
    )
    (r,) = supplier_balance_revenue_corr(lineitem, prop).collect()
    assert r["n_suppliers"] == 3 and r["balance_revenue_corr"] == 1.0
    flat = spark.createDataFrame(
        [(1, 7.00), (2, 7.00), (3, 7.00)], "s_suppkey long, s_acctbal double"
    )
    (r,) = supplier_balance_revenue_corr(lineitem, flat).collect()
    assert r["balance_revenue_corr"] is None


def test_pair_method_agreement_hand_computed(spark):
    """Sets {(1,2),(2,3)} and {(2,3),(4,5)} overlap on one of three
    union pairs: agreement 1/3."""
    from pythonvectordb_spark.operators.dedup import pair_method_agreement

    a = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    b = spark.createDataFrame([(2, 3), (4, 5)], "id_a long, id_b long")
    (r,) = pair_method_agreement(a, b).collect()
    assert (r["n_minhash"], r["n_simhash"], r["n_both"], r["n_union"]) == (2, 2, 1, 3)
    assert r["agreement"] == round(1 / 3, 9)


def test_basket_size_value_buckets(spark):
    """Orders with 1, 2, and 5 lines valued 10/20/50: each lands in
    its bucket with the exact mean."""
    from pythonvectordb_spark.operators.relational import basket_size_value

    orders = spark.createDataFrame(
        [(1, 10.00), (2, 20.00), (3, 50.00)], "o_orderkey long, o_totalprice double"
    )
    lineitem = spark.createDataFrame(
        [(1, 1)] + [(2, i) for i in range(2)] + [(3, i) for i in range(5)],
        "l_orderkey long, l_linenumber long",
    )
    got = {r["lines_bucket"]: r for r in basket_size_value(orders, lineitem).collect()}
    assert got["1"]["mean_value"] == 10.0
    assert got["2"]["mean_value"] == 20.0
    assert got["4+"]["mean_value"] == 50.0


def test_priority_mix_drift_extremes(spark):
    """Identical yearly mixes give chisq 0 for both years; a year with
    an inverted mix scores > 0."""
    import datetime as dt

    from pythonvectordb_spark.operators.relational import priority_mix_drift

    rows = []
    ok = 0
    # 2023 and 2024: both 2xURGENT + 2xLOW -> mixes equal the global mix
    for y in (2023, 2024):
        for p in ("1-URGENT", "1-URGENT", "5-LOW", "5-LOW"):
            ok += 1
            rows.append((ok, p, dt.datetime(y, 6, 1)))
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_orderdate timestamp"
    )
    got = {r["order_year"]: r for r in priority_mix_drift(orders).collect()}
    assert got[2023]["chisq_vs_global"] == 0.0
    assert got[2024]["chisq_vs_global"] == 0.0
    # now skew 2024 entirely URGENT
    rows2 = [r for r in rows if r[2].year == 2023]
    for p in ("1-URGENT",) * 4:
        ok += 1
        rows2.append((ok, p, dt.datetime(2024, 6, 1)))
    orders2 = spark.createDataFrame(
        rows2, "o_orderkey long, o_orderpriority string, o_orderdate timestamp"
    )
    got = {r["order_year"]: r for r in priority_mix_drift(orders2).collect()}
    assert got[2024]["chisq_vs_global"] > 0.0 and got[2023]["chisq_vs_global"] > 0.0


def test_customer_brand_breadth_buckets(spark):
    """Customers touching 1, 4, and 7 distinct brands land in
    narrow/mid/wide; repeat purchases of a brand count once."""
    from pythonvectordb_spark.operators.relational import customer_brand_breadth

    rows = []
    li = []
    ok = 0
    for cust, nbrands in [(1, 1), (2, 4), (3, 7)]:
        ok += 1
        rows.append((ok, cust))
        for b in range(nbrands):
            li.append((ok, 100 + b))
            li.append((ok, 100 + b))  # repeat trade, same brand
    orders = spark.createDataFrame(rows, "o_orderkey long, o_custkey long")
    lineitem = spark.createDataFrame(li, "l_orderkey long, l_partkey long")
    part = spark.createDataFrame(
        [(100 + b, f"Brand#{b}") for b in range(7)], "p_partkey long, p_brand string"
    )
    (r,) = customer_brand_breadth(lineitem, orders, part).collect()
    assert r["n_customers"] == 3
    assert (r["n_narrow"], r["n_mid"], r["n_wide"]) == (1, 1, 1)
    assert r["mean_brands"] == 4.0
    assert r["wide_share"] == round(1 / 3, 9)


def test_nation_trade_balance_hand_computed(spark):
    """One trade: supplier in nation 1, customer in nation 2, revenue
    10.00 -> nation 1 exports 100000 e4-units, nation 2 imports them;
    an uninvolved nation reports zeros and a NULL ratio."""
    from pythonvectordb_spark.operators.relational import nation_trade_balance

    lineitem = spark.createDataFrame(
        [(1, 5, 10.00, 0.0)],
        "l_orderkey long, l_suppkey long, l_extendedprice double, l_discount double",
    )
    orders = spark.createDataFrame([(1, 9)], "o_orderkey long, o_custkey long")
    customer = spark.createDataFrame([(9, 2)], "c_custkey long, c_nationkey long")
    supplier = spark.createDataFrame([(5, 1)], "s_suppkey long, s_nationkey long")
    nation = spark.createDataFrame(
        [(1, "EXPORTER"), (2, "IMPORTER"), (3, "IDLE")],
        "n_nationkey long, n_name string",
    )
    got = {
        r["n_name"]: r
        for r in nation_trade_balance(lineitem, orders, customer, supplier, nation).collect()
    }
    assert got["EXPORTER"]["export_e4"] == 100000 and got["EXPORTER"]["import_e4"] == 0
    assert got["EXPORTER"]["export_import_ratio"] is None
    assert got["IMPORTER"]["import_e4"] == 100000 and got["IMPORTER"]["balance_e4"] == -100000
    assert got["IDLE"]["export_e4"] == 0 and got["IDLE"]["import_e4"] == 0


def test_brand_market_presence_counts(spark):
    """A brand made in one nation and bought in two reports (1, 2)."""
    from pythonvectordb_spark.operators.relational import brand_market_presence

    lineitem = spark.createDataFrame(
        [(1, 5, 100), (2, 5, 100)],
        "l_orderkey long, l_suppkey long, l_partkey long",
    )
    orders = spark.createDataFrame(
        [(1, 9), (2, 8)], "o_orderkey long, o_custkey long"
    )
    customer = spark.createDataFrame(
        [(9, 2), (8, 3)], "c_custkey long, c_nationkey long"
    )
    supplier = spark.createDataFrame([(5, 1)], "s_suppkey long, s_nationkey long")
    part = spark.createDataFrame([(100, "Brand#A")], "p_partkey long, p_brand string")
    (r,) = brand_market_presence(lineitem, orders, customer, supplier, part).collect()
    assert r["p_brand"] == "Brand#A"
    assert r["n_supplier_nations"] == 1 and r["n_customer_nations"] == 2


def test_sign_bit_codes_pack_exactly(spark):
    """Bit i of the lo/hi words is set iff coordinate i (i+32) is
    strictly positive — checked on hand vectors incl. zeros."""
    from pythonvectordb_spark.operators.search import sign_bit_codes

    v = [0.0] * 64
    v[0] = 1.0   # lo bit 0
    v[5] = -2.0  # negative -> unset
    v[31] = 0.5  # lo bit 31
    v[32] = 3.0  # hi bit 0
    v[63] = 0.1  # hi bit 31
    df = spark.createDataFrame([(1, [float(x) for x in v])],
                               "vec_id long, embedding array<float>")
    (r,) = sign_bit_codes(df).collect()
    assert r.sig_lo == (1 << 0) + (1 << 31)
    assert r.sig_hi == (1 << 0) + (1 << 31)


def test_sign_bit_recall_perfect_on_orthant_separated(spark):
    """Vectors in distinct orthants: hamming ranking equals cosine
    ranking, so recall is 1 for every query."""
    import numpy as np

    from pythonvectordb_spark.operators.search import sign_bit_recall

    rng = np.random.default_rng(3)
    rows = []
    for i in range(24):
        signs = np.where(rng.integers(0, 2, 64) == 1, 1.0, -1.0)
        rows.append((i, [float(s) for s in signs]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sign_bit_recall(df, k=3, query_pred=F.col("vec_id") < 4).collect()
    assert len(got) == 4
    # sign patterns ARE the geometry here: hamming(a,b)/32 determines
    # cosine exactly (cos = 1 - 2h/64), so the two rankings agree
    assert all(r.recall == 1.0 for r in got)


def test_matryoshka_recall_full_prefix_is_exact(spark):
    """prefix_dim == DIM must reproduce the exact top-k: recall 1."""
    from pythonvectordb_spark.fixtures import QUERY_VEC
    from pythonvectordb_spark.operators.search import matryoshka_recall
    from pythonvectordb_spark.sources.testdata import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = {r.prefix_dim: r.recall
           for r in matryoshka_recall(emb, QUERY_VEC, prefixes=(8, 64), k=5).collect()}
    assert got[64] == 1.0
    assert 0.0 <= got[8] <= 1.0


def test_embedding_anisotropy_identical_vectors(spark):
    """All-identical vectors: every pair dot equals the self dot, so
    anisotropy is exactly 1."""
    from pythonvectordb_spark.operators.search import embedding_anisotropy

    v = [1.0] + [0.0] * 63
    df = spark.createDataFrame([(i, v) for i in range(5)],
                               "vec_id long, embedding array<float>")
    (r,) = embedding_anisotropy(df).collect()
    assert r.n_vectors == 5 and r.anisotropy == 1.0
    assert r.mean_pair_dot == r.mean_self_dot


def test_ndcg_and_mrr_on_testdata(spark):
    """ndcg in [0,1] with idcg matching the closed form; mrr found_rank
    consistent with rr."""
    from pythonvectordb_spark.fixtures import CENTROIDS, QUERY_VEC
    from pythonvectordb_spark.operators.dedup import lsh_band_planes
    from pythonvectordb_spark.operators.search import (
        IDCG_10,
        ann_lsh_multiprobe_search,
        mrr_at_k,
        ndcg_ivf,
    )
    from pythonvectordb_spark.sources.testdata import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    (nd,) = ndcg_ivf(emb, QUERY_VEC, CENTROIDS, k=10, nprobe=2).collect()
    assert abs(nd.idcg - round(IDCG_10, 6)) < 1e-9
    assert 0.0 <= nd.ndcg <= 1.0 and abs(nd.dcg / nd.idcg - nd.ndcg) < 1e-5
    # k != 10 (ADVICE r6): ideal DCG must derive from k — full-coverage
    # probing (nprobe = all centroids) is exact, so ndcg must be 1.0 for
    # BOTH k=5 (was overstated idcg → ndcg < 1) and k=15 (was NULL DCG
    # terms past rank 10)
    import math as _m

    for kk in (5, 15):
        (ndk,) = ndcg_ivf(emb, QUERY_VEC, CENTROIDS, k=kk,
                          nprobe=len(CENTROIDS)).collect()
        w = [1.0 / _m.log2(r + 1) for r in range(1, kk + 1)]
        idcg_k = sum((kk - i) * w[i] for i in range(kk))
        assert abs(ndk.idcg - round(idcg_k, 6)) < 1e-9
        assert abs(ndk.ndcg - 1.0) < 1e-6, (kk, ndk)
    ann = ann_lsh_multiprobe_search(emb, QUERY_VEC, lsh_band_planes(20, 5), k=10)
    (mr,) = mrr_at_k(emb, ann, QUERY_VEC, k=10).collect()
    if mr.found_rank == 0:
        assert mr.rr == 0.0
    else:
        assert abs(mr.rr - round(1.0 / mr.found_rank, 6)) < 1e-9


def test_label_centroid_affinity_orthogonal_and_identical(spark):
    """Labels with identical member vectors have cosine 1 between their
    centroids; orthogonal-axis labels have cosine 0."""
    from pythonvectordb_spark.operators.search import label_centroid_affinity

    ex = [1.0] + [0.0] * 63
    ey = [0.0, 1.0] + [0.0] * 62
    rows = (
        [(i, ex, 0) for i in range(3)]
        + [(10 + i, ex, 1) for i in range(2)]
        + [(20 + i, ey, 2) for i in range(4)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {(r.label_a, r.label_b): r for r in label_centroid_affinity(df).collect()}
    assert got[(0, 1)].cosine == 1.0
    assert got[(0, 2)].cosine == 0.0 and got[(1, 2)].cosine == 0.0
    assert got[(0, 2)].n_a == 3 and got[(0, 2)].n_b == 4


def test_method_mcnemar_hand_computed(spark):
    """Flags: docs {1,2} by A (pairs 1-2), docs {2,3} by B (pairs 2-3)
    over universe {1..5}: n11=1 (doc2), n10=1 (doc1), n01=1 (doc3),
    n00=2 -> chi2 = 0, cc variant (|0|-1)^2/2 = 0.5."""
    from pythonvectordb_spark.operators.dedup import method_mcnemar

    docs = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    pa = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    pb = spark.createDataFrame([(2, 3)], "id_a long, id_b long")
    (r,) = method_mcnemar(docs, pa, pb).collect()
    assert (r.n_docs, r.n11, r.n10, r.n01, r.n00) == (5, 1, 1, 1, 2)
    assert r.mcnemar_chi2 == 0.0 and r.mcnemar_chi2_cc == 0.5


def test_method_mcnemar_no_discordance_null(spark):
    from pythonvectordb_spark.operators.dedup import method_mcnemar

    docs = spark.createDataFrame([(i,) for i in range(1, 4)], "doc_id long")
    p = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    (r,) = method_mcnemar(docs, p, p).collect()
    assert r.n10 == 0 and r.n01 == 0
    assert r.mcnemar_chi2 is None and r.mcnemar_chi2_cc is None


def test_labeled_scorer_matches_expression_and_mask_edges(spark):
    """Round-10 optimization pin: the one-pass label-masked BLAS scorer
    behind hard_negatives/contrastive_triplets emits (a) scores
    bit-equal to the symmetric-int8 expression kernel, (b) no
    same-label row in diff mode / no cross-label row in same mode even
    when a query's valid pool is smaller than k (the -2.0 mask-fill
    must never leak), and (c) the full valid pool when it has fewer
    than k members."""
    import math

    from pyspark.sql import functions as F

    from pythonvectordb_spark.functions.vector import cosine_similarity_int8_sym
    from pythonvectordb_spark.operators.search import (
        _corpus_anchor_blocks,
        scored_from_qmat_labeled,
        with_qvec,
    )

    def unit(theta):
        return [float(x) for x in [math.cos(theta), math.sin(theta)] + [0.0] * 62]

    # label 'b' has a single member: in diff mode its valid pool is 4
    # rows (< k=5); in same mode its valid pool is only itself
    rows = [
        (1, unit(0.00), "a"),
        (2, unit(0.01), "a"),
        (3, unit(0.10), "b"),
        (4, unit(1.50), "a"),
        (5, unit(1.52), "a"),
    ]
    emb = with_qvec(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    )
    qids, qmat, qlabels = next(_corpus_anchor_blocks(emb, "vec_id", F.col("qvec"), "label"))
    got = scored_from_qmat_labeled(
        emb, qids, qmat, qlabels, k_same=5, k_diff=5
    ).collect()
    labels = {1: "a", 2: "a", 3: "b", 4: "a", 5: "a"}
    for r in got:
        assert r.score >= -1.0 - 1e-12  # the -2.0 mask fill never leaks
        if r.is_same:
            assert labels[r.query_id] == labels[r.vec_id]
        else:
            assert labels[r.query_id] != labels[r.vec_id]
    # anchor 3 (sole 'b'): diff pool = the 4 'a' rows, same pool = self
    diff3 = {r.vec_id for r in got if r.query_id == 3 and not r.is_same}
    same3 = {r.vec_id for r in got if r.query_id == 3 and r.is_same}
    assert diff3 == {1, 2, 4, 5} and same3 == {3}
    # bit-equality with the expression kernel on every emitted pair
    exp = {
        (r.vec_id, r.other): r.s
        for r in emb.alias("x")
        .join(
            emb.select(
                F.col("vec_id").alias("other"), F.col("qvec").alias("qv2")
            ),
            how="cross",
        )
        .select(
            "vec_id",
            "other",
            cosine_similarity_int8_sym(F.col("qvec"), F.col("qv2")).alias("s"),
        )
        .collect()
    }
    for r in got:
        assert exp[(r.vec_id, r.query_id)] == r.score, (r.vec_id, r.query_id)


def test_labeled_scorer_null_label_semantics(spark):
    """Round-11 pin (ADVICE r10): NULL-label rows behave exactly as in
    the per-class plan — never an anchor (label == lab filter), never a
    same-label candidate, and never a different-label negative
    (`label != lab` is NULL for a NULL label). Non-null labels ABSENT
    from the anchor set stay eligible as diff-negatives (old
    `label != lab` = TRUE)."""
    import math

    from pythonvectordb_spark.operators.search import (
        _corpus_anchor_blocks,
        scored_from_qmat_labeled,
        with_qvec,
    )

    def unit(theta):
        return [float(x) for x in [math.cos(theta), math.sin(theta)] + [0.0] * 62]

    rows = [
        (1, unit(0.00), "a"),
        (2, unit(0.01), "a"),
        (3, unit(0.02), None),  # NULL label: excluded everywhere
        (4, unit(0.03), "b"),
        (5, unit(0.04), "a"),
    ]
    emb = with_qvec(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    )
    qids, qmat, qlabels = next(_corpus_anchor_blocks(emb, "vec_id", F.col("qvec"), "label"))
    assert 3 not in set(qids.tolist())  # NULL-label row is not an anchor
    assert None not in qlabels
    got = scored_from_qmat_labeled(
        emb, qids, qmat, qlabels, k_same=5, k_diff=5
    ).collect()
    # row 3 never appears as a candidate in either arm
    assert all(r.vec_id != 3 for r in got), [r for r in got if r.vec_id == 3]
    # every anchor still sees the full non-null pool in its arms
    diff1 = {r.vec_id for r in got if r.query_id == 1 and not r.is_same}
    same1 = {r.vec_id for r in got if r.query_id == 1 and r.is_same}
    assert diff1 == {4} and same1 == {1, 2, 5}
    # an anchor subset (only 'a' anchors): label 'b' is unknown to the
    # anchor codes but must remain a diff-negative, unlike NULL
    keep = [i for i, lab in enumerate(qlabels) if lab == "a"]
    got2 = scored_from_qmat_labeled(
        emb, qids[keep], qmat[keep], [qlabels[i] for i in keep], k_same=5, k_diff=5
    ).collect()
    diff2 = {r.vec_id for r in got2 if r.query_id == 1 and not r.is_same}
    assert diff2 == {4}  # 'b' eligible, NULL row still excluded


def test_miner_anchor_blocks_bit_equal_to_single_gather(spark, monkeypatch):
    """Round-11 pin (VERDICT r10 item 6): the blocked anchor gather —
    toLocalIterator slices + one scorer pass per block — must produce
    EXACTLY the single-gather miners' output. Block width 2 forces the
    multi-block union path on a 6-row corpus; block boundaries align
    with the scorer's QCHUNK sub-matrices, so scores are bit-equal and
    the Window top-k sees the identical candidate multiset."""
    import math

    from pythonvectordb_spark.operators import search as S
    from pythonvectordb_spark.operators.dedup import embedding_near_dup

    def unit(theta):
        return [float(x) for x in [math.cos(theta), math.sin(theta)] + [0.0] * 62]

    rows = [
        (1, unit(0.00), "a"),
        (2, unit(0.01), "a"),
        (3, unit(0.10), "b"),
        (4, unit(1.50), "a"),
        (5, unit(1.52), "b"),
        (6, unit(0.70), "c"),
    ]
    emb = S.with_qvec(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    )
    base_hn = sorted(map(tuple, S.hard_negatives(emb, k=2).collect()))
    base_ct = sorted(map(tuple, S.contrastive_triplets(emb).collect()))
    exact_nd = sorted(map(tuple, embedding_near_dup(emb, method="expr").collect()))
    monkeypatch.setattr(S, "MINER_ANCHOR_BLOCK", 2)
    blk_hn = sorted(map(tuple, S.hard_negatives(emb, k=2).collect()))
    blk_ct = sorted(map(tuple, S.contrastive_triplets(emb).collect()))
    blk_nd = sorted(map(tuple, embedding_near_dup(emb, method="pandas").collect()))
    assert blk_hn == base_hn
    assert blk_ct == base_ct
    # the threshold selector's multi-block union is the exact pair set
    assert blk_nd == exact_nd and exact_nd


def test_miners_empty_anchor_set_typed_empty(spark):
    """Degenerate-input pin: with no non-NULL-label anchor (an empty
    table, or every label NULL) both miners return 0 rows with the same
    columns and types as a non-empty result, never a TypeError from an
    empty block union."""
    import math

    from pythonvectordb_spark.operators import search as S

    schema = "vec_id long, embedding array<double>, label string"
    vec = [1.0, 0.5] + [0.0] * 62
    full = S.with_qvec(
        spark.createDataFrame([(1, vec, "a"), (2, vec, "a"), (3, vec, "b")], schema)
    )
    empty = S.with_qvec(spark.createDataFrame([], schema))
    all_null = S.with_qvec(
        spark.createDataFrame(
            [(i, [math.cos(i), math.sin(i)] + [0.0] * 62, None) for i in range(4)], schema
        )
    )
    for miner in (lambda e: S.hard_negatives(e, k=2), S.contrastive_triplets):
        want = miner(full).dtypes
        for emb in (empty, all_null):
            out = miner(emb)
            assert out.dtypes == want
            assert out.count() == 0


def test_lsh_float_sigs_vec_bit_equal_to_expr(spark):
    """Round-10 optimization pin: the Arrow float-plane signature
    kernel must stay bit-equal to the HOF expression twin on the real
    embeddings — the kernel mirrors the expression's ascending-j
    sequential float64 fold exactly, so equality is total (no FP
    tolerance), which is what licenses it in ann_lsh_multiprobe_search."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark.functions.vector import lsh_band_signatures_vec
    from pythonvectordb_spark.operators.dedup import lsh_band_planes
    from pythonvectordb_spark.operators.search import lsh_band_signatures_expr
    from pythonvectordb_spark.sources.testdata import load_table

    for bands, bits in ((20, 5), (24, 4)):
        planes = lsh_band_planes(bands, bits)
        emb = load_table(spark, SF_SMOKE, "embeddings")
        both = emb.select(
            lsh_band_signatures_vec("embedding", planes).alias("a"),
            lsh_band_signatures_expr("embedding", planes).alias("b"),
        )
        n_bad = both.filter(F.col("a") != F.col("b")).count()
        assert n_bad == 0, (bands, bits)
        first = both.first()
        assert len(first.a) == bands


def test_pair_common_counts_grouped_equals_self_join(spark):
    """Round-11 pin: the grouped map-side pair emission used when
    ``max_df`` is set must produce EXACTLY the classic inverted-index
    self-join's (id_a, id_b, n_common) multiset — including the df-cap
    semantics (a shingle shared by more than max_df docs contributes no
    pairs and no common counts). max_df=2 on a real corpus forces the
    cap to bite. The cap is applied before ``collect_list``, so no
    grouped list ever holds more than max_df ids."""
    from pythonvectordb_spark.operators.dedup import (
        _pair_common_counts,
        _shingled,
    )
    from pythonvectordb_spark.sources.testdata import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    sh = _shingled(docs, "text", "doc_id", 3).localCheckpoint(eager=False)
    inv = sh.select(F.col("doc_id"), F.explode("sh").alias("shingle"))
    for max_df in (2, 50):
        got = _pair_common_counts(inv, "doc_id", max_df)
        grouped = {(r.id_a, r.id_b): r.n_common for r in got.collect()}
        # the cap's Filter sits BELOW (later in the tree string than) the
        # collect_list Aggregate, i.e. it runs first
        lines = got._jdf.queryExecution().optimizedPlan().toString().splitlines()
        collect_at = next(i for i, ln in enumerate(lines) if "collect_list" in ln)
        cap_at = next(i for i, ln in enumerate(lines) if f"<= {max_df})" in ln)
        assert cap_at > collect_at, "\n".join(lines)
        # the max_df=None branch IS the classic self-join; apply the cap
        # externally so both plans see the identical kept inverted index
        keep = inv.groupBy("shingle").count().filter(F.col("count") <= max_df)
        inv_kept = inv.join(keep.select("shingle"), "shingle")
        joined = {
            (r.id_a, r.id_b): r.n_common
            for r in _pair_common_counts(inv_kept, "doc_id", None).collect()
        }
        assert grouped == joined, max_df
        assert len(grouped) > 0, max_df


def test_method_pair_sets_equals_independent_detectors(spark):
    """Round-11 pin: the fused dual-detector builder (one shingle pass,
    one hashed index, one combined groupBy) must emit EXACTLY the pair
    sets of the independently-run detectors — minhash (id_a, id_b,
    jaccard) and simhash (id_a, id_b, hamming) both."""
    from pythonvectordb_spark.operators.dedup import (
        method_pair_sets,
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from pythonvectordb_spark.sources.testdata import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    fa, fb = method_pair_sets(docs, threshold=0.2, max_hamming=8)
    ia = minhash_lsh_pairs(docs, threshold=0.2)
    ib = simhash_pairs(docs, max_hamming=8)
    fused_a = {tuple(r) for r in fa.collect()}
    fused_b = {tuple(r) for r in fb.collect()}
    indep_a = {tuple(r) for r in ia.collect()}
    indep_b = {tuple(r) for r in ib.collect()}
    assert fused_a == indep_a
    assert fused_b == indep_b
    assert len(fused_a) > 0 and len(fused_b) > 0
