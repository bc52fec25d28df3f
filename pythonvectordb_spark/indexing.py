"""MLlib batch indexing (BASELINE.json: "MLlib for batch indexing,
DataFrame for metadata").

Three index builders over the vector table:
  * KMeans codebook   -> centroids for IVF-style probed search
    (operators.search.ann_ivf_search consumes them as literals);
  * BucketedRandomProjectionLSH -> approx near-dup / knn join on unit
    vectors (euclidean distance d on unit vectors <-> cosine = 1 - d^2/2);
  * MinHashLSH over token sets -> approximate text near-dup join.

These are the *approximate, index-accelerated* counterparts of the exact
operators (embedding_near_dup, ngram_jaccard_pairs, knn_*) — at 100 TB
the exact all-pairs paths become candidate *verifiers* behind these
candidate *generators*. Seeds are fixed so runs are reproducible; MLlib's
internal hashing isn't reproducible in DuckDB, so these register as
rows-only queries while tests measure recall against the exact operators.
"""

from __future__ import annotations

from pyspark.ml.clustering import KMeans
from pyspark.ml.feature import BucketedRandomProjectionLSH, MinHashLSH, NGram, RegexTokenizer

try:  # Spark >= 3.1
    from pyspark.ml.functions import array_to_vector
except ImportError:  # pragma: no cover
    array_to_vector = None

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pythonvectordb_spark.functions.vector import l2_normalize

SEED = 42

# Largest ALS item catalog whose factor matrix `als_purchase_retrieval`
# collects to the driver and ships to every scoring task: 64 MB of
# float32 at rank 16.
_ALS_MAX_ITEMS = 1_000_000


def _as_vec(df: DataFrame, vec_col: str, out: str = "features") -> DataFrame:
    return df.withColumn(out, array_to_vector(l2_normalize(vec_col)))


def train_ivf_centroids(
    df: DataFrame, n_clusters: int = 8, vec_col: str = "embedding"
) -> list[list[float]]:
    """KMeans codebook for IVF search: the offline "batch indexing" step.

    Returns plain python centroids so ann_ivf_search can embed them as
    literal expressions (and partition assignment stays engine-portable).
    """
    feats = _as_vec(df, vec_col)
    model = KMeans(k=n_clusters, seed=SEED, featuresCol="features").fit(feats)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def train_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Per-subspace KMeans codebooks for product quantization — the
    offline training step that random fixture codebooks stand in for
    (fixtures.py notes "at scale these come from per-subspace KMeans";
    this is that KMeans).

    The vector column is sliced into ``m`` contiguous subspaces and each
    subspace gets its own ``ks``-centroid KMeans fit over the (optionally
    sampled) table — m small fits over sub_dim-wide rows, not one fit
    over the full dimension, so driver memory per fit is tiny and the m
    fits each scan the (cached) sample once. Returns plain python
    ``[m][ks][sub_dim]`` floats so the books embed as literal
    expressions in `pq_code_expr` / `ann_pq_search` exactly like the
    fixture books (and like trained IVF centroids above).

    Trained books adapt to the data's actual per-subspace density, which
    is what lifts ADC recall from the ~0.2-0.5 of scale-matched random
    books to the ~0.8+ a production PQ index needs.
    """
    base = df.select(vec_col)
    if sample_fraction is not None:
        base = base.sample(fraction=sample_fraction, seed=SEED)
    base = base.cache()
    try:
        # parquet array columns carry no length in the schema, so the
        # dimensionality comes from the caller (it always knows its
        # embedding width); the first() sniff is only the no-arg
        # fallback and costs one extra tiny job at training time
        n_dim = dim if dim is not None else len(base.first()[0])
        sub_dim = n_dim // m
        books = []
        for s in range(m):
            feats = base.select(
                array_to_vector(
                    F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim)
                ).alias("features")
            )
            model = KMeans(k=ks, seed=SEED, featuresCol="features").fit(feats)
            books.append([[float(x) for x in c] for c in model.clusterCenters()])
        return books
    finally:
        base.unpersist()


def build_ivf_index(
    df: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index: the vector table written as parquet
    PARTITIONED BY its nearest-centroid assignment, with the int8 qvec
    precomputed.

    At query time, probing n clusters means scanning n partition
    directories — candidate selection becomes Catalyst *partition
    pruning* (visible as PartitionFilters in the plan), the same physical
    trick every warehouse uses for date pruning. This is the "MLlib for
    batch indexing" shape: KMeans offline -> partitioned layout -> pruned
    online scans.
    """
    from pythonvectordb_spark.functions.vector import l2_normalize, quantize
    from pythonvectordb_spark.operators.search import ivf_cluster_id

    out = (
        df.withColumn("cluster_id", ivf_cluster_id(vec_col, centroids))
        .withColumn("qvec", quantize(l2_normalize(vec_col)))
    )
    out.write.mode("overwrite").partitionBy("cluster_id").parquet(path)


def ann_ivf_search_indexed(
    spark,
    index_path: str,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probed search over a materialized IVF index: the cluster filter is
    a partition predicate, so only the probed directories are read."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark.functions.vector import cosine_similarity
    from pythonvectordb_spark.operators.search import _query_lit, ivf_probe

    probe = ivf_probe(query, centroids, nprobe)
    df = spark.read.parquet(index_path).filter(F.col("cluster_id").isin(probe))
    scored = df.select(
        F.col(id_col), cosine_similarity(_query_lit(query), vec_col).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def brp_lsh_near_dup(
    df: DataFrame,
    cosine_threshold: float = 0.4,
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate embedding near-dup pairs via BucketedRandomProjectionLSH.

    On L2-normalized vectors, euclidean distance d relates to cosine c by
    c = 1 - d^2/2, so a cosine threshold t becomes d <= sqrt(2(1-t)).
    Returns (id_a, id_b, cosine_approx) with id_a < id_b.
    """
    import math

    # lazy checkpoint: the featurized frame feeds fit() AND both sides
    # of the self approxSimilarityJoin — one featurization pass, not 3
    feats = _as_vec(df.select(id_col, vec_col), vec_col).localCheckpoint(eager=False)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=SEED,
    ).fit(feats)
    dist = math.sqrt(2.0 * (1.0 - cosine_threshold))
    pairs = lsh.approxSimilarityJoin(feats, feats, dist, distCol="dist")
    return (
        pairs.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            (F.lit(1.0) - F.col("dist") * F.col("dist") / F.lit(2.0)).alias("cosine_approx"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def minhash_lsh_text_pairs(
    df: DataFrame,
    jaccard_threshold: float = 0.8,
    n: int = 3,
    num_hash_tables: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Approximate text near-dup pairs via the MLlib MinHashLSH pipeline:
    RegexTokenizer -> NGram(word n-grams) -> binary term vector ->
    approxSimilarityJoin on Jaccard distance (1 - jaccard)."""
    from pyspark.ml.feature import CountVectorizer

    toks = RegexTokenizer(
        inputCol=text_col, outputCol="toks", pattern=r"\s+", toLowercase=False
    ).transform(df.select(id_col, text_col))
    grams = NGram(n=n, inputCol="toks", outputCol="grams").transform(toks)
    cv = CountVectorizer(inputCol="grams", outputCol="features", binary=True).fit(grams)
    # lazy checkpoint: tokenization + n-grams + term vectors feed fit()
    # AND both sides of the self approxSimilarityJoin
    feats = cv.transform(grams).filter(
        F.expr("size(grams) > 0")
    ).localCheckpoint(eager=False)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=SEED
    ).fit(feats)
    pairs = lsh.approxSimilarityJoin(feats, feats, 1.0 - jaccard_threshold, distCol="jdist")
    return (
        pairs.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            (F.lit(1.0) - F.col("jdist")).alias("jaccard_approx"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def word2vec_guarantee(
    docs: DataFrame,
    probe_word: str = "the",
    top_n: int = 5,
    vector_size: int = 16,
    min_count: int = 5,
    seed: int = 42,
    text_col: str = "text",
    num_partitions: int = 8,
) -> DataFrame:
    """Word2Vec training with its CONTRACT asserted as data (the
    guarantee-oracle pattern — negative-sampling math is
    engine-specific, the model contract is not): one row

      (n_vocab, n_neighbors, all_in_vocab, probe_excluded,
       sims_monotone)

    where n_vocab is the trained vocabulary size — exactly the set of
    tokens with corpus frequency >= ``min_count`` under the same
    tokenizer, which a SQL oracle recomputes independently — and the
    probe word's top-``top_n`` synonym list must be full-length, drawn
    from the vocabulary, probe-free, and similarity-sorted. All five
    are invariant to the learned weights, so the row hash-matches
    across engines while still breaking on a vocab-selection or
    synonym-query regression."""
    from pyspark.ml.feature import Word2Vec

    tok = RegexTokenizer(
        inputCol=text_col, outputCol="words", pattern=r"[^a-z]+", toLowercase=True
    )
    words = tok.transform(docs).select("words")
    model = Word2Vec(
        vectorSize=vector_size,
        minCount=min_count,
        seed=seed,
        inputCol="words",
        outputCol="vec",
        numPartitions=num_partitions,
    ).fit(words)
    vocab = model.getVectors().select("word").localCheckpoint(eager=False)
    nv = vocab.agg(F.count(F.lit(1)).cast("long").alias("n_vocab")).withColumn(
        "_one", F.lit(1)
    )
    syn = model.findSynonyms(probe_word, top_n)
    stats = synonym_order_stats(syn, vocab, probe_word).withColumn("_one", F.lit(1))
    return (
        nv.join(F.broadcast(stats), "_one")
        .select("n_vocab", "n_neighbors", "all_in_vocab", "probe_excluded", "sims_monotone")
    )


def synonym_order_stats(
    syn: DataFrame, vocab: DataFrame, probe_word: str
) -> DataFrame:
    """One-row contract stats over a synonyms frame (word, similarity):
    (n_neighbors, all_in_vocab, probe_excluded, sims_monotone).

    sims_monotone is checked against the order the frame ACTUALLY
    returned its rows in (round-5 advice: lagging over a window
    re-sorted by similarity is tautological — it can never catch an
    ordering regression). zipWithIndex attaches the positional index of
    the emitted rows (partition order, then row order within); the lag
    runs over THAT index, so a findSynonyms that stopped sorting by
    similarity flips the flag to 0 and breaks the oracle hash — see
    tests/test_indexing.py's out-of-order fixture for the proof."""
    from pyspark.sql import Window

    indexed = (
        syn.rdd.zipWithIndex()
        .map(lambda t: (t[0]["word"], float(t[0]["similarity"]), t[1]))
        .toDF(["word", "similarity", "ret_pos"])
    )
    w = Window.orderBy(F.asc("ret_pos"))
    sy = indexed.withColumn("prev_sim", F.lag("similarity").over(w))
    return sy.join(
        F.broadcast(vocab.withColumnRenamed("word", "vw")),
        sy["word"] == F.col("vw"),
        "left",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors"),
        (F.count("vw") == F.count(F.lit(1))).cast("long").alias("all_in_vocab"),
        (F.max((F.col("word") == F.lit(probe_word)).cast("int")) == 0)
        .cast("long")
        .alias("probe_excluded"),
        (
            F.max(
                (
                    F.col("prev_sim").isNotNull()
                    & (F.col("similarity") > F.col("prev_sim"))
                ).cast("int")
            )
            == 0
        )
        .cast("long")
        .alias("sims_monotone"),
    )


def logreg_text_gate(
    docs: DataFrame,
    label_expr=None,
    num_features: int = 4096,
    max_iter: int = 20,
    reg_param: float = 0.01,
    test_mod: int = 5,
    min_accuracy: float = 0.8,
    min_pos_recall: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Trained LINEAR text gate (new round 7, VERDICT r6 task 6 — the
    MLlib estimator step beyond indexing): RegexTokenizer →
    HashingTF(2^12) → LogisticRegression learns a deterministic
    document label (default: the ABOVE-MEAN-LENGTH rule
    n_chars * n_docs > sum(n_chars), exact-integer cross-multiplied so
    no mean is ever materialized as a float — balanced ~51% positive
    on the testdata and linearly recoverable from hashed term counts,
    the classic length-quality gate) from a hashed bag-of-words — the
    trained second gate a production curation stack runs beside its
    rule-based one. The synthetic corpus draws every lang/source from
    one ~31-word vocabulary, so distributional labels (language,
    source) are unlearnable BY CONSTRUCTION here; length is the
    honest learnable signal.

    Guarantee-oracle shape (the `mllib_*` precedent, indexing.py:197):
    the trained coefficients are engine-specific, so the CHECKED
    columns are (a) the exact test-split label counts — DuckDB
    recomputes the label predicate and the md5 split bit-for-bit — and
    (b) the classifier's held-out accuracy and positive-class recall
    asserted as within-bound data (>= 0.8 each; measured acc
    0.985/0.947 and recall 0.968/0.944 at sf0.001/sf0.01, vs a ~0.52
    majority baseline — the bound fails if the model stops learning).
    A training regression breaks the value hash without the hash ever
    depending on float coefficients.

    Determinism of the split: test = md5(doc_id) last hex digit mod
    `test_mod` == 0 — expression-reproducible on both engines,
    independent of row order.

    Scale shape: tokenize + hashed term counts are one narrow map;
    LBFGS runs `max_iter` tree-aggregated gradient passes over the
    train split (work = rows x iterations — witnessed in bench.py's
    rehearsal); scoring broadcasts one coefficient vector. Nothing
    collects to the driver but the 1-row verdict.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF

    if label_expr is None:
        tot = docs.agg(
            F.count(F.lit(1)).cast("long").alias("_cnt"),
            F.sum("n_chars").cast("long").alias("_tot_chars"),
        ).withColumn("_one", F.lit(1))
        docs = docs.withColumn("_one", F.lit(1)).join(F.broadcast(tot), "_one")
        label_expr = F.col("n_chars") * F.col("_cnt") > F.col("_tot_chars")
    toks = RegexTokenizer(
        inputCol=text_col, outputCol="toks", pattern=r"\s+", toLowercase=False
    ).transform(docs.select(id_col, text_col, label_expr.cast("double").alias("label")))
    feats = HashingTF(
        inputCol="toks", outputCol="features", numFeatures=int(num_features)
    ).transform(toks)
    is_test = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 32, 1), 16, 10)
        .cast("long")
        % int(test_mod)
        == 0
    )
    data = feats.withColumn("is_test", is_test).localCheckpoint(
        eager=False
    )  # feeds fit() AND transform()
    lr = LogisticRegression(
        maxIter=int(max_iter), regParam=float(reg_param), standardization=True
    )
    model = lr.fit(data.filter(~F.col("is_test")))
    pred = model.transform(data.filter(F.col("is_test")))
    g = pred.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(F.col("label")).cast("long").alias("n_pos_test"),
        F.sum((F.col("prediction") == F.col("label")).cast("long"))
        .cast("long")
        .alias("_n_correct"),
        F.sum(((F.col("prediction") == 1.0) & (F.col("label") == 1.0)).cast("long"))
        .cast("long")
        .alias("_n_tp"),
    )
    acc = F.col("_n_correct").cast("double") / F.col("n_test").cast("double")
    rec = F.col("_n_tp").cast("double") / F.col("n_pos_test").cast("double")
    return g.select(
        "n_test",
        "n_pos_test",
        (acc >= F.lit(float(min_accuracy))).cast("long").alias("accuracy_ok"),
        (rec >= F.lit(float(min_pos_recall))).cast("long").alias("pos_recall_ok"),
    )


def isotonic_length_calibration(
    docs: DataFrame,
    test_mod: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MLlib IsotonicRegression calibrating a cheap proxy score into a
    probability (new round 7, the estimator step past
    `logreg_text_gate`): the gate scores documents by raw CHARACTER
    length (free — it is a stored column) but routes on the
    above-mean TOKEN count rule; chars track tokens monotonically but
    not perfectly (r ~ 0.998, a handful of disagreements per 500 docs
    here — multi-space runs and word-length skew), which is exactly
    the shape isotonic / PAV recalibration exists for: a monotone,
    distribution-free map from proxy score to P(label) with a fuzzy
    step where the proxies disagree.

    Split: md5(doc_id) last hex digit mod `test_mod` == 0 is the TEST
    set, the rest fit the model — expression-reproducible on both
    engines (the `logreg_text_gate` convention). The label's mean is
    computed over ALL docs (exact integer cross-multiplication, no
    float mean), so the label of any doc is engine-independent.

    Guarantee-oracle shape (the `mllib_*` precedent, `logreg_text_gate`):
    isotonic breakpoints are engine-specific, so the CHECKED columns
    are (a) exact test-split counts DuckDB recomputes bit-for-bit and
    (b) two asserted-as-data properties: `monotone_ok` — calibrated
    predictions are nondecreasing in the raw score across the test set
    (PAV's defining invariant, checked with a window, not assumed) —
    and `brier_beats_base_ok` — test Brier score of the calibrated
    probabilities is at or under the base-rate predictor's p*(1-p) +
    1e-9 (a calibrator that learned nothing fails it; measured ~0.01
    vs ~0.25 here).

    Scale shape: one narrow token-count map, one broadcast 1-row total,
    one isotonic fit (MLlib sorts-and-pools the train pairs; the model
    broadcasts as boundary arrays), one scored window pass and a 1-row
    verdict.
    """
    from pyspark.ml.regression import IsotonicRegression
    from pyspark.sql import Window

    from pythonvectordb_spark.functions.text import tokens

    base = docs.select(
        F.col(id_col),
        F.col("n_chars").cast("double").alias("raw"),
        F.size(tokens(text_col)).cast("long").alias("ntok"),
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("_cnt"),
        F.sum("ntok").cast("long").alias("_tot"),
    ).withColumn("_one", F.lit(1))
    labeled = (
        base.withColumn("_one", F.lit(1))
        .join(F.broadcast(tot), "_one")
        .select(
            id_col,
            "raw",
            (F.col("ntok") * F.col("_cnt") > F.col("_tot"))
            .cast("double")
            .alias("label"),
        )
    )
    is_test = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 32, 1), 16, 10)
        .cast("long")
        % int(test_mod)
        == 0
    )
    data = (
        labeled.withColumn("features", array_to_vector(F.array(F.col("raw"))))
        .withColumn("is_test", is_test)
        .localCheckpoint(eager=False)  # feeds fit() AND transform()
    )
    iso = IsotonicRegression(
        featuresCol="features", labelCol="label", predictionCol="p_cal"
    )
    model = iso.fit(data.filter(~F.col("is_test")))
    pred = model.transform(data.filter(F.col("is_test"))).select(
        "raw", "label", F.col("p_cal").cast("double").alias("p")
    )
    wup = Window.orderBy(F.asc("raw"))
    flags = pred.select(
        "label",
        "p",
        (F.col("p") >= F.lag("p").over(wup)).alias("_mono"),
    )
    g = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum("label").cast("long").alias("n_pos_test"),
        F.min(F.coalesce(F.col("_mono"), F.lit(True))).alias("_mono_all"),
        F.sum((F.col("p") - F.col("label")) * (F.col("p") - F.col("label"))).alias(
            "_brier_n"
        ),
    )
    pbar = F.col("n_pos_test").cast("double") / F.col("n_test").cast("double")
    brier_cal = F.col("_brier_n") / F.col("n_test").cast("double")
    brier_base = pbar * (F.lit(1.0) - pbar)
    return g.select(
        "n_test",
        "n_pos_test",
        F.col("_mono_all").cast("long").alias("monotone_ok"),
        (brier_cal <= brier_base + F.lit(1e-9)).cast("long").alias(
            "brier_beats_base_ok"
        ),
    )


def als_purchase_retrieval(
    orders: DataFrame,
    lineitem: DataFrame,
    k: int = 20,
    shortlist: int = 96,
    test_mod: int = 5,
    rank: int = 16,
    max_iter: int = 10,
    reg_param: float = 0.1,
    alpha: float = 10.0,
    chance_floor_frac: float = 0.4,
) -> DataFrame:
    """MLlib ALS implicit-feedback retrieval on the customer x part
    purchase matrix (new round 8, VERDICT r7 task 4): the third trained
    estimator family, and "similarity search as a join" realized the
    collaborative way — no embedding column at all, the index IS the
    factorization. Interactions are distinct (customer, part) purchase
    counts from orders |><| lineitem; a deterministic md5 interaction
    split holds out test pairs; ALS (implicitPrefs, fixed seed) factors
    the train matrix; retrieval quality is held-out hit-rate@k of the
    model's top-k recommendations per test user with that user's TRAIN
    items excluded, reported beside the identically-evaluated global
    popularity baseline (top train items, same exclusion, same k).

    Guarantee-oracle shape (the `mllib_*` precedent,
    `logreg_text_gate`): learned factors are engine-specific, so the
    CHECKED columns are (a) the exact interaction/split census —
    DuckDB recomputes the distinct-pair counts and the md5 split
    bit-for-bit — and (b) the two hit-rates asserted as within-bound
    data (`*_ok` flags); a training regression breaks the value hash
    without it ever depending on float factors.

    Determinism of the split: test = md5(user || '-' || item) last hex
    digit mod `test_mod` == 0 — expression-reproducible on both
    engines, independent of row order.

    Id-width limit (ADVICE r8): MLlib ALS requires int32 user/item
    ids, so the casts are guarded — a key outside int32 raises instead
    of silently wrapping (the DuckDB oracle's CAST(... AS INT) errors
    on the same input). Key spaces past 2^31 need a dense-id remap
    (dense_rank over distinct keys) before this operator.

    Scale shape: ALS is Spark's block-partitioned alternating least
    squares — user/item factor blocks stay distributed, each of the
    `max_iter` sweeps is a pair of shuffles keyed on the block ids, and
    nothing materializes centrally (the 100 TB path: interactions
    shuffle once to blocks, factors are rank-sized rows).
    The recommend arm (round-11) collects the catalog-bounded item
    factor matrix (n_items x rank fp32 — the same relation MLlib's
    recommendForUserSubset ships to executors as joined blocks), ships
    it in the scoring closure, and scores each user-factor Arrow batch
    with one fp32 gemm, emitting the per-user top-``shortlist`` inside
    the batch — never the full score matrix, no shuffle, no window;
    test-users x ``shortlist`` rows leave the pass. A catalog of more
    than ``_ALS_MAX_ITEMS`` items raises ``ValueError``. The popularity
    arm broadcasts one `shortlist`-row item list. Only the 1-row verdict
    reaches the driver.
    """
    from pyspark.ml.recommendation import ALS
    from pyspark.sql import Window

    # MLlib ALS requires int32 ids. A plain non-ANSI cast would silently
    # wrap/NULL keys past 2^31 and corrupt the census (ADVICE r8), so
    # the cast is guarded: any out-of-range key fails the job loudly
    # instead. Data with >2^31 key space needs a dense-id remap first
    # (dense_rank over the distinct keys) — out of scope here because
    # TPC-H custkey/partkey are generated well inside int32 at every
    # published SF; the DuckDB oracle's CAST(... AS INT) errors on
    # overflow for the same reason, keeping the two engines in parity.
    def _int32(col: Column, name: str) -> Column:
        return F.when(
            (col >= F.lit(-2147483648)) & (col <= F.lit(2147483647)),
            col.cast("int"),
        ).otherwise(
            F.raise_error(
                F.format_string(
                    name + " id exceeds MLlib ALS's int32 limit: %s",
                    col.cast("string"),
                )
            ).cast("int")
        )

    inter = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            _int32(F.col("o_custkey"), "user").alias("user"),
            _int32(F.col("l_partkey"), "item").alias("item"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    is_test = (
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
        % int(test_mod)
        == 0
    )
    data = inter.withColumn("is_test", is_test).localCheckpoint(
        eager=False
    )  # feeds fit(), both eval arms, and the census agg
    train = data.filter(~F.col("is_test"))
    test = data.filter(F.col("is_test"))

    als = ALS(
        rank=int(rank),
        maxIter=int(max_iter),
        regParam=float(reg_param),
        alpha=float(alpha),
        implicitPrefs=True,
        userCol="user",
        itemCol="item",
        ratingCol="cnt",
        seed=SEED,
        coldStartStrategy="drop",
    )
    model = als.fit(train)

    test_users = test.select("user").distinct()
    # Round-11 optimization (VERDICT r10 item 2, guide §3.1/§2.4):
    # recommendForUserSubset is MLlib's blocked factor cross-join + per-
    # user heap — measured 4.3 s of this query's 9.4 s at sf0.1 for a
    # 15k-user x 20k-item product. Replaced with the repo's standard
    # closure-matrix BLAS shape (knn_join's design): item factors are
    # catalog-bounded (n_items x rank fp32, gated at `_ALS_MAX_ITEMS`)
    # and ride in the scoring closure, which PySpark broadcasts itself
    # once it is over 1 MB; each user-factor Arrow batch is scored with
    # ONE fp32 gemm and its per-user top-``shortlist`` emitted directly
    # — a user's whole item row lives inside the batch, so the cut is
    # complete with no shuffle, no window, no heap. Ratings are the identical
    # fp32 dot products; only tie-breaking INSIDE an equal-score
    # boundary can differ from MLlib's heap order, and the checked
    # output (census + >=2.4x-margin hit-rate flags) is invariant to
    # boundary ties by construction.
    item_rows = model.itemFactors.orderBy("id").limit(_ALS_MAX_ITEMS + 1).collect()
    if len(item_rows) > _ALS_MAX_ITEMS:
        raise ValueError(
            f"als_purchase_retrieval: more than _ALS_MAX_ITEMS={_ALS_MAX_ITEMS} items to collect"
        )
    import numpy as np

    iids_l = np.array([r["id"] for r in item_rows], dtype=np.int64)
    imat_l = np.vstack([r["features"] for r in item_rows]).astype(np.float32)
    n_short = int(shortlist)

    def rec_batches(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            U = _np.vstack(pdf["features"].to_numpy()).astype(_np.float32)
            uid = pdf["id"].to_numpy().astype(_np.int64)
            S = U @ imat_l.T  # fp32, MLlib's own rating arithmetic
            take = min(n_short, S.shape[1])
            idx = _np.argpartition(-S, take - 1, axis=1)[:, :take]
            yield _pd.DataFrame(
                {
                    "user": _np.repeat(uid, take),
                    "item": iids_l[idx.ravel()],
                    "s": S[
                        _np.arange(len(uid))[:, None], idx
                    ].ravel().astype(_np.float64),
                }
            )

    # semi-join keeps exactly the users a factor exists for — the same
    # subset recommendForUserSubset scores (coldStartStrategy drops the
    # rest in both shapes). ensure_parallelism: the semi-join collapses
    # to ONE partition at bench SFs (AQE-coalesced tiny shuffle), which
    # would put every user's gemm + top-k selection on one core —
    # measured 21-34 s single-core vs ~1 s fanned out (guide §2.5
    # input skew; gated no-op at scale).
    from pythonvectordb_spark.util import ensure_parallelism

    recs = ensure_parallelism(
        model.userFactors.join(
            test_users.withColumnRenamed("user", "id"), "id", "semi"
        ).select("id", "features")
    ).mapInPandas(rec_batches, schema="user int, item int, s double")

    def _topk_hits(cand: DataFrame, order_cols) -> DataFrame:
        """Exclude the user's TRAIN items, keep the first k by the
        arm's own ranking, count held-out hits per arm."""
        w = Window.partitionBy("user").orderBy(*order_cols)
        kept = (
            cand.join(
                train.select("user", "item"), ["user", "item"], "left_anti"
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= int(k))
            .select("user", "item")
        )
        return kept.join(test.select("user", "item"), ["user", "item"], "semi")

    als_hits = _topk_hits(recs, [F.col("s").desc(), F.col("item").asc()])
    pop = (
        train.groupBy("item")
        .agg(F.sum("cnt").cast("long").alias("pc"))
        .orderBy(F.col("pc").desc(), F.col("item").asc())
        .limit(int(shortlist))
    )
    pop_cand = test_users.crossJoin(F.broadcast(pop))
    pop_hits = _topk_hits(pop_cand, [F.col("pc").desc(), F.col("item").asc()])

    census = data.agg(
        F.countDistinct("user").cast("long").alias("n_users"),
        F.countDistinct("item").cast("long").alias("n_items"),
        F.count(F.lit(1)).cast("long").alias("n_interactions"),
        F.sum((~F.col("is_test")).cast("long")).cast("long").alias("n_train"),
        F.sum(F.col("is_test").cast("long")).cast("long").alias("n_test"),
    ).withColumn("_one", F.lit(1))
    nh_a = als_hits.agg(F.count(F.lit(1)).cast("long").alias("_ha")).withColumn(
        "_one", F.lit(1)
    )
    nh_p = pop_hits.agg(F.count(F.lit(1)).cast("long").alias("_hp")).withColumn(
        "_one", F.lit(1)
    )
    ntu = test_users.agg(
        F.count(F.lit(1)).cast("long").alias("n_test_users")
    ).withColumn("_one", F.lit(1))
    g = census.join(F.broadcast(ntu), "_one").join(F.broadcast(nh_a), "_one").join(
        F.broadcast(nh_p), "_one"
    )
    als_rate = F.col("_ha").cast("double") / F.col("n_test").cast("double")
    pop_rate = F.col("_hp").cast("double") / F.col("n_test").cast("double")
    chance = (
        F.lit(float(chance_floor_frac))
        * F.lit(float(k))
        / F.col("n_items").cast("double")
    )
    return g.select(
        "n_users",
        "n_items",
        "n_interactions",
        "n_train",
        "n_test",
        "n_test_users",
        (als_rate >= chance).cast("long").alias("als_hit_rate_ok"),
        (pop_rate >= chance).cast("long").alias("pop_hit_rate_ok"),
    )


def fpgrowth_brand_rules(
    lineitem: DataFrame,
    part: DataFrame,
    min_support: float = 0.005,
    max_antecedent: int = 2,
) -> DataFrame:
    """MLlib FPGrowth association rules over per-order brand baskets
    (new round 10, VERDICT r9 task 3): the parallel frequent-pattern
    miner run on the same DISTINCT (order, brand) baskets as
    `relational.copurchase_lift`, emitting every association rule with
    antecedent size <= ``max_antecedent`` — rule identity plus
    confidence / lift / support exactly as MLlib computes them
    (confidence = freq(itemset)/freq(antecedent); lift = confidence /
    (freq(consequent)/n_baskets); support = freq(itemset)/n_baskets).

    FULLY exact-oracled (no guarantee flags needed): frequent-itemset
    mining is deterministic — DuckDB recomputes the frequent 1/2/3-sets
    by brand-basket self-joins with the identical minCount threshold
    ceil(min_support * n_baskets) (the double multiply-then-ceil is
    bit-equal on both engines), derives the same single-consequent
    rules, and the three ratios are single correctly-rounded double
    divisions of exact int64 counts, ROUNDED 9. Verified frame-equal
    at sf0.001 (1,719 rules) and sf0.01 (726 rules). The
    ``max_antecedent=2`` filter pins the output to rules derived from
    pair and triple itemsets — the SQL-enumerable families — so parity
    holds even if a deeper itemset clears the support gate at some SF.

    Scale shape: baskets are the deduped (order, brand) frame grouped
    once (fan-out bounded by basket width, never catalog size); Spark's
    FPGrowth is PFP (parallel FP-Growth) — FP-trees are built
    PARTITION-LOCALLY over item-group shards and the only shuffle is
    the conditional-basket redistribution keyed on item group, so work
    scales with basket count, not baskets squared. Rule generation is
    itemset-local. Nothing collects to the driver.
    """
    from pyspark.ml.fpm import FPGrowth

    baskets = (
        lineitem.join(F.broadcast(part), lineitem["l_partkey"] == part["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.collect_set("p_brand").alias("items"))
    )
    model = FPGrowth(
        itemsCol="items", minSupport=float(min_support), minConfidence=0.0
    ).fit(baskets)
    return (
        model.associationRules.filter(
            F.size("antecedent") <= int(max_antecedent)
        )
        .select(
            F.array_join(F.array_sort("antecedent"), ",").alias("antecedent"),
            F.element_at("consequent", 1).alias("consequent"),
            F.round("confidence", 9).alias("confidence"),
            F.round("lift", 9).alias("lift"),
            F.round("support", 9).alias("support"),
        )
    )


def pca_compaction_audit(
    emb: DataFrame,
    k_dims: int = 16,
    k: int = 10,
    n_queries: int = 32,
    recall_floor_mult: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MLlib PCA embedding compaction audit (new round 10, VERDICT r9
    task 4): fit PCA on the l2-normalized store, project to ``k_dims``
    of the original dimensions, and measure (a) the variance the
    learned subspace captures and (b) recall@``k`` of scoring in the
    compacted space against the exact symmetric-int8 ground truth —
    the LEARNED-projection twin of `search.matryoshka_recall` (which
    truncates to a dimension PREFIX; PCA rotates first, so its
    variance capture is optimal by construction).

    Guarantee-oracle shape (the `mllib_*` precedent, logreg_text_gate):
    eigenvectors are engine-specific, so the CHECKED columns are the
    exact store census (n_vectors, dim, the audit parameters) plus two
    flags asserted as data: ``explained_variance_ok`` — the top-k_dims
    eigenvalue mass is >= k_dims/dim of total variance (the
    mathematical floor ANY spectrum guarantees for the TOP k
    components; measured 0.376/0.376/0.307 at sf0.001/0.01/0.1 vs the
    0.25 floor) and <= 1 — and ``recall_ok`` — mean recall@k across
    the query panel beats ``recall_floor_mult`` x the k/n chance floor
    (measured 0.375/0.353/0.247 vs floors 0.2/0.2/0.05; uniform-random
    testdata is PCA's worst case — a near-flat spectrum — so these are
    recall FLOORS, not typical values). Recall is invariant to
    component sign flips (both sides of every dot product flip), the
    only nondeterminism an eigendecomposition admits.

    Scale shape: PCA.fit is one tree-aggregated Gramian pass (dim x
    dim, never n x n) + a driver-side dim-sized eigensolve; projection
    is one narrow map. The audit panel is bounded by contract
    (``n_queries``); each arm is |panel| x n scored pairs reduced by a
    per-query top-k window — the same price every recall audit pays
    (sign_bit_recall precedent) — and one 1-row verdict reaches the
    driver.
    """
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import Window

    from pythonvectordb_spark.functions.vector import (
        cosine_similarity_int8_sym,
        l2_normalize,
        quantize,
    )

    feats = emb.select(
        F.col(id_col), array_to_vector(l2_normalize(vec_col)).alias("features")
    )
    model = PCA(k=int(k_dims), inputCol="features", outputCol="pcs").fit(feats)
    ev_sum = float(sum(model.explainedVariance))
    dim_in = int(model.pc.numRows)
    ev_ok = (ev_sum >= float(k_dims) / float(dim_in)) and (ev_sum <= 1.0)

    proj = model.transform(feats).select(
        F.col(id_col), vector_to_array("pcs").alias("_p")
    )
    from pythonvectordb_spark.util import ensure_parallelism

    # the audit panel scores |panel| x n interpreted pairs over this
    # frame; a one-file scan would run them on one core (guide §2.5;
    # no-op at scale — round-10 optimization: 5.0 -> 4.1 s at sf0.1,
    # the remainder is the PCA fit itself)
    base = ensure_parallelism(
        emb.select(F.col(id_col), quantize(l2_normalize(vec_col)).alias("_qv")).join(
            proj, id_col
        )
    ).localCheckpoint(eager=False)
    queries = base.filter(F.col(id_col) < int(n_queries)).select(
        F.col(id_col).alias("query_id"),
        F.col("_qv").alias("_qq"),
        F.col("_p").alias("_qp"),
    )
    pairs = (
        base.withColumn("_one", F.lit(1))
        .join(F.broadcast(queries.withColumn("_one", F.lit(1))), "_one")
        .filter(F.col("query_id") != F.col(id_col))
    )
    we = Window.partitionBy("query_id").orderBy(F.desc("_s"), F.asc(id_col))
    exact_k = (
        pairs.select(
            "query_id",
            F.col(id_col),
            F.round(cosine_similarity_int8_sym("_qq", "_qv"), 9).alias("_s"),
        )
        .withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= int(k))
        .select("query_id", id_col)
    )
    dot = F.aggregate(
        F.zip_with("_p", "_qp", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("_d"), F.asc(id_col))
    pca_k = (
        pairs.select("query_id", F.col(id_col), F.round(dot, 9).alias("_d"))
        .withColumn("rank", F.row_number().over(wp))
        .filter(F.col("rank") <= int(k))
        .select("query_id", id_col)
    )
    overlap = exact_k.join(pca_k, ["query_id", id_col]).agg(
        F.count(F.lit(1)).cast("long").alias("_ov")
    ).withColumn("_one", F.lit(1))
    census = emb.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.max(F.size(vec_col)).cast("int").alias("dim"),
    ).withColumn("_one", F.lit(1))
    nq = queries.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries")
    ).withColumn("_one", F.lit(1))
    g = census.join(F.broadcast(nq), "_one").join(F.broadcast(overlap), "_one")
    # recall >= mult * k / n  <=>  overlap * n >= mult * k^2 * n_queries
    # (exact-integer cross-multiplication, no float mean materialized)
    recall_ok = (
        F.col("_ov") * F.col("n_vectors")
        >= F.lit(int(recall_floor_mult) * int(k) * int(k)) * F.col("n_queries")
    )
    return g.select(
        "n_vectors",
        "dim",
        F.lit(int(k_dims)).cast("int").alias("k_dims"),
        F.lit(int(k)).cast("int").alias("k"),
        "n_queries",
        F.lit(bool(ev_ok)).cast("long").alias("explained_variance_ok"),
        recall_ok.cast("long").alias("recall_ok"),
    )


def tvs_depth_selection(
    docs: DataFrame,
    depths: tuple = (1, 2, 3),
    test_mod: int = 5,
    train_ratio: float = 0.75,
    metric_eps: float = 0.005,
    min_metric: float = 0.95,
    min_accuracy: float = 0.95,
    gbt_max_iter: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic model selection via MLlib TrainValidationSplit
    (new round 10, VERDICT r9 task 5): a GBTClassifier maxDepth grid on
    the above-mean-length label with n_chars as the ONLY feature — a
    problem one axis-aligned split solves — so the selection must
    recover the generating rule: the minimal depth. TVS's argmax-metric
    pick is tie-unstable for exactly this case (every depth can reach
    the same validation accuracy), so selection applies the classic
    parsimony (one-standard-error-style) rule over
    ``TrainValidationSplitModel.validationMetrics``: the SMALLEST depth
    whose validation metric is within ``metric_eps`` of the best.
    Measured: validation accuracy identical across depths 1/2/3 at both
    SFs (1.0 / 0.9857), parsimony pick depth 1, held-out accuracy 1.0.

    Guarantee-oracle shape (the `mllib_*` precedent, logreg_text_gate):
    checked columns are the exact md5 test-split census — DuckDB
    recomputes the label predicate and split bit-for-bit — plus
    ``grid_size`` and three flags asserted as data:
    ``selected_depth_minimal`` (the parsimony pick == min(depths) — the
    task's contract), ``validation_metric_ok`` (best validation
    accuracy >= ``min_metric``), and ``heldout_accuracy_ok`` (the
    SELECTED submodel's accuracy on the md5 test split >=
    ``min_accuracy``, computed in-frame). A selection or training
    regression breaks the value hash without it ever depending on
    float margins.

    Scale shape: the feature frame is one narrow map; TVS fits
    |depths| histogram-binned GBTs on the SAME cached train/validation
    split (work = rows x iterations x |grid|, all tree-aggregated
    passes); evaluation is one aggregate per arm. Only the 1-row
    verdict reaches the driver.
    """
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.tuning import ParamGridBuilder, TrainValidationSplit

    tot = docs.agg(
        F.count(F.lit(1)).cast("long").alias("_cnt"),
        F.sum("n_chars").cast("long").alias("_tot_chars"),
    ).withColumn("_one", F.lit(1))
    d = (
        docs.withColumn("_one", F.lit(1))
        .join(F.broadcast(tot), "_one")
        .select(
            F.col(id_col),
            F.col("n_chars").cast("double").alias("f_nchars"),
            (F.col("n_chars") * F.col("_cnt") > F.col("_tot_chars"))
            .cast("double")
            .alias("label"),
        )
    )
    is_test = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 32, 1), 16, 10)
        .cast("long")
        % int(test_mod)
        == 0
    )
    data = (
        VectorAssembler(
            inputCols=["f_nchars"], outputCol="features", handleInvalid="error"
        )
        .transform(d.withColumn("is_test", is_test))
        .localCheckpoint(eager=False)  # feeds |grid| fits AND the heldout eval
    )
    gbt = GBTClassifier(maxIter=int(gbt_max_iter), seed=SEED)
    grid = ParamGridBuilder().addGrid(
        gbt.maxDepth, [int(x) for x in depths]
    ).build()
    tvs = TrainValidationSplit(
        estimator=gbt,
        estimatorParamMaps=grid,
        evaluator=MulticlassClassificationEvaluator(metricName="accuracy"),
        trainRatio=float(train_ratio),
        seed=SEED,
        collectSubModels=True,  # the parsimony pick needs every arm
        parallelism=len(depths),
    )
    tm = tvs.fit(data.filter(~F.col("is_test")))
    vms = [float(v) for v in tm.validationMetrics]
    best = max(vms)
    pars_idx = min(i for i, v in enumerate(vms) if v >= best - float(metric_eps))
    selected_minimal = int(depths[pars_idx]) == min(int(x) for x in depths)
    sub = tm.subModels[pars_idx]

    pred = sub.transform(data.filter(F.col("is_test")))
    g = pred.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(F.col("label")).cast("long").alias("n_pos_test"),
        F.sum((F.col("prediction") == F.col("label")).cast("long"))
        .cast("long")
        .alias("_n_correct"),
    )
    acc = F.col("_n_correct").cast("double") / F.col("n_test").cast("double")
    return g.select(
        "n_test",
        "n_pos_test",
        F.lit(len(list(depths))).cast("int").alias("grid_size"),
        F.lit(bool(selected_minimal)).cast("long").alias("selected_depth_minimal"),
        F.lit(bool(best >= float(min_metric))).cast("long").alias(
            "validation_metric_ok"
        ),
        (acc >= F.lit(float(min_accuracy))).cast("long").alias(
            "heldout_accuracy_ok"
        ),
    )


def prefixspan_event_paths(
    events: DataFrame,
    min_support: float = 0.2,
    max_pattern_length: int = 3,
    first_n: int = 8,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """MLlib PrefixSpan sequential-pattern mining over per-user
    event-type journeys (new round 10): the order-aware sibling of
    `fpgrowth_brand_rules` — frequent subsequences (gaps allowed) of
    each user's FIRST ``first_n`` events (the onboarding-funnel prefix;
    unbounded journeys in this corpus contain every short pattern, so
    the prefix is what makes supports discriminate) up to length
    ``max_pattern_length``, the classic funnel-discovery /
    next-action-mining primitive. One row per frequent pattern: the
    comma-joined pattern, its exact sequence count (users containing it
    as a subsequence), and support.

    FULLY exact-oracled: sequential-pattern mining is deterministic —
    DuckDB recomputes length-1/2/3 pattern supports as
    count(DISTINCT user) over row_number-ordered (rn <= first_n)
    self-joins with the identical minCount = ceil(min_support *
    n_sequences) threshold (double multiply-then-ceil, bit-equal across
    engines), and support is one correctly-rounded division of exact
    int64 counts, ROUNDED 9. Sequence order ties break on event_id on
    both engines.

    Scale shape: sequence assembly is one map-side collect_list grouped
    on the user key (per-user arrays, bounded by ``first_n``); Spark's
    PrefixSpan distributes projected-database extension with work
    proportional to total sequence length x frequent-prefix count —
    never users squared. The ``max_pattern_length`` cap bounds both
    the mining depth and the SQL enumeration. Only pattern rows (at
    most |types|^max_len) leave the executors.
    """
    from pyspark.ml.fpm import PrefixSpan

    seqs = (
        events.groupBy(user_col)
        .agg(
            F.transform(
                F.slice(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", F.col(type_col))
                        )
                    ),
                    1,
                    int(first_n),
                ),
                lambda s: F.array(s[type_col]),
            ).alias("sequence")
        )
        .select("sequence")
    )
    n_seq = seqs.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    ).withColumn("_one", F.lit(1))
    pat = PrefixSpan(
        minSupport=float(min_support),
        maxPatternLength=int(max_pattern_length),
        sequenceCol="sequence",
    ).findFrequentSequentialPatterns(seqs)
    return (
        pat.select(
            F.array_join(F.flatten("sequence"), ",").alias("pattern"),
            F.size(F.flatten("sequence")).cast("int").alias("length"),
            F.col("freq").cast("long").alias("n_users"),
        )
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(n_seq), "_one")
        .select(
            "pattern",
            "length",
            "n_users",
            F.round(
                F.col("n_users").cast("double") / F.col("_n").cast("double"), 9
            ).alias("support"),
        )
    )


def linreg_hour_value_twin(
    events: DataFrame, agree_eps: float = 1e-6
) -> DataFrame:
    """MLlib LinearRegression (exact "normal" solver) fitted beside the
    closed-form regression aggregates (new round 10): one model of
    event value on hour-of-day, with the HASH-CHECKED columns being the
    exact moment-formula regr_slope / regr_intercept / regr_r2 (the
    `event_value_regression` parity surface, ROUNDED 6 — DuckDB
    recomputes them) and the MLlib estimator's agreement with that
    closed form asserted as data: solver="normal" solves the same
    least-squares system via a distributed Gramian, so |coef - slope|
    and |intercept - intercept| must sit within ``agree_eps`` (measured
    agreement ~1e-12; a solver regression or an accidental
    regularization flips the flags and breaks the value hash).

    Scale shape: the closed form is one map-side-combined moment
    aggregate; the normal-equation fit is one tree-aggregated AtA/Atb
    pass (never an iterative sweep) over the same narrow projection;
    both reduce to 1-row frames and a broadcast join. Only the 1-row
    verdict reaches the driver.
    """
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    d = events.select(
        F.hour("ts").cast("double").alias("x"), F.col("value").alias("y")
    )
    closed = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.regr_slope("y", "x"), 6).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
        F.round(F.regr_r2("y", "x"), 6).alias("r2"),
        F.regr_slope("y", "x").alias("_slope_raw"),
        F.regr_intercept("y", "x").alias("_icpt_raw"),
    )
    feat = VectorAssembler(
        inputCols=["x"], outputCol="features", handleInvalid="error"
    ).transform(d)
    model = LinearRegression(
        featuresCol="features",
        labelCol="y",
        solver="normal",
        regParam=0.0,
        elasticNetParam=0.0,
    ).fit(feat)
    coef = float(model.coefficients[0])
    icpt = float(model.intercept)
    eps = float(agree_eps)
    return closed.select(
        "n",
        "slope",
        "intercept",
        "r2",
        (F.abs(F.col("_slope_raw") - F.lit(coef)) < F.lit(eps))
        .cast("long")
        .alias("mllib_coef_agrees"),
        (F.abs(F.col("_icpt_raw") - F.lit(icpt)) < F.lit(eps))
        .cast("long")
        .alias("mllib_intercept_agrees"),
    )


def chisq_mllib_twin(
    orders: DataFrame, customer: DataFrame, agree_eps: float = 1e-4
) -> DataFrame:
    """ml.stat.ChiSquareTest beside the exact-integer contingency chi²
    (new round 10): independence of order priority x customer market
    segment, with the HASH-CHECKED columns being the exact-arithmetic
    statistic surface (`stats.contingency_chisq`: n_rows, dof, chisq,
    cramers_v — the `priority_segment_chisq` parity formula, DuckDB
    recomputes all four) and TWO agreement flags asserted as data:
    MLlib's degreesOfFreedom equals the exact (r-1)(c-1) dof, and
    MLlib's statistic sits within ``agree_eps`` of the exact ROUND-6
    chi² (both engines sum the same 25 cell terms; measured raw diff
    ~1e-12, so the tolerance only absorbs the round-6 grain). A
    ChiSquareTest regression or a category-indexing bug flips a flag
    and breaks the value hash.

    Category indexing is deterministic: distinct levels are
    row_number'd in lexical order over a levels-sized frame and
    broadcast back — never a StringIndexer (frequency-ordered, ties
    engine-specific) and never a global window over the data.

    Scale shape: one broadcast dim join feeding BOTH arms off a
    checkpointed narrow frame; the exact arm is one map-side-combined
    cell count (at most r x c cells); the MLlib arm aggregates the same
    contingency counts distributively; the two level indexes are
    levels-sized windows. Only the 1-row verdict reaches the driver.
    """
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import ChiSquareTest
    from pyspark.sql import Window

    from pythonvectordb_spark.operators.stats import contingency_chisq

    base = (
        orders.join(
            F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
        )
        .select(
            F.col("o_orderpriority").alias("r"), F.col("c_mktsegment").alias("c")
        )
        .localCheckpoint(eager=False)  # feeds the exact arm AND the MLlib arm
    )
    exact = contingency_chisq(base, "r", "c")

    def _index(col: str) -> DataFrame:
        w = Window.orderBy(col)
        return base.select(col).distinct().select(
            col, (F.row_number().over(w) - 1).cast("double").alias(f"_{col}_ix")
        )

    indexed = base.join(F.broadcast(_index("r")), "r").join(
        F.broadcast(_index("c")), "c"
    )
    feat = VectorAssembler(
        inputCols=["_c_ix"], outputCol="features", handleInvalid="error"
    ).transform(indexed)
    res = ChiSquareTest.test(feat, "features", "_r_ix").first()
    ml_stat = float(res.statistics[0])
    ml_dof = int(res.degreesOfFreedom[0])
    eps = float(agree_eps)
    return exact.select(
        "n_rows",
        "dof",
        "chisq",
        "cramers_v",
        (F.col("dof") == F.lit(ml_dof)).cast("long").alias("mllib_dof_agrees"),
        (F.abs(F.col("chisq") - F.lit(ml_stat)) < F.lit(eps))
        .cast("long")
        .alias("mllib_statistic_agrees"),
    )


def summarizer_int8_twin(
    emb: DataFrame,
    agree_eps: float = 1e-9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ml.stat.Summarizer beside the exact-integer per-dimension stats
    of the quantized store (new round 10): one distributed vector
    summary (mean / variance / min / max per dimension) checked
    dimension-by-dimension against the posexplode integer census
    (`embedding_dimension_stats`'s parity surface — int8 coordinates
    make every sum / sum-of-squares / min / max EXACT int64, which
    DuckDB recomputes bit-for-bit).

    One row per dimension: the exact census columns (hash-checked) plus
    three agreement flags asserted as data — Summarizer's mean within
    ``agree_eps`` of sum/n, its sample variance within ``agree_eps``
    (relative) of the exact (n*sumsq - sum²)/(n(n-1)) form (Summarizer
    accumulates running moments, so agreement is ~1e-12, not bit-equal),
    and min/max equal exactly. A Summarizer regression on any dimension
    flips that dimension's flag and breaks the value hash.

    Scale shape: the MLlib arm is one tree-aggregated vector summary
    (dim-sized state per task); the exact arm is one posexplode with
    map-side combine to dim rows; the comparison joins the dim-row
    frame to a broadcast dim-row frame. Only dim rows reach the driver.
    """
    from pyspark.ml.stat import Summarizer

    from pythonvectordb_spark.functions.vector import l2_normalize, quantize

    q = emb.select(
        F.col(id_col), quantize(l2_normalize(vec_col)).alias("qvec")
    ).localCheckpoint(eager=False)  # feeds the MLlib arm AND the census
    vecs = q.select(
        array_to_vector(F.transform("qvec", lambda x: x.cast("double"))).alias(
            "v"
        )
    )
    row = vecs.select(
        Summarizer.metrics("mean", "variance", "min", "max")
        .summary(F.col("v"))
        .alias("s")
    ).first()["s"]
    spark = emb.sparkSession
    ml = spark.createDataFrame(
        [
            (
                i + 1,
                float(row["mean"][i]),
                float(row["variance"][i]),
                float(row["min"][i]),
                float(row["max"][i]),
            )
            for i in range(len(row["mean"]))
        ],
        "dim_idx int, ml_mean double, ml_var double, ml_min double, ml_max double",
    )
    census = (
        q.select(F.posexplode("qvec").alias("pos", "qd"))
        .select((F.col("pos") + 1).cast("int").alias("dim_idx"), "qd")
        .groupBy("dim_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("qd").cast("long")).cast("long").alias("sum_q"),
            F.sum(F.col("qd").cast("long") * F.col("qd").cast("long"))
            .cast("long")
            .alias("sumsq_q"),
            F.min(F.col("qd").cast("int")).cast("int").alias("min_q"),
            F.max(F.col("qd").cast("int")).cast("int").alias("max_q"),
        )
    )
    j = census.join(F.broadcast(ml), "dim_idx")
    n = F.col("n").cast("double")
    exact_mean = F.col("sum_q").cast("double") / n
    exact_var = (
        F.col("n").cast("double") * F.col("sumsq_q").cast("double")
        - F.col("sum_q").cast("double") * F.col("sum_q").cast("double")
    ) / (n * (n - F.lit(1.0)))
    eps = float(agree_eps)
    return j.select(
        "dim_idx",
        "n",
        "sum_q",
        "sumsq_q",
        "min_q",
        "max_q",
        (F.abs(F.col("ml_mean") - exact_mean) < F.lit(eps))
        .cast("long")
        .alias("mllib_mean_agrees"),
        (
            F.abs(F.col("ml_var") - exact_var)
            < F.lit(eps) * F.greatest(F.abs(exact_var), F.lit(1.0))
        )
        .cast("long")
        .alias("mllib_var_agrees"),
        (
            (F.col("ml_min") == F.col("min_q").cast("double"))
            & (F.col("ml_max") == F.col("max_q").cast("double"))
        )
        .cast("long")
        .alias("mllib_minmax_agrees"),
    )


def minmax_scale_events(events: DataFrame) -> DataFrame:
    """ml.feature.MinMaxScaler over event values with the transform's
    IDENTITY to the closed form asserted as data (new round 10): MLlib
    rescales x to (x - Emin) * (1 / (Emax - Emin)) * (max - min) + min —
    a RECIPROCAL MULTIPLY, not a division (measured: the two differ by
    1 ULP on ~real rows, and the reciprocal form is bit-equal to MLlib
    on every row) — and at the default [0, 1] range the trailing *1.0
    and +0.0 are IEEE identities, so every scaled value must be
    BIT-EQUAL to the expression (x - min) * (1.0 / (max - min)) —
    counted per row, asserted as a zero-mismatch flag. The hash-checked
    columns per event type are the exact count, exact raw min/max
    (doubles compare exactly — min/max never rounds), and the ROUND-6
    mean of the scaled column, which DuckDB recomputes with the same
    reciprocal-multiply order from the same global min/max.

    Scale shape: fit is one tree-aggregated vector min/max; transform is
    a narrow map; the verdict is one map-side-combined group-by on the
    5-value type key. Only type rows reach the driver.
    """
    from pyspark.ml.feature import MinMaxScaler, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    feat = VectorAssembler(
        inputCols=["value"], outputCol="_fv", handleInvalid="error"
    ).transform(events.select("event_type", "value"))
    model = MinMaxScaler(inputCol="_fv", outputCol="_sv").fit(feat)
    scaled = model.transform(feat).select(
        "event_type",
        "value",
        vector_to_array("_sv")[0].alias("_scaled"),
    )
    # global min/max via a broadcast 1-row frame (never a global window)
    tot = events.agg(
        F.min("value").alias("_gmin"), F.max("value").alias("_gmax")
    ).withColumn("_one", F.lit(1))
    s = scaled.withColumn("_one", F.lit(1)).join(F.broadcast(tot), "_one")
    expr_scaled = (F.col("value") - F.col("_gmin")) * (
        F.lit(1.0) / (F.col("_gmax") - F.col("_gmin"))
    )
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.round(F.avg(expr_scaled), 6).alias("mean_scaled"),
            F.sum((F.col("_scaled") != expr_scaled).cast("long"))
            .cast("long")
            .alias("_n_mismatch"),
        )
        .select(
            "event_type",
            "n",
            "min_value",
            "max_value",
            "mean_scaled",
            (F.col("_n_mismatch") == 0).cast("long").alias("mllib_identity_exact"),
        )
    )


def standard_scaler_twin(events: DataFrame, agree_eps: float = 1e-9) -> DataFrame:
    """ml.feature.StandardScaler (withMean, withStd) over event values
    with the transform's IDENTITY to the closed form asserted as data
    (new round 10): like MinMaxScaler, MLlib standardizes by a
    RECIPROCAL MULTIPLY — x -> (x - mean) * (1 / std) — and measured on
    real rows every scaled value is BIT-EQUAL to that expression
    evaluated with the MODEL's own mean/std scalars (the plain division
    differs by 1 ULP on ~4% of rows). The per-type hash-checked columns
    are the exact count and the ROUND-6 mean / sample std, which DuckDB
    recomputes (avg / stddev_samp); the flags assert (a) zero per-row
    transform mismatches and (b) the model's fitted mean/std each within
    ``agree_eps`` (relative) of Spark's own exact aggregate forms —
    MLlib's Summarizer accumulates running moments, so agreement is
    ~1e-12, never guaranteed bit-equal across partitionings.

    Scale shape: fit is one tree-aggregated moment pass; the transform
    and the identity check are narrow maps; the verdict is one
    map-side-combined group-by on the 5-value type key. Two scalars and
    type rows reach the driver.

    Reference parity: pythonvectordb.py normalize() (the reference's
    only rescale); this is its standardization counterpart.
    """
    from pyspark.ml.feature import StandardScaler, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    src = events.select("event_type", "value")
    feat = VectorAssembler(
        inputCols=["value"], outputCol="_fv", handleInvalid="error"
    ).transform(src)
    model = StandardScaler(
        inputCol="_fv", outputCol="_sv", withMean=True, withStd=True
    ).fit(feat)
    mu = float(model.mean[0])
    sd = float(model.std[0])
    agg = src.agg(
        F.avg("value").alias("m"), F.stddev_samp("value").alias("s")
    ).first()
    eps = float(agree_eps)
    mean_ok = abs(mu - agg["m"]) <= eps * max(abs(agg["m"]), 1.0)
    std_ok = abs(sd - agg["s"]) <= eps * max(abs(agg["s"]), 1.0)
    scaled = model.transform(feat).select(
        "event_type", "value", vector_to_array("_sv")[0].alias("_scaled")
    )
    ident = (F.col("value") - F.lit(mu)) * F.lit(1.0 / sd)
    return (
        scaled.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("value"), 6).alias("mean_value"),
            F.round(F.stddev_samp("value"), 6).alias("std_value"),
            F.sum((F.col("_scaled") != ident).cast("long"))
            .cast("long")
            .alias("_n_mismatch"),
        )
        .select(
            "event_type",
            "n",
            "mean_value",
            "std_value",
            (F.col("_n_mismatch") == 0).cast("long").alias("mllib_identity_exact"),
            F.lit(1 if mean_ok else 0).cast("long").alias("mllib_mean_agrees"),
            F.lit(1 if std_ok else 0).cast("long").alias("mllib_std_agrees"),
        )
    )


def imputer_mean_twin(
    events: DataFrame, null_mod: int = 7, agree_eps: float = 1e-9
) -> DataFrame:
    """ml.feature.Imputer (strategy="mean") over event values with
    deterministically injected nulls (new round 10): every event with
    ``event_id % null_mod == 0`` is masked to NULL, the Imputer fills
    with the non-null mean, and the verdict row asserts (a) the fill is
    an exact IDENTITY — every masked row bit-equal to the surrogate,
    every surviving row bit-equal to its original value, counted and
    asserted as one zero-mismatch flag — and (b) the fitted surrogate
    within ``agree_eps`` (relative) of Spark's own exact avg (measured
    diff 0.0 at sf0.001, but sum order across partitionings makes
    bit-equality a non-contract). Hash-checked columns: exact n,
    exact n_null, and the ROUND-6 non-null mean and post-fill mean,
    both of which DuckDB recomputes in closed form ((sum_nonnull +
    n_null * mean_nonnull) / n).

    Scale shape: fit is one tree-aggregated avg; the fill and identity
    check are narrow maps; the verdict is one global agg to a 1-row
    frame. One scalar reaches the driver.
    """
    from pyspark.ml.feature import Imputer

    masked = events.select(
        "event_id",
        "value",
        F.when(
            F.col("event_id") % F.lit(null_mod) == 0, F.lit(None).cast("double")
        )
        .otherwise(F.col("value"))
        .alias("value_n"),
    )
    model = Imputer(
        strategy="mean", inputCols=["value_n"], outputCols=["value_f"]
    ).fit(masked)
    surr = float(model.surrogateDF.first()[0])
    exact_avg = float(masked.agg(F.avg("value_n")).first()[0])
    eps = float(agree_eps)
    surr_ok = abs(surr - exact_avg) <= eps * max(abs(exact_avg), 1.0)
    filled = model.transform(masked)
    bad_fill = F.when(
        F.col("value_n").isNull(), F.col("value_f") != F.lit(surr)
    ).otherwise(F.col("value_f") != F.col("value_n"))
    return filled.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value_n").isNull().cast("long"))
        .cast("long")
        .alias("n_null"),
        F.round(F.avg("value_n"), 6).alias("mean_nonnull"),
        F.round(F.avg("value_f"), 6).alias("mean_imputed"),
        (F.sum(bad_fill.cast("long")) == 0)
        .cast("long")
        .alias("fill_identity_exact"),
        F.lit(1 if surr_ok else 0).cast("long").alias("surrogate_agrees"),
    )


def quantile_buckets_audit(
    events: DataFrame,
    num_buckets: int = 4,
    relative_error: float = 0.001,
    share_tol: float = 0.01,
) -> DataFrame:
    """ml.feature.QuantileDiscretizer rank-guarantee audit (new round
    10): fit ``num_buckets`` equi-probability buckets over event values
    with the Greenwald–Khanna sketch at ``relative_error`` and assert
    the sketch's PUBLISHED CONTRACT as data — for each interior split
    at probability p, the exact rank count(value <= split) must sit
    within relative_error * n + 1 of p * n (measured |err| = 1.0 vs the
    bound 2.0 at sf0.001) — plus a bucket-balance flag: every bucket's
    share within ``share_tol`` of 1/num_buckets (measured max deviation
    0.002 = 2 * relative_error). Hash-checked columns per bucket: the
    bucket id and its probability bounds (exact literals) and the exact
    global n; the two flags carry the engine-specific split positions.

    Scale shape: fit is ONE pass building mergeable partition-local GK
    sketches (state O(1/relative_error) per task — the 100 TB path);
    the rank and bucket censuses share one conditional-sum agg with no
    transform: Bucketizer puts v in bucket b when s_b <= v < s_{b+1}, so
    a bucket's count is a difference of count(value < split) terms.
    2 * num_buckets scalars reach the driver. A NULL or NaN value
    raises ``ValueError`` (the fit would skip it and Bucketizer reject it).
    """
    from pyspark.ml.feature import QuantileDiscretizer

    src = events.select("value")
    v = F.col("value")
    model = QuantileDiscretizer(
        numBuckets=num_buckets,
        inputCol="value",
        outputCol="_bucket",
        relativeError=relative_error,
    ).fit(src)
    splits = model.getSplits()  # [-inf, s1, ..., s_{k-1}, +inf]
    interior = splits[1:-1]

    def count_if(cond, name):
        return F.sum(cond.cast("long")).cast("long").alias(name)

    census = src.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        count_if(v.isNull() | F.isnan(v), "bad"),
        *[count_if(v <= F.lit(float(s)), f"r{i}") for i, s in enumerate(interior)],
        *[count_if(v < F.lit(float(s)), f"lt{i}") for i, s in enumerate(interior)],
    ).first()
    if census["bad"]:
        raise ValueError(f"quantile_buckets_audit: {census['bad']} NULL or NaN values")
    n = int(census["n"])
    bound = relative_error * n + 1.0
    below = [0] + [int(census[f"lt{i}"]) for i in range(len(interior))] + [n]
    rows = []
    for b in range(num_buckets):
        p_lo = b / num_buckets
        p_hi = (b + 1) / num_buckets
        if b < num_buckets - 1:
            rank = int(census[f"r{b}"])
            rank_ok = abs(rank - p_hi * n) <= bound
        else:
            rank_ok = True  # upper edge is +inf: rank == n by definition
        share_ok = abs((below[b + 1] - below[b]) / n - 1.0 / num_buckets) <= share_tol
        rows.append(
            (b, float(p_lo), float(p_hi), n, int(rank_ok), int(share_ok))
        )
    return events.sparkSession.createDataFrame(
        rows,
        "bucket int, p_lo double, p_hi double, n bigint, "
        "rank_ok bigint, share_ok bigint",
    )


def bisecting_kmeans_census(
    emb: DataFrame,
    k: int = 4,
    max_share: float = 0.6,
    vec_col: str = "embedding",
) -> DataFrame:
    """ml.clustering.BisectingKMeans census (new round 10): the
    hierarchical counterpart of the flat KMeans IVF trainer
    (`train_ivf_centroids`). Fits k clusters with a fixed seed and
    asserts the algorithm's STRUCTURAL invariants as data: cluster
    sizes sum to n, every cluster non-empty, the training cost at k
    clusters <= the exact single-centroid cost (bisecting starts from
    the global centroid and each split's child costs sum below the
    parent's by the variance decomposition — measured ratio 0.96 on
    this near-worst-case uniform corpus), and no cluster holds more
    than ``max_share`` of the points (measured max share 0.298).
    Hash-checked columns: exact n, dim, and k.

    The single-centroid cost is computed EXACTLY from the per-dimension
    double census (sum, sumsq): sum_d (sumsq_d - sum_d^2 / n) — one
    posexplode with map-side combine, never an n x n pass.

    Scale shape: each bisection step is one pass over the split cluster
    with k-bounded driver state (centroid pairs); the census is one
    posexplode agg to dim rows. dim + k scalars reach the driver.
    """
    from pyspark.ml.clustering import BisectingKMeans

    fv = emb.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = BisectingKMeans(k=k, seed=SEED).fit(fv)
    sizes = [int(s) for s in model.summary.clusterSizes]
    cost = float(model.summary.trainingCost)
    census = (
        emb.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("ss"),
        )
        .agg(
            F.max("cnt").cast("long").alias("n"),
            F.count(F.lit(1)).cast("int").alias("dim"),
            F.sum(
                F.col("ss") - F.col("s") * F.col("s") / F.col("cnt").cast("double")
            ).alias("global_cost"),
        )
        .first()
    )
    n = int(census["n"])
    return emb.sparkSession.createDataFrame(
        [
            (
                n,
                int(census["dim"]),
                k,
                int(sum(sizes) == n),
                int(min(sizes) > 0),
                int(cost <= float(census["global_cost"])),
                int(max(sizes) / n <= max_share),
            )
        ],
        "n bigint, dim int, k int, sizes_sum_ok bigint, all_nonempty_ok bigint, "
        "cost_le_global_ok bigint, balance_ok bigint",
    )


def countvec_idf_twin(
    docs: DataFrame, min_df_frac: float = 0.05, agree_eps: float = 1e-9
) -> DataFrame:
    """ml.feature.CountVectorizer + IDF beside the exact document-
    frequency census (new round 10): the MLlib twin of the expression
    TF-IDF surface (`operators/textops.py` tfidf). The hash-checked
    columns per term with df >= ceil(min_df_frac * m) are the exact
    document frequency (one distinct-token explode with map-side
    combine — DuckDB recomputes it from the same whitespace tokens) and
    the ROUND-6 of Spark's published IDF formula ln((m + 1) / (df + 1))
    evaluated AS AN EXPRESSION; the flags assert the MLlib arm agrees —
    the term is present in the fitted vocabulary and IDFModel.idf for
    it sits within ``agree_eps`` of the expression (measured diff 0.0
    across all qualifying terms — same formula, same doubles).

    Scale shape: the census is one shuffle on term; the CountVectorizer
    fit is the same census inside MLlib (vocab bounded driver-side —
    at 100 TB bound it with minDF exactly as here); the IDF vector is
    dim(vocab) driver floats re-broadcast as a small join frame. Only
    vocabulary rows reach the driver.
    """
    import math

    from pyspark.ml.feature import CountVectorizer, IDF

    from pythonvectordb_spark.functions.text import tokens

    tk = docs.select("doc_id", tokens("text").alias("tk")).localCheckpoint(
        eager=False
    )  # feeds the census AND the MLlib arm
    m = tk.count()
    thr = math.ceil(min_df_frac * m)
    census = (
        tk.select(F.explode(F.array_distinct("tk")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") >= F.lit(thr))
    )
    cv = CountVectorizer(
        inputCol="tk", outputCol="_tf", vocabSize=1 << 18, minDF=1.0
    ).fit(tk)
    idf = IDF(inputCol="_tf", outputCol="_tfidf").fit(cv.transform(tk))
    iv = idf.idf.toArray()
    ml = docs.sparkSession.createDataFrame(
        [(t, float(iv[i])) for i, t in enumerate(cv.vocabulary)],
        "term string, ml_idf double",
    )
    expr_idf = F.log((F.lit(m) + F.lit(1.0)) / (F.col("df").cast("double") + F.lit(1.0)))
    eps = float(agree_eps)
    return (
        census.join(F.broadcast(ml), "term", "left")
        .select(
            "term",
            "df",
            F.round(expr_idf, 6).alias("idf"),
            F.col("ml_idf").isNotNull().cast("long").alias("in_vocab_ok"),
            (
                F.col("ml_idf").isNotNull()
                & (F.abs(F.col("ml_idf") - expr_idf) <= F.lit(eps))
            )
            .cast("long")
            .alias("mllib_idf_agrees"),
        )
    )


def multiclass_eval_twin(docs: DataFrame, agree_eps: float = 1e-9) -> DataFrame:
    """ml.evaluation.MulticlassClassificationEvaluator beside the exact
    confusion-matrix metrics of the NB language gate (new round 10):
    closes the last untouched MLlib module (ml.evaluation) with the
    twin discipline. The per-doc predictions come from the SAME shared
    NB pipeline the oracled confusion matrix uses (argmax on ROUNDED
    scores with class tie-break — `operators/curation.py`
    nb_classifier_confusion's engine-portable decision boundary), so
    the confusion counts are exact integers in both engines; accuracy /
    weighted precision / weighted recall / weighted F1 are computed
    from those integers term-by-term (per true class: w_c = n_true_c/n,
    precision_c = tp_c/n_pred_c else 0, recall_c = tp_c/n_true_c,
    f1_c = 2PR/(P+R) else 0 — Spark's published MulticlassMetrics
    definitions, summed over TRUE classes) and hash-checked at the
    round-6 grain. The evaluator runs on a deterministic LEXICAL class
    indexing (the chisq_mllib_twin precedent — never StringIndexer) and
    contributes four agreement flags at ``agree_eps`` absolute.

    Scale shape: one shared NB train+score pipeline (checkpointed),
    one argmax window, one C x C grouped count — only confusion cells
    reach the driver; the evaluator's four passes run over the
    two-double-column per-doc frame. The verdict is one literal row.
    """
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.sql import Window

    from pythonvectordb_spark.operators.curation import _nb_doc_scores

    sc = _nb_doc_scores(docs, (F.col("doc_id") % 2) == 0, "lang", "text", "doc_id")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cls").asc()
    )
    pred = (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("_lbl", F.col("cls").alias("_pred"))
        .localCheckpoint(eager=False)  # feeds the confusion AND the evaluator
    )
    conf = {
        (r["_lbl"], r["_pred"]): int(r["n"])
        for r in pred.groupBy("_lbl", "_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    true_classes = sorted({lbl for lbl, _ in conf})
    all_classes = sorted({c for pair in conf for c in pair})
    n_test = sum(conf.values())
    wp = wr = f1 = 0.0
    tp_sum = 0
    for c in true_classes:
        n_true = sum(v for (l, _), v in conf.items() if l == c)
        n_pred = sum(v for (_, p), v in conf.items() if p == c)
        tp = conf.get((c, c), 0)
        tp_sum += tp
        prec = tp / n_pred if n_pred > 0 else 0.0
        rec = tp / n_true
        w_c = n_true / n_test
        wp += w_c * prec
        wr += w_c * rec
        f1 += w_c * (2 * prec * rec / (prec + rec) if prec + rec > 0 else 0.0)
    acc = tp_sum / n_test

    idx = {c: float(i) for i, c in enumerate(all_classes)}
    mapping = F.create_map(
        *[x for c in all_classes for x in (F.lit(c), F.lit(idx[c]))]
    )
    ev_df = pred.select(
        mapping[F.col("_lbl")].alias("label"),
        mapping[F.col("_pred")].alias("prediction"),
    )
    eps = float(agree_eps)
    flags = []
    for metric, expected in (
        ("accuracy", acc),
        ("weightedPrecision", wp),
        ("weightedRecall", wr),
        ("f1", f1),
    ):
        got = MulticlassClassificationEvaluator(
            metricName=metric, labelCol="label", predictionCol="prediction"
        ).evaluate(ev_df)
        flags.append(int(abs(got - expected) <= eps))
    return docs.sparkSession.createDataFrame(
        [
            (
                n_test,
                round(acc, 6),
                round(wp, 6),
                round(wr, 6),
                round(f1, 6),
                *flags,
            )
        ],
        "n_test bigint, accuracy double, weighted_precision double, "
        "weighted_recall double, f1 double, acc_agrees bigint, "
        "wp_agrees bigint, wr_agrees bigint, f1_agrees bigint",
    )
