"""Search operators: the reference's flagship read path (pythonvectordb.py:
327-402) and its driver-mandated generalizations (SURVEY.md §2.12).

Physical shape on a cluster
---------------------------
``knn_search``          Scan -> [Filter pushed into scan] -> Project(score)
                        -> TakeOrderedAndProject(k).  Per-partition top-k
                        heaps merge on the driver — the distributed analogue
                        of the reference's ``argpartition`` partial select
                        (pythonvectordb.py:147-151); no shuffle at all.
``knn_join``            Broadcast the (small) query set, score each
                        (query, vector) pair map-side, then a single
                        shuffle for the per-query Window top-k.
``ann_lsh_search``      Random-hyperplane signature buckets prune the scan:
                        candidates = rows sharing the query's bucket; at
                        100 TB the bucket id is a parquet partition key, so
                        bucket pruning is partition pruning.
"""

from __future__ import annotations

from itertools import islice
from typing import Sequence

import numpy as np
import pandas as pd  # module-level: pandas_udf type-hint resolution needs it

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pythonvectordb_spark.functions.vector import (
    cosine_similarity,
    cosine_similarity_int8,
    dot,
    l2_normalize,
    quantize,
)


def _query_lit(query: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in query])


def with_qvec(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the int8 storage column (normalize K2 -> quantize K3)."""
    return df.withColumn("qvec", quantize(l2_normalize(vec_col)))


def knn_search(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    pred: Column | None = None,
    id_col: str = "vec_id",
    qvec_col: str = "qvec",
    round_to: int | None = None,
) -> DataFrame:
    """Reference ``search`` (pythonvectordb.py:327-402): brute-force exact
    top-k by int8 cosine score.

    predicate-first (ref :368-380): ``pred`` is applied *before* scoring so
    Catalyst pushes it into the scan; score only survivors. Deterministic
    tie-break on id (the reference's tie order is unstable, SURVEY §2.1 K4).
    Returns (id, score) — the reference's result projection (:384-397).

    ``round_to``: when set, the score is rounded to that many decimals
    BEFORE the top-k cut (and returned rounded) — two raw scores that
    collide at the rounded precision then resolve by the id tie-break
    identically in any engine, making the shortlist BOUNDARY
    engine-portable, not just the ranks (hybrid_rrf_search's contract).
    """
    if k <= 0:
        raise ValueError("k must be positive")  # ref :347-348
    if pred is not None:
        df = df.filter(pred)
    score = cosine_similarity_int8(_query_lit(query), qvec_col)
    if round_to is not None:
        score = F.round(score, round_to)
    scored = df.select(F.col(id_col), score.alias("score"))
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def knn_search_float(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact float32-precision cosine top-k (no quantization) — the
    brute-force baseline for the ANN variants."""
    scored = df.select(
        F.col(id_col),
        cosine_similarity(_query_lit(query), vec_col).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def l2_knn_search(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Euclidean-distance top-k (extension metric — the reference is
    cosine-only). Distance accumulates as a sequential double fold so the
    result is bit-reproducible against a left-associated SQL sum; same
    TakeOrderedAndProject physical shape as the cosine path."""
    q = _query_lit(query)
    diff_sq = F.zip_with(
        q, F.col(vec_col),
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    dist_sq = F.aggregate(diff_sq, F.lit(0.0).cast("double"), lambda a, x: a + x)
    scored = df.select(F.col(id_col), F.sqrt(dist_sq).alias("dist"))
    return scored.orderBy(F.asc("dist"), F.asc(id_col)).limit(k)


def mips_search(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximum-inner-product top-k (unnormalized dot — the retrieval
    metric for learned-similarity embeddings)."""
    scored = df.select(
        F.col(id_col), dot(_query_lit(query), vec_col).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def knn_classify(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    label_col: str = "label",
    id_col: str = "vec_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """k-NN majority-vote classification: the modal label among the
    ``k`` nearest neighbors (int8 cosine), with deterministic tie-breaks
    at both stages — neighbor selection (score DESC, id ASC) and the
    vote (votes DESC, label ASC). The nearest-neighbor application of
    the search kernel: label a query point from labeled embeddings.

    Same TakeOrderedAndProject shape as :func:`knn_search` (label rides
    along in the projection); the vote is a k-row aggregate — all the
    heavy work is the existing top-k scan. Returns one row
    (pred_label, votes, best_score).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    scored = df.select(
        F.col(id_col),
        F.col(label_col),
        cosine_similarity_int8(_query_lit(query), qvec_col).alias("score"),
    )
    top = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    return (
        top.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("votes"),
            F.round(F.max("score"), 9).alias("best_score"),
        )
        .orderBy(F.desc("votes"), F.asc(label_col))
        .limit(1)
        .select(
            F.col(label_col).alias("pred_label"), F.col("votes"), F.col("best_score")
        )
    )


def get_vector(df: DataFrame, vec_id, id_col: str = "vec_id", qvec_col: str = "qvec") -> DataFrame:
    """Point lookup + dequantize (reference get_vector, pythonvectordb.py:
    404-423): returns the stored vector as float (qvec/127)."""
    from pythonvectordb_spark.functions.vector import dequantize

    return df.filter(F.col(id_col) == F.lit(vec_id)).select(
        F.col(id_col), dequantize(qvec_col).alias("vector")
    )


def knn_join(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    data_id: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "qvec_query",
    qvec_col: str = "qvec",
    method: str = "pandas",
) -> DataFrame:
    """Batched multi-query exact knn ("similarity join", SURVEY §2.12),
    symmetric int8 scoring (both sides quantized).

    Because every dot/norm is exact integer arithmetic, the two physical
    strategies below return BIT-IDENTICAL results — pick by data shape:

    ``method='pandas'`` (default, the 100 TB path): the quantized query
    matrix goes through :func:`int8_cosine_scan`, the one int8 cosine
    kernel (broadcast matrix, one float32 BLAS matmul per Arrow batch
    and query chunk) with the per-query partial top-k selector, then one
    small shuffle for the global Window top-k. Work per row is a fused
    SIMD multiply-add instead of an interpreted per-element lambda —
    the same job shape, ~1000x less interpreter overhead.

    ``method='expr'``: pure Catalyst expressions (broadcast join + HOF
    fold + window). No Python at all, but Spark evaluates lambda HOFs
    interpreted per element — fine for small batches, slow at millions of
    (query, row) pairs.

    ``queries`` carries (query_id, query_vec: array<float/double>), raw
    (un-quantized) — this function quantizes the query side. Returns
    (query_id, vec_id, score, rank).
    """
    from pythonvectordb_spark.functions.vector import cosine_similarity_int8_sym

    queries_q = queries.select(
        F.col(query_id), quantize(l2_normalize(query_vec)).alias("qq")
    )
    if method == "expr":
        pairs = data.join(F.broadcast(queries_q))
        scored = pairs.select(
            F.col(query_id),
            F.col(data_id),
            cosine_similarity_int8_sym(F.col("qq"), qvec_col).alias("score"),
        )
    elif method == "pandas":
        qrows = queries_q.collect()  # query set is small by contract
        qids_l = np.array([r[0] for r in qrows], dtype=np.int64)
        qmat_l = np.array([r[1] for r in qrows], dtype=np.float32)  # m x dim
        scored = scored_from_qmat(
            data, qids_l, qmat_l, k, data_id=data_id, query_id=query_id, qvec_col=qvec_col
        )
    else:
        raise ValueError(f"bad method {method!r}")
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(data_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# Queries are scored in fixed-size chunks: peak memory per task is
# rows x QCHUNK float64 scores (tens of MB at Arrow's default batch size)
# REGARDLESS of the query-batch size — an unchunked 32k-query batch would
# materialize a ~0.4 GB score matrix per task (plus selection copies) and
# thrash the allocator across every core at once.
QCHUNK = 4096


def int8_cosine_scan(data: DataFrame, qids_l, qmat_l, select, schema: str, qvec_col: str):
    """The one int8 cosine scoring kernel (the reference's exact scan,
    pythonvectordb.py:147-151) behind ``knn_join``, ``KnnServer``, the
    label-masked miners and exact embedding near-dup.

    ``qids_l`` (int64) and ``qmat_l`` (m x dim int8-valued float32) ship
    with their norms as ONE Spark broadcast (one torrent copy per
    executor, not closure capture re-serialized into every task). Each
    Arrow batch of ``data`` is stacked once and normed once, then scored
    per ``QCHUNK`` query slice with one float32 matmul — int8 products
    <= 128^2 and 64-term sums < 2^24 stay exact, so scores are exact
    cosines in any chunking. ``select(pdf, qids)`` is called once per
    batch and returns ``emit(scores, j0)``, which yields the pandas rows
    (matching ``schema``) kept from the rows x chunk block whose column
    ``c`` is query ``j0 + c``. Zero queries score nothing: the result is
    a typed empty frame."""
    # axis=-1: an empty anchor block's (0,) matrix norms to a scalar
    qnorm_l = np.sqrt((qmat_l.astype(np.int64) ** 2).sum(axis=-1).astype(np.float64))
    bc = data.sparkSession.sparkContext.broadcast((qids_l, qmat_l, qnorm_l))

    def score_batches(batches):
        qids, qmat, qnorm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.vstack(pdf[qvec_col].to_numpy()).astype(np.float32)
            vnorm = np.sqrt((M.astype(np.int64) ** 2).sum(axis=1).astype(np.float64))
            emit = select(pdf, qids)
            for j0 in range(0, len(qids), QCHUNK):
                dots = (M @ qmat[j0 : j0 + QCHUNK].T).astype(np.float64)  # exact ints
                denom = vnorm[:, None] * qnorm[j0 : j0 + QCHUNK][None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    scores = np.where(denom > 0, dots / denom, 0.0)
                yield from emit(scores, j0)

    return data.mapInPandas(score_batches, schema=schema)


def scored_from_qmat(
    data: DataFrame,
    qids_l,
    qmat_l,
    k: int,
    data_id: str = "vec_id",
    query_id: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """:func:`int8_cosine_scan` with the per-query partial top-k
    selector, taking the quantized query matrix directly (``qids_l``
    int64 array, ``qmat_l`` m x dim int8-valued float32 array). Shared
    by ``knn_join`` (which collects its queries DataFrame to a matrix)
    and ``serving.KnnServer`` (which already holds the pending queries
    as Python vectors — going through a queries DataFrame would add two
    driver jobs per coalesced micro-batch for nothing). Returns the
    un-windowed (query_id, vec_id, score) frame."""

    def select(pdf, qids):
        ids = pdf[data_id].to_numpy().astype(np.int64)
        n = len(ids)
        take = min(k, n)

        def emit(scores, j0):
            # vectorized partial top-k: emit every row scoring >= the
            # column's k-th largest value (ties included — a superset of
            # the true top-k) and let the global merge do the exact
            # (score desc, id asc) ranking. No per-query Python loop, no
            # negation copies (ascending partition: position n-take IS
            # the take-th largest); emission stays ~k rows per query.
            if take < n:
                kth = np.partition(scores, n - take, axis=0)[n - take, :]
                r, c = np.nonzero(scores >= kth[None, :])
                yield pd.DataFrame(
                    {query_id: qids[j0 + c], data_id: ids[r], "score": scores[r, c]}
                )
            else:
                nq = scores.shape[1]
                yield pd.DataFrame(
                    {
                        query_id: np.repeat(qids[j0 : j0 + nq], n),
                        data_id: np.tile(ids, nq),
                        "score": scores.T.reshape(-1),
                    }
                )

        return emit

    return int8_cosine_scan(
        data.select(F.col(data_id), F.col(qvec_col)),
        qids_l,
        qmat_l,
        select,
        f"{query_id} long, {data_id} long, score double",
        qvec_col,
    )


def scored_from_qmat_labeled(
    data: DataFrame,
    qids_l,
    qmat_l,
    qlabels: Sequence,
    k_same: int | None,
    k_diff: int | None,
    data_id: str = "vec_id",
    query_id: str = "query_id",
    qvec_col: str = "qvec",
    label_col: str = "label",
) -> DataFrame:
    """:func:`int8_cosine_scan` with the label-masked selector: per query
    and batch, a partial top-``k`` among SAME-label rows (``k_same``),
    DIFFERENT-label rows (``k_diff``), or both — the scoring core of
    :func:`hard_negatives` and :func:`contrastive_triplets` (one corpus
    pass instead of one ``knn_join`` per label class). Masking only
    SELECTS pairs (never changes a score) and the per-batch emission
    stays a superset of the true per-batch top-k, so the Window ranking
    downstream sees the per-class plan's exact candidates. Returns the
    un-windowed (query_id, vec_id, score, is_same int) frame.
    """
    # NULL-label parity with the per-class plan (ADVICE r10): the old
    # shape iterated over non-null label classes, filtering the corpus
    # with `label == lab` / `label != lab` — both NULL for a NULL-label
    # row, so such rows were never anchors and never negatives. Anchors
    # are pre-filtered by _corpus_anchor_blocks; data-side NULLs map to
    # code -1 below, which the same arm can never match and the diff arm
    # explicitly excludes. Unknown NON-null labels keep code -2: eligible
    # as different-label negatives (old `label != lab` = TRUE), never as
    # same-label.
    code_of = {lab: i for i, lab in enumerate(dict.fromkeys(qlabels))}
    assert None not in code_of, "anchor labels must be non-null"
    qcodes_l = np.array([code_of[lab] for lab in qlabels], dtype=np.int64)
    bc = data.sparkSession.sparkContext.broadcast((qcodes_l, code_of))

    def select(pdf, qids):
        qcodes, codes = bc.value
        ids = pdf[data_id].to_numpy().astype(np.int64)
        dcodes = (
            pdf[label_col]
            .map(lambda x: -1 if x is None else codes.get(x, -2))
            .to_numpy()
            .astype(np.int64)
        )
        n = len(ids)

        def emit(scores, j0):
            same = dcodes[:, None] == qcodes[j0 : j0 + scores.shape[1]][None, :]
            for is_same, kk in ((True, k_same), (False, k_diff)):
                if kk is None:
                    continue
                # NULL-label rows (code -1) are invalid in BOTH arms,
                # mirroring the per-class plan's NULL comparisons
                valid = same if is_same else (~same) & (dcodes[:, None] != -1)
                # -2.0 sits below any true cosine, so masked slots never
                # displace valid candidates from the partial top-k; the
                # `& valid` keeps them out of emission
                masked = np.where(valid, scores, -2.0)
                take = min(kk, n)
                kth = np.partition(masked, n - take, axis=0)[n - take, :]
                r, c = np.nonzero((masked >= kth[None, :]) & valid)
                yield pd.DataFrame(
                    {
                        query_id: qids[j0 + c],
                        data_id: ids[r],
                        "score": scores[r, c],
                        "is_same": np.full(len(r), int(is_same), dtype=np.int32),
                    }
                )

        return emit

    return int8_cosine_scan(
        data.select(F.col(data_id), F.col(qvec_col), F.col(label_col)),
        qids_l,
        qmat_l,
        select,
        f"{query_id} long, {data_id} long, score double, is_same int",
        qvec_col,
    )


# Anchor-block width for the corpus-as-anchors scans (the miners and
# exact embedding near-dup): the driver and each broadcast hold at most
# this many anchors at a time (§5 — no full-table collect/broadcast at
# scale). Scores are exact integers over exact norms, so any block width
# gives bit-identical output.
MINER_ANCHOR_BLOCK = 65536


def _corpus_anchor_blocks(emb: DataFrame, id_col: str, qvec: Column, label_col: str | None):
    """Yield (ids, int8 matrix, labels) anchor BLOCKS of at most
    ``MINER_ANCHOR_BLOCK`` rows of ``emb``'s int8 vector expression
    ``qvec`` (the miners pass the quantize(l2_normalize(.)) ``knn_join``
    derives for its query side), gathered via ``toLocalIterator`` so
    driver residency per gather is one block, not the corpus. Exact
    all-pairs work is O(n^2) flops regardless; blocking bounds MEMORY
    (the documented at-scale swap for flop count is ANN candidates).
    With a ``label_col``, NULL-label rows never anchor (per-class-plan
    parity, ADVICE r10); ``None`` means no label filter, with every
    label None. Always yields at least one block — an empty one for an
    anchor-free corpus, which scores to a typed empty frame."""
    if label_col is not None:
        emb = emb.filter(F.col(label_col).isNotNull())  # NULL labels never anchor
    it = emb.select(
        F.col(id_col),
        qvec,
        F.col(label_col) if label_col is not None else F.lit(None),
    ).toLocalIterator()
    rows = list(islice(it, MINER_ANCHOR_BLOCK))
    while True:  # the first block is yielded even when empty
        yield (
            np.array([r[0] for r in rows], dtype=np.int64),
            np.array([r[1] for r in rows], dtype=np.float32),
            [r[2] for r in rows],
        )
        rows = list(islice(it, MINER_ANCHOR_BLOCK))
        if not rows:
            return


def _per_anchor_block(emb: DataFrame, id_col: str, qvec: Column, label_col: str | None, scan):
    """The blocked-anchor driver: one ``scan(ids, qmat, labels)`` kernel
    pass per :func:`_corpus_anchor_blocks` block, unioned. Anchors are
    block-local, so each anchor's candidates are complete within its own
    pass and the union only widens the downstream input (a single block
    — the bench/test plan shape — up to ``MINER_ANCHOR_BLOCK`` anchors)."""
    from functools import reduce

    return reduce(
        DataFrame.unionByName,
        [scan(*b) for b in _corpus_anchor_blocks(emb, id_col, qvec, label_col)],
    )


# ---------------------------------------------------------------------------
# Approximate search: random-hyperplane LSH (public SimHash/LSH construction)
# ---------------------------------------------------------------------------

def lsh_band_signatures_expr(
    vec_col: str, band_planes: Sequence[Sequence[Sequence[float]]]
) -> Column:
    """All band signatures in ONE ``F.expr``: element ``b`` of the result
    is the ``lsh_signature`` bucket id of band ``b`` (bit i set iff
    dot(vec, plane_i) >= 0, weight ``1 << i``).

    Built as a single higher-order-function expression over a literal
    array-of-array-of-array of plane coefficients rather than the
    unrolled ``lsh_signature`` Column tree: at 12 bands x 4 bits x 64
    dims the unrolled form is ~3,000 ``F.lit`` py4j round-trips plus a
    Catalyst tree every rule visits on every action — measured ~6 s of
    DRIVER time per query at sf0.1 (and growing linearly with
    bands x bits, i.e. with recall). The HOF form is one parse of one
    string; the per-row work is identical.

    Bit-compatibility: the inner dot is a sequential fold in double over
    ascending j (``acc + v[j]*h[j]``) — the exact order and type of
    ``functions.vector.dot``'s zip_with/aggregate, so signatures (and
    therefore candidate sets) are unchanged, and the DuckDB oracles'
    unrolled left-associative sums keep matching bit-for-bit.
    """
    if not isinstance(vec_col, str):
        raise TypeError("lsh_band_signatures_expr requires a column NAME")
    bands_sql = []
    for bp in band_planes:
        dim = len(bp[0])
        planes_arr = (
            "array("
            + ", ".join(
                "array(" + ", ".join(f"CAST({float(h)!r} AS DOUBLE)" for h in plane) + ")"
                for plane in bp
            )
            + ")"
        )
        d = (
            f"aggregate(sequence(0, {dim - 1}), CAST(0.0 AS DOUBLE), "
            f"(a, j) -> a + CAST(element_at(`{vec_col}`, j + 1) AS DOUBLE)"
            f" * element_at(p, j + 1))"
        )
        bands_sql.append(
            f"CAST(aggregate(zip_with({planes_arr}, sequence(0, {len(bp) - 1}),"
            f" (p, i) -> CASE WHEN ({d}) >= CAST(0.0 AS DOUBLE)"
            f" THEN shiftleft(1, i) ELSE 0 END), 0, (acc, x) -> acc + x) AS INT)"
        )
    return F.expr("array(" + ", ".join(bands_sql) + ")")


def lsh_band_signatures_int_expr(
    qv_col: str, band_planes: Sequence[Sequence[Sequence[int]]]
) -> Column:
    """Pure-expression twin of
    ``functions.vector.lsh_band_signatures_int8_vec``: the same per-band
    bucket ids over the int8 storage vector against INTEGER planes,
    built as one HOF ``F.expr``. Exact int64 arithmetic end-to-end, so
    it is bit-identical to the Arrow matmul in every case (the equality
    is pinned by test) — kept as the no-Python fallback and the
    cross-check that licenses the vectorized default."""
    if not isinstance(qv_col, str):
        raise TypeError("lsh_band_signatures_int_expr requires a column NAME")
    bands_sql = []
    for bp in band_planes:
        dim = len(bp[0])
        planes_arr = (
            "array("
            + ", ".join(
                "array(" + ", ".join(f"CAST({int(h)} AS BIGINT)" for h in plane) + ")"
                for plane in bp
            )
            + ")"
        )
        d = (
            f"aggregate(sequence(0, {dim - 1}), CAST(0 AS BIGINT), "
            f"(a, j) -> a + CAST(element_at(`{qv_col}`, j + 1) AS BIGINT)"
            f" * element_at(p, j + 1))"
        )
        bands_sql.append(
            f"CAST(aggregate(zip_with({planes_arr}, sequence(0, {len(bp) - 1}),"
            f" (p, i) -> CASE WHEN ({d}) >= 0"
            f" THEN shiftleft(1, i) ELSE 0 END), 0, (acc, x) -> acc + x) AS INT)"
        )
    return F.expr("array(" + ", ".join(bands_sql) + ")")


def lsh_signature(vec_col: str | Column, hyperplanes: Sequence[Sequence[float]]) -> Column:
    """Bit-signature = sign pattern of dot products against fixed random
    hyperplanes. Emitted as a compact integer bucket id. Pure expressions,
    deterministic given the literal hyperplanes."""
    bits = []
    for i, h in enumerate(hyperplanes):
        d = dot(F.col(vec_col) if isinstance(vec_col, str) else vec_col, _query_lit(h))
        bits.append(F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def ann_lsh_search(
    df: DataFrame,
    query: Sequence[float],
    hyperplanes: Sequence[Sequence[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: score only rows whose LSH bucket matches the query's bucket.

    At scale the signature is precomputed and used as a partition/bucket
    key, turning candidate selection into partition pruning. Recall is
    tunable via number of hyperplanes (fewer bits -> bigger buckets).
    """
    import math

    qsig = 0
    for i, h in enumerate(hyperplanes):
        d = sum(float(a) * float(b) for a, b in zip(query, h))
        if d >= 0:
            qsig |= 1 << i
    cand = df.filter(lsh_signature(vec_col, hyperplanes) == F.lit(qsig))
    scored = cand.select(
        F.col(id_col), cosine_similarity(_query_lit(query), vec_col).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def ann_lsh_multiprobe_search(
    df: DataFrame,
    query: Sequence[float],
    band_planes: Sequence[Sequence[Sequence[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded (multi-probe) LSH ANN: candidates are rows matching the
    query's bucket in ANY of the ``band_planes`` signature bands — the
    search-side twin of the banded near-dup blocking (OR-of-ANDs recall
    amplification, vs the single-band search's one AND).

    recall per true neighbor at cosine c: 1 - (1 - p^bits)^bands with
    p = 1 - arccos(c)/pi. On clustered real-world embeddings a handful of
    bands prunes deeply at high recall; on uniform-random vectors (the
    driver testdata — the theoretical worst case for ANN) high recall
    forces a wide scan, which the bench records honestly as the
    recall/pruning trade-off.
    """
    qsigs = []
    for bp in band_planes:
        qsig = 0
        for i, h in enumerate(bp):
            d = sum(float(a) * float(b) for a, b in zip(query, h))
            if d >= 0:
                qsig |= 1 << i
        qsigs.append(qsig)
    # signatures via the Arrow kernel (round-10 optimization, guide
    # §4.2): bit-equal to the one-parse HOF expression twin by the
    # pinned-fold-order argument on lsh_band_signatures_vec (equality
    # pinned by test), but the bands x bits x dim multiply-adds run as
    # numpy batch ops instead of Catalyst's interpreter — measured
    # 2.6 s -> 0.4 s execution for 20x5 bands over sf0.1, and the plan
    # sheds the ~150 KB literal tree the driver re-analyzed per run
    from pythonvectordb_spark.functions.vector import lsh_band_signatures_vec

    sigs = lsh_band_signatures_vec(vec_col, band_planes)
    qarr = F.array(*[F.lit(int(s)) for s in qsigs])
    cand = df.filter(
        F.exists(F.zip_with(sigs, qarr, lambda s, q: s == q), lambda x: x)
    )
    scored = cand.select(
        F.col(id_col), cosine_similarity(_query_lit(query), vec_col).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


# ---------------------------------------------------------------------------
# Product quantization (classic PQ/ADC — public construction; completes the
# LSH / IVF / PQ approximate-search triad)
# ---------------------------------------------------------------------------

def pq_code_expr(
    vec_col: str, codebooks: Sequence[Sequence[Sequence[float]]]
) -> Column:
    """PQ encoding as a pure expression: the vector splits into
    ``len(codebooks)`` subspaces; each emits the index of its nearest
    (L2) sub-centroid — first-min tie-break, mirrored by the oracle's
    ``list_position(d, min(d))``. A 64-dim float32 vector (256 B)
    becomes 8 one-byte codes: the ~32x memory compression that lets a
    100 TB embedding corpus fit an in-memory serving tier.

    All distance arithmetic is sequential-fold double over literal
    centroids (ascending j, left-assoc — the same order the oracle's
    unrolled `a + b + ...` sum parses to), so codes are bit-reproducible
    across engines.

    Built as ONE ``F.expr`` with higher-order functions over literal
    array-of-array codebooks rather than an unrolled Column tree: the
    unrolled form (subspaces x centroids x dims ~ 1000+ nodes, each a
    py4j round-trip to construct and a node for every Catalyst rule to
    visit on every action) cost ~20 s of driver time per query; the HOF
    form is a few dozen nodes, one parse.
    """
    if not isinstance(vec_col, str):
        raise TypeError(
            "pq_code_expr requires a column NAME, not a Column: since the "
            "HOF rewrite the expression is built as one SQL string and a "
            "Column object cannot be spliced into it. Pass the name "
            "(e.g. 'embedding') or add a withColumn alias first."
        )
    codes = []
    offset = 0
    for cents in codebooks:
        sub_dim = len(cents[0])
        carr = (
            "array("
            + ", ".join(
                "array(" + ", ".join(f"CAST({float(c)!r} AS DOUBLE)" for c in cc) + ")"
                for cc in cents
            )
            + ")"
        )
        diff = (
            f"(CAST(element_at(`{vec_col}`, {offset} + j + 1) AS DOUBLE)"
            f" - element_at(c, j + 1))"
        )
        dist = (
            f"transform({carr}, c -> aggregate(sequence(0, {sub_dim - 1}),"
            f" CAST(0.0 AS DOUBLE), (acc, j) -> acc + {diff} * {diff}))"
        )
        # let-bind the distance array (interpreted HOFs have no CSE:
        # unbound, it evaluates once for array_position and once for
        # array_min — 2x the fold work for identical values)
        codes.append(
            f"element_at(transform(array({dist}),"
            f" ds -> CAST(array_position(ds, array_min(ds)) - 1 AS INT)), 1)"
        )
        offset += sub_dim
    return F.expr("array(" + ", ".join(codes) + ")")


def pq_code_arrow(
    vec_col: str, codebooks: Sequence[Sequence[Sequence[float]]]
) -> Column:
    """Arrow-vectorized twin of ``pq_code_expr`` — bit-identical codes
    (pinned by test), ~10-50x faster for big codebooks (the trained
    16x64x4 books cost 4096 interpreted-HOF multiplies per row as an
    expression; here they are a handful of numpy ops per Arrow batch).

    Bit-equality argument: the expression computes
    ``CAST(elem AS DOUBLE)`` (float32→float64, exact), squared diffs
    accumulated by a LEFT-ASSOCIATIVE sequential fold from 0.0, then
    ``array_position(ds, array_min(ds)) - 1`` (FIRST index of the min).
    The kernel mirrors each step: float64 upcast, an explicit j-ascending
    ``acc = acc + sq[..., j]`` loop (numpy's pairwise-summed ``sum()``
    would NOT match), and ``np.argmin`` (also first-min). Same doubles
    in, same op order, same tie-break → same codes.
    """
    import numpy as np

    mats = [np.asarray(c, dtype=np.float64) for c in codebooks]

    @F.pandas_udf("array<int>")
    def _encode(v: pd.Series) -> pd.Series:
        X = np.asarray(v.tolist(), dtype=np.float64)
        codes = np.empty((X.shape[0], len(mats)), dtype=np.int32)
        off = 0
        for s, C in enumerate(mats):
            d = C.shape[1]
            diff = X[:, None, off : off + d] - C[None, :, :]
            sq = diff * diff
            acc = sq[..., 0].copy()
            for j in range(1, d):
                acc = acc + sq[..., j]
            codes[:, s] = np.argmin(acc, axis=1)
            off += d
        return pd.Series(list(codes))

    return _encode(F.col(vec_col))


def pq_adc_tables(
    query: Sequence[float], codebooks: Sequence[Sequence[Sequence[float]]]
) -> list[list[float]]:
    """Per-subspace lookup tables for asymmetric distance computation:
    ``tables[s][c]`` = squared L2 distance from the query's s-th
    sub-vector to centroid c (tiny driver-side computation, sequential
    fold so both engines embed identical literals)."""
    tables = []
    offset = 0
    for cents in codebooks:
        sub_dim = len(cents[0])
        qsub = query[offset : offset + sub_dim]
        row = []
        for c in cents:
            d = 0.0
            for a, b in zip(qsub, c):
                e = float(a) - float(b)
                d = d + e * e
            row.append(d)
        tables.append(row)
        offset += sub_dim
    return tables


def ann_pq_search(
    df: DataFrame,
    query: Sequence[float],
    codebooks: Sequence[Sequence[Sequence[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str | None = None,
    rerank: int | None = None,
    encode: str = "arrow",
) -> DataFrame:
    """PQ/ADC approximate nearest neighbours: approximate distance =
    sum over subspaces of the query's precomputed distance to the
    row's sub-centroid — ``m`` array lookups + adds per row, never a
    full-dimension scan.

    Inline encoding (no ``code_col``) runs the Arrow kernel by default
    (``pq_code_arrow``, bit-equal to the expression twin — pinned);
    pass ``encode='expr'`` to force the pure-expression path.

    ``rerank=R`` adds the standard second stage: take the top-R ADC
    shortlist (deterministic (adc, id) tie-break), score only those R
    rows with the exact float cosine, return the exact top-k of the
    shortlist. Compute cost: full table at m lookups/row + R rows at
    full dimension. On clustered real-world embeddings small R recovers
    high recall; on uniform-random vectors (the driver testdata, ANN's
    worst case) the recall/R curve is shallow and the bench records it
    honestly.

    Pass ``code_col`` to score a table with materialized codes (the
    production shape: codes are written at ingest, the float vectors
    stay in cold storage for the re-rank fetch); otherwise codes derive
    inline from ``vec_col``. Same TakeOrderedAndProject top-k physical
    shape as every other search.
    """
    tables = pq_adc_tables(query, codebooks)
    # materialize the code ONCE as a projected column, then sum the
    # per-subspace lookups over it as a single parsed expression — the
    # alternative (referencing the code expression from each of the m
    # lookup terms) re-embeds the whole encoding subtree m times in the
    # plan, multiplying both analysis and per-row work
    if code_col:
        code = F.col(code_col)
    elif encode == "arrow":
        code = pq_code_arrow(vec_col, codebooks)
    else:
        code = pq_code_expr(vec_col, codebooks)
    base = df.withColumn("_pq_code", code)
    adc = F.expr(
        " + ".join(
            "element_at(array("
            + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in row)
            + f"), element_at(_pq_code, {s + 1}) + 1)"
            for s, row in enumerate(tables)
        )
    )
    if rerank is None:
        scored = base.select(F.col(id_col), adc.alias("adc_dist"))
        return scored.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(k)
    shortlist = (
        base.select(F.col(id_col), F.col(vec_col), adc.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(rerank)
    )
    exact = shortlist.select(
        F.col(id_col),
        cosine_similarity(_query_lit(query), vec_col).alias("score"),
    )
    return exact.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def ivf_probe(query: Sequence[float], centroids: Sequence[Sequence[float]], nprobe: int) -> list[int]:
    """0-based ids of the ``nprobe`` centroids nearest the query
    (driver-side tiny computation; sequential-fold math so the choice is
    deterministic and reproducible by the oracle)."""
    import math

    def cos(a, b):
        da = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(x) * float(x) for x in b))
        return da / (na * nb) if na > 0 and nb > 0 else 0.0

    return sorted(range(len(centroids)), key=lambda i: -cos(query, centroids[i]))[:nprobe]


def ivf_cluster_id(vec_col: str | Column, centroids: Sequence[Sequence[float]]) -> Column:
    """Nearest-centroid assignment as a pure expression: 0-based argmax of
    cosine similarity over the literal codebook (first max wins on ties —
    mirrored by list_position in the DuckDB oracle).

    For a column NAME the expression is built as ONE ``F.expr`` HOF over
    a literal array-of-array codebook (one parse) instead of an unrolled
    per-centroid Column tree (~centroids x dim py4j literal calls whose
    driver-side build dominated every IVF-family query — the same fix as
    ``lsh_band_signatures_expr``). Bit-compatibility: every dot/norm is
    the same sequential double fold over ascending j as
    ``functions.vector.dot``/``l2_norm``, the same ``< 1e-10`` zero-norm
    guards, and the same ``dot / (na * nc)`` parenthesization, so
    assignments are unchanged and the oracles keep hash-matching. Column
    inputs (rare) keep the unrolled build."""
    if not isinstance(vec_col, str):
        v = vec_col
        sims = F.array(*[cosine_similarity(v, _query_lit(c)) for c in centroids])
        return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")
    na, sims = _ivf_expr_parts(vec_col, centroids)
    argmax = (
        f"element_at(transform(array({sims}),"
        f" s -> array_position(s, array_max(s))), 1)"
    )
    bound = f"element_at(transform(array({na}), na -> {argmax}), 1)"
    return F.expr(f"CAST({bound} - 1 AS INT)")


def _ivf_expr_parts(
    vec_col: str, centroids: Sequence[Sequence[float]]
) -> tuple[str, str]:
    """(na, sims) SQL fragments shared by ``ivf_cluster_id`` and
    ``ivf_sims_expr`` — ONE builder so the generated text (and therefore
    the double arithmetic the oracles mirror) cannot drift between the
    argmax and array consumers."""
    dim = len(centroids[0])
    cents_arr = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in c) + ")"
            for c in centroids
        )
        + ")"
    )
    vj = f"CAST(element_at(`{vec_col}`, j + 1) AS DOUBLE)"
    na = (
        f"sqrt(aggregate(sequence(0, {dim - 1}), CAST(0.0 AS DOUBLE),"
        f" (a, j) -> a + {vj} * {vj}))"
    )
    nc = (
        f"sqrt(aggregate(sequence(0, {dim - 1}), CAST(0.0 AS DOUBLE),"
        f" (a, j) -> a + element_at(c, j + 1) * element_at(c, j + 1)))"
    )
    d = (
        f"aggregate(sequence(0, {dim - 1}), CAST(0.0 AS DOUBLE),"
        f" (a, j) -> a + {vj} * element_at(c, j + 1))"
    )
    # expression-level let-binding via single-element transform(): HOFs
    # are evaluated interpreted with NO common-subexpression elimination,
    # so without binding, `na` re-evaluates 2x per centroid and the sims
    # array re-evaluates once for array_max and once for array_position
    # — ~5x the arithmetic for identical values
    sim_c = (
        f"element_at(transform(array(named_struct('nc', {nc}, 'd', {d})),"
        f" t -> CASE WHEN na < 1e-10 OR t.nc < 1e-10"
        f" THEN CAST(0.0 AS DOUBLE) ELSE t.d / (na * t.nc) END), 1)"
    )
    sims = f"transform({cents_arr}, c -> {sim_c})"
    return na, sims


def ivf_sims_expr(
    vec_col: str, centroids: Sequence[Sequence[float]]
) -> Column:
    """Array of per-centroid cosine similarities as ONE bound HOF — the
    full sims vector ``ivf_cluster_id`` argmaxes over, for consumers
    that need more than the assignment (silhouette: the top-2 margin).
    Same fragments, same binding, bit-identical doubles."""
    na, sims = _ivf_expr_parts(vec_col, centroids)
    return F.expr(f"element_at(transform(array({na}), na -> {sims}), 1)")


def ann_ivf_search(
    df: DataFrame,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: assign rows to their nearest centroid (literal
    codebook), probe only the ``nprobe`` centroids nearest the query.

    The assignment is a pure expression (argmax over fixed centroids), so
    at scale ``cluster_id`` becomes a partition column and probing =
    partition pruning. Centroids would come from MLlib KMeans offline
    (BASELINE.json: "MLlib for batch indexing"); any fixed codebook works
    for the operator.
    """
    probe = ivf_probe(query, centroids, nprobe)
    cand = df.withColumn("cluster_id", ivf_cluster_id(vec_col, centroids)).filter(
        F.col("cluster_id").isin(probe)
    )
    scored = cand.select(
        F.col(id_col), cosine_similarity(_query_lit(query), vec_col).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def ann_ivf_pq_search(
    df: DataFrame,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    k: int = 10,
    nprobe: int = 2,
    rerank: int | None = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str | None = None,
    cluster_col: str | None = None,
) -> DataFrame:
    """IVF + PQ composed — the standard billion-scale ANN layout
    (coarse quantizer prunes the scan, product quantizer compresses
    what remains, exact re-rank bounds the full-dimension work):

    1. probe: keep only rows whose nearest coarse centroid is among the
       ``nprobe`` centroids closest to the query. Pass ``cluster_col``
       to filter an INGEST-TIME cluster assignment (as written by
       ``indexing.build_ivf_index``, where ``cluster_id`` is a partition
       column and this filter is partition PRUNING —
       (nclusters - nprobe)/nclusters of the table is never read).
       Without it the assignment is recomputed per row, which scans
       everything and is only right for un-indexed tables.
    2. ADC: rank the survivors by the PQ lookup distance — ``m`` array
       reads + adds per row against one-byte codes, never the float
       vector (``code_col`` scores ingest-time codes; float vectors stay
       in cold storage).
    3. re-rank: exact cosine on the top-``rerank`` shortlist only.

    Total full-dimension float work = ``rerank`` rows, independent of
    table size. Both stages reuse the standalone operators, so the plan
    is the pruned scan -> ADC TakeOrderedAndProject -> tiny exact sort.
    """
    probe = ivf_probe(query, centroids, nprobe)
    if cluster_col is not None:
        cand = df.filter(F.col(cluster_col).isin(probe))
    else:
        cand = df.withColumn("cluster_id", ivf_cluster_id(vec_col, centroids)).filter(
            F.col("cluster_id").isin(probe)
        )
    return ann_pq_search(
        cand,
        query,
        codebooks,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        code_col=code_col,
        rerank=rerank,
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str,
    score_a: str,
    score_b: str,
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid-retrieval fusion by Reciprocal Rank Fusion (Cormack et al.,
    SIGIR'09): two ranked candidate lists — canonically BM25 lexical and
    embedding-knn semantic — merge on ``1/(rrf_k + rank_a) +
    1/(rrf_k + rank_b)``, with a document missing from one list simply
    contributing nothing for it. Rank-space fusion needs no score
    calibration between retrievers, which is why it is the default
    hybrid-search combiner in production vector stores.

    Ranks are computed over each list's OWN rows (dense ordering by
    score desc, id asc — the id tiebreak keeps ranks engine-portable
    when scores tie), then the lists full-outer join on id. Returns the
    fused top-``k`` as (id, rrf_score, rank_a, rank_b).

    Parameter contract: ``ranked_a`` / ``ranked_b`` MUST be bounded
    shortlists (k..hundreds of rows — e.g. the LIMIT-k output of
    knn_search / a BM25 top-N), because the rank windows are
    deliberately UNPARTITIONED: Spark evaluates each through a single
    task (it only logs a WindowExec warning, it does not fail). That is
    exactly right for shortlists — at 100 TB the expensive work
    (corpus-scale BM25 and ANN) has already reduced to shortlists
    upstream and fusion touches only those rows — but feeding an
    unbounded table here would silently serialize it through one
    partition. Keep the corpus cut upstream of this function.
    """
    wa = Window.orderBy(F.desc(score_a), F.asc(id_col))
    wb = Window.orderBy(F.desc(score_b), F.asc(id_col))
    a = ranked_a.select(id_col, score_a).withColumn("rank_a", F.row_number().over(wa))
    b = ranked_b.select(id_col, score_b).withColumn("rank_b", F.row_number().over(wb))
    fused = a.join(b, id_col, "full_outer").select(
        id_col,
        F.round(
            F.coalesce(1.0 / (F.lit(rrf_k) + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("rank_b")), F.lit(0.0)),
            9,
        ).alias("rrf_score"),
        "rank_a",
        "rank_b",
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(k)


def hard_negatives(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Contrastive hard-negative mining: for every anchor vector, the
    exact top-``k`` most-similar vectors with a DIFFERENT label — the
    pairs a contrastive/triplet trainer wants most (high similarity,
    wrong class) and the embedding-quality audit for class bleed.
    Returns (query_id, neg_id, score, rank), score rounded to 9.

    Physical plan (guide §2.4/§4): ONE label-masked corpus pass per
    anchor block (:func:`_per_anchor_block`) — the block's anchor matrix
    plus labels broadcast once, each Arrow batch scored by the int8
    kernel with same-label pairs masked inside the batch
    (``scored_from_qmat_labeled``), then the single Window top-k. The
    retired shape (one ``knn_join`` per label class, unioned) cost C
    corpus scans and C+1 driver jobs for identical scores; measured
    3.9 s -> 1.9 s at sf0.1 with bit-equal output. At 100 TB swap the
    exact scorer for ANN candidates per class and keep the same window
    shape. No non-NULL-label anchor -> a typed empty result.
    """
    scored = _per_anchor_block(
        emb,
        id_col,
        quantize(l2_normalize(vec_col)),
        label_col,
        lambda qids_l, qmat_l, qlabels: scored_from_qmat_labeled(
            emb, qids_l, qmat_l, qlabels, k_same=None, k_diff=k,
            data_id=id_col, qvec_col=qvec_col, label_col=label_col,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("neg_id"),
            F.round("score", 9).alias("score"),
            "rank",
        )
    )


def quantization_recall(
    emb: DataFrame,
    k: int = 10,
    query_pred: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Audit of the int8 quantization at the heart of the store
    (reference pythonvectordb.py:86-108 quantizes every vector to int8):
    for each query vector, overlap@k between the int8-cosine exact
    top-k and the float-cosine exact top-k — the measured answer to
    "how much recall does 4x memory compression cost". Returns
    (query_id, n_overlap, recall) per query, recall = overlap/k.

    Both sides are exact brute-force scans, deterministically ranked:
    the int8 side rides ``knn_join``'s BLAS path (exact integer
    arithmetic, ranks engine-portable by construction, self dropped
    after a k+1 cut — the ``mutual_knn_degrees`` neighbor rule); the
    float side scores through the sequential double-fold cosine and
    ranks on the ROUND-9 score with id tie-break, so the top-k boundary
    is engine-portable too.

    Scale shape: the query set is bounded by contract (an audit probes
    tens of queries, not the corpus). The float side joins the corpus
    to the broadcast query set on a constant key — a broadcast hash
    join whose cost is |queries| x n row pairs, the irreducible work of
    exact multi-query scoring (identical to the BLAS side's flop
    count); per-pair evaluation is an interpreted HOF fold, acceptable
    at audit scale, and the candidate swap-in at production scale is
    the same ANN shortlist every other eval op uses. Each top-k edge
    list feeds one equi-join; the int8 edge list is what the join
    probes, so only the (small) per-query lists ever shuffle.
    """
    from pythonvectordb_spark.functions.vector import cosine_similarity

    if query_pred is None:
        query_pred = F.col(id_col) < 16
    queries = emb.filter(query_pred).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    i8 = (
        knn_join(
            emb,
            queries.select("query_id", F.col("_qv").alias(vec_col)),
            k=k + 1,
            data_id=id_col,
            query_vec=vec_col,
            qvec_col=qvec_col,
        )
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", id_col)
    )
    fpairs = (
        emb.select(F.col(id_col), F.col(vec_col)).withColumn("_one", F.lit(1))
        .join(F.broadcast(queries.withColumn("_one", F.lit(1))), "_one")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col),
            F.round(cosine_similarity("_qv", vec_col), 9).alias("score"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    fl = (
        fpairs.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col)
    )
    overlap = i8.join(fl, ["query_id", id_col]).groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap")
    )
    return (
        queries.select("query_id")
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0).cast("long")).alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0).cast("long")).cast("double")
                / F.lit(float(k)),
                6,
            ).alias("recall"),
        )
    )


def contrastive_triplets(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Triplet mining for contrastive training: per anchor, the nearest
    SAME-label vector (the positive) and the nearest OTHER-label vector
    (the hard negative), with the margin between them — the exact
    (anchor, positive, negative) rows a triplet/InfoNCE trainer
    consumes, plus the ``violation`` flag (margin <= 0: the negative is
    closer than the positive, the triplets that actually carry
    gradient, and the audit signal for class bleed).

    Positives come from a within-class exact knn (k=2 cut, self dropped,
    re-ranked — an anchor whose class has no other member yields no
    triplet, by contract); negatives are ``hard_negatives`` at k=1.
    Margins and the violation flag are computed from the ROUND-9 scores
    both sides already emit, keeping the boundary engine-portable.

    Scale shape (guide §2.4/§4): ONE corpus pass per anchor block
    (:func:`_per_anchor_block`) scores the broadcast anchor matrix
    against every row with the int8 kernel and emits BOTH the same-label (k=2, self
    dropped after — the positive arm) and different-label (k=1 — the
    negative arm) partial top rows (``scored_from_qmat_labeled``); the
    per-anchor top rows are the only shuffled frames. The previous
    shape (two per-class ``knn_join`` unions) cost 2C corpus scans and
    Python crossings for the identical scores; measured 8.5 s -> 2.1 s
    at sf0.1, bit-equal. At 100 TB swap the exact scorer for per-class
    ANN candidates, same window shape.
    """
    scored = _per_anchor_block(
        emb,
        id_col,
        quantize(l2_normalize(vec_col)),
        label_col,
        lambda qids_l, qmat_l, qlabels: scored_from_qmat_labeled(
            emb, qids_l, qmat_l, qlabels, k_same=2, k_diff=1,
            data_id=id_col, qvec_col=qvec_col, label_col=label_col,
        ),
    ).localCheckpoint(eager=False)  # one Python pass per block feeds both arms
    wp = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("pos_id"))
    pos = (
        scored.filter((F.col("is_same") == 1) & (F.col("query_id") != F.col(id_col)))
        .select("query_id", F.col(id_col).alias("pos_id"), "score")
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("query_id", "pos_id", F.round("score", 9).alias("pos_score"))
    )
    wn = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    neg = (
        scored.filter(F.col("is_same") == 0)
        .withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col(id_col).alias("neg_id"),
            F.round("score", 9).alias("neg_score"),
        )
    )
    m = F.round(F.col("pos_score") - F.col("neg_score"), 9)
    return pos.join(neg, "query_id").select(
        F.col("query_id").alias("anchor_id"),
        "pos_id",
        "pos_score",
        "neg_id",
        "neg_score",
        m.alias("margin"),
        (m <= 0.0).cast("int").alias("violation"),
    )


def mmr_rerank(
    df: DataFrame,
    query: Sequence[float],
    k: int = 5,
    shortlist: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998): pick
    ``k`` results from the relevance top-``shortlist`` greedily, each step
    taking the candidate maximizing
    ``lam * rel - (1 - lam) * max_sim_to_already_selected`` — the standard
    diversity pass between retrieval and a context window (near-duplicate
    passages waste prompt tokens; MMR is the query-time complement of the
    offline `dedup` family).

    Scale shape: relevance scoring + the top-``shortlist`` cut is the
    whole-corpus part (one TakeOrderedAndProject, exactly `knn_search`);
    everything after runs on the SHORTLIST ONLY. Pairwise similarities
    among the shortlist are a constant-key broadcast equi-join (bounded
    ``shortlist^2`` rows — never a corpus-sized product), and the k greedy
    rounds iterate over these tiny frames with per-round lazy
    `localCheckpoint`s (the `trade_pagerank` pattern: each round
    references the previous selection exactly once per branch, keeping
    the advisor's union-recompute contract).

    Engine-portable boundaries: the shortlist is cut on the score ROUNDED
    at 9 (id tie-break) and each greedy argmax on the MMR score ROUNDED
    at 6 (id tie-break) — the `hybrid_rrf_search` contract applied to
    every selection step.
    """
    from pythonvectordb_spark.functions.vector import cosine_similarity_int8_sym

    rel = F.round(cosine_similarity_int8(_query_lit(query), qvec_col), 9)
    short = (
        df.select(F.col(id_col), F.col(qvec_col), rel.alias("rel"))
        .orderBy(F.desc("rel"), F.asc(id_col))
        .limit(shortlist)
        .localCheckpoint(eager=False)
    )
    pairs = (
        short.select(
            F.col(id_col).alias("ia"), F.col(qvec_col).alias("qa"), F.lit(1).alias("_one")
        )
        .join(
            F.broadcast(
                short.select(
                    F.col(id_col).alias("ib"),
                    F.col(qvec_col).alias("qb"),
                    F.lit(1).alias("_one"),
                )
            ),
            "_one",
        )
        .where(F.col("ia") != F.col("ib"))
        .select(
            "ia", "ib", F.round(cosine_similarity_int8_sym("qa", "qb"), 9).alias("sim")
        )
        .localCheckpoint(eager=False)
    )
    lam_c, inv_c = F.lit(float(lam)), F.lit(float(1.0 - lam))
    base = short.select(id_col, "rel")
    selected = (
        base.select(
            id_col, "rel", F.round(lam_c * F.col("rel"), 6).alias("mmr_score")
        )
        .orderBy(F.desc("mmr_score"), F.asc(id_col))
        .limit(1)
        .withColumn("rank", F.lit(1))
        .localCheckpoint(eager=False)
    )
    for r in range(2, k + 1):
        pen = (
            pairs.join(
                selected.select(F.col(id_col).alias("ib")), "ib", "left_semi"
            )
            .groupBy("ia")
            .agg(F.max("sim").alias("pen"))
        )
        pick = (
            base.join(selected.select(id_col), id_col, "left_anti")
            .join(pen, F.col(id_col) == F.col("ia"))
            .select(
                id_col,
                "rel",
                F.round(lam_c * F.col("rel") - inv_c * F.col("pen"), 6).alias(
                    "mmr_score"
                ),
            )
            .orderBy(F.desc("mmr_score"), F.asc(id_col))
            .limit(1)
            .withColumn("rank", F.lit(r))
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=False)
    return selected.select(
        F.col("rank").cast("int").alias("rank"), id_col, "rel", "mmr_score"
    )


def ann_recall_curve(
    base: DataFrame,
    ann: DataFrame,
    query: Sequence[float],
    ks: Sequence[int] = (1, 5, 10, 20),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k curve of an ANN result against the exact float-cosine
    ground truth, for several cutoffs in one pass — the index-quality
    report that decides nprobe/rerank knobs (`quantization_recall` is the
    same audit for the int8 storage format; this one measures the INDEX).

    ``ann`` is any (id, score) frame (e.g. `ann_ivf_pq_search` output);
    ground truth is computed here. Both rankings are cut and ranked on
    the score ROUNDED at 9 with id tie-break (engine-portable
    boundaries). Scale shape: the exact side is one
    TakeOrderedAndProject over the corpus (the unavoidable ground-truth
    scan); everything else operates on max(ks)-row frames — the rank
    windows run AFTER the limit, and the per-k fan-out is an explode of
    the tiny joined overlap frame, not a corpus operation. The exact
    shortlist is lazily checkpointed (it anchors the k-axis AND joins
    the overlap — two references)."""
    from pyspark.sql import Window

    kmax = int(max(ks))
    ks_arr = F.array(*[F.lit(int(k)) for k in ks])
    wr = Window.orderBy(F.desc("r9"), F.asc(id_col))
    ann_r = (
        ann.select(id_col, F.round("score", 9).alias("r9"))
        .orderBy(F.desc("r9"), F.asc(id_col))
        .limit(kmax)
        .select(id_col, F.row_number().over(wr).alias("ann_rank"))
    )
    exact = (
        base.select(
            F.col(id_col),
            F.round(cosine_similarity(_query_lit(query), vec_col), 9).alias("r9"),
        )
        .orderBy(F.desc("r9"), F.asc(id_col))
        .limit(kmax)
        .select(id_col, F.row_number().over(wr).alias("exact_rank"))
        .localCheckpoint(eager=False)
    )
    j = ann_r.join(exact, id_col)
    anchor = exact.agg(F.count(F.lit(1)).alias("_n")).select(
        F.explode(ks_arr).alias("k")
    )
    per_k = (
        j.select(F.explode(ks_arr).alias("k"), "ann_rank", "exact_rank")
        .where((F.col("ann_rank") <= F.col("k")) & (F.col("exact_rank") <= F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return anchor.join(per_k, "k", "left").select(
        F.col("k").cast("int").alias("k"),
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
        F.round(
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double")
            / F.col("k").cast("double"),
            6,
        ).alias("recall"),
    )


def ann_nprobe_curve(
    base: DataFrame,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    nprobes: Sequence[int] = (1, 2, 4, 8),
    k: int = 10,
    rerank: int | None = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k as a function of the IVF probe width — the OTHER axis of
    the index-tuning surface (`ann_recall_curve` sweeps the cutoff k at
    a fixed configuration; this sweeps nprobe at a fixed k): the curve
    that tells an operator how many clusters they must pay to scan for
    a recall target, i.e. the latency/recall trade-off of the coarse
    quantizer itself.

    One exact ground-truth top-k (TakeOrderedAndProject over the
    corpus, checkpointed — it joins every sweep point) and one IVF+PQ
    run per probe width; each sweep point reduces to a k-row semi-join
    + count. On an ingest-time-clustered table each ANN run is a
    partition-pruned scan reading nprobe/nclusters of the data (see
    `ann_ivf_pq_search`), so the whole curve costs roughly ONE full
    scan plus the ground truth — at 100 TB the exact side is the
    dominant term, which is what the audit exists to amortize: measure
    once, serve at the cheapest nprobe that clears the target.
    """
    from pythonvectordb_spark.functions.vector import cosine_similarity

    exact = (
        base.select(
            F.col(id_col),
            F.round(cosine_similarity(_query_lit(query), vec_col), 9).alias("r9"),
        )
        .orderBy(F.desc("r9"), F.asc(id_col))
        .limit(int(k))
        .select(id_col)
        .localCheckpoint(eager=False)
    )
    # Round-10 optimization (guide §2.4): the per-row cluster
    # assignment, PQ code and ADC distance do not depend on nprobe, so
    # compute them ONCE over the widest probe set and let each sweep
    # point be a cluster-id filter + shortlist on the checkpointed
    # frame. The previous shape (one full ann_ivf_pq_search per point)
    # re-ran the assignment HOF, the Arrow encode pass and the
    # 1k-literal ADC expression len(nprobes) times for identical
    # per-row values; filtering after scoring is value-identical
    # because every scored column is row-local. Measured 3.8 s -> 2.0 s
    # at sf0.1.
    probes = {int(np_): ivf_probe(query, centroids, int(np_)) for np_ in nprobes}
    widest = ivf_probe(query, centroids, max(probes))
    tables = pq_adc_tables(query, codebooks)
    adc = F.expr(
        " + ".join(
            "element_at(array("
            + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in row)
            + f"), element_at(_pq_code, {s + 1}) + 1)"
            for s, row in enumerate(tables)
        )
    )
    scored_all = (
        base.withColumn("cluster_id", ivf_cluster_id(vec_col, centroids))
        .filter(F.col("cluster_id").isin(widest))
        .withColumn("_pq_code", pq_code_arrow(vec_col, codebooks))
        .select(F.col(id_col), F.col(vec_col), "cluster_id", adc.alias("adc_dist"))
        .localCheckpoint(eager=False)
    )
    out = None
    for np_ in nprobes:
        cand = scored_all.filter(F.col("cluster_id").isin(probes[int(np_)]))
        if rerank is None:
            ann = cand.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(int(k))
        else:
            shortlist = cand.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(
                int(rerank)
            )
            ann = (
                shortlist.select(
                    F.col(id_col),
                    cosine_similarity(_query_lit(query), vec_col).alias("score"),
                )
                .orderBy(F.desc("score"), F.asc(id_col))
                .limit(int(k))
            )
        point = (
            ann.select(id_col)
            .join(exact, id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
            .select(
                F.lit(int(np_)).cast("int").alias("nprobe"),
                "n_overlap",
                F.round(
                    F.col("n_overlap").cast("double") / F.lit(float(k)), 6
                ).alias("recall"),
            )
        )
        out = point if out is None else out.unionByName(point)
    return out


def sign_bit_codes(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """1-bit quantization: pack each embedding's sign pattern into two
    int64 words (dims 0-31 -> lo, 32-63 -> hi; bit set iff the
    coordinate is strictly positive) — 8 bytes/vector vs 64 for int8,
    the cheapest index tier. Exact integer expression, so the codes are
    engine-portable by construction."""
    parts = []
    for name, base in (("sig_lo", 0), ("sig_hi", 32)):
        parts.append(
            F.expr(
                f"aggregate(sequence(0, 31), 0L, (acc, i) -> acc + "
                f"IF(element_at({vec_col}, CAST(i + {base} + 1 AS INT)) > 0, "
                f"shiftleft(1L, CAST(i AS INT)), 0L))"
            ).alias(name)
        )
    return df.select(F.col(id_col), *parts)


def sign_bit_recall(
    emb: DataFrame,
    k: int = 10,
    query_pred: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of 1-bit (sign) quantization against the exact int8
    store: per query, overlap between the hamming-distance top-k over
    the packed sign codes and the symmetric-int8-cosine exact top-k —
    the measured answer to "how much recall does 64x compression cost",
    the audit that prices the binary pre-filter tier of a two-stage
    (hamming shortlist -> int8 rerank) pipeline.

    Determinism: sign codes, xor, and popcount are exact integers; the
    hamming ranking breaks ties on id; the int8 side is the exact
    symmetric cosine (integer dot/norms — order-free), ROUND-9 ranked
    with id tie-break.

    Scale shape: the query set is bounded by contract (an audit);
    corpus-side work is |queries| x n hamming popcounts on 16 bytes per
    pair — the cheapest possible exact sweep — plus the same int8
    ground-truth scan every recall audit pays. Both top-k edge lists
    reduce to one equi-join.
    """
    from pythonvectordb_spark.functions.vector import (
        cosine_similarity_int8_sym,
        l2_normalize,
        quantize,
    )

    if query_pred is None:
        query_pred = F.col(id_col) < 8
    codes = sign_bit_codes(emb, id_col=id_col, vec_col=vec_col)
    base = emb.select(
        F.col(id_col), quantize(l2_normalize(vec_col)).alias("_qv")
    ).join(codes, id_col).localCheckpoint(eager=False)
    queries = base.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("_qv").alias("_qq"),
        F.col("sig_lo").alias("_qlo"),
        F.col("sig_hi").alias("_qhi"),
    )
    pairs = (
        base.withColumn("_one", F.lit(1))
        .join(F.broadcast(queries.withColumn("_one", F.lit(1))), "_one")
        .filter(F.col("query_id") != F.col(id_col))
    )
    ham = (
        F.bit_count(F.col("sig_lo").bitwiseXOR(F.col("_qlo")))
        + F.bit_count(F.col("sig_hi").bitwiseXOR(F.col("_qhi")))
    ).cast("long")
    wh = Window.partitionBy("query_id").orderBy(F.asc("_h"), F.asc(id_col))
    hamm_k = (
        pairs.select("query_id", F.col(id_col), ham.alias("_h"))
        .withColumn("rank", F.row_number().over(wh))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col)
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("_s"), F.asc(id_col))
    exact_k = (
        pairs.select(
            "query_id",
            F.col(id_col),
            F.round(cosine_similarity_int8_sym("_qq", "_qv"), 9).alias("_s"),
        )
        .withColumn("rank", F.row_number().over(wc))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col)
    )
    overlap = (
        hamm_k.join(exact_k, ["query_id", id_col])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return (
        queries.select("query_id")
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0).cast("long")).alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0).cast("long")).cast("double")
                / F.lit(float(k)),
                6,
            ).alias("recall"),
        )
    )


def matryoshka_recall(
    emb: DataFrame,
    query: Sequence[float],
    prefixes: Sequence[int] = (8, 16, 32),
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of PREFIX-dimension cosine against the full-dim exact
    top-k — the Matryoshka-embedding audit: if the model packs coarse
    semantics into the leading dims, a truncated index (8 of 64 dims =
    8x cheaper scans) keeps most of the recall, and this curve measures
    exactly how much. The third axis of the index-tuning surface
    (`ann_recall_curve` sweeps k, `ann_nprobe_curve` sweeps probes,
    this sweeps DIMENSIONS).

    Determinism: every score is the sequential double-fold cosine
    ROUNDED 9 with id tie-break; prefix norms fold over the sliced
    list, identically on both engines.

    Scale shape: one exact full-dim ground truth (TakeOrderedAndProject,
    checkpointed — it joins every sweep point) + one TakeOrdered over
    the corpus per prefix; every join after the limits is k-row.
    """
    from pythonvectordb_spark.functions.vector import cosine_similarity

    exact = (
        emb.select(
            F.col(id_col),
            F.round(cosine_similarity(_query_lit(query), vec_col), 9).alias("r9"),
        )
        .orderBy(F.desc("r9"), F.asc(id_col))
        .limit(int(k))
        .select(id_col)
        .localCheckpoint(eager=False)
    )
    out = None
    for p in prefixes:
        p = int(p)
        qp = [float(x) for x in query[:p]]
        pre = (
            emb.select(
                F.col(id_col),
                F.round(
                    cosine_similarity(_query_lit(qp), F.slice(vec_col, 1, p)), 9
                ).alias("r9"),
            )
            .orderBy(F.desc("r9"), F.asc(id_col))
            .limit(int(k))
            .select(id_col)
        )
        point = (
            pre.join(exact, id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
            .select(
                F.lit(p).cast("int").alias("prefix_dim"),
                "n_overlap",
                F.round(
                    F.col("n_overlap").cast("double") / F.lit(float(k)), 6
                ).alias("recall"),
            )
        )
        out = point if out is None else out.unionByName(point)
    return out


def embedding_anisotropy(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Anisotropy of the quantized embedding store: the mean pairwise
    int8 dot product over ALL n(n-1) ordered pairs, relative to the
    mean self dot — the closed-form "how far from isotropic is this
    space" statistic (Ethayarajh 2019 measures it by sampling; the
    identity sum_{i!=j} q_i.q_j = ||sum_i q_i||^2 - sum_i ||q_i||^2
    makes it EXACT in one pass). High anisotropy means cosine scores
    crowd into a narrow band and similarity thresholds stop separating
    — re-centering is indicated before LSH/IVF banding.

    Determinism: dimension sums S_d, ||S||^2, and the self-dot total
    are exact int64 (int8 coords, n < 2^31); the two mean divisions
    and their ratio promote once, ROUNDED 6.

    Scale shape: one posexplode -> map-side-combined per-dimension sum
    (64 x n rows collapsing to 64), one per-row fold for self dots in
    the same scan; everything after is 64-row/one-row algebra. No pair
    ever materializes.
    """
    from pythonvectordb_spark.functions.vector import l2_normalize, quantize

    q = emb.select(
        F.col(id_col), quantize(l2_normalize(vec_col)).alias("qv")
    ).localCheckpoint(eager=False)
    dims = (
        q.select(F.posexplode("qv").alias("d", "x"))
        .groupBy("d")
        .agg(F.sum(F.col("x").cast("long")).cast("long").alias("sd"))
    )
    s2 = dims.agg(
        F.sum(F.col("sd") * F.col("sd")).cast("long").alias("s2")
    ).withColumn("_one", F.lit(1))
    self_dot = F.aggregate(
        "qv",
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long") * x.cast("long"),
    )
    tot = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(self_dot).cast("long").alias("sum_self"),
    ).withColumn("_one", F.lit(1))
    j = tot.join(F.broadcast(s2), "_one")
    nd = F.col("n").cast("double")
    mean_pair = (F.col("s2") - F.col("sum_self")).cast("double") / (
        nd * (nd - F.lit(1.0))
    )
    mean_self = F.col("sum_self").cast("double") / nd
    return j.select(
        F.col("n").alias("n_vectors"),
        "sum_self",
        F.col("s2").alias("sum_vector_sq"),
        F.round(mean_pair, 6).alias("mean_pair_dot"),
        F.round(mean_self, 6).alias("mean_self_dot"),
        F.round(mean_pair / mean_self, 6).alias("anisotropy"),
    )


# DCG rank weights 1/log2(rank+1) for ranks 1..10, as repr literals so
# both engines decode the identical doubles (no engine log2 involved)
import math as _math

DCG_WEIGHTS_10 = [1.0 / _math.log2(r + 1) for r in range(1, 11)]
IDCG_10 = sum((10 - i) * DCG_WEIGHTS_10[i] for i in range(10))


def ndcg_ivf(
    emb: DataFrame,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """nDCG@k of the IVF index against graded exact relevance — recall
    treats every hit equally; nDCG charges the index for returning the
    right items in the WRONG ORDER (rel = k - exact_rank + 1, DCG
    weights 1/log2(rank+1) as shared literals). The ranking-quality
    companion to `ann_recall_curve`'s set-quality number.

    Scale shape: one exact ground-truth TakeOrdered (checkpointed) and
    one partition-pruned IVF probe; the DCG assembles on the k-row
    joined frame. Weights and the ideal DCG are repr literals on both
    engines — no engine log2 in the plan.
    """
    from pythonvectordb_spark.functions.vector import cosine_similarity

    kk = int(k)
    exact = (
        emb.select(
            F.col(id_col),
            F.round(cosine_similarity(_query_lit(query), vec_col), 9).alias("r9"),
        )
        .orderBy(F.desc("r9"), F.asc(id_col))
        .limit(kk)
        .select(
            id_col,
            F.row_number()
            .over(Window.orderBy(F.desc("r9"), F.asc(id_col)))
            .alias("exact_rank"),
        )
        .localCheckpoint(eager=False)
    )
    ann = ann_ivf_search(
        emb, query, centroids, k=kk, nprobe=int(nprobe), id_col=id_col, vec_col=vec_col
    )
    wr = Window.orderBy(F.desc("r9"), F.asc(id_col))
    ranked = ann.select(
        F.col(id_col), F.round("score", 9).alias("r9")
    ).select(id_col, F.row_number().over(wr).alias("rank"))
    # weights and the ideal DCG derive from kk, not a fixed top-10 table:
    # element_at must cover ranks 1..kk (a truncated array yields NULL
    # terms for ranks > 10) and the perfect ranking must score ndcg = 1.0
    # at every k (ADVICE r6)
    w_k = [1.0 / _math.log2(r + 1) for r in range(1, kk + 1)]
    idcg_k = sum((kk - i) * w_k[i] for i in range(kk))
    weights = F.array(*[F.lit(float(w)) for w in w_k])
    rel = F.coalesce(
        (F.lit(kk + 1) - F.col("exact_rank")).cast("long"), F.lit(0).cast("long")
    )
    dcg = (
        ranked.join(exact, id_col, "left")
        .select((rel.cast("double") * F.element_at(weights, F.col("rank"))).alias("t"))
        .agg(F.sum("t").alias("dcg"))
    )
    return dcg.select(
        F.lit(kk).cast("int").alias("k"),
        F.lit(int(nprobe)).cast("int").alias("nprobe"),
        F.round(F.col("dcg"), 6).alias("dcg"),
        F.round(F.lit(float(idcg_k)), 6).alias("idcg"),
        F.round(F.col("dcg") / F.lit(float(idcg_k)), 6).alias("ndcg"),
    )


def mrr_at_k(
    emb: DataFrame,
    ann: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reciprocal rank of the TRUE nearest neighbor inside an ANN
    shortlist — the "does the index even contain the answer, and how
    deep" probe behind first-result UX metrics. ``ann`` is any
    (id, score) frame (the `ann_recall_curve` convention — LSH bands,
    IVF, PQ all plug in); rr = 1/rank when the exact top-1 appears at
    that rank in the ANN top-k, 0 when the index missed it entirely.

    Scale shape: exact top-1 is one TakeOrdered; the ANN side is
    whatever pruned scan produced it; the rank lookup is a 1 x k join.
    """
    from pythonvectordb_spark.functions.vector import cosine_similarity

    gold = (
        emb.select(
            F.col(id_col),
            F.round(cosine_similarity(_query_lit(query), vec_col), 9).alias("r9"),
        )
        .orderBy(F.desc("r9"), F.asc(id_col))
        .limit(1)
        .select(F.col(id_col).alias("gold_id"))
    )
    wr = Window.orderBy(F.desc("r9"), F.asc(id_col))
    ranked = (
        ann.select(F.col(id_col), F.round("score", 9).alias("r9"))
        .orderBy(F.desc("r9"), F.asc(id_col))
        .limit(int(k))
        .select(id_col, F.row_number().over(wr).alias("rank"))
    )
    j = gold.join(ranked, gold["gold_id"] == ranked[id_col], "left")
    return j.select(
        F.lit(int(k)).cast("int").alias("k"),
        "gold_id",
        F.coalesce(F.col("rank").cast("long"), F.lit(0).cast("long")).alias(
            "found_rank"
        ),
        F.round(
            F.coalesce(
                F.lit(1.0) / F.col("rank").cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("rr"),
    )


def rbo_curve(
    list_a: DataFrame,
    list_b: DataFrame,
    id_col: str,
    score_a: str,
    score_b: str,
    depth: int = 20,
    p: float = 0.9,
) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between two ranked
    shortlists, reported as the full depth curve — the retriever-
    agreement diagnostic behind hybrid search tuning (`rrf_fuse` blends
    the lists; this MEASURES how much they agree, top-weighted by
    ``p^(d-1)`` so disagreement near rank 1 costs more than at the tail).
    Per depth d: the prefix intersection size, the agreement ratio, and
    the cumulative truncated RBO.

    Both inputs are shortlists by contract (the corpus-sized work — BM25
    scoring, knn scan — happens upstream); everything here is
    depth^2-bounded. The geometric weights are computed ONCE in the
    driver and embedded as double literals (engine-portable: no runtime
    `pow`, whose last-ulp behavior differs across libm builds), ranks
    come from windows over the <=depth-row frames, and the cumulative
    sum folds in ascending-d order on both engines. Ranks and the
    cumulative fold use scores as given — pass them ROUNDED (the
    registered query rounds at 9) for engine-portable rank boundaries.
    """
    from pyspark.sql import Window

    wa = Window.orderBy(F.desc(score_a), F.asc(id_col))
    wb = Window.orderBy(F.desc(score_b), F.asc(id_col))
    ra = list_a.select(F.col(id_col), F.row_number().over(wa).alias("rank_a"))
    rb = list_b.select(F.col(id_col), F.row_number().over(wb).alias("rank_b"))
    j = ra.join(rb, id_col).localCheckpoint(eager=False)
    weights = [(d, (1.0 - p) * p ** (d - 1)) for d in range(1, depth + 1)]
    dw = F.array(
        *[
            F.struct(F.lit(d).alias("d"), F.lit(w).alias("w"))
            for d, w in weights
        ]
    )
    anchor = (
        j.agg(F.count(F.lit(1)).alias("_n"))
        .select(F.explode(dw).alias("s"))
        .select(F.col("s.d").alias("d"), F.col("s.w").alias("w"))
    )
    per = (
        j.select(F.explode(dw).alias("s"), "rank_a", "rank_b")
        .where(
            (F.col("rank_a") <= F.col("s.d")) & (F.col("rank_b") <= F.col("s.d"))
        )
        .groupBy(F.col("s.d").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    joined = anchor.join(per, "d", "left").select(
        "d",
        "w",
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
    )
    contrib = F.col("w") * (
        F.col("n_overlap").cast("double") / F.col("d").cast("double")
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        F.col("d").cast("int").alias("d"),
        "n_overlap",
        F.round(
            F.col("n_overlap").cast("double") / F.col("d").cast("double"), 6
        ).alias("agreement"),
        F.round(F.sum(contrib).over(wcum), 6).alias("rbo_cum"),
    )


def label_centroid_affinity(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Pairwise cosine between per-label centroids of the quantized
    store — the class-confusability map in embedding space: labels
    whose centroids sit near cosine 1 will bleed into each other in
    every knn-classify call (`knn_classify`) and every IVF cell, so
    they are the candidates for merging or for a dedicated contrastive
    pass (`contrastive_triplets` mines exactly these boundaries).

    Determinism: cosine between centroids is scale-invariant, so the
    per-count division never happens — per-label per-dimension int8
    sums are exact int64, pair dots and norms assemble from those
    integers exactly, and ONE double division per pair (the
    `embedding_anisotropy` discipline), ROUNDED 6.

    Scale shape: one posexplode -> map-side-combined (label, dim)
    grouped sum (the shuffle carries labels x 64 rows); the pair frame
    is label-cardinality squared — bounded by the label vocabulary,
    never by rows.
    """
    from pythonvectordb_spark.functions.vector import l2_normalize, quantize

    # one checkpointed quantized projection feeds BOTH the dimension
    # sums and the per-label counts (recomputing the scan per consumer
    # is the union-recompute anti-pattern the advisor rejects)
    q = emb.select(
        F.col(label_col).alias("lbl"), quantize(l2_normalize(vec_col)).alias("qv")
    ).localCheckpoint(eager=False)
    dims = (
        q.select("lbl", F.posexplode("qv").alias("d", "x"))
        .groupBy("lbl", "d")
        .agg(F.sum(F.col("x").cast("long")).cast("long").alias("sd"))
        .localCheckpoint(eager=False)
    )
    counts = q.groupBy("lbl").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = dims.select(F.col("lbl").alias("label_a"), "d", F.col("sd").alias("sa"))
    b = dims.select(F.col("lbl").alias("label_b"), "d", F.col("sd").alias("sb"))
    pairs = (
        a.join(b, "d")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("sa") * F.col("sb")).cast("long").alias("dot"),
            F.sum(F.col("sa") * F.col("sa")).cast("long").alias("na2"),
            F.sum(F.col("sb") * F.col("sb")).cast("long").alias("nb2"),
        )
    )
    ca = counts.select(F.col("lbl").alias("label_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("lbl").alias("label_b"), F.col("n").alias("n_b"))
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    return (
        pairs.join(F.broadcast(ca), "label_a")
        .join(F.broadcast(cb), "label_b")
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            F.when((F.col("na2") > 0) & (F.col("nb2") > 0), F.round(cos, 6)).alias(
                "cosine"
            ),
        )
    )
