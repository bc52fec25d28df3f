"""Statistics over vector tables and relational columns.

``vector_stats`` is the table half of the reference's ``get_stats``
(pythonvectordb.py:512-555) as a one-row DataFrame aggregation
(SURVEY.md §2.9): capacity/utilization drop out (no pre-allocation in
Spark), and the memory estimate mirrors the reference's
``vector_count * dimension`` bytes (:520) for the int8 payload. The
latency half, the reference's 100-entry ring (:234), is
``serving.KnnServer.stats()``. The rest of the module holds the
distribution tests and estimators the registry's stats queries run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def vector_stats(table: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """One-row stats: count, distinct ids, dimension, int8 memory bytes."""
    return table.agg(
        F.count(F.lit(1)).alias("vector_count"),
        F.countDistinct(F.col(id_col)).alias("distinct_ids"),
        F.min(F.size(F.col(vec_col))).alias("min_dim"),
        F.max(F.size(F.col(vec_col))).alias("max_dim"),
        (F.count(F.lit(1)) * F.min(F.size(F.col(vec_col)))).cast("long").alias(
            "memory_bytes_int8"
        ),
    )


def label_centroids(table: DataFrame, id_col: str = "vec_id", qvec_col: str = "qvec") -> DataFrame:
    """Per-label centroid of quantized vectors via applyInPandas (grouped-
    map, SURVEY §2.11): each group's int8 matrix is reduced with one numpy
    integer sum — exact, so the output is engine-reproducible.

    Output: (label, n_vectors, centroid_checksum) where the checksum is
    sum_j (j+1) * sum_i qvec[i][j] — an exact-integer fingerprint of the
    (unnormalized) centroid numerator.
    """
    import numpy as np
    import pandas as pd

    qv = qvec_col

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        M = np.vstack(pdf[qv].to_numpy()).astype(np.int64)
        col_sums = M.sum(axis=0)
        weights = np.arange(1, M.shape[1] + 1, dtype=np.int64)
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n_vectors": [len(pdf)],
                "centroid_checksum": [int((weights * col_sums).sum())],
            }
        )

    return table.select("label", qv).groupBy("label").applyInPandas(
        centroid, schema="label int, n_vectors long, centroid_checksum long"
    )


def embedding_drift(
    emb: DataFrame,
    dim: int,
    label_col: str = "label",
    id_col: str = "vec_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Embedding-space drift audit: per label, the cosine between the
    int8 CENTROIDS of the even-id and odd-id halves of the table — the
    embedding-side companion to `curation.distribution_drift` (PSI sees
    categorical shift; this sees the representation itself moving:
    re-embedding with a new model version, ingest corruption, or a label
    whose population changed meaning). Cosine ~1 = the halves agree;
    a drop localizes WHICH label moved.

    Everything before the final cosine is EXACT integer arithmetic:
    per-dimension centroid sums are int8-component sums (longs,
    order-free — no float-fold discipline needed), and the cosine's
    dot/norms are products of those longs promoted to double only for
    the final division. One grouped aggregation computes both halves'
    counts and 2*dim component sums in a single pass (the shuffle
    carries labels x 2*dim longs); output is label-count-sized.

    At 100 TB, swap the id-parity split for a snapshot-version column —
    the plan is unchanged. The 2*dim+2 aggregate columns are the same
    shape the 48-hash MinHash signature agg uses; Catalyst handles
    hundreds of agg expressions in one pass.
    """
    # Contract note (ADVICE r10): this shape assumes every row carries a
    # non-null, fixed-width `qvec` (true of the quantized-embedding frames
    # all registered bindings pass). posexplode emits nothing for a
    # NULL/empty vector, so such rows would no longer count toward
    # n_a/n_b, and all components are summed rather than the first `dim`;
    # `dim` is retained in the signature for binding compatibility (the
    # registered inputs are exactly dim-wide, so it is not re-checked
    # here — a width audit belongs in validate.*, not in this agg).
    # Round-10 optimization (guide §1.2/§7.2): the former shape — one
    # groupBy with 2*dim+2 unrolled agg columns plus 3*dim-term
    # dot/norm sum expressions — built a ~60 KB plan whose per-action
    # analysis cost ~2.6 s and whose codegen cost ~1 s PER RUN at
    # dim=64, for 2,000 rows of data. Restructured to the narrow shape
    # the DuckDB oracle itself uses: posexplode to (label, parity, dim,
    # component) rows, one grouped integer sum per (label, dim), then
    # per-label dot/norm sums of products. Every value is the same
    # exact integer arithmetic (order-free), so the output is
    # bit-identical; the plan is ~50 expression nodes and the wall
    # dropped 4.1 s -> 1.5 s at sf0.1. The extra shuffle carries
    # labels x dim x 2 long rows — trivial at any scale, and the
    # row count is dim-proportional, not corpus-proportional, after
    # the map-side-combined first aggregation.
    half = (F.col(id_col) % 2 == 0).alias("is_a")
    comp = emb.select(
        F.col(label_col).alias("label"), half, F.posexplode(qvec_col).alias("d", "x")
    )
    per_dim = comp.groupBy("label", "d").agg(
        F.sum(F.when(F.col("is_a"), F.col("x").cast("long")).otherwise(0)).alias("a"),
        F.sum(F.when(~F.col("is_a"), F.col("x").cast("long")).otherwise(0)).alias("b"),
        # row counts ride along on dimension 0 (every vector contributes
        # exactly one component per dimension)
        F.sum(F.when(F.col("is_a") & (F.col("d") == 0), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(~F.col("is_a") & (F.col("d") == 0), 1).otherwise(0)).alias("cb"),
    )
    g = per_dim.groupBy("label").agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("a") * F.col("b")).alias("dot"),
        F.sum(F.col("a") * F.col("a")).alias("na"),
        F.sum(F.col("b") * F.col("b")).alias("nb"),
    )
    cos = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        F.col("dot").cast("double")
        / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
    ).otherwise(F.lit(0.0))
    return g.select("label", "n_a", "n_b", F.round(cos, 9).alias("centroid_cosine"))


# Poisson(1) CDF thresholds scaled to [0, 2^32) — the md5-u32 inverse-CDF
# table for the deterministic Poisson bootstrap (weights 0..5, capped 6).
# Integer thresholds make the replicate weights BIT-IDENTICAL in any
# engine: no float literal ever crosses the oracle boundary.
import math as _math

_POISSON1_CDF_U32: list[int] = []
_acc = 0.0
for _k in range(6):
    _acc += _math.exp(-1.0) / _math.factorial(_k)
    _POISSON1_CDF_U32.append(int(_acc * 2.0**32))
del _acc, _k


def bootstrap_mean_ci(
    df: DataFrame,
    cents_col: str,
    id_col: str,
    n_boot: int = 40,
) -> DataFrame:
    """Percentile-bootstrap confidence interval for a mean, via the
    deterministic Poisson bootstrap (Chamandy et al.'s sharded-bootstrap
    trick): replicate ``b`` weights each row Poisson(1)-distributed by
    inverting the CDF on an md5-derived uniform of (id, b) — no
    resampling shuffle, no RNG state, bit-replayable anywhere. The
    pipeline's answer to "is this week's mean shift real or noise?"
    without collecting anything.

    Determinism: the uniform is the md5-prefix exact integer in
    [0, 2^32) compared against PRECOMPUTED INTEGER thresholds
    (floor(CDF·2^32)) — weights are bit-identical across engines;
    replicate sums are exact integers (``cents_col`` must be an exact
    long); the CI bounds are selected by rank over (ROUNDED replicate
    mean, replicate id) — the portable-boundary discipline.

    Scale shape: ONE pass over the data — explode ``n_boot`` replicate
    ids per row, map-side combine collapses each partition to
    ``n_boot`` partial sums, the shuffle carries n_boot×partitions tiny
    rows, and everything after is ``n_boot`` rows. The base projection
    is lazily checkpointed (it feeds the replicas and the full-data
    mean).

    Returns one row: (n_rows, n_boot, mean_cents, ci_lo_cents,
    ci_hi_cents) — the CI trims floor(0.025·n_boot) replicates per
    side (1 of 40 = the 2.5% trim).
    """
    from pyspark.sql import Window

    from pythonvectordb_spark.util import ensure_parallelism

    # n_boot md5+conv evaluations per row is the heavy step; a one-file
    # scan would run all of them on one core (guide §2.5 input skew;
    # round-10 optimization: 5.2 s -> 1.6 s at sf0.1). No-op at scale.
    base = ensure_parallelism(
        df.select(
            F.col(id_col).cast("string").alias("_id"),
            F.col(cents_col).cast("long").alias("_x"),
        )
    ).localCheckpoint(eager=False)
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.col("_id"), F.lit("_"), F.col("b").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    w = F.lit(6)
    for k in range(len(_POISSON1_CDF_U32) - 1, -1, -1):
        w = F.when(F.col("_u") < _POISSON1_CDF_U32[k], F.lit(k)).otherwise(w)
    reps = (
        base.select("*", F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))).alias("b"))
        .withColumn("_u", u)
        .select("b", w.cast("long").alias("w"), "_x")
        .groupBy("b")
        .agg(
            F.sum("w").cast("long").alias("sw"),
            F.sum(F.col("w") * F.col("_x")).cast("long").alias("swx"),
        )
        .select(
            "b",
            F.round(
                F.col("swx").cast("double") / F.col("sw").cast("double"), 6
            ).alias("mean_b"),
        )
    )
    trim = int(0.025 * n_boot)
    lo_rank, hi_rank = trim + 1, n_boot - trim
    rn = F.row_number().over(Window.orderBy(F.asc("mean_b"), F.asc("b")))
    ci = reps.select(rn.alias("rn"), "mean_b").agg(
        F.max(F.when(F.col("rn") == lo_rank, F.col("mean_b"))).alias("ci_lo_cents"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("mean_b"))).alias("ci_hi_cents"),
        F.count(F.lit(1)).cast("long").alias("n_boot"),
    )
    full = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(
            F.sum("_x").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_cents"),
    ).withColumn("_one", F.lit(1))
    return (
        ci.withColumn("_one", F.lit(1))
        .join(F.broadcast(full), "_one")
        .select("n_rows", "n_boot", "mean_cents", "ci_lo_cents", "ci_hi_cents")
    )


def ivf_balance(df: DataFrame, centroids, vec_col: str = "embedding") -> DataFrame:
    """IVF index-health audit: assign every vector to its nearest
    centroid (the same argmax expression the IVF search path uses) and
    summarize the cluster-size distribution — empty cells, max/mean
    imbalance, and the coefficient of variation. The number that
    predicts probe-time tail latency: a skewed codebook makes nprobe
    recall cheap on small cells and blows the 99th percentile on the
    hot one, and partition-pruned ANN inherits exactly this skew as
    task skew at 100 TB (`event_key_skew`'s decide-before-you-shuffle
    role, applied to the vector index).

    All statistics are exact-integer algebra promoted to double only at
    the final division: imbalance = max·k/n and cv = sqrt(k·Σc²−n²)/n
    (population CV; Σc² stays within int64 for per-cell counts up to
    ~1e9). One narrow aggregation over the assignment expression; the
    centroid grid joins in as a broadcast k-row frame so empty cells
    are counted.
    """
    from pythonvectordb_spark.operators.search import ivf_cluster_id

    k = len(centroids)
    spark = df.sparkSession
    cells = spark.range(k).select(F.col("id").cast("int").alias("cluster"))
    counts = (
        df.select(ivf_cluster_id(vec_col, centroids).alias("cluster"))
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    allc = cells.join(counts, "cluster", "left").select(
        F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    g = allc.agg(
        F.sum("c").cast("long").alias("n_vectors"),
        F.count(F.lit(1)).cast("long").alias("n_centroids"),
        F.sum(F.when(F.col("c") == 0, 1).otherwise(0)).cast("long").alias("n_empty"),
        F.min("c").cast("long").alias("min_count"),
        F.max("c").cast("long").alias("max_count"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("_sc2"),
    )
    n = F.col("n_vectors").cast("double")
    imb = F.col("max_count").cast("double") * F.col("n_centroids").cast("double") / n
    cv = (
        F.sqrt(
            (
                F.col("n_centroids") * F.col("_sc2")
                - F.col("n_vectors") * F.col("n_vectors")
            ).cast("double")
        )
        / n
    )
    return g.select(
        "n_vectors",
        "n_centroids",
        "n_empty",
        "min_count",
        "max_count",
        F.round(imb, 6).alias("imbalance"),
        F.round(cv, 6).alias("cv"),
    )


def twonn_intrinsic_dim(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """TwoNN intrinsic-dimension estimate of an embedding corpus (Facco
    et al. 2017, public): id = n / sum_i ln(r2_i/r1_i) over each
    vector's two nearest non-identical neighbors. The ambient dim says
    how wide the arrays are; THIS says how much of that width the data
    actually uses — collapsed/anisotropic embeddings (id << ambient)
    make banded-LSH and IVF over-partition, and a drifting id between
    snapshots flags an encoder change even when `embedding_drift`'s
    centroid shift is flat.

    Distances are angular: d = round(1 - cos, 9) on the symmetric int8
    cosine (exact integer dot/norms, bit-equal between the BLAS scorer
    and the SQL mirror), so ranks and the rounded r1/r2 are
    engine-portable; exact-duplicate neighbors (d = 0, where the ratio
    is undefined) are excluded before ranking, per the paper's
    discarding rule. Vectors with fewer than two valid neighbors drop
    out of the sum (n counts participants). ln(r2/r1) terms are summed
    once, ROUNDED 6, and the estimate divides the rounded sum (mirrored
    in SQL, so the final value is deterministic).

    Scale shape: neighbor search is the BLAS-batched `knn_join` (one
    broadcast of the quantized query matrix, per-batch top-k, one
    window shuffle of n*k rows); everything after is (n x 2) rows. The
    k=8 shortlist bounds duplicate tolerance: a vector whose top 8
    neighbors are ALL exact duplicates falls back to dropping out —
    document, don't chase, that corner (run dedup first). At 100 TB
    swap the scorer for banded-LSH candidates exactly as
    `mutual_knn_degrees` documents.
    """
    from pyspark.sql import Window

    from pythonvectordb_spark.operators.search import knn_join

    queries = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col))
    topk = knn_join(emb, queries, k=8, data_id=id_col, query_vec=vec_col)
    d9 = F.round(F.lit(1.0) - F.col("score"), 9)
    cand = topk.select(
        "query_id", F.col(id_col).alias("nbr"), d9.alias("d")
    ).where((F.col("d") > 0) & (F.col("query_id") != F.col("nbr")))
    w = Window.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("nbr").asc())
    rk = cand.select("query_id", "d", F.row_number().over(w).alias("rn")).where(
        F.col("rn") <= 2
    )
    per = rk.groupBy("query_id").agg(
        F.min(F.when(F.col("rn") == 1, F.col("d"))).alias("r1"),
        F.min(F.when(F.col("rn") == 2, F.col("d"))).alias("r2"),
    ).where(F.col("r1").isNotNull() & F.col("r2").isNotNull())
    g = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(F.sum(F.log(F.col("r2") / F.col("r1"))), 6).alias("sum_log_mu"),
    )
    return g.select(
        "n_vectors",
        "sum_log_mu",
        F.round(F.col("n_vectors").cast("double") / F.col("sum_log_mu"), 6).alias(
            "id_twonn"
        ),
    )


def mann_whitney(
    df: DataFrame, value_col: str = "n_chars", group_col: str = "source"
) -> DataFrame:
    """One-vs-rest Mann-Whitney U for each group's value distribution
    against the rest of the corpus — the nonparametric "is this source's
    length profile different" test behind per-source truncation and
    chunking policy: |z| large means the source needs its OWN packing
    parameters, not the corpus defaults. Complements `source_kl_matrix`
    (token mix) with a rank test on a numeric column that is robust to
    the heavy tails `trimmed_stats` documents.

    Determinism: ranks never materialize per row — per distinct value v
    the DOUBLED midrank is 2B_v + c_v + 1 (B = count below, c = tie
    count), an exact int64, so each group's doubled rank sum S2, the
    doubled U statistic U2 = S2 - n1*(n1+1), and the tie correction
    sum(c^3 - c) are all exact integers; the z-score's single promotion
    to double (no continuity correction — documented, both engines
    identical) is ROUNDED 6, effect size rank-biserial r = ROUNDED 6.

    Scale shape: one grouped count per (group, value) and one per value
    (map-side combined); the midrank window runs over the DISTINCT
    value frame (bounded by value cardinality, not rows — n_chars is
    e3-e4 distinct at any corpus size); everything after is
    group-cardinality sized. No row-level window, no self-join.
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("long")
    sv = (
        df.select(F.col(group_col).alias("g"), v.alias("v"))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cg"))
    )
    vc = (
        df.select(v.alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wcum = Window.orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    mid = vc.select(
        "v",
        "c",
        (F.lit(2) * (F.sum("c").over(wcum) - F.col("c")) + F.col("c") + F.lit(1))
        .cast("long")
        .alias("mr2"),
    ).localCheckpoint(eager=False)
    tots = mid.agg(
        F.sum("c").cast("long").alias("n_total"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie3"),
    ).withColumn("_one", F.lit(1))
    per = (
        sv.join(mid.select("v", "mr2"), "v")
        .groupBy("g")
        .agg(
            F.sum("cg").cast("long").alias("n1"),
            F.sum(F.col("cg") * F.col("mr2")).cast("long").alias("s2"),
        )
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(tots), "_one")
    )
    n1 = F.col("n1").cast("double")
    n2 = (F.col("n_total") - F.col("n1")).cast("double")
    nt = F.col("n_total").cast("double")
    u2 = (F.col("s2") - F.col("n1") * (F.col("n1") + F.lit(1))).cast("long")
    # var(U) with tie correction, all factors from exact integers
    varu = (n1 * n2 / F.lit(12.0)) * (
        (nt + F.lit(1.0)) - F.col("tie3").cast("double") / (nt * (nt - F.lit(1.0)))
    )
    z = (u2.cast("double") / F.lit(2.0) - n1 * n2 / F.lit(2.0)) / F.sqrt(varu)
    rbc = F.lit(1.0) - u2.cast("double") / (n1 * n2)
    # a fully-tied column drives the tie-corrected variance to exactly
    # zero: the test is undefined there — NULL, not a divide-by-zero
    return per.select(
        F.col("g").alias(group_col),
        F.col("n1").alias("n_group"),
        (F.col("n_total") - F.col("n1")).cast("long").alias("n_rest"),
        u2.alias("u2"),
        F.when(varu > 0, F.round(z, 6)).alias("z"),
        F.round(rbc, 6).alias("rank_biserial"),
    )


def kruskal_wallis(
    df: DataFrame, value_col: str = "value", group_col: str = "event_type"
) -> DataFrame:
    """Kruskal-Wallis H test: the k-group generalization of
    `mann_whitney` — "does ANY group's value distribution differ",
    rank-based so the heavy tails that break `value_anova`'s normality
    assumption don't break this. Run it first; a significant H is the
    license to spend k one-vs-rest U tests finding WHICH group.

    Determinism: the `mann_whitney` doubled-midrank discipline — per
    distinct value the doubled midrank 2B+c+1 is exact int64, so each
    group's doubled rank sum S2 and the tie correction sum(c^3-c) are
    exact integers; H = 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1) with
    R_g = S2_g/2 assembles in ONE pinned double order (the per-group
    S2^2/(4n) division is the only per-group float), tie-corrected
    H' = H / (1 - tie3/(N^3-N)), both ROUNDED 6.

    Scale shape: one grouped count per (group, value) and one per value
    (map-side combined); the midrank window runs over the DISTINCT
    value frame; everything after is group-cardinality sized.
    """
    from pyspark.sql import Window

    cents = F.round(F.col(value_col) * 100).cast("long")
    sv = (
        df.select(F.col(group_col).alias("g"), cents.alias("v"))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cg"))
    )
    vc = (
        df.select(cents.alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wcum = Window.orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    mid = vc.select(
        "v",
        "c",
        (F.lit(2) * (F.sum("c").over(wcum) - F.col("c")) + F.col("c") + F.lit(1))
        .cast("long")
        .alias("mr2"),
    ).localCheckpoint(eager=False)
    tots = mid.agg(
        F.sum("c").cast("long").alias("n_total"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie3"),
    ).withColumn("_one", F.lit(1))
    per = (
        sv.join(mid.select("v", "mr2"), "v")
        .groupBy("g")
        .agg(
            F.sum("cg").cast("long").alias("n1"),
            F.sum(F.col("cg") * F.col("mr2")).cast("long").alias("s2"),
        )
    )
    g = (
        per.agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum(
                F.col("s2").cast("double")
                * F.col("s2").cast("double")
                / (F.lit(4.0) * F.col("n1").cast("double"))
            ).alias("rsum2n"),
        )
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(tots), "_one")
    )
    nt = F.col("n_total").cast("double")
    h = (
        F.lit(12.0) / (nt * (nt + F.lit(1.0))) * F.col("rsum2n")
        - F.lit(3.0) * (nt + F.lit(1.0))
    )
    ct = F.lit(1.0) - F.col("tie3").cast("double") / (nt * nt * nt - nt)
    ok = (F.col("k") > 1) & (F.col("n_total") > F.col("k"))
    # every row tied at one value drives the correction to exactly 0:
    # the test is undefined there — NULL, not a divide-by-zero
    return g.select(
        F.col("k").alias("n_groups"),
        F.col("n_total").alias("n_rows"),
        F.when(ok, F.round(h, 6)).alias("h_raw"),
        F.when(ok & (ct > 0), F.round(h / ct, 6)).alias("h_stat"),
    )


def brown_forsythe(
    df: DataFrame, value_col: str = "value", group_col: str = "event_type"
) -> DataFrame:
    """Brown-Forsythe test of variance homogeneity: ANOVA on absolute
    deviations from the GROUP MEDIAN — "do these groups differ in
    SPREAD", the companion question to `value_anova`'s location test
    (per-group thresholds need re-centering when location shifts but
    re-SCALING when this rejects). Median-based, so heavy tails don't
    masquerade as variance differences (that robustness over Levene's
    mean-based variant is the point).

    Determinism: group medians ride the doubled-median trick (med2 =
    the sum of the two middle order statistics, exact int64, located on
    the distinct-value frame by cumulative count ranges — no row-grain
    rank window); z = |2*cents - med2| is exact int64 per distinct
    value, so the per-group (n, sum z, sum z^2) moments are exact
    integers and the F statistic assembles in `value_anova`'s pinned
    double order, ROUNDED 6.

    Scale shape: one grouped count per (group, value); the cumulative
    window and the middle-position lookup run on that distinct-value
    frame (value-cardinality bounded); the moment aggregate is over the
    same frame weighted by counts; everything after is k-row algebra.
    """
    from pyspark.sql import Window

    cents = F.round(F.col(value_col) * 100).cast("long")
    gv = (
        df.select(F.col(group_col).alias("g"), cents.alias("v"))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cg"))
    )
    wcum = (
        Window.partitionBy("g")
        .orderBy(F.col("v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("g")
    ranged = gv.select(
        "g",
        "v",
        "cg",
        F.sum("cg").over(wcum).cast("long").alias("hi"),
        F.sum("cg").over(wall).cast("long").alias("n"),
    ).localCheckpoint(eager=False)
    lo = F.col("hi") - F.col("cg") + F.lit(1)
    k1 = (F.col("n") + 1) / F.lit(2)
    k2 = (F.col("n") + 2) / F.lit(2)
    # med2 = v at position floor((n+1)/2) plus v at floor((n+2)/2)
    # (both the same position when n is odd -> exactly 2*median)
    med2 = ranged.groupBy("g").agg(
        F.sum(
            F.col("v")
            * (
                (F.floor(k1).between(lo, F.col("hi"))).cast("long")
                + (F.floor(k2).between(lo, F.col("hi"))).cast("long")
            )
        )
        .cast("long")
        .alias("med2")
    )
    z = F.abs(F.lit(2) * F.col("v") - F.col("med2"))
    per = (
        ranged.join(F.broadcast(med2), "g")
        .groupBy("g")
        .agg(
            F.max("n").cast("long").alias("ng"),
            F.sum(F.col("cg") * z).cast("long").alias("s"),
            F.sum(F.col("cg") * z * z).cast("long").alias("q"),
        )
    )
    t = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("ss"),
        F.sum("q").cast("long").alias("qq"),
        F.sum(
            F.col("s").cast("double") * F.col("s").cast("double")
            / F.col("ng").cast("double")
        ).alias("sg2n"),
    )
    nn = F.col("nn").cast("double")
    ssb = F.col("sg2n") - F.col("ss").cast("double") * F.col("ss").cast("double") / nn
    ssw = F.col("qq").cast("double") - F.col("sg2n")
    kd = F.col("k").cast("double")
    fstat = (ssb / (kd - F.lit(1.0))) / (ssw / (nn - kd))
    ok = (F.col("k") > 1) & (F.col("nn") > F.col("k"))
    return t.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_rows"),
        F.when(ok & (ssw > 0), F.round(fstat, 6)).alias("bf_stat"),
    )


def cohens_kappa(
    df: DataFrame,
    rater_a,
    rater_b,
) -> DataFrame:
    """Cohen's kappa between two binary judges: chance-corrected
    agreement — the gate-audit statistic for "is my cheap heuristic
    filter actually agreeing with the expensive one beyond what the
    base rates force". kappa near 0 with high raw agreement means the
    agreement is all prevalence; the cheap gate adds nothing.

    ``rater_a`` / ``rater_b`` are boolean Column expressions over the
    input frame (deterministic rule gates — the registered call pairs a
    length gate with a token-count gate on documents).

    Determinism: the 2x2 cell counts are exact int64; p_o and p_e are
    two double divisions from those integers in one pinned order,
    kappa = (p_o - p_e)/(1 - p_e), all ROUNDED 6; NULL when p_e = 1
    (a constant rater makes kappa undefined).

    Scale shape: ONE map-side-combined aggregate over the corpus — the
    four cells are conditional sums in a single pass; everything after
    is one-row algebra.
    """
    a = rater_a.cast("long")
    b = rater_b.cast("long")
    t = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(a * b).cast("long").alias("n11"),
        F.sum(a * (1 - b)).cast("long").alias("n10"),
        F.sum((1 - a) * b).cast("long").alias("n01"),
        F.sum((1 - a) * (1 - b)).cast("long").alias("n00"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / nd
    pe = (
        (F.col("n11") + F.col("n10")).cast("double")
        * (F.col("n11") + F.col("n01")).cast("double")
        + (F.col("n01") + F.col("n00")).cast("double")
        * (F.col("n10") + F.col("n00")).cast("double")
    ) / (nd * nd)
    return t.select(
        F.col("n").alias("n_rows"),
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.when(pe < 1.0, F.round((po - pe) / (F.lit(1.0) - pe), 6)).alias("kappa"),
    )


def ivf_silhouette(df: DataFrame, centroids, vec_col: str = "embedding") -> DataFrame:
    """Simplified (centroid-based) silhouette per IVF cell: a = angular
    distance to the ASSIGNED (nearest) centroid, b = distance to the
    runner-up, s = (b-a)/max(a,b) in [0,1]. The partition-quality
    companion to `ivf_balance` (sizes) — mean s near 0 says the cell's
    vectors sit on the boundary (nprobe must grow to hold recall; see
    `ann_recall_curve`), s near 1 says one probe suffices. This is the
    per-vector simplified silhouette (centroid distances, not pairwise)
    — the only formulation that avoids an n^2 pairwise pass, hence the
    one that exists at 100 TB.

    Determinism: the sims vector is the SAME bound HOF expression the
    search path argmaxes over (`search.ivf_sims_expr`); the runner-up
    is element 2 of the descending sort (both engines sort doubles
    identically); per-vector s is ROUNDED 9, the per-cell mean ROUNDED
    6 (sum-order noise ~1e-15 vs the 1e-6 grid).

    Scale shape: one narrow projection (sims array -> cluster, s) and
    one grouped aggregate on cluster. No join, no window, no shuffle
    beyond the k-cell aggregate.
    """
    from pythonvectordb_spark.operators.search import ivf_sims_expr

    base = df.select(ivf_sims_expr(vec_col, centroids).alias("sims"))
    mx = F.array_max(F.col("sims"))
    second = F.element_at(F.sort_array(F.col("sims"), False), 2)
    a = F.lit(1.0) - mx
    b = F.lit(1.0) - second
    s = F.when(
        F.greatest(a, b) > 0, F.round((b - a) / F.greatest(a, b), 9)
    ).otherwise(F.lit(0.0))
    cluster = (F.array_position(F.col("sims"), mx) - 1).cast("int")
    per = base.select(cluster.alias("cluster"), s.alias("sil"))
    return per.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(F.avg("sil"), 6).alias("mean_sil"),
        F.round(F.min("sil"), 9).alias("min_sil"),
    )


def embedding_effective_rank(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Effective (participation-ratio) rank of the quantized embedding
    Gram matrix: (tr C)^2 / ||C||_F^2 = (sum lambda)^2 / sum lambda^2 —
    how many directions the corpus actually spans. The spectral
    companion to `twonn_intrinsic_dim` (manifold dimension) and
    `embedding_dimension_stats` (per-axis moments): effective rank far
    below dim means PQ sub-spaces and random-hyperplane LSH planes are
    mostly hashing noise dimensions.

    Determinism: vectors are the int8 quantization the whole K-family
    pins (`functions.vector.quantize(l2_normalize(.))`), so C = X^T X
    is EXACT int64 in any summation order; trace is int64, Frobenius^2
    is exact DECIMAL(38,0) (diagonal entries square past int64),
    mirrored by HUGEINT in the oracle; the single final division is
    double, ROUNDED 6. Zero float discipline anywhere.

    Scale shape: the per-partition BLAS Gram (`knn_join` discipline —
    Arrow in, one int64 matmul per batch) emits d(d+1)/2 partial rows
    per BATCH independent of n; the only shuffle is the d^2-sized
    grouped sum of partials. At 100 TB: map-side d x d accumulators,
    a 2080-row reduce.
    """
    import numpy as np
    import pandas as pd

    from pythonvectordb_spark.functions import vector as VEC

    q = df.select(VEC.quantize(VEC.l2_normalize(vec_col)).alias("qv"))
    dim = None

    def gram(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf["qv"].to_numpy()).astype(np.int64)
            c = m.T @ m
            iu = np.triu_indices(c.shape[0])
            # sentinel row (-1, -1, batch_row_count) rides along so the
            # vector count needs no second pass over the table
            yield pd.DataFrame(
                {
                    "i": np.append(iu[0], -1).astype("int32"),
                    "j": np.append(iu[1], -1).astype("int32"),
                    "s": np.append(c[iu], len(pdf)).astype("int64"),
                }
            )

    # reduce partials to the TOTAL C_ij before any squaring — squaring
    # per-batch partials is wrong the moment the table spans >1 Arrow
    # batch (the d^2-row shuffle this buys is the operator's only one)
    partials = (
        q.mapInPandas(gram, schema="i int, j int, s long")
        .groupBy("i", "j")
        .agg(F.sum("s").cast("long").alias("s"))
    )
    diag = F.col("i") == F.col("j")
    sdec = F.col("s").cast("decimal(38,0)")
    g = partials.agg(
        F.sum(F.when(F.col("i") == -1, F.col("s"))).cast("long").alias("n_vectors"),
        F.sum(F.when(diag & (F.col("i") >= 0), F.col("s"))).cast("long").alias("trace"),
        F.sum(
            F.when(F.col("i") >= 0, F.when(diag, F.lit(1)).otherwise(F.lit(2)).cast("decimal(38,0)") * sdec * sdec)
        )
        .cast("decimal(38,0)")
        .alias("frob2"),
        F.max(F.when(F.col("i") >= 0, F.col("j"))).cast("int").alias("_jmax"),
    )
    tr2 = F.col("trace").cast("decimal(38,0)")
    return g.select(
        "n_vectors",
        (F.col("_jmax") + 1).alias("dim"),
        "trace",
        F.round(
            (tr2 * tr2).cast("double") / F.col("frob2").cast("double"), 6
        ).alias("eff_rank"),
    )


def contingency_chisq(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, with Cramer's V effect size — the generic "are these two
    keys actually related" audit (registered: order priority x customer
    market segment; the same operator answers lang x source, type x
    hour-band, any pair of shuffle-key candidates). V near 0 says the
    keys are independent — composite partitioning by both buys nothing
    over either alone.

    Determinism: each cell's term is (N*o - r*c)^2 / (N*r*c) — the
    numerator square is exact DECIMAL(38,0) (HUGEINT in the oracle;
    N*o and r*c pass int64 squares at sf>=0.1), the denominator exact
    int64, ONE double division per cell and a cells-count double sum
    (bounded by category cardinalities), ROUNDED 6.

    Scale shape: one grouped count on the (row, col) pair (map-side
    combined); marginals are grouped sums OF THE CELL FRAME (never a
    second corpus scan) joined back broadcast; the final aggregate runs
    over r*c cells.
    """
    cells = (
        df.select(F.col(row_col).alias("r"), F.col(col_col).alias("c"))
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .localCheckpoint(eager=False)
    )
    rm = cells.groupBy("r").agg(F.sum("o").cast("long").alias("rsum"))
    cm = cells.groupBy("c").agg(F.sum("o").cast("long").alias("csum"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("nn"),
        F.countDistinct("r").cast("long").alias("nr"),
        F.countDistinct("c").cast("long").alias("nc"),
    ).withColumn("_one", F.lit(1))
    # complete the r x c grid: UNOBSERVED cells still owe their
    # (0 - e)^2/e = e term — summing only observed pairs understates
    # chi-square exactly when the association is strongest
    grid = rm.withColumn("_one", F.lit(1)).join(
        F.broadcast(cm.withColumn("_one", F.lit(1))), "_one"
    ).drop("_one")
    j = (
        grid.join(F.broadcast(cells), ["r", "c"], "left")
        .select("r", "c", "rsum", "csum", F.coalesce("o", F.lit(0)).alias("o"))
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(tot), "_one")
    )
    dev = (F.col("nn") * F.col("o") - F.col("rsum") * F.col("csum")).cast(
        "decimal(38,0)"
    )
    term = (dev * dev).cast("double") / (
        F.col("nn") * F.col("rsum") * F.col("csum")
    ).cast("double")
    g = j.agg(
        F.max("nn").alias("n_rows"),
        F.max("nr").alias("n_r"),
        F.max("nc").alias("n_c"),
        F.sum(term).alias("_chi"),
    )
    dof = ((F.col("n_r") - 1) * (F.col("n_c") - 1)).cast("long")
    vden = (
        F.col("n_rows").cast("double")
        * (F.least(F.col("n_r"), F.col("n_c")) - F.lit(1)).cast("double")
    )
    return g.select(
        "n_rows",
        dof.alias("dof"),
        F.round(F.col("_chi"), 6).alias("chisq"),
        F.round(F.sqrt(F.col("_chi") / vden), 6).alias("cramers_v"),
    )


def source_decile_shift(
    df: DataFrame, value_col: str = "n_chars", group_col: str = "source"
) -> DataFrame:
    """Per-source decile table of a numeric column against the corpus
    deciles — the Q-Q shift profile behind `mann_whitney`'s verdict:
    the U test says WHETHER a source's length distribution differs;
    this says WHERE (a source long only above d7 needs a truncation
    cap, one shifted everywhere needs its own chunker). shift > 0 at
    decile k: this source is longer than the corpus at that quantile.

    Determinism: nearest-rank deciles r_k = ceil(k*n/10) = (k*n+9)//10
    located on the DISTINCT-value frame by cumulative-count range
    checks (the `mann_whitney` discipline — no row-grain ranks), so
    every output column is exact int64.

    Scale shape: two grouped counts (per-group values, corpus values),
    windows over distinct-value frames only, one broadcast join of the
    9-row corpus decile table.
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("long")

    def deciles(vc: DataFrame, keys: list) -> DataFrame:
        part = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
        wcum = part.orderBy(F.col("v").asc()).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cu = vc.select(
            *keys, "v", "c", F.sum("c").over(wcum).cast("long").alias("cum")
        ).localCheckpoint(eager=False)
        tot = cu.groupBy(*keys).agg(F.max("cum").cast("long").alias("n"))
        ks = (
            tot.select(
                *keys,
                "n",
                F.explode(F.array(*[F.lit(k) for k in range(1, 10)])).alias("k"),
            )
            .select(
                *keys,
                "n",
                "k",
                F.floor((F.col("k") * F.col("n") + 9) / 10).cast("long").alias("r"),
            )
        )
        joined = (
            cu.join(F.broadcast(ks), keys) if keys else cu.crossJoin(F.broadcast(ks))
        )
        return (
            joined.where(
                ((F.col("cum") - F.col("c")) < F.col("r"))
                & (F.col("r") <= F.col("cum"))
            )
            .groupBy(*(keys + ["k"]))
            .agg(F.max("v").cast("long").alias("dv"))
        )

    gvc = (
        df.select(F.col(group_col).alias("g"), v.alias("v"))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cvc = df.select(v.alias("v")).groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    gd = deciles(gvc, ["g"])
    cd = deciles(cvc, []).withColumnsRenamed({"dv": "corpus_value"})
    return (
        gd.join(F.broadcast(cd), "k")
        .select(
            F.col("g").alias(group_col),
            F.col("k").cast("int").alias("decile"),
            F.col("dv").alias("source_value"),
            "corpus_value",
            (F.col("dv") - F.col("corpus_value")).cast("long").alias("shift"),
        )
    )


def value_anova(
    df: DataFrame, value_col: str = "value", group_col: str = "event_type"
) -> DataFrame:
    """One-way ANOVA of a numeric column across groups: F statistic and
    eta^2 (variance explained by group membership) — the "does this key
    actually stratify the metric" test that decides whether a per-group
    model/threshold (`event_type_medians`, per-type gates) is earning
    its keep. eta^2 near 0: one global threshold suffices; large F with
    small eta^2: statistically real but practically negligible.

    Determinism: per-group n, S = sum(cents), Q = sum(cents^2) are
    exact int64; SSB = sum_g S_g^2/n_g - S^2/N and SSW = Q - sum_g
    S_g^2/n_g are assembled from those integers in ONE pinned double
    operation order (the per-group S_g^2/n_g division is the only
    per-group float; k <= group cardinality terms), ROUNDED 6.

    Scale shape: one grouped aggregate (map-side combined) to the
    k-row moment frame; everything after is k-row algebra.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    g = (
        df.select(F.col(group_col).alias("g"), cents.alias("c"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("s"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("q"),
        )
    )
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("ss"),
        F.sum("q").cast("long").alias("qq"),
        F.sum(
            F.col("s").cast("double") * F.col("s").cast("double")
            / F.col("n").cast("double")
        ).alias("sg2n"),
    )
    nn = F.col("nn").cast("double")
    ssb = F.col("sg2n") - F.col("ss").cast("double") * F.col("ss").cast("double") / nn
    ssw = F.col("qq").cast("double") - F.col("sg2n")
    kd = F.col("k").cast("double")
    fstat = (ssb / (kd - F.lit(1.0))) / (ssw / (nn - kd))
    eta2 = ssb / (ssb + ssw)
    ok = (F.col("k") > 1) & (F.col("nn") > F.col("k"))
    # zero within-group variance (ssw = 0) makes F infinite and zero
    # total variance makes eta^2 0/0 — both are NULL, not errors
    return t.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_rows"),
        F.when(ok & (ssw > 0), F.round(fstat, 6)).alias("f_stat"),
        F.when(ok & ((ssb + ssw) > 0), F.round(eta2, 6)).alias("eta_sq"),
    )


def lognormal_jb(df: DataFrame, value_col: str = "o_totalprice") -> DataFrame:
    """Jarque-Bera normality test on the LOG of a positive money column
    — "is this distribution lognormal", the assumption behind using
    geometric means and log-scale bucketing for order values. JB large:
    the log values are skewed/heavy-tailed beyond normal, so log-scale
    equi-width histograms will misbin the tail (`hill_tail_index` then
    says how badly).

    Determinism: x = ln(exact integer cents) per row; the four moment
    sums are double sums over rows (the `event_value_regression`
    single-pass moment discipline — bounded magnitudes keep float noise
    far below the 1e-6 grain); skewness, excess kurtosis, and JB =
    n/6*(S^2 + K^2/4) assemble in one pinned operation order,
    ROUNDED 6.

    Scale shape: one map-side-combined global aggregate. Nothing else.
    """
    x = F.log(F.round(F.col(value_col) * 100).cast("long").cast("double"))
    t = df.select(x.alias("x")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x")).alias("s4"),
    )
    n = F.col("n").cast("double")
    m = F.col("s1") / n
    # central moments from raw moments, one pinned order
    m2 = F.col("s2") / n - m * m
    m3 = F.col("s3") / n - F.lit(3.0) * m * (F.col("s2") / n) + F.lit(2.0) * m * m * m
    m4 = (
        F.col("s4") / n
        - F.lit(4.0) * m * (F.col("s3") / n)
        + F.lit(6.0) * m * m * (F.col("s2") / n)
        - F.lit(3.0) * m * m * m * m
    )
    skew = m3 / (m2 * F.sqrt(m2))
    exk = m4 / (m2 * m2) - F.lit(3.0)
    jb = n / F.lit(6.0) * (skew * skew + exk * exk / F.lit(4.0))
    return t.select(
        F.col("n").alias("n_rows"),
        F.round(skew, 6).alias("log_skewness"),
        F.round(exk, 6).alias("log_excess_kurtosis"),
        F.round(jb, 6).alias("jarque_bera"),
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_label: str = "n_rows",
) -> DataFrame:
    """Spearman rank correlation between two integer-valued columns —
    the tie-aware monotone-association companion to `kendall_tau`
    (concordance) and the Pearson moments (`supplier_balance_corr`):
    rho is Pearson r computed on midranks, robust to the heavy tails
    and nonlinearity that break raw-value correlation.

    Determinism: ranks never materialize per row (the `mann_whitney`
    value-frame recipe) — per distinct value the DOUBLED midrank
    2B + c + 1 is an exact int64, and rho is scale-invariant so the
    doubling cancels. The five weighted moments are computed over the
    (x, y) PAIR-count frame with DECIMAL(38,0) cross-products (HUGEINT
    in the oracle; squared doubled ranks pass int64 at corpus scale),
    and rho is assembled from exact integers in ONE pinned double
    operation order, ROUNDED 6; NULL on zero variance.

    Scale shape: one grouped count on (x, y) — map-side combined; the
    two midrank windows run over DISTINCT-value frames (bounded by
    value cardinality, not rows); the moment aggregation runs over the
    |X|·|Y| pair frame. Built for low-cardinality measures (discounts,
    quantities, bucketed scores); for continuous columns bucket first —
    the pair frame is the product of the cardinalities.
    """
    from pyspark.sql import Window

    pairs = (
        df.select(F.col(x_col).cast("long").alias("x"), F.col(y_col).cast("long").alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("cxy"))
        .localCheckpoint(eager=False)
    )

    def mid(col: str, out: str) -> DataFrame:
        wcum = Window.orderBy(F.col(col).asc()).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        vc = pairs.groupBy(col).agg(F.sum("cxy").cast("long").alias("c"))
        return vc.select(
            col,
            (F.lit(2) * (F.sum("c").over(wcum) - F.col("c")) + F.col("c") + F.lit(1))
            .cast("long")
            .alias(out),
        )

    j = pairs.join(F.broadcast(mid("x", "mr2x")), "x").join(
        F.broadcast(mid("y", "mr2y")), "y"
    )
    cd = F.col("cxy").cast("decimal(38,0)")
    xd = F.col("mr2x").cast("decimal(38,0)")
    yd = F.col("mr2y").cast("decimal(38,0)")
    g = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("cxy").cast("long").alias("n"),
        F.sum(F.col("cxy") * F.col("mr2x")).cast("long").alias("sx"),
        F.sum(F.col("cxy") * F.col("mr2y")).cast("long").alias("sy"),
        F.sum(cd * xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(cd * xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.sum(cd * yd * yd).cast("decimal(38,0)").alias("syy"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    sxd = F.col("sx").cast("decimal(38,0)")
    syd = F.col("sy").cast("decimal(38,0)")
    num = (nd * F.col("sxy") - sxd * syd).cast("double")
    vx = (nd * F.col("sxx") - sxd * sxd).cast("double")
    vy = (nd * F.col("syy") - syd * syd).cast("double")
    return g.select(
        F.col("n").alias(n_label),
        "n_cells",
        F.when((vx > 0) & (vy > 0), F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6)).alias(
            "spearman_rho"
        ),
    )


def welch_ttest_matrix(
    df: DataFrame, value_col: str = "n_chars", group_col: str = "source"
) -> DataFrame:
    """Pairwise Welch's t-test + effect sizes over every unordered group
    pair (new round 7): the unequal-variance two-sample location test
    that `mann_whitney` is the rank-based cousin of, plus the numbers a
    data-pipeline report actually quotes — Cohen's d (pooled-SD
    standardized difference) and the small-sample Hedges' g correction
    J = 1 - 3/(4(n1+n2)-9). Welch-Satterthwaite df rides along so the
    reader can judge the normal approximation.

    Determinism: per-group (n, sum, sum-of-squares) are exact int64;
    every downstream number is a pinned-order double expression over
    those six integers per pair (sums promoted BEFORE squaring so the
    square can never overflow the integer lattice), ROUNDED 6 — the
    `source_js_matrix` pairwise discipline.

    Scale shape: ONE map-side-combined grouped aggregation to the
    group-cardinality frame, then a broadcast self-join over group
    pairs (G^2/2 rows for G groups — report-sized). Degenerate groups
    (n < 2) produce NULL stats rather than dividing by zero.
    """
    per = (
        df.select(F.col(group_col).alias("g"), F.col(value_col).cast("long").alias("v"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("s"),
            F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
        )
        .localCheckpoint(eager=False)  # both sides of the pair join
    )
    a, b = per.alias("a"), per.alias("b")
    j = a.join(F.broadcast(b), F.col("a.g") < F.col("b.g"))

    def stats(side):
        n = F.col(f"{side}.n").cast("double")
        s = F.col(f"{side}.s").cast("double")
        ss = F.col(f"{side}.ss").cast("double")
        mean = s / n
        var = F.when(n > 1.0, (ss - s * s / n) / (n - 1.0))
        return n, mean, var

    n1, m1, v1 = stats("a")
    n2, m2, v2 = stats("b")
    se1, se2 = v1 / n1, v2 / n2
    se = se1 + se2
    t = (m1 - m2) / F.sqrt(se)
    dfw = (se * se) / (
        se1 * se1 / (n1 - 1.0) + se2 * se2 / (n2 - 1.0)
    )
    sp = F.sqrt(((n1 - 1.0) * v1 + (n2 - 1.0) * v2) / (n1 + n2 - 2.0))
    d = (m1 - m2) / sp
    jf = F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (n1 + n2) - F.lit(9.0))
    return j.select(
        F.col("a.g").alias("source_a"),
        F.col("b.g").alias("source_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round(m1, 6).alias("mean_a"),
        F.round(m2, 6).alias("mean_b"),
        F.round(t, 6).alias("t_welch"),
        F.round(dfw, 6).alias("df_welch"),
        F.round(d, 6).alias("cohen_d"),
        F.round(jf * d, 6).alias("hedges_g"),
    )


def mahalanobis_outliers(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    chi2_99: float = 9.21034,
) -> DataFrame:
    """Diagonal-covariance Mahalanobis outlier census per event type
    (new round 7): z^2 = ((cents - mean_c)/sd_c)^2 +
    ((hour - mean_h)/sd_h)^2 over the (value, hour-of-day) pair —
    the MULTIVARIATE companion to `event_outliers`' one-dimensional
    fences: a 3 a.m. purchase of a typical amount and a typical-hour
    purchase of an extreme amount both rank, and the count above the
    chi-squared(2df, 99%) threshold 9.21 is the joint-anomaly budget a
    monitor pages on.

    Determinism: per-type moments come from exact int64 sums of cents
    and hours; each row's z^2 is then a deterministic double
    expression of those (no float accumulation order anywhere near
    the threshold comparison); the max z^2 is an exact MAX over
    deterministic doubles, ROUNDED 6.

    Scale shape: one grouped integer-moment aggregation (map-side
    combined), a broadcast of the per-type moment row back onto the
    events, one filtered count — two passes over the scan, no window,
    no sort.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    hour = F.hour(F.col(ts_col)).cast("long")
    base = df.select(
        F.col(type_col).alias("t"), cents.alias("v"), hour.alias("h")
    )
    mom = base.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("svv"),
        F.sum("h").cast("long").alias("sh"),
        F.sum(F.col("h") * F.col("h")).cast("long").alias("shh"),
    )
    nd = F.col("n").cast("double")
    mv = F.col("sv").cast("double") / nd
    vv = (F.col("svv").cast("double") - F.col("sv").cast("double") * F.col("sv").cast("double") / nd) / (nd - F.lit(1.0))
    mh = F.col("sh").cast("double") / nd
    vh = (F.col("shh").cast("double") - F.col("sh").cast("double") * F.col("sh").cast("double") / nd) / (nd - F.lit(1.0))
    momx = mom.select(
        "t", "n", mv.alias("mv"), vv.alias("vv"), mh.alias("mh"), vh.alias("vh")
    )
    z2 = (
        (F.col("v").cast("double") - F.col("mv"))
        * (F.col("v").cast("double") - F.col("mv"))
        / F.col("vv")
        + (F.col("h").cast("double") - F.col("mh"))
        * (F.col("h").cast("double") - F.col("mh"))
        / F.col("vh")
    )
    scored = base.join(F.broadcast(momx), "t").select(
        "t", "n", z2.alias("z2")
    )
    return (
        scored.groupBy("t", "n")
        .agg(
            F.sum((F.col("z2") > F.lit(float(chi2_99))).cast("long"))
            .cast("long")
            .alias("n_outliers"),
            F.max("z2").alias("max_z2"),
        )
        .select(
            F.col("t").alias("event_type"),
            "n",
            "n_outliers",
            F.round(
                F.col("n_outliers").cast("double") / F.col("n").cast("double"), 6
            ).alias("outlier_rate"),
            F.round(F.col("max_z2"), 6).alias("max_z2"),
        )
    )


def ks_bh_fdr_matrix(
    df: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
    alpha: float = 0.05,
) -> DataFrame:
    """Pairwise two-sample Kolmogorov-Smirnov distances between every
    source's length distribution, with Benjamini-Hochberg FDR control
    over the whole pair matrix (new round 7): `ks_drift` tests ONE
    split; a 20-source corpus has 190 simultaneous pair tests, and
    without FDR control ~10 of them "fail" at alpha=0.05 by chance
    alone. BH is the standard fix: rank the p-values ascending, find
    the largest k with p_(k) <= k*alpha/m, reject ranks 1..k.

    Determinism: per-source ECDF steps are exact int64 cumulative
    counts on the shared value grid; the KS numerator max|cume_a*n_b -
    cume_b*n_a| never leaves the integer lattice, so D = that /
    (n_a*n_b) is one division. The p-value is the one-term asymptotic
    2*exp(-2*ne*D^2) with ne*D^2 = D_num^2 / ((n_a+n_b)*n_a*n_b) exact
    rational — one exp per pair, ROUNDED 6. Ranking tie-break:
    (p, source_a, source_b).

    Scale shape: one grouped count to the (group, value) grain, a
    groups x grid fill (report-sized: G * |distinct values|), one
    cumulative window per group, one equi-join on the grid value for
    all pairs at once, then windows over the G^2/2-row pair frame.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(group_col).alias("g"), F.col(value_col).cast("long").alias("v")
    ).localCheckpoint(eager=False)  # feeds counts, the grid, and group sizes
    counts = base.groupBy("g", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    grid = base.select("v").distinct()
    groups = base.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n"))
    filled = (
        grid.crossJoin(F.broadcast(groups))
        .join(counts, ["g", "v"], "left")
        .select(
            "g",
            "v",
            "n",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    wc = Window.partitionBy("g").orderBy(F.asc("v")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ecdf = filled.select(
        "g", "v", "n", F.sum("c").over(wc).cast("long").alias("cume")
    ).localCheckpoint(eager=False)  # both sides of the pair join
    a, b = ecdf.alias("a"), ecdf.alias("b")
    pairs = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.g") < F.col("b.g")))
        .groupBy(
            F.col("a.g").alias("source_a"),
            F.col("b.g").alias("source_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(
            F.max(
                F.abs(
                    F.col("a.cume") * F.col("b.n") - F.col("b.cume") * F.col("a.n")
                )
            )
            .cast("long")
            .alias("d_num")
        )
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    dn = F.col("d_num").cast("double")
    lam2 = dn * dn / ((na + nb) * na * nb)  # = ne * D^2, exact rational
    p = F.least(F.lit(1.0), F.lit(2.0) * F.exp(F.lit(-2.0) * lam2))
    scored = pairs.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        F.round(dn / (na * nb), 6).alias("d_stat"),
        p.alias("_p"),
    )
    wr = Window.orderBy(F.asc("_p"), F.asc("source_a"), F.asc("source_b"))
    wall = Window.partitionBy()
    ranked = scored.select(
        "*",
        F.row_number().over(wr).cast("long").alias("p_rank"),
        F.count(F.lit(1)).over(wall).cast("long").alias("m"),
    ).select(
        "*",
        (
            F.col("_p")
            <= F.col("p_rank").cast("double") * F.lit(float(alpha)) / F.col("m").cast("double")
        ).alias("_under"),
    )
    kstar = ranked.select(
        "*",
        F.max(F.when(F.col("_under"), F.col("p_rank")).otherwise(F.lit(0)))
        .over(wall)
        .cast("long")
        .alias("_kstar"),
    )
    return kstar.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        "d_stat",
        F.round(F.col("_p"), 6).alias("p_ks"),
        "p_rank",
        F.round(
            F.col("p_rank").cast("double") * F.lit(float(alpha)) / F.col("m").cast("double"),
            6,
        ).alias("bh_cut"),
        (F.col("p_rank") <= F.col("_kstar")).cast("long").alias("rejected"),
    )


def stratification_design_effect(
    df: DataFrame, value_col: str = "n_chars", group_col: str = "source"
) -> DataFrame:
    """Design effect of source-stratified sampling for estimating mean
    document length (new round 7): DEFF = V_stratified/V_srs under
    proportional allocation — the number that tells a curation pipeline
    how much cheaper a stratified quality-audit sample is than simple
    random sampling (`neyman_allocation` sizes the strata; this grades
    the design). DEFF = sum_h W_h * S_h^2 / S^2: the within-stratum
    variance share; 1 - DEFF is the variance the strata soak up.

    Determinism: per-stratum and total (n, sum, sum-of-squares) are
    exact int64; each stratum's W_h*S_h^2 term is one double expression
    over six integers and the cross-stratum sum follows the
    `value_anova` float-sum-then-round discipline (G report-sized
    strata), ROUNDED 6.

    Scale shape: one map-side-combined grouped aggregation to the
    stratum grain, one G-row reduction to a single verdict row.
    """
    per = (
        df.select(
            F.col(group_col).alias("g"), F.col(value_col).cast("long").alias("v")
        )
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_h"),
            F.sum("v").cast("long").alias("s_h"),
            F.sum(F.col("v") * F.col("v")).cast("long").alias("ss_h"),
        )
    )
    nh = F.col("n_h").cast("double")
    sh = F.col("s_h").cast("double")
    ssh = F.col("ss_h").cast("double")
    var_h = F.when(F.col("n_h") > 1, (ssh - sh * sh / nh) / (nh - F.lit(1.0)))
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("n_h").cast("long").alias("n"),
        F.sum("s_h").cast("long").alias("s"),
        F.sum("ss_h").cast("long").alias("ss"),
        F.sum(nh * var_h).alias("w_num"),  # sum_h n_h * S_h^2
    )
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    ss = F.col("ss").cast("double")
    var_tot = (ss - s * s / n) / (n - F.lit(1.0))
    deff = (F.col("w_num") / n) / var_tot
    # constant-column guard: zero total variance makes DEFF undefined —
    # emit NULL rather than engine-specific division-by-zero behavior
    live = var_tot > F.lit(0.0)
    return tot.select(
        F.col("n").alias("n_rows"),
        "n_strata",
        F.round(F.sqrt(var_tot), 6).alias("sd_total"),
        F.round(F.sqrt(F.col("w_num") / n), 6).alias("sd_within"),
        F.when(live, F.round(deff, 6)).alias("deff"),
        F.when(live, F.round((F.lit(1.0) - deff) * F.lit(100.0), 6)).alias(
            "var_reduction_pct"
        ),
    )


def quantization_saturation(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension int8 saturation audit of the K3 quantizer (new
    round 7): counts components that land ON the clamp boundary
    (|q| = 127) and in the top half of the code range (|q| >= 64) after
    normalize+quantize — the health check that catches a dimension
    whose mass concentrates so hard that 8-bit resolution collapses
    (`quantization_recall` measures the end effect on search; this
    localizes WHICH dimension burns the budget). All-zero saturation
    with unit-norm inputs is itself information: no axis dominates.

    Determinism: the quantized codes are exact int8 by K3's
    trunc-toward-zero contract (`functions/vector.quantize`), so every
    count is exact int64; the mean code and rates are one division
    each, ROUNDED 6.

    Scale shape: one posexplode to the (row x dim) grain — a narrow
    map, no shuffle until the dim-cardinality groupBy (64 groups,
    map-side combined).
    """
    from pythonvectordb_spark.functions.vector import l2_normalize, quantize

    q = emb.select(
        F.posexplode(quantize(l2_normalize(F.col(vec_col)))).alias("dim", "q")
    )
    g = q.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.abs(F.col("q")) == 127).cast("long")).cast("long").alias("n_sat"),
        F.sum((F.abs(F.col("q")) >= 64).cast("long")).cast("long").alias("n_high"),
        F.min("q").cast("int").alias("min_q"),
        F.max("q").cast("int").alias("max_q"),
        F.sum(F.col("q").cast("long")).cast("long").alias("s_q"),
    )
    nd = F.col("n").cast("double")
    return g.select(
        F.col("dim").cast("int").alias("dim"),
        "n",
        "n_sat",
        F.round(F.col("n_sat").cast("double") / nd, 6).alias("sat_rate"),
        "n_high",
        F.round(F.col("n_high").cast("double") / nd, 6).alias("high_rate"),
        "min_q",
        "max_q",
        F.round(F.col("s_q").cast("double") / nd, 6).alias("mean_q"),
    )
