"""Vector surface: knn/ANN (LSH/IVF/PQ), mutation, quantization and embedding-audit queries with their DuckDB oracles.

Mechanically split from the former single-file registry.py (round 8)
with zero semantic change; statement text is unchanged, only moved.
"""


from pythonvectordb_spark.registry._core import (
    DIM,
    DataFrame,
    F,
    FT,
    FX,
    M,
    MATRYOSHKA_PREFIXES,
    O,
    S,
    ST,
    SparkSession,
    _BATCH_SCHEMA,
    _DELETE_IDS,
    _LOOKUP_IDS,
    _emb,
    _fingerprint,
    _new_batch,
    _o_ann_ivf_pq,
    _o_ann_pq,
    _pq_sql_codes,
    _sql_fingerprint,
    _sql_int8_sym_cos,
    _sql_new_batch,
    _sql_sign_bits,
    l2_norm,
    load_table,
    pd,
)


def q_knn_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: reference search() — int8 cosine brute-force top-10."""
    out = S.knn_search(_emb(spark, sf_dir), FX.QUERY_VEC, k=10)
    return out.select("vec_id", F.round("score", 9).alias("score"))


def o_knn_search() -> str:
    qv = O.sql_qvec("embedding")
    return f"""
WITH q AS (SELECT vec_id, {qv} AS qvec FROM embeddings)
SELECT vec_id, round({O.sql_cosine_int8_lit(FX.QUERY_VEC, 'qvec')}, 9) AS score
FROM q ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def q_knn_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered search (reference filter_fn path, predicate-first)."""
    out = S.knn_search(_emb(spark, sf_dir), FX.QUERY_VEC_2, k=10, pred=F.col("label") == 3)
    return out.select("vec_id", F.round("score", 9).alias("score"))


def o_knn_search_filtered() -> str:
    qv = O.sql_qvec("embedding")
    return f"""
WITH q AS (SELECT vec_id, {qv} AS qvec FROM embeddings WHERE label = 3)
SELECT vec_id, round({O.sql_cosine_int8_lit(FX.QUERY_VEC_2, 'qvec')}, 9) AS score
FROM q ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def q_knn_search_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Float-precision exact cosine top-10 (no quantization)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.knn_search_float(emb, FX.QUERY_VEC, k=10)
    return out.select("vec_id", F.round("score", 9).alias("score"))


def o_knn_search_float() -> str:
    return f"""
SELECT vec_id, round({O.sql_cosine_float_lit(FX.QUERY_VEC, 'embedding')}, 9) AS score
FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def q_get_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup + dequantize (reference get_vector), exploded to
    scalar (vec_id, idx, val) rows — array-free output shape."""
    v = S.get_vector(_emb(spark, sf_dir), 7)
    return v.select(
        "vec_id", F.posexplode("vector").alias("idx", "val")
    ).select("vec_id", F.col("idx").cast("int").alias("idx"), "val")


def o_get_vector() -> str:
    qv = O.sql_qvec("embedding")
    return f"""
SELECT vec_id, CAST(u.idx AS INT) AS idx, u.val AS val
FROM (
  SELECT vec_id,
         unnest(list_transform({qv}, (x, i) -> {{'idx': i - 1, 'val': x::DOUBLE / 127.0}})) AS u
  FROM embeddings WHERE vec_id = 7
)
"""


def q_get_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched point lookup (multi-id get_vector): IN-list filter reaches
    the scan; absent ids simply produce no rows (the reference returns
    None per miss — here misses are empty, checked by the id set)."""
    emb = _emb(spark, sf_dir)
    from pythonvectordb_spark.functions.vector import dequantize as DQ

    got = emb.filter(F.col("vec_id").isin(*_LOOKUP_IDS)).select(
        "vec_id", DQ("qvec").alias("vector")
    )
    return got.select("vec_id", F.posexplode("vector").alias("idx", "val")).select(
        "vec_id", F.col("idx").cast("int").alias("idx"), "val"
    )


def o_get_vectors() -> str:
    qv = O.sql_qvec("embedding")
    ids = ", ".join(str(i) for i in _LOOKUP_IDS)
    return f"""
SELECT vec_id, CAST(u.idx AS INT) AS idx, u.val AS val
FROM (
  SELECT vec_id,
         unnest(list_transform({qv}, (x, i) -> {{'idx': i - 1, 'val': x::DOUBLE / 127.0}})) AS u
  FROM embeddings WHERE vec_id IN ({ids})
)
"""


def q_normalize_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 standalone: per-row norm and sequential-fold sum of the
    normalized vector (deterministic doubles)."""
    from pythonvectordb_spark.functions.vector import l2_norm, l2_normalize

    emb = load_table(spark, sf_dir, "embeddings")
    nv = l2_normalize("embedding")
    seq_sum = F.aggregate(nv, F.lit(0.0), lambda a, x: a + x)
    return emb.select(
        "vec_id",
        F.round(l2_norm("embedding"), 9).alias("raw_norm"),
        F.round(seq_sum, 9).alias("normalized_sum"),
    )


def o_normalize_vectors() -> str:
    nrm = O.sql_l2_norm("embedding")
    return f"""
SELECT vec_id,
       round({nrm}, 9) AS raw_norm,
       round(list_aggregate(list_transform(embedding, x -> x::DOUBLE / {nrm}), 'sum'), 9) AS normalized_sum
FROM embeddings
"""


def q_upsert_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert (delete-then-insert): 2 replaced ids + 1 new, fingerprinted."""
    table = _emb(spark, sf_dir)
    batch_rows = [
        (3, [float(x) for x in FX._seeded_unit(7001)], 1),
        (4, [float(x) for x in FX._seeded_unit(7002)], 1),
        (9000010, [float(x) for x in FX._seeded_unit(7003)], 1),
    ]
    batch = spark.createDataFrame(batch_rows, _BATCH_SCHEMA)
    return _fingerprint(M.upsert_vectors(table, batch))


def o_upsert_vectors() -> str:
    rows = ", ".join(
        f"({i}::BIGINT, [{', '.join(repr(float(x)) for x in FX._seeded_unit(seed))}]::DOUBLE[], 1::INT)"
        for i, seed in ((3, 7001), (4, 7002), (9000010, 7003))
    )
    return _sql_fingerprint(
        f"""(
  SELECT vec_id, embedding FROM embeddings WHERE vec_id NOT IN (3, 4, 9000010)
  UNION ALL
  SELECT vec_id, embedding FROM (VALUES {rows}) AS t(vec_id, embedding, label)
)"""
    )


def q_quantize_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2+K3 pipeline parity: exact integer fingerprint per row."""
    df = _emb(spark, sf_dir)
    qsum = F.aggregate(F.col("qvec"), F.lit(0).cast("long"), lambda a, x: a + x.cast("long"))
    qss = F.aggregate(
        F.col("qvec"), F.lit(0).cast("long"), lambda a, x: a + x.cast("long") * x.cast("long")
    )
    qchk = F.aggregate(
        F.zip_with(
            F.col("qvec"),
            F.sequence(F.lit(1), F.lit(DIM)),
            lambda x, i: x.cast("long") * i.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return df.select(
        "vec_id", qsum.alias("q_sum"), qss.alias("q_sumsq"), qchk.alias("q_checksum")
    )


def o_quantize_vectors() -> str:
    qv = O.sql_qvec("embedding")
    return f"""
WITH q AS (SELECT vec_id, {qv} AS qvec FROM embeddings)
SELECT vec_id,
       CAST(list_aggregate(list_transform(qvec, x -> x::BIGINT), 'sum') AS BIGINT) AS q_sum,
       CAST(list_aggregate(list_transform(qvec, x -> x::BIGINT * x::BIGINT), 'sum') AS BIGINT) AS q_sumsq,
       CAST(list_aggregate(list_transform(qvec, (x, i) -> x::BIGINT * i), 'sum') AS BIGINT) AS q_checksum
FROM q
"""


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query knn: 5 query vectors vs the whole table."""
    emb = _emb(spark, sf_dir)
    queries = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec_query"))
    )
    out = S.knn_join(emb, queries, k=5, query_vec="qvec_query")
    return out.select(
        "query_id",
        "vec_id",
        F.round("score", 9).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )


def o_knn_join() -> str:
    # symmetric int8 scoring: both sides quantized -> exact integer dot and
    # norms, identical under any summation order (mirrors
    # cosine_similarity_int8_sym and the numpy mapInArrow path)
    qv = O.sql_qvec("embedding")
    return f"""
WITH data AS (SELECT vec_id, {qv} AS qvec FROM embeddings),
     qs AS (SELECT vec_id AS query_id, {qv} AS qq FROM embeddings WHERE vec_id < 5),
     scored AS (
       SELECT qs.query_id, data.vec_id,
              CASE WHEN list_aggregate(list_transform(qs.qq, x -> x::BIGINT * x::BIGINT), 'sum') = 0
                     OR list_aggregate(list_transform(data.qvec, x -> x::BIGINT * x::BIGINT), 'sum') = 0
                   THEN 0.0
                   ELSE list_aggregate(list_transform(data.qvec, (x, i) -> x::BIGINT * qs.qq[i]::BIGINT), 'sum')::DOUBLE
                        / (sqrt(list_aggregate(list_transform(data.qvec, x -> x::BIGINT * x::BIGINT), 'sum')::DOUBLE)
                           * sqrt(list_aggregate(list_transform(qs.qq, x -> x::BIGINT * x::BIGINT), 'sum')::DOUBLE))
              END AS score
       FROM data CROSS JOIN qs
     ),
     ranked AS (
       SELECT query_id, vec_id, score,
              row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
       FROM scored
     )
SELECT query_id, vec_id, round(score, 9) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate search, multi-table default (20 tables
    x 5 bits, OR of bucket matches).

    Round-2 bench showed the old single-6-bit-table default at
    recall@10 = 0.0 — oracle-green (the oracle replicates the same
    bucketing) but useless as retrieval. Round-3 A/B on the 10-probe
    set (sf0.1): 16x6 = 0.58, 20x5 = 0.80, 24x4 = 0.98 at ~equal cost
    — 20x5 is the registered default (the ≥0.8 point distinct from
    `ann_lsh_multiprobe`'s 24x4); the single-band config survives only
    as the bench's `lsh_single_band_6bit` teaching baseline."""
    from pythonvectordb_spark.operators.dedup import lsh_band_planes

    emb = load_table(spark, sf_dir, "embeddings")
    out = S.ann_lsh_multiprobe_search(emb, FX.QUERY_VEC, lsh_band_planes(20, 5), k=10)
    return out.select("vec_id", F.round("score", 9).alias("score"))


def o_ann_lsh() -> str:
    from pythonvectordb_spark.operators.dedup import lsh_band_planes

    planes = lsh_band_planes(20, 5)
    or_terms = []
    for bp in planes:
        qsig = 0
        terms = []
        for i, h in enumerate(bp):
            d = sum(float(a) * float(b) for a, b in zip(FX.QUERY_VEC, h))
            if d >= 0:
                qsig |= 1 << i
            terms.append(
                f"(CASE WHEN ({O.sql_dot_lit(h, 'embedding')}) >= 0 THEN {1 << i} ELSE 0 END)"
            )
        or_terms.append(f"(({' + '.join(terms)}) = {qsig})")
    cond = "\n   OR ".join(or_terms)
    return f"""
WITH cand AS (SELECT * FROM embeddings WHERE {cond})
SELECT vec_id, round({O.sql_cosine_float_lit(FX.QUERY_VEC, 'embedding')}, 9) AS score
FROM cand ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded multi-probe LSH ANN (24 bands x 4 bits): OR-of-ANDs recall
    amplification over the single-band bucket search."""
    from pythonvectordb_spark.operators.dedup import lsh_band_planes

    emb = load_table(spark, sf_dir, "embeddings")
    out = S.ann_lsh_multiprobe_search(emb, FX.QUERY_VEC, lsh_band_planes(24, 4), k=10)
    return out.select("vec_id", F.round("score", 9).alias("score"))


def o_ann_lsh_multiprobe() -> str:
    from pythonvectordb_spark.operators.dedup import lsh_band_planes

    planes = lsh_band_planes(24, 4)
    or_terms = []
    for bp in planes:
        qsig = 0
        terms = []
        for i, h in enumerate(bp):
            d = sum(float(a) * float(b) for a, b in zip(FX.QUERY_VEC, h))
            if d >= 0:
                qsig |= 1 << i
            terms.append(
                f"(CASE WHEN ({O.sql_dot_lit(h, 'embedding')}) >= 0 THEN {1 << i} ELSE 0 END)"
            )
        or_terms.append(f"(({' + '.join(terms)}) = {qsig})")
    cond = "\n   OR ".join(or_terms)
    return f"""
WITH cand AS (SELECT * FROM embeddings WHERE {cond})
SELECT vec_id, round({O.sql_cosine_float_lit(FX.QUERY_VEC, 'embedding')}, 9) AS score
FROM cand ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: 64 float dims -> 8 one-byte codes
    (argmin-L2 per subspace over the fixture codebooks).

    The code vector is projected to a '-'-joined string because the
    driver's canonicalizer sorts/hashes columns in pandas, where an
    array<int> cell is unhashable (round-2 VERDICT item 2)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.concat_ws(
            "-", S.pq_code_expr("embedding", FX.PQ_CODEBOOKS).cast("array<string>")
        ).alias("code_str"),
    )


def o_pq_encode() -> str:
    dists, codes = _pq_sql_codes()
    return f"""
WITH d AS ({dists}), c AS ({codes})
SELECT vec_id, array_to_string(code, '-') AS code_str FROM c
"""


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC search with exact re-rank of the top-100 ADC shortlist —
    the classic two-stage compressed-domain retrieval (scale-matched
    random fixture books; see ann_pq_trained for the production path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.ann_pq_search(emb, FX.QUERY_VEC, FX.PQ_CODEBOOKS, k=10, rerank=100)
    return out.select("vec_id", F.round("score", 9).alias("score"))


def o_ann_pq() -> str:
    return _o_ann_pq(FX.PQ_CODEBOOKS)


def q_ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC search over KMEANS-TRAINED codebooks (frozen literals from
    `indexing.train_pq_codebooks` on sf0.1 — see fixtures_trained.py):
    the production PQ path, where the books match the data's per-subspace
    density instead of a random shell. Round-2 bench measured random-book
    ADC recall@10 at 0.2-0.5; trained books are the fix."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.ann_pq_search(
        emb, FX.QUERY_VEC, FT.PQ_CODEBOOKS_TRAINED, k=10, rerank=100
    )
    return out.select("vec_id", F.round("score", 9).alias("score"))


def o_ann_pq_trained() -> str:
    return _o_ann_pq(FT.PQ_CODEBOOKS_TRAINED)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed approximate search over a fixed codebook."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.ann_ivf_search(emb, FX.QUERY_VEC, FX.CENTROIDS, k=10, nprobe=2)
    return out.select("vec_id", F.round("score", 9).alias("score"))


def o_ann_ivf() -> str:
    probe = S.ivf_probe(FX.QUERY_VEC, FX.CENTROIDS, nprobe=2)
    sims = ", ".join(O.sql_cosine_float_lit(c, "embedding") for c in FX.CENTROIDS)
    probe_list = ", ".join(str(p) for p in probe)
    return f"""
WITH assigned AS (
  SELECT *, [{sims}] AS sims FROM embeddings
),
cand AS (
  SELECT * FROM assigned
  WHERE (list_position(sims, list_aggregate(sims, 'max')) - 1) IN ({probe_list})
)
SELECT vec_id, round({O.sql_cosine_float_lit(FX.QUERY_VEC, 'embedding')}, 9) AS score
FROM cand ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def q_knn_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean-distance exact top-10 (extension metric)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.l2_knn_search(emb, FX.QUERY_VEC, k=10)
    return out.select("vec_id", F.round("dist", 9).alias("dist"))


def o_knn_l2() -> str:
    terms = " + ".join(
        f"(({float(x)!r}::DOUBLE - embedding[{i + 1}]::DOUBLE) * "
        f"({float(x)!r}::DOUBLE - embedding[{i + 1}]::DOUBLE))"
        for i, x in enumerate(FX.QUERY_VEC)
    )
    return f"""
SELECT vec_id, round(sqrt({terms}), 9) AS dist
FROM embeddings ORDER BY dist ASC, vec_id ASC LIMIT 10
"""


def q_knn_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product exact top-10 (extension metric)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.mips_search(emb, FX.QUERY_VEC, k=10)
    return out.select("vec_id", F.round("score", 9).alias("score"))


def o_knn_mips() -> str:
    return f"""
SELECT vec_id, round({O.sql_dot_lit(FX.QUERY_VEC, 'embedding')}, 9) AS score
FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def q_ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN: metadata predicate BEFORE the IVF probe (predicate +
    cluster pruning compose — both reach the scan)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("label") % 2 == 0)
    out = S.ann_ivf_search(emb, FX.QUERY_VEC, FX.CENTROIDS, k=10, nprobe=2)
    return out.select("vec_id", F.round("score", 9).alias("score"))


def o_ann_ivf_filtered() -> str:
    probe = S.ivf_probe(FX.QUERY_VEC, FX.CENTROIDS, nprobe=2)
    sims = ", ".join(O.sql_cosine_float_lit(c, "embedding") for c in FX.CENTROIDS)
    probe_list = ", ".join(str(p) for p in probe)
    return f"""
WITH assigned AS (
  SELECT *, [{sims}] AS sims FROM embeddings WHERE label % 2 = 0
),
cand AS (
  SELECT * FROM assigned
  WHERE (list_position(sims, list_aggregate(sims, 'max')) - 1) IN ({probe_list})
)
SELECT vec_id, round({O.sql_cosine_float_lit(FX.QUERY_VEC, 'embedding')}, 9) AS score
FROM cand ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def q_add_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write path: normalize->quantize->dup-guard->union, fingerprinted."""
    table = _emb(spark, sf_dir)
    out = M.add_vectors(table, _new_batch(spark))
    return _fingerprint(out)


def o_add_vectors() -> str:
    return _sql_fingerprint(
        f"(SELECT vec_id, embedding FROM embeddings UNION ALL SELECT vec_id, embedding FROM {_sql_new_batch()})"
    )


def q_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete as anti-join, fingerprinted."""
    table = _emb(spark, sf_dir)
    ids = spark.createDataFrame([(i,) for i in _DELETE_IDS], "vec_id long")
    out = M.delete_vectors(table, ids)
    return _fingerprint(out)


def o_delete_vectors() -> str:
    ids = ", ".join(str(i) for i in _DELETE_IDS)
    return _sql_fingerprint(f"(SELECT * FROM embeddings WHERE vec_id NOT IN ({ids}))")


def q_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference get_stats as a one-row aggregate."""
    return ST.vector_stats(load_table(spark, sf_dir, "embeddings"))


def o_vector_stats() -> str:
    return """
SELECT CAST(count(*) AS BIGINT) AS vector_count,
       CAST(count(DISTINCT vec_id) AS BIGINT) AS distinct_ids,
       CAST(min(len(embedding)) AS INT) AS min_dim,
       CAST(max(len(embedding)) AS INT) AS max_dim,
       CAST(count(*) * min(len(embedding)) AS BIGINT) AS memory_bytes_int8
FROM embeddings
"""


def q_quantization_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization recall audit (new round 4): per probe query
    (vec_id < 16), overlap@10 between the int8-cosine exact top-k and
    the float-cosine exact top-k — the measured price of the
    reference's 4x int8 compression
    (`operators/search.quantization_recall`)."""
    return S.quantization_recall(_emb(spark, sf_dir), k=10)


def o_quantization_recall(k: int = 10) -> str:
    qv = O.sql_qvec("embedding")
    icos = (
        "(list_aggregate(list_transform(q.qv, (x, i) -> x::BIGINT * b.qv[i]::BIGINT), 'sum')::DOUBLE"
        " / (sqrt(list_aggregate(list_transform(q.qv, x -> x::BIGINT * x::BIGINT), 'sum')::DOUBLE)"
        " * sqrt(list_aggregate(list_transform(b.qv, x -> x::BIGINT * x::BIGINT), 'sum')::DOUBLE)))"
    )
    fcos = O.sql_cosine_float_cols("q.fv", "b.fv")
    return f"""
WITH base AS (SELECT vec_id, {qv} AS qv, embedding AS fv FROM embeddings),
qs AS (SELECT vec_id AS query_id, qv, fv FROM base WHERE vec_id < 16),
ip AS (
  SELECT q.query_id, b.vec_id, {icos} AS score
  FROM qs q CROSS JOIN base b
),
irk AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id ASC) AS rn
  FROM ip
),
i8 AS (SELECT query_id, vec_id FROM irk
       WHERE rn <= {k + 1} AND query_id != vec_id),
fp AS (
  SELECT q.query_id, b.vec_id, round({fcos}, 9) AS score
  FROM qs q CROSS JOIN base b
  WHERE q.query_id != b.vec_id
),
frk AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id ASC) AS rn
  FROM fp
),
fl AS (SELECT query_id, vec_id FROM frk WHERE rn <= {k}),
ov AS (
  SELECT i8.query_id, CAST(count(*) AS BIGINT) AS n_overlap
  FROM i8 JOIN fl ON i8.query_id = fl.query_id AND i8.vec_id = fl.vec_id
  GROUP BY 1
)
SELECT qs.query_id,
       coalesce(ov.n_overlap, CAST(0 AS BIGINT)) AS n_overlap,
       round(coalesce(ov.n_overlap, 0)::DOUBLE / {float(k)!r}, 6) AS recall
FROM qs LEFT JOIN ov ON qs.query_id = ov.query_id
"""


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote label prediction (k=25, int8 cosine,
    deterministic tie-breaks at neighbor selection and vote)."""
    return S.knn_classify(_emb(spark, sf_dir), FX.QUERY_VEC, k=25)


def o_knn_classify() -> str:
    qv = O.sql_qvec("embedding")
    return f"""
WITH q AS (SELECT vec_id, label, {qv} AS qvec FROM embeddings),
scored AS (
  SELECT vec_id, label, {O.sql_cosine_int8_lit(FX.QUERY_VEC, 'qvec')} AS score
  FROM q
),
top AS (SELECT label, score FROM scored ORDER BY score DESC, vec_id ASC LIMIT 25)
SELECT label AS pred_label, count(*)::BIGINT AS votes,
       round(max(score), 9) AS best_score
FROM top GROUP BY label
ORDER BY votes DESC, pred_label ASC LIMIT 1
"""


def q_label_qsum_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (§2.11): per-label exact integer sum
    of per-row qvec sums, computed in numpy over Arrow batches."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def qsum_agg(qsums: pd.Series) -> "int":
        return int(np.asarray(qsums, dtype=np.int64).sum())

    df = _emb(spark, sf_dir)
    per_row = F.aggregate(F.col("qvec"), F.lit(0).cast("long"), lambda a, x: a + x.cast("long"))
    return (
        df.select("label", per_row.alias("q_sum"))
        .groupBy("label")
        .agg(qsum_agg(F.col("q_sum")).alias("label_qsum"))
        .select(F.col("label").cast("int").alias("label"), "label_qsum")
    )


def o_label_qsum_grouped_agg() -> str:
    qv = O.sql_qvec("embedding")
    return f"""
SELECT CAST(label AS INT) AS label,
       CAST(sum(list_aggregate(list_transform({qv}, x -> x::BIGINT), 'sum')) AS BIGINT) AS label_qsum
FROM embeddings GROUP BY label
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-label centroid fingerprint (exact
    integer reduction, engine-reproducible)."""
    return ST.label_centroids(_emb(spark, sf_dir))


def o_label_centroids() -> str:
    qv = O.sql_qvec("embedding")
    return f"""
WITH q AS (SELECT label, {qv} AS qvec FROM embeddings)
SELECT CAST(label AS INT) AS label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(list_aggregate(list_transform(qvec, (x, i) -> x::BIGINT * i), 'sum')) AS BIGINT) AS centroid_checksum
FROM q GROUP BY label
"""


def q_embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension stats of the quantized vectors via posexplode +
    re-aggregate (the standard columnar transpose; partial aggregation
    runs map-side so the shuffle carries dim-many partial rows per task,
    not row-count-many)."""
    emb = _emb(spark, sf_dir)
    return (
        emb.select(F.posexplode("qvec").alias("pos", "q"))
        .select((F.col("pos") + 1).cast("int").alias("dim_idx"), "q")
        .groupBy("dim_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("q").cast("long")).cast("long").alias("sum_q"),
            F.sum(F.col("q").cast("long") * F.col("q").cast("long")).cast("long").alias(
                "sumsq_q"
            ),
            F.min(F.col("q").cast("int")).cast("int").alias("min_q"),
            F.max(F.col("q").cast("int")).cast("int").alias("max_q"),
        )
    )


def o_embedding_dimension_stats() -> str:
    qv = O.sql_qvec("embedding")
    return f"""
WITH q AS (SELECT {qv} AS qvec FROM embeddings)
SELECT CAST(t.i AS INT) AS dim_idx,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(qvec[t.i]::BIGINT) AS BIGINT) AS sum_q,
       CAST(sum(qvec[t.i]::BIGINT * qvec[t.i]::BIGINT) AS BIGINT) AS sumsq_q,
       CAST(min(qvec[t.i]) AS INT) AS min_q,
       CAST(max(qvec[t.i]) AS INT) AS max_q
FROM q CROSS JOIN range(1, {DIM + 1}) t(i)
GROUP BY 1
"""


def q_top_dims_per_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order surface: per-row top-3 quantized components via
    sort_array + element_at (all codegen'd; no explode, no shuffle)."""
    emb = _emb(spark, sf_dir)
    s = F.sort_array(F.col("qvec"), asc=False)
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.element_at(s, 1).cast("int").alias("d1"),
        F.element_at(s, 2).cast("int").alias("d2"),
        F.element_at(s, 3).cast("int").alias("d3"),
    )


def o_top_dims_per_vector() -> str:
    qv = O.sql_qvec("embedding")
    return f"""
WITH q AS (SELECT vec_id, list_sort({qv}, 'DESC') AS s FROM embeddings)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(s[1] AS INT) AS d1, CAST(s[2] AS INT) AS d2, CAST(s[3] AS INT) AS d3
FROM q
"""


def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed: coarse-centroid pruning (nprobe=4 of 8), ADC
    ranking over one-byte codes, exact re-rank of the top-100 — the
    billion-scale ANN layout as one operator."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.ann_ivf_pq_search(
        emb, FX.QUERY_VEC, FX.CENTROIDS, FX.PQ_CODEBOOKS, k=10, nprobe=4, rerank=100
    )
    return out.select("vec_id", F.round("score", 9).alias("score"))


def q_ann_ivf_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ with BOTH quantizers KMeans-trained (coarse centroids and
    sub-codebooks frozen from `indexing.train_*` on sf0.1): the layout a
    production billion-scale index actually ships. nprobe=6 of 8, ADC
    over one-byte codes, exact re-rank of the top-100. nprobe=6 is the
    ≥0.8-recall point on THIS testdata (uniform-random vectors, ANN's
    worst case — round-3 A/B: nprobe 4 → 0.69, 6 → 0.88, 8 → 1.0); a
    real clustered corpus reaches the same recall at a far smaller probe
    fraction, which is the entire IVF bet."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.ann_ivf_pq_search(
        emb,
        FX.QUERY_VEC,
        FT.CENTROIDS_TRAINED,
        FT.PQ_CODEBOOKS_TRAINED,
        k=10,
        nprobe=6,
        rerank=100,
    )
    return out.select("vec_id", F.round("score", 9).alias("score"))


def o_ann_ivf_pq_trained() -> str:
    return _o_ann_ivf_pq(FT.CENTROIDS_TRAINED, FT.PQ_CODEBOOKS_TRAINED, nprobe=6)


def o_ann_ivf_pq() -> str:
    return _o_ann_ivf_pq(FX.CENTROIDS, FX.PQ_CODEBOOKS)


def q_sign_bit_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit quantization recall audit (new round 6): hamming top-10
    over packed sign codes vs the exact symmetric-int8 top-10, per
    query — prices the binary pre-filter tier (8 bytes/vector, 64x
    compression) of a hamming-shortlist -> int8-rerank pipeline
    (`operators/search.sign_bit_recall`)."""
    return S.sign_bit_recall(load_table(spark, sf_dir, "embeddings"), k=10)


def o_sign_bit_recall() -> str:
    return f"""
WITH q AS (SELECT vec_id, {O.sql_qvec()} AS qv,
                  {_sql_sign_bits('embedding', 0)} AS sig_lo,
                  {_sql_sign_bits('embedding', 32)} AS sig_hi
           FROM embeddings),
qs AS (SELECT vec_id AS query_id, qv AS qq, sig_lo AS qlo, sig_hi AS qhi
       FROM q WHERE vec_id < 8),
pairs AS (SELECT qs.query_id, q.vec_id, q.qv, q.sig_lo, q.sig_hi,
                 qs.qq, qs.qlo, qs.qhi
          FROM q, qs WHERE q.vec_id != qs.query_id),
hk AS (SELECT query_id, vec_id FROM (
         SELECT query_id, vec_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY bit_count(xor(sig_lo, qlo))
                           + bit_count(xor(sig_hi, qhi)) ASC,
                           vec_id ASC) AS rn
         FROM pairs) WHERE rn <= 10),
ck AS (SELECT query_id, vec_id FROM (
         SELECT query_id, vec_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY round({_sql_int8_sym_cos('qq', 'qv')}, 9) DESC,
                           vec_id ASC) AS rn
         FROM pairs) WHERE rn <= 10),
ov AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_overlap
       FROM hk JOIN ck USING (query_id, vec_id) GROUP BY 1)
SELECT query_id, coalesce(n_overlap, 0) AS n_overlap,
       round(coalesce(n_overlap, 0)::DOUBLE / 10.0, 6) AS recall
FROM qs LEFT JOIN ov USING (query_id)
"""


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation recall (new round 6): prefix-dimension
    cosine top-10 vs the full-dim exact top-10 for prefixes 8/16/32 of
    64 — the dimensions axis of the index-tuning surface
    (`operators/search.matryoshka_recall`)."""
    return S.matryoshka_recall(
        load_table(spark, sf_dir, "embeddings"),
        FX.QUERY_VEC,
        prefixes=MATRYOSHKA_PREFIXES,
        k=10,
    )


def o_matryoshka_recall() -> str:
    def prefix_cos(p: int) -> str:
        qp = [float(x) for x in FX.QUERY_VEC[:p]]
        cn = (
            f"sqrt(list_aggregate(list_transform(embedding[1:{p}], "
            f"y -> y::DOUBLE * y::DOUBLE), 'sum'))"
        )
        return (
            f"(({O.sql_dot_lit(qp, 'embedding', p)}) / "
            f"({O.sql_query_norm(qp)} * {cn}))"
        )

    points = "\nUNION ALL\n".join(
        f"""SELECT CAST({p} AS INT) AS prefix_dim,
       CAST(count(*) AS BIGINT) AS n_overlap,
       round(count(*)::DOUBLE / 10.0, 6) AS recall
FROM (SELECT vec_id FROM embeddings
      ORDER BY round({prefix_cos(p)}, 9) DESC, vec_id ASC LIMIT 10)
JOIN ex USING (vec_id)"""
        for p in MATRYOSHKA_PREFIXES
    )
    return f"""
WITH ex AS MATERIALIZED (
  SELECT vec_id FROM embeddings
  ORDER BY round({O.sql_cosine_float_lit(FX.QUERY_VEC, 'embedding')}, 9) DESC,
           vec_id ASC LIMIT 10
)
{points}
"""


def q_embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy of the quantized store (new round 6): the EXACT mean
    pairwise int8 dot over all ordered pairs via the sum-vector
    identity ||sum q||^2 - sum ||q||^2 — no pair materializes, no
    sampling (`operators/search.embedding_anisotropy`)."""
    return S.embedding_anisotropy(load_table(spark, sf_dir, "embeddings"))


def o_embedding_anisotropy() -> str:
    return f"""
WITH q AS (SELECT vec_id, {O.sql_qvec()} AS qv FROM embeddings),
d AS (SELECT CAST(i AS INT) AS d, qv[CAST(i AS INT)]::BIGINT AS x
      FROM q, unnest(range(1, {FX.DIM} + 1)) r(i)),
s AS (SELECT d, CAST(sum(x) AS BIGINT) AS sd FROM d GROUP BY 1),
s2 AS (SELECT CAST(sum(sd * sd) AS BIGINT) AS s2 FROM s),
t AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(list_aggregate(list_transform(qv,
                  x -> x::BIGINT * x::BIGINT), 'sum')) AS BIGINT) AS sum_self
      FROM q)
SELECT n AS n_vectors, sum_self, s2 AS sum_vector_sq,
       round((s2 - sum_self)::DOUBLE / (n::DOUBLE * (n::DOUBLE - 1.0)), 6)
         AS mean_pair_dot,
       round(sum_self::DOUBLE / n::DOUBLE, 6) AS mean_self_dot,
       round(((s2 - sum_self)::DOUBLE / (n::DOUBLE * (n::DOUBLE - 1.0)))
             / (sum_self::DOUBLE / n::DOUBLE), 6) AS anisotropy
FROM t CROSS JOIN s2
"""


def q_ndcg_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the IVF index against graded exact relevance (new
    round 6): recall counts hits, nDCG charges for order — rel = 11 -
    exact_rank, DCG weights 1/log2(rank+1) as repr literals shared by
    both engines (`operators/search.ndcg_ivf`)."""
    return S.ndcg_ivf(
        load_table(spark, sf_dir, "embeddings"),
        FX.QUERY_VEC,
        FX.CENTROIDS,
        k=10,
        nprobe=2,
    )


def o_ndcg_ivf() -> str:
    probe = S.ivf_probe(FX.QUERY_VEC, FX.CENTROIDS, nprobe=2)
    sims = ", ".join(O.sql_cosine_float_lit(c, "embedding") for c in FX.CENTROIDS)
    probe_list = ", ".join(str(p) for p in probe)
    weights = ", ".join(repr(float(w)) for w in S.DCG_WEIGHTS_10)
    cos = O.sql_cosine_float_lit(FX.QUERY_VEC, "embedding")
    return f"""
WITH assigned AS (
  SELECT *, [{sims}] AS sims FROM embeddings
),
cand AS (
  SELECT * FROM assigned
  WHERE (list_position(sims, list_aggregate(sims, 'max')) - 1) IN ({probe_list})
),
ivf AS (SELECT vec_id, round({cos}, 9) AS r9
        FROM cand ORDER BY r9 DESC, vec_id ASC LIMIT 10),
ranked AS (SELECT vec_id,
                  CAST(row_number() OVER (ORDER BY r9 DESC, vec_id ASC)
                       AS BIGINT) AS rank
           FROM ivf),
ex AS (SELECT vec_id,
              CAST(row_number() OVER (ORDER BY r9 DESC, vec_id ASC)
                   AS BIGINT) AS exact_rank
       FROM (SELECT vec_id, round({cos}, 9) AS r9
             FROM embeddings ORDER BY r9 DESC, vec_id ASC LIMIT 10)),
d AS (SELECT sum((CASE WHEN exact_rank IS NULL THEN 0
                       ELSE 11 - exact_rank END)::DOUBLE
                 * ([{weights}])[CAST(rank AS INT)]) AS dcg
      FROM ranked LEFT JOIN ex USING (vec_id))
SELECT CAST(10 AS INT) AS k, CAST(2 AS INT) AS nprobe,
       round(dcg, 6) AS dcg,
       round({float(S.IDCG_10)!r}::DOUBLE, 6) AS idcg,
       round(dcg / {float(S.IDCG_10)!r}, 6) AS ndcg
FROM d
"""


def q_mrr_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the true nearest neighbor in the registered
    LSH shortlist (new round 6, 20x5 band default): 1/rank when the
    exact top-1 surfaces, 0 on a bucket miss
    (`operators/search.mrr_at_k`)."""
    from pythonvectordb_spark.operators.dedup import lsh_band_planes

    emb = load_table(spark, sf_dir, "embeddings")
    ann = S.ann_lsh_multiprobe_search(emb, FX.QUERY_VEC, lsh_band_planes(20, 5), k=10)
    return S.mrr_at_k(emb, ann, FX.QUERY_VEC, k=10)


def o_mrr_lsh() -> str:
    from pythonvectordb_spark.operators.dedup import lsh_band_planes

    planes = lsh_band_planes(20, 5)
    or_terms = []
    for bp in planes:
        qsig = 0
        terms = []
        for i, h in enumerate(bp):
            dd = sum(float(a) * float(b) for a, b in zip(FX.QUERY_VEC, h))
            if dd >= 0:
                qsig |= 1 << i
            terms.append(
                f"(CASE WHEN ({O.sql_dot_lit(h, 'embedding')}) >= 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        or_terms.append(f"(({' + '.join(terms)}) = {qsig})")
    cond = "\n   OR ".join(or_terms)
    cos = O.sql_cosine_float_lit(FX.QUERY_VEC, "embedding")
    return f"""
WITH gold AS (SELECT vec_id AS gold_id FROM embeddings
              ORDER BY round({cos}, 9) DESC, vec_id ASC LIMIT 1),
cand AS (SELECT * FROM embeddings WHERE {cond}),
lshk AS (SELECT vec_id, round({cos}, 9) AS r9
         FROM cand ORDER BY r9 DESC, vec_id ASC LIMIT 10),
ranked AS (SELECT vec_id,
                  CAST(row_number() OVER (ORDER BY r9 DESC, vec_id ASC)
                       AS BIGINT) AS rank
           FROM lshk)
SELECT CAST(10 AS INT) AS k, gold_id,
       coalesce(rank, 0) AS found_rank,
       round(coalesce(1.0 / rank::DOUBLE, 0.0), 6) AS rr
FROM gold LEFT JOIN ranked ON gold_id = vec_id
"""


def q_label_centroid_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label centroids of the quantized
    store (new round 6): the class-confusability map — exact int8
    dimension sums, pair dots/norms exact integers, one double
    division per pair (`operators/search.label_centroid_affinity`)."""
    return S.label_centroid_affinity(load_table(spark, sf_dir, "embeddings"))


def o_label_centroid_affinity() -> str:
    return f"""
WITH q AS (SELECT label, {O.sql_qvec()} AS qv FROM embeddings),
d AS (SELECT label AS lbl, CAST(i AS INT) AS d, qv[CAST(i AS INT)]::BIGINT AS x
      FROM q, unnest(range(1, {FX.DIM} + 1)) r(i)),
s AS (SELECT lbl, d, CAST(sum(x) AS BIGINT) AS sd FROM d GROUP BY 1, 2),
counts AS (SELECT label AS lbl, CAST(count(*) AS BIGINT) AS n
           FROM embeddings GROUP BY 1),
pairs AS (SELECT a.lbl AS label_a, b.lbl AS label_b,
                 CAST(sum(a.sd * b.sd) AS BIGINT) AS dot,
                 CAST(sum(a.sd * a.sd) AS BIGINT) AS na2,
                 CAST(sum(b.sd * b.sd) AS BIGINT) AS nb2
          FROM s a JOIN s b ON a.d = b.d AND a.lbl < b.lbl
          GROUP BY 1, 2)
SELECT label_a, label_b, ca.n AS n_a, cb.n AS n_b,
       CASE WHEN na2 > 0 AND nb2 > 0 THEN
         round(dot::DOUBLE / (sqrt(na2::DOUBLE) * sqrt(nb2::DOUBLE)), 6)
       END AS cosine
FROM pairs
JOIN counts ca ON ca.lbl = label_a
JOIN counts cb ON cb.lbl = label_b
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift audit (staged for the round-5 rotation):
    per label, the cosine between the int8 centroids of the even-id and
    odd-id halves — the representation-level companion to the PSI
    monitor; exact-integer component sums make it fold-order-free
    (`operators/stats.embedding_drift`)."""
    return ST.embedding_drift(_emb(spark, sf_dir), dim=DIM)


def o_embedding_drift(dim: int = DIM) -> str:
    qv = O.sql_qvec("embedding")
    a = ", ".join(
        f"CAST(sum(CASE WHEN vec_id % 2 = 0 THEN qv[{i + 1}] ELSE 0 END) AS BIGINT) AS a{i}"
        for i in range(dim)
    )
    b = ", ".join(
        f"CAST(sum(CASE WHEN vec_id % 2 != 0 THEN qv[{i + 1}] ELSE 0 END) AS BIGINT) AS b{i}"
        for i in range(dim)
    )
    dot = " + ".join(f"a{i} * b{i}" for i in range(dim))
    na = " + ".join(f"a{i} * a{i}" for i in range(dim))
    nb = " + ".join(f"b{i} * b{i}" for i in range(dim))
    return f"""
WITH q AS (SELECT vec_id, label, {qv} AS qv FROM embeddings),
g AS (
  SELECT label,
         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN vec_id % 2 != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         {a}, {b}
  FROM q GROUP BY 1
)
SELECT label, n_a, n_b,
       round(CASE WHEN ({na}) > 0 AND ({nb}) > 0
                  THEN ({dot})::DOUBLE / (sqrt(({na})::DOUBLE) * sqrt(({nb})::DOUBLE))
                  ELSE 0.0 END, 9) AS centroid_cosine
FROM g
"""


def q_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-IVF cluster-balance audit (staged for the round-5
    rotation): per-cell counts under the same nearest-centroid
    expression the ANN search path uses, summarized as empty cells,
    max/mean imbalance, and CV — the index-health number behind probe
    tail latency (`operators/stats.ivf_balance`)."""
    return ST.ivf_balance(
        load_table(spark, sf_dir, "embeddings"), FT.CENTROIDS_TRAINED
    )


def o_ivf_balance() -> str:
    sims = ", ".join(
        O.sql_cosine_float_lit(c, "embedding") for c in FT.CENTROIDS_TRAINED
    )
    k = len(FT.CENTROIDS_TRAINED)
    return f"""
WITH s AS (SELECT [{sims}] AS sims FROM embeddings),
assigned AS (
  SELECT (list_position(sims, list_aggregate(sims, 'max')) - 1) AS cluster FROM s
),
counts AS (SELECT cluster, CAST(count(*) AS BIGINT) AS c FROM assigned GROUP BY 1),
cells AS (SELECT unnest(range(0, {k})) AS cluster),
allc AS (SELECT CAST(coalesce(counts.c, 0) AS BIGINT) AS c
         FROM cells LEFT JOIN counts ON cells.cluster = counts.cluster),
g AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_vectors,
         CAST(count(*) AS BIGINT) AS n_centroids,
         CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
         CAST(min(c) AS BIGINT) AS min_count,
         CAST(max(c) AS BIGINT) AS max_count,
         CAST(sum(c * c) AS BIGINT) AS sc2
  FROM allc
)
SELECT n_vectors, n_centroids, n_empty, min_count, max_count,
       round(max_count::DOUBLE * n_centroids::DOUBLE / n_vectors::DOUBLE, 6) AS imbalance,
       round(sqrt((n_centroids * sc2 - n_vectors * n_vectors)::DOUBLE)
             / n_vectors::DOUBLE, 6) AS cv
FROM g
"""


def q_twonn_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate over the embedding corpus
    (staged for the round-5 rotation): id = n / sum ln(r2/r1) on
    angular distances from the exact symmetric int8 cosine — the
    effective-dimensionality audit behind IVF/LSH parameter choices
    (`operators/stats.twonn_intrinsic_dim`)."""
    return ST.twonn_intrinsic_dim(_emb(spark, sf_dir))


def o_twonn_intrinsic_dim() -> str:
    qv = O.sql_qvec("embedding")
    cos = (
        "(list_aggregate(list_transform(a.qv, (x, i) -> x::BIGINT * b.qv[i]::BIGINT), 'sum')::DOUBLE"
        " / (sqrt(list_aggregate(list_transform(a.qv, x -> x::BIGINT * x::BIGINT), 'sum')::DOUBLE)"
        " * sqrt(list_aggregate(list_transform(b.qv, x -> x::BIGINT * x::BIGINT), 'sum')::DOUBLE)))"
    )
    return f"""
WITH q AS (SELECT vec_id, {qv} AS qv FROM embeddings),
p AS (
  SELECT a.vec_id AS qa, b.vec_id AS nbr, round(1.0 - {cos}, 9) AS d
  FROM q a CROSS JOIN q b
  WHERE a.vec_id != b.vec_id),
rk AS (
  SELECT qa, d, row_number() OVER (PARTITION BY qa ORDER BY d ASC, nbr ASC) AS rn
  FROM p WHERE d > 0),
per AS (
  SELECT qa, min(CASE WHEN rn = 1 THEN d END) AS r1,
         min(CASE WHEN rn = 2 THEN d END) AS r2
  FROM rk WHERE rn <= 2 GROUP BY qa),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         round(sum(ln(r2 / r1)), 6) AS sum_log_mu
  FROM per WHERE r1 IS NOT NULL AND r2 IS NOT NULL)
SELECT n_vectors, sum_log_mu,
       round(n_vectors::DOUBLE / sum_log_mu, 6) AS id_twonn
FROM g
"""


def q_ivf_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell simplified silhouette of the trained IVF codebook
    (staged for the round-5 rotation): boundary-mass audit from the
    SAME bound sims HOF the search path argmaxes over — the
    partition-quality companion to `ivf_balance`
    (`operators/stats.ivf_silhouette`)."""
    return ST.ivf_silhouette(
        load_table(spark, sf_dir, "embeddings"), FT.CENTROIDS_TRAINED
    )


def o_ivf_silhouette() -> str:
    sims = ", ".join(
        O.sql_cosine_float_lit(c, "embedding") for c in FT.CENTROIDS_TRAINED
    )
    return f"""
WITH s AS (SELECT [{sims}] AS sims FROM embeddings),
feat AS (
  SELECT (list_position(sims, list_aggregate(sims, 'max')) - 1) AS cluster,
         CASE WHEN greatest(1.0 - list_aggregate(sims, 'max'),
                            1.0 - list_sort(sims, 'DESC')[2]) > 0
              THEN round(((1.0 - list_sort(sims, 'DESC')[2])
                          - (1.0 - list_aggregate(sims, 'max')))
                         / greatest(1.0 - list_aggregate(sims, 'max'),
                                    1.0 - list_sort(sims, 'DESC')[2]), 9)
              ELSE 0.0 END AS sil
  FROM s)
SELECT CAST(cluster AS INTEGER) AS cluster,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(avg(sil), 6) AS mean_sil,
       round(min(sil), 9) AS min_sil
FROM feat GROUP BY 1
"""


def q_embedding_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Participation-ratio effective rank of the int8 Gram matrix
    (staged for the round-5 rotation): (tr C)^2/||C||_F^2 — exact int64
    per-partition BLAS Gram partials, DECIMAL(38)/HUGEINT squares, one
    final double division (`operators/stats.embedding_effective_rank`)."""
    return ST.embedding_effective_rank(load_table(spark, sf_dir, "embeddings"))


def o_embedding_effective_rank() -> str:
    qv = O.sql_qvec("embedding")
    return f"""
WITH q AS (SELECT {qv} AS qv FROM embeddings),
pairs AS (SELECT t1.i AS i, t2.j AS j
          FROM generate_series(1, 64) t1(i)
          CROSS JOIN generate_series(1, 64) t2(j)
          WHERE t2.j >= t1.i),
c AS (SELECT i, j, CAST(sum(qv[i]::BIGINT * qv[j]::BIGINT) AS BIGINT) AS s
      FROM q CROSS JOIN pairs GROUP BY 1, 2),
g AS (SELECT CAST(max(j) AS INTEGER) AS dim,
             CAST(sum(CASE WHEN i = j THEN s END) AS BIGINT) AS trace,
             sum((CASE WHEN i = j THEN 1 ELSE 2 END)::HUGEINT
                 * s::HUGEINT * s::HUGEINT) AS frob2
      FROM c),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM embeddings)
SELECT n_vectors, dim, trace,
       round((trace::HUGEINT * trace::HUGEINT)::DOUBLE / frob2::DOUBLE, 6)
           AS eff_rank
FROM g CROSS JOIN n
"""


def q_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 vs IVF probe width (new round 5): the latency/recall
    trade-off curve of the coarse quantizer — `ann_recall_curve` sweeps
    the cutoff k at fixed nprobe; this sweeps nprobe ∈ {1,2,4,8} at
    fixed k on the TRAINED codebooks, telling an operator the cheapest
    probe width that clears a recall target
    (`operators/search.ann_nprobe_curve`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_nprobe_curve(
        emb,
        FX.QUERY_VEC,
        FT.CENTROIDS_TRAINED,
        FT.PQ_CODEBOOKS_TRAINED,
        nprobes=(1, 2, 4, 8),
        k=10,
        rerank=100,
    )


def o_ivf_nprobe_curve(k: int = 10) -> str:
    cos = O.sql_cosine_float_lit(FX.QUERY_VEC, "embedding")
    points = []
    for np_ in (1, 2, 4, 8):
        ann = _o_ann_ivf_pq(
            FT.CENTROIDS_TRAINED, FT.PQ_CODEBOOKS_TRAINED, nprobe=np_, k=k
        ).strip()
        points.append(
            f"""
SELECT CAST({np_} AS INT) AS nprobe,
       CAST(count(*) AS BIGINT) AS n_overlap,
       round(count(*)::DOUBLE / {float(k)!r}, 6) AS recall
FROM ({ann}) a JOIN ex USING (vec_id)"""
        )
    body = "\nUNION ALL\n".join(points)
    return f"""
WITH ex AS (
  SELECT vec_id FROM (
    SELECT vec_id, round({cos}, 9) AS r9 FROM embeddings
    ORDER BY r9 DESC, vec_id ASC LIMIT {k})
)
{body}
"""


def q_quantization_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 clamp/saturation audit of the K3 quantizer
    (new round 7): exact counts of boundary and high-half codes per
    dimension after normalize+quantize
    (`operators/stats.quantization_saturation`)."""
    return ST.quantization_saturation(load_table(spark, sf_dir, "embeddings"))


def o_quantization_saturation() -> str:
    qv = O.sql_qvec("embedding")
    return f"""
WITH q AS (SELECT {qv} AS qvec FROM embeddings),
px AS (SELECT unnest(list_transform(qvec, (x, i) ->
                {{'dim': i - 1, 'q': x}})) AS s
       FROM q),
flat AS (SELECT CAST(s.dim AS INTEGER) AS dim, CAST(s.q AS BIGINT) AS q
         FROM px),
g AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN abs(q) = 127 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sat,
             CAST(sum(CASE WHEN abs(q) >= 64 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_high,
             CAST(min(q) AS INTEGER) AS min_q,
             CAST(max(q) AS INTEGER) AS max_q,
             CAST(sum(q) AS BIGINT) AS s_q
      FROM flat GROUP BY 1)
SELECT dim, n, n_sat,
       round(n_sat::DOUBLE / n::DOUBLE, 6) AS sat_rate,
       n_high,
       round(n_high::DOUBLE / n::DOUBLE, 6) AS high_rate,
       min_q, max_q,
       round(s_q::DOUBLE / n::DOUBLE, 6) AS mean_q
FROM g
"""
