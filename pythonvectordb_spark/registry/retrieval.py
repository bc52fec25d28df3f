"""Retrieval extensions: hybrid RRF, MMR, RBO, BM25, mutual-kNN, negatives/triplets and training-shard export audits.

Mechanically split from the former single-file registry.py (round 8)
with zero semantic change; statement text is unchanged, only moved.
"""


from pythonvectordb_spark.registry._core import (
    BM25_B,
    BM25_K1,
    BM25_QUERY,
    CU,
    DataFrame,
    F,
    FT,
    FX,
    O,
    S,
    SparkSession,
    _emb,
    _o_ann_ivf_pq,
    _tokens,
    load_table,
)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (new round 4): for every anchor,
    the exact top-5 most-similar vectors with a DIFFERENT label, via one
    label-masked int8 kernel pass per anchor block — the label
    constraint holds by construction, never by over-fetch-then-filter
    (`operators/search.hard_negatives`)."""
    return S.hard_negatives(_emb(spark, sf_dir), k=5)


def o_hard_negatives(k: int = 5) -> str:
    qv = O.sql_qvec("embedding")
    cos = (
        "(list_aggregate(list_transform(a.qv, (x, i) -> x::BIGINT * b.qv[i]::BIGINT), 'sum')::DOUBLE"
        " / (sqrt(list_aggregate(list_transform(a.qv, x -> x::BIGINT * x::BIGINT), 'sum')::DOUBLE)"
        " * sqrt(list_aggregate(list_transform(b.qv, x -> x::BIGINT * x::BIGINT), 'sum')::DOUBLE)))"
    )
    return f"""
WITH q AS (SELECT vec_id, label, {qv} AS qv FROM embeddings),
p AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neg_id, {cos} AS score
  FROM q a JOIN q b ON a.label != b.label
),
rk AS (
  SELECT query_id, neg_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neg_id ASC) AS INT) AS rank
  FROM p
)
SELECT query_id, neg_id, round(score, 9) AS score, rank
FROM rk WHERE rank <= {k}
"""


def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet mining (new round 4): per anchor the nearest
    same-label positive and nearest cross-label hard negative with the
    round-9 margin and violation flag — the rows a triplet/InfoNCE
    trainer consumes (`operators/search.contrastive_triplets`)."""
    return S.contrastive_triplets(_emb(spark, sf_dir))


def o_contrastive_triplets() -> str:
    qv = O.sql_qvec("embedding")
    cos = (
        "(list_aggregate(list_transform(a.qv, (x, i) -> x::BIGINT * b.qv[i]::BIGINT), 'sum')::DOUBLE"
        " / (sqrt(list_aggregate(list_transform(a.qv, x -> x::BIGINT * x::BIGINT), 'sum')::DOUBLE)"
        " * sqrt(list_aggregate(list_transform(b.qv, x -> x::BIGINT * x::BIGINT), 'sum')::DOUBLE)))"
    )
    return f"""
WITH q AS (SELECT vec_id, label, {qv} AS qv FROM embeddings),
pp AS (
  SELECT a.vec_id AS query_id, b.vec_id AS pos_id, {cos} AS score
  FROM q a JOIN q b ON a.label = b.label AND a.vec_id != b.vec_id
),
prk AS (
  SELECT query_id, pos_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, pos_id ASC) AS rn
  FROM pp
),
pos AS (SELECT query_id, pos_id, round(score, 9) AS pos_score
        FROM prk WHERE rn = 1),
np AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neg_id, {cos} AS score
  FROM q a JOIN q b ON a.label != b.label
),
nrk AS (
  SELECT query_id, neg_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neg_id ASC) AS rn
  FROM np
),
neg AS (SELECT query_id, neg_id, round(score, 9) AS neg_score
        FROM nrk WHERE rn = 1)
SELECT pos.query_id AS anchor_id, pos.pos_id, pos.pos_score,
       neg.neg_id, neg.neg_score,
       round(pos.pos_score - neg.neg_score, 9) AS margin,
       CAST(round(pos.pos_score - neg.neg_score, 9) <= 0.0 AS INT) AS violation
FROM pos JOIN neg ON pos.query_id = neg.query_id
"""


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval against a literal term query — the lexical-ranking
    complement of the embedding knn surface. ONE corpus scan: per-doc
    term frequencies and length project in the same pass; the corpus
    constants (N, per-term document frequencies, average doc length)
    reduce to a single broadcast row via conditional aggregation; the
    score is then a pure projection and top-k is TakeOrderedAndProject.
    No shuffle of the corpus at any point."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens("text")
    def _tf(term: str):
        # NB: a two-arg lambda would be treated as (element, index) by
        # F.filter — bind the term via closure, keep the lambda unary
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf_cols = [_tf(t).alias(f"tf_{i}") for i, t in enumerate(BM25_QUERY)]
    base = docs.select(F.col("doc_id"), F.size(toks).alias("dl"), *tf_cols)
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).cast("double").alias(f"df_{i}")
            for i in range(len(BM25_QUERY))
        ],
    )
    score = None
    for i in range(len(BM25_QUERY)):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        tf = F.col(f"tf_{i}").cast("double")
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B) * F.col("dl").cast("double") / (F.col("sum_dl") / F.col("n_docs"))
        )
        term = idf * (tf * F.lit(BM25_K1 + 1.0)) / denom
        score = term if score is None else score + term
    return (
        base.crossJoin(F.broadcast(stats))
        .select(F.col("doc_id"), F.round(score, 6).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


def o_bm25_rank() -> str:
    tf_exprs = ", ".join(
        f"len(list_filter(tk, x -> x = '{t}')) AS tf_{i}" for i, t in enumerate(BM25_QUERY)
    )
    df_exprs = ", ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(BM25_QUERY))
    )
    terms = " + ".join(
        f"(ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * (tf_{i}::DOUBLE * {BM25_K1 + 1.0!r}) /"
        f" (tf_{i}::DOUBLE + {BM25_K1!r} * ({1.0 - BM25_B!r} + {BM25_B!r} * dl::DOUBLE / (sum_dl / n_docs))))"
        for i in range(len(BM25_QUERY))
    )
    return f"""
WITH base AS (
  SELECT doc_id, len(tk) AS dl, {tf_exprs}
  FROM (SELECT doc_id, {O.sql_tokens('text')} AS tk FROM documents)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl,
         {df_exprs}
  FROM base
)
SELECT doc_id, round({terms}, 6) AS bm25
FROM base, stats
WHERE ({terms}) > 0
ORDER BY bm25 DESC, doc_id ASC LIMIT 20
"""


def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-20 and int8-cosine knn top-20
    fused by Reciprocal Rank Fusion (operators/search.py `rrf_fuse`) —
    the production hybrid-search combiner (no score calibration needed
    across retrievers). Documents pair with embeddings by doc_id ==
    vec_id (the corpus's multimodal keying). Both inputs are shortlists,
    so fusion cost is independent of corpus size; the knn shortlist cut
    AND the ranks are computed on the ROUNDED scores with id tie-breaks
    so both the shortlist boundary and the rank order are
    engine-portable."""
    bm25 = q_bm25_rank(spark, sf_dir)  # (doc_id, bm25) top-20
    knn = S.knn_search(_emb(spark, sf_dir), FX.QUERY_VEC, k=20, round_to=9).select(
        F.col("vec_id").alias("doc_id"), F.col("score")
    )
    return S.rrf_fuse(bm25, knn, "doc_id", "bm25", "score", k=10)


def o_hybrid_rrf_search() -> str:
    qv = O.sql_qvec("embedding")
    return f"""
WITH bm AS ({o_bm25_rank()}),
knn AS (
  SELECT vec_id AS doc_id, round({O.sql_cosine_int8_lit(FX.QUERY_VEC, 'qvec')}, 9) AS score
  FROM (SELECT vec_id, {qv} AS qvec FROM embeddings) q
  ORDER BY score DESC, doc_id ASC LIMIT 20
),
ra AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank_a FROM bm),
rb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank_b FROM knn)
SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
       round(coalesce(1.0 / (60 + rank_a), 0.0) + coalesce(1.0 / (60 + rank_b), 0.0), 9)
         AS rrf_score,
       rank_a, rank_b
FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
"""


def q_training_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export manifest: the corpus hash-assigned to 8 shards
    (md5(doc_id) mod 8 — `operators/export.py`), with per-shard doc and
    token counts plus the first/last within-shard order keys. The stats
    twin of `write_training_shards`; assignment is a pure projection, the
    manifest is one small-key aggregation."""
    from pythonvectordb_spark.operators import export as EX

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(_tokens("text")).cast("long")
    )
    return EX.shard_stats(docs, 8, token_col="n_tok")


def o_training_shard_stats() -> str:
    h = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8)"
    return f"""
SELECT CAST({h} AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(list_filter(string_split(text, ' '), t -> t != ''))) AS BIGINT)
         AS n_tokens,
       min(md5(CAST(doc_id AS VARCHAR))) AS first_key,
       max(md5(CAST(doc_id AS VARCHAR))) AS last_key
FROM documents GROUP BY 1
"""


def q_source_token_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget (`curation.cap_per_source`): within each
    source, documents admit in content-hash order until the source's
    running token total reaches 700 — the RefinedWeb-style anti-dominance
    cap that stops any one crawl from owning the mixture. Deterministic
    and layout-independent (md5 order, not arrival order)."""
    docs = load_table(spark, sf_dir, "documents")
    return CU.cap_per_source(docs, 700)


def o_source_token_caps() -> str:
    return """
WITH d AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), t -> t != '')) AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
r AS (
  SELECT doc_id, source, n_tok,
         CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tok
  FROM d
)
SELECT doc_id, source, n_tok, cum_tok FROM r WHERE cum_tok <= 700
"""


def q_interleave_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixing audit of the deterministic export shuffle (new round 4):
    the md5 hash space sliced into 16 equal order-preserving ranges
    (each block = a contiguous run of `write_training_shards`'s
    shard-key order); per block, doc/token counts, distinct sources,
    and the largest single source's share — the pre-training check that
    a sequential reader's window sees the corpus mixture, not one crawl
    (`operators/export.interleave_audit`)."""
    from pythonvectordb_spark.operators import export as EX

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(_tokens("text")).cast("long")
    )
    return EX.interleave_audit(docs, 16, token_col="n_tok")


def o_interleave_audit(n_blocks: int = 16) -> str:
    return f"""
WITH d AS (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h32,
         source,
         CAST(len({O.sql_tokens('text')}) AS BIGINT) AS n_tok
  FROM documents
),
b AS (SELECT CAST((h32 * {n_blocks}) >> 32 AS INT) AS block, source, n_tok FROM d),
bs AS (
  SELECT block, source, CAST(count(*) AS BIGINT) AS n_bs,
         CAST(sum(n_tok) AS BIGINT) AS t_bs
  FROM b GROUP BY 1, 2
)
SELECT block, CAST(sum(n_bs) AS BIGINT) AS n_docs,
       CAST(sum(t_bs) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_sources,
       round(CAST(max(n_bs) AS DOUBLE) / CAST(sum(n_bs) AS DOUBLE), 9)
         AS top_source_share
FROM bs GROUP BY 1
"""


def q_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph density (new round 4): exact top-5 neighbors per
    vector (symmetric int8 cosine through the BLAS-batched knn_join),
    reciprocal edges kept, per-vector mutual degree returned — the
    embedding-quality / redundancy audit behind density-based curation
    (`operators/graph.mutual_knn_degrees`; scale path swaps the exact
    scorer for `dedup.embedding_near_dup`'s banded-LSH candidates)."""
    from pythonvectordb_spark.operators import graph as GR

    return GR.mutual_knn_degrees(_emb(spark, sf_dir), k=5)


def o_mutual_knn(k: int = 5) -> str:
    qv = O.sql_qvec("embedding")
    # symmetric int8 cosine: exact integer dot/norms (order-free), the
    # same arithmetic the BLAS verifier is pinned bit-equal to; testdata
    # vectors are non-zero so the zero-norm guard is a dead branch
    cos = (
        "(list_aggregate(list_transform(a.qv, (x, i) -> x::BIGINT * b.qv[i]::BIGINT), 'sum')::DOUBLE"
        " / (sqrt(list_aggregate(list_transform(a.qv, x -> x::BIGINT * x::BIGINT), 'sum')::DOUBLE)"
        " * sqrt(list_aggregate(list_transform(b.qv, x -> x::BIGINT * x::BIGINT), 'sum')::DOUBLE)))"
    )
    return f"""
WITH q AS (SELECT vec_id, {qv} AS qv FROM embeddings),
p AS (
  SELECT a.vec_id AS qa, b.vec_id AS qb, {cos} AS score
  FROM q a CROSS JOIN q b
),
rk AS (
  SELECT qa, qb,
         row_number() OVER (PARTITION BY qa ORDER BY score DESC, qb ASC) AS rn
  FROM p
),
e AS (SELECT qa AS a, qb AS b FROM rk WHERE rn <= {k + 1} AND qa != qb),
m AS (
  SELECT e.a, CAST(count(*) AS BIGINT) AS mutual_degree
  FROM e JOIN e r ON e.a = r.b AND e.b = r.a GROUP BY e.a
)
SELECT q.vec_id, coalesce(m.mutual_degree, CAST(0 AS BIGINT)) AS mutual_degree
FROM q LEFT JOIN m ON q.vec_id = m.a
"""


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified rerank (new round 4): greedy top-5 from the
    relevance top-20 maximizing `0.7*rel - 0.3*max_sim_to_selected` —
    the query-time diversity pass between retrieval and the context
    window (`operators/search.mmr_rerank`). Every selection boundary is
    on ROUNDED scores with id tie-break, so the greedy path is
    engine-portable step by step."""
    return S.mmr_rerank(_emb(spark, sf_dir), FX.QUERY_VEC, k=5, shortlist=20)


def o_mmr_rerank(k: int = 5, shortlist: int = 20, lam: float = 0.7) -> str:
    qv = O.sql_qvec("embedding")
    rel = O.sql_cosine_int8_lit(FX.QUERY_VEC, "qv")
    sym = (
        "(list_aggregate(list_transform(a.qv, (x, i) -> x::BIGINT * b.qv[i]::BIGINT), 'sum')::DOUBLE"
        " / (sqrt(list_aggregate(list_transform(a.qv, x -> x::BIGINT * x::BIGINT), 'sum')::DOUBLE)"
        " * sqrt(list_aggregate(list_transform(b.qv, x -> x::BIGINT * x::BIGINT), 'sum')::DOUBLE)))"
    )
    lam_l = f"{float(lam)!r}::DOUBLE"
    inv_l = f"{float(1.0 - lam)!r}::DOUBLE"
    ctes = [
        f"base AS (SELECT vec_id, {qv} AS qv FROM embeddings)",
        f"""short AS (
  SELECT vec_id, qv, round({rel}, 9) AS rel FROM base
  ORDER BY round({rel}, 9) DESC, vec_id ASC LIMIT {shortlist})""",
        f"""p AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, round({sym}, 9) AS sim
  FROM short a JOIN short b ON a.vec_id != b.vec_id)""",
        f"""s1 AS (
  SELECT 1 AS rank, vec_id, rel, round({lam_l} * rel, 6) AS mmr_score
  FROM short ORDER BY round({lam_l} * rel, 6) DESC, vec_id ASC LIMIT 1)""",
        "sel1 AS (SELECT * FROM s1)",
    ]
    for r in range(2, k + 1):
        ctes.append(
            f"""s{r} AS (
  SELECT {r} AS rank, c.vec_id, c.rel,
         round({lam_l} * c.rel - {inv_l} * (
           SELECT max(p.sim) FROM p
           WHERE p.ia = c.vec_id
             AND p.ib IN (SELECT vec_id FROM sel{r - 1})), 6) AS mmr_score
  FROM short c
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
  ORDER BY mmr_score DESC, vec_id ASC LIMIT 1)"""
        )
        ctes.append(
            f"sel{r} AS (SELECT * FROM sel{r - 1} UNION ALL SELECT * FROM s{r})"
        )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT CAST(rank AS INT) AS rank, vec_id, rel, mmr_score FROM sel{k}
"""


def q_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall curve (new round 4): recall@{1,5,10,20} of the
    production trained IVF+PQ configuration (nprobe=6, rerank=100)
    against the exact float-cosine ground truth — the index-quality
    report behind the nprobe/rerank knobs, as a registered query
    (`operators/search.ann_recall_curve`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ann = S.ann_ivf_pq_search(
        emb,
        FX.QUERY_VEC,
        FT.CENTROIDS_TRAINED,
        FT.PQ_CODEBOOKS_TRAINED,
        k=20,
        nprobe=6,
        rerank=100,
    )
    return S.ann_recall_curve(emb, ann, FX.QUERY_VEC, ks=(1, 5, 10, 20))


def o_ann_recall_curve() -> str:
    ann = _o_ann_ivf_pq(
        FT.CENTROIDS_TRAINED, FT.PQ_CODEBOOKS_TRAINED, nprobe=6, k=20
    ).strip()
    cos = O.sql_cosine_float_lit(FX.QUERY_VEC, "embedding")
    return f"""
WITH ann AS ({ann}),
ar AS (
  SELECT vec_id,
         row_number() OVER (ORDER BY score DESC, vec_id ASC) AS ann_rank
  FROM ann
),
ex AS (
  SELECT vec_id, round({cos}, 9) AS r9 FROM embeddings
  ORDER BY r9 DESC, vec_id ASC LIMIT 20
),
er AS (
  SELECT vec_id,
         row_number() OVER (ORDER BY r9 DESC, vec_id ASC) AS exact_rank
  FROM ex
),
j AS (SELECT ar.vec_id, ann_rank, exact_rank FROM ar JOIN er USING (vec_id)),
ks AS (SELECT unnest([1, 5, 10, 20]) AS k)
SELECT CAST(k AS INT) AS k,
       CAST((SELECT count(*) FROM j
             WHERE ann_rank <= ks.k AND exact_rank <= ks.k) AS BIGINT)
         AS n_overlap,
       round((SELECT count(*) FROM j
              WHERE ann_rank <= ks.k AND exact_rank <= ks.k)::DOUBLE
             / k::DOUBLE, 6) AS recall
FROM ks
"""


def q_rbo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap curve (new round 4): top-weighted agreement
    between the BM25 lexical top-20 and the int8-cosine knn top-20
    (p=0.9, geometric weights embedded as literals on both engines) —
    the retriever-agreement diagnostic behind `hybrid_rrf_search`'s
    fusion (`operators/search.rbo_curve`)."""
    bm25 = q_bm25_rank(spark, sf_dir)  # (doc_id, bm25) top-20, rounded
    knn = S.knn_search(_emb(spark, sf_dir), FX.QUERY_VEC, k=20, round_to=9).select(
        F.col("vec_id").alias("doc_id"), F.col("score")
    )
    return S.rbo_curve(bm25, knn, "doc_id", "bm25", "score", depth=20, p=0.9)


def o_rbo_overlap(depth: int = 20, p: float = 0.9) -> str:
    qv = O.sql_qvec("embedding")
    weights = [(d, (1.0 - p) * p ** (d - 1)) for d in range(1, depth + 1)]
    dw_rows = ", ".join(f"({d}, {w!r}::DOUBLE)" for d, w in weights)
    return f"""
WITH bm AS ({o_bm25_rank()}),
knn AS (
  SELECT vec_id AS doc_id, round({O.sql_cosine_int8_lit(FX.QUERY_VEC, 'qvec')}, 9) AS score
  FROM (SELECT vec_id, {qv} AS qvec FROM embeddings) q
  ORDER BY score DESC, doc_id ASC LIMIT 20
),
ra AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank_a FROM bm),
rb AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank_b FROM knn),
j AS (SELECT ra.doc_id, rank_a, rank_b FROM ra JOIN rb USING (doc_id)),
dw(d, w) AS (VALUES {dw_rows}),
per AS (
  SELECT d, w,
         (SELECT count(*) FROM j WHERE rank_a <= dw.d AND rank_b <= dw.d)
           AS n_overlap
  FROM dw
)
SELECT CAST(d AS INT) AS d,
       CAST(n_overlap AS BIGINT) AS n_overlap,
       round(n_overlap::DOUBLE / d::DOUBLE, 6) AS agreement,
       round(sum(w * (n_overlap::DOUBLE / d::DOUBLE))
               OVER (ORDER BY d ROWS UNBOUNDED PRECEDING), 6) AS rbo_cum
FROM per
"""


def q_shard_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square uniformity of the md5 export-shard assignment over
    doc ids (staged for the round-5 rotation): the self-check that the
    deterministic hash scatters THIS id population
    (`operators/sketch.shard_uniformity`)."""
    from pythonvectordb_spark.operators import sketch as SK

    return SK.shard_uniformity(load_table(spark, sf_dir, "documents"))


def o_shard_uniformity() -> str:
    h = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16)"
    return f"""
WITH g AS (SELECT CAST({h} AS INTEGER) AS s, CAST(count(*) AS BIGINT) AS o
           FROM documents GROUP BY 1),
t AS (SELECT CAST(count(*) AS BIGINT) AS k_used, CAST(sum(o) AS BIGINT) AS n,
             CAST(sum(o * o) AS BIGINT) AS so2,
             CAST(min(o) AS BIGINT) AS mn, CAST(max(o) AS BIGINT) AS mx
      FROM g)
SELECT n AS n_rows, k_used AS n_shards_hit,
       round((16 * so2 - n * n)::DOUBLE / n::DOUBLE, 6) AS chisq,
       round(mn::DOUBLE / n::DOUBLE, 9) AS min_share,
       round(mx::DOUBLE / n::DOUBLE, 9) AS max_share
FROM t
"""
