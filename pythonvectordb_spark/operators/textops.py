"""Text-analysis operators for training-data pipelines (driver mandate,
SURVEY.md §2.12): language ID, quality scoring, token counting, document
fingerprinting. Pure column expressions — no Python in the row path, so
every operator whole-stage-codegens and scales linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pythonvectordb_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    normalize_text,
    shingles,
    tokens,
)
from pythonvectordb_spark.functions.vector import let


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace + distinct token counts and char length (all exact ints)."""
    t = tokens(text_col)
    return df.select(
        F.col(id_col),
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct_tokens"),
        F.length(F.col(text_col)).alias("n_chars_measured"),
    )


def text_quality(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality signals: token stats, stopword ratio, type-token ratio, and
    a composite quality score. All ratios are exact-integer divisions
    (deterministic doubles), rounded for output stability."""
    t = tokens(text_col)
    n_tok = F.size(t).cast("double")
    n_stop = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))).cast("double")
    n_uniq = F.size(F.array_distinct(t)).cast("double")
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    ttr = F.when(n_tok > 0, n_uniq / n_tok).otherwise(F.lit(0.0))
    avg_len = F.when(
        n_tok > 0,
        (F.length(F.col(text_col)).cast("double") - (n_tok - 1)) / n_tok,
    ).otherwise(F.lit(0.0))
    # composite: long-enough, diverse, not stopword-soup
    score = (
        F.least(n_tok / F.lit(50.0), F.lit(1.0)) * F.lit(0.4)
        + ttr * F.lit(0.4)
        + (F.lit(1.0) - stop_ratio) * F.lit(0.2)
    )
    return df.select(
        F.col(id_col),
        F.size(t).alias("n_tokens"),
        F.round(stop_ratio, 9).alias("stopword_ratio"),
        F.round(ttr, 9).alias("type_token_ratio"),
        F.round(avg_len, 9).alias("avg_token_len"),
        F.round(score, 9).alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-count language heuristic: score each language by marker-token
    hits, argmax with deterministic tie-break (lexicographic language
    code); 'und' when nothing matches."""
    t = tokens(text_col)
    scores = {
        lang: F.size(F.filter(t, lambda x: x.isin(*markers))).cast("long")
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("long")
    # iterate in reverse-lexicographic order so that on ties the
    # lexicographically-smallest language wins (>= replaces)
    for lang in sorted(scores, reverse=True):
        s = scores[lang]
        improved = (s > F.lit(0)) & (s >= best_score)
        best_lang = F.when(improved, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(improved, s).otherwise(best_score)
    return df.select(
        F.col(id_col),
        best_lang.alias("lang_guess"),
        best_score.alias("marker_hits"),
    )


def tfidf_terms(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """TF-IDF per (document, term): tf * (ln((N+1)/(df+1)) + 1) — the
    smoothed-idf formula, computed with exact integer tf/df so only the
    final ln/multiply are floating point (deterministic, rounded).

    Plan shape: one explode + two grouped aggregations + a broadcast-able
    term-dimension join; no Python, scales linearly in corpus size. The
    corpus size N joins in as a broadcast 1-row aggregate, so the whole
    computation is ONE lazy job (no separate driver-blocking count()).
    """
    from pythonvectordb_spark.util import ensure_parallelism

    # 1-row, column-pruned count — broadcast into the plan instead of a
    # separate eager count() job (integer counts < 2^53 are exact doubles)
    n_docs = df.select(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    toks = ensure_parallelism(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    # lazy checkpoint: tf feeds BOTH the document-frequency aggregate and
    # the final join — shuffle reuse shares tf's exchange, but the final
    # per-(doc,token) aggregate above it would still run once per reader
    tf = (
        toks.groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = F.log(
        (F.col("_n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1)).cast("double")
    ) + F.lit(1.0)
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "token",
            "tf",
            "df",
            F.round(F.col("tf").cast("double") * idf, 6).alias("tfidf"),
        )
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token windows — the unit a RAG
    index or a fixed-context pretraining loader consumes.

    Chunk ``i`` covers tokens ``[i*step, i*step + chunk_tokens)`` with
    ``step = chunk_tokens - overlap``; generation stops at the first
    chunk whose window reaches the end of the document, so no trailing
    chunk is a pure suffix of its predecessor. The chunk count is exact
    integer arithmetic (``1 + ceildiv(n - chunk_tokens, step)``),
    identical in Spark and the DuckDB oracle.

    Pure expressions + one ``explode`` — per-row fan-out is bounded by
    document length, there is no shuffle, and the projection codegens.
    Returns (doc_id, chunk_idx, chunk_text, n_chunk_tokens).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    t = tokens(text_col)
    n = F.size(t)
    # ceildiv(n - chunk, step) via (a + step - 1) div step; 0 when the doc
    # fits in one chunk. Empty docs emit no chunks.
    extra = F.floor((n - F.lit(chunk_tokens) + F.lit(step - 1)) / F.lit(step)).cast("int")
    n_chunks = F.when(n <= F.lit(0), F.lit(0)).otherwise(
        F.lit(1) + F.greatest(F.lit(0), extra)
    )
    idx = F.when(
        n_chunks > F.lit(0), F.sequence(F.lit(0), n_chunks - F.lit(1))
    ).otherwise(F.array().cast("array<int>"))
    with_idx = df.select(
        F.col(id_col), t.alias("_t"), F.explode(idx).alias("chunk_idx")
    )
    chunk = F.slice(
        F.col("_t"), F.col("chunk_idx") * F.lit(step) + F.lit(1), F.lit(chunk_tokens)
    )
    return with_idx.select(
        F.col(id_col),
        F.col("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_chunk_tokens"),
    )


def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals per document: the share of tokens
    that are repeats, the share claimed by the single most frequent token,
    and the share of bigram slots claimed by the most frequent bigram.
    High values flag boilerplate / template / keyword-stuffed documents
    that survive exact dedup.

    Token and bigram counting run as explode -> (doc, gram) partial-agg ->
    per-doc max: two map-side-combined shuffles keyed by doc_id, state
    bounded by document length — no all-pairs work, linear at corpus
    scale. (An expression-only variant via ``transform(array_distinct)``
    would be O(len * distinct) per row — worse on long documents.)
    """
    t = tokens(text_col)
    base = df.select(F.col(id_col), t.alias("_t"))
    tok = base.select(F.col(id_col), F.explode("_t").alias("g"))
    top_tok = (
        tok.groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.max("c").cast("long").alias("top_token_count"),
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
        )
    )
    n1 = F.size(F.col("_t")) - F.lit(1)
    bigrams = F.when(
        n1 >= F.lit(1),
        F.transform(
            F.sequence(F.lit(1), n1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("_t"), i.cast("int")),
                F.element_at(F.col("_t"), (i + 1).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    big = base.select(F.col(id_col), F.explode(bigrams).alias("g"))
    top_big = (
        big.groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.max("c").cast("long").alias("top_bigram_count"),
            F.sum("c").cast("long").alias("n_bigrams"),
        )
    )
    joined = top_tok.join(top_big, id_col, "left")
    nd = F.col("n_tokens").cast("double")
    return joined.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round((nd - F.col("n_distinct_tokens")) / nd, 9).alias("dup_token_frac"),
        F.round(F.col("top_token_count") / nd, 9).alias("top_token_share"),
        F.round(
            F.coalesce(F.col("top_bigram_count"), F.lit(0)).cast("double")
            / F.greatest(F.coalesce(F.col("n_bigrams"), F.lit(0)), F.lit(1)).cast("double"),
            9,
        ).alias("top_bigram_share"),
    )


def unigram_surprisal(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Perplexity proxy: average token surprisal ``-ln p(token)`` under
    the corpus's own unigram model (``p = count/total``). Low values mean
    the document is made of corpus-common tokens (boilerplate); high
    values flag rare-token noise — the cheap first-pass stand-in for a
    model-based quality score.

    Two passes over the token stream expressed as one lazy plan: a
    vocabulary aggregate (token -> count) re-joined to the exploded
    corpus on the token key, plus a 1-row broadcast total. The vocabulary
    join is a plain shuffle join — the vocabulary is Zipf-bounded but can
    exceed broadcast limits at 100 TB, so no broadcast hint is forced;
    AQE converts it when small.
    """
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    # grand total from a shuffle-free per-document size() scan — NOT from
    # re-aggregating the vocabulary (which would repeat the token-key
    # shuffle; sum over per-doc sizes equals sum over vocab counts)
    total = df.select(
        F.sum(F.size(tokens(text_col))).cast("double").alias("_total")
    )
    scored = toks.join(vocab, "token").crossJoin(F.broadcast(total))
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("_total") / F.col("cnt").cast("double"))), 9
            ).alias("avg_surprisal"),
            F.round(
                F.max(F.log(F.col("_total") / F.col("cnt").cast("double"))), 9
            ).alias("max_surprisal"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    n_buckets: int = 3,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020): rank every document WITHIN its language by the unigram
    surprisal score and cut into ``n_buckets`` equal tertiles —
    head (corpus-typical, kept), middle, tail (noise, dropped or
    down-weighted). The classic cheap quality triage that feeds
    mixture decisions before any model-based scoring.

    Buckets are assigned by ``ntile`` over (ROUNDED avg_surprisal asc,
    id asc) — the surprisal score is already rounded to 9 by
    ``unigram_surprisal``, and the id tie-break makes the bucket
    boundary engine-portable even when scores tie. Returns per
    (lang, bucket): doc count and the bucket's surprisal range.

    Scale shape: the surprisal plan (vocabulary join with a reused
    token-key exchange) plus ONE window shuffle partitioned by
    language. The per-language sort is the audit-grade path; at 100 TB
    with a skewed language mix, swap the exact ntile for GK-sketch
    quantile boundaries (`operators/sketch.approx_percentiles`)
    broadcast back as range predicates — same output grain, no
    full sort.
    """
    from pyspark.sql import Window

    s = unigram_surprisal(df, text_col=text_col, id_col=id_col)
    j = df.select(F.col(id_col), F.col(lang_col)).join(s, id_col)
    w = Window.partitionBy(lang_col).orderBy(
        F.col("avg_surprisal").asc(), F.col(id_col).asc()
    )
    return (
        j.withColumn("bucket", F.ntile(n_buckets).over(w))
        .groupBy(lang_col, "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("avg_surprisal").alias("lo_surprisal"),
            F.max("avg_surprisal").alias("hi_surprisal"),
        )
    )


def zipf_fit(
    df: DataFrame,
    max_rank: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary health check: OLS fit of ln(frequency) on ln(rank)
    over the top-``max_rank`` tokens — a natural corpus follows Zipf's
    law with slope ≈ −1; a slope collapsing toward 0 flags template
    spam / token-soup contamination, a much steeper slope flags
    boilerplate domination. Standard corpus-card material (the fit is
    run on the head ranks, where Zipf holds; the tail always deviates).

    Determinism: ranks come from row_number over (count desc, token
    asc) — pure integer ordering; x = ln(rank), y = ln(count) are
    ln's of exact integers, so both engines see identical terms; the
    OLS moments are single-group float sums ROUNDED TO 6 after the
    closed-form division (the `event_value_regression` moment
    discipline).

    Scale shape: one token-count agg (map-side combined), then the
    top-``max_rank`` cut is TakeOrderedAndProject — the rank window
    runs over at most ``max_rank`` rows, never the full vocabulary, so
    there is no global sort at any corpus size. The full-vocab size is
    a second aggregate over the counted frame (checkpointed — two
    readers).

    Returns one row: (n_vocab, n_fit, slope, intercept).
    """
    from pyspark.sql import Window

    toks = df.select(F.explode(tokens(text_col)).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    nv = vocab.agg(F.count(F.lit(1)).cast("long").alias("n_vocab"))
    top = vocab.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(max_rank)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("cnt").desc(), F.col("token").asc())),
    ).select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_fit"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (m["n_fit"] * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        m["n_fit"] * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        m.crossJoin(F.broadcast(nv))
        .withColumn("slope", F.round(slope, 6))
        .select(
            "n_vocab",
            "n_fit",
            "slope",
            F.round((F.col("sy") - F.col("slope") * F.col("sx")) / m["n_fit"], 6).alias(
                "intercept"
            ),
        )
    )


def boilerplate_share(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Cross-document boilerplate: the share of each document's distinct
    word-``n``-grams that also appear in at least one OTHER document.
    High values mean the document is assembled from corpus-common
    template text — the corpus-level complement of the within-document
    :func:`repetition_stats` (a doc can be internally non-repetitive yet
    99% boilerplate).

    Plan: shingle -> inverted index -> shingle-frequency
    aggregate re-joined on the shingle key -> per-doc aggregate. Two
    map-side-combined shuffles (shingle, doc_id); never all-pairs — the
    same inverted-index shape the n-gram dedup join uses, so it scales
    the same way. Shingle lists are distinct per doc, so a shingle's
    count equals its document frequency.
    """
    from pythonvectordb_spark.operators.dedup import _shingled

    inv = _shingled(df, text_col, id_col, n).select(
        F.col(id_col), F.explode("sh").alias("shingle")
    )
    freq = inv.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("df_count")
    )
    shared = F.sum(F.when(F.col("df_count") > 1, 1).otherwise(0)).cast("long")
    return (
        inv.join(freq, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            shared.alias("n_shared"),
            F.round(
                shared.cast("double") / F.count(F.lit(1)).cast("double"), 9
            ).alias("boilerplate_share"),
        )
    )


def doc_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical-text fingerprint: md5 over normalized text + byte length.

    The md5 is the content-defined dedup key used by dedup_exact; byte
    length is a cheap secondary check."""
    norm = normalize_text(text_col)
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint"),
        F.length(norm).cast("int").alias("norm_len"),
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-chunk sequence packing — the layout step of an LLM
    pretraining loader: documents are concatenated in ``id_col`` order
    into one global token stream, and the stream is cut into fixed
    ``seq_len`` training sequences. Per document this yields the first
    and last sequence it lands in and whether it straddles a boundary
    (the fraction that does measures cross-document attention leakage
    for a given context length).

    The global running total is a DISTRIBUTED prefix sum, not a
    single-partition window (the 100 TB anti-pattern for a global
    cumsum): range-repartition on ``id_col``, cumsum WITHIN each range
    partition (parallel windows), then add per-partition prefix offsets
    computed from a P-row aggregate joined back as a broadcast. Range
    boundaries come from sampling and may vary run to run, but the
    (partition-order == id-order) invariant makes the result exact and
    deterministic regardless of where the cuts land.

    Returns (doc_id, n_tok, seq_first, seq_last, spans_boundary).
    """
    from pyspark.sql import Window

    n_tok = F.size(tokens(text_col))
    d = df.select(F.col(id_col), n_tok.alias("n_tok")).filter(F.col("n_tok") > 0)
    spark = df.sparkSession
    try:
        # may be a non-numeric value like 'auto' under AQE-managed configs
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except ValueError:
        n_part = 32
    d = d.repartitionByRange(n_part, F.col(id_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_local_cum", F.sum("n_tok").over(w_local))
    # P rows: exclusive prefix of per-partition totals (tiny single-task
    # window over <=P rows, then broadcast back)
    w_pid = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d.groupBy("_pid")
        .agg(F.sum("n_tok").alias("_ptot"))
        .select("_pid", F.coalesce(F.sum("_ptot").over(w_pid), F.lit(0)).alias("_off"))
    )
    cum = (F.col("_local_cum") + F.col("_off")).cast("long")
    start = cum - F.col("n_tok")
    return (
        d.join(F.broadcast(offsets), "_pid")
        .select(
            F.col(id_col),
            F.col("n_tok").cast("long").alias("n_tok"),
            # exact integer division (`div`), not FP floor(a/b): at very
            # large token totals double division can misround near
            # multiples of seq_len where the DuckDB oracle's `//` cannot
            start.alias("_start"),
            (cum - 1).alias("_endtok"),
        )
        .select(
            F.col(id_col),
            "n_tok",
            F.expr(f"_start div {int(seq_len)}").alias("seq_first"),
            F.expr(f"_endtok div {int(seq_len)}").alias("seq_last"),
            F.expr(
                f"_start div {int(seq_len)} != _endtok div {int(seq_len)}"
            ).alias("spans_boundary"),
        )
    )


def build_vocab(
    df: DataFrame,
    vocab_size: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary: top-``vocab_size`` tokens by frequency with
    dense integer ids (1-based; 0 is reserved for OOV).

    Rank order is (count DESC, token ASC) — fully deterministic through
    ties, including at the size cutoff. The count is a map-side-combined
    aggregate over the exploded token stream; the top-V cut is a
    TakeOrderedAndProject; only the V surviving rows pass through the
    id-assigning window, so the unpartitioned window is bounded by the
    vocabulary size, never the corpus.
    """
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("token_count"))
    )
    top = counts.orderBy(F.desc("token_count"), F.asc("token")).limit(vocab_size)
    w = Window.orderBy(F.desc("token_count"), F.asc("token"))
    return top.select(
        "token",
        F.col("token_count").cast("long").alias("token_count"),
        F.row_number().over(w).cast("int").alias("token_id"),
    )


def encode_tokens(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode documents as integer-id arrays against a vocabulary —
    the tokenizer-apply step of a pretraining pipeline. Unknown tokens
    map to 0 (OOV).

    The vocabulary collapses to a ONE-ROW map column and broadcasts; the
    encode is then ``transform(tokens, t -> map[t])`` — a single scan of
    the corpus with a per-token hash lookup, entirely JVM-side. No
    explode, no join on the token stream, no re-aggregation: at 100 TB
    the corpus is touched once and nothing about the document rows
    shuffles.

    Returns (doc_id, token_ids, n_tok, n_oov).
    """
    vmap = vocab.agg(
        F.map_from_entries(F.collect_list(F.struct("token", "token_id"))).alias("_vmap")
    )
    ids = F.transform(
        tokens(text_col),
        lambda t: F.coalesce(F.element_at(F.col("_vmap"), t), F.lit(0)).cast("int"),
    )
    return (
        df.crossJoin(F.broadcast(vmap))
        .select(
            F.col(id_col),
            ids.alias("token_ids"),
            F.size(ids).alias("n_tok"),
            F.size(F.filter(ids, lambda x: x == F.lit(0))).alias("n_oov"),
        )
    )


def corpus_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = "lang",
) -> DataFrame:
    """One-row corpus card: document/token/char totals, language breadth
    (when ``lang_col`` is present — pass ``None`` or a missing name for a
    corpus without one; the column is then reported as 0), exact-duplicate
    rate. One scan, one map-side-combined aggregate (count_distinct adds
    its standard expand; all else is partial-aggregable)."""
    t = tokens(text_col)
    has_lang = lang_col is not None and lang_col in df.columns
    lang_expr = F.col(lang_col) if has_lang else F.lit(None).cast("string")
    return df.select(
        F.col(id_col),
        F.size(t).alias("_n_tok"),
        F.length(text_col).alias("_n_chars"),
        lang_expr.alias("_lang"),
        F.md5(F.col(text_col)).alias("_h"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_n_tok").cast("long").alias("total_tokens"),
        F.sum("_n_chars").cast("long").alias("total_chars"),
        F.countDistinct("_lang").cast("long").alias("n_langs"),
        F.countDistinct("_h").cast("long").alias("n_unique_texts"),
        F.round(F.avg("_n_tok"), 6).alias("avg_doc_tokens"),
    )


def bigram_surprisal(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Second-order perplexity proxy: average conditional bigram
    surprisal ``-ln p(w2 | w1)`` under the corpus's own bigram model
    (``p = C(w1 w2) / C(w1 ·)``). Catches degenerate repetition that the
    unigram model scores as fluent (a doc repeating one common phrase
    has LOW bigram surprisal; one gluing common tokens in odd orders
    scores HIGH) — the standard companion signal to
    ``unigram_surprisal`` in data-quality stacks.

    One explode produces the bigram stream; both count tables (bigram
    and first-token marginal) aggregate from that same stream, re-join
    on their keys, and reduce per document. The count joins are plain
    shuffle joins — the bigram vocabulary is corpus-sized at 100 TB, so
    no broadcast is forced; AQE converts when small. Documents with
    fewer than two tokens emit no bigrams and drop out.
    """
    big = (
        df.select(F.col(id_col), tokens(text_col).alias("_tk"))
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "CASE WHEN size(_tk) >= 2 THEN "
                    "transform(sequence(1, size(_tk) - 1), "
                    "i -> struct(element_at(_tk, CAST(i AS INT)) AS w1, "
                    "element_at(_tk, CAST(i + 1 AS INT)) AS w2)) "
                    "ELSE CAST(array() AS array<struct<w1:string,w2:string>>) END"
                )
            ).alias("p"),
        )
        .select(F.col(id_col), F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    s = F.log(F.col("c1").cast("double") / F.col("c2").cast("double"))
    return (
        big.join(c2, ["w1", "w2"]).join(c1, ["w1"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg(s), 9).alias("avg_surprisal"),
            F.round(F.max(s), 9).alias("max_surprisal"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicate TEXT SPANS — the ExactSubstr-dedup shape
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): maximal runs of >= ``window`` consecutive tokens that also
    appear in at least one OTHER document. Document-level dedup misses
    these (a unique page quoting a boilerplate paragraph survives); span
    detection finds the paragraph itself for surgical removal.

    Relational construction, no suffix array needed:
      1. every length-``window`` token window, hashed to a 60-bit key
         (md5 prefix -> BIGINT, the SimHash trick: an 8-byte shuffle key
         instead of a 32-char digest string);
      2. windows whose hash occurs in >= 2 DISTINCT docs are duplicate
         windows (one grouped count — map-side combined);
      3. per doc, overlapping/adjacent duplicate positions merge into
         maximal spans with the gaps-and-islands pattern (pos -
         row_number is constant within a consecutive run).

    Cost: O(total tokens) window rows, one shuffle on the 8-byte hash,
    one window function over duplicate positions only (tiny unless the
    corpus is mostly boilerplate — in which case that IS the signal).
    Returns (doc_id, start_tok, end_tok, span_tokens, n_windows);
    token positions are 0-based, end exclusive.
    """
    # lazy checkpoint: the window frame feeds the duplicate-hash count
    # AND the position join below (advisor union-recompute discipline)
    wins = _token_windows(df, window, text_col, id_col).localCheckpoint(eager=False)
    dup = (
        wins.groupBy("whash")
        .agg(F.countDistinct(id_col).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("whash")
    )
    dpos = wins.join(dup, "whash").select(F.col(id_col), "pos").distinct()
    return _merge_spans(dpos, window, id_col)


def _token_windows(
    df: DataFrame, window: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, pos, whash): every length-``window`` token window hashed to a
    60-bit key (md5 prefix -> BIGINT — 8-byte shuffle key). Docs shorter
    than the window emit nothing."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("w")).where(
        F.size("w") >= window
    )
    whash = F.conv(
        F.substring(
            F.md5(F.array_join(F.slice("w", F.col("i") + 1, window), " ")), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return toks.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.size("w") - window)).alias("i"),
        "w",
    ).select(F.col(id_col), F.col("i").alias("pos"), whash.alias("whash"))


def _merge_spans(dpos: DataFrame, window: int, id_col: str) -> DataFrame:
    """Gaps-and-islands merge of flagged window positions into maximal
    (start_tok, end_tok) spans per document (end exclusive)."""
    from pyspark.sql import Window

    rn = F.row_number().over(Window.partitionBy(id_col).orderBy("pos"))
    return (
        dpos.withColumn("grp", F.col("pos") - rn)
        .groupBy(id_col, "grp")
        .agg(
            F.min("pos").cast("int").alias("start_tok"),
            (F.max("pos") + window).cast("int").alias("end_tok"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .select(
            id_col,
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok")).cast("int").alias("span_tokens"),
            "n_windows",
        )
    )


def contamination_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SPAN-LEVEL benchmark decontamination: the exact token runs (>=
    ``window`` tokens) of each corpus document that also appear verbatim
    in the held-out benchmark set. `curation.decontaminate` answers
    "WHICH documents overlap the eval set"; this answers "WHERE" — the
    13-gram-style contamination report that lets a pipeline surgically
    cut the leaked passage instead of dropping the whole document.

    Plan: corpus windows (O(corpus tokens), 60-bit keys) semi-joined
    against the benchmark's DISTINCT window-hash set (eval sets are
    small — the join broadcasts), islands merged per doc. The corpus is
    scanned once and shuffles only its flagged positions.
    """
    bwins = (
        _token_windows(benchmark, window, text_col, id_col)
        .select("whash")
        .distinct()
    )
    cwins = _token_windows(corpus, window, text_col, id_col)
    dpos = cwins.join(F.broadcast(bwins), "whash", "left_semi").select(
        F.col(id_col), "pos"
    )
    return _merge_spans(dpos, window, id_col)


def scrub_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The surgical CUT that consumes a span report (`duplicate_spans` /
    `contamination_spans`): remove the reported token ranges from each
    document and emit an auditable result row per input doc —
    (doc_id, n_tok_before, n_tok_after, n_spans, clean_md5), where
    clean_md5 digests the scrubbed text (kept tokens re-joined with
    single spaces). Detect -> cut -> verify, all oracle-checkable.

    Spans are collected per doc (a handful of (start, end) structs — the
    report is small by construction) and applied with ONE indexed
    filter expression over the token array: no explode, no shuffle of
    the corpus text; the only shuffle is the span report's own tiny
    groupBy. Docs without spans pass through with their token count
    unchanged."""
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("_spans")
    )
    j = df.join(sp, id_col, "left")
    spans_arr = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<start_tok:int,end_tok:int>>"),
    )
    toks = tokens(text_col)
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            spans_arr, lambda s: (i >= s.start_tok) & (i < s.end_tok)
        ),
    )
    return j.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tok_before"),
        F.size(kept).cast("long").alias("n_tok_after"),
        F.size(spans_arr).cast("long").alias("n_spans"),
        F.md5(F.array_join(kept, " ")).alias("clean_md5"),
    )


def tokenizer_fertility(
    df: DataFrame,
    pattern: str,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-language tokenizer fertility: subword tokens (the GPT-2-style
    regex pre-tokenization classes given as ``pattern``) per whitespace
    word, plus characters per subword — the standard multilingual-budget
    diagnostic (a language with fertility 2.3 pays 2.3x the sequence
    length per word, so token budgets and mixture weights must be set in
    TOKENS, not words; cf. the reference's whole-corpus token accounting,
    ``benchmark_suite.py:204-233``, which this breaks down per language).

    One projection computes both token counts per document (two JVM-side
    regex/split expressions over the same scanned text column — the
    corpus is read ONCE, no Python in the loop), then one grouped sum on
    the low-cardinality language key (map-side combined; the shuffle
    carries langs x 4 longs, not text). Ratios are exact-integer
    divisions promoted to double, rounded to 6.
    """
    t = tokens(text_col)
    sub = F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))
    per_doc = df.select(
        F.col(lang_col).alias("lang"),
        F.size(t).cast("long").alias("n_words"),
        F.size(sub).cast("long").alias("n_subwords"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
    )
    g = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_subwords").cast("long").alias("n_subwords"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    words = F.col("n_words").cast("double")
    subs = F.col("n_subwords").cast("double")
    return g.select(
        "lang",
        "n_docs",
        "n_words",
        "n_subwords",
        F.round(F.when(F.col("n_words") > 0, subs / words).otherwise(F.lit(0.0)), 6)
        .alias("fertility"),
        F.round(
            F.when(F.col("n_subwords") > 0, F.col("n_chars").cast("double") / subs)
            .otherwise(F.lit(0.0)),
            6,
        ).alias("chars_per_subword"),
    )


def bpe_merge_pairs(
    df: DataFrame,
    pattern: str,
    text_col: str = "text",
    top_n: int = 20,
) -> DataFrame:
    """The first BPE training iteration: the ``top_n`` most frequent
    adjacent-character pairs across the corpus' pre-tokenized words —
    exactly the statistic a byte-pair-encoding trainer merges on (each
    subsequent merge round recomputes this table over the rewritten
    symbol sequences; round 1 is the expensive one because it sees raw
    characters). Complements `build_vocab` (whole-token vocabulary) with
    the subword-unit view.

    Scale shape: the corpus text is scanned once and collapsed to the
    DISTINCT-WORD frequency table first (one map-side-combined grouped
    count — the classic BPE-trainer trick: pair counts are word-count
    weighted, so the explode that follows fans out over unique words,
    not corpus tokens). Char pairs per distinct word come from ONE
    `transform(sequence(...))` expression (guarded: Spark's `sequence`
    runs DESCENDING when stop < start, so 1-char words get an explicit
    empty array), then one grouped sum on the pair key and a
    TakeOrdered top-N with (count DESC, pair ASC) tie-break. The final
    rank window runs on top_n rows — after the limit, not before.
    """
    from pyspark.sql import Window

    toks = F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))
    words = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    ln = F.length(F.col("w"))
    pairs_arr = F.when(
        ln > 1,
        F.transform(
            F.sequence(F.lit(1), ln - 1), lambda i: F.col("w").substr(i, F.lit(2))
        ),
    ).otherwise(F.array().cast("array<string>"))
    pair_counts = (
        words.select(F.explode(pairs_arr).alias("pair"), "wc")
        .groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(top_n)
    )
    rank = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return pair_counts.select(
        F.row_number().over(rank).cast("int").alias("rank"),
        "pair",
        "n_occurrences",
    )


BPE_US = "\x1f"  # unit separator: never occurs in pattern-extracted tokens


def _bpe_fold_rewrite(seq_col, pair_col, merged_col):
    """Expression applying ONE BPE merge (``pair_col`` = "l r" ->
    ``merged_col`` = "lr") to a space-joined symbol string: greedy
    left-to-right non-overlapping, the canonical BPE rewrite.

    Implemented as a sequential left-assoc string fold (the repo's
    oracle-parity discipline — DuckDB's ``list_reduce`` replays it
    bit-identically, see ``registry._bpe_cte_chain``): the accumulator
    is ``out || US || pending`` where ``pending`` is the previous
    symbol awaiting its right neighbor; a pair hit flushes the merged
    symbol and clears ``pending`` so the next symbol cannot re-merge
    into it (non-overlap). ``out`` accumulates with a leading space
    that the finish lambda strips.
    """
    syms = F.split(seq_col, " ")
    us = F.lit(BPE_US)

    def out_of(acc):
        return F.substring_index(acc, BPE_US, 1)

    def prev_of(acc):
        return F.substring_index(acc, BPE_US, -1)

    def step(acc, x):
        return (
            F.when(prev_of(acc) == "", F.concat(out_of(acc), us, x))
            .when(
                F.concat(prev_of(acc), F.lit(" "), x) == pair_col,
                F.concat(out_of(acc), F.lit(" "), merged_col, us),
            )
            .otherwise(
                F.concat(out_of(acc), F.lit(" "), prev_of(acc), us, x)
            )
        )

    def finish(acc):
        full = F.when(prev_of(acc) == "", out_of(acc)).otherwise(
            F.concat(out_of(acc), F.lit(" "), prev_of(acc))
        )
        return F.substring(full, 2, 2_000_000_000)

    return F.aggregate(syms, us, step, finish)


def _bpe_words(df: DataFrame, pattern: str, text_col: str) -> DataFrame:
    """Distinct-word frequency table with the initial character-level
    symbol string — the ONLY corpus-sized scan in BPE training; every
    merge round below runs on this vocabulary-sized frame."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))
    words = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    chars = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.col("w").substr(i, F.lit(1)),
        ),
        " ",
    )
    return words.select("w", "wc", chars.alias("seq"))


def _bpe_train(
    words: DataFrame, n_merges: int
) -> tuple[DataFrame, DataFrame]:
    """Unrolled BPE merge rounds over the distinct-word frequency table
    (the PageRank unrolled-rounds pattern, `graph.pagerank`): each round
    is ONE grouped sum on the adjacent-pair key (map-side combined, the
    frame is vocabulary-sized), a TakeOrdered(1) best pick with
    (count DESC, pair ASC) tie-break, and a broadcast one-row cross
    join feeding the expression fold that rewrites every word. Lazy
    localCheckpoints cut the 10-round lineage so Catalyst never sees a
    nested 10-deep plan. Returns (merge table, final rewritten words).
    """
    cur = words.localCheckpoint(eager=False)
    merges = None
    for r in range(1, n_merges + 1):
        pairs_arr = let(
            F.split(F.col("seq"), " "),
            lambda syms: F.when(
                F.size(syms) > 1,
                F.transform(
                    F.sequence(F.lit(1), F.size(syms) - 1),
                    lambda i: F.concat(
                        F.element_at(syms, i), F.lit(" "), F.element_at(syms, i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
        best = (
            cur.select(F.explode(pairs_arr).alias("pair"), "wc")
            .groupBy("pair")
            .agg(F.sum("wc").cast("long").alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.asc("pair"))
            .limit(1)
            .select(
                F.lit(r).cast("int").alias("merge_rank"),
                "pair",
                F.translate("pair", " ", "").alias("merged"),
                "n_occurrences",
            )
            .localCheckpoint(eager=False)
        )
        merges = best if merges is None else merges.unionByName(best)
        cur = (
            cur.crossJoin(
                F.broadcast(
                    best.select(
                        F.col("pair").alias("_p"), F.col("merged").alias("_m")
                    )
                )
            )
            .select(
                "w",
                "wc",
                _bpe_fold_rewrite(F.col("seq"), F.col("_p"), F.col("_m")).alias(
                    "seq"
                ),
            )
            .localCheckpoint(eager=False)
        )
    return merges, cur


def bpe_merge_table(
    df: DataFrame,
    pattern: str,
    n_merges: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Iterative BPE trainer (round 6; grows `bpe_merge_pairs`, which
    computes only the FIRST merge): learn the top-``n_merges`` merges by
    repeatedly (1) counting adjacent symbol pairs weighted by word
    frequency, (2) merging the most frequent pair — (count DESC, pair
    ASC) tie-break, greedy left-to-right non-overlapping rewrite — the
    Sennrich et al. 2016 trainer loop.

    Scale shape: the corpus is scanned ONCE into the distinct-word
    frequency table; all ``n_merges`` rounds run on that
    vocabulary-sized frame (pair counts are word-count weighted, the
    classic trainer trick). Per round: one map-side-combined grouped
    sum, one TakeOrdered(1), one broadcast one-row join, one expression
    fold — no corpus rescans, no driver-side loop over data (the merge
    choice stays in the plan as a broadcast frame).

    Returns ``n_merges`` rows: (merge_rank, pair, merged,
    n_occurrences).
    """
    merges, _ = _bpe_train(_bpe_words(df, pattern, text_col), n_merges)
    return merges


def bpe_trained_fertility(
    df: DataFrame,
    pattern: str,
    n_merges: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility under the LEARNED merge table (round 6): run
    the BPE trainer, encode the corpus with its merges (the final
    rewritten word table IS the encoding — each distinct word's piece
    count, weighted by frequency), and report corpus-level fertility
    before (= chars per word) and after. The compression ratio a real
    BPE vocabulary would buy at this merge count — the number a
    training-data pipeline needs to budget tokens.

    One row: (n_merges, n_words, n_chars, n_pieces, fertility_chars,
    fertility_pieces, compression).
    """
    words = _bpe_words(df, pattern, text_col)
    _, final = _bpe_train(words, n_merges)
    pieces = F.size(F.split(F.col("seq"), " "))
    return final.agg(
        F.lit(n_merges).cast("int").alias("n_merges"),
        F.sum("wc").cast("long").alias("n_words"),
        F.sum(F.length("w") * F.col("wc")).cast("long").alias("n_chars"),
        F.sum(pieces.cast("long") * F.col("wc")).cast("long").alias("n_pieces"),
        F.round(
            F.sum(F.length("w") * F.col("wc")).cast("double")
            / F.sum("wc").cast("double"),
            6,
        ).alias("fertility_chars"),
        F.round(
            F.sum(pieces.cast("long") * F.col("wc")).cast("double")
            / F.sum("wc").cast("double"),
            6,
        ).alias("fertility_pieces"),
        F.round(
            F.sum(pieces.cast("long") * F.col("wc")).cast("double")
            / F.sum(F.length("w") * F.col("wc")).cast("double"),
            6,
        ).alias("compression"),
    )


def heaps_law(
    df: DataFrame,
    n_points: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps'-law vocabulary growth curve + fit: the corpus is cut into
    ``n_points`` equal ``id_col`` ranges (arrival order), and for each
    prefix the cumulative token count N and cumulative distinct-vocab
    size V are emitted together with the OLS fit of ln V on ln N
    (V ≈ K·N^beta; natural text has beta ≈ 0.4–0.6). A flattening curve
    (beta → 0) is the vocabulary-exhaustion signature of template spam;
    beta ≈ 1 flags token-soup/UUID contamination — the growth-dynamics
    companion to the static `zipf_fit` rank curve.

    Determinism: bucket boundaries are pure integer arithmetic
    ((id−lo)·n_points div span, no float quotient), cumulative counts
    are exact integers, x/y are ln's of exact integers, and the OLS
    moments follow the `zipf_fit` discipline — single-group sums
    ROUNDED at 6 after the closed-form division, intercept from the
    ROUNDED slope.

    Scale shape: one explode → two map-side-combined aggregations (per
    bucket token totals; per TOKEN min-bucket, the shuffle carrying the
    token key once — `build_vocab` shape) → everything after is
    ``n_points`` rows. First-occurrence attribution via min(bucket) per
    token means the cumulative vocab needs no per-prefix distinct pass.
    The tiny curve frame feeds both the output and the fit moments, so
    it is lazily checkpointed (union-recompute discipline).

    Returns ``n_points`` rows: (bucket, cum_tokens, cum_vocab, beta,
    ln_k) with the fit columns constant across rows.
    """
    from pyspark.sql import Window

    bounds = df.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).withColumn("_one", F.lit(1))
    tok = (
        df.select(F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("token"))
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(bounds), "_one")
        .select(
            "token",
            F.expr(
                f"least({n_points - 1},"
                f" ((_id - lo) * {n_points}) div (hi - lo + 1))"
            ).cast("int").alias("bucket"),
        )
    )
    per_bucket = tok.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("toks")
    )
    first_seen = (
        tok.groupBy("token")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("vnew"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        per_bucket.join(first_seen, "bucket", "left")
        .select(
            "bucket",
            F.sum(F.coalesce("toks", F.lit(0))).over(w).cast("long").alias("cum_tokens"),
            F.sum(F.coalesce("vnew", F.lit(0))).over(w).cast("long").alias("cum_vocab"),
        )
        .localCheckpoint(eager=False)
    )
    x = F.log(F.col("cum_tokens").cast("double"))
    y = F.log(F.col("cum_vocab").cast("double"))
    m = curve.select(x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (m["n"] * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        m["n"] * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = (
        m.withColumn("beta", F.round(slope, 6))
        .select(
            F.lit(1).alias("_one"),
            "beta",
            F.round((F.col("sy") - F.col("beta") * F.col("sx")) / m["n"], 6).alias(
                "ln_k"
            ),
        )
    )
    return (
        curve.withColumn("_one", F.lit(1))
        .join(F.broadcast(fit), "_one")
        .select("bucket", "cum_tokens", "cum_vocab", "beta", "ln_k")
    )


def good_turing(
    df: DataFrame, source_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Good–Turing / Chao1 coverage estimate per source: the singleton
    mass n1/N is the Good–Turing probability that the NEXT sampled
    token is unseen (low = the crawl has saturated this source's
    vocabulary; high = keep crawling), and Chao1
    (V + n1·(n1−1)/(2·(n2+1)), bias-corrected) estimates the TRUE
    vocabulary size the source would reach — corpus-card numbers that
    tell a data-mixing policy which sources are exhausted.

    Two map-side-combined aggregations ((source, token) counts → per
    source); every emitted value is an exact-integer count or an
    exact-integer ratio promoted to double, so the oracle match needs
    no float-fold discipline at all.

    Returns one row per source: (source, n_tokens, n_vocab, n1, n2,
    p_unseen, chao1_vocab).
    """
    counts = (
        df.select(F.col(source_col).alias("source"), F.explode(tokens(text_col)).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    g = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("n2"),
    )
    n1 = F.col("n1").cast("double")
    chao1 = F.col("n_vocab").cast("double") + n1 * (n1 - F.lit(1.0)) / (
        F.lit(2.0) * (F.col("n2").cast("double") + F.lit(1.0))
    )
    return g.select(
        "source",
        "n_tokens",
        "n_vocab",
        "n1",
        "n2",
        F.round(n1 / F.col("n_tokens").cast("double"), 9).alias("p_unseen"),
        F.round(chao1, 6).alias("chao1_vocab"),
    )


def truncation_stats(
    df: DataFrame,
    max_len: int = 32,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Context-length utilization audit: for a fixed training sequence
    length ``max_len``, how many tokens each source LOSES to truncation
    and WASTES on padding if every document becomes one fixed-length
    row — the decision input for choosing max_len and for routing long
    sources through `chunk_documents` / `pack_sequences` instead of
    truncate-and-pad.

    Whole-stage-codegen throughout: the per-doc token count is
    size(split(text)) — a pure column expression, NO explode — then one
    map-side-combined aggregate per source. Every output is an
    exact-integer count or exact-integer ratio promoted to double.

    Returns one row per source: (source, n_docs, n_truncated,
    total_tokens, kept_tokens, lost_tokens, pad_tokens, utilization =
    kept/(n_docs·max_len), trunc_rate).
    """
    n = F.size(tokens(text_col)).cast("long")
    kept = F.least(n, F.lit(max_len).cast("long"))
    base = df.select(
        F.col(source_col).alias("source"),
        n.alias("n"),
        kept.alias("kept"),
        (n - kept).alias("lost"),
        (F.lit(max_len).cast("long") - kept).alias("pad"),
    )
    g = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n") > max_len, 1).otherwise(0)).cast("long").alias("n_truncated"),
        F.sum("n").cast("long").alias("total_tokens"),
        F.sum("kept").cast("long").alias("kept_tokens"),
        F.sum("lost").cast("long").alias("lost_tokens"),
        F.sum("pad").cast("long").alias("pad_tokens"),
    )
    cap = F.col("n_docs").cast("double") * F.lit(float(max_len))
    return g.select(
        "source",
        "n_docs",
        "n_truncated",
        "total_tokens",
        "kept_tokens",
        "lost_tokens",
        "pad_tokens",
        F.round(F.col("kept_tokens").cast("double") / cap, 9).alias("utilization"),
        F.round(
            F.col("n_truncated").cast("double") / F.col("n_docs").cast("double"), 9
        ).alias("trunc_rate"),
    )


def pmi_collocations(
    df: DataFrame,
    min_count: int = 5,
    top_n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top collocations by pointwise mutual information: adjacent token
    pairs scored with PMI = ln(C(xy)·N / (C(x)·C(y))) over the corpus
    token stream, floored at ``min_count`` occurrences — the standard
    phrase-mining pass (tokenizer vocab candidates, template detection:
    a corpus whose top PMI pairs are navigation chrome is boilerplate-
    heavy even when per-doc scores look fine). Complements
    `bpe_merge_pairs` (raw pair frequency) with an association score
    that discounts independently-common tokens.

    Determinism: every ln argument is an exact integer product
    (C·N < 2^53 far past this corpus), and the top-``top_n`` cut and
    rank both order by (ROUNDED pmi desc, w1, w2) — the engine-portable
    boundary discipline.

    Scale shape: one explode into the bigram stream, unigram counts
    from a second explode of the same token arrays; the pair↔unigram
    joins are shuffle equi-joins on token keys (bigram vocabulary is
    corpus-sized at 100 TB, AQE broadcasts when small); the final cut
    is TakeOrderedAndProject over the min_count-filtered pair table —
    no global sort.
    """
    from pyspark.sql import Window

    tk = df.select(tokens(text_col).alias("_tk")).localCheckpoint(eager=False)
    uni = (
        tk.select(F.explode("_tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    n_tok = uni.agg(F.sum("c").cast("long").alias("n")).withColumn("_one", F.lit(1))
    big = (
        tk.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(_tk) >= 2 THEN "
                    "transform(sequence(1, size(_tk) - 1), "
                    "i -> struct(element_at(_tk, CAST(i AS INT)) AS w1, "
                    "element_at(_tk, CAST(i + 1 AS INT)) AS w2)) "
                    "ELSE array() END"
                )
            ).alias("b")
        )
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .where(F.col("n_pair") >= min_count)
    )
    scored = (
        big.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(n_tok), "_one")
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log(F.col("n_pair").cast("double") * F.col("n").cast("double"))
                - F.log(F.col("c1").cast("double") * F.col("c2").cast("double")),
                6,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(top_n)
    rank = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return top.select(
        F.row_number().over(rank).cast("int").alias("rank"), "w1", "w2", "n_pair", "pmi"
    )


def source_ttr(df: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """Per-source lexical diversity: type-token ratio and hapax share —
    the corpus-card numbers that separate template mills (low TTR, low
    hapax: the same strings over and over — dedup will collapse them)
    from organic text (high hapax share: a long vocabulary tail that
    BPE training actually needs). Complements the corpus-level
    `good_turing` saturation and `heaps_law` growth with the per-source
    attribution those can't give.

    Determinism: whitespace tokens via the pinned `functions.text.tokens`
    expression (`oracle.sql_tokens` mirror); token / type / hapax counts
    are exact int64; TTR and hapax share are single double divisions,
    ROUNDED 9.

    Scale shape: one explode -> (source, token) grouped count (map-side
    combined — the `build_vocab` shuffle), then a per-source aggregate
    over the type frame. Nothing touches row grain after the first
    count.
    """
    from pythonvectordb_spark.functions.text import tokens

    tt = (
        df.select(F.col(group_col).alias("g"), F.explode(tokens(text_col)).alias("tok"))
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    g = tt.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
    )
    return g.select(
        F.col("g").alias(group_col),
        "n_tokens",
        "n_types",
        "n_hapax",
        F.round(F.col("n_types").cast("double") / F.col("n_tokens").cast("double"), 9).alias("ttr"),
        F.round(F.col("n_hapax").cast("double") / F.col("n_types").cast("double"), 9).alias("hapax_share"),
    )


def source_js_matrix(df: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source token
    distributions — the SYMMETRIC, bounded ([0, ln 2]) companion to
    `source_kl_matrix`: KL says how badly q's code models p (and blows
    up on disjoint support); JS is the metric-like mixture form that
    clusters sources for mixture design even when vocabularies barely
    overlap. Same corpus-card family, different failure modes.

    Determinism: with M = (P+Q)/2, each common-token term factors to
    cp*(ln(2*cp*Nq) - ln(cp*Nq + cq*Np)) — EVERY ln argument an exact
    int64 product; tokens private to one source contribute exactly
    cp*ln(2), pulled out analytically as (Np - C_common)*ln(2), so the
    pair join only ever touches the INNER token overlap. Grouped double
    sums, final halving, ROUNDED 6.

    Scale shape: one (source, token) grouped count (checkpointed — it
    feeds both join sides and the totals), an inner equi-join on token
    for ordered pairs (fan-out = shared-vocab size per pair, never
    corpus tokens), a pair-keyed aggregate, two broadcast total hookups.
    """
    from pythonvectordb_spark.functions.text import tokens

    tt = (
        df.select(F.col(group_col).alias("g"), F.explode(tokens(text_col)).alias("tok"))
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = tt.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    a = tt.select(F.col("g").alias("ga"), "tok", F.col("c").alias("cp"))
    b = tt.select(F.col("g").alias("gb"), "tok", F.col("c").alias("cq"))
    ln = F.log
    pairs = a.join(b, "tok").where(F.col("ga") < F.col("gb"))
    g = (
        pairs.join(F.broadcast(tot.withColumnsRenamed({"g": "ga", "n": "np_"})), "ga")
        .join(F.broadcast(tot.withColumnsRenamed({"g": "gb", "n": "nq_"})), "gb")
        .groupBy("ga", "gb", "np_", "nq_")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("cp").cast("long").alias("cp_common"),
            F.sum("cq").cast("long").alias("cq_common"),
            F.sum(
                F.col("cp").cast("double")
                * (
                    ln((F.lit(2) * F.col("cp") * F.col("nq_")).cast("double"))
                    - ln(
                        (F.col("cp") * F.col("nq_") + F.col("cq") * F.col("np_")).cast(
                            "double"
                        )
                    )
                )
            ).alias("sp"),
            F.sum(
                F.col("cq").cast("double")
                * (
                    ln((F.lit(2) * F.col("cq") * F.col("np_")).cast("double"))
                    - ln(
                        (F.col("cq") * F.col("np_") + F.col("cp") * F.col("nq_")).cast(
                            "double"
                        )
                    )
                )
            ).alias("sq"),
        )
    )
    ln2 = ln(F.lit(2.0))
    klp = (
        (F.col("np_") - F.col("cp_common")).cast("double") * ln2 + F.col("sp")
    ) / F.col("np_").cast("double")
    klq = (
        (F.col("nq_") - F.col("cq_common")).cast("double") * ln2 + F.col("sq")
    ) / F.col("nq_").cast("double")
    return g.select(
        F.col("ga").alias("source_a"),
        F.col("gb").alias("source_b"),
        "n_common",
        F.round(F.lit(0.5) * (klp + klq), 6).alias("js_divergence"),
    )


def heldout_cross_entropy(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Held-out unigram cross-entropy: train an add-1 unigram LM on the
    even-id half of the corpus and evaluate it on the odd-id half —
    the actual language-model eval loop (train/test split, smoothing,
    OOV mass) run as one SQL-shaped job. CE near the test half's own
    entropy: the corpus is self-consistent; CE >> it: the halves speak
    different vocabularies (`coldstart_rates` for tokens, but
    mass-weighted and in nats).

    Determinism: with train vocab size V1, add-1 gives p(t) =
    (c1_t+1)/(N1+V1+1) and OOV p = 1/(N1+V1+1), so CE factors to
    ln(N1+V1+1) - (sum_common c2_t * ln(c1_t+1))/N2 — EVERY ln over an
    exact integer (the `source_kl_matrix` factoring); OOV rate is an
    exact-count ratio. ROUNDED 6 / 9.

    Scale shape: one explode -> (half, token) grouped count; the
    train/test token frames inner-join on token (shared-vocab sized);
    totals broadcast back. The parity split is a pure expression — at
    production scale swap in a snapshot/date column unchanged.
    """
    from pythonvectordb_spark.functions.text import tokens

    tt = (
        df.select(
            (F.col(id_col) % 2 == 0).alias("is_train"),
            F.explode(tokens(text_col)).alias("tok"),
        )
        .groupBy("is_train", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    tr = tt.where(F.col("is_train")).select(F.col("tok"), F.col("c").alias("c1"))
    te = tt.where(~F.col("is_train")).select(F.col("tok"), F.col("c").alias("c2"))
    tot = (
        tt.groupBy("is_train")
        .agg(F.sum("c").cast("long").alias("n"), F.count(F.lit(1)).cast("long").alias("v"))
    )
    t1 = tot.where(F.col("is_train")).select(
        F.col("n").alias("n1"), F.col("v").alias("v1")
    ).withColumn("_one", F.lit(1))
    t2 = tot.where(~F.col("is_train")).select(F.col("n").alias("n2")).withColumn(
        "_one", F.lit(1)
    )
    common = te.join(tr, "tok").agg(
        F.coalesce(F.sum("c2"), F.lit(0)).cast("long").alias("c2_common"),
        F.coalesce(
            F.sum(F.col("c2").cast("double") * F.log((F.col("c1") + 1).cast("double"))),
            F.lit(0.0),
        ).alias("s_ln"),
    ).withColumn("_one", F.lit(1))
    j = t1.join(F.broadcast(t2), "_one").join(F.broadcast(common), "_one")
    denom_ln = F.log((F.col("n1") + F.col("v1") + 1).cast("double"))
    ce = denom_ln - F.col("s_ln") / F.col("n2").cast("double")
    return j.select(
        F.col("n1").alias("n_train_tokens"),
        F.col("v1").alias("v_train"),
        F.col("n2").alias("n_test_tokens"),
        F.round(ce, 6).alias("cross_entropy_nats"),
        F.round(
            (F.col("n2") - F.col("c2_common")).cast("double")
            / F.col("n2").cast("double"),
            9,
        ).alias("oov_mass"),
    )


def token_rank_drift(
    df: DataFrame, top_k: int = 20, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rank movement of the top-k tokens between the even-id and odd-id
    corpus halves: which head tokens rose, fell, entered, or left —
    the token-level mover report behind `heldout_cross_entropy`'s
    scalar (CE says the halves diverge; this names the tokens). NULL
    rank = outside that half's top-k.

    Determinism: ranks are row_number over exact counts with token
    tie-break; the top-k cut happens on each half's OWN rank before
    the full-outer join, so membership is engine-portable by integer
    comparison alone.

    Scale shape: one explode -> (half, token) count (map-side combined,
    checkpointed — two readers), then each half's top-k cut is
    TakeOrderedAndProject (the `zipf_fit` pattern): the rank window
    runs over at most ``top_k`` rows per half, never a half's full
    vocabulary — a 10^8-token vocab no longer serializes through a
    single 2-partition window sort task. The final full-outer join is
    over ≤2k rows.
    """
    from pyspark.sql import Window

    from pythonvectordb_spark.functions.text import tokens

    tt = (
        df.select(
            (F.col(id_col) % 2 == 0).alias("is_train"),
            F.explode(tokens(text_col)).alias("tok"),
        )
        .groupBy("is_train", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    order = [F.col("c").desc(), F.col("tok").asc()]
    w = Window.orderBy(*order)

    def half_top(pred, rank_name, count_name):
        # exact per-half top-k: the TakeOrdered cut uses the SAME total
        # order as the rank window, so row_number over the k survivors
        # equals the rank over the half's full vocabulary
        return (
            tt.where(pred)
            .orderBy(*order)
            .limit(int(top_k))
            .withColumn(rank_name, F.row_number().over(w))
            .select("tok", rank_name, F.col("c").alias(count_name))
        )

    a = half_top(F.col("is_train"), "rank_even", "n_even")
    b = half_top(~F.col("is_train"), "rank_odd", "n_odd")
    return a.join(b, "tok", "full_outer").select(
        "tok",
        "rank_even",
        "rank_odd",
        "n_even",
        "n_odd",
        (F.col("rank_even") - F.col("rank_odd")).cast("int").alias("rank_delta"),
    )


def kneser_ney_bigrams(
    df: DataFrame,
    discount: float = 0.75,
    top_n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Interpolated Kneser-Ney smoothed bigram probabilities for the
    corpus' top-``top_n`` bigrams — the classic n-gram LM estimator
    (Kneser & Ney 1995; Chen & Goodman 1999 empirical study): absolute
    discount ``d`` on the raw bigram count, with the freed mass backed
    off to the CONTINUATION unigram P_cont(w2) = |{w1 : c(w1,w2)>0}| /
    |distinct bigram types| (how many contexts a word completes, not
    how often it occurs — the fix for "San Francisco"-style words that
    are frequent but only in one context).

        P_KN(w2|w1) = (c(w1,w2) - d)/c(w1·)
                      + d · N1+(w1,·)/c(w1·) · P_cont(w2)

    The companion to `unigram_surprisal` (held-out scoring) and
    `bpe_merge_pairs` (pair frequency): the smoothed conditional an
    n-gram LM pipeline actually trains. All count inputs are exact
    integers; the float expression is written with the same literal
    structure the oracle uses (left-assoc, discount as a repr literal),
    and the top-N cut orders by (count desc, w1, w2) — integer-exact
    boundaries, the engine-portable discipline.

    Scale shape: ONE explode into the bigram stream -> grouped count
    (map-side combine) is the only corpus-sized shuffle; the
    left-total / distinct-continuation / distinct-context frames are
    grouped aggregations OF the bigram count table (checkpointed — it
    feeds four sides); the type-total is a broadcast one-row frame and
    the final cut is TakeOrderedAndProject. No corpus self-join, no
    global sort.
    """
    from pyspark.sql import Window

    d = float(discount)
    big = (
        df.select(tokens(text_col).alias("_tk"))
        .select(
            F.explode(
                F.expr(
                    "CASE WHEN size(_tk) >= 2 THEN "
                    "transform(sequence(1, size(_tk) - 1), "
                    "i -> struct(element_at(_tk, CAST(i AS INT)) AS w1, "
                    "element_at(_tk, CAST(i + 1 AS INT)) AS w2)) "
                    "ELSE array() END"
                )
            ).alias("b")
        )
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    left = big.groupBy("w1").agg(
        F.sum("c").cast("long").alias("cw1"),
        F.count(F.lit(1)).cast("long").alias("n1r"),
    )
    cont = big.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("ncont"))
    types = big.agg(F.count(F.lit(1)).cast("long").alias("n_types")).withColumn(
        "_one", F.lit(1)
    )
    w = Window.orderBy(F.desc("c"), F.asc("w1"), F.asc("w2"))
    top = (
        big.orderBy(F.desc("c"), F.asc("w1"), F.asc("w2"))
        .limit(int(top_n))
        .join(left, "w1")
        .join(cont, "w2")
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(types), "_one")
    )
    p_kn = (
        (F.col("c").cast("double") - F.lit(d)) / F.col("cw1").cast("double")
        + F.lit(d)
        * F.col("n1r").cast("double")
        / F.col("cw1").cast("double")
        * F.col("ncont").cast("double")
        / F.col("n_types").cast("double")
    )
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "w1",
        "w2",
        "c",
        "cw1",
        "n1r",
        "ncont",
        F.round(p_kn, 6).alias("p_kn"),
    )


def burrows_delta(
    df: DataFrame,
    n_words: int = 20,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Burrows' Delta between sources: the classic stylometric distance
    — z-score each source's relative frequency of the corpus' top-N
    function words, then Delta(a,b) = mean |z_a - z_b| (Burrows 2002).
    Near-zero Delta between two "different" feeds is the
    same-upstream-crawl signature `fuzzy_source_pairs` catches by name
    and this catches by STYLE; a source far from all others is a
    register outlier worth its own quality gate.

    Determinism: word counts and per-source token totals are exact
    int64; relative frequencies are one division each; mu/sigma are
    explicit sum/count moments over the source-cardinality frame
    (population sigma, sqrt of a clamped variance); Delta averages
    <= n_words |z| gaps, ROUNDED 6. Words with sigma = 0 (identical
    frequency everywhere) carry no signal and are excluded; n_words_used
    records how many contributed.

    Scale shape: one explode -> two map-side-combined grouped counts
    (corpus top-N via TakeOrdered; per-source totals); the cell frame
    joins the broadcast top-N word list, is COMPLETED on the
    (source x word) grid (absent cells owe f = 0), and everything after
    runs on that k x N frame.
    """
    from pythonvectordb_spark.functions.text import tokens as _tok

    tok = df.select(
        F.col(group_col).alias("g"), F.explode(_tok(text_col)).alias("w")
    )
    top = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(int(n_words))
        .select("w")
        .localCheckpoint(eager=False)
    )
    totals = tok.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("nt"))
    cells = (
        tok.join(F.broadcast(top), "w")
        .groupBy("g", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    grid = (
        totals.crossJoin(F.broadcast(top))
        .join(cells, ["g", "w"], "left")
        .select(
            "g",
            "w",
            (
                F.coalesce(F.col("c"), F.lit(0).cast("long")).cast("double")
                / F.col("nt").cast("double")
            ).alias("f"),
        )
        .localCheckpoint(eager=False)
    )
    stats = grid.groupBy("w").agg(
        (F.sum("f") / F.count(F.lit(1)).cast("double")).alias("mu"),
        (
            F.sum(F.col("f") * F.col("f")) / F.count(F.lit(1)).cast("double")
        ).alias("m2"),
    )
    sigma = F.sqrt(F.greatest(F.col("m2") - F.col("mu") * F.col("mu"), F.lit(0.0)))
    z = (
        grid.join(F.broadcast(stats), "w")
        .withColumn("sigma", sigma)
        .filter(F.col("sigma") > 0)
        .select("g", "w", ((F.col("f") - F.col("mu")) / F.col("sigma")).alias("z"))
        .localCheckpoint(eager=False)
    )
    a = z.select(F.col("g").alias("source_a"), "w", F.col("z").alias("za"))
    b = z.select(F.col("g").alias("source_b"), "w", F.col("z").alias("zb"))
    return (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words_used"),
            F.round(
                F.sum(F.abs(F.col("za") - F.col("zb")))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("delta"),
        )
    )


def bpe_encode_pieces(
    df: DataFrame,
    pattern: str,
    n_merges: int = 10,
    top_n: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """The piece-frequency table under the TRAINED merges — the third
    leg of the BPE story (`bpe_merge_table` learns, `bpe_trained_
    fertility` prices, this ENCODES): top-``top_n`` subword pieces by
    corpus-weighted frequency after applying all learned merges, with
    each piece's share of the total piece stream. The table a
    vocabulary builder reads to decide which learned units earn an id
    — a merge whose output piece carries negligible share was wasted.

    Scale shape: `_bpe_train`'s shape (one corpus scan to the
    distinct-word frame, vocabulary-sized rounds), then one explode of
    the final symbol strings weighted by word counts, one
    map-side-combined grouped sum, TakeOrdered(top_n) with
    (count DESC, piece ASC) tie-break; the share divides by a
    broadcast one-row total. The rank window runs on top_n rows.
    """
    from pyspark.sql import Window

    _, final = _bpe_train(_bpe_words(df, pattern, text_col), n_merges)
    pieces = (
        final.select(F.explode(F.split("seq", " ")).alias("piece"), "wc")
        .groupBy("piece")
        .agg(F.sum("wc").cast("long").alias("n_occurrences"))
        .localCheckpoint(eager=False)
    )
    tot = pieces.agg(F.sum("n_occurrences").cast("long").alias("nt")).withColumn(
        "_one", F.lit(1)
    )
    top = (
        pieces.orderBy(F.desc("n_occurrences"), F.asc("piece"))
        .limit(int(top_n))
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(tot), "_one")
    )
    rank = Window.orderBy(F.desc("n_occurrences"), F.asc("piece"))
    return top.select(
        F.row_number().over(rank).cast("int").alias("rank"),
        "piece",
        "n_occurrences",
        F.round(
            F.col("n_occurrences").cast("double") / F.col("nt").cast("double"), 6
        ).alias("share"),
    )


def chao1_vocab_richness(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Chao1 unseen-vocabulary estimate: how many word types the corpus
    HASN'T shown yet, from the singleton/doubleton counts —
    chao1 = V + F1(F1-1)/(2(F2+1)) (bias-corrected Chao 1984) with
    Good-Turing coverage C = 1 - F1/N. The "is more data worth
    crawling" number next to `heaps_law`'s growth curve and
    `good_turing`'s smoothed counts: coverage near 1 with chao1 ~ V
    says the source's vocabulary is exhausted — more of it buys
    near-duplicates, not diversity.

    Determinism: V, F1, F2, N are exact integer counts; chao1 and
    coverage are one pinned double expression each, ROUNDED 6.

    Scale shape: one explode -> map-side-combined token count, one
    grouped count over the frequency-of-frequencies frame (bounded by
    distinct frequencies), one-row algebra after.
    """
    from pythonvectordb_spark.functions.text import tokens as _tok

    freq = (
        df.select(F.explode(_tok(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = freq.agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("f1"),
        F.sum((F.col("c") == 2).cast("long")).cast("long").alias("f2"),
    )
    chao1 = F.col("vocab").cast("double") + F.col("f1").cast("double") * (
        F.col("f1").cast("double") - F.lit(1.0)
    ) / (F.lit(2.0) * (F.col("f2").cast("double") + F.lit(1.0)))
    coverage = F.lit(1.0) - F.col("f1").cast("double") / F.col("n_tokens").cast(
        "double"
    )
    return agg.select(
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        F.round(chao1, 6).alias("chao1"),
        F.when(F.col("n_tokens") > 0, F.round(coverage, 6)).alias("coverage"),
    )


def source_vocab_jaccard(docs: DataFrame, n: int = 3) -> DataFrame:
    """Pairwise PHRASE-vocabulary set overlap between sources (new
    round 7): `source_js_matrix` / `source_kl_matrix` compare token
    DISTRIBUTIONS — two sources can share every word yet diverge on
    frequency, or share almost none and still look close after
    smoothing. Jaccard on the distinct word-3-gram sets is the
    orthogonal axis ("do they share actual phrasing"), and the two
    directed containments separate "A is a subset of B" from
    "half-overlap" — the signal a mixture planner uses to spot
    redundant sources. 3-grams, not unigrams, because a corpus drawn
    from one base vocabulary makes every unigram set identical while
    the phrase sets still separate (measured ~0.02-0.05 here).

    Determinism: distinct (source, shingle) sets from the shared
    shingler (`functions/text.shingles`; DuckDB mirror
    `oracle.sql_shingles_of`), exact int64 set sizes and
    intersection counts; Jaccard and containments are one division
    each, ROUNDED 6.

    Scale shape: one distinct to the (source, shingle) grain, one
    equi-join ON SHINGLE for all pairs at once (bucketed by shingle,
    never all-pairs over docs), one grouped count per pair, one
    broadcast of the G-row vocab sizes onto the G^2/2-row pair frame.
    """
    st = (
        docs.select(
            F.col("source").alias("g"),
            F.explode(shingles("text", n)).alias("tok"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # both sides of the pair join + sizes
    )
    sizes = st.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("vocab")
    ).localCheckpoint(eager=False)  # both sides of the pair grid
    a, b = st.alias("a"), st.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.g") < F.col("b.g")))
        .groupBy(F.col("a.g").alias("source_a"), F.col("b.g").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    # full pair grid so a disjoint-vocabulary pair reports jaccard 0
    # instead of silently dropping out of the inner join
    sa = sizes.select(F.col("g").alias("source_a"), F.col("vocab").alias("vocab_a"))
    sb = sizes.select(F.col("g").alias("source_b"), F.col("vocab").alias("vocab_b"))
    grid = sa.join(F.broadcast(sb), F.col("source_a") < F.col("source_b"))
    out = grid.join(inter, ["source_a", "source_b"], "left").withColumn(
        "n_common", F.coalesce("n_common", F.lit(0)).cast("long")
    )
    va = F.col("vocab_a").cast("double")
    vb = F.col("vocab_b").cast("double")
    nc = F.col("n_common").cast("double")
    return out.select(
        "source_a",
        "source_b",
        "vocab_a",
        "vocab_b",
        "n_common",
        F.round(nc / (va + vb - nc), 6).alias("jaccard"),
        F.round(nc / va, 6).alias("containment_a"),
        F.round(nc / vb, 6).alias("containment_b"),
    )
