"""Deduplication operators for LLM-training-data pipelines (driver mandate,
BASELINE.json / SURVEY.md §2.12). The reference has no dedup surface; these
are the scale-path operators a 100 TB corpus needs.

Scale design notes
------------------
``dedup_exact``          one shuffle on md5(text); map-side partial aggs.
``ngram_jaccard_pairs``  inverted-index similarity join: explode shingles,
                         self-join on shingle, count common per pair — only pairs
                         sharing >=1 shingle materialize (never the n^2
                         cross product). ``max_df`` drops ultra-common
                         shingles, the standard frequency cap that bounds
                         join fan-out at corpus scale.
``minhash_lsh_pairs``    O(n) signatures (one agg), candidates via band
                         buckets (equi-join, broadcastable band dimension),
                         exact-jaccard verification only on candidates.
``simhash_pairs``        O(n) 32-bit fingerprints, byte-block candidate
                         generation (4 equi-joins), hamming verify.
``embedding_near_dup``   banded random-hyperplane LSH blocking (bucket
                         equi-join on small int keys) feeding an exact
                         int8-cosine verifier; opt-in exact all-pairs
                         paths (``pandas``: blocked anchors through the
                         shared int8 cosine kernel).

All similarity arithmetic is exact-integer or deterministic double, so
every operator here is DuckDB-oracle-checkable.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pythonvectordb_spark.functions.text import (
    MINHASH_P,
    hash32,
    minhash_params,
    shingles,
)
from pythonvectordb_spark.functions.vector import cosine_similarity


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group identical texts (by md5), keep the smallest id.

    Returns (doc_id, n_copies) for the surviving representative of each
    text group. Hashing first keeps the shuffle key small (16 bytes vs
    arbitrary document length) — the standard trick at corpus scale.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(F.col(id_col)).alias(id_col),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .select(id_col, "n_copies")
    )


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    from pythonvectordb_spark.functions.text import shingles
    from pythonvectordb_spark.util import ensure_parallelism

    # shingling is the CPU-heavy per-row step: spread it across partitions
    # (one small parquet file = one core otherwise)
    return ensure_parallelism(df).select(
        F.col(id_col), shingles(text_col, n).alias("sh")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard similarity >= threshold.

    Inverted-index join (explode -> equi-join on shingle -> count common)
    instead of a cross join: complexity follows shingle co-occurrence, not
    n^2. ``max_df`` (document-frequency cap) drops shingles appearing in
    more than max_df docs before the join — bounds the worst-case join
    fan-out at max_df^2 rows per shingle, the standard guard against
    boilerplate/template shingles at corpus scale. Default 1000 is
    deliberately generous (a shingle shared by >1000 docs carries no
    near-dup signal but would emit >500k join rows); pass ``None`` only
    when the corpus is known boilerplate-free. A dropped shingle cannot
    create candidates or be counted common, but document sizes |A|,|B|
    keep counting it, so capped Jaccard is a (slight) underestimate for
    pairs that share a capped shingle.

    Jaccard = |A∩B| / (|A|+|B|-|A∩B|) on exact integer counts, so the
    comparison against ``threshold`` is deterministic.
    """
    # materialize the shingle frame once (lazy checkpoint): sizes, the
    # inverted index, the df-cap scan, and both self-join sides all read
    # it, and without this the shingling expression re-executes per
    # branch (shuffle reuse only dedups post-Exchange subtrees)
    sh = _shingled(df, text_col, id_col, n).localCheckpoint(eager=False)
    return jaccard_pairs_from_shingles(sh, threshold, id_col, max_df)


def _pair_common_counts(
    inv: DataFrame, id_col: str, max_df: int | None
) -> DataFrame:
    """(id_a, id_b, n_common) over an exploded (id, shingle) inverted
    index — the shared kernel of the exact-Jaccard/containment pair
    reports. Shingles are distinct per document (`shingles` dedups),
    so each unordered pair contributes exactly one row per shared kept
    shingle under either plan below.

    With ``max_df`` set (every registered caller), pairs are emitted
    MAP-SIDE from one grouped collect: one Exchange of the inverted
    index instead of three (the df-cap count, then both self-join
    sides) — round-11 optimization, 1.16 -> 0.76 s on the sf0.1
    kernel, output verified identical. The df cap is a window count
    over the same shingle partitioning, applied BEFORE ``collect_list``,
    so no list ever holds more than ``max_df`` ids (the window's row
    buffer spills; an array row cannot). With ``max_df=None`` every
    group would be collected, so the classic self-join — which shuffles
    but never materializes a group — is kept for that path."""
    if max_df is not None:
        df_ = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        kept = inv.withColumn("_df", df_).filter(F.col("_df") <= max_df)
        grp = kept.groupBy("shingle").agg(F.collect_list(id_col).alias("_ids"))
        return (
            grp.select(F.explode("_ids").alias("id_a"), "_ids")
            .select("id_a", F.explode("_ids").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        )
    a = inv.alias("a")
    b = inv.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )


def jaccard_pairs_from_shingles(
    sh: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    max_df: int | None = 1000,
) -> DataFrame:
    """`ngram_jaccard_pairs` body over a prebuilt (id, sh) shingle frame —
    exposed so callers that also need the shingles for something else
    (e.g. `minhash_estimate_error`'s signatures) shingle the corpus
    ONCE. ``sh`` must already be checkpointed/cached: sizes, the
    inverted index, and the pair kernel all read it."""
    sizes = sh.select(F.col(id_col), F.size("sh").alias("n_sh"))
    inv = sh.select(F.col(id_col), F.explode("sh").alias("shingle"))
    common = _pair_common_counts(inv, id_col, max_df)
    out = (
        common.join(sizes.withColumnsRenamed({id_col: "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )
    return out.select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by one-sided shingle CONTAINMENT: |A∩B| / min(|A|,|B|)
    >= threshold. Symmetric Jaccard misses the quote/snippet case — a
    short document wholly embedded in a much longer one scores
    |A| / |B| ≈ 0 on Jaccard but 1.0 on containment (Broder's original
    "containment" companion to resemblance). The standard detector for
    extraction duplicates: a paragraph re-posted inside an aggregator
    page, a doc whose text is a strict prefix of another crawl of the
    same page.

    Same inverted-index skeleton and ``max_df`` boilerplate guard as
    ``ngram_jaccard_pairs`` (the shingle frame is materialized once and
    feeds sizes, the df-cap scan, and both join sides); only the final
    metric differs. The min() denominator uses the FULL shingle counts
    while common counts only df-kept shingles, mirroring the Jaccard
    operator's cap semantics (capped containment is a slight
    underestimate for pairs sharing a capped shingle). Exact integer
    division promoted to double, so the threshold comparison is
    engine-deterministic.

    Returns (id_a, id_b, containment) with id_a < id_b, containment
    rounded to 9 for display.
    """
    sh = _shingled(df, text_col, id_col, n).localCheckpoint(eager=False)
    sizes = sh.select(F.col(id_col), F.size("sh").alias("n_sh"))
    inv = sh.select(F.col(id_col), F.explode("sh").alias("shingle"))
    common = _pair_common_counts(inv, id_col, max_df)
    out = (
        common.join(sizes.withColumnsRenamed({id_col: "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "containment",
            F.col("n_common").cast("double") / F.least("n_a", "n_b").cast("double"),
        )
        .filter(F.col("containment") >= F.lit(threshold))
    )
    return out.select("id_a", "id_b", F.round("containment", 9).alias("containment"))


def minhash_signatures(
    df: DataFrame,
    n: int,
    num_hashes: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    sh: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(shingle-sets, per-doc MinHash signature) — the signature half of
    `_minhash_banded`, exposed so estimator-calibration queries
    (`minhash_estimate_error`) can read raw signatures without the
    banding fan-out. One md5 per shingle split into two 32-bit ints;
    h_i = (A_i*h1 + B_i*h2) mod (2^61-1), exact 64-bit integer math.

    The shingle frame is lazily checkpointed: it feeds the signature
    pipeline AND any exact-verify join the caller builds on it — one
    shingling pass, not one per consumer. Pass a prebuilt
    (checkpointed) ``sh`` to share that pass with other consumers."""
    if sh is None:
        sh = _shingled(df, text_col, id_col, n).localCheckpoint(eager=False)
    inv = sh.select(F.col(id_col), F.explode("sh").alias("shingle"))
    hashed = inv.select(
        F.col(id_col),
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(F.md5("shingle"), 9, 8), 16, 10).cast("long").alias("h2"),
    )
    params = minhash_params(num_hashes)
    sig = hashed.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("h1") + F.lit(b) * F.col("h2")) % F.lit(MINHASH_P)).alias(
                f"h{i}"
            )
            for i, (a, b) in enumerate(params)
        ]
    )
    return sh, sig


def _minhash_banded(
    df: DataFrame,
    n: int,
    num_hashes: int,
    bands: int,
    text_col: str,
    id_col: str,
    sh: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(shingle-sets, banded bucket-keys) shared by the self-join and
    incremental MinHash variants.

    One md5 per shingle, split into two 32-bit ints; the hash family is
    h_i = (A_i*h1 + B_i*h2) mod (2^61-1) — standard two-hash MinHash
    construction, ~6x cheaper than num_hashes md5 calls per row and
    mirrorable in SQL (constants from minhash_params).

    Pass prebuilt (checkpointed) ``sh``/``sig`` to share the shingle
    pass and the signature aggregate with other consumers (the fused
    dual-detector path in `method_pair_sets`)."""
    r = num_hashes // bands
    if sig is None:
        sh, sig = minhash_signatures(df, n, num_hashes, text_col, id_col, sh=sh)
    assert sh is not None
    # ONE explode, not a bands-way union: each union branch re-derives
    # the whole signature subtree (Spark has no cross-branch CSE for
    # DataFrame unions), so the shingle+hash+min-aggregate pipeline ran
    # `bands` times — the round-2 plan dump in EXPLAIN.md shows the 4
    # identical subtrees. The struct-array explode computes signatures
    # once and fans out (band, bkey) rows from them.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.md5(
                    F.concat_ws("|", *[F.col(f"h{b * r + j}") for j in range(r)])
                ).alias("bkey"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(F.col(id_col), F.explode(band_structs).alias("p")).select(
        F.col(id_col), F.col("p.band").alias("band"), F.col("p.bkey").alias("bkey")
    )
    return sh, banded


def minhash_side(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """The (shingle-sets, band-table) pair of one side of a MinHash
    dedup, as a first-class artifact: compute it ONCE per corpus
    snapshot, materialize it (parquet bucketed on (band, bkey) via
    ``sources/bucketing``, or ``localCheckpoint`` in-session), and hand
    it to ``incremental_minhash_dedup(corpus_side=...)`` for every
    subsequent ingest batch. Growing the corpus = unioning the admitted
    batch's (small) side frames onto the stored ones — the corpus is
    never re-shingled. This is the side-table design the 100 TB gate
    runs on; recomputing the corpus side per batch is the self-contained
    fallback."""
    return _minhash_banded(df, n, num_hashes, bands, text_col, id_col)


def incremental_minhash_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_side: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Dedup an ARRIVING batch against an EXISTING corpus — the
    production ingest shape: never corpus x corpus rework, never a
    batch x corpus cross join.

    Both sides get the same MinHash band keys as ``minhash_lsh_pairs``;
    candidates are batch-bucket x corpus-bucket equi-join collisions, and
    only candidates are verified with the exact shingle Jaccard. Cost per
    batch is O(batch shingling + bucket collisions). At scale the corpus
    side's band table is computed once per snapshot and materialized
    bucketed on (band, bkey) (``sources/bucketing``), making the
    candidate join Exchange-free on the corpus side; each ingest batch
    then only shuffles its own (tiny) band table.

    Returns (batch_id, corpus_id, jaccard) for batch documents whose
    Jaccard to some corpus document clears ``threshold`` — feed the
    distinct batch_ids to an anti-join to drop them before append
    (mirrors ``streaming/curation``'s gate-at-ingest pattern).

    ``corpus_side``: a precomputed :func:`minhash_side` of the corpus
    (the materialized side-table path — MUST have been built with the
    same n/num_hashes/bands/text_col/id_col); omitted, the corpus is
    re-signed in-DAG.
    """
    sh_c, banded_c = (
        corpus_side
        if corpus_side is not None
        else _minhash_banded(corpus, n, num_hashes, bands, text_col, id_col)
    )
    sh_b, banded_b = _minhash_banded(batch, n, num_hashes, bands, text_col, id_col)
    x = banded_b.alias("x")
    y = banded_c.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band")) & (F.col("x.bkey") == F.col("y.bkey")),
        )
        .select(
            F.col(f"x.{id_col}").alias("batch_id"),
            F.col(f"y.{id_col}").alias("corpus_id"),
        )
        .distinct()
    )
    pb = sh_b.withColumnsRenamed({id_col: "batch_id", "sh": "sh_b"})
    pc = sh_c.withColumnsRenamed({id_col: "corpus_id", "sh": "sh_c"})
    verified = (
        cand.join(pb, "batch_id")
        .join(pc, "corpus_id")
        .withColumn("n_common", F.size(F.array_intersect("sh_b", "sh_c")).cast("long"))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.size("sh_b") + F.size("sh_c") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )
    return verified.select("batch_id", "corpus_id", F.round("jaccard", 9).alias("jaccard"))


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    sh: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup detection, verified exactly.

    signatures: sig_i(doc) = min over shingles of md5('i:'||shingle) —
    md5 exists identically in both engines, so signatures (and therefore
    candidates) are oracle-reproducible, unlike xxhash/murmur minhash.
    banding: ``bands`` groups of ``num_hashes/bands`` signature values;
    docs sharing any band key become candidates (equi-join per band).
    verify: exact shingle Jaccard >= threshold on candidates only.

    Returns (id_a, id_b, jaccard) — same shape as ngram_jaccard_pairs, so
    at j>=0.8 the two operators should agree whenever LSH recall holds.

    Pass prebuilt (checkpointed) ``sh``/``sig`` to share the shingle
    pass and signature aggregate (see `method_pair_sets`).
    """
    sh, banded = _minhash_banded(
        df, n, num_hashes, bands, text_col, id_col, sh=sh, sig=sig
    )
    x = banded.alias("x")
    y = banded.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b"))
        .distinct()
    )
    pa = sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"})
    pb = sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"})
    verified = (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )
    return verified.select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))


def minhash_banding_report(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Banding-precision report for the MinHash LSH dedup: how many
    candidate pairs did the (bands x rows) banding emit, and what
    fraction survived exact verification — the measured cost knob for
    tuning banding parameters at corpus scale. Precision near 1 means
    the verify stage only touches true near-dups; precision collapsing
    toward 0 means band keys are colliding on sub-threshold pairs and
    the verify join is where the cluster's money goes (more bands of
    fewer rows raises recall but lowers this number; the S-curve
    says where).

    Returns one row: (n_docs, n_candidates, n_verified, precision),
    precision = verified/candidates rounded to 6 (defined 1.0 when no
    candidates — an empty verify stage wastes nothing).

    Same plan skeleton as ``minhash_lsh_pairs`` (one signature
    pipeline, one struct-array band explode, bucket equi-join); the
    candidate frame feeds both the count and the verify join, so it is
    lazily checkpointed.
    """
    sh, banded = _minhash_banded(df, n, num_hashes, bands, text_col, id_col)
    x = banded.alias("x")
    y = banded.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    pa = sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"})
    pb = sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"})
    verified = (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )
    nd = df.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    nv = verified.agg(F.count(F.lit(1)).cast("long").alias("n_verified"))
    return (
        nd.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nv))
        .select(
            "n_docs",
            "n_candidates",
            "n_verified",
            F.when(F.col("n_candidates") == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    F.col("n_verified").cast("double")
                    / F.col("n_candidates").cast("double"),
                    6,
                )
            )
            .alias("precision"),
        )
    )


def simhash_fingerprints(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """``bits``-wide SimHash per document over word n-grams.

    bit b of the fingerprint = majority vote (>0) of bit b over the
    md5-derived ``bits``-bit hashes of the document's shingles. One
    explode + one grouped agg: O(corpus) with a single shuffle.

    ``bits`` is the family's SIZE RULE knob: blocking (simhash_pairs)
    buckets on fingerprint blocks, and bucket count is 2^(bits/blocks) —
    fixed 32-bit fingerprints keep candidate pairs ~quadratic in corpus
    size, while 60-bit (15-bit blocks, 32k buckets) holds rows-per-bucket
    constant through the 10x scale rehearsal (bench.py). 32 remains the
    default (and the registered oracle contract). Max supported: 60
    (15 hex chars of md5 -> exact long, no sign issues).
    """
    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60]")
    inv = _shingled(df, text_col, id_col, n).select(
        F.col(id_col), F.explode("sh").alias("shingle")
    )
    # materialize the hash ONCE per row; the per-bit vote aggregates then
    # read a long column instead of each recomputing md5+conv
    n_hex = (bits + 3) // 4
    hashed = inv.select(
        F.col(id_col),
        F.conv(F.substring(F.md5(F.col("shingle")), 1, n_hex), 16, 10)
        .cast("long")
        .alias("h"),
    )
    h = F.col("h")
    votes = hashed.groupBy(id_col).agg(
        *_simhash_vote_aggs(h, bits)
    )
    return votes.select(F.col(id_col), _simhash_fp_from_votes(bits).alias("simhash"))


def _simhash_vote_aggs(h, bits: int) -> list:
    """The per-bit majority-vote aggregate columns of
    `simhash_fingerprints`, exposed so a fused aggregate
    (`method_pair_sets`) can compute them alongside MinHash mins in the
    SAME groupBy."""
    return [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]


def _simhash_fp_from_votes(bits: int):
    """Assemble the fingerprint long from v0..v{bits-1} vote columns —
    bit b set iff the vote sum is positive (ties -> 0, matching the
    > 0 majority rule)."""
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return fp


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_hamming.

    Candidates via block pigeonhole: the fingerprint splits into
    ``max_hamming + 1`` equal blocks, and a pair within the hamming
    bound must agree on at least one whole block — so block equi-joins
    replace the n^2 scan. At 100 TB each block join shuffles on a
    (block-id, block-value) key and AQE handles block skew; bucket count
    is 2^(bits/blocks) per block, so ``bits`` is the size-rule knob that
    keeps rows-per-bucket (and with it candidate volume) constant as the
    corpus grows (see simhash_fingerprints).

    Pass a prebuilt (checkpointed) ``fps`` (id, simhash) frame to share
    the fingerprint pipeline with other consumers (`method_pair_sets`).
    """
    n_blocks = max_hamming + 1
    width = bits // n_blocks
    if width < 1:
        raise ValueError("bits must be >= max_hamming + 1")
    mask = (1 << width) - 1
    if fps is None:
        # lazy checkpoint: the fingerprint pipeline (shingle explode +
        # per-bit vote aggregate) feeds BOTH self-join sides below;
        # shuffle reuse only dedups the pre-Exchange half, the final vote
        # aggregate would still run once per side (caught by
        # plans/advisor union-recompute)
        fps = simhash_fingerprints(df, n, text_col, id_col, bits=bits).localCheckpoint(
            eager=False
        )
    # one explode, not an n_blocks-way union: union branches would
    # re-derive the whole fingerprint pipeline per block (and the
    # self-join below doubles that) — same no-cross-branch-CSE fix as
    # _minhash_banded
    block_structs = F.array(
        *[
            F.struct(
                F.lit(blk).cast("int").alias("blk"),
                F.shiftright(F.col("simhash"), blk * width)
                .bitwiseAND(F.lit(mask))
                .alias("bval"),
            )
            for blk in range(n_blocks)
        ]
    )
    blocks = fps.select(
        F.col(id_col), F.col("simhash"), F.explode(block_structs).alias("p")
    ).select(
        F.col(id_col),
        F.col("simhash"),
        F.col("p.blk").alias("blk"),
        F.col("p.bval").alias("bval"),
    )
    x = blocks.alias("x")
    y = blocks.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.bval") == F.col("y.bval"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.col("x.simhash").alias("fp_a"),
            F.col("y.simhash").alias("fp_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def method_pair_sets(
    df: DataFrame,
    threshold: float = 0.8,
    max_hamming: int = 3,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """(MinHash-LSH pairs, SimHash pairs) over ONE corpus pass — the
    fused input builder for the method-comparison audits
    (`pair_method_agreement`, `method_mcnemar`), which need both
    detectors over the same corpus. Run independently, each detector
    shingles, hashes and aggregates the corpus itself; fused, the two
    share one shingle pass, one md5 inverted index, and ONE
    groupBy(id) computing the MinHash mins AND the SimHash bit votes in
    the same shuffle (round 11, guide §2.3/§2.4: two Exchanges of the
    hashed index -> one, two shingle passes -> one).

    Value-identical to the independent runs: at ``bits=32`` SimHash's
    per-shingle hash conv(substr(md5,1,8)) IS MinHash's ``h1``, the
    min/sum aggregates are the same exact-integer arithmetic grouped by
    the same key, and the candidate/verify stages are the unmodified
    detector tails (pinned by
    test_method_pair_sets_equals_independent_detectors).
    """
    if (bits + 3) // 4 != 8:
        raise ValueError("fused path requires bits whose hash is h1 (29..32)")
    sh = _shingled(df, text_col, id_col, n).localCheckpoint(eager=False)
    inv = sh.select(F.col(id_col), F.explode("sh").alias("shingle"))
    hashed = inv.select(
        F.col(id_col),
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(F.md5("shingle"), 9, 8), 16, 10).cast("long").alias("h2"),
    )
    params = minhash_params(num_hashes)
    combined = hashed.groupBy(id_col).agg(
        *[
            F.min(
                (F.lit(a) * F.col("h1") + F.lit(b) * F.col("h2")) % F.lit(MINHASH_P)
            ).alias(f"h{i}")
            for i, (a, b) in enumerate(params)
        ],
        *_simhash_vote_aggs(F.col("h1"), bits),
    ).localCheckpoint(eager=False)
    sig = combined.select(F.col(id_col), *[F.col(f"h{i}") for i in range(num_hashes)])
    fps = combined.select(F.col(id_col), _simhash_fp_from_votes(bits).alias("simhash"))
    pairs_a = minhash_lsh_pairs(
        df, threshold, n, num_hashes, bands, text_col, id_col, sh=sh, sig=sig
    )
    pairs_b = simhash_pairs(df, max_hamming, n, text_col, id_col, bits, fps=fps)
    return pairs_a, pairs_b


def connected_components(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b", max_iterations: int = 20
) -> DataFrame:
    """Connected components over a near-dup pair graph by iterative
    min-label propagation (the distributed union-find): each round every
    node takes the min of its own label and its neighbors' labels;
    converged when nothing changes.

    Rounds needed = graph diameter (near-dup components are tiny cliques/
    chains, so 2-3 rounds in practice); each round is one join + one
    aggregation, lineage truncated per round via localCheckpoint so plans
    stay bounded. Returns (node, component) with component = min node id
    reachable.
    """
    # symmetrize with one explode, not a union of pairs + flipped pairs:
    # the two union branches would each re-derive the (possibly
    # expensive) pair-generation DAG at checkpoint time
    both = F.array(
        F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
        F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
    )
    edges = (
        pairs.select(F.explode(both).alias("e"))
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .distinct()
        # materialize once: every propagation round joins against edges,
        # and without this the pair derivation would re-execute per round
        .localCheckpoint()
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    for _ in range(max_iterations):
        # min over {self} ∪ neighbors = least(own, min(neighbors)); the
        # change flag rides along in the SAME checkpointed frame, so the
        # convergence check is a narrow filter+count over materialized
        # rows — no per-round shuffle join against the previous labels
        nmin = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("component").alias("ncomp"))
        )
        proposed = (
            labels.join(nmin, "node", "left")
            .select(
                "node",
                F.least(F.col("component"), F.col("ncomp")).alias("component"),
                (F.col("ncomp") < F.col("component")).alias("_changed"),
            )
            .localCheckpoint()
        )
        changed = proposed.filter(F.col("_changed")).count()
        labels = proposed.drop("_changed")
        if changed == 0:
            break
    return labels


def resolve_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup resolution: collapse each near-dup component to its smallest
    id (SURVEY §2.12 "connected-component pick-one"). Returns every row of
    ``df`` with its component id and a survivor flag; filtering on
    ``is_survivor`` yields the deduplicated corpus."""
    comp = connected_components(pairs)
    out = df.select(F.col(id_col)).join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    )
    return out.select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    ).withColumn("is_survivor", F.col(id_col) == F.col("component"))


def lsh_band_planes(
    bands: int = 12, bits: int = 4, dim: int = 64, seed: int = 1234
) -> list[list[list[float]]]:
    """Seeded random-hyperplane family for banded cosine LSH: ``bands``
    independent groups of ``bits`` hyperplanes each. float32 -> Python
    float round-trip so the exact same double literals appear in the
    Spark plan and in the DuckDB oracle SQL."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [
        [[float(x) for x in rng.standard_normal(dim).astype(np.float32)] for _ in range(bits)]
        for _ in range(bands)
    ]


def lsh_band_planes_int(
    bands: int = 12, bits: int = 4, dim: int = 64, seed: int = 1234
) -> list[list[list[int]]]:
    """Integer-quantized twin of :func:`lsh_band_planes`: the same seeded
    gaussian directions scaled by 127 and rounded. With int planes over
    the int8 storage vector the signature dot products are EXACT INTEGER
    sums — order-independent, so a vectorized numpy matmul, an
    interpreted HOF fold, and the DuckDB oracle's unrolled sum all
    produce identical signs with no FP-reassociation caveat (unlike
    float planes, where a sign near zero could theoretically flip under
    a different summation order). Quantizing a random direction is still
    a random direction: LSH recall is statistically unchanged."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [
        [
            [int(x) for x in np.rint(rng.standard_normal(dim).astype(np.float32) * 127.0).astype(np.int64)]
            for _ in range(bits)
        ]
        for _ in range(bands)
    ]


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    bands: int = 12,
    bits: int = 4,
    seed: int = 1234,
    hyperplanes: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs by symmetric int8 cosine >= threshold.

    Scoring runs on the engine's native quantized representation (both
    sides int8), so dots and norms are exact integers: every method
    returns identical (id_a, id_b, cosine) values for the pairs it
    considers, and the DuckDB oracle reproduces them.

    ``method='lsh'`` (default, the 100 TB path): banded random-hyperplane
    blocking. Each vector gets ``bands`` bucket keys (one ``bits``-bit
    sign signature per band, all computed in a single projection over one
    scan); candidates are pairs sharing any (band, bucket) — an equi-join
    on a small int key, never the n^2 cross product — and only candidates
    are verified with the exact int8 cosine expression. Fully lazy: no
    driver collect, no Python in the row path.

    Recall tuning (standard SimHash-LSH math): a pair at cosine c agrees
    on one hyperplane bit with p = 1 - arccos(c)/pi, so
    recall = 1 - (1 - p^bits)^bands. The defaults (12 bands x 4 bits)
    give ~0.9 recall at the fixture threshold 0.4 — a deliberately hard
    regime (background pairs collide at p=0.5); at a production near-dup
    threshold of 0.9 the same construction with 16-bit bands prunes
    ~1000x. More bands => higher recall, more candidates.

    ``method='pandas'``: exact all-pairs through the one int8 cosine
    kernel (``search.int8_cosine_scan``) with the threshold selector
    (``cosine >= threshold`` and ``id_a < id_b``), blocked like the
    miners: anchors gathered and shipped in the scan's closure
    ``MINER_ANCHOR_BLOCK`` rows at a time, one corpus pass per block,
    passes unioned — O(n^2/P) work, no n^2 row materialization, driver
    and per-task memory
    bounded by the block and ``QCHUNK`` widths.
    ``method='expr'``: exact all-pairs cross-join + expression scoring
    (small inputs / oracle twin).
    """
    from pythonvectordb_spark.functions.vector import (
        cosine_similarity_int8_sym,
        l2_normalize,
        quantize,
    )

    # lazy checkpoint: the quantized frame feeds the signature pass AND
    # both verify-join sides — one normalize+quantize execution, not three
    q = df.select(
        F.col(id_col), quantize(l2_normalize(vec_col)).alias("qv")
    ).localCheckpoint(eager=False)
    if method == "expr":
        a = q.select(F.col(id_col).alias("id_a"), F.col("qv").alias("va"))
        b = q.select(F.col(id_col).alias("id_b"), F.col("qv").alias("vb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        out = pairs.withColumn("cosine", cosine_similarity_int8_sym("va", "vb"))
    elif method == "lsh":
        from pythonvectordb_spark.functions.vector import lsh_band_signatures_int8_vec
        from pythonvectordb_spark.operators.search import lsh_band_signatures_expr

        if hyperplanes is not None:
            # caller-supplied float planes: signatures over the raw float
            # vector via the one-parse HOF expression (pinned fold order)
            banded = df.select(
                F.col(id_col),
                F.posexplode(lsh_band_signatures_expr(vec_col, hyperplanes)).alias(
                    "band", "bkey"
                ),
            )
        else:
            # default: INTEGER planes over the int8 storage vector — the
            # signature dots are exact int64 sums (order-independent), so
            # the Arrow matmul kernel is bit-identical to the HOF
            # expression twin and to the DuckDB oracle, with none of the
            # float-plane paths' fold-order pinning. One scan, one Arrow
            # batch, then posexplode to (id, band, bkey) narrow rows.
            planes_int = lsh_band_planes_int(bands, bits, seed=seed)
            banded = q.select(
                F.col(id_col),
                F.posexplode(lsh_band_signatures_int8_vec("qv", planes_int)).alias(
                    "band", "bkey"
                ),
            )
        x = banded.alias("x")
        y = banded.alias("y")
        cand = (
            x.join(
                y,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bkey") == F.col("y.bkey"))
                & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
            )
            .select(
                F.col(f"x.{id_col}").alias("id_a"),
                F.col(f"y.{id_col}").alias("id_b"),
            )
            .distinct()
        )
        from pythonvectordb_spark.functions.vector import cosine_int8_sym_vec

        qa = q.withColumnsRenamed({id_col: "id_a", "qv": "va"})
        qb = q.withColumnsRenamed({id_col: "id_b", "qv": "vb"})
        # Arrow-vectorized verifier (bit-identical to the expression —
        # exact integer arithmetic): the candidate set can be a large
        # fraction of n^2 at low thresholds, where interpreted HOF
        # lambdas would dominate the whole job
        out = (
            cand.join(qa, "id_a")
            .join(qb, "id_b")
            .withColumn("cosine", cosine_int8_sym_vec("va", "vb"))
        )
    elif method == "pandas":
        import numpy as np

        from pythonvectordb_spark.operators.search import (
            _ids,
            _per_anchor_block,
            int8_cosine_scan,
        )

        def select(batch, ref_ids):
            ids = _ids(batch, id_col)

            def emit(s, j0):
                # only (id_a < id_b) pairs above threshold
                ref = ref_ids[j0 : j0 + s.shape[1]]
                r, c = np.nonzero((s >= threshold) & (ids[:, None] < ref[None, :]))
                yield {"id_a": ids[r], "id_b": ref[c], "cosine": s[r, c]}

            return emit

        out = _per_anchor_block(
            q,  # anchors reuse the checkpointed quantized frame
            id_col,
            F.col("qv"),
            None,
            lambda ref_ids, ref_m, _: int8_cosine_scan(
                q, ref_ids, ref_m, select, "id_a long, id_b long, cosine double", "qv"
            ),
        )
    else:
        raise ValueError(f"bad method {method!r}")
    return out.filter(F.col("cosine") >= F.lit(threshold)).select(
        "id_a", "id_b", F.round("cosine", 9).alias("cosine")
    )


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "expr",
) -> DataFrame:
    """SemDeDup-shape semantic near-dup pairs: cluster-blocked candidate
    generation + exact verify (Abbas et al. 2023, "SemDeDup" — prune
    semantic duplicates WITHIN k-means clusters only, never across the
    full corpus).

    ``assign`` picks the nearest-centroid strategy:
      * ``"expr"`` (default): the pure-expression argmax — bit-equal to
        the DuckDB oracle, right for the registered small-k contract.
      * ``"arrow"``: Arrow-batched numpy matmul argmax — the SIZE-RULE
        path. SemDeDup holds rows-per-block constant by growing k with
        the corpus, and the expression argmax costs O(n * k * dim) as a
        per-row expression tree; the matmul path is the same assignment
        as one vectorized (n x dim) @ (dim x k) product per batch
        (measured in bench.py's 10x rehearsal: exponent 1.26 -> ~1.0).
        BLAS dot ordering can flip exact near-ties vs the sequential
        fold, so this path is for scale, not for oracle parity.

    Each vector is assigned to its nearest coarse centroid with the same
    pure-expression argmax the IVF index uses (at scale the assignment
    is a partition column written at ingest — see
    ``indexing.build_ivf_index`` — so the self-join below is co-located
    per partition and never crosses cluster boundaries). Candidates are
    pairs sharing a cluster — an equi-join on a small int key, O(sum of
    squared cluster sizes), not O(n^2) — and only candidates are scored
    with the exact symmetric int8 cosine (integer dot/norms, so the
    DuckDB oracle reproduces every value bit-for-bit).

    Complementary to ``embedding_near_dup``'s banded-LSH blocking: LSH
    bounds the miss rate pair-by-pair; centroid blocking matches the
    production SemDeDup recipe and inherits whatever structure the
    codebook carries. Centroids come from MLlib KMeans offline (or any
    fixed codebook).

    Returns (id_a, id_b, cluster_id, cosine) for pairs with
    cosine >= threshold, id_a < id_b.
    """
    from pythonvectordb_spark.functions.vector import (
        cosine_int8_sym_vec,
        l2_normalize,
        quantize,
    )
    from pythonvectordb_spark.operators.search import ivf_cluster_id

    if assign == "arrow":
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        C = np.asarray(centroids, dtype=np.float64)
        cn = np.linalg.norm(C, axis=1)
        cn[cn < 1e-10] = np.inf  # zero-norm centroid -> similarity 0
        Cu = (C / cn[:, None]).T  # dim x k, pre-normalized once

        @pandas_udf("int")
        def _assign(col: pd.Series) -> pd.Series:
            if len(col) == 0:
                return pd.Series([], dtype="int32")
            M = np.vstack([np.asarray(v, dtype=np.float64) for v in col])
            nrm = np.linalg.norm(M, axis=1)
            safe = nrm >= 1e-10
            M[safe] = M[safe] / nrm[safe, None]
            sims = M @ Cu
            sims[~safe] = 0.0
            return pd.Series(np.argmax(sims, axis=1).astype("int32"))

        cluster = _assign(F.col(vec_col))
    elif assign == "expr":
        cluster = ivf_cluster_id(vec_col, centroids)
    else:
        raise ValueError(f"unknown assign method: {assign!r}")
    # lazy checkpoint: both self-join sides read the quantized+assigned
    # frame, and the normalize/quantize/argmax work is the operator's
    # per-row cost — compute it once, not per side
    q = df.select(
        F.col(id_col),
        quantize(l2_normalize(vec_col)).alias("qv"),
        cluster.alias("cluster_id"),
    ).localCheckpoint(eager=False)
    a = q.select(
        F.col(id_col).alias("id_a"), F.col("qv").alias("va"), "cluster_id"
    )
    b = q.select(
        F.col(id_col).alias("id_b"), F.col("qv").alias("vb"), "cluster_id"
    )
    pairs = a.join(b, ["cluster_id"]).filter(F.col("id_a") < F.col("id_b"))
    # Arrow-vectorized verifier (bit-identical to the expression form —
    # exact integer dot/norms): within-cluster candidate sets are
    # quadratic in cluster size, where interpreted HOF lambdas dominate
    return (
        pairs.withColumn("cosine", cosine_int8_sym_vec("va", "vb"))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", F.col("cluster_id").cast("int").alias("cluster_id"), "cosine")
    )


def resolve_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str = "quality_score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup resolution with a QUALITY survivorship policy: collapse each
    near-dup component to the copy with the highest ``score_col``
    (ties -> smallest id) instead of `resolve_duplicates`' smallest-id
    rule. The policy production pipelines actually want — near-dup groups
    usually contain one clean original and N mangled mirrors, and
    keep-smallest-id keeps whichever was crawled first.

    Same shape as `resolve_duplicates`: min-label connected components
    over the pair report, one left join to attach components (singletons
    keep their own id), then ONE component-partitioned window picks the
    argmax. The window's shuffle key is the component id — components
    are near-dup groups, so the per-key row count is the duplication
    depth, bounded and small; no global sort. Pass ``score_col`` ROUNDED
    (e.g. `text_quality`'s 9-dp score) and the argmax boundary is
    engine-portable (score DESC, id ASC on equal rounded scores).
    """
    comp = connected_components(pairs)
    out = (
        df.select(F.col(id_col), F.col(score_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.col(score_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
    )
    w = Window.partitionBy("component").orderBy(F.desc(score_col), F.asc(id_col))
    return out.select(
        id_col,
        "component",
        score_col,
        (F.row_number().over(w) == 1).alias("is_survivor"),
    )


def dedup_threshold_curve(
    pairs: DataFrame,
    thresholds: Sequence[float] = (0.5, 0.6, 0.7, 0.8, 0.9),
) -> DataFrame:
    """The dedup knob-tuning report: for each candidate similarity
    threshold, how many pairs fire and how many distinct documents get
    touched — computed in ONE pass over a single low-threshold pair
    report instead of re-running the dedup once per knob value (the
    near-dup join is the expensive part; this reuses it N-fold).
    One row per threshold: (threshold, n_pairs, n_docs_affected).

    ``pairs`` is any (id_a, id_b, score) report whose score column is
    named ``jaccard`` (e.g. `ngram_jaccard_pairs` at the LOWEST
    threshold of interest — its rounded 9-dp score makes the tier
    comparisons engine-portable). The report is lazily checkpointed (it
    feeds the pair-count and the affected-doc branches), tiers fan out
    as struct-array explodes over it, and the distinct-doc count is a
    two-key grouped distinct — all bounded by the pair report's size,
    never the corpus.
    """
    p = pairs.localCheckpoint(eager=False)
    th = F.array(*[F.lit(float(t)) for t in thresholds])
    anchor = (
        p.agg(F.count(F.lit(1)).alias("_n"))
        .select(F.explode(th).alias("threshold"))
    )
    pc = (
        p.select(F.explode(th).alias("threshold"), "jaccard")
        .where(F.col("jaccard") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    dc = (
        p.select(
            F.explode(th).alias("threshold"),
            F.col("jaccard"),
            F.array("id_a", "id_b").alias("ids"),
        )
        .where(F.col("jaccard") >= F.col("threshold"))
        .select("threshold", F.explode("ids").alias("d"))
        .groupBy("threshold")
        .agg(F.count_distinct("d").cast("long").alias("n_docs_affected"))
    )
    return (
        anchor.join(pc, "threshold", "left")
        .join(dc, "threshold", "left")
        .select(
            F.round("threshold", 2).alias("threshold"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0))
            .cast("long")
            .alias("n_docs_affected"),
        )
    )


def minhash_estimate_error(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 48,
    base_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = 1000,
) -> DataFrame:
    """MinHash estimator calibration: for every pair the exact n-gram
    report finds at ``base_threshold``, the signature-agreement estimate
    of its Jaccard next to the exact value — the measured answer to "how
    many hashes do I need?" (`minhash_precision` calibrates the BANDING;
    this calibrates the ESTIMATOR itself: E[agreement] = Jaccard, with
    Hoeffding spread ~1/sqrt(num_hashes)).

    Per pair: (id_a, id_b, exact_jaccard, minhash_est, abs_error). All
    arithmetic is exact-integer (signature min-hashes) or deterministic
    double division, so the report hash-matches an independent SQL
    replay — the estimator's RANDOMNESS is fixed by the deterministic
    two-hash family, making even its errors reproducible.

    Scale shape: one signature pass (grouped min-agg over hashed
    shingles, O(n) rows) + the existing inverted-index pair report; the
    estimate join ships only signature columns (num_hashes longs) for
    the pair rows — pairs x signatures, never corpus x corpus. The two
    operators each checkpoint their own shingle pass; sharing it across
    them is possible but the signature agg dominates either way.
    """
    # ONE shingle pass shared by the exact-pair report and the signature
    # pipeline (profiled at sf0.1: shingling is a top cost and
    # running two independent operators paid it twice)
    sh = _shingled(df, text_col, id_col, n).localCheckpoint(eager=False)
    pairs = jaccard_pairs_from_shingles(
        sh, threshold=base_threshold, id_col=id_col, max_df=max_df
    )
    _, sig = minhash_signatures(df, n, num_hashes, text_col, id_col, sh=sh)
    # the signature agg feeds BOTH join sides — checkpoint it or the
    # whole hash+min pipeline runs twice (union-recompute class)
    sig = sig.localCheckpoint(eager=False)
    siga = sig.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    sigb = sig.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    eq = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(num_hashes)
    )
    est = eq.cast("double") / F.lit(float(num_hashes))
    return (
        pairs.join(siga, "id_a")
        .join(sigb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("jaccard").alias("exact_jaccard"),
            F.round(est, 6).alias("minhash_est"),
            F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_error"),
        )
    )


def cluster_source_purity(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Source purity of resolved duplicate clusters: for every
    multi-member component of the near-dup graph, the Shannon entropy
    of its member sources — are duplicates INTRA-source (template
    reuse inside one crawl, H = 0: fix the source's extractor) or
    CROSS-source (syndication / mirror networks, H > 0: dedup must run
    globally, per-source dedup would miss them)? The policy bit
    `dup_source_matrix` (pair-level) can't give at cluster grain.

    Determinism: components come from the same min-label propagation
    `dedup_resolve` pins; per-cluster entropy H = ln n - (sum c_s ln
    c_s)/n has every ln over an exact integer count; purity (H = 0) is
    decided by the INTEGER test max(c_s) = n, never a float compare;
    the mean entropy is a cluster-count double sum, ROUNDED 6.

    Scale shape: one (component, source) grouped count over the
    resolved frame, one component-level aggregate, one global
    aggregate. Cluster count is bounded by the dup-pair volume.
    """
    resolved = resolve_duplicates(docs, pairs)
    cs = (
        resolved.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("component", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per = cs.groupBy("component").agg(
        F.sum("c").cast("long").alias("n"),
        F.max("c").cast("long").alias("cmax"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias(
            "sclc"
        ),
    ).where(F.col("n") > 1)
    h = F.log(F.col("n").cast("double")) - F.col("sclc") / F.col("n").cast("double")
    g = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum(F.when(F.col("cmax") == F.col("n"), 1).otherwise(0))
        .cast("long")
        .alias("n_pure"),
        F.sum(h).alias("_hsum"),
    )
    return g.select(
        "n_clusters",
        "n_pure",
        F.round(
            F.col("n_pure").cast("double") / F.col("n_clusters").cast("double"), 9
        ).alias("pure_share"),
        F.round(F.col("_hsum") / F.col("n_clusters").cast("double"), 6).alias(
            "mean_entropy"
        ),
    )


def pair_method_agreement(pairs_a: DataFrame, pairs_b: DataFrame) -> DataFrame:
    """Agreement audit between two near-dup detectors over the same
    corpus: pair-set Jaccard of their (id_a, id_b) outputs — the
    method-risk number behind choosing ONE family for production.
    High agreement: the cheap method can gate for the expensive one;
    low agreement: they see different duplicate classes and the
    pipeline needs both (registered: MinHash >=0.8 vs SimHash <=3).

    Determinism: both inputs already emit ordered (id_a < id_b) pairs;
    counts are exact after DISTINCT; agreement is one double division,
    ROUNDED 9, NULL when both sets are empty.

    Scale shape: each detector's own banding/blocking does the heavy
    lifting; this audit adds one distinct per side, one pair-keyed
    inner join, and three one-row aggregates (each side checkpointed
    once).
    """
    a = pairs_a.select("id_a", "id_b").distinct().localCheckpoint(eager=False)
    b = pairs_b.select("id_a", "id_b").distinct().localCheckpoint(eager=False)
    na = a.agg(F.count(F.lit(1)).cast("long").alias("n_a")).withColumn("_one", F.lit(1))
    nb = b.agg(F.count(F.lit(1)).cast("long").alias("n_b")).withColumn("_one", F.lit(1))
    nboth = (
        a.join(b, ["id_a", "id_b"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .withColumn("_one", F.lit(1))
    )
    j = na.join(F.broadcast(nb), "_one").join(F.broadcast(nboth), "_one")
    uni = (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("long")
    return j.select(
        F.col("n_a").alias("n_minhash"),
        F.col("n_b").alias("n_simhash"),
        "n_both",
        uni.alias("n_union"),
        F.when(
            uni > 0,
            F.round(F.col("n_both").cast("double") / uni.cast("double"), 9),
        ).alias("agreement"),
    )


def method_mcnemar(
    docs: DataFrame,
    pairs_a: DataFrame,
    pairs_b: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """McNemar's test of MARGINAL homogeneity between two duplicate
    detectors (new round 7 — the significance companion to
    `pair_method_agreement`'s Jaccard and `cohens_kappa`'s chance-
    corrected agreement): flag each document as duplicate-involved per
    method, cross-tabulate the paired booleans, and test whether the
    two methods flag DIFFERENT documents asymmetrically — the n10/n01
    discordant counts are the only evidence, chi2 = (n10-n01)^2 /
    (n10+n01), with the Edwards continuity-corrected variant
    (|n10-n01|-1)^2/(n10+n01) beside it. A significant McNemar with a
    high kappa means one method strictly dominates (its extra flags
    are one-sided) — run that one; a symmetric disagreement means the
    families see different duplicates — run both.

    Determinism: flags are exact set-membership booleans; both
    statistics are one double division over exact int64 counts,
    ROUNDED 6 (NULL when no discordance).

    Scale shape: each pair set collapses to its distinct flagged-doc
    directory (map-side combined explode), two left joins onto the doc
    spine broadcast the (tiny) directories, one global aggregate.
    """
    def flags(pairs: DataFrame, name: str) -> DataFrame:
        return (
            pairs.select(
                F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
            )
            .distinct()
            .withColumn(name, F.lit(1))
        )

    base = (
        docs.select(id_col)
        .join(F.broadcast(flags(pairs_a, "fa")), id_col, "left")
        .join(F.broadcast(flags(pairs_b, "fb")), id_col, "left")
        .select(
            F.coalesce("fa", F.lit(0)).alias("a"),
            F.coalesce("fb", F.lit(0)).alias("b"),
        )
    )
    g = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("n00"),
    )
    disc = (F.col("n10") + F.col("n01")).cast("double")
    diff = (F.col("n10") - F.col("n01")).cast("double")
    cc = F.abs(diff) - F.lit(1.0)
    return g.select(
        "n_docs",
        "n11",
        "n10",
        "n01",
        "n00",
        F.when(disc > 0.0, F.round(diff * diff / disc, 6)).alias("mcnemar_chi2"),
        F.when(disc > 0.0, F.round(cc * cc / disc, 6)).alias("mcnemar_chi2_cc"),
    )
