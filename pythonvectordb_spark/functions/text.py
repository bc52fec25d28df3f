"""Text primitives shared by dedup and text-analysis operators.

All deterministic, engine-portable constructions:
  * tokens    — whitespace split, empties dropped;
  * shingles  — word n-grams (order-sensitive; the dedup unit — token
    *sets* are degenerate when the vocabulary is small);
  * md5-based hashing — md5 is available and identical in Spark and
    DuckDB, so MinHash/SimHash built on it are oracle-checkable, unlike
    engine-private hash functions (xxhash64/murmur differ across engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pythonvectordb_spark.functions.vector import let

# tiny english-ish stopword list over the testdata vocabulary
STOPWORDS = ("the", "a", "of", "and", "to")

# deterministic marker lists for the marker-count language heuristic.
# Real deployments swap in real frequency tables; the operator shape
# (score-per-language -> argmax with deterministic tie-break) is what
# matters for the engine.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow"),
    "de": ("group", "window", "order"),
    "es": ("data", "row", "value"),
    "fr": ("join", "merge", "filter"),
    "zh": ("spark", "query", "batch"),
}
LANG_MARKERS_SORTED = sorted(LANG_MARKERS.items())


def tokens(text: Column | str) -> Column:
    """Whitespace tokens with empties removed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, " "), lambda t: t != "")


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams, joined by single spaces.

    Built with ``transform(sequence(...))`` — pure expressions, identical
    1-based indexing to the DuckDB mirror (oracle.sql_shingles). The token
    array is let-bound, so each document is split once, not once per
    n-gram.
    """

    def grams(w: Column) -> Column:
        # guard: Spark's sequence(1, x) with x<1 generates a *descending*
        # sequence, so short documents must short-circuit to no shingles
        idx = F.when(
            F.size(w) >= F.lit(n), F.sequence(F.lit(1), F.size(w) - F.lit(n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.array_distinct(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.element_at(w, (i + j).cast("int")) for j in range(n)]
                ),
            )
        )

    return let(tokens(text), grams)


# two-hash MinHash family: h_i = (A_i*h1 + B_i*h2) mod P, with h1/h2 the
# two 32-bit halves of one md5. P = 2^61-1 (Mersenne); A_i < 2^28 keeps
# A_i*h1 < 2^60, so the sum stays inside a signed 64-bit long.
MINHASH_P = (1 << 61) - 1


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (A_i, B_i) constants for the two-hash family."""
    import numpy as np

    rng = np.random.default_rng(20240813)
    return [
        (int(rng.integers(1, 1 << 28)), int(rng.integers(0, 1 << 28)))
        for _ in range(num_hashes)
    ]


def hash32(token_col: Column) -> Column:
    """Deterministic 32-bit token hash: first 8 hex chars of md5 -> long."""
    return F.conv(F.substring(F.md5(token_col), 1, 8), 16, 10).cast("long")


def normalize_text(text: Column | str) -> Column:
    """Canonical form for fingerprinting: trim, collapse whitespace, lower."""
    c = F.col(text) if isinstance(text, str) else text
    return F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
