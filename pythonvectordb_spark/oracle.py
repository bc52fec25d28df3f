"""DuckDB-SQL fragment generators that mirror the Spark vector expressions
bit-for-bit (verified: quantize exact on all rows; scores agree to 1 ULP).

Parity rules (empirically validated against DuckDB 1.0):
  * float32 parquet values promoted to DOUBLE are exact in both engines.
  * Spark's sequential `F.aggregate` fold == DuckDB `list_aggregate('sum')`
    over the same list == an explicit left-associated `t1 + t2 + ...` sum.
  * Spark numeric->tinyint cast truncates toward zero; DuckDB's rounds, so
    the oracle uses an explicit `trunc()`.
  * Literals are embedded via `repr(float)` (shortest round-trip) on BOTH
    sides so the parsed doubles are identical.
"""

from __future__ import annotations

from typing import Sequence

from pythonvectordb_spark.fixtures import DIM


def sql_l2_norm(col: str) -> str:
    """sqrt(sum(x^2)) in double — mirrors functions.vector.l2_norm."""
    return (
        f"sqrt(list_aggregate(list_transform({col}, y -> y::DOUBLE * y::DOUBLE), 'sum'))"
    )


def sql_qvec(col: str = "embedding") -> str:
    """normalize+quantize — mirrors quantize(l2_normalize(col)).

    Note: testdata embeddings are unit-norm non-zero, so the zero-norm
    branch (reference pythonvectordb.py:91-97) can't trigger here; the
    Spark side still carries the guard.
    """
    return (
        f"list_transform({col}, x -> CAST(trunc(greatest(-128.0, least(127.0, "
        f"(x::DOUBLE / {sql_l2_norm(col)}) * 127.0))) AS TINYINT))"
    )


def sql_dot_lit(query: Sequence[float], col: str, dim: int = DIM) -> str:
    """Left-assoc dot of a literal query against a list column (1-indexed)."""
    return " + ".join(
        f"({float(query[i])!r}::DOUBLE * {col}[{i + 1}]::DOUBLE)" for i in range(dim)
    )


def sql_dot_cols(a: str, b: str, dim: int = DIM) -> str:
    """Left-assoc dot of two list columns."""
    return " + ".join(f"({a}[{i + 1}]::DOUBLE * {b}[{i + 1}]::DOUBLE)" for i in range(dim))


def sql_query_norm(query: Sequence[float]) -> str:
    """sqrt of left-assoc sum of squares of the literal query."""
    terms = " + ".join(f"({float(x)!r}::DOUBLE * {float(x)!r}::DOUBLE)" for x in query)
    return f"sqrt({terms})"


def sql_int8_norm(qv: str) -> str:
    """sqrt of the exact integer sum of squares of an int8 list column."""
    return f"sqrt(list_aggregate(list_transform({qv}, x -> x::BIGINT * x::BIGINT), 'sum')::DOUBLE)"


def sql_cosine_int8_lit(query: Sequence[float], qv: str, dim: int = DIM) -> str:
    """Mirror of cosine_similarity_int8 against a literal query.

    Zero-norm guards are omitted: the literal queries are unit vectors and
    testdata vectors are non-zero (guards would be dead branches here).
    """
    return (
        f"(({sql_dot_lit(query, qv, dim)}) / "
        f"({sql_query_norm(query)} * {sql_int8_norm(qv)}))"
    )


def sql_cosine_float_lit(query: Sequence[float], col: str, dim: int = DIM) -> str:
    """Mirror of cosine_similarity (float path) against a literal query."""
    return (
        f"(({sql_dot_lit(query, col, dim)}) / "
        f"({sql_query_norm(query)} * {sql_l2_norm(col)}))"
    )


def sql_cosine_float_cols(a: str, b: str, dim: int = DIM) -> str:
    """Mirror of cosine_similarity for two float list columns."""
    return f"(({sql_dot_cols(a, b, dim)}) / ({sql_l2_norm(a)} * {sql_l2_norm(b)}))"


# --------------------------------------------------------------------------
# text mirrors (functions.text)
# --------------------------------------------------------------------------

def sql_tokens(col: str = "text") -> str:
    """Mirror of functions.text.tokens (whitespace split, empties dropped)."""
    return f"list_filter(string_split({col}, ' '), t -> t != '')"


def sql_shingles_of(w: str, n: int = 3) -> str:
    """Mirror of functions.text.shingles over a token-array column ``w``
    (bind it first in a CTE: ``SELECT {sql_tokens('text')} AS w``).

    DuckDB ``range(a, b)`` is empty when a >= b, which matches the Spark
    side's short-document guard.
    """
    parts = " || ' ' || ".join(f"{w}[i + {j}]" for j in range(n))
    return f"list_distinct(list_transform(range(1, len({w}) - {n - 2}), i -> {parts}))"


def sql_norm_text(col: str = "text") -> str:
    """Mirror of functions.text.normalize_text (note DuckDB needs the 'g'
    flag — its regexp_replace is first-match-only by default)."""
    return f"lower(regexp_replace(trim({col}), '\\s+', ' ', 'g'))"


def sql_stopword_filter(toks: str, words) -> str:
    lst = ", ".join(f"'{x}'" for x in words)
    return f"list_filter({toks}, x -> x IN ({lst}))"
