"""Vector kernels K1–K3 of the reference, as native Spark SQL expressions.

Reference parity map (SURVEY.md §2.1):
  * K1 ``cosine_similarity_int8``  (reference pythonvectordb.py:25-67)
    -> :func:`cosine_similarity_int8` — score = cos(float query, dequantized
    int8 vector) with the *post-quantization* norm recomputed per row
    (pythonvectordb.py:57-63). The 1/127 dequant scale cancels between the
    dot and the norm, so we compute on raw int8 values: exact integer
    arithmetic, bit-reproducible across engines.
  * K2 ``normalize_batch``         (pythonvectordb.py:70-99)
    -> :func:`l2_normalize` — zero-norm rows stay zero (guard at :91-97).
  * K3 ``quantize_batch``          (pythonvectordb.py:102-127)
    -> :func:`quantize` — ``x*127`` clamped to [-128, 127] then truncated
    toward zero (:119-125). Spark's float->tinyint cast truncates toward
    zero, matching NumPy's ``np.int8`` conversion semantics exactly.

All arithmetic is done in ``double``: inputs are float32 parquet columns,
promoted exactly to double, and sequential left-to-right array folds
(``F.aggregate``) make the result deterministic — independent of
partitioning, which row-order-sensitive SUM aggregations are not. That
determinism is what lets the DuckDB oracle hash-match.

Everything here is a Column-in/Column-out expression: no UDFs, fully
whole-stage-codegen'd, scales to 100 TB without Python in the hot loop —
except :func:`cosine_int8_sym_vec`, the deliberate Arrow-vectorized twin
for high-cardinality verify steps (same exact integer math).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

ZERO_NORM_EPS = 1e-10  # reference pythonvectordb.py:91 (`norm < 1e-10` guard)


def _d(col: Column | str) -> Column:
    """Promote an array column to array<double> (exact for float32 inputs)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Evaluate ``value`` once per row and pass it to ``body`` (a
    Column -> Column lambda). Interpreted higher-order functions get no
    common-subexpression elimination, so a per-row value captured inside
    a lambda is otherwise recomputed for every element."""
    return F.transform(F.array(value), body)[0]


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product of two array columns, in double."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(col: Column | str) -> Column:
    """L2 norm of an array column (double, sequential fold)."""
    return F.sqrt(
        F.aggregate(_d(col), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def l2_normalize(col: Column | str) -> Column:
    """K2: row-wise L2 normalization; zero-norm rows -> zero vector.

    Mirrors reference ``normalize_batch`` (pythonvectordb.py:70-99) incl.
    the ``norm < 1e-10 -> leave zeros`` branch (:91-97).
    """
    v = _d(col)
    return let(
        l2_norm(v),
        lambda norm: F.when(
            norm < F.lit(ZERO_NORM_EPS), F.transform(v, lambda _: F.lit(0.0))
        ).otherwise(F.transform(v, lambda x: x / norm)),
    )


def quantize(col: Column | str) -> Column:
    """K3: symmetric int8 quantization of a (normalized) vector.

    ``trunc(clamp(x*127, -128, 127))`` — truncation toward zero, matching
    reference ``quantize_batch`` (pythonvectordb.py:119-125) where
    ``np.int8(val)`` truncates. Spark's numeric->tinyint cast truncates
    toward zero as well, so the mapping is exact.
    """
    return F.transform(
        _d(col),
        lambda x: F.greatest(F.lit(-128.0), F.least(F.lit(127.0), x * F.lit(127.0))).cast(
            "tinyint"
        ),
    )


def dequantize(col: Column | str) -> Column:
    """Inverse of K3 at the storage scale: int8 -> float (x/127).

    Matches reference ``get_vector`` dequantization (pythonvectordb.py:418-422).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double") / F.lit(127.0))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Plain float cosine similarity with zero-norm guards (score 0)."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na < F.lit(ZERO_NORM_EPS)) | (nb < F.lit(ZERO_NORM_EPS)), F.lit(0.0)).otherwise(
        dot(a, b) / (na * nb)
    )


def cosine_similarity_int8_sym(a: Column | str, b: Column | str) -> Column:
    """Symmetric int8 cosine: BOTH sides quantized (unlike K1's float
    query). Every term is integer arithmetic — dot and norms are exact in
    any summation order, which is what makes the vectorized numpy/BLAS
    execution path (operators.search mapInArrow) bit-identical to this
    expression and to the DuckDB oracle.
    """
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    d = F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    ssa = F.aggregate(ca, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long") * x.cast("long"))
    ssb = F.aggregate(cb, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long") * x.cast("long"))
    return (
        F.when((ssa == 0) | (ssb == 0), F.lit(0.0))
        .otherwise(
            d.cast("double") / (F.sqrt(ssa.cast("double")) * F.sqrt(ssb.cast("double")))
        )
    )


def cosine_int8_sym_vec(a: Column | str, b: Column | str) -> Column:
    """Arrow-vectorized twin of :func:`cosine_similarity_int8_sym`: the
    same exact-integer arithmetic (int64 dot/norms, float64 division —
    order-free, so bit-identical to the expression and the DuckDB
    oracle), executed as one numpy batch instead of an interpreted
    per-element HOF lambda. Use on high-cardinality verify steps (e.g.
    hundreds of thousands of candidate pairs), where Catalyst's
    interpreted lambda evaluation dominates the job."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        A = np.vstack(va.to_numpy()).astype(np.int64)
        B = np.vstack(vb.to_numpy()).astype(np.int64)
        d = (A * B).sum(axis=1)
        sa = (A * A).sum(axis=1)
        sb = (B * B).sum(axis=1)
        denom = np.sqrt(sa.astype(np.float64)) * np.sqrt(sb.astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.where((sa == 0) | (sb == 0), 0.0, d.astype(np.float64) / denom)
        return pd.Series(s)

    # deterministic in fact, but marked nondeterministic so Catalyst will
    # not clone the Arrow eval when a downstream filter references the
    # column (withColumn + filter otherwise plans TWO ArrowEvalPython
    # nodes over the full candidate set — measured 2x the verify cost)
    _cos = _cos.asNondeterministic()
    return _cos(F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b)


def lsh_band_signatures_int8_vec(
    qv: Column | str, band_planes: "list[list[list[int]]]"
) -> Column:
    """Per-band LSH bucket ids over the int8 storage vector, against
    INTEGER hyperplanes (``operators.dedup.lsh_band_planes_int``), as one
    Arrow-vectorized matmul: result[b] has bit i set iff
    ``dot(qv, planes[b][i]) >= 0``, weight ``1 << i``.

    Every dot is an exact int64 sum of int8*int coefficient products
    (|sum| <= 64*128*~400 — nowhere near overflow), so the numpy batch
    matmul is bit-identical to any sequential fold and to the DuckDB
    oracle's unrolled integer sum: the signs carry no FP-order caveat at
    all. That exactness is what licenses BLAS here — the float-plane
    expression path (``operators.search.lsh_band_signatures_expr``)
    must pin its fold order instead."""
    from pyspark.sql.functions import pandas_udf

    flat = [p for bp in band_planes for p in bp]
    P = np.asarray(flat, dtype=np.int64)  # (bands*bits, dim)
    n_bands, n_bits = len(band_planes), len(band_planes[0])
    weights = (1 << np.arange(n_bits, dtype=np.int64))[None, :]

    @pandas_udf("array<int>")
    def _sigs(v: pd.Series) -> pd.Series:
        M = np.vstack(v.to_numpy()).astype(np.int64)  # (n, dim)
        bits = (M @ P.T) >= 0  # (n, bands*bits) exact integer signs
        b = bits.reshape(len(M), n_bands, n_bits)
        sigs = (b * weights).sum(axis=2).astype(np.int32)  # (n, bands)
        return pd.Series(list(sigs))

    return _sigs(F.col(qv) if isinstance(qv, str) else qv)


def lsh_band_signatures_vec(
    vec_col: Column | str, band_planes: "list[list[list[float]]]"
) -> Column:
    """Arrow-vectorized twin of
    ``operators.search.lsh_band_signatures_expr`` (FLOAT planes over the
    raw float vector), added in the round-10 optimization pass: the
    interpreted HOF expression costs bands x bits x dim multiply-adds
    per row in Catalyst's interpreter (guide §4.2 — 20x5x64 = 6,400
    interpreted ops/row dominated every multiprobe query's execution);
    here the same arithmetic runs as dim numpy vector ops per batch.

    Bit-equality argument (the ``pq_code_arrow`` discipline): the
    expression computes ``CAST(elem AS DOUBLE)`` (float32→float64,
    exact) times the literal double plane coefficient, accumulated by a
    LEFT-ASSOCIATIVE sequential fold from 0.0 over ascending j. The
    kernel mirrors each step: float64 upcast, an explicit j-ascending
    ``acc = acc + X[:, j] * P[:, j]`` loop (vectorized ACROSS rows and
    planes, sequential WITHIN each dot — numpy's pairwise-summed ``@``
    would NOT match), and the same ``>= 0`` sign rule with ``1 << i``
    weights. Same doubles in, same op order, same signatures — pinned
    by test against the expression twin.

    Marked nondeterministic so a downstream filter referencing the
    column is not duplicated into two ArrowEvalPython nodes (guide
    §4.4).
    """
    from pyspark.sql.functions import pandas_udf

    flat = [p for bp in band_planes for p in bp]
    P = np.asarray(flat, dtype=np.float64)  # (bands*bits, dim)
    n_bands, n_bits = len(band_planes), len(band_planes[0])
    dim = P.shape[1]
    weights = (1 << np.arange(n_bits, dtype=np.int64))[None, :]

    @pandas_udf("array<int>")
    def _sigs(v: pd.Series) -> pd.Series:
        X = np.vstack(v.to_numpy()).astype(np.float64)  # exact upcast
        acc = np.zeros((len(X), P.shape[0]), dtype=np.float64)
        for j in range(dim):  # ascending-j sequential accumulation
            acc = acc + X[:, j : j + 1] * P[None, :, j][0][None, :]
        b = (acc >= 0.0).reshape(len(X), n_bands, n_bits)
        sigs = (b * weights).sum(axis=2).astype(np.int32)
        return pd.Series(list(sigs))

    _sigs = _sigs.asNondeterministic()
    return _sigs(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def cosine_similarity_int8(query: Column | str, qvec: Column | str) -> Column:
    """K1: reference score semantics (pythonvectordb.py:25-67).

    score = dot(query, v/127) / (||query|| * ||v/127||)
          = dot(query, v)     / (||query|| * ||v||)        (1/127 cancels)

    where ``v`` is the stored int8 vector. The stored-side dot/norm use
    exact integer arithmetic (int8 values summed in long), so the only
    FP-order-sensitive piece is the query-side fold — done sequentially in
    double, deterministic across engines and partitionings.

    Guards: zero-norm query -> all scores 0 (ref :46-48); zero-norm stored
    vector -> score 0 (ref :62-65).
    """
    q = _d(query)
    v = F.col(qvec) if isinstance(qvec, str) else qvec
    qn = l2_norm(q)
    # exact integer sum of squares of int8 values (fits easily in long)
    v_sq = F.aggregate(
        v, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long") * x.cast("long")
    )
    d = F.aggregate(
        F.zip_with(q, v, lambda x, y: x * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        F.when(qn < F.lit(ZERO_NORM_EPS), F.lit(0.0))
        .when(v_sq == F.lit(0), F.lit(0.0))
        .otherwise(d / (qn * F.sqrt(v_sq.cast("double"))))
    )
