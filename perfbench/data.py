"""Seeded inputs. Everything a workload feeds the program is drawn here
from the run's ``--seed``; the same seed gives the same bytes.

The pipeline tables copy the schema and value ranges of the repo's
sf0.01 test tables (TESTDATA.md) for the two tables its query mix
reads, so the registry queries and their DuckDB oracles run unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64  # the program's embedding dimension (fixtures.DIM)

# sf0.01 row counts of the tables the pipeline mix reads
PIPELINE_ROWS = {
    "events": 10_000,
    "lineitem": 60_000,
}


def unit_vectors(rng: np.random.Generator, n: int, dim: int = DIM) -> np.ndarray:
    """The reference's synthetic recipe: randn, then L2-normalize (f32)."""
    v = rng.standard_normal((n, dim)).astype(np.float32)
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def vector_frame(spark, ids: np.ndarray, vecs: np.ndarray):
    """A (vec_id long, embedding array<float>) DataFrame over the rows."""
    import pandas as pd

    pdf = pd.DataFrame({"vec_id": ids.astype(np.int64), "embedding": list(vecs)})
    return spark.createDataFrame(pdf, "vec_id long, embedding array<float>")


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(start_us + rng.integers(0, span_us, n, dtype=np.int64))
    kinds = np.array(["click", "signup", "error", "view", "purchase"])
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
            "event_type": pa.array(kinds[rng.integers(0, len(kinds), n)]),
            "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    day_us = 86_400 * 1_000_000
    d0 = 788_918_400 * 1_000_000  # 1995-01-01
    qty = rng.integers(1, 51, n).astype(np.float64)
    unit = np.round(rng.uniform(900.0, 2100.0, n), 2)
    flags = np.array(["A", "N", "R"])
    status = np.array(["F", "O"])
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, 15_000, n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, 2_000, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 100, n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * unit, 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(flags[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(status[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(
                d0 + rng.integers(0, 2500, n, dtype=np.int64) * day_us,
                type=pa.timestamp("us"),
            ),
        }
    )


def write_pipeline_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the pipeline mix's tables as ``<out_dir>/<name>.parquet``;
    returns the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {
        "events": _events,
        "lineitem": _lineitem,
    }
    for i, (name, n) in enumerate(sorted(PIPELINE_ROWS.items())):
        rng = np.random.default_rng([seed, i])
        pq.write_table(makers[name](rng, n), os.path.join(out_dir, f"{name}.parquet"))
    return dict(PIPELINE_ROWS)
