"""Readers for the driver-generated parquet tables (TESTDATA.md).

At 100 TB these would be partitioned/bucketed tables behind a catalog;
here they are single parquet files per table. All access is via
``_read_parquet`` so Catalyst gets column pruning + predicate pushdown
into the scan for free, and a warm read runs no schema-inference job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# path -> ((st_mtime_ns, st_size, st_ino), inferred schema), one entry per path
_SCHEMAS: dict[str, tuple[tuple[int, int, int], StructType]] = {}


def _read_parquet(spark: SparkSession, *paths: str, schema: StructType | None = None) -> DataFrame:
    """The one parquet read of ``sources`` and ``registry``. A single local
    path's schema is inferred (one footer job) once per stamp
    ``(st_mtime_ns, st_size, st_ino)``, the stamp ``daemon`` keys its zip
    re-reads on; later reads, and reads given ``schema``, run no job. A
    path ``os.stat`` cannot see and a multi-path read infer every time.
    As with inference, every field reads back nullable."""
    if schema is None and len(paths) == 1:
        try:
            st = os.stat(paths[0])
        except OSError:  # a non-local URI
            st = None
        if st is not None:
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
            hit = _SCHEMAS.get(paths[0])
            if hit is None or hit[0] != stamp:
                hit = _SCHEMAS[paths[0]] = (stamp, spark.read.parquet(paths[0]).schema)
            schema = hit[1]
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table, with ``events.ts`` and timezone-naive columns as
    TIMESTAMP (LTZ); only the first read of a file version runs a job."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    # Queries parse timestamp literals and render dates in the SESSION
    # timezone; the DuckDB oracle is timezone-naive. Under an externally
    # created session (the driver's) a non-UTC zone would shift date
    # filters/formatting — pin UTC before any plan is built. Also apply
    # the engine's runtime-settable tuning (harmless if already set), and
    # nanosAsLong, which the events.ts read below needs before it plans.
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.shuffle.partitions", "32"),
        ("spark.sql.join.preferSortMergeJoin", "false"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        # events.ts has shipped as TIMESTAMP(NANOS) parquet in some driver
        # rounds, which Spark's reader rejects; with nanosAsLong (set above
        # and in session.get_spark) it arrives as a nanosecond long. Truncating to
        # microseconds via integer division matches DuckDB's ns->us
        # truncation exactly.
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Timezone-naive parquet timestamps (isAdjustedToUTC=false) arrive as
    # TIMESTAMP_NTZ under Spark 4's default inference. The engine's temporal
    # operators use instant-based functions (unix_micros, window ranges)
    # that require TIMESTAMP_LTZ; with the session pinned to UTC above, the
    # NTZ->LTZ cast reinterprets the same wall-clock as the same instant, so
    # this is a pure type normalization — values, and DuckDB oracle parity,
    # are unchanged.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df

