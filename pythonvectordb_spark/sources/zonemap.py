"""File-level zone maps: manifest-based data skipping over plain parquet
— the core trick of Iceberg/Delta file pruning, expressed with nothing
but Spark SQL and a stats table (no table format required).

``build_zone_map``
    One scan of the table grouped by ``input_file_name()``: per file,
    row count plus min/max for each requested column. The manifest is
    |files| rows — at 100 TB with 1 GB files that is ~100k rows, a
    driver-trivial table that itself persists as parquet next to the
    data and refreshes incrementally (append-only tables only add
    files; rewrite the affected rows after compaction).

``pruned_read``
    Turns a range predicate into the file list whose [min, max] zone
    intersects it, and reads ONLY those files — Spark's parquet reader
    accepts an explicit file list, so the skipped files are never
    opened, never footer-parsed, never scheduled. With a layout that
    clusters the column (ingest-time sort, Z-order, hive partitions),
    zones are narrow and the read fraction approaches
    selectivity x (1 + boundary files); with a random layout every zone
    spans the domain and pruning honestly degrades to a full scan —
    the manifest makes that measurable (`zone_selectivity`) BEFORE the
    scan runs.

Correctness does not depend on pruning: the original predicate is
re-applied after the file-list read, so a stale or coarse manifest can
only cost performance, never rows — same contract as
``layout.bloom_semi_join`` (prune with a superset, verify exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythonvectordb_spark.sources.testdata import _read_parquet

__all__ = ["build_zone_map", "zone_files_for_range", "pruned_read"]


def build_zone_map(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-file (file, n_rows, min_<c>, max_<c> ...) manifest via ONE
    grouped scan keyed on ``input_file_name()`` — map-side combined, the
    shuffle carries one row per file."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(F.input_file_name().alias("file")).agg(*aggs)


def zone_files_for_range(zone_map: DataFrame, col: str, lo, hi) -> list[str]:
    """Files whose [min, max] zone for ``col`` intersects [lo, hi] —
    the candidate superset (zone overlap can never miss a matching row).
    The manifest is |files| rows, so collecting the list is the same
    driver-side act as Spark listing a directory."""
    rows = (
        zone_map.filter(
            (F.col(f"max_{col}") >= F.lit(lo)) & (F.col(f"min_{col}") <= F.lit(hi))
        )
        .select("file")
        .collect()
    )
    return [r.file for r in rows]


def pruned_read(
    spark: SparkSession, zone_map: DataFrame, col: str, lo, hi
) -> DataFrame:
    """Read only the files whose zone intersects [lo, hi], then re-apply
    the exact predicate. Equal rows to the full-scan filter (pinned by
    test); unmatched files are never opened. Returns an empty-but-typed
    frame when no zone matches (schema recovered from ONE manifest file,
    not the full list); raises on an empty manifest — there is no schema
    to type an empty result with, and a zero-file zone map is a build
    error upstream, not a no-matches read."""
    files = zone_files_for_range(zone_map, col, lo, hi)
    if not files:
        # preserve the schema without touching any data file content;
        # one file is enough to read a parquet footer's schema
        first = zone_map.select("file").limit(1).collect()
        if not first:
            raise ValueError(
                "pruned_read: zone map has no files — build_zone_map saw an "
                "empty table; cannot derive a result schema"
            )
        return (
            _read_parquet(spark, first[0].file)
            .filter(F.lit(False))
            .filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
        )
    return _read_parquet(spark, *files).filter(
        (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    )
