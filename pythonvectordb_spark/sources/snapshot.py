"""Vector-table snapshots: the Spark replacement for the reference's
``save``/``load`` npz persistence (pythonvectordb.py:557-646).

The reference compacts and writes one compressed ``.npz`` with vectors,
ids, and metadata (:572-582); ``load`` validates version/dim/shape
(:616-630). Here a snapshot is an immutable Parquet directory: schema
travels in the footer and, with dimension/version, in a
``_pvdb_meta.json`` sidecar, and "compaction" is simply the rewrite
itself (no tombstones — deletes are anti-joins, SURVEY.md §2.7). Like
the reference's header check, ``load_snapshot`` reads the sidecar and
runs no Spark job: the sidecar's schema spares the footer-inference job.

Scale: parquet + snappy, ``repartition`` before write keeps file counts
sane; at 100 TB the same code writes a partitioned table.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pythonvectordb_spark.functions.vector import l2_normalize, quantize
from pythonvectordb_spark.sources.testdata import _read_parquet

SNAPSHOT_VERSION = "1.0.0"  # mirrors reference __version__ (pythonvectordb.py:17)
META_FILE = "_pvdb_meta.json"


def build_vector_table(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Ingest pipeline: validate -> normalize (K2) -> quantize (K3).

    Mirrors the reference write path ``add_vectors`` (pythonvectordb.py:
    256-325): dimension/finiteness checks then normalize+quantize. The
    result carries both the raw float vector and the int8 ``qvec`` storage
    column (ArrayType(ByteType) = the reference's int8 matrix row).
    """
    norm = l2_normalize(vec_col)
    return df.withColumn("qvec", quantize(norm))


def validate_batch(df: DataFrame, dim: int, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Raise on bad input, like the reference's ingest guards.

    - dimension mismatch   (pythonvectordb.py:279-282)
    - NaN/Inf              (pythonvectordb.py:284-285)
    - duplicate ids        (pythonvectordb.py:296-303)
    Expressed as Spark aggregations (one job), not row loops.
    """
    v = F.col(vec_col)
    bad = df.select(
        F.sum(F.when(F.size(v) != dim, 1).otherwise(0)).alias("bad_dim"),
        F.sum(
            F.when(F.exists(v, lambda x: F.isnan(x) | (F.abs(x) == float("inf"))), 1).otherwise(0)
        ).alias("bad_finite"),
        (F.count(F.lit(1)) - F.countDistinct(F.col(id_col))).alias("dup_ids"),
    ).first()
    if bad.bad_dim:
        raise ValueError(f"{bad.bad_dim} rows with dimension != {dim}")
    if bad.bad_finite:
        raise ValueError(f"{bad.bad_finite} rows contain NaN/Inf")
    if bad.dup_ids:
        raise ValueError(f"{bad.dup_ids} duplicate ids in batch")
    return df


def save_snapshot(df: DataFrame, path: str, dim: int, num_files: int | None = None) -> None:
    """Write an immutable snapshot (reference ``save``, pythonvectordb.py:557-582)."""
    out = df.repartition(num_files) if num_files else df
    out.write.mode("overwrite").parquet(path)
    meta = {"version": SNAPSHOT_VERSION, "dimension": dim, "schema": df.schema.jsonValue()}
    with open(os.path.join(path, META_FILE), "w") as f:
        json.dump(meta, f)


def load_snapshot(spark: SparkSession, path: str, expected_dim: int | None = None) -> DataFrame:
    """Read + validate a snapshot (reference ``load``, pythonvectordb.py:584-646).

    Validation mirrors the reference's version/dimension checks (:616-630)
    as metadata, not a scan. The read takes its schema from the sidecar
    and runs no job; a snapshot whose sidecar predates the ``"schema"``
    key reads through ``_read_parquet``'s per-path memo instead.
    """
    meta_path = os.path.join(path, META_FILE)
    meta = {}
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("version") != SNAPSHOT_VERSION:
            raise ValueError(f"snapshot version {meta.get('version')} != {SNAPSHOT_VERSION}")
        if expected_dim is not None and meta.get("dimension") != expected_dim:
            raise ValueError(f"snapshot dimension {meta.get('dimension')} != {expected_dim}")
    schema = meta.get("schema")
    return _read_parquet(spark, path, schema=schema and StructType.fromJson(schema))
