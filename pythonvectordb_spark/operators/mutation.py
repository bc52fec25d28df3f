"""Mutation algebra: the reference's write path re-expressed functionally
(SURVEY.md §2.7). No positional state, no lock — immutable snapshots.

reference                           spark
---------                           -----
add_vectors (pythonvectordb.py:     validate -> normalize -> quantize ->
  256-325)                          anti-join dup guard -> unionByName
delete_vector (:425-463)            left_anti join on id
_compact_storage (:465-510)         snapshot rewrite (sources.snapshot)

The reference's positional-index bugs (SURVEY §2.1 note B: wrong IDs /
IndexError after delete, auto-ID collisions) are unrepresentable here —
identity is by id value only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pythonvectordb_spark.functions.vector import l2_normalize, quantize


def add_vectors(
    table: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_duplicate: str = "error",
) -> DataFrame:
    """Append a batch of raw vectors (reference add_vectors semantics).

    The batch is normalized (K2) + quantized (K3); duplicate ids versus the
    existing table follow ``on_duplicate``:
      * 'error'  — raise, like the reference (pythonvectordb.py:300-303)
      * 'ignore' — drop colliding batch rows (anti-join), idempotent ingest
    The dup probe is a broadcast-able semi-join on id only (column-pruned).
    """
    prepared = batch.withColumn("qvec", quantize(l2_normalize(vec_col)))
    if on_duplicate == "error":
        n_dup = prepared.join(table.select(id_col), id_col, "left_semi").count()
        if n_dup:
            raise ValueError(f"{n_dup} ids already exist")
        fresh = prepared
    elif on_duplicate == "ignore":
        fresh = prepared.join(table.select(id_col), id_col, "left_anti")
    else:
        raise ValueError(f"bad on_duplicate {on_duplicate!r}")
    return table.unionByName(fresh.select(*table.columns))


def delete_vectors(table: DataFrame, ids: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Delete by id set: one anti-join (reference delete_vector,
    pythonvectordb.py:425-463, minus the tombstone machinery).

    ``ids`` is a one-column DataFrame; broadcast when small. Unlike the
    reference there is no compaction debt — the result *is* compact.
    """
    return table.join(F.broadcast(ids.select(id_col)), id_col, "left_anti")


def upsert_vectors(
    table: DataFrame, batch: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Delete-then-insert upsert (not in the reference; natural extension)."""
    removed = table.join(batch.select(id_col), id_col, "left_anti")
    prepared = batch.withColumn("qvec", quantize(l2_normalize(vec_col)))
    return removed.unionByName(prepared.select(*table.columns))
