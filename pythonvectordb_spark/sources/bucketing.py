"""Key salting for skewed joins (skew mitigation when AQE's runtime
splitting isn't enough).

Salting explodes the hot side's key space by a salt factor and
replicates the other side per salt value; the shuffle then spreads a hot
key over ``salt`` reducers. Used when one key dominates (power-law user
ids, null keys): AQE's skew join splits oversized partitions, but
salting also fixes single-key hotspots inside one partition.

Co-locating recurring joins needs no helper here: Spark's own
``DataFrameWriter.bucketBy(...).sortBy(...).saveAsTable(...)`` on both
sides lets Catalyst plan the join with no Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with salted keys: left gets a random salt in [0, salt),
    right is replicated once per salt value; joining on (key, salt)
    spreads each hot key across ``salt`` partitions.

    Row-level results are identical to ``left.join(right, key, how)`` for
    inner/left joins on a many-to-one right side (the usual skewed-fact ⋈
    dimension shape).
    """
    salted_l = left.withColumn("_salt", (F.rand(seed=42) * salt).cast("int"))
    salts = left.sparkSession.range(salt).select(F.col("id").cast("int").alias("_salt"))
    salted_r = right.crossJoin(F.broadcast(salts))
    out = salted_l.join(salted_r, [key, "_salt"], how)
    return out.drop("_salt")
