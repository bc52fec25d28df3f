"""Skew salting: a salted join must return the plain join's rows."""

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_salted_join_matches_plain_join(spark):
    from pythonvectordb_spark.sources.bucketing import salted_join
    from pythonvectordb_spark.sources.testdata import load_table

    lineitem = load_table(spark, SF_SMOKE, "lineitem").select(
        F.col("l_orderkey").alias("key"), "l_quantity"
    )
    orders = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("key"), "o_orderpriority"
    )
    salted = salted_join(lineitem, orders, "key", salt=4)
    plain = lineitem.join(orders, "key")
    a = sorted(tuple(r) for r in salted.collect())
    b = sorted(tuple(r) for r in plain.collect())
    assert a == b
