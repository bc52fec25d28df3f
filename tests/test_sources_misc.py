"""Source-format breadth (CSV/JSON/ORC via Spark readers — free per
SURVEY §2.2), partition pruning, and shard assignment."""

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_csv_json_roundtrip(spark, tmp_path):
    from pythonvectordb_spark.sources.testdata import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    csv_p, json_p = str(tmp_path / "c"), str(tmp_path / "j")
    docs.write.option("header", True).csv(csv_p)
    docs.write.json(json_p)
    back_csv = spark.read.option("header", True).option("inferSchema", True).csv(csv_p)
    back_json = spark.read.json(json_p)
    assert back_csv.count() == docs.count()
    assert back_json.count() == docs.count()
    a = sorted(r.text for r in docs.collect())
    assert sorted(r.text for r in back_csv.collect()) == a
    assert sorted(r.text for r in back_json.collect()) == a


def test_date_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style date partitioning: a filter on the partition column must
    show up as PartitionFilters (only matching directories scanned) and
    return the same rows as an unpartitioned filter."""
    from pythonvectordb_spark.sources.testdata import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    p = str(tmp_path / "events_by_date")
    ev.withColumn("event_date", F.to_date("ts")).write.partitionBy(
        "event_date"
    ).parquet(p)

    back = spark.read.parquet(p)
    one_day = back.filter(F.col("event_date") == "2024-01-02")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "event_date" in plan.split("PartitionFilters")[1][:200]

    expected = ev.filter(F.to_date("ts") == "2024-01-02").count()
    assert expected > 0
    assert one_day.count() == expected


def test_orc_roundtrip(spark, tmp_path):
    """ORC source/sink roundtrip (columnar alternative to parquet; same
    DataFrame surface)."""
    from pythonvectordb_spark.sources.testdata import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    p = str(tmp_path / "docs_orc")
    docs.write.orc(p)
    back = spark.read.orc(p)
    assert back.count() == docs.count()
    assert sorted(r.text for r in back.collect()) == sorted(
        r.text for r in docs.collect()
    )


def test_shard_uniformity_matches_manual_md5(spark):
    """The audit's shard assignment equals a hand-computed md5 mod 16
    on a tiny id set, and a uniform assignment gives chisq ~ small."""
    import hashlib

    from pythonvectordb_spark.operators.sketch import shard_uniformity

    ids = list(range(64))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    (r,) = shard_uniformity(df, n_shards=16).collect()
    # manual: first 8 hex chars of md5(str(id)) as int, mod 16
    manual = {}
    for i in ids:
        s = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 16
        manual[s] = manual.get(s, 0) + 1
    n = len(ids)
    so2 = sum(c * c for c in manual.values())
    assert r["n_rows"] == n and r["n_shards_hit"] == len(manual)
    assert r["chisq"] == round((16 * so2 - n * n) / n, 6)
    assert r["max_share"] == round(max(manual.values()) / n, 9)
