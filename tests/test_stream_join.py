"""Stream-stream interval join must produce exactly the batch twin's rows
(complete equality on sorted tuples, sf0.001 events)."""

import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture()
def tmpdirs(tmp_path):
    d = {"p": str(tmp_path / "p"), "c": str(tmp_path / "c"), "chk": str(tmp_path / "chk")}
    yield d
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_stream_stream_interval_join_matches_batch(spark, tmpdirs):
    from pythonvectordb_spark.sources.testdata import load_table
    from pythonvectordb_spark.streaming.joins import purchase_click_interval_join

    ev = load_table(spark, SF_SMOKE, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")

    batch = purchase_click_interval_join(purchases, clicks).collect()
    expected = sorted(tuple(r) for r in batch)
    assert expected, "batch twin produced no rows — fixture regressed"

    purchases.write.parquet(tmpdirs["p"])
    clicks.write.parquet(tmpdirs["c"])
    ps = spark.readStream.schema(purchases.schema).parquet(tmpdirs["p"])
    cs = spark.readStream.schema(clicks.schema).parquet(tmpdirs["c"])
    joined = purchase_click_interval_join(ps, cs)
    assert joined.isStreaming

    q = (
        joined.writeStream.format("memory")
        .queryName("sj_out")
        .option("checkpointLocation", tmpdirs["chk"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(tuple(r) for r in spark.table("sj_out").collect())
    assert got == expected
