"""The incrementally-maintained aggregate view must equal the batch
aggregate after initial build, stay unchanged on a no-new-data restart,
and fold newly arrived files into the same totals."""

import os
import shutil

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _batch_totals(df):
    return {
        r["user_id"]: (r["n_events"], r["value_cents"])
        for r in df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias(
                "value_cents"
            ),
        )
        .collect()
    }


def _view_totals(spark, path):
    return {
        r["user_id"]: (r["n_events"], r["value_cents"])
        for r in spark.read.parquet(path).collect()
    }


def test_matview_incremental_merge(spark, tmp_path):
    from pythonvectordb_spark.sources.testdata import load_table
    from pythonvectordb_spark.streaming.matview import start_user_spend_matview

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "view")
    chk = str(tmp_path / "chk")

    ev = load_table(spark, SF_SMOKE, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.write.parquet(src)

    def run():
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = start_user_spend_matview(stream, tgt, chk)
        q.awaitTermination(180)

    run()
    assert _view_totals(spark, tgt) == _batch_totals(first)

    # restart with the same checkpoint and no new data: view unchanged
    run()
    assert _view_totals(spark, tgt) == _batch_totals(first)

    # new files arrive: the merge folds them into the same totals a
    # from-scratch batch aggregate produces
    second.write.mode("append").parquet(src)
    run()
    assert _view_totals(spark, tgt) == _batch_totals(ev)

    shutil.rmtree(tmp_path, ignore_errors=True)


def test_matview_unreadable_view_fails_the_batch(spark, tmp_path):
    """A view dir that exists but can't be read is not "no view yet": the
    batch fails and leaves the dir as it was, instead of replacing the
    view with that one batch's delta."""
    from pythonvectordb_spark.sources.testdata import load_table
    from pythonvectordb_spark.streaming.matview import start_user_spend_matview

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "view")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.write.parquet(src)
    os.makedirs(tgt)
    bad = os.path.join(tgt, "part-00000.parquet")
    with open(bad, "wb") as f:
        f.write(b"not a parquet file")

    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = start_user_spend_matview(stream, tgt, str(tmp_path / "chk"))
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(180)
    assert os.listdir(tgt) == ["part-00000.parquet"]
    with open(bad, "rb") as f:
        assert f.read() == b"not a parquet file"
