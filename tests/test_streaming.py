"""Structured Streaming: ingest (foreachBatch append + idempotent dedup
guard) and watermarked windowed aggregates, checked against their batch
twins on the same rows."""

import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture()
def tmpdirs(tmp_path):
    d = {
        "src": str(tmp_path / "src"),
        "tgt": str(tmp_path / "tgt"),
        "chk": str(tmp_path / "chk"),
        "chk2": str(tmp_path / "chk2"),
    }
    yield d
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_stream_vector_ingest_idempotent(spark, tmpdirs):
    from pythonvectordb_spark.sources.testdata import load_table
    from pythonvectordb_spark.streaming.ingest import start_vector_ingest

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    emb.repartition(3).write.parquet(tmpdirs["src"])
    schema = emb.schema

    stream = spark.readStream.schema(schema).parquet(tmpdirs["src"])
    assert stream.isStreaming
    q = start_vector_ingest(stream, tmpdirs["tgt"], tmpdirs["chk"])
    q.awaitTermination(120)

    out = spark.read.parquet(tmpdirs["tgt"])
    assert out.count() == n
    assert out.select("vec_id").distinct().count() == n
    assert "qvec" in out.columns  # K2+K3 applied in-stream

    # replay the same source with a fresh checkpoint: the anti-join dup
    # guard must keep ingest idempotent (no duplicate ids appended)
    q2 = start_vector_ingest(
        spark.readStream.schema(schema).parquet(tmpdirs["src"]),
        tmpdirs["tgt"],
        tmpdirs["chk2"],
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(tmpdirs["tgt"]).count() == n


def test_stream_tumbling_matches_batch(spark, tmpdirs):
    from pythonvectordb_spark.operators.relational import events_tumbling
    from pythonvectordb_spark.sources.testdata import load_table
    from pythonvectordb_spark.streaming.windows import events_stream_tumbling

    events = load_table(spark, SF_SMOKE, "events")
    events.write.parquet(tmpdirs["src"])

    stream = spark.readStream.schema(events.schema).parquet(tmpdirs["src"])
    agg = events_stream_tumbling(stream, minutes=10)
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("complete")
        .option("checkpointLocation", tmpdirs["chk"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {tuple(r) for r in spark.sql("SELECT * FROM tumbling_out").collect()}
    want = {tuple(r) for r in events_tumbling(events, minutes=10).collect()}
    assert got == want


def test_stream_indexed_ingest_matches_batch_index(spark, tmpdirs):
    """Ingest-time IVF+PQ indexing: the streamed, cluster-partitioned
    table must carry the same cluster assignments and PQ codes the batch
    index path produces, replay must be idempotent, and the hive layout
    must actually partition by cluster."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark import fixtures as FX
    from pythonvectordb_spark.operators.search import ivf_cluster_id, pq_code_expr
    from pythonvectordb_spark.sources.testdata import load_table
    from pythonvectordb_spark.streaming.ingest import start_indexed_ingest

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    emb.repartition(2).write.parquet(tmpdirs["src"])

    q = start_indexed_ingest(
        spark.readStream.schema(emb.schema).parquet(tmpdirs["src"]),
        tmpdirs["tgt"],
        tmpdirs["chk"],
        FX.CENTROIDS,
        FX.PQ_CODEBOOKS,
    )
    q.awaitTermination(120)

    out = spark.read.parquet(tmpdirs["tgt"])
    assert out.count() == n
    # batch twin: same assignment + codes (expression path, oracle order)
    expected = emb.select(
        "vec_id",
        ivf_cluster_id("embedding", FX.CENTROIDS).alias("cluster_id"),
        pq_code_expr("embedding", FX.PQ_CODEBOOKS).alias("pq_code"),
    )
    got = out.select("vec_id", "cluster_id", "pq_code")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0

    # replay with a fresh checkpoint: exact-id guard keeps it idempotent
    q2 = start_indexed_ingest(
        spark.readStream.schema(emb.schema).parquet(tmpdirs["src"]),
        tmpdirs["tgt"],
        tmpdirs["chk2"],
        FX.CENTROIDS,
        FX.PQ_CODEBOOKS,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(tmpdirs["tgt"]).count() == n

    # the layout is really hive-partitioned: a cluster filter prunes to
    # that cluster's rows without scanning the rest
    one = out.filter(F.col("cluster_id") == 0).count()
    byhand = expected.filter(F.col("cluster_id") == 0).count()
    assert one == byhand
