"""Structured Streaming ingest: the streaming twin of the batch write path
(reference add_vectors, pythonvectordb.py:256-325; SURVEY.md §2.10).

Shape: ``readStream`` (file/kafka source) -> per-microbatch
validate -> normalize (K2) -> quantize (K3) -> append to the snapshot
table via ``foreachBatch``. foreachBatch is the right tool because the
dup-guard is a join against the *existing* table state — a batch-side
operation Structured Streaming can't express natively.

Scale: each microbatch is one bounded batch job (same operators as batch
ingest); the sink appends parquet partitions, so downstream readers see
snapshot-consistent data. Exactly-once comes from the checkpoint +
idempotent dedup guard (re-processed batches anti-join away).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from pythonvectordb_spark.functions.vector import l2_normalize, quantize


def read_existing(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet frame at ``path``, or None iff the path doesn't exist
    yet. Only the missing-path case means "first batch": any other read
    failure (corrupt footer, permissions, transient FS error) must fail
    the batch so the checkpoint retries it. Swallowing it would skip a
    sink's dup-guard or dedup gate, or rebuild a view from one batch,
    permanently. Every streaming sink that reads its own target goes
    through here."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        # match the structured error class, not the message text, which
        # is format-dependent across Spark versions
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None


def start_vector_ingest(
    stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Start the ingest query: per-batch K2+K3 + idempotent dup-guard
    append into a parquet snapshot directory."""

    def ingest_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        prepared = batch.withColumn("qvec", quantize(l2_normalize(vec_col)))
        existing = read_existing(spark, target_dir)
        if existing is not None:
            prepared = prepared.join(existing.select(id_col), id_col, "left_anti")
        prepared.write.mode("append").parquet(target_dir)

    return (
        stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_indexed_ingest(
    stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Ingest-time INDEX maintenance: each micro-batch is normalized,
    quantized, assigned its IVF cluster, optionally PQ-encoded, and
    appended into a ``cluster_id``-partitioned parquet layout — the
    write-side half of `indexing.ann_ivf_search_indexed`'s read-side
    partition pruning.

    This is the 100 TB serving posture: index work happens ONCE per
    vector at ingest (cluster assignment = one distance row per
    centroid; PQ code = one byte per subspace via the Arrow kernel,
    bit-equal to the expression/oracle), so a query probing n of K
    clusters never reads — not "reads and filters", never READS —
    (K-n)/K of the table, and ADC scans touch one-byte codes instead of
    float vectors. The batch twin is ``indexing.build_ivf_index``; the
    same exact-id replay guard as ``start_vector_ingest`` makes
    re-delivered batches idempotent."""
    from pythonvectordb_spark.operators.search import ivf_cluster_id, pq_code_arrow

    def index_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        prepared = (
            batch.withColumn("qvec", quantize(l2_normalize(vec_col)))
            .withColumn("cluster_id", ivf_cluster_id(vec_col, centroids))
        )
        if codebooks is not None:
            prepared = prepared.withColumn(
                "pq_code", pq_code_arrow(vec_col, codebooks)
            )
        existing = read_existing(spark, target_dir)
        if existing is not None:
            prepared = prepared.join(existing.select(id_col), id_col, "left_anti")
        prepared.write.mode("append").partitionBy("cluster_id").parquet(target_dir)

    return (
        stream.writeStream.foreachBatch(index_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
