"""Streaming corpus curation: the ingest-time near-duplicate gate.

``start_dedup_gate`` dedups every arriving micro-batch against the
accumulated corpus before appending it. Its per-batch body is the pure
``gate_batch``, which the registry's ``dedup_gate_twin`` folds over a
fixed batch sequence so the DuckDB oracle witnesses the streaming
semantics; tests/test_stream_curation.py pins the streaming run.

The stateless batch curation operators (``operators/curation.py``,
``operators/textops.chunk_documents``) run on a streaming DataFrame
unchanged and need no wrapper here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pythonvectordb_spark.streaming.ingest import read_existing


def gate_batch(
    corpus: DataFrame | None,
    batch: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_side: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """One step of the near-dup ingest gate as a pure batch function:
    the ``batch`` rows that clear the gate against ``corpus`` (None =
    empty corpus — everything survives).

    Per step: exact-id anti-join (doubles as the foreachBatch replay
    guard), MinHash band-bucket candidates batch-vs-corpus, exact
    Jaccard verify, drop batch docs at/over ``threshold``. This is the
    exact body `start_dedup_gate` runs per micro-batch — factored out so
    the registry's `dedup_gate_twin` can fold a deterministic batch
    sequence through it and the driver's DuckDB oracle can witness the
    streaming semantics (round-2 VERDICT item 5).

    ``corpus_side``: a precomputed ``dedup.minhash_side`` of ``corpus``
    (the maintained side-table path); omitted, the corpus is re-signed.
    """
    from pythonvectordb_spark.operators.dedup import incremental_minhash_dedup

    b = batch.dropDuplicates([id_col])
    if corpus is None:
        return b
    b = b.join(corpus.select(id_col), id_col, "left_anti")
    dups = incremental_minhash_dedup(
        corpus,
        b,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
        corpus_side=corpus_side,
    )
    return b.join(
        dups.select(F.col("batch_id").alias(id_col)).distinct(),
        id_col,
        "left_anti",
    )


def start_dedup_gate(
    stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Ingest-time near-duplicate gate: every arriving micro-batch is
    deduped against the ACCUMULATED corpus before it is appended — the
    streaming lift of ``dedup.incremental_minhash_dedup``, and the
    missing piece between "dedup the corpus nightly" and "never let the
    duplicate in".

    Per batch: (1) exact-id anti-join against the corpus — this is also
    the crash-replay guard (a batch re-delivered after a commit-window
    crash finds its own rows already present and re-appends nothing);
    (2) MinHash band-bucket collision candidates batch-vs-corpus, exact
    Jaccard verify, drop batch docs clearing ``threshold``; (3) append
    survivors. Within-batch near-dup pairs are deliberately NOT resolved
    here (both arrive together and both survive; the nightly
    ``minhash_lsh_pairs`` + ``resolve_duplicates`` pass owns intra-batch
    ties) — the gate's contract is "nothing similar to what the corpus
    already has".

    At scale the corpus side's signatures/band table would be maintained
    as a bucketed side table updated by the same foreachBatch (compute
    once per batch, not per comparison); here the corpus is re-signed
    per batch, which is correct and keeps the example self-contained.
    """
    def gate(batch: DataFrame, batch_id: int) -> None:
        corpus = read_existing(batch.sparkSession, target_dir)
        gate_batch(
            corpus, batch, threshold=threshold, text_col=text_col, id_col=id_col
        ).write.mode("append").parquet(target_dir)

    return (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
