"""The streaming near-dup gate must drop exactly what its batch twin
(``incremental_minhash_dedup`` against the accumulated corpus) flags."""


def test_stream_dedup_gate_blocks_corpus_near_dups(spark, tmp_path):
    """Two sequential micro-batches through the gate: batch 2's exact
    copy and near-copy of batch-1 docs must be dropped; its novel doc
    must land. The drop set must equal the batch twin
    (incremental_minhash_dedup of batch 2 vs the corpus after batch 1)."""
    from pythonvectordb_spark.operators.dedup import incremental_minhash_dedup
    from pythonvectordb_spark.streaming.curation import start_dedup_gate

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    b1 = spark.createDataFrame(
        [(1, base), (2, "one two three four five six seven eight nine ten " * 3)],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [
            (10, base),                                   # exact copy of doc 1
            (11, base + "omega"),                         # near copy (j ~ 0.9)
            (12, "red orange yellow green blue indigo violet pink " * 4),  # novel
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "gate_src")
    tgt = str(tmp_path / "gate_tgt")
    chk = str(tmp_path / "gate_chk")

    b1.coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_gate(
        spark.readStream.schema(b1.schema).parquet(src), tgt, chk, threshold=0.8
    )
    q.awaitTermination(180)
    corpus_after_b1 = spark.read.parquet(tgt)
    assert {r.doc_id for r in corpus_after_b1.collect()} == {1, 2}

    expected_drops = {
        r.batch_id
        for r in incremental_minhash_dedup(corpus_after_b1, b2, threshold=0.8).collect()
    }
    assert expected_drops == {10, 11}

    b2.coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_gate(
        spark.readStream.schema(b1.schema).parquet(src), tgt, chk, threshold=0.8
    )
    q.awaitTermination(180)
    assert {r.doc_id for r in spark.read.parquet(tgt).collect()} == {1, 2, 12}
