"""Dynamic-batching knn server (serving.KnnServer): result parity with
knn_join, correct scatter under real thread concurrency, quantize parity
with the expression path, lifecycle."""

import threading

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def qtable(spark):
    from pythonvectordb_spark.operators.search import with_qvec
    from pythonvectordb_spark.sources.testdata import load_table

    t = with_qvec(load_table(spark, SF_SMOKE, "embeddings")).persist()
    t.count()
    yield t
    t.unpersist()


def _query_vecs(spark, n):
    from pythonvectordb_spark.sources.testdata import load_table

    rows = load_table(spark, SF_SMOKE, "embeddings").limit(n).collect()
    return [[float(x) for x in r.embedding] for r in rows]


def _knn_join_single(spark, qtable, vec, k=10):
    from pythonvectordb_spark.operators.search import knn_join

    q = spark.createDataFrame([(0, vec)], "query_id long, qvec_query array<double>")
    rows = knn_join(qtable, q, k=k).orderBy("rank").collect()
    return [(int(r.vec_id), float(r.score)) for r in rows]


def test_quantize_query_matches_expression(spark):
    from pythonvectordb_spark.functions.vector import l2_normalize, quantize
    from pythonvectordb_spark.serving import quantize_query

    vecs = _query_vecs(spark, 20) + [[0.0] * 64]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)],
                               "i long, v array<double>")
    expr = {r.i: list(r.qv) for r in
            df.select("i", quantize(l2_normalize("v")).alias("qv")).collect()}
    for i, v in enumerate(vecs):
        assert quantize_query(v) == expr[i], f"vector {i}"


def test_server_matches_knn_join(spark, qtable):
    from pythonvectordb_spark.serving import KnnServer

    vecs = _query_vecs(spark, 5)
    with KnnServer(qtable, k=10, max_wait_ms=1.0) as srv:
        for v in vecs:
            assert srv.search(v) == _knn_join_single(spark, qtable, v)


@pytest.mark.slow
def test_server_concurrent_scatter(spark, qtable):
    """8 threads x 4 queries each through one server: every caller gets
    ITS OWN query's results (no cross-wiring under coalescing), equal to
    the per-query knn_join answer."""
    from pythonvectordb_spark.serving import KnnServer

    vecs = _query_vecs(spark, 32)
    expected = [_knn_join_single(spark, qtable, v) for v in vecs]
    results = [None] * len(vecs)
    with KnnServer(qtable, k=10, max_batch=64, max_wait_ms=20.0) as srv:
        def worker(idx):
            results[idx] = srv.search(vecs[idx])

        threads = [threading.Thread(target=worker, args=(i,)) for i in range(len(vecs))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    for i, (got, want) in enumerate(zip(results, expected)):
        assert got == want, f"query {i}"


def test_server_coalesces_jobs(spark, qtable):
    """Concurrent callers inside one accumulation window must share a
    Spark job: 16 queries with a generous window should run in far fewer
    jobs than 16 (one batched job + the warm-up)."""
    from pythonvectordb_spark.serving import KnnServer

    vecs = _query_vecs(spark, 16)
    tracker = spark.sparkContext.statusTracker()
    with KnnServer(qtable, k=5, max_batch=64, max_wait_ms=150.0) as srv:
        srv.search(vecs[0])  # warm (its own batch)
        before = len(tracker.getJobIdsForGroup())
        barrier = threading.Barrier(8)

        def worker(idx):
            barrier.wait()
            srv.search(vecs[idx])

        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        n_jobs = len(tracker.getJobIdsForGroup()) - before
    # one coalesced batch = 2 jobs (mapInArrow scan + window collect may
    # fuse to 1-2 jobs depending on AQE); 8 uncoalesced singles would be >=8
    assert n_jobs <= 6, f"expected coalescing, saw {n_jobs} jobs for 8 queries"


def test_server_leaves_no_broadcast_files(spark, qtable):
    """Each request's query matrix ships in the scan's closure, not in an
    explicit broadcast, so requests leave no file in the driver's temp
    dir."""
    import os

    from pythonvectordb_spark.serving import KnnServer

    temp_dir = spark.sparkContext._temp_dir
    vecs = _query_vecs(spark, 6)
    before = set(os.listdir(temp_dir))
    with KnnServer(qtable, k=5, max_wait_ms=1.0) as srv:
        for v in vecs:
            assert len(srv.search(v)) == 5
    assert set(os.listdir(temp_dir)) - before == set()


def test_server_scans_small_table_in_one_task(spark, qtable):
    """The fixture table is far below ``SERVE_ROWS_PER_TASK`` rows, so a
    single query and a full ``max_batch`` of queries both scan it in one
    Python task, however many partitions the cached table has."""
    from pythonvectordb_spark.serving import KnnServer

    table = qtable.repartition(spark.sparkContext.defaultParallelism)
    with KnnServer(table, k=3) as srv:
        assert srv._scan_table(1).rdd.getNumPartitions() == 1
        assert srv._scan_table(1024).rdd.getNumPartitions() == 1


def test_server_scan_tasks_follow_row_count(spark, qtable, monkeypatch):
    """With the rows-per-task gate lowered, a request plans
    min(defaultParallelism, ceil(rows x (1 + (q - 1) / SERVE_QUERIES_PER_ROW)
    / SERVE_ROWS_PER_TASK)) scan tasks for q queries (coalesce never adds
    any), and single and batched requests still answer like
    ``knn_join``."""
    import math

    from pythonvectordb_spark import serving

    cores = spark.sparkContext.defaultParallelism
    table = qtable.repartition(2 * cores)
    rows = table.count()
    vecs = _query_vecs(spark, 3)
    for per_task in (rows, math.ceil(rows / 2), math.ceil(rows / (2 * cores)), 1):
        monkeypatch.setattr(serving, "SERVE_ROWS_PER_TASK", per_task)
        with serving.KnnServer(table, k=10, max_wait_ms=1.0) as srv:
            want = min(cores, math.ceil(rows / per_task))
            assert srv._scan_table(1).rdd.getNumPartitions() == want, per_task
            if per_task == 1:
                assert srv.search(vecs[0]) == _knn_join_single(spark, qtable, vecs[0])
    # a batch of 1 + 2 x SERVE_QUERIES_PER_ROW queries weighs each row 3x
    monkeypatch.setattr(serving, "SERVE_ROWS_PER_TASK", rows)
    with serving.KnnServer(table, k=10) as srv:
        batch = 1 + 2 * serving.SERVE_QUERIES_PER_ROW
        assert srv._scan_table(batch).rdd.getNumPartitions() == min(cores, 3)
        monkeypatch.setattr(serving, "SERVE_QUERIES_PER_ROW", 1)
        assert srv._scan_table(len(vecs)).rdd.getNumPartitions() == min(cores, 3)
        got = srv._execute([serving.quantize_query(v) for v in vecs])
        assert [got[i] for i in range(len(vecs))] == [
            _knn_join_single(spark, qtable, v) for v in vecs
        ]


def test_server_lifecycle(qtable):
    from pythonvectordb_spark.serving import KnnServer

    srv = KnnServer(qtable, k=3)
    srv.close()
    srv.close()  # idempotent
    with pytest.raises(RuntimeError):
        srv.search([0.0] * 64)
