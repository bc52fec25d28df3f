"""Dynamic-batching knn server (serving.KnnServer): result parity with
knn_join, correct scatter under real thread concurrency, quantize parity
with the expression path, lifecycle."""

import sys
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


def test_server_plans_its_scan_once(spark, qtable, monkeypatch):
    """After the first request, single requests build no new scan: the
    planned frame is collected again with the request's queries in a
    job-local property, and the answers still equal ``knn_join``'s."""
    from pyspark.sql import DataFrame

    from pythonvectordb_spark.serving import KnnServer

    vecs = _query_vecs(spark, 4)
    want = [_knn_join_single(spark, qtable, v) for v in vecs]
    calls = []
    map_in_arrow = DataFrame.mapInArrow
    with KnnServer(qtable, k=10, max_wait_ms=1.0) as srv:
        srv.search(vecs[0])  # warm: plans the one-task scan
        monkeypatch.setattr(
            DataFrame, "mapInArrow", lambda *a, **kw: calls.append(1) or map_in_arrow(*a, **kw)
        )
        assert [srv.search(v) for v in vecs] == want
    assert calls == []


def test_concurrent_executes_keep_their_queries(spark, qtable):
    """Six threads run ``_execute`` at once on one planned scan, each
    with its own query: every thread gets its own answer, and its
    job-local query property is cleared after a normal return and after
    a failed job."""
    from pyspark.errors import PythonException

    from pythonvectordb_spark.operators.search import QUERIES_PROPERTY
    from pythonvectordb_spark.serving import KnnServer, quantize_query

    sc = spark.sparkContext
    vecs = _query_vecs(spark, 6)
    want = [_knn_join_single(spark, qtable, v) for v in vecs]
    got, after_ok, after_fail = [None] * 6, [0] * 6, [0] * 6
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with KnnServer(qtable, k=10) as srv:
            srv._execute([quantize_query(vecs[0])])  # plan before the race
            barrier = threading.Barrier(6)

            def worker(i):
                barrier.wait()
                got[i] = srv._execute([quantize_query(vecs[i])])[0]
                after_ok[i] = sc.getLocalProperty(QUERIES_PROPERTY)
                with pytest.raises(PythonException):  # 3-dim query, 64-dim table
                    srv._execute([[1, 2, 3]])
                after_fail[i] = sc.getLocalProperty(QUERIES_PROPERTY)

            threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(120)
                assert not t.is_alive()
    finally:
        sys.setswitchinterval(switch)
    assert got == want
    assert after_ok == [None] * 6 and after_fail == [None] * 6


def test_server_scan_without_queries_raises(qtable):
    """The server's planned scan collected with no query property fails
    with the kernel's ``ValueError`` naming the property."""
    from pyspark.errors import PythonException

    from pythonvectordb_spark.operators.search import QUERIES_PROPERTY
    from pythonvectordb_spark.serving import KnnServer

    with KnnServer(qtable, k=3) as srv:
        with pytest.raises(PythonException, match=f"ValueError: int8_cosine_scan: .*{QUERIES_PROPERTY}"):
            srv._scoring(1).collect()


def test_server_forms_batch_when_a_slot_frees(qtable):
    """With the one job slot held, queries arriving far apart (each
    beyond the accumulation window) wait together and run as one batch
    once the slot frees."""
    import time

    from pythonvectordb_spark.serving import KnnServer

    release, entered, batches = threading.Event(), threading.Event(), []

    def execute(qvs):
        batches.append(len(qvs))
        entered.set()
        release.wait()
        return {i: [(i, 1.0)] for i in range(len(qvs))}

    with KnnServer(qtable, k=3, max_wait_ms=1.0, max_inflight=1) as srv:
        srv._execute = execute
        threads = [threading.Thread(target=srv.search, args=([1.0] * 64,)) for _ in range(4)]
        threads[0].start()
        assert entered.wait(10)
        for t in threads[1:]:
            time.sleep(0.05)
            t.start()
        deadline = time.monotonic() + 10
        while len(srv._pending) < 3 and time.monotonic() < deadline:
            time.sleep(0.01)
        release.set()
        for t in threads:
            t.join(10)
            assert not t.is_alive()
    assert batches == [1, 3]


def test_server_stats(spark, qtable):
    """``stats()`` reports driver-side percentiles over the last
    MAX_LATENCIES answered requests and runs no Spark job."""
    import time

    from pythonvectordb_spark.serving import MAX_LATENCIES, KnnServer

    tracker = spark.sparkContext.statusTracker()

    def execute(qvs):
        time.sleep(0.02)
        return {i: [] for i in range(len(qvs))}

    with KnnServer(qtable, k=3, max_wait_ms=1.0) as srv:
        srv._execute = execute
        empty = srv.stats()
        assert empty["requests"] == 0 and empty["e2e_ms_p99"] == 0.0
        for _ in range(5):
            assert srv.search([1.0] * 64) == []
        jobs = len(tracker.getJobIdsForGroup())
        st = srv.stats()
        assert len(tracker.getJobIdsForGroup()) == jobs
        assert st["requests"] == 5 and st["mean_batch"] == 1.0
        assert 20.0 <= st["job_ms_p50"] <= st["job_ms_p95"] <= st["job_ms_p99"]
        assert st["e2e_ms_p50"] >= st["job_ms_p50"] + st["queue_wait_ms_p50"] > 20.0
        # eight clients at once: no answered request is lost from the
        # ring, and the ring keeps only the last MAX_LATENCIES
        srv._execute = lambda qvs: {i: [] for i in range(len(qvs))}
        clients = [
            threading.Thread(target=lambda: [srv.search([1.0] * 64) for _ in range(10)])
            for _ in range(8)
        ]
        for t in clients:
            t.start()
        for t in clients:
            t.join(30)
            assert not t.is_alive()
        assert srv.stats()["requests"] == 85
        for _ in range(MAX_LATENCIES):
            srv.search([1.0] * 64)
        assert srv.stats()["requests"] == MAX_LATENCIES


def test_wrong_dimension_query_fails_alone(spark, qtable):
    """A query of the wrong length raises ``ValueError`` in its own
    caller; the queries that arrive with it still get their answers."""
    from pythonvectordb_spark.serving import KnnServer

    vecs = _query_vecs(spark, 3)
    want = [_knn_join_single(spark, qtable, v) for v in vecs]
    got, errors = [None] * 4, [None] * 4
    with KnnServer(qtable, k=10, max_wait_ms=50.0) as srv:
        barrier = threading.Barrier(4)

        def worker(i):
            barrier.wait()
            try:
                got[i] = srv.search(vecs[i] if i < 3 else [1.0] * 63)
            except ValueError as e:
                errors[i] = e

        threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
            assert not t.is_alive()
    assert got[:3] == want and errors[:3] == [None] * 3
    assert "length 63" in str(errors[3])


def test_server_rejects_mixed_dimension_table(spark):
    from pythonvectordb_spark.serving import KnnServer

    table = spark.createDataFrame([(1, [1, 2]), (2, [1, 2, 3])], "vec_id long, qvec array<tinyint>")
    with pytest.raises(ValueError, match="lengths 2 to 3"):
        KnnServer(table, k=1)
