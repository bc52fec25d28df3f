"""Low-latency concurrent query serving: dynamic query coalescing.

The reference serves ~1,100 concurrent QPS because every ``search`` call
is an in-process NumPy matmul behind an RLock (benchmark_suite.py:133-162).
Spark's unit of execution is a JOB: on 4 local cores a single-query
request over 10k cached vectors (one ``collect`` of an already planned
one-task ``mapInArrow`` scan) takes ~110 ms, where building, analysing
and planning a new scan per request took ~150 ms; an empty one-task
Python job costs ~145-160 ms cold and a JVM-only one ~95-115 ms. The
server sizes each request's scan to the table's rows times the batch's
queries (``SERVE_ROWS_PER_TASK``, ``SERVE_QUERIES_PER_ROW``): one Python
task for a single query up to 12,500 rows, where the former 4-task
``mapInPandas`` scan took ~220 ms.
Issuing one job per single query from N client threads can never
approach that number (BENCH_r02
measured 10.9 qps on the reference's own concurrent section), while the
SAME engine sustains ~2,000 qps when queries arrive pre-batched.

:class:`KnnServer` closes that gap the way production model/vector
servers do (dynamic batching): client threads call :meth:`search` with a
single vector and block on a future; once one of ``max_inflight`` job
slots is free, a dispatcher thread coalesces every query that arrives
within a short window (or up to ``max_batch``) into ONE batched knn job
— the exact :func:`operators.search.knn_join` scoring kernel over the
shared cached table — then scatters the per-query top-k back to the
waiting callers. The scan is planned once per scan task count with no
query matrix in it; each job carries its batch's int8 queries in a
job-local property (``operators.search.QUERIES_PROPERTY``) that the
kernel reads in its tasks. Below capacity, per-query latency is bounded
by ``max_wait_ms`` + one batched-job time; under load a query also waits
for a free slot, and the batch it then joins grows instead of queueing
behind many small ones, so throughput approaches the batched-knn ceiling
as concurrency rises: the number of JOBS per second stays flat while the
queries per job grows. :meth:`KnnServer.stats` reports end-to-end,
queue-wait and job-time percentiles over the last requests.

Scale note: on a cluster the same object runs unchanged on the driver —
the table is a persisted DataFrame, each coalesced batch is one scan
job across the executors, with the batch's query matrix shipped in the
job's properties, which travel with every task. The coalescer is
driver-side state, which is exactly where Spark puts every other
scheduler decision; there is no per-query Python on the data path.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import Future
from typing import Sequence

from pyspark.sql import DataFrame


def quantize_query(vec: Sequence[float]) -> list[int]:
    """Driver-side K2+K3 (normalize then int8-quantize) of ONE query
    vector, bit-identical to the Spark expression path
    ``quantize(l2_normalize(col))``: the norm is a sequential
    left-associative double fold (the expressions' ``F.aggregate``
    order), division/multiplication are single IEEE double ops (same
    result in any engine), and the final cast truncates toward zero like
    Spark's double->tinyint. Lets the server skip a 2-job Spark round
    trip per coalesced batch just to quantize a handful of vectors."""
    import math

    ss = 0.0
    for x in vec:  # sequential fold, matching F.aggregate's order
        fx = float(x)
        ss = ss + fx * fx
    norm = math.sqrt(ss)
    if norm < 1e-10:  # ZERO_NORM_EPS: zero-norm rows stay zero
        return [0] * len(vec)
    out = []
    for x in vec:
        v = (float(x) / norm) * 127.0
        v = max(-128.0, min(127.0, v))
        out.append(int(v))  # int() truncates toward zero, like the cast
    return out


# Rows per scan task of a single-query request. Each Python task costs
# tens of ms of set-up and scheduling whatever its size, so a table is
# split only where scoring its rows takes longer than that. Measured on
# 4 cores (64-dim vectors, one query): 1 task was fastest at 10k rows,
# 2 tasks at 15k-25k, and 4 tasks at 100k and 400k rows.
SERVE_ROWS_PER_TASK = 12_500
# Scoring and top-k selection grow with rows x queries, so a batch of q
# queries weighs each row 1 + (q - 1) / SERVE_QUERIES_PER_ROW. Measured
# on 4 cores (k=10): over 10k rows 1 task was fastest up to 64 queries
# and 2 tasks from 128 to 1,024; over 25k rows 4 tasks at 512. With 256,
# 10k rows get 2 tasks at 128-256 queries, 3 at 512 and 4 at 1,024, none
# slower than the table's own 4 partitions.
SERVE_QUERIES_PER_ROW = 256
# requests KnnServer.stats() covers: the reference's latency ring size
# (pythonvectordb.py:21)
MAX_LATENCIES = 100


class _Request:
    """One pending query and its driver-side timings (ms)."""

    __slots__ = ("qv", "fut", "queued", "wait_ms", "job_ms", "batch")

    def __init__(self, qv: list[int]) -> None:
        self.qv = qv
        self.fut: Future = Future()


class KnnServer:
    """Dynamic-batching knn server over a cached quantized table.

    ``table`` must carry (``data_id``, ``qvec_col``) — i.e.
    ``with_qvec(df).persist()`` — with one vector dimension, and stay
    persisted while the server runs. ``k`` is fixed per server (one
    planned scan per task count). Results per query: list of
    (vec_id, score) of length <= k, ordered (score desc, vec_id asc) —
    identical to ``knn_join``'s rows for the same query, which is pinned
    by test.
    """

    def __init__(
        self,
        table: DataFrame,
        k: int = 10,
        max_batch: int = 1024,
        max_wait_ms: float = 4.0,
        max_inflight: int = 2,
        data_id: str = "vec_id",
        qvec_col: str = "qvec",
    ) -> None:
        from collections import deque
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import functions as F

        # every request scans the whole table: project it, and learn its
        # rows and vector dimension in one job; each request then sizes
        # its scan (_scan_table)
        self._table = table.select(data_id, qvec_col)
        size = F.when(F.col(qvec_col).isNotNull(), F.size(qvec_col))
        self._rows, lo, hi = table.agg(F.count(F.lit(1)), F.min(size), F.max(size)).first()
        if self._rows and (lo != hi or not hi):
            raise ValueError(
                f"KnnServer: table vectors have lengths {lo} to {hi}; "
                f"the server needs one nonzero dimension"
            )
        self._dim = hi
        self._sc = table.sparkSession.sparkContext
        self._cores = self._sc.defaultParallelism
        self._plans: dict[int, DataFrame] = {}  # task count -> scoring frame
        self._k = k
        self._max_batch = max_batch
        self._max_wait_s = max_wait_ms / 1000.0
        self._data_id = data_id
        self._qvec_col = qvec_col
        self._lock = threading.Condition()
        self._pending: list[_Request] = []
        self._closed = False
        # (end-to-end, queue wait, job ms, batch size) of answered requests
        self._ring: deque[tuple[float, float, float, int]] = deque(maxlen=MAX_LATENCIES)
        self._ring_lock = threading.Lock()
        # up to max_inflight coalesced jobs run CONCURRENTLY (Spark's
        # scheduler interleaves jobs fine): while one batch's tasks are
        # on the cluster, the dispatcher is already collecting and
        # submitting the next — without this, per-job latency lower-bounds
        # the serve rate at low client counts (throughput ~= clients /
        # job_time instead of ~= max_inflight * batch / job_time). A batch
        # forms only once one of the slots is free, so queries that
        # arrive while every slot is busy join one batch instead of
        # queueing as many small ones.
        self._slots = threading.Semaphore(max(1, max_inflight))
        self._pool = ThreadPoolExecutor(
            max_workers=max(1, max_inflight), thread_name_prefix="knn-server-job"
        )
        self._dispatcher = threading.Thread(
            target=self._run, name="knn-server-dispatcher", daemon=True
        )
        self._dispatcher.start()

    # -- client side --------------------------------------------------

    def search(self, query: Sequence[float]) -> list[tuple[int, float]]:
        """Block until the coalesced batch containing this query runs;
        returns the top-k (vec_id, score) rows. A query whose length is
        not the table's dimension raises ``ValueError`` here, before it
        joins a batch."""
        t0 = time.perf_counter()
        if self._dim is not None and len(query) != self._dim:
            raise ValueError(
                f"KnnServer: query of length {len(query)}, table vectors of {self._dim}"
            )
        req = _Request(quantize_query(query))
        with self._lock:
            if self._closed:
                raise RuntimeError("KnnServer is closed")
            req.queued = time.perf_counter()
            self._pending.append(req)
            self._lock.notify()
        result = req.fut.result()
        with self._ring_lock:
            self._ring.append(
                ((time.perf_counter() - t0) * 1e3, req.wait_ms, req.job_ms, req.batch)
            )
        return result

    def stats(self) -> dict[str, float]:
        """Driver-side latency of the last ``MAX_LATENCIES`` answered
        requests (no Spark job): ``requests``, p50/p95/p99 of end-to-end
        (``e2e_ms_*``: ``search`` call to answer), queue wait
        (``queue_wait_ms_*``: enqueued to its job's start) and job time
        (``job_ms_*``: the batch's scoring job), and ``mean_batch``, the
        mean size of the batches they rode in. All 0.0 before the first
        answer."""
        import numpy as np

        with self._ring_lock:
            recs = np.array(self._ring, dtype=np.float64).reshape(-1, 4)
        out = {"requests": len(recs)}
        for j, name in enumerate(("e2e_ms", "queue_wait_ms", "job_ms")):
            for p in (50, 95, 99):
                out[f"{name}_p{p}"] = float(np.percentile(recs[:, j], p)) if len(recs) else 0.0
        out["mean_batch"] = float(recs[:, 3].mean()) if len(recs) else 0.0
        return out

    def close(self) -> None:
        """Drain and stop the dispatcher (idempotent)."""
        with self._lock:
            if self._closed:
                return
            self._closed = True
            self._lock.notify()
        self._dispatcher.join()
        self._pool.shutdown(wait=True)

    def __enter__(self) -> "KnnServer":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- dispatcher side ----------------------------------------------

    def _run(self) -> None:
        while True:
            self._slots.acquire()  # released by _run_batch
            with self._lock:
                while not self._pending and not self._closed:
                    self._lock.wait()
                if not self._pending and self._closed:
                    return
                # brief accumulation window: let concurrent callers pile
                # into THIS batch instead of the next one. Held only
                # until max_batch or the deadline, whichever first.
                deadline = time.monotonic() + self._max_wait_s
                while len(self._pending) < self._max_batch:
                    remaining = deadline - time.monotonic()
                    if remaining <= 0:
                        break
                    self._lock.wait(timeout=remaining)
                batch, self._pending = (
                    self._pending[: self._max_batch],
                    self._pending[self._max_batch :],
                )
            self._pool.submit(self._run_batch, batch)

    def _run_batch(self, batch: list[_Request]) -> None:
        try:
            t0 = time.perf_counter()
            try:
                results = self._execute([r.qv for r in batch])
            except Exception as e:  # scatter the failure to every caller
                for r in batch:
                    r.fut.set_exception(e)
                return
            job_ms = (time.perf_counter() - t0) * 1e3
            for i, r in enumerate(batch):
                r.wait_ms, r.job_ms, r.batch = (t0 - r.queued) * 1e3, job_ms, len(batch)
                r.fut.set_result(results.get(i, []))
        finally:
            self._slots.release()

    def _tasks(self, n_queries: int) -> int:
        """Scan tasks of a request of ``n_queries`` queries: ceil(rows x
        (1 + (n_queries - 1) / SERVE_QUERIES_PER_ROW) /
        SERVE_ROWS_PER_TASK), at least 1 and at most the cores."""
        import math

        work = self._rows * (1 + (n_queries - 1) / SERVE_QUERIES_PER_ROW)
        return min(max(1, math.ceil(work / SERVE_ROWS_PER_TASK)), self._cores)

    def _scan_table(self, n_queries: int) -> DataFrame:
        """The table coalesced to the scan tasks of one request
        (:meth:`_tasks`). Coalesce is narrow (no shuffle, never more
        tasks than the table's partitions), so a small table is read by
        one Python task and a large batch keeps the table's own
        partitioning."""
        return self._table.coalesce(self._tasks(n_queries))

    def _scoring(self, n_queries: int) -> DataFrame:
        """The scoring frame of a request: ``scored_from_qmat`` over
        :meth:`_scan_table` with no query matrix in its plan, so each
        task reads the job's queries from ``QUERIES_PROPERTY``. Built,
        analysed and planned once per task count; every later request
        with that count collects the same planned frame."""
        from pythonvectordb_spark.operators.search import scored_from_qmat

        tasks = self._tasks(n_queries)
        plan = self._plans.get(tasks)
        if plan is None:
            plan = self._plans[tasks] = scored_from_qmat(
                self._scan_table(n_queries),
                None,
                None,
                self._k,
                self._data_id,
                "query_id",
                self._qvec_col,
            )
        return plan

    def _execute(self, qvs: list[list[int]]) -> dict[int, list[tuple[int, float]]]:
        """One batched knn job for the coalesced queries (positional ids).

        Single-stage: the scan is :meth:`_scoring`'s planned frame — the
        one int8 cosine kernel (``operators.search.int8_cosine_scan``, a
        ``mapInArrow`` over the table coalesced to this batch's scan
        tasks) with the per-query partial top-k selector. The batch's
        int8 query matrix travels in the job-local property
        ``QUERIES_PROPERTY``, set on this thread for the one ``collect``
        and cleared after it, so concurrent batches on other threads
        never see it and a request costs no UDF, analysis or planning.
        Each Arrow batch emits its partial top-k per query (a superset
        of that batch's contribution to the global top-k), and the
        GLOBAL (score desc, id asc) merge happens on the driver over the
        collected partials — bounded at ~k x scan tasks x queries rows
        (one task below ``SERVE_ROWS_PER_TASK`` rows: ~110 ms per
        single-query request on 4 cores; 512 queries over 10k rows in 3
        tasks: ~340 ms). Skipping ``knn_join``'s Window
        removes a shuffle + second stage wave from every serve job, which
        at single-query latencies is most of the job; the merge applies
        the same ordering, so results stay identical to ``knn_join``
        (pinned by test)."""
        from pythonvectordb_spark.operators.search import QUERIES_PROPERTY, encode_queries

        scoring = self._scoring(len(qvs))
        self._sc.setLocalProperty(QUERIES_PROPERTY, encode_queries(qvs))
        try:
            rows = scoring.collect()
        finally:
            self._sc.setLocalProperty(QUERIES_PROPERTY, None)
        by_q: dict[int, list[tuple[int, float]]] = {}
        for r in rows:
            by_q.setdefault(int(r["query_id"]), []).append(
                (int(r[self._data_id]), float(r["score"]))
            )
        out: dict[int, list[tuple[int, float]]] = {}
        for qid, rows in by_q.items():
            rows.sort(key=lambda t: (-t[1], t[0]))  # score desc, id asc
            out[qid] = rows[: self._k]
        return out
