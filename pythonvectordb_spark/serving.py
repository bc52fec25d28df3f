"""Low-latency concurrent query serving: dynamic query coalescing.

The reference serves ~1,100 concurrent QPS because every ``search`` call
is an in-process NumPy matmul behind an RLock (benchmark_suite.py:133-162).
Spark's unit of execution is a JOB: on 4 local cores a single-query
request here is ~30 ms of driver build, broadcast and analysis plus
~115 ms of job, and a plain 4-task Python RDD job costs ~95 ms (most of
the ~350 ms once measured was Python worker task set-up, which the
worker daemon now skips, see ``daemon.skip_unchanged_zip_rereads``).
Issuing one job per single query from N client threads can never
approach that number (BENCH_r02
measured 10.9 qps on the reference's own concurrent section), while the
SAME engine sustains ~2,000 qps when queries arrive pre-batched.

:class:`KnnServer` closes that gap the way production model/vector
servers do (dynamic batching): client threads call :meth:`search` with a
single vector and block on a future; a dispatcher thread coalesces every
query that arrives within a short window (or up to ``max_batch``) into
ONE batched knn job — the exact :func:`operators.search.knn_join`
scoring path over the shared cached table — then scatters the per-query
top-k back to the waiting callers. Per-query latency is bounded by
``max_wait_ms`` + one batched-job time; throughput approaches the
batched-knn ceiling as concurrency rises, because the number of JOBS per
second stays flat while the queries per job grows.

Scale note: on a cluster the same object runs unchanged on the driver —
the table is a persisted DataFrame, each coalesced batch is one
broadcast + one scan job across the executors. The coalescer is
driver-side state, which is exactly where Spark puts every other
scheduler decision; there is no per-query Python on the data path.
"""

from __future__ import annotations

import threading
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


class KnnServer:
    """Dynamic-batching knn server over a cached quantized table.

    ``table`` must carry (``data_id``, ``qvec_col``) — i.e.
    ``with_qvec(df).persist()``. ``k`` is fixed per server (one Window
    plan). Results per query: list of (vec_id, score) of length <= k,
    ordered (score desc, vec_id asc) — identical to ``knn_join``'s rows
    for the same query, which is pinned by test.
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
        from concurrent.futures import ThreadPoolExecutor

        self._table = table
        self._k = k
        self._max_batch = max_batch
        self._max_wait_s = max_wait_ms / 1000.0
        self._data_id = data_id
        self._qvec_col = qvec_col
        self._lock = threading.Condition()
        self._pending: list[tuple[list[int], Future]] = []
        self._closed = False
        # up to max_inflight coalesced jobs run CONCURRENTLY (Spark's
        # scheduler interleaves jobs fine): while one batch's tasks are
        # on the cluster, the dispatcher is already collecting and
        # submitting the next — without this, per-job latency lower-bounds
        # the serve rate at low client counts (throughput ~= clients /
        # job_time instead of ~= max_inflight * batch / job_time)
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
        returns the top-k (vec_id, score) rows."""
        qv = quantize_query(query)
        fut: Future = Future()
        with self._lock:
            if self._closed:
                raise RuntimeError("KnnServer is closed")
            self._pending.append((qv, fut))
            self._lock.notify()
        return fut.result()

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
            with self._lock:
                while not self._pending and not self._closed:
                    self._lock.wait()
                if not self._pending and self._closed:
                    return
                # brief accumulation window: let concurrent callers pile
                # into THIS batch instead of the next one. Held only
                # until max_batch or the deadline, whichever first.
                deadline = _monotonic() + self._max_wait_s
                while len(self._pending) < self._max_batch:
                    remaining = deadline - _monotonic()
                    if remaining <= 0:
                        break
                    self._lock.wait(timeout=remaining)
                batch, self._pending = (
                    self._pending[: self._max_batch],
                    self._pending[self._max_batch :],
                )
            self._pool.submit(self._run_batch, batch)

    def _run_batch(self, batch: list[tuple[list[int], Future]]) -> None:
        try:
            results = self._execute([qv for qv, _ in batch])
        except Exception as e:  # scatter the failure to every caller
            for _, fut in batch:
                fut.set_exception(e)
            return
        for i, (_, fut) in enumerate(batch):
            fut.set_result(results.get(i, []))

    def _execute(self, qvs: list[list[int]]) -> dict[int, list[tuple[int, float]]]:
        """One batched knn job for the coalesced queries (positional ids).

        Single-stage: the scan is ``scored_from_qmat`` — the one int8
        cosine kernel (``operators.search.int8_cosine_scan``) with the
        per-query partial top-k selector — emitting each Arrow batch's
        partial top-k per query (a superset of that batch's contribution
        to the global top-k), and the GLOBAL (score desc, id asc) merge
        happens on the driver over the collected partials — bounded at
        ~k x partitions x queries rows. Skipping ``knn_join``'s Window
        removes a shuffle + second stage wave from every serve job, which
        at single-query latencies is most of the job; the merge applies
        the same ordering, so results stay identical to ``knn_join``
        (pinned by test). The batch's query broadcast is destroyed once
        its rows are collected, without waiting for the executors to
        drop their copies: each broadcast leaves a file in the driver's
        temp dir until ``destroy()``, so a long-running server would
        otherwise grow it by one file per job."""
        import numpy as np

        from pythonvectordb_spark.operators.search import _topk_scan

        qids = np.arange(len(qvs), dtype=np.int64)
        qmat = np.asarray(qvs, dtype=np.float32)
        scored, bc = _topk_scan(
            self._table, qids, qmat, self._k, self._data_id, "query_id", self._qvec_col
        )
        try:
            rows = scored.collect()
        finally:
            bc.destroy(blocking=False)
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


def _monotonic() -> float:
    import time

    return time.monotonic()
