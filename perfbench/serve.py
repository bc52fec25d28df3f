"""``serve``: open-loop single-query knn through ``serving.KnnServer``."""

from __future__ import annotations

import threading
import time
import traceback

import numpy as np

from perfbench.data import unit_vectors, vector_frame
from perfbench.logic import (
    Outcome,
    due_times,
    lateness_ms,
    leveled,
    median,
    open_loop_latencies_ms,
    percentile,
    tail_percentile,
)
from perfbench.trace import per_op

WHY = (
    "the reference's own search regime: one query per request, arriving on a "
    "fixed schedule below the server's single-job capacity; loads serving and "
    "the per-job scoring cost, bypasses sources and registry"
)

N_VECTORS = 10_000
K = 10
INTERVAL_S = 0.8  # about half of one in-flight job's capacity (~0.4 s per job)
SENDERS = 4
CHECKED = 4  # seeded sample of answers re-derived with knn_search
WARMUP_MIN, WARMUP_MAX, WARMUP_TOL = 15, 40, 0.1

LAYERS = {
    "functions.vector.quantize_vectors_s": "s",
    "serving.cached_bytes_per_vector": "bytes",
    "serving.quantize_us": "us",
    "serving.queue_wait_ms": "ms",
    "serving.batch_size": "count",
    "serving.scatter_ms": "ms",
    "serving.generator_late_ms": "ms",
    "operators.search.score_job_ms_p50": "ms",
    "operators.search.score_job_ms_max": "ms",
    "operators.search.score_job_tasks": "count",
    "operators.search.score_bytes_to_python": "bytes",
    "operators.search.score_python_start_ms": "ms",
    "operators.search.score_python_run_ms": "ms",
    "operators.search.score_executor_cpu_ms": "ms",
}


class _Spans:
    """Per-request timestamps captured by wrappers on the server object
    and on ``serving.quantize_query``; requests are matched by the
    identity of their quantized vector, which the server passes through
    unchanged from ``search`` to ``_execute``."""

    def __init__(self) -> None:
        self.local = threading.local()
        self.by_qv: dict[int, dict] = {}
        self.jobs_ms: list[float] = []
        self.group = "serve.warm"  # job group; "serve.score" once timed

    def install(self, srv, tracer) -> None:
        import pythonvectordb_spark.serving as serving

        orig_quantize = serving.quantize_query
        orig_execute = srv._execute
        self._restore = lambda: setattr(serving, "quantize_query", orig_quantize)

        def quantize(vec):
            t0 = time.perf_counter()
            qv = orig_quantize(vec)
            t1 = time.perf_counter()
            rec = self.local.rec
            rec.update(quant_us=(t1 - t0) * 1e6, queued=t1)
            self.by_qv[id(qv)] = rec
            return qv

        def execute(qvs):
            t0 = time.perf_counter()
            with tracer.group(self.group):
                res = orig_execute(qvs)
            t1 = time.perf_counter()
            self.jobs_ms.append((t1 - t0) * 1e3)
            for qv in qvs:
                self.by_qv.pop(id(qv)).update(job_start=t0, job_end=t1, batch=len(qvs))
            return res

        serving.quantize_query = quantize
        srv._execute = execute

    def uninstall(self) -> None:
        self._restore()


def run(ctx):
    spark, tracer = ctx.spark, ctx.tracer
    from pythonvectordb_spark.operators.search import knn_search, with_qvec
    from pythonvectordb_spark.serving import KnnServer, quantize_query

    rng = np.random.default_rng([ctx.seed, 1])
    t0 = time.perf_counter()
    with tracer.group("serve.build"):
        frame = vector_frame(spark, np.arange(N_VECTORS), unit_vectors(rng, N_VECTORS))
        table = with_qvec(frame).select("vec_id", "qvec").persist()
        table.count()
    build_s = time.perf_counter() - t0
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached_bytes = sum(i.memSize() for i in storage)

    n_due = len(due_times(0.0, INTERVAL_S, ctx.seconds))
    queries = [[float(x) for x in v] for v in unit_vectors(rng, WARMUP_MAX + n_due)]
    warm, timed = queries[:WARMUP_MAX], queries[WARMUP_MAX:]

    srv = KnnServer(table, k=K)
    spans = _Spans()
    if tracer.enabled:
        spans.install(srv, tracer)
    try:
        warm_ms = []
        for q in warm:  # one at a time until single-request latency levels off
            spans.local.rec = {}
            a = time.perf_counter()
            srv.search(q)
            warm_ms.append((time.perf_counter() - a) * 1e3)
            if len(warm_ms) >= WARMUP_MIN and leveled(warm_ms, 5, WARMUP_TOL):
                break
        setup_done = time.perf_counter()
        spans.jobs_ms, spans.group = [], "serve.score"

        start = setup_done + 0.05
        due = due_times(start, INTERVAL_S, ctx.seconds)
        sent = [0.0] * len(due)
        done = [0.0] * len(due)
        answers: list = [None] * len(due)
        errors: list = [None] * len(due)
        recs = [{} for _ in due]
        nxt = iter(range(len(due)))
        lock = threading.Lock()

        def sender() -> None:
            while True:
                with lock:
                    i = next(nxt, None)
                if i is None:
                    return
                time.sleep(max(0.0, due[i] - time.perf_counter()))
                spans.local.rec = recs[i]
                sent[i] = time.perf_counter()
                try:
                    answers[i] = srv.search(timed[i])
                except Exception as e:  # counted as a failed op
                    traceback.print_exc()
                    errors[i] = e
                done[i] = time.perf_counter()

        threads = [threading.Thread(target=sender) for _ in range(SENDERS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        srv.close()
        if tracer.enabled:
            spans.uninstall()

    # correctness, outside the window: every answer has k rows, and a
    # seeded sample equals knn_search of the quantized query on the table
    bad = {i for i, e in enumerate(errors) if e is not None}
    bad |= {i for i, a in enumerate(answers) if a is not None and len(a) != K}
    check_rng = np.random.default_rng([ctx.seed, 2])
    for i in check_rng.choice(len(due), size=min(CHECKED, len(due)), replace=False):
        if i in bad:
            continue
        want = [
            (int(r["vec_id"]), float(r["score"]))
            for r in knn_search(table, quantize_query(timed[i]), k=K).collect()
        ]
        if answers[i] != want:
            bad.add(int(i))
    table.unpersist()

    lat = open_loop_latencies_ms(due, done)
    late = lateness_ms(due, sent)
    tail = tail_percentile(lat)
    layers = {
        "functions.vector.quantize_vectors_s": build_s,
        "serving.cached_bytes_per_vector": cached_bytes / N_VECTORS,
        "serving.generator_late_ms": max(late),
    }
    if tracer.enabled:
        ok = [r for r in recs if "job_end" in r]
        layers.update({
            "serving.quantize_us": median([r["quant_us"] for r in ok]),
            "serving.queue_wait_ms": median([(r["job_start"] - r["queued"]) * 1e3 for r in ok]),
            "serving.batch_size": sum(r["batch"] for r in ok) / len(ok),
            "serving.scatter_ms": median(
                [(d - r["job_end"]) * 1e3 for r, d in zip(recs, done) if "job_end" in r]
            ),
            "operators.search.score_job_ms_p50": median(spans.jobs_ms),
            "operators.search.score_job_ms_max": max(spans.jobs_ms),
        })
    n_jobs = len(spans.jobs_ms)

    def from_groups(groups):
        row = per_op(groups, "serve.score", n_jobs)
        return {
            "operators.search.score_job_tasks": row["tasks"],
            "operators.search.score_bytes_to_python": row["python_bytes_sent"],
            "operators.search.score_python_start_ms": row["python_start_ms"],
            "operators.search.score_python_run_ms": row["python_run_ms"],
            "operators.search.score_executor_cpu_ms": row["executor_cpu_ms"],
        }

    completed = sum(1 for e in errors if e is None)
    return Outcome(
        latency_p50_ms=median(lat),
        throughput_ops_s=completed / (max(done) - start),
        setup_done=setup_done,
        attempted=len(due),
        failed=len(bad),
        layers=layers,
        from_groups=from_groups,
        record={
            "samples": len(due),
            "interval_s": INTERVAL_S,
            "senders": SENDERS,
            "vectors": N_VECTORS,
            "warmup_ms": [round(x, 1) for x in warm_ms],
            "latency_tail_ms": tail,
            "latency_max_ms": max(lat),
            "generator_late_ms_p50": percentile(late, 50),
            "checked": CHECKED,
        },
    )
