"""Low-latency knn serving walkthrough on the public API — runnable:

    python examples/serving_knn.py [sf_dir] [n_clients]

The batch-vs-point-lookup mismatch, answered: every Spark job has a
fixed cost (on 4 local cores a single-query knn request over 10k cached
vectors is ~110 ms, one job over a scan the server planned once, and a
cold empty one-task Python job ~145-160 ms),
which makes one-job-per-query serving structurally slow from
threaded clients, while the SAME engine sustains thousands of QPS on
pre-batched queries. ``serving.KnnServer`` closes
the gap with dynamic query coalescing — client threads block on a
future, a dispatcher folds every query arriving within a few ms into
ONE batched scan job, and the per-query top-k scatters back — the same
design as production model/vector servers.

This example runs both shapes against the same cached table and
reports their measured throughput side by side:

  * ``raw_qps``        — one knn job per query from each client thread
                         (the anti-pattern, bounded by the job floor)
  * ``coalesced_qps``  — the same client threads through KnnServer
  * ``coalesced_p50_ms`` / ``coalesced_p99_ms`` — their end-to-end
                         latency from ``KnnServer.stats()``
  * ``parity``         — server results == knn_join's rows, per query

Defaults to the sf0.001 testdata and 32 clients so it runs in seconds;
the bench harness (bench.py concurrent section) runs the 256-client
shape at sf0.1.
"""

from __future__ import annotations

import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pythonvectordb_spark as pv
from pythonvectordb_spark.serving import KnnServer
from pythonvectordb_spark.sources.testdata import load_table


def run(sf_dir: str = "/root/testdata/sf0.001", n_clients: int = 32) -> dict:
    spark = pv.get_spark("serving-example")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}

    table = pv.with_qvec(load_table(spark, sf_dir, "embeddings")).persist()
    table.count()  # materialize the cache before timing anything
    try:
        # each client replays a real stored vector as its query
        rows = load_table(spark, sf_dir, "embeddings").limit(n_clients).collect()
        vecs = [[float(x) for x in r.embedding] for r in rows]

        # -- shape 1: one job per query (the structural anti-pattern) --
        from pythonvectordb_spark.operators.search import knn_join

        def one_job(vec) -> list[tuple[int, float]]:
            q = spark.createDataFrame(
                [(0, vec)], "query_id long, qvec_query array<double>"
            )
            return [
                (int(r.vec_id), float(r.score))
                for r in knn_join(table, q, k=10).orderBy("rank").collect()
            ]

        raw_results: list = [None] * n_clients
        t0 = time.monotonic()
        threads = [
            threading.Thread(target=lambda i=i: raw_results.__setitem__(i, one_job(vecs[i])))
            for i in range(n_clients)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        out["raw_qps"] = round(n_clients / (time.monotonic() - t0), 1)

        # -- shape 2: the same clients through the coalescing server ---
        srv_results: list = [None] * n_clients
        with KnnServer(table, k=10, max_batch=1024, max_wait_ms=4.0) as srv:
            t0 = time.monotonic()
            threads = [
                threading.Thread(
                    target=lambda i=i: srv_results.__setitem__(i, srv.search(vecs[i]))
                )
                for i in range(n_clients)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            out["coalesced_qps"] = round(n_clients / (time.monotonic() - t0), 1)
            lat = srv.stats()
            out["coalesced_p50_ms"] = round(lat["e2e_ms_p50"], 1)
            out["coalesced_p99_ms"] = round(lat["e2e_ms_p99"], 1)

        # -- parity: coalescing must not change a single row ------------
        out["parity"] = srv_results == raw_results
        out["n_clients"] = n_clients
    finally:
        table.unpersist()
    return out


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    stats = run(sf, n)
    for k, v in stats.items():
        print(f"{k}: {v}")
