"""Snapshot commits that read their own writes, one op kind of the
``pipeline`` workload."""

from __future__ import annotations

import os
import time
from collections import Counter

import numpy as np

from perfbench.data import DIM, unit_vectors, vector_frame
from perfbench.logic import median
from perfbench.trace import per_op

N_LIVE = 5_000  # live vectors in every snapshot
BATCH = 500  # inserted and deleted per commit
N_QUERIES = 200  # knn_join queries per commit ...
OWN = 8  # ... of which this many are vectors the commit inserted
K = 10
FILES = 4  # snapshot files written per version

PHASES = ("validate", "add", "save", "load", "knn_join")
LAYERS = {
    "sources.snapshot.validate_ms": "ms",
    "operators.mutation.add_ms": "ms",
    "sources.snapshot.save_ms": "ms",
    "sources.snapshot.bytes_written": "bytes",
    "sources.snapshot.load_ms": "ms",
    "operators.search.knn_join_ms": "ms",
    "operators.search.knn_join_queries_s": "1/s",
    "ingest.jobs_per_commit": "count",
    "sources.snapshot.stored_bytes_per_vector": "bytes",
}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Ingest:
    """The snapshot write path, one commit at a time: the first snapshot
    is built on construction; ``commit`` adds ``BATCH`` seeded vectors,
    deletes the ``BATCH`` oldest, rewrites and reloads the snapshot and
    runs one ``knn_join`` over it; ``wrong`` checks the timed commits."""

    def __init__(self, ctx) -> None:
        from pythonvectordb_spark.operators.search import with_qvec
        from pythonvectordb_spark.sources.snapshot import load_snapshot, save_snapshot

        self.spark, self.tracer = ctx.spark, ctx.tracer
        self.rng = np.random.default_rng([ctx.seed, 4])
        self.root = os.path.join(ctx.workdir, "snapshots")
        self.commits: list[dict] = []  # every commit, warm-up included
        self.timed: list[dict] = []
        t0 = time.perf_counter()
        with self.tracer.group("ingest.build"):
            vecs = unit_vectors(self.rng, N_LIVE)
            base = with_qvec(vector_frame(self.spark, np.arange(N_LIVE), vecs))
            save_snapshot(base, f"{self.root}/v0", DIM, num_files=FILES)
            self.live = load_snapshot(self.spark, f"{self.root}/v0", DIM)
        self.build_s = time.perf_counter() - t0

    def commit(self, timed: bool) -> float:
        import pandas as pd
        from pyspark.sql import functions as F

        from pythonvectordb_spark.operators.mutation import add_vectors, delete_vectors
        from pythonvectordb_spark.operators.search import knn_join
        from pythonvectordb_spark.sources.snapshot import (
            load_snapshot,
            save_snapshot,
            validate_batch,
        )

        spark, c = self.spark, len(self.commits) + 1
        lo = N_LIVE + (c - 1) * BATCH  # ids inserted by this commit
        old = (c - 1) * BATCH  # oldest live id, deleted by this commit
        vecs = unit_vectors(self.rng, BATCH)
        queries = np.vstack([vecs[:OWN], unit_vectors(self.rng, N_QUERIES - OWN)])
        rec = {"lo": lo, "old": old, "path": f"{self.root}/v{c}", "ms": {}}
        self.commits.append(rec)
        t_start = time.perf_counter()
        with self.tracer.group("ingest.commit" if timed else "ingest.warm"):
            t = time.perf_counter()
            ids = np.arange(lo, lo + BATCH)
            batch = validate_batch(vector_frame(spark, ids, vecs), DIM)
            rec["ms"]["validate"] = time.perf_counter() - t
            t = time.perf_counter()
            grown = add_vectors(self.live, batch, on_duplicate="error")
            rec["ms"]["add"] = time.perf_counter() - t
            gone = spark.range(old, old + BATCH).select(F.col("id").alias("vec_id"))
            t = time.perf_counter()
            save_snapshot(delete_vectors(grown, gone), rec["path"], DIM, num_files=FILES)
            rec["ms"]["save"] = time.perf_counter() - t
            t = time.perf_counter()
            self.live = load_snapshot(spark, rec["path"], DIM)
            rec["ms"]["load"] = time.perf_counter() - t
            qdf = spark.createDataFrame(
                pd.DataFrame({"query_id": np.arange(N_QUERIES), "qvec_query": list(queries)}),
                "query_id long, qvec_query array<float>",
            )
            t = time.perf_counter()
            rec["hits"] = knn_join(self.live, qdf, k=K, query_vec="qvec_query").collect()
            rec["ms"]["knn_join"] = time.perf_counter() - t
        rec["total"] = time.perf_counter() - t_start
        if timed:
            self.timed.append(rec)
        return rec["total"]

    def wrong(self) -> int:
        """Timed commits whose snapshot does not hold exactly N_LIVE
        vectors, all of the commit's inserts and none of its deletes, or
        whose knn_join missed rows or did not return the commit's own
        vectors as their own top-1 hits (read-your-writes)."""
        from pyspark.sql import functions as F

        from pythonvectordb_spark.sources.snapshot import load_snapshot

        wrong = 0
        v = F.col("vec_id")
        for rec in self.timed:
            lo, old = rec["lo"], rec["old"]
            row = load_snapshot(self.spark, rec["path"], DIM).select(
                F.count(F.lit(1)).alias("n"),
                F.sum(((v >= lo) & (v < lo + BATCH)).cast("long")).alias("ins"),
                F.sum(((v >= old) & (v < old + BATCH)).cast("long")).alias("dels"),
            ).first()
            top1 = {r["query_id"]: r["vec_id"] for r in rec["hits"] if r["rank"] == 1}
            rows_per_query = Counter(r["query_id"] for r in rec["hits"])
            ok = (
                (row["n"], row["ins"], row["dels"]) == (N_LIVE, BATCH, 0)
                and all(top1.get(i) == lo + i for i in range(OWN))
                and len(rows_per_query) == N_QUERIES
                and set(rows_per_query.values()) == {K}
            )
            wrong += not ok
        return wrong

    def layers(self) -> dict:
        timed = self.timed

        def p50(phase: str) -> float:
            return median([r["ms"][phase] * 1e3 for r in timed])

        return {
            "functions.vector.quantize_vectors_s": self.build_s,
            "sources.snapshot.validate_ms": p50("validate"),
            "operators.mutation.add_ms": p50("add"),
            "sources.snapshot.save_ms": p50("save"),
            "sources.snapshot.bytes_written": median([_dir_bytes(r["path"]) for r in timed]),
            "sources.snapshot.load_ms": p50("load"),
            "operators.search.knn_join_ms": p50("knn_join"),
            "operators.search.knn_join_queries_s": median(
                [N_QUERIES / r["ms"]["knn_join"] for r in timed]
            ),
            "sources.snapshot.stored_bytes_per_vector": _dir_bytes(timed[-1]["path"]) / N_LIVE,
        }

    def from_groups(self, groups: dict) -> dict:
        return {"ingest.jobs_per_commit": per_op(groups, "ingest.commit", len(self.timed))["jobs"]}

    def record(self) -> dict:
        return {
            "live_vectors": N_LIVE,
            "batch": BATCH,
            "knn_join_queries": N_QUERIES,
            "phase_p50_ms": {
                p: median([r["ms"][p] * 1e3 for r in self.timed]) for p in PHASES
            },
        }
