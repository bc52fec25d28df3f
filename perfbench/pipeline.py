"""``pipeline``: a closed loop of registry queries and snapshot commits,
one op at a time."""

from __future__ import annotations

import math
import os
import time
import traceback

import numpy as np

from perfbench.data import write_pipeline_tables
from perfbench.ingest import Ingest
from perfbench.logic import Outcome, geomean, leveled, median
from perfbench.trace import log, per_op

WHY = (
    "analytical queries beside writes: loads sources.load_table, the jobs "
    "registry/operators run while building a DataFrame, Catalyst planning and "
    "execution, plus snapshot rewrites and a many-query knn_join that reads "
    "them; bypasses serving"
)

# one build-heavy, one execution-heavy and one cheap registry query (the
# 14-query mix does not fit the per-run budget; NOTES.md), plus one
# snapshot commit per pass
MIX = {
    "mllib_quantile_buckets": "build-heavy",
    "sessionize_events": "execution-heavy",
    "pricing_summary": "cheap",
}
COMMIT = "commit"
WARMUP_MIN, WARMUP_MAX, WARMUP_TOL = 4, 7, 0.1

_PER_QUERY = {
    "registry.build_ms": "ms",
    "registry.build_jobs": "count",
    "sources.load_table_calls": "count",
    "sources.load_table_ms": "ms",
    "catalyst.plan_ms": "ms",
    "exec_ms": "ms",
    "exec_jobs": "count",
    "exec_tasks": "count",
    "executor_cpu_ms": "ms",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "gc_ms": "ms",
}
LAYERS = {
    f"pipeline.{q}.{m}": u for q in (*MIX, "total") for m, u in _PER_QUERY.items()
}


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def rowset(rows, cols) -> list[tuple]:
    """Order-insensitive rows with columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


def run(ctx):
    spark, tracer = ctx.spark, ctx.tracer
    import duckdb

    from pythonvectordb_spark.registry import ORACLES, QUERIES

    sf_dir = os.path.join(ctx.workdir, "tables")
    rows = write_pipeline_tables(ctx.seed, sf_dir)
    ingest = Ingest(ctx)
    order = np.random.default_rng([ctx.seed, 3]).permutation([*MIX, COMMIT])
    order = [str(q) for q in order]

    # per-op-kind samples of the timed passes
    ms: dict[str, list[float]] = {q: [] for q in order}
    build_ms = {q: [] for q in MIX}
    plan_ms = {q: [] for q in MIX}
    loads = {q: {} for q in MIX}
    last: dict[str, tuple] = {}
    errors: dict[str, int] = {q: 0 for q in order}

    def one_pass(timed: bool) -> float:
        t_pass = time.perf_counter()
        for q in order:
            if q == COMMIT:
                try:
                    took = ingest.commit(timed)
                except Exception:  # counted as a failed op
                    traceback.print_exc()
                    errors[q] += timed
                    continue
                if timed:
                    ms[q].append(took * 1e3)
                continue
            phase = f"pipeline.{q}" if timed else "pipeline.warm"
            t0 = time.perf_counter()
            try:
                with tracer.load_table_calls(loads[q] if timed else {}):
                    with tracer.group(f"{phase}.build"):
                        df = QUERIES[q](spark, sf_dir)
                t1 = time.perf_counter()
                with tracer.group(f"{phase}.exec"):
                    got = df.collect()
                t2 = time.perf_counter()
            except Exception:  # counted as a failed op
                traceback.print_exc()
                errors[q] += timed
                continue
            if timed:
                ms[q].append((t2 - t0) * 1e3)
                build_ms[q].append((t1 - t0) * 1e3)
                plan_ms[q].append(tracer.plan_ms(df))
                last[q] = (df.columns, got)
        return time.perf_counter() - t_pass

    warm_s: list[float] = []
    while len(warm_s) < WARMUP_MAX:
        warm_s.append(one_pass(timed=False))
        if len(warm_s) >= WARMUP_MIN and leveled(warm_s, 1, WARMUP_TOL):
            break
    setup_done = time.perf_counter()
    log(f"warm-up passes {[round(x, 2) for x in warm_s]}")

    passes = 0
    while time.perf_counter() - setup_done < ctx.seconds:
        one_pass(timed=True)
        passes += 1
    elapsed = time.perf_counter() - setup_done
    log(f"{passes} timed passes")

    # correctness, outside the window: each query's last result equals
    # its DuckDB oracle over the same generated parquet files, and every
    # timed commit passes Ingest.wrong's checks
    wrong_commits = ingest.wrong()
    con = duckdb.connect()
    try:
        for name in rows:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
        wrong = set()
        for q in MIX:
            if q not in last:
                continue
            cols, got = last[q]
            cur = con.execute(ORACLES[q])
            want_cols = [d[0] for d in cur.description]
            if rowset(got, cols) != rowset(cur.fetchall(), want_cols):
                wrong.add(q)
    finally:
        con.close()

    attempted = passes * len(order)
    failed = sum(errors.values()) + sum(len(ms[q]) for q in wrong) + wrong_commits
    completed = sum(len(v) for v in ms.values())
    layers = {}
    if tracer.enabled:
        layers.update(ingest.layers())
        for q in MIX:
            n = len(ms[q])
            layers.update({
                f"pipeline.{q}.registry.build_ms": median(build_ms[q]),
                f"pipeline.{q}.catalyst.plan_ms": median(plan_ms[q]),
                f"pipeline.{q}.exec_ms": median([a - b for a, b in zip(ms[q], build_ms[q])]),
                f"pipeline.{q}.sources.load_table_calls": loads[q].get("calls", 0) / n,
                f"pipeline.{q}.sources.load_table_ms": loads[q].get("ms", 0.0) / n,
            })

    def from_groups(groups):
        out = {**layers, **ingest.from_groups(groups)}
        for q in MIX:
            n = len(ms[q])
            b = per_op(groups, f"pipeline.{q}.build", n)
            e = per_op(groups, f"pipeline.{q}.exec", n)
            out[f"pipeline.{q}.registry.build_jobs"] = b["jobs"]
            out[f"pipeline.{q}.exec_jobs"] = e["jobs"]
            out[f"pipeline.{q}.exec_tasks"] = e["tasks"]
            for k in ("executor_cpu_ms", "shuffle_write_bytes", "spill_bytes", "gc_ms"):
                out[f"pipeline.{q}.{k}"] = b[k] + e[k]
        for m in _PER_QUERY:  # per-pass totals over the mix
            out[f"pipeline.total.{m}"] = sum(out[f"pipeline.{q}.{m}"] for q in MIX)
        return out

    return Outcome(
        latency_p50_ms=geomean(median(v) for v in ms.values() if v),
        throughput_ops_s=completed / elapsed,
        setup_done=setup_done,
        attempted=attempted,
        failed=failed,
        layers=layers,
        from_groups=from_groups,
        record={
            "mix": MIX,
            "order": order,
            "rows": rows,
            "warmup_pass_s": [round(x, 3) for x in warm_s],
            "timed_passes": passes,
            "op_p50_ms": {q: median(v) for q, v in ms.items() if v},
            "oracle_mismatch": sorted(wrong),
            "wrong_commits": wrong_commits,
            **ingest.record(),
        },
    )
