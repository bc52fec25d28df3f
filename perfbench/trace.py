"""Tracing installed from outside the program: Spark job groups around
each call into a layer, a runtime wrapper around ``load_table``, the
Catalyst phase tracker, and the Spark event log the launcher enables.
With tracing off every helper here is a no-op, so the untraced run
measures the program alone."""

from __future__ import annotations

import contextlib
import glob
import os
import sys
import time

from perfbench.logic import GROUP_FIELDS, reduce_event_log

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since import of this module."""
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}", file=sys.stderr, flush=True)


class Tracer:
    """Per-run tracing switch; every method is a no-op when disabled."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled

    @contextlib.contextmanager
    def group(self, name: str):
        """Tag every Spark job the block submits with job group ``name``
        (a thread-local property, so concurrent threads do not mix)."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def plan_ms(self, df) -> float:
        """Catalyst analysis + optimization + planning time recorded by
        the DataFrame's QueryExecution tracker (0 when untraced)."""
        if not self.enabled:
            return 0.0
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.valuesIterator()
        total = 0.0
        while it.hasNext():
            total += float(it.next().durationMs())
        return total

    @contextlib.contextmanager
    def load_table_calls(self, counter: dict):
        """Count and time ``sources.testdata.load_table`` calls made by any
        loaded program module, into ``counter['calls']``/``['ms']``."""
        if not self.enabled:
            yield
            return
        from pythonvectordb_spark.sources import testdata

        orig = testdata.load_table

        def timed(*args, **kwargs):
            t = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                counter["calls"] = counter.get("calls", 0) + 1
                counter["ms"] = counter.get("ms", 0.0) + (time.perf_counter() - t) * 1e3

        owners = [
            m
            for name, m in list(sys.modules.items())
            if name.startswith("pythonvectordb_spark") and getattr(m, "load_table", None) is orig
        ]
        for m in owners:
            m.load_table = timed
        try:
            yield
        finally:
            for m in owners:
                m.load_table = orig


def read_event_groups(log_dir: str) -> dict[str, dict[str, float]]:
    """Reduce the (closed) Spark event log in ``log_dir`` by job group."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        return reduce_event_log(f)


def per_op(groups: dict, name: str, ops: int) -> dict[str, float]:
    """One job group's event-log totals divided by the ops it covered."""
    row = groups.get(name, {})
    return {k: row.get(k, 0) / ops if ops else 0.0 for k in GROUP_FIELDS}
