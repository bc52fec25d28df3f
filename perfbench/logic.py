"""Pure arithmetic of the benchmark: percentiles, geomean, the open-loop
schedule, the warm-up level-off rule, host steal time, the Spark
event-log reducer and the record a workload returns. No Spark here, so
``perfbench/tests`` can pin all of it without a JVM."""

from __future__ import annotations

import json
import math
from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass


@dataclass
class Outcome:
    """What a workload returns. ``latency_p50_ms``, ``throughput_ops_s``
    and ``setup_done`` (a ``perf_counter`` time) give the end-to-end
    metrics; ``layers`` holds the per-layer ones the workload measured
    itself, and ``from_groups`` maps the event log's per-job-group totals
    to the rest."""

    latency_p50_ms: float
    throughput_ops_s: float
    setup_done: float
    attempted: int
    failed: int
    layers: dict
    from_groups: Callable[[dict], dict]
    record: dict


# percentiles a tail is reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(
    values: Sequence[float], min_beyond: int = 10
) -> tuple[float, float] | None:
    """The highest ladder percentile with at least ``min_beyond`` samples
    strictly above it, as ``(p, value)``; ``None`` when even the median
    has fewer than that many samples beyond it."""
    xs = sorted(values)
    for p in TAIL_LADDER:
        if not xs:
            break
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= min_beyond:
            return p, v
    return None


def geomean(values: Iterable[float]) -> float:
    xs = list(values)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def due_times(start: float, interval: float, seconds: float) -> list[float]:
    """Open-loop arrival schedule: one request every ``interval`` seconds
    from ``start`` while the due time lies inside the window."""
    if interval <= 0 or seconds <= 0:
        raise ValueError("interval and seconds must be positive")
    n = math.ceil(seconds / interval - 1e-9)
    return [start + i * interval for i in range(n)]


def open_loop_latencies_ms(
    due: Sequence[float], done: Sequence[float]
) -> list[float]:
    """Latency of each request timed from when it was DUE, so a stall
    that delays the sender is charged to every request behind it."""
    return [(d1 - d0) * 1000.0 for d0, d1 in zip(due, done, strict=True)]


def lateness_ms(due: Sequence[float], sent: Sequence[float]) -> list[float]:
    """How late the generator sent each request (0 when on time)."""
    return [max(0.0, (s - d) * 1000.0) for d, s in zip(due, sent, strict=True)]


def leveled(samples: Sequence[float], window: int, tol: float) -> bool:
    """Warm-up stop rule: the median of the last ``window`` samples is
    within ``tol`` (a share) of the median of the ``window`` before."""
    if len(samples) < 2 * window:
        return False
    prev = median(samples[-2 * window : -window])
    return abs(median(samples[-window:]) - prev) <= tol * prev


def cpu_times(proc_stat_text: str) -> dict[str, int]:
    """The aggregate ``cpu`` line of ``/proc/stat`` in clock ticks."""
    fields = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    for line in proc_stat_text.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            vals = [int(x) for x in parts[1 : 1 + len(fields)]]
            vals += [0] * (len(fields) - len(vals))
            return dict(zip(fields, vals))
    raise ValueError("no aggregate cpu line")


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    """Steal ticks as a share of all ticks between two samples."""
    delta = {k: after[k] - before[k] for k in before}
    total = sum(delta.values())
    return delta["steal"] / total if total > 0 else 0.0


# -- Spark event log ---------------------------------------------------

# SQL accumulables of Python-UDF operators (per-task updates)
_PYTHON_ACCUMULABLES = {
    "data sent to Python workers": "python_bytes_sent",
    "time to start Python workers": "python_start_ms",
    "time to run Python workers": "python_run_ms",
}
GROUP_FIELDS = (
    "jobs", "tasks", "executor_cpu_ms", "gc_ms", "shuffle_write_bytes",
    "spill_bytes", *_PYTHON_ACCUMULABLES.values(),
)


def reduce_event_log(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Fold a Spark JSON event log into one row per job group: jobs,
    tasks, executor CPU, JVM GC, shuffle bytes written, bytes spilled and
    the Python workers' bytes in, start time and run time. Tasks are
    charged to the group of the job that first listed their stage; jobs
    without a group go to ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            out.setdefault(group, dict.fromkeys(GROUP_FIELDS, 0))["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            row = out.setdefault(group, dict.fromkeys(GROUP_FIELDS, 0))
            m = ev.get("Task Metrics") or {}
            row["tasks"] += 1
            row["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            row["gc_ms"] += m.get("JVM GC Time", 0)
            row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = _PYTHON_ACCUMULABLES.get(acc.get("Name"))
                if key:
                    row[key] += float(acc.get("Update") or 0)
    return out
