"""Pins the benchmark's pure logic; needs no Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.logic import (
    cpu_times,
    due_times,
    geomean,
    lateness_ms,
    leveled,
    median,
    open_loop_latencies_ms,
    percentile,
    reduce_event_log,
    steal_share,
    tail_percentile,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert median(xs) == 2.5
    assert percentile(xs, 25) == pytest.approx(1.75)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    # 19 samples: p50 leaves 9 beyond, so no tail is reported
    assert tail_percentile([float(i) for i in range(19)]) is None
    # 20 samples: p50 leaves 10 beyond, p75 only 5
    assert tail_percentile([float(i) for i in range(20)]) == (50.0, 9.5)
    # 100 samples: p90 leaves 10 beyond (90.1 .. 99), p95 only 5
    p, v = tail_percentile([float(i) for i in range(100)])
    assert p == 90.0 and v == pytest.approx(89.1)
    # 1000 samples: p99 leaves 10 beyond
    assert tail_percentile([float(i) for i in range(1000)])[0] == 99.0


def test_tail_counts_ties_at_the_cut_as_not_beyond():
    xs = [1.0] * 30 + [2.0] * 5
    # every percentile up to p75 reads 1.0 and has only 5 samples above it
    assert tail_percentile(xs) is None


def test_geomean():
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert geomean([5.0]) == pytest.approx(5.0)
    assert geomean(x for x in (2.0, 8.0)) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        geomean([])
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_due_times_fill_the_window_on_a_fixed_interval():
    assert due_times(10.0, 0.5, 2.0) == [10.0, 10.5, 11.0, 11.5]
    assert len(due_times(0.0, 0.8, 10.0)) == 13  # 0.0 .. 9.6
    assert len(due_times(0.0, 0.8, 12.0)) == 15
    with pytest.raises(ValueError):
        due_times(0.0, 0.0, 1.0)


def test_open_loop_latency_is_timed_from_due_and_charges_stalls():
    due = [0.0, 1.0, 2.0]
    # the sender stalled: request 1 went out 0.7 s late
    sent = [0.0, 1.7, 2.0]
    done = [0.4, 2.1, 2.4]
    assert open_loop_latencies_ms(due, done) == pytest.approx([400.0, 1100.0, 400.0])
    assert lateness_ms(due, sent) == pytest.approx([0.0, 700.0, 0.0])
    # early sends are not negative lateness
    assert lateness_ms([1.0], [0.9]) == [0.0]
    with pytest.raises(ValueError):
        lateness_ms([0.0, 1.0], [0.0])


def test_leveled_compares_the_medians_of_the_last_two_windows():
    assert not leveled([10.0], 1, 0.15)
    assert not leveled([14.0, 6.6], 1, 0.15)
    assert not leveled([14.0, 6.6, 5.4], 1, 0.15)  # 18% apart
    assert leveled([14.0, 6.6, 5.7], 1, 0.15)  # 14% apart
    # window 3: medians 500 (of 2400, 500, 480) and 430 (of 430, 900, 420)
    assert not leveled([2400.0, 500.0, 480.0, 430.0, 900.0, 420.0], 3, 0.1)
    assert leveled([500.0, 480.0, 430.0, 440.0, 900.0, 420.0], 3, 0.1)
    assert not leveled([5.0, 5.0, 5.0], 2, 0.1)  # needs two full windows


def test_steal_share_from_proc_stat():
    before = cpu_times("cpu  100 0 50 800 10 0 0 40 0 0\ncpu0 1 2 3 4\n")
    after = cpu_times("cpu  200 0 100 1600 20 0 0 80 0 0\n")
    assert before["steal"] == 40
    assert steal_share(before, after) == pytest.approx(40 / 1000)
    assert steal_share(after, after) == 0.0
    # kernels without a steal column read 0
    assert cpu_times("cpu 1 2 3 4\n")["steal"] == 0
    with pytest.raises(ValueError):
        cpu_times("intr 1 2\n")


def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": props}


def _task(stage, cpu_ns=0, gc=0, shuffle=0, spill=(0, 0), accums=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"Name": n, "Update": str(u)} for n, u in accums]},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Memory Bytes Spilled": spill[0],
            "Disk Bytes Spilled": spill[1],
        },
    }


def test_event_log_reducer_charges_tasks_to_their_jobs_group():
    events = [
        {"Event": "SparkListenerApplicationStart"},
        _job(0, [0, 1], "q.build"),
        _task(0, cpu_ns=2_000_000, gc=3, shuffle=100),
        _task(1, cpu_ns=1_000_000, spill=(10, 5)),
        _job(1, [2], "q.exec"),
        _task(2, cpu_ns=4_000_000, accums=[
            ("data sent to Python workers", 2048),
            ("time to start Python workers", 7),
            ("time to run Python workers", 30),
            ("number of output rows", 99),
        ]),
        _task(2, accums=[("data sent to Python workers", 1024)]),
        _job(2, [3]),  # no group
        _task(3, cpu_ns=1_000_000),
        # a later job that re-lists stage 0 does not steal its tasks
        _job(3, [0, 4], "q.exec"),
    ]
    lines = [json.dumps(e) for e in events] + [""]
    out = reduce_event_log(lines)
    b, e, none = out["q.build"], out["q.exec"], out[""]
    assert (b["jobs"], b["tasks"]) == (1, 2)
    assert b["executor_cpu_ms"] == pytest.approx(3.0)
    assert (b["gc_ms"], b["shuffle_write_bytes"], b["spill_bytes"]) == (3, 100, 15)
    assert (e["jobs"], e["tasks"]) == (2, 2)
    assert e["executor_cpu_ms"] == pytest.approx(4.0)
    assert e["python_bytes_sent"] == 3072
    assert (e["python_start_ms"], e["python_run_ms"]) == (7, 30)
    assert (none["jobs"], none["tasks"], none["executor_cpu_ms"]) == (1, 1, 1.0)


def test_benchmark_json_lists_exactly_the_metrics_the_code_reports():
    from perfbench.run import END_TO_END, WORKLOADS, per_layer_units

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
