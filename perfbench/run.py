"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,pipeline} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Makes its inputs from ``--seed``, starts
the program's own Spark session (``session.get_spark``) with every
scratch file under ``.perfbench_work/`` in the current directory, runs
the workload's set-up and warm-up, measures for ``--seconds``, checks
the outputs, and prints two JSON lines on stdout: a record of the run
(environment, sample counts, warm-up passes, why the workload exists)
and, last, the result ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs
the tracing in ``perfbench/trace.py`` and reports the per-layer ones.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import ingest, pipeline, serve  # noqa: E402
from perfbench.logic import cpu_times, steal_share  # noqa: E402
from perfbench.trace import Tracer, log, read_event_groups  # noqa: E402

WORKLOADS = {"serve": serve, "pipeline": pipeline}
END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "throughput_ops_s": "1/s"}


def per_layer_units() -> dict[str, str]:
    units: dict[str, str] = {"session.start_s": "s"}
    for mod in (serve, pipeline, ingest):
        units.update(mod.LAYERS)
    units.update({f"traced.{k}": u for k, u in END_TO_END.items()})
    return units


@dataclass
class Ctx:
    """What a workload gets: the session, its seed and window, a tracer
    and a private scratch directory."""

    spark: object
    seed: int
    seconds: float
    tracer: object
    workdir: str


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def _environment() -> dict:
    import pyspark

    keys = ("SPARK_GRAFT_CPUS", "OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
            "MKL_NUM_THREADS", "SPARK_DRIVER_MEMORY")
    return {
        "cores": os.cpu_count(),
        **{k: os.environ.get(k) for k in keys},
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def _launcher_env(workdir: str, event_dir: str | None) -> None:
    """Point every scratch path Spark and Python use into ``workdir`` and,
    when tracing, turn on an uncompressed event log (set before the JVM
    starts; ``session.py`` is left as it is)."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    import tempfile

    tempfile.tempdir = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (from /proc)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stat = _read(f"/proc/{d}/stat")
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        state = _read(f"/proc/{pid}/stat").rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def _stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and its Python workers
    and wait until each process is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    kids = _children(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    while any(_alive(k) for k in kids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for k in kids:
        if _alive(k):
            os.kill(k, 9)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program must come from this checkout, never from elsewhere
    import pythonvectordb_spark

    if not os.path.abspath(pythonvectordb_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"pythonvectordb_spark not found under {ROOT}")

    mod = WORKLOADS[args.workload]
    trace = bool(args.trace)
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    event_dir = os.path.join(workdir, "eventlog") if trace else None
    stat0 = cpu_times(_read("/proc/stat"))
    _launcher_env(workdir, event_dir)
    spark = None
    try:
        from pythonvectordb_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_START
        ctx = Ctx(spark, args.seed, args.seconds, Tracer(spark, trace), workdir)
        log("session up")
        out = mod.run(ctx)
        log("workload done")
        _stop_spark(spark)
        spark = None
        log("spark stopped")
        layers = dict(out.layers)
        if trace:
            layers.update(out.from_groups(read_event_groups(event_dir)))
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))  # only when no other run uses it
        except OSError:
            pass

    e2e = {
        "setup_s": out.setup_done - T_START,
        "latency_p50_ms": out.latency_p50_ms,
        "throughput_ops_s": out.throughput_ops_s,
    }
    if trace:
        units = per_layer_units()
        layers["session.start_s"] = session_s
        layers.update({f"traced.{k}": v for k, v in e2e.items()})
        unknown = set(layers) - set(units)
        if unknown:
            raise RuntimeError(f"unregistered per-layer metrics: {sorted(unknown)}")
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    record = {
        "workload": args.workload,
        "why": mod.WHY,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": trace,
        "failed_ratio": out.failed / out.attempted if out.attempted else 1.0,
        "session_start_s": session_s,
        "env": {
            **_environment(),
            "steal_share": steal_share(stat0, cpu_times(_read("/proc/stat"))),
        },
        **out.record,
    }
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
