"""SparkSession factory tuned for the test harness (local[N]) while keeping
settings that carry to a real multi-executor cluster.

Scale notes (100 TB design):
  * AQE on — runtime shuffle-partition coalescing + skew-join splitting.
  * Arrow on — every Pandas-UDF boundary is Arrow-batched.
  * ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
    re-plans it from runtime stats, so the same code works at sf0.001 and
    at 1000 executors.
"""

from __future__ import annotations

import os
import zipimport

from pyspark.sql import SparkSession

# Cap BLAS pools before the JVM (and its Python workers) spawn: N
# concurrent pandas-UDF tasks each opening a full-width OpenBLAS pool
# oversubscribes the host (measured: ~3x slowdown on 32 cores).
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "4")


def skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's central
    directory only when the archive changed (idempotent, per process).

    Spark's Python worker calls ``importlib.invalidate_caches()`` at the
    start of EVERY task (``pyspark/worker_util.py`` setup_spark_files),
    and on CPython 3.11 each of the worker's zipimporters then re-reads
    its whole archive directory: 16 importers over pyspark.zip, the
    spark-core jar and the py4j zip, 105-150 ms per task (measured on
    CPython 3.11.7, 4 busy cores) — most of a single-query ``KnnServer``
    request. Workers are reused, so once a task has installed this,
    every later task in that process skips the re-read of an unchanged
    archive.

    The stamp ``(st_mtime_ns, st_size, st_ino)`` is kept per importer and
    taken before the read it vouches for, so a change that races the
    read triggers another read next time; each importer of a changed
    archive re-reads on its own. If the archive cannot be stat'ed the
    original method runs (it already handles a missing archive)."""
    orig = zipimport.zipimporter.invalidate_caches
    if getattr(orig, "skips_unchanged", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self._stamp = None
            return orig(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_stamp", None) != stamp:
            orig(self)
            self._stamp = stamp

    invalidate_caches.skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def get_spark(app_name: str = "pythonvectordb-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    defaults to ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let Python DataSources (sources/jsonl.py) absorb comparison
        # filters at the source instead of post-scan (4.1+ opt-in)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # guide §9: let the planner pick shuffled-hash join when its size
        # conditions are met. Round-10 A/B over a 20-query subset:
        # -10..-20% wall. Failure-mode note (ADVICE r10): AQE only ever
        # PROMOTES joins (to broadcast / shuffled-hash) — it never demotes
        # a planned ShuffledHashJoin back to sort-merge, so a build-side
        # partition that outgrows executor memory at true scale fails the
        # task instead of spilling like SMJ would. The exposure is gated
        # by the planner's own size conditions (canBuildLocalHashMapBySize:
        # plan stats < advisoryPartitionSizeInBytes * numPartitions) plus
        # AQE skew-join splitting; monitor build-side sizes when raising
        # advisoryPartitionSizeInBytes. constraintPropagation=false
        # was measured equal-or-better on wall but REJECTED: it drops
        # the inferred IsNotNull pushdowns the plan pins assert and made
        # the advisor's duplicated-subtree sweep flag 7 queries.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # the driver testdata's events.ts is TIMESTAMP(NANOS); read as long
        # (sources.testdata converts to a microsecond timestamp)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()
