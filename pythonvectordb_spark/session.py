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

from pyspark.sql import SparkSession


def get_spark(app_name: str = "pythonvectordb-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    defaults to ``local[*]``.

    Python workers fork from ``pythonvectordb_spark.daemon``, which sets
    them up once. The package's parent directory goes on ``PYTHONPATH``
    before the JVM starts, so local workers import the package (the
    daemon, and UDFs pickled by reference) whatever the driver's cwd is;
    on a cluster the package must be installed on the executors.
    """
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.environ.get("PYTHONPATH", "")
    if parent not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (parent, path) if p)
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
        .config("spark.python.daemon.module", "pythonvectordb_spark.daemon")
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
