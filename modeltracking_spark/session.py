"""SparkSession factory tuned for this engine.

Used by ``perfbench/`` (the tests' ``conftest.py`` builds its own
session). A caller of ``queries()`` may pass its own session into the
callables, so nothing in the query layer may *depend* on these configs —
they are performance posture only.

Scale posture:
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
- Broadcast threshold raised to 64 MB: a join's small side is
  broadcast, not shuffled.
- Arrow on: any residual pandas interchange is columnar.
- Python workers fork from :mod:`modeltracking_spark.worker_daemon`
  (``spark.python.daemon.module``), which imports pyspark from the
  installed package directory instead of Spark's ``pyspark.zip``. On
  CPython 3.11 each task's ``importlib.invalidate_caches()`` re-reads
  every cached zip's central directory: 0.13-0.35 s per scan or RDD task
  with the zip, about 1 ms without (4 vCPUs). The daemon is found
  through ``spark.executorEnv.PYTHONPATH``, the directory holding this
  package, so it starts from a driver cwd outside the repo too. The
  DataSource planner's round trips (``.load()``'s ``schema()`` and the
  pushdown) fork from Spark's fixed ``pyspark.daemon`` and keep the cost.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "modeltracking-spark",
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard posture."""
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = str(max(2 * int(cpus), 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE right-size the output partitioning of cached plans
        # (off by default): a cached intermediate keeps shuffle.partitions
        # micro-partitions otherwise, and every downstream consumer job
        # pays per-partition scheduling for them. Sizing is byte-driven
        # (advisoryPartitionSizeInBytes), so a 100 TB cached relation
        # keeps thousands of partitions while a KB-scale one collapses
        # to a handful — scale-adaptive, not a local-mode constant.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # with DataFrame debugging on, every PySpark Column call makes extra
        # py4j round trips to record its Python call site: building a
        # 1000-storm fleet profile_along_track plan took 0.34-0.37 s with it
        # on and 0.27-0.28 s off (4 vCPUs). PySpark reads the flag from the
        # session active at the first Column call and caches it for the
        # whole process (pyspark/errors/utils.py, is_debugging_enabled), so
        # a process whose first Column call ran under another session keeps
        # that session's setting.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # workers import pyspark from a directory (module docstring)
        .config("spark.python.daemon.module", "modeltracking_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
