"""SparkSession factory tuned for this engine.

Used by tests and ``bench.py``. The driver's correctness harness passes its
own session into ``queries()`` callables, so nothing in the query layer may
*depend* on these configs — they are performance posture only.

Scale posture (local[32] here, 1000-executor cluster in spirit):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
- Broadcast threshold raised: the dimension tables (region/nation/supplier/
  part/catalog) are always broadcast, never shuffled.
- Arrow on: any residual pandas interchange is columnar.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "modeltracking-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard posture."""
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = str(shuffle_partitions or max(2 * int(cpus), 8))
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
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
