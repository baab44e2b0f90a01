"""SparkSession factory tuned for this engine.

Used by ``perfbench/`` (the tests' ``conftest.py`` builds its own
session and calls :func:`ensure_pkg_on_workers` on it). A caller of
``queries()`` may pass its own session into the callables, so nothing in
the query layer may *depend* on these configs — they are performance
posture only.

Scale posture:
- AQE as Spark's default has it (on, with shuffle-partition coalescing
  and skew-join splitting), and allowed to re-partition cached plans.
- Broadcast threshold raised to 64 MB: a join's small side is
  broadcast, not shuffled.
- Arrow on: any residual pandas interchange is columnar.

The Python workers' path is set in one place, :func:`ensure_pkg_on_workers`.
Its first entry is the start-up hook in
:mod:`modeltracking_spark.worker_site`, which imports pyspark from the
installed package directory instead of Spark's ``pyspark.zip``: on
CPython 3.11 each task's ``importlib.invalidate_caches()`` re-reads
every cached zip's central directory, 0.13-0.35 s per task with the zip
and well under 1 ms without (4 vCPUs). The second is the directory holding this package. pyspark
copies the SparkContext's ``environment`` into ``PythonFunction.envVars``
when it wraps a function, and every Python worker gets those: the scan and
RDD tasks' daemons and the DataSource planner's (``.load()``'s
``schema()`` and the pushdown). Spark 4.1's ``PythonPlannerRunner``
starts the planner's worker through the 4-argument
``SparkEnv.createPythonWorker``, always from ``pyspark.daemon``, so
``spark.python.daemon.module`` never reaches it; it releases the worker
after use, so planner workers are reused. ``PythonWorkerFactory`` puts
Spark's archives ahead of ``PYTHONPATH``, so only code run at interpreter
start can take them off the path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from modeltracking_spark.worker_site import SITE_DIR

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the workers' start-up hook, then this package (module docstring)
WORKER_PYTHONPATH = os.pathsep.join((SITE_DIR, _PACKAGE_PARENT))


def ensure_pkg_on_workers(spark: SparkSession) -> None:
    """Put :data:`WORKER_PYTHONPATH` ahead of the session's own workers'
    ``PYTHONPATH``.

    Queries that run Python on executors cloudpickle functions BY
    REFERENCE to this package, so workers must import it, also from a
    driver cwd outside the repo. Idempotent, with the same string every
    call: Spark keys its worker daemons by this environment, and a new
    string starts a cold one. A DataSource registered or a UDF built
    before the call keeps its old copy. The entries are the driver host's
    directories: fine in local mode, the engine's supported posture; on
    a multi-host cluster the executors need the package installed."""
    try:
        env = spark.sparkContext.environment
    except Exception:
        # Spark Connect session: no SparkContext handle; Connect ships
        # artifacts differently and classic local mode (the harness
        # environment) never hits this branch.
        return
    ours = WORKER_PYTHONPATH.split(os.pathsep)
    rest = [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
            if p and p not in ours]
    env["PYTHONPATH"] = os.pathsep.join(ours + rest)


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
    spark = builder.getOrCreate()
    # also on a running context, whose executorEnv settings are fixed
    ensure_pkg_on_workers(spark)
    return spark
