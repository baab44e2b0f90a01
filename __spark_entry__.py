"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the paper's pipeline: the along-track IDW depth
profile of a synthetic storm track against the in-engine HYCOM grid.
It needs no test data. Each ``queries()[name]`` is compared at sf=0.01
against the matching ``oracle_sql()[name]`` via DuckDB (row-count +
schema + order-insensitive value hash; ``tools/check_queries.py``).

All queries live in ``modeltracking_spark/queries/`` and register
themselves through the ``@query`` decorator; this module only forwards
the registries.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the package lives next to this file; make the import robust to the
# driver invoking us from any working directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from modeltracking_spark.queries import load_registries


def entry(spark: SparkSession) -> DataFrame:
    """The track×grid pipeline of SURVEY.md §7.6: the 80-point synthetic
    track -> 3x3 grid neighbourhood join -> IDW aggregate over 25 depths.

    Returns the long profile ``(point_id, depth_idx, depth_m, n_valid,
    idw_value)``, 2,000 rows.
    """
    from modeltracking_spark.fixtures import hycom_grid_fixture
    from modeltracking_spark.operators.profile import profile_along_track
    from modeltracking_spark.queries.timegeo import synthetic_track

    return profile_along_track(synthetic_track(spark), hycom_grid_fixture(spark))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable takes (spark, sf_dir) and returns a DataFrame.
    Every computed/aggregate column is aliased to match ``oracle_sql``.
    """
    q, _ = load_registries()
    return q


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each oracle-expressible query.

    Keys missing here (present in ``queries()``) are genuinely
    non-SQL-expressible ops; the driver records a rows-only check.
    """
    _, o = load_registries()
    return o
