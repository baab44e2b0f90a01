"""Entry-point smoke: entry() is the exact track×grid profile; every
oracle key has a query and PRIORITY leads the registry; linear_fit
operator agrees with the integer-exact formula."""

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
import pyspark.sql.functions as F

from modeltracking_spark.fixtures import GRID_N_TIME
from modeltracking_spark.operators.aggregates import linear_fit
from modeltracking_spark.queries.timegeo import synthetic_track
from perfbench import reference


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.columns == [
        "point_id", "depth_idx", "depth_m", "n_valid", "idw_value",
    ]
    rows = df.collect()
    assert len(rows) == 2000  # 80 track points x 25 depths
    points = [tuple(r) for r in synthetic_track(spark).collect()]
    want = reference.expected_profile(points, GRID_N_TIME)
    assert reference.profile_mismatches(rows, want) == []


def test_registry_consistency(spark):
    from modeltracking_spark.queries import PRIORITY

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 40
    assert set(oracles) <= set(qs)  # every oracle has a query
    # >= 40 oracled entries (the correctness gate)
    assert len(oracles) >= 40
    # PRIORITY names registered queries only, and leads the registry
    dangling = sorted(set(PRIORITY) - set(qs))
    assert not dangling, f"queries.PRIORITY names unregistered queries: {dangling}"
    assert list(qs)[:len(PRIORITY)] == list(PRIORITY)


def test_linear_fit_operator_matches_formula(spark):
    # y = 2x + 1 exactly -> slope/intercept recovered
    df = spark.createDataFrame(
        [(float(x), 2.0 * x + 1.0) for x in range(50)], "x double, y double"
    )
    r = linear_fit(df, "x", "y").first()
    assert abs(r["slope"] - 2.0) < 1e-9 and abs(r["intercept"] - 1.0) < 1e-9
    assert r["n"] == 50
