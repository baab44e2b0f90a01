"""Driver-contract smoke: entry() produces rows; every oracle key, and
every name the priority window, bench.py and tools/dump_plans.py pin, has
a query; linear_fit operator agrees with the integer-exact formula."""

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
import pyspark.sql.functions as F

from modeltracking_spark.operators.aggregates import linear_fit


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "day_idx", "event_type", "n_events", "sum_cents", "min_cents", "max_cents",
    ]


def test_registry_consistency(spark):
    import bench
    from modeltracking_spark.queries import PRIORITY
    from tools.dump_plans import NOTES

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 40
    assert set(oracles) <= set(qs)  # every oracle has a query
    # >= 40 oracled entries (the correctness gate)
    assert len(oracles) >= 40
    # every list that names queries names registered ones only
    for where, names in (
        ("queries.PRIORITY", PRIORITY),
        ("bench.HEADLINE", bench.HEADLINE),
        ("bench.ANCHOR", bench.ANCHOR),
        ("tools/dump_plans.py NOTES", NOTES),
    ):
        dangling = sorted(set(names) - set(qs))
        assert not dangling, f"{where} names unregistered queries: {dangling}"


def test_linear_fit_operator_matches_formula(spark):
    # y = 2x + 1 exactly -> slope/intercept recovered
    df = spark.createDataFrame(
        [(float(x), 2.0 * x + 1.0) for x in range(50)], "x double, y double"
    )
    r = linear_fit(df, "x", "y").first()
    assert abs(r["slope"] - 2.0) < 1e-9 and abs(r["intercept"] - 1.0) < 1e-9
    assert r["n"] == 50
