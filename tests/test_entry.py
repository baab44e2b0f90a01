"""Entry-point smoke: entry() is the exact track×grid profile; the
in-engine fixtures are their oracle SQL texts, bit for bit in Spark and
DuckDB; every oracle key has a query and PRIORITY leads the registry;
linear_fit operator agrees with the integer-exact formula."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod
import duckdb
import numpy as np
import pyspark.sql.functions as F

from modeltracking_spark.fixtures import (
    GRID_LAT0,
    GRID_LAT_STEP,
    GRID_LON0,
    GRID_LON_STEP,
    GRID_N_TIME,
    GRID_TIME_STEP,
    HYCOM_GRID_SQL,
    grid_coords,
    hycom_grid_fixture,
)
from modeltracking_spark.operators.aggregates import linear_fit
from modeltracking_spark.queries.timegeo import TRACK_SQL, synthetic_track
from modeltracking_spark.schemas import axis_metadata, hycom_grid_schema
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


def _bits(table, keys):
    """``table`` sorted by ``keys``, each column as raw bits (doubles
    viewed as int64, so -0.0 and 0.0 differ)."""
    t = table.sort_by([(k, "ascending") for k in keys])
    cols = {}
    for name in t.column_names:
        a = t.column(name).to_numpy()
        cols[name] = a.view(np.int64) if a.dtype == np.float64 else a
    return cols


def _assert_same_bits(duck, spark_table, keys):
    assert duck.schema.names == spark_table.schema.names
    assert duck.schema.types == spark_table.schema.types
    assert duck.num_rows == spark_table.num_rows
    want, got = _bits(duck, keys), _bits(spark_table, keys)
    for name in want:
        assert np.array_equal(want[name], got[name]), name


def test_fixtures_are_their_oracle_sql(spark):
    """Spark and DuckDB run one text per fixture, so an edit to
    ``HYCOM_GRID_SQL`` or ``TRACK_SQL`` in syntax only one engine accepts
    fails here. One time step of the grid (197k rows) and the whole
    track must agree bit for bit, and the grid carries the package's one
    grid schema, axis records included."""
    step = 5 * GRID_TIME_STEP
    with duckdb.connect() as con:
        duck_grid = con.execute(
            f"SELECT * FROM ({HYCOM_GRID_SQL}) WHERE time_hours = {step}"
        ).fetch_arrow_table()
        duck_track = con.execute(TRACK_SQL).fetch_arrow_table()
    grid = hycom_grid_fixture(spark)
    coords = grid_coords()
    schema = hycom_grid_schema(None, coords["time"], coords["lat"],
                               coords["lon"])
    # the records derived from the fixture's vectors are its constants
    assert [schema[c].metadata for c in ("time_hours", "lat", "lon")] == [
        axis_metadata(0, GRID_TIME_STEP),
        axis_metadata(GRID_LAT0, GRID_LAT_STEP),
        axis_metadata(GRID_LON0, GRID_LON_STEP),
    ]
    # names, types and axis records as declared; ``.to`` keeps a column
    # the SQL never makes NULL as NOT NULL, which the schema allows
    assert [(f.name, f.dataType, f.metadata) for f in grid.schema] == [
        (f.name, f.dataType, f.metadata) for f in schema
    ]
    assert all(f.nullable <= s.nullable for f, s in zip(grid.schema, schema))
    _assert_same_bits(
        duck_grid,
        grid.where(F.col("time_hours") == step).toArrow(),
        ["depth_idx", "lat_idx", "lon_idx"],
    )
    _assert_same_bits(duck_track, synthetic_track(spark).toArrow(), ["point_id"])


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
