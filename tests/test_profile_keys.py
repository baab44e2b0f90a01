"""Fixed-width keys in the profile operator: the packed node join key, the
fleet's surrogate track key and its dictionary, with the profile rows
unchanged (checked against perfbench/reference.py)."""

import random

import pyspark.sql.functions as F
import pytest

from modeltracking_spark.fixtures import (
    GRID_LAT0,
    GRID_LAT_STEP,
    GRID_LON0,
    GRID_LON_STEP,
    GRID_N_TIME,
    hycom_grid_fixture,
)
from modeltracking_spark.operators import profile
from modeltracking_spark.operators.profile import profile_along_track
from modeltracking_spark.queries.timegeo import synthetic_track
from modeltracking_spark.sources.tracks import read_nhc_best_track
from perfbench import inputs, reference

TRACK_DDL = "point_id long, lat double, lon double, t_hours long"
N_STORMS = 12


def _rows(df, key_col=None):
    """``{([track id,] point_id, depth_idx): (depth_m, n_valid, idw)}``"""
    return {
        ((r[key_col],) if key_col else ()) + (r["point_id"], r["depth_idx"]):
        (r["depth_m"], r["n_valid"], r["idw_value"])
        for r in df.collect()
    }


def _named_fleet(spark, names):
    """The synthetic track shifted per storm, with a string storm id."""
    t = synthetic_track(spark)
    fleet = None
    for k, name in enumerate(names):
        one = t.select(
            F.lit(name).cast("string").alias("stormname"),
            "point_id",
            (F.col("lat") + F.lit(0.5 * k)).alias("lat"),
            (F.col("lon") - F.lit(1.2 * k)).alias("lon"),
            "t_hours",
        )
        fleet = one if fleet is None else fleet.unionByName(one)
    return fleet


def test_string_fleet_from_best_track_matches_reference(spark, tmp_path):
    rng = random.Random("fleet-keys")
    storms = [inputs.make_storm(rng, GRID_N_TIME) for _ in range(N_STORMS)]
    inputs.write_season(str(tmp_path), storms, 3)
    tracks = inputs.season_points(storms)
    fleet = read_nhc_best_track(spark, str(tmp_path)).select(
        "stormname", F.col("t_hours").alias("point_id"), "lat", "lon",
        "t_hours",
    )
    got = profile_along_track(
        fleet, hycom_grid_fixture(spark), track_col="stormname"
    ).collect()
    assert {r["stormname"] for r in got} == set(tracks)
    for name, points in tracks.items():
        mine = [r for r in got if r["stormname"] == name]
        assert mine
        assert reference.profile_mismatches(
            mine, reference.expected_profile(points, GRID_N_TIME)
        ) == [], name


def test_surrogate_collision_names_the_track_column(spark, monkeypatch):
    monkeypatch.setattr(
        profile, "_track_surrogate", lambda c: F.lit(7).cast("long")
    )
    prof = profile_along_track(
        _named_fleet(spark, ["ALEX", "BONNIE"]), hycom_grid_fixture(spark),
        track_col="stormname",
    )
    with pytest.raises(Exception, match="track column stormname"):
        prof.collect()


@pytest.mark.parametrize("column, bad", [
    ("lat_idx", 1 << 19),
    ("lon_idx", -(1 << 19) - 1),
    ("time_hours", 1 << 23),
])
def test_grid_index_outside_packed_range_raises(spark, column, bad):
    grid = hycom_grid_fixture(spark).where(F.col("time_hours") == 0)
    # move one node out of range; its neighbours keep their keys
    grid = grid.withColumn(column, F.when(
        (F.col("lat_idx") == 5) & (F.col("lon_idx") == 5),
        F.lit(bad).cast(grid.schema[column].dataType),
    ).otherwise(F.col(column))).withMetadata(
        column, grid.schema[column].metadata)  # keep time_hours' axis record
    track = spark.createDataFrame(
        [(7, 0, GRID_LAT0 + GRID_LAT_STEP, GRID_LON0 + GRID_LON_STEP, 0)],
        "storm_id int, " + TRACK_DDL,
    )
    prof = profile_along_track(track, grid, track_col="storm_id")
    with pytest.raises(Exception, match=f"grid column {column}"):
        prof.collect()


@pytest.mark.parametrize("track_col", [None, "stormname"])
def test_far_off_grid_point_matches_nothing(spark, track_col):
    """A point snapped to (la - 1, lo + 2^20) would, if the key wrapped
    lon_idx into lat_idx, alias node (la, lo) and its neighbours exactly.
    It must join nothing and leave the other point as it was. So must a
    point whose node index is past the int range (lon 1e12, lat -1e12)."""
    la, lo, t = 40, 30, 12
    fars = [
        (999, GRID_LAT0 + (la - 1) * GRID_LAT_STEP,
         GRID_LON0 + (lo + (1 << 20)) * GRID_LON_STEP, t),
        (999, GRID_LAT0 + la * GRID_LAT_STEP, 1e12, t),
        (999, -1e12, GRID_LON0 + lo * GRID_LON_STEP, t),
    ]
    near = [(1, GRID_LAT0 + la * GRID_LAT_STEP + 0.05,
             GRID_LON0 + lo * GRID_LON_STEP - 0.1, t)]
    grid = hycom_grid_fixture(spark)

    def run(points):
        track = spark.createDataFrame(points, TRACK_DDL)
        if track_col:
            track = track.withColumn(track_col, F.lit("IAN"))
        return profile_along_track(track, grid, track_col=track_col)

    alone = run(near)
    for far in fars:
        assert _rows(run(near + [far]), track_col) == _rows(alone, track_col)
    assert reference.profile_mismatches(
        alone.collect(), reference.expected_profile(near, GRID_N_TIME)
    ) == []


@pytest.mark.parametrize("track_col", [None, "stormname"])
@pytest.mark.parametrize("axis, value, shown", [
    ("lat", float("nan"), "NaN"),
    ("lon", float("inf"), "Infinity"),
    ("lat", float("-inf"), "-Infinity"),
])
def test_unsnappable_coordinate_names_the_axis(spark, track_col, axis,
                                               value, shown):
    """A NaN or infinite coordinate has no node: the profile fails with an
    error naming the grid axis and the value, not a cast overflow or a
    snap to node 0."""
    point = {"lat": GRID_LAT0 + 3 * GRID_LAT_STEP,
             "lon": GRID_LON0 + 3 * GRID_LON_STEP, axis: value}
    track = spark.createDataFrame([(1, point["lat"], point["lon"], 12)],
                                  TRACK_DDL)
    if track_col:
        track = track.withColumn(track_col, F.lit("IAN"))
    with pytest.raises(Exception, match=f"grid axis {axis}: track value "
                                        f"{shown} cannot be snapped"):
        profile_along_track(
            track, hycom_grid_fixture(spark), track_col=track_col
        ).collect()


def test_null_track_id_keeps_its_group(spark):
    """A NULL storm id is one group with a NULL id, exactly the solo
    profile of its track."""
    fleet = _named_fleet(spark, ["ALEX", None])
    grid = hycom_grid_fixture(spark)
    got = _rows(profile_along_track(fleet, grid, track_col="stormname"),
                "stormname")
    for name in ("ALEX", None):
        solo = fleet.where(F.col("stormname").eqNullSafe(F.lit(name)))
        want = {(name,) + k: v
                for k, v in _rows(profile_along_track(solo, grid)).items()}
        assert {k: v for k, v in got.items() if k[0] == name} == want
    assert {k[0] for k in got} == {"ALEX", None}


def _plan_nodes(node, path=()):
    yield node, path
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i), path + (node,))


def test_fleet_plan_keys_are_fixed_width(spark):
    prof = profile_along_track(
        _named_fleet(spark, ["ALEX", "BONNIE", "COLIN"]),
        hycom_grid_fixture(spark), track_col="stormname",
    )
    root = prof._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.executedPlan()
    fixed = spark._jvm.org.apache.spark.sql.catalyst.expressions.UnsafeRow
    nodes = list(_plan_nodes(root))
    joins = [(n, p) for n, p in nodes if n.nodeName() == "BroadcastHashJoin"]
    for j, _ in joins:
        assert j.leftKeys().size() == 1 and j.rightKeys().size() == 1
        assert j.leftKeys().apply(0).dataType().typeName() == "long"
    fleet = [(j, p) for j, p in joins
             if j.leftKeys().apply(0).toString().startswith("__node")]
    assert len(fleet) == 1
    aggs = [n for n, _ in nodes if n.nodeName().endswith("Aggregate")]
    assert aggs
    for a in aggs:
        keys = a.groupingExpressions()
        for i in range(keys.size()):
            assert fixed.isFixedLength(keys.apply(i).dataType()), (
                f"{a.nodeName()} groups on {keys.apply(i)}"
            )
    _, above = fleet[0]
    assert sum(n.nodeName() == "Exchange" for n in above) == 1
