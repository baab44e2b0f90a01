"""J1-J4 join operators: as-of argmin on irregular axes (with NULLs and
duplicate left rows), strict interval bounds, snap and neighborhood
geometry (SURVEY.md §5.3)."""

import math
import random

import pyspark.sql.functions as F
import pytest

from modeltracking_spark.fixtures import (
    GRID_LAT0,
    GRID_LAT_STEP,
    GRID_LON0,
    GRID_LON_STEP,
    GRID_N_LAT,
    GRID_N_LON,
    hycom_grid_fixture,
)
from modeltracking_spark.operators.joins import (
    asof_join,
    grid_snap_join,
    interval_join,
    neighborhood_expand,
)
from modeltracking_spark.schemas import axis_metadata


def _mk_right(spark):
    # irregular right axis per key (find_time_index operates on the grid's
    # irregular time list, trackplot_hycom.py:186-197)
    rows = [("a", t, f"p{t}") for t in [0, 7, 9, 30]] + [
        ("b", t, f"q{t}") for t in [5, 6, 50]
    ]
    return spark.createDataFrame(rows, "k string, rts long, payload string")


def test_asof_backward_forward(spark):
    left = spark.createDataFrame(
        [("a", 8), ("a", 31), ("b", 4), ("b", 6)], "k string, lts long"
    )
    right = _mk_right(spark)
    back = asof_join(left, right, ["k"], "lts", "rts", ["payload"], "backward")
    got = {(r["k"], r["lts"]): r["payload"] for r in back.collect()}
    assert got == {("a", 8): "p7", ("a", 31): "p30", ("b", 4): None, ("b", 6): "q6"}
    fwd = asof_join(left, right, ["k"], "lts", "rts", ["payload"], "forward")
    got = {(r["k"], r["lts"]): r["payload"] for r in fwd.collect()}
    assert got == {("a", 8): "p9", ("a", 31): None, ("b", 4): "q5", ("b", 6): "q6"}


def test_asof_nearest_argmin(spark):
    # true argmin of |t_r - t_l|; backward wins exact ties
    left = spark.createDataFrame(
        [("a", 8), ("a", 20), ("b", 5), ("b", 100)], "k string, lts long"
    )
    right = _mk_right(spark)
    out = asof_join(left, right, ["k"], "lts", "rts", ["payload"], "nearest")
    got = {(r["k"], r["lts"]): r["payload"] for r in out.collect()}
    # a@8: |8-7|=1 vs |8-9|=1 -> tie -> backward p7; a@20: 9 (11) vs 30 (10) -> p30
    assert got == {("a", 8): "p7", ("a", 20): "p30", ("b", 5): "q5", ("b", 100): "q50"}


def test_asof_nearest_null_and_duplicate_left(spark):
    # duplicate left rows must not fan out; NULL payload columns survive
    left = spark.createDataFrame(
        [("a", 8), ("a", 8), ("c", 1)], "k string, lts long"
    )
    right = _mk_right(spark)
    out = asof_join(left, right, ["k"], "lts", "rts", ["payload"], "nearest")
    rows = out.collect()
    assert len(rows) == 3  # 2 duplicates + 1 unmatched key
    a_rows = [r for r in rows if r["k"] == "a"]
    assert len(a_rows) == 2 and all(r["payload"] == "p7" for r in a_rows)
    c_row = [r for r in rows if r["k"] == "c"][0]
    assert c_row["payload"] is None


def test_interval_strict_vs_inclusive(spark):
    facts = spark.createDataFrame([(0,), (5,), (10,)], "t long")
    ranges = spark.createDataFrame([(0, 10, "r")], "s long, e long, lab string")
    strict = interval_join(facts, ranges, "t", "s", "e")
    assert [r["t"] for r in strict.collect()] == [5]  # bounds excluded
    incl = interval_join(facts, ranges, "t", "s", "e", inclusive=True)
    assert sorted(r["t"] for r in incl.collect()) == [0, 5, 10]


def test_grid_snap_and_neighborhood(spark):
    grid = spark.createDataFrame(
        [(i, j, float(10 * i + j)) for i in range(5) for j in range(5)],
        "lat_idx int, lon_idx int, val double",
    )
    grid = grid.select(
        "*",
        (20.0 + F.col("lat_idx") * 0.25).alias(
            "lat", metadata=axis_metadata(20.0, 0.25)),
        (30.0 + F.col("lon_idx") * 0.25).alias(
            "lon", metadata=axis_metadata(30.0, 0.25)),
    )
    pts = spark.createDataFrame(
        [(1, 20.26, 30.49), (2, 20.99, 30.0)], "pid int, lat double, lon double"
    )
    out = grid_snap_join(pts, grid)
    got = {r["pid"]: (r["lat_idx"], r["lon_idx"]) for r in out.collect()}
    assert got == {1: (1, 2), 2: (4, 0)}

    nb = neighborhood_expand(
        spark.createDataFrame([(2, 2)], "lat_idx int, lon_idx int")
    )
    cells = {(r["nb_lat_idx"], r["nb_lon_idx"]) for r in nb.collect()}
    assert cells == {(i, j) for i in (1, 2, 3) for j in (1, 2, 3)}


def test_grid_snap_uses_each_axis_record(spark):
    """The fixture's lat and lon axes have different steps (0.25 and
    0.6); every point snaps per axis to floor((x - origin) / step + 0.5)
    and joins exactly its node."""
    grid = hycom_grid_fixture(spark).where(
        (F.col("time_hours") == 0) & (F.col("depth_idx") == 0))
    rng = random.Random(10)
    lat_hi = GRID_LAT0 + (GRID_N_LAT - 1) * GRID_LAT_STEP
    lon_hi = GRID_LON0 + (GRID_N_LON - 1) * GRID_LON_STEP
    points = [
        (pid, rng.uniform(GRID_LAT0, lat_hi), rng.uniform(GRID_LON0, lon_hi))
        for pid in range(50)
    ]
    pts = spark.createDataFrame(points, "pid int, lat double, lon double")
    rows = grid_snap_join(pts, grid).collect()
    snap = lambda x, origin, step: math.floor((x - origin) / step + 0.5)
    assert {r["pid"]: (r["lat_idx"], r["lon_idx"]) for r in rows} == {
        pid: (snap(lat, GRID_LAT0, GRID_LAT_STEP),
              snap(lon, GRID_LON0, GRID_LON_STEP))
        for pid, lat, lon in points
    }
    assert len(rows) == len(points)
    for r in rows:
        assert r["g_lat"] == pytest.approx(GRID_LAT0 + r["lat_idx"] * GRID_LAT_STEP)
        assert r["g_lon"] == pytest.approx(GRID_LON0 + r["lon_idx"] * GRID_LON_STEP)


def test_grid_snap_without_axis_record_raises_before_any_job(spark):
    grid = hycom_grid_fixture(spark).withColumn("lat", F.col("lat") + 0)
    pts = spark.createDataFrame(
        [(1, 20.0, 300.0)], "pid int, lat double, lon double")
    sc = spark.sparkContext
    sc.setJobGroup("snap-no-axis-record", "snap-no-axis-record")
    try:
        with pytest.raises(ValueError, match="grid column 'lat'"):
            grid_snap_join(pts, grid)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("snap-no-axis-record") == []


def test_point_in_polygon_golden_and_edge_behavior(spark):
    """Unit square polygon: strict interior in, far exterior out;
    concave polygon handled (two crossings); winding direction
    irrelevant."""
    import pyspark.sql.functions as F

    from modeltracking_spark.operators.joins import point_in_polygon_join

    polys = spark.createDataFrame(
        [
            (1, [0, 10, 10, 0], [0, 0, 10, 10]),              # unit square x10
            (2, [20, 30, 30, 26, 26, 20], [0, 0, 10, 10, 4, 4]),  # concave L
            (3, [0, 0, 10, 10], [10, 0, 0, 10]),              # reversed winding
        ],
        "poly_id int, xs array<long>, ys array<long>",
    )
    pts = spark.createDataFrame(
        [
            (1, 5, 5),     # inside square (and its reversed twin)
            (2, 15, 5),    # left of the L's vertical bar -> outside
            (3, 28, 7),    # inside the L's vertical bar
            (4, 22, 7),    # above the L's foot, left of the bar -> outside
            (5, 28, 2),    # inside the L's foot
            (6, 27, 5),    # inside the vertical bar
        ],
        "pt long, px long, py long",
    )
    got = {
        (r["pt"], r["poly_id"])
        for r in point_in_polygon_join(pts, polys).collect()
    }
    assert got == {(1, 1), (1, 3), (3, 2), (5, 2), (6, 2)}


def test_point_in_polygon_degenerate_polygons_dropped(spark):
    from modeltracking_spark.operators.joins import point_in_polygon_join

    polys = spark.createDataFrame(
        [(1, [], []), (2, [5], [5]), (3, [0, 10, 10, 0], [0, 0, 10, 10])],
        "poly_id int, xs array<long>, ys array<long>",
    )
    pts = spark.createDataFrame([(1, 5, 5)], "pt long, px long, py long")
    got = {(r["pt"], r["poly_id"])
           for r in point_in_polygon_join(pts, polys).collect()}
    assert got == {(1, 3)}     # empty/degenerate polygons match nothing


def test_bloom_prune_join_rejects_outer_join_types(spark):
    """ADVICE r8 medium: the Bloom prefilter drops non-matching FACT
    rows before the join, which is only sound for inner/semi semantics
    — an outer join would have kept those rows null-padded. The
    operator must refuse outer types loudly, and inner/semi must stay
    row-identical to the plain join."""
    import pytest

    from modeltracking_spark.operators.bloomjoin import bloom_prune_join

    fact = spark.createDataFrame(
        [(i, i % 7) for i in range(200)], "f_id long, f_key long"
    )
    dim = spark.createDataFrame(
        [(2, "a"), (5, "b")], "d_key long, d_val string"
    )
    for how in ("left", "leftouter", "left_outer", "right", "full",
                "fullouter", "leftanti", "anti"):
        with pytest.raises(ValueError, match="not prefilter-sound"):
            bloom_prune_join(fact, dim, "f_key", "d_key", how=how)
    inner = bloom_prune_join(fact, dim, "f_key", "d_key", how="inner")
    plain = fact.join(dim, fact["f_key"] == dim["d_key"], "inner")
    assert sorted(map(tuple, inner.collect())) == sorted(
        map(tuple, plain.collect())
    )
    semi = bloom_prune_join(fact, dim, "f_key", "d_key", how="leftsemi")
    plain_semi = fact.join(dim, fact["f_key"] == dim["d_key"], "leftsemi")
    assert sorted(map(tuple, semi.collect())) == sorted(
        map(tuple, plain_semi.collect())
    )
