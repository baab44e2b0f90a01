"""A2 IDW semantics + the end-to-end profile pipeline (SURVEY.md §5.2,
§5.4): at-node identity, bounds, sentinel masking, 80x25 golden shape."""

import pyspark.sql.functions as F

from modeltracking_spark.fixtures import GRID_N_TIME, hycom_grid_fixture
from modeltracking_spark.operators.aggregates import idw_weighted_mean, mask_sentinel
from modeltracking_spark.operators.joins import axis_index
from modeltracking_spark.operators.profile import K_DEPTHS, profile_along_track
from modeltracking_spark.queries.timegeo import synthetic_track
from modeltracking_spark.schemas import axis_metadata


def test_idw_at_node_identity(spark):
    # point exactly on a grid node: w_center ~ 1e12 dominates -> IDW == node value
    rows = [(1, 0.0, 25.0)] + [(1, 0.25, float(v)) for v in (5, 8, 30, 2)]
    df = spark.createDataFrame(rows, "g int, d double, v double")
    out = idw_weighted_mean(
        df.withColumn("w", 1.0 / ((F.col("d") + 1e-6) * (F.col("d") + 1e-6))),
        ["g"], "v", "w",
    )
    assert abs(out.first()["idw_value"] - 25.0) < 1e-6


def test_idw_bounded_by_neighborhood(spark):
    vals = [3.0, 7.0, 11.0, 19.0]
    df = spark.createDataFrame(
        [(1, 0.1 * (i + 1), v) for i, v in enumerate(vals)], "g int, d double, v double"
    ).withColumn("w", 1.0 / ((F.col("d") + 1e-6) * (F.col("d") + 1e-6)))
    got = idw_weighted_mean(df, ["g"], "v", "w").first()["idw_value"]
    assert min(vals) <= got <= max(vals)


def test_idw_normalizer_skips_masked(spark):
    # notebook semantics (authoritative, ipynb:40-47): masked neighbors do
    # not dilute the normalizer — vs the script's bias (trackplot:31-32)
    df = spark.createDataFrame(
        [(1, 1.0, 10.0), (1, 1.0, -30000.0)], "g int, d double, v double"
    ).withColumn("w", 1.0 / ((F.col("d") + 1e-6) * (F.col("d") + 1e-6)))
    out = idw_weighted_mean(df, ["g"], mask_sentinel("v"), "w").first()
    assert abs(out["idw_value"] - 10.0) < 1e-9
    assert out["n_valid"] == 1


def test_sentinel_threshold(spark):
    df = spark.createDataFrame(
        [(-30000.0,), (-4.0,), (-3.9,), (0.0,)], "v double"
    ).select(mask_sentinel("v").alias("m"))
    assert [r["m"] for r in df.collect()] == [None, None, -3.9, 0.0]


def test_nearest_time_bucket(spark):
    grid = spark.range(0).select(F.col("id").alias(
        "time_hours", metadata=axis_metadata(0, 3)))
    df = spark.createDataFrame([(t,) for t in range(10)], "t long").select(
        "t", (axis_index(F.col("t"), grid, "time_hours") * 3).alias("b")
    )
    got = {r["t"]: r["b"] for r in df.collect()}
    assert got == {0: 0, 1: 0, 2: 3, 3: 3, 4: 3, 5: 6, 6: 6, 7: 6, 8: 9, 9: 9}


def test_half_step_ties_fall_outside_at_both_ends(spark):
    """On an even-step time axis a point exactly half a step before the
    first step, or after the last, snaps off the grid and gets no rows;
    one hour inside either tie it snaps to the end step."""
    origin, step = 10, 6
    last = origin + (GRID_N_TIME - 1) * step
    grid = hycom_grid_fixture(spark).withColumn(
        "time_hours", F.col("time_hours") * 2 + origin
    ).withMetadata("time_hours", axis_metadata(origin, step))
    ts = [origin - step // 2, origin - step // 2 + 1,
          last + step // 2 - 1, last + step // 2]
    track = spark.createDataFrame(
        [(t, 20.0, 285.0, t) for t in ts],
        "point_id long, lat double, lon double, t_hours long",
    )
    for track_col, t in ((None, track), ("storm_id", track.withColumn(
            "storm_id", F.lit(1)))):
        got = profile_along_track(t, grid, track_col=track_col).collect()
        per_point = {p: sum(r["point_id"] == p for r in got) for p in ts}
        assert per_point == {ts[0]: 0, ts[1]: K_DEPTHS, ts[2]: K_DEPTHS,
                             ts[3]: 0}, track_col


def test_profile_golden_shape(spark):
    # SURVEY §5.4: 80 points x 25 depth levels = 2000 rows
    prof = profile_along_track(
        synthetic_track(spark), hycom_grid_fixture(spark), "water_temp"
    )
    rows = prof.collect()
    assert len(rows) == 2000
    by_point = {}
    for r in rows:
        by_point.setdefault(r["point_id"], []).append(r)
        assert 0 <= r["n_valid"] <= 9
        if r["idw_value"] is not None:
            assert 0.0 <= r["idw_value"] <= 19.9  # grid temp range
    assert len(by_point) == 80
    assert all(len(v) == 25 for v in by_point.values())


def test_resample_arclength_properties(spark):
    """Resampled points lie ON the original polyline at equal arc
    spacing: s values are k*step, interpolated coords linear between
    the bracketing fixes, and endpoints within one step of the track
    ends."""
    from modeltracking_spark.operators.profile import resample_track_arclength
    from modeltracking_spark.queries.timegeo import synthetic_track

    out = sorted(
        resample_track_arclength(synthetic_track(spark), step_deg=0.5).collect(),
        key=lambda r: r["k"],
    )
    assert [r["k"] for r in out] == list(range(len(out)))
    for r in out:
        assert r["s_deg_e6"] == r["k"] * 500000
    # straight-line track: resampled lats must ramp monotonically and
    # stay within the track's lat range
    lats = [r["lat_e6"] / 1e6 for r in out]
    assert all(b > a for a, b in zip(lats, lats[1:]))
    assert 15.0 <= lats[0] and lats[-1] <= 34.75
    # equal arc spacing implies equal lat increments on a straight
    # line — constant up to the e6 output rounding (±1 µdeg)
    incs = [round(b - a, 6) for a, b in zip(lats, lats[1:])]
    assert max(incs) - min(incs) <= 2e-6 + 1e-12


def test_resample_oracle_target_bound_holds(spark):
    # the SQL oracle enumerates targets from a fixed range(0, 1000);
    # the synthetic track must stay well inside that bound
    from modeltracking_spark.operators.profile import resample_track_arclength
    from modeltracking_spark.queries.timegeo import synthetic_track

    n = resample_track_arclength(synthetic_track(spark), step_deg=0.5).count()
    assert n < 1000


def test_resample_multi_track_partitions_and_matches_single(spark):
    """VERDICT r6 item 3: the fleet shape. Two tracks resampled in one
    call give per-track results identical to two single-track calls,
    and the plan's window/sort specs all partition on the track id —
    no unpartitioned (single-task) window anywhere."""
    from pyspark.sql import functions as F

    from modeltracking_spark.operators.profile import resample_track_arclength
    from modeltracking_spark.queries.timegeo import synthetic_track

    t1 = synthetic_track(spark)
    t2 = t1.withColumn("lat", F.col("lat") + F.lit(1.25)).withColumn(
        "lon", F.col("lon") - F.lit(2.5)
    )
    fleet = t1.withColumn("track_id", F.lit(10)).unionByName(
        t2.withColumn("track_id", F.lit(20))
    )
    both = resample_track_arclength(fleet, step_deg=0.5, track_col="track_id")
    got = {
        (r["track_id"], r["k"]): (r["s_deg_e6"], r["lat_e6"], r["lon_e6"])
        for r in both.collect()
    }
    for tid, t in ((10, t1), (20, t2)):
        solo = resample_track_arclength(t, step_deg=0.5)
        want = {
            (tid, r["k"]): (r["s_deg_e6"], r["lat_e6"], r["lon_e6"])
            for r in solo.collect()
        }
        assert {k: v for k, v in got.items() if k[0] == tid} == want
    # plan audit: every Window/Sort in the physical plan is partitioned
    plan = both._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "track_id" in line, f"unpartitioned window: {line}"


def test_profile_multi_track_fleet_matches_single(spark):
    """VERDICT r7 item 8: the composed profile pipeline's fleet shape.
    Two storms profiled in one call (track_col) give per-track results
    identical to two single-track calls; the plan stays one broadcast
    join + one hash aggregate — no window operator, no extra shuffle,
    and the track id never induces a per-track loop."""
    t1 = synthetic_track(spark)
    t2 = t1.withColumn("lat", F.col("lat") + F.lit(0.5)).withColumn(
        "lon", F.col("lon") - F.lit(1.2)
    )
    fleet = t1.withColumn("storm_id", F.lit(9)).unionByName(
        t2.withColumn("storm_id", F.lit(16))
    )
    grid = hycom_grid_fixture(spark)
    both = profile_along_track(
        fleet, grid, "water_temp", track_col="storm_id"
    )
    got = {}
    for r in both.collect():
        got[(r["storm_id"], r["point_id"], r["depth_idx"])] = (
            r["depth_m"], r["n_valid"], r["idw_value"]
        )
    n_solo = 0
    for sid, t in ((9, t1), (16, t2)):
        solo = profile_along_track(t, grid, "water_temp")
        want = {
            (sid, r["point_id"], r["depth_idx"]): (
                r["depth_m"], r["n_valid"], r["idw_value"]
            )
            for r in solo.collect()
        }
        n_solo += len(want)
        mine = {k: v for k, v in got.items() if k[0] == sid}
        assert mine == want, f"storm {sid} diverges from its solo run"
    # the fleet run is exactly the union of the solo runs (the shifted
    # storm drops its off-grid tail point — same in both shapes); the
    # unshifted storm keeps the full 80x25 golden shape
    assert len(got) == n_solo
    assert sum(1 for k in got if k[0] == 9) == 2000
    # plan audit: exactly one broadcast join, one shuffle (the hash
    # aggregate exchange), and no window operator
    plan = both._jdf.queryExecution().executedPlan().toString()
    # AQE's toString prints the final plan then repeats the initial one;
    # audit only the final section
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "Window" not in final
    assert final.count("Exchange hashpartitioning") <= 1
    assert "SortMergeJoin" not in final and "CartesianProduct" not in final
