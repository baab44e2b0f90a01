"""S6: the custom Python DataSource must be byte-identical to the formula
fixture, pack the kept time steps into at most one partition per core,
and, with pushdown, read only the pushed time steps and index box."""

import http.server
import os
import threading

import pyspark.sql.functions as F
import pytest

from modeltracking_spark.fixtures import (
    GRID_LAT0,
    GRID_LAT_STEP,
    GRID_LON0,
    GRID_LON_STEP,
    GRID_N_LAT,
    GRID_N_LON,
    GRID_N_TIME,
    GRID_TIME_STEP,
    hycom_grid_fixture,
)
from modeltracking_spark.operators.profile import profile_along_track
from modeltracking_spark.sources.grid_source import HycomGridDataSource
from perfbench import reference

CORES = len(os.sched_getaffinity(0))
TRACK_DDL = "point_id long, lat double, lon double, t_hours long"
#: grids written to netCDF for the backend tests keep this many steps
N_FILE_STEPS = 10


@pytest.fixture(scope="module")
def grid_ds(spark):
    from modeltracking_spark.queries.common import ensure_pkg_on_workers

    ensure_pkg_on_workers(spark)
    spark.dataSource.register(HycomGridDataSource)
    return spark.read.format("hycom_grid").load()


def _pushdown(spark, **options):
    return (spark.read.format("hycom_grid").option("pushdown", "true")
            .options(**options).load())


def _steps_read(df):
    return sorted(r[0] for r in df.select("time_hours").distinct().collect())


def test_partitions_pack_steps_into_cores(spark, grid_ds):
    # every step is read, in min(steps, cores) partitions
    assert _steps_read(grid_ds) == [
        t * GRID_TIME_STEP for t in range(GRID_N_TIME)
    ]
    assert grid_ds.rdd.getNumPartitions() == min(GRID_N_TIME, CORES)


def test_matches_fixture_slice(spark, grid_ds):
    pred = "time_hours = 9 AND depth_idx < 2 AND lat_idx < 5"
    a = sorted(map(tuple, grid_ds.where(pred).collect()))
    b = sorted(map(tuple, hycom_grid_fixture(spark).where(pred).collect()))
    assert a == b and len(a) > 0


def test_total_count_and_sentinels(spark, grid_ds):
    assert grid_ds.count() == hycom_grid_fixture(spark).count()
    n_sent = grid_ds.where(F.col("water_temp") <= -4).count()
    n_sent_fix = hycom_grid_fixture(spark).where(F.col("water_temp") <= -4).count()
    assert n_sent == n_sent_fix > 0


def test_time_filter_prunes_partitions(spark, grid_ds):
    # pushFilters absorbs time_hours comparisons -> only the matching
    # time steps are read, packed into min(kept, cores) partitions
    one = _pushdown(spark).filter("time_hours = 6")
    assert _steps_read(one) == [6]
    assert one.rdd.getNumPartitions() == 1

    rng = _pushdown(spark).filter("time_hours >= 6 AND time_hours < 18")
    assert _steps_read(rng) == [6, 9, 12, 15]
    assert rng.rdd.getNumPartitions() == min(4, CORES)
    assert rng.count() == 4 * one.count()


def test_time_in_list_prunes_to_those_steps(spark, grid_ds):
    from pyspark.sql.datasource import In

    hours = [3, 12, 15, 30, 999]  # 999 is past the axis
    df = _pushdown(spark).where(F.col("time_hours").isin(hours))
    assert _steps_read(df) == [3, 12, 15, 30]
    assert df.rdd.getNumPartitions() == min(4, CORES)
    # the planned partitions hold exactly the kept steps, in order
    reader = HycomGridDataSource({"pushdown": "true"}).reader(None)
    assert list(reader.pushFilters([In(("time_hours",), tuple(hours))])) == []
    planned = [list(p.value) for p in reader.partitions()]
    assert sum(planned, []) == [1, 4, 5, 10]
    assert len(planned) == min(4, CORES)


def test_unsupported_filters_still_applied(spark, grid_ds):
    # non-time predicates are handed back to Spark and must still hold
    mixed = _pushdown(spark).filter("time_hours = 0 AND water_temp > 5.0")
    assert mixed.rdd.getNumPartitions() == 1
    rows = mixed.select("water_temp").distinct().collect()
    assert rows and all(r[0] > 5.0 for r in rows)


def test_index_box_pushdown_is_exact(spark, grid_ds):
    """Comparisons on depth_idx/lat_idx/lon_idx are absorbed as an index
    box (not handed back) and the box read equals the fixture rows, with
    full-grid index numbering; a non-integer bound is handed back."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
    )

    reader = HycomGridDataSource({"pushdown": "true"}).reader(None)
    left = list(reader.pushFilters([
        EqualTo(("depth_idx",), 3),
        GreaterThan(("lat_idx",), 76),
        LessThanOrEqual(("lat_idx",), 200),
        GreaterThanOrEqual(("lon_idx",), -5),
        LessThan(("lon_idx",), 2),
        LessThan(("lon_idx",), 2.5),
    ]))
    assert left == [LessThan(("lon_idx",), 2.5)]
    assert reader._box == {"depth_idx": (3, 3), "lat_idx": (77, 80),
                           "lon_idx": (0, 1)}
    pred = ("time_hours IN (0, 81) AND depth_idx = 3 AND lat_idx > 76 "
            "AND lon_idx < 2")
    got = sorted(map(tuple, _pushdown(spark).where(pred).collect()))
    want = sorted(map(tuple, hycom_grid_fixture(spark).where(pred).collect()))
    assert got == want and len(got) == 2 * 4 * 2
    # an empty box plans no partitions and reads nothing
    assert _pushdown(spark).where("lat_idx > 80").count() == 0


# ---------------------------------------------------------------------------
# single-track footprint: exact profiles through every pushdown backend
# ---------------------------------------------------------------------------


def _node(la, lo):
    return GRID_LAT0 + la * GRID_LAT_STEP, GRID_LON0 + lo * GRID_LON_STEP


def _track(nodes_and_hours):
    """Points just off the given (lat_idx, lon_idx) nodes at the given
    hours, so no point sits exactly on a node."""
    out = []
    for pid, (la, lo, t) in enumerate(nodes_and_hours):
        lat, lon = _node(la, lo)
        out.append((pid, lat + 0.07, lon - 0.11, t))
    return out


TRACKS = {
    # three runs of time steps (0-1, 3 and 6-7) in the interior
    "interior": _track([(30, 40, 1), (31, 41, 4), (31, 43, 8),
                        (35, 44, 19), (36, 45, 21)]),
    # the grown box clips at index 0 on both axes
    "low_corner": _track([(0, 0, 5), (1, 0, 6), (0, 1, 9)]),
    # the grown box clips at N-1 on both axes
    "high_corner": _track([(GRID_N_LAT - 1, GRID_N_LON - 1, 11),
                           (GRID_N_LAT - 2, GRID_N_LON - 1, 12)]),
    # wholly outside the grid in space, and in time
    "outside_space": _track([(-50, -50, 3), (-40, -48, 6)]),
    "outside_time": _track([(20, 20, 9000), (21, 21, 9003)]),
}


@pytest.fixture(scope="module")
def grid_backends(spark, grid_ds, tmp_path_factory):
    """Option sets for the formula, netCDF-file, served-DAP and served
    packed-int16-DAP backends of the same grid."""
    from modeltracking_spark.sources.dap import make_dap_handler
    from modeltracking_spark.sources.grid_source import (
        write_grid_netcdf,
        write_grid_netcdf_packed,
    )

    root = str(tmp_path_factory.mktemp("footprint"))
    write_grid_netcdf(os.path.join(root, "grid.nc"), n_time=N_FILE_STEPS)
    write_grid_netcdf_packed(os.path.join(root, "packed.nc"),
                             n_time=N_FILE_STEPS)
    sent = []  # response body sizes

    class CountingHandler(make_dap_handler(root, grid_mode=True)):
        def _reply(self, code, body, ctype):
            sent.append(len(body))
            super()._reply(code, body, ctype)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), CountingHandler)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    base = f"dap+http://127.0.0.1:{srv.server_address[1]}"
    yield {
        "formula": ({}, GRID_N_TIME),
        "file": ({"path": os.path.join(root, "grid.nc")}, N_FILE_STEPS),
        "dap": ({"path": f"{base}/grid.nc"}, N_FILE_STEPS),
        "dap_packed": ({"path": f"{base}/packed.nc"}, N_FILE_STEPS),
        "sent": sent,
    }
    srv.shutdown()
    srv.server_close()
    thread.join()


@pytest.mark.parametrize("backend", ["formula", "file", "dap", "dap_packed"])
def test_footprint_profiles_are_exact(spark, grid_backends, backend):
    options, n_time = grid_backends[backend]
    for name, rows in TRACKS.items():
        track = spark.createDataFrame(rows, TRACK_DDL)
        got = profile_along_track(track, _pushdown(spark, **options)).collect()
        want = reference.expected_profile(rows, n_time)
        assert reference.profile_mismatches(got, want) == [], (backend, name)
        assert len(got) == len(want), (backend, name)
        if name.startswith("outside"):
            assert got == []


def test_footprint_reads_only_the_window(spark, grid_backends):
    """The footprint filters reach the DAP server: a storm's profile
    ships its time buckets and radius-grown box, not the grid."""
    options, n_time = grid_backends["dap"]
    sent = grid_backends["sent"]
    sent.clear()
    rows = TRACKS["interior"]
    got = profile_along_track(spark.createDataFrame(rows, TRACK_DDL),
                              _pushdown(spark, **options)).collect()
    assert reference.profile_mismatches(
        got, reference.expected_profile(rows, n_time)) == []
    # 5 steps x 25 depths x 9 lat x 8 lon x 2 variables of float64, plus
    # metadata; the whole grid is 10 x 30 x 81 x 81 x 2 x 8 B = 31 MB
    window = 5 * 25 * 9 * 8 * 2 * 8
    assert window < sum(sent) < window + 64 * 1024


def test_one_pushdown_grid_serves_two_storms(spark, grid_backends):
    """One pushdown DataFrame reused for two storms with different
    footprints gives both exact profiles."""
    options, n_time = grid_backends["dap"]
    g = _pushdown(spark, **options)
    for name in ("interior", "low_corner"):
        rows = TRACKS[name]
        got = profile_along_track(
            spark.createDataFrame(rows, TRACK_DDL), g).collect()
        want = reference.expected_profile(rows, n_time)
        assert got and reference.profile_mismatches(got, want) == [], name


def test_pushdown_grid_reuse_keeps_last_footprint(spark, grid_ds):
    """Pin the upstream pyspark behaviour the ``pushdown`` option and
    ``profile_along_track`` document: after a profile, a FILTERLESS query
    on the same pushdown DataFrame reuses the scan planned with the
    storm's footprint (as tests/test_parquet_native.py pins for the
    parquet source). If a Spark upgrade fixes the reuse, this test fails
    and the fresh-load advice can be retired."""
    g = _pushdown(spark)
    rows = _track([(30, 40, 1), (31, 41, 4)])  # steps 0 and 1
    profile_along_track(spark.createDataFrame(rows, TRACK_DDL), g).collect()
    stale = g.count()
    if stale == hycom_grid_fixture(spark).count():
        pytest.fail("Spark no longer reuses pushdown-planned python scans "
                    "for filterless queries — retire the fresh-load advice "
                    "and this pin")
    # 2 steps x 25 depths x (29..32 lat) x (39..42 lon): the footprint
    assert stale == 2 * 25 * 4 * 4
    assert _pushdown(spark).count() == hycom_grid_fixture(spark).count()
