"""The grid geometry comes from the grid: the profile operator snaps track
points with the axis records the grid carries, so a grid whose axes sit
elsewhere profiles exactly, a non-uniform axis fails at load, and a grid
without the records fails before any Spark job runs."""

import http.server
import os
import re
import threading

import numpy as np
import pyspark.sql.functions as F
import pytest

from modeltracking_spark.fixtures import (
    GRID_DEPTH_STEP,
    GRID_LAT0,
    GRID_LAT_STEP,
    GRID_LON0,
    GRID_LON_STEP,
    GRID_N_DEPTH,
    GRID_N_LAT,
    GRID_N_LON,
    GRID_TIME_STEP,
    hycom_grid_fixture,
)
from modeltracking_spark.operators.profile import profile_along_track
from modeltracking_spark.sources.grid_source import (
    HycomGridDataSource,
    _partition_arrays,
)
from modeltracking_spark.sources.netcdf_classic import write_classic
from perfbench import reference
from tests.test_grid_source import TRACK_DDL, TRACKS

#: steps written to the translated grid file
N_STEPS = 10
#: the translation of the time (hours), lat and lon axes; the time offset
#: is not a multiple of the step, so buckets must be counted from the
#: grid's own origin
T_OFF, LAT_OFF, LON_OFF = 8761, 7.5, -33.0


def _write_grid(path, lat=None):
    """The fixture physics on axes translated by the offsets above; ``lat``
    replaces the latitude vector."""
    shape = (GRID_N_DEPTH, GRID_N_LAT, GRID_N_LON)
    if lat is None:
        lat = GRID_LAT0 + LAT_OFF + np.arange(GRID_N_LAT) * GRID_LAT_STEP
    write_classic(
        path,
        dims=[("time", 0), ("depth", GRID_N_DEPTH), ("lat", GRID_N_LAT),
              ("lon", GRID_N_LON)],
        variables=[
            ("time", ("time",),
             lambda r: np.array(T_OFF + r * GRID_TIME_STEP, dtype=np.int32)),
            ("depth", ("depth",), np.arange(GRID_N_DEPTH) * GRID_DEPTH_STEP),
            ("lat", ("lat",), np.asarray(lat, dtype=np.float64)),
            ("lon", ("lon",),
             GRID_LON0 + LON_OFF + np.arange(GRID_N_LON) * GRID_LON_STEP),
            *((var, ("time", "depth", "lat", "lon"),
               lambda r, var=var: _partition_arrays(r)[var].reshape(shape))
              for var in ("water_temp", "salinity")),
        ],
        record_dim="time",
        n_records=N_STEPS,
    )


@pytest.fixture(scope="module")
def shifted(spark, tmp_path_factory):
    """Options of the file and served-DAP backends of the translated grid."""
    from modeltracking_spark.queries.common import ensure_pkg_on_workers
    from modeltracking_spark.sources.dap import make_dap_handler

    ensure_pkg_on_workers(spark)
    spark.dataSource.register(HycomGridDataSource)
    root = str(tmp_path_factory.mktemp("shifted"))
    _write_grid(os.path.join(root, "shifted.nc"))
    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), make_dap_handler(root, grid_mode=True))
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    yield {
        "root": root,
        "file": {"path": os.path.join(root, "shifted.nc")},
        "dap": {"path": f"dap+http://127.0.0.1:{srv.server_address[1]}"
                        "/shifted.nc"},
    }
    srv.shutdown()
    srv.server_close()
    thread.join()


def _translated(rows):
    return [(pid, lat + LAT_OFF, lon + LON_OFF, t + T_OFF)
            for pid, lat, lon, t in rows]


def _grid(spark, **options):
    return (spark.read.format("hycom_grid").option("pushdown", "true")
            .options(**options).load())


@pytest.mark.parametrize("backend", ["file", "dap"])
def test_shifted_origin_grid_profiles_exactly(spark, shifted, backend):
    """Every track, translated with the grid, gets the profile of the
    untranslated track on the untranslated grid; tracks outside the
    axes get no rows."""
    for name, rows in TRACKS.items():
        track = spark.createDataFrame(_translated(rows), TRACK_DDL)
        got = profile_along_track(
            track, _grid(spark, **shifted[backend])).collect()
        want = reference.expected_profile(rows, N_STEPS)
        assert reference.profile_mismatches(got, want) == [], (backend, name)
        assert len(got) == len(want), (backend, name)
        if name.startswith("outside"):
            assert got == []


def test_shifted_origin_grid_fleet_profiles_exactly(spark, shifted):
    """The fleet plan (no footprint filter) snaps with the same records."""
    fleet = [(k,) + p for k, rows in enumerate(TRACKS.values())
             for p in _translated(rows)]
    track = spark.createDataFrame(fleet, "storm_id int, " + TRACK_DDL)
    got = profile_along_track(
        track, _grid(spark, **shifted["file"]), track_col="storm_id").collect()
    for k, rows in enumerate(TRACKS.values()):
        mine = [r for r in got if r["storm_id"] == k]
        want = reference.expected_profile(rows, N_STEPS)
        assert reference.profile_mismatches(mine, want) == [], k
        assert len(mine) == len(want), k


def test_non_uniform_axis_fails_at_load(spark, shifted):
    lat = GRID_LAT0 + np.arange(GRID_N_LAT) * GRID_LAT_STEP
    lat[40] += 0.1
    path = os.path.join(shifted["root"], "bad_lat.nc")
    _write_grid(path, lat=lat)
    with pytest.raises(Exception, match=re.escape(path) + ": axis 'lat'"):
        spark.read.format("hycom_grid").option("path", path).load()


def test_formula_backend_carries_the_fixture_axes(spark, shifted):
    ds, fixture = _grid(spark), hycom_grid_fixture(spark)
    for col in ("time_hours", "lat", "lon"):
        assert ds.schema[col].metadata == fixture.schema[col].metadata
        assert ds.schema[col].metadata["axis"]


def test_grid_without_axis_record_raises_before_any_job(spark):
    grid = hycom_grid_fixture(spark).withColumn("lat", F.col("lat") + 0)
    track = spark.createDataFrame(TRACKS["interior"], TRACK_DDL)
    sc = spark.sparkContext
    sc.setJobGroup("no-axis-record", "no-axis-record")
    try:
        with pytest.raises(ValueError, match="grid column 'lat'"):
            profile_along_track(track, grid)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("no-axis-record") == []
