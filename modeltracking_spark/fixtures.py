"""Deterministic in-engine fixtures for the track x grid pipeline.

The HYCOM grid stand-in is formula-generated from integer indices by one
SQL text, :data:`HYCOM_GRID_SQL` (``range`` cross joins), which Spark
runs as the fixture and DuckDB runs as the oracle — no parquet round
trip, no nondeterminism. Edit it only in syntax both engines accept
(DuckDB's ``//`` is not Spark SQL). Matches
``schemas.hycom_grid_schema`` and the reference's 4-D ``var[time,
depth, lat, lon]`` model (``trackplot_hycom.py:110``), axis records
included.

The grid's geometry is stated once, as the coordinate vectors of
:func:`grid_coords`, computed from the ``GRID_*`` constants. The
fixture's axis records are derived from them
(``schemas.axis_record``), and the ``hycom_grid`` DataSource's formula
backend serves them as its ``time``/``depth``/``lat``/``lon`` arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from modeltracking_spark.schemas import hycom_grid_schema

# Grid geometry: 3-hourly time axis, 5 m depth steps, uniform lat/lon mesh
# offset from the synthetic track so no point sits exactly on a node
# (keeps IDW weights bounded; the at-node identity is covered in tests).
GRID_N_TIME = 28
GRID_TIME_STEP = 3
GRID_N_DEPTH = 30
GRID_DEPTH_STEP = 5.0
GRID_N_LAT = 81
GRID_LAT0 = 14.95
GRID_LAT_STEP = 0.25
GRID_N_LON = 81
GRID_LON0 = 279.85
GRID_LON_STEP = 0.6

#: sentinel magnitude matching HYCOM fill values (anything <= -4 is missing)
GRID_SENTINEL = -30000.0

HYCOM_GRID_SQL = f"""
    SELECT t.i::BIGINT * {GRID_TIME_STEP} AS time_hours,
           d.i::INTEGER AS depth_idx,
           d.i * {GRID_DEPTH_STEP}::DOUBLE AS depth_m,
           la.i::INTEGER AS lat_idx,
           lo.i::INTEGER AS lon_idx,
           {GRID_LAT0}::DOUBLE + la.i * {GRID_LAT_STEP}::DOUBLE AS lat,
           {GRID_LON0}::DOUBLE + lo.i * {GRID_LON_STEP}::DOUBLE AS lon,
           CASE WHEN (la.i * 13 + lo.i * 7 + d.i * 3 + t.i) % 37 = 0
                THEN {GRID_SENTINEL}::DOUBLE
                ELSE ((la.i * 7 + lo.i * 11 + d.i * 5 + t.i * 3) % 200) * 0.1::DOUBLE
           END AS water_temp,
           CASE WHEN (la.i * 11 + lo.i * 3 + d.i * 5 + t.i) % 41 = 0
                THEN {GRID_SENTINEL}::DOUBLE
                ELSE 30.0::DOUBLE
                     + ((la.i * 3 + lo.i * 5 + d.i * 7 + t.i * 11) % 80) * 0.1::DOUBLE
           END AS salinity
    FROM range({GRID_N_TIME}) t(i)
    CROSS JOIN range({GRID_N_DEPTH}) d(i)
    CROSS JOIN range({GRID_N_LAT}) la(i)
    CROSS JOIN range({GRID_N_LON}) lo(i)
"""


def grid_coords() -> dict:
    """The fixture grid's coordinate vectors, ``{"time", "depth", "lat",
    "lon"}`` as numpy arrays: node ``i`` of each axis is the value
    :data:`HYCOM_GRID_SQL` gives index ``i`` (integer hours for
    ``time``)."""
    import numpy as np

    return {
        "time": np.arange(GRID_N_TIME) * GRID_TIME_STEP,
        "depth": np.arange(GRID_N_DEPTH) * GRID_DEPTH_STEP,
        "lat": GRID_LAT0 + np.arange(GRID_N_LAT) * GRID_LAT_STEP,
        "lon": GRID_LON0 + np.arange(GRID_N_LON) * GRID_LON_STEP,
    }


def hycom_grid_fixture(spark: SparkSession) -> DataFrame:
    """Long-form HYCOM grid (~5.5M rows): :data:`HYCOM_GRID_SQL` run by
    Spark, so the engine and the DuckDB oracle read one text. ``.to``
    gives it :func:`schemas.hycom_grid_schema` of :func:`grid_coords`,
    and with it the axis records of ``time_hours``/``lat``/``lon``. At
    100 TB this table would be a parquet store partitioned by
    ``time_hours`` with (lat_idx, lon_idx) bucketing; all downstream
    operators only assume the long schema and its axis records."""
    coords = grid_coords()
    return spark.sql(HYCOM_GRID_SQL).to(hycom_grid_schema(
        None, coords["time"], coords["lat"], coords["lon"]))
