"""Deterministic in-engine fixtures for the track x grid pipeline.

The HYCOM grid stand-in is formula-generated from integer indices so the
exact same table can be built in Spark (``range`` cross joins) and in a
DuckDB oracle (``range`` cross joins in SQL) — no parquet round trip, no
nondeterminism. Matches ``schemas.hycom_grid_schema`` and the
reference's 4-D ``var[time, depth, lat, lon]`` model
(``trackplot_hycom.py:110``), axis records included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modeltracking_spark.schemas import axis_metadata

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


def grid_fixture_fingerprint() -> str:
    """Short stable hash of the grid formula text (constants included) —
    materialized-fixture cache keys (the netCDF file in extras_q) embed it
    so a formula edit invalidates the cache instead of presenting as a
    confusing stale-file reader bug."""
    import hashlib

    return hashlib.md5(HYCOM_GRID_SQL.encode()).hexdigest()[:10]


def hycom_grid_fixture(spark: SparkSession) -> DataFrame:
    """Long-form HYCOM grid (~5.5M rows), byte-identical to
    :data:`HYCOM_GRID_SQL` run in DuckDB. Built lazily from four ``range``
    scans — at 100 TB this table would be a parquet store partitioned by
    ``time_hours`` with (lat_idx, lon_idx) bucketing; all downstream
    operators only assume the long schema and its axis records."""
    t = spark.range(GRID_N_TIME).select(F.col("id").alias("ti"))
    d = spark.range(GRID_N_DEPTH).select(F.col("id").alias("di"))
    la = spark.range(GRID_N_LAT).select(F.col("id").alias("lai"))
    lo = spark.range(GRID_N_LON).select(F.col("id").alias("loi"))
    g = t.crossJoin(d).crossJoin(la).crossJoin(lo)
    temp = F.when(
        (F.col("lai") * 13 + F.col("loi") * 7 + F.col("di") * 3 + F.col("ti")) % 37
        == 0,
        F.lit(GRID_SENTINEL),
    ).otherwise(
        (
            (F.col("lai") * 7 + F.col("loi") * 11 + F.col("di") * 5 + F.col("ti") * 3)
            % 200
        )
        * F.lit(0.1)
    )
    sal = F.when(
        (F.col("lai") * 11 + F.col("loi") * 3 + F.col("di") * 5 + F.col("ti")) % 41
        == 0,
        F.lit(GRID_SENTINEL),
    ).otherwise(
        F.lit(30.0)
        + (
            (F.col("lai") * 3 + F.col("loi") * 5 + F.col("di") * 7 + F.col("ti") * 11)
            % 80
        )
        * F.lit(0.1)
    )
    return g.select(
        (F.col("ti") * GRID_TIME_STEP).cast("long")
        .alias("time_hours", metadata=axis_metadata(0, GRID_TIME_STEP)),
        F.col("di").cast("int").alias("depth_idx"),
        (F.col("di") * F.lit(GRID_DEPTH_STEP)).alias("depth_m"),
        F.col("lai").cast("int").alias("lat_idx"),
        F.col("loi").cast("int").alias("lon_idx"),
        (F.lit(GRID_LAT0) + F.col("lai") * F.lit(GRID_LAT_STEP))
        .alias("lat", metadata=axis_metadata(GRID_LAT0, GRID_LAT_STEP)),
        (F.lit(GRID_LON0) + F.col("loi") * F.lit(GRID_LON_STEP))
        .alias("lon", metadata=axis_metadata(GRID_LON0, GRID_LON_STEP)),
        temp.alias("water_temp"),
        sal.alias("salinity"),
    )
