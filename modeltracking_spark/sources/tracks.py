"""Track readers (S1/P1/P2 + F1/F4 composition).

An NHC best-track record is the 12 fields of ``NHC_BEST_TRACK_SCHEMA``,
in the reference's CSV (``trackplot_hycom.py:158-171``) and its KMZ
(``kmz2csv.py``) alike. :func:`_nhc_track` normalizes it once, for
:func:`read_nhc_best_track` and ``sources.kmz.kmz_to_track``, so every
track source emits lon in [0, 360). The reference cannot load the
IBTrACS layouts (SURVEY §1.3); the 16-column one extends the 10-column
one, and ``IBTRACS_10_SCHEMA`` reads both (Spark's CSV reader drops a
row's extra tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modeltracking_spark.functions.geo import normalize_lon_0_360
from modeltracking_spark.functions.timefn import hours_since_2000, parse_ymdh
from modeltracking_spark.schemas import IBTRACS_10_SCHEMA, NHC_BEST_TRACK_SCHEMA


def _nhc_track(raw: DataFrame) -> DataFrame:
    """Columns typed by ``NHC_BEST_TRACK_SCHEMA`` -> the normalized track
    frame (atcfdtg, ts, t_hours, lat, lon[0,360), stormname,
    intensity_kt). The yyyyMMddHH parse is F1; the lon fix is F4
    (-19.4 -> 340.6, ``trackplot_hycom.py:166-170``)."""
    ts = parse_ymdh("atcfdtg")
    return raw.select(
        F.col("atcfdtg"),
        ts.alias("ts"),
        hours_since_2000(ts).alias("t_hours"),
        F.col("lat"),
        normalize_lon_0_360("lon").alias("lon"),
        F.col("stormname"),
        F.col("intensity").cast("int").alias("intensity_kt"),
    )


def read_nhc_best_track(spark: SparkSession, path: str) -> DataFrame:
    """S1: NHC best-track CSV -> the frame of :func:`_nhc_track`.

    There is no ``point_id`` column; the caller derives one (for example
    ``F.col("t_hours").alias("point_id")``) before profiling.

    header=True replaces the reference's ``if i > 0`` row skip (P2).
    """
    return _nhc_track(
        spark.read.csv(path, header=True, schema=NHC_BEST_TRACK_SCHEMA)
    )


def read_ibtracs_track(spark: SparkSession, path: str) -> DataFrame:
    """S1 (alternate layouts): headerless IBTrACS CSV, 10- or 16-column
    (``Hurricanefiles/Hermine_track.csv`` / ``Sandy_track.csv``). Lon is
    east-positive in one and signed in the other, and comes out in
    [0, 360); time is ``M/d/yy H:mm``."""
    raw = spark.read.csv(path, header=False, schema=IBTRACS_10_SCHEMA)
    ts = F.to_timestamp("iso_time", "M/d/yy H:mm")
    return raw.select(
        ts.alias("ts"),
        hours_since_2000(ts).alias("t_hours"),
        "lat",
        normalize_lon_0_360("lon").alias("lon"),
        F.col("name").alias("stormname"),
    )


def write_track_csv(df: DataFrame, out_dir: str) -> None:
    """S5: CSV sink with header (the reference's ``df.to_csv(...,
    index=False)``, ``kmz2csv.py:35``); single file for fixture-sized
    tracks via coalesce(1)."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(out_dir)
