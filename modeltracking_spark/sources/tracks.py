"""Track CSV readers (S1/P1/P2 + F1/F4 composition).

The reference reads tracks positionally with a manual header skip
(``hurricane_track``, ``trackplot_hycom.py:158-171``) and cannot load
the two IBTrACS layouts at all (different column order — SURVEY §1.3).
Here every layout is an explicit ``StructType`` so scans prune columns
and casts are analyzable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modeltracking_spark.functions.geo import normalize_lon_0_360
from modeltracking_spark.functions.timefn import hours_since_2000, parse_ymdh
from modeltracking_spark.schemas import (
    IBTRACS_10_SCHEMA,
    IBTRACS_16_SCHEMA,
    NHC_BEST_TRACK_SCHEMA,
)


def read_nhc_best_track(spark: SparkSession, path: str) -> DataFrame:
    """S1: NHC best-track CSV -> normalized track frame
    (atcfdtg, ts, t_hours, lat, lon[0,360), stormname, intensity_kt).

    There is no ``point_id`` column; the caller derives one (for example
    ``F.col("t_hours").alias("point_id")``) before profiling.

    header=True replaces the reference's ``if i > 0`` row skip (P2); the
    yyyyMMddHH parse is F1; the lon fix is F4 (-19.4 -> 340.6,
    ``trackplot_hycom.py:166-170``).
    """
    raw = spark.read.csv(path, header=True, schema=NHC_BEST_TRACK_SCHEMA)
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


def read_ibtracs_track(spark: SparkSession, path: str, wide: bool = False) -> DataFrame:
    """S1 (alternate layouts): headerless IBTrACS CSV, 10- or 16-column
    (``Hurricanefiles/Hermine_track.csv`` / ``Sandy_track.csv``). Lon is
    already east-positive; time is ``M/d/yy H:mm``."""
    schema = IBTRACS_16_SCHEMA if wide else IBTRACS_10_SCHEMA
    raw = spark.read.csv(path, header=False, schema=schema)
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
