"""Explicit schemas + loaders for the driver testdata and engine fixtures.

The reference addresses every input positionally/implicitly (header skipped
by row index, columns by position — ``trackplot_hycom.py:158-171``,
``kmz2csv.py:20-21``). This engine makes every schema an explicit
``StructType`` so plans are analyzable and scans prune columns.

Scale note: loaders return plain ``spark.read.parquet`` DataFrames so
Catalyst gets predicate pushdown + column pruning for free; nothing is
cached or collected here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Documented (post-load) Spark schemas of the driver testdata tables.
TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampType()),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
}


def events_ts_physical_type(sf_dir: str) -> str:
    """Physical/logical type of events.ts straight from the parquet footer:
    ``'timestamp'`` for TIMESTAMP(MICROS/MILLIS) files, ``'int64'`` for the
    legacy TIMESTAMP(NANOS) encoding (which Spark 4 only reads via the
    nanosAsLong escape hatch). NANOS surfaces in pyarrow as timestamp[ns]
    — a timestamp type — so the probe must ALSO branch on the unit, or
    legacy files would take the micros path and fail the read with
    PARQUET_COLUMN_DATA_TYPE_MISMATCH. A footer read is metadata-only.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    if pa.types.is_timestamp(t) and t.unit != "ns":
        return "timestamp"
    return "int64"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame.

    ``events.parquet``'s ``ts`` encoding has drifted across testdata
    generations (TIMESTAMP(NANOS) → timestamp[us]), so the loader probes
    the parquet footer and branches:

    - ``timestamp[us]`` (current): read with an explicit ``ts TIMESTAMP``
      schema. Spark takes the stored naive micros verbatim as the
      session-local instant's UTC micros (verified: ``unix_micros`` equals
      the stored value even under a non-UTC session timezone), which is
      exactly what DuckDB's naive TIMESTAMP sees — same instants, and all
      downstream epoch math is timezone-independent.
    - ``int64`` nanos (legacy): flip ``nanosAsLong`` and rebuild with
      integer division (div, not /1000 double division: nano epochs
      ~1.7e18 exceed double's 53-bit exact range; DuckDB truncates
      nanos → micros exactly the same way).
    """
    if name == "events":
        if events_ts_physical_type(sf_dir) == "timestamp":
            return spark.read.schema(TESTDATA_SCHEMAS["events"]).parquet(
                f"{sf_dir}/events.parquet"
            )
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table."""
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


# ---------------------------------------------------------------------------
# Fixture schemas from the reference's real inputs (FIXTURES.md)
# ---------------------------------------------------------------------------

# NHC best-track CSV header (Hurricanefiles/al092016_track.csv:1); the
# reference consumes columns 0/8/9 positionally (trackplot_hycom.py:165-170).
NHC_BEST_TRACK_SCHEMA = StructType(
    [
        StructField("atcfdtg", StringType()),  # yyyyMMddHH
        StructField("stormnum", StringType()),
        StructField("stormname", StringType()),
        StructField("basin", StringType()),
        StructField("stormtype", StringType()),
        StructField("intensity", StringType()),
        StructField("intensitymph", StringType()),
        StructField("intensitykph", StringType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),  # negative = °W; normalized later
        StructField("minsealevelpres", StringType()),
        StructField("dtg", StringType()),
    ]
)

# Headerless 10-column IBTrACS layout (Hurricanefiles/Hermine_track.csv) —
# positionally incompatible with the reference's reader (SURVEY.md §1.3);
# this engine reads it with its own explicit schema.
IBTRACS_10_SCHEMA = StructType(
    [
        StructField("serial", StringType()),
        StructField("season", IntegerType()),
        StructField("num", IntegerType()),
        StructField("basin", StringType()),
        StructField("subbasin", StringType()),
        StructField("name", StringType()),
        StructField("iso_time", StringType()),  # M/d/yy H:mm
        StructField("nature", StringType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),  # already east-positive [0,360)
    ]
)

# Headerless 16-column IBTrACS layout (Hurricanefiles/Sandy_track.csv).
IBTRACS_16_SCHEMA = StructType(
    IBTRACS_10_SCHEMA.fields
    + [
        StructField("wind_kt", IntegerType()),
        StructField("pres_mb", IntegerType()),
        StructField("center", StringType()),
        StructField("wind_pctl", DoubleType()),
        StructField("pres_pctl", DoubleType()),
        StructField("track_type", StringType()),
    ]
)

#: the grid columns that carry an axis record, in (time, lat, lon) order
GRID_AXIS_COLS = ("time_hours", "lat", "lon")


def axis_metadata(origin, step) -> dict:
    """The column metadata of a uniform grid axis: node ``i`` sits at
    ``origin + i * step``. ``time_hours`` records integer hours."""
    return {"axis": {"origin": origin, "step": step}}


def grid_axis(schema: StructType, col: str) -> tuple:
    """``(origin, step)`` of the axis record on grid column ``col``, read
    from the schema alone (no Spark job). A column without the record
    raises a ``ValueError`` naming it: there is no default geometry."""
    axis = schema[col].metadata.get("axis") if col in schema.names else None
    if not axis:
        raise ValueError(
            f"grid column {col!r} carries no axis record ({{origin, step}} "
            "column metadata); load the grid through hycom_grid or "
            "hycom_grid_fixture, or attach one with schemas.axis_metadata"
        )
    return axis["origin"], axis["step"]


def hycom_grid_schema(time_axis, lat_axis, lon_axis) -> StructType:
    """Long/tall relational encoding of the HYCOM 4-D grid
    var[time,depth,lat,lon] (trackplot_hycom.py:110; coord axes :98-100)
    — FIXTURES.md table 5. Each ``*_axis`` is an ``(origin, step)`` pair,
    attached to ``time_hours``/``lat``/``lon`` by :func:`axis_metadata`."""
    return StructType(
        [
            # hours since 2000-01-01 UTC
            StructField("time_hours", LongType(), metadata=axis_metadata(*time_axis)),
            StructField("depth_idx", IntegerType()),
            StructField("depth_m", DoubleType()),
            StructField("lat_idx", IntegerType()),
            StructField("lon_idx", IntegerType()),
            StructField("lat", DoubleType(), metadata=axis_metadata(*lat_axis)),
            # [0, 360)
            StructField("lon", DoubleType(), metadata=axis_metadata(*lon_axis)),
            StructField("water_temp", DoubleType()),  # nullable; sentinel ≤ -4
            StructField("salinity", DoubleType()),
        ]
    )


# Dataset-routing catalog for find_hycom_dir semantics
# (trackplot_hycom.py:173-184) — FIXTURES.md table 6.
HYCOM_CATALOG_SCHEMA = StructType(
    [
        StructField("expt", StringType()),
        StructField("url", StringType()),
        StructField("time_start_hours", LongType()),
        StructField("time_end_hours", LongType()),
    ]
)
