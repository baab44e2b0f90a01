"""Scalar-function demos: time-epoch conversions (F1/F2/F9), longitude
normalization (F4), haversine track steps with lag (F6 + §2.6 analytic
window), Euclidean-degree KNN (F7 + A3/J1 brute route), inverse-square
weights (F8), Vincenty-vs-haversine delta (F6 exact, rows-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modeltracking_spark.functions.geo import (
    euclid_deg,
    haversine_km,
    inv_square_weight,
    normalize_lon_0_360,
    vincenty_km_udf,
)
from modeltracking_spark.functions.timefn import (
    format_ymdh,
    hours_since_2000,
    parse_ymdh,
    ts_from_hours_since_2000,
)
from modeltracking_spark.operators.joins import knn_join_brute
from modeltracking_spark.queries.common import T, fxp, query


@query(
    "hours_epoch_roundtrip",
    oracle="""
    SELECT o_orderkey,
           datediff('hour', TIMESTAMP '2000-01-01', o_orderdate) AS hours2000,
           strftime(TIMESTAMP '2000-01-01'
                    + to_hours(datediff('hour', TIMESTAMP '2000-01-01', o_orderdate)),
                    '%Y%m%d%H') AS ymdh,
           (strptime(strftime(o_orderdate, '%Y%m%d%H'), '%Y%m%d%H')
              = o_orderdate) AS roundtrip_ok
    FROM orders
    """,
)
def hours_epoch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F9: hurrtimeconv/ymdh round trip (``trackplot_hycom.py:45-50``,
    ``:150-156``) — hours since 2000-01-01 and back, plus the yyyyMMddHH
    parse/format identity on hour-aligned data."""
    o = T(spark, sf_dir, "orders")
    h = hours_since_2000("o_orderdate")
    return o.select(
        "o_orderkey",
        h.alias("hours2000"),
        format_ymdh(ts_from_hours_since_2000(h)).alias("ymdh"),
        (parse_ymdh(format_ymdh("o_orderdate")) == F.col("o_orderdate")).alias(
            "roundtrip_ok"
        ),
    )


@query(
    "lon_normalize",
    oracle="""
    SELECT c_custkey,
           (c_custkey % 3600) / 10.0 - 180.0 AS lon_raw,
           CASE WHEN (c_custkey % 3600) / 10.0 - 180.0 < 0
                THEN (c_custkey % 3600) / 10.0 - 180.0 + 360.0
                ELSE (c_custkey % 3600) / 10.0 - 180.0 END AS lon_0_360
    FROM customer
    """,
)
def lon_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: [-180,180) -> [0,360) east-positive normalization, the track
    loader's lon fix (``trackplot_hycom.py:166-170``: -19.4 -> 340.6)."""
    c = T(spark, sf_dir, "customer")
    lon_raw = (F.col("c_custkey") % 3600) / 10.0 - 180.0
    return c.select(
        "c_custkey",
        lon_raw.alias("lon_raw"),
        normalize_lon_0_360(lon_raw).alias("lon_0_360"),
    )


# deterministic 80-point synthetic track (hurricane-shaped ramp), the
# al092016 stand-in used by the geo/window demos and the profile pipeline
TRACK_SQL = """
    SELECT i::BIGINT AS point_id,
           15.0::DOUBLE + i * 0.25::DOUBLE AS lat,
           CASE WHEN -80.0::DOUBLE + i * 0.6::DOUBLE < 0
                THEN -80.0::DOUBLE + i * 0.6::DOUBLE + 360.0::DOUBLE
                ELSE -80.0::DOUBLE + i * 0.6::DOUBLE END AS lon,
           i::BIGINT * 1 AS t_hours
    FROM range(80) t(i)
"""


def synthetic_track(spark: SparkSession) -> DataFrame:
    """80-point deterministic track: lat ramps 15..34.75, lon -80..-32.6
    (normalized to [0,360)), one point per hour. :data:`TRACK_SQL` run by
    Spark: the oracles run the same text in DuckDB, so edit it only in
    syntax both engines accept."""
    return spark.sql(TRACK_SQL)


@query(
    "track_step_haversine",
    oracle=f"""
    WITH track AS ({TRACK_SQL}),
    stepped AS (
      SELECT point_id, lat, lon,
             lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
      FROM track WINDOW w AS (ORDER BY point_id)
    )
    SELECT point_id, lat, lon,
           round(2.0 * 6371.0 * asin(sqrt(
             sin(radians(lat - plat) / 2) ^ 2
             + cos(radians(plat)) * cos(radians(lat))
               * sin(radians(lon - plon) / 2) ^ 2)), 2) AS step_km
    FROM stepped
    """,
)
def track_step_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 + §2.6 lag: consecutive point-to-point great-circle distance
    along the track — the 'ahead of/behind the storm' step metric implied
    by ``trackplot_hycom.py:7-8``. Transcendental output rounded to 2
    decimals per the fixed-point doctrine."""
    t = synthetic_track(spark)
    # point ids are consecutive, so the previous point is an equi-join
    # on point_id - 1: no all-to-one-partition window
    prev = t.select(
        (F.col("point_id") + 1).alias("point_id"),
        F.col("lat").alias("plat"),
        F.col("lon").alias("plon"),
    )
    stepped = t.join(F.broadcast(prev), "point_id", "left")
    return stepped.select(
        "point_id",
        "lat",
        "lon",
        F.round(haversine_km("plat", "plon", "lat", "lon"), 2).alias("step_km"),
    )


@query(
    "euclid_knn_suppliers",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey * 3 % 100) / 10.0 AS c_lat,
             (c_custkey * 11 % 100) / 10.0 AS c_lon
      FROM customer
    ), sup AS (
      SELECT s_suppkey,
             (s_suppkey * 7 % 100) / 10.0 AS s_lat,
             (s_suppkey * 13 % 100) / 10.0 AS s_lon
      FROM supplier
    )
    SELECT c_custkey, s_suppkey,
           round(sqrt((c_lat - s_lat) * (c_lat - s_lat)
                    + (c_lon - s_lon) * (c_lon - s_lon)) * 1e9)::BIGINT AS dist_e9
    FROM pts CROSS JOIN sup
    QUALIFY row_number() OVER (
      PARTITION BY c_custkey
      ORDER BY sqrt((c_lat - s_lat) * (c_lat - s_lat)
                  + (c_lon - s_lon) * (c_lon - s_lon)) ASC, s_suppkey ASC) = 1
    """,
)
def euclid_knn_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 + A3 + J1 (brute route): nearest supplier per customer by
    Euclidean-degree distance — ``location_to_index`` semantics
    (``trackplot_hycom.py:67-86``) as a broadcast KNN with deterministic
    tie-break. The snap route (the scale path) is demoed separately."""
    c = T(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 3 % 100) / 10.0).alias("c_lat"),
        ((F.col("c_custkey") * 11 % 100) / 10.0).alias("c_lon"),
    )
    s = T(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 7 % 100) / 10.0).alias("s_lat"),
        ((F.col("s_suppkey") * 13 % 100) / 10.0).alias("s_lon"),
    )
    out = knn_join_brute(
        c,
        s,
        euclid_deg("c_lat", "c_lon", "s_lat", "s_lon"),
        left_key="c_custkey",
        right_order=["s_suppkey"],
        k=1,
    )
    return out.select("c_custkey", "s_suppkey", fxp("dist", 1e9).alias("dist_e9"))


@query(
    "inv_square_weights",
    oracle="""
    SELECT DISTINCT l_quantity AS d,
           round(1.0 / ((l_quantity + 1e-6) * (l_quantity + 1e-6)) * 1e12)::BIGINT
             AS weight_e12
    FROM lineitem
    """,
)
def inv_square_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: the notebook's epsilon-guarded inverse-square IDW weight
    (``TrackPlotter_Hycom.ipynb:41``) over the distinct quantity values."""
    li = T(spark, sf_dir, "lineitem")
    d = F.col("l_quantity")
    w = inv_square_weight(d)
    return li.select(d.alias("d"), fxp(w, 1e12).alias("weight_e12")).distinct()


@query(
    "vincenty_vs_haversine",
    oracle=f"""
    WITH track AS ({TRACK_SQL}),
    stepped AS (
      SELECT point_id, lat, lon,
             lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
      FROM track WINDOW w AS (ORDER BY point_id)
    )
    SELECT point_id,
           round(2.0 * 6371.0 * asin(sqrt(
             sin(radians(lat - plat) / 2) ^ 2
             + cos(radians(plat)) * cos(radians(lat))
               * sin(radians(lon - plon) / 2) ^ 2)), 2) AS hav_km,
           TRUE AS vin_within_006pct,
           b.lat_min, b.lat_max, b.lon_min, b.lon_max
    FROM stepped
    CROSS JOIN (SELECT min(lat) AS lat_min, max(lat) AS lat_max,
                       min(lon) AS lon_min, max(lon) AS lon_max
                FROM track) b
    WHERE plat IS NOT NULL
    """,
)
def vincenty_vs_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 exact: Vincenty (WGS-84, vectorized pandas UDF) against the
    haversine substitute over the track steps. Vincenty is an iterative
    geodesic with no SQL analog, so the oracle attests it through the
    bound SURVEY F6 documents: per step, |vincenty − haversine| /
    vincenty < 0.6% must hold — the Spark side emits the comparison as a
    boolean, the oracle emits literal TRUE. A broken Vincenty (wrong
    ellipsoid, bad convergence) flips rows to FALSE and hash-fails;
    haversine itself is checked exactly (2-decimal rounding absorbs
    cross-engine libm ulps, same as track_step_haversine). A repeated
    track point (vin == 0) counts as within-bound iff hav == 0 too.
    Pinned published geodesics additionally guard Vincenty's absolute
    values in tests/test_geo.py.

    Also carries A1 (``trackplot_hycom.py:236-237``): the track's
    bounding box — min/max lat/lon of the SAME track, broadcast onto
    every step row."""
    from modeltracking_spark.operators.aggregates import bounding_box

    t = synthetic_track(spark)
    # single-track contract: the window is track-sized (80 points)
    w = Window.orderBy("point_id")
    stepped = t.select(
        "point_id",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    ).where(F.col("plat").isNotNull())
    vin = vincenty_km_udf()
    # compute each distance ONCE in a prior projection — duplicating the
    # UDF expression would risk running the iterative geodesic twice per
    # row if the plan doesn't collapse common Python UDFs
    d = stepped.select(
        "point_id",
        haversine_km("plat", "plon", "lat", "lon").alias("hav"),
        vin("plat", "plon", "lat", "lon").alias("vin"),
    )
    return d.select(
        "point_id",
        F.round(F.col("hav"), 2).alias("hav_km"),
        # repeated track point -> vin == 0: the ratio would divide by
        # zero, so define the bound as "both distances are zero" there
        F.when(F.col("vin") == 0, F.col("hav") == 0)
        .otherwise(F.abs(F.col("vin") - F.col("hav")) / F.col("vin") < 0.006)
        .alias("vin_within_006pct"),
    ).crossJoin(F.broadcast(bounding_box(t)))


# ---- point-in-polygon oracle: the integer ray cast replayed in SQL.
# xi/yi = edge start (1-based i+1), xj/yj = edge end (wrapping); the
# division-free cross-multiplied crossing test keeps everything BIGINT.
_PIP_XI, _PIP_YI = "g.xs[i+1]", "g.ys[i+1]"
_PIP_XJ = "g.xs[((i+1) % len(g.xs)) + 1]"
_PIP_YJ = "g.ys[((i+1) % len(g.xs)) + 1]"
_PIP_EDGE = f"""CASE WHEN (({_PIP_YI} > p.py) <> ({_PIP_YJ} > p.py))
     AND (CASE WHEN {_PIP_YJ} > {_PIP_YI}
          THEN (p.px - {_PIP_XI}) * ({_PIP_YJ} - {_PIP_YI})
             < ({_PIP_XJ} - {_PIP_XI}) * (p.py - {_PIP_YI})
          ELSE (p.px - {_PIP_XI}) * ({_PIP_YJ} - {_PIP_YI})
             > ({_PIP_XJ} - {_PIP_XI}) * (p.py - {_PIP_YI}) END)
     THEN 1 ELSE 0 END"""

#: (poly_id, xs, ys) — vertices in the customers' raw [0,100) integer grid
_PIP_POLYGONS = [
    (1, [0, 60, 0], [0, 0, 60]),
    (2, [40, 95, 95, 40], [40, 40, 95, 95]),
    (3, [10, 40, 50, 25, 5], [60, 65, 90, 98, 80]),
]
_PIP_VALUES = ", ".join(
    f"({pid}, {xs}::BIGINT[], {ys}::BIGINT[])" for pid, xs, ys in _PIP_POLYGONS
)


@query(
    "point_in_polygon_customers",
    oracle=f"""
    WITH pts AS (SELECT c_custkey,
                        (c_custkey * 11 % 100)::BIGINT AS px,
                        (c_custkey * 3 % 100)::BIGINT AS py
                 FROM customer),
    poly AS (SELECT * FROM (VALUES {_PIP_VALUES}) t(poly_id, xs, ys)),
    hit AS (
      SELECT p.c_custkey, p.px, p.py, g.poly_id,
             list_sum(list_transform(range(len(g.xs)),
                      i -> {_PIP_EDGE})) % 2 AS par
      FROM pts p CROSS JOIN poly g
    )
    SELECT poly_id, c_custkey, px, py FROM hit WHERE par = 1
    """,
)
def point_in_polygon_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial containment join: customers (formula integer-grid
    coords, raw [0,100) units) routed to the region polygons containing them — the
    polygon-accurate version of the reference's region routing. The
    ray cast is division-free integer arithmetic (cross-multiplied
    crossing test), so no float boundary can flip a verdict between
    engines; the oracle replays every edge test
    (operators/joins.py:point_in_polygon_join)."""
    from modeltracking_spark.operators.joins import point_in_polygon_join

    pts = T(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") * 11 % 100).cast("long").alias("px"),
        (F.col("c_custkey") * 3 % 100).cast("long").alias("py"),
    )
    polys = spark.createDataFrame(
        _PIP_POLYGONS, "poly_id int, xs array<long>, ys array<long>"
    )
    out = point_in_polygon_join(pts, polys)
    return out.select("poly_id", "c_custkey", "px", "py")


@query(
    "track_resample_arclength",
    oracle=f"""
    WITH track AS ({TRACK_SQL}),
    seg AS (
      SELECT point_id, lat, lon,
             lag(lat) OVER (ORDER BY point_id) AS lat0,
             lag(lon) OVER (ORDER BY point_id) AS lon0,
             sqrt((lat - lag(lat) OVER (ORDER BY point_id))
                  * (lat - lag(lat) OVER (ORDER BY point_id))
                  + (lon - lag(lon) OVER (ORDER BY point_id))
                  * (lon - lag(lon) OVER (ORDER BY point_id))) AS seg_len
      FROM track
    ),
    segc AS (
      SELECT *, sum(seg_len) OVER (ORDER BY point_id
                 ROWS UNBOUNDED PRECEDING) AS cum1
      FROM seg WHERE lat0 IS NOT NULL
    ),
    seg2 AS (SELECT *, cum1 - seg_len AS cum0 FROM segc),
    tot AS (SELECT max(cum1) AS t FROM seg2),
    targets AS (
      SELECT k.k::BIGINT AS k, k.k::DOUBLE * 0.5::DOUBLE AS s
      FROM range(0, 1000) k(k), tot
      WHERE k.k <= floor(tot.t / 0.5::DOUBLE)::BIGINT
    )
    SELECT t.k,
           floor(t.s * 1e6 + 0.5::DOUBLE)::BIGINT AS s_deg_e6,
           floor((g.lat0 + ((t.s - g.cum0) / g.seg_len) * (g.lat - g.lat0))
                 * 1e6 + 0.5::DOUBLE)::BIGINT AS lat_e6,
           floor((g.lon0 + ((t.s - g.cum0) / g.seg_len) * (g.lon - g.lon0))
                 * 1e6 + 0.5::DOUBLE)::BIGINT AS lon_e6
    FROM targets t JOIN seg2 g ON t.s >= g.cum0 AND t.s < g.cum1
    """,
)
def track_resample_arclength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-arc-length track resampling (0.5° steps) over the synthetic
    advisory track — cumulative Euclidean-degree arc (sqrt is IEEE
    correctly rounded, so the running fold is engine-exact), targets
    joined onto their containing segment, linear interpolation e6-
    floored. The oracle replays the lag/cumsum/interpolate chain
    (operators/profile.py:resample_track_arclength); its target
    universe is a fixed range(0, 1000) (DuckDB range() cannot take
    lateral bounds), valid while the track's total arc < 500 deg —
    pinned by tests/test_idw_profile.py so a longer future track fails
    the TEST, not the oracle compare."""
    from modeltracking_spark.operators.profile import resample_track_arclength

    return resample_track_arclength(synthetic_track(spark), step_deg=0.5)
