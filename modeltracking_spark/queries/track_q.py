"""The track x grid profile queries (SURVEY.md §7.6, §2.9) — the
reference pipeline end to end, oracle-checked:

- profile_along_track_temp: snap -> 3x3 -> nearest-time -> mask -> IDW
  -> top-25 depths (``trackplot_hycom.py:199-223``), 80x25 = 2000 rows.
- profile_multivariable_pivot: R3 — temp + salinity as one labelled
  union of neighbour rows, pivoted.
- profile_flatten_roundtrip: R1 — per-point profile array
  (collect -> array_sort) posexploded back to long rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modeltracking_spark.fixtures import (
    GRID_LAT0,
    GRID_LAT_STEP,
    GRID_LON0,
    GRID_LON_STEP,
    GRID_TIME_STEP,
    HYCOM_GRID_SQL,
    hycom_grid_fixture,
)
from modeltracking_spark.operators.aggregates import mask_sentinel
from modeltracking_spark.operators.joins import _time_bucket, grid_snap_join
from modeltracking_spark.operators.profile import K_DEPTHS, profile_neighbors
from modeltracking_spark.queries.common import query
from modeltracking_spark.queries.timegeo import TRACK_SQL, synthetic_track

# the grid time step nearest t_hours, halves rounded up, in integers
_T_SEL = (f"((2 * t_hours + {GRID_TIME_STEP}) // {2 * GRID_TIME_STEP})"
          f" * {GRID_TIME_STEP}")

# shared oracle CTE prefix: track + grid + snap + 3x3 neighbor rows
_NEIGHBOR_SQL = f"""
    WITH track AS ({TRACK_SQL}),
    grid AS ({HYCOM_GRID_SQL}),
    snapped AS (
      SELECT point_id, lat AS p_lat, lon AS p_lon,
             {_T_SEL} AS t_sel,
             round((lat - {GRID_LAT0}::DOUBLE) / {GRID_LAT_STEP}::DOUBLE)::INTEGER AS lat_idx,
             round((lon - {GRID_LON0}::DOUBLE) / {GRID_LON_STEP}::DOUBLE)::INTEGER AS lon_idx
      FROM track
    ),
    offs AS (SELECT a.di::INTEGER AS di, b.dj::INTEGER AS dj
             FROM range(-1, 2) a(di) CROSS JOIN range(-1, 2) b(dj)),
    nbrows AS (
      SELECT s.point_id, g.depth_idx, g.depth_m,
             sqrt((s.p_lat - g.lat) * (s.p_lat - g.lat)
                + (s.p_lon - g.lon) * (s.p_lon - g.lon)) AS d,
             CASE WHEN g.water_temp > -4 THEN g.water_temp END AS v,
             CASE WHEN g.salinity > -4 THEN g.salinity END AS sal
      FROM snapped s
      CROSS JOIN offs o
      JOIN grid g ON g.time_hours = s.t_sel
                 AND g.lat_idx = s.lat_idx + o.di
                 AND g.lon_idx = s.lon_idx + o.dj
      WHERE g.depth_idx < 25
    )
"""

_W = "(1.0::DOUBLE / ((d + 1e-6) * (d + 1e-6)))"


@query(
    "profile_along_track_temp",
    oracle=f"""
    {_NEIGHBOR_SQL}
    SELECT point_id, depth_idx, depth_m,
           count(v) AS n_valid,
           sum(CASE WHEN v IS NOT NULL THEN round({_W} * 1e9)::BIGINT END)::BIGINT AS w_e9,
           sum(CASE WHEN v IS NOT NULL THEN round({_W} * v * 1e9)::BIGINT END)::BIGINT AS wv_e9,
           sum(CASE WHEN v IS NOT NULL THEN round({_W} * v * 1e9)::BIGINT END)::DOUBLE
             / sum(CASE WHEN v IS NOT NULL THEN round({_W} * 1e9)::BIGINT END)::DOUBLE
             AS idw_temp
    FROM nbrows
    GROUP BY 1, 2, 3
    """,
)
def profile_along_track_temp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§7.6 end to end: the 80-point track against the HYCOM grid fixture
    -> 80 x 25 = 2000 IDW profile rows (SURVEY §5.4 golden shape).

    The whole track resolves in ONE broadcast join + ONE hash aggregate —
    vs the reference's 80 sequential remote re-opens
    (``trackplot_hycom.py:144``). IDW sums are lifted to e9 fixed point so
    the aggregate is order-independent and engine-exact."""
    rows = profile_neighbors(
        synthetic_track(spark), hycom_grid_fixture(spark), "water_temp"
    )
    w_e9 = F.when(
        F.col("v").isNotNull(), F.round(F.col("w") * 1e9).cast("long")
    )
    wv_e9 = F.when(
        F.col("v").isNotNull(), F.round(F.col("w") * F.col("v") * 1e9).cast("long")
    )
    agg = rows.groupBy("point_id", "depth_idx", "depth_m").agg(
        F.count("v").alias("n_valid"),
        F.sum(w_e9).alias("w_e9"),
        F.sum(wv_e9).alias("wv_e9"),
    )
    return agg.withColumn(
        "idw_temp", F.col("wv_e9").cast("double") / F.col("w_e9").cast("double")
    )


@query(
    "profile_multivariable_pivot",
    oracle=f"""
    {_NEIGHBOR_SQL},
    prof AS (
      SELECT point_id, depth_idx,
             sum(CASE WHEN v IS NOT NULL THEN round({_W} * v * 1e9)::BIGINT END)::DOUBLE
               / sum(CASE WHEN v IS NOT NULL THEN round({_W} * 1e9)::BIGINT END)::DOUBLE
               AS water_temp_idw,
             sum(CASE WHEN sal IS NOT NULL THEN round({_W} * sal * 1e9)::BIGINT END)::DOUBLE
               / sum(CASE WHEN sal IS NOT NULL THEN round({_W} * 1e9)::BIGINT END)::DOUBLE
               AS salinity_idw
      FROM nbrows
      GROUP BY 1, 2
    )
    SELECT point_id,
           (row_number() OVER (PARTITION BY point_id ORDER BY depth_idx ASC)
              - 1)::INTEGER AS pos,
           depth_idx, water_temp_idw, salinity_idw
    FROM prof
    """,
)
def profile_multivariable_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 multi-variable widening + R1/R2 reshape roundtrip: the grid's
    two physics variables profiled to long form (variable, w, v), one
    labelled neighbour pass each, pivoted back to wide columns — the
    notebook's TEMP+SALINITY dual run (``TrackPlotter_Hycom.ipynb``
    cells 3-4) in one query. The wide profile is then collected into
    an ordered per-point array (``zip_variable3D``'s block,
    ``trackplot_hycom.py:199-223``) and posexploded back to long — the
    emitted ``pos`` ordinal comes from the array roundtrip, so R1 array
    build and R2 tuple extraction are attested by this query (the
    standalone ``profile_flatten_roundtrip`` checks them alone too).

    Each variable goes through the SAME profile_neighbors geometry as
    the single-variable query, so there is one snap/expand/join
    implementation to maintain."""
    track = synthetic_track(spark)
    grid = hycom_grid_fixture(spark)
    temp, sal = (
        profile_neighbors(track, grid, var).withColumn("variable", F.lit(var))
        for var in ("water_temp", "salinity")
    )
    nbrows = temp.unionByName(sal)
    w, v = F.col("w"), F.col("v")
    rows = nbrows.select(
        "point_id",
        "depth_idx",
        "variable",
        F.when(v.isNotNull(), F.round(w * 1e9).cast("long")).alias("w_e9"),
        F.when(v.isNotNull(), F.round(w * v * 1e9).cast("long")).alias("wv_e9"),
    )
    wide = (
        rows.groupBy("point_id", "depth_idx")
        .pivot("variable", ["water_temp", "salinity"])
        .agg(F.sum("w_e9").alias("w"), F.sum("wv_e9").alias("wv"))
    )
    prof = wide.select(
        "point_id",
        "depth_idx",
        (F.col("water_temp_wv").cast("double") / F.col("water_temp_w").cast("double")).alias(
            "water_temp_idw"
        ),
        (F.col("salinity_wv").cast("double") / F.col("salinity_w").cast("double")).alias(
            "salinity_idw"
        ),
    )
    # R1/R2 roundtrip: ordered array per point, then posexplode back —
    # the pos ordinal only comes out right if build + flatten both work
    arr = prof.groupBy("point_id").agg(
        F.array_sort(
            F.collect_list(F.struct("depth_idx", "water_temp_idw", "salinity_idw"))
        ).alias("profile")
    )
    return arr.select(
        "point_id", F.posexplode("profile").alias("pos", "pd")
    ).select(
        "point_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("pd.depth_idx").alias("depth_idx"),
        F.col("pd.water_temp_idw").alias("water_temp_idw"),
        F.col("pd.salinity_idw").alias("salinity_idw"),
    )


@query(
    "profile_flatten_roundtrip",
    oracle=f"""
    {_NEIGHBOR_SQL},
    prof AS (
      SELECT point_id, depth_idx,
             sum(CASE WHEN v IS NOT NULL THEN round({_W} * v * 1e9)::BIGINT END)::DOUBLE
               / sum(CASE WHEN v IS NOT NULL THEN round({_W} * 1e9)::BIGINT END)::DOUBLE
               AS idw_temp
      FROM nbrows GROUP BY 1, 2
    )
    SELECT point_id,
           (row_number() OVER (PARTITION BY point_id ORDER BY depth_idx ASC)
              - 1)::INTEGER AS pos,
           depth_idx, idw_temp
    FROM prof
    """,
)
def profile_flatten_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 reshape: the per-point depth profile collected into an ordered
    array (``zip_variable3D``'s per-point block, ``trackplot_hycom.py:
    199-223``) and posexploded back to long (point_id, pos, depth, value)
    triples — array build + flatten both exercised, output equals the flat
    profile."""
    prof = profile_along_track_temp(spark, sf_dir).select(
        "point_id", "depth_idx", "idw_temp"
    )
    arr = prof.groupBy("point_id").agg(
        F.array_sort(
            F.collect_list(F.struct("depth_idx", "idw_temp"))
        ).alias("profile")
    )
    return arr.select(
        "point_id", F.posexplode("profile").alias("pos", "pd")
    ).select(
        "point_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("pd.depth_idx").alias("depth_idx"),
        F.col("pd.idw_temp").alias("idw_temp"),
    )


@query(
    "profile_nearest_node",
    oracle=f"""
    WITH track AS ({TRACK_SQL}),
    grid AS ({HYCOM_GRID_SQL}),
    snapped AS (
      SELECT point_id,
             {_T_SEL} AS t_sel,
             round((lat - {GRID_LAT0}::DOUBLE) / {GRID_LAT_STEP}::DOUBLE)::INTEGER AS lat_idx,
             round((lon - {GRID_LON0}::DOUBLE) / {GRID_LON_STEP}::DOUBLE)::INTEGER AS lon_idx
      FROM track
    )
    SELECT s.point_id, g.depth_idx, g.depth_m,
           CASE WHEN g.water_temp > -4 THEN 1 ELSE 0 END::BIGINT AS n_valid,
           CASE WHEN g.water_temp > -4 THEN g.water_temp END AS idw_value
    FROM snapped s
    JOIN grid g ON g.time_hours = s.t_sel
               AND g.lat_idx = s.lat_idx AND g.lon_idx = s.lon_idx
    WHERE g.depth_idx < 25
    """,
)
def profile_nearest_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 nearest-node lookup, the reference's dead ``tempcolumn_nc4``
    (``trackplot_hycom.py:117-133``), as J1: each point's time step
    and its ``grid_snap_join`` node, the centre value without IDW
    (``n_valid`` 0 or 1)."""
    grid = hycom_grid_fixture(spark)
    points = synthetic_track(spark).select(
        "point_id", "lat", "lon",
        _time_bucket(F.col("t_hours"), grid).alias("t_sel"),
    )
    v = mask_sentinel("water_temp")
    return grid_snap_join(points, grid).where(
        (F.col("time_hours") == F.col("t_sel"))
        & (F.col("depth_idx") < K_DEPTHS)
    ).select(
        "point_id", "depth_idx", "depth_m",
        v.isNotNull().cast("long").alias("n_valid"),
        v.alias("idw_value"),
    )
