"""Join-layer queries (SURVEY.md §2.4): grid snap (J1), 3x3 neighborhood
(J2), as-of backward/nearest (J3), interval routing (J4), positional zip
(J5), plus the standard equi/broadcast/semi/anti surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from modeltracking_spark.operators.joins import (
    asof_join,
    axis_index,
    grid_snap_join,
    interval_join,
    neighborhood_expand,
    salted_join,
)
from modeltracking_spark.queries.common import T, cents, query
from modeltracking_spark.schemas import axis_metadata

# ---------------------------------------------------------------------------
# J1 / J2: synthetic 21x21 uniform grid (GLBu0.08-style), formula-generated
# identically in Spark and in the oracle SQL so both engines see one grid.
# ---------------------------------------------------------------------------

GRID_SQL = """
    SELECT (i // 21)::INTEGER AS lat_idx,
           (i % 21)::INTEGER AS lon_idx,
           20.0 + (i // 21) * 0.08 AS g_lat,
           300.0 + (i % 21) * 0.08 AS g_lon,
           ((i // 21) * 31 + (i % 21) * 17) % 97 * 0.1 AS temp
    FROM range(441) t(i)
"""

POINTS_SQL = """
    SELECT c_custkey,
           20.0 + (c_custkey % 17) * 0.08 + 0.01 AS p_lat,
           300.0 + (c_custkey % 19) * 0.08 - 0.02 AS p_lon
    FROM customer
"""


def synthetic_grid(spark: SparkSession) -> DataFrame:
    """21x21 uniform grid at (20.0, 300.0) step 0.08 with a deterministic
    integer-derived temp field — the HYCOM GLBu0.08 stand-in
    (``trackplot_hycom.py:176``). ``lat``/``lon`` carry their axis
    records."""
    i = F.col("id")
    return spark.range(441).select(
        (i / 21).cast("int").alias("lat_idx"),
        (i % 21).cast("int").alias("lon_idx"),
        (F.lit(20.0) + (i / 21).cast("int") * 0.08).alias(
            "lat", metadata=axis_metadata(20.0, 0.08)
        ),
        (F.lit(300.0) + (i % 21) * 0.08).alias(
            "lon", metadata=axis_metadata(300.0, 0.08)
        ),
        (((i / 21).cast("int") * 31 + (i % 21) * 17) % 97 * 0.1).alias("temp"),
    )


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        (F.lit(20.0) + (F.col("c_custkey") % 17) * 0.08 + 0.01).alias("p_lat"),
        (F.lit(300.0) + (F.col("c_custkey") % 19) * 0.08 - 0.02).alias("p_lon"),
    )


@query(
    "grid_snap_nearest_node",
    oracle=f"""
    WITH grid AS ({GRID_SQL}), pts AS ({POINTS_SQL})
    SELECT c_custkey, lat_idx, lon_idx,
           round(temp * 10)::BIGINT AS temp_e1
    FROM pts JOIN grid
      ON round((p_lat - 20.0) / 0.08)::INTEGER = lat_idx
     AND round((p_lon - 300.0) / 0.08)::INTEGER = lon_idx
    """,
)
def grid_snap_nearest_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (scale route): arithmetic snap to the nearest uniform-grid node +
    equi-join — O(n) replacement for the reference's O(n_lat x n_lon) scan
    per point (``location_to_index``, ``trackplot_hycom.py:67-86``)."""
    pts = _points(spark, sf_dir).withColumnsRenamed(
        {"p_lat": "lat", "p_lon": "lon"}
    )
    out = grid_snap_join(pts, synthetic_grid(spark))
    return out.select(
        "c_custkey",
        "lat_idx",
        "lon_idx",
        F.round(F.col("temp") * 10).cast("long").alias("temp_e1"),
    )


@query(
    "neighborhood_3x3",
    oracle=f"""
    WITH grid AS ({GRID_SQL}), pts AS ({POINTS_SQL}),
    snapped AS (
      SELECT c_custkey,
             round((p_lat - 20.0) / 0.08)::INTEGER AS lat_idx,
             round((p_lon - 300.0) / 0.08)::INTEGER AS lon_idx
      FROM pts
    ),
    offs AS (SELECT a.di::INTEGER AS di, b.dj::INTEGER AS dj
             FROM range(-1, 2) a(di) CROSS JOIN range(-1, 2) b(dj))
    SELECT s.c_custkey,
           count(*) AS n_neighbors,
           sum(round(g.temp * 10)::BIGINT)::BIGINT AS sum_temp_e1
    FROM snapped s
    CROSS JOIN offs o
    JOIN grid g ON g.lat_idx = s.lat_idx + o.di AND g.lon_idx = s.lon_idx + o.dj
    GROUP BY 1
    """,
)
def neighborhood_3x3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: 3x3 neighborhood expansion (``nearest_neighbors``,
    ``trackplot_hycom.py:59-65``) via explode + equi-join; edge nodes
    yield < 9 neighbors, proving the join doesn't invent rows."""
    pts = _points(spark, sf_dir)
    grid = synthetic_grid(spark)
    snapped = pts.select(
        "c_custkey",
        axis_index(F.col("p_lat"), grid, "lat").alias("lat_idx"),
        axis_index(F.col("p_lon"), grid, "lon").alias("lon_idx"),
    )
    grid = grid.withColumnsRenamed(
        {"lat_idx": "g_lat_idx", "lon_idx": "g_lon_idx"}
    )
    nb = neighborhood_expand(snapped)
    j = nb.join(
        grid,
        (F.col("nb_lat_idx") == F.col("g_lat_idx"))
        & (F.col("nb_lon_idx") == F.col("g_lon_idx")),
    )
    return j.groupBy("c_custkey").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.sum(F.round(F.col("temp") * 10).cast("long")).alias("sum_temp_e1"),
    )


# ---------------------------------------------------------------------------
# J3: as-of joins (clicks -> errors per user)
# ---------------------------------------------------------------------------

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def _clicks_errors(spark: SparkSession, sf_dir: str):
    e = T(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = e.where(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts"), F.col("event_id").alias("err_id")
    )
    return clicks, errors


@query(
    "asof_backward_clicks",
    oracle=f"""
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '{TS_FMT_DUCK}') AS ts_s,
           (SELECT er.event_id FROM events er
             WHERE er.event_type = 'error' AND er.user_id = e.user_id
               AND er.ts <= e.ts
             ORDER BY er.ts DESC LIMIT 1) AS err_id,
           (SELECT strftime(er.ts, '{TS_FMT_DUCK}') FROM events er
             WHERE er.event_type = 'error' AND er.user_id = e.user_id
               AND er.ts <= e.ts
             ORDER BY er.ts DESC LIMIT 1) AS matched_ts_s
    FROM events e
    WHERE e.event_type = 'click'
    """,
)
def asof_backward_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 backward: for each click, the user's latest error at-or-before —
    the union-and-window as-of join (one shuffle on user_id, one ordered
    window scan; no cross product). ``find_time_index`` analog
    (``trackplot_hycom.py:186-197``)."""
    clicks, errors = _clicks_errors(spark, sf_dir)
    out = asof_join(
        clicks, errors, on=["user_id"], left_ts="ts", right_ts="err_ts",
        right_payload=["err_id"], direction="backward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT_SPARK).alias("ts_s"),
        "err_id",
        F.date_format("__matched_ts", TS_FMT_SPARK).alias("matched_ts_s"),
    )


@query(
    "asof_nearest_clicks",
    oracle=f"""
    WITH cl AS (SELECT * FROM events WHERE event_type = 'click'),
    m AS (
      SELECT cl.event_id, cl.user_id, cl.ts,
             (SELECT er.ts FROM events er
               WHERE er.event_type = 'error' AND er.user_id = cl.user_id
                 AND er.ts <= cl.ts ORDER BY er.ts DESC LIMIT 1) AS b_ts,
             (SELECT er.ts FROM events er
               WHERE er.event_type = 'error' AND er.user_id = cl.user_id
                 AND er.ts >= cl.ts ORDER BY er.ts ASC LIMIT 1) AS f_ts
      FROM cl
    ),
    pick AS (
      SELECT event_id, user_id, ts,
             CASE WHEN b_ts IS NULL THEN f_ts
                  WHEN f_ts IS NOT NULL
                       AND abs(epoch(f_ts) - epoch(ts)) < abs(epoch(ts) - epoch(b_ts))
                  THEN f_ts ELSE b_ts END AS m_ts
      FROM m
    )
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '{TS_FMT_DUCK}') AS ts_s,
           (SELECT er.event_id FROM events er
             WHERE er.event_type = 'error' AND er.user_id = p.user_id
               AND er.ts = p.m_ts LIMIT 1) AS err_id,
           strftime(p.m_ts, '{TS_FMT_DUCK}') AS matched_ts_s
    FROM pick p
    """,
)
def asof_nearest_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 nearest — the reference's actual semantics (argmin |t_grid - t|,
    ``trackplot_hycom.py:193``): two directed passes + per-row pick;
    backward wins exact ties."""
    clicks, errors = _clicks_errors(spark, sf_dir)
    out = asof_join(
        clicks, errors, on=["user_id"], left_ts="ts", right_ts="err_ts",
        right_payload=["err_id"], direction="nearest",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT_SPARK).alias("ts_s"),
        "err_id",
        F.date_format("__matched_ts", TS_FMT_SPARK).alias("matched_ts_s"),
    )


# ---------------------------------------------------------------------------
# J4: interval-containment routing
# ---------------------------------------------------------------------------

RANGES = [
    ("era_95", "1995-01-01", "1996-07-01"),
    ("era_96", "1996-07-01", "1998-01-01"),
    ("era_98", "1998-01-01", "1999-07-01"),
    ("era_99", "1999-07-01", "2001-01-01"),
    ("era_01", "2001-01-01", "2002-07-01"),
]


@query(
    "interval_routing",
    oracle="""
    WITH ranges(label, t_start, t_end) AS (VALUES
      ('era_95', TIMESTAMP '1995-01-01', TIMESTAMP '1996-07-01'),
      ('era_96', TIMESTAMP '1996-07-01', TIMESTAMP '1998-01-01'),
      ('era_98', TIMESTAMP '1998-01-01', TIMESTAMP '1999-07-01'),
      ('era_99', TIMESTAMP '1999-07-01', TIMESTAMP '2001-01-01'),
      ('era_01', TIMESTAMP '2001-01-01', TIMESTAMP '2002-07-01'))
    SELECT r.label,
           count(*) AS n_orders,
           sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
    FROM orders o JOIN ranges r
      ON o.o_orderdate > r.t_start AND o.o_orderdate < r.t_end
    GROUP BY 1
    """,
)
def interval_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/S7: route facts to the containing interval of a broadcast
    catalog — ``find_hycom_dir`` (``trackplot_hycom.py:173-184``) with the
    reference's *strict* bounds (boundary-date orders route nowhere)."""
    o = T(spark, sf_dir, "orders")
    schema = StructType(
        [
            StructField("label", StringType()),
            StructField("t_start", TimestampType()),
            StructField("t_end", TimestampType()),
        ]
    )
    import datetime as dt

    rows = [
        (lab, dt.datetime.fromisoformat(s), dt.datetime.fromisoformat(e))
        for lab, s, e in RANGES
    ]
    ranges = spark.createDataFrame(rows, schema)
    routed = interval_join(o, ranges, point="o_orderdate", start="t_start", end="t_end")
    return routed.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents("o_totalprice")).alias("sum_cents"),
    )


@query(
    "zip_positional_align",
    oracle="""
    WITH by_date AS (
      SELECT o_orderkey AS date_key,
             row_number() OVER (ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
      FROM orders
    ), by_price AS (
      SELECT o_orderkey AS price_key,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    )
    SELECT d.rn::BIGINT AS rn, d.date_key, p.price_key
    FROM by_date d JOIN by_price p USING (rn)
    WHERE d.rn <= 100
    """,
)
def zip_positional_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: positional zip of two independent orderings — the relational
    form of ``zip(hurrlat, hurrlon, hours)`` (``trackplot_hycom.py:240``)
    via row_number alignment."""
    o = T(spark, sf_dir, "orders")
    by_date = o.select(
        F.col("o_orderkey").alias("date_key"),
        F.row_number()
        .over(Window.orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc()))
        .alias("rn"),
    )
    by_price = o.select(
        F.col("o_orderkey").alias("price_key"),
        F.row_number()
        .over(Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc()))
        .alias("rn"),
    )
    return (
        by_date.join(by_price, "rn")
        .where(F.col("rn") <= 100)
        .select(F.col("rn").cast("long").alias("rn"), "date_key", "price_key")
    )


@query(
    "regional_revenue",
    oracle="""
    SELECT r_name,
           count(*) AS n_orders,
           count(DISTINCT c_custkey) AS n_cust,
           sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS revenue_cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1
    """,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard equi-join surface: fact->dim chain with explicit broadcast
    of every dimension side (customer is small at sf0.01 but would be
    shuffle-joined at 100 TB; nation/region broadcast at any scale)."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_distinct("c_custkey").alias("n_cust"),
        F.sum(cents("o_totalprice")).alias("revenue_cents"),
    )


@query(
    "semi_anti_customers",
    oracle="""
    SELECT 'with_orders' AS segment, count(*) AS n_cust,
           sum(round(c_acctbal * 100)::BIGINT)::BIGINT AS acctbal_cents
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'without_orders', count(*),
           sum(round(c_acctbal * 100)::BIGINT)::BIGINT
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti join surface: customers with vs without orders — planned
    as left-semi / left-anti hash joins (no fact-side fanout). The arm
    builder is shared with the ``customer_order_set_ops``
    suite (``common.semi_anti_arm``)."""
    from modeltracking_spark.queries.common import semi_anti_arm

    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return semi_anti_arm(c, o, "leftsemi", "with_orders").unionByName(
        semi_anti_arm(c, o, "leftanti", "without_orders")
    )


@query(
    "skew_salted_join_events",
    oracle="""
    SELECT c_mktsegment AS segment,
           count(*) AS n_events,
           sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents,
           count(DISTINCT user_id) AS n_users
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def skew_salted_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew escape hatch, scored: events (the fact side — the side
    that develops hot keys at 100 TB) joined to the customer dimension
    THROUGH ``salted_join``: the fact side's key space is salted 8 ways
    and the dimension replicated per salt, so a pathological hot key
    spreads over 8 reducer tasks instead of stalling one. Salting is
    result-invariant, so the oracle is the PLAIN join + aggregate — any
    salting bug (lost rows, per-salt duplication) breaks the counts.
    The hot-key-spread property itself is plan- and data-asserted in
    tests/test_skew_and_stream_dedup.py. AQE's runtime skew split
    (enabled in session.py) covers most skew; this explicit form is for
    single keys larger than a task and for AQE-off modes."""
    e = T(spark, sf_dir, "events")
    dim = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    j = salted_join(e, dim, on="user_id", n_salts=8)
    return (
        j.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("sum_cents"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@query(
    "bloom_prune_join_orders",
    oracle="""
    SELECT o.o_orderpriority,
           count(*)::BIGINT AS n_orders,
           sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS total_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1
    """,
)
def bloom_prune_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning (operators/bloomjoin.py): the
    BUILDING-segment customers build a deterministic 64 Ki-bit Bloom
    filter (md5/conv probes, bit_or aggregate — a bounded 8 KiB driver
    artifact), orders are prefiltered on the broadcast BITS before the
    join, and the join itself removes the false positives — so the
    oracle states the PLAIN join, which the pruned plan must reproduce
    row-for-row. At 100 TB the prefilter keeps non-matching fact rows
    out of the shuffle entirely; here the filter shows up as a codegen
    Filter under the scan (plan-asserted in tests/test_bloomjoin.py)."""
    from modeltracking_spark.operators.bloomjoin import bloom_prune_join

    orders = T(spark, sf_dir, "orders")
    dim = T(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    j = bloom_prune_join(orders, dim, "o_custkey", "c_custkey")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents("o_totalprice")).alias("total_cents"),
    )
