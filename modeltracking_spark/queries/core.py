"""Core relational queries: flagship temporal aggregate + scans, top-k,
sort/limit, set ops, rollup, JSON, try_cast (SURVEY.md §2.2/2.5/2.7/2.8).

Every query is paired with a DuckDB oracle; all double sums go through
fixed-point integers (see ``common.py`` discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modeltracking_spark.functions.timefn import hours_since_2000
from modeltracking_spark.operators.aggregates import mask_sentinel, top_k_per_group
from modeltracking_spark.queries.common import T, cents, query, semi_anti_arm


@query(
    "flagship_events_daily",
    oracle="""
    SELECT (datediff('hour', TIMESTAMP '2000-01-01', ts) // 24) AS day_idx,
           event_type,
           count(*) AS n_events,
           sum(round((CASE WHEN value > -4 THEN value END) * 100)::BIGINT)::BIGINT AS sum_cents,
           min(round((CASE WHEN value > -4 THEN value END) * 100)::BIGINT) AS min_cents,
           max(round((CASE WHEN value > -4 THEN value END) * 100)::BIGINT) AS max_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def flagship_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (SURVEY §7.1): events -> sentinel mask (P3) -> day bucket
    from hours-since-2000 (F1) -> grouped count/sum/min/max (A1-style).

    Scale: one map-side-combinable hash aggregate over the scan — the
    filter and the two projected columns push into the parquet reader.
    """
    e = T(spark, sf_dir, "events")
    masked = cents(mask_sentinel("value"))
    h = hours_since_2000("ts")
    return (
        e.withColumn("day_idx", F.floor(h / F.lit(24)).cast("long"))
        .groupBy("day_idx", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(masked).alias("sum_cents"),
            F.min(masked).alias("min_cents"),
            F.max(masked).alias("max_cents"),
        )
    )


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           sum(round(l_quantity * 100)::BIGINT)::BIGINT AS sum_qty_cents,
           sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS sum_price_cents,
           sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT)::BIGINT AS sum_disc_price_e4,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY 1, 2
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: filter pushed to the parquet scan,
    one hash aggregate, money in exact integer cents (1e4 fixed point for
    the 4-decimal discounted product)."""
    li = T(spark, sf_dir, "lineitem")
    disc_price = F.round(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents("l_quantity")).alias("sum_qty_cents"),
            F.sum(cents("l_extendedprice")).alias("sum_price_cents"),
            F.sum(disc_price).alias("sum_disc_price_e4"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "topk_lineitems_per_order",
    oracle="""
    WITH grp AS (
      SELECT 'grp' AS src, l_orderkey AS key_a, l_linenumber::BIGINT AS key_b,
             round(l_extendedprice * 100)::BIGINT AS price_cents,
             row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_extendedprice DESC, l_linenumber ASC
             )::BIGINT AS rnk
      FROM lineitem
      QUALIFY rnk <= 3
    ),
    glb AS (
      SELECT 'glob' AS src, o_orderkey AS key_a, 0::BIGINT AS key_b,
             round(o_totalprice * 100)::BIGINT AS price_cents,
             row_number() OVER (
               ORDER BY o_totalprice DESC, o_orderkey ASC
             )::BIGINT AS rnk
      FROM orders
      QUALIFY rnk <= 10
    ),
    by_date AS (
      SELECT o_orderkey AS date_key,
             row_number() OVER (ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
      FROM orders
    ),
    by_price AS (
      SELECT o_orderkey AS price_key,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ),
    zp AS (
      SELECT 'zip' AS src, d.date_key AS key_a, p.price_key AS key_b,
             NULL::BIGINT AS price_cents, d.rn::BIGINT AS rnk
      FROM by_date d JOIN by_price p USING (rn)
      WHERE d.rn <= 100
    )
    SELECT * FROM grp UNION ALL SELECT * FROM glb UNION ALL SELECT * FROM zp
    """,
)
def topk_lineitems_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/ordering suite, three ``src``-tagged arms in one query:

    - ``grp``  W1/P5: per-group top-k via row_number (the k=25 depth
      truncation of ``trackplot_hycom.py:148`` generalized) — one shuffle
      on the group key.
    - ``glob`` P6/§2.7: global sort + limit (TakeOrderedAndProject — each
      partition contributes its local top-10, no full sort materializes);
      carries ``orders_sort_limit``.
    - ``zip``  J5: positional zip of two independent orderings — the
      relational ``zip(hurrlat, hurrlon, hours)`` of
      ``trackplot_hycom.py:240`` via row_number alignment; carries
      ``zip_positional_align``.
    """
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    grp = top_k_per_group(
        li,
        ["l_orderkey"],
        [F.col("l_extendedprice").desc(), F.col("l_linenumber").asc()],
        k=3,
        rank_name="rnk",
    ).select(
        F.lit("grp").alias("src"),
        F.col("l_orderkey").alias("key_a"),
        F.col("l_linenumber").cast("long").alias("key_b"),
        cents("l_extendedprice").alias("price_cents"),
        F.col("rnk").cast("long").alias("rnk"),
    )
    # the glob arm really goes through orderBy().limit() (the
    # TakeOrderedAndProject path); ranks are labeled on the 10-row result
    glob = (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .withColumn(
            "rnk",
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
                )
            )
            .cast("long"),
        )
        .select(
            F.lit("glob").alias("src"),
            F.col("o_orderkey").alias("key_a"),
            F.lit(0).cast("long").alias("key_b"),
            cents("o_totalprice").alias("price_cents"),
            "rnk",
        )
    )
    # limit-FIRST, rank on the 100-row survivors (the glob arm's own
    # TakeOrderedAndProject pattern): ranking the full table in a
    # partition-less window then filtering rn<=100 is an
    # all-rows-to-one-task sort at scale.  orderBy().limit(100) keeps
    # the global top-k distributed (per-partition top-k + merge) and
    # the window only ever sees 100 rows.
    by_date = (
        o.orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(100)
        .select(
            F.col("o_orderkey").alias("date_key"),
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
                )
            )
            .alias("rn"),
        )
    )
    by_price = (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select(
            F.col("o_orderkey").alias("price_key"),
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
                )
            )
            .alias("rn"),
        )
    )
    zp = (
        by_date.join(by_price, "rn")
        .select(
            F.lit("zip").alias("src"),
            F.col("date_key").alias("key_a"),
            F.col("price_key").alias("key_b"),
            F.lit(None).cast("long").alias("price_cents"),
            F.col("rn").cast("long").alias("rnk"),
        )
    )
    return grp.unionByName(glob).unionByName(zp)


@query(
    "orders_sort_limit",
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice * 100)::BIGINT AS price_cents,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def orders_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/§2.7: global sort + limit (TakeOrderedAndProject — no full sort
    materializes; each partition contributes its local top-10)."""
    o = T(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            cents("o_totalprice").alias("price_cents"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


@query(
    "customer_order_set_ops",
    oracle="""
    WITH c95 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                   AND o_orderdate < TIMESTAMP '1996-01-01'),
         c96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                   AND o_orderdate < TIMESTAMP '1997-01-01')
    SELECT 'both' AS segment, count(*) AS n_cust, NULL::BIGINT AS acctbal_cents
      FROM (SELECT o_custkey FROM c95 INTERSECT SELECT o_custkey FROM c96)
    UNION ALL
    SELECT 'only_1995', count(*), NULL::BIGINT
      FROM (SELECT o_custkey FROM c95 EXCEPT SELECT o_custkey FROM c96)
    UNION ALL
    SELECT 'only_1996', count(*), NULL::BIGINT
      FROM (SELECT o_custkey FROM c96 EXCEPT SELECT o_custkey FROM c95)
    UNION ALL
    SELECT 'with_orders', count(*),
           sum(round(c_acctbal * 100)::BIGINT)::BIGINT
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'without_orders', count(*),
           sum(round(c_acctbal * 100)::BIGINT)::BIGINT
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def customer_order_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 set operations + §2.4 semi/anti joins in one query:
    intersect / except / union all over yearly customer cohorts
    (Catalyst plans these as aggregates/joins), plus ``with_orders`` /
    ``without_orders`` segments planned as left-semi / left-anti hash
    joins (no fact-side fanout) — carrying ``semi_anti_customers``."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")

    def cohort(year: int) -> DataFrame:
        return (
            o.where(
                (F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    def setop_arm(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_cust")).select(
            F.lit(tag).alias("segment"),
            "n_cust",
            F.lit(None).cast("long").alias("acctbal_cents"),
        )

    c95, c96 = cohort(1995), cohort(1996)
    return (
        setop_arm(c95.intersect(c96), "both")
        .unionByName(setop_arm(c95.exceptAll(c96), "only_1995"))
        .unionByName(setop_arm(c96.exceptAll(c95), "only_1996"))
        .unionByName(semi_anti_arm(c, o, "leftsemi", "with_orders"))
        .unionByName(semi_anti_arm(c, o, "leftanti", "without_orders"))
    )


@query(
    "rollup_region_nation",
    oracle="""
    SELECT r_name, n_name,
           GROUPING(r_name, n_name)::BIGINT AS gid,
           count(*) AS n_cust,
           sum(round(c_acctbal * 100)::BIGINT)::BIGINT AS acctbal_cents
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 ROLLUP over the region->nation hierarchy; both dimension joins
    are broadcast (5- and 25-row tables)."""
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    j = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return j.rollup("r_name", "n_name").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(cents("c_acctbal")).alias("acctbal_cents"),
    )


@query(
    "events_json_props",
    oracle="""
    SELECT event_type,
           sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (§2.3 extension surface): get_json_object
    over ``events.props`` + exact count distinct."""
    e = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "try_cast_cleanup",
    oracle="""
    SELECT event_type,
           count(*) FILTER (WHERE TRY_CAST(props AS DOUBLE) IS NULL) AS n_bad_double,
           count(*) FILTER (WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL) AS n_good_k
    FROM events
    GROUP BY 1
    """,
)
def try_cast_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 type-guard cleanup: the reference replaces non-float64 values
    with NaN (``trackplot_hycom.py:248``); relationally that is try_cast
    -> NULL, counted here per type."""
    e = T(spark, sf_dir, "events")
    bad = F.col("props").try_cast("double").isNull()
    good = F.get_json_object("props", "$.k").try_cast("long").isNotNull()
    return e.groupBy("event_type").agg(
        F.sum(F.when(bad, 1).otherwise(0)).alias("n_bad_double"),
        F.sum(F.when(good, 1).otherwise(0)).alias("n_good_k"),
    )


@query(
    "grouping_sets_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus, o_orderpriority)::BIGINT AS gid,
           count(*) AS n_orders,
           sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS total_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 GROUPING SETS — the general form rollup/cube specialize:
    per-status totals, per-priority totals, and the grand total in one
    pass (Catalyst expands to a single Expand + hash aggregate, not
    three scans)."""
    T(spark, sf_dir, "orders").createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
                 AS gid,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )
