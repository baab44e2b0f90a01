"""Suite queries: several single-function demos folded into one
oracled query each.

Each suite keeps per-§2-row oracle evidence — each column is one row of
SURVEY.md §2 — in one query instead of three or four. The originals
stay registered for direct per-function runs.

Column -> §2 row mapping is stated in each docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modeltracking_spark.functions.geo import inv_square_weight, normalize_lon_0_360
from modeltracking_spark.functions.timefn import (
    format_ymdh,
    hours_since_2000,
    parse_ymdh,
    ts_from_hours_since_2000,
)
from modeltracking_spark.queries.common import T, cents, fxp, query
from modeltracking_spark.queries.text_q import _STOPS, _TOKS, _markers_sql


@query(
    "scalar_geo_suite",
    oracle="""
    SELECT o_orderkey,
           datediff('hour', TIMESTAMP '2000-01-01',
                    make_timestamp(year(o_orderdate)::BIGINT,
                                   month(o_orderdate)::BIGINT,
                                   day(o_orderdate)::BIGINT, 12, 0, 0.0))
             AS hours2000,
           (o_orderkey % 3600) / 10.0 - 180.0 AS lon_raw,
           CASE WHEN (o_orderkey % 3600) / 10.0 - 180.0 < 0
                THEN (o_orderkey % 3600) / 10.0 - 180.0 + 360.0
                ELSE (o_orderkey % 3600) / 10.0 - 180.0 END AS lon_0_360,
           0.0::DOUBLE - (o_orderkey % 50)::DOUBLE AS depth_display,
           round(1.0 / (((o_orderkey % 50)::DOUBLE + 1e-6)
                      * ((o_orderkey % 50)::DOUBLE + 1e-6)) * 1e6)::BIGINT
             AS weight_e6,
           datediff('hour', TIMESTAMP '2000-01-01', o_orderdate)
             AS hours2000_ts,
           strftime(TIMESTAMP '2000-01-01'
                    + to_hours(datediff('hour', TIMESTAMP '2000-01-01',
                                        o_orderdate)),
                    '%Y%m%d%H') AS ymdh,
           (strptime(strftime(o_orderdate, '%Y%m%d%H'), '%Y%m%d%H')
              = o_orderdate) AS roundtrip_ok
    FROM orders
    """,
)
def scalar_geo_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per order, one column per scalar-function §2 row:

    - ``hours2000``      F3 parts -> hours offset (``trackplot_hycom.py:39-43``)
    - ``lon_raw/lon_0_360`` F4 [-180,180) -> [0,360) (``trackplot_hycom.py:166-170``)
    - ``depth_display``  F5 -0.0-safe depth negation (``trackplot_hycom.py:254``)
    - ``weight_e6``      F8 epsilon-guarded inverse-square IDW weight
      (``TrackPlotter_Hycom.ipynb:41``); e6 (not e12) fixed point because
      depth 0 makes the raw weight 1e12 and e12 scaling would overflow
      the visual range — the epsilon guard is what's under test.
    - ``hours2000_ts``   F1 hurrtimeconv: timestamp -> hours since 2000
      (``trackplot_hycom.py:150-156``)
    - ``ymdh``           F2 ymdh: hours offset -> '%Y%m%d%H' string
      (``trackplot_hycom.py:45-50``)
    - ``roundtrip_ok``   F9 parse∘format identity on hour-aligned data

    All per-row JVM expressions in one whole-stage-codegen projection.
    The single-function originals (``hours_from_parts``, ``lon_normalize``,
    ``depth_display_axis``, ``inv_square_weights``,
    ``hours_epoch_roundtrip``) remain registered.
    """
    o = T(spark, sf_dir, "orders")
    ts = F.make_timestamp(
        F.year("o_orderdate"),
        F.month("o_orderdate"),
        F.dayofmonth("o_orderdate"),
        F.lit(12),
        F.lit(0),
        F.lit(0),
    )
    lon_raw = (F.col("o_orderkey") % 3600) / 10.0 - 180.0
    depth = (F.col("o_orderkey") % 50).cast("double")
    w = inv_square_weight(depth)
    h = hours_since_2000("o_orderdate")
    return o.select(
        "o_orderkey",
        hours_since_2000(ts).alias("hours2000"),
        lon_raw.alias("lon_raw"),
        normalize_lon_0_360(lon_raw).alias("lon_0_360"),
        (F.lit(0.0) - depth).alias("depth_display"),
        fxp(w, 1e6).alias("weight_e6"),
        h.alias("hours2000_ts"),
        format_ymdh(ts_from_hours_since_2000(h)).alias("ymdh"),
        (parse_ymdh(format_ymdh("o_orderdate")) == F.col("o_orderdate")).alias(
            "roundtrip_ok"
        ),
    )


@query(
    "text_quality_suite",
    oracle=f"""
    WITH {_markers_sql()},
    scored AS (
      SELECT d.doc_id, m.lang,
             len(list_intersect(list_distinct({_TOKS}), m.words)) AS hits,
             m.prio
      FROM documents d CROSS JOIN markers m
    ),
    best AS (
      SELECT doc_id,
             CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred
      FROM scored
      QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY hits DESC, prio DESC) = 1
    ),
    m AS (
      SELECT doc_id, lang AS lang_actual,
             len({_TOKS})::DOUBLE AS n,
             len(list_distinct({_TOKS}))::DOUBLE AS nd,
             len(list_filter({_TOKS}, t -> list_contains({_STOPS}, t)))::DOUBLE
               / greatest(len({_TOKS}), 1)::DOUBLE AS stop,
             length(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
             len({_TOKS}) AS n_ws_tokens,
             md5(array_to_string(
               list_filter({_TOKS}, x -> NOT list_contains({_STOPS}, x)), ' '
             )) AS clean_fingerprint
      FROM documents
    )
    SELECT m.doc_id, m.lang_actual, b.lang_pred,
           floor(((CASE WHEN n > 0 THEN nd / n ELSE 0.0 END)
                  + least(n / 64.0, 1.0)
                  + (1.0 - abs(stop - 0.2))) / 3.0 * 1e6 + 0.5)::BIGINT
             AS quality_e6,
           m.n_bpe_tokens, m.n_ws_tokens,
           m.clean_fingerprint
    FROM m JOIN best b USING (doc_id)
    """,
)
def text_quality_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per document, one column set per text-analysis tier:

    - ``lang_pred``            marker-word language ID (en>de>fr>es tie-break)
    - ``quality_e6``           composite quality heuristic, e6 fixed point
    - ``n_bpe_tokens``         BPE-ish regex token count (GPT-2 shape)
    - ``n_ws_tokens``          whitespace token count
    - ``clean_fingerprint``    md5 of the stopword-stripped rebuild —
      byte-exact attestation of the clean/normalize chain

    All JVM column expressions in one narrow projection — at 100 TB this
    is the single fused "score every doc" pass a curation pipeline runs,
    rather than three separate scans. Single-function originals
    (``lang_id_docs``, ``quality_scores_docs``, ``bpe_token_counts``,
    ``clean_normalize_docs``) remain registered.
    """
    from modeltracking_spark.functions.text import STOPWORDS, stopword_ratio, tokens
    from modeltracking_spark.operators.textops import lang_id_heuristic

    d = T(spark, sf_dir, "documents")
    toks = tokens("text")
    stops = F.array(*[F.lit(s) for s in STOPWORDS])
    kept = F.filter(toks, lambda x: ~F.array_contains(stops, x))
    n = F.size(toks).cast("double")
    diversity = F.when(
        n > 0, F.size(F.array_distinct(toks)).cast("double") / n
    ).otherwise(F.lit(0.0))
    length_score = F.least(n / F.lit(64.0), F.lit(1.0))
    stop_score = F.lit(1.0) - F.abs(stopword_ratio("text") - F.lit(0.2))
    q = (diversity + length_score + stop_score) / F.lit(3.0)
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        lang_id_heuristic("text").alias("lang_pred"),
        F.floor(q * 1e6 + 0.5).cast("long").alias("quality_e6"),
        F.size(
            F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
        ).cast("long").alias("n_bpe_tokens"),
        F.size(toks).cast("long").alias("n_ws_tokens"),
        F.md5(F.array_join(kept, " ")).alias("clean_fingerprint"),
    )


@query(
    "events_stats_suite",
    oracle="""
    WITH fr AS (
      SELECT event_type, user_id, value, props,
             datediff('hour', TIMESTAMP '2024-01-01', ts)::BIGINT AS x,
             sum(round(value * 100)::BIGINT) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
             )::BIGINT AS frame_sum
      FROM events
    ),
    s AS (
      SELECT event_type,
             count(*)::BIGINT AS n,
             sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents,
             sum(round(value * 100)::BIGINT
                 * round(value * 100)::BIGINT)::BIGINT AS sumsq_cents,
             sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT
               AS sum_k,
             count(DISTINCT user_id) AS n_users,
             sum(frame_sum)::BIGINT AS frame_checksum_cents,
             count(*) FILTER (WHERE TRY_CAST(props AS DOUBLE) IS NULL)
               AS n_bad_double,
             count(*) FILTER (WHERE TRY_CAST(json_extract_string(props, '$.k')
                                             AS BIGINT) IS NOT NULL)
               AS n_good_k,
             sum(x)::BIGINT AS sx,
             sum(x * round(value * 100)::BIGINT)::BIGINT AS sxy,
             sum(x * x)::BIGINT AS sxx
      FROM fr GROUP BY 1
    )
    SELECT event_type, n, sum_cents, sumsq_cents,
           sqrt((n * sumsq_cents - sum_cents * sum_cents)::DOUBLE
                / (n * (n - 1))::DOUBLE) / 100.0 AS stddev_value,
           sum_k, n_users, frame_checksum_cents,
           n_bad_double, n_good_k,
           (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sum_cents::DOUBLE)
             / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
             AS slope_cents_per_hour,
           (sum_cents::DOUBLE
              - (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sum_cents::DOUBLE)
                / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                * sx::DOUBLE) / n::DOUBLE
             AS intercept_cents
    FROM s
    """,
)
def events_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moments + JSON extraction + frame-spec windows + type-guard counts
    + regression per event type:
    exact-integer count/sum/sum-of-squares with sample stddev assembled
    from the moments, a JSON scalar sum (``get_json_object``), an exact
    count-distinct of users, a checksum over per-user trailing-3-row
    frame sums (rowsBetween — §2.6 frame specs; any frame error shifts
    the checksum), P4 try_cast type-guard counts (``n_bad_double`` /
    ``n_good_k`` — the reference's non-float64 -> NaN cleanup,
    ``trackplot_hycom.py:248``), and the F10/A4 least-squares fit of
    value-cents against hours since the 2024-01-01 near-data epoch
    (slope is shift-invariant; the small |x| keeps the integer
    normal-equation sums overflow-safe at any corpus scale) assembled
    from exact BIGINT sums (``np.polyfit`` deg-1,
    ``TrackPlotter_Hycom.ipynb:427``). Single-function originals
    (``event_type_stats``, ``events_json_props``, ``moving_frame_sums``,
    ``try_cast_cleanup``, ``linear_fit_orders``) remain registered."""
    e = T(spark, sf_dir, "events")
    v = cents("value")
    k = F.get_json_object("props", "$.k").cast("long")
    # regression x is hours since a NEAR-DATA epoch (2024-01-01, the
    # events corpus's own era), not 2000: slope is shift-invariant, and
    # the small |x| keeps sum(x*x) exact int64 out to ~1e13 rows per
    # group (hours-since-2000 magnitudes overflow the SUM itself around
    # sf100); intercept_cents is the fitted value AT the 2024 epoch
    x = F.timestamp_diff("HOUR", F.lit("2024-01-01").cast("timestamp"), F.col("ts"))
    bad = F.col("props").try_cast("double").isNull()
    good = F.get_json_object("props", "$.k").try_cast("long").isNotNull()
    wfr = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-2, Window.currentRow)
    )
    base = e.select(
        "event_type",
        "user_id",
        v.alias("v"),
        k.alias("k"),
        x.alias("x"),
        bad.alias("bad"),
        good.alias("good"),
        F.sum(v).over(wfr).alias("frame_sum"),
    )
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").alias("sum_cents"),
        F.sum(F.col("v") * F.col("v")).alias("sumsq_cents"),
        F.sum("k").alias("sum_k"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum("frame_sum").alias("frame_checksum_cents"),
        F.sum(F.when(F.col("bad"), 1).otherwise(0)).alias("n_bad_double"),
        F.sum(F.when(F.col("good"), 1).otherwise(0)).alias("n_good_k"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("v")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    var = (
        F.col("n") * F.col("sumsq_cents") - F.col("sum_cents") * F.col("sum_cents")
    ).cast("double") / (F.col("n") * (F.col("n") - 1)).cast("double")
    # normal-equation SUMS stay exact int64 (shuffle-order-independent);
    # the final products convert to double FIRST — n*sxx in int64
    # overflows at sf0.1 (x is hours-since-2000, x^2 ~ 5e10/row), while
    # IEEE double products of identical exact inputs are deterministic
    # in both engines at any scale
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sum_cents").cast("double")
    slope = (nd * F.col("sxy").cast("double") - sxd * syd) / (
        nd * F.col("sxx").cast("double") - sxd * sxd
    )
    intercept = (syd - slope * sxd) / nd
    return s.select(
        "event_type",
        "n",
        "sum_cents",
        "sumsq_cents",
        (F.sqrt(var) / 100.0).alias("stddev_value"),
        "sum_k",
        "n_users",
        "frame_checksum_cents",
        "n_bad_double",
        "n_good_k",
        slope.alias("slope_cents_per_hour"),
        intercept.alias("intercept_cents"),
    )
