"""Hypothesis property tests (SURVEY.md §5.3): the distributed operators
must agree with brute-force Python on arbitrary small inputs."""

from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from modeltracking_spark.operators.dedup import jaccard_pairs
from modeltracking_spark.operators.joins import asof_join, axis_index
from modeltracking_spark.schemas import axis_metadata

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**SETTINGS)
@given(
    left=st.lists(st.integers(0, 300), min_size=1, max_size=8),
    right=st.lists(st.integers(0, 300), min_size=1, max_size=8, unique=True),
)
def test_asof_nearest_is_argmin(spark, left, right):
    ldf = spark.createDataFrame([("k", t) for t in left], "k string, lts long")
    rdf = spark.createDataFrame(
        [("k", t, f"p{t}") for t in right], "k string, rts long, payload string"
    )
    out = asof_join(ldf, rdf, ["k"], "lts", "rts", ["payload"], "nearest")
    got = sorted((r["lts"], r["payload"]) for r in out.collect())

    def expect(t):
        # argmin |rt - t|, backward (<= t) wins exact ties
        best = min(right, key=lambda rt: (abs(rt - t), rt > t))
        return f"p{best}"

    assert got == sorted((t, expect(t)) for t in left)


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=6),
        min_size=2,
        max_size=6,
    )
)
def test_jaccard_matches_python(spark, docs):
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(
            df, "doc_id", "text", threshold=0.0, max_doc_freq=None
        ).collect()
    }
    sets = {i: set(t) for i, t in enumerate(docs)}
    exp = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter:
            exp[(a, b)] = inter / len(sets[a] | sets[b])
    assert got == exp


@settings(**SETTINGS)
@given(
    ts=st.lists(st.integers(0, 500), min_size=1, max_size=30, unique=True),
    step=st.sampled_from([1, 3, 5, 6, 12]),
)
def test_nearest_time_bucket_property(spark, ts, step):
    grid = spark.range(0).select(F.col("id").alias(
        "time_hours", metadata=axis_metadata(0, step)))
    df = spark.createDataFrame([(t,) for t in ts], "t long").select(
        "t", (axis_index(F.col("t"), grid, "time_hours") * step).alias("b")
    )
    for r in df.collect():
        t, b = r["t"], r["b"]
        assert b % step == 0
        assert abs(b - t) <= step / 2 + 1e-9  # nearest multiple
        # exact half-step ties round forward
        if step % 2 == 0 and t % step == step // 2:
            assert b == t + step // 2


def _snap_rule(x, origin, step):
    """The one snap, stated in Python: ``(x - origin) / step`` in double
    arithmetic, rounded half away from zero; NULL past the int range."""
    idx = int(Decimal((x - origin) / step).to_integral_value(ROUND_HALF_UP))
    return idx if -(1 << 31) <= idx < (1 << 31) else None


@settings(**SETTINGS)
@given(
    t_axis=st.tuples(st.integers(-1000, 1000), st.integers(1, 24)),
    lat_axis=st.tuples(st.floats(-90, 90), st.floats(0.01, 2.0)),
    lon_axis=st.tuples(st.floats(0, 360), st.floats(0.01, 2.0)),
    offsets=st.lists(
        st.tuples(st.integers(-600, 600), st.integers(-400, 400),
                  st.integers(-400, 400)),
        min_size=1, max_size=20,
    ),
)
def test_axis_index_is_the_snap_rule(spark, t_axis, lat_axis, lon_axis,
                                     offsets):
    """``axis_index`` on each of the three axes, for points before and
    after the origin (half-step ties included: offsets count half
    steps), against :func:`_snap_rule`."""
    axes = {"time_hours": t_axis, "lat": lat_axis, "lon": lon_axis}
    grid = spark.range(0).select(*[
        F.lit(0).cast("long" if col == "time_hours" else "double")
        .alias(col, metadata=axis_metadata(*axis)) for col, axis in axes.items()
    ])
    points = [
        (dt + t_axis[0],
         lat_axis[0] + dlat * lat_axis[1] / 2,
         lon_axis[0] + dlon * lon_axis[1] / 2)
        for dt, dlat, dlon in offsets
    ]
    df = spark.createDataFrame(
        points, "time_hours long, lat double, lon double"
    ).select(*[
        axis_index(F.col(col), grid, col).alias(col) for col in axes
    ])
    want = [
        tuple(_snap_rule(x, *axes[col]) for x, col in zip(p, axes))
        for p in points
    ]
    assert [tuple(r) for r in df.collect()] == want


@given(
    snap=st.dictionaries(st.integers(0, 20), st.text("ab", max_size=3), max_size=10),
    delta=st.dictionaries(st.integers(0, 20), st.text("ab", max_size=3), max_size=10),
)
@settings(**SETTINGS)
def test_merge_upsert_matches_dict_semantics(spark, snap, delta):
    from modeltracking_spark.operators.merge import merge_upsert

    sdf = spark.createDataFrame(
        [(k, v) for k, v in snap.items()] or [(None, None)], "k int, v string"
    ).where(F.col("k").isNotNull())
    ddf = spark.createDataFrame(
        [(k, v) for k, v in delta.items()] or [(None, None)], "k int, v string"
    ).where(F.col("k").isNotNull())
    got = {r["k"]: (r["v"], r["merge_op"])
           for r in merge_upsert(sdf, ddf, "k").collect()}
    want = {}
    for k, v in snap.items():
        want[k] = (delta[k], "updated") if k in delta else (v, "kept")
    for k, v in delta.items():
        if k not in snap:
            want[k] = (v, "inserted")
    assert got == want


@given(
    vals=st.lists(
        st.integers(-1000, 1000).map(float), min_size=1, max_size=60
    )
)
@settings(**SETTINGS)
def test_hist_quantiles_error_bounded_by_bin_width(spark, vals):
    import numpy as np

    from modeltracking_spark.operators.sketches import hist_quantiles

    df = spark.createDataFrame([(v,) for v in vals], "value double")
    out = {r["q_pct"]: r for r in hist_quantiles(df, "value", n_bins=16).collect()}
    lo, hi = min(vals), max(vals)
    bin_w = (hi - lo) / 16 if hi > lo else 0.0
    for q in (25, 50, 75):
        r = out[q]
        assert r["n"] == len(vals)
        est = r["est_e6"] / 1e6
        exact = float(np.percentile(vals, q, method="inverted_cdf"))
        # the bin lower edge is within one bin of any reasonable
        # definition of the quantile
        assert exact - bin_w - 1e-6 <= est <= exact + bin_w + 1e-6
