"""The track x grid depth-profile pipeline — the reference's raison
d'etre (SURVEY.md §7.6), composed from the join/aggregate layers:

snap (J1) -> 3x3 expand (J2) -> nearest-time bucket (J3 regular-axis
route) -> sentinel mask (P3) -> IDW weights (F8) -> weighted mean (A2)
-> depth truncation (P5).

Reference: ``zip_variable3D`` + ``hycomScrubber`` + ``IDW_Slice_nc4``
(``trackplot_hycom.py:199-223``, ``:135-148``, ``:88-115``). The
reference re-opens the remote dataset and scans all grid nodes per track
point (N+1 loops); here the whole track resolves in ONE broadcast join
against the grid table and ONE hash aggregate (a fleet keyed by a
non-integral id adds a small dictionary join after the aggregate, see
below):

- the track side (n_points x 9 neighbor keys) is tiny -> broadcast;
- the grid scan streams once, behind depth truncation as a filter on
  grid columns;
- the IDW reduce is a map-side-combinable hash aggregate.

The grid geometry comes from the grid itself. ``time_hours``, ``lat``
and ``lon`` each carry an axis record, ``{origin, step}``, as column
metadata (``schemas.axis_metadata``): the ``hycom_grid`` DataSource
reads it from the dataset's own coordinate arrays, and
``hycom_grid_fixture`` from its constants. A track point snaps to lat/lon
node ``round((x - origin) / step)`` and to time bucket ``origin +
nearest_time_bucket(t - origin, step)`` — the reference's
``location_to_index``/``find_time_index`` (``trackplot_hycom.py:67-86``,
``:186-197``) on a uniform axis. Reading the record touches only the
schema, so no Spark job runs for it, and a grid without it (a column
rebuilt by an expression loses its metadata) raises a ``ValueError``
naming the column instead of profiling against guessed axes. Points
whose snapped node or time bucket lies outside the grid's axes join no
grid row, so they yield no profile rows.

A single track (``track_col=None``) also states its footprint as plain
filters on the grid: ``time_hours IN`` its time buckets and a
``lat_idx``/``lon_idx`` box grown by the neighbourhood radius. The
footprint comes from the tiny track side, so building a single-track
plan runs one small Spark job. Any grid that takes filters prunes with
it: the in-engine fixture's ranges, parquet, and the ``hycom_grid``
DataSource with ``pushdown=true``, which then reads only that window (a
few hundred KB over DAP instead of the whole grid). The fleet shape
keeps the plain plan: a season's footprint covers nearly the whole grid,
so the extra job would cost more than it prunes.

Every per-row key is fixed-width:

- the join matches on ONE ``long`` node key, ``(time_hours, lat_idx,
  lon_idx)`` packed by :func:`_node_key` with the same expression on
  both sides, so Spark builds a ``LongHashedRelation`` instead of probing
  a three-column key. A track point outside the packed range gets a NULL
  key and joins nothing, as an off-grid point always has; a grid row
  outside it raises an error naming the column;
- the fleet aggregate groups on an integral ``track_col`` as it is. Any
  other id type (a storm name) is replaced by a 64-bit surrogate
  (:func:`_track_surrogate`), and the ids come back through a small
  broadcast dictionary built from the track side
  (:func:`_track_dictionary`), which raises an error naming the column if
  two ids share a surrogate. Only that shape adds the dictionary's jobs.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from modeltracking_spark.functions.geo import euclid_deg, inv_square_weight
from modeltracking_spark.operators.aggregates import mask_sentinel
from modeltracking_spark.operators.joins import neighborhood_expand
from modeltracking_spark.schemas import GRID_AXIS_COLS, grid_axis


def nearest_time_bucket(t: F.Column, step: int) -> F.Column:
    """J3 (regular-axis route): nearest multiple of ``step`` via integer
    arithmetic — ``find_time_index`` (``trackplot_hycom.py:186-197``) for
    the 3-hourly HYCOM axis, no join needed. Exact half-step ties round
    forward (impossible for odd steps on integer inputs)."""
    return (
        F.floor((2 * t + F.lit(step)) / F.lit(2 * step)).cast("long") * step
    )


#: the IDW distance offset: a point on a node gets weight 1e12, not 1/0
IDW_EPS = 1e-6

#: bits per grid index in the packed node key; time takes the 24 above
_IDX_BITS = 20
#: signed half-ranges of the packed fields: an index is stored as
#: ``idx + 2^19`` in 20 bits, time as a signed 24-bit value
_IDX_HALF = 1 << (_IDX_BITS - 1)
_TIME_HALF = 1 << (63 - 2 * _IDX_BITS)
#: the fleet aggregate's fixed-width stand-in for a non-integral track id
_TRACK_KEY = "__track_key"


def _node_key(
    t: F.Column, lat_idx: F.Column, lon_idx: F.Column, names=None
) -> F.Column:
    """The grid node ``(t, lat_idx, lon_idx)`` packed into one ``long``:
    ``t * 2^40 + (lat_idx + 2^19) * 2^20 + (lon_idx + 2^19)``. Distinct
    in-range nodes get distinct keys. Out of range (an index outside
    ``[-2^19, 2^19)`` or ``t`` outside ``[-2^23, 2^23)``) the key is NULL,
    or, given the column ``names`` (the grid side), an error naming the
    column. Never a wrapped key."""
    fields = ((t, _TIME_HALF), (lat_idx, _IDX_HALF), (lon_idx, _IDX_HALF))
    ok = [c.between(-half, half - 1) for c, half in fields]
    key = (
        F.shiftleft(t.cast("long"), 2 * _IDX_BITS)
        + F.shiftleft(lat_idx.cast("long") + _IDX_HALF, _IDX_BITS)
        + (lon_idx.cast("long") + _IDX_HALF)
    )
    out = F.when(ok[0] & ok[1] & ok[2], key)
    for name, (c, half), good in zip(names or (), fields, ok):
        out = out.when(~good, F.raise_error(F.format_string(
            f"grid column {name} = %s is outside the packed node-key "
            f"range [{-half}, {half})", c.cast("string"),
        )))
    return out


def _track_surrogate(track_id: F.Column) -> F.Column:
    """The 64-bit key a non-integral track id is grouped on. All NULL ids
    map to one key, so they form one group, as in a plain ``groupBy``."""
    return F.xxhash64(track_id)


def _track_dictionary(track: DataFrame, track_col: str) -> DataFrame:
    """``(_TRACK_KEY, track_col)``: one row per surrogate key, mapping it
    back to its track id. Two distinct ids (NULL counts as one) with the
    same key raise an error naming ``track_col`` when the dictionary is
    built."""
    tid = F.col(track_col)
    lo, hi, nulls = F.col("__lo"), F.col("__hi"), F.col("__nulls")
    one_id = lo.isNull() | ((lo == hi) & (nulls == 0))
    clash = F.format_string(
        f"track column {track_col}: distinct ids share the surrogate key "
        "%d (ids %s .. %s, %d NULL)", F.col(_TRACK_KEY), lo, hi, nulls,
    )
    return (
        track.groupBy(_track_surrogate(tid).alias(_TRACK_KEY))
        .agg(
            F.min(tid).alias("__lo"),
            F.max(tid).alias("__hi"),
            (F.count(F.lit(1)) - F.count(tid)).alias("__nulls"),
        )
        .select(
            _TRACK_KEY,
            F.when(one_id, lo).otherwise(F.raise_error(clash)).alias(track_col),
        )
    )


def _footprint(snapped: DataFrame, radius: int) -> F.Column:
    """The grid rows one snapped track can join, as a filter: its set of
    time buckets and its ``lat_idx``/``lon_idx`` box grown by
    ``radius``. Computed with one small aggregate over the track."""
    steps, la0, la1, lo0, lo1 = snapped.agg(
        F.collect_set("t_sel"),
        F.min("lat_idx"),
        F.max("lat_idx"),
        F.min("lon_idx"),
        F.max("lon_idx"),
    ).first()
    if not steps or la0 is None or lo0 is None:
        return F.lit(False)
    return (
        F.col("time_hours").isin(sorted(steps))
        & F.col("lat_idx").between(la0 - radius, la1 + radius)
        & F.col("lon_idx").between(lo0 - radius, lo1 + radius)
    )


def profile_neighbors(
    track: DataFrame,
    grid: DataFrame,
    variable: str = "water_temp",
    k_depths: int = 25,
    radius: int = 1,
    carry_cols: Sequence[str] = (),
    track_col: str | None = None,
) -> DataFrame:
    """Per-neighbor rows for the IDW reduce: one row per (track point,
    depth level, 3x3 neighbor) with the masked value and IDW weight.

    ``track``: (point_id, lat, lon, t_hours); ``grid``: HYCOM long form
    whose ``time_hours``/``lat``/``lon`` carry their axis records (module
    docstring). Returns point_id, depth_idx, depth_m, dist,
    w, v (NULL if sentinel), plus any ``carry_cols`` passed through from
    the grid (e.g. a ``variable`` label when the grid is unpivoted
    long-form). ``radius`` is the neighbourhood half-width: 1 for the
    3x3 IDW stencil, 0 for the centre node alone.

    ``track_col`` is the FLEET shape (r8, mirroring
    :func:`resample_track_arclength`'s r7 ``track_col``): the id rides
    the broadcast side through the expand and join, so N storms profile
    in the SAME single grid scan + broadcast join — no per-track loop,
    and point_ids only need to be unique within a track.

    ``track_col=None`` filters ``grid`` to the track's footprint (see
    :func:`_footprint`), which runs one small job over ``track`` now.

    The join key is the packed node key of :func:`_node_key`; a track
    point outside its range matches nothing, a grid row outside it
    raises. The ``track_col`` values ride the broadcast side unchanged.
    """
    (t0, t_step), (lat0, lat_step), (lon0, lon_step) = (
        grid_axis(grid.schema, c) for c in GRID_AXIS_COLS
    )
    tcols = [track_col] if track_col else []
    snapped = track.select(
        *tcols,
        "point_id",
        "lat",
        "lon",
        (F.lit(t0) + nearest_time_bucket(F.col("t_hours") - F.lit(t0), t_step))
        .alias("t_sel"),
        F.round((F.col("lat") - F.lit(lat0)) / F.lit(lat_step))
        .cast("int")
        .alias("lat_idx"),
        F.round((F.col("lon") - F.lit(lon0)) / F.lit(lon_step))
        .cast("int")
        .alias("lon_idx"),
    )
    if track_col is None:
        grid = grid.where(_footprint(snapped, radius))
    nb = neighborhood_expand(snapped, radius=radius).select(
        *tcols,
        "point_id",
        F.col("lat").alias("p_lat"),
        F.col("lon").alias("p_lon"),
        _node_key(
            F.col("t_sel"), F.col("nb_lat_idx"), F.col("nb_lon_idx")
        ).alias("__node"),
    )
    g = grid.where(F.col("depth_idx") < k_depths).select(
        _node_key(
            F.col("time_hours"), F.col("lat_idx"), F.col("lon_idx"),
            names=("time_hours", "lat_idx", "lon_idx"),
        ).alias("__node"),
        "depth_idx",
        "depth_m",
        F.col("lat").alias("g_lat"),
        F.col("lon").alias("g_lon"),
        F.col(variable).alias("__var"),
        *carry_cols,
    )
    j = g.join(F.broadcast(nb), "__node")
    d = euclid_deg("p_lat", "p_lon", "g_lat", "g_lon")
    return j.select(
        *tcols,
        "point_id",
        "depth_idx",
        "depth_m",
        d.alias("dist"),
        inv_square_weight(d, eps=IDW_EPS).alias("w"),
        mask_sentinel("__var").alias("v"),
        *carry_cols,
    )


def profile_along_track(
    track: DataFrame,
    grid: DataFrame,
    variable: str = "water_temp",
    k_depths: int = 25,
    interp: str = "idw",
    track_col: str | None = None,
) -> DataFrame:
    """Full pipeline -> long profile (point_id, depth_idx, depth_m,
    n_valid, idw_value): the engine twin of the reference's
    ``(time, depth, value)`` triples (``trackplot_hycom.py:217-223``).

    ``interp='idw'`` (default): 3x3 IDW — the reference's production
    path. ``interp='nearest'``: center-node value only, the cheap mode
    of the superseded ``tempcolumn_nc4`` (``trackplot_hycom.py:117-133``,
    SURVEY §2.10) — 1/9th the join fanout, n_valid ∈ {0, 1}.

    ``track_col=None`` is the single-track contract (one advisory
    track, the reference's shape). ``track_col="..."`` is the FLEET
    shape (VERDICT r7 item 8): the id rides the broadcast side and
    becomes a group-by column, so a whole storm season profiles in ONE
    grid scan + broadcast join + hash aggregate — no window, no
    per-track loop, one shuffle over the join output (plan-asserted in
    tests/test_idw_profile.py and tests/test_profile_keys.py). A
    non-integral id adds only the small dictionary below, joined to the
    aggregated rows.

    Keys (module docstring): the join probes one packed ``long`` node
    key. An integral ``track_col`` is grouped on as it is. Any other id
    type is grouped on its 64-bit surrogate, and a small broadcast
    dictionary built from ``track`` maps the result back to the ids:
    ``track`` is read once more for it (two more Spark jobs), and two ids
    sharing a surrogate raise an error naming ``track_col``. NULL ids form
    one group with a NULL id, as they do when grouped directly.

    Geometry (module docstring): the snap reads the axis records on
    ``grid``'s ``time_hours``/``lat``/``lon`` columns; a grid without
    them raises a ``ValueError`` naming the column before any Spark job
    runs. A point outside the axes in space or in time yields no rows.

    Plain double Σwv/Σw for engine use; the oracle-checked query variant
    (``queries/track_q.py``) lifts the same rows to fixed point first.

    A single track reads only its footprint of ``grid`` (module
    docstring). With a ``hycom_grid`` DataFrame loaded with
    ``pushdown=true`` that footprint is planned into the scan, and
    pyspark reuses the last planned scan for a later filterless query on
    the same DataFrame: ``grid.count()`` after this call counts the
    footprint, not the grid. Profiling further tracks with the same
    DataFrame is exact; use a fresh ``.load()`` for any other query.
    """
    if interp == "nearest":
        radius = 0
        aggs = (F.count("v").alias("n_valid"), F.first("v").alias("idw_value"))
    elif interp == "idw":
        radius = 1
        valid_w = F.when(F.col("v").isNotNull(), F.col("w"))
        aggs = (
            F.count("v").alias("n_valid"),
            (F.sum(valid_w * F.col("v")) / F.sum(valid_w)).alias("idw_value"),
        )
    else:
        raise ValueError(f"unknown interp {interp!r}")
    names = None
    group_col = track_col
    if track_col is not None and not isinstance(
        track.schema[track_col].dataType, IntegralType
    ):
        names = _track_dictionary(track, track_col)
        track = track.withColumn(_TRACK_KEY, _track_surrogate(F.col(track_col)))
        group_col = _TRACK_KEY
    rows = profile_neighbors(
        track, grid, variable, k_depths, radius, track_col=group_col
    )
    keys = ([group_col] if group_col else []) + [
        "point_id", "depth_idx", "depth_m"
    ]
    prof = rows.groupBy(*keys).agg(*aggs)
    if names is None:
        return prof
    return prof.join(F.broadcast(names), _TRACK_KEY).select(
        track_col, "point_id", "depth_idx", "depth_m", "n_valid", "idw_value"
    )


def resample_track_arclength(
    track: DataFrame, step_deg: float = 0.5, track_col: str | None = None
) -> DataFrame:
    """Resample a track at EQUAL ARC-LENGTH intervals — the
    regularization step before along-track profiling when input fixes
    are unevenly spaced (the reference consumes fixed advisory points;
    equal-arc resampling is what makes a distance axis honest).

    Distance metric is Euclidean-degree (the reference's
    location_to_index metric, functions/geo.py F7) ON PURPOSE: sqrt is
    IEEE-correctly-rounded, so — unlike a haversine chain — the whole
    cumulative-distance + linear-interpolation pipeline is
    engine-deterministic double arithmetic and hash-oracle-able.

    Pipeline: per-segment length (lag window) → running arc length
    (ordered window sum = sequential fold, identical in both engines)
    → target arcs k·step join onto their containing segment (range
    join against the segment table — track-sized, broadcast) → linear
    interpolation, e6-floored outputs.

    ``track_col=None`` is the single-track contract (one reference
    advisory track — the input is track-sized by construction).
    ``track_col="..."`` is the FLEET shape: every window and the
    per-track total partition on the track id, so a million tracks
    resample as a million independent hash-partitioned groups — no
    single-task global window anywhere in the plan (VERDICT r6 item 3).

    Output: ([track_col,] k, s_deg_e6, lat_e6, lon_e6).
    """
    from pyspark.sql import Window

    single = track_col is None
    tcol = "__track" if single else track_col
    if single:
        # one synthetic group: the partitioned-window fold over a single
        # constant partition is the same sequential double arithmetic as
        # a global ordered window, so the oracle stays bit-identical
        track = track.withColumn(tcol, F.lit(0).cast("long"))
    w = Window.partitionBy(tcol).orderBy("point_id")
    seg = (
        track.select(tcol, "point_id", "lat", "lon")
        .withColumn("lat0", F.lag("lat").over(w))
        .withColumn("lon0", F.lag("lon").over(w))
        .withColumn(
            "seg_len",
            F.sqrt(
                (F.col("lat") - F.col("lat0")) * (F.col("lat") - F.col("lat0"))
                + (F.col("lon") - F.col("lon0")) * (F.col("lon") - F.col("lon0"))
            ),
        )
        .withColumn(
            "cum1", F.sum("seg_len").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .where(F.col("lat0").isNotNull())
        .withColumn("cum0", F.col("cum1") - F.col("seg_len"))
    )
    total = seg.groupBy(tcol).agg(F.max("cum1").alias("__total"))
    targets = (
        total.select(
            tcol,
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor(F.col("__total") / F.lit(step_deg)).cast("int"),
                )
            ).alias("k"),
        )
        .withColumn("s", F.col("k").cast("double") * F.lit(step_deg))
    )
    # per-track range join: equi on the track id + containment on the arc.
    # Single-track (and any dimension-sized fleet): the segment side is
    # track-sized — broadcast. A huge fleet plans the same equi-join
    # hash-partitioned on the track id if the broadcast hint is dropped;
    # the containment predicate stays a post-join filter either way.
    hit = targets.alias("t").join(
        F.broadcast(seg).alias("g"),
        (F.col(f"t.{tcol}") == F.col(f"g.{tcol}"))
        & (F.col("t.s") >= F.col("g.cum0"))
        & (F.col("t.s") < F.col("g.cum1")),
    )
    frac = (F.col("t.s") - F.col("g.cum0")) / F.col("g.seg_len")
    e6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")
    out = hit.select(
        *([] if single else [F.col(f"t.{tcol}").alias(tcol)]),
        F.col("t.k").cast("long").alias("k"),
        e6(F.col("t.s")).alias("s_deg_e6"),
        e6(F.col("g.lat0") + frac * (F.col("g.lat") - F.col("g.lat0"))).alias(
            "lat_e6"
        ),
        e6(F.col("g.lon0") + frac * (F.col("g.lon") - F.col("g.lon0"))).alias(
            "lon_e6"
        ),
    )
    return out
