"""The track x grid depth-profile pipeline — the reference's raison
d'etre (SURVEY.md §7.6), composed from the join/aggregate layers:

snap (J1) -> 3x3 expand (J2) -> sentinel mask (P3) -> IDW weights (F8)
-> weighted mean (A2) -> depth truncation (P5).

Reference: ``zip_variable3D`` + ``hycomScrubber`` + ``IDW_Slice_nc4``
(``trackplot_hycom.py:199-223``, ``:135-148``, ``:88-115``). The
reference re-opens the remote dataset and scans all grid nodes per track
point (N+1 loops); here the whole track resolves in ONE broadcast join
against the grid table and ONE hash aggregate:

- the track side (n_points x 9 neighbor keys) is tiny -> broadcast;
- the grid scan streams once, behind depth truncation as a filter on
  grid columns;
- the IDW reduce is a map-side-combinable hash aggregate.

The grid geometry comes from the grid itself. ``time_hours``, ``lat``
and ``lon`` each carry an axis record, ``{origin, step}``, as column
metadata (``schemas.axis_metadata``): the ``hycom_grid`` DataSource
reads it from the dataset's own coordinate arrays, and
``hycom_grid_fixture`` from its constants. A track point's ``t_hours``,
``lat`` and ``lon`` each snap to their nearest node with the one rule
``joins.axis_index``, ``round((x - origin) / step)`` — the reference's
``location_to_index``/``find_time_index`` (``trackplot_hycom.py:67-86``,
``:186-197``) on a uniform axis; the time node is then named by its
``time_hours``. Reading the record touches only the schema, so no Spark
job runs for it, and a grid without it (a column rebuilt by an
expression loses its metadata) raises a ``ValueError`` naming the column
instead of profiling against guessed axes. Points whose snapped node or
time step lies outside the grid's axes join no grid row, so they yield
no profile rows.

A single track (``track_col=None``) also states its footprint as plain
filters on the grid: ``time_hours IN`` its time steps and a
``lat_idx``/``lon_idx`` box grown by one node. Building a single-track
plan reads the snapped track once, onto the driver (one small Spark
job): the footprint comes from those rows, and the broadcast side is a
local relation over them, which the plan then reads with no job of its
own. A track built from a Python list would otherwise be read again, in
Python tasks, by every job over it. What that one read costs depends on
how ``track`` was built: a ``createDataFrame(list)`` track runs
``local[n]`` Python tasks (a 0.27 s median for a 24-row storm on 4
vCPUs), a ``createDataFrame(pyarrow.Table)`` track is a local relation,
read with no job (27 ms). The plan holds the track's snapped rows as a
local snapshot taken at call time, so a later change to ``track``'s
source does not reach it, and a single track must be track-sized:
profile many tracks with ``track_col``. Any grid that takes filters
prunes with the footprint: the in-engine fixture's ranges, parquet, and
the ``hycom_grid`` DataSource with ``pushdown=true``, which then reads
only that window (a few hundred KB over DAP instead of the whole grid).
pyspark reuses the last planned scan of such a DataFrame for a later
filterless query on it: ``grid.count()`` after a profile counts the
footprint, not the grid. Profiling further tracks with the same
DataFrame is exact; use a fresh ``.load()`` for any other query. The
fleet shape keeps the plain plan: a season's footprint covers nearly
the whole grid, so the extra job would cost more than it prunes.

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
  (:func:`_track_dictionary`): ``track`` is read once more for it (two
  more Spark jobs), and two ids sharing a surrogate raise an error
  naming the column. NULL ids form one group with a NULL id, as they do
  when grouped directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from modeltracking_spark.functions.geo import euclid_deg, inv_square_weight
from modeltracking_spark.operators.aggregates import idw_weighted_mean, mask_sentinel
from modeltracking_spark.operators.joins import (
    _time_bucket,
    axis_index,
    neighborhood_expand,
)


#: depth levels profiled, surface first: the reference keeps
#: ``temps[:25]`` (``trackplot_hycom.py:148``, SURVEY P5)
K_DEPTHS = 25

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


def _footprint(rows) -> F.Column:
    """The grid rows one snapped track can join, as a filter: its set of
    time steps and its ``lat_idx``/``lon_idx`` box grown by one node, the
    3x3 stencil's reach. ``rows`` are the track's collected snapped rows;
    each column's NULLs are skipped, as ``collect_set``/``min``/``max``
    skip them."""
    def present(col):
        return [r[col] for r in rows if r[col] is not None]

    steps, lat_idx, lon_idx = map(present, ("t_sel", "lat_idx", "lon_idx"))
    if not steps or not lat_idx or not lon_idx:
        return F.lit(False)
    return (
        F.col("time_hours").isin(sorted(set(steps)))
        & F.col("lat_idx").between(min(lat_idx) - 1, max(lat_idx) + 1)
        & F.col("lon_idx").between(min(lon_idx) - 1, max(lon_idx) + 1)
    )


def _local_copy(df: DataFrame) -> tuple[list, DataFrame]:
    """``df``'s rows, read once, and a DataFrame over that local copy.
    An Arrow table becomes a ``LocalRelation``, which later plans read
    without a Spark job; a ``createDataFrame(list)`` track is a Python RDD
    that every job over it would read again in Python tasks."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = df.collect()
    table = pa.Table.from_pylist(
        [r.asDict() for r in rows], schema=to_arrow_schema(df.schema)
    )
    return rows, df.sparkSession.createDataFrame(table)


def profile_neighbors(
    track: DataFrame,
    grid: DataFrame,
    variable: str = "water_temp",
    track_col: str | None = None,
) -> DataFrame:
    """Per-neighbor rows for the IDW reduce: one row per (track point,
    depth level, 3x3 neighbor) over the first :data:`K_DEPTHS` depth
    levels. Returns ([track_col,] point_id, depth_idx, depth_m, w, v):
    the IDW weight and the ``variable`` value, NULL if a sentinel.

    ``track``: (point_id, lat, lon, t_hours); ``grid``: HYCOM long form
    whose ``time_hours``/``lat``/``lon`` carry their axis records (module
    docstring). ``track_col`` is the fleet shape of
    :func:`profile_along_track`: the id rides the broadcast side
    unchanged, and point_ids only need to be unique within a track.
    ``track_col=None`` reads the snapped ``track`` once, now, filters
    ``grid`` to its footprint (:func:`_footprint`) and broadcasts that
    local copy (:func:`_local_copy`).
    """
    tcols = [track_col] if track_col else []
    snapped = track.select(
        *tcols,
        "point_id",
        "lat",
        "lon",
        _time_bucket(F.col("t_hours"), grid).alias("t_sel"),
        axis_index(F.col("lat"), grid, "lat").alias("lat_idx"),
        axis_index(F.col("lon"), grid, "lon").alias("lon_idx"),
    )
    if track_col is None:
        rows, snapped = _local_copy(snapped)
        grid = grid.where(_footprint(rows))
    nb = neighborhood_expand(snapped).select(
        *tcols,
        "point_id",
        F.col("lat").alias("p_lat"),
        F.col("lon").alias("p_lon"),
        _node_key(
            F.col("t_sel"), F.col("nb_lat_idx"), F.col("nb_lon_idx")
        ).alias("__node"),
    )
    g = grid.where(F.col("depth_idx") < K_DEPTHS).select(
        _node_key(
            F.col("time_hours"), F.col("lat_idx"), F.col("lon_idx"),
            names=("time_hours", "lat_idx", "lon_idx"),
        ).alias("__node"),
        "depth_idx",
        "depth_m",
        F.col("lat").alias("g_lat"),
        F.col("lon").alias("g_lon"),
        F.col(variable).alias("__var"),
    )
    j = g.join(F.broadcast(nb), "__node")
    return j.select(
        *tcols,
        "point_id",
        "depth_idx",
        "depth_m",
        inv_square_weight(euclid_deg("p_lat", "p_lon", "g_lat", "g_lon"))
        .alias("w"),
        mask_sentinel("__var").alias("v"),
    )


def profile_along_track(
    track: DataFrame,
    grid: DataFrame,
    variable: str = "water_temp",
    track_col: str | None = None,
) -> DataFrame:
    """Full pipeline -> long profile ([track_col,] point_id, depth_idx,
    depth_m, n_valid, idw_value): the 3x3 IDW mean of ``variable``, the
    engine twin of the reference's ``(time, depth, value)`` triples
    (``trackplot_hycom.py:217-223``), :data:`K_DEPTHS` depth levels per
    point.

    ``track_col=None`` is the single-track contract (one advisory
    track, the reference's shape). ``track_col="..."`` is the FLEET
    shape: the id rides the broadcast side and becomes a group-by
    column, so a whole storm season profiles in ONE grid scan +
    broadcast join + hash aggregate — no window, no per-track loop, one
    shuffle over the join output (plan-asserted in
    tests/test_idw_profile.py and tests/test_profile_keys.py). Geometry,
    the single track's footprint and the keys are described in the
    module docstring.

    Plain double Σwv/Σw for engine use; the oracle-checked query variant
    (``queries/track_q.py``) lifts the same rows to fixed point first.
    """
    names = None
    group_col = track_col
    if track_col is not None and not isinstance(
        track.schema[track_col].dataType, IntegralType
    ):
        names = _track_dictionary(track, track_col)
        track = track.withColumn(_TRACK_KEY, _track_surrogate(F.col(track_col)))
        group_col = _TRACK_KEY
    rows = profile_neighbors(track, grid, variable, group_col)
    keys = ([group_col] if group_col else []) + [
        "point_id", "depth_idx", "depth_m"
    ]
    prof = idw_weighted_mean(rows, keys, "v", "w")
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
    single-task global window anywhere in the plan.

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
        .withColumn("seg_len", euclid_deg("lat", "lon", "lat0", "lon0"))
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
