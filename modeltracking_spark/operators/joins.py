"""Join operators (SURVEY.md §2.4, J1–J5).

The reference implements all of these as per-point Python loops; here each
is one distributed, Catalyst-planned join:

- J1 nearest-grid-node (spatial KNN k=1): arithmetic snap on a uniform
  grid → equi-join (preferred; exploits GLBu0.08 uniformity,
  ``trackplot_hycom.py:176``), or broadcast KNN for small dims.
- J2 3×3 neighborhood expansion: explode 9 offsets → equi-join
  (``nearest_neighbors``, ``trackplot_hycom.py:59-65``).
- J3 as-of (nearest-time) join: union-and-window technique — scales as a
  single shuffle on (key, ts), no cross product
  (``find_time_index``, ``trackplot_hycom.py:186-197``).
- J4 interval-containment routing: broadcast range join
  (``find_hycom_dir``, ``trackplot_hycom.py:173-184``).

J1 and J2 read the node geometry from the grid: :func:`axis_index` is the
one snap, for ``time_hours``, ``lat`` and ``lon`` alike, and takes each
axis's ``{origin, step}`` from the axis record on the grid's column
(``schemas.axis_metadata``).

Scale notes: the snap join is shuffle-on-key only; the as-of join is one
shuffle + one window scan per side; neighborhood expansion multiplies rows
9× *before* the join so AQE can size partitions; broadcast is explicit for
dimension-sized right sides.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from modeltracking_spark.schemas import grid_axis


def axis_index(x: Column, grid: DataFrame, col: str) -> Column:
    """The index of the node of grid axis ``col`` nearest to ``x``:
    ``round((x - origin) / step)`` with ``(origin, step)`` from the axis
    record on ``grid``'s column ``col`` (``schemas.grid_axis``) — the
    reference's ``location_to_index`` (``trackplot_hycom.py:67-86``) on a
    uniform axis. Reads the schema only, so no Spark job runs; a column
    without the record raises a ``ValueError`` naming it.

    A NaN or infinite ``x`` fails the query with an error naming the axis
    and the value; a finite ``x`` whose index is past the int range snaps
    to NULL, which joins nothing; a NULL ``x`` stays NULL. Exact
    half-step ties round away from the origin, at both ends of the axis."""
    origin, step = grid_axis(grid.schema, col)
    idx = F.round((x - F.lit(origin)) / F.lit(step))
    return F.when(
        F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
        F.raise_error(F.format_string(
            f"grid axis {col}: track value %s cannot be snapped to a node",
            x.cast("string"),
        )),
    ).when(idx.between(-(1 << 31), (1 << 31) - 1), idx.cast("int"))


def _time_bucket(t: Column, grid: DataFrame) -> Column:
    """The ``time_hours`` of the grid step :func:`axis_index` snaps ``t``
    to, ``origin + idx * step``, as a ``long`` — the reference's
    ``find_time_index`` (``trackplot_hycom.py:186-197``) on a uniform
    axis. It may lie outside the grid's steps; it then joins nothing."""
    origin, step = grid_axis(grid.schema, "time_hours")
    return axis_index(t, grid, "time_hours").cast("long") * step + origin


def grid_snap_join(points: DataFrame, grid: DataFrame) -> DataFrame:
    """J1 (uniform-grid route): snap each point's ``lat``/``lon`` to its
    nearest grid node with :func:`axis_index`, then equi-join on
    ``lat_idx``/``lon_idx`` — O(n) instead of the reference's
    O(n_points × n_lat × n_lon) scan (``location_to_index``,
    ``trackplot_hycom.py:67-86``). Each axis has its own origin and step.
    The grid's own ``lat``/``lon`` come back as ``g_lat``/``g_lon``.

    At 100 TB the grid side can be bucketed by (lat_idx, lon_idx) so this
    join co-locates without a shuffle of the grid.
    """
    snapped = points.withColumns({
        "lat_idx": axis_index(F.col("lat"), grid, "lat"),
        "lon_idx": axis_index(F.col("lon"), grid, "lon"),
    })
    nodes = grid.withColumnsRenamed({"lat": "g_lat", "lon": "g_lon"})
    return snapped.join(nodes, ["lat_idx", "lon_idx"], "inner")


def neighborhood_expand(df: DataFrame) -> DataFrame:
    """J2: expand each (lat_idx, lon_idx) to its 3×3 neighborhood via
    explode — the relational form of ``nearest_neighbors``
    (``trackplot_hycom.py:59-65``). Adds ``nb_lat_idx`` / ``nb_lon_idx``.
    """
    offsets = F.array(
        *[
            F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
            for di in (-1, 0, 1)
            for dj in (-1, 0, 1)
        ]
    )
    return (
        df.withColumn("__off", F.explode(offsets))
        .withColumn("nb_lat_idx", F.col("lat_idx") + F.col("__off.di"))
        .withColumn("nb_lon_idx", F.col("lon_idx") + F.col("__off.dj"))
        .drop("__off")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_payload: Sequence[str],
    direction: str = "backward",
) -> DataFrame:
    """J3: distributed as-of join via the union-and-window technique.

    For each left row, attach the payload of the right row with the
    greatest ``right_ts`` ≤ ``left_ts`` (direction='backward'), the
    smallest ≥ (``'forward'``), or the closer of the two
    (``'nearest'`` — the reference's semantics: ``find_time_index``
    argmin of |t_grid − t|, ``trackplot_hycom.py:193``).

    Execution: one union, one shuffle on ``on`` keys, one ordered window
    scan — no cross product, no per-row lookups. Ties on equal timestamps
    take the right row (≤ / ≥ are inclusive).
    """
    if direction == "nearest":
        # Surrogate-key the left side once, so the back/fwd recombination
        # joins on a single non-null unique key: left rows with NULLs are
        # never dropped (equi-join null semantics) and duplicate left rows
        # never fan out. (find_time_index argmin, trackplot_hycom.py:193.)
        #
        # The key is VALUE-deterministic — xxhash64 of the full row plus a
        # row_number within each identical-hash group — not
        # monotonically_increasing_id, which is partition-dependent: this
        # plan evaluates `keyed` in two subtrees (back and fwd), and a
        # nondeterministic id could differ between them after a shuffle
        # or task retry, silently mis-pairing the directions. Rows that
        # collide in the hash are bit-identical (or astronomically rare
        # 64-bit collisions), so any rank assignment among them yields
        # the same multiset of outputs.
        row_hash = F.xxhash64(*[F.col(c) for c in left.columns])
        rank_w = Window.partitionBy(row_hash).orderBy(F.lit(1))
        keyed = left.withColumn(
            "__row_id",
            F.concat_ws("#", row_hash, F.row_number().over(rank_w)),
        )
        back = asof_join(keyed, right, on, left_ts, right_ts, right_payload, "backward")
        fwd = asof_join(keyed, right, on, left_ts, right_ts, right_payload, "forward")
        fcols = {c: f"__fwd_{c}" for c in right_payload}
        fwd = fwd.select(
            "__row_id", *[F.col(c).alias(fcols[c]) for c in right_payload],
            F.col("__matched_ts").alias("__fwd_ts"),
        )
        back = back.withColumnRenamed("__matched_ts", "__back_ts")
        j = back.join(fwd, on="__row_id", how="inner")
        lts = F.col(left_ts)
        use_fwd = (
            F.col("__back_ts").isNull()
            | (
                F.col("__fwd_ts").isNotNull()
                & (
                    F.abs(F.col("__fwd_ts").cast("double") - lts.cast("double"))
                    < F.abs(lts.cast("double") - F.col("__back_ts").cast("double"))
                )
            )
        )
        out = j
        for c in right_payload:
            out = out.withColumn(
                c, F.when(use_fwd, F.col(fcols[c])).otherwise(F.col(c))
            )
        out = out.withColumn(
            "__matched_ts",
            F.when(use_fwd, F.col("__fwd_ts")).otherwise(F.col("__back_ts")),
        )
        return out.drop("__back_ts", "__fwd_ts", "__row_id", *fcols.values())

    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown direction {direction!r}")

    on = list(on)
    lcols = [c for c in left.columns]
    tagged_left = left.select(
        *[F.col(c) for c in lcols],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_payload],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__r_ts"),
    )
    tagged_right = right.select(
        *[F.col(c) if c in on else F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"__r_{c}") for c in right_payload],
        F.col(right_ts).alias("__r_ts"),
    )
    u = tagged_left.unionByName(tagged_right)

    if direction == "backward":
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    else:
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("__ts").asc(), F.col("__is_left").desc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
    fill = F.last if direction == "backward" else F.first
    filled = u.select(
        *lcols,
        F.col("__is_left"),
        *[
            fill(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(c)
            for c in right_payload
        ],
        fill(F.col("__r_ts"), ignorenulls=True).over(w).alias("__matched_ts"),
    )
    return filled.where(F.col("__is_left") == 1).drop("__is_left")


def interval_join(
    facts: DataFrame,
    ranges: DataFrame,
    point: Column | str,
    start: str,
    end: str,
    inclusive: bool = False,
) -> DataFrame:
    """J4: route each fact row to the (small, broadcast) range containing
    its point value — ``find_hycom_dir`` semantics
    (``trackplot_hycom.py:173-184``).

    The reference tests **strict** bounds (``dtime[0] < t and dtime[-1] > t``,
    trackplot_hycom.py:183), the default here. Pass ``inclusive=True`` for
    the closed-interval BETWEEN convention (both axes are integer hours, so
    exact-boundary rows route differently between the two).
    """
    p = F.col(point) if isinstance(point, str) else point
    cond = (
        (p >= F.col(start)) & (p <= F.col(end))
        if inclusive
        else (p > F.col(start)) & (p < F.col(end))
    )
    return facts.join(F.broadcast(ranges), cond, "inner")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-buster equi-join: salt the big side's key space ``n_salts``
    ways and replicate the small side across every salt, so one hot key
    spreads over ``n_salts`` tasks instead of stalling a single reducer.

    AQE's skew-join split (enabled in session.py) handles most skew at
    runtime; this explicit form is for the pathological keys AQE can't
    split (a single key bigger than a task's memory) and for engines/
    modes where AQE is off. Output columns = big's + small's minus the
    duplicate key.

    Only join types that never emit unmatched SMALL-side rows are
    allowed: the small side is replicated n_salts times, so a
    right/full outer join would duplicate its unmatched rows.
    """
    if how not in ("inner", "left", "leftouter", "left_outer", "leftsemi",
                   "left_semi", "leftanti", "left_anti", "semi", "anti"):
        raise ValueError(
            f"salted_join does not support how={how!r}: the replicated "
            "small side would duplicate unmatched rows"
        )
    # value-derived salt (hash of the whole row, key included) — the
    # row->salt assignment is identical across task retries and input
    # partitionings, unlike monotonically_increasing_id; bit-exact rows
    # share a salt, which only matters if a hot key is made of *copies*
    # of one row (then pre-aggregate the copies instead)
    b = big.withColumn(
        "__salt",
        (F.xxhash64(F.struct(*big.columns)) % n_salts + n_salts) % n_salts,
    )
    s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = b.join(s, [on, "__salt"], how)
    return out.drop("__salt")


def knn_join_brute(
    left: DataFrame,
    right: DataFrame,
    dist: Column,
    left_key: str,
    right_order: Sequence[str],
    k: int = 1,
) -> DataFrame:
    """J1 (general route): broadcast cross-join KNN for dimension-sized
    right sides; ``dist`` is any expression over columns of both.

    Tie-broken by ``right_order`` so results are deterministic. For a big
    right side use LSH bucketing (operators.similarity) instead — a full
    cross product does not survive 100 TB.
    """
    x = left.crossJoin(F.broadcast(right)).withColumn("__dist", dist)
    w = Window.partitionBy(left_key).orderBy(
        F.col("__dist").asc(), *[F.col(c).asc() for c in right_order]
    )
    return (
        x.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .withColumnRenamed("__dist", "dist")
        .drop("__rank")
    )


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    px: str = "px",
    py: str = "py",
) -> DataFrame:
    """Spatial containment join: which polygon contains each point —
    the region-routing step of geo pipelines (the reference routes
    tracks to datasets by REGION, trackplot_hycom.py's catalog probe;
    this is the polygon-accurate version of that bounding-box routing).

    Ray casting with a twist that makes it ORACLE-EXACT: coordinates
    are INTEGERS (already-integral units here; scale decimal grids,
    e.g. ×10, BEFORE calling), and the edge
    crossing test replaces the usual division with a sign-aware
    cross-multiplication, so containment is pure integer arithmetic —
    no float boundary ulp can flip a verdict between engines:

        cross = (yi > p) != (yj > p)
        hit   = cross AND ((px−xi)·(yj−yi) <> (xj−xi)·(py−yi))
                          (direction of <> follows sign(yj−yi))

    ``polygons``: (poly_id, xs array<long>, ys array<long>) — vertex
    lists in order, implicit closing edge. Broadcast-sized (a region
    catalog is small); points stream through one narrow projection —
    no shuffle of the point side at any scale.

    Output: the (poly_id, point) pairs with inside = true.
    """
    n = F.size("xs")
    i1 = lambda i: i + F.lit(1)                       # 1-based element_at
    j1 = lambda i: ((i + F.lit(1)) % n) + F.lit(1)    # wrap to closing edge
    pxc, pyc = F.col(px).cast("long"), F.col(py).cast("long")

    def edge_hit(i):
        xi, yi = F.element_at("xs", i1(i)), F.element_at("ys", i1(i))
        xj, yj = F.element_at("xs", j1(i)), F.element_at("ys", j1(i))
        cross = (yi > pyc) != (yj > pyc)
        lhs = (pxc - xi) * (yj - yi)
        rhs = (xj - xi) * (pyc - yi)
        below = F.when(yj > yi, lhs < rhs).otherwise(lhs > rhs)
        return F.when(cross & below, F.lit(1)).otherwise(F.lit(0))

    hits = F.aggregate(
        F.sequence(F.lit(0), n - F.lit(1)),
        F.lit(0),
        lambda acc, i: acc + edge_hit(i),
    )
    # degenerate polygons (< 3 vertices) contain nothing; dropping them
    # here matches the parity-0/NULL verdict a SQL replay gives — and an
    # EMPTY vertex list would otherwise crash (sequence(0, -1) descends)
    return (
        points.crossJoin(F.broadcast(polygons.where(F.size("xs") >= 3)))
        .withColumn("__inside", hits % 2 == 1)
        .where(F.col("__inside"))
        .drop("__inside", "xs", "ys")
    )
