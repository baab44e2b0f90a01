"""Custom Spark 4 Python DataSource for the HYCOM-style grid (S6).

The reference reads the 4-D grid over OPeNDAP with server-side slicing
(``netCDF4.Dataset(url)``, ``trackplot_hycom.py:144``, ``:110``). This
DataSource is the LIVE-source shape: a ``pyspark.sql.datasource``
implementation exposing the grid as a long DataFrame. The read unit is
a run of consecutive time steps: ``partitions()`` packs the kept steps
into contiguous partitions, at most one per core of the planning
process and one per ``_CELLS_PER_TASK`` cells of the (pushed) index
box, because a Python task's fixed latency costs far more than the
decode of a small window. A storm's pushed window is one task; a
whole-grid scan spreads over the cores. Each step is emitted as its own
Arrow batch.

Three backends, chosen by the ``path`` option, behind one dataset
contract — ``read(name)``, ``read_strided(var, ranges)``,
``var_attrs(var)`` and ``close()`` — and one reader path:

- no ``path`` (default): the deterministic formula fixture — the
  correctness tier's in-memory twin of the parquet fixture, read like a
  dataset (:class:`_FormulaGrid`).
- ``.option("path", "/…/grid.nc")``: a REAL netCDF classic file read
  via ``sources/netcdf_classic.py``. Each step seeks to its record byte
  range (``begin + t*recsize``) and reads ONLY that slice — the
  local-file analog of the reference's server-side DAP slicing
  (``trackplot_hycom.py:110`` ships index ranges to the THREDDS server).
  Tasks reuse the header parsed at ``.load()`` and reopen only the
  file handle.
- a ``dap+http://`` path fetches each run of steps in one hyperslab
  request per physics variable.

The grid geometry comes from the dataset. ``schema()`` reads the
``time``, ``depth``, ``lat`` and ``lon`` coordinate vectors once per
``.load()`` and attaches each of the ``time``/``lat``/``lon`` axes to
its column as an axis record, ``{origin, step}``
(``schemas.hycom_grid_schema``); the profile operator snaps track points
with it. A non-uniform axis (or one with fewer than two values) raises
a ``ValueError`` at load, naming the path and the axis. The vectors stay
on the DataSource instance, which pyspark pickles to the planner, so
``reader()`` reuses them and a DAP dataset's metadata requests are made
once per load, not again per plan. A reader built without ``schema()``
(a user-given schema, or a direct ``reader()`` call) reads them itself.

With ``pushdown=true``, comparisons on ``time_hours`` prune steps before
any task launches, and comparisons on ``depth_idx``/``lat_idx``/
``lon_idx`` narrow every step to an index box: the DAP backend asks the
server for the box only, the file backend cuts it from the record it
reads, the formula backend computes only the box. Emitted ``*_idx``
columns keep full-grid numbering.
"""

from __future__ import annotations

import math
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from modeltracking_spark.fixtures import (
    GRID_DEPTH_STEP,
    GRID_LAT0,
    GRID_LAT_STEP,
    GRID_LON0,
    GRID_LON_STEP,
    GRID_N_DEPTH,
    GRID_N_LAT,
    GRID_N_LON,
    GRID_N_TIME,
    GRID_SENTINEL,
    GRID_TIME_STEP,
)
from modeltracking_spark.schemas import hycom_grid_schema

#: the coordinate vector behind each axis record, in schema order
_AXIS_VARS = ("time", "lat", "lon")
#: a lat/lon axis is uniform when every value lies within this fraction
#: of a step of ``origin + i * step`` (float32-stored coordinates stay
#: well inside it); a time axis must be exact
_AXIS_TOL = 0.01
#: significant digits kept of a lat/lon step: drops the rounding that
#: ``(last - first) / (n - 1)`` adds to a decimal step such as 0.25
_STEP_DIGITS = 10


def _physics_block(nc, var: str, t0: int, t1: int, box):
    """``var[t0..t1]`` cut to ``box`` (inclusive (lo, hi) index ranges of
    depth, lat, lon), shape (steps, depth, lat, lon), in one
    ``read_strided`` call: a DAP dataset ships only the box in one
    hyperslab request, a file reads each record slice and cuts the box,
    the formula grid computes only the box. A PACKED variable (int16 +
    CF scale/offset/missing attrs — how real HYCOM serves its
    hypercubes) is CF-unpacked, with missing values mapped to the
    pipeline's sentinel, so downstream code sees one schema whatever
    the on-disk packing or transport."""
    import numpy as np

    from modeltracking_spark.sources.netcdf_classic import cf_unpack

    raw = nc.read_strided(var, [(t0, t1), *box])
    a = cf_unpack(raw, nc.var_attrs(var))
    # cf_unpack hands back its input when the variable is not packed
    return a if a is raw else np.where(np.isnan(a), GRID_SENTINEL, a)


def _axis_record(path: str | None, name: str, values) -> tuple:
    """``(origin, step)`` of the coordinate vector ``values``: node ``i``
    at ``origin + i * step``. An axis that is not uniform, or has fewer
    than two values, raises a ``ValueError`` naming ``path`` and ``name``."""
    import numpy as np

    a = np.asarray(values)
    where = f"grid {path or '(formula fixture)'}: axis {name!r}"
    if a.size < 2:
        raise ValueError(f"{where} has {a.size} value(s); a uniform axis "
                         "needs two to define its step")
    if name == "time":
        origin, step = int(a[0]), int(a[1] - a[0])
        tol = 0
    else:
        origin = float(a[0])
        step = float(f"{(a[-1] - a[0]) / (a.size - 1):.{_STEP_DIGITS}g}")
        tol = _AXIS_TOL * abs(step)
    off = np.abs(a - (origin + step * np.arange(a.size)))
    if step == 0 or not off.max() <= tol:
        i = int(np.argmax(off)) if step else 1
        raise ValueError(
            f"{where} is not uniform: value {a[i]!r} at index {i} is off "
            f"origin + i * step = {origin!r} + {i} * {step!r}; the profile "
            "operator snaps to uniform axes only"
        )
    return origin, step


def _dataset_constants(path: str | None) -> dict:
    """The per-dataset constants, read once per ``.load()``: the time axis,
    the coordinate vectors, the axis record of ``time_hours``/``lat``/
    ``lon`` (:func:`_axis_record`), plus the closed dataset a task
    reuses — the parsed header of a file, the parsed DDS/DAS of a
    ``dap+http://`` backend, or the formula grid. They ride the pickled
    reader into every task, so a task makes only the physics reads: with
    many concurrent tasks against one DAP server, metadata round trips
    queued on the server were the query's wall clock."""
    from modeltracking_spark.sources.dap import open_nc_or_dap

    nc = _FormulaGrid() if path is None else open_nc_or_dap(path)
    try:
        shared = {v: nc.read(v) for v in ("time", "depth", "lat", "lon")}
        shared["time"] = [int(v) for v in shared["time"]]
        shared["axes"] = tuple(
            _axis_record(path, v, shared[v]) for v in _AXIS_VARS
        )
        nc.var_attrs("water_temp")  # a DAP dataset caches its .das here
    finally:
        nc.close()
    shared["ds"] = nc
    return shared


def _runs(steps):
    """Split sorted step indices into runs of consecutive indices."""
    run: list[int] = []
    for t in steps:
        if run and t != run[-1] + 1:
            yield run
            run = []
        run.append(t)
    if run:
        yield run


def _read_steps(steps, shared: dict, box):
    """Long-form numpy columns of each step in ``steps``, cut to ``box``,
    read from the dataset of ``shared`` — slice reads only, never the
    whole variable. One physics read per variable per run of consecutive
    steps (see :func:`_physics_block`)."""
    nc = shared["ds"]
    try:
        for run in _runs(steps):
            temp = _physics_block(nc, "water_temp", run[0], run[-1], box)
            sal = _physics_block(nc, "salinity", run[0], run[-1], box)
            for k, t in enumerate(run):
                yield _grid_cols(shared["time"][t], shared["depth"],
                                 shared["lat"], shared["lon"],
                                 temp[k], sal[k], box)
    finally:
        nc.close()


def _step_arrays(path: str | None, ti: int, box=None):
    """Step ``ti`` of the grid at ``path`` (``None``: the formula
    fixture), cut to ``box`` (default: the whole grid), as numpy
    columns."""
    shared = _dataset_constants(path)
    return next(_read_steps([ti], shared, box or _full_box(shared)))


def _full_box(shared: dict):
    return tuple((0, len(shared[k]) - 1) for k in ("depth", "lat", "lon"))


def _box_mesh(box):
    """Full-grid (depth, lat, lon) indices of every cell of ``box``,
    raveled in C order (the order of a (depth, lat, lon) slice)."""
    import numpy as np

    return [
        a.ravel()
        for a in np.meshgrid(
            *(np.arange(lo, hi + 1, dtype=np.int64) for lo, hi in box),
            indexing="ij",
        )
    ]


def _grid_cols(t_hours, depth_m, lat_v, lon_v, temp, sal, box):
    """Expand one (depth, lat, lon) time-step slice, cut to ``box``, to
    long-form numpy columns; ``depth_m``/``lat_v``/``lon_v`` are the full
    coordinate vectors."""
    import numpy as np

    d, la, lo = _box_mesh(box)
    return {
        "time_hours": np.full(d.shape, t_hours, dtype=np.int64),
        "depth_idx": d.astype(np.int32),
        "depth_m": depth_m[d],
        "lat_idx": la.astype(np.int32),
        "lon_idx": lo.astype(np.int32),
        "lat": lat_v[la],
        "lon": lon_v[lo],
        "water_temp": temp.ravel(),
        "salinity": sal.ravel(),
    }


def _write_formula_grid(path: str, n_time: int, physics) -> None:
    """Write the formula grid's first ``n_time`` steps as a classic
    netCDF file (time = unlimited record dim; per-record streaming write,
    so the full hypercube never exists in memory): the four coordinate
    variables, then one record variable per ``(name, encode, attrs)`` of
    ``physics``, where ``encode`` maps the float64 (depth, lat, lon) step
    to the stored array."""
    import numpy as np

    from modeltracking_spark.sources.netcdf_classic import write_classic

    grid = _FormulaGrid()
    coords = {v: grid.read(v) for v in ("depth", "lat", "lon")}
    full = _full_box(coords)

    def record(var, encode):
        return lambda r: encode(grid.read_strided(var, [(r, r), *full])[0])

    write_classic(
        path,
        dims=[("time", 0), *((v, len(a)) for v, a in coords.items())],
        variables=[
            ("time", ("time",),
             lambda r: np.array(r * GRID_TIME_STEP, dtype=np.int32)),
            *((v, (v,), a) for v, a in coords.items()),
            *((var, ("time", *coords), record(var, encode), attrs)
              for var, encode, attrs in physics),
        ],
        record_dim="time",
        n_records=n_time,
    )


def write_grid_netcdf(path: str, n_time: int = GRID_N_TIME) -> None:
    """Materialize the formula grid as a REAL classic netCDF file.
    Reading it back through the ``path`` backend reproduces the fixture
    byte-for-byte — which is how the netCDF pipeline gets an exact DuckDB
    oracle."""
    _write_formula_grid(path, n_time, [
        ("water_temp", lambda v: v, None),
        ("salinity", lambda v: v, None),
    ])


def write_grid_netcdf_packed(path: str, n_time: int = GRID_N_TIME) -> None:
    """The PACKED twin of :func:`write_grid_netcdf` — physics variables
    stored as int16 with CF ``scale_factor``/``add_offset``/
    ``missing_value`` attributes, which is how real HYCOM THREDDS serves
    its hypercubes (¼ the bytes of float64). The fixture formulas are
    exact multiples of 0.1, so packing is LOSSLESS here: unpacking
    ``p * 0.1 (+ 30.0)`` reproduces the float64 fixture bit-for-bit
    (IEEE multiply/add of the same operands), and the packed file scans
    to the SAME oracle-checked rows as the unpacked one."""
    import numpy as np

    def packed(offset):
        return lambda v: np.where(
            v <= -4.0,
            np.int16(-30000),
            np.round((v - offset) * 10.0).astype(np.int16),
        ).astype(np.int16)

    _write_formula_grid(path, n_time, [
        ("water_temp", packed(0.0),
         {"scale_factor": 0.1, "add_offset": 0.0,
          "missing_value": [-30000], "units": "degC"}),
        ("salinity", packed(30.0),
         {"scale_factor": 0.1, "add_offset": 30.0,
          "missing_value": [-30000], "units": "psu"}),
    ])


def _formula_physics(var: str, ti: int, d, la, lo):
    """``var`` of the formula grid at step ``ti`` and the full-grid
    (depth, lat, lon) indices ``d``, ``la``, ``lo`` — byte-identical to
    the Spark/SQL fixture formulas (integer-derived doubles)."""
    import numpy as np

    if var == "water_temp":
        v = ((la * 7 + lo * 11 + d * 5 + ti * 3) % 200).astype(np.float64) * 0.1
        v[(la * 13 + lo * 7 + d * 3 + ti) % 37 == 0] = GRID_SENTINEL
    else:
        v = 30.0 + ((la * 3 + lo * 5 + d * 7 + ti * 11) % 80).astype(np.float64) * 0.1
        v[(la * 11 + lo * 3 + d * 5 + ti) % 41 == 0] = GRID_SENTINEL
    return v


class _FormulaGrid:
    """The formula fixture read like a dataset, so the reader has one path
    for every backend: ``read`` gives a coordinate vector and
    ``read_strided`` computes one physics variable over a run of steps
    and an index box, as a DAP dataset would fetch it. Its values are
    unpacked, so it has no CF attributes, and nothing to close."""

    #: (length, origin, step) of each coordinate vector
    AXES = {
        "time": (GRID_N_TIME, 0, GRID_TIME_STEP),
        "depth": (GRID_N_DEPTH, 0.0, GRID_DEPTH_STEP),
        "lat": (GRID_N_LAT, GRID_LAT0, GRID_LAT_STEP),
        "lon": (GRID_N_LON, GRID_LON0, GRID_LON_STEP),
    }

    def read(self, name: str):
        import numpy as np

        n, origin, step = self.AXES[name]
        return origin + np.arange(n) * step

    def read_strided(self, var: str, ranges):
        import numpy as np

        (t0, t1), *box = ranges
        mesh = _box_mesh(box)
        shape = [hi - lo + 1 for lo, hi in box]
        return np.stack([_formula_physics(var, t, *mesh).reshape(shape)
                         for t in range(t0, t1 + 1)])

    def var_attrs(self, var: str) -> dict:
        return {}

    def close(self) -> None:
        pass


#: comparisons the pushdown reader satisfies exactly on an integer column
_COMPARISONS = (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
)
#: filters the reader can satisfy by time-step pruning
_TIME_FILTERS = _COMPARISONS + (In,)
#: index columns whose comparisons narrow every step to a (depth, lat,
#: lon) box, in box order
_BOX_COLS = ("depth_idx", "lat_idx", "lon_idx")


def _time_filter_match(f, th: int) -> bool:
    if isinstance(f, EqualTo):
        return th == f.value
    if isinstance(f, In):
        return th in f.value
    if isinstance(f, GreaterThan):
        return th > f.value
    if isinstance(f, GreaterThanOrEqual):
        return th >= f.value
    if isinstance(f, LessThan):
        return th < f.value
    return th <= f.value  # LessThanOrEqual


def _narrow(bounds: tuple[int, int], f) -> tuple[int, int]:
    """Intersect the inclusive index range ``bounds`` with comparison
    ``f``; an empty result has lo > hi."""
    lo, hi = bounds
    v = f.value
    if isinstance(f, (EqualTo, GreaterThan, GreaterThanOrEqual)):
        lo = max(lo, v + 1 if isinstance(f, GreaterThan) else v)
    if isinstance(f, (EqualTo, LessThan, LessThanOrEqual)):
        hi = min(hi, v - 1 if isinstance(f, LessThan) else v)
    return lo, hi


#: grid cells one read partition should carry before the next one pays.
#: Two measurements on 4 vCPUs: a Python task costs 0.1-0.2 s of fixed
#: latency over a JVM one (a 1-task Python RDD job takes 0.13-0.25 s, a
#: JVM-only job 0.04-0.06 s, worker reuse on), and the reader decodes a
#: cell in 64-78 ns (``grid.read_ms / grid.rows`` in a traced perfbench
#: run). Splitting off fewer than ~1.3M cells costs more latency than
#: the parallel read saves; 2^20 rounds that down
_CELLS_PER_TASK = 1 << 20


def _planning_cores() -> int:
    """Cores available to this (the planning) process — ``nproc``."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def _pack(steps: list[int], n: int) -> list[list[int]]:
    """Split ``steps`` in order into ``n`` contiguous chunks whose sizes
    differ by at most one."""
    k, extra = divmod(len(steps), max(n, 1))
    bounds = [i * k + min(i, extra) for i in range(n + 1)]
    return [steps[a:b] for a, b in zip(bounds, bounds[1:])]


class HycomGridReader(DataSourceReader):
    def __init__(self, shared: dict):
        #: the dataset constants of :func:`_dataset_constants`: pushed
        #: filters prune against the dataset's own time axis
        self._shared = shared
        self._time_filters: list = []
        #: inclusive index range per _BOX_COLS column; narrowed by pushdown
        self._box = dict(zip(_BOX_COLS, _full_box(shared)))

    def partitions(self):
        # pushed time filters prune steps before any task launches; the
        # kept steps are packed into at most one partition per planning
        # core and per _CELLS_PER_TASK cells of the pushed box, so a
        # storm's window is one task and a whole-grid scan spreads over
        # the cores
        keep = [
            t
            for t, hours in enumerate(self._shared["time"])
            if all(_time_filter_match(f, hours) for f in self._time_filters)
        ]
        if any(lo > hi for lo, hi in self._box.values()):
            keep = []
        box_cells = math.prod(hi - lo + 1 for lo, hi in self._box.values())
        n = min(len(keep), _planning_cores(),
                math.ceil(len(keep) * box_cells / _CELLS_PER_TASK))
        return [InputPartition(tuple(c)) for c in _pack(keep, n)]

    def read(self, partition):
        import pyarrow as pa

        # pyspark hands read(None) to a reader whose partitions() is empty
        if partition is None:
            return
        box = tuple(self._box[c] for c in _BOX_COLS)
        for cols in _read_steps(partition.value, self._shared, box):
            yield pa.RecordBatch.from_pydict(cols)


class HycomGridPushdownReader(HycomGridReader):
    """Reader variant with filter pushdown (``.option("pushdown",
    "true")``; needs ``spark.sql.python.filterPushdown.enabled=true`` —
    a Spark session config, which is why it is opt-in: a reader that
    *declares* ``pushFilters`` fails outright in sessions without the
    flag, and the correctness-tier query must run under the driver's
    default session).

    pyspark reuses the last pushdown-planned (pruned) scan for a later
    FILTERLESS query on the same DataFrame (pinned in
    ``tests/test_grid_source.py``): after a storm profile, ``count()``
    counts the storm's footprint. Further profiles on the same DataFrame
    push their own footprints and stay exact; use a fresh ``.load()``
    for anything else.

    Where the stale scan lives (``javap -c`` on Spark 4.1.2's
    ``spark-sql_2.13`` jar): ``PythonScanBuilder.pushFilters`` stores the
    pruned partitions and the pickled reader with
    ``PythonDataSourceV2.setReadInfo``, and ``PythonBatch`` takes
    ``getOrCreateReadInfo``, which returns that field whenever it is set.
    So each loaded relation holds one read-info field and every pushdown
    overwrites it. A filterless plan pushes no filter, so Spark calls no
    Python for it (neither ``pushFilters`` nor ``partitions()``), and this
    reader can neither make its state per plan nor fail loudly on the
    reuse."""

    def pushFilters(self, filters):
        """Comparisons on ``time_hours`` (and ``IN`` lists) prune time
        steps: every row of a step shares one time, so pruning the step
        list satisfies them exactly. Integer comparisons on
        ``depth_idx``/``lat_idx``/``lon_idx`` narrow the inclusive index
        box every step is cut to, which satisfies them exactly too.
        Everything else is handed back for Spark to evaluate. This is the
        Python-DataSource analog of the reference's server-side DAP
        slicing (``trackplot_hycom.py:110`` ships index ranges to the
        THREDDS server).
        """
        for f in filters:
            col = getattr(f, "attribute", ())
            if isinstance(f, _TIME_FILTERS) and col == ("time_hours",):
                self._time_filters.append(f)
            elif (isinstance(f, _COMPARISONS) and len(col) == 1
                  and col[0] in self._box and type(f.value) is int):
                self._box[col[0]] = _narrow(self._box[col[0]], f)
            else:
                yield f


class HycomGridDataSource(DataSource):
    """``spark.read.format("hycom_grid")`` after
    ``spark.dataSource.register(HycomGridDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "hycom_grid"

    def schema(self):
        # the coordinate vectors are read here, once per .load(); the
        # instance is pickled to the planner with them, so reader()
        # reuses them instead of asking the dataset again
        self._shared = _dataset_constants(self.options.get("path") or None)
        return hycom_grid_schema(*self._shared["axes"])

    def reader(self, schema):
        shared = getattr(self, "_shared", None)
        if shared is None:  # no schema(): a user-given schema, or a direct call
            shared = _dataset_constants(self.options.get("path") or None)
        if self.options.get("pushdown", "false").lower() == "true":
            return HycomGridPushdownReader(shared)
        return HycomGridReader(shared)
