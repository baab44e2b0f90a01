"""Custom Spark 4 Python DataSource for the HYCOM-style grid (S6).

The reference reads the 4-D grid over OPeNDAP with server-side slicing
(``netCDF4.Dataset(url)``, ``trackplot_hycom.py:144``, ``:110``). This
DataSource is the LIVE-source shape: a ``pyspark.sql.datasource``
implementation exposing the grid as a long DataFrame. The read unit is
a run of consecutive time steps: ``partitions()`` packs the kept steps
into at most as many contiguous partitions as the planning process has
cores, because a Python task costs far more than the decode of one
step. Each step is emitted as its own Arrow batch.

Two backends, chosen by the ``path`` option:

- no ``path`` (default): the deterministic formula fixture — the
  correctness tier's in-memory twin of the parquet fixture.
- ``.option("path", "/…/grid.nc")``: a REAL netCDF classic file read
  via ``sources/netcdf_classic.py``. Each step seeks to its record byte
  range (``begin + t*recsize``) and reads ONLY that slice — the
  local-file analog of the reference's server-side DAP slicing
  (``trackplot_hycom.py:110`` ships index ranges to the THREDDS server).
  A ``dap+http://`` path fetches each run of steps in one hyperslab
  request per physics variable.

With ``pushdown=true``, comparisons on ``time_hours`` prune steps before
any task launches, and comparisons on ``depth_idx``/``lat_idx``/
``lon_idx`` narrow every step to an index box: the DAP backend asks the
server for the box only, the file and formula backends cut it from the
step they decode. Emitted ``*_idx`` columns keep full-grid numbering.
"""

from __future__ import annotations

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

GRID_SCHEMA_DDL = (
    "time_hours bigint, depth_idx int, depth_m double, lat_idx int, "
    "lon_idx int, lat double, lon double, water_temp double, salinity double"
)


def _var_cf_attrs(nc, var: str) -> dict:
    """CF attributes of ``var`` from either reader: ``NcFile`` exposes
    ``nc.vars[v].attrs`` (an object attribute), ``DapDataset.vars[v]``
    is a (type, dims) tuple so its attrs come from the cached ``.das``
    fetch via ``var_attrs``. Before r8 the DAP arm was missing: a
    packed int16 dataset served over ``dap+http://`` silently decoded
    to raw packed values (ADVICE r7 #2)."""
    v = getattr(nc, "vars", {}).get(var)
    attrs = getattr(v, "attrs", None)
    if attrs is not None:
        return attrs
    getter = getattr(nc, "var_attrs", None)
    return getter(var) if getter is not None else {}


def _physics_block(nc, var: str, t0: int, t1: int, box):
    """``var[t0..t1]`` cut to ``box`` (inclusive (lo, hi) index ranges of
    depth, lat, lon), shape (steps, depth, lat, lon). A DAP dataset ships
    only the box, in one hyperslab request for the whole run; a file
    reads each record slice and cuts the box from it. CF-unpacked when
    the variable is PACKED (int16 + scale/offset/missing attrs — how real
    HYCOM serves its hypercubes), over BOTH readers; missing values come
    back as the pipeline's sentinel either way, so downstream code sees
    one schema regardless of on-disk packing or transport."""
    import numpy as np

    from modeltracking_spark.sources.netcdf_classic import cf_unpack

    if hasattr(nc, "read_strided"):
        a = nc.read_strided(var, [(t0, t1), *box])
    else:
        cut = tuple(slice(lo, hi + 1) for lo, hi in box)
        a = np.stack([nc.read_slice(var, t)[cut] for t in range(t0, t1 + 1)])
    attrs = _var_cf_attrs(nc, var)
    if attrs and ("scale_factor" in attrs or "missing_value" in attrs
                  or "_FillValue" in attrs):
        a = cf_unpack(a, attrs)
        return np.where(np.isnan(a), GRID_SENTINEL, a)
    return a


def _dataset_constants(path: str) -> dict:
    """The per-dataset constants, read once on the planning side: the
    time axis and the coordinate vectors, plus (for ``dap+http://``
    backends) the parsed DDS/DAS client itself. They ride the pickled
    reader into every task, so a task makes only the physics requests:
    with many concurrent tasks against one DAP server, metadata round
    trips queued on the server were the query's wall clock."""
    from modeltracking_spark.sources.dap import DapDataset, open_nc_or_dap

    nc = open_nc_or_dap(path)
    shared = {
        "time": [int(v) for v in nc.read("time")],
        "depth": nc.read("depth"),
        "lat": nc.read("lat"),
        "lon": nc.read("lon"),
        "ds": None,
    }
    if isinstance(nc, DapDataset):
        nc.var_attrs("water_temp")  # warm the .das cache
        shared["ds"] = nc
    else:
        nc.close()
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


def _steps_from_netcdf(path: str, steps, shared: dict, box):
    """Long-form numpy columns of each step in ``steps``, cut to ``box``,
    read from a classic netCDF file or a DAP server — slice reads only,
    never the whole variable. One physics read per variable per run of
    consecutive steps (see :func:`_physics_block`)."""
    from modeltracking_spark.sources.dap import open_nc_or_dap

    nc = shared["ds"] if shared["ds"] is not None else open_nc_or_dap(path)
    try:
        for run in _runs(steps):
            temp = _physics_block(nc, "water_temp", run[0], run[-1], box)
            sal = _physics_block(nc, "salinity", run[0], run[-1], box)
            for k, t in enumerate(run):
                yield _grid_cols(shared["time"][t], shared["depth"],
                                 shared["lat"], shared["lon"],
                                 temp[k], sal[k], box)
    finally:
        if shared["ds"] is None:
            nc.close()


def _partition_from_netcdf(path: str, ti: int):
    """One whole time step as numpy columns."""
    shared = _dataset_constants(path)
    return next(_steps_from_netcdf(path, [ti], shared, _full_box(shared)))


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


def write_grid_netcdf(path: str, n_time: int = GRID_N_TIME) -> None:
    """Materialize the formula grid as a REAL classic netCDF file
    (time = unlimited record dim; per-record streaming write, so the
    full hypercube never exists in memory). Reading it back through the
    ``path`` backend reproduces the fixture byte-for-byte — which is how
    the netCDF pipeline gets an exact DuckDB oracle."""
    import numpy as np

    from modeltracking_spark.sources.netcdf_classic import write_classic

    # _partition_arrays materializes BOTH physics variables per call;
    # memoize the last record so the two record-var callbacks for the
    # same r share one formula evaluation instead of recomputing it
    last: dict = {}

    def rec(var):
        def f(r):
            if last.get("r") != r:
                last["r"], last["cols"] = r, _partition_arrays(r)
            return last["cols"][var].reshape(
                GRID_N_DEPTH, GRID_N_LAT, GRID_N_LON
            )

        return f

    write_classic(
        path,
        dims=[
            ("time", 0),
            ("depth", GRID_N_DEPTH),
            ("lat", GRID_N_LAT),
            ("lon", GRID_N_LON),
        ],
        variables=[
            (
                "time",
                ("time",),
                lambda r: np.array(r * GRID_TIME_STEP, dtype=np.int32),
            ),
            (
                "depth",
                ("depth",),
                np.arange(GRID_N_DEPTH, dtype=np.float64) * GRID_DEPTH_STEP,
            ),
            (
                "lat",
                ("lat",),
                GRID_LAT0 + np.arange(GRID_N_LAT, dtype=np.float64) * GRID_LAT_STEP,
            ),
            (
                "lon",
                ("lon",),
                GRID_LON0 + np.arange(GRID_N_LON, dtype=np.float64) * GRID_LON_STEP,
            ),
            ("water_temp", ("time", "depth", "lat", "lon"), rec("water_temp")),
            ("salinity", ("time", "depth", "lat", "lon"), rec("salinity")),
        ],
        record_dim="time",
        n_records=n_time,
    )


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

    from modeltracking_spark.sources.netcdf_classic import write_classic

    last: dict = {}

    def packed(var, offset):
        def f(r):
            if last.get("r") != r:
                last["r"], last["cols"] = r, _partition_arrays(r)
            v = last["cols"][var].reshape(GRID_N_DEPTH, GRID_N_LAT, GRID_N_LON)
            out = np.where(
                v <= -4.0,
                np.int16(-30000),
                np.round((v - offset) * 10.0).astype(np.int16),
            )
            return out.astype(np.int16)

        return f

    write_classic(
        path,
        dims=[
            ("time", 0),
            ("depth", GRID_N_DEPTH),
            ("lat", GRID_N_LAT),
            ("lon", GRID_N_LON),
        ],
        variables=[
            ("time", ("time",),
             lambda r: np.array(r * GRID_TIME_STEP, dtype=np.int32)),
            ("depth", ("depth",),
             np.arange(GRID_N_DEPTH, dtype=np.float64) * GRID_DEPTH_STEP),
            ("lat", ("lat",),
             GRID_LAT0 + np.arange(GRID_N_LAT, dtype=np.float64) * GRID_LAT_STEP),
            ("lon", ("lon",),
             GRID_LON0 + np.arange(GRID_N_LON, dtype=np.float64) * GRID_LON_STEP),
            ("water_temp", ("time", "depth", "lat", "lon"),
             packed("water_temp", 0.0),
             {"scale_factor": 0.1, "add_offset": 0.0,
              "missing_value": [-30000], "units": "degC"}),
            ("salinity", ("time", "depth", "lat", "lon"),
             packed("salinity", 30.0),
             {"scale_factor": 0.1, "add_offset": 30.0,
              "missing_value": [-30000], "units": "psu"}),
        ],
        record_dim="time",
        n_records=n_time,
    )


#: the formula grid's whole (depth, lat, lon) index box
FULL_BOX = ((0, GRID_N_DEPTH - 1), (0, GRID_N_LAT - 1), (0, GRID_N_LON - 1))


def _partition_arrays(ti: int, box=FULL_BOX):
    """One time step, cut to ``box``, as numpy columns — byte-identical
    to the Spark/SQL fixture formulas (integer-derived doubles)."""
    import numpy as np

    d, la, lo = _box_mesh(box)
    temp = ((la * 7 + lo * 11 + d * 5 + ti * 3) % 200).astype(np.float64) * 0.1
    temp_sent = (la * 13 + lo * 7 + d * 3 + ti) % 37 == 0
    temp[temp_sent] = GRID_SENTINEL
    sal = 30.0 + ((la * 3 + lo * 5 + d * 7 + ti * 11) % 80).astype(np.float64) * 0.1
    sal_sent = (la * 11 + lo * 3 + d * 5 + ti) % 41 == 0
    sal[sal_sent] = GRID_SENTINEL
    return {
        "time_hours": np.full(d.shape, ti * GRID_TIME_STEP, dtype=np.int64),
        "depth_idx": d.astype(np.int32),
        "depth_m": d.astype(np.float64) * GRID_DEPTH_STEP,
        "lat_idx": la.astype(np.int32),
        "lon_idx": lo.astype(np.int32),
        "lat": GRID_LAT0 + la.astype(np.float64) * GRID_LAT_STEP,
        "lon": GRID_LON0 + lo.astype(np.float64) * GRID_LON_STEP,
        "water_temp": temp,
        "salinity": sal,
    }


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
    def __init__(self, options):
        self.path = options.get("path")  # netCDF or dap+http backend
        if self.path:
            # the time axis and coordinate vectors are KBs; reading them
            # on the planning side lets pushed filters prune against the
            # FILE's axes, not a formula assumption
            self._shared = _dataset_constants(self.path)
            self._time_values = self._shared["time"]
            default_n = len(self._time_values)
            full = _full_box(self._shared)
        else:
            default_n = GRID_N_TIME
            self._time_values = None
            self._shared = None
            full = FULL_BOX
        self.n_time = int(options.get("n_time", default_n))
        self._time_filters: list = []
        #: inclusive index range per _BOX_COLS column; narrowed by pushdown
        self._box = dict(zip(_BOX_COLS, full))

    def _time_hours_of(self, t: int) -> int:
        if self._time_values is not None:
            return self._time_values[t]
        return t * GRID_TIME_STEP

    def partitions(self):
        # pushed time filters prune steps before any task launches; the
        # kept steps are packed into at most one partition per planning
        # core, since a Python task costs more than decoding a step
        keep = [
            t
            for t in range(self.n_time)
            if all(
                _time_filter_match(f, self._time_hours_of(t))
                for f in self._time_filters
            )
        ]
        if any(lo > hi for lo, hi in self._box.values()):
            keep = []
        n = min(len(keep), _planning_cores())
        return [InputPartition(tuple(c)) for c in _pack(keep, n)]

    def read(self, partition):
        import pyarrow as pa

        # pyspark hands read(None) to a reader whose partitions() is empty
        if partition is None:
            return
        box = tuple(self._box[c] for c in _BOX_COLS)
        steps = (
            _steps_from_netcdf(self.path, partition.value, self._shared, box)
            if self.path
            else (_partition_arrays(t, box) for t in partition.value)
        )
        for cols in steps:
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
    for anything else."""

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

    def schema(self) -> str:
        return GRID_SCHEMA_DDL

    def reader(self, schema):
        if self.options.get("pushdown", "false").lower() == "true":
            return HycomGridPushdownReader(self.options)
        return HycomGridReader(self.options)
