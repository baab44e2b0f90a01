"""Pure-numpy classic-netCDF reader/writer + the grid DataSource's
netCDF backend (the executable twin of the reference's OPeNDAP read,
``trackplot_hycom.py:144``)."""

import http.server
import math
import os
import re
import struct
import threading

import numpy as np
import pytest

from modeltracking_spark.fixtures import GRID_N_TIME, GRID_TIME_STEP
from modeltracking_spark.sources.grid_source import (
    _CELLS_PER_TASK,
    HycomGridDataSource,
    write_grid_netcdf,
)
from modeltracking_spark.sources.netcdf_classic import (
    NcFile,
    cf_unpack,
    write_classic,
)


def _step_cols(path, ti):
    """Step ``ti`` of the grid at ``path`` (``None``: the formula
    fixture), as the ``hycom_grid`` reader emits it: numpy columns."""
    from pyspark.sql.datasource import InputPartition

    reader = HycomGridDataSource({"path": path or ""}).reader(None)
    (batch,) = reader.read(InputPartition((ti,)))
    return {k: batch.column(k).to_numpy() for k in batch.schema.names}


@pytest.fixture(scope="module")
def tiny_nc(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("nc") / "tiny.nc")
    write_classic(
        path,
        dims=[("time", 0), ("y", 2), ("x", 3)],
        variables=[
            ("t", ("time",), lambda r: np.array(r * 7, dtype=np.int32)),
            ("yv", ("y",), np.array([1.5, 2.5])),
            ("xv", ("x",), np.array([10, 20, 30], dtype=np.int32)),
            (
                "grid",
                ("time", "y", "x"),
                lambda r: np.arange(6, dtype=np.float64).reshape(2, 3) + 100 * r,
            ),
        ],
        record_dim="time",
        n_records=5,
    )
    return path


def test_header_fields(tiny_nc):
    raw = open(tiny_nc, "rb").read(8)
    assert raw[:4] == b"CDF\x01"
    assert struct.unpack(">I", raw[4:])[0] == 5  # numrecs
    f = NcFile(tiny_nc)
    assert f.dims == [("time", 0), ("y", 2), ("x", 3)]
    assert f.numrecs == 5 and f.rec_dim_id == 0
    assert f.vars["grid"].is_record and not f.vars["yv"].is_record
    assert f.vars["grid"].shape == (5, 2, 3)


def test_roundtrip_full_and_sliced(tiny_nc):
    f = NcFile(tiny_nc)
    assert f.read("t").tolist() == [0, 7, 14, 21, 28]
    assert f.read("yv").tolist() == [1.5, 2.5]
    assert f.read("xv").tolist() == [10, 20, 30]
    full = f.read("grid")
    assert full.shape == (5, 2, 3)
    for r in range(5):
        want = np.arange(6, dtype=np.float64).reshape(2, 3) + 100 * r
        assert np.array_equal(f.read_slice("grid", r), want)
        assert np.array_equal(full[r], want)
    with pytest.raises(IndexError):
        f.read_slice("grid", 5)


def test_fixed_var_first_dim_slice(tiny_nc):
    f = NcFile(tiny_nc)
    assert f.read_slice("yv", 1) == 2.5
    assert f.read_slice("xv", 2) == 30


def test_mixed_dtypes_and_padding(tmp_path):
    """int16 rows force real 4-byte padding in both fixed and record
    sections; values must survive it."""
    path = str(tmp_path / "pad.nc")
    write_classic(
        path,
        dims=[("time", 0), ("k", 3)],
        variables=[
            ("sv", ("k",), np.array([1, -2, 3], dtype=np.int16)),  # 6B -> pad 8
            ("rv", ("time", "k"), lambda r: np.array([r, r + 1, r + 2], np.int16)),
            ("rd", ("time",), lambda r: np.array(r * 0.5, dtype=np.float64)),
        ],
        record_dim="time",
        n_records=3,
    )
    f = NcFile(path)
    assert f.read("sv").tolist() == [1, -2, 3]
    assert f.read("rv").tolist() == [[0, 1, 2], [1, 2, 3], [2, 3, 4]]
    assert f.read("rd").tolist() == [0.0, 0.5, 1.0]


def test_grid_netcdf_matches_formula(tmp_path):
    """The netCDF partition loader must reproduce the formula partition
    byte-for-byte (same doubles, same sentinels) for every column."""
    path = str(tmp_path / "grid.nc")
    write_grid_netcdf(path, n_time=3)
    for ti in (0, 2):
        a = _step_cols(None, ti)
        b = _step_cols(path, ti)
        assert set(a) == set(b)
        for k in a:
            assert np.array_equal(a[k], b[k]), (ti, k)


def test_grid_netcdf_stops_at_the_time_axis(tmp_path):
    """The writer takes each record's time from the formula grid's time
    vector, so it cannot write past its end: it says where that is."""
    path = tmp_path / "long.nc"
    with pytest.raises(ValueError, match=f"has {GRID_N_TIME} time steps"):
        write_grid_netcdf(str(path), n_time=GRID_N_TIME + 1)
    assert not path.exists()


def test_file_task_reads_no_header(tmp_path, monkeypatch):
    """A file-backed task reuses the header parsed at load: the pickled
    reader's range reads all start at or past the first variable's data,
    and its columns are the step's."""
    import pickle

    from modeltracking_spark.sources.grid_source import HycomGridDataSource
    from modeltracking_spark.sources.netcdf_classic import FileRangeReader

    p = str(tmp_path / "grid.nc")
    write_grid_netcdf(p, n_time=2)
    reader = pickle.loads(pickle.dumps(
        HycomGridDataSource({"path": p}).reader(None)))
    offsets = []
    read_range = FileRangeReader.read_range

    def recording(self, off, nbytes):
        offsets.append(off)
        return read_range(self, off, nbytes)

    monkeypatch.setattr(FileRangeReader, "read_range", recording)
    part = reader.partitions()[0]
    batch = list(reader.read(part))[0]
    monkeypatch.undo()
    first_begin = min(v.begin for v in NcFile(p).vars.values())
    assert offsets and min(offsets) >= first_begin
    want = _step_cols(p, part.value[0])
    for k, col in want.items():
        assert np.array_equal(batch.column(k).to_numpy(), col), k


def test_datasource_netcdf_backend_and_pruning(spark, tmp_path_factory):
    from pyspark.errors import PySparkException

    from modeltracking_spark.queries.common import ensure_pkg_on_workers
    from modeltracking_spark.sources.grid_source import HycomGridDataSource

    path = str(tmp_path_factory.mktemp("ncgrid") / "grid.nc")
    write_grid_netcdf(path, n_time=4)
    ensure_pkg_on_workers(spark)
    try:
        spark.dataSource.register(HycomGridDataSource)
    except PySparkException:
        pass
    g = spark.read.format("hycom_grid").option("path", path).load()
    import pyspark.sql.functions as F

    rows = g.groupBy("time_hours").count().orderBy("time_hours").collect()
    assert [r["time_hours"] for r in rows] == [
        t * GRID_TIME_STEP for t in range(4)
    ]
    assert all(r["count"] == 30 * 81 * 81 for r in rows)
    # pushdown backend prunes partitions against the FILE's time axis
    gp = (
        spark.read.format("hycom_grid")
        .option("path", path)
        .option("pushdown", "true")
        .load()
    )
    one = gp.where(F.col("time_hours") == GRID_TIME_STEP * 2)
    assert one.count() == 30 * 81 * 81
    # 3 of 4 timesteps pruned: only the kept step is read, in
    # min(kept, cores) = 1 partition
    assert [r[0] for r in one.select("time_hours").distinct().collect()] \
        == [GRID_TIME_STEP * 2]
    assert one.rdd.getNumPartitions() == 1
    # the unfiltered file scan packs its 4 steps into one partition per
    # core and per _CELLS_PER_TASK cells, at most
    cells = 4 * 30 * 81 * 81
    assert g.rdd.getNumPartitions() == min(
        4, len(os.sched_getaffinity(0)), math.ceil(cells / _CELLS_PER_TASK))


def test_truncated_data_section_is_loud(tmp_path, tiny_nc):
    """A cut data section must raise the descriptive truncation error,
    not an opaque numpy reshape failure (ADVICE r5)."""
    cut = str(tmp_path / "cut.nc")
    raw = open(tiny_nc, "rb").read()
    open(cut, "wb").write(raw[: len(raw) - 30])
    f = NcFile(cut)
    with pytest.raises(ValueError, match="truncated data section"):
        f.read_slice("grid", 4)


# ---------------------------------------------------------------------------
# The header is read in one pass, only as far as the parse goes
# ---------------------------------------------------------------------------


@pytest.fixture
def header_reads(monkeypatch):
    """The byte counts of every ``FileRangeReader.read_range`` call."""
    from modeltracking_spark.sources.netcdf_classic import FileRangeReader

    counts = []
    read_range = FileRangeReader.read_range

    def recording(self, off, nbytes):
        raw = read_range(self, off, nbytes)
        counts.append(len(raw))
        return raw

    monkeypatch.setattr(FileRangeReader, "read_range", recording)
    return counts


def test_corrupt_header_is_reported_without_reading_the_file(tmp_path,
                                                             header_reads):
    """A bad dim-list tag in an 8 MB file raises a ``ValueError`` naming
    the path after reading the first 64 KiB, not the whole file."""
    path = str(tmp_path / "big.nc")
    write_classic(path, dims=[("x", 1 << 20)],
                  variables=[("v", ("x",), np.zeros(1 << 20))])
    raw = bytearray(open(path, "rb").read())
    assert len(raw) > 8 << 20
    raw[8:12] = struct.pack(">I", 0x0D)  # the dim list's tag
    open(path, "wb").write(raw)
    with pytest.raises(ValueError, match=re.escape(path) + ".*dim list tag"):
        NcFile(path)
    assert 0 < sum(header_reads) < 1 << 20


def test_long_header_reads_on_only_as_far_as_it_goes(tmp_path,
                                                     header_reads):
    """A 100 KB global attribute runs the header past the first read:
    the parse reads on from there and stops at the header's end, short
    of the file's size, and the header and data read back whole."""
    path = str(tmp_path / "long.nc")
    history = "made by a long pipeline; " * 4000
    write_classic(path, dims=[("time", 0), ("k", 50_000)],
                  variables=[("kv", ("k",), np.arange(50_000.0)),
                             ("r", ("time", "k"),
                              lambda r: np.arange(50_000.0) + r)],
                  record_dim="time", n_records=3,
                  global_attrs={"history": history, "n": 7})
    f = NcFile(path)
    assert sum(header_reads) < os.path.getsize(path)
    assert f.attrs == {"history": history, "n": [7]}
    assert f.dims == [("time", 0), ("k", 50_000)]
    assert f.numrecs == 3 and f.recsize == 400_000
    assert f.vars["kv"].begin > 100_000
    assert f.read_slice("r", 2)[-1] == 50_001.0


@pytest.mark.parametrize("field", ["begin", "name length", "dim count",
                                   "dim id"])
def test_bad_header_field_is_a_value_error_naming_the_path(tmp_path, field):
    """A variable's ``begin``, a name's length or a list's length past
    the end of the file, or a dimension id the file does not declare,
    is a ``ValueError`` naming the path."""
    path = str(tmp_path / "f.nc")
    write_classic(path, dims=[("x", 2)],
                  variables=[("v", ("x",), np.array([1.0, 2.0]))])
    begin = NcFile(path).vars["v"].begin
    raw = bytearray(open(path, "rb").read())
    if field == "begin":  # the header's last field
        raw[begin - 4:begin] = struct.pack(">I", len(raw) + 4)
    elif field == "name length":  # the first dimension's name
        raw[16:20] = struct.pack(">I", 1 << 30)
    elif field == "dim count":
        raw[12:16] = struct.pack(">I", 1 << 28)
    else:  # v's one dimension id
        v_dims = b"\x00\x00\x00\x01v\x00\x00\x00" + struct.pack(">II", 1, 0)
        assert raw.count(v_dims) == 1
        raw = raw.replace(v_dims, v_dims[:-4] + struct.pack(">I", 3))
    open(path, "wb").write(raw)
    with pytest.raises(ValueError, match=re.escape(path)):
        NcFile(path)


@pytest.mark.parametrize("where", ["attribute", "record variable"])
def test_unknown_nc_type_is_a_value_error_and_a_dap_400(tmp_path, dap_root,
                                                        where):
    """An attribute or a record variable whose nc_type is not 1-6 is a
    ``ValueError`` naming the type and the path, which the DAP server
    answers with 400."""
    import shutil
    import urllib.error
    import urllib.request

    path = str(tmp_path / "t7.nc")
    write_classic(path, dims=[("time", 0), ("x", 2)],
                  variables=[("v", ("time", "x"),
                              lambda r: np.array([1, r], np.int32))],
                  record_dim="time", n_records=2, global_attrs={"flag": 3})
    raw = open(path, "rb").read()
    if where == "attribute":
        typed = b"\x00\x00\x00\x04flag" + struct.pack(">I", 4)
    else:  # v's type follows its name, dims and empty attribute list
        typed = (b"\x00\x00\x00\x01v\x00\x00\x00"
                 + struct.pack(">IIIIII", 2, 0, 1, 0, 0, 4))
    assert raw.count(typed) == 1
    open(path, "wb").write(
        raw.replace(typed, typed[:-4] + struct.pack(">I", 7)))
    with pytest.raises(ValueError, match=re.escape(path) + ".*nc_type 7"):
        NcFile(path)
    base, root = dap_root
    shutil.copy(path, os.path.join(root, "t7.nc"))
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(f"{base}/t7.nc.dds")
    assert ei.value.code == 400
    assert b"nc_type 7" in ei.value.read()


# ---------------------------------------------------------------------------
# The writer's bytes, pinned: a layout change fails here even when the
# reader follows it
# ---------------------------------------------------------------------------

_GOLDEN_SPECS = {
    "odd_record_vars": dict(
        dims=[("time", 0), ("k", 3), ("m", 5)],
        variables=[("fx", ("k",), np.array([1, -2, 3], np.int16)),
                   ("a", ("time", "k"),
                    lambda r: np.array([r, -r, 7], np.int16)),
                   ("b", ("time", "m"),
                    lambda r: np.arange(5, dtype=np.int8) - r)],
        record_dim="time", n_records=3),
    "lone_odd_record_var": dict(
        dims=[("time", 0), ("k", 3)],
        variables=[("fx", ("k",), np.array([4, 5, 6], np.int8)),
                   ("a", ("time", "k"),
                    lambda r: np.array([r, r + 1, -r], np.int16))],
        record_dim="time", n_records=3),
    "zero_records": dict(
        dims=[("time", 0), ("k", 2)],
        variables=[("kv", ("k",), np.array([1.0, 2.0])),
                   ("r", ("time", "k"),
                    lambda r: np.array([r, r], np.float32))],
        record_dim="time", n_records=0),
    "attributes": dict(
        dims=[("k", 2)],
        variables=[("kv", ("k",), np.array([1.0, 2.0]),
                    {"units": "degC", "scale_factor": 0.5,
                     "ids": [1, 2, 3]})],
        global_attrs={"title": "odd title", "n": 7, "x": 2.5,
                      "l": [1.5, 2.5], "li": [1, 2]}),
}
_GOLDEN_MD5 = {
    "tiny_nc": "9065feafac0d611f7203fc1716ec5c0d",
    "odd_record_vars": "4116fbcc2d203ae2e438bd78085b8d7c",
    "lone_odd_record_var": "e5f4e40fe8b8e7a4638d6683a6ba95ff",
    "zero_records": "7c060ced5476bd1d449b75558c85f34e",
    "attributes": "ddb109ef7e3837a9ce0c5340c2bedd26",
}


@pytest.mark.parametrize("name", list(_GOLDEN_MD5))
def test_write_classic_bytes_are_pinned(name, tiny_nc, tmp_path):
    """``write_classic``'s output, byte for byte: two record variables,
    two padded odd-sized ones, a lone odd-sized one (padding waived), a
    zero-record file and attributes of every Python type it takes."""
    import hashlib

    path = tiny_nc
    if name != "tiny_nc":
        path = str(tmp_path / f"{name}.nc")
        write_classic(path, **_GOLDEN_SPECS[name])
    assert hashlib.md5(open(path, "rb").read()).hexdigest() == \
        _GOLDEN_MD5[name]


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    n_rec=st.integers(min_value=1, max_value=5),
    inner=st.lists(st.integers(min_value=1, max_value=4), min_size=0, max_size=3),
    dtype=st.sampled_from(["int16", "int32", "float32", "float64"]),
    data=st.data(),
)
def test_roundtrip_property(tmp_path_factory, n_rec, inner, dtype, data):
    """Writer->reader roundtrip over arbitrary record-var shapes and
    dtypes: full reads and every record slice must return the input
    exactly (int16 exercises real padding; float32/64 exercise
    byte-swapping)."""
    import numpy as np

    shape = (n_rec, *inner)
    size = int(np.prod(shape))
    if np.dtype(dtype).kind == "f":
        vals = data.draw(st.lists(
            st.floats(width=32, allow_nan=False, allow_infinity=False),
            min_size=size, max_size=size))
    else:
        info = np.iinfo(dtype)
        vals = data.draw(st.lists(
            st.integers(min_value=int(info.min), max_value=int(info.max)),
            min_size=size, max_size=size))
    arr = np.array(vals, dtype=dtype).reshape(shape)
    dims = [("time", 0)] + [(f"d{i}", s) for i, s in enumerate(inner)]
    path = str(tmp_path_factory.mktemp("prop") / "p.nc")
    write_classic(
        path,
        dims=dims,
        variables=[("v", tuple(nm for nm, _ in dims), lambda r: arr[r])],
        record_dim="time",
        n_records=n_rec,
    )
    f = NcFile(path)
    assert f.vars["v"].shape == shape
    assert np.array_equal(f.read("v"), arr)
    for r in range(n_rec):
        assert np.array_equal(f.read_slice("v", r), arr[r])


# ---------------------------------------------------------------------------
# DAP 2.0 protocol (VERDICT r6 item 7): constraint-URL encoder + XDR
# client against the in-process DAP server, parity vs the file backend
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def dap_root(tmp_path_factory):
    from modeltracking_spark.sources.dap import make_dap_handler

    root = tmp_path_factory.mktemp("dapnc")
    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), make_dap_handler(str(root))
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", str(root)
    srv.shutdown()


def test_dap_constraint_encoder():
    from modeltracking_spark.sources.dap import encode_constraint

    assert encode_constraint("water_temp", [(3, 3), (0, 39), (0, 24), (0, 24)]) \
        == "water_temp[3:3][0:39][0:24][0:24]"
    assert encode_constraint("time", []) == "time"
    with pytest.raises(ValueError):
        encode_constraint("bad name", [(0, 0)])
    with pytest.raises(ValueError):
        encode_constraint("v", [(4, 2)])


def test_dap_parity_with_file_backend(tiny_nc, dap_root):
    """Every variable and every record slice read through the DAP
    protocol (DDS fetch + .dods hyperslab + XDR decode) equals the
    direct classic-netCDF file read — the item-7 'done' criterion."""
    import shutil

    from modeltracking_spark.sources.dap import DapDataset

    base, root = dap_root
    shutil.copy(tiny_nc, os.path.join(root, "tiny.nc"))
    local = NcFile(tiny_nc)
    remote = DapDataset(f"dap+{base}/tiny.nc")
    # DDS reports the record dim at its CURRENT length (DAP has no
    # unlimited-dim notion); the classic header stores 0 + numrecs
    want = {n: (local.numrecs if sz == 0 else sz) for n, sz in local.dims}
    assert dict(remote.dims) == want
    for var in ("t", "yv", "xv", "grid"):
        assert np.array_equal(remote.read(var), local.read(var)), var
        assert remote.vars[var][0] in (
            "Int32", "Float64"
        )  # DDS parsed, not assumed
    for r in range(5):
        assert np.array_equal(
            remote.read_slice("grid", r), local.read_slice("grid", r)
        )


def test_dap_slices_ship_only_the_record(tiny_nc, dap_root):
    """The scale property: one record slice must transfer ~record bytes,
    not the whole variable (server-side hyperslab cut is real)."""
    import shutil

    from modeltracking_spark.sources.dap import DapDataset

    base, root = dap_root
    shutil.copy(tiny_nc, os.path.join(root, "big.nc"))
    d = DapDataset(f"dap+{base}/big.nc")
    before = d.n_bytes
    one = d.read_slice("grid", 2)
    rec_bytes = one.size * 8
    # DDS echo + Data: + 8-byte counts + record payload, with headroom
    assert d.n_bytes - before < rec_bytes + 400
    assert one.shape == (2, 3)


def test_dap_rejects_are_loud(tiny_nc, dap_root):
    import shutil
    import urllib.error
    import urllib.request

    from modeltracking_spark.sources.dap import (
        DapDataset,
        _served,
        parse_constraint,
    )

    base, root = dap_root
    shutil.copy(tiny_nc, os.path.join(root, "r.nc"))
    # out-of-bounds constraint -> 400
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(f"{base}/r.nc.dods?grid[9:9]")
    assert ei.value.code == 400
    # a hyperslab past the variable's last dimension -> 400
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(f"{base}/r.nc.dods?grid[0][0][0][0]")
    assert ei.value.code == 400
    # missing dataset -> 404
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(f"{base}/nope.nc.dds")
    assert ei.value.code == 404
    # client-side: slicing a scalar-less unknown var
    d = DapDataset(f"dap+{base}/r.nc")
    with pytest.raises(KeyError):
        d.read("no_such_var")
    nc = NcFile(tiny_nc)
    with pytest.raises(ValueError, match="out of bounds"):
        parse_constraint(_served(nc), "grid[0:0:4]")  # stride 0 is malformed


def test_open_nc_or_dap_routes(tiny_nc, dap_root):
    """The grid seam: dap+http:// -> DapDataset, paths -> NcFile, and a
    grid partition built through either backend is identical. A bare
    http:// path is refused with the dap+ form to use: DAP is the one
    remote transport."""
    import shutil

    from modeltracking_spark.sources.dap import DapDataset, open_nc_or_dap

    base, root = dap_root
    shutil.copy(tiny_nc, os.path.join(root, "s.nc"))
    a = open_nc_or_dap(tiny_nc)
    b = open_nc_or_dap(f"dap+{base}/s.nc")
    assert isinstance(a, NcFile) and isinstance(b, DapDataset)
    assert np.array_equal(a.read_slice("grid", 1), b.read_slice("grid", 1))
    with pytest.raises(ValueError, match=re.escape(f"use dap+{base}/s.nc")):
        open_nc_or_dap(f"{base}/s.nc")


def test_grid_scan_dap_backend_matches_file(spark, dap_root):
    """End-to-end: the grid DataSource over a dap+http:// URL — every
    Spark task slices its timestep through DAP hyperslab requests — is
    row-identical to the same file read directly (the reference's
    THREDDS read pattern, trackplot_hycom.py:176, now protocol-real)."""
    import pyspark.sql.functions as F
    from pyspark.errors import PySparkException

    from modeltracking_spark.queries.common import ensure_pkg_on_workers
    from modeltracking_spark.sources.grid_source import HycomGridDataSource

    base, root = dap_root
    path = os.path.join(root, "grid_dap.nc")
    write_grid_netcdf(path, n_time=2)
    ensure_pkg_on_workers(spark)
    try:
        spark.dataSource.register(HycomGridDataSource)
    except PySparkException:
        pass
    via_dap = (
        spark.read.format("hycom_grid")
        .option("path", f"dap+{base}/grid_dap.nc")
        .load()
    )
    via_file = (
        spark.read.format("hycom_grid").option("path", path).load()
    )
    assert via_dap.count() == via_file.count() == 2 * 30 * 81 * 81
    agg = ["time_hours"], [
        F.sum("water_temp").alias("st"), F.sum("salinity").alias("ss"),
        F.count(F.lit(1)).alias("n"),
    ]
    a = {tuple(r) for r in via_dap.groupBy(*agg[0]).agg(*agg[1]).collect()}
    b = {tuple(r) for r in via_file.groupBy(*agg[0]).agg(*agg[1]).collect()}
    assert a == b


def test_write_classic_attrs_roundtrip(tmp_path):
    """Round-7 writer extension: global + per-var attributes survive a
    write -> parse roundtrip (char, int, float, and vector attrs)."""
    p = str(tmp_path / "attrs.nc")
    write_classic(
        p,
        dims=[("time", 0), ("x", 3)],
        variables=[
            ("t", ("time",), lambda r: np.array(r, dtype=np.int32),
             {"units": "hours since 2000-01-01"}),
            ("xv", ("x",), np.array([1.0, 2.0, 3.0]),
             {"units": "degrees_east", "valid_range": [0.0, 360.0],
              "missing_value": -30000}),
        ],
        record_dim="time", n_records=2,
        global_attrs={"title": "fixture", "version": 3},
    )
    f = NcFile(p)
    assert f.attrs == {"title": "fixture", "version": [3]}
    assert f.vars["t"].attrs == {"units": "hours since 2000-01-01"}
    assert f.vars["xv"].attrs == {
        "units": "degrees_east", "valid_range": [0.0, 360.0],
        "missing_value": [-30000],
    }
    assert f.read("xv").tolist() == [1.0, 2.0, 3.0]  # data offsets intact


def test_dap_das_attributes_parity(tmp_path, dap_root):
    """The .das endpoint completes the DAP triple: attributes served
    from the classic header parse back through the client identically
    (units/missing_value metadata — what the reference reads off
    THREDDS to label its plots)."""
    from modeltracking_spark.sources.dap import DapDataset

    base, root = dap_root
    p = os.path.join(root, "attrs.nc")
    write_classic(
        p,
        dims=[("x", 2)],
        variables=[
            ("xv", ("x",), np.array([1.5, 2.5]),
             {"units": 'deg "true"', "scale_factor": 0.5,
              "valid_range": [0, 360]}),
        ],
        global_attrs={"title": "das fixture"},
    )
    das = DapDataset(f"dap+{base}/attrs.nc").das()
    assert das["NC_GLOBAL"] == {"title": "das fixture"}
    assert das["xv"]["units"] == 'deg "true"'  # quote escaping survives
    assert das["xv"]["scale_factor"] == [0.5]
    assert das["xv"]["valid_range"] == [0, 360]


def test_cf_mask_and_scale_unpacking(tmp_path):
    """cf_unpack over the variable's attributes reproduces netCDF4's auto
    mask-and-scale (the behavior the reference's stack applies to HYCOM
    variables): packed int16 + scale/offset -> float64, missing_value ->
    NaN; the read itself stays raw and exact."""
    p = str(tmp_path / "cf.nc")
    write_classic(
        p,
        dims=[("x", 4)],
        variables=[
            ("temp", ("x",), np.array([0, 100, -30000, 250], np.int16),
             {"scale_factor": 0.001, "add_offset": 20.0,
              "missing_value": -30000, "units": "degC"}),
            ("plain", ("x",), np.array([1, 2, 3, 4], np.int16)),
        ],
    )
    f = NcFile(p)
    raw = f.read("temp")
    assert raw.dtype == np.int16 and raw.tolist() == [0, 100, -30000, 250]
    cf = cf_unpack(f.read("temp"), f.var_attrs("temp"))
    assert cf.dtype == np.float64
    assert cf[0] == 20.0 and abs(cf[1] - 20.1) < 1e-12
    assert np.isnan(cf[2]) and abs(cf[3] - 20.25) < 1e-12
    # attribute-free variable: cf_unpack is the identity, dtype intact
    assert cf_unpack(f.read("plain"), f.var_attrs("plain")).dtype == np.int16
    # sliced reads unpack identically
    assert np.isnan(cf_unpack(f.read_slice("temp", 2), f.var_attrs("temp")))


def test_dap_strided_hyperslab(tiny_nc, dap_root):
    """var[a:step:b] subsamples SERVER-side: every-other record of the
    5-record grid ships 3 records' bytes and equals the local strided
    read. ``NcFile.read_strided`` answers the same ranges with the same
    array: strided, a ranges prefix (trailing dimensions read whole),
    and a fixed variable."""
    import shutil

    from modeltracking_spark.sources.dap import DapDataset

    base, root = dap_root
    shutil.copy(tiny_nc, os.path.join(root, "strided.nc"))
    local = NcFile(tiny_nc)
    d = DapDataset(f"dap+{base}/strided.nc")
    got = d.read_strided("grid", [(0, 2, 4), (0, 1), (0, 2)])
    want = local.read("grid")[0:5:2, 0:2, 0:3]
    assert got.shape == (3, 2, 3)
    assert np.array_equal(got, want)
    assert np.array_equal(
        local.read_strided("grid", [(0, 2, 4), (0, 1), (0, 2)]), got)
    # a ranges prefix: the trailing dimensions come whole, over both
    prefix = [(1, 2, 3), (1, 1)]
    assert np.array_equal(local.read_strided("grid", prefix),
                          local.read("grid")[1:4:2, 1:2])
    assert np.array_equal(local.read_strided("grid", prefix),
                          d.read_strided("grid", prefix))
    # a strided coordinate read too (non-record var)
    assert np.array_equal(
        d.read_strided("xv", [(0, 2, 2)]), local.read("xv")[0:3:2]
    )
    assert np.array_equal(
        local.read_strided("xv", [(0, 2, 2)]), d.read_strided("xv", [(0, 2, 2)])
    )
    # bytes on the wire ~ kept cells, not the full variable
    before = d.n_bytes
    d.read_strided("grid", [(0, 4, 4), (0, 1), (0, 2)])  # 1 record kept
    assert d.n_bytes - before < 6 * 8 + 400


def test_dap_serves_zero_record_variable_as_empty(dap_root):
    """An unconstrained ``.dods`` of a file with no records ships its
    record variable as an empty XDR array, declared ``[time = 0]``."""
    import urllib.request

    from modeltracking_spark.sources.dap import _xdr_decode

    base, root = dap_root
    write_classic(
        os.path.join(root, "norecs.nc"),
        dims=[("time", 0), ("x", 3)],
        variables=[
            ("xv", ("x",), np.array([10, 20, 30], dtype=np.int32)),
            ("t", ("time",), lambda r: np.array(r, dtype=np.int32)),
        ],
        record_dim="time",
        n_records=0,
    )
    with urllib.request.urlopen(f"{base}/norecs.nc.dods") as r:
        body = r.read()
    dds, _, data = body.partition(b"\nData:\n")
    assert b"Int32 t[time = 0];" in dds
    xv, off = _xdr_decode(data, 0, "Int32", 3)
    t, off = _xdr_decode(data, off, "Int32", 0)
    assert xv.tolist() == [10, 20, 30]
    assert t.shape == (0,) and off == len(data)


def test_packed_grid_scan_is_bit_exact(tmp_path):
    """The packed-int16 grid (CF scale/offset/missing attrs — real
    HYCOM's wire format, ~1/4 the float64 bytes) CF-unpacks to the
    formula partition bit-for-bit in every column: the fixture values
    are exact multiples of 0.1, p*0.1(+30.0) reproduces the doubles,
    and missing comes back as the pipeline sentinel."""
    from modeltracking_spark.sources.grid_source import (
        write_grid_netcdf_packed,
    )

    p = str(tmp_path / "packed.nc")
    write_grid_netcdf_packed(p, n_time=3)
    f = NcFile(p)
    assert f.vars["water_temp"].attrs["scale_factor"] == [0.1]
    assert f.vars["salinity"].attrs["add_offset"] == [30.0]
    raw = f.read_slice("water_temp", 1)
    assert raw.dtype == np.int16  # genuinely packed on disk
    for ti in (0, 2):
        a = _step_cols(None, ti)
        b = _step_cols(p, ti)
        for k in a:
            assert np.array_equal(a[k], b[k]), (ti, k)


def test_dap_packed_grid_parity_with_file(tmp_path, dap_root):
    """ADVICE r7 #2 regression: a CF-PACKED int16 grid served over
    dap+http:// must decode to the SAME physics values as the same file
    read by path — exactly how real HYCOM THREDDS ships data. Before
    the fix, the grid reader looked for CF attributes only where a file
    keeps them, so a DAP dataset skipped the unpack silently (raw x10
    values, -30000 sentinel passed through); now every dataset answers
    ``var_attrs``."""
    import shutil

    from modeltracking_spark.sources.dap import DapDataset
    from modeltracking_spark.sources.grid_source import (
        write_grid_netcdf_packed,
    )

    base, root = dap_root
    p = str(tmp_path / "packed_dap.nc")
    write_grid_netcdf_packed(p, n_time=3)
    shutil.copy(p, os.path.join(root, "packed_dap.nc"))

    # reader-level parity: cf_unpack over var_attrs, both transports
    f = NcFile(p)
    d = DapDataset(f"dap+{base}/packed_dap.nc")
    assert d.var_attrs("water_temp")["scale_factor"] == [0.1]
    for var in ("water_temp", "salinity"):
        a = cf_unpack(f.read_slice(var, 1), f.var_attrs(var))
        b = cf_unpack(d.read_slice(var, 1), d.var_attrs(var))
        assert b.dtype == np.float64
        assert np.array_equal(a, b, equal_nan=True), var
    # raw reads stay raw over DAP too
    assert d.read_slice("water_temp", 0).dtype == np.int16

    # partition-level parity: the grid reader resolves CF attrs through
    # var_attrs on both dataset kinds
    pa = _step_cols(p, 2)
    pb = _step_cols(f"dap+{base}/packed_dap.nc", 2)
    for k in pa:
        assert np.array_equal(pa[k], pb[k]), k
    # the DAS fetch is cached: attrs for both vars cost one .das trip
    fetches_before = d.n_fetches
    d.var_attrs("salinity")
    d.var_attrs("water_temp")
    assert d.n_fetches == fetches_before


# ---------------------------------------------------------------------------
# Round 13: DAP constructor types — Grid / Structure / Sequence
# (the former pydap plug-in point).
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def coord_nc(tmp_path_factory):
    """Coordinate-backed dataset: every dim has a same-named 1-D
    variable, so ``sst`` qualifies as a DAP Grid in grid mode (the
    THREDDS shape)."""
    path = str(tmp_path_factory.mktemp("gridnc") / "coord.nc")
    write_classic(
        path,
        dims=[("time", 0), ("y", 3), ("x", 4)],
        variables=[
            ("time", ("time",),
             lambda r: np.array(r * 6.0, dtype=np.float64)),
            ("y", ("y",), np.array([1.0, 2.0, 3.0])),
            ("x", ("x",), np.array([10.0, 20.0, 30.0, 40.0])),
            ("sst", ("time", "y", "x"),
             lambda r: np.arange(12, dtype=np.float64).reshape(3, 4)
             + 100 * r),
        ],
        record_dim="time",
        n_records=4,
    )
    return path


@pytest.fixture(scope="module")
def grid_dap_root(tmp_path_factory, coord_nc):
    import shutil

    from modeltracking_spark.sources.dap import make_dap_handler

    root = tmp_path_factory.mktemp("dapgrid")
    shutil.copy(coord_nc, os.path.join(str(root), "coord.nc"))
    seqs = {
        "obs": {
            "cols": [("id", "Int32"), ("val", "Float64"),
                     ("flag", "Float32")],
            "rows": [(i, i * 0.5, float(i % 3)) for i in range(40)],
        },
    }
    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0),
        make_dap_handler(str(root), grid_mode=True, sequences=seqs),
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", str(root)
    srv.shutdown()


def test_dap_grid_parity_with_file(coord_nc, grid_dap_root):
    """Grid-mode DAP: the DDS carries a Grid constructor, the client
    parses it, the array reads TRANSPARENTLY under the grid's name
    (whole, sliced, strided) and equals the direct file read; maps
    read under ``g.map``."""
    from modeltracking_spark.sources.dap import DapDataset

    base, _root = grid_dap_root
    local = NcFile(coord_nc)
    d = DapDataset(f"dap+{base}/coord.nc")
    assert "sst" in d.grids
    assert d.grids["sst"]["maps"] == ["sst.time", "sst.y", "sst.x"]
    assert d.vars["sst"][0] == "Float64"
    assert np.array_equal(d.read("sst"), local.read("sst"))
    for r in range(4):
        assert np.array_equal(d.read_slice("sst", r),
                              local.read_slice("sst", r)), r
    got = d.read_strided("sst", [(0, 2, 3), (1, 2), (0, 2, 3)])
    want = local.read("sst")[0:4:2, 1:3, 0:4:2]
    assert np.array_equal(got, want)
    # maps via the qualified names
    assert np.array_equal(d.read("sst.time"), local.read("time"))
    assert np.array_equal(d.read("sst.y"), local.read("y"))
    # coordinate variables are still served atomically too
    assert np.array_equal(d.read("x"), local.read("x"))


def test_dap_grid_bare_projection_ships_maps(coord_nc, grid_dap_root):
    """A bare-grid projection returns the Grid instance: the array
    then each map sliced by the corresponding axis (spec §4.3)."""
    import struct as _s
    import urllib.request

    base, _root = grid_dap_root
    with urllib.request.urlopen(
            f"{base}/coord.nc.dods?sst[1:2][0:1][1:3]") as r:
        body = r.read()
    sep = body.find(b"\nData:\n")
    assert sep > 0
    off = sep + len(b"\nData:\n")
    shapes = [(2 * 2 * 3,), (2,), (2,), (3,)]  # array, time, y, x
    seen = []
    for (n,) in shapes:
        n1, n2 = _s.unpack_from(">II", body, off)
        assert n1 == n2 == n
        off += 8 + ((n * 8 + 3) // 4) * 4
        seen.append(n)
    assert off == len(body)
    assert seen == [12, 2, 2, 3]


def test_dap_sequence_roundtrip(grid_dap_root):
    """Sequence decode per §7.2.3: 0x5A instance markers, scalar XDR
    columns, 0xA5 terminator."""
    from modeltracking_spark.sources.dap import DapDataset

    base, _root = grid_dap_root
    d = DapDataset(f"dap+{base}/coord.nc")
    assert d.sequences["obs"] == [("id", "Int32"), ("val", "Float64"),
                                  ("flag", "Float32")]
    got = d.read_sequence("obs")
    assert got["id"] == list(range(40))
    assert got["val"] == [i * 0.5 for i in range(40)]
    assert got["flag"] == [float(i % 3) for i in range(40)]
    with pytest.raises(KeyError):
        d.read_sequence("nope")


def test_dap_constructor_dds_parse_units():
    """Client-side DDS grammar for the constructor types, including
    Structure members and the typed rejects."""
    from modeltracking_spark.sources.dap import _parse_dds

    name, out, grids, seqs = _parse_dds("""Dataset {
    Grid {
     Array:
        Float32 wt[time = 6][lat = 8];
     Maps:
        Float64 time[time = 6];
        Float64 lat[lat = 8];
    } wt;
    Structure {
        Int32 a[x = 3];
        Float64 b;
    } meta;
    Sequence {
        Int32 id;
        Float64 v;
    } rows;
    Int32 plain[x = 3];
} d;""")
    assert name == "d"
    assert out["wt"] == ("Float32", [("time", 6), ("lat", 8)])
    assert out["wt.time"][1] == [("time", 6)]
    assert out["meta.a"] == ("Int32", [("x", 3)])
    assert out["meta.b"] == ("Float64", [])
    assert seqs["rows"] == [("id", "Int32"), ("v", "Float64")]
    assert out["plain"][1] == [("x", 3)]
    assert grids["wt"]["maps"] == ["wt.time", "wt.lat"]
    # round 14: String (and its Url alias) plus the unsigned pair
    # are SUPPORTED atomic types now; the unknown-type reject moved
    # to genuinely absent declarations (DAP 2.0 has no Int64)
    _n, sout, _g, sseqs = _parse_dds(
        "Dataset { String s[x = 3]; Url u; UInt16 p[x = 3]; "
        "Sequence { String tag; UInt32 n; Int32 k; } r; } d;")
    assert sout["s"] == ("String", [("x", 3)])
    assert sout["u"] == ("Url", [])
    assert sout["p"] == ("UInt16", [("x", 3)])
    assert sseqs["r"] == [("tag", "String"), ("n", "UInt32"),
                          ("k", "Int32")]
    with pytest.raises(NotImplementedError, match="Int64"):
        _parse_dds("Dataset { Int64 u; } d;")
    with pytest.raises(NotImplementedError, match="Sequence"):
        _parse_dds(
            "Dataset { Sequence { Int32 a[x = 2]; } s; } d;")
    with pytest.raises(ValueError, match="DDS"):
        _parse_dds("Dataset { Grid { Int32 a; } d;")
    with pytest.raises(ValueError, match="braces"):
        _parse_dds("Dataset { Int32 a; } x } d;")


def test_dap_sequence_stream_rejects():
    """Marker discipline: a corrupted instance marker or truncated
    stream is a typed ValueError."""
    import struct as _s

    from modeltracking_spark.sources.dap import DapDataset

    class _Fake(DapDataset):
        def __init__(self, cols, payload):
            self.sequences = {"s": cols}
            self._payload = payload
            self.n_fetches = 0
            self.n_bytes = 0
            self.url = "http://x"

        def _get(self, full_url):
            return b"Dataset {\n} d;\n\nData:\n" + self._payload

    cols = [("id", "Int32")]
    ok = (_s.pack(">I", 0x5A000000) + _s.pack(">i", 7)
          + _s.pack(">I", 0xA5000000))
    assert _Fake(cols, ok).read_sequence("s") == {"id": [7]}
    with pytest.raises(ValueError, match="marker"):
        _Fake(cols, _s.pack(">I", 0xDEADBEEF)).read_sequence("s")
    with pytest.raises(ValueError, match="truncated"):
        _Fake(cols, _s.pack(">I", 0x5A000000)
              + b"\x00\x00").read_sequence("s")
    with pytest.raises(ValueError, match="truncated"):
        _Fake(cols, _s.pack(">I", 0x5A000000)
              + _s.pack(">i", 7)).read_sequence("s")


# ---------------------------------------------------------------------------
# Round 14 (VERDICT r13 item 5): DAP String — XDR counted strings in
# arrays and Sequence columns, CHAR-as-String serving, URL-encoded
# constraint round-trip, per-file sequence keying.
# ---------------------------------------------------------------------------


def _srow(s: str, w: int) -> np.ndarray:
    return np.frombuffer(s.encode().ljust(w, b"\0")[:w], dtype="S1")


@pytest.fixture(scope="module")
def string_dap_root(tmp_path_factory):
    """A loopback server over a char-variable netCDF file plus
    per-file AND global sequences carrying String columns."""
    from modeltracking_spark.sources.dap import make_dap_handler

    root = tmp_path_factory.mktemp("dapstr")
    codes = np.stack([_srow("en-src01", 10), _srow("fr-s2", 10),
                      _srow("zh-source33", 10), _srow("de", 10),
                      _srow("", 10)])
    vals = np.array([1.5, -2.0, 3.25, 0.0, 9.0], dtype=">f8")
    write_classic(
        str(root / "obs.nc"),
        dims=[("station", 5), ("strlen", 10)],
        variables=[("code", ["station", "strlen"], codes),
                   ("val", ["station"], vals)],
        record_dim=None, n_records=0, global_attrs={})
    write_classic(
        str(root / "other.nc"),
        dims=[("x", 2)],
        variables=[("y", ["x"], np.array([1.0, 2.0], dtype=">f8"))],
        record_dim=None, n_records=0, global_attrs={})
    seqs = {
        "obs.nc!readings": {
            "cols": [("sid", "Int32"), ("tag", "String"),
                     ("x", "Float64")],
            "rows": [(0, "alpha", 1.0), (1, "bé", 2.5),
                     (2, "", -1.0)]},
        "shared": {"cols": [("g", "Int32"), ("nm", "String")],
                   "rows": [(7, "everywhere")]},
    }
    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0),
        make_dap_handler(str(root), grid_mode=True, sequences=seqs))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", str(root)
    srv.shutdown()


def test_dap_string_array_reads(string_dap_root):
    """CHAR variables serve as DAP String (trailing strlen axis
    elided in the DDS); full, strided and record-sliced fetches
    decode the XDR counted-string arrays; trailing NULs strip."""
    from modeltracking_spark.sources.dap import DapDataset

    base, _root = string_dap_root
    d = DapDataset(f"dap+{base}/obs.nc")
    assert d.vars["code"] == ("String", [("station", 5)])
    assert list(d.read("code")) == \
        ["en-src01", "fr-s2", "zh-source3", "de", ""]
    assert list(d.read_strided("code", [(0, 2, 4)])) == \
        ["en-src01", "zh-source3", ""]
    assert d.read_slice("code", 3) == "de"
    # numeric neighbors still decode through the same .dods framing
    assert list(d.read("val")) == [1.5, -2.0, 3.25, 0.0, 9.0]


def test_dap_string_constraint_is_percent_encoded(string_dap_root):
    """The hyperslab really crosses the wire percent-encoded: a
    client that does NOT unquote-encode still works (server
    unquotes), and the DapDataset path is asserted at the URL
    level."""
    import urllib.request

    from modeltracking_spark.sources.dap import (
        DapDataset,
        encode_constraint,
    )
    from urllib.parse import quote

    base, _root = string_dap_root
    raw = encode_constraint("code", [(1, 2)])
    assert raw == "code[1:2]"
    enc = quote(raw)
    assert "%5B" in enc and "%5D" in enc
    with urllib.request.urlopen(f"{base}/obs.nc.dods?{enc}") as r:
        body = r.read()
    assert b"String code[station = 2];" in body
    # and the client's own fetch uses the encoded form end to end
    d = DapDataset(f"dap+{base}/obs.nc")
    assert list(d.read_strided("code", [(1, 1, 2)])) == \
        ["fr-s2", "zh-source3"]


def test_dap_string_sequence_and_file_keying(string_dap_root):
    """String Sequence columns decode (counted strings between the
    0x5A/0xA5 markers); '<fname>!<seq>' keys bind to one file only
    while bare keys serve everywhere (ADVICE r13 — the per-file form
    now resolves)."""
    from modeltracking_spark.sources.dap import DapDataset

    base, _root = string_dap_root
    d = DapDataset(f"dap+{base}/obs.nc")
    assert d.sequences["readings"] == [
        ("sid", "Int32"), ("tag", "String"), ("x", "Float64")]
    got = d.read_sequence("readings")
    assert got == {"sid": [0, 1, 2], "tag": ["alpha", "bé", ""],
                   "x": [1.0, 2.5, -1.0]}
    assert d.read_sequence("shared") == {"g": [7],
                                         "nm": ["everywhere"]}
    # the per-file sequence does NOT exist under the other file
    d2 = DapDataset(f"dap+{base}/other.nc")
    assert "readings" not in d2.sequences
    assert d2.read_sequence("shared")["nm"] == ["everywhere"]
    with pytest.raises(KeyError):
        d2.read_sequence("readings")


def test_dap_string_truncation_rejects():
    """Corrupt counted-string payloads reject typed, never leak an
    internal slice error."""
    import struct as _s

    from modeltracking_spark.sources.dap import _xdr_decode

    ok = _s.pack(">II", 2, 2) + _s.pack(">I", 3) + b"abc\x00" \
        + _s.pack(">I", 0)
    vals, off = _xdr_decode(ok, 0, "String", 2)
    assert vals == ["abc", ""] and off == len(ok)
    with pytest.raises(ValueError, match="count mismatch"):
        _xdr_decode(ok, 0, "String", 3)
    with pytest.raises(ValueError, match="truncated"):
        _xdr_decode(ok[:10], 0, "String", 2)
    bad = _s.pack(">II", 1, 1) + _s.pack(">I", 99) + b"ab"
    with pytest.raises(ValueError, match="truncated"):
        _xdr_decode(bad, 0, "String", 1)


def test_dap_unsigned_and_url_sequence_roundtrip(string_dap_root):
    """Round-14: the unsigned pair (XDR widens UInt16 to 4 bytes like
    Int16) and Url (the String alias) decode in Sequence columns over
    the live protocol; large UInt32 values exercise the unsigned
    unpack."""
    from modeltracking_spark.sources.dap import (
        DapDataset,
        make_dap_handler,
    )

    _base, root = string_dap_root
    seqs = {"meta": {
        "cols": [("cnt", "UInt32"), ("w", "UInt16"),
                 ("href", "Url"), ("x", "Float64")],
        "rows": [(2**31 + 7, 65535, "http://a/b?c=1", 0.5),
                 (0, 0, "", -2.25),
                 (4294967295, 40000, "dap://x", 1e9)]}}
    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), make_dap_handler(root, sequences=seqs))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        d = DapDataset(
            f"dap+http://127.0.0.1:{srv.server_address[1]}/obs.nc")
        assert d.sequences["meta"] == seqs["meta"]["cols"]
        got = d.read_sequence("meta")
        assert got == {"cnt": [2**31 + 7, 0, 4294967295],
                       "w": [65535, 0, 40000],
                       "href": ["http://a/b?c=1", "", "dap://x"],
                       "x": [0.5, -2.25, 1e9]}
    finally:
        srv.shutdown()


def test_dap_unsigned_array_xdr_decode():
    """UInt16/UInt32 arrays through the XDR counted-array decode:
    values above the signed range survive (the signed unpack would
    wrap them negative)."""
    import numpy as np

    from modeltracking_spark.sources.dap import _xdr_decode

    body = struct.pack(">II", 3, 3) + struct.pack(
        ">III", 2**31 + 1, 0, 4294967295)
    a, off = _xdr_decode(body, 0, "UInt32", 3)
    assert a.dtype == np.dtype("uint32")
    assert a.tolist() == [2**31 + 1, 0, 4294967295]
    assert off == len(body)
    body16 = struct.pack(">II", 2, 2) + struct.pack(">II", 65535, 7)
    a16, _ = _xdr_decode(body16, 0, "UInt16", 2)
    assert a16.dtype == np.dtype("uint16")
    assert a16.tolist() == [65535, 7]


def test_dap_scalar_framing(dap_root, tmp_path):
    """DAP 2.0 SCALAR framing (ADVICE r14): 0-dim variables ship as
    the BARE value — a bare counted string for String, a bare 4-padded
    value for numerics — never the (n, n) array header only arrays
    carry.  The in-repo server emits the spec framing and the client
    decodes it; the raw .dods bytes are asserted header-free so both
    sides cannot drift together.  A scalar Byte is a whole big-endian
    XDR word, as in a Sequence column; only a Byte ARRAY packs its
    elements one byte each."""
    import shutil
    import struct as _s
    import urllib.request

    from modeltracking_spark.sources.dap import (
        DapDataset,
        _xdr_encode,
        _xdr_sequence,
    )
    from modeltracking_spark.sources.netcdf_classic import write_classic

    base, root = dap_root
    path = os.path.join(str(tmp_path), "scalars.nc")
    write_classic(
        path,
        dims=[("strlen", 8), ("x", 3), ("y", 5)],
        variables=[
            ("title", ["strlen"],
             np.frombuffer(b"hello\x00\x00\x00", dtype="S1")),
            ("pi", [], np.array(3.25, dtype=">f8")),
            ("xs", ["x"], np.array([1, 2, 3], dtype=">i4")),
            ("b", [], np.array(5, dtype="i1")),
            ("bs", ["y"], np.array([1, -2, 3, 4, 127], dtype="i1")),
        ],
        record_dim=None, n_records=0, global_attrs={},
    )
    shutil.copy(path, os.path.join(root, "scalars.nc"))
    remote = DapDataset(f"dap+{base}/scalars.nc")
    assert remote.read("pi").reshape(()) == 3.25
    assert str(remote.read("title").reshape(())) == "hello"
    assert np.array_equal(remote.read("xs"), [1, 2, 3])
    # wire-level: the scalar String payload is length+bytes with NO
    # (n, n) header; the scalar Float64 is 8 bare bytes
    body = urllib.request.urlopen(f"{base}/scalars.nc.dods?title").read()
    xdr = body.split(b"\nData:\n", 1)[1]
    assert _s.unpack_from(">I", xdr, 0)[0] == 5  # length word first
    assert xdr[4:9] == b"hello"
    body = urllib.request.urlopen(f"{base}/scalars.nc.dods?pi").read()
    xdr = body.split(b"\nData:\n", 1)[1]
    assert len(xdr) == 8 and _s.unpack(">d", xdr)[0] == 3.25
    # arrays keep the doubled count header
    body = urllib.request.urlopen(f"{base}/scalars.nc.dods?xs").read()
    xdr = body.split(b"\nData:\n", 1)[1]
    assert _s.unpack_from(">II", xdr, 0) == (3, 3)
    # a scalar Byte is one 4-byte big-endian word
    body = urllib.request.urlopen(f"{base}/scalars.nc.dods?b").read()
    xdr = body.split(b"\nData:\n", 1)[1]
    assert xdr == b"\x00\x00\x00\x05"
    assert remote.read("b").reshape(()) == 5
    # a Byte array: (n, n), the packed bytes, zero padding to 4
    body = urllib.request.urlopen(f"{base}/scalars.nc.dods?bs").read()
    xdr = body.split(b"\nData:\n", 1)[1]
    assert xdr == (_s.pack(">II", 5, 5) + bytes([1, 0xFE, 3, 4, 0x7F])
                   + b"\x00" * 3)
    assert remote.read("bs").tolist() == [1, -2, 3, 4, 127]
    # the same word a Sequence Byte column carries
    seq = _xdr_sequence({"cols": [("b", "Byte")], "rows": [(5,)]})
    assert _xdr_encode("Byte", 5, scalar=True) == seq[4:-4] \
        == b"\x00\x00\x00\x05"


def test_dap_byte_is_unsigned(dap_root, tmp_path):
    """A DAP 2.0 Byte is unsigned: 200 reads 200, as a scalar word and
    as a packed array element. netCDF's BYTE is signed, so the server
    serves it as Byte with ``_Unsigned "false"`` in the DAS (the
    netCDF-Java convention) and the client reads it back as int8; a
    BYTE the file itself marks ``_Unsigned "true"`` reads unsigned."""
    import shutil

    from modeltracking_spark.sources.dap import (
        DapDataset,
        _xdr_decode,
        _xdr_encode,
    )
    from modeltracking_spark.sources.netcdf_classic import write_classic

    assert _xdr_decode(_xdr_encode("Byte", 200, scalar=True), 0,
                       "Byte", None) == (200, 4)
    vals, off = _xdr_decode(_xdr_encode("Byte", [200, 7, 255]), 0, "Byte", 3)
    assert vals.tolist() == [200, 7, 255] and off == 12

    base, root = dap_root
    path = os.path.join(str(tmp_path), "bytes.nc")
    raw = np.array([-56, 7, -1], dtype="i1")  # 0xC8, 0x07, 0xFF
    unsigned = {"_Unsigned": "true"}
    write_classic(
        path,
        dims=[("x", 3)],
        variables=[
            ("s", [], np.array(-56, dtype="i1")),
            ("a", ["x"], raw),
            ("us", [], np.array(-56, dtype="i1"), unsigned),
            ("ua", ["x"], raw, unsigned),
        ],
        record_dim=None, n_records=0, global_attrs={},
    )
    shutil.copy(path, os.path.join(root, "bytes.nc"))
    remote = DapDataset(f"dap+{base}/bytes.nc")
    assert remote.var_attrs("s")["_Unsigned"] == "false"
    assert remote.var_attrs("us")["_Unsigned"] == "true"
    assert remote.read("s").reshape(()) == -56
    assert remote.read("a").tolist() == [-56, 7, -1]
    assert remote.read("us").reshape(()) == 200
    assert remote.read("ua").tolist() == [200, 7, 255]


# ---------------------------------------------------------------------------
# One DAP model for client and server: the server describes a file as the
# table _parse_dds builds, renders its DDS from it and resolves each
# projection in it.
# ---------------------------------------------------------------------------


def _decode_by_dds(body: bytes):
    """A ``.dods`` reply decoded the way a DDS-driven client reads it:
    ``_parse_dds`` of the header, then each variable's XDR in that
    order, then each Sequence's stream (DAP 2.0 §7.2.3: a 0x5A000000
    marker before every instance, its columns as XDR scalars, 0xA5000000
    after the last) -> ({name: array, or {col: [values]} for a
    Sequence}, grids)."""
    from modeltracking_spark.sources.dap import _parse_dds, _xdr_decode

    dds, sep, _ = body.partition(b"\nData:\n")
    assert sep
    _name, variables, grids, seqs = _parse_dds(dds.decode())
    off = len(dds) + len(sep)
    out = {}
    for name, (typ, dims) in variables.items():
        shape = [sz for _, sz in dims]
        vals, off = _xdr_decode(body, off, typ,
                                math.prod(shape) if dims else None)
        out[name] = np.asarray(vals).reshape(shape)
    for name, cols in seqs.items():
        out[name] = {col: [] for col, _ in cols}
        while True:
            (marker,) = struct.unpack_from(">I", body, off)
            off += 4
            if marker == 0xA5000000:
                break
            assert marker == 0x5A000000, hex(marker)
            for col, typ in cols:
                val, off = _xdr_decode(body, off, typ, None)
                out[name][col].append(val)
    assert off == len(body)
    return out, grids


def test_dap_dods_header_lists_the_shipped_variables(coord_nc,
                                                     grid_dap_root):
    """The DDS of a ``.dods`` reply declares exactly the variables whose
    XDR follows, in that order: a multi-variable projection in
    projection order, and a bare-grid projection as its Grid block
    (the array, then its maps cut by the array's axes)."""
    import urllib.request

    base, _root = grid_dap_root
    local = NcFile(coord_nc)

    def fetch(query):
        with urllib.request.urlopen(f"{base}/coord.nc.dods?{query}") as r:
            return _decode_by_dds(r.read())

    got, grids = fetch("x,y")
    assert list(got) == ["x", "y"] and grids == {}
    assert np.array_equal(got["x"], local.read("x"))
    assert np.array_equal(got["y"], local.read("y"))

    got, grids = fetch("sst[1:2][0:1][1:3]")
    assert list(got) == ["sst", "sst.time", "sst.y", "sst.x"]
    assert grids == {"sst": {"array": "sst",
                             "maps": ["sst.time", "sst.y", "sst.x"]}}
    assert np.array_equal(got["sst"], local.read("sst")[1:3, 0:2, 1:4])
    assert np.array_equal(got["sst.time"], local.read("time")[1:3])
    assert np.array_equal(got["sst.y"], local.read("y")[0:2])
    assert np.array_equal(got["sst.x"], local.read("x")[1:4])


@pytest.mark.parametrize("grid_mode", [False, True])
def test_dap_served_dds_parses_to_the_served_table(coord_nc, tiny_nc,
                                                   tmp_path, grid_mode):
    """``_parse_dds`` of every served ``.dds`` is the server's own
    table, ``_served``: plain and Grid files, a CHAR variable served as
    String, and a file with per-file and shared Sequences."""
    import shutil
    import urllib.request

    from modeltracking_spark.sources.dap import (
        _file_sequences,
        _parse_dds,
        _served,
        make_dap_handler,
    )

    shutil.copy(coord_nc, tmp_path / "coord.nc")
    shutil.copy(tiny_nc, tmp_path / "tiny.nc")
    write_classic(
        str(tmp_path / "obs.nc"), dims=[("station", 2), ("strlen", 4)],
        variables=[("code", ["station", "strlen"],
                    np.stack([_srow("ab", 4), _srow("cdef", 4)])),
                   ("val", ["station"], np.array([1.5, -2.0]))],
        record_dim=None, n_records=0, global_attrs={})
    seqs = {"obs.nc!readings": {"cols": [("sid", "Int32"),
                                         ("tag", "String")],
                                "rows": [(0, "a")]},
            "shared": {"cols": [("g", "UInt16")], "rows": [(7,)]}}
    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0),
        make_dap_handler(str(tmp_path), grid_mode=grid_mode,
                         sequences=seqs))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        for fname in ("coord.nc", "tiny.nc", "obs.nc"):
            with urllib.request.urlopen(f"{base}/{fname}.dds") as r:
                name, *parsed = _parse_dds(r.read().decode())
            served = _served(NcFile(str(tmp_path / fname)), grid_mode,
                             _file_sequences(seqs, fname))
            assert name == fname
            assert tuple(parsed) == served, fname
            assert bool(served[1]) == (grid_mode and fname == "coord.nc")
            assert ("readings" in served[2]) == (fname == "obs.nc")
    finally:
        srv.shutdown()


def test_dap_unservable_variable_fails_only_its_requests(dap_root,
                                                         tmp_path):
    """A variable the server cannot serve (here a 0-dim CHAR) fails the
    requests that render or project it, with its reason, and only
    those: the file's other variables still read."""
    import shutil
    import urllib.error
    import urllib.request

    base, root = dap_root
    write_classic(
        str(tmp_path / "unserved.nc"), dims=[("x", 2)],
        variables=[("c", [], np.array(b"a", dtype="S1")),
                   ("ok", ["x"], np.array([1.0, 2.0]))],
        record_dim=None, n_records=0, global_attrs={})
    shutil.copy(tmp_path / "unserved.nc", os.path.join(root, "unserved.nc"))
    for req in ("unserved.nc.dds", "unserved.nc.dods",
                "unserved.nc.dods?c", "unserved.nc.dods?ok,c"):
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{base}/{req}")
        assert ei.value.code == 400
        assert ei.value.read() == \
            b"DAP serving for scalar CHAR not implemented"
    with urllib.request.urlopen(f"{base}/unserved.nc.dods?ok[1]") as r:
        got, _grids = _decode_by_dds(r.read())
    assert got["ok"].tolist() == [2.0]


def test_parse_constraint_inverts_encode_constraint():
    """``parse_constraint`` of ``encode_constraint(var, ranges)`` gives
    back the ranges as ``(a, step, b)`` triples, the unconstrained
    trailing dims whole, for random shapes, starts and strides; a Grid's
    array projected as ``g.g`` resolves to ``g``."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from modeltracking_spark.sources.dap import (
        encode_constraint,
        parse_constraint,
    )
    from modeltracking_spark.sources.netcdf_classic import strided

    @st.composite
    def shaped_ranges(draw):
        shape = draw(st.lists(st.integers(1, 9), max_size=4))
        ranges = []
        for n in shape[:draw(st.integers(0, len(shape)))]:
            a = draw(st.integers(0, n - 1))
            b = draw(st.integers(a, n - 1))
            step = draw(st.integers(1, 4))
            ranges.append((a, b) if draw(st.booleans()) else (a, step, b))
        return shape, ranges

    @settings(max_examples=200, deadline=None)
    @given(shaped_ranges(), st.booleans())
    def check(case, as_grid):
        shape, ranges = case
        dims = [(f"d{i}", n) for i, n in enumerate(shape)]
        table = {"v": ("Float64", dims)}
        grids = {}
        if as_grid:
            grids["v"] = {"array": "v", "maps": [f"v.{d}" for d, _ in dims]}
            table.update({f"v.{d}": ("Float64", [(d, n)]) for d, n in dims})
        slabs, pgrids, pseqs = parse_constraint(
            (table, grids, {}),
            encode_constraint("v.v" if as_grid else "v", ranges))
        whole = [(0, 1, n - 1) for n in shape[len(ranges):]]
        assert slabs == {"v": strided(ranges) + whole}
        assert pgrids == {} and pseqs == {}

    check()


def test_dap_selection_is_a_400_naming_it(tiny_nc, dap_root):
    """The server evaluates projections only: a constraint with a
    selection answers 400 naming it, not the unfiltered variable."""
    import shutil
    import urllib.error
    import urllib.parse
    import urllib.request

    base, root = dap_root
    shutil.copy(tiny_nc, os.path.join(root, "sel.nc"))
    query = urllib.parse.quote("grid&grid>3")
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(f"{base}/sel.nc.dods?{query}")
    assert ei.value.code == 400
    assert b"grid>3" in ei.value.read()


def test_dap_bare_grid_name_ships_the_grid(coord_nc, grid_dap_root):
    """A bare Grid name projects the Grid instance with its maps, as
    ``sst[...]`` does, and the unconstrained ``.dods`` ships the whole
    dataset the way the ``.dds`` declares it: every variable, each Grid
    as its Grid, then every Sequence."""
    import urllib.request

    from modeltracking_spark.sources.dap import _parse_dds

    base, _root = grid_dap_root
    local = NcFile(coord_nc)

    def fetch(suffix):
        with urllib.request.urlopen(f"{base}/coord.nc.{suffix}") as r:
            return r.read()

    got, grids = _decode_by_dds(fetch("dods?sst"))
    assert list(got) == ["sst", "sst.time", "sst.y", "sst.x"]
    assert grids == {"sst": {"array": "sst",
                             "maps": ["sst.time", "sst.y", "sst.x"]}}
    assert np.array_equal(got["sst"], local.read("sst"))
    for dim in ("time", "y", "x"):
        assert np.array_equal(got[f"sst.{dim}"], local.read(dim))

    body = fetch("dods")
    got, grids = _decode_by_dds(body)
    _name, *declared = _parse_dds(fetch("dds").decode())
    _name, *shipped = _parse_dds(body.partition(b"\nData:\n")[0].decode())
    assert shipped == declared  # the variables, the Grids, the Sequences
    assert list(got) == ["time", "y", "x", "sst", "sst.time", "sst.y",
                         "sst.x", "obs"]
    assert "sst" in grids
    # the Sequence ships whole, after the arrays
    assert got.pop("obs") == {"id": list(range(40)),
                              "val": [i * 0.5 for i in range(40)],
                              "flag": [float(i % 3) for i in range(40)]}
    for name, a in got.items():
        assert np.array_equal(a, local.read(name.rpartition(".")[2])), name
