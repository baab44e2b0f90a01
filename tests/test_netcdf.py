"""Pure-numpy classic-netCDF reader/writer + the grid DataSource's
netCDF backend (the executable twin of the reference's OPeNDAP read,
``trackplot_hycom.py:144``)."""

import struct

import numpy as np
import pytest

from modeltracking_spark.fixtures import GRID_TIME_STEP
from modeltracking_spark.sources.grid_source import (
    _partition_arrays,
    _partition_from_netcdf,
    write_grid_netcdf,
)
from modeltracking_spark.sources.netcdf_classic import NcFile, write_classic


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
        a = _partition_arrays(ti)
        b = _partition_from_netcdf(path, ti)
        assert set(a) == set(b)
        for k in a:
            assert np.array_equal(a[k], b[k]), (ti, k)


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
    # the unfiltered file scan packs its 4 steps into min(4, cores)
    assert g.rdd.getNumPartitions() == min(4, len(os.sched_getaffinity(0)))


# ---------------------------------------------------------------------------
# HTTP Range-GET backend — the remote seam (the executable twin of the
# reference's DAP slicing, with no external network: an in-process stdlib
# server serves the same bytes a THREDDS/object store would)
# ---------------------------------------------------------------------------
import http.server
import os
import threading


class _RangeHandler(http.server.SimpleHTTPRequestHandler):
    """SimpleHTTPRequestHandler ignores Range; this implements the
    single-range form (bytes=a-b) so the reader's 206 path is exercised."""

    def log_message(self, *a):  # quiet
        pass

    def do_HEAD(self):
        path = self.translate_path(self.path)
        if not os.path.isfile(path):
            self.send_error(404)
            return
        self.send_response(200)
        self.send_header("Content-Length", str(os.path.getsize(path)))
        self.send_header("Accept-Ranges", "bytes")
        self.end_headers()

    def do_GET(self):
        path = self.translate_path(self.path)
        if not os.path.isfile(path):
            self.send_error(404)
            return
        size = os.path.getsize(path)
        rng = self.headers.get("Range")
        with open(path, "rb") as f:
            if rng and rng.startswith("bytes="):
                a, _, b = rng[len("bytes="):].partition("-")
                start = int(a)
                end = min(int(b) if b else size - 1, size - 1)
                f.seek(start)
                body = f.read(end - start + 1)
                self.send_response(206)
                self.send_header("Content-Range", f"bytes {start}-{end}/{size}")
            else:
                body = f.read()
                self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)


@pytest.fixture(scope="module")
def http_root(tmp_path_factory):
    """(base_url, root_dir) of a Range-capable server on a loopback port."""
    root = tmp_path_factory.mktemp("httpnc")
    handler = lambda *a, **kw: _RangeHandler(*a, directory=str(root), **kw)
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", str(root)
    srv.shutdown()


def test_http_backend_matches_file(tiny_nc, http_root):
    import shutil

    base, root = http_root
    shutil.copy(tiny_nc, os.path.join(root, "tiny.nc"))
    local = NcFile(tiny_nc)
    remote = NcFile(f"{base}/tiny.nc")
    assert remote.dims == local.dims and remote.numrecs == local.numrecs
    for var in ("t", "yv", "xv", "grid"):
        assert np.array_equal(remote.read(var), local.read(var))
    for r in range(5):
        assert np.array_equal(
            remote.read_slice("grid", r), local.read_slice("grid", r)
        )
    # every read went through the 206 partial path — the server never had
    # to ship the whole file (the scale property of the seam)
    assert remote.reader.n_full_downloads == 0


def test_grid_netcdf_scan_http_backend(spark, http_root):
    """grid_netcdf_scan's pipeline over the HTTP backend: the DataSource
    partitions pass the http:// URL through to NcFile, so every Spark
    task range-reads its own timestep record from the server."""
    from pyspark.errors import PySparkException

    import pyspark.sql.functions as F
    from modeltracking_spark.queries.common import ensure_pkg_on_workers
    from modeltracking_spark.sources.grid_source import HycomGridDataSource

    base, root = http_root
    write_grid_netcdf(os.path.join(root, "grid_http.nc"), n_time=3)
    ensure_pkg_on_workers(spark)
    try:
        spark.dataSource.register(HycomGridDataSource)
    except PySparkException:
        pass
    g = (
        spark.read.format("hycom_grid")
        .option("path", f"{base}/grid_http.nc")
        .load()
    )
    rows = g.groupBy("time_hours").count().orderBy("time_hours").collect()
    assert [r["time_hours"] for r in rows] == [
        t * GRID_TIME_STEP for t in range(3)
    ]
    assert all(r["count"] == 30 * 81 * 81 for r in rows)
    # parity with the formula fixture on a sampled cell set
    got = (
        g.where((F.col("depth_idx") == 0) & (F.col("lat_idx") == 1))
        .select("time_hours", "lon_idx", "water_temp")
        .collect()
    )
    a = _partition_arrays(1)
    want = {
        (GRID_TIME_STEP, int(lon), float(t))
        for lon, t in zip(
            a["lon_idx"][(a["depth_idx"] == 0) & (a["lat_idx"] == 1)],
            a["water_temp"][(a["depth_idx"] == 0) & (a["lat_idx"] == 1)],
        )
    }
    got_t1 = {
        (r["time_hours"], r["lon_idx"], r["water_temp"])
        for r in got
        if r["time_hours"] == GRID_TIME_STEP
    }
    assert got_t1 == want


def test_truncated_data_section_is_loud(tmp_path, tiny_nc):
    """A cut data section must raise the descriptive truncation error,
    not an opaque numpy reshape failure (ADVICE r5)."""
    cut = str(tmp_path / "cut.nc")
    raw = open(tiny_nc, "rb").read()
    open(cut, "wb").write(raw[: len(raw) - 30])
    f = NcFile(cut)
    with pytest.raises(ValueError, match="truncated data section"):
        f.read_slice("grid", 4)


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

    from modeltracking_spark.sources.dap import DapDataset, parse_constraint

    base, root = dap_root
    shutil.copy(tiny_nc, os.path.join(root, "r.nc"))
    # out-of-bounds constraint -> 400
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(f"{base}/r.nc.dods?grid[9:9]")
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
        parse_constraint(nc, "grid[0:0:4]")  # stride 0 is malformed


def test_open_nc_or_dap_routes(tiny_nc, dap_root):
    """The grid seam: dap+http:// -> DapDataset, paths -> NcFile, and a
    grid partition built through either backend is identical."""
    import shutil

    from modeltracking_spark.sources.dap import DapDataset, open_nc_or_dap

    base, root = dap_root
    shutil.copy(tiny_nc, os.path.join(root, "s.nc"))
    a = open_nc_or_dap(tiny_nc)
    b = open_nc_or_dap(f"dap+{base}/s.nc")
    assert isinstance(a, NcFile) and isinstance(b, DapDataset)
    assert np.array_equal(a.read_slice("grid", 1), b.read_slice("grid", 1))


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
    """apply_cf=True reproduces netCDF4's auto mask-and-scale (the
    behavior the reference's stack applies to HYCOM variables): packed
    int16 + scale/offset -> float64, missing_value -> NaN; the default
    read stays raw and exact."""
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
    cf = f.read("temp", apply_cf=True)
    assert cf.dtype == np.float64
    assert cf[0] == 20.0 and abs(cf[1] - 20.1) < 1e-12
    assert np.isnan(cf[2]) and abs(cf[3] - 20.25) < 1e-12
    # attribute-free variable: apply_cf is the identity, dtype intact
    assert f.read("plain", apply_cf=True).dtype == np.int16
    # sliced reads unpack identically
    assert np.isnan(f.read_slice("temp", 2, apply_cf=True))


def test_dap_strided_hyperslab(tiny_nc, dap_root):
    """var[a:step:b] subsamples SERVER-side: every-other record of the
    5-record grid ships 3 records' bytes and equals the local strided
    read."""
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
    # a strided coordinate read too (non-record var)
    assert np.array_equal(
        d.read_strided("xv", [(0, 2, 2)]), local.read("xv")[0:3:2]
    )
    # bytes on the wire ~ kept cells, not the full variable
    before = d.n_bytes
    d.read_strided("grid", [(0, 4, 4), (0, 1), (0, 2)])  # 1 record kept
    assert d.n_bytes - before < 6 * 8 + 400


def test_packed_grid_scan_is_bit_exact(tmp_path):
    """The packed-int16 grid (CF scale/offset/missing attrs — real
    HYCOM's wire format, ~1/4 the float64 bytes) CF-unpacks to the
    formula partition bit-for-bit in every column: the fixture values
    are exact multiples of 0.1, p*0.1(+30.0) reproduces the doubles,
    and missing comes back as the pipeline sentinel."""
    from modeltracking_spark.sources.grid_source import (
        _partition_arrays,
        _partition_from_netcdf,
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
        a = _partition_arrays(ti)
        b = _partition_from_netcdf(p, ti)
        for k in a:
            assert np.array_equal(a[k], b[k]), (ti, k)


def test_dap_packed_grid_parity_with_file(tmp_path, dap_root):
    """ADVICE r7 #2 regression: a CF-PACKED int16 grid served over
    dap+http:// must decode to the SAME physics values as the same file
    read by path — exactly how real HYCOM THREDDS ships data. Before
    the fix, DapDataset.vars[v] being a (type, dims) tuple made
    _physics_slice skip the apply_cf branch silently (raw x10 values,
    -30000 sentinel passed through)."""
    import shutil

    from modeltracking_spark.sources.dap import DapDataset
    from modeltracking_spark.sources.grid_source import (
        _partition_from_netcdf,
        write_grid_netcdf_packed,
    )

    base, root = dap_root
    p = str(tmp_path / "packed_dap.nc")
    write_grid_netcdf_packed(p, n_time=3)
    shutil.copy(p, os.path.join(root, "packed_dap.nc"))

    # reader-level parity: read_slice(apply_cf=True) over both transports
    f = NcFile(p)
    d = DapDataset(f"dap+{base}/packed_dap.nc")
    assert d.var_attrs("water_temp")["scale_factor"] == [0.1]
    for var in ("water_temp", "salinity"):
        a = f.read_slice(var, 1, apply_cf=True)
        b = d.read_slice(var, 1, apply_cf=True)
        assert b.dtype == np.float64
        assert np.array_equal(a, b, equal_nan=True), var
    # raw reads stay raw over DAP too
    assert d.read_slice("water_temp", 0).dtype == np.int16

    # partition-level parity: the grid partition builder resolves CF
    # attrs through _var_cf_attrs on both reader kinds
    pa = _partition_from_netcdf(p, 2)
    pb = _partition_from_netcdf(f"dap+{base}/packed_dap.nc", 2)
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

    from modeltracking_spark.sources.dap import (
        _xdr_decode_strings,
    )

    ok = _s.pack(">II", 2, 2) + _s.pack(">I", 3) + b"abc\x00" \
        + _s.pack(">I", 0)
    vals, off = _xdr_decode_strings(ok, 0, 2)
    assert vals == ["abc", ""] and off == len(ok)
    with pytest.raises(ValueError, match="count mismatch"):
        _xdr_decode_strings(ok, 0, 3)
    with pytest.raises(ValueError, match="truncated"):
        _xdr_decode_strings(ok[:10], 0, 2)
    bad = _s.pack(">II", 1, 1) + _s.pack(">I", 99) + b"ab"
    with pytest.raises(ValueError, match="truncated"):
        _xdr_decode_strings(bad, 0, 1)


def test_dap_unsigned_and_url_sequence_roundtrip(string_dap_root):
    """Round-14: the unsigned pair (XDR widens UInt16 to 4 bytes like
    Int16) and Url (the String alias) decode in Sequence columns over
    the live protocol; large UInt32 values exercise the unsigned
    unpack."""
    import http.server
    import threading

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
    sides cannot drift together."""
    import shutil
    import struct as _s
    import urllib.request

    from modeltracking_spark.sources.dap import DapDataset
    from modeltracking_spark.sources.netcdf_classic import write_classic

    base, root = dap_root
    path = os.path.join(str(tmp_path), "scalars.nc")
    write_classic(
        path,
        dims=[("strlen", 8), ("x", 3)],
        variables=[
            ("title", ["strlen"],
             np.frombuffer(b"hello\x00\x00\x00", dtype="S1")),
            ("pi", [], np.array(3.25, dtype=">f8")),
            ("xs", ["x"], np.array([1, 2, 3], dtype=">i4")),
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
