"""Pure-numpy reader/writer for the classic NetCDF binary format.

The reference's only real I/O is a netCDF/OPeNDAP grid read with
server-side slicing (``trackplot_hycom.py:144`` ``netCDF4.Dataset(url)``;
``:110`` / ``:132`` ship index ranges to the THREDDS server so only the
requested ``var[t, :, :, :]`` block crosses the wire). This container has
no ``netCDF4``/``h5py``, so the engine implements the classic format
(CDF-1 magic ``CDF\\x01`` / CDF-2 ``CDF\\x02``) directly from the public
spec (NetCDF Classic Format Specification, Unidata) — header parse plus
**byte-range record slicing**: reading timestep ``t`` of a record
variable seeks to ``begin + t * recsize`` and reads one record's bytes,
never the whole variable. That per-slice read is the local-file analog
of the reference's DAP slicing, and it is what
``sources/grid_source.py`` does per time step when given a ``path``
option.

Scale posture: the reader holds only (a) the parsed header (KBs) and
(b) one record slice per call. A 100 TB hypercube read through the grid
DataSource schedules one task per run of timesteps; each task opens the
file (or object-store range-GET in a real deployment), reads each
record's byte range, and emits one Arrow batch per record.

Format notes (classic, from the public spec):
- big-endian throughout; names/attr values/data blocks padded to 4 bytes
- header: magic, numrecs, dim_list, gatt_list, var_list
- tags: NC_DIMENSION=0x0A, NC_VARIABLE=0x0B, NC_ATTRIBUTE=0x0C; an
  absent list is two zero int32s
- types: byte=1 char=2 short=3 int=4 float=5 double=6
- a dim of length 0 is the record (unlimited) dimension; record
  variables store their per-record blocks interleaved: record ``r`` of
  var ``v`` lives at ``v.begin + r * recsize`` where ``recsize`` is the
  sum of all record vars' padded per-record sizes (padding is waived
  when there is exactly one record variable)
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# range readers — the local/remote seam
#
# The reference reads its grid REMOTELY (http://tds.hycom.org, DAP
# constraint URLs ship the slice to the server). The honest local twin of
# that protocol half is a byte-range interface: everything NcFile needs is
# "give me nbytes at offset", which a local file serves via seek+read and
# an HTTP server serves via a Range-GET (the object-store access path a
# real deployment would use). NcFile accepts a plain path, file://, or
# http(s):// and picks the backend; tests exercise the HTTP backend
# against an in-process stdlib server with no external network.
# ---------------------------------------------------------------------------


class FileRangeReader:
    """seek+read over ONE persistent handle (re-opening per record was the
    old reader's N+1 quirk — the same anti-pattern the reference has at
    ``trackplot_hycom.py:144``, re-opening the remote dataset per point)."""

    def __init__(self, path: str):
        self.path = path
        self._f = open(path, "rb")

    def size(self) -> int:
        import os

        return os.fstat(self._f.fileno()).st_size

    def read_range(self, off: int, nbytes: int) -> bytes:
        self._f.seek(off)
        return self._f.read(nbytes)

    def close(self) -> None:
        self._f.close()


class HttpRangeReader:
    """Range-GET reader: ``read_range`` sends ``Range: bytes=a-b`` and a
    compliant server (206) returns exactly the slice — the classic-format
    analog of the reference's DAP constraint URLs. A server that ignores
    Range (plain 200) still yields correct results via local slicing, but
    that downloads the whole file per call — fine for a header probe,
    wrong at scale — so it is accepted but counted (``n_full_downloads``)
    for tests to assert against. Every request goes through
    :func:`modeltracking_spark.sources.dap.http_get` (timeout, one retry,
    ``Content-Length`` check, an error naming the URL and the range)."""

    def __init__(self, url: str):
        self.url = url
        self._size: int | None = None
        self.n_full_downloads = 0

    def size(self) -> int:
        """Total bytes, from the ``Content-Range`` of a 1-byte Range GET
        (``bytes 0-0/TOTAL``), or the body itself if the server ignored
        the Range."""
        from modeltracking_spark.sources.dap import http_get

        if self._size is not None:
            return self._size
        status, headers, body = http_get(self.url, (0, 0))
        cr = headers.get("Content-Range", "")
        if "/" in cr and cr.rsplit("/", 1)[1].isdigit():
            self._size = int(cr.rsplit("/", 1)[1])
        elif status == 200:  # server ignored Range: body IS the file
            self._size = len(body)
        else:
            raise ValueError(
                f"{self.url}: cannot determine size — no usable "
                "Content-Range in the server's reply to a Range GET"
            )
        return self._size

    def read_range(self, off: int, nbytes: int) -> bytes:
        from modeltracking_spark.sources.dap import http_get

        if nbytes <= 0:
            return b""
        status, _, body = http_get(self.url, (off, off + nbytes - 1))
        if status == 206:
            return body
        self.n_full_downloads += 1
        return body[off : off + nbytes]

    def close(self) -> None:
        pass


def open_range_reader(path_or_url: str):
    """file:// and bare paths -> :class:`FileRangeReader`; http(s):// ->
    :class:`HttpRangeReader`."""
    if path_or_url.startswith(("http://", "https://")):
        return HttpRangeReader(path_or_url)
    if path_or_url.startswith("file://"):
        return FileRangeReader(path_or_url[len("file://") :])
    return FileRangeReader(path_or_url)


NC_DIMENSION = 0x0A
NC_VARIABLE = 0x0B
NC_ATTRIBUTE = 0x0C

#: nc_type -> (big-endian numpy dtype, size in bytes)
NC_TYPES = {
    1: (">i1", 1),
    2: ("S1", 1),
    3: (">i2", 2),
    4: (">i4", 4),
    5: (">f4", 4),
    6: (">f8", 8),
}
#: numpy kind+itemsize -> nc_type (for the writer); S1 = CHAR, the
#: classic format's string carrier (fixed-width char arrays)
_NP_TO_NC = {("i", 1): 1, ("S", 1): 2, ("i", 2): 3, ("i", 4): 4,
             ("f", 4): 5, ("f", 8): 6}


def _pad4(n: int) -> int:
    return (n + 3) & ~3


def cf_unpack(a, attrs: dict):
    """CF-convention mask-and-scale (what the reference's netCDF4 stack
    does automatically under ``set_auto_maskandscale``): values equal to
    ``missing_value``/``_FillValue`` become NaN, then
    ``packed * scale_factor + add_offset``. Only applied when ``attrs``
    carries any of those; always returns float64 when it does (a
    masked/scaled int has no exact int representation). Shared by the
    file reader (:class:`NcFile`) and the DAP client
    (:class:`modeltracking_spark.sources.dap.DapDataset`) so both wire
    formats decode packed int16 grids to identical physics values."""
    import numpy as np

    def one(name):
        val = attrs.get(name)
        if isinstance(val, list):
            return val[0] if val else None
        return val

    mv = one("missing_value")
    if mv is None:
        mv = one("_FillValue")
    sf, ao = one("scale_factor"), one("add_offset")
    if mv is None and sf is None and ao is None:
        return a
    out = np.asarray(a, dtype=np.float64)
    if mv is not None:
        out = np.where(np.asarray(a) == mv, np.nan, out)
    if sf is not None:
        out = out * float(sf)
    if ao is not None:
        out = out + float(ao)
    return out


@dataclass
class NcVar:
    name: str
    dim_ids: list[int]
    nc_type: int
    vsize: int
    begin: int
    shape: tuple[int, ...]  # record dim (if any) first, with its length
    is_record: bool
    attrs: dict = field(default_factory=dict)

    @property
    def dtype(self) -> str:
        return NC_TYPES[self.nc_type][0]

    @property
    def itemsize(self) -> int:
        return NC_TYPES[self.nc_type][1]

    def slice_nbytes(self) -> int:
        """Unpadded byte size of one first-dimension slice."""
        inner = 1
        for s in self.shape[1:]:
            inner *= s
        return inner * self.itemsize


class _Cursor:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.off = 0

    def u32(self) -> int:
        (v,) = struct.unpack_from(">I", self.buf, self.off)
        self.off += 4
        return v

    def i64(self) -> int:
        (v,) = struct.unpack_from(">q", self.buf, self.off)
        self.off += 8
        return v

    def name(self) -> str:
        n = self.u32()
        s = self.buf[self.off : self.off + n].decode("utf-8")
        self.off += _pad4(n)
        return s

    def attr_values(self, nc_type: int, nelems: int):
        dt, size = NC_TYPES[nc_type]
        nbytes = nelems * size
        raw = self.buf[self.off : self.off + nbytes]
        self.off += _pad4(nbytes)
        if nc_type == 2:
            return raw.decode("utf-8", errors="replace")
        import numpy as np

        return np.frombuffer(raw, dtype=dt, count=nelems).tolist()

    def attr_list(self) -> dict:
        tag, nelems = self.u32(), self.u32()
        out = {}
        if tag == 0 and nelems == 0:
            return out
        if tag != NC_ATTRIBUTE:
            raise ValueError(f"bad attribute list tag {tag:#x}")
        for _ in range(nelems):
            nm = self.name()
            t = self.u32()
            n = self.u32()
            out[nm] = self.attr_values(t, n)
        return out


class NcFile:
    """Parsed classic-netCDF header with sliced data access.

    ``read(var)`` loads a whole variable; ``read_slice(var, i)`` reads
    ONLY slice ``i`` along the first dimension (record or fixed) via one
    contiguous range read — the unit a grid partition fetches.

    ``path`` may be a local path, ``file://…``, or ``http(s)://…`` — the
    remote form reads via HTTP Range-GETs (:class:`HttpRangeReader`), the
    local-file twin of the reference's OPeNDAP server-side slicing. All
    reads in this object's lifetime share ONE reader (one file handle /
    one connection pool) — nothing re-opens per record.
    """

    def __init__(self, path: str):
        self.path = path
        self.reader = open_range_reader(path)
        size = self.reader.size()
        # headers are small; 64 KiB covers dims+attrs+vars for any sane
        # grid file, and we re-parse from the full file if the header
        # overflows it. The retry triggers on ANY parse failure (a cut
        # inside an attribute value raises ValueError from np.frombuffer,
        # a cut inside a name raises UnicodeDecodeError — not just the
        # struct/Index errors of a cut between fields) AND on a parse
        # that "succeeds" over truncated garbage but yields offsets
        # outside the file.
        head = self.reader.read_range(0, min(64 * 1024, size))
        if head[:3] != b"CDF" or head[3] not in (1, 2):
            raise ValueError(f"{path}: not a classic netCDF file")
        self.version = head[3]
        try:
            self._parse(head)
            if len(head) == 64 * 1024 and not self._plausible(size):
                raise ValueError("implausible truncated-header parse")
        except Exception:
            if size <= len(head):
                raise
            self._parse(self.reader.read_range(0, size))
            if not self._plausible(size):
                raise ValueError(f"{path}: variable offsets outside the file")

    def close(self) -> None:
        self.reader.close()

    def _plausible(self, file_size: int) -> bool:
        """Every variable's begin offset must land inside the file —
        catches a truncated-header parse that happened to not raise."""
        return all(0 < v.begin <= file_size for v in self.vars.values())

    def _parse(self, buf: bytes) -> None:
        c = _Cursor(buf)
        c.off = 4
        self.numrecs = c.u32()
        # dim list
        tag, ndims = c.u32(), c.u32()
        if not (tag == NC_DIMENSION or (tag == 0 and ndims == 0)):
            raise ValueError(f"bad dim list tag {tag:#x}")
        self.dims: list[tuple[str, int]] = []
        self.rec_dim_id: int | None = None
        for i in range(ndims):
            nm = c.name()
            ln = c.u32()
            if ln == 0:
                self.rec_dim_id = i
            self.dims.append((nm, ln))
        self.attrs = c.attr_list()
        # var list
        tag, nvars = c.u32(), c.u32()
        if not (tag == NC_VARIABLE or (tag == 0 and nvars == 0)):
            raise ValueError(f"bad var list tag {tag:#x}")
        self.vars: dict[str, NcVar] = {}
        rec_vars: list[NcVar] = []
        for _ in range(nvars):
            nm = c.name()
            nd = c.u32()
            dim_ids = [c.u32() for _ in range(nd)]
            vattrs = c.attr_list()
            nc_type = c.u32()
            vsize = c.u32()
            begin = c.i64() if self.version == 2 else c.u32()
            is_rec = bool(dim_ids) and dim_ids[0] == self.rec_dim_id
            shape = tuple(
                self.numrecs if (j == 0 and is_rec) else self.dims[d][1]
                for j, d in enumerate(dim_ids)
            )
            v = NcVar(nm, dim_ids, nc_type, vsize, begin, shape, is_rec, vattrs)
            self.vars[nm] = v
            if is_rec:
                rec_vars.append(v)
        # recsize: padded per-record sizes, padding waived for a single
        # record variable (spec quirk)
        if len(rec_vars) == 1:
            self.recsize = rec_vars[0].slice_nbytes()
        else:
            self.recsize = sum(_pad4(v.slice_nbytes()) for v in rec_vars)

    def dim_size(self, name: str) -> int:
        for nm, ln in self.dims:
            if nm == name:
                return self.numrecs if ln == 0 else ln
        raise KeyError(name)

    def _read_checked(self, off: int, nbytes: int, what: str) -> bytes:
        """Range read that fails LOUDLY on truncation — without this a
        short read surfaces as an opaque numpy reshape/frombuffer error."""
        raw = self.reader.read_range(off, nbytes)
        if len(raw) < nbytes:
            raise ValueError(
                f"{self.path}: truncated data section reading {what}: "
                f"wanted {nbytes} bytes at offset {off}, got {len(raw)}"
            )
        return raw

    def _cf_unpack(self, var: str, a):
        return cf_unpack(a, self.vars[var].attrs)

    def read_slice(self, var: str, i: int, apply_cf: bool = False):
        """var[i, ...] as a little-endian numpy array, reading only that
        slice's bytes (record vars: ``begin + i*recsize``; fixed vars:
        ``begin + i*slice_bytes``). ``apply_cf=True`` additionally
        mask-and-scales per the variable's CF attributes."""
        import numpy as np

        v = self.vars[var]
        n = v.shape[0] if v.shape else 1
        if not 0 <= i < n:
            raise IndexError(f"{var}[{i}] out of range {n}")
        nbytes = v.slice_nbytes()
        off = v.begin + i * (self.recsize if v.is_record else nbytes)
        raw = self._read_checked(off, nbytes, f"{var}[{i}]")
        arr = np.frombuffer(raw, dtype=v.dtype).astype(
            np.dtype(v.dtype).newbyteorder("=")
        )
        # scalar-per-slice (1-D record var) -> 0-d so stacked reads give
        # the natural (n,) shape
        out = arr.reshape(v.shape[1:])
        return self._cf_unpack(var, out) if apply_cf else out

    def read(self, var: str, apply_cf: bool = False):
        """The whole variable (record vars: stacked slice reads through
        the shared reader — one handle, not one open per record).
        ``apply_cf=True`` mask-and-scales per the CF attributes."""
        import numpy as np

        v = self.vars[var]
        if v.is_record:
            out = np.stack(
                [self.read_slice(var, r) for r in range(v.shape[0])]
            )
        else:
            nbytes = v.slice_nbytes() * (v.shape[0] if v.shape else 1)
            raw = self._read_checked(v.begin, nbytes, var)
            arr = np.frombuffer(raw, dtype=v.dtype)
            out = arr.reshape(v.shape) if v.shape else arr
            out = out.astype(out.dtype.newbyteorder("="))
        return self._cf_unpack(var, out) if apply_cf else out


def write_classic(
    path: str,
    dims: list[tuple[str, int]],
    variables: list[tuple] ,
    record_dim: str | None = None,
    n_records: int = 0,
    global_attrs: dict | None = None,
) -> None:
    """Minimal classic (CDF-1) writer for fixtures and demo files.

    ``dims``: (name, length) pairs; ``record_dim`` names the unlimited
    one (stored with length 0). ``variables``: (name, dim names, value)
    — optionally (name, dim names, value, attrs) with an attribute dict
    (str values become char attrs; numeric scalars/lists become typed
    arrays) — where value is a numpy array or, for record variables, a
    callable ``f(r) -> numpy array`` invoked per record so the full
    hypercube never has to exist in memory (the writer streams record
    by record, mirroring how the reader slices). ``global_attrs`` is
    the NC_GLOBAL attribute dict.
    """
    import numpy as np

    dim_ix = {nm: i for i, (nm, _) in enumerate(dims)}
    dim_len = dict(dims)

    def nc_type_of(a) -> int:
        k = (a.dtype.kind, a.dtype.itemsize)
        if k not in _NP_TO_NC:
            raise ValueError(f"unsupported dtype {a.dtype}")
        return _NP_TO_NC[k]

    def name_bytes(nm: str) -> bytes:
        b = nm.encode()
        return struct.pack(">I", len(b)) + b + b"\x00" * (_pad4(len(b)) - len(b))

    def attr_bytes(attrs: dict | None) -> bytes:
        if not attrs:
            return struct.pack(">II", 0, 0)
        out = bytearray(struct.pack(">II", NC_ATTRIBUTE, len(attrs)))
        for nm, val in attrs.items():
            out += name_bytes(nm)
            if isinstance(val, str):
                raw = val.encode()
                out += struct.pack(">II", 2, len(raw)) + raw
                out += b"\x00" * (_pad4(len(raw)) - len(raw))
            else:
                a = np.asarray(val)
                if a.dtype.kind == "i" and a.dtype.itemsize == 8:
                    a = a.astype(np.int32)  # CDF-1 has no int64 attrs
                t = nc_type_of(a)
                raw = np.ascontiguousarray(
                    a.reshape(-1), dtype=NC_TYPES[t][0]
                ).tobytes()
                out += struct.pack(">II", t, a.size) + raw
                out += b"\x00" * (_pad4(len(raw)) - len(raw))
        return bytes(out)

    # resolve per-var metadata
    metas = []
    for spec in variables:
        name, vdims, value = spec[0], spec[1], spec[2]
        var_attrs = spec[3] if len(spec) > 3 else None
        is_rec = record_dim is not None and vdims and vdims[0] == record_dim
        inner_shape = tuple(
            dim_len[d] for d in (vdims[1:] if is_rec else vdims)
        )
        probe = np.asarray(value(0) if callable(value) else value)
        if is_rec and not callable(value):
            probe = probe[0]
        t = nc_type_of(probe)
        inner = 1
        for s in inner_shape:
            inner *= s
        nbytes = inner * NC_TYPES[t][1]
        metas.append(
            dict(
                name=name, vdims=vdims, value=value, is_rec=is_rec,
                inner_shape=inner_shape, nc_type=t, nbytes=nbytes,
                attrs=var_attrs,
            )
        )

    n_rec_vars = sum(1 for m in metas if m["is_rec"])

    def header_bytes(assign_begin: bool, begins: dict[str, int]) -> bytes:
        out = bytearray()
        out += b"CDF\x01"
        out += struct.pack(">I", n_records)
        out += struct.pack(">II", NC_DIMENSION, len(dims))
        for nm, ln in dims:
            b = nm.encode()
            out += struct.pack(">I", len(b)) + b + b"\x00" * (_pad4(len(b)) - len(b))
            out += struct.pack(">I", 0 if nm == record_dim else ln)
        out += attr_bytes(global_attrs)
        out += struct.pack(">II", NC_VARIABLE, len(metas))
        for m in metas:
            b = m["name"].encode()
            out += struct.pack(">I", len(b)) + b + b"\x00" * (_pad4(len(b)) - len(b))
            out += struct.pack(">I", len(m["vdims"]))
            for d in m["vdims"]:
                out += struct.pack(">I", dim_ix[d])
            out += attr_bytes(m["attrs"])
            out += struct.pack(">I", m["nc_type"])
            # vsize: padded (waived for a lone record var, per spec)
            pad = (
                m["nbytes"]
                if (m["is_rec"] and n_rec_vars == 1)
                else _pad4(m["nbytes"])
            )
            out += struct.pack(">I", min(pad, 2**32 - 4))
            out += struct.pack(">I", begins.get(m["name"], 0) if assign_begin else 0)
        return bytes(out)

    hdr_len = len(header_bytes(False, {}))
    begins: dict[str, int] = {}
    off = _pad4(hdr_len)
    for m in metas:  # fixed vars first, in declaration order
        if not m["is_rec"]:
            begins[m["name"]] = off
            off += _pad4(m["nbytes"])
    rec_start = off
    for m in metas:
        if m["is_rec"]:
            begins[m["name"]] = off
            step = m["nbytes"] if n_rec_vars == 1 else _pad4(m["nbytes"])
            off += step
    recsize = off - rec_start

    def be(a):
        return np.ascontiguousarray(a).astype(a.dtype.newbyteorder(">"))

    with open(path, "wb") as f:
        hdr = header_bytes(True, begins)
        f.write(hdr)
        f.write(b"\x00" * (_pad4(hdr_len) - hdr_len))
        for m in metas:
            if m["is_rec"]:
                continue
            f.seek(begins[m["name"]])
            a = be(np.asarray(m["value"]))
            f.write(a.tobytes())
            f.write(b"\x00" * (_pad4(m["nbytes"]) - m["nbytes"]))
        for r in range(n_records):
            for m in metas:
                if not m["is_rec"]:
                    continue
                f.seek(begins[m["name"]] + r * recsize)
                v = m["value"]
                a = np.asarray(v(r) if callable(v) else v[r])
                f.write(be(a).tobytes())
                pad = (
                    0
                    if n_rec_vars == 1
                    else _pad4(m["nbytes"]) - m["nbytes"]
                )
                f.write(b"\x00" * pad)
