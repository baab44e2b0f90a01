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
(b) one record slice per call. The grid DataSource parses the header
once per ``.load()`` and ships the closed :class:`NcFile` to its tasks;
each task reopens only the file handle, reads the byte range of each
kept record, and emits one Arrow batch per record. A remote grid is
read over DAP (``sources/dap.py``), which serves these files.

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

The reader and :func:`write_classic` share each rule: one type table
(:data:`NC_TYPES`), one record-stride rule (:func:`_record_strides`)
and one encoding of a name or attribute value (:func:`_counted`).

The header is read in one pass: the first read is 64 KiB, and the parse
reads more, from the end of what it holds, only when it runs past it.
A bad header raises ``ValueError`` naming the path, with no read past
what the parse reached: a magic that is not ``CDF\\x01``/``CDF\\x02``,
a bad list tag, a name, attribute or list whose length runs past the
end of the file, an attribute nc_type outside 1-6, a dimension id the
file does not declare, or a variable ``begin`` outside the file.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field


class FileRangeReader:
    """seek+read over ONE persistent handle (re-opening per record was the
    old reader's N+1 quirk — the same anti-pattern the reference has at
    ``trackplot_hycom.py:144``, re-opening the remote dataset per point).
    The handle opens on first use and ``close()`` drops it, so a closed
    reader pickles and reopens wherever it is next read."""

    def __init__(self, path: str):
        self.path = path
        self._f = None

    def _handle(self):
        if self._f is None:
            self._f = open(self.path, "rb")
        return self._f

    def size(self) -> int:
        import os

        return os.fstat(self._handle().fileno()).st_size

    def read_range(self, off: int, nbytes: int) -> bytes:
        f = self._handle()
        f.seek(off)
        return f.read(nbytes)

    def close(self) -> None:
        if self._f is not None:
            self._f.close()
            self._f = None


NC_DIMENSION = 0x0A
NC_VARIABLE = 0x0B
NC_ATTRIBUTE = 0x0C

#: nc_type -> (big-endian numpy dtype, size in bytes); S1 = CHAR, the
#: classic format's string carrier (fixed-width char arrays)
NC_TYPES = {
    1: (">i1", 1),
    2: ("S1", 1),
    3: (">i2", 2),
    4: (">i4", 4),
    5: (">f4", 4),
    6: (">f8", 8),
}
#: numpy (kind, itemsize) -> nc_type, the writer's inverse of NC_TYPES
_NP_TO_NC = {(dt.lstrip(">")[0], size): t
             for t, (dt, size) in NC_TYPES.items()}
#: the first header read; the parse reads on only if the header is longer
_HEAD_BYTES = 64 * 1024


def _pad4(n: int) -> int:
    return (n + 3) & ~3


def _record_strides(nbytes: list[int]) -> list[int]:
    """Each record variable's stride within a record, from its unpadded
    per-record byte sizes in file order: padded to 4 bytes, except that
    a lone record variable is not padded (the spec's waiver). Their sum
    is ``recsize``; a stride past its size is zero padding."""
    return nbytes if len(nbytes) == 1 else [_pad4(n) for n in nbytes]


def _counted(raw: bytes, n: int | None = None) -> bytes:
    """``n`` (by default ``len(raw)``) as a u32, then ``raw`` NUL-padded
    to 4 bytes: a name (its byte length, then its UTF-8) and an
    attribute's values (their element count, then their bytes)."""
    n = len(raw) if n is None else n
    return struct.pack(">I", n) + raw + b"\x00" * (_pad4(len(raw)) - len(raw))


def strided(ranges) -> list[tuple[int, int, int]]:
    """Index ranges as ``(a, step, b)`` triples, ``b`` inclusive: an
    inclusive ``(a, b)`` is ``(a, 1, b)``, a bare ``(a,)`` is ``(a, 1,
    a)``, and a strided ``(a, step, b)`` stays. The one reading of the
    range forms that ``read_strided`` and the DAP constraint take."""
    return [tuple(r) if len(r) == 3 else (r[0], 1, r[-1]) for r in ranges]


def cf_unpack(a, attrs: dict):
    """CF-convention mask-and-scale (what the reference's netCDF4 stack
    does automatically under ``set_auto_maskandscale``): values equal to
    ``missing_value``/``_FillValue`` become NaN, then
    ``packed * scale_factor + add_offset``. Only applied when ``attrs``
    carries any of those; always returns float64 when it does (a
    masked/scaled int has no exact int representation). The one CF
    decoder: callers pass the attributes of any dataset's ``var_attrs``,
    so every backend decodes packed int16 grids to identical physics
    values."""
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
    def native_dtype(self):
        import numpy as np

        return np.dtype(self.dtype).newbyteorder("=")

    @property
    def itemsize(self) -> int:
        return NC_TYPES[self.nc_type][1]

    def slice_nbytes(self) -> int:
        """Unpadded byte size of one first-dimension slice."""
        inner = 1
        for s in self.shape[1:]:
            inner *= s
        return inner * self.itemsize


class _Header:
    """A forward cursor over a file's header that reads only as far as
    the parse goes: it starts with the first :data:`_HEAD_BYTES` and,
    when a field runs past what it holds, reads on from there (at least
    doubling what it holds, so a long header costs a few reads). A
    field that would run past the end of the file raises ``ValueError``
    naming the path, before anything past it is read."""

    def __init__(self, reader: FileRangeReader, path: str):
        self.reader, self.path = reader, path
        self.size = reader.size()
        self.buf = reader.read_range(0, min(_HEAD_BYTES, self.size))
        self.off = 0

    def take(self, n: int) -> bytes:
        end = self.off + n
        if end > len(self.buf) and end <= self.size:
            want = min(max(end, 2 * len(self.buf)), self.size)
            self.buf += self.reader.read_range(len(self.buf),
                                               want - len(self.buf))
        if end > len(self.buf):
            raise ValueError(
                f"{self.path}: header field at offset {self.off} runs "
                f"past the end of the {self.size}-byte file")
        self.off = end
        return self.buf[end - n:end]

    def u32(self) -> int:
        return struct.unpack(">I", self.take(4))[0]

    def i64(self) -> int:
        return struct.unpack(">q", self.take(8))[0]

    def counted(self, itemsize: int = 1) -> tuple[int, bytes]:
        """The inverse of :func:`_counted`: (n, the n items' bytes)."""
        n = self.u32()
        return n, self.take(_pad4(n * itemsize))[:n * itemsize]

    def name(self) -> str:
        return self.counted()[1].decode("utf-8")

    def list_len(self, tag: int, what: str, min_item: int) -> int:
        """A list's tag and length; an absent list is two zeros. A list
        whose items (``min_item`` bytes each at least) cannot fit in the
        rest of the file raises before any of them is read."""
        got, n = self.u32(), self.u32()
        if got == 0 and n == 0:
            return 0
        if got != tag:
            raise ValueError(f"{self.path}: bad {what} list tag {got:#x}")
        if self.off + n * min_item > self.size:
            raise ValueError(
                f"{self.path}: {n} {what}s cannot fit in the "
                f"{self.size}-byte file")
        return n

    def nc_type(self, what: str) -> int:
        t = self.u32()
        if t not in NC_TYPES:
            raise ValueError(f"{self.path}: {what} has nc_type {t}, "
                             f"not a classic type (1-6)")
        return t

    def attr_list(self) -> dict:
        import numpy as np

        out = {}
        for _ in range(self.list_len(NC_ATTRIBUTE, "attribute", 12)):
            nm = self.name()
            t = self.nc_type(f"attribute {nm!r}")
            dt, size = NC_TYPES[t]
            n, raw = self.counted(size)
            out[nm] = (raw.decode("utf-8", errors="replace") if t == 2
                       else np.frombuffer(raw, dtype=dt, count=n).tolist())
        return out


class NcFile:
    """Parsed classic-netCDF header with sliced data access.

    ``read(var)`` loads a whole variable; ``read_slice(var, i)`` reads
    ONLY slice ``i`` along the first dimension (record or fixed) via one
    contiguous range read; ``read_strided(var, ranges)`` reads a
    hyperslab from the kept slices; ``var_attrs(var)`` gives the raw CF
    attributes — the dataset contract :class:`DapDataset
    <modeltracking_spark.sources.dap.DapDataset>` shares.

    ``path`` is a local path or ``file://…``; a remote grid is a
    :class:`DapDataset <modeltracking_spark.sources.dap.DapDataset>`.
    All reads in this object's lifetime share ONE
    :class:`FileRangeReader` (one file handle) — nothing re-opens per
    record. ``close()`` drops the handle and keeps the parsed header, so
    a closed file pickles and reads again without re-parsing.
    """

    def __init__(self, path: str):
        self.path = path
        self.reader = FileRangeReader(path.removeprefix("file://"))
        c = _Header(self.reader, path)
        magic = c.take(4)
        if magic[:3] != b"CDF" or magic[3] not in (1, 2):
            raise ValueError(f"{path}: not a classic netCDF file")
        self.version = magic[3]
        self.numrecs = c.u32()
        self.dims: list[tuple[str, int]] = []
        self.rec_dim_id: int | None = None
        for i in range(c.list_len(NC_DIMENSION, "dim", 8)):
            nm = c.name()
            ln = c.u32()
            if ln == 0:
                self.rec_dim_id = i
            self.dims.append((nm, ln))
        self.attrs = c.attr_list()
        self.vars: dict[str, NcVar] = {}
        rec_vars: list[NcVar] = []
        # a variable is at least 28 bytes (32 with CDF-2's 64-bit begin)
        var_min = 28 if self.version == 1 else 32
        for _ in range(c.list_len(NC_VARIABLE, "var", var_min)):
            nm = c.name()
            nd = c.u32()
            dim_ids = list(struct.unpack(f">{nd}I", c.take(4 * nd)))
            if any(d >= len(self.dims) for d in dim_ids):
                raise ValueError(
                    f"{path}: variable {nm!r} has dimension ids {dim_ids}, "
                    f"the file declares {len(self.dims)}")
            is_rec = bool(dim_ids) and dim_ids[0] == self.rec_dim_id
            vattrs = c.attr_list()
            # a record variable's size sets every record's layout; a
            # fixed one of another type parses, and fails when read
            nc_type = (c.nc_type(f"record variable {nm!r}") if is_rec
                       else c.u32())
            vsize = c.u32()
            begin = c.i64() if self.version == 2 else c.u32()
            # only a record variable with no records may begin past the end
            if begin <= 0 or (begin > c.size and (self.numrecs or not is_rec)):
                raise ValueError(
                    f"{path}: variable {nm!r} begins at {begin}, outside "
                    f"the {c.size}-byte file")
            shape = tuple(
                self.numrecs if (j == 0 and is_rec) else self.dims[d][1]
                for j, d in enumerate(dim_ids)
            )
            v = NcVar(nm, dim_ids, nc_type, vsize, begin, shape, is_rec, vattrs)
            self.vars[nm] = v
            if is_rec:
                rec_vars.append(v)
        self.recsize = sum(_record_strides([v.slice_nbytes() for v in rec_vars]))

    def close(self) -> None:
        self.reader.close()

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

    def var_attrs(self, var: str) -> dict:
        return self.vars[var].attrs

    def read_slice(self, var: str, i: int):
        """var[i, ...] as a native-endian numpy array, reading only that
        slice's bytes (record vars: ``begin + i*recsize``; fixed vars:
        ``begin + i*slice_bytes``)."""
        import numpy as np

        v = self.vars[var]
        n = v.shape[0] if v.shape else 1
        if not 0 <= i < n:
            raise IndexError(f"{var}[{i}] out of range {n}")
        nbytes = v.slice_nbytes()
        off = v.begin + i * (self.recsize if v.is_record else nbytes)
        raw = self._read_checked(off, nbytes, f"{var}[{i}]")
        arr = np.frombuffer(raw, dtype=v.dtype).astype(v.native_dtype)
        # scalar-per-slice (1-D record var) -> 0-d so stacked reads give
        # the natural (n,) shape
        return arr.reshape(v.shape[1:])

    def read_strided(self, var: str, ranges: list[tuple]):
        """``var`` cut to ``ranges``: one inclusive ``(a, b)`` or strided
        ``(a, step, b)`` range per leading dimension, later dimensions
        read whole. Reads only the kept first-dimension slices
        (:meth:`read_slice`) and cuts the rest from them; a range that
        keeps no slice (a zero-record variable) gives an empty array."""
        import numpy as np

        if not ranges:
            return self.read(var)
        (a, step, b), *rest = strided(ranges)
        cut = tuple(slice(x, y + 1, st) for x, st, y in rest)
        rows = [self.read_slice(var, i)[cut] for i in range(a, b + 1, step)]
        if rows:
            return np.stack(rows)
        v = self.vars[var]
        return np.empty((0, *v.shape[1:]), v.native_dtype)[(slice(None), *cut)]

    def read(self, var: str):
        """The whole variable: a record variable through
        :meth:`read_strided` (one handle, not one open per record), a
        fixed one in one range read."""
        import numpy as np

        v = self.vars[var]
        if v.is_record:
            return self.read_strided(var, [(0, v.shape[0] - 1)])
        nbytes = v.slice_nbytes() * (v.shape[0] if v.shape else 1)
        raw = self._read_checked(v.begin, nbytes, var)
        arr = np.frombuffer(raw, dtype=v.dtype)
        return (arr.reshape(v.shape) if v.shape else arr).astype(v.native_dtype)


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
    import math

    import numpy as np

    dim_ix = {nm: i for i, (nm, _) in enumerate(dims)}
    dim_len = dict(dims)

    def nc_type_of(a) -> int:
        k = (a.dtype.kind, a.dtype.itemsize)
        if k not in _NP_TO_NC:
            raise ValueError(f"unsupported dtype {a.dtype}")
        return _NP_TO_NC[k]

    def attr_bytes(attrs: dict | None) -> bytes:
        if not attrs:
            return struct.pack(">II", 0, 0)
        out = bytearray(struct.pack(">II", NC_ATTRIBUTE, len(attrs)))
        for nm, val in attrs.items():
            if isinstance(val, str):
                t, raw = 2, val.encode()
            else:
                a = np.asarray(val)
                if a.dtype.kind == "i" and a.dtype.itemsize == 8:
                    a = a.astype(np.int32)  # CDF-1 has no int64 attrs
                t = nc_type_of(a)
                raw = np.ascontiguousarray(
                    a.reshape(-1), dtype=NC_TYPES[t][0]
                ).tobytes()
            out += _counted(nm.encode()) + struct.pack(">I", t)
            out += _counted(raw, len(raw) // NC_TYPES[t][1])
        return bytes(out)

    # per variable: its nc_type, ``nbytes`` (one record's bytes for a
    # record variable, the whole variable's otherwise) and ``vsize``,
    # the bytes it takes in the file (in each record, for a record one)
    metas = []
    for name, vdims, value, *var_attrs in variables:
        is_rec = bool(record_dim is not None and vdims
                      and vdims[0] == record_dim)
        probe = np.asarray(value(0) if callable(value) else value)
        if is_rec and not callable(value):
            probe = probe[0]
        t = nc_type_of(probe)
        inner = vdims[1:] if is_rec else vdims
        nbytes = math.prod(dim_len[d] for d in inner) * NC_TYPES[t][1]
        metas.append(dict(
            name=name, vdims=vdims, value=value, is_rec=is_rec, nc_type=t,
            nbytes=nbytes, vsize=_pad4(nbytes),
            attrs=var_attrs[0] if var_attrs else None,
        ))
    rec_metas = [m for m in metas if m["is_rec"]]
    for m, stride in zip(rec_metas,
                         _record_strides([m["nbytes"] for m in rec_metas])):
        m["vsize"] = stride
    recsize = sum(m["vsize"] for m in rec_metas)

    def header_bytes(begins: dict[str, int]) -> bytes:
        out = bytearray(b"CDF\x01")
        out += struct.pack(">III", n_records, NC_DIMENSION, len(dims))
        for nm, ln in dims:
            out += _counted(nm.encode())
            out += struct.pack(">I", 0 if nm == record_dim else ln)
        out += attr_bytes(global_attrs)
        out += struct.pack(">II", NC_VARIABLE, len(metas))
        for m in metas:
            out += _counted(m["name"].encode())
            out += struct.pack(f">{1 + len(m['vdims'])}I", len(m["vdims"]),
                               *(dim_ix[d] for d in m["vdims"]))
            out += attr_bytes(m["attrs"])
            out += struct.pack(">III", m["nc_type"],
                               min(m["vsize"], 2**32 - 4),
                               begins.get(m["name"], 0))
        return bytes(out)

    # every header field is 4-byte aligned, so data starts right after
    # it: fixed variables first, then one record's worth of record
    # variables, each group in declaration order
    begins: dict[str, int] = {}
    off = len(header_bytes(begins))
    for m in sorted(metas, key=lambda m: m["is_rec"]):
        begins[m["name"]] = off
        off += m["vsize"]

    with open(path, "wb") as f:

        def put(m, off: int, a) -> None:
            f.seek(off)
            a = np.ascontiguousarray(a).astype(a.dtype.newbyteorder(">"))
            f.write(a.tobytes())
            f.write(b"\x00" * (m["vsize"] - m["nbytes"]))

        f.write(header_bytes(begins))
        for m in metas:
            if not m["is_rec"]:
                put(m, begins[m["name"]], np.asarray(m["value"]))
        for r in range(n_records):
            for m in rec_metas:
                v = m["value"]
                put(m, begins[m["name"]] + r * recsize,
                    np.asarray(v(r) if callable(v) else v[r]))
