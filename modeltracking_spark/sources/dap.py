"""OPeNDAP (DAP 2.0) array client + in-process test server, from the
public spec — the live-protocol twin of the reference's THREDDS reads.

The reference opens ``http://tds.hycom.org/thredds/dodsC/GLBu0.08/...``
through pydap/netCDF4 and ships per-point index slices to the server
(``trackplot_hycom.py:110,176``). Rounds 5-6 built the byte-grain
stand-in (classic-netCDF over HTTP Range,
``sources/netcdf_classic.py``); this module adds the VARIABLE-grain
protocol itself (VERDICT r6 item 7):

- ``encode_constraint`` — index slices -> the DAP hyperslab projection
  ``?var[t0:t1][y0:y1][x0:x1]`` (DAP 2.0 §5.3 constraint expressions);
- ``DapDataset`` — fetches+parses ``.dds`` (dataset descriptor) and
  sliced ``.dods`` (XDR data) responses, exposing the same
  ``dims`` / ``read(var)`` / ``read_slice(var, t)`` surface as
  :class:`~modeltracking_spark.sources.netcdf_classic.NcFile`, so the
  grid DataSource can consume a DAP URL wherever it consumes a file;
- ``make_dap_handler`` — an http.server handler that serves ``.dds`` /
  ``.dods`` for classic-netCDF files via :class:`NcFile` (slice reads
  only), the loopback test-server pattern of tests/test_netcdf.py.

Wire format implemented from the spec: DDS text grammar (``Dataset {
Float64 var[dim = n]...; } name;``), and the ``.dods`` response = the
constrained DDS, the literal ``Data:`` separator line, then one XDR
array per projected variable — two big-endian u32 element counts
followed by the values, with Int16 widened to 4 bytes (XDR's smallest
integer) and Byte arrays zero-padded to a 4-byte boundary. Hyperslab
STRIDES are supported end to end (``var[a:step:b]`` — the server
subsamples, so an every-Nth-step scan ships 1/N of the data).
Round 13 closes the former pydap plug-in point: the DAP 2.0
CONSTRUCTOR types decode too — Grid (array + coordinate maps, the
THREDDS shape the reference's HYCOM URL actually serves; the array
reads transparently under the grid's name, maps as ``g.map``),
Structure (members as ``s.member``), and Sequence (tabular; §7.2.3
0x5A/0xA5 instance markers via :meth:`DapDataset.read_sequence`).
Round 14 closes the atomic surface COMPLETELY: STRING — XDR counted
byte strings (u32 length + bytes + pad4) decode in arrays (the (n, n)
array header followed by per-element counted strings) and in
Sequence columns, and the server side surfaces classic-netCDF CHAR
variables the THREDDS way (the trailing string-length axis elides
into a DAP String); Url (the spec's string alias) rides the same
paths; UInt16/UInt32 decode everywhere the signed types do (XDR
widens UInt16 to 4 bytes exactly like Int16). Constraints are
URL-percent-encoded on the wire and unquoted by the server — the
full round-trip is exercised live. Unknown declarations (DAP 2.0
has no Int64) stay typed rejects.

Scale posture: one ``.dods`` round-trip per (variable, record) — the
server does the hyperslab cut, the client never downloads the
hypercube; ``n_fetches``/``n_bytes`` counters let tests assert it.
Every request goes through :func:`http_get`, which the classic-netCDF
HTTP range reader shares: a timeout and one retry (all of them are
idempotent GETs), a body check against ``Content-Length``, and a
:class:`DapRequestError` that names the URL and the constraint.
"""

from __future__ import annotations

import re
import struct

#: nc_type -> (DAP 2.0 type name, XDR wire itemsize, numpy wire dtype)
_NC_TO_DAP = {
    1: ("Byte", 1, ">i1"),
    3: ("Int16", 4, ">i4"),   # XDR widens 16-bit ints to 4 bytes
    4: ("Int32", 4, ">i4"),
    5: ("Float32", 4, ">f4"),
    6: ("Float64", 8, ">f8"),
}
#: DAP type name -> (XDR itemsize, wire dtype, final numpy dtype)
#: (round 14 closes the unsigned pair: XDR widens UInt16 to 4 bytes
#: exactly like Int16)
_DAP_TYPES = {
    "Byte": (1, ">i1", "i1"),
    "Int16": (4, ">i4", "i2"),
    "UInt16": (4, ">u4", "u2"),
    "Int32": (4, ">i4", "i4"),
    "UInt32": (4, ">u4", "u4"),
    "Float32": (4, ">f4", "f4"),
    "Float64": (8, ">f8", "f8"),
}

#: String-shaped atomics (Url is DAP 2.0's string alias)
_DAP_STRINGS = ("String", "Url")


def encode_constraint(var: str, ranges: list[tuple]) -> str:
    """Hyperslab projection for ``var`` with INCLUSIVE index ranges —
    ``[(0, 4), (2, 2)]`` -> ``var[0:4][2:2]``; 3-tuples carry a stride:
    ``[(0, 2, 8)]`` -> ``var[0:2:8]`` (DAP 2.0 constraint syntax)."""
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*"
                        r"(?:\.[A-Za-z_][A-Za-z0-9_]*)*", var):
        raise ValueError(f"bad DAP variable name {var!r}")
    parts = []
    for r in ranges:
        a, step, b = (r[0], 1, r[1]) if len(r) == 2 else r
        if a < 0 or b < a or step < 1:
            raise ValueError(f"bad DAP index range [{a}:{step}:{b}]")
        parts.append(f"[{a}:{b}]" if step == 1 else f"[{a}:{step}:{b}]")
    return var + "".join(parts)


def _parse_atomic_decl(decl: str):
    """``Type name[dim = n]...`` -> (type, name, dims) or None."""
    dm = re.fullmatch(r"(\w+)\s+([\w.]+)((?:\s*\[[^\]]*\])*)",
                      decl.strip())
    if not dm:
        return None
    typ, var, dimtxt = dm.groups()
    dims = []
    for dim in re.findall(r"\[([^\]]*)\]", dimtxt):
        nm = re.fullmatch(r"\s*(?:(\w+)\s*=\s*)?(\d+)\s*", dim)
        if not nm:
            raise ValueError(f"bad DDS dimension {dim!r} in {decl!r}")
        dims.append((nm.group(1) or "", int(nm.group(2))))
    return typ, var, dims


def _split_decls(body: str) -> list[str]:
    """Split a DDS body into declarations at top-level ``;`` only
    (constructor blocks carry nested ``;``)."""
    out = []
    depth = 0
    cur = []
    for ch in body:
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth < 0:
                raise ValueError("unbalanced DDS braces")
        if ch == ";" and depth == 0:
            decl = "".join(cur).strip()
            if decl:
                out.append(decl)
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        raise ValueError("trailing DDS declaration without ';'")
    if depth:
        raise ValueError("unbalanced DDS braces")
    return out


def _parse_dds(text: str):
    """DDS parse: atomic array declarations plus the DAP 2.0
    constructor types (round 13 — the former pydap plug-in point):

    - ``Grid { ARRAY: <decl>; MAPS: <decls> } name;`` — the array
      registers under the grid's own name (reads stay transparent,
      pydap-style) and each map under ``name.map``;
    - ``Structure { <decls> } name;`` — members under
      ``name.member``;
    - ``Sequence { <scalar decls> } name;`` — tabular; columns are
      returned by :meth:`DapDataset.read_sequence`, not ``read``.

    Returns (dataset_name, vars, grids, sequences) where ``vars`` is
    {flat_name: (dap_type, [(dim_name, size), ...])}, ``grids``
    {name: {"array": flat, "maps": [flat...]}} and ``sequences``
    {name: [(column, dap_type), ...]}."""
    m = re.fullmatch(
        r"\s*Dataset\s*\{(.*)\}\s*([^;{}]+);\s*", text, re.S
    )
    if not m:
        raise ValueError(f"unparseable DDS: {text[:120]!r}")
    body, name = m.group(1), m.group(2).strip()
    out: dict = {}
    grids: dict = {}
    sequences: dict = {}

    def add_atomic(decl, prefix=""):
        p = _parse_atomic_decl(decl)
        if p is None:
            raise NotImplementedError(
                f"DAP declaration {decl.strip()[:60]!r} not implemented")
        typ, var, dims = p
        if typ not in _DAP_TYPES and typ not in _DAP_STRINGS:
            raise NotImplementedError(
                f"DAP type {typ!r} not implemented")
        out[prefix + var] = (typ, dims)
        return prefix + var

    for decl in _split_decls(body):
        cm = re.fullmatch(
            r"(Grid|Structure|Sequence)\s*\{(.*)\}\s*([\w.]+)",
            decl, re.S)
        if cm is None:
            add_atomic(decl)
            continue
        kind, cbody, cname = cm.group(1), cm.group(2), cm.group(3)
        if kind == "Grid":
            gm = re.fullmatch(
                r"\s*Array\s*:(.*?)Maps\s*:(.*)", cbody, re.S | re.I)
            if not gm:
                raise ValueError(
                    f"DAP Grid {cname!r} without Array:/Maps: parts")
            (arr_decl,) = _split_decls(gm.group(1))
            p = _parse_atomic_decl(arr_decl)
            if p is None or p[0] not in _DAP_TYPES:
                # a String-typed Grid array has no THREDDS analog
                raise NotImplementedError(
                    f"DAP Grid {cname!r} array type not implemented")
            typ, _avar, dims = p
            # the grid reads transparently under its OWN name
            out[cname] = (typ, dims)
            maps = []
            for mdecl in _split_decls(gm.group(2)):
                maps.append(add_atomic(mdecl, prefix=f"{cname}."))
            grids[cname] = {"array": cname, "maps": maps}
        elif kind == "Structure":
            for mdecl in _split_decls(cbody):
                add_atomic(mdecl, prefix=f"{cname}.")
        else:  # Sequence
            cols = []
            for mdecl in _split_decls(cbody):
                p = _parse_atomic_decl(mdecl)
                if p is None or (p[0] not in _DAP_TYPES
                                 and p[0] not in _DAP_STRINGS):
                    raise NotImplementedError(
                        f"DAP Sequence {cname!r} column not "
                        "implemented (atomic scalar columns are)")
                typ, col, dims = p
                if dims:
                    raise NotImplementedError(
                        "array columns inside a DAP Sequence not "
                        "implemented")
                cols.append((col, typ))
            if not cols:
                raise ValueError(f"empty DAP Sequence {cname!r}")
            sequences[cname] = cols
    return name, out, grids, sequences


def _xdr_encode(a) -> bytes:
    """numpy array -> XDR counted array (two u32 counts + padded data)."""
    import numpy as np

    from modeltracking_spark.sources.netcdf_classic import _pad4

    nc_type = {
        ("i", 1): 1, ("i", 2): 3, ("i", 4): 4, ("f", 4): 5, ("f", 8): 6,
    }.get((a.dtype.kind, a.dtype.itemsize))
    if nc_type is None:
        raise NotImplementedError(f"XDR encoding for dtype {a.dtype} not implemented")
    _, wire_size, wire_dtype = _NC_TO_DAP[nc_type]
    n = int(a.size)
    raw = np.ascontiguousarray(a, dtype=wire_dtype).tobytes()
    raw += b"\x00" * (_pad4(len(raw)) - len(raw))
    return struct.pack(">II", n, n) + raw


def _xdr_encode_strings(strings) -> bytes:
    """list of str/bytes -> XDR counted-string array: the (n, n)
    array header, then each element as a counted byte string (u32
    length + bytes, zero-padded to 4) — DAP 2.0 String on the wire."""
    from modeltracking_spark.sources.netcdf_classic import _pad4

    out = bytearray(struct.pack(">II", len(strings), len(strings)))
    for v in strings:
        raw = v.encode("utf-8") if isinstance(v, str) else bytes(v)
        out += struct.pack(">I", len(raw)) + raw
        out += b"\x00" * (_pad4(len(raw)) - len(raw))
    return bytes(out)


def _xdr_encode_scalar(a) -> bytes:
    """0-dim numpy value -> bare XDR value (no array count header):
    DAP 2.0 transmits SCALAR variables as the value alone, 4-padded —
    only arrays carry the doubled count (ADVICE r14)."""
    import numpy as np

    from modeltracking_spark.sources.netcdf_classic import _pad4

    nc_type = {
        ("i", 1): 1, ("i", 2): 3, ("i", 4): 4, ("f", 4): 5, ("f", 8): 6,
    }.get((a.dtype.kind, a.dtype.itemsize))
    if nc_type is None:
        raise NotImplementedError(
            f"XDR encoding for dtype {a.dtype} not implemented")
    _, _, wire_dtype = _NC_TO_DAP[nc_type]
    raw = np.ascontiguousarray(a, dtype=wire_dtype).tobytes()
    return raw + b"\x00" * (_pad4(len(raw)) - len(raw))


def _xdr_encode_scalar_string(v) -> bytes:
    """str -> bare XDR counted string (length + 4-padded bytes, NO
    (n, n) array header) — the DAP 2.0 scalar String framing."""
    from modeltracking_spark.sources.netcdf_classic import _pad4

    raw = v.encode("utf-8") if isinstance(v, str) else bytes(v)
    return (struct.pack(">I", len(raw)) + raw
            + b"\x00" * (_pad4(len(raw)) - len(raw)))


def _xdr_decode_scalar_string(buf: bytes, off: int):
    """Bare XDR counted string at ``buf[off:]`` -> (str, next offset);
    scalar Strings ship WITHOUT the (n, n) array header (real DAP 2.0
    servers — THREDDS/Hyrax — frame 0-dim Strings this way; ADVICE
    r14)."""
    from modeltracking_spark.sources.netcdf_classic import _pad4

    if off + 4 > len(buf):
        raise ValueError("truncated XDR scalar string length")
    (ln,) = struct.unpack_from(">I", buf, off)
    off += 4
    if ln > len(buf) - off:
        raise ValueError("truncated XDR scalar string payload")
    return buf[off:off + ln].decode("utf-8"), off + _pad4(ln)


def _xdr_decode_strings(buf: bytes, off: int, n_expect: int):
    """XDR counted-string array at ``buf[off:]`` -> (list[str], next
    offset); every length is bounds-checked before the slice."""
    from modeltracking_spark.sources.netcdf_classic import _pad4

    if off + 8 > len(buf):
        raise ValueError("truncated XDR string array header")
    n1, n2 = struct.unpack_from(">II", buf, off)
    if n1 != n2 or n1 != n_expect:
        raise ValueError(
            f"XDR count mismatch: header ({n1}, {n2}), DDS says "
            f"{n_expect}")
    off += 8
    out = []
    for _ in range(n1):
        if off + 4 > len(buf):
            raise ValueError("truncated XDR string length")
        (ln,) = struct.unpack_from(">I", buf, off)
        off += 4
        if ln > len(buf) - off:
            raise ValueError("truncated XDR string payload")
        out.append(buf[off:off + ln].decode("utf-8"))
        off += _pad4(ln)
    return out, off


def _xdr_decode(buf: bytes, off: int, typ: str, n_expect: int):
    """XDR counted array at ``buf[off:]`` -> (numpy array, next offset)."""
    import numpy as np

    from modeltracking_spark.sources.netcdf_classic import _pad4

    wire_size, wire_dtype, final_dtype = _DAP_TYPES[typ]
    n1, n2 = struct.unpack_from(">II", buf, off)
    if n1 != n2 or n1 != n_expect:
        raise ValueError(
            f"XDR count mismatch: header ({n1}, {n2}), DDS says {n_expect}"
        )
    off += 8
    nbytes = _pad4(n1 * wire_size)
    if off + nbytes > len(buf):
        raise ValueError("truncated XDR array in .dods response")
    a = np.frombuffer(buf, dtype=wire_dtype, count=n1, offset=off)
    return a.astype(final_dtype), off + nbytes


#: seconds a remote read (a DAP request or an HTTP range read) may wait
#: on the server (to connect, or between bytes of the reply) before the
#: attempt is abandoned
DAP_TIMEOUT_S = 60.0
#: attempts per remote read: one retry, since every request is a GET
DAP_ATTEMPTS = 2


class DapRequestError(OSError):
    """A remote read that failed on every attempt; the message names the
    URL and the DAP constraint or the byte range."""


def http_get(url: str, byte_range: tuple[int, int] | None):
    """GET ``url`` -> ``(status, headers, body)``; a ``byte_range``
    (inclusive ``(first, last)``) is sent as a ``Range`` header.

    The one HTTP path of the remote readers: :meth:`DapDataset._get` and
    :class:`~modeltracking_spark.sources.netcdf_classic.HttpRangeReader`.
    Each attempt times out after :data:`DAP_TIMEOUT_S`; a request is
    tried :data:`DAP_ATTEMPTS` times (every read is idempotent). A 4xx
    reply is not retried. A body shorter or longer than its
    ``Content-Length`` counts as a failure. The final failure is a
    :class:`DapRequestError` naming the URL and the constraint or range.
    """
    import http.client
    import urllib.error
    import urllib.parse
    import urllib.request

    headers = {}
    if byte_range is not None:
        headers["Range"] = f"bytes={byte_range[0]}-{byte_range[1]}"
    for attempt in range(1, DAP_ATTEMPTS + 1):
        try:
            req = urllib.request.Request(url, headers=headers)
            with urllib.request.urlopen(req, timeout=DAP_TIMEOUT_S) as r:
                body = r.read()
                status, reply = r.status, r.headers
            length = reply.get("Content-Length")
            if length is not None and len(body) != int(length):
                raise ValueError(
                    f"body is {len(body)} bytes, Content-Length "
                    f"says {length}"
                )
            return status, reply, body
        except (OSError, http.client.HTTPException, ValueError) as exc:
            client_error = (
                isinstance(exc, urllib.error.HTTPError) and exc.code < 500
            )
            if client_error or attempt == DAP_ATTEMPTS:
                base, _, query = url.partition("?")
                what = (
                    f"range {headers['Range']}" if headers else
                    f"constraint {urllib.parse.unquote(query) or '(none)'!r}"
                )
                raise DapRequestError(
                    f"request failed after {attempt} attempt(s): "
                    f"{base} {what}: {exc!r}"
                ) from exc


class DapDataset:
    """DAP 2.0 client over a dataset URL (no trailing ``.dds``/``.dods``).

    ``dims`` / ``read`` / ``read_slice`` mirror :class:`NcFile`, so grid
    pipelines can swap a ``dap+http://host/path`` URL for a file path.
    """

    def __init__(self, url: str):
        if url.startswith("dap+http://"):
            url = "http://" + url[len("dap+http://"):]
        elif url.startswith("dap+https://"):
            url = "https://" + url[len("dap+https://"):]
        self.url = url
        self.n_fetches = 0
        self.n_bytes = 0
        self._das_cache: dict | None = None
        self.name, self.vars, self.grids, self.sequences = _parse_dds(
            self._get(f"{url}.dds").decode("ascii")
        )
        # dims in declaration-order first-appearance, NcFile style
        seen: dict[str, int] = {}
        for _, dims in self.vars.values():
            for dn, sz in dims:
                if dn:
                    seen.setdefault(dn, sz)
        self.dims = list(seen.items())

    def _get(self, full_url: str) -> bytes:
        """GET ``full_url`` through :func:`http_get`, counting the
        successful requests and their bytes."""
        _, _, body = http_get(full_url, None)
        self.n_fetches += 1
        self.n_bytes += len(body)
        return body

    def _fetch_array(self, var: str, ranges: list[tuple]):
        import urllib.parse

        typ, dims = self.vars[var]
        # a Grid's array projects fully qualified (``g.g[...]``) so
        # the server ships the bare array, not the Grid constructor
        proj = f"{var}.{var}" if var in self.grids else var
        # percent-encode the hyperslab (brackets/colons are not in
        # the query-safe set); the server unquotes — the URL-encoded
        # constraint round-trip is part of the protocol surface
        body = self._get(
            f"{self.url}.dods?"
            f"{urllib.parse.quote(encode_constraint(proj, ranges))}"
        )
        sep = body.find(b"\nData:\n")
        if sep < 0:
            raise ValueError("missing Data: separator in .dods response")
        n = 1
        shape = []
        for r in ranges:
            a, step, b = (r[0], 1, r[1]) if len(r) == 2 else r
            d = len(range(a, b + 1, step))
            shape.append(d)
            n *= d
        off = sep + len(b"\nData:\n")
        import numpy as np

        if not dims:
            # 0-dim variable: DAP 2.0 ships a SCALAR as the bare value
            # (bare counted string / bare 4-padded value), never the
            # (n, n) array header — match real servers (ADVICE r14)
            if typ in _DAP_STRINGS:
                s, _ = _xdr_decode_scalar_string(body, off)
                return np.array(s, dtype=object)
            from modeltracking_spark.sources.netcdf_classic import _pad4

            wire_size, wire_dtype, final_dtype = _DAP_TYPES[typ]
            if off + _pad4(wire_size) > len(body):
                raise ValueError("truncated XDR scalar value")
            return np.frombuffer(
                body, dtype=wire_dtype, count=1, offset=off
            ).astype(final_dtype).reshape(())
        if typ in _DAP_STRINGS:
            vals, _ = _xdr_decode_strings(body, off, n)
            return np.array(vals, dtype=object).reshape(shape)
        a, _ = _xdr_decode(body, off, typ, n)
        return a.reshape(shape)

    def shape(self, var: str) -> tuple[int, ...]:
        return tuple(sz for _, sz in self.vars[var][1])

    def dim_size(self, name: str) -> int:
        """NcFile surface parity (record dims report their DDS length)."""
        for dn, sz in self.dims:
            if dn == name:
                return sz
        raise KeyError(f"no DAP dimension {name!r}")

    def das(self) -> dict:
        """Fetch + parse the ``.das`` attribute structure ->
        ``{container: {attr: value}}`` — containers are variable names
        plus ``NC_GLOBAL``. Values: String -> str, integer types ->
        list[int], float types -> list[float] (DAP attributes are
        vectors, like netCDF's)."""
        text = self._get(f"{self.url}.das").decode("utf-8")
        m = re.fullmatch(r"\s*Attributes\s*\{(.*)\}\s*", text, re.S)
        if not m:
            raise ValueError(f"unparseable DAS: {text[:120]!r}")
        out: dict[str, dict] = {}
        for cm in re.finditer(
            r"(\w+)\s*\{((?:[^{}])*)\}", m.group(1), re.S
        ):
            container, body = cm.group(1), cm.group(2)
            attrs: dict = {}
            for am in re.finditer(
                r"(\w+)\s+(\w+)\s+((?:\"(?:[^\"\\]|\\.)*\")|[^;]+);", body
            ):
                typ, name, raw = am.groups()
                raw = raw.strip()
                if typ == "String":
                    attrs[name] = (
                        raw[1:-1].replace('\\"', '"').replace("\\\\", "\\")
                    )
                elif typ in ("Byte", "Int16", "Int32", "UInt16", "UInt32"):
                    attrs[name] = [int(x) for x in raw.split(",")]
                elif typ in ("Float32", "Float64"):
                    attrs[name] = [float(x) for x in raw.split(",")]
                else:
                    raise NotImplementedError(
                        f"DAS attribute type {typ!r} not implemented"
                    )
            out[container] = attrs
        return out

    def var_attrs(self, var: str) -> dict:
        """Attributes of one variable, from the ``.das`` response
        (fetched once per dataset handle and cached — one extra
        round-trip total, not one per record). NcFile surface parity:
        ``nc.vars[v].attrs`` there, ``nc.var_attrs(v)`` here; grid
        readers use :func:`modeltracking_spark.sources.grid_source._var_cf_attrs`
        to see both uniformly."""
        if self._das_cache is None:
            self._das_cache = self.das()
        return self._das_cache.get(var, {})

    def _cf_unpack(self, var: str, a):
        from modeltracking_spark.sources.netcdf_classic import cf_unpack

        return cf_unpack(a, self.var_attrs(var))

    def read(self, var: str, apply_cf: bool = False):
        """Whole variable (use for header-adjacent coordinate vectors).
        ``apply_cf=True`` mask-and-scales per the DAS CF attributes,
        exactly like ``NcFile.read`` — a packed int16 dataset served
        over ``dap+http://`` decodes to the same physics values as the
        same file read by path."""
        ranges = [(0, sz - 1) for sz in self.shape(var)]
        if not ranges:  # scalar
            out = self._fetch_array(var, []).reshape(())
        else:
            out = self._fetch_array(var, ranges)
        return self._cf_unpack(var, out) if apply_cf else out

    def read_strided(self, var: str, ranges: list[tuple]):
        """Arbitrary hyperslab with optional strides — 2-tuples (a, b)
        inclusive, 3-tuples (a, step, b). The SERVER subsamples; only
        the kept cells cross the wire (e.g. every 4th timestep of a
        year-long axis ships n/4 records)."""
        return self._fetch_array(var, list(ranges))

    def read_slice(self, var: str, i: int, apply_cf: bool = False):
        """Record ``i`` of ``var`` along its first dimension, without the
        record axis — NcFile.read_slice semantics (including
        ``apply_cf``). The server performs the hyperslab cut; only this
        record crosses the wire."""
        shape = self.shape(var)
        if not shape:
            raise ValueError(f"cannot slice scalar DAP variable {var!r}")
        if not 0 <= i < shape[0]:
            raise IndexError(f"{var}[{i}] out of range {shape[0]}")
        ranges = [(i, i)] + [(0, sz - 1) for sz in shape[1:]]
        out = self._fetch_array(var, ranges)[0]
        return self._cf_unpack(var, out) if apply_cf else out

    def read_sequence(self, name: str) -> dict:
        """Fetch a DAP 2.0 Sequence -> {column: list} (round 13).
        Wire format per spec §7.2.3: each instance prefixed by the
        START_OF_INSTANCE marker 0x5A000000, the stream closed by
        END_OF_SEQUENCE 0xA5000000; within an instance each column
        value is XDR-encoded at its wire width (Int16/Int32 -> 4
        bytes big-endian, Float32 -> 4, Float64 -> 8, Byte -> 4 per
        XDR scalar padding)."""
        cols = self.sequences.get(name)
        if cols is None:
            raise KeyError(f"no DAP sequence {name!r}")
        body = self._get(f"{self.url}.dods?{name}")
        sep = body.find(b"\nData:\n")
        if sep < 0:
            raise ValueError("missing Data: separator in .dods response")
        off = sep + len(b"\nData:\n")
        out: dict = {c: [] for c, _ in cols}
        while True:
            if off + 4 > len(body):
                raise ValueError("truncated DAP sequence stream")
            (marker,) = struct.unpack_from(">I", body, off)
            off += 4
            if marker == 0xA5000000:  # END_OF_SEQUENCE
                break
            if marker != 0x5A000000:  # START_OF_INSTANCE
                raise ValueError(
                    f"bad DAP sequence marker 0x{marker:08x}")
            for col, typ in cols:
                if typ in _DAP_STRINGS:
                    # XDR counted byte string, zero-padded to 4
                    from modeltracking_spark.sources.netcdf_classic \
                        import _pad4

                    if off + 4 > len(body):
                        raise ValueError("truncated DAP sequence row")
                    (ln,) = struct.unpack_from(">I", body, off)
                    off += 4
                    if ln > len(body) - off:
                        raise ValueError(
                            "truncated DAP sequence string")
                    out[col].append(body[off:off + ln].decode("utf-8"))
                    off += _pad4(ln)
                    continue
                wire_size, wire_dtype, final = _DAP_TYPES[typ]
                # XDR scalars occupy at least 4 bytes
                size = max(4, wire_size)
                if off + size > len(body):
                    raise ValueError("truncated DAP sequence row")
                if typ in ("Byte", "Int16", "Int32"):
                    (v,) = struct.unpack_from(">i", body, off)
                    out[col].append(int(v))
                elif typ in ("UInt16", "UInt32"):
                    (v,) = struct.unpack_from(">I", body, off)
                    out[col].append(int(v))
                elif typ == "Float32":
                    (v,) = struct.unpack_from(">f", body, off)
                    out[col].append(float(v))
                else:  # Float64
                    (v,) = struct.unpack_from(">d", body, off)
                    out[col].append(float(v))
                off += size
        return out

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# in-process DAP server over classic netCDF files (tests only)
# ---------------------------------------------------------------------------

_SLAB = re.compile(r"\[(\d+)(?::(\d+))?(?::(\d+))?\]")


_NCT_DAP = {1: "Byte", 3: "Int16", 4: "Int32", 5: "Float32",
            6: "Float64"}


def _var_decl(nc, name: str, ranges=None, indent: str = "    ",
              decl_name: str | None = None) -> str:
    v = nc.vars[name]
    if v.nc_type == 2:
        # classic-netCDF CHAR arrays serve as DAP String with the
        # trailing string-length axis elided — the THREDDS shape
        if not v.dim_ids:
            raise NotImplementedError(
                "DAP serving for scalar CHAR not implemented")
        typ = "String"
        dim_pairs = list(zip(v.dim_ids, v.shape))[:-1]
    else:
        typ = _NCT_DAP.get(v.nc_type)
        if typ is None:
            raise NotImplementedError(
                f"DAP serving for nc_type {v.nc_type} not implemented"
            )
        dim_pairs = list(zip(v.dim_ids, v.shape))
    dims = []
    for di, sz in dim_pairs:
        dn = nc.dims[di][0]
        full = nc.numrecs if v.is_record and di == nc.rec_dim_id else sz
        if ranges is not None:
            a, st_, b = ranges[len(dims)]
            full = len(range(a, b + 1, st_))
        dims.append(f"[{dn} = {full}]")
    return f"{indent}{typ} {decl_name or name}{''.join(dims)};"


def _grid_vars(nc) -> dict:
    """Variables that qualify as DAP Grids: >= 2 dims, every dim
    backed by a same-named 1-D coordinate variable (the THREDDS
    shape the reference's HYCOM reads see)."""
    coords = {n for n, v in nc.vars.items()
              if len(v.dim_ids) == 1 and nc.dims[v.dim_ids[0]][0] == n}
    out = {}
    for name, v in nc.vars.items():
        if name in coords or len(v.dim_ids) < 2 or v.nc_type == 2:
            continue
        dims = [nc.dims[di][0] for di in v.dim_ids]
        if all(d in coords for d in dims):
            out[name] = dims
    return out


def _dds_text(nc, dataset_name: str, only: dict | None = None,
              grid_mode: bool = False,
              sequences: dict | None = None) -> str:
    """DDS for an NcFile — optionally constrained to ``only``
    ({var: [(a, b), ...]}).  With ``grid_mode`` (round 13),
    coordinate-backed record variables render as DAP Grid
    constructors (array + maps); ``sequences`` render as Sequence
    blocks."""
    lines = ["Dataset {"]
    grids = _grid_vars(nc) if grid_mode and only is None else {}
    for name, v in nc.vars.items():
        if only is not None and name not in only:
            continue
        if name in grids:
            lines.append("    Grid {")
            lines.append("     Array:")
            lines.append(_var_decl(nc, name, None, "        "))
            lines.append("     Maps:")
            for d in grids[name]:
                lines.append(_var_decl(nc, d, None, "        "))
            lines.append(f"    }} {name};")
            continue
        lines.append(_var_decl(nc, name, only.get(name)
                               if only is not None else None))
    for sname, seq in (sequences or {}).items():
        if only is not None and sname not in only:
            continue
        lines.append("    Sequence {")
        for col, typ in seq["cols"]:
            lines.append(f"        {typ} {col};")
        lines.append(f"    }} {sname};")
    lines.append(f"}} {dataset_name};")
    return "\n".join(lines) + "\n"


def _das_text(nc, dataset_name: str) -> str:
    """DAS for an NcFile: one container per variable (its attrs) plus
    NC_GLOBAL — the DAP 2.0 attribute-structure grammar."""

    def render(attrs: dict) -> list[str]:
        lines = []
        for nm, val in attrs.items():
            if isinstance(val, str):
                esc = val.replace("\\", "\\\\").replace('"', '\\"')
                lines.append(f'        String {nm} "{esc}";')
            else:
                vals = val if isinstance(val, list) else [val]
                if all(isinstance(v, int) for v in vals):
                    typ = "Int32"
                    body = ", ".join(str(v) for v in vals)
                else:
                    typ = "Float64"
                    body = ", ".join(repr(float(v)) for v in vals)
                lines.append(f"        {typ} {nm} {body};")
        return lines

    out = ["Attributes {"]
    for name, v in nc.vars.items():
        out.append(f"    {name} {{")
        out += render(v.attrs)
        out.append("    }")
    out.append("    NC_GLOBAL {")
    out += render(nc.attrs)
    out.append("    }")
    out.append("}")
    return "\n".join(out) + "\n"


def parse_constraint(nc, query: str) -> dict:
    """``var[a:b][c]&...`` -> {var: [(a, b) per dim]} (stride must be 1;
    full ranges filled in for unconstrained trailing dims)."""
    out: dict[str, list[tuple[int, int]]] = {}
    for proj in filter(None, query.split("&")[0].split(",")):
        m = re.fullmatch(r"(\w+)((?:\[[^\]]*\])*)", proj)
        if not m or m.group(1) not in nc.vars:
            raise ValueError(f"bad DAP projection {proj!r}")
        var = m.group(1)
        v = nc.vars[var]
        shape = list(v.shape)
        if v.is_record:
            shape[0] = nc.numrecs
        if v.nc_type == 2:
            # CHAR serves as String: the strlen axis is the payload,
            # not a constrainable dimension
            if not shape:
                raise NotImplementedError(
                    "DAP serving for scalar CHAR not implemented")
            shape = shape[:-1]
        ranges = []
        for sm in _SLAB.finditer(m.group(2)):
            a, mid, last = sm.groups()
            if last is not None:  # var[a:stride:b]
                a, step, b = int(a), int(mid), int(last)
            elif mid is not None:
                a, step, b = int(a), 1, int(mid)
            else:
                a, step, b = int(a), 1, int(a)
            if step < 1 or not (0 <= a <= b < shape[len(ranges)]):
                raise ValueError(
                    f"constraint [{a}:{step}:{b}] out of bounds"
                )
            ranges.append((a, step, b))
        ranges += [(0, 1, sz - 1) for sz in shape[len(ranges):]]
        out[var] = ranges
    return out


def _resolve_grid_query(nc, q: str) -> str:
    """Rewrite grid-mode projections to the underlying variables:
    ``g.g[...]`` -> the array, ``g.map[...]`` -> that coordinate,
    bare ``g[...]`` -> the array plus its maps sliced by the
    corresponding axes (the Grid instance shape)."""
    grids = _grid_vars(nc)
    parts = []
    for proj in filter(None, q.split("&")[0].split(",")):
        m = re.fullmatch(r"([\w.]+)((?:\[[^\]]*\])*)", proj)
        if not m:
            raise ValueError(f"bad DAP projection {proj!r}")
        name, slabs = m.groups()
        if "." in name:
            parent, _, member = name.partition(".")
            if parent not in grids:
                raise ValueError(f"no DAP grid {parent!r}")
            if member == parent:
                parts.append(parent + slabs)
            elif member in grids[parent]:
                parts.append(member + slabs)
            else:
                raise ValueError(
                    f"no map {member!r} in grid {parent!r}")
        elif name in grids and slabs:
            slab_list = re.findall(r"\[[^\]]*\]", slabs)
            parts.append(name + slabs)
            for d, sl in zip(grids[name], slab_list):
                parts.append(d + sl)
            parts.extend(grids[name][len(slab_list):])
        else:
            parts.append(proj)
    return ",".join(parts)


def _xdr_sequence(seq: dict) -> bytes:
    """Sequence rows -> the spec's §7.2.3 stream: 0x5A000000 before
    every instance, columns XDR-encoded at scalar width, 0xA5000000
    after the last."""
    from modeltracking_spark.sources.netcdf_classic import _pad4

    out = bytearray()
    for row in seq["rows"]:
        out += struct.pack(">I", 0x5A000000)
        for (col, typ), val in zip(seq["cols"], row):
            if typ in ("Byte", "Int16", "Int32"):
                out += struct.pack(">i", int(val))
            elif typ in ("UInt16", "UInt32"):
                out += struct.pack(">I", int(val))
            elif typ == "Float32":
                out += struct.pack(">f", float(val))
            elif typ == "Float64":
                out += struct.pack(">d", float(val))
            elif typ in ("String", "Url"):
                raw = (val.encode("utf-8") if isinstance(val, str)
                       else bytes(val))
                out += struct.pack(">I", len(raw)) + raw
                out += b"\x00" * (_pad4(len(raw)) - len(raw))
            else:
                raise NotImplementedError(
                    f"DAP sequence column type {typ!r} not implemented")
    out += struct.pack(">I", 0xA5000000)
    return bytes(out)


def _file_sequences(sequences: dict | None, fname: str) -> dict:
    """Resolve the server's sequence config for one served file:
    ``'<fname>!<seq>'`` keys bind to that file only (sharded corpora
    — one endpoint per partition), bare keys serve under every
    file."""
    out: dict = {}
    for k, v in (sequences or {}).items():
        if "!" in k:
            f, _, sname = k.partition("!")
            if f == fname:
                out[sname] = v
        else:
            out[k] = v
    return out


def make_dap_handler(root_dir: str, grid_mode: bool = False,
                     sequences: dict | None = None):
    """An http.server request handler serving ``<file>.dds`` and
    ``<file>.dods?constraint`` for classic-netCDF files under
    ``root_dir`` — record-slice reads only (the server never
    materializes a record variable it isn't shipping).

    ``grid_mode`` (round 13) serves coordinate-backed variables as
    DAP Grid constructors — the THREDDS shape — accepting qualified
    projections (``g.g[...]``, ``g.map[...]``) and bare-grid
    projections (array followed by the sliced maps, per spec).
    ``sequences`` ({name: {"cols": [(col, typ)...], "rows": [...]}}),
    keyed per served filename under ``<fname>!<seq>`` or globally
    under the sequence name, adds Sequence blocks."""
    import http.server
    import os
    import urllib.parse

    import numpy as np

    from modeltracking_spark.sources.netcdf_classic import NcFile

    class DapHandler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _reply(self, code: int, body: bytes, ctype: str):
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            parsed = urllib.parse.urlparse(self.path)
            path = parsed.path
            try:
                if path.endswith(".dds"):
                    fn = os.path.join(root_dir, path[1:-len(".dds")])
                    nc = NcFile(fn)
                    body = _dds_text(
                        nc, os.path.basename(fn), grid_mode=grid_mode,
                        sequences=_file_sequences(
                            sequences, os.path.basename(fn))).encode()
                    nc.close()
                    self._reply(200, body, "text/plain")
                elif path.endswith(".das"):
                    fn = os.path.join(root_dir, path[1:-len(".das")])
                    nc = NcFile(fn)
                    body = _das_text(nc, os.path.basename(fn)).encode()
                    nc.close()
                    self._reply(200, body, "text/plain")
                elif path.endswith(".dods"):
                    fn = os.path.join(root_dir, path[1:-len(".dods")])
                    nc = NcFile(fn)
                    q = urllib.parse.unquote(parsed.query)
                    base = q.split("[")[0]
                    seq = _file_sequences(
                        sequences, os.path.basename(fn)).get(base)
                    if seq is not None:
                        dds = _dds_text(
                            nc, os.path.basename(fn),
                            sequences={base: seq}, only={base: None},
                        ).encode()
                        nc.close()
                        self._reply(
                            200, dds + b"\nData:\n" + _xdr_sequence(seq),
                            "application/octet-stream")
                        return
                    if grid_mode and q:
                        q = _resolve_grid_query(nc, q)
                    def full_ranges(v):
                        shape = list(nc.vars[v].shape)
                        if nc.vars[v].is_record and shape:
                            shape[0] = nc.numrecs
                        if nc.vars[v].nc_type == 2:
                            shape = shape[:-1]  # strlen axis -> String
                        return [(0, 1, s - 1) for s in shape]

                    only = parse_constraint(nc, q) if q else {
                        v: full_ranges(v) for v in nc.vars
                    }
                    dds = _dds_text(
                        nc, os.path.basename(fn), only
                    ).encode()
                    chunks = [dds, b"\nData:\n"]
                    for var, ranges in only.items():
                        v = nc.vars[var]
                        # CHAR: ranges cover the kept dims; the
                        # trailing strlen axis ships whole, joined
                        # into DAP String payloads below
                        tail = ((slice(None),)
                                if v.nc_type == 2 else ())
                        if v.is_record and v.dim_ids:
                            t0, tstep, t1 = ranges[0]
                            recs = [
                                nc.read_slice(var, t)[
                                    tuple(slice(a, b + 1, st_)
                                          for a, st_, b in ranges[1:])
                                    + tail
                                ]
                                for t in range(t0, t1 + 1, tstep)
                            ]
                            a = np.stack(recs) if recs else np.empty(0)
                        else:
                            a = nc.read(var)[
                                tuple(slice(x, y + 1, st_)
                                      for x, st_, y in ranges)
                                + tail
                            ]
                        # a 0-dim projection (scalar variable) ships
                        # the bare value — no (n, n) array header
                        # (DAP 2.0 scalar framing, ADVICE r14)
                        scalar = not ranges and not v.is_record
                        if v.nc_type == 2:
                            flat = a.reshape(-1, a.shape[-1])
                            strings = [
                                row.tobytes().rstrip(b"\x00")
                                .decode("utf-8") for row in flat
                            ]
                            if scalar:
                                chunks.append(
                                    _xdr_encode_scalar_string(
                                        strings[0]))
                            else:
                                chunks.append(
                                    _xdr_encode_strings(strings))
                        elif scalar:
                            chunks.append(_xdr_encode_scalar(a))
                        else:
                            chunks.append(_xdr_encode(a))
                    nc.close()
                    self._reply(200, b"".join(chunks), "application/octet-stream")
                else:
                    self._reply(404, b"not found", "text/plain")
            except FileNotFoundError:
                self._reply(404, b"no such dataset", "text/plain")
            except (ValueError, NotImplementedError) as exc:
                self._reply(400, str(exc).encode(), "text/plain")

    return DapHandler


def open_nc_or_dap(path_or_url: str):
    """``dap+http(s)://`` URLs -> :class:`DapDataset`; everything else ->
    :class:`NcFile` (which itself routes http(s) through byte-range
    reads). The seam grid pipelines call instead of NcFile directly."""
    if path_or_url.startswith(("dap+http://", "dap+https://")):
        return DapDataset(path_or_url)
    from modeltracking_spark.sources.netcdf_classic import NcFile

    return NcFile(path_or_url)
