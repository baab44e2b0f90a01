"""OPeNDAP (DAP 2.0) array client + in-process test server, from the
public spec — the live-protocol twin of the reference's THREDDS reads.

The reference opens ``http://tds.hycom.org/thredds/dodsC/GLBu0.08/...``
through pydap/netCDF4 and ships per-point index slices to the server
(``trackplot_hycom.py:110,176``). This module is the engine's one
remote grid transport:

- ``encode_constraint`` — index slices -> the DAP hyperslab projection
  ``?var[t0:t1][y0:y1][x0:x1]`` (DAP 2.0 §5.3 constraint expressions);
- ``DapDataset`` — fetches+parses ``.dds`` (dataset descriptor),
  ``.das`` (attributes) and sliced ``.dods`` (XDR data) responses,
  answering the same dataset contract as
  :class:`~modeltracking_spark.sources.netcdf_classic.NcFile` —
  ``read(var)``, ``read_strided(var, ranges)``, ``var_attrs(var)``,
  ``close()`` — so the grid DataSource consumes a DAP URL wherever it
  consumes a file;
- ``make_dap_handler`` — an http.server handler that serves ``.dds`` /
  ``.das`` / ``.dods`` for classic-netCDF files through the same
  contract (``NcFile.read_strided``: slice reads only), the loopback
  server of the tests and perfbench. It describes a file once, in the
  model the client's ``_parse_dds`` builds from a DDS (``_served``):
  ``_dds`` is the one DDS writer and ``parse_constraint`` resolves
  every projection in that table, so a ``.dods`` header lists exactly
  the variables whose XDR follows, in that order.

Wire format implemented from the spec: DDS text grammar (``Dataset {
Float64 var[dim = n]...; } name;``), and the ``.dods`` response = the
constrained DDS, the literal ``Data:`` separator line, then the XDR of
each projected variable. One codec writes and reads that XDR, the
client and the server alike: :data:`_DAP_TYPES` is the one type table
(wire dtype, read dtype), :func:`_xdr_encode` the one encoder (its
docstring gives the framing) and :func:`_xdr_decode` the one decoder.
Hyperslab STRIDES are supported end to end (``var[a:step:b]`` — the
server subsamples, so an every-Nth-step scan ships 1/N of the data).
The DAP 2.0 CONSTRUCTOR types decode too — Grid (array + coordinate
maps, the THREDDS shape the reference's HYCOM URL actually serves; the
array reads transparently under the grid's name, maps as ``g.map``),
Structure (members as ``s.member``), and Sequence (tabular; the
§7.2.3 instance markers via :meth:`DapDataset.read_sequence`). The
server serves classic-netCDF CHAR variables the THREDDS way (the
trailing string-length axis elides into a DAP String) and signed BYTE
variables the netCDF-Java way (a Byte whose DAS carries ``_Unsigned
"false"``, which the client reads back as int8). Constraints are
URL-percent-encoded on the wire and unquoted by the server, which
evaluates projections only: a selection (``&...``) is a 400 naming
it. Unknown declarations (DAP 2.0 has no Int64) stay typed rejects.

Scale posture: the grid reader asks for one ``.dods`` hyperslab per
physics variable per run of consecutive steps — the server does the
cut, the client never downloads the hypercube; ``n_fetches``/``n_bytes``
counters let tests assert it.
Every request goes through :meth:`DapDataset._get`: a timeout and one
retry (all of them are idempotent GETs), a body check against
``Content-Length``, and a :class:`DapRequestError` that names the URL
and the constraint.
"""

from __future__ import annotations

import re
import struct

from modeltracking_spark.sources.netcdf_classic import strided

#: DAP 2.0 atomic type -> (XDR wire dtype, dtype a read returns). XDR
#: widens 16-bit integers to a 4-byte word; String and its alias Url are
#: counted byte strings and have no wire dtype. A Byte is unsigned.
_DAP_TYPES = {
    "Byte": (">u1", "u1"),
    "Int16": (">i4", "i2"),
    "UInt16": (">u4", "u2"),
    "Int32": (">i4", "i4"),
    "UInt32": (">u4", "u4"),
    "Float32": (">f4", "f4"),
    "Float64": (">f8", "f8"),
    "String": (None, object),
    "Url": (None, object),
}
#: classic-netCDF nc_type -> the DAP type it is served as; a CHAR array
#: serves as String, its trailing string-length axis elided (the THREDDS
#: shape), and the signed BYTE as Byte with the DAS attribute
#: ``_Unsigned "false"`` (the netCDF-Java way), which the client reads
#: back as int8
_NC_DAP = {1: "Byte", 2: "String", 3: "Int16", 4: "Int32", 5: "Float32",
           6: "Float64"}
#: DAP 2.0 §7.2.3 Sequence markers: START_OF_INSTANCE before every
#: instance, END_OF_SEQUENCE after the last
_SEQ_INSTANCE, _SEQ_END = 0x5A000000, 0xA5000000


def encode_constraint(var: str, ranges: list[tuple]) -> str:
    """Hyperslab projection for ``var`` with INCLUSIVE index ranges —
    ``[(0, 4), (2, 2)]`` -> ``var[0:4][2:2]``; 3-tuples carry a stride:
    ``[(0, 2, 8)]`` -> ``var[0:2:8]`` (DAP 2.0 constraint syntax)."""
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*"
                        r"(?:\.[A-Za-z_][A-Za-z0-9_]*)*", var):
        raise ValueError(f"bad DAP variable name {var!r}")
    parts = []
    for a, step, b in strided(ranges):
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
        if typ not in _DAP_TYPES:
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
            if p is None or _DAP_TYPES.get(p[0], (None,))[0] is None:
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
                if p is None or p[0] not in _DAP_TYPES:
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


def _xdr_encode(typ: str, values, scalar: bool = False) -> bytes:
    """DAP ``typ`` values -> XDR, the one encoder of the wire format.

    An array is its element count twice, then its elements; a scalar (a
    0-dim variable, a Sequence column value) is the bare element. A
    String is a counted byte string (u32 length, then the bytes); a
    number is a big-endian word, and only the elements of a Byte array
    pack one byte each. Every string and every array body is zero-padded
    to 4 bytes."""
    import numpy as np

    from modeltracking_spark.sources.netcdf_classic import _pad4

    if typ not in _DAP_TYPES:
        raise NotImplementedError(
            f"XDR encoding for DAP type {typ!r} not implemented")
    wire = _DAP_TYPES[typ][0]
    if wire is None:
        items = [values] if scalar else list(values)
        body = bytearray()
        for v in items:
            raw = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            body += struct.pack(">I", len(raw)) + raw
            body += b"\x00" * (_pad4(len(raw)) - len(raw))
        n = len(items)
    else:
        if typ == "Byte":
            # a signed BYTE goes out as its two's-complement bits
            values = np.asarray(values).astype("u1")
            if scalar:
                wire = ">u4"  # a scalar Byte is a whole XDR word
        a = np.ascontiguousarray(values, dtype=wire)
        body, n = a.tobytes(), a.size
        body += b"\x00" * (_pad4(len(body)) - len(body))
    return bytes(body) if scalar else struct.pack(">II", n, n) + body


def _xdr_decode(buf: bytes, off: int, typ: str, n_expect: int | None):
    """XDR of DAP ``typ`` at ``buf[off:]`` -> (values, next offset), the
    inverse of :func:`_xdr_encode`.

    ``n_expect`` elements come back as a numpy array (a list of str for
    String and Url), and the array's count header must say ``n_expect``
    twice; ``n_expect=None`` reads one bare scalar as a Python value.
    Every length is bounds-checked before the slice."""
    import numpy as np

    from modeltracking_spark.sources.netcdf_classic import _pad4

    wire, final = _DAP_TYPES[typ]
    n = 1
    if n_expect is not None:
        if off + 8 > len(buf):
            raise ValueError("truncated XDR array header")
        n1, n2 = struct.unpack_from(">II", buf, off)
        if n1 != n2 or n1 != n_expect:
            raise ValueError(
                f"XDR count mismatch: header ({n1}, {n2}), DDS says "
                f"{n_expect}")
        off += 8
        n = n1
    if wire is None:
        vals = []
        for _ in range(n):
            if off + 4 > len(buf):
                raise ValueError("truncated XDR string length")
            (ln,) = struct.unpack_from(">I", buf, off)
            off += 4
            if ln > len(buf) - off:
                raise ValueError("truncated XDR string payload")
            vals.append(buf[off:off + ln].decode("utf-8"))
            off += _pad4(ln)
    else:
        if n_expect is None and typ == "Byte":
            wire = ">u4"  # a scalar Byte is a whole XDR word
        nbytes = _pad4(n * np.dtype(wire).itemsize)
        if off + nbytes > len(buf):
            raise ValueError("truncated XDR value")
        a = np.frombuffer(buf, dtype=wire, count=n, offset=off).astype(final)
        vals = a if n_expect is not None else a.tolist()
        off += nbytes
    return (vals if n_expect is not None else vals[0]), off


#: seconds a DAP request may wait on the server (to connect, or between
#: bytes of the reply) before the attempt is abandoned
DAP_TIMEOUT_S = 60.0
#: attempts per DAP request: one retry, since every request is a GET
DAP_ATTEMPTS = 2


class DapRequestError(OSError):
    """A DAP request that failed on every attempt; the message names the
    URL and the DAP constraint."""


class DapDataset:
    """DAP 2.0 client over a dataset URL (no trailing ``.dds``/``.dods``).

    ``read`` / ``read_strided`` / ``var_attrs`` / ``close`` (plus
    ``dims`` and ``read_slice``) mirror :class:`NcFile`, so grid
    pipelines can swap a ``dap+http://host/path`` URL for a file path.
    Values come back raw, as from a file; ``netcdf_classic.cf_unpack``
    decodes them with the attributes of ``var_attrs``.
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
        """GET ``full_url`` -> the reply body, counting the successful
        requests and their bytes.

        Each attempt times out after :data:`DAP_TIMEOUT_S`; a request is
        tried :data:`DAP_ATTEMPTS` times (every read is idempotent). A
        4xx reply is not retried. A body shorter or longer than its
        ``Content-Length`` counts as a failure. The final failure is a
        :class:`DapRequestError` naming the URL and the constraint.
        """
        import http.client
        import urllib.error
        import urllib.parse
        import urllib.request

        for attempt in range(1, DAP_ATTEMPTS + 1):
            try:
                with urllib.request.urlopen(
                    full_url, timeout=DAP_TIMEOUT_S
                ) as r:
                    body = r.read()
                    length = r.headers.get("Content-Length")
                if length is not None and len(body) != int(length):
                    raise ValueError(
                        f"body is {len(body)} bytes, Content-Length "
                        f"says {length}"
                    )
                self.n_fetches += 1
                self.n_bytes += len(body)
                return body
            except (OSError, http.client.HTTPException, ValueError) as exc:
                client_error = (
                    isinstance(exc, urllib.error.HTTPError) and exc.code < 500
                )
                if client_error or attempt == DAP_ATTEMPTS:
                    base, _, query = full_url.partition("?")
                    constraint = urllib.parse.unquote(query) or "(none)"
                    raise DapRequestError(
                        f"request failed after {attempt} attempt(s): "
                        f"{base} constraint {constraint!r}: {exc!r}"
                    ) from exc

    def _fetch_array(self, var: str, ranges: list[tuple]):
        import math
        import urllib.parse

        import numpy as np

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
        shape = [len(range(a, b + 1, s)) for a, s, b in strided(ranges)]
        off = sep + len(b"\nData:\n")
        vals, _ = _xdr_decode(body, off, typ,
                              math.prod(shape) if dims else None)
        a = np.asarray(vals, dtype=_DAP_TYPES[typ][1]).reshape(shape)
        if typ == "Byte" and self.var_attrs(var).get("_Unsigned") == "false":
            a = a.view("i1")  # a netCDF BYTE, served signed
        return a

    def shape(self, var: str) -> tuple[int, ...]:
        return tuple(sz for _, sz in self.vars[var][1])

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
                elif _DAP_TYPES.get(typ, (None,))[0] is not None:
                    num = float if typ.startswith("Float") else int
                    attrs[name] = [num(x) for x in raw.split(",")]
                else:
                    raise NotImplementedError(
                        f"DAS attribute type {typ!r} not implemented"
                    )
            out[container] = attrs
        return out

    def var_attrs(self, var: str) -> dict:
        """Attributes of one variable, from the ``.das`` response
        (fetched once per dataset handle and cached — one extra
        round-trip total, not one per record)."""
        if self._das_cache is None:
            self._das_cache = self.das()
        return self._das_cache.get(var, {})

    def read(self, var: str):
        """Whole variable (use for header-adjacent coordinate vectors)."""
        return self.read_strided(var, [])

    def read_strided(self, var: str, ranges: list[tuple]):
        """Arbitrary hyperslab with optional strides — 2-tuples (a, b)
        inclusive, 3-tuples (a, step, b), one per leading dimension;
        later dimensions are read whole. The SERVER subsamples; only
        the kept cells cross the wire (e.g. every 4th timestep of a
        year-long axis ships n/4 records)."""
        rest = [(0, sz - 1) for sz in self.shape(var)[len(ranges):]]
        return self._fetch_array(var, [*ranges, *rest])

    def read_slice(self, var: str, i: int):
        """Record ``i`` of ``var`` along its first dimension, without the
        record axis — NcFile.read_slice semantics. The server performs
        the hyperslab cut; only this record crosses the wire."""
        shape = self.shape(var)
        if not shape:
            raise ValueError(f"cannot slice scalar DAP variable {var!r}")
        if not 0 <= i < shape[0]:
            raise IndexError(f"{var}[{i}] out of range {shape[0]}")
        return self.read_strided(var, [(i, i)])[0]

    def read_sequence(self, name: str) -> dict:
        """Fetch a DAP 2.0 Sequence -> {column: list}. Wire format per
        spec §7.2.3: each instance is prefixed by the START_OF_INSTANCE
        marker :data:`_SEQ_INSTANCE` and the stream is closed by
        END_OF_SEQUENCE :data:`_SEQ_END`; within an instance each column
        value is one XDR scalar, read by :func:`_xdr_decode`."""
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
            if marker == _SEQ_END:
                break
            if marker != _SEQ_INSTANCE:
                raise ValueError(
                    f"bad DAP sequence marker 0x{marker:08x}")
            for col, typ in cols:
                v, off = _xdr_decode(body, off, typ, None)
                out[col].append(v)
        return out

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# in-process DAP server over classic netCDF files (tests and perfbench)
# ---------------------------------------------------------------------------

_SLAB = re.compile(r"\[(\d+)(?::(\d+))?(?::(\d+))?\]")


def _served(nc, grid_mode: bool = False, sequences: dict | None = None):
    """An NcFile as the server describes it, in the model
    :func:`_parse_dds` builds from a DDS: (vars, grids, sequences).

    ``vars`` is {name: (dap_type, [(dim_name, size), ...])} in file
    order. A CHAR variable is a String without its trailing
    string-length axis (the THREDDS shape). With ``grid_mode`` a
    variable of two or more dims, each backed by a same-named 1-D
    coordinate variable, is a Grid ``g``: ``grids[g]`` lists its maps
    and ``vars`` holds each map as ``g.<dim>``; the coordinate
    variables stay served on their own too. ``sequences`` ({name:
    {"cols": [(col, typ)...], "rows": [...]}}) gives {name: cols}.

    A variable the server cannot serve (a 0-dim CHAR, an nc_type with no
    DAP type) holds the :class:`NotImplementedError` in its type slot:
    only a request that renders or projects it fails."""
    def entry(v):
        typ = _NC_DAP.get(v.nc_type)
        dims = [(nc.dims[d][0], sz) for d, sz in zip(v.dim_ids, v.shape)]
        if typ is None:
            return NotImplementedError(
                f"DAP serving for nc_type {v.nc_type} not implemented"), dims
        if typ == "String":
            if not dims:
                return NotImplementedError(
                    "DAP serving for scalar CHAR not implemented"), dims
            return typ, dims[:-1]
        return typ, dims

    coords = {n for n, v in nc.vars.items()
              if len(v.dim_ids) == 1 and nc.dims[v.dim_ids[0]][0] == n}
    out: dict = {}
    grids: dict = {}
    for name, v in nc.vars.items():
        out[name] = entry(v)
        axes = [nc.dims[d][0] for d in v.dim_ids]
        if (grid_mode and name not in coords and len(axes) >= 2
                and out[name][0] != "String" and coords.issuperset(axes)):
            grids[name] = {"array": name,
                           "maps": [f"{name}.{d}" for d in axes]}
            for d in axes:
                out[f"{name}.{d}"] = entry(nc.vars[d])
    seqs = {s: [tuple(c) for c in spec["cols"]]
            for s, spec in (sequences or {}).items()}
    return out, grids, seqs


def _dds(dataset_name: str, variables: dict, grids: dict,
         sequences: dict) -> str:
    """The DDS text of a table in :func:`_parse_dds`'s model, its one
    writer: each variable in order, a Grid as its ``Grid`` block (the
    array, then its maps, each declared under its own name), then each
    Sequence. A ``.dds`` reply renders the whole :func:`_served` table,
    a ``.dods`` reply the projected one."""
    def decl(key, indent):
        typ, dims = variables[key]
        if isinstance(typ, Exception):
            raise typ
        shape = "".join(f"[{d} = {n}]" for d, n in dims)
        return f"{indent}{typ} {key.rpartition('.')[2]}{shape};"

    maps = {m for g in grids.values() for m in g["maps"]}
    lines = ["Dataset {"]
    for key in variables:
        if key in grids:
            lines += ["    Grid {", "     Array:", decl(key, " " * 8),
                      "     Maps:"]
            lines += [decl(m, " " * 8) for m in grids[key]["maps"]]
            lines.append(f"    }} {key};")
        elif key not in maps:
            lines.append(decl(key, "    "))
    for name, cols in sequences.items():
        lines.append("    Sequence {")
        lines += [f"        {typ} {col};" for col, typ in cols]
        lines.append(f"    }} {name};")
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
        if _NC_DAP.get(v.nc_type) == "Byte":
            out += render({"_Unsigned": "false", **v.attrs})
        else:
            out += render(v.attrs)
        out.append("    }")
    out.append("    NC_GLOBAL {")
    out += render(nc.attrs)
    out.append("    }")
    out.append("}")
    return "\n".join(out) + "\n"


def parse_constraint(served: tuple, query: str) -> tuple[dict, dict, dict]:
    """The projections of ``query`` (``var[a:b][c],...``), each looked
    up in a :func:`_served` table -> (slabs, grids, sequences), the
    projected parts of that table:

    - ``slabs`` {name: [(a, step, b) per dim]} in the order the reply
      ships them; unconstrained trailing dims are whole, and so is a
      bare ``var``;
    - ``g.g[...]`` projects the array of Grid ``g`` (under ``g``) and
      ``g.m[...]`` its map ``m``; a bare ``g``, with or without a
      hyperslab, is the Grid instance: ``grids`` gains ``g``, and its
      maps follow the array in ``slabs``, each cut as the array's axis;
    - ``sequences`` {name: cols}: each projected Sequence, shipped whole
      after the arrays.

    The server evaluates no selection: a clause after ``&`` raises
    ``ValueError`` naming it, rather than answering unfiltered."""
    variables, grids, seqs = served
    projections, *selections = query.split("&")
    if any(selections):
        raise ValueError(
            f"DAP selection {'&'.join(filter(None, selections))!r} not "
            f"supported: this server evaluates projections only")
    slabs: dict = {}
    pgrids: dict = {}
    pseqs: dict = {}
    for proj in filter(None, projections.split(",")):
        m = re.fullmatch(r"([\w.]+)((?:\[[^\]]*\])*)", proj)
        if not m:
            raise ValueError(f"bad DAP projection {proj!r}")
        name, text = m.groups()
        if name in seqs:
            pseqs[name] = seqs[name]
            continue
        head, dot, member = name.partition(".")
        if dot and grids:
            if head not in grids:
                raise ValueError(f"no DAP grid {head!r}")
            if member != head and name not in grids[head]["maps"]:
                raise ValueError(f"no map {member!r} in grid {head!r}")
        elif dot or name not in variables:
            raise ValueError(f"bad DAP projection {proj!r}")
        key = head if member == head else name
        typ, dims = variables[key]
        if isinstance(typ, Exception):
            raise typ
        ranges = strided(
            tuple(int(x) for x in sm.groups() if x is not None)
            for sm in _SLAB.finditer(text))
        for i, (a, step, b) in enumerate(ranges):
            if step < 1 or i >= len(dims) or not 0 <= a <= b < dims[i][1]:
                raise ValueError(
                    f"constraint [{a}:{step}:{b}] out of bounds")
        ranges += [(0, 1, n - 1) for _, n in dims[len(ranges):]]
        if key in grids and not dot:
            # the Grid instance: its array and maps ship together
            pgrids[key] = grids[key]
            for k in (key, *grids[key]["maps"]):
                slabs.pop(k, None)
            slabs[key] = ranges
            slabs.update(zip(grids[key]["maps"], ([r] for r in ranges)))
        else:
            slabs[key] = ranges
    return slabs, pgrids, pseqs


def _xdr_sequence(seq: dict) -> bytes:
    """Sequence rows -> the spec's §7.2.3 stream: :data:`_SEQ_INSTANCE`
    before every instance, columns XDR-encoded at scalar width,
    :data:`_SEQ_END` after the last."""
    out = bytearray()
    for row in seq["rows"]:
        out += struct.pack(">I", _SEQ_INSTANCE)
        for (_col, typ), val in zip(seq["cols"], row):
            out += _xdr_encode(typ, val, scalar=True)
    out += struct.pack(">I", _SEQ_END)
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
    """An http.server request handler serving ``<file>.dds``,
    ``<file>.das`` and ``<file>.dods?constraint`` for classic-netCDF
    files under ``root_dir``.

    A request describes its file once, as the :func:`_served` table.
    The ``.dds`` reply renders that table (:func:`_dds`);
    :func:`parse_constraint` resolves a ``.dods`` projection in it, and
    the reply is the projected table's DDS, then the XDR of exactly
    those variables in that order. Every projected array is one
    ``NcFile.read_strided`` (record-slice reads only: the server never
    materializes a record variable it isn't shipping). A request with
    no constraint ships every variable whole.

    ``grid_mode`` serves coordinate-backed variables as DAP Grid
    constructors, the THREDDS shape: the table gains the Grids and
    their ``g.map`` entries. ``sequences`` ({name: {"cols": [(col,
    typ)...], "rows": [...]}}), keyed per served filename under
    ``<fname>!<seq>`` or globally under the sequence name, adds
    Sequence blocks."""
    import http.server
    import os
    import urllib.parse

    from modeltracking_spark.sources.netcdf_classic import NcFile

    def dods(nc, fname: str, seqs: dict, query: str) -> bytes:
        served = _served(nc, grid_mode, seqs)
        slabs, pgrids, pseqs = parse_constraint(
            served, query or ",".join(nc.vars))
        pvars = {}
        for key, ranges in slabs.items():
            typ, dims = served[0][key]
            pvars[key] = (typ, [(d, len(range(a, b + 1, step)))
                                for (d, _), (a, step, b) in zip(dims, ranges)])
        chunks = [_dds(fname, pvars, pgrids, pseqs).encode(), b"\nData:\n"]
        for key, ranges in slabs.items():
            typ = pvars[key][0]
            a = nc.read_strided(key.rpartition(".")[2], ranges)
            if typ == "String":
                # CHAR rows, NUL-padded to the strlen axis
                a = [row.tobytes().rstrip(b"\x00")
                     for row in a.reshape(-1, a.shape[-1])]
                a = a if ranges else a[0]
            # a 0-dim projection ships the bare value
            chunks.append(_xdr_encode(typ, a, scalar=not ranges))
        chunks += [_xdr_sequence(seqs[s]) for s in pseqs]
        return b"".join(chunks)

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
            stem, dot, ext = parsed.path[1:].rpartition(".")
            if not dot or ext not in ("dds", "das", "dods"):
                self._reply(404, b"not found", "text/plain")
                return
            fn = os.path.join(root_dir, stem)
            fname = os.path.basename(fn)
            try:
                nc = NcFile(fn)
                try:
                    seqs = _file_sequences(sequences, fname)
                    if ext == "dds":
                        body = _dds(fname, *_served(nc, grid_mode, seqs)
                                    ).encode()
                    elif ext == "das":
                        body = _das_text(nc, fname).encode()
                    else:
                        body = dods(nc, fname, seqs,
                                    urllib.parse.unquote(parsed.query))
                finally:
                    nc.close()
            except FileNotFoundError:
                self._reply(404, b"no such dataset", "text/plain")
            except (ValueError, NotImplementedError) as exc:
                self._reply(400, str(exc).encode(), "text/plain")
            else:
                self._reply(200, body, "application/octet-stream"
                            if ext == "dods" else "text/plain")

    return DapHandler


def open_nc_or_dap(path_or_url: str):
    """``dap+http(s)://`` URLs -> :class:`DapDataset`; a local path or
    ``file://`` -> :class:`NcFile`. A bare ``http(s)://`` path is a
    ``ValueError`` naming the ``dap+`` form: DAP is the one remote
    transport. The seam grid pipelines call instead of NcFile directly."""
    if path_or_url.startswith(("dap+http://", "dap+https://")):
        return DapDataset(path_or_url)
    if path_or_url.startswith(("http://", "https://")):
        raise ValueError(
            f"{path_or_url}: a remote grid is read over DAP; "
            f"use dap+{path_or_url}"
        )
    from modeltracking_spark.sources.netcdf_classic import NcFile

    return NcFile(path_or_url)
