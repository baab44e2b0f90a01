"""From-spec figure SINK (SURVEY.md §2.1 S8): render the reference's
``fig_test.png`` panels (``trackplot_hycom.py:266-305``) with NO
plotting library — a deterministic numpy rasterizer feeding the repo's
own from-spec PNG encoder (:mod:`modeltracking_spark.operators.png`).

The reference draws two panels: a profile scatter colored by value
(``trackplot_hycom.py:266-279``) and a track map over the field bbox
(``:281-303``), then ``savefig('fig_test.png')`` (``:305``).  Here the
engine's contract is unchanged — the distributed plan produces the
small plot-ready table (:mod:`modeltracking_spark.plotting`), and the
sink rasterizes that driver-sized frame: colormapped cells, Bresenham
polylines, a labelled colorbar, PNG bytes from our RFC-2083 encoder.
Everything is integer/deterministic: the same inputs yield
byte-identical PNGs on every run, so golden-md5 tests pin the sink.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------- colormap

# Piecewise-linear "thermal" ramp (own design): deep blue -> cyan ->
# yellow -> red.  Anchors are interpolated to a 256-entry LUT once.
_ANCHORS = np.array(
    [
        (13, 8, 135),
        (84, 39, 143),
        (0, 150, 200),
        (80, 200, 120),
        (240, 220, 40),
        (230, 80, 20),
        (160, 0, 0),
    ],
    dtype=np.float64,
)

BACKGROUND = np.array((255, 255, 255), dtype=np.uint8)
MISSING = np.array((190, 190, 190), dtype=np.uint8)
INK = np.array((0, 0, 0), dtype=np.uint8)
TRACK = np.array((255, 0, 255), dtype=np.uint8)


def colormap_lut() -> np.ndarray:
    """(256, 3) uint8 LUT, linear in index between the anchors."""
    n = len(_ANCHORS)
    xs = np.linspace(0.0, 1.0, n)
    t = np.linspace(0.0, 1.0, 256)
    lut = np.empty((256, 3), dtype=np.uint8)
    for c in range(3):
        lut[:, c] = np.rint(np.interp(t, xs, _ANCHORS[:, c])).astype(np.uint8)
    return lut


def normalize_to_index(values: np.ndarray, vmin: float, vmax: float) -> np.ndarray:
    """float array -> int LUT indices 0..255 (NaN -> -1).  Half-up
    rounding on the scaled value keeps the mapping deterministic."""
    v = np.asarray(values, dtype=np.float64)
    span = vmax - vmin
    if span <= 0:
        idx = np.zeros(v.shape, dtype=np.int64)
    else:
        scaled = np.floor((v - vmin) / span * 255.0 + 0.5)
        idx = np.where(np.isfinite(scaled), scaled, 0.0).astype(np.int64)
        idx = np.clip(idx, 0, 255)
    idx[~np.isfinite(v)] = -1
    return idx


# ---------------------------------------------------------------- raster ops


def blank_canvas(h: int, w: int) -> np.ndarray:
    img = np.empty((h, w, 3), dtype=np.uint8)
    img[:] = BACKGROUND
    return img


def paint_cells(
    img: np.ndarray,
    idx2d: np.ndarray,
    lut: np.ndarray,
    top: int,
    left: int,
    cell_h: int,
    cell_w: int,
) -> None:
    """Block-paint a (rows, cols) index matrix as cell_h x cell_w pixel
    cells (the pcolormesh twin).  Index -1 paints the MISSING grey."""
    rows, cols = idx2d.shape
    colors = np.where(
        (idx2d >= 0)[..., None], lut[np.clip(idx2d, 0, 255)], MISSING
    ).astype(np.uint8)
    block = np.kron(colors, np.ones((cell_h, cell_w, 1), dtype=np.uint8))
    img[top : top + rows * cell_h, left : left + cols * cell_w] = block


def draw_line(img: np.ndarray, r0: int, c0: int, r1: int, c1: int, color) -> None:
    """Bresenham segment, clipped to the canvas."""
    h, w = img.shape[:2]
    dr, dc = abs(r1 - r0), abs(c1 - c0)
    sr = 1 if r0 < r1 else -1
    sc = 1 if c0 < c1 else -1
    err = dr - dc
    r, c = r0, c0
    while True:
        if 0 <= r < h and 0 <= c < w:
            img[r, c] = color
        if r == r1 and c == c1:
            break
        e2 = 2 * err
        if e2 > -dc:
            err -= dc
            r += sr
        if e2 < dr:
            err += dr
            c += sc


def draw_marker(img: np.ndarray, r: int, c: int, color, size: int = 1) -> None:
    h, w = img.shape[:2]
    r0, r1 = max(0, r - size), min(h, r + size + 1)
    c0, c1 = max(0, c - size), min(w, c + size + 1)
    img[r0:r1, c0:c1] = color


def draw_frame(img: np.ndarray, top: int, left: int, h: int, w: int) -> None:
    """1-px axes box around a panel."""
    draw_line(img, top, left, top, left + w - 1, INK)
    draw_line(img, top + h - 1, left, top + h - 1, left + w - 1, INK)
    draw_line(img, top, left, top + h - 1, left, INK)
    draw_line(img, top, left + w - 1, top + h - 1, left + w - 1, INK)


# Tiny 3x5 glyphs for colorbar labels: digits, minus, dot.  Each glyph
# is 5 rows of 3 bits, MSB = left pixel.
_GLYPHS = {
    "0": (0b111, 0b101, 0b101, 0b101, 0b111),
    "1": (0b010, 0b110, 0b010, 0b010, 0b111),
    "2": (0b111, 0b001, 0b111, 0b100, 0b111),
    "3": (0b111, 0b001, 0b111, 0b001, 0b111),
    "4": (0b101, 0b101, 0b111, 0b001, 0b001),
    "5": (0b111, 0b100, 0b111, 0b001, 0b111),
    "6": (0b111, 0b100, 0b111, 0b101, 0b111),
    "7": (0b111, 0b001, 0b010, 0b010, 0b010),
    "8": (0b111, 0b101, 0b111, 0b101, 0b111),
    "9": (0b111, 0b101, 0b111, 0b001, 0b111),
    "-": (0b000, 0b000, 0b111, 0b000, 0b000),
    ".": (0b000, 0b000, 0b000, 0b000, 0b010),
}


def draw_text(img: np.ndarray, r: int, c: int, text: str) -> None:
    """Render digits/minus/dot at 3x5 px per glyph, 1-px spacing."""
    h, w = img.shape[:2]
    for ch in text:
        glyph = _GLYPHS.get(ch)
        if glyph is None:
            c += 4
            continue
        for gr, bits in enumerate(glyph):
            for gc in range(3):
                if bits & (0b100 >> gc):
                    rr, cc = r + gr, c + gc
                    if 0 <= rr < h and 0 <= cc < w:
                        img[rr, cc] = INK
        c += 4


def draw_colorbar(
    img: np.ndarray,
    top: int,
    left: int,
    h: int,
    w: int,
    lut: np.ndarray,
    vmin: float,
    vmax: float,
) -> None:
    """Vertical colorbar (max at top) with framed body and vmin/vmax
    labels, the ``fig.colorbar`` twin."""
    body = h - 2
    idx = np.floor(
        (body - 1 - np.arange(body)) / max(body - 1, 1) * 255.0 + 0.5
    ).astype(np.int64)
    strip = lut[np.clip(idx, 0, 255)]
    img[top + 1 : top + 1 + body, left + 1 : left + w - 1] = strip[:, None, :]
    draw_frame(img, top, left, h, w)
    draw_text(img, top, left + w + 2, f"{vmax:.1f}")
    draw_text(img, top + h - 5, left + w + 2, f"{vmin:.1f}")


# ---------------------------------------------------------------- panels


def render_profile_panel(
    values: np.ndarray,
    cell_h: int = 6,
    cell_w: int = 6,
    margin: int = 10,
) -> np.ndarray:
    """(n_depths, n_points) value matrix (row 0 = surface, NaN = no
    data) -> RGB canvas: colormapped cells in an axes box plus a
    labelled colorbar — the reference's scatter panel
    (``trackplot_hycom.py:266-279``) with its regular (time, depth)
    lattice rendered as cells."""
    vals = np.asarray(values, dtype=np.float64)
    finite = vals[np.isfinite(vals)]
    vmin = float(finite.min()) if finite.size else 0.0
    vmax = float(finite.max()) if finite.size else 1.0
    lut = colormap_lut()
    rows, cols = vals.shape
    ph, pw = rows * cell_h, cols * cell_w
    cb_w, cb_label = 12, 26
    img = blank_canvas(ph + 2 * margin + 2, pw + 2 * margin + cb_w + cb_label + 8)
    paint_cells(
        img,
        normalize_to_index(vals, vmin, vmax),
        lut,
        margin + 1,
        margin + 1,
        cell_h,
        cell_w,
    )
    draw_frame(img, margin, margin, ph + 2, pw + 2)
    draw_colorbar(
        img, margin, margin + pw + 8, ph + 2, cb_w, lut, vmin, vmax
    )
    return img


def render_track_map_panel(
    field: np.ndarray,
    track_rc: np.ndarray,
    cell: int = 4,
    margin: int = 10,
) -> np.ndarray:
    """(n_lat, n_lon) surface field (row 0 = southernmost; rendered
    north-up) + track points in grid coordinates (lat_f, lon_f) ->
    RGB canvas: colormapped field, Bresenham track polyline + point
    markers — the reference's map panel (``trackplot_hycom.py:281-303``).
    """
    f = np.asarray(field, dtype=np.float64)
    finite = f[np.isfinite(f)]
    vmin = float(finite.min()) if finite.size else 0.0
    vmax = float(finite.max()) if finite.size else 1.0
    lut = colormap_lut()
    n_lat, n_lon = f.shape
    ph, pw = n_lat * cell, n_lon * cell
    cb_w, cb_label = 12, 26
    img = blank_canvas(ph + 2 * margin + 2, pw + 2 * margin + cb_w + cb_label + 8)
    idx = normalize_to_index(f[::-1, :], vmin, vmax)  # north-up
    paint_cells(img, idx, lut, margin + 1, margin + 1, cell, cell)
    draw_frame(img, margin, margin, ph + 2, pw + 2)

    def to_px(lat_f: float, lon_f: float) -> tuple[int, int]:
        r = margin + 1 + int(round((n_lat - 1 - lat_f) * cell + cell / 2))
        c = margin + 1 + int(round(lon_f * cell + cell / 2))
        return r, c

    pts = [to_px(la, lo) for la, lo in np.asarray(track_rc, dtype=np.float64)]
    for (r0, c0), (r1, c1) in zip(pts, pts[1:]):
        draw_line(img, r0, c0, r1, c1, TRACK)
    for r, c in pts:
        draw_marker(img, r, c, TRACK, size=1)
    draw_colorbar(
        img, margin, margin + pw + 8, ph + 2, cb_w, lut, vmin, vmax
    )
    return img


# ---------------------------------------------------------------- sinks


def profile_matrix(profile_pdf) -> np.ndarray:
    """Long (point_id, depth_idx/plot_depth, value) pandas frame ->
    dense (n_depths, n_points) matrix, surface row first, NaN where the
    profile had no valid neighbors."""
    import pandas as pd  # noqa: F401  (driver-side only)

    pdf = profile_pdf
    depth_col = "plot_depth" if "plot_depth" in pdf.columns else "depth_m"
    time_col = "plot_time" if "plot_time" in pdf.columns else "point_id"
    d_arr = pdf[depth_col].to_numpy()
    t_arr = pdf[time_col].to_numpy()
    v_arr = pdf["value"].to_numpy(dtype=float)
    depths = np.sort(np.unique(d_arr))
    times = np.sort(np.unique(t_arr))
    d_pos = np.searchsorted(depths, d_arr)
    if depth_col == "plot_depth":  # negated for display: surface = max
        d_pos = len(depths) - 1 - d_pos
    t_pos = np.searchsorted(times, t_arr)
    mat = np.full((len(depths), len(times)), np.nan)
    keep = np.isfinite(v_arr)
    mat[d_pos[keep], t_pos[keep]] = v_arr[keep]
    return mat


def write_png(img: np.ndarray, out_path: str) -> str:
    """Canvas -> PNG bytes via the repo's own RFC-2083 encoder."""
    from modeltracking_spark.operators.png import encode_png

    with open(out_path, "wb") as fh:
        fh.write(encode_png(img))
    return out_path
