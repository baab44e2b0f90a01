"""S8 figure sink, from-spec: the numpy rasterizer + in-repo PNG
encoder render real, deterministic figure bytes with no plotting
library. Pixel-level checks recompute the expected colors
independently; determinism is pinned by double-render equality."""

import hashlib

import numpy as np
import pyspark.sql.functions as F
import pytest

from modeltracking_spark import figure
from modeltracking_spark.fixtures import (
    GRID_LAT0,
    GRID_LAT_STEP,
    GRID_LON0,
    hycom_grid_fixture,
)
from modeltracking_spark.operators.png import decode_png
from modeltracking_spark.operators.profile import profile_along_track
from modeltracking_spark.plotting import (
    profile_plot_frame,
    render_figure_png,
    render_profile_png,
    render_track_map_png,
)
from modeltracking_spark.queries.timegeo import synthetic_track


@pytest.fixture(scope="module")
def profile(spark):
    return profile_along_track(
        synthetic_track(spark), hycom_grid_fixture(spark), "water_temp"
    )


def test_colormap_lut_shape_and_anchors():
    lut = figure.colormap_lut()
    assert lut.shape == (256, 3) and lut.dtype == np.uint8
    assert tuple(lut[0]) == (13, 8, 135)  # first anchor exact
    assert tuple(lut[255]) == (160, 0, 0)  # last anchor exact


def test_normalize_to_index_endpoints_and_nan():
    idx = figure.normalize_to_index(
        np.array([1.0, 2.0, np.nan, 3.0]), 1.0, 3.0
    )
    assert list(idx) == [0, 128, -1, 255]
    # degenerate span: everything maps to 0, NaN still -1
    idx = figure.normalize_to_index(np.array([5.0, np.nan]), 5.0, 5.0)
    assert list(idx) == [0, -1]


def test_paint_cells_exact_colors_and_missing():
    lut = figure.colormap_lut()
    img = figure.blank_canvas(20, 20)
    figure.paint_cells(img, np.array([[0, 255], [-1, 128]]), lut, 2, 2, 5, 5)
    assert tuple(img[2, 2]) == tuple(lut[0])
    assert tuple(img[2, 2 + 5]) == tuple(lut[255])
    assert tuple(img[2 + 5, 2]) == tuple(figure.MISSING)
    assert tuple(img[2 + 5, 2 + 5]) == tuple(lut[128])
    assert tuple(img[0, 0]) == tuple(figure.BACKGROUND)  # untouched


def test_draw_line_endpoints_and_clip():
    img = figure.blank_canvas(10, 10)
    figure.draw_line(img, 1, 1, 8, 5, figure.INK)
    assert tuple(img[1, 1]) == (0, 0, 0) and tuple(img[8, 5]) == (0, 0, 0)
    # clipped segment must not raise and must not paint out of bounds
    figure.draw_line(img, -5, -5, 15, 15, figure.INK)
    assert img.shape == (10, 10, 3)


def test_profile_matrix_layout(spark, profile):
    pdf = profile_plot_frame(profile, synthetic_track(spark))
    mat = figure.profile_matrix(pdf)
    assert mat.shape == (25, 80)  # K_DEPTHS x n_points
    # surface row first: plot_depth is negated, surface = max plot_depth
    surf = pdf[pdf["plot_depth"] == pdf["plot_depth"].max()]
    t0 = surf[surf["plot_time"] == surf["plot_time"].min()].iloc[0]
    assert mat[0, 0] == pytest.approx(t0["value"])


def test_render_profile_png_pixels_and_determinism(spark, profile, tmp_path):
    track = synthetic_track(spark)
    p1 = render_profile_png(profile, track, str(tmp_path / "a.png"))
    p2 = render_profile_png(profile, track, str(tmp_path / "b.png"))
    b1, b2 = open(p1, "rb").read(), open(p2, "rb").read()
    assert hashlib.md5(b1).hexdigest() == hashlib.md5(b2).hexdigest()
    img = decode_png(b1)
    # geometry: 25x80 cells at 6x6 px + margins + colorbar + labels
    assert img.shape == (25 * 6 + 22, 80 * 6 + 20 + 12 + 26 + 8, 3)
    # recompute cell (0, 0)'s expected color independently
    pdf = profile_plot_frame(profile, track)
    mat = figure.profile_matrix(pdf)
    finite = mat[np.isfinite(mat)]
    idx = figure.normalize_to_index(
        np.array([[mat[0, 0]]]), float(finite.min()), float(finite.max())
    )[0, 0]
    expected = (
        tuple(figure.MISSING)
        if idx < 0
        else tuple(figure.colormap_lut()[idx])
    )
    assert tuple(img[11, 11]) == expected  # first pixel inside the frame


def test_render_track_map_png_track_and_field(spark, tmp_path):
    track = synthetic_track(spark)
    grid = hycom_grid_fixture(spark)
    path = render_track_map_png(track, grid, str(tmp_path / "m.png"))
    img = decode_png(open(path, "rb").read())
    # the track color must appear (polyline + markers), background too
    flat = img.reshape(-1, 3)
    assert (flat == figure.TRACK).all(axis=1).any()
    assert (flat == figure.BACKGROUND).all(axis=1).any()
    # colormapped field pixels: at least 100 distinct colors on canvas
    assert len(np.unique(flat, axis=0)) > 100


def test_track_map_masks_the_engine_sentinel_rule(spark, tmp_path):
    """A surface cell at -10 is missing by the engine's rule (<= -4,
    ``aggregates.mask_sentinel``): the map paints it MISSING, not as
    data."""
    grid = hycom_grid_fixture(spark).where(
        (F.col("time_hours") == 0) & (F.col("lat_idx") < 4)
        & (F.col("lon_idx") < 4)
    )
    grid = grid.withColumn("water_temp", F.when(
        (F.col("lat_idx") == 1) & (F.col("lon_idx") == 2), -10.0
    ).otherwise(F.col("water_temp")))
    track = spark.createDataFrame(  # at node (3, 0), clear of the cell
        [(0, GRID_LAT0 + 3 * GRID_LAT_STEP, GRID_LON0)],
        "point_id long, lat double, lon double",
    )
    img = decode_png(open(render_track_map_png(
        track, grid, str(tmp_path / "m.png")), "rb").read())
    cell, margin, n_lat = 4, 10, 4  # render_track_map_panel's layout
    row = margin + 1 + (n_lat - 1 - 1) * cell + cell // 2  # north-up
    col = margin + 1 + 2 * cell + cell // 2
    assert tuple(img[row, col]) == tuple(figure.MISSING)


def test_render_figure_png_stacks_both_panels(spark, profile, tmp_path):
    track = synthetic_track(spark)
    grid = hycom_grid_fixture(spark)
    path = render_figure_png(profile, track, grid, str(tmp_path / "f.png"))
    img = decode_png(open(path, "rb").read())
    p = decode_png(
        open(render_profile_png(profile, track, str(tmp_path / "p.png")), "rb").read()
    )
    m = decode_png(
        open(render_track_map_png(track, grid, str(tmp_path / "m.png")), "rb").read()
    )
    assert img.shape[0] == p.shape[0] + m.shape[0]
    assert img.shape[1] == max(p.shape[1], m.shape[1])
    # top-left corner of the stack is the profile panel verbatim
    assert (img[: p.shape[0], : p.shape[1]] == p).all()
