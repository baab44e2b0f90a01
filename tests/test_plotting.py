"""S8 figure-feeder: plot-ready frames are driver-sized and correctly
shaped; the render step writes real PNG bytes via the from-spec
rasterizer + encoder (deep pixel checks in tests/test_figure.py)."""

import pytest

from modeltracking_spark.fixtures import hycom_grid_fixture
from modeltracking_spark.operators.profile import profile_along_track
from modeltracking_spark.plotting import (
    profile_plot_frame,
    render_profile_png,
    track_map_frame,
)
from modeltracking_spark.queries.timegeo import synthetic_track


@pytest.fixture(scope="module")
def profile(spark):
    return profile_along_track(
        synthetic_track(spark), hycom_grid_fixture(spark), "water_temp"
    )


def test_profile_plot_frame_shape(spark, profile):
    pdf = profile_plot_frame(profile, synthetic_track(spark))
    assert len(pdf) == 2000
    assert list(pdf.columns) == ["plot_time", "plot_depth", "value"]
    assert (pdf["plot_depth"] <= 0).all()  # F5: negated for display
    assert pdf["plot_time"].dt.year.min() == 2000  # hour offsets from epoch


def test_track_map_frame_bbox(spark):
    pdf, (lat_min, lat_max, lon_min, lon_max) = track_map_frame(
        synthetic_track(spark)
    )
    assert len(pdf) == 80
    assert (lat_min, lat_max) == (15.0, 15.0 + 79 * 0.25)
    assert lon_min < lon_max


def test_render_writes_real_png(spark, profile, tmp_path):
    """S8 is a full sink now: render needs no plotting library and the
    bytes are a valid PNG (deep checks live in tests/test_figure.py)."""
    path = render_profile_png(
        profile, synthetic_track(spark), str(tmp_path / "f.png")
    )
    with open(path, "rb") as fh:
        assert fh.read(8) == b"\x89PNG\r\n\x1a\n"
