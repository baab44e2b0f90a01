"""Figure-feeder utilities (SURVEY.md §2.1 S8 — out-of-engine scope).

The reference renders scatter/contour panels and saves ``fig_test.png``
(``trackplot_hycom.py:266-305``). In this engine plotting stays OUT of
the distributed plan: the engine's contract is the small, plot-ready
result table; these helpers are the only sanctioned ``toPandas()`` in
the repo (driver-side, result-sized data only).

The render step needs NO plotting library: the plot-ready frames are
rasterized by :mod:`modeltracking_spark.figure` and written through the
repo's own from-spec PNG encoder — S8 is a full component, not a stub.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modeltracking_spark.functions.timefn import ts_from_hours_since_2000


def profile_plot_frame(profile: DataFrame, track: DataFrame):
    """The reference's plot-ready long triples (``trackplot_hycom.py:
    253-255``): (plot_time, plot_depth, value) with depth negated for
    display (F5) and the hour offset rendered as a timestamp (F9).

    Joins the per-point profile back to the track for the time axis and
    collects to pandas — profiles are n_points x ``profile.K_DEPTHS``
    rows (2000 here), strictly driver-sized.
    """
    t = track.select("point_id", "t_hours")
    j = profile.join(F.broadcast(t), "point_id").select(
        ts_from_hours_since_2000("t_hours").alias("plot_time"),
        (F.lit(0.0) - F.col("depth_m")).alias("plot_depth"),
        F.col("idw_value").alias("value"),
    )
    return j.toPandas()


def track_map_frame(track: DataFrame):
    """Track map panel feeder: (lat, lon) in plot order plus the bbox the
    reference frames the map with (``trackplot_hycom.py:236-237``,
    ``:281``). Returns (pandas_frame, (lat_min, lat_max, lon_min,
    lon_max))."""
    pdf = (
        track.orderBy("point_id")
        .select("point_id", "lat", "lon")
        .toPandas()
    )
    return pdf, (
        float(pdf["lat"].min()),
        float(pdf["lat"].max()),
        float(pdf["lon"].min()),
        float(pdf["lon"].max()),
    )


def _profile_panel(profile: DataFrame, track: DataFrame):
    from modeltracking_spark import figure

    pdf = profile_plot_frame(profile, track)
    return figure.render_profile_panel(figure.profile_matrix(pdf))


def render_profile_png(profile: DataFrame, track: DataFrame, out_path: str) -> str:
    """Render the profile panel to a real PNG (the ``fig_test.png``
    twin, ``trackplot_hycom.py:266-279``) — NO plotting library: the
    plot-ready frame is rasterized by :mod:`modeltracking_spark.figure`
    (colormapped cells + labelled colorbar) and encoded by the repo's
    own from-spec PNG encoder. Deterministic: same inputs, same bytes.
    """
    from modeltracking_spark import figure

    return figure.write_png(_profile_panel(profile, track), out_path)


def _track_map_panel(track: DataFrame, grid: DataFrame, variable: str):
    """The map panel: ``grid``'s surface slice at its first time step,
    sized from the slice itself, and the track placed on it with the
    grid's ``lat``/``lon`` axis records."""
    import numpy as np

    from modeltracking_spark import figure
    from modeltracking_spark.operators.aggregates import SENTINEL_THRESHOLD
    from modeltracking_spark.schemas import grid_axis

    (lat0, lat_step), (lon0, lon_step) = (
        grid_axis(grid.schema, c) for c in ("lat", "lon")
    )
    t0 = grid.agg(F.min("time_hours")).collect()[0][0]
    surface = (
        grid.filter((F.col("time_hours") == t0) & (F.col("depth_idx") == 0))
        .select("lat_idx", "lon_idx", variable)
        .toPandas()
    )
    la = surface["lat_idx"].to_numpy()
    lo = surface["lon_idx"].to_numpy()
    field = np.full((la.max() + 1, lo.max() + 1), np.nan)
    vals = surface[variable].to_numpy(dtype=float)
    vals[vals <= SENTINEL_THRESHOLD] = np.nan
    field[la, lo] = vals

    pdf, _bbox = track_map_frame(track)
    track_rc = np.column_stack(
        [
            (pdf["lat"].to_numpy() - lat0) / lat_step,
            (pdf["lon"].to_numpy() - lon0) / lon_step,
        ]
    )
    return figure.render_track_map_panel(field, track_rc)


def render_track_map_png(
    track: DataFrame,
    grid: DataFrame,
    out_path: str,
    variable: str = "water_temp",
) -> str:
    """Render the track-over-field map panel (``trackplot_hycom.py:
    281-303``): surface slice of the grid at its first time step as the
    colormapped background, the track as a polyline + markers. The
    ONLY driver-sized collects are the surface slice (n_lat x n_lon)
    and the track itself."""
    from modeltracking_spark import figure

    return figure.write_png(_track_map_panel(track, grid, variable), out_path)


def render_figure_png(
    profile: DataFrame, track: DataFrame, grid: DataFrame, out_path: str
) -> str:
    """The full two-panel ``fig_test.png`` twin (``trackplot_hycom.py:
    266-305``): profile panel stacked over the track map, one PNG."""
    import numpy as np

    from modeltracking_spark import figure

    imgs = [
        _profile_panel(profile, track),
        _track_map_panel(track, grid, "water_temp"),
    ]
    w = max(i.shape[1] for i in imgs)
    padded = []
    for i in imgs:
        pad = np.full((i.shape[0], w, 3), 255, dtype=np.uint8)
        pad[:, : i.shape[1]] = i
        padded.append(pad)
    return figure.write_png(np.concatenate(padded, axis=0), out_path)
