"""Seeded inputs: storm tracks and NHC best-track CSV files.

Everything here is plain Python driven by one ``random.Random``; the
engine only ever sees the generated DataFrames and files.
"""

from __future__ import annotations

import datetime
import os
import random

from modeltracking_spark.fixtures import GRID_TIME_STEP

#: hourly fixes per storm: 24 h is about a quarter of a 28-step (84 h) grid
FIXES_PER_STORM = 24

NHC_HEADER = (
    "atcfdtg,stormnum,stormname,basin,stormtype,intensity,intensitymph,"
    "intensitykph,lat,lon,minsealevelpres,dtg"
)
EPOCH = datetime.datetime(2000, 1, 1)


def make_storm(rng: random.Random, n_time: int) -> list[tuple[int, float, float]]:
    """One storm as ``(t_hours, lat, lon)`` hourly fixes at the best-track
    0.1° resolution, east-positive longitude. Tracks drift north-west
    inside the grid and start where every fix maps to a grid time step."""
    last_hour = (n_time - 1) * GRID_TIME_STEP
    t0 = rng.randrange(0, last_hour - FIXES_PER_STORM + 2)
    lat, lon = rng.uniform(16.0, 28.0), rng.uniform(288.0, 322.0)
    dlat, dlon = rng.uniform(0.05, 0.25), rng.uniform(-0.3, 0.1)
    fixes = []
    for i in range(FIXES_PER_STORM):
        fixes.append((t0 + i, round(lat, 1), round(lon, 1)))
        lat += dlat + rng.uniform(-0.03, 0.03)
        lon += dlon + rng.uniform(-0.03, 0.03)
    return fixes


def storm_rows(fixes) -> list[tuple[int, float, float, int]]:
    """Fixes -> ``(point_id, lat, lon, t_hours)`` track rows."""
    return [(i, lat, lon, t) for i, (t, lat, lon) in enumerate(fixes)]


def write_season(directory: str, storms: list[list[tuple[int, float, float]]],
                 n_files: int) -> None:
    """Write ``storms`` as NHC best-track CSVs (west-negative longitude,
    ``yyyyMMddHH`` times), spread over ``n_files`` season files."""
    os.makedirs(directory, exist_ok=True)
    per_file = -(-len(storms) // n_files)
    for f in range(n_files):
        lines = [NHC_HEADER]
        for s in range(f * per_file, min(len(storms), (f + 1) * per_file)):
            for t, lat, lon in storms[s]:
                dtg = (EPOCH + datetime.timedelta(hours=t)).strftime("%Y%m%d%H")
                lines.append(f"{dtg},{s % 100:02d},{storm_name(s)},AL,HU,65,75,"
                             f"120,{lat:.1f},{lon - 360.0:.1f},990,{dtg}")
        with open(os.path.join(directory, f"season_{f:02d}.csv"), "w") as out:
            out.write("\n".join(lines) + "\n")


def storm_name(s: int) -> str:
    return f"STORM{s:04d}"


def season_points(storms) -> dict[str, list[tuple[int, float, float, int]]]:
    """The track rows the engine should derive from :func:`write_season`'s
    files: per storm name, ``(point_id, lat, lon, t_hours)`` with the
    west-negative longitude normalised back the way the reader does it."""
    out = {}
    for s, fixes in enumerate(storms):
        rows = []
        for t, lat, lon in fixes:
            lon_w = float(f"{lon - 360.0:.1f}")
            rows.append((t, float(f"{lat:.1f}"), lon_w + 360.0 if lon_w < 0 else lon_w, t))
        out[storm_name(s)] = rows
    return out
