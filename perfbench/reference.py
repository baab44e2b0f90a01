"""Expected results recomputed in numpy straight from the grid formulas of
``modeltracking_spark/fixtures.py`` (``HYCOM_GRID_SQL``), never through
the engine. Only the grid geometry constants are imported."""

from __future__ import annotations

import math

import numpy as np

from modeltracking_spark.fixtures import (
    GRID_DEPTH_STEP,
    GRID_LAT0,
    GRID_LAT_STEP,
    GRID_LON0,
    GRID_LON_STEP,
    GRID_N_DEPTH,
    GRID_N_LAT,
    GRID_N_LON,
    GRID_TIME_STEP,
)

#: ``profile_along_track`` defaults: 25 depth levels, IDW epsilon
K_DEPTHS = 25
EPS = 1e-6
REL_TOL = 1e-9


def _round_half_up(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)


def _temp(la, lo, d, ti):
    """water_temp and its sentinel mask, per the fixture formula."""
    value = ((la * 7 + lo * 11 + d * 5 + ti * 3) % 200).astype(np.float64) * 0.1
    sentinel = (la * 13 + lo * 7 + d * 3 + ti) % 37 == 0
    return value, sentinel


def time_bucket(t: int) -> int:
    """The grid time step (hours) nearest to ``t``; exact ties round up."""
    return (2 * t + GRID_TIME_STEP) // (2 * GRID_TIME_STEP) * GRID_TIME_STEP


def expected_profile(points, n_time: int) -> dict:
    """``points``: ``(point_id, lat, lon, t_hours)`` rows of one track ->
    ``{(point_id, depth_idx): (depth_m, n_valid, idw_value)}`` for the 3x3
    inverse-distance profile of water_temp (``idw_value`` None when no
    neighbour is valid)."""
    out = {}
    depth = np.arange(K_DEPTHS, dtype=np.int64)[:, None]
    for pid, lat, lon, t in points:
        ti = time_bucket(t) // GRID_TIME_STEP
        if not 0 <= ti < n_time:
            continue
        la0 = _round_half_up((lat - GRID_LAT0) / GRID_LAT_STEP)
        lo0 = _round_half_up((lon - GRID_LON0) / GRID_LON_STEP)
        nbs = [(la0 + i, lo0 + j) for i in (-1, 0, 1) for j in (-1, 0, 1)
               if 0 <= la0 + i < GRID_N_LAT and 0 <= lo0 + j < GRID_N_LON]
        if not nbs:
            continue
        la = np.array([a for a, _ in nbs], dtype=np.int64)
        lo = np.array([b for _, b in nbs], dtype=np.int64)
        dla = lat - (GRID_LAT0 + la.astype(np.float64) * GRID_LAT_STEP)
        dlo = lon - (GRID_LON0 + lo.astype(np.float64) * GRID_LON_STEP)
        de = np.sqrt(dlo * dlo + dla * dla) + EPS
        w = 1.0 / (de * de)
        value, sentinel = _temp(la, lo, depth, ti)
        valid = ~sentinel
        n_valid = valid.sum(axis=1)
        num = np.where(valid, w * value, 0.0).sum(axis=1)
        den = np.where(valid, w, 0.0).sum(axis=1)
        for k in range(min(K_DEPTHS, GRID_N_DEPTH)):
            idw = float(num[k] / den[k]) if n_valid[k] else None
            out[(pid, k)] = (k * GRID_DEPTH_STEP, int(n_valid[k]), idw)
    return out


def profile_mismatches(rows, expected: dict, limit: int = 3) -> list[str]:
    """Compare engine profile rows against :func:`expected_profile`."""
    got = {(r["point_id"], r["depth_idx"]): r for r in rows}
    bad = []
    if len(got) != len(rows):
        bad.append(f"{len(rows) - len(got)} duplicate profile keys")
    if set(got) != set(expected):
        bad.append(f"profile keys differ: {len(set(got) ^ set(expected))} "
                   f"keys in one side only")
    for key in sorted(set(got) & set(expected)):
        r, (depth_m, n_valid, idw) = got[key], expected[key]
        v = r["idw_value"]
        same = (r["depth_m"] == depth_m and r["n_valid"] == n_valid and (
            (v is None and idw is None) or (
                v is not None and idw is not None
                and abs(v - idw) <= REL_TOL * max(1.0, abs(idw)))))
        if not same:
            bad.append(f"{key}: got ({r['depth_m']}, {r['n_valid']}, {v}) "
                       f"expected ({depth_m}, {n_valid}, {idw})")
        if len(bad) >= limit:
            break
    return bad


def expected_scan(n_time: int) -> dict:
    """Per time step: ``time_hours -> (n_rows, n_sentinel, sum_temp_e1)``,
    the ``grid_netcdf_scan`` aggregate."""
    d, la, lo = np.meshgrid(np.arange(GRID_N_DEPTH, dtype=np.int64),
                            np.arange(GRID_N_LAT, dtype=np.int64),
                            np.arange(GRID_N_LON, dtype=np.int64), indexing="ij")
    out = {}
    for ti in range(n_time):
        value, sentinel = _temp(la, lo, d, ti)
        e1 = (la * 7 + lo * 11 + d * 5 + ti * 3) % 200
        out[ti * GRID_TIME_STEP] = (int(value.size), int(sentinel.sum()),
                                    int(e1[~sentinel].sum()))
    return out


def scan_mismatches(rows, expected: dict, limit: int = 3) -> list[str]:
    got = {r["time_hours"]: (r["n_rows"], r["n_sentinel"], r["sum_temp_e1"])
           for r in rows}
    bad = []
    if set(got) != set(expected):
        bad.append(f"time steps differ: got {len(got)}, expected {len(expected)}")
    for t in sorted(set(got) & set(expected)):
        if got[t] != expected[t]:
            bad.append(f"time_hours={t}: got {got[t]} expected {expected[t]}")
        if len(bad) >= limit:
            break
    return bad
