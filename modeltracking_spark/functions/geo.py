"""Geospatial scalar functions (SURVEY.md F4–F8).

All built from JVM math builtins except Vincenty (pandas UDF — the
reference uses the ``vincenty`` pip package, ``rucool.yml:213``,
``trackplot_hycom.py:52-57``). For oracle-checkable queries prefer
``haversine_km`` (sphere vs ellipsoid delta < 0.6%).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

EARTH_RADIUS_KM = 6371.0

#: the IDW distance offset: a point on a node gets weight 1e12, not 1/0
IDW_EPS = 1e-6


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_lon_0_360(lon: Column | str) -> Column:
    """F4: longitude → [0, 360) east-positive convention.

    The reference adds 360 to negative longitudes when loading tracks
    (trackplot_hycom.py:166-170: -19.4 → 340.6) and again when matching
    the grid (:70-71).
    """
    c = _col(lon)
    return F.when(c < 0, c + F.lit(360.0)).otherwise(c)


def euclid_deg(lat1, lon1, lat2, lon2) -> Column:
    """F7: Euclidean degree distance, the reference's nearest-node metric
    (trackplot_hycom.py:79: sqrt(Δlon² + Δlat²)).

    Squares are explicit products, not pow(x, 2): pow is a libm call with
    no cross-engine ulp guarantee, while x*x and sqrt are correctly
    rounded IEEE ops — required for oracle hash-matching.
    """
    la1, lo1, la2, lo2 = (_col(c) for c in (lat1, lon1, lat2, lon2))
    dlo, dla = lo1 - lo2, la1 - la2
    return F.sqrt(dlo * dlo + dla * dla)


def haversine_km(lat1, lon1, lat2, lon2) -> Column:
    """F6 (oracle-friendly substitute): great-circle distance in km.

    Stands in for the reference's Vincenty ellipsoidal distance
    (trackplot_hycom.py:52-57); delta < 0.6%, documented in SURVEY.md F6.
    """
    la1, lo1, la2, lo2 = (
        F.radians(_col(c)) for c in (lat1, lon1, lat2, lon2)
    )
    a = (
        F.pow(F.sin((la2 - la1) / 2), 2)
        + F.cos(la1) * F.cos(la2) * F.pow(F.sin((lo2 - lo1) / 2), 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def inv_square_weight(dist: Column | str) -> Column:
    """F8: inverse-square-distance IDW weight with the notebook's epsilon
    guard: w = 1 / (d + IDW_EPS)² (TrackPlotter_Hycom.ipynb:41; the
    script variant trackplot_hycom.py:31 omits eps and can divide by
    zero). Explicit product instead of pow(x, 2) for cross-engine
    exactness."""
    de = _col(dist) + F.lit(IDW_EPS)
    return F.lit(1.0) / (de * de)


def vincenty_km_udf():
    """F6 exact: Vincenty inverse geodesic (WGS-84) as a vectorized
    pandas UDF — numpy-vectorized iterations, Arrow-batched.

    Mirrors the semantics of the reference's `vincenty` dependency
    (rucool.yml:213, used at trackplot_hycom.py:105). Python is acceptable
    here because the reference's own implementation is Python and no Spark
    builtin exists; everything else in this module stays JVM-side.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # NB: this module uses `from __future__ import annotations`, which turns
    # inline type hints into strings pandas_udf cannot resolve; set real
    # annotation objects explicitly instead.
    def vincenty_km(lat1, lon1, lat2, lon2):
        # WGS-84
        a, f = 6378137.0, 1 / 298.257223563
        b = (1 - f) * a
        phi1, phi2 = np.radians(lat1.to_numpy()), np.radians(lat2.to_numpy())
        L = np.radians(lon2.to_numpy() - lon1.to_numpy())
        U1, U2 = np.arctan((1 - f) * np.tan(phi1)), np.arctan((1 - f) * np.tan(phi2))
        sinU1, cosU1 = np.sin(U1), np.cos(U1)
        sinU2, cosU2 = np.sin(U2), np.cos(U2)
        lam = L.copy()
        for _ in range(100):
            sinL, cosL = np.sin(lam), np.cos(lam)
            sin_sigma = np.sqrt(
                (cosU2 * sinL) ** 2 + (cosU1 * sinU2 - sinU1 * cosU2 * cosL) ** 2
            )
            cos_sigma = sinU1 * sinU2 + cosU1 * cosU2 * cosL
            sigma = np.arctan2(sin_sigma, cos_sigma)
            with np.errstate(divide="ignore", invalid="ignore"):
                sin_alpha = np.where(
                    sin_sigma != 0, cosU1 * cosU2 * sinL / sin_sigma, 0.0
                )
            cos_sq_alpha = 1 - sin_alpha**2
            with np.errstate(divide="ignore", invalid="ignore"):
                cos2sm = np.where(
                    cos_sq_alpha != 0,
                    cos_sigma - 2 * sinU1 * sinU2 / np.where(cos_sq_alpha == 0, 1, cos_sq_alpha),
                    0.0,
                )
            C = f / 16 * cos_sq_alpha * (4 + f * (4 - 3 * cos_sq_alpha))
            lam_prev = lam
            lam = L + (1 - C) * f * sin_alpha * (
                sigma
                + C * sin_sigma * (cos2sm + C * cos_sigma * (-1 + 2 * cos2sm**2))
            )
            if np.all(np.abs(lam - lam_prev) < 1e-12):
                break
        u_sq = cos_sq_alpha * (a**2 - b**2) / b**2
        A = 1 + u_sq / 16384 * (4096 + u_sq * (-768 + u_sq * (320 - 175 * u_sq)))
        B = u_sq / 1024 * (256 + u_sq * (-128 + u_sq * (74 - 47 * u_sq)))
        dsig = B * sin_sigma * (
            cos2sm
            + B / 4 * (
                cos_sigma * (-1 + 2 * cos2sm**2)
                - B / 6 * cos2sm * (-3 + 4 * sin_sigma**2) * (-3 + 4 * cos2sm**2)
            )
        )
        dist_km = b * A * (sigma - dsig) / 1000.0
        # coincident points → 0 (sin_sigma == 0)
        dist_km = np.where(sin_sigma == 0, 0.0, dist_km)
        return pd.Series(dist_km)

    vincenty_km.__annotations__ = {
        "lat1": pd.Series,
        "lon1": pd.Series,
        "lat2": pd.Series,
        "lon2": pd.Series,
        "return": pd.Series,
    }
    return pandas_udf(DoubleType())(vincenty_km)
