"""Equal-area map projections on the WGS84 ellipsoid: numpy kernels and
their Spark-column twins.

The reference engine (ks905383/xagg) reprojects both pixel rectangles and
polygons to an EASE-Grid 2.0 CRS before computing intersection areas
(/root/reference/xagg/core.py:470-497).  The CRS is picked from the polygon
bounding box: strictly-northern -> EPSG:6931 (LAEA, north pole), strictly
-southern -> EPSG:6932 (LAEA, south pole), else EPSG:6933 (cylindrical
equal-area, standard parallel 30N) (/root/reference/xagg/core.py:475-486).

This module implements the forward transforms from the published Snyder
formulas ("Map Projections: A Working Manual", USGS PP 1395, eq. 3-12,
10-15..18, 24-21..26) so the engine needs no pyproj.  The numpy functions
are vectorized over arrays and are used both on the driver (polygon prep)
and inside Arrow-batched pandas UDFs (refinement clip).  ``q_auth_col`` and
``forward_cols`` are the same formulas as Spark column expressions (JVM
whole-stage codegen, no UDF): pixel areas and kNN distances are computed
from them on the executors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as sf

# WGS84 ellipsoid
A = 6378137.0
F = 1.0 / 298.257223563
E2 = F * (2.0 - F)
E = np.sqrt(E2)

EPSG_NORTH = 6931
EPSG_SOUTH = 6932
EPSG_GLOBAL = 6933

# standard parallel of EPSG:6933 (EASE-Grid 2.0 global)
_LAT_TS = np.deg2rad(30.0)
# k0 = cos(phi_ts) / sqrt(1 - e^2 sin^2 phi_ts)   (Snyder eq. 10-13)
K0 = np.cos(_LAT_TS) / np.sqrt(1.0 - E2 * np.sin(_LAT_TS) ** 2)


def q_auth(lat_rad):
    """Authalic q (Snyder eq. 3-12), vectorized.

    q = (1-e^2) * [ sin(phi)/(1-e^2 sin^2 phi)
                    - 1/(2e) * ln((1-e sin phi)/(1+e sin phi)) ]
    """
    s = np.sin(lat_rad)
    es = E * s
    return (1.0 - E2) * (s / (1.0 - E2 * s * s) - np.log((1.0 - es) / (1.0 + es)) / (2.0 * E))


QP = float(q_auth(np.pi / 2.0))  # q at the pole


def q_auth_col(lat_rad: Column) -> Column:
    """``q_auth`` as a Spark column expression over a radians column."""
    e = float(E)
    s = sf.sin(lat_rad)
    return sf.lit(1.0 - E2) * (
        s / (sf.lit(1.0) - sf.lit(E2) * s * s)
        - sf.lit(1.0 / (2.0 * e))
        * sf.log((sf.lit(1.0) - sf.lit(e) * s) / (sf.lit(1.0) + sf.lit(e) * s)))


def pick_epsg(lat_min: float, lat_max: float) -> int:
    """EASE CRS choice, same rule as /root/reference/xagg/core.py:475-486.

    Strict inequalities: a bbox touching the equator uses the global grid.
    """
    if lat_min > 0 and lat_max > 0:
        return EPSG_NORTH
    if lat_min < 0 and lat_max < 0:
        return EPSG_SOUTH
    return EPSG_GLOBAL


def forward(lon_deg, lat_deg, epsg: int):
    """Project lon/lat (degrees) to (x, y) meters in the given EASE CRS."""
    lam = np.deg2rad(np.asarray(lon_deg, dtype=np.float64))
    phi = np.deg2rad(np.asarray(lat_deg, dtype=np.float64))
    q = q_auth(phi)
    if epsg == EPSG_GLOBAL:
        # Cylindrical equal-area, Snyder eq. 10-14, 10-15
        x = A * K0 * lam
        y = A * q / (2.0 * K0)
        return x, y
    if epsg == EPSG_NORTH:
        # Lambert azimuthal equal-area, north polar aspect (Snyder 24-23/24)
        rho = A * np.sqrt(np.maximum(QP - q, 0.0))
        return rho * np.sin(lam), -rho * np.cos(lam)
    if epsg == EPSG_SOUTH:
        rho = A * np.sqrt(np.maximum(QP + q, 0.0))
        return rho * np.sin(lam), rho * np.cos(lam)
    raise ValueError(f"unsupported EPSG:{epsg}")


def forward_cols(lon: Column, lat: Column, epsg: int) -> tuple[Column, Column]:
    """``forward`` as Spark column expressions: degree columns -> (x, y)
    meter columns in the given EASE CRS."""
    lam = sf.radians(lon)
    q = q_auth_col(sf.radians(lat))
    if epsg == EPSG_GLOBAL:
        k0 = float(K0)
        return sf.lit(A * k0) * lam, sf.lit(A) * q / sf.lit(2.0 * k0)
    if epsg == EPSG_NORTH:
        rho = sf.lit(A) * sf.sqrt(sf.greatest(sf.lit(QP) - q, sf.lit(0.0)))
        return rho * sf.sin(lam), -rho * sf.cos(lam)
    if epsg == EPSG_SOUTH:
        rho = sf.lit(A) * sf.sqrt(sf.greatest(sf.lit(QP) + q, sf.lit(0.0)))
        return rho * sf.sin(lam), rho * sf.cos(lam)
    raise ValueError(f"unsupported EPSG:{epsg}")


# authalic-latitude inverse table for q^{-1} (0.01-degree grid; inverse
# interpolation error ~1e-7 deg, far inside the cover's 1-cell margins)
_LAT_TAB = np.linspace(-90.0, 90.0, 18001)
_Q_TAB = q_auth(np.deg2rad(_LAT_TAB))


def _q_inv(q):
    return np.interp(q, _Q_TAB, _LAT_TAB)


def inverse(x, y, epsg: int):
    """Inverse projection (meters -> lon/lat degrees), Snyder formulas with
    the authalic-latitude inverse via table interpolation.  Used only for
    conservative ring densification (cover/classification), never for the
    exact refine numerics."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    if epsg == EPSG_GLOBAL:
        lon = np.rad2deg(x / (A * K0))
        q = y * (2.0 * K0) / A
        return lon, _q_inv(q)
    if epsg in (EPSG_NORTH, EPSG_SOUTH):
        rho = np.hypot(x, y)
        q = QP - (rho / A) ** 2 if epsg == EPSG_NORTH else (rho / A) ** 2 - QP
        lat = _q_inv(q)
        lon = np.rad2deg(np.arctan2(x, -y if epsg == EPSG_NORTH else y))
        return lon, lat
    raise ValueError(f"unsupported EPSG:{epsg}")


def edge_curve_pads(ring: np.ndarray, epsg: int, k: int = 33) -> np.ndarray:
    """Per-edge max deviation (degrees) between the lon/lat CHORD and the
    true projected-straight CURVE of each ring edge, by vectorized sampling.

    The polygon's real geometry (GEOS parity) is straight in the projected
    CRS; in lon/lat the edge bows away from the chord by up to ~1 degree for
    long edges.  Cover/classification uses the cheap chord geometry expanded
    by this pad, which is conservative: every cell the true curve touches is
    within pad of the chord."""
    ring = np.asarray(ring, dtype=np.float64)
    x, y = forward(ring[:, 0], ring[:, 1], epsg)
    xj, yj = np.roll(x, -1), np.roll(y, -1)
    lonj, latj = np.roll(ring[:, 0], -1), np.roll(ring[:, 1], -1)
    t = np.linspace(0.0, 1.0, k)[None, :]
    xs = x[:, None] * (1 - t) + xj[:, None] * t
    ys = y[:, None] * (1 - t) + yj[:, None] * t
    lon_c, lat_c = inverse(xs, ys, epsg)
    lon_ch = ring[:, 0][:, None] * (1 - t) + lonj[:, None] * t
    lat_ch = ring[:, 1][:, None] * (1 - t) + latj[:, None] * t
    dev = np.hypot(lon_c - lon_ch, lat_c - lat_ch)
    # 1.25 safety for the sampling gap between the k probes
    return dev.max(axis=1) * 1.25


def densify_ring(ring: np.ndarray, epsg: int, max_seg_deg: float = 0.25) -> np.ndarray:
    """Subdivide ring edges IN PROJECTED SPACE and map the midpoints back to
    lon/lat.  The true polygon geometry (GEOS parity) has straight edges in
    the projected CRS; a long edge maps to a CURVE in lon/lat that can
    deviate ~1 degree from the lon/lat chord.  Cover and interior/boundary
    classification must follow the projected-straight curve, so they run on
    this densified ring; the refine UDF keeps the original vertices."""
    ring = np.asarray(ring, dtype=np.float64)
    x, y = forward(ring[:, 0], ring[:, 1], epsg)
    out = []
    m = len(ring)
    for i in range(m):
        j = (i + 1) % m
        span = max(abs(ring[j, 0] - ring[i, 0]), abs(ring[j, 1] - ring[i, 1]))
        k = max(int(np.ceil(span / max_seg_deg)), 1)
        t = np.arange(k) / k
        xs = x[i] + t * (x[j] - x[i])
        ys = y[i] + t * (y[j] - y[i])
        lon, lat = inverse(xs, ys, epsg)
        # keep the EXACT original vertex (inverse is approximate)
        lon[0], lat[0] = ring[i, 0], ring[i, 1]
        out.append(np.stack([lon, lat], axis=1))
    return np.concatenate(out, axis=0)


def cea_band_area(lat0_deg, lat1_deg, lon0_deg, lon1_deg):
    """Exact EPSG:6933 planar area of a lat/lon-aligned rectangle.

    In the cylindrical equal-area CRS a lat/lon rectangle maps to an
    axis-aligned rectangle, so area = dx * dy in closed form.  Used by the
    analytic SQL oracle and as a fast path for rect-rect overlaps.
    """
    lam0 = np.deg2rad(np.asarray(lon0_deg, dtype=np.float64))
    lam1 = np.deg2rad(np.asarray(lon1_deg, dtype=np.float64))
    q0 = q_auth(np.deg2rad(np.asarray(lat0_deg, dtype=np.float64)))
    q1 = q_auth(np.deg2rad(np.asarray(lat1_deg, dtype=np.float64)))
    return (A * K0 * (lam1 - lam0)) * (A * (q1 - q0) / (2.0 * K0))
