"""Polygon clipping + area, pure numpy (no GEOS available in this env).

Reproduces the numerics of the reference's ``gpd.overlay(how='intersection')``
+ ``.area`` (/root/reference/xagg/core.py:488-497, 521): both sides are
projected to an EASE CRS first, the intersection is computed on straight
segments *in projected space*, and the area is the planar (shoelace) area of
the clipped polygon.

We clip the (arbitrary, possibly concave) user polygon against the pixel
rectangle with Sutherland-Hodgman.  In the cylindrical CRS (EPSG:6933) a
lat/lon-aligned pixel maps to an exact axis-aligned rectangle, so the clip
window is exactly convex and results are bit-comparable with GEOS up to
floating-point summation order.  In the polar LAEA CRSes the projected pixel
is a near-convex quad for any realistic pixel size; the same routine applies.

The module also holds the engine's one even-odd point-in-polygon kernel
(``ring_edges`` + ``crossing_parity``), shared by the cell cover, the refine
UDF's fully-inside test and the ring hole classification.
"""

from __future__ import annotations

import numpy as np


def shoelace_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Signed-magnitude planar polygon area (positive, like GEOS .area)."""
    if len(xs) < 3:
        return 0.0
    return float(abs(np.sum(xs * np.roll(ys, -1) - np.roll(xs, -1) * ys)) * 0.5)


def ring_edges(rings) -> np.ndarray:
    """(E, 4) edge table (xa, ya, xb, yb) over every ring's closed edge
    cycle; rings are (N, 2) vertex arrays, concatenated in order."""
    return np.concatenate([np.concatenate([r, np.roll(r, -1, axis=0)], axis=1)
                           for r in rings], axis=0)


def crossing_parity(px: np.ndarray, py: np.ndarray,
                    edges: np.ndarray) -> np.ndarray:
    """Even-odd (crossing-number) inside test of the points (px, py) against
    an (E, 4) ``ring_edges`` table: a point is inside iff a ray to +x
    crosses an odd number of edges, so points inside a hole ring come out
    outside.  One call works on one chunk: it allocates (len(px), E)
    temporaries, and callers chunk the points to bound them."""
    px, py = px[:, None], py[:, None]
    xa, ya = edges[None, :, 0], edges[None, :, 1]
    xb, yb = edges[None, :, 2], edges[None, :, 3]
    cross = (ya > py) != (yb > py)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xi = xa + (py - ya) * (xb - xa) / (yb - ya)
    return ((cross & (xi > px)).sum(axis=1) % 2).astype(bool)


def _ensure_ccw(pts: np.ndarray) -> np.ndarray:
    x, y = pts[:, 0], pts[:, 1]
    signed = np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)
    return pts if signed >= 0 else pts[::-1]


def clip_polygon_convex(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland-Hodgman: clip ``subject`` (N,2) by convex ``clip`` (M,2).

    Returns the clipped vertex ring (K,2); K<3 means empty intersection.
    """
    clip = _ensure_ccw(np.asarray(clip, dtype=np.float64))
    out = np.asarray(subject, dtype=np.float64)
    m = len(clip)
    for i in range(m):
        if len(out) == 0:
            break
        ax, ay = clip[i]
        bx, by = clip[(i + 1) % m]
        ex, ey = bx - ax, by - ay
        # signed distance of each subject vertex to clip edge (>=0 inside, CCW)
        px, py = out[:, 0], out[:, 1]
        d = ex * (py - ay) - ey * (px - ax)
        nxt = np.roll(np.arange(len(out)), -1)
        new_pts = []
        for j in range(len(out)):
            k = nxt[j]
            dj, dk = d[j], d[k]
            if dj >= 0:
                new_pts.append(out[j])
                if dk < 0:
                    t = dj / (dj - dk)
                    new_pts.append(out[j] + t * (out[k] - out[j]))
            elif dk >= 0:
                t = dj / (dj - dk)
                new_pts.append(out[j] + t * (out[k] - out[j]))
        out = np.asarray(new_pts, dtype=np.float64).reshape(-1, 2)
    return out


def clip_area(subject: np.ndarray, clip: np.ndarray) -> float:
    ring = clip_polygon_convex(subject, clip)
    if len(ring) < 3:
        return 0.0
    return shoelace_area(ring[:, 0], ring[:, 1])


def clip_areas_batch(ring: np.ndarray, quads: np.ndarray,
                     chunk: int = 4096) -> np.ndarray:
    """Areas of ``ring ∩ quads[i]`` for N convex quads at once — the
    vectorized twin of ``clip_area`` (same Sutherland-Hodgman + shoelace
    math, verified element-for-element against it in tests).

    ring: (M,2) subject polygon (any winding, may be concave).
    quads: (N,4,2) convex clip windows (any winding; normalized here).
    Chunked over N so intermediate (N, K)-vertex buffers stay cache-sized.
    """
    ring = np.asarray(ring, dtype=np.float64)
    quads = np.asarray(quads, dtype=np.float64)
    out = np.empty(len(quads))
    for s in range(0, len(quads), chunk):
        out[s:s + chunk] = _clip_areas_chunk(ring, quads[s:s + chunk])
    return out


def _clip_areas_chunk(ring: np.ndarray, quads: np.ndarray) -> np.ndarray:
    # slots beyond each row's valid prefix hold garbage (np.empty) — all
    # arithmetic on them is masked out, so NaN warnings are suppressed
    with np.errstate(invalid="ignore", divide="ignore"):
        return _clip_areas_chunk_inner(ring, quads)


def _clip_areas_chunk_inner(ring: np.ndarray, quads: np.ndarray) -> np.ndarray:
    N = quads.shape[0]
    if N == 0:
        return np.zeros(0)
    # normalize clip winding to CCW per quad
    sa = 0.5 * np.sum(quads[:, :, 0] * np.roll(quads[:, :, 1], -1, axis=1)
                      - np.roll(quads[:, :, 0], -1, axis=1) * quads[:, :, 1],
                      axis=1)
    quads = np.where((sa < 0)[:, None, None], quads[:, ::-1, :], quads)

    M = len(ring)
    X = np.broadcast_to(ring[:, 0], (N, M)).copy()
    Y = np.broadcast_to(ring[:, 1], (N, M)).copy()
    counts = np.full(N, M, dtype=np.int64)           # valid prefix length

    for e in range(4):
        K = X.shape[1]
        alive = counts >= 3
        ax, ay = quads[:, e, 0][:, None], quads[:, e, 1][:, None]
        ex = (quads[:, (e + 1) % 4, 0] - quads[:, e, 0])[:, None]
        ey = (quads[:, (e + 1) % 4, 1] - quads[:, e, 1])[:, None]
        d = ex * (Y - ay) - ey * (X - ax)            # >=0 inside (CCW clip)
        idx = np.arange(K)[None, :]
        in_pref = idx < counts[:, None]
        # successor within the valid cyclic prefix
        Xn = np.roll(X, -1, axis=1)
        Yn = np.roll(Y, -1, axis=1)
        dn = np.roll(d, -1, axis=1)
        rows = np.arange(N)
        last = np.maximum(counts - 1, 0)
        Xn[rows, last] = X[rows, 0]
        Yn[rows, last] = Y[rows, 0]
        dn[rows, last] = d[rows, 0]

        keep_cur = in_pref & (d >= 0) & alive[:, None]
        crossing = in_pref & ((d < 0) != (dn < 0)) & alive[:, None]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = d / (d - dn)
        ix_ = X + t * (Xn - X)
        iy_ = Y + t * (Yn - Y)

        # interleave: slot 2j = current vertex, slot 2j+1 = intersection
        outX = np.empty((N, 2 * K))
        outY = np.empty((N, 2 * K))
        outV = np.zeros((N, 2 * K), dtype=bool)
        outX[:, 0::2], outY[:, 0::2] = X, Y
        outX[:, 1::2], outY[:, 1::2] = ix_, iy_
        outV[:, 0::2], outV[:, 1::2] = keep_cur, crossing

        # compact valid slots to a left prefix (stable)
        order = np.argsort(~outV, axis=1, kind="stable")
        outX = np.take_along_axis(outX, order, axis=1)
        outY = np.take_along_axis(outY, order, axis=1)
        counts = outV.sum(axis=1)
        counts = np.where(alive, counts, 0)
        Kn = max(int(counts.max()), 1)
        X, Y = outX[:, :Kn], outY[:, :Kn]

    # shoelace over the valid cyclic prefix
    K = X.shape[1]
    idx = np.arange(K)[None, :]
    in_pref = idx < counts[:, None]
    Xn = np.roll(X, -1, axis=1)
    Yn = np.roll(Y, -1, axis=1)
    rows = np.arange(N)
    last = np.maximum(counts - 1, 0)
    Xn[rows, last] = X[rows, 0]
    Yn[rows, last] = Y[rows, 0]
    terms = np.where(in_pref, X * Yn - Xn * Y, 0.0)
    area = 0.5 * np.abs(terms.sum(axis=1))
    return np.where(counts >= 3, area, 0.0)


def rect_rect_overlap_area_cea(plon0, plat0, plon1, plat1,
                               qlon0, qlat0, qlon1, qlat1):
    """Vectorized exact EPSG:6933 overlap area of two lat/lon rectangles.

    Fast path used when the user polygon is an axis-aligned rectangle
    (the synthetic-benchmark / oracle case); closed form, no clipping loop.
    """
    from .ellipsoid import cea_band_area

    lon0 = np.maximum(plon0, qlon0)
    lon1 = np.minimum(plon1, qlon1)
    lat0 = np.maximum(plat0, qlat0)
    lat1 = np.minimum(plat1, qlat1)
    area = cea_band_area(lat0, lat1, lon0, lon1)
    empty = (lon1 <= lon0) | (lat1 <= lat0)
    return np.where(empty, 0.0, area)
