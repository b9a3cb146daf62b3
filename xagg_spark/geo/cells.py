"""Hierarchical lon/lat cell index (H3/S2 stand-in): numpy kernels and
their Spark-column twins.

Neither h3 nor s2 bindings exist in this environment, so the engine uses its
own deterministic equal-angle cell grid: at resolution ``r`` the world is a
2^r x 2^r grid over lon [-180,180) x lat [-90,90).  A cell id packs
(res, ix, iy) into a single int64, so it joins/partitions like any long key.

This plays the same architectural role as the H3 cover in SURVEY.md §2 (G8,
J1a): polygons are covered by a set of cells (broadcast side), pixels map to
the cells their bbox touches (fact side), and the overlap join is a plain
equi-join on cell_id followed by exact refinement.  Cell ids are derived
purely from coordinates -> deterministic under any parallelism.

The cover is built here in numpy on the driver; the pixel side gets its cell
id on the JVM from ``cell_id_col`` / ``pack_cell_col``, the column twins of
``cell_of`` / ``cell_id`` (same arithmetic, so both sides meet on one key).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as sf

from .clip import crossing_parity, ring_edges

MAX_RES = 24


def cell_id(res: int, ix, iy):
    """Pack (res, ix, iy) -> int64.  ix in [0, 2^res), iy in [0, 2^res)."""
    ix = np.asarray(ix, dtype=np.int64)
    iy = np.asarray(iy, dtype=np.int64)
    return (np.int64(res) << np.int64(58)) | (ix << np.int64(29)) | iy


def cell_of(lon, lat, res: int):
    """Cell containing a point. lon wrapped into [-180, 180)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = 1 << res
    ix = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    iy = np.floor((lat + 90.0) / 180.0 * n).astype(np.int64)
    ix = np.clip(ix % n, 0, n - 1)
    iy = np.clip(iy, 0, n - 1)
    return cell_id(res, ix, iy)


def pack_cell_col(res: int, ix: Column, iy: Column) -> Column:
    """``cell_id`` as a Spark column expression: (res<<58)|(ix<<29)|iy over
    long index columns already inside [0, 2^res)."""
    return (sf.lit(res).cast("long") * sf.lit(1 << 58).cast("long")
            + sf.shiftleft(ix, 29) + iy)


def cell_id_col(lon: Column, lat: Column, res: int) -> Column:
    """``cell_of`` as a Spark column expression (JVM codegen, no UDF): the
    same floor arithmetic, lon wrapped and lat clamped, so the id equals
    ``cell_of`` exactly for every point."""
    n = sf.lit(1 << res)
    ix = sf.floor((lon + sf.lit(180.0)) / sf.lit(360.0) * n).cast("long")
    iy = sf.floor((lat + sf.lit(90.0)) / sf.lit(180.0) * n).cast("long")
    ix = ((ix % n) + n) % n
    iy = sf.greatest(sf.least(iy, n - sf.lit(1)), sf.lit(0))
    return pack_cell_col(res, ix, iy)


def cell_range(lo, hi, res: int, is_lon: bool):
    """Index range [i0, i1] of cells touched by the interval [lo, hi],
    elementwise over array bounds.  Lon indices are left unwrapped (callers
    wrap mod 2^res); lat indices clamp to the grid.  i1 >= i0 always."""
    n = 1 << res
    span = 360.0 if is_lon else 180.0
    off = 180.0 if is_lon else 90.0
    i0 = np.floor((np.asarray(lo, dtype=np.float64) + off) / span * n) \
        .astype(np.int64)
    i1 = np.ceil((np.asarray(hi, dtype=np.float64) + off) / span * n) \
        .astype(np.int64) - 1
    if not is_lon:
        i0 = np.clip(i0, 0, n - 1)
        i1 = np.clip(i1, 0, n - 1)
    return i0, np.maximum(i1, i0)


def cover_bbox(lon0: float, lat0: float, lon1: float, lat1: float, res: int) -> np.ndarray:
    """All cell ids whose cell rectangle intersects the bbox (lon not wrapped:
    caller splits antimeridian-crossing boxes first)."""
    n = 1 << res
    x0, x1 = cell_range(lon0, lon1, res, True)
    y0, y1 = cell_range(lat0, lat1, res, False)
    xs = np.arange(x0, x1 + 1, dtype=np.int64) % n
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return np.unique(cell_id(res, gx.ravel(), gy.ravel()))


def pick_resolution(pixel_deg: float) -> int:
    """Choose a resolution whose cells span ~2 pixels per axis (~4 pixels
    a cell) — keeps pixel->cell fan-out ~1 while the polygon cover stays
    small.  Clamped to [0, MAX_RES]."""
    if pixel_deg <= 0:
        return 6
    res = int(np.floor(np.log2(360.0 / (2.0 * pixel_deg))))
    return int(np.clip(res, 0, MAX_RES))


def _dilate1(mark: np.ndarray) -> np.ndarray:
    """8-neighbor dilation with 1-cell padding; output is padded by 1."""
    nx, ny = mark.shape
    pad = np.zeros((nx + 2, ny + 2), dtype=bool)
    pad[1:-1, 1:-1] = mark
    d = pad.copy()
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            d |= np.roll(np.roll(pad, dx, axis=0), dy, axis=1)
    return d


def _erode1(mark: np.ndarray) -> np.ndarray:
    """8-neighbor erosion (True only where the full 3x3 block is True)."""
    nx, ny = mark.shape
    pad = np.zeros((nx + 2, ny + 2), dtype=bool)
    pad[1:-1, 1:-1] = mark
    e = pad.copy()
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            e &= np.roll(np.roll(pad, dx, axis=0), dy, axis=1)
    return e[1:-1, 1:-1]


def cover_polygon_classified(rings, res: int, pads_list=None):
    """Dilated cover + 'safe interior' classification over ALL rings of one
    polygon (exterior(s), disjoint parts, AND holes) at once.

    rings: list of (N,2) lon/lat vertex arrays.  pads_list: per-ring arrays
    of per-edge conservative curve pads (degrees).

    Returns (cell_ids int64[], full bool[]).  Interior = even-odd crossing
    parity over the UNION of all rings' edges — a point inside a hole has
    even parity, so hole interiors are correctly NOT interior (the
    reference's GEOS geometries subtract interior rings).  A cell is FULL
    iff it and all 8 neighbors have centers inside the region and no ring
    edge (hole edges included) passes through them — then any pixel whose
    center falls in the cell (pixel <= cell size per axis) lies entirely
    inside the polygon-with-holes, so its overlap is the whole pixel,
    computable in closed form JVM-side with no clipping.
    """
    rings = [np.asarray(r, dtype=np.float64) for r in rings]
    if pads_list is None:
        pads_list = [None] * len(rings)
    n = 1 << res
    cw, ch = 360.0 / n, 180.0 / n
    maxpad = max((float(np.max(p)) for p in pads_list
                  if p is not None and len(p)), default=0.0)
    all_lon = np.concatenate([r[:, 0] for r in rings])
    all_lat = np.concatenate([r[:, 1] for r in rings])
    lon0, lon1 = float(all_lon.min()) - maxpad, float(all_lon.max()) + maxpad
    lat0, lat1 = float(all_lat.min()) - maxpad, float(all_lat.max()) + maxpad
    x0, x1 = cell_range(lon0, lon1, res, True)
    y0, y1 = cell_range(lat0, lat1, res, False)
    nx, ny = x1 - x0 + 1, y1 - y0 + 1

    # even-odd parity of every cell center against the union of all rings'
    # edges, chunked so one chunk's (points x edges) temporaries stay at
    # ~2^23 elements
    edges = ring_edges(rings)
    cx = -180.0 + (np.arange(x0, x1 + 1) + 0.5) * cw
    cy = -90.0 + (np.arange(y0, y1 + 1) + 0.5) * ch
    GX, GY = np.meshgrid(cx, cy, indexing="ij")
    px, py = GX.ravel(), GY.ravel()
    inside = np.zeros(len(px), dtype=bool)
    CHK = max(1024, (1 << 23) // max(len(edges), 1))
    for s in range(0, len(px), CHK):
        inside[s:s + CHK] = crossing_parity(px[s:s + CHK], py[s:s + CHK],
                                            edges)
    inside = inside.reshape(nx, ny)

    edge = np.zeros((nx, ny), dtype=bool)
    for r, p in zip(rings, pads_list):
        edge |= _rasterize_edges(r[:, 0], r[:, 1], p, res, x0, x1, y0, y1)

    mark = inside | edge
    cover = _dilate1(mark)                       # padded (+1)
    fully_inside = inside & ~edge
    safe = _erode1(fully_inside)                 # unpadded
    safe_pad = np.zeros_like(cover)
    safe_pad[1:-1, 1:-1] = safe

    kx, ky = np.nonzero(cover)
    full = safe_pad[kx, ky]
    kx, ky = kx - 1 + x0, ky - 1 + y0
    ok = (ky >= 0) & (ky < n)
    kx, ky, full = kx[ok] % n, ky[ok], full[ok]
    if len(kx) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=bool)
    ids = cell_id(res, kx, ky)
    uids, inv = np.unique(ids, return_inverse=True)
    # a physical cell reached twice (lon wrap) is FULL only if every window
    # instance says so (conservative: edge wins over full)
    ufull = np.ones(len(uids), dtype=bool)
    np.minimum.at(ufull, inv, full)
    return uids, ufull


def _rasterize_edges(lons, lats, pads, res, x0, x1, y0, y1) -> np.ndarray:
    """Conservative raster of ring edges onto the (x0..x1, y0..y1) cell
    window, each edge expanded by its curve pad (degrees): the true
    projected-straight edge curve stays within pad of the lon/lat chord
    (geo.ellipsoid.edge_curve_pads), so every cell the true boundary touches
    gets marked.

    Vectorized over (edge, column) pairs: each pair marks one y-run of its
    column (the edge clipped to the column's lon span widened by pad), and
    the runs are summed into a difference array along y, then cumsum'd."""
    n = 1 << res
    cw, ch = 360.0 / n, 180.0 / n
    nx, ny = x1 - x0 + 1, y1 - y0 + 1
    ax = np.asarray(lons, dtype=np.float64)
    ay = np.asarray(lats, dtype=np.float64)
    bx, by = np.roll(ax, -1), np.roll(ay, -1)
    pad = (np.zeros(len(ax)) if pads is None
           else np.asarray(pads, dtype=np.float64))
    # each edge's columns, clipped to the window
    gx0 = np.maximum(np.floor((np.minimum(ax, bx) - pad + 180.0) / cw), x0)
    gx1 = np.minimum(np.floor((np.maximum(ax, bx) + pad + 180.0) / cw), x1)
    ncol = np.maximum(gx1 - gx0 + 1, 0).astype(np.int64)
    first = np.cumsum(ncol) - ncol
    diff = np.zeros(nx * (ny + 1), dtype=np.int64)
    # edge chunks of about 2^20 pairs bound the temporaries
    for k in np.split(np.arange(len(ax)),
                      np.flatnonzero(np.diff(first >> 20)) + 1):
        e = np.repeat(k, ncol[k])
        if not len(e):
            continue
        gx = gx0[e] + (np.arange(len(e)) - (first[e] - first[k[0]]))
        p, ex, ey = pad[e], ax[e], ay[e]
        dx, dy = bx[e] - ex, by[e] - ey
        cxa = -180.0 + gx * cw - p
        cxb = cxa + cw + 2.0 * p
        # a near-vertical edge (dx ~ 1e-309) overflows t to +-inf, which
        # the clip to [0, 1] turns into the edge's whole y-range
        with np.errstate(over="ignore", divide="ignore", invalid="ignore"):
            ya = ey + np.clip((cxa - ex) / dx, 0.0, 1.0) * dy
            yb = ey + np.clip((cxb - ex) / dx, 0.0, 1.0) * dy
        vert = ex == bx[e]
        ylo = np.where(vert, np.minimum(ey, by[e]), np.minimum(ya, yb))
        yhi = np.where(vert, np.maximum(ey, by[e]), np.maximum(ya, yb))
        gy0 = np.maximum(np.floor((ylo - p + 90.0) / ch), y0)
        gy1 = np.minimum(np.floor((yhi + p + 90.0) / ch), y1)
        ok = gy1 >= gy0
        row = (gx[ok] - x0).astype(np.int64) * (ny + 1)
        diff += np.bincount(row + (gy0[ok] - y0).astype(np.int64),
                            minlength=len(diff))
        diff -= np.bincount(row + (gy1[ok] - y0 + 1).astype(np.int64),
                            minlength=len(diff))
    return np.cumsum(diff.reshape(nx, ny + 1), axis=1)[:, :ny] > 0
