"""Driver-side polygon table (the broadcast dimension side).

The reference takes a geopandas GeoDataFrame; without GEOS in this
environment, polygons are plain numpy vertex rings.  Polygon counts are
small relative to pixels (counties vs 10^12 tiles), so all per-polygon prep
(poly_idx assignment, CRS pick, cell cover) happens on the driver and ships
to executors as a broadcast.

poly_idx is assigned in input order — /root/reference/xagg/core.py:467
(np.arange over the input), never from partition order.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from .geo import cells as _cells
from .geo import clip as _clip
from .geo import ellipsoid as _ell


def _ring_signed_area(r: np.ndarray) -> float:
    x, y = r[:, 0], r[:, 1]
    return float(0.5 * np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def rect_ring(lon0: float, lat0: float, lon1: float, lat1: float) -> np.ndarray:
    """CCW rectangle ring (lon/lat)."""
    return np.array([[lon0, lat0], [lon1, lat0], [lon1, lat1], [lon0, lat1]],
                    dtype=np.float64)


def centroids(polys: "PolygonSet") -> np.ndarray:
    """Area-weighted polygon centroids in lon/lat (reference G6,
    /root/reference/xagg/diag.py:100; driver-side — polygons are small)."""
    out = np.zeros((len(polys), 2))
    for i, poly in enumerate(polys.rings):
        cx = cy = area = 0.0
        for r in poly:
            x, y = r[:, 0], r[:, 1]
            xn, yn = np.roll(x, -1), np.roll(y, -1)
            cross = x * yn - xn * y
            a = cross.sum() / 2.0
            if abs(a) < 1e-300:
                continue
            cx += float(((x + xn) * cross).sum() / 6.0)
            cy += float(((y + yn) * cross).sum() / 6.0)
            area += a
        out[i] = (cx / area, cy / area) if area else (np.nan, np.nan)
    return out


@dataclass
class PolygonSet:
    """rings[i] = list of exterior rings (lon/lat (N,2)) of polygon i
    (len>1 = MultiPolygon); attrs = one row per polygon (no geometry)."""
    rings: list
    attrs: pd.DataFrame = None

    def __post_init__(self):
        n = len(self.rings)
        # normalize: single ring -> [ring]
        self.rings = [[np.asarray(r, dtype=np.float64) for r in
                       (poly if isinstance(poly, (list, tuple)) else [poly])]
                      for poly in self.rings]
        if self.attrs is None:
            self.attrs = pd.DataFrame(index=range(n))
        self.attrs = self.attrs.reset_index(drop=True)
        self.attrs["poly_idx"] = np.arange(n, dtype=np.int64)
        # classify rings by containment-depth parity among the polygon's own
        # rings: even depth = exterior / disjoint part (+1), odd = hole (-1)
        # — the reference's GEOS geometries subtract interior rings.  Then
        # normalize orientation (exterior CCW, hole CW) so signed shoelace
        # math downstream (centroids, signed clip sums) is consistent
        # regardless of the input convention (ESRI shapefiles are CW-
        # exterior, GeoJSON is CCW-exterior).
        self._signs = []
        for poly in self.rings:
            sg = []
            for i, r in enumerate(poly):
                depth = sum(int(_clip.crossing_parity(
                                r[:1, 0], r[:1, 1], _clip.ring_edges([o]))[0])
                            for j, o in enumerate(poly)
                            if j != i and len(o) >= 3)
                sg.append(-1.0 if depth % 2 else 1.0)
            self._signs.append(sg)
        for poly, sg in zip(self.rings, self._signs):
            for k, r in enumerate(poly):
                if (sg[k] > 0) != (_ring_signed_area(r) >= 0):
                    poly[k] = np.ascontiguousarray(r[::-1])

    def ring_signs(self) -> list:
        """Per-polygon list of +1.0 (exterior/part) / -1.0 (hole) per ring."""
        return self._signs

    def __len__(self):
        return len(self.rings)

    def total_bounds(self):
        lons = np.concatenate([r[:, 0] for poly in self.rings for r in poly])
        lats = np.concatenate([r[:, 1] for poly in self.rings for r in poly])
        return float(lons.min()), float(lats.min()), float(lons.max()), float(lats.max())

    def pick_epsg(self) -> int:
        _, lat0, _, lat1 = self.total_bounds()
        return _ell.pick_epsg(lat0, lat1)

    def _edge_pads(self):
        """Per-ring conservative pad (deg) for the lon/lat-chord-vs-
        projected-curve deviation of each edge; cached (geometry is
        immutable in practice)."""
        pads = getattr(self, "_pads_cache", None)
        if pads is None:
            epsg = self.pick_epsg()
            pads = [[_ell.edge_curve_pads(r, epsg) for r in poly]
                    for poly in self.rings]
            self._pads_cache = pads
        return pads

    def max_edge_pad(self) -> float:
        """Max projected-curve bow (degrees) over every ring edge — how far
        the true (projected-straight) boundary can leave the lon/lat vertex
        bbox.  Zero-ish for EPSG:6933, nonzero for the polar LAEA CRSes."""
        vals = [float(np.max(p)) for poly in self._edge_pads()
                for p in poly if len(p)]
        return max(vals) if vals else 0.0

    def cell_cover_classified(self, res: int) -> pd.DataFrame:
        """(poly_idx, cell_id, full) — dilated cover with the safe-interior
        flag: pixels centered in a FULL cell lie entirely inside the
        polygon-with-holes, so their overlap area needs no clipping (JVM
        fast path).  All rings of a polygon (disjoint parts AND holes) are
        classified together with even-odd parity, so hole interiors are
        excluded and hole boundaries demote cells to edge."""
        pads = self._edge_pads()
        pi_parts, ci_parts, fu_parts = [], [], []
        for i, poly in enumerate(self.rings):
            ids, full = _cells.cover_polygon_classified(poly, res,
                                                        pads_list=pads[i])
            if not len(ids):
                continue
            pi_parts.append(np.full(len(ids), i, dtype=np.int64))
            ci_parts.append(ids)
            fu_parts.append(full)
        if not pi_parts:
            return pd.DataFrame({"poly_idx": np.zeros(0, np.int64),
                                 "cell_id": np.zeros(0, np.int64),
                                 "full": np.zeros(0, bool)})
        return pd.DataFrame({"poly_idx": np.concatenate(pi_parts),
                             "cell_id": np.concatenate(ci_parts),
                             "full": np.concatenate(fu_parts)})
