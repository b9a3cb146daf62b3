"""Overlap diagnostics (reference xagg/diag.py:14-148 analog).

The reference's ``diag_fig`` draws a matplotlib/cartopy figure of one
polygon's pixel overlaps.  Neither library exists in this environment, so
the engine renders the same information as a real image using its OWN
16-bit grayscale PNG codec (codecs.image): pixel intensity is the pixel's
rel_area (normalized to the polygon's max), the polygon boundary is traced
at full intensity, and non-overlapping pixels are NaN (carried in the PNG's
NaN-mask chunk).  The output opens in any PNG viewer.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F


def _select_poly_idxs(wm, poly_id) -> list:
    """Reference diag_fig selection semantics (xagg/diag.py:55-63):
    int -> that polygon; dict -> every polygon whose attributes match all
    key/value pairs; list -> those indices (TypeError parity for non-int
    members)."""
    if isinstance(poly_id, (int, np.integer)):
        return [int(poly_id)]
    if isinstance(poly_id, dict):
        attrs = wm.polys.attrs.reset_index(drop=True)
        mask = np.ones(len(attrs), dtype=bool)
        for k, v in poly_id.items():
            mask &= (attrs[k] == v).to_numpy()
        return [int(i) for i in np.where(mask)[0]]
    if isinstance(poly_id, list):
        if not all(isinstance(k, (int, np.integer)) for k in poly_id):
            raise TypeError(
                "If using list polygon ids, all list members must be "
                "integers corresponding to polygon idxs in `wm.agg`.")
        return [int(k) for k in poly_id]
    raise TypeError(f"poly_id must be int, list or dict, got {type(poly_id)}")


def diag_fig(wm, poly_id=0, fn: str | None = None,
             pad_cells: int = 2) -> bytes:
    """Render the selected polygon(s)' overlap raster to PNG bytes
    (optionally also written to ``fn``).  poly_id: int, list of ints, or
    an attribute-match dict — reference selection parity.  With several
    polygons the raster holds each pixel's MAX rel_area across them and
    every selected boundary is traced.  Driver-side: the selected
    polygons' overlap rows are tiny relative to the weightmap."""
    from .codecs.image import encode_tile

    idxs = _select_poly_idxs(wm, poly_id)
    if not idxs:
        raise ValueError(f"no polygon matches {poly_id!r}")
    pdf = (wm.overlaps.filter(F.col("poly_idx").isin([int(i) for i in idxs]))
             .groupBy("pix_idx")
             .agg(F.max("rel_area").alias("rel_area")).toPandas())
    if len(pdf) == 0:
        raise ValueError(f"polygon {poly_id} has no overlaps")
    ag = wm.grid.with_bounds()
    nlon = ag.nlon
    iy = (pdf["pix_idx"].to_numpy() // nlon).astype(int)
    ix = (pdf["pix_idx"].to_numpy() % nlon).astype(int)
    rel = pdf["rel_area"].to_numpy()

    y0 = max(int(iy.min()) - pad_cells, 0)
    y1 = min(int(iy.max()) + pad_cells, ag.nlat - 1)
    x0 = max(int(ix.min()) - pad_cells, 0)
    x1 = min(int(ix.max()) + pad_cells, nlon - 1)
    img = np.full((y1 - y0 + 1, x1 - x0 + 1), np.nan, dtype=np.float32)
    peak = float(rel.max()) or 1.0
    img[iy - y0, ix - x0] = rel / peak

    # trace every selected polygon boundary at full intensity (the
    # reference overlays the polygon edges on the pcolormesh)
    for ring in [r for i in idxs for r in wm.polys.rings[int(i)]]:
        a = np.asarray(ring)
        b = np.roll(a, -1, axis=0)
        for (lon_a, lat_a), (lon_b, lat_b) in zip(a, b):
            k = max(int(np.hypot(lon_b - lon_a, lat_b - lat_a) /
                        max(ag.lon[1] - ag.lon[0] if nlon > 1 else 1.0, 1e-9))
                    * 4, 2)
            ts = np.linspace(0.0, 1.0, k)
            lons = lon_a + ts * (lon_b - lon_a)
            lats = lat_a + ts * (lat_b - lat_a)
            giy = np.searchsorted(ag.lat_bnds[:, 1], lats)
            gix = np.searchsorted(ag.lon_bnds[:, 1], lons)
            ok = (giy >= y0) & (giy <= y1) & (gix >= x0) & (gix <= x1)
            img[giy[ok] - y0, gix[ok] - x0] = 1.0

    # flip so north is up in the rendered image
    png = encode_tile(img[::-1], "png")
    if fn:
        with open(fn, "wb") as f:
            f.write(png)
    return png
