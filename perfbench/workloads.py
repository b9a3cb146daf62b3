"""The benchmark workloads.

Each workload has ``setup`` (untimed inputs every pass reuses: polygons,
the pixel table, the center sets), ``warmup_passes`` (the untimed passes
set-up ends with), ``run`` (one timed pass,
from its first call into the engine until the result is on the driver),
``check`` (the per-pass correctness check, outside the timed region) and
``cleanup`` (frees and deletes what the pass created, outside the timed
region).  Only public ``xagg_spark`` functions are called.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from xagg_spark.geo.ellipsoid import forward, pick_epsg
from xagg_spark.io.weightmap_io import read_wm, save_weightmap
from xagg_spark.operators import (aggregate, aggregate_quantile,
                                  pixel_geometry, pixel_overlaps,
                                  tiles_to_pixels)
from xagg_spark.operators.knn import knn_pixels
from xagg_spark.session import free_local_checkpoint

import fixtures as fx

# |result - expected| <= MEAN_RTOL * |expected|: the expected mean uses the
# exact PNG-quantized values, so only the summation order differs.
MEAN_RTOL = 1e-9
# kNN distances are compared at this relative tolerance: the JVM and numpy
# evaluate the same projection formulas, possibly in a different order.
DIST_RTOL = 1e-9


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


class Geo:
    """geo: xagg's pipeline, one weightmap applied to two rasters.  A pass
    runs pixel_overlaps (default arguments) -> save_weightmap -> unpersist
    -> read_wm, then tiles_to_pixels (all-finite tiles) -> aggregate (mean)
    -> collect, and tiles_to_pixels (NaN-masked tiles) -> aggregate_quantile
    (q=0.5) -> collect."""

    # the first pass after a single warm-up ran 10-30 % slower than the
    # next ones (JIT still compiling), so set-up runs two
    warmup_passes = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.wm_path = os.path.join(ctx.work, "wm")
        self.reference = None          # (rows, checksum) of the warm-up build

    def setup(self):
        rings = fx.load_rings(self.ctx.fixture)
        self.polys = fx.polygon_set(rings)
        self.sizes = {"polygons": len(rings), "admin_vertices": fx.ADMIN_VERTICES,
                      "grid_pixels": fx.GRID.nlat * fx.GRID.nlon,
                      "pixel_values": 2 * fx.NTIME * fx.GRID.nlat * fx.GRID.nlon}

    def run(self):
        ctx, tr = self.ctx, self.ctx.tracer
        with tr.span("overlaps.pixel_overlaps"):
            built = pixel_overlaps(ctx.spark, fx.GRID, self.polys)
        with tr.span("weightmap_io.save_weightmap"):
            save_weightmap(built, self.wm_path, overwrite=True)
        if tr.active:
            tr.count("weightmap_io.save_weightmap.bytes", _dir_bytes(self.wm_path))
        built.unpersist()
        tr.count("overlaps.pixel_overlaps.rows", built.n_rows)
        tr.count("overlaps.pixel_overlaps.boundary_refined", built.n_boundary_refined)
        tr.count("overlaps.pixel_overlaps.nonconvex_fallback", built.n_nonconvex_fallback)
        with tr.span("weightmap_io.read_wm"):
            wm = read_wm(ctx.spark, self.wm_path)
        out = {"built": built, "read": wm}
        for median in (False, True):
            with tr.span("overlaps.tiles_to_pixels"):
                tiles = ctx.spark.read.parquet(
                    os.path.join(ctx.fixture, fx.tile_dir(median)))
                pix = tiles_to_pixels(tiles, fx.GRID, variables=(fx.VAR,))
                if tr.active:
                    tr.count("overlaps.tiles_to_pixels.values", pix.count())
            span = "aggregate.aggregate_quantile" if median else "aggregate.aggregate"
            with tr.span(span):
                if median:
                    res = aggregate_quantile(pix, wm, q=0.5, dims=("var", "t"))
                else:
                    res = aggregate(pix, wm, dims=("var", "t"))
                out[median] = (res, res.toPandas())
            tr.count(span + ".rows_out", len(out[median][1]))
        return out

    def check(self, out) -> str | None:
        ov = (out["read"].overlaps.select("poly_idx", "pix_idx", "rel_area")
              .toPandas().sort_values(["poly_idx", "pix_idx"], ignore_index=True))
        sums = ov.groupby("poly_idx")["rel_area"].sum()
        if len(sums) != len(self.polys) or (np.abs(sums - 1.0) > 1e-9).any():
            return "per-polygon rel_area does not sum to 1"
        digest = (len(ov), int(pd.util.hash_pandas_object(
            ov.assign(rel_area=ov["rel_area"].round(12)), index=False).sum()))
        if self.reference is None:
            self.reference = digest
            self.sizes["overlap_rows"] = digest[0]
            self._expected = {m: self.expected(ov, m) for m in (False, True)}
        if digest != self.reference:
            return f"overlap rows/checksum {digest} differ from the warm-up build's {self.reference}"
        if out["built"].n_rows != digest[0] or out["read"].n_rows != digest[0]:
            return "built, saved and read-back overlap row counts differ"
        for median in (False, True):
            err = self._compare(out[median][1], median)
            if err:
                return err
        return None

    def expected(self, ov: pd.DataFrame, median: bool) -> pd.DataFrame:
        """Driver-side answer per (poly_idx, t) from the saved overlap
        table and the closed-form, PNG-quantized pixel values."""
        vals = fx.quantized_values(self.ctx.seed, masked=median).reshape(fx.NTIME, -1)
        poly = ov["poly_idx"].to_numpy()
        pix = ov["pix_idx"].to_numpy()
        w = ov["rel_area"].to_numpy()
        starts = np.searchsorted(poly, np.arange(len(self.polys) + 1))
        rows = []
        for t in range(fx.NTIME):
            v = vals[t, pix]
            for p in range(len(self.polys)):
                sl = slice(starts[p], starts[p + 1])
                f = np.isfinite(v[sl])
                rows.append((p, t, _reduce(v[sl][f], w[sl][f], pix[sl][f], median)))
        return pd.DataFrame(rows, columns=["poly_idx", "t", "expected"])

    def _compare(self, pdf: pd.DataFrame, median: bool) -> str | None:
        what = "median" if median else "mean"
        want = self._expected[median]
        got = pdf[["poly_idx", "t", "value"]].astype({"poly_idx": "int64", "t": "int64"})
        m = want.merge(got, on=["poly_idx", "t"], how="outer")
        if len(m) != len(want) or len(got) != len(want):
            return f"{what}: {len(got)} result rows, expected {len(want)}"
        e, g = m["expected"].to_numpy(), m["value"].to_numpy(dtype=float)
        if not np.array_equal(np.isnan(e), np.isnan(g)):
            return f"{what}: NaN pattern differs from the expected answer"
        f = ~np.isnan(e)
        bad = (e[f] != g[f]) if median else (np.abs(g[f] - e[f]) > MEAN_RTOL * np.abs(e[f]))
        if bad.any():
            return f"{what}: {int(bad.sum())} of {int(f.sum())} values differ"
        return None

    def cleanup(self, out):
        for median in (False, True):
            free_local_checkpoint(out[median][0])
        shutil.rmtree(self.wm_path, ignore_errors=True)


def _reduce(v, w, pix, median: bool) -> float:
    """Weighted mean, or the lower weighted median: the first value (ties
    by pix_idx) whose running weight reaches half the total."""
    if len(v) == 0:
        return np.nan
    if not median:
        return float(np.sum(w * v) / np.sum(w))
    order = np.lexsort((pix, v))
    cw = np.cumsum(w[order])
    return float(v[order][np.searchsorted(cw, 0.5 * cw[-1])])


class Knn:
    """knn: knn_pixels(k=5) over pixel_geometry pixels, once with a center
    set small enough for the broadcast cover and once with one large
    enough for the cluster-built cover."""

    warmup_passes = 1

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self):
        ctx = self.ctx
        self.pixels = (pixel_geometry(ctx.spark, fx.KNN_GRID)
                       .select("pix_idx", "lat", "lon").localCheckpoint(eager=True))
        self.centers = {
            s: pd.read_parquet(os.path.join(ctx.fixture, f"centers_{s}.parquet"))
            for s in ("small", "large")}
        self.sizes = {"pixels": fx.KNN_GRID.nlat * fx.KNN_GRID.nlon,
                      "centers_small": len(self.centers["small"]),
                      "centers_large": len(self.centers["large"]), "k": fx.KNN_K}

    def run(self):
        ctx, tr = self.ctx, self.ctx.tracer
        out = {}
        for s in ("small", "large"):
            with tr.span(f"knn.knn_pixels.{s}"):
                df = knn_pixels(ctx.spark, self.pixels, self.centers[s],
                                k=fx.KNN_K, radius_deg=fx.KNN_RADIUS_DEG)
                out[s] = (df, df.toPandas())
            tr.count(f"knn.knn_pixels.{s}.rows_out", len(out[s][1]))
        return out

    def _brute_force(self, c: pd.DataFrame):
        """For every KNN_SAMPLE_EVERY-th query: its projected center and its
        k smallest squared distances over all pixels, plus the projected
        pixel coordinates (index = pix_idx)."""
        epsg = pick_epsg(float(c["c_lat"].min()), float(c["c_lat"].max()))
        g = fx.KNN_GRID
        lat = np.repeat(g.lat_axis(), g.nlon)
        lon = np.tile(g.lon_axis(), g.nlat)
        px, py = forward(lon, lat, epsg)
        sample = c.iloc[::fx.KNN_SAMPLE_EVERY]
        cx, cy = forward(sample["c_lon"].to_numpy(), sample["c_lat"].to_numpy(), epsg)
        want = {}
        for q, x, y in zip(sample["q_id"], cx, cy):
            d2 = (px - x) ** 2 + (py - y) ** 2
            want[int(q)] = (x, y, np.sort(np.partition(d2, fx.KNN_K)[:fx.KNN_K]))
        return px, py, want

    def check(self, out) -> str | None:
        if not hasattr(self, "_expected"):
            self._expected = {s: self._brute_force(c) for s, c in self.centers.items()}
        for s, (_, pdf) in out.items():
            n = len(self.centers[s])
            per_q = pdf.groupby("q_id")["rank"].agg(["size", "min", "max"])
            if (len(per_q) != n or (per_q["size"] != fx.KNN_K).any()
                    or (per_q["min"] != 1).any() or (per_q["max"] != fx.KNN_K).any()):
                return f"{s}: not exactly k={fx.KNN_K} ranked rows for each of {n} queries"
            px, py, want = self._expected[s]
            got = pdf[pdf["q_id"].isin(list(want))]
            for q, g in got.groupby("q_id"):
                g = g.sort_values("rank")
                x, y, best = want[int(q)]
                gp, gd = g["pix_idx"].to_numpy(), g["dist2"].to_numpy()
                # the returned pixels are at their true distances, and those
                # are the k smallest distances (tie order may differ)
                true = (px[gp] - x) ** 2 + (py[gp] - y) ** 2
                if not (np.allclose(gd, true, rtol=DIST_RTOL, atol=0)
                        and np.allclose(gd, best, rtol=DIST_RTOL, atol=0)):
                    return f"{s}: q_id {q} differs from the brute-force kNN"
        return None

    def cleanup(self, out):
        for df, _ in out.values():
            free_local_checkpoint(df)


WORKLOADS = {"geo": Geo, "knn": Knn}
