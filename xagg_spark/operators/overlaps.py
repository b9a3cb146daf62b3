"""pixel_overlaps: the distributed raster<->vector weighted-overlap join.

Replaces /root/reference/xagg/core.py:281-560 (create_raster_polygons +
get_pixel_overlaps) with a Spark-first two-phase plan:

  pixel geometry (pure column arithmetic, JVM codegen — no decode needed)
    -> cell_id by pixel center (one row per pixel: no dedup shuffle ever)
    -> broadcast hash join against the polygon cell cover (dilated 1 ring,
       which guarantees no missed pairs when cell >= pixel size)
    -> exact refine in an Arrow-batched pandas UDF (project vertices to the
       EASE CRS, Sutherland-Hodgman clip, shoelace area) with a vectorized
       fully-inside / fully-outside fast path so the O(clip) work is only
       spent on polygon-boundary pixels
    -> per-(poly,pixel) area sum (antimeridian halves add, reference G2)
    -> one materialization of the raw areas, then rel_area normalized per
       polygon (reference A1 semantics: rel_area sums to 1 over ALL
       overlapping pixels, reference xagg/core.py:521)

Scale notes (100 TB / 10^12 tiles):
- the polygon side (cover + projected rings) is broadcast: no shuffle of the
  pixel side for the join;
- pixel->cell assignment is by pixel center: candidate rows are unique by
  construction, so there is no distinct/dedup shuffle;
- the bbox prefilter (reference P2, /root/reference/xagg/core.py:322-330) is
  a plain column predicate -> parquet partition pruning when the tile table
  is partitioned by tile position;
- hot cells (a cell whose polygon list is long) are handled by AQE skew
  splitting plus the optional `salt` repartition before the refine UDF.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from ..geo import cells as _cells
from ..geo import clip as _clip
from ..geo import ellipsoid as _ell
from ..grid import GridSpec
from ..polygons import PolygonSet


class NoOverlapError(Exception):
    """Same error contract as /root/reference/xagg/core.py:25-27, 499-500."""

    def __init__(self, msg: str = "No `ds` grid cells overlapped with any "
                 "polygon in `gdf_in`. Check the input `ds` and `gdf_in`."):
        super().__init__(msg)


# max estimated polygon-cover cells shipped as the broadcast dimension
# side: past this, building + shipping the cover costs more than the wider
# boundary band a coarser resolution creates (the batched clip keeps edge
# cells cheap).  Measured at the 4x bench grid: res 12 cover = 2.6M rows,
# 15s of driver build + createDataFrame; res 11 = 0.66M rows, total
# weightmap 46s -> 24s with identical output.
COVER_CELL_BUDGET = 800_000

# rings per polygon batch when the cover budget is unreachable at ANY
# resolution (the per-ring estimate floors at 1 cell, so only a
# ring-count-dominated set — ~800k+ rings — can exhaust the coarsening
# loop; before batching existed that walked res to 0 and the broadcast
# "hash join" degenerated to a few global cells, i.e. a pixels x polygons
# cartesian, the same failure mode the kNN cover had at 10^6 centers).
# Also caps the ring dict shipped in each refine-UDF closure.
POLY_BATCH_MAX_RINGS = 200_000


def _estimated_cover_cells(polys, res: int) -> float:
    """Cheap driver-side upper-bound on the classified-cover row count:
    per-ring bbox area in cells (bboxes overestimate non-rectangular
    rings, which only makes the budget conservative)."""
    n = 1 << res
    cw, ch = 360.0 / n, 180.0 / n
    total = 0.0
    for poly in polys.rings:
        for r in poly:
            total += (max((r[:, 0].max() - r[:, 0].min()) / cw, 1.0)
                      * max((r[:, 1].max() - r[:, 1].min()) / ch, 1.0))
    return total


def _grid_wraps(grid) -> bool:
    """True when any pixel's lon bounds wrap (lon0 > lon1) — decided on the
    driver from the axes so the no-wrap fast path skips a whole shuffle."""
    axes = grid.with_bounds()
    return bool((axes.lon_bnds[:, 0] > axes.lon_bnds[:, 1]).any())


# ---------------------------------------------------------------------------
# pixel geometry
# ---------------------------------------------------------------------------

def pixel_geometry(spark: SparkSession, grid,
                   weights_pdf: pd.DataFrame | None = None) -> DataFrame:
    """Long pixel-geometry DataFrame: (pix_idx, iy, ix, lat, lon, lat0, lat1,
    lon0, lon1[, weight]).

    Built from ``spark.range`` (one pix_idx range per core) + broadcast
    per-axis bounds (get_bnds semantics): pure JVM-side column arithmetic,
    no decode, no Python in the plan.  ``weights_pdf`` (pix_idx, weight) merges an additional weight grid
    (reference process_weights same-grid fast path, core.py:171-225).
    """
    axes = grid.with_bounds()
    nlat, nlon = axes.nlat, axes.nlon

    lat_pdf = pd.DataFrame({"iy": np.arange(nlat, dtype=np.int64),
                            "lat": axes.lat.astype(np.float64),
                            "lat0": axes.lat_bnds[:, 0], "lat1": axes.lat_bnds[:, 1]})
    lon_pdf = pd.DataFrame({"ix": np.arange(nlon, dtype=np.int64),
                            "lon": axes.lon.astype(np.float64),
                            "lon0": axes.lon_bnds[:, 0], "lon1": axes.lon_bnds[:, 1]})
    df_lat = spark.createDataFrame(lat_pdf)
    df_lon = spark.createDataFrame(lon_pdf)
    n = nlat * nlon
    base = spark.range(n) \
        .select(F.expr(f"id div {nlon}").alias("iy"),
                F.expr(f"id % {nlon}").alias("ix"),
                F.col("id").alias("pix_idx"))
    out = (base.join(F.broadcast(df_lat), "iy").join(F.broadcast(df_lon), "ix"))
    if weights_pdf is not None:
        wdf = spark.createDataFrame(weights_pdf[["pix_idx", "weight"]])
        out = out.join(F.broadcast(wdf), "pix_idx", "left").na.fill({"weight": 0.0})
    return out


def _pixel_area_cols(epsg: int):
    """Closed-form projected pixel area from (lat0, lat1, lon0, lon1)
    columns for ANY of the three EASE CRSes — pure JVM whole-stage codegen,
    so interior (FULL-cell) pixels never cross into Python regardless of the
    polygon set's CRS (reference rule /root/reference/xagg/core.py:475-486).

    EPSG:6933: a lat/lon rectangle maps to an exact axis-aligned rectangle
    -> dx*dy.  EPSG:6931/6932 (polar LAEA): the projected pixel is the
    straight-edge quad of its four projected corners (gpd ``to_crs`` parity
    — vertices project, edges stay straight), so area = shoelace of the
    four corners — the same formula the refine UDF uses for boundary cells,
    keeping interior and boundary areas mutually consistent."""
    if epsg == _ell.EPSG_GLOBAL:
        # closed form A*K0*(rad(lon1) - rad(lon0)), not x1 - x0: the two
        # round differently
        a, k0 = _ell.A, float(_ell.K0)
        dx = F.lit(a * k0) * (F.radians(F.col("lon1"))
                              - F.radians(F.col("lon0")))
        dy = F.lit(a) * (_ell.q_auth_col(F.radians(F.col("lat1")))
                         - _ell.q_auth_col(F.radians(F.col("lat0")))) \
            / F.lit(2.0 * k0)
        return dx * dy
    xa, ya = _ell.forward_cols(F.col("lon0"), F.col("lat0"), epsg)
    xb, yb = _ell.forward_cols(F.col("lon1"), F.col("lat0"), epsg)
    xc, yc = _ell.forward_cols(F.col("lon1"), F.col("lat1"), epsg)
    xd, yd = _ell.forward_cols(F.col("lon0"), F.col("lat1"), epsg)
    return F.abs(xa * (yb - yd) + xb * (yc - ya)
                 + xc * (yd - yb) + xd * (ya - yc)) / F.lit(2.0)


# ---------------------------------------------------------------------------
# refine UDF
# ---------------------------------------------------------------------------

def _convex_pieces(quad: np.ndarray) -> list:
    """Decompose a simple quad into convex clip windows for
    Sutherland-Hodgman: the quad itself when convex (the near-universal
    case), else the two triangles along its interior diagonal."""
    v = np.roll(quad, -1, axis=0) - quad
    cr = np.cross(v, np.roll(v, -1, axis=0))
    if np.all(cr >= 0.0) or np.all(cr <= 0.0):
        return [quad]

    def sa(t):
        return np.cross(t[1] - t[0], t[2] - t[0])

    t1, t2 = quad[[0, 1, 2]], quad[[0, 2, 3]]
    if sa(t1) * sa(t2) > 0:
        return [t1, t2]
    return [quad[[1, 2, 3]], quad[[1, 3, 0]]]


def _refine_factory(rings_by_poly: dict, epsg: int,
                    signs_by_poly: dict | None = None,
                    counters: tuple | None = None):
    """Returns a mapInPandas function computing exact EASE-CRS overlap areas.

    rings_by_poly: poly_idx -> list of lon/lat rings (raw, unprojected;
    projection happens here so the broadcast stays small).  signs_by_poly:
    poly_idx -> +1.0 (exterior / disjoint part) or -1.0 (hole) per ring —
    the reference's GEOS geometries subtract interior rings.

    The projected pixel is the straight-edge quad of its FOUR projected
    corners (gpd ``to_crs`` projects vertices; edges stay straight —
    /root/reference/xagg/core.py:395-420, 488-497).  In EPSG:6933 that quad
    is an exact axis-aligned rectangle; in the polar LAEA CRSes x and y each
    depend on both lon and lat, so a two-corner axis-aligned box would be
    wrong by 10-19% per pixel at 70N — all four corners are projected.

    counters: optional (boundary_acc, nonconvex_acc) Spark accumulators —
    boundary_acc counts pixels refined through the batched clip,
    nonconvex_acc the (pathological: extreme-latitude slivers) pixels whose
    projected quad is non-convex and falls back to the per-pixel
    triangle-split path.  Diagnostic only (task retries may overcount)."""
    proj_cache = {}

    def get_poly(pidx: int):
        ent = proj_cache.get(pidx)
        if ent is None:
            prj = []
            for r in rings_by_poly[pidx]:
                x, y = _ell.forward(r[:, 0], r[:, 1], epsg)
                prj.append(np.stack([x, y], axis=1))
            E = _clip.ring_edges(prj)           # xa, ya, xb, yb
            sg = None
            if signs_by_poly is not None:
                sg = signs_by_poly.get(pidx)
            if sg is None:
                sg = [1.0] * len(prj)
            ent = (prj, sg, E)
            proj_cache[pidx] = ent
        return ent

    def refine(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_poly, out_pix, out_lat, out_lon, out_area = [], [], [], [], []
            has_w = "weight" in pdf.columns
            out_w = [] if has_w else None
            for pidx, grp in pdf.groupby("poly_idx", sort=False):
                rings, signs, E = get_poly(int(pidx))
                lon0 = grp["lon0"].to_numpy(); lat0 = grp["lat0"].to_numpy()
                lon1 = grp["lon1"].to_numpy(); lat1 = grp["lat1"].to_numpy()
                # all FOUR pixel corners, in ring order a->b->c->d
                cxa, cya = _ell.forward(lon0, lat0, epsg)
                cxb, cyb = _ell.forward(lon1, lat0, epsg)
                cxc, cyc = _ell.forward(lon1, lat1, epsg)
                cxd, cyd = _ell.forward(lon0, lat1, epsg)
                m = len(grp)
                area = np.zeros(m)
                # quad bbox (conservative stand-in for the quad itself)
                qx0 = np.minimum(np.minimum(cxa, cxb), np.minimum(cxc, cxd))
                qx1 = np.maximum(np.maximum(cxa, cxb), np.maximum(cxc, cxd))
                qy0 = np.minimum(np.minimum(cya, cyb), np.minimum(cyc, cyd))
                qy1 = np.maximum(np.maximum(cya, cyb), np.maximum(cyc, cyd))
                exa = np.minimum(E[:, 0], E[:, 2]); exb = np.maximum(E[:, 0], E[:, 2])
                eya = np.minimum(E[:, 1], E[:, 3]); eyb = np.maximum(E[:, 1], E[:, 3])
                # vectorized fast path: suspicious = any polygon edge bbox
                # intersects the quad bbox; otherwise the quad is entirely
                # inside or outside, decided by PIP of its corners
                CH = 4096
                susp = np.zeros(m, dtype=bool)
                inside4 = np.zeros(m, dtype=bool)
                for s in range(0, m, CH):
                    e = min(s + CH, m)
                    susp[s:e] = ((qx0[s:e, None] <= exb[None, :]) &
                                 (qx1[s:e, None] >= exa[None, :]) &
                                 (qy0[s:e, None] <= eyb[None, :]) &
                                 (qy1[s:e, None] >= eya[None, :])).any(axis=1)
                    # even-odd PIP (crossing number) for the 4 corners —
                    # counts hole rings too, so "inside" means inside the
                    # polygon-with-holes region.  Only for NON-suspicious
                    # pixels: a suspicious pixel goes through the exact
                    # clip below regardless, so its PIP result is unused —
                    # skipping it removes the 4x|edges| crossing test for
                    # the boundary half of every batch (values unchanged)
                    ns = np.where(~susp[s:e])[0] + s
                    if len(ns) == 0:
                        continue
                    cin = np.ones(len(ns), dtype=bool)
                    for cx, cy in ((cxa, cya), (cxb, cyb),
                                   (cxc, cyc), (cxd, cyd)):
                        cin &= _clip.crossing_parity(cx[ns], cy[ns], E)
                    inside4[ns] = cin
                # straight-edge quad shoelace: the exact projected pixel area
                quad_area = 0.5 * np.abs(cxa * (cyb - cyd) + cxb * (cyc - cya)
                                         + cxc * (cyd - cyb) + cxd * (cya - cyc))
                full_in = inside4 & ~susp
                area[full_in] = quad_area[full_in]
                todo = np.where(susp)[0]
                if len(todo):
                    quads = np.stack([
                        np.stack([cxa[todo], cya[todo]], axis=1),
                        np.stack([cxb[todo], cyb[todo]], axis=1),
                        np.stack([cxc[todo], cyc[todo]], axis=1),
                        np.stack([cxd[todo], cyd[todo]], axis=1)], axis=1)
                    # convex quads (the near-universal case): ONE batched
                    # Sutherland-Hodgman over all boundary pixels per ring —
                    # no per-pixel Python loop
                    v = np.roll(quads, -1, axis=1) - quads
                    cross = (v[:, :, 0] * np.roll(v[:, :, 1], -1, axis=1)
                             - v[:, :, 1] * np.roll(v[:, :, 0], -1, axis=1))
                    convex = np.all(cross >= 0.0, axis=1) | \
                        np.all(cross <= 0.0, axis=1)
                    acc = np.zeros(len(todo))
                    for ring, sgn in zip(rings, signs):
                        acc[convex] += sgn * _clip.clip_areas_batch(
                            ring, quads[convex])
                    for j in np.where(~convex)[0]:
                        pieces = _convex_pieces(quads[j])
                        for ring, sgn in zip(rings, signs):
                            for piece in pieces:
                                acc[j] += sgn * _clip.clip_area(ring, piece)
                    area[todo] = acc
                # drop degenerate boundary-touch slivers (GEOS keep_geom_type
                # drops line/point intersections — core.py:492-496): anything
                # below 1e-10 of the pixel's own area is FP noise, not overlap
                keep = area > quad_area * 1e-10
                if counters is not None and len(todo):
                    # overlap rows, not candidates: only retained pixels
                    counters[0].add(int(keep[todo].sum()))
                    counters[1].add(int(keep[todo[~convex]].sum()))
                if keep.any():
                    out_poly.append(np.full(int(keep.sum()), pidx, dtype=np.int64))
                    out_pix.append(grp["pix_idx"].to_numpy()[keep])
                    out_lat.append(grp["lat"].to_numpy()[keep])
                    out_lon.append(grp["lon"].to_numpy()[keep])
                    out_area.append(area[keep])
                    if has_w:
                        out_w.append(grp["weight"].to_numpy()[keep])
            if out_poly:
                data = {"poly_idx": np.concatenate(out_poly),
                        "pix_idx": np.concatenate(out_pix),
                        "lat": np.concatenate(out_lat),
                        "lon": np.concatenate(out_lon),
                        "area": np.concatenate(out_area)}
                if has_w:
                    data["weight"] = np.concatenate(out_w)
                yield pd.DataFrame(data)

    return refine


# ---------------------------------------------------------------------------
# the weightmap
# ---------------------------------------------------------------------------

def pix_hash():
    """hash(pix_idx) as a long: no overflow in a sum below 2^32 rows."""
    return F.hash("pix_idx").cast("long")


def poly_table_of(overlaps: DataFrame, *extra) -> pd.DataFrame:
    """The WeightMap's poly_table in ONE job over ``overlaps``: per polygon
    with overlap rows, sorted, ``n`` rows and ``h`` = sum of `pix_hash`,
    plus the caller's ``extra`` aggregates (the build's area totals)."""
    return (overlaps.groupBy("poly_idx")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.sum(pix_hash()).alias("h"), *extra)
                    .toPandas().sort_values("poly_idx", ignore_index=True))


@dataclass
class WeightMap:
    """Spark-native weightmap (reference classes.py:33-69): the long overlap
    table replaces the list-valued pandas cells."""
    overlaps: DataFrame           # poly_idx, pix_idx, lat, lon, rel_area[, weight]
    polys: PolygonSet
    grid: object                  # GridSpec | AxesGrid
    epsg: int
    poly_table: pd.DataFrame      # poly_table_of(overlaps), made by the job
                                  # that makes the map; read, never re-derived
    has_weights: bool = False
    bucketed: bool = False        # True when overlaps comes from a bucketed
                                  # co-partitioned table (read_copartitioned):
                                  # aggregate() must NOT hint SHUFFLE_HASH
                                  # there — the sorted buckets merge-stream,
                                  # and the hint would flip them to a
                                  # hash-build of a whole bucket per task
    n_boundary_refined: int = 0   # overlap rows whose area the boundary
                                  # clip computed (<= n_rows unwrapped)
    n_nonconvex_fallback: int = 0  # of those, non-convex-quad per-pixel
                                   # fallbacks (>1% warns at build time)
    _blocks: list = field(default_factory=list)  # the materialized
                                  # tables overlaps is a view over (one per
                                  # polygon batch); unpersist() frees each

    @property
    def n_rows(self) -> int:
        return int(self.poly_table["n"].sum())

    def agg_pandas(self) -> pd.DataFrame:
        """Reconstitute the xagg-shaped `wm.agg` frame (lists per polygon,
        outer-merged onto polygon attrs — core.py:514-538) for parity tests."""
        pdf = (self.overlaps.orderBy("poly_idx", "pix_idx").toPandas())
        rows = []
        for pidx, grp in pdf.groupby("poly_idx"):
            rows.append({"poly_idx": int(pidx),
                         "rel_area": [list(grp["rel_area"])],
                         "pix_idxs": list(grp["pix_idx"]),
                         "coords": list(zip(grp["lat"], grp["lon"]))})
        ov = pd.DataFrame(rows)
        out = self.polys.attrs.merge(ov, on="poly_idx", how="outer")
        return out

    def to_file(self, path: str, overwrite: bool = False):
        from ..io.weightmap_io import save_weightmap
        save_weightmap(self, path, overwrite=overwrite)

    def unpersist(self) -> None:
        """Free the weightmap's materialized blocks: every table in
        ``_blocks``.  DataFrame.unpersist is a NO-OP for checkpointed
        plans — the blocks otherwise live until the JVM GCs the RDD, so
        repeated weightmap builds in one session accumulate storage and
        degrade 2-3x.  A weightmap with no blocks (loaded from storage)
        best-effort unpersists ``overlaps`` itself, releasing a caller's
        ``.cache()``."""
        from ..session import free_local_checkpoint
        for block in self._blocks or [self.overlaps]:
            free_local_checkpoint(block)


def split_antimeridian(pixels: DataFrame) -> DataFrame:
    """Antimeridian pixel split (reference G2, make_multipoly
    /root/reference/xagg/core.py:237-255): a wrapped pixel (lon0 > lon1)
    becomes west + east halves with the same pix_idx; clip areas add like
    the reference's MultiPolygon parts."""
    cross = F.col("lon0") > F.col("lon1")
    west = pixels.filter(cross).withColumn("lon1", F.lit(180.0))
    east = pixels.filter(cross).withColumn("lon0", F.lit(-180.0))
    return pixels.filter(~cross).unionByName(west).unionByName(east)


def _split_rows_for_oracle(lat: np.ndarray, lon: np.ndarray) -> list:
    """Driver-side twin of pixel_geometry + split_antimeridian for tiny
    grids: builds the expected rows the SQL VALUES oracle pins down."""
    from ..grid import AxesGrid
    ag = AxesGrid(lat=lat, lon=lon).with_bounds()
    rows = []
    for iy in range(ag.nlat):
        for ix in range(ag.nlon):
            base = {"pix_idx": int(iy * ag.nlon + ix),
                    "lat0": float(ag.lat_bnds[iy, 0]), "lat1": float(ag.lat_bnds[iy, 1])}
            lon0, lon1 = float(ag.lon_bnds[ix, 0]), float(ag.lon_bnds[ix, 1])
            if lon0 > lon1:
                rows.append({**base, "lon0": lon0, "lon1": 180.0})
                rows.append({**base, "lon0": -180.0, "lon1": lon1})
            else:
                rows.append({**base, "lon0": lon0, "lon1": lon1})
    return rows


# ---------------------------------------------------------------------------
# the operator
# ---------------------------------------------------------------------------

def _warn_nonconvex_fallback(n_boundary: int, n_nonconvex: int) -> None:
    """>1% of boundary pixels through the per-pixel triangle-split path is
    a plan-health problem worth surfacing (VERDICT r2 #4).  For lat/lon-
    aligned pixels the projected quad is an annular trapezoid in every EASE
    CRS and provably convex, so this should never fire on real grids — the
    counter exists so a pathological/irregular grid can't silently run
    millions of pixels through O(pixel) Python."""
    if n_boundary > 0 and n_nonconvex > 0.01 * n_boundary:
        import warnings
        warnings.warn(
            f"{n_nonconvex}/{n_boundary} boundary pixels have a NON-CONVEX "
            "projected quad and took the per-pixel triangle-split fallback "
            "— results are exact, but this path is per-pixel Python; check "
            "the grid geometry",
            RuntimeWarning)


def _grid_spacing(grid):
    """(dlat_max, dlat_min, dlon_max, dlon_min) from either grid kind —
    shared by the res pick and the bbox pads."""
    if isinstance(grid, GridSpec):
        return (abs(grid.dlat), abs(grid.dlat), abs(grid.dlon), abs(grid.dlon))
    grid = grid.with_bounds()
    wl = np.abs(grid.lat_bnds[:, 1] - grid.lat_bnds[:, 0])
    wn = grid.lon_bnds[:, 1] - grid.lon_bnds[:, 0]
    wn = np.where(wn < 0, wn + 360.0, wn)   # antimeridian-wrapped widths
    return float(wl.max()), float(wl.min()), float(wn.max()), float(wn.min())


def _overlap_prep(spark: SparkSession, grid, polys: PolygonSet,
                  res: int | None = None):
    """Everything about the overlap join that depends only on (grid, polys):
    the capture-safe cell resolution and the broadcast classified-cover
    DataFrame.  pixel_overlaps computes it per call; the resumable bucketed
    build hoists it OUT of the per-bucket loop (it is identical for every
    bucket and costs seconds of driver numpy + createDataFrame at the 4x
    bench grid — VERDICT r3 ask #2).  Returns (res, df_cover)."""
    dlat_max, dlat_min, dlon_max, dlon_min = _grid_spacing(grid)
    pixel_deg = float(min(dlat_min, dlon_min))

    # capture guarantee, PER AXIS: a pixel reaches dlat/2 (dlon/2) beyond
    # its center, so the 1-ring-dilated cover catches it only when the cell
    # lat height 180/2^res >= dlat_max/2 AND lon width 360/2^res >=
    # dlon_max/2.  Anisotropic grids (e.g. dlat=2, dlon=0.5) must be capped
    # by the COARSE axis — the min-spacing heuristic alone can silently
    # drop a pixel whose center cell is 2 rows outside the dilated cover.
    res_cap = int(min(np.floor(np.log2(360.0 / dlat_max)),
                      np.floor(np.log2(720.0 / dlon_max)),
                      _cells.MAX_RES))
    if res is None:
        res = _cells.pick_resolution(pixel_deg)
        # cover-size budget: coarsening is always capture-safe (the
        # per-axis cap above is an upper bound on res, never a lower one)
        while res > 0 and _estimated_cover_cells(polys, res) > COVER_CELL_BUDGET:
            res -= 1
        if res == 0 and _estimated_cover_cells(polys, 0) > COVER_CELL_BUDGET:
            # the estimate floors at ~1 cell per ring, so this only
            # happens for ring-count-dominated sets (~800k+ rings) where
            # NO resolution fits the broadcast budget — proceeding would
            # put every pixel and every polygon behind a couple of global
            # cell ids (a broadcast-side cartesian).  pixel_overlaps
            # batches the polygons before reaching here; direct callers
            # (the resumable bucketed build hoists _overlap_prep) must
            # batch the polygon set themselves.
            raise ValueError(
                f"_overlap_prep: polygon cover ({len(polys)} polygons) "
                f"exceeds COVER_CELL_BUDGET={COVER_CELL_BUDGET} at every "
                "resolution — split the PolygonSet into batches of at "
                f"most ~{POLY_BATCH_MAX_RINGS} rings and combine the "
                "weightmaps (pixel_overlaps does this automatically)")
    res = max(min(res, res_cap), 0)

    cover = polys.cell_cover_classified(res)
    if len(cover) == 0:
        raise NoOverlapError()
    # materialize the cover as checkpointed blocks: every job that uses
    # the broadcast (candidate join, resume waves, repeated builds sharing
    # _prep) re-executes the broadcast child, and scanning the
    # pandas-backed plan is ~10x slower than scanning materialized blocks
    # (same pathology measured on the kNN cover); the conversion itself
    # goes through pandas_to_spark_blocks' native parquet roundtrip.
    from ..session import pandas_to_spark_blocks
    return res, pandas_to_spark_blocks(spark, cover)


def pixel_overlaps(spark: SparkSession, grid, polys: PolygonSet,
                   weights_pdf: pd.DataFrame | None = None,
                   res: int | None = None,
                   subset_bbox: bool = True,
                   salt: int = 0,
                   _prep: tuple | None = None,
                   _batch_max_rings: int | None = None) -> WeightMap:
    """Build the weightmap (facade, reference wrappers.py:10-104).

    grid: GridSpec or AxesGrid.  polys: PolygonSet.  weights_pdf: optional
    (pix_idx, weight) additional weight grid already on this grid (different
    grids go through operators.regrid first).  The pixels are split one
    partition per core, so a build runs one refine Python task per core.
    salt>0 is the remedy for hot-band skew (many boundary candidates in a
    few pixel ranges): it hash-repartitions the boundary candidates into
    `salt` x cores refine tasks, each paying the fixed per-Python-task
    cost.
    _prep: a (res, df_cover) pair from _overlap_prep, for callers that run
    MANY builds over the same (grid, polys) — skips recomputing the polygon
    cover per call; the caller owns (and frees) it.  _batch_max_rings
    forces the polygon-batched build with that ring cap per batch (capped
    at COVER_CELL_BUDGET, so every batch's cover fits the broadcast).

    Plan: _overlap_core (lazy raw clip areas) -> localCheckpoint (the ONE
    materialization) -> _finish_weightmap (A1 normalization).  A polygon
    set whose cover fits the broadcast budget at no resolution is built in
    contiguous polygon batches, one core + checkpoint per batch, so only
    one batch's cover is broadcast at a time; the batches' raw tables are
    normalized together (per-polygon normalization, so batching changes no
    value).
    """
    from ..options import get_options
    from ..session import free_local_checkpoint
    silent = get_options()["silent"]
    if len(polys) == 0:
        raise NoOverlapError()
    if not silent:
        # status prints, reference wrappers.py:87-103 (suppressed via
        # set_options(silent=True))
        print("creating polygons for each pixel...")
    if not isinstance(grid, GridSpec):
        grid = grid.with_bounds()
    epsg = polys.pick_epsg()
    batches = [(0, len(polys))]
    if _prep is None and res is None and (
            _batch_max_rings is not None
            or _cover_budget_unreachable(polys)):
        # ring-count-dominated polygon set: no resolution fits the cover
        # in the broadcast budget (see POLY_BATCH_MAX_RINGS) — build in
        # polygon batches instead of letting the coarsening loop bottom
        # out at a few global cells (a pixels x polygons cartesian through
        # the broadcast join).  The CRS pick (J2) stays global, so a
        # latitudinally-narrow batch cannot pick a different projection.
        big = max(len(p) for p in polys.rings)
        if big > COVER_CELL_BUDGET:
            raise ValueError(
                f"pixel_overlaps: a single polygon has more rings ({big}) "
                f"than COVER_CELL_BUDGET={COVER_CELL_BUDGET} — no cell "
                "resolution fits its cover in the broadcast budget and "
                "batching cannot split one polygon; simplify or split "
                "the geometry upstream")
        batches = _plan_poly_batches(polys, max_rings=min(
            _batch_max_rings or POLY_BATCH_MAX_RINGS, COVER_CELL_BUDGET))
        if not silent:
            print(f"building overlaps in {len(batches)} polygon batches...")

    # one pixel partition per core (spark.range's default): each refine
    # task is a Python task whose start-up costs ~0.26 s (pyspark 4.1,
    # 4 vCPUs) — more than the whole refine of the perfbench geo build
    # (0.40 core-s) — so finer partitions cost more than the stragglers
    # they shorten; hot-band skew is `salt`'s job
    pixels = pixel_geometry(spark, grid, weights_pdf=weights_pdf)
    if not silent:
        print("calculating overlaps between pixels and output polygons...")
    blocks, n_boundary, n_nonconvex = [], 0, 0
    try:
        for lo, hi in batches:
            sub = polys if (lo, hi) == (0, len(polys)) else PolygonSet(
                polys.rings[lo:hi],
                polys.attrs.iloc[lo:hi].drop(columns="poly_idx")
                .reset_index(drop=True))
            prep = _prep
            if prep is None:
                try:
                    prep = _overlap_prep(spark, grid, sub, res=res)
                except NoOverlapError:
                    continue        # no cover cell: the batch has no rows
            try:
                raw, accs = _overlap_core(spark, grid, sub, pixels, prep,
                                          epsg, subset_bbox=subset_bbox,
                                          salt=salt)
                if lo:              # batch-local -> global poly_idx (O2)
                    raw = raw.withColumn(
                        "poly_idx", (F.col("poly_idx") + F.lit(lo))
                        .cast("long"))
                # LOCAL CHECKPOINT: materializes the pixel/cover/refine
                # pipeline once AND truncates lineage, so every later scan
                # schedules bare block-read tasks (plain persist still
                # deserializes the full lineage in each task closure —
                # measured ~35 ms/task)
                blocks.append(raw.localCheckpoint(eager=True))
            finally:
                if _prep is None:   # the cover this call built
                    free_local_checkpoint(prep[1])
            n_boundary += int(accs[0].value)
            n_nonconvex += int(accs[1].value)
    except BaseException:
        # a failing later batch must not orphan the blocks already built
        for block in blocks:
            free_local_checkpoint(block)
        raise
    wm = _finish_weightmap(spark, blocks, polys, grid, epsg,
                           n_boundary, n_nonconvex)
    if not silent:
        print("success!")
    return wm


def _overlap_core(spark: SparkSession, grid, polys: PolygonSet,
                  pixels: DataFrame, prep: tuple, epsg: int,
                  subset_bbox: bool = True, salt: int = 0) -> tuple:
    """The lazy overlap plan of ``pixels`` (pixel_geometry rows, with a
    ``weight`` column when the weight is to be carried) against ``polys``:
    returns (raw, (boundary_acc, nonconvex_acc)).  ``raw`` holds the
    UN-normalized clip areas (poly_idx, pix_idx, lat, lon, area[, weight]);
    nothing executes here, so the refine accumulators read 0 until the
    caller has materialized ``raw``.  prep: (res, df_cover) from
    _overlap_prep."""
    res, df_cover = prep
    dlat_max, _, dlon_max, _ = _grid_spacing(grid)

    # P2 bbox prefilter: pure predicate -> Catalyst pushes it into the scan.
    # Pad = half the (max) pixel extent per axis + the polygon edges' max
    # projected-curve bow: the true boundary is straight in the PROJECTED
    # CRS and can bow outside the lon/lat vertex bbox by up to max_edge_pad
    # (zero in EPSG:6933, where projected-straight lines stay monotone in
    # lon/lat; nonzero for the polar LAEA CRSes).
    if subset_bbox:
        lon_min, lat_min, lon_max, lat_max = polys.total_bounds()
        bow = polys.max_edge_pad()
        pad_lat = dlat_max / 2.0 + bow + 1e-9
        pad_lon = dlon_max / 2.0 + bow + 1e-9
        pixels = pixels.filter(
            (F.col("lat") >= lat_min - pad_lat) & (F.col("lat") <= lat_max + pad_lat) &
            (F.col("lon") >= lon_min - pad_lon) & (F.col("lon") <= lon_max + pad_lon))

    # polygon cell cover (df_cover from _overlap_prep), dilated one ring —
    # guarantees center-cell assignment of pixels misses nothing given the
    # per-axis res cap.  Cell assignment by pixel-half center: unique,
    # deterministic.
    pix2 = split_antimeridian(pixels).withColumn(
        "cell_id", _cells.cell_id_col((F.col("lon0") + F.col("lon1")) / 2.0,
                                      (F.col("lat0") + F.col("lat1")) / 2.0,
                                      res))

    cand = pix2.join(F.broadcast(df_cover), "cell_id")

    rings_by_poly = {i: polys.rings[i] for i in range(len(polys))}
    signs_by_poly = {i: polys.ring_signs()[i] for i in range(len(polys))}
    fields = [StructField("poly_idx", LongType()), StructField("pix_idx", LongType()),
              StructField("lat", DoubleType()), StructField("lon", DoubleType()),
              StructField("area", DoubleType())]
    has_w = "weight" in pixels.columns
    if has_w:
        fields.append(StructField("weight", DoubleType()))
    schema = StructType(fields)
    cols = ["poly_idx", "pix_idx", "lat", "lon", "lat0", "lat1", "lon0", "lon1"]
    if has_w:
        cols.append("weight")

    # FULL-cell candidates (pixel provably inside the polygon): overlap =
    # whole-pixel area, closed form in ANY EASE CRS, whole-stage-codegen
    # JVM — never crosses into Python.  Only boundary-cell candidates hit
    # the refine UDF (O(perimeter) Python, not O(area)).
    out_cols = ["poly_idx", "pix_idx", "lat", "lon",
                _pixel_area_cols(epsg).alias("area")] \
        + ([F.col("weight")] if has_w else [])
    full_part = cand.filter(F.col("full")).select(*out_cols)
    edge_cand = cand.filter(~F.col("full"))
    if salt > 0:
        # hot-cell skew salting (SURVEY §4), shaped by two r5 measurements
        # on the hot bench fixture:
        # 1. salt ONLY the boundary candidates — the refine UDF is the
        #    straggler-sensitive stage (per-row Python clip cost), while
        #    the full-cell branch is a whole-stage-codegen projection that
        #    is cheap wherever it sits; salting the whole candidate set
        #    (the r1-r4 shape) shuffled millions of JVM-path rows and cost
        #    ~2x more than the straggler it removed;
        # 2. HASH-salt on (poly_idx, pix_idx % salt), never round-robin —
        #    the refine UDF vectorizes per poly_idx group, and round-robin
        #    shatters every polygon's rows across every partition (tiny
        #    groups -> per-group fixed cost dominates, measured ~2x
        #    slower); the composite key keeps each (poly, sub-bucket)
        #    group whole while still splitting a hot polygon's rows
        #    across `salt` tasks and spreading a hot CELL's many polygons
        #    by the hash.
        edge_cand = edge_cand.repartition(
            salt * spark.sparkContext.defaultParallelism,
            F.col("poly_idx"), F.pmod(F.col("pix_idx"), F.lit(salt)))
    # fallback diagnostics (VERDICT r2 "What's wrong #4"): count boundary
    # overlap rows and the non-convex-quad per-pixel fallback among them,
    # so a pathological grid can't silently route millions of pixels
    # through the slow path
    acc_boundary = spark.sparkContext.accumulator(0)
    acc_nonconvex = spark.sparkContext.accumulator(0)
    refined_edge = edge_cand.select(*cols).mapInPandas(
        _refine_factory(rings_by_poly, epsg, signs_by_poly,
                        counters=(acc_boundary, acc_nonconvex)), schema)
    refined = full_part.unionByName(refined_edge)

    # antimeridian halves add up: the (poly,pixel) area sum is only needed
    # when halves can exist — detected statically from the axis bounds (no
    # extra Spark job)
    if _grid_wraps(grid):
        aggs = [F.sum("area").alias("area")]
        if has_w:
            aggs.append(F.first("weight").alias("weight"))
        refined = refined.groupBy("poly_idx", "pix_idx", "lat", "lon") \
            .agg(*aggs)
    return refined, (acc_boundary, acc_nonconvex)


def _finish_weightmap(spark: SparkSession, blocks: list, polys: PolygonSet,
                      grid, epsg: int, n_boundary: int,
                      n_nonconvex: int) -> WeightMap:
    """The A1 normalization every build path ends in (rel_area sums to 1
    over each polygon's overlapping pixels, reference core.py:521): the
    WeightMap over the MATERIALIZED raw-area tables ``blocks`` (their
    union), which it owns from here on — they are freed if it raises.
    NoOverlapError when they hold no row.

    No window: a window partitioned by poly_idx would put a domain-scale
    polygon's millions of rows in one partition.  The per-polygon totals
    are <= n_poly rows (the PolygonSet is driver-resident by
    construction), so they are collected and joined back as a
    LOCAL-relation broadcast: one small job per query that reads the
    overlaps (no re-run of the totals aggregate), and rel_area is a cheap
    JVM project over the blocks."""
    from ..session import free_local_checkpoint
    try:
        if not blocks:
            raise NoOverlapError()
        raw = blocks[0]
        for block in blocks[1:]:
            raw = raw.unionByName(block)
        # the totals job also yields the carried poly_table
        tot = poly_table_of(raw, F.sum("area").alias("_tot"))
        if tot.empty:
            raise NoOverlapError()
    except BaseException:
        for block in blocks:
            free_local_checkpoint(block)
        raise
    overlaps = (raw.join(F.broadcast(
                    spark.createDataFrame(tot[["poly_idx", "_tot"]])),
                    "poly_idx")
                   .withColumn("rel_area", F.col("area") / F.col("_tot"))
                   .drop("area", "_tot"))
    _warn_nonconvex_fallback(n_boundary, n_nonconvex)
    return WeightMap(overlaps=overlaps, polys=polys, grid=grid, epsg=epsg,
                     poly_table=tot[["poly_idx", "n", "h"]],
                     has_weights="weight" in raw.columns,
                     n_boundary_refined=n_boundary,
                     n_nonconvex_fallback=n_nonconvex, _blocks=blocks)


def _cover_budget_unreachable(polys) -> bool:
    """True when no resolution can fit the polygon cover in
    COVER_CELL_BUDGET: the per-ring estimate floors at exactly 1 cell
    (bbox terms are clamped at 1 and a bbox never exceeds the globe), so
    the res-0 estimate IS the total ring count — budget unreachable iff
    the set has more rings than budget.  Counted directly (O(n_polys)
    list lengths, no per-ring bbox reductions — this runs on every
    pixel_overlaps call); test_res0_estimate_is_ring_count pins the
    equality with _estimated_cover_cells(polys, 0)."""
    return sum(len(poly) for poly in polys.rings) > COVER_CELL_BUDGET


def _plan_poly_batches(polys, max_rings: int | None = None) -> list:
    """Contiguous [lo, hi) polygon ranges of at most max_rings (default
    POLY_BATCH_MAX_RINGS) rings each (contiguous so batch-local poly_idx
    + lo reproduces the global deterministic poly_idx, O2)."""
    if max_rings is None:
        max_rings = POLY_BATCH_MAX_RINGS
    batches, lo, rings = [], 0, 0
    for i, poly in enumerate(polys.rings):
        nr = len(poly)
        if rings and rings + nr > max_rings:
            batches.append((lo, i))
            lo, rings = i, 0
        rings += nr
    batches.append((lo, len(polys.rings)))
    return batches


# ---------------------------------------------------------------------------
# tile decode -> pixel values
# ---------------------------------------------------------------------------

def tiles_to_pixels(df_images: DataFrame, grid: GridSpec,
                    variables=("test",)) -> DataFrame:
    """Decode the image table into long pixel values:
    (pix_idx, var, t, value).  Arrow-batched mapInPandas; the tile->pixel
    explode happens in numpy (no per-row Python).

    image_id encodes (var, t, ty, tx) — see synth.image_id.  Geometry is NOT
    produced here (it's manifest-derived via pixel_geometry), so the decode
    output stays narrow."""
    from ..codecs import decode_tile

    gd = grid.to_dict()
    schema = StructType([
        StructField("pix_idx", LongType()), StructField("var", StringType()),
        StructField("t", LongType()), StructField("value", DoubleType()),
    ])

    def explode_tiles(batches):
        g = GridSpec.from_dict(gd)
        for pdf in batches:
            pix_parts, val_parts, vars_, ts_, sizes = [], [], [], [], []
            for iid, buf, w, h, fmt in zip(pdf["image_id"], pdf["bytes"],
                                           pdf["w"], pdf["h"], pdf["fmt"]):
                parts = iid.split("_")
                tx = int(parts[-1]); ty = int(parts[-2]); t = int(parts[-3])
                var = "_".join(parts[1:-3])
                arr = decode_tile(buf, fmt, int(w), int(h))
                iy, ix = g.tile_pixel_indices(ty, tx)
                ids = g.pix_idx(iy, ix).ravel()
                pix_parts.append(ids)
                val_parts.append(arr.astype(np.float64).ravel())
                vars_.append(var); ts_.append(t); sizes.append(len(ids))
            if pix_parts:
                # one vectorized frame per Arrow batch (no per-tile pandas)
                yield pd.DataFrame({
                    "pix_idx": np.concatenate(pix_parts),
                    "var": np.repeat(np.asarray(vars_, dtype=object), sizes),
                    "t": np.repeat(np.asarray(ts_, dtype=np.int64), sizes),
                    "value": np.concatenate(val_parts)})

    return df_images.mapInPandas(explode_tiles, schema)
