"""kNN join: polygon centroid -> k nearest pixel/tile centers (SURVEY J6/O3).

Not in the reference; required by BASELINE.json north_star ("kNN queries:
polygon-centroid to nearest tiles via ring expansion + secondary sort").

Distance is Euclidean in the equal-area CRS picked from the query centers'
latitude bbox by the same rule as the overlap join (J2: strictly-north ->
EPSG:6931 LAEA, strictly-south -> 6932, else 6933 CEA) — the same q/K0/QP
math as the overlap join, so the oracle can reproduce it analytically.

Candidate path (the cell-index ring expansion): each iteration covers every
still-unconfirmed center's search box with equal-angle CELLS (geo.cells —
the H3 ``grid_disk`` analogue).  The per-center cell ranges are computed
once in numpy (_cover_extents) and expanded into (q_id, cell_id) rows on
the cluster (_cover_df_jvm, sequence/explode), so the cover never
materializes on the driver.  Pixels get the same cell id as a JVM column
expression, and candidates come from an equi-join on cell_id — never a
nested-loop range join, so cost is O(pixels_in_rings), not O(pixels x
centers) per iteration.

The join's build side comes from exact row counts, never from the
planner's size estimates (which put a 6.25M-row cover at 6.4 MB and a
51,200-row pixel_geometry table at 10 TB, and so broadcast the cover):
the cover has exactly sum(nx * ny) rows over its extents, and the pixels
are counted once per call.  Per iteration (_pick_build_side):
- ``pixels``: fewer pixels than cover rows and within BROADCAST_ROW_BUDGET —
  the pixel table is broadcast and the radius-matched cover streams
  through the hash join;
- ``cover``: otherwise the cover is broadcast, at the radius-matched
  resolution or up to MAX_COARSEN_LEVELS coarser, the finest that fits
  the budget (coarser cells only add slop that the exact region clip
  removes);
- ``none``: neither side fits (10^6 centers over 2.88M pixels) — a
  shuffled hash join at the radius-matched resolution, built on the
  smaller side.
Candidates are then clipped to the exact search region and ranked with ONE
per-query top-k aggregate (sorted-array slice, map-side partials — no
candidate-set window shuffles); a query is CONFIRMED (and leaves the
loop) when its k-th distance is inside the verified radius — the distance
to the nearest boundary of the region actually searched (the standard
ring-expansion termination rule).  Unconfirmed queries double their radius.
Each iteration logs its decisions as one DEBUG record on this module's
logger (attribute ``knn``: radius_deg, resolution, pending, cover_rows,
pixel_rows, build_side, confirmed).

Search-region geometry per CRS:
- EPSG:6933 (CEA): x is LINEAR in the given lon (the projection plane is a
  cylinder cut at +-180), so the lat/lon box maps to an axis-aligned
  rectangle and the box is intentionally NOT lon-wrapped — two pixels
  across the cut are genuinely far apart in-plane, exactly as the oracle's
  analytic distance computes them.
- EPSG:6931/6932 (polar LAEA): lam enters through sin/cos, so the plane has
  NO cut — the lon predicate is WRAPPED (compare |pmod(lon-c_lon+540,360)
  -180| <= radius; ADVICE r3: the unwrapped form silently truncated the
  sector at +-180 for centers near the antimeridian).  The wrapped box maps
  exactly to an annular sector (rho monotone in lat, lam == lon), so the
  verified radius is the closed-form distance to the sector boundary: two
  arcs (|rho_c - rho_bound|, dropped when the bound sits AT the pole) and
  two radial edges (rho_c * sin(dlon), capped at rho_c, dropped for
  radius >= 180 deg where the wrapped sector closes into a full annulus).
"""

from __future__ import annotations

import logging
import warnings

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..geo import cells as _cells
from ..geo import ellipsoid as _ell
from ..session import free_local_checkpoint, pandas_to_spark_blocks

_log = logging.getLogger(__name__)

# rows either join side may have to be broadcast (a hash relation built on
# the driver and shipped to every executor): ~24 B/row -> 1M rows ~ 24 MB,
# well under Spark's broadcast comfort zone.
BROADCAST_ROW_BUDGET = 1_000_000

# how many levels below the radius-matched resolution the cover may coarsen
# to fit the broadcast budget before the candidate slop (cells grow 2x per
# axis per level while the exact region stays fixed) outweighs the
# broadcast saving; past this the join is shuffled.  Unbounded coarsening
# degenerates: at 10^6 centers the per-center cover floors at ~4 cells, the
# resolution walks to 0 and the "hash join" becomes a single-key cartesian.
MAX_COARSEN_LEVELS = 3


def _matched_resolution(radius_deg: float) -> int:
    """Radius-matched resolution: ~4 cells across the search box in lon
    (~45 cells per center with lat at 2x density and boundary rounding)."""
    return int(np.clip(np.floor(np.log2(720.0 / max(radius_deg, 1e-9))),
                       0, _cells.MAX_RES))


def _cover_extents(pending: pd.DataFrame, radius_deg: float, res: int):
    """Per-center cell index ranges of the search box at this resolution:
    int64 arrays (x0, nx, y0, ny); the center's ring cover is the nx x ny
    cells from (x0, y0), ix wrapped mod 2^res.  The index ranges are
    geo.cells.cell_range (lat indices clamp to the grid); kNN adds only the
    lon wrap (antimeridian boxes cover cells on both sides) and the full
    circle (a box spanning all lons covers each physical cell exactly
    once).  Vectorized over centers; the cover has exactly sum(nx * ny)
    rows."""
    n = 1 << res
    clon = pending["c_lon"].to_numpy(dtype=np.float64)
    clat = pending["c_lat"].to_numpy(dtype=np.float64)
    x0, x1 = _cells.cell_range(clon - radius_deg, clon + radius_deg, res,
                               True)
    nx = x1 - x0 + 1
    full = nx >= n
    x0 = np.where(full, 0, x0 % n)
    nx = np.where(full, n, nx)
    y0, y1 = _cells.cell_range(clat - radius_deg, clat + radius_deg, res,
                               False)
    return x0, nx, y0, y1 - y0 + 1


def _cover_row_count(pending: pd.DataFrame, radius_deg: float,
                     res: int) -> int:
    """Exact (q_id, cell_id) row count of the ring cover at this
    resolution — what _cover_df_jvm will generate, without building it."""
    _, nx, _, ny = _cover_extents(pending, radius_deg, res)
    return int((nx * ny).sum())


def _pick_build_side(pending: pd.DataFrame, radius_deg: float,
                     n_pix: int) -> tuple[int, int, str]:
    """(resolution, cover rows, build side) of one iteration's candidate
    join, from exact row counts (rules in the module docstring)."""
    res = _matched_resolution(radius_deg)
    n_cover = _cover_row_count(pending, radius_deg, res)
    if n_pix < n_cover and n_pix <= BROADCAST_ROW_BUDGET:
        return res, n_cover, "pixels"
    for r in range(res, max(res - MAX_COARSEN_LEVELS, 0) - 1, -1):
        rows = n_cover if r == res else _cover_row_count(pending,
                                                         radius_deg, r)
        if rows <= BROADCAST_ROW_BUDGET:
            return r, rows, "cover"
    return res, n_cover, "none"


def _with_proj(df: DataFrame, lon: str, lat: str, x: str, y: str,
               epsg: int) -> DataFrame:
    """Attach the EASE projection as columns ONCE per entity row.  The
    projection (sin/log per Snyder q) is the expensive part of the
    candidate pipeline; evaluating it per pixel (~10^6 rows) and per
    center instead of per candidate PAIR (~10^8 rows) removes >90% of the
    join's transcendental work (guide §2.3 — narrow/precompute before the
    fan-out).  The expressions are geo.ellipsoid.forward_cols."""
    px, py = _ell.forward_cols(F.col(lon), F.col(lat), epsg)
    return df.withColumn(x, px).withColumn(y, py)


def _clip_and_dist(j: DataFrame, radius: float, wrap_lon: bool) -> DataFrame:
    """Exact search-region clip (the cell cover is a conservative
    superset; region geometry per CRS in the module docstring) + the
    projected squared distance from the PRE-COMPUTED projection columns
    (_px/_py per pixel, _cx/_cy per center)."""
    if wrap_lon:
        dlon = F.abs(F.pmod(F.col("lon") - F.col("c_lon") + F.lit(540.0),
                            F.lit(360.0)) - F.lit(180.0))
    else:
        dlon = F.abs(F.col("lon") - F.col("c_lon"))
    j = j.filter((dlon <= F.lit(radius))
                 & (F.abs(F.col("lat") - F.col("c_lat")) <= F.lit(radius)))
    return (j.withColumn("dist2",
                         (F.col("_px") - F.col("_cx")) ** 2
                         + (F.col("_py") - F.col("_cy")) ** 2)
             .drop("_px", "_py", "_cx", "_cy"))


def _cover_df_jvm(spark: SparkSession, pending: pd.DataFrame,
                  radius: float, res: int,
                  epsg: int) -> tuple[DataFrame, DataFrame]:
    """The (q_id, cell_id, c_lat, c_lon, _cx, _cy) ring cover as a
    DISTRIBUTED DataFrame: the per-center extents (_cover_extents) travel
    with the centers, and sequence/explode expands them into cells on the
    executors — the cover never materializes on the driver.  Returns
    (cover, blocks): ``blocks`` are the checkpointed centers the cover
    reads, to be freed once the cover's consumer is materialized."""
    n = 1 << res
    x0, nx, y0, ny = _cover_extents(pending, radius, res)
    # checkpointed blocks, not a pandas-backed plan: a python-sourced scan
    # under the Generate stage defeats whole-stage codegen for everything
    # above it (measured ~10x slower for the 10^6-center cover)
    blocks = pandas_to_spark_blocks(spark, pd.DataFrame({
        "q_id": pending["q_id"].to_numpy(dtype=np.int64),
        "c_lat": pending["c_lat"].to_numpy(dtype=np.float64),
        "c_lon": pending["c_lon"].to_numpy(dtype=np.float64),
        "_x0": x0, "_nx": nx, "_y0": y0, "_ny": ny}))
    c = _with_proj(blocks, "c_lon", "c_lat", "_cx", "_cy", epsg)
    zero = F.lit(0).cast("long")
    c = c.withColumn("_lx", F.explode(F.sequence(zero, F.col("_nx") - 1)))
    c = c.withColumn("_ly", F.explode(F.sequence(zero, F.col("_ny") - 1)))
    cell = _cells.pack_cell_col(
        res, F.pmod(F.col("_x0") + F.col("_lx"), F.lit(n)),
        F.col("_y0") + F.col("_ly"))
    return (c.select("q_id", cell.alias("cell_id"), "c_lat", "c_lon",
                     "_cx", "_cy"), blocks)


def _candidate_join(pix: DataFrame, cover: DataFrame, build: str,
                    n_pix: int, n_cover: int) -> DataFrame:
    """Equi-join on cell_id with the build side pinned by hint, so the
    planner's size estimates never pick it."""
    if build == "pixels":
        return cover.join(F.broadcast(pix), "cell_id")
    if build == "cover":
        return pix.join(F.broadcast(cover), "cell_id")
    if n_pix <= n_cover:
        return cover.join(pix.hint("shuffle_hash"), "cell_id")
    return pix.join(cover.hint("shuffle_hash"), "cell_id")


def _topk_struct_agg(j: DataFrame, k: int) -> DataFrame:
    """Aggregation-based per-query top-k for the kNN loop: ONE hash
    aggregate ``slice(array_sort(collect_list(struct(dist2, pix_idx))),
    1, k)`` per q_id — ascending (dist2, pix_idx), exactly row_number's
    order with ties on pix_idx.  Replaces the two-window form (r5), which
    paid TWO full shuffles + sorts of the raw candidate set (the windows
    repartition by (q_id, pid) and then q_id); here partial aggregation
    reduces map-side and only per-group arrays cross the exchange — and
    when the candidate join keeps each q_id partition-local (pixels
    build side: the cover streams), the aggregate completes map-side
    entirely.  Per-group transient state is the group's candidate structs
    (16 B each); the sort-based aggregation fallback (>128 groups) keeps
    the input sort spillable, so a domain-radius group degrades to disk,
    not OOM.  Returns (q_id, _t: array<struct<dist2, pix_idx>> sorted,
    len <= k)."""
    s = F.struct(F.col("dist2"), F.col("pix_idx"))
    return (j.groupBy("q_id")
             .agg(F.slice(F.array_sort(F.collect_list(s)), 1, k)
                   .alias("_t")))


def knn_pixels(spark: SparkSession, pixels: DataFrame, centers: pd.DataFrame,
               k: int, radius_deg: float | None = None,
               max_radius_deg: float = 360.0,
               epsg: int | None = None) -> DataFrame:
    """pixels: (pix_idx, lat, lon).  centers: pandas (q_id, c_lat, c_lon).
    Returns (q_id, rank, pix_idx, dist2) — rank 1..k by equal-area-CRS
    distance, ties on pix_idx.  epsg defaults to the J2 pick from the
    centers' latitude bbox.  Queries the expansion cannot complete by
    max_radius_deg (k exceeds the pixel count) return every pixel found,
    fully ranked; a query whose rings held NO pixel at all by
    max_radius_deg is OMITTED from the output (no q_id row) — both cases
    emit a UserWarning listing the under-k q_ids, so callers joining the
    result back by q_id get a loud signal instead of silent row loss.

    Scale bounds: the cover is built on the cluster at every center count
    and the candidate join is an equi-join on cell_id whose build side is
    the smaller side within BROADCAST_ROW_BUDGET, else a shuffled hash
    join (measured at 10^6 centers x 2.88M pixels).  The loop's
    per-iteration bookkeeping (pending table, cover extents, confirmation
    counts, verified radii) is driver-side pandas/numpy, O(n_query)
    memory — practical to ~10^7 centers.  Past that, split the centers
    into batches and union the results: every query's k-NN set is
    independent of every other query, so query-set batching is EXACT, not
    an approximation."""
    if len(centers) == 0:
        raise ValueError("knn_pixels: empty centers table")
    if centers["q_id"].duplicated().any():
        # q_id keys the whole expansion (confirmation counts, verified
        # radii, the accepted-rows semi-join): duplicates used to be
        # silently collapsed by a dict lookup, which made the duplicated
        # queries' termination arbitrary — fail loud instead
        dup = centers["q_id"][centers["q_id"].duplicated()].iloc[0]
        raise ValueError(
            f"knn_pixels: duplicate q_id values in centers (e.g. {dup}) "
            "— q_id must uniquely identify each query")
    if epsg is None:
        epsg = _ell.pick_epsg(float(centers["c_lat"].min()),
                              float(centers["c_lat"].max()))
    wrap_lon = epsg != _ell.EPSG_GLOBAL
    pix = _with_proj(pixels, "lon", "lat", "_px", "_py", epsg)
    # one scan job: DataFrame.count() plans an aggregate that AQE runs as
    # two jobs (0.2 s vs 0.08 s on 2.88M pixel_geometry rows, 4 cores)
    n_pix = pixels._jdf.queryExecution().toRdd().count()
    pending = centers[["q_id", "c_lat", "c_lon"]].copy()
    radius = radius_deg or 2.0
    chunks = []
    while len(pending):
        res, n_cover, build = _pick_build_side(pending, radius, n_pix)
        cover, blocks = _cover_df_jvm(spark, pending, radius, res, epsg)
        pix_cells = pix.withColumn(
            "cell_id", _cells.cell_id_col(F.col("lon"), F.col("lat"), res))
        j = _clip_and_dist(
            _candidate_join(pix_cells, cover, build, n_pix, n_cover),
            radius, wrap_lon)
        # ONE aggregate produces the ranked top-k array per query
        # (ascending (dist2, pix_idx) — row_number's exact order); the
        # confirmation counts AND the accepted rows are cheap projections
        # of the checkpointed arrays, so the candidate join executes
        # exactly once per iteration with no window shuffles (r5 paid two
        # full candidate shuffles + sorts in the two-phase window, a
        # separate count aggregate, and a second checkpoint).
        top = _topk_struct_agg(j, k).localCheckpoint(eager=True)
        free_local_checkpoint(blocks)        # read by nothing past top
        # confirmation: the k-th distance must be inside the verified radius
        # (distance to the searched region's boundary), else a closer pixel
        # could lie outside.  <= n_pending rows — loop control, not data.
        verified_m = _min_edge_distance_m(pending, radius, epsg)
        counts = top.select(
            "q_id", F.size("_t").alias("n"),
            F.element_at(F.col("_t"), -1)["dist2"].alias("maxd2")).toPandas()
        last = radius >= max_radius_deg
        # vectorized confirmation — counts can hold 10^6 rows, so no
        # per-row Python: k-th distance inside the verified radius
        cq = counts["q_id"].to_numpy(dtype=np.int64)
        ok = ((counts["n"].to_numpy() >= k)
              & (np.sqrt(counts["maxd2"].to_numpy())
                 <= verified_m.reindex(cq).to_numpy()))
        done = set(cq[ok].tolist())
        if last:                      # accept whatever exists at max radius
            pq = pending["q_id"].to_numpy(dtype=np.int64)
            done = set(pq.tolist())
            # queries whose expansion found FEWER than k pixels by
            # max_radius_deg (possibly zero — those q_ids are then absent
            # from the output entirely): loud, not silent row loss
            # (ADVICE r4) — callers joining back by q_id must handle it
            got = pd.Series(counts["n"].to_numpy(), index=cq)
            short = sorted(pq[got.reindex(pq).fillna(0).to_numpy()
                              < k].tolist())
            if short:
                warnings.warn(
                    f"knn_pixels: {len(short)} quer{'y' if len(short) == 1 else 'ies'} "
                    f"returned fewer than k={k} rows at max_radius_deg="
                    f"{max_radius_deg} (zero-row q_ids are omitted from the "
                    f"output): q_id(s) {short[:20]}"
                    + (" ..." if len(short) > 20 else ""))
        if done:
            if len(done) == len(pending):
                # done is always a subset of pending, so equal sizes mean
                # EVERY pending query confirmed (the common single-
                # iteration case) and top's q_ids are all in done: the
                # semi-join would be an identity — skip it and its
                # 10^6-row broadcast build
                sel = top
            else:
                ids = spark.createDataFrame(
                    pd.DataFrame({"q_id": np.array(sorted(done),
                                               dtype=np.int64)})
                ).localCheckpoint(eager=True)
                sel = top.join(F.broadcast(ids), "q_id", "semi")
            # accepted rows stay a cheap VIEW over the checkpointed top-k
            # arrays (<= k structs per query) — the checkpoint IS the
            # output's backing store, no second materialization
            chunks.append(
                sel.select("q_id", F.posexplode("_t").alias("_p", "_s"))
                   .select("q_id",
                           (F.col("_p") + 1).cast("int").alias("rank"),
                           F.col("_s")["pix_idx"].alias("pix_idx"),
                           F.col("_s")["dist2"].alias("dist2")))
        else:
            free_local_checkpoint(top)       # no accepted row reads it
        rec = {"radius_deg": radius, "resolution": res,
               "pending": len(pending), "cover_rows": n_cover,
               "pixel_rows": n_pix, "build_side": build,
               "confirmed": len(done)}
        _log.debug("knn_pixels iteration %s", rec, extra={"knn": rec})
        pending = pending[~pending["q_id"].astype(int).isin(done)]
        radius *= 2.0
    out = chunks[0]
    for c in chunks[1:]:
        out = out.unionByName(c)
    return out


def _min_edge_distance_m(centers: pd.DataFrame, radius_deg: float,
                         epsg: int) -> pd.Series:
    """Projected distance from each center to the nearest boundary of the
    search region actually covered at this radius — the radius within which
    results are provably complete, as a pd.Series indexed by q_id.  A
    boundary piece that vanishes (lat bound clamped at a pole, full wrapped
    lon circle) has no pixels beyond it and drops out of the min; a region
    with no remaining boundary is the whole plane -> +inf (always
    confirmed).  Vectorized over centers — three batched forward() calls
    total, no per-center Python loop."""
    qid = centers["q_id"].to_numpy(dtype=np.int64)
    lon = centers["c_lon"].to_numpy(dtype=np.float64)
    lat = centers["c_lat"].to_numpy(dtype=np.float64)
    lat_lo = np.maximum(lat - radius_deg, -90.0)
    lat_hi = np.minimum(lat + radius_deg, 90.0)
    inf = np.full(len(qid), np.inf)
    if epsg == _ell.EPSG_GLOBAL:
        # x = A*K0*lam is linear in the given (uncut) lon, so both lon
        # edges sit at exactly A*K0*radians(radius); the region is not
        # lon-wrapped (module docstring), and past 360 deg it spans
        # every representable lon.  y depends only on lat.
        _, y_c = _ell.forward(lon, lat, epsg)
        _, y_lo = _ell.forward(lon, lat_lo, epsg)
        _, y_hi = _ell.forward(lon, lat_hi, epsg)
        e_lon = (np.full(len(qid), _ell.A * float(_ell.K0)
                         * np.deg2rad(radius_deg))
                 if radius_deg < 360.0 else inf)
        e_s = np.where(lat - radius_deg > -90.0, y_c - y_lo, np.inf)
        e_n = np.where(lat + radius_deg < 90.0, y_hi - y_c, np.inf)
        dist = np.minimum(np.minimum(e_lon, e_s), e_n)
    else:
        def _rho(la):
            xx, yy = _ell.forward(lon, la, epsg)
            return np.hypot(xx, yy)

        rho_c = _rho(lat)
        pole_lat = 90.0 if epsg == _ell.EPSG_NORTH else -90.0
        # an arc AT the pole degenerates to a point and drops out
        arc_lo = np.where(lat_lo != pole_lat, np.abs(rho_c - _rho(lat_lo)),
                          np.inf)
        arc_hi = np.where(lat_hi != pole_lat, np.abs(rho_c - _rho(lat_hi)),
                          np.inf)
        if radius_deg < 180.0:      # wrapped sector below 180 deg has two
            dlon = np.deg2rad(radius_deg)   # radial edges; at/past 180 it
            radial = (rho_c * np.sin(dlon)  # closes into a full annulus
                      if dlon < np.pi / 2 else rho_c)
        else:
            radial = inf
        dist = np.minimum(np.minimum(arc_lo, arc_hi), radial)
    return pd.Series(dist, index=qid)
