"""Driver-contract queries + DuckDB oracle SQL (the correctness gate).

Each entry pairs a Spark DataFrame implementation (the engine under test)
with an independent ANSI/DuckDB SQL oracle.  Geospatial queries run over a
fixed deterministic synthetic grid + polygon set whose exact EASE-CRS
overlap areas the oracle recomputes ANALYTICALLY (closed-form q() authalic
formula inline in SQL) — so the oracle genuinely validates the engine's
decode -> cell join -> refine -> normalize -> aggregate pipeline, not just
its output format.  Float outputs are rounded identically on both sides.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .geo import ellipsoid as _ell
from .grid import AxesGrid, GridSpec
from .polygons import PolygonSet, rect_ring
from .synth import generate_spark, value_sql

# ---------------------------------------------------------------------------
# fixed geospatial fixtures (binary-exact arithmetic on both sides)
# ---------------------------------------------------------------------------

QGRID = GridSpec(lat_edge=-10.0, lon_edge=-20.0, dlat=0.5, dlon=0.5,
                 nlat=40, nlon=80, tile_h=20, tile_w=20)
NPOLY = 12


def _qpolys() -> PolygonSet:
    rings, names = [], []
    for i in range(NPOLY):
        col, row = i % 4, i // 4
        lon0 = -18.0 + col * 9.0 + 0.125
        lat0 = -9.0 + row * 6.0 + 0.0625
        rings.append(rect_ring(lon0, lat0, lon0 + 7.25, lat0 + 5.25))
        names.append(f"poly{i}")
    return PolygonSet(rings, pd.DataFrame({"name": names}))


# SQL building blocks -------------------------------------------------------

E2 = repr(_ell.E2)
E = repr(float(_ell.E))
A = repr(_ell.A)
QP = repr(float(_ell.QP))


def _q_sql(lat: str) -> str:
    """Authalic q(lat_deg) — same Snyder eq. 3-12 as geo.ellipsoid.q_auth."""
    s = f"sin(radians({lat}))"
    return (f"((1-{E2})*({s}/(1-{E2}*{s}*{s}) - "
            f"(1/(2*{E}))*ln((1-{E}*{s})/(1+{E}*{s}))))")


K0_SQL = f"(cos(radians(30.0))/sqrt(1-{E2}*sin(radians(30.0))*sin(radians(30.0))))"


def _cea_area_sql(lat0: str, lat1: str, lon0: str, lon1: str) -> str:
    return (f"(({A}*{K0_SQL}*(radians({lon1})-radians({lon0}))) * "
            f"({A}*({_q_sql(lat1)}-{_q_sql(lat0)})/(2*{K0_SQL})))")


PIX_CTE = f"""
pix AS (
  SELECT CAST(range AS BIGINT) AS pix_idx,
         (range // 80) AS iy,
         (range % 80) AS ix,
         -10.0 + ((range // 80) + 0.5) * 0.5 AS lat,
         -20.0 + ((range % 80) + 0.5) * 0.5 AS lon,
         -10.0 + (range // 80) * 0.5 AS lat0,
         -10.0 + ((range // 80) + 1) * 0.5 AS lat1,
         -20.0 + (range % 80) * 0.5 AS lon0,
         -20.0 + ((range % 80) + 1) * 0.5 AS lon1
  FROM range({QGRID.nlat * QGRID.nlon})
)"""

POLY_CTE = f"""
polys AS (
  SELECT CAST(range AS BIGINT) AS poly_idx,
         -18.0 + (range % 4) * 9.0 + 0.125 AS plon0,
         -9.0 + (range // 4) * 6.0 + 0.0625 AS plat0,
         -18.0 + (range % 4) * 9.0 + 0.125 + 7.25 AS plon1,
         -9.0 + (range // 4) * 6.0 + 0.0625 + 5.25 AS plat1
  FROM range({NPOLY})
)"""

OV_CTE = f"""
ov AS (
  SELECT p.poly_idx, x.pix_idx, x.lat, x.lon, x.ix, x.iy,
         {_cea_area_sql('greatest(x.lat0, p.plat0)', 'least(x.lat1, p.plat1)',
                        'greatest(x.lon0, p.plon0)', 'least(x.lon1, p.plon1)')} AS area
  FROM pix x JOIN polys p
    ON x.lon1 > p.plon0 AND x.lon0 < p.plon1
   AND x.lat1 > p.plat0 AND x.lat0 < p.plat1
)"""

REL_CTE = """
rel AS (
  SELECT poly_idx, pix_idx, ix, iy, lat, lon,
         area / sum(area) OVER (PARTITION BY poly_idx) AS rel_area
  FROM ov
)"""


def _wm(spark):
    from .operators import pixel_overlaps
    return pixel_overlaps(spark, QGRID, _qpolys())


# ---------------------------------------------------------------------------
# geospatial queries
# ---------------------------------------------------------------------------

def q_pixel_overlaps_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+A1: cell join + exact refine + window-normalized rel_area."""
    wm = _wm(spark)
    return wm.overlaps.select(
        "poly_idx", "pix_idx",
        F.round("lat", 6).alias("lat"), F.round("lon", 6).alias("lon"),
        F.round("rel_area", 7).alias("rel_area"))


SQL_PIXEL_OVERLAPS = f"""
WITH {PIX_CTE.strip()}, {POLY_CTE.strip()}, {OV_CTE.strip()}, {REL_CTE.strip()}
SELECT poly_idx, pix_idx, round(lat, 6) AS lat, round(lon, 6) AS lon,
       round(rel_area, 7) AS rel_area
FROM rel
"""


# hot-cell skew fixture (SURVEY §4 north_rule: "salted repartitioning on
# hot H3 cells to handle polygon skew"): every polygon inside ONE ~5x5 deg
# neighborhood, so the whole candidate set lands in a handful of prefilter
# cells — the workload where unsalted refine partitions straggle
NSKEW = 200


def _skew_polys() -> PolygonSet:
    rings, names = [], []
    for i in range(NSKEW):
        lon0 = -5.0 + (i % 10) * 0.45 + 0.03
        lat0 = -5.0 + (i // 10) * 0.22 + 0.07
        rings.append(rect_ring(lon0, lat0, lon0 + 1.1, lat0 + 0.9))
        names.append(f"skew{i}")
    return PolygonSet(rings, pd.DataFrame({"name": names}))


def q_pixel_overlaps_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 under hot-cell skew, SALTED (VERDICT r4 ask #2): salt=4 hash-
    salts the concentrated boundary candidates on (poly_idx, pix_idx % 4)
    across 4x-parallelism partitions before the refine UDF — the result
    must still match the analytic oracle exactly (salting may only move
    rows between tasks, never change a value).  The companion
    plan/distribution tests live in tests/test_skew_salting.py; the bench
    split geo_skew_(un)salted times both paths on a hot fixture at domain
    scale."""
    from .operators import pixel_overlaps
    wm = pixel_overlaps(spark, QGRID, _skew_polys(), salt=4)
    return wm.overlaps.select(
        "poly_idx", "pix_idx",
        F.round("lat", 6).alias("lat"), F.round("lon", 6).alias("lon"),
        F.round("rel_area", 7).alias("rel_area"))


SKEWPOLY_CTE = f"""
spolys AS (
  SELECT CAST(range AS BIGINT) AS poly_idx,
         -5.0 + (range % 10) * 0.45 + 0.03 AS plon0,
         -5.0 + (range // 10) * 0.22 + 0.07 AS plat0,
         -5.0 + (range % 10) * 0.45 + 0.03 + 1.1 AS plon1,
         -5.0 + (range // 10) * 0.22 + 0.07 + 0.9 AS plat1
  FROM range({NSKEW})
)"""

SQL_PIXEL_OVERLAPS_SKEWED = f"""
WITH {PIX_CTE.strip()}, {SKEWPOLY_CTE.strip()},
ov AS (
  SELECT p.poly_idx, x.pix_idx, x.lat, x.lon, x.ix, x.iy,
         {_cea_area_sql('greatest(x.lat0, p.plat0)', 'least(x.lat1, p.plat1)',
                        'greatest(x.lon0, p.plon0)', 'least(x.lon1, p.plon1)')} AS area
  FROM pix x JOIN spolys p
    ON x.lon1 > p.plon0 AND x.lon0 < p.plon1
   AND x.lat1 > p.plat0 AND x.lat0 < p.plat1
), {REL_CTE.strip()}
SELECT poly_idx, pix_idx, round(lat, 6) AS lat, round(lon, 6) AS lon,
       round(rel_area, 7) AS rel_area
FROM rel
"""


def q_pixel_overlaps_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 through the polygon-BATCHED build path (round-5): the standard
    12-polygon rect fixture is forced through 3-ring batches (the
    explicit `_batch_max_rings` knob — no module-global mutation, so a
    concurrently-running query can never observe a patched budget) — the
    path the engine takes automatically in the ring-count-dominated
    regime where the round-4 coarsening loop degenerated to a
    broadcast-side cartesian.  Batching may only change WHERE rows are
    computed, never a value, so the result must match the same analytic
    oracle as the unbatched build (SQL_PIXEL_OVERLAPS)."""
    from .operators import pixel_overlaps
    wm = pixel_overlaps(spark, QGRID, _qpolys(), _batch_max_rings=3)
    # 12 polygons / 3-ring batches = 4 per-batch checkpoints
    assert len(wm._blocks) == 4, \
        "batched fixture did not take the batched path"
    return wm.overlaps.select(
        "poly_idx", "pix_idx",
        F.round("lat", 6).alias("lat"), F.round("lon", 6).alias("lon"),
        F.round("rel_area", 7).alias("rel_area"))


def q_aggregate_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/§2.8: full pipeline incl. image decode — area-weighted mean per
    (polygon, t) of the deterministic tile values."""
    from .operators import aggregate, tiles_to_pixels
    wm = _wm(spark)
    imgs = generate_spark(spark, QGRID, variables=("test",), ntime=3, fmt="raw32")
    pix = tiles_to_pixels(imgs, QGRID)
    out = aggregate(pix, wm, dims=("var", "t"))
    return out.select("poly_idx", F.col("t").cast("long").alias("t"),
                      F.round("value", 6).alias("value"))


SQL_AGG_MEAN = f"""
WITH {PIX_CTE.strip()}, {POLY_CTE.strip()}, {OV_CTE.strip()},
ts AS (SELECT CAST(range AS BIGINT) AS t FROM range(3))
SELECT o.poly_idx, ts.t,
       round(sum({value_sql('o.ix', 'o.iy', 'ts.t')} * o.area) / sum(o.area), 6) AS value
FROM ov o CROSS JOIN ts
GROUP BY o.poly_idx, ts.t
"""


def _nan_imgs(spark, ntime=3):
    """Deterministic tile table with NaN holes at (ix+iy+t)%11==0."""
    from .codecs import encode_tile
    from .synth import value_fn, image_id, caption_for
    rows = []
    for t in range(ntime):
        for ty in range(QGRID.ntiles_y):
            for tx in range(QGRID.ntiles_x):
                iy, ix = QGRID.tile_pixel_indices(ty, tx)
                arr = value_fn(ix, iy, t).astype(np.float32)
                arr = np.where((ix + iy + t) % 11 == 0, np.float32(np.nan), arr)
                rows.append({"image_id": image_id("test", t, ty, tx),
                             "bytes": encode_tile(arr, "raw32"),
                             "w": arr.shape[1], "h": arr.shape[0], "fmt": "raw32",
                             "caption": caption_for("test", t, ty, tx, QGRID),
                             "phash": 0})
    return spark.createDataFrame(pd.DataFrame(rows))


def q_aggregate_weighted_mean_nan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 NaN semantics: value NaN when (ix+iy+t)%11==0; for_loop weights
    stay normalized over all pixels (no pixel is all-NaN across t), NaN terms
    drop out of the sum."""
    from .operators import aggregate, tiles_to_pixels
    wm = _wm(spark)
    pix = tiles_to_pixels(_nan_imgs(spark), QGRID)
    out = aggregate(pix, wm, dims=("var", "t"))
    return out.select("poly_idx", F.col("t").cast("long").alias("t"),
                      F.round("value", 6).alias("value"))


SQL_AGG_MEAN_NAN = f"""
WITH {PIX_CTE.strip()}, {POLY_CTE.strip()}, {OV_CTE.strip()},
ts AS (SELECT CAST(range AS BIGINT) AS t FROM range(3))
SELECT o.poly_idx, ts.t,
       round(sum(CASE WHEN (o.ix + o.iy + ts.t) % 11 <> 0
                      THEN {value_sql('o.ix', 'o.iy', 'ts.t')} * o.area ELSE 0 END)
             / sum(o.area), 6) AS value
FROM ov o CROSS JOIN ts
GROUP BY o.poly_idx, ts.t
"""


def q_aggregate_dot_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: impl='dot_product' — weights masked per (pixel, timestep), so a
    NaN value drops its pixel's weight at that timestep ONLY (reference
    core.py:745, `weights_and_overlaps.where(var_array.notnull(), 0)`).
    Diverges from for_loop on the same partial-NaN input (oracle
    denominators are per-t, vs per-pixel-validity in the for_loop twin)."""
    from .operators import aggregate, tiles_to_pixels
    wm = _wm(spark)
    pix = tiles_to_pixels(_nan_imgs(spark), QGRID)
    out = aggregate(pix, wm, dims=("var", "t"), impl="dot_product")
    return out.select("poly_idx", F.col("t").cast("long").alias("t"),
                      F.round("value", 6).alias("value"))


SQL_AGG_DOT = f"""
WITH {PIX_CTE.strip()}, {POLY_CTE.strip()}, {OV_CTE.strip()},
ts AS (SELECT CAST(range AS BIGINT) AS t FROM range(3))
SELECT o.poly_idx, ts.t,
       round(sum(CASE WHEN (o.ix + o.iy + ts.t) % 11 <> 0
                      THEN {value_sql('o.ix', 'o.iy', 'ts.t')} * o.area ELSE 0 END)
             / sum(CASE WHEN (o.ix + o.iy + ts.t) % 11 <> 0
                        THEN o.area ELSE 0 END), 6) AS value
FROM ov o CROSS JOIN ts
GROUP BY o.poly_idx, ts.t
"""


def q_aggregate_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal-statistic extension beyond the reference's weighted mean:
    exact area-weighted MEDIAN per (polygon, t) — lower weighted quantile
    at q=0.5, ties broken by pix_idx, total weight = max of the running
    sum so both engines compare against their own accumulation."""
    from .operators import tiles_to_pixels
    from .operators.aggregate import aggregate_quantile
    wm = _wm(spark)
    imgs = generate_spark(spark, QGRID, variables=("test",), ntime=3,
                          fmt="raw32")
    pix = tiles_to_pixels(imgs, QGRID)
    out = aggregate_quantile(pix, wm, q=0.5, dims=("var", "t"))
    return out.select("poly_idx", F.col("t").cast("long").alias("t"),
                      F.round("value", 6).alias("value"))


SQL_AGG_MEDIAN = f"""
WITH {PIX_CTE.strip()}, {POLY_CTE.strip()}, {OV_CTE.strip()},
ts AS (SELECT CAST(range AS BIGINT) AS t FROM range(3)),
rel2 AS (
  SELECT poly_idx, pix_idx, ix, iy,
         area / sum(area) OVER (PARTITION BY poly_idx) AS w
  FROM ov
),
vals AS (
  SELECT r.poly_idx, ts.t, r.pix_idx,
         {value_sql('r.ix', 'r.iy', 'ts.t')} AS v, r.w
  FROM rel2 r CROSS JOIN ts
),
c AS (
  SELECT poly_idx, t, v,
         sum(w) OVER (PARTITION BY poly_idx, t ORDER BY v, pix_idx
                      ROWS UNBOUNDED PRECEDING) AS cw
  FROM vals
),
c2 AS (SELECT *, max(cw) OVER (PARTITION BY poly_idx, t) AS tw FROM c)
SELECT poly_idx, t,
       round(min(CASE WHEN cw >= 0.5 * tw THEN v END), 6) AS value
FROM c2 GROUP BY poly_idx, t
"""


def q_aggregate_with_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 + R1: additional weight grid (checkerboard (ix+iy)%2 + 0.5) on the
    data grid — w = rel_area * weight, for_loop normalization."""
    from .operators import aggregate, pixel_overlaps, tiles_to_pixels
    iy, ix = np.meshgrid(np.arange(QGRID.nlat), np.arange(QGRID.nlon),
                         indexing="ij")
    weights = pd.DataFrame({
        "pix_idx": (iy * QGRID.nlon + ix).ravel().astype(np.int64),
        "weight": (((ix + iy) % 2) + 0.5).ravel().astype(np.float64)})
    wm = pixel_overlaps(spark, QGRID, _qpolys(), weights_pdf=weights)
    imgs = generate_spark(spark, QGRID, variables=("test",), ntime=2, fmt="raw32")
    pix = tiles_to_pixels(imgs, QGRID)
    out = aggregate(pix, wm, dims=("var", "t"))
    return out.select("poly_idx", F.col("t").cast("long").alias("t"),
                      F.round("value", 6).alias("value"))


SQL_AGG_WEIGHTS = f"""
WITH {PIX_CTE.strip()}, {POLY_CTE.strip()}, {OV_CTE.strip()},
ts AS (SELECT CAST(range AS BIGINT) AS t FROM range(2))
SELECT o.poly_idx, ts.t,
       round(sum({value_sql('o.ix', 'o.iy', 'ts.t')} * o.area
                 * (CAST((o.ix + o.iy) % 2 AS DOUBLE) + 0.5))
             / sum(o.area * (CAST((o.ix + o.iy) % 2 AS DOUBLE) + 0.5)), 6) AS value
FROM ov o CROSS JOIN ts
GROUP BY o.poly_idx, ts.t
"""


def _knn_fixture(spark: SparkSession):
    """(pixels, centers) shared by every kNN query variant — the centers
    grid is mirrored literally in SQL_KNN's ctr CTE, so it must only
    change together with that CTE."""
    from .operators.overlaps import pixel_geometry
    pixels = pixel_geometry(spark, QGRID).select("pix_idx", "lat", "lon")
    centers = pd.DataFrame({
        "q_id": np.arange(NPOLY, dtype=np.int64),
        "c_lon": [-18.0 + (i % 4) * 9.0 + 0.125 + 3.625 for i in range(NPOLY)],
        "c_lat": [-9.0 + (i // 4) * 6.0 + 0.0625 + 2.625 for i in range(NPOLY)],
    })
    return pixels, centers


def q_knn_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/O3: k=5 nearest pixel centers per polygon centroid, CEA distance,
    deterministic tie-break on pix_idx."""
    from .operators.knn import knn_pixels
    pixels, centers = _knn_fixture(spark)
    out = knn_pixels(spark, pixels, centers, k=5)
    return out.select(F.col("q_id").cast("long").alias("q_id"),
                      F.col("rank").cast("long").alias("rank"), "pix_idx")


def q_knn_tiles_shuffle_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 through a MULTI-ITERATION ring expansion: the search starts at
    0.25 deg (half a pixel), so no query is confirmed before the third
    round (radius 1.0 deg), and each round builds its own cluster-built
    (q_id, cell) cover at a coarser radius-matched resolution.  (The name
    predates the single cover path: every cover is built on the cluster
    now.)  The expansion schedule may only change HOW candidates are
    found, never the ranking, so the result must match the same analytic
    oracle as the default query (SQL_KNN)."""
    from .operators.knn import knn_pixels
    pixels, centers = _knn_fixture(spark)
    out = knn_pixels(spark, pixels, centers, k=5, radius_deg=0.25)
    return out.select(F.col("q_id").cast("long").alias("q_id"),
                      F.col("rank").cast("long").alias("rank"), "pix_idx")


SQL_KNN = f"""
WITH {PIX_CTE.strip()},
ctr AS (
  SELECT CAST(range AS BIGINT) AS q_id,
         -18.0 + (range % 4) * 9.0 + 0.125 + 3.625 AS c_lon,
         -9.0 + (range // 4) * 6.0 + 0.0625 + 2.625 AS c_lat
  FROM range({NPOLY})
),
d AS (
  SELECT c.q_id, x.pix_idx,
         pow({A}*{K0_SQL}*(radians(x.lon)-radians(c.c_lon)), 2)
       + pow({A}*({_q_sql('x.lat')}-{_q_sql('c.c_lat')})/(2*{K0_SQL}), 2) AS dist2
  FROM pix x CROSS JOIN ctr c
)
SELECT q_id, CAST(rank AS BIGINT) AS rank, pix_idx FROM (
  SELECT q_id, pix_idx, row_number() OVER (PARTITION BY q_id ORDER BY dist2, pix_idx) AS rank
  FROM d
) WHERE rank <= 5
"""


def q_bbox_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: pixels within the polygons' total bbox padded by 2x grid step."""
    from .operators.overlaps import pixel_geometry
    polys = _qpolys()
    lon_min, lat_min, lon_max, lat_max = polys.total_bounds()
    pad = 2.0 * 0.5
    pix = pixel_geometry(spark, QGRID)
    return (pix.filter((F.col("lat") >= lat_min - pad) & (F.col("lat") <= lat_max + pad)
                       & (F.col("lon") >= lon_min - pad) & (F.col("lon") <= lon_max + pad))
               .select("pix_idx", F.round("lat", 6).alias("lat"),
                       F.round("lon", 6).alias("lon")))


SQL_BBOX = f"""
WITH {PIX_CTE.strip()}, {POLY_CTE.strip()},
tb AS (SELECT min(plon0) AS lon_min, min(plat0) AS lat_min,
              max(plon1) AS lon_max, max(plat1) AS lat_max FROM polys)
SELECT pix_idx, round(lat, 6) AS lat, round(lon, 6) AS lon
FROM pix, tb
WHERE lat >= lat_min - 1.0 AND lat <= lat_max + 1.0
  AND lon >= lon_min - 1.0 AND lon <= lon_max + 1.0
"""


def q_lon_wrap_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fix_ds lon canonicalization: 0:360 -> -180:180 wrap + ascending rank."""
    df = spark.range(100).select(
        F.col("id").alias("orig_idx"),
        ((((F.col("id") * 37) % 360) + 540.0) % 360.0 - 180.0).alias("lon_wrapped"))
    w = Window.orderBy("lon_wrapped")
    return df.withColumn("rank", F.row_number().over(w).cast("long"))


SQL_LON_WRAP = """
SELECT CAST(range AS BIGINT) AS orig_idx,
       ((CAST(range * 37 AS DOUBLE) % 360) + 540.0) % 360.0 - 180.0 AS lon_wrapped,
       CAST(row_number() OVER (ORDER BY ((CAST(range * 37 AS DOUBLE) % 360) + 540.0) % 360.0 - 180.0) AS BIGINT) AS rank
FROM range(100)
"""


def q_bounds_halfspacing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_bnds half-spacing bounds on an irregular (break-free) axis."""
    from .operators.overlaps import pixel_geometry
    lats = np.array([-10.0 + i * 1.0 + ((i * 3) % 4) * 0.125 for i in range(20)])
    lons = np.array([-5.0 + j * 1.0 for j in range(10)])
    ag = AxesGrid(lat=lats, lon=lons)
    pix = pixel_geometry(spark, ag)
    return pix.select("pix_idx",
                      F.round("lat0", 6).alias("lat0"), F.round("lat1", 6).alias("lat1"),
                      F.round("lon0", 6).alias("lon0"), F.round("lon1", 6).alias("lon1"))


SQL_BOUNDS = """
WITH lat_ax AS (
  SELECT CAST(range AS BIGINT) AS iy,
         -10.0 + CAST(range AS BIGINT) * 1.0 + CAST((range * 3) % 4 AS BIGINT) * 0.125 AS lat
  FROM range(20)
),
lat_d AS (
  SELECT iy, lat,
         coalesce(lat - lag(lat) OVER (ORDER BY iy),
                  lead(lat) OVER (ORDER BY iy) - lat) AS d
  FROM lat_ax
),
lon_ax AS (SELECT CAST(range AS BIGINT) AS ix, -5.0 + CAST(range AS BIGINT) * 1.0 AS lon FROM range(10))
SELECT la.iy * 10 + lo.ix AS pix_idx,
       round(la.lat - 0.5 * la.d, 6) AS lat0, round(la.lat + 0.5 * la.d, 6) AS lat1,
       round(lo.lon - 0.5, 6) AS lon0, round(lo.lon + 0.5, 6) AS lon1
FROM lat_d la CROSS JOIN lon_ax lo
"""


def q_antimeridian_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: wrapped pixels split into west/east halves (areas add)."""
    from .operators.overlaps import pixel_geometry, split_antimeridian
    ag = AxesGrid(lat=np.array([0.0, 1.0]),
                  lon=np.array([178.75, 179.75, -179.25, -178.25]))
    pix = split_antimeridian(pixel_geometry(spark, ag))
    return pix.select("pix_idx",
                      F.round("lat0", 6).alias("lat0"), F.round("lat1", 6).alias("lat1"),
                      F.round("lon0", 6).alias("lon0"), F.round("lon1", 6).alias("lon1"))


def _sql_antimeridian() -> str:
    """Expected VALUES literal, derived from the reference-golden-tested
    bounds synthesis + split semantics (tests/test_geo.py pins these)."""
    from .operators.overlaps import _split_rows_for_oracle
    rows = _split_rows_for_oracle(
        lat=np.array([0.0, 1.0]),
        lon=np.array([178.75, 179.75, -179.25, -178.25]))
    vals = ",\n".join(
        f"({r['pix_idx']}, {round(r['lat0'],6)}, {round(r['lat1'],6)}, "
        f"{round(r['lon0'],6)}, {round(r['lon1'],6)})" for r in rows)
    return (f"SELECT CAST(pix_idx AS BIGINT) AS pix_idx, "
            f"CAST(lat0 AS DOUBLE) AS lat0, CAST(lat1 AS DOUBLE) AS lat1, "
            f"CAST(lon0 AS DOUBLE) AS lon0, CAST(lon1 AS DOUBLE) AS lon1 "
            f"FROM (VALUES {vals}) AS t(pix_idx, lat0, lat1, lon0, lon1)")


# polar (EPSG:6931) weightmap ------------------------------------------------
#
# Strictly-northern grid + polygon -> the engine must pick the north LAEA
# CRS (reference rule core.py:475-486) and compute projected-quad areas.
# The polygon is a lon/lat rectangle DENSIFIED at every pixel corner, so its
# projected straight edges coincide exactly with pixel edges: every overlap
# is a full pixel whose LAEA 4-corner shoelace area the oracle recomputes
# analytically in SQL.  (Partial boundary overlaps in LAEA are validated
# against independent dense sampling in tests/test_polar_holes.py — a
# lon/lat chord is NOT projection-straight, so they have no closed form.)

PGRID = GridSpec(lat_edge=40.0, lon_edge=0.0, dlat=0.5, dlon=0.5,
                 nlat=50, nlon=100, tile_h=25, tile_w=25)
P_LON0, P_LAT0, P_LON1, P_LAT1 = 10.0, 45.0, 41.0, 61.0


def _polar_poly() -> PolygonSet:
    step = 0.5
    lons = np.arange(P_LON0, P_LON1 + step / 2, step)
    lats = np.arange(P_LAT0, P_LAT1 + step / 2, step)
    ring = np.concatenate([
        np.stack([lons, np.full(len(lons), P_LAT0)], axis=1),
        np.stack([np.full(len(lats) - 2, P_LON1), lats[1:-1]], axis=1),
        np.stack([lons[::-1], np.full(len(lons), P_LAT1)], axis=1),
        np.stack([np.full(len(lats) - 2, P_LON0), lats[1:-1][::-1]], axis=1),
    ])
    return PolygonSet([ring], pd.DataFrame({"name": ["polar_rect"]}))


def q_pixel_overlaps_polar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+G3 in the north LAEA CRS: cover join + unified full/edge split +
    projected-quad areas + window-free normalization, all at EPSG:6931."""
    from .operators import pixel_overlaps
    wm = pixel_overlaps(spark, PGRID, _polar_poly())
    assert wm.epsg == _ell.EPSG_NORTH
    return wm.overlaps.select(
        "poly_idx", "pix_idx",
        F.round("lat", 6).alias("lat"), F.round("lon", 6).alias("lon"),
        F.round("rel_area", 7).alias("rel_area"))


IRR_LAT = [-3.0, -2.5, -2.0, -1.25, -0.25, 0.5, 1.0]
IRR_LON = [-5.0, -4.0, -3.0, -1.5, 0.5, 2.0, 3.0, 3.75]


def q_pixel_overlaps_irregular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 over IRREGULAR axes (the AxesGrid path): variable spacings give
    preceding-gap pixel widths (reference get_bnds semantics) — adjacent
    pixels can overlap or leave gaps, and rel_area still normalizes over
    the clipped areas.  Axes are chosen with smooth spacing so the
    reference's break-detection never rewrites a width, letting the
    oracle replay bounds synthesis with a single lag() window."""
    from .operators import pixel_overlaps
    grid = AxesGrid(lat=np.array(IRR_LAT), lon=np.array(IRR_LON))
    polys = PolygonSet([rect_ring(-4.75, -2.875, 2.875, 0.9375)],
                       pd.DataFrame({"name": ["irr"]}))
    wm = pixel_overlaps(spark, grid, polys)
    return wm.overlaps.select(
        "poly_idx", "pix_idx",
        F.round("lat", 6).alias("lat"), F.round("lon", 6).alias("lon"),
        F.round("rel_area", 7).alias("rel_area"))


def _sql_pixel_overlaps_irregular() -> str:
    latv = ", ".join(f"({i}, {v})" for i, v in enumerate(IRR_LAT))
    lonv = ", ".join(f"({i}, {v})" for i, v in enumerate(IRR_LON))
    nlon = len(IRR_LON)
    return f"""
WITH latc AS (SELECT * FROM (VALUES {latv}) AS t(iy, c)),
lonc AS (SELECT * FROM (VALUES {lonv}) AS t(ix, c)),
latb AS (
  SELECT iy, c AS lat,
         coalesce(c - lag(c) OVER (ORDER BY iy),
                  lead(c) OVER (ORDER BY iy) - c) AS w
  FROM latc),
lonb AS (
  SELECT ix, c AS lon,
         coalesce(c - lag(c) OVER (ORDER BY ix),
                  lead(c) OVER (ORDER BY ix) - c) AS w
  FROM lonc),
pix AS (
  SELECT CAST(la.iy * {nlon} + lo.ix AS BIGINT) AS pix_idx,
         la.lat, lo.lon,
         la.lat - la.w / 2 AS lat0, la.lat + la.w / 2 AS lat1,
         lo.lon - lo.w / 2 AS lon0, lo.lon + lo.w / 2 AS lon1
  FROM latb la CROSS JOIN lonb lo),
ov AS (
  SELECT CAST(0 AS BIGINT) AS poly_idx, pix_idx, lat, lon,
         {_cea_area_sql('greatest(lat0, -2.875)', 'least(lat1, 0.9375)',
                        'greatest(lon0, -4.75)', 'least(lon1, 2.875)')} AS area
  FROM pix
  WHERE lon1 > -4.75 AND lon0 < 2.875 AND lat1 > -2.875 AND lat0 < 0.9375
)
SELECT poly_idx, pix_idx, round(lat, 6) AS lat, round(lon, 6) AS lon,
       round(area / sum(area) OVER (), 7) AS rel_area
FROM ov
"""


def _laea_xy_sql(lon: str, lat: str):
    """North-LAEA forward as SQL (Snyder 24-23/24 with authalic q)."""
    rho = f"({A}*sqrt(greatest({QP} - {_q_sql(lat)}, 0.0)))"
    return (f"({rho}*sin(radians({lon})))", f"(-{rho}*cos(radians({lon})))")


def _laea_quad_area_sql() -> str:
    xa, ya = _laea_xy_sql("lon0", "lat0")
    xb, yb = _laea_xy_sql("lon1", "lat0")
    xc, yc = _laea_xy_sql("lon1", "lat1")
    xd, yd = _laea_xy_sql("lon0", "lat1")
    return (f"(abs({xa}*({yb}-{yd}) + {xb}*({yc}-{ya}) "
            f"+ {xc}*({yd}-{yb}) + {xd}*({ya}-{yc})) / 2.0)")


SQL_PIXEL_OVERLAPS_POLAR = f"""
WITH pix AS (
  SELECT CAST(range AS BIGINT) AS pix_idx,
         40.0 + ((range // 100) + 0.5) * 0.5 AS lat,
         0.0 + ((range % 100) + 0.5) * 0.5 AS lon,
         40.0 + (range // 100) * 0.5 AS lat0,
         40.0 + ((range // 100) + 1) * 0.5 AS lat1,
         0.0 + (range % 100) * 0.5 AS lon0,
         0.0 + ((range % 100) + 1) * 0.5 AS lon1
  FROM range({PGRID.nlat * PGRID.nlon})
),
ov AS (
  SELECT CAST(0 AS BIGINT) AS poly_idx, pix_idx, lat, lon,
         {_laea_quad_area_sql()} AS area
  FROM pix
  WHERE lat0 >= {P_LAT0} AND lat1 <= {P_LAT1}
    AND lon0 >= {P_LON0} AND lon1 <= {P_LON1}
)
SELECT poly_idx, pix_idx, round(lat, 6) AS lat, round(lon, 6) AS lon,
       round(area / sum(area) OVER (), 7) AS rel_area
FROM ov
"""


N_KNN_POLAR = 6


def q_knn_tiles_polar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 in the north LAEA CRS: the centers are strictly northern, so
    knn_pixels picks EPSG:6931 (same J2 rule as the overlap join) and ranks
    by Euclidean distance in the polar projection; the oracle replays the
    Snyder 24-23/24 forward analytically in SQL.  The expanding-bbox
    termination uses the annular-sector boundary distance (the lat/lon box
    maps exactly to a rho/lam sector in LAEA)."""
    from .operators.knn import knn_pixels
    from .operators.overlaps import pixel_geometry
    pixels = pixel_geometry(spark, PGRID).select("pix_idx", "lat", "lon")
    centers = pd.DataFrame({
        "q_id": np.arange(N_KNN_POLAR, dtype=np.int64),
        "c_lon": [4.0 + i * 7.0 + 0.21875 for i in range(N_KNN_POLAR)],
        "c_lat": [44.0 + i * 3.0 + 0.109375 for i in range(N_KNN_POLAR)],
    })
    out = knn_pixels(spark, pixels, centers, k=5)
    return out.select(F.col("q_id").cast("long").alias("q_id"),
                      F.col("rank").cast("long").alias("rank"), "pix_idx")


def _laea_dist2_sql() -> str:
    xp, yp = _laea_xy_sql("x.lon", "x.lat")
    xc, yc = _laea_xy_sql("c.c_lon", "c.c_lat")
    return f"(pow({xp}-{xc}, 2) + pow({yp}-{yc}, 2))"


SQL_KNN_POLAR = f"""
WITH pix AS (
  SELECT CAST(range AS BIGINT) AS pix_idx,
         40.0 + ((range // 100) + 0.5) * 0.5 AS lat,
         0.0 + ((range % 100) + 0.5) * 0.5 AS lon
  FROM range({PGRID.nlat * PGRID.nlon})
),
ctr AS (
  SELECT CAST(range AS BIGINT) AS q_id,
         4.0 + range * 7.0 + 0.21875 AS c_lon,
         44.0 + range * 3.0 + 0.109375 AS c_lat
  FROM range({N_KNN_POLAR})
),
d AS (
  SELECT c.q_id, x.pix_idx, {_laea_dist2_sql()} AS dist2
  FROM pix x CROSS JOIN ctr c
)
SELECT q_id, CAST(rank AS BIGINT) AS rank, pix_idx FROM (
  SELECT q_id, pix_idx, row_number() OVER (PARTITION BY q_id ORDER BY dist2, pix_idx) AS rank
  FROM d
) WHERE rank <= 5
"""


def q_regrid_conservative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 (§2.11): conservative regrid of a 0.75-degree weight grid onto
    the 0.5-degree data grid — w_dst = Σ w_src·A(src∩dst) / Σ A(src∩dst)
    with the exact separable EPSG:6933 rectangle area.  One src cell is
    NaN (→ 0 under the default nan_to_zero, reference core.py:163-168).
    The oracle replays the clipped-rectangle CEA area and both sums in
    SQL; binary-exact grid steps (0.5/0.75/0.375) keep every bound
    identical across numpy, Spark and DuckDB."""
    from .operators.regrid import process_weights

    dst = GridSpec(lat_edge=-5.0, lon_edge=-10.0, dlat=0.5, dlon=0.5,
                   nlat=20, nlon=40, tile_h=20, tile_w=40)
    w_lat = -6.0 + (np.arange(16) + 0.5) * 0.75
    w_lon = -12.0 + (np.arange(32) + 0.5) * 0.75
    w = ((np.arange(16)[:, None] * 32 + np.arange(32)[None, :]) % 7
         + 1).astype(np.float64)
    w[3, 5] = np.nan
    pdf = process_weights(dst, w, w_lat, w_lon)
    pdf["weight"] = pdf["weight"].round(6)
    return spark.createDataFrame(pdf).select("pix_idx", "weight")


SQL_REGRID_CONSERVATIVE = f"""
WITH dst AS (
  SELECT CAST(range AS BIGINT) AS pix_idx,
         -5.0 + (range // 40) * 0.5 AS lat0,
         -5.0 + ((range // 40) + 1) * 0.5 AS lat1,
         -10.0 + (range % 40) * 0.5 AS lon0,
         -10.0 + ((range % 40) + 1) * 0.5 AS lon1
  FROM range(800)
),
src AS (
  SELECT -6.0 + (range // 32) * 0.75 AS slat0,
         -6.0 + ((range // 32) + 1) * 0.75 AS slat1,
         -12.0 + (range % 32) * 0.75 AS slon0,
         -12.0 + ((range % 32) + 1) * 0.75 AS slon1,
         CASE WHEN (range // 32) = 3 AND (range % 32) = 5 THEN 0.0
              ELSE CAST(range % 7 + 1 AS DOUBLE) END AS w
  FROM range(512)
),
ov AS (
  SELECT d.pix_idx, s.w,
         {_cea_area_sql('greatest(d.lat0, s.slat0)', 'least(d.lat1, s.slat1)',
                        'greatest(d.lon0, s.slon0)', 'least(d.lon1, s.slon1)')} AS a
  FROM dst d JOIN src s
    ON s.slon1 > d.lon0 AND s.slon0 < d.lon1
   AND s.slat1 > d.lat0 AND s.slat0 < d.lat1
)
SELECT pix_idx, round(sum(w * a) / sum(a), 6) AS weight
FROM ov GROUP BY pix_idx
"""


def q_regrid_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 bilinear path: separable 4-neighbor linear interpolation of
    the same 0.75-degree weight grid onto the 0.5-degree data grid (the
    engine's documented approximation of the xESMF bilinear algorithm).
    Grids are chosen so every dst center lies strictly between src centers
    (no ties, no edge clamping) — the oracle replays the neighbor indices
    and both lerps in closed form."""
    from .operators.regrid import process_weights

    dst = GridSpec(lat_edge=-5.0, lon_edge=-10.0, dlat=0.5, dlon=0.5,
                   nlat=20, nlon=40, tile_h=20, tile_w=40)
    w_lat = -6.0 + (np.arange(16) + 0.5) * 0.75
    w_lon = -12.0 + (np.arange(32) + 0.5) * 0.75
    w = ((np.arange(16)[:, None] * 32 + np.arange(32)[None, :]) % 7
         + 1).astype(np.float64)
    w[3, 5] = np.nan
    pdf = process_weights(dst, w, w_lat, w_lon, rgrd_alg="bilinear")
    pdf["weight"] = pdf["weight"].round(6)
    return spark.createDataFrame(pdf).select("pix_idx", "weight")


def _sql_regrid_bilinear() -> str:
    def w_expr(jy: str, jx: str) -> str:
        return (f"(CASE WHEN {jy} = 3 AND {jx} = 5 THEN 0.0 "
                f"ELSE CAST(({jy} * 32 + {jx}) % 7 + 1 AS DOUBLE) END)")

    return f"""
WITH d AS (
  SELECT CAST(range AS BIGINT) AS pix_idx,
         -5.0 + ((range // 40) + 0.5) * 0.5 AS y,
         -10.0 + ((range % 40) + 0.5) * 0.5 AS x
  FROM range(800)
),
i AS (
  SELECT pix_idx, y, x,
         CAST(floor((y - (-5.625)) / 0.75) AS BIGINT) AS iy0,
         CAST(floor((x - (-11.625)) / 0.75) AS BIGINT) AS ix0
  FROM d
),
t AS (
  SELECT pix_idx, iy0, ix0, iy0 + 1 AS iy1, ix0 + 1 AS ix1,
         (y - (-5.625 + iy0 * 0.75)) / 0.75 AS ty,
         (x - (-11.625 + ix0 * 0.75)) / 0.75 AS tx
  FROM i
)
SELECT pix_idx,
       round((1 - ty) * ((1 - tx) * {w_expr('iy0', 'ix0')}
                         + tx * {w_expr('iy0', 'ix1')})
             + ty * ((1 - tx) * {w_expr('iy1', 'ix0')}
                     + tx * {w_expr('iy1', 'ix1')}), 6) AS weight
FROM t
"""


# ---------------------------------------------------------------------------
# relational analogs over the driver testdata (F6)
# ---------------------------------------------------------------------------

def q_window_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 analog: per-order quantity share (window-normalized ratio)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    w = Window.partitionBy("l_orderkey")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(F.col("l_quantity") / F.sum("l_quantity").over(w), 7).alias("qty_share"))


SQL_WINDOW_NORM = """
SELECT l_orderkey, l_linenumber,
       round(l_quantity / sum(l_quantity) OVER (PARTITION BY l_orderkey), 7) AS qty_share
FROM lineitem
"""


def q_poly_attr_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 analog: left-outer attribute merge keeping zero-match rows."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cnt = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_spent"))
    return (cust.join(cnt, cust.c_custkey == cnt.o_custkey, "left")
                .select("c_custkey",
                        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
                        F.coalesce("total_spent", F.lit(0.0)).alias("total_spent")))


SQL_POLY_MERGE = """
SELECT c.c_custkey,
       coalesce(o.n_orders, 0) AS n_orders,
       coalesce(o.total_spent, 0.0) AS total_spent
FROM customer c LEFT JOIN (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
         round(sum(o_totalprice), 4) AS total_spent
  FROM orders GROUP BY o_custkey
) o ON c.c_custkey = o.o_custkey
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: top-3 lineitems per order by price, deterministic tie-break."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber"))
    return (li.withColumn("rank", F.row_number().over(w).cast("long"))
              .filter(F.col("rank") <= 3)
              .select("l_orderkey", "rank", "l_linenumber",
                      F.round("l_extendedprice", 4).alias("price")))


SQL_TOPK = """
SELECT l_orderkey, CAST(rank AS BIGINT) AS rank, l_linenumber,
       round(l_extendedprice, 4) AS price
FROM (
  SELECT l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_extendedprice DESC, l_linenumber) AS rank
  FROM lineitem
) WHERE rank <= 3
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time-window aggregate (batch form of the streaming op)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy("event_type",
                       F.date_format(F.date_trunc("hour", F.col("ts")),
                                     "yyyy-MM-dd HH:00:00").alias("hour"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum("value"), 4).alias("sum_value")))


SQL_EVENTS = """
SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
       CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# training-data pipeline ops over documents/embeddings
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # dedup on a derived key (lang + first 32 chars) so groups exist
    keyed = docs.withColumn("k", F.concat_ws("|", "lang", F.substring("text", 1, 32)))
    return exact_dedup(keyed, ["k"], "doc_id").select("digest", "keeper", "group_size")


SQL_DEDUP_EXACT = """
SELECT md5(concat_ws(chr(31), lang || '|' || substr(text, 1, 32))) AS digest,
       min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS group_size
FROM documents GROUP BY 1
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import token_count
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_count(docs).select("doc_id", "n_tokens")


SQL_TOKEN_COUNT = """
SELECT doc_id,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS BIGINT) AS n_tokens
FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import quality_score
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_score(docs).select("doc_id", "n_tokens", "mean_token_len",
                                      "stop_ratio", "quality")


SQL_QUALITY = """
WITH b AS (
  SELECT doc_id, length(text) AS nc,
         length(text) - length(replace(text, ' ', '')) + 1 AS nt,
         (length(text) - length(replace(text, ' the ', ''))) / 5.0
       + (length(text) - length(replace(text, ' a ', ''))) / 3.0
       + (length(text) - length(replace(text, ' data ', ''))) / 6.0 AS stops
  FROM documents
)
SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
       round((nc - nt + 1.0) / nt, 6) AS mean_token_len,
       round(stops / nt, 6) AS stop_ratio,
       round(least(1.0, nt / 100.0) * 0.5 + least(1.0, stops / 5.0) * 0.5, 6) AS quality
FROM b
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import lang_id
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lang_id(docs).select("doc_id", "lang_pred")


def _sql_lang_id() -> str:
    from .operators.text import LANG_MARKERS
    langs = list(LANG_MARKERS)
    score = {}
    for lang, ms in LANG_MARKERS.items():
        terms = [f"(length(p) - length(replace(p, '{m}', ''))) / {len(m)}.0" for m in ms]
        score[lang] = "(" + " + ".join(terms) + ")"
    expr = "'und'"
    for lang in reversed(langs):
        later = langs[langs.index(lang) + 1:]
        cond = f"{score[lang]} > 0"
        for o in later:
            cond += f" AND {score[o]} <= {score[lang]}"
        expr = f"CASE WHEN {cond} THEN '{lang}' ELSE {expr} END"
    return (f"SELECT doc_id, {expr} AS lang_pred FROM "
            f"(SELECT doc_id, ' ' || text || ' ' AS p FROM documents)")


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import fingerprint
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fingerprint(docs).select("doc_id", "fp")


SQL_FINGERPRINT = """
SELECT doc_id, ('0x' || substr(md5(lower(substr(text, 1, 64))), 1, 15))::BIGINT AS fp
FROM documents
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_signatures
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (minhash_signatures(docs, "text", "doc_id")
            .select("doc_id", F.col("j").cast("long").alias("j"), "sig"))


SQL_MINHASH = """
WITH sh AS (
  SELECT d.doc_id,
         ('0x' || substr(md5(substr(d.text, CAST(gs.g AS INT), 4)), 1, 15))::BIGINT % 1000003 AS hm
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 3, 1))) AS g) gs
),
hs AS (
  SELECT doc_id, j.j AS j, (hm * (j.j * 2 + 1) + j.j * 7919) % 1000003 AS sig_term
  FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS j) j
)
SELECT doc_id, CAST(j AS BIGINT) AS j, min(sig_term) AS sig
FROM hs GROUP BY doc_id, j
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import lsh_candidate_pairs, minhash_signatures
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # near-dup structure: bucket by first 24 chars to create actual overlap
    keyed = docs.withColumn("text2", F.substring("text", 1, 24))
    sigs = minhash_signatures(keyed, "text2", "doc_id")
    return lsh_candidate_pairs(sigs, "doc_id")


SQL_LSH = """
WITH sh AS (
  SELECT d.doc_id,
         ('0x' || substr(md5(substr(substr(d.text, 1, 24), CAST(gs.g AS INT), 4)), 1, 15))::BIGINT % 1000003 AS hm
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(substr(d.text, 1, 24)) - 3, 1))) AS g) gs
),
hs AS (
  SELECT doc_id, j.j AS j, (hm * (j.j * 2 + 1) + j.j * 7919) % 1000003 AS sig_term
  FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS j) j
),
sigs AS (SELECT doc_id, j, min(sig_term) AS sig FROM hs GROUP BY doc_id, j),
banded AS (
  SELECT doc_id, (j // 2) AS band,
         sum(sig * CAST(pow(1000003.0, j % 2) AS BIGINT)) AS band_sig
  FROM sigs GROUP BY doc_id, (j // 2)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash16
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash16(docs, "text", "doc_id").select("doc_id", "simhash")


SQL_SIMHASH = """
WITH toks AS (
  SELECT d.doc_id, t.tok AS tok
  FROM documents d, LATERAL (SELECT unnest(string_split(d.text, ' ')) AS tok) t
  WHERE t.tok <> ''
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 65536 AS hv FROM toks
),
bits AS (
  SELECT doc_id, j.j AS j,
         sum(CASE WHEN CAST(floor(hv / pow(2.0, j.j)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, LATERAL (SELECT unnest(generate_series(0, 15)) AS j) j
  GROUP BY doc_id, j.j
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2.0, j) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_jaccard_pairs
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") < 40)
            .withColumn("text2", F.substring("text", 1, 60)))
    return ngram_jaccard_pairs(docs, "text2", "doc_id", n=4, threshold=0.2)


SQL_NGRAM_JACCARD = """
WITH d AS (SELECT doc_id, substr(text, 1, 60) AS t FROM documents WHERE doc_id < 40),
g AS (
  SELECT DISTINCT doc_id, substr(t, CAST(gs.g AS INT), 4) AS gram
  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(length(t) - 3, 1))) AS g) gs
),
sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 6) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.2 - 1e-12
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: LSH candidate pairs -> transitive connected
    components (hash-min + pointer jumping) -> (doc_id, component) where
    component = min doc_id of the cluster; singletons map to themselves.
    The oracle recomputes the same pairs in SQL and closes them with a
    recursive CTE.

    Capped at doc_id < 1000: at the sf0.01 gate every document
    qualifies (full-strength check); at larger sf the cap bounds the
    oracle's transitive-closure cost, which is Sum(cluster_size^2) rows
    — the recursive CTE materializes every (node, reachable-min) pair,
    ~25M rows for sf0.1's single 4991-doc prefix cluster.  The UNCAPPED
    Spark path is exercised by the `dedup_components` bench entry."""
    docs, comp = _capped_components(spark, sf_dir)
    return comp.select(F.col("node").alias("doc_id"), "component")


def _capped_components(spark: SparkSession, sf_dir: str):
    """(capped docs, their near-dup components) — the recipe shared by
    q_dedup_components and q_split_leakage_safe; its SQL twin is
    _CAPPED_COMPONENTS_CTE.  The cap (doc_id < 1000), the 24-char
    minhash key, and the LSH parameters must only change together with
    that CTE (and SQL_LSH)."""
    from .operators.dedup import (connected_components, lsh_candidate_pairs,
                                  minhash_signatures)
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") < 1000))
    keyed = docs.withColumn("text2", F.substring("text", 1, 24))
    sigs = minhash_signatures(keyed, "text2", "doc_id")
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    comp = connected_components(pairs, nodes=docs.select("doc_id"))
    return docs, comp


# minhash signatures are per-document, so filtering the PAIRS to the
# capped id range yields exactly the pairs of the capped corpus.  Must
# be opened with WITH RECURSIVE; `reach` closes the LSH edges
# transitively (component = min reachable id).
_CAPPED_COMPONENTS_CTE = f"""pairs AS (
  SELECT * FROM ({SQL_LSH}) WHERE id_a < 1000 AND id_b < 1000
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, m) AS (
  SELECT doc_id, doc_id FROM documents WHERE doc_id < 1000
  UNION
  SELECT e.dst, r.m FROM reach r JOIN edges e ON e.src = r.node
)"""


def _sql_dedup_components() -> str:
    return f"""
WITH RECURSIVE {_CAPPED_COMPONENTS_CTE}
SELECT node AS doc_id, min(m) AS component FROM reach GROUP BY node
"""


_SPLIT_WEIGHTS = [("train", 0.9), ("val", 0.05), ("test", 0.05)]
_SPLIT_SALT = "r5"


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment keyed on
    md5(doc_id || salt) — shuffle-free, engine-portable (the oracle
    recomputes the identical hex-prefix comparison)."""
    from .operators.split import hash_split
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (hash_split(docs, "doc_id", weights=_SPLIT_WEIGHTS,
                       salt=_SPLIT_SALT)
            .select("doc_id", "split"))


def _sql_hash_split() -> str:
    from .operators.split import split_thresholds
    h = f"substr(md5(CAST(doc_id AS VARCHAR) || '{_SPLIT_SALT}'), 1, 8)"
    cases = " ".join(f"WHEN {h} < '{thr}' THEN '{name}'"
                     for name, thr in split_thresholds(_SPLIT_WEIGHTS))
    return (f"SELECT doc_id, CASE {cases} ELSE '{_SPLIT_WEIGHTS[-1][0]}' END "
            f"AS split FROM documents")


def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split keyed on the NEAR-DUP COMPONENT: LSH pairs
    -> transitive components -> hash split on the component id, so no
    near-duplicate pair straddles train/test (a doc-keyed split leaks
    ~18% of near-dup pairs across splits at 90/5/5).  Same doc_id < 1000
    cap as `dedup_components` (full corpus at the sf0.01 gate; bounds
    the oracle's recursive closure at larger sf)."""
    from .operators.split import leakage_safe_split
    docs, comp = _capped_components(spark, sf_dir)
    out = leakage_safe_split(docs, "doc_id", comp,
                             weights=_SPLIT_WEIGHTS, salt=_SPLIT_SALT)
    return out.select("doc_id", "split")


def _sql_split_leakage_safe() -> str:
    from .operators.split import split_thresholds
    h = (f"substr(md5(CAST(component AS VARCHAR) || '{_SPLIT_SALT}'), "
         f"1, 8)")
    cases = " ".join(f"WHEN {h} < '{thr}' THEN '{name}'"
                     for name, thr in split_thresholds(_SPLIT_WEIGHTS))
    return f"""
WITH RECURSIVE {_CAPPED_COMPONENTS_CTE},
comp AS (SELECT node AS doc_id, min(m) AS component FROM reach
         GROUP BY node)
SELECT doc_id, CASE {cases} ELSE '{_SPLIT_WEIGHTS[-1][0]}' END AS split
FROM comp
"""


_MIXTURE_RATES = {"src0": 1.0, "src1": 0.75,
                  **{f"src{i}": 0.2 for i in range(2, 18)}}
_MIXTURE_SALT = "mix1"


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source downsample to a target domain mixture:
    keep thresholds on md5(doc_id || salt), map-only / shuffle-free.
    Exercises all three expression branches: src0 keeps all (rate-1
    fast path — no 9-char threshold compare), src1/..17 fractional,
    src18/19 absent from the rates and dropped.  In production the
    rates come from mixture_rates() (per-source counts -> rates, unit-
    tested); fixed here so the oracle embeds bit-identical thresholds."""
    from .operators.split import mixture_sample
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (mixture_sample(docs, "source", _MIXTURE_RATES, "doc_id",
                           salt=_MIXTURE_SALT)
            .select("doc_id", "source"))


def _sql_mixture_sample() -> str:
    from .operators.split import mixture_thresholds
    h = f"substr(md5(CAST(doc_id AS VARCHAR) || '{_MIXTURE_SALT}'), 1, 8)"
    cases = " ".join(
        f"WHEN '{s}' THEN " + ("TRUE" if thr is None else f"{h} < '{thr}'")
        for s, thr in mixture_thresholds(_MIXTURE_RATES))
    return (f"SELECT doc_id, source FROM documents "
            f"WHERE CASE source {cases} ELSE FALSE END")


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition — the full training-corpus shaping pipeline
    in one plan: exact dedup (keep min doc_id per (lang, 32-char
    prefix) group) -> quality filter (composite score >= 0.5) ->
    mixture-targeted downsample -> deterministic train/val/test split
    -> per-(split, source) doc/token totals.  Every stage is the
    already-oracle-proven operator; this query proves they COMPOSE into
    one Catalyst plan (two corpus scans — the dedup aggregate and the
    semi-join probe — then map-only filters and one final aggregate)
    with a single SQL twin.  AQE broadcasts the keeper set at test
    scale; at corpus scale size-based planning shifts the semi-join to
    a shuffled join on doc_id by itself — no hints needed."""
    from .operators.dedup import exact_dedup
    from .operators.split import hash_split, mixture_sample
    from .operators.text import quality_score
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .withColumn("_k", F.substring("text", 1, 32)))
    keepers = (exact_dedup(docs, ["lang", "_k"], "doc_id")
               .select(F.col("keeper").alias("doc_id")))
    kept = docs.join(keepers, "doc_id", "semi")
    q = quality_score(kept).filter(F.col("quality") >= 0.5)
    mixed = mixture_sample(q, "source", _MIXTURE_RATES, "doc_id",
                           salt=_MIXTURE_SALT)
    sp = hash_split(mixed, "doc_id", weights=_SPLIT_WEIGHTS,
                    salt=_SPLIT_SALT)
    return (sp.groupBy("split", "source")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("n_tokens").alias("sum_tokens")))


def _sql_corpus_pipeline() -> str:
    from .operators.split import mixture_thresholds, split_thresholds
    hmix = (f"substr(md5(CAST(doc_id AS VARCHAR) || '{_MIXTURE_SALT}'), "
            f"1, 8)")
    mix_cases = " ".join(
        f"WHEN '{s}' THEN " + ("TRUE" if thr is None
                               else f"{hmix} < '{thr}'")
        for s, thr in mixture_thresholds(_MIXTURE_RATES))
    hsp = (f"substr(md5(CAST(doc_id AS VARCHAR) || '{_SPLIT_SALT}'), "
           f"1, 8)")
    sp_cases = " ".join(f"WHEN {hsp} < '{thr}' THEN '{name}'"
                        for name, thr in split_thresholds(_SPLIT_WEIGHTS))
    return f"""
WITH keep AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(concat_ws(chr(31), lang, substr(text, 1, 32)))
),
d AS (SELECT documents.* FROM documents JOIN keep USING (doc_id)),
b AS (
  SELECT doc_id, source, length(text) AS nc,
         length(text) - length(replace(text, ' ', '')) + 1 AS nt,
         (length(text) - length(replace(text, ' the ', ''))) / 5.0
       + (length(text) - length(replace(text, ' a ', ''))) / 3.0
       + (length(text) - length(replace(text, ' data ', ''))) / 6.0 AS stops
  FROM d
),
q AS (
  SELECT doc_id, source, CAST(nt AS BIGINT) AS n_tokens
  FROM b
  WHERE round(least(1.0, nt / 100.0) * 0.5
              + least(1.0, stops / 5.0) * 0.5, 6) >= 0.5
),
m AS (SELECT * FROM q WHERE CASE source {mix_cases} ELSE FALSE END)
SELECT CASE {sp_cases} ELSE '{_SPLIT_WEIGHTS[-1][0]}' END AS split,
       source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM m GROUP BY 1, 2
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk packing assignment: per document, the context
    window (chunk) its first token lands in and the offset inside it,
    over per-source shard streams with a 512-token budget."""
    from .operators.pack import pack_sequences
    from .operators.text import token_count
    docs = token_count(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return (pack_sequences(docs, "doc_id", "n_tokens", 512, "source")
            .select("doc_id", "source", "chunk", "offset"))


SQL_PACK = """
WITH t AS (
  SELECT doc_id, source,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source,
         CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev
  FROM t
)
SELECT doc_id, source, cum_prev // 512 AS chunk, cum_prev % 512 AS offset
FROM c
"""


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over text salted with deterministic synthetic PII (the
    corpus itself contains none — the injection makes the redaction
    observable; both engines build the identical salted string)."""
    from .operators.text import redact_pii
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .withColumn("text_p", F.concat(
                F.substring("text", 1, 40),
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@mail.example.org or 555-010-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.when(F.col("doc_id") % 3 == 0,
                       F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
                F.lit(" ip 10.0.0."),
                (F.col("doc_id") % 256).cast("string"))))
    return (redact_pii(docs, "text_p")
            .select("doc_id", "redacted", "n_redacted_chars"))


def _sql_redact_pii() -> str:
    from .operators.text import PII_PATTERNS
    expr = """substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
        || '@mail.example.org or 555-010-'
        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        || CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789' ELSE '' END
        || ' ip 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)"""
    red = expr
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return (f"SELECT doc_id, {red} AS redacted, "
            f"CAST(length({expr}) - length({red}) AS BIGINT) "
            f"AS n_redacted_chars FROM documents")


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination check: per training document, the
    fraction of its distinct 4-grams that occur anywhere in the eval
    subset (doc_id % 7 == 0)."""
    from .operators.dedup import ngram_containment
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .withColumn("t", F.substring("text", 1, 80)))
    train = docs.filter(F.col("doc_id") % 7 != 0)
    ev = docs.filter(F.col("doc_id") % 7 == 0)
    return ngram_containment(train, ev, "t", "doc_id")


SQL_CONTAMINATION = """
WITH t AS (SELECT doc_id, substr(text, 1, 80) AS t FROM documents WHERE doc_id % 7 <> 0),
e AS (SELECT substr(text, 1, 80) AS t FROM documents WHERE doc_id % 7 = 0),
g AS (
  SELECT DISTINCT doc_id, substr(t.t, CAST(gs.g AS INT), 4) AS gram
  FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(length(t.t) - 3, 1))) AS g) gs
),
eg AS (
  SELECT DISTINCT substr(e.t, CAST(gs.g AS INT), 4) AS gram
  FROM e, LATERAL (SELECT unnest(generate_series(1, greatest(length(e.t) - 3, 1))) AS g) gs
)
SELECT g.doc_id, count(*) AS n_grams, count(eg.gram) AS n_hit,
       round(CAST(count(eg.gram) AS DOUBLE) / count(*), 6) AS containment
FROM g LEFT JOIN eg ON g.gram = eg.gram
GROUP BY g.doc_id
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization of the events stream: per-user
    0-based session index with a 1-hour inactivity gap (boundary rule
    diff >= gap, matching F.session_window); exact integer-microsecond
    arithmetic on both engines."""
    from .operators.sessions import sessionize
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (sessionize(ev, "user_id", "ts", 3600.0,
                       order_cols=("event_id",))
            .select("event_id", "user_id", "session_idx"))


SQL_SESSIONIZE = """
WITH o AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
m AS (
  SELECT event_id, user_id, tus,
         CASE WHEN lag(tus) OVER w IS NULL
                   OR tus - lag(tus) OVER w >= 3600000000
              THEN 1 ELSE 0 END AS is_new
  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
)
SELECT event_id, user_id,
       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
            ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx
FROM m
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward inclusive as-of join on the events stream: every click
    picks up the latest view (per user) at or before it — DuckDB's
    native ASOF LEFT JOIN is the oracle, the engine's union+window
    carry-forward must agree row-for-row.  The right side is deduped to
    one row per (user, ts) first (the contract both engines share)."""
    from .operators.sessions import asof_join, _ts_micros
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", "ts", "event_id"))
    wdd = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    views = (ev.filter(F.col("event_type") == "view")
               .withColumn("_rn", F.row_number().over(wdd))
               .filter(F.col("_rn") == 1)
               .select("user_id", "ts", "value"))
    out = asof_join(clicks, views, ts_col="ts", by="user_id",
                    value_cols=("value",))
    return out.select(
        "event_id", "user_id",
        F.round("value_r", 6).alias("value_r"),
        _ts_micros(out, "ts_r").cast("long").alias("ts_r_us"))


SQL_ASOF = """
WITH l AS (SELECT user_id, ts, event_id FROM events
           WHERE event_type = 'click'),
r AS (SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'view') t WHERE rn = 1)
SELECT l.event_id, l.user_id, round(r.value, 6) AS value_r,
       CAST(epoch_us(r.ts) AS BIGINT) AS ts_r_us
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_aggregate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass weighted zonal summary per (polygon, t): mean, population
    variance, min, max, count of finite terms — one hash aggregate over
    the same fact join, no window.  mean/var are weight-SCALE-invariant,
    so the oracle weights by raw analytic area while the engine uses the
    normalized rel_area; var rounds at 4dp (the E[x^2]-E[x]^2 form
    amplifies accumulated rounding ~4x against an ~800-scale result)."""
    from .operators import tiles_to_pixels
    from .operators.aggregate import aggregate_stats
    wm = _wm(spark)
    imgs = generate_spark(spark, QGRID, variables=("test",), ntime=3,
                          fmt="raw32")
    pix = tiles_to_pixels(imgs, QGRID)
    out = aggregate_stats(pix, wm, dims=("var", "t"))
    return out.select("poly_idx", F.col("t").cast("long").alias("t"),
                      F.round("mean", 6).alias("mean"),
                      F.round("variance", 4).alias("variance"),
                      F.round("min", 6).alias("vmin"),
                      F.round("max", 6).alias("vmax"),
                      "n_valid")


SQL_AGG_STATS = f"""
WITH {PIX_CTE.strip()}, {POLY_CTE.strip()}, {OV_CTE.strip()},
ts AS (SELECT CAST(range AS BIGINT) AS t FROM range(3)),
vals AS (
  SELECT o.poly_idx, ts.t, {value_sql('o.ix', 'o.iy', 'ts.t')} AS v,
         o.area AS w
  FROM ov o CROSS JOIN ts
)
SELECT poly_idx, t,
       round(sum(v * w) / sum(w), 6) AS mean,
       round(greatest(sum(v * v * w) / sum(w)
                      - (sum(v * w) / sum(w)) * (sum(v * w) / sum(w)),
                      0.0), 4) AS variance,
       round(min(v), 6) AS vmin,
       round(max(v), 6) AS vmax,
       CAST(count(*) AS BIGINT) AS n_valid
FROM vals GROUP BY poly_idx, t
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval enrich on the events stream: every click joined
    to the signup windows [signup_ts, signup_ts + 2h) of the same user.
    The engine buckets time (1h buckets, JVM sequence/explode) and runs a
    plain equi-join + residual containment; the oracle is the naive
    BETWEEN join — results must agree pair-for-pair."""
    from .operators.sessions import interval_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("event_id", "user_id", "ts"))
    signups = (ev.filter(F.col("event_type") == "signup")
                 .select(F.col("event_id").alias("signup_id"), "user_id",
                         F.col("ts").alias("start"),
                         F.expr("ts + INTERVAL 2 HOURS").alias("end")))
    out = interval_join(clicks, signups, ts_col="ts", start_col="start",
                        end_col="end", by="user_id",
                        bucket_seconds=3600.0)
    return out.select("event_id", "signup_id", "user_id")


SQL_INTERVAL_JOIN = """
WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'click'),
i AS (SELECT event_id AS signup_id, user_id, ts AS s,
             ts + INTERVAL 2 HOUR AS e
      FROM events WHERE event_type = 'signup')
SELECT p.event_id, i.signup_id, p.user_id
FROM p JOIN i ON p.user_id = i.user_id AND i.s <= p.ts AND p.ts < i.e
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step conversion funnel (signup -> click -> purchase) per user,
    greedy-earliest matching with event_id tie-break.  The engine walks
    each user's sorted timeline in ONE F.aggregate pass; the oracle
    chains per-step correlated row_number()=1 picks — the k-join
    formulation the engine refuses at scale."""
    from .operators.sessions import funnel
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel(ev, ["signup", "click", "purchase"],
                  order_cols=("event_id",))


SQL_FUNNEL = """
WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
           FROM events WHERE ts IS NOT NULL),
u AS (SELECT DISTINCT user_id FROM e),
s1 AS (SELECT user_id, tus, event_id FROM e WHERE event_type = 'signup'
       QUALIFY row_number() OVER (PARTITION BY user_id
                                  ORDER BY tus, event_id) = 1),
s2 AS (SELECT e.user_id, e.tus, e.event_id
       FROM e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click'
         AND (e.tus > s1.tus OR (e.tus = s1.tus AND e.event_id > s1.event_id))
       QUALIFY row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY e.tus, e.event_id) = 1),
s3 AS (SELECT e.user_id, e.tus, e.event_id
       FROM e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase'
         AND (e.tus > s2.tus OR (e.tus = s2.tus AND e.event_id > s2.event_id))
       QUALIFY row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY e.tus, e.event_id) = 1)
SELECT u.user_id,
       CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
                 WHEN s2.user_id IS NOT NULL THEN 2
                 WHEN s1.user_id IS NOT NULL THEN 1
                 ELSE 0 END AS BIGINT) AS n_completed,
       s1.tus AS step_1_us, s2.tus AS step_2_us, s3.tus AS step_3_us
FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
       LEFT JOIN s3 USING (user_id)
"""


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 10-hour per-user event window: sum/count/mean of value
    over [ts - 10h, ts].  RANGE frame on integer microseconds — tie-safe
    (equal timestamps share a frame) and engine-portable."""
    from .operators.sessions import rolling_stats
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = rolling_stats(ev, "user_id", "ts", "value",
                        window_seconds=36000.0)
    return out.select("event_id", "user_id",
                      F.round("roll_sum", 6).alias("roll_sum"),
                      "roll_n",
                      F.round("roll_mean", 6).alias("roll_mean"))


SQL_ROLLING = """
WITH o AS (SELECT event_id, user_id, epoch_us(ts) AS tus, value FROM events)
SELECT event_id, user_id,
       round(sum(value) OVER w, 6) AS roll_sum,
       CAST(count(value) OVER w AS BIGINT) AS roll_n,
       round((sum(value) OVER w) / (count(value) OVER w), 6) AS roll_mean
FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tus
                    RANGE BETWEEN 36000000000 PRECEDING AND CURRENT ROW)
"""


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition: fraction of character
    3-grams that are repeats."""
    from .operators.text import repetition_ratio
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_ratio(docs, "text", "doc_id", n=3)


SQL_REPETITION = """
WITH g AS (
  SELECT doc_id, substr(text, CAST(gs.g AS INT), 3) AS gram
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 2, 1))) AS g) gs
)
SELECT doc_id, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct,
       round(1 - CAST(count(DISTINCT gram) AS DOUBLE) / count(*), 6) AS rep_ratio
FROM g GROUP BY doc_id
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context windows (size 200, overlap 40) over every
    document — integer-arithmetic chunk count, JVM explode+substring;
    the oracle replays the identical `div` formula."""
    from .operators.text import chunk_documents
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, "text", "doc_id", size=200, overlap=40)


SQL_CHUNKS = """
SELECT doc_id, CAST(gs.i AS INT) AS chunk_idx,
       CAST(gs.i * 160 AS BIGINT) AS chunk_start,
       substr(text, CAST(gs.i * 160 + 1 AS INT), 200) AS chunk_text
FROM documents,
     LATERAL (SELECT unnest(generate_series(
       0, greatest((length(text) - 41) // 160 + 1, 1) - 1)) AS i) gs
"""


def q_boilerplate_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus boilerplate scrub at unit=word: any token in
    >= 60% of documents (absolute threshold, computed once from the doc
    count — identical integer arithmetic on both sides) is struck from
    every document; survivors re-join in original order."""
    from .operators.text import remove_frequent_units
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    thr = max(2, docs.count() * 3 // 5)
    return remove_frequent_units(docs, min_doc_count=thr)


SQL_BOILERPLATE = """
WITH u AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS u FROM documents
),
freq AS (SELECT u, count(*) AS df FROM u GROUP BY u),
bp AS (
  SELECT coalesce(list(u), []) AS bl FROM freq
  WHERE df >= greatest(2, (SELECT count(*) FROM documents) * 3 // 5)
)
SELECT d.doc_id,
       coalesce(array_to_string(list_filter(string_split(d.text, ' '),
                                            x -> NOT list_contains(b.bl, x)),
                                ' '), '') AS clean_text,
       CAST(len(list_filter(string_split(d.text, ' '),
                            x -> NOT list_contains(b.bl, x))) AS BIGINT)
         AS n_kept,
       CAST(len(string_split(d.text, ' '))
            - len(list_filter(string_split(d.text, ' '),
                              x -> NOT list_contains(b.bl, x))) AS BIGINT)
         AS n_removed
FROM documents d CROSS JOIN bp b
"""


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics pass: top-5 word bigrams per language by count
    (skew-safe two-phase ranking; tie-break count desc, ngram asc)."""
    from .operators.text import ngram_topk
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (ngram_topk(docs, n=2, k=5, by="lang")
            .select("lang", F.col("rank").cast("long").alias("rank"),
                    "ngram", "n_occurrences"))


SQL_NGRAM_TOPK = """
WITH w AS (SELECT lang, string_split(text, ' ') AS a FROM documents),
g AS (SELECT lang, array_to_string(a[i:i+1], ' ') AS ngram
      FROM w, LATERAL (SELECT unnest(generate_series(1, len(a) - 1)) AS i) gs
      WHERE len(a) >= 2),
c AS (SELECT lang, ngram, count(*) AS n FROM g GROUP BY lang, ngram),
r AS (SELECT lang, ngram, n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n DESC, ngram ASC) AS rk
      FROM c)
SELECT lang, CAST(rk AS BIGINT) AS rank, ngram,
       CAST(n AS BIGINT) AS n_occurrences
FROM r WHERE rk <= 5
"""


def q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation assignment keyed only on md5(doc_id) —
    map-only, zero shuffle; fold = int(first 8 md5 hex chars) mod 5,
    identical arithmetic in both engines."""
    from .operators.split import kfold
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return kfold(docs, "doc_id", k=5).select("doc_id", "fold")


SQL_KFOLD = """
SELECT doc_id,
       CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 5 AS BIGINT) AS fold
FROM documents
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-25-per-language deterministic draw (md5-ranked, engine-
    portable) — the eval-set sampler where Bernoulli jitter is not OK."""
    from .operators.split import stratified_sample
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (stratified_sample(docs, "lang", 25, "doc_id")
            .select("doc_id", "lang",
                    F.col("sample_rank").cast("long").alias("sample_rank")))


SQL_STRATIFIED = """
SELECT doc_id, lang, CAST(r AS BIGINT) AS sample_rank FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS r
  FROM documents) t
WHERE r <= 25
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import cosine_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("q_id"),
                          F.col("embedding").alias("q_vec")))
    corpus = emb.filter(F.col("vec_id") >= 5)
    return (cosine_topk(queries, corpus, k=10)
            .select("q_id", F.col("rank").cast("long").alias("rank"),
                    "vec_id", "cos"))


SQL_ANN = """
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
d AS (
  SELECT q.q_id, c.vec_id,
         round(list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos
  FROM q CROSS JOIN c
)
SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, cos FROM (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
  FROM d
) WHERE rank <= 10
"""


def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: sign-LSH bucket candidates (similarity.py
    lsh_bucket_candidates) + exact re-rank inside the bucket, scored as
    recall@10 against the brute-force top-10.  Validates the bucketed path
    end-to-end: deterministic pseudo-hyperplane buckets, candidate
    generation, re-rank.  Output: (q_id, n_candidates, recall)."""
    from .operators.similarity import _cos_expr, lsh_bucket_candidates
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b = lsh_bucket_candidates(emb, n_planes=4)
    queries = (b.filter(F.col("vec_id") < 5)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec"),
                        F.col("bucket").alias("q_bucket")))
    corpus = b.filter(F.col("vec_id") >= 5)
    cand = corpus.join(F.broadcast(queries),
                       F.col("bucket") == F.col("q_bucket"))
    cand = cand.withColumn("cos", F.round(_cos_expr("q_vec", "embedding"), 6))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.col("vec_id").asc())
    lsh_top = (cand.withColumn("rank", F.row_number().over(w))
                   .filter(F.col("rank") <= 10)
                   .select("q_id", "vec_id"))
    n_cand = cand.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_candidates"))

    from .operators.similarity import cosine_topk
    brute = (cosine_topk(queries.select("q_id", "q_vec"),
                         emb.filter(F.col("vec_id") >= 5), k=10)
             .select("q_id", F.col("vec_id").alias("b_vec_id")))
    hits = (brute.join(lsh_top,
                       (brute.q_id == lsh_top.q_id)
                       & (brute.b_vec_id == lsh_top.vec_id))
                 .groupBy(brute.q_id).agg(F.count(F.lit(1)).alias("n_hit")))
    qs = queries.select("q_id")
    return (qs.join(n_cand, "q_id", "left").join(hits, "q_id", "left")
              .select("q_id",
                      F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
                      F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / 10.0, 6)
                       .alias("recall")))


# sign-LSH bucket in SQL: same deterministic pseudo-hyperplanes
# h_p[d] = ((p*131 + d*137) % 1009 - 504)/504 as similarity.py:54
_SQL_BUCKET = """
  (SELECT CAST(sum(CASE WHEN pd.s > 0 THEN CAST(pow(2.0, pd.p) AS BIGINT)
                        ELSE 0 END) AS BIGINT)
   FROM (
     SELECT p.p AS p,
            (SELECT sum(v[d.d + 1] *
                        ((CAST((p.p*131 + d.d*137) % 1009 AS DOUBLE) - 504.0)
                         / 504.0))
             FROM (SELECT unnest(generate_series(0, len(v) - 1)) AS d) d) AS s
     FROM (SELECT unnest(generate_series(0, 3)) AS p) p
   ) pd)
"""

SQL_ANN_LSH_RECALL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {_SQL_BUCKET} AS bucket FROM e),
q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM b WHERE vec_id < 5),
c AS (SELECT vec_id, v, bucket FROM b WHERE vec_id >= 5),
cand AS (
  SELECT q.q_id, c.vec_id,
         round(list_cosine_similarity(q.qv, c.v), 6) AS cos
  FROM q JOIN c ON q.qb = c.bucket
),
lsh_top AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS r
    FROM cand) WHERE r <= 10
),
ncand AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_candidates FROM cand GROUP BY q_id),
brute AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, c.vec_id,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY round(list_cosine_similarity(q.qv, c.v), 6) DESC,
                                       c.vec_id) AS r
    FROM q CROSS JOIN (SELECT vec_id, v FROM e WHERE vec_id >= 5) c) WHERE r <= 10
),
hits AS (
  SELECT b.q_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM brute b JOIN lsh_top l ON b.q_id = l.q_id AND b.vec_id = l.vec_id
  GROUP BY b.q_id
)
SELECT q.q_id,
       coalesce(n.n_candidates, 0) AS n_candidates,
       round(coalesce(h.n_hit, 0) / 10.0, 6) AS recall
FROM q LEFT JOIN ncand n ON q.q_id = n.q_id LEFT JOIN hits h ON q.q_id = h.q_id
"""


def _q_ann_ivf(spark: SparkSession, sf_dir: str, n_cent: int,
               nprobe: int) -> DataFrame:
    from .operators.similarity import ivf_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = (emb.filter(F.col("vec_id") < n_cent)
                    .select(F.col("vec_id").alias("cent_id"),
                            F.col("embedding").alias("cent_vec")))
    queries = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("q_id"),
                          F.col("embedding").alias("q_vec")))
    corpus = emb.filter(F.col("vec_id") >= n_cent)
    return (ivf_topk(queries, corpus, centroids, k=10, nprobe=nprobe)
            .select("q_id", F.col("rank").cast("long").alias("rank"),
                    "vec_id", "cos"))


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF scale path for ANN: deterministic coarse quantizer (centroids =
    the first 16 corpus vectors — the INLINE map-side argmax assignment),
    nprobe=4 probed lists, exact re-rank within them.  Output (q_id,
    rank, vec_id, cos) — the oracle replays assignment, probing and
    re-rank in SQL."""
    return _q_ann_ivf(spark, sf_dir, n_cent=16, nprobe=4)


def q_ann_ivf_large_quantizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same IVF pipeline with a 100-centroid quantizer — above
    IVF_INLINE_MAX_CENTROIDS, so the assignment runs the broadcast-join +
    sortless struct-min path; the oracle replays it identically (the SQL
    is quantizer-size-agnostic)."""
    return _q_ann_ivf(spark, sf_dir, n_cent=100, nprobe=8)


def _sql_ann_ivf(n_cent: int, nprobe: int) -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < {n_cent}),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
c AS (SELECT vec_id, v FROM e WHERE vec_id >= {n_cent}),
cells AS (
  SELECT vec_id, v, cent_id AS cell FROM (
    SELECT c.vec_id, c.v, cent.cent_id,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY round(list_cosine_similarity(cent.cv, c.v), 6) DESC,
                                       cent.cent_id) AS r
    FROM c CROSS JOIN cent) WHERE r = 1
),
probes AS (
  SELECT q_id, qv, cent_id AS cell FROM (
    SELECT q.q_id, q.qv, cent.cent_id,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY round(list_cosine_similarity(cent.cv, q.qv), 6) DESC,
                                       cent.cent_id) AS r
    FROM q CROSS JOIN cent) WHERE r <= {nprobe}
),
cand AS (
  SELECT p.q_id, s.vec_id,
         round(list_cosine_similarity(p.qv, s.v), 6) AS cos
  FROM probes p JOIN cells s ON p.cell = s.cell
)
SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, cos FROM (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
  FROM cand) WHERE rank <= 10
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import neardup_pairs
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
               .filter(F.col("vec_id") < 200)
    return neardup_pairs(emb, threshold=0.3)


SQL_EMB_NEARDUP = """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.3
"""


# ---------------------------------------------------------------------------
# image-table ops without SQL oracle (rows-only checks)
# ---------------------------------------------------------------------------

def q_embedding_neardup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for near-dup pairs: candidates only within a sign-LSH
    bucket, exact cosine verify.  The oracle replays bucket assignment +
    within-bucket pairing + the threshold in SQL."""
    from .operators.similarity import neardup_pairs_bucketed
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
               .filter(F.col("vec_id") < 400)
    return neardup_pairs_bucketed(emb, threshold=0.3, n_planes=4)


SQL_EMB_NEARDUP_BUCKETED = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < 400),
b AS (SELECT vec_id, v, {_SQL_BUCKET} AS bucket FROM e)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b2.v), 6) AS cos
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE round(list_cosine_similarity(a.v, b2.v), 6) >= 0.3
"""


def q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7: decode path health — per-tile pixel stats from the binary payload
    (PNG codec).  The decode itself has no SQL twin, but the input is a
    SEEDED deterministic synth grid and the codec is lossless-roundtrip, so
    the expected rows are pinned as a VALUES literal oracle (exact-match
    gate, not rows-only)."""
    from .operators import tiles_to_pixels
    imgs = generate_spark(spark, QGRID, variables=("test",), ntime=1, fmt="png")
    pix = tiles_to_pixels(imgs, QGRID)
    return (pix.groupBy("var", "t")
               .agg(F.count(F.lit(1)).alias("n_pixels"),
                    F.round(F.avg("value"), 2).alias("mean_value"),
                    F.round(F.min("value"), 2).alias("min_value"),
                    F.round(F.max("value"), 2).alias("max_value")))


def q_phash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup buckets over the synthetic image table.
    phash (DCT of the decoded tile) is not SQL-reproducible, but the synth
    input is seeded and the hash deterministic, so the expected buckets are
    pinned as a VALUES literal oracle."""
    imgs = generate_spark(spark, QGRID, variables=("test",), ntime=2, fmt="raw32")
    return (imgs.groupBy("phash")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.min("image_id").alias("first_image"))
                .filter(F.col("n") >= 2))


# image_decode_stats oracle: derived INDEPENDENTLY from the generator
# formula (synth.value_sql) — the SQL recomputes every pixel's value
# analytically and aggregates, so a codec bug that corrupts decoded values
# fails the gate (ADVICE r3: the former VALUES pin was the engine's own
# observed output, a regression gate rather than independent verification).
# The PNG codec is lossless-roundtrip, so decoded values must equal the
# formula exactly.
SQL_IMAGE_DECODE_STATS = f"""
SELECT 'test' AS var, CAST(0 AS BIGINT) AS t,
       CAST(count(*) AS BIGINT) AS n_pixels,
       round(avg(v), 2) AS mean_value,
       round(min(v), 2) AS min_value,
       round(max(v), 2) AS max_value
FROM (
  SELECT {value_sql(f'(range % {QGRID.nlon})', f'(range // {QGRID.nlon})', '0')} AS v
  FROM range({QGRID.nlat * QGRID.nlon})
)
"""

# phash_buckets: the DCT perceptual hash is not SQL-expressible, so the
# expected buckets stay REGRESSION-PINNED (the engine's own output on the
# seeded synth input, verified identical at local[4] and local[32]) — an
# exact-match regression gate, not independent verification.  The decode
# values themselves ARE independently verified by SQL_IMAGE_DECODE_STATS.
SQL_PHASH_BUCKETS = """
SELECT * FROM (VALUES
  (CAST(-2177738665159614856 AS BIGINT), CAST(2 AS BIGINT), 'tile_test_0000_00000_00001'),
  (CAST(1096892346504110535 AS BIGINT),  CAST(2 AS BIGINT), 'tile_test_0000_00000_00002'),
  (CAST(2051639799705035535 AS BIGINT),  CAST(2 AS BIGINT), 'tile_test_0000_00000_00000'),
  (CAST(8710821759181852216 AS BIGINT),  CAST(2 AS BIGINT), 'tile_test_0000_00000_00003')
) AS t(phash, n, first_image)
"""


def q_aggregate_4d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 with TWO non-loc dims (t, plev) — the reference's 4-D
    time×plev×lat×lon case (tests/test_core.py 4-D goldens).  The extra
    plev axis is synthesized JVM-side as value + plev*0.25, giving every
    (t, plev) coordinate distinct values; the oracle replays the same
    shift in SQL.  Proves the dims plumbing (groupBy keys, dim-space
    cross, attrs merge) generalizes past 1 extra dim."""
    from .operators import aggregate, tiles_to_pixels
    wm = _wm(spark)
    imgs = generate_spark(spark, QGRID, variables=("test",), ntime=2, fmt="raw32")
    pix = tiles_to_pixels(imgs, QGRID)
    pix = (pix.crossJoin(spark.range(3).select(F.col("id").alias("plev")))
              .withColumn("value", F.col("value") + F.col("plev") * F.lit(0.25)))
    out = aggregate(pix, wm, dims=("var", "t", "plev"))
    return out.select("poly_idx", F.col("t").cast("long").alias("t"),
                      F.col("plev").cast("long").alias("plev"),
                      F.round("value", 6).alias("value"))


SQL_AGG_4D = f"""
WITH {PIX_CTE.strip()}, {POLY_CTE.strip()}, {OV_CTE.strip()},
ts AS (SELECT CAST(range AS BIGINT) AS t FROM range(2)),
ps AS (SELECT CAST(range AS BIGINT) AS plev FROM range(3))
SELECT o.poly_idx, ts.t, ps.plev,
       round(sum(({value_sql('o.ix', 'o.iy', 'ts.t')} + ps.plev * 0.25) * o.area)
             / sum(o.area), 6) AS value
FROM ov o CROSS JOIN ts CROSS JOIN ps
GROUP BY o.poly_idx, ts.t, ps.plev
"""


def q_aggregate_copartitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 over WRITE-TIME co-partitioned tables (io.tables
    save_copartitioned): fact and overlaps bucketed+sorted on pix_idx so
    the aggregate join runs with no Exchange on either side (plan pinned
    in tests/test_tables.py::test_copartitioned_join_is_exchange_free).
    This query proves the 100 TB scale path is VALUE-identical to the
    broadcast path: same oracle as aggregate_weighted_mean."""
    import os
    import shutil

    from .io.tables import read_copartitioned, save_copartitioned
    from .operators import aggregate, tiles_to_pixels

    wm = _wm(spark)
    imgs = generate_spark(spark, QGRID, variables=("test",), ntime=3, fmt="raw32")
    pix = tiles_to_pixels(imgs, QGRID)
    name = "xagg_drv_copart"
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = wh.removeprefix("file:")
    for t in (f"{name}_fact", f"{name}_overlaps"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    save_copartitioned(pix, wm, name, n_buckets=8)
    fact, wm2 = read_copartitioned(spark, name, wm.polys, QGRID, wm.epsg)
    out = aggregate(fact, wm2, dims=("var", "t"), broadcast_overlaps=False)
    return out.select("poly_idx", F.col("t").cast("long").alias("t"),
                      F.round("value", 6).alias("value"))


AMGRID = GridSpec(lat_edge=58.0, lon_edge=160.0, dlat=1.0, dlon=1.0,
                  nlat=12, nlon=40, tile_h=12, tile_w=40)
# mixed representations on purpose: raw lons beyond 180 (the grid's
# native frame) and canonical negatives — LAEA enters lon only through
# sin/cos, so both sides agree without canonicalization
AM_CLON = [178.25, -176.5, 195.125, 169.0]
AM_CLAT = [61.125, 65.0625, 59.5, 68.25]


def q_knn_tiles_antimeridian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 across the antimeridian (the ADVICE r3 class, now oracle-gated):
    a north-LAEA grid spanning lon 160..200 with centers on BOTH sides of
    +-180 (one given as a canonical negative).  The LAEA plane has no cut
    at +-180, so the wrapped lon predicate must find neighbors across it;
    the oracle's brute-force LAEA distance does so inherently (sin/cos)."""
    from .operators.knn import knn_pixels
    from .operators.overlaps import pixel_geometry
    pixels = pixel_geometry(spark, AMGRID).select("pix_idx", "lat", "lon")
    centers = pd.DataFrame({
        "q_id": np.arange(len(AM_CLON), dtype=np.int64),
        "c_lon": AM_CLON, "c_lat": AM_CLAT,
    })
    out = knn_pixels(spark, pixels, centers, k=4)
    return out.select(F.col("q_id").cast("long").alias("q_id"),
                      F.col("rank").cast("long").alias("rank"), "pix_idx")


def _sql_knn_antimeridian() -> str:
    # pix_idx follows the engine's CANONICAL grid (fix_ds parity: lons
    # wrapped to [-180, 180) then sorted ascending) — the raw 160..200
    # axis becomes [-179.5..-160.5] for ix 0..19, [160.5..179.5] for
    # ix 20..39; the oracle replays that ordering explicitly
    ctr = ", ".join(f"({i}, {lo}, {la})"
                    for i, (lo, la) in enumerate(zip(AM_CLON, AM_CLAT)))
    return f"""
WITH pix AS (
  SELECT CAST(range AS BIGINT) AS pix_idx,
         {AMGRID.lat_edge} + ((range // {AMGRID.nlon}) + 0.5) * {AMGRID.dlat} AS lat,
         CASE WHEN (range % {AMGRID.nlon}) < 20
              THEN -179.5 + (range % {AMGRID.nlon}) * {AMGRID.dlon}
              ELSE 140.5 + (range % {AMGRID.nlon}) * {AMGRID.dlon} END AS lon
  FROM range({AMGRID.nlat * AMGRID.nlon})
),
ctr AS (SELECT CAST(c0 AS BIGINT) AS q_id, c1 AS c_lon, c2 AS c_lat
        FROM (VALUES {ctr}) AS t(c0, c1, c2)),
d AS (
  SELECT c.q_id, x.pix_idx, {_laea_dist2_sql()} AS dist2
  FROM pix x CROSS JOIN ctr c
)
SELECT q_id, CAST(rank AS BIGINT) AS rank, pix_idx FROM (
  SELECT q_id, pix_idx, row_number() OVER (PARTITION BY q_id ORDER BY dist2, pix_idx) AS rank
  FROM d
) WHERE rank <= 4
"""


def q_aggregate_resumed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 over a weightmap built by the RESUMABLE bucketed path (S4):
    proves kill/resume-grade wave commits + global stitch normalization
    are VALUE-identical to the straight build through the full aggregate
    — same analytic oracle as aggregate_weighted_mean."""
    import os
    import tempfile

    from .io.weightmap_io import resume_pixel_overlaps
    from .operators import aggregate, tiles_to_pixels

    with tempfile.TemporaryDirectory() as td:
        wm, _ = resume_pixel_overlaps(spark, QGRID, _qpolys(),
                                      os.path.join(td, "ck"), n_buckets=5)
        imgs = generate_spark(spark, QGRID, variables=("test",), ntime=3,
                              fmt="raw32")
        pix = tiles_to_pixels(imgs, QGRID)
        out = aggregate(pix, wm, dims=("var", "t"))
        out = out.select("poly_idx", F.col("t").cast("long").alias("t"),
                         F.round("value", 6).alias("value"))
        # materialize before the checkpoint dir is deleted (36 rows);
        # the returned frame must not depend on the tempdir's parquet
        out = out.localCheckpoint(eager=True)
        wm.unpersist()
        return out


# decode_bbox_stats: pixel bbox chosen so the tile prefilter keeps 3 of
# QGRID's 8 tiles (tx 0..2 at ty 0) — the oracle replays the prefilter's
# tile-intersection rule AND the generator formula independently
BB = (-12.3, -9.5, 6.0, -0.2)       # lon0, lat0, lon1, lat1


def q_decode_bbox_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 through the decode path (the 100 TB prune-before-decode shape):
    tiles are prefiltered by bbox BEFORE the decode UDF; stats over the
    surviving pixels are verified against the generator formula applied
    to exactly the pixels of the tiles the bbox rule keeps."""
    from .io.tables import prefilter_images_bbox
    from .operators import tiles_to_pixels
    imgs = generate_spark(spark, QGRID, variables=("test",), ntime=1, fmt="png")
    sub = prefilter_images_bbox(imgs, QGRID, BB[0], BB[1], BB[2], BB[3])
    pix = tiles_to_pixels(sub, QGRID)
    return (pix.groupBy("var", "t")
               .agg(F.count(F.lit(1)).alias("n_pixels"),
                    F.round(F.avg("value"), 2).alias("mean_value"),
                    F.round(F.min("value"), 2).alias("min_value"),
                    F.round(F.max("value"), 2).alias("max_value")))


def _sql_decode_bbox_stats() -> str:
    th, tw = QGRID.tile_h, QGRID.tile_w
    tile_dlat, tile_dlon = th * QGRID.dlat, tw * QGRID.dlon
    return f"""
SELECT 'test' AS var, CAST(0 AS BIGINT) AS t,
       CAST(count(*) AS BIGINT) AS n_pixels,
       round(avg(v), 2) AS mean_value,
       round(min(v), 2) AS min_value,
       round(max(v), 2) AS max_value
FROM (
  SELECT {value_sql(f'(range % {QGRID.nlon})', f'(range // {QGRID.nlon})', '0')} AS v,
         ((range // {QGRID.nlon}) // {th}) AS ty,
         ((range % {QGRID.nlon}) // {tw}) AS tx
  FROM range({QGRID.nlat * QGRID.nlon})
)
WHERE ({QGRID.lat_edge} + ty * {tile_dlat}) + {tile_dlat} > {BB[1]}
  AND ({QGRID.lat_edge} + ty * {tile_dlat}) < {BB[3]}
  AND ({QGRID.lon_edge} + tx * {tile_dlon}) + {tile_dlon} > {BB[0]}
  AND ({QGRID.lon_edge} + tx * {tile_dlon}) < {BB[2]}
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def all_queries():
    return {
        "pixel_overlaps_rect": q_pixel_overlaps_rect,
        "pixel_overlaps_skewed": q_pixel_overlaps_skewed,
        "pixel_overlaps_batched": q_pixel_overlaps_batched,
        "pixel_overlaps_polar": q_pixel_overlaps_polar,
        "pixel_overlaps_irregular": q_pixel_overlaps_irregular,
        "aggregate_weighted_mean": q_aggregate_weighted_mean,
        "aggregate_weighted_mean_nan": q_aggregate_weighted_mean_nan,
        "aggregate_dot_product": q_aggregate_dot_product,
        "aggregate_with_weights": q_aggregate_with_weights,
        "aggregate_copartitioned": q_aggregate_copartitioned,
        "aggregate_4d": q_aggregate_4d,
        "aggregate_resumed": q_aggregate_resumed,
        "knn_tiles": q_knn_tiles,
        "knn_tiles_shuffle_cover": q_knn_tiles_shuffle_cover,
        "knn_tiles_polar": q_knn_tiles_polar,
        "knn_tiles_antimeridian": q_knn_tiles_antimeridian,
        "decode_bbox_stats": q_decode_bbox_stats,
        "regrid_conservative": q_regrid_conservative,
        "regrid_bilinear": q_regrid_bilinear,
        "bbox_subset": q_bbox_subset,
        "lon_wrap_canonicalize": q_lon_wrap_canonicalize,
        "bounds_halfspacing": q_bounds_halfspacing,
        "antimeridian_split": q_antimeridian_split,
        "window_normalize": q_window_normalize,
        "poly_attr_merge": q_poly_attr_merge,
        "topk_per_group": q_topk_per_group,
        "events_hourly": q_events_hourly,
        "dedup_exact": q_dedup_exact,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "minhash_signatures": q_minhash_signatures,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_components": q_dedup_components,
        "hash_split": q_hash_split,
        "mixture_sample": q_mixture_sample,
        "split_leakage_safe": q_split_leakage_safe,
        "corpus_pipeline": q_corpus_pipeline,
        "contamination": q_contamination,
        "pack_sequences": q_pack_sequences,
        "redact_pii": q_redact_pii,
        "boilerplate_removed": q_boilerplate_removed,
        "ngram_topk": q_ngram_topk,
        "stratified_sample": q_stratified_sample,
        "kfold": q_kfold,
        "aggregate_weighted_median": q_aggregate_weighted_median,
        "aggregate_stats": q_aggregate_stats,
        "asof_join": q_asof_join,
        "rolling_stats": q_rolling_stats,
        "interval_join": q_interval_join,
        "funnel": q_funnel,
        "sessionize": q_sessionize,
        "repetition_ratio": q_repetition_ratio,
        "chunk_documents": q_chunk_documents,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_recall": q_ann_lsh_recall,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_large_quantizer": q_ann_ivf_large_quantizer,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_bucketed": q_embedding_neardup_bucketed,
        "image_decode_stats": q_image_decode_stats,
        "phash_buckets": q_phash_buckets,
    }


def all_oracle_sql():
    return {
        "pixel_overlaps_rect": SQL_PIXEL_OVERLAPS,
        "pixel_overlaps_skewed": SQL_PIXEL_OVERLAPS_SKEWED,
        "pixel_overlaps_batched": SQL_PIXEL_OVERLAPS,
        "pixel_overlaps_polar": SQL_PIXEL_OVERLAPS_POLAR,
        "pixel_overlaps_irregular": _sql_pixel_overlaps_irregular(),
        "aggregate_weighted_mean": SQL_AGG_MEAN,
        "aggregate_weighted_mean_nan": SQL_AGG_MEAN_NAN,
        "aggregate_dot_product": SQL_AGG_DOT,
        "aggregate_with_weights": SQL_AGG_WEIGHTS,
        "aggregate_copartitioned": SQL_AGG_MEAN,
        "aggregate_4d": SQL_AGG_4D,
        "aggregate_resumed": SQL_AGG_MEAN,
        "knn_tiles": SQL_KNN,
        "knn_tiles_shuffle_cover": SQL_KNN,
        "knn_tiles_polar": SQL_KNN_POLAR,
        "knn_tiles_antimeridian": _sql_knn_antimeridian(),
        "decode_bbox_stats": _sql_decode_bbox_stats(),
        "regrid_conservative": SQL_REGRID_CONSERVATIVE,
        "regrid_bilinear": _sql_regrid_bilinear(),
        "bbox_subset": SQL_BBOX,
        "lon_wrap_canonicalize": SQL_LON_WRAP,
        "bounds_halfspacing": SQL_BOUNDS,
        "antimeridian_split": _sql_antimeridian(),
        "window_normalize": SQL_WINDOW_NORM,
        "poly_attr_merge": SQL_POLY_MERGE,
        "topk_per_group": SQL_TOPK,
        "events_hourly": SQL_EVENTS,
        "dedup_exact": SQL_DEDUP_EXACT,
        "token_count": SQL_TOKEN_COUNT,
        "quality_score": SQL_QUALITY,
        "lang_id": _sql_lang_id(),
        "doc_fingerprint": SQL_FINGERPRINT,
        "minhash_signatures": SQL_MINHASH,
        "dedup_minhash_lsh": SQL_LSH,
        "dedup_components": _sql_dedup_components(),
        "hash_split": _sql_hash_split(),
        "mixture_sample": _sql_mixture_sample(),
        "split_leakage_safe": _sql_split_leakage_safe(),
        "corpus_pipeline": _sql_corpus_pipeline(),
        "contamination": SQL_CONTAMINATION,
        "pack_sequences": SQL_PACK,
        "redact_pii": _sql_redact_pii(),
        "boilerplate_removed": SQL_BOILERPLATE,
        "ngram_topk": SQL_NGRAM_TOPK,
        "stratified_sample": SQL_STRATIFIED,
        "kfold": SQL_KFOLD,
        "aggregate_weighted_median": SQL_AGG_MEDIAN,
        "aggregate_stats": SQL_AGG_STATS,
        "asof_join": SQL_ASOF,
        "rolling_stats": SQL_ROLLING,
        "interval_join": SQL_INTERVAL_JOIN,
        "funnel": SQL_FUNNEL,
        "sessionize": SQL_SESSIONIZE,
        "repetition_ratio": SQL_REPETITION,
        "chunk_documents": SQL_CHUNKS,
        "simhash": SQL_SIMHASH,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "ann_cosine_topk": SQL_ANN,
        "ann_lsh_recall": SQL_ANN_LSH_RECALL,
        "ann_ivf_topk": _sql_ann_ivf(16, 4),
        "ann_ivf_large_quantizer": _sql_ann_ivf(100, 8),
        "embedding_neardup": SQL_EMB_NEARDUP,
        "embedding_neardup_bucketed": SQL_EMB_NEARDUP_BUCKETED,
        # image_decode_stats: formula-derived independent oracle;
        # phash_buckets: regression-pinned VALUES (DCT not SQL-expressible)
        "image_decode_stats": SQL_IMAGE_DECODE_STATS,
        "phash_buckets": SQL_PHASH_BUCKETS,
    }
