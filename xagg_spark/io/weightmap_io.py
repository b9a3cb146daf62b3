"""Weightmap persistence + resumable computation (reference S3/S4 + north_rule).

Reference: export_weightmap writes a 4-part directory (shp + HDF5 + NetCDF +
CSV, /root/reference/xagg/export.py:13-68) and read_wm reloads it
(/root/reference/xagg/core.py:30-98).  Spark-native replacement:

  <path>/overlaps/            parquet, the normalized overlap table
  <path>/_manifest.json       version 2: grid spec, polygon digest, epsg,
                              lineage = the WeightMap's poly_table

Resumability (north_rule "a killed job resumes without recomputing completed
tile groups"): resume_pixel_overlaps splits the pixels into BUCKETS,
pix_idx % n_buckets.  Each bucket is written to its own directory
(tmp -> atomic rename) and committed by a marker written last, which
records the build key and the bucket's row count; a resume recomputes only
the buckets whose marker is missing, carries another key, or disagrees
with the row total of the bucket's parquet footers.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from ..grid import AxesGrid, GridSpec
from ..polygons import PolygonSet


def _poly_digest(polys: PolygonSet) -> str:
    h = hashlib.sha256()
    for poly in polys.rings:
        # the ring lengths too: one polygon with a hole and two polygons
        # with the same vertices are different sets
        h.update(np.array([len(poly)] + [len(r) for r in poly],
                          dtype=np.int64).tobytes())
        for r in poly:
            h.update(np.ascontiguousarray(r, dtype=np.float64).tobytes())
    return h.hexdigest()[:16]


def _grid_dict(grid) -> dict:
    if isinstance(grid, GridSpec):
        return {"kind": "gridspec", **grid.to_dict()}
    g = grid.with_bounds()
    return {"kind": "axes", "lat": g.lat.tolist(), "lon": g.lon.tolist(),
            "lat_bnds": g.lat_bnds.tolist(), "lon_bnds": g.lon_bnds.tolist()}


def _grid_from_dict(d: dict):
    if d["kind"] == "gridspec":
        d = {k: v for k, v in d.items() if k != "kind"}
        return GridSpec.from_dict(d)
    return AxesGrid(lat=np.array(d["lat"]), lon=np.array(d["lon"]),
                    lat_bnds=np.array(d["lat_bnds"]), lon_bnds=np.array(d["lon_bnds"]))


def save_weightmap(wm, path: str, overwrite: bool = False) -> None:
    """Persist overlaps + manifest.  FileExistsError parity with
    /root/reference/xagg/export.py:20-21; dir removed on failure (:64-66).
    The lineage is the carried poly_table: the write is the only job."""
    if os.path.exists(path):
        if not overwrite:
            raise FileExistsError(f"{path} already exists")
        shutil.rmtree(path)
    try:
        ov_path = os.path.join(path, "overlaps")
        (wm.overlaps.write.mode("overwrite").parquet(ov_path))
        manifest = {
            "version": 2,
            "epsg": wm.epsg,
            "has_weights": wm.has_weights,
            "grid": _grid_dict(wm.grid),
            "poly_digest": _poly_digest(wm.polys),
            "attrs": wm.polys.attrs.to_json(orient="records"),
            "rings": [[r.tolist() for r in poly] for poly in wm.polys.rings],
            "lineage": _lineage(wm.poly_table),
            # build-health counters (VERDICT r3 ask #8): persisted so a
            # regression in projected-quad convexity — which reroutes
            # boundary pixels through per-pixel Python — can't land
            # silently; lat/lon grids must record 0 fallbacks
            "refine_stats": {
                "n_boundary_refined": int(wm.n_boundary_refined),
                "n_nonconvex_fallback": int(wm.n_nonconvex_fallback),
            },
        }
        tmp = os.path.join(path, "_manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(path, "_manifest.json"))
    except Exception:
        shutil.rmtree(path, ignore_errors=True)
        raise


def _lineage(poly_table: pd.DataFrame) -> dict:
    return {"total_rows": int(poly_table["n"].sum()),
            "per_poly": {str(int(r.poly_idx)): {"rows": int(r.n),
                                                "hash": int(r.h)}
                         for r in poly_table.itertuples()}}


def read_wm(spark: SparkSession, path: str):
    """Reload a persisted weightmap (reference read_wm, core.py:30-98);
    ValueError names a polygon whose recomputed poly_table row differs."""
    from ..operators.overlaps import WeightMap, poly_table_of
    with open(os.path.join(path, "_manifest.json")) as f:
        man = json.load(f)
    if man.get("version") != 2:
        raise ValueError(f"weightmap at {path} has manifest version "
                         f"{man.get('version')!r}; this build reads version "
                         "2 — rebuild and save it again")
    overlaps = spark.read.parquet(os.path.join(path, "overlaps"))
    rings = [[np.array(r) for r in poly] for poly in man["rings"]]
    from io import StringIO
    attrs = (pd.read_json(StringIO(man["attrs"]), orient="records")
             if man["rings"] else pd.DataFrame())
    if "poly_idx" in attrs.columns:
        attrs = attrs.drop(columns=["poly_idx"])
    polys = PolygonSet(rings, attrs)
    poly_table = poly_table_of(overlaps)
    got, want = _lineage(poly_table), man["lineage"]
    for p in sorted(set(got["per_poly"]) | set(want["per_poly"]), key=int):
        g, w = got["per_poly"].get(p), want["per_poly"].get(p)
        if g != w:
            raise ValueError(f"weightmap at {path} is corrupt: polygon {p} "
                             f"reads {g} but the manifest recorded {w}")
    if got != want:
        raise ValueError(f"weightmap at {path} is corrupt: {got['total_rows']}"
                         f" rows vs {want['total_rows']} in manifest")
    rs = man.get("refine_stats", {})
    return WeightMap(overlaps=overlaps, polys=polys,
                     grid=_grid_from_dict(man["grid"]), epsg=man["epsg"],
                     poly_table=poly_table, has_weights=man["has_weights"],
                     n_boundary_refined=int(rs.get("n_boundary_refined", 0)),
                     n_nonconvex_fallback=int(rs.get("n_nonconvex_fallback", 0)))


def read_wm_xagg(spark: SparkSession, path: str):
    """Import the REFERENCE's exported weightmap directory (written by
    xagg's ``wm.to_file()`` — /root/reference/xagg/export.py:13-68, read
    back by /root/reference/xagg/core.py:30-98):

      <path>/<name>.shp            polygon geometry (+ .dbf attributes)
      <path>/<name>_lat.nc, _lon.nc   source grid, stacked 'loc' arrays
      <path>/<name>_weights.csv    optional additional weights ('weights')
      <path>/<name>.h5             the agg table (pandas HDF5)

    The .h5 agg needs pytables and HDF5-based .nc files need netCDF4 —
    neither exists in this environment.  The loader reads everything it
    can without them (shapefile via io.vector, classic-format .nc via the
    engine's own io.netcdf3 codec, weights CSV) and, when the agg itself
    is unreadable, RECOMPUTES the overlap table with pixel_overlaps on the
    imported grid + geometry — equivalent output, since the agg stores
    derived overlap data.
    """
    import re as _re
    import warnings

    from ..grid import AxesGrid
    from ..operators.overlaps import pixel_overlaps
    from .vector import read_shp

    fn = _re.split("/", path.rstrip("/"))[-1]
    polys = read_shp(os.path.join(path, f"{fn}.shp"))

    axes, locv = {}, {}
    for k in ("lat", "lon"):
        ncp = os.path.join(path, f"{fn}_{k}.nc")
        try:
            from .netcdf3 import read_netcdf3
            _, variables, _ = read_netcdf3(ncp)
        except ValueError as e:
            raise NotImplementedError(
                f"{ncp} is not NetCDF3 classic (likely NetCDF4/HDF5, which "
                f"needs the netCDF4 lib): {e}") from e
        vname = f"{k}v" if f"{k}v" in variables else k
        locv[k] = np.asarray(variables[vname][1], dtype=np.float64)
        axes[k] = np.unique(locv[k])       # stacked loc -> sorted axis
    grid = AxesGrid(lat=axes["lat"], lon=axes["lon"]).with_bounds()

    # loc index k (row order of the stacked vectors — also the row order of
    # the weights CSV and the agg's pix_idxs) -> pix_idx on the rebuilt
    # ascending grid.  The reference's own exporter runs fix_ds (ascending
    # sort) before stacking (/root/reference/xagg/core.py:314,344), so for
    # its files this is the identity; a foreign export with native
    # (e.g. descending-lat) axis order is remapped instead of silently
    # attaching weights/overlaps to the wrong pixels.
    pix_of_loc = (np.searchsorted(axes["lat"], locv["lat"]).astype(np.int64)
                  * len(axes["lon"])
                  + np.searchsorted(axes["lon"], locv["lon"]).astype(np.int64))

    weights_pdf = None
    wcsv = os.path.join(path, f"{fn}_weights.csv")
    if os.path.exists(wcsv):
        w = pd.read_csv(wcsv)["weights"].astype(np.float64).to_numpy()
        if len(w) != len(pix_of_loc):
            raise ValueError(
                f"{wcsv} has {len(w)} rows but the exported grid has "
                f"{len(pix_of_loc)} stacked locations")
        weights_pdf = pd.DataFrame({"pix_idx": pix_of_loc, "weight": w})

    h5 = os.path.join(path, f"{fn}.h5")
    if os.path.exists(h5):
        try:
            agg = pd.read_hdf(h5, "wm")
            return _wm_from_agg(spark, agg, polys, grid, weights_pdf,
                                pix_of_loc=pix_of_loc)
        except ImportError:
            warnings.warn(f"{h5} needs pytables (absent); recomputing the "
                          "overlap table from the imported grid + geometry")
    return pixel_overlaps(spark, grid, polys, weights_pdf=weights_pdf)


def _wm_from_agg(spark, agg: pd.DataFrame, polys, grid, weights_pdf,
                 pix_of_loc=None):
    """Rebuild the long overlap table from the reference's list-valued agg
    frame (columns rel_area / pix_idxs / coords per poly_idx).  The agg's
    pix_idxs are loc indices in the export's stacked order; ``pix_of_loc``
    remaps them onto the rebuilt ascending grid (identity for files the
    reference itself wrote)."""
    from ..operators.overlaps import WeightMap, poly_table_of

    rows = {"poly_idx": [], "pix_idx": [], "lat": [], "lon": [], "rel_area": []}
    for r in agg.itertuples():
        pix = np.atleast_1d(np.squeeze(np.asarray(r.pix_idxs)))
        if pix_of_loc is not None:
            pix = np.asarray(pix_of_loc)[pix.astype(np.int64)]
        rel = np.atleast_1d(np.squeeze(np.asarray(r.rel_area)))
        coords = np.asarray(list(r.coords), dtype=np.float64).reshape(-1, 2)
        rows["poly_idx"].append(np.full(len(pix), int(r.poly_idx), np.int64))
        rows["pix_idx"].append(pix.astype(np.int64))
        rows["lat"].append(coords[:, 0])
        rows["lon"].append(coords[:, 1])
        rows["rel_area"].append(rel.astype(np.float64))
    pdf = pd.DataFrame({k: np.concatenate(v) for k, v in rows.items()})
    if weights_pdf is not None:
        pdf = pdf.merge(weights_pdf, on="pix_idx", how="left")
        pdf["weight"] = pdf["weight"].fillna(0.0)
    overlaps = spark.createDataFrame(pdf).localCheckpoint(eager=True)
    return WeightMap(overlaps=overlaps, polys=polys, grid=grid,
                     epsg=polys.pick_epsg(),
                     poly_table=poly_table_of(overlaps),
                     has_weights=weights_pdf is not None, _blocks=[overlaps])


# ---------------------------------------------------------------------------
# resumable weightmap build
# ---------------------------------------------------------------------------

def _build_key(grid, polys: PolygonSet, n_buckets: int, weights_pdf) -> str:
    """Digest of everything that decides a bucket's rows: the rings, the
    grid, the bucket count and the additional weight grid."""
    w = (None if weights_pdf is None else hashlib.sha256(
        pd.util.hash_pandas_object(weights_pdf[["pix_idx", "weight"]],
                                   index=False).to_numpy()).hexdigest())
    return hashlib.sha256(json.dumps([_poly_digest(polys), _grid_dict(grid),
                                      n_buckets, w]).encode()).hexdigest()


def _read_marker(part: str, key: str) -> dict | None:
    """The bucket directory's marker if it carries ``key`` and the row
    total of the bucket's parquet footers (read on the driver, no Spark
    job) equals its ``rows``; else None: the bucket is pending."""
    import pyarrow.parquet as pq
    try:
        with open(os.path.join(part, "_COMMIT.json")) as f:
            marker = json.load(f)
        rows = sum(pq.read_metadata(os.path.join(part, name)).num_rows
                   for name in os.listdir(part)
                   if not name.startswith(("_", ".")))
    except (OSError, ValueError):
        return None
    ok = marker.get("key") == key and marker.get("rows") == rows
    return marker if ok else None


def resume_pixel_overlaps(spark: SparkSession, grid, polys: PolygonSet,
                          checkpoint: str, n_buckets: int = 16,
                          weights_pdf=None, _fail_after=None,
                          wave_size: int = 4):
    """Build the weightmap in pixel-bucket units, committing each bucket's
    overlap rows atomically.  On restart, committed buckets load from
    parquet; only pending buckets recompute.

    Bucket = pix_idx % n_buckets: purely data-derived, so the same pixel
    lands in the same bucket at any parallelism (determinism rule).
    `_fail_after` kills the job after k buckets (test hook for the
    kill/resume scenario).

    The cover is prepared ONCE per run (_overlap_prep).  Pending buckets
    run in WAVES of ``wave_size``: one parquet write per wave computes
    the wave's raw areas (single pixel scan, single cover broadcast)
    ``partitionBy(bucket)`` into a tmp dir, and an Observation on that
    write counts each bucket's rows and area sum.  Each bucket directory
    is then committed alone: atomic rename (an empty bucket gets an empty
    directory), then its ``_COMMIT.json`` marker, the only record a
    resume reads.  The marker holds the build key (rings, grid,
    ``n_buckets``, weights), the row count and area sum and, on a wave's
    last bucket, the wave's refine counters.  A bucket whose marker is
    missing, carries another key, or disagrees with the row total of the
    bucket's parquet footers is pending and its directory replaced.
    ``wave_size`` trades fixed-cost amortization against kill-loss
    granularity; 1 reproduces the per-bucket shape.

    Returns (WeightMap, n_buckets_computed_this_run).
    """
    import glob

    from pyspark.sql import Observation

    from ..operators.overlaps import (_finish_weightmap, _overlap_core,
                                      _overlap_prep, pixel_geometry)
    from ..session import free_local_checkpoint

    os.makedirs(checkpoint, exist_ok=True)
    key = _build_key(grid, polys, n_buckets, weights_pdf)
    parts = [os.path.join(checkpoint, f"bucket={b}") for b in range(n_buckets)]
    markers = [_read_marker(part, key) for part in parts]
    pending = [b for b in range(n_buckets) if markers[b] is None]
    if _fail_after is not None:
        # the kill hook claims at most this many buckets, then dies — but
        # only if there actually was more work than the budget (a resume
        # with fewer pending buckets than the kill threshold completes)
        killed = _fail_after < len(pending)
        pending = pending[:_fail_after]
    else:
        killed = False
    pixels_all = pixel_geometry(spark, grid, weights_pdf=weights_pdf)
    prep = _overlap_prep(spark, grid, polys) if pending else None
    epsg = polys.pick_epsg()

    # a wave whose buckets ALL had zero overlap rows writes no parquet
    # files, and schema inference of such a read throws: the stitch reads
    # with the declared schema, so marker-only buckets read as zero rows
    _bucket_ddl = ("poly_idx long, pix_idx long, lat double, lon double, "
                   "area double"
                   + (", weight double" if weights_pdf is not None else ""))

    waves = [pending[w0:w0 + max(wave_size, 1)]
             for w0 in range(0, len(pending), max(wave_size, 1))]

    def _run_wave(wi: int, wave) -> tuple:
        """Compute + write one wave.  Waves hold disjoint buckets, so two
        run at once (guide §2.6): the second's tasks back-fill the first's
        write tail.  Commits happen in wave order on the calling thread,
        so a kill loses at most the (<= 2) in-flight uncommitted waves."""
        tmpdir = os.path.join(checkpoint, f"_wave{wi}.tmp")
        shutil.rmtree(tmpdir, ignore_errors=True)
        bucket = F.pmod(F.col("pix_idx"), F.lit(n_buckets))
        pix_w = pixels_all.filter(bucket.isin([int(b) for b in wave]))
        raw, accs = _overlap_core(spark, grid, polys, pix_w, prep, epsg)
        obs = Observation()
        stats = [m for b in wave for m in (
            F.count(F.when(F.col("bucket") == b, 1)).alias(f"n{b}"),
            F.sum(F.when(F.col("bucket") == b, F.col("area"))).alias(f"a{b}"))]
        (raw.withColumn("bucket", bucket).observe(obs, *stats)
            .write.partitionBy("bucket").mode("overwrite").parquet(tmpdir))
        # the write materialized the lazy core: the refine accumulators
        # are valid only now.  They are persisted in the wave's LAST
        # bucket's marker alone (a mid-wave kill recomputes the tail
        # buckets without double-counting), so a kill or a bucket
        # recomputed alone leaves them a LOWER bound; task retries can
        # overcount them — diagnostic, not lineage
        return tmpdir, obs.get, int(accs[0].value), int(accs[1].value)

    pool = ThreadPoolExecutor(max_workers=2)
    futures = [pool.submit(_run_wave, wi, wave)
               for wi, wave in enumerate(waves)]
    try:
        for wave, future in zip(waves, futures):
            tmpdir, stats, wave_nb, wave_nc = future.result()
            for b in wave:
                part = parts[b]
                shutil.rmtree(part, ignore_errors=True)
                src = os.path.join(tmpdir, f"bucket={b}")
                if os.path.exists(src):
                    os.rename(src, part)
                else:                      # no overlap rows: marker only
                    os.makedirs(part)
                markers[b] = {"key": key, "rows": int(stats[f"n{b}"]),
                              "area_sum": float(stats[f"a{b}"] or 0.0)}
                if b == wave[-1]:
                    markers[b].update(n_boundary_refined=wave_nb,
                                      n_nonconvex_fallback=wave_nc)
                # the marker LAST: a directory without it is not committed
                with open(os.path.join(part, "_COMMIT.json"), "w") as f:
                    json.dump(markers[b], f)
            shutil.rmtree(tmpdir, ignore_errors=True)
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
        if prep is not None:          # every wave has read the cover
            free_local_checkpoint(prep[1])
    # a crash between a wave's bucket commits and its rmtree above leaves
    # _wave<i>.tmp behind; a later resume with ZERO pending buckets never
    # enters the wave loop, so clean up unconditionally here — the stale
    # wave data can be GBs at scale (ADVICE r4)
    for stale in glob.glob(os.path.join(checkpoint, "_wave*.tmp")):
        shutil.rmtree(stale, ignore_errors=True)
    if killed:
        raise RuntimeError(f"simulated failure after {len(pending)} "
                           "buckets")

    # stitch: buckets hold RAW clip areas; normalize globally per polygon
    # with the same finish step as pixel_overlaps (exact A1 semantics), over
    # the persisted bucket read; the refine counters are the sum over the
    # markers (possibly written across several kill/resume runs)
    dfs = spark.read.schema(_bucket_ddl).parquet(*parts).persist()
    n_boundary, n_nonconvex = (sum(m.get(c, 0) for m in markers) for c in
                               ("n_boundary_refined", "n_nonconvex_fallback"))
    return _finish_weightmap(spark, [dfs], polys, grid, epsg, n_boundary,
                             n_nonconvex), len(pending)
