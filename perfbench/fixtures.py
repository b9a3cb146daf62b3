"""Seeded fixture generation for the benchmark workloads (the prepare step).

Fixtures are built through the public ``xagg_spark`` API only (``synth``,
``codecs.encode_tile``, ``PolygonSet``), without a Spark session, and cached
under ``perfbench/.cache/<workload>-s<seed>/``.  A cached fixture is used only
after its row count and SHA-256 checksum match the manifest written beside
it; anything else is regenerated.  The seed moves polygon placement, center
placement, the NaN-mask phase and the value salt; sizes never depend on it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

from xagg_spark.codecs import encode_tile
from xagg_spark.grid import GridSpec
from xagg_spark.polygons import PolygonSet, rect_ring
from xagg_spark.synth import image_id, value_fn

# geo: a 0.4-degree grid over [20S..40N] x [40W..80E], 150 x 300 = 45,000
# pixels in 50 tiles of 30 x 30 per timestep.  Pass time is set mostly by
# the engine's per-job costs, not by the data: a 0.2-degree grid with 2x
# the values took about as long per pass, and passes must stay short
# enough for several to fit in one run.
GRID = GridSpec(lat_edge=-20.0, lon_edge=-40.0, dlat=0.4, dlon=0.4,
                nlat=150, nlon=300, tile_h=30, tile_w=30)
# knn: the same domain at 0.375 degrees, 160 x 320 = 51,200 pixels
KNN_GRID = GridSpec(lat_edge=-20.0, lon_edge=-40.0, dlat=0.375, dlon=0.375,
                    nlat=160, nlon=320, tile_h=40, tile_w=40)
VAR = "tas"
NTIME = 4                 # timesteps per tile set: 180,000 pixel values
TILE_FILES = 8            # parquet files, so the decode scan has 8 splits
N_ADMIN = 40              # admin-style polygons of the geo workload
ADMIN_VERTICES = 256
# The kNN cover takes the cluster-built path once even the coarsest
# broadcast resolution needs more than the 1,000,000-row broadcast budget:
# at about 7.5 cells per center there, from about 134,000 centers on.
N_KNN_SMALL = 5_000       # 300,000 cover rows: broadcast cover
N_KNN_LARGE = 140_000     # 1,050,000 cover rows: cluster-built cover
KNN_K = 5
KNN_RADIUS_DEG = 0.7      # first search radius, about two KNN_GRID pixels
KNN_SAMPLE_EVERY = 1000   # q_ids brute-forced by the correctness check

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")


def _spec() -> dict:
    """The sizes a cached fixture was generated with."""
    return {"grid": GRID.to_dict(), "knn_grid": KNN_GRID.to_dict(),
            "ntime": NTIME, "tile_files": TILE_FILES,
            "n_admin": N_ADMIN, "admin_vertices": ADMIN_VERTICES,
            "n_knn": [N_KNN_SMALL, N_KNN_LARGE]}


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def value_salt(seed: int) -> int:
    """Salt passed to ``synth.value_fn`` (which is periodic in it mod 97)."""
    return 1 + seed % 96


def nan_mask(seed: int) -> np.ndarray:
    """Time-invariant (nlat, nlon) land/ocean-style mask, True = NaN
    (about a quarter of the pixels)."""
    r = _rng(seed, 3)
    ph = r.uniform(0.0, 2.0 * np.pi, 2)
    lat = GRID.lat_axis()[:, None]
    lon = GRID.lon_axis()[None, :]
    return (np.sin(np.deg2rad(lon) * 5.0 + ph[0])
            + np.cos(np.deg2rad(lat) * 7.0 + ph[1])) > 0.3


def geo_rings(seed: int) -> list:
    """N_ADMIN non-convex many-vertex rings on a jittered (N_ADMIN / 4) x 4 lattice over
    the domain, like admin boundaries, then one near-whole-domain rectangle
    (the hot-cell skew case of the bench polygons).  Radii and shapes depend
    on the polygon index only; the seed moves centers, phases and edges."""
    r = _rng(seed, 2)
    th = np.arange(ADMIN_VERTICES) * (2.0 * np.pi / ADMIN_VERTICES)
    rings = []
    cols = N_ADMIN // 4
    for i in range(N_ADMIN):
        col, row = i % cols, i // cols
        clon = -36.0 + (col + 0.5) * (116.0 / cols) - 2.9 + r.uniform(-0.8, 0.8)
        clat = -15.0 + row * 13.5 + r.uniform(-0.8, 0.8)
        rad = 1.2 + 0.8 * ((i * 7) % 5) / 4.0
        p1, p2 = r.uniform(0.0, 2.0 * np.pi, 2)
        rr = rad * (1.0 + 0.18 * np.sin(3 * th + p1) + 0.08 * np.sin(11 * th + p2))
        rings.append(np.stack([clon + rr * np.cos(th),
                               clat + 0.8 * rr * np.sin(th)], axis=1))
    e = r.uniform(0.0, 1.0, 2)
    rings.append(rect_ring(-38.0 + e[0], -19.0 + e[1], 78.0 - e[0], 39.0 - e[1]))
    return rings


def polygon_set(rings: list) -> PolygonSet:
    names = [f"adm{i}" for i in range(len(rings) - 1)] + ["domain"]
    return PolygonSet(rings, pd.DataFrame({"name": names}))


def knn_centers(seed: int, n: int, stream: int) -> pd.DataFrame:
    """n query centers uniform over the domain interior (q_id 0..n-1)."""
    r = _rng(seed, stream)
    return pd.DataFrame({"q_id": np.arange(n, dtype=np.int64),
                         "c_lat": r.uniform(-19.0, 39.0, n),
                         "c_lon": r.uniform(-39.0, 79.0, n)})


def _tile_array(seed: int, mask, t: int, ty: int, tx: int) -> np.ndarray:
    iy, ix = GRID.tile_pixel_indices(ty, tx)
    arr = value_fn(ix, iy, t, value_salt(seed))
    if mask is not None:
        arr = np.where(mask[iy, ix], np.float32(np.nan), arr)
    return arr


def quantized_values(seed: int, masked: bool) -> np.ndarray:
    """(NTIME, nlat, nlon) pixel values as the 16-bit PNG format defines
    them: each tile's finite values rounded to 65535 steps over the tile's
    own [min, max] (same float32/float64 steps as the format), NaN where the
    mask is set.  Recomputed from ``synth.value_fn``, not decoded."""
    mask = nan_mask(seed) if masked else None
    out = np.empty((NTIME, GRID.nlat, GRID.nlon), dtype=np.float64)
    for t in range(NTIME):
        for ty in range(GRID.ntiles_y):
            for tx in range(GRID.ntiles_x):
                iy, ix = GRID.tile_pixel_indices(ty, tx)
                arr = _tile_array(seed, mask, t, ty, tx)
                if np.isnan(arr).all():
                    out[t, iy, ix] = np.nan
                    continue
                vmin, vmax = float(np.nanmin(arr)), float(np.nanmax(arr))
                filled = np.where(np.isnan(arr), vmin, arr)
                q = np.round((filled - vmin) / ((vmax - vmin) or 1.0) * 65535.0)
                dec = (q.astype(np.uint16).astype(np.float64) / 65535.0
                       * (vmax - vmin) + vmin).astype(np.float32)
                out[t, iy, ix] = np.where(np.isnan(arr), np.nan, dec)
    return out


def tile_dir(masked: bool) -> str:
    return "tiles_masked" if masked else "tiles_finite"


def _tile_rows(seed: int, masked: bool) -> pd.DataFrame:
    mask = nan_mask(seed) if masked else None
    rows = []
    for t in range(NTIME):
        for ty in range(GRID.ntiles_y):
            for tx in range(GRID.ntiles_x):
                arr = _tile_array(seed, mask, t, ty, tx)
                rows.append((image_id(VAR, t, ty, tx), encode_tile(arr, "png"),
                             int(arr.shape[1]), int(arr.shape[0]), "png"))
    return pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt"])


def _write(workload: str, seed: int, d: str) -> int:
    """Generate the fixture files into d; returns the fixture's row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    if workload == "geo":
        for masked in (False, True):
            pdf = _tile_rows(seed, masked)
            tiles = os.path.join(d, tile_dir(masked))
            os.makedirs(tiles)
            for i, part in enumerate(np.array_split(np.arange(len(pdf)), TILE_FILES)):
                pq.write_table(pa.Table.from_pandas(pdf.iloc[part].reset_index(drop=True),
                                                    preserve_index=False),
                               os.path.join(tiles, f"part-{i:05d}.parquet"))
        rings = geo_rings(seed)
        np.savez(os.path.join(d, "rings.npz"), admin=np.stack(rings[:-1]), domain=rings[-1])
        return 2 * NTIME * GRID.ntiles + len(rings)
    if workload == "knn":
        small = knn_centers(seed, N_KNN_SMALL, 4)
        large = knn_centers(seed, N_KNN_LARGE, 5)
        small.to_parquet(os.path.join(d, "centers_small.parquet"), index=False)
        large.to_parquet(os.path.join(d, "centers_large.parquet"), index=False)
        return len(small) + len(large)
    raise ValueError(f"unknown workload {workload!r}")


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(d)):
        dirs.sort()
        for f in sorted(files):
            if f == "manifest.json":
                continue
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _rows(workload: str, d: str) -> int:
    import pyarrow.parquet as pq
    if workload == "geo":
        return (sum(pq.ParquetFile(os.path.join(d, t, f)).metadata.num_rows
                    for t in (tile_dir(False), tile_dir(True))
                    for f in os.listdir(os.path.join(d, t)))
                + len(load_rings(d)))
    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
               for f in ("centers_small.parquet", "centers_large.parquet"))


def load_rings(d: str) -> list:
    with np.load(os.path.join(d, "rings.npz")) as z:
        return list(z["admin"]) + [z["domain"]]


def prepare(workload: str, seed: int) -> str:
    """Return the directory of the verified fixture for (workload, seed),
    generating it first if the cache is missing or fails verification."""
    d = os.path.join(CACHE, f"{workload}-s{seed}")
    man = os.path.join(d, "manifest.json")
    try:
        with open(man) as f:
            m = json.load(f)
        if (m["spec"] == _spec() and m["rows"] == _rows(workload, d)
                and m["sha256"] == _digest(d)):
            return d
    except (OSError, ValueError, KeyError):
        pass
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = _write(workload, seed, tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "spec": _spec(), "rows": rows,
                   "sha256": _digest(tmp)}, f)
    os.replace(tmp, d)
    return d
