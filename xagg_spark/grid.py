"""GridSpec: the deterministic georeferencing manifest for tiled rasters.

The reference gets its grid from NetCDF coordinates
(/root/reference/xagg/auxfuncs.py:201-312 canonicalization, :315-509 bounds).
Here the raster arrives as image tiles (input_hint), so the grid is declared
by a small manifest object: every tile's pixel centers/bounds derive from
(tile_y, tile_x) by exact arithmetic — ids and assignments never depend on
partition order (determinism rule).

``pix_idx`` matches the reference's ``stack(loc=('lat','lon'))`` linear index
(lat-major over ascending axes, /root/reference/xagg/core.py:341-344).
"""

from __future__ import annotations

from dataclasses import dataclass, asdict

import numpy as np

from .geo.bounds import synth_bounds


@dataclass(frozen=True)
class GridSpec:
    """Regular lat/lon grid split into tile_h x tile_w image tiles.

    lat_edge/lon_edge are the *south/west edges* of the grid; pixel centers
    are edge + (i + 0.5) * step.  Use binary-exact steps (0.25, 0.5, 1.0)
    so Spark, numpy and DuckDB all compute identical doubles.
    """
    lat_edge: float
    lon_edge: float
    dlat: float
    dlon: float
    nlat: int
    nlon: int
    tile_h: int
    tile_w: int

    @property
    def ntiles_y(self) -> int:
        return (self.nlat + self.tile_h - 1) // self.tile_h

    @property
    def ntiles_x(self) -> int:
        return (self.nlon + self.tile_w - 1) // self.tile_w

    @property
    def ntiles(self) -> int:
        return self.ntiles_y * self.ntiles_x

    def lat_center(self, iy):
        return self.lat_edge + (np.asarray(iy, dtype=np.float64) + 0.5) * self.dlat

    def lon_center(self, ix):
        return self.lon_edge + (np.asarray(ix, dtype=np.float64) + 0.5) * self.dlon

    def lat_axis(self) -> np.ndarray:
        return self.lat_center(np.arange(self.nlat))

    def lon_axis(self) -> np.ndarray:
        return self.lon_center(np.arange(self.nlon))

    def pix_idx(self, iy, ix):
        """Linear loc index, lat-major (reference stack(loc=('lat','lon')))."""
        return (np.asarray(iy, dtype=np.int64) * self.nlon
                + np.asarray(ix, dtype=np.int64))

    def tile_pixel_indices(self, ty: int, tx: int):
        """(iy, ix) integer meshgrids for one tile (may be edge-clipped)."""
        iy0, ix0 = ty * self.tile_h, tx * self.tile_w
        iys = np.arange(iy0, min(iy0 + self.tile_h, self.nlat))
        ixs = np.arange(ix0, min(ix0 + self.tile_w, self.nlon))
        return np.meshgrid(iys, ixs, indexing="ij")

    def bounds_lat(self) -> np.ndarray:
        """Per-row pixel bounds via the reference get_bnds semantics.

        For a regular grid this equals center +- dlat/2 (with +-90 clamping),
        but going through synth_bounds keeps parity with irregular axes."""
        return synth_bounds(self.lat_axis(), is_lon=False)

    def bounds_lon(self) -> np.ndarray:
        return synth_bounds(self.lon_axis(), is_lon=True)

    def with_bounds(self) -> "AxesGrid":
        """The grid as a bounded AxesGrid (get_bnds semantics, lat bounds
        clamped at +-90) — the one GridSpec -> axes conversion."""
        return AxesGrid(self.lat_axis(), self.lon_axis()).with_bounds()

    def to_dict(self) -> dict:
        return asdict(self)

    @staticmethod
    def from_dict(d: dict) -> "GridSpec":
        return GridSpec(**d)


@dataclass(frozen=True)
class AxesGrid:
    """Arbitrary (possibly irregular) 1-D axes grid — the parity path that
    mirrors the reference's xarray coordinate handling exactly."""
    lat: np.ndarray
    lon: np.ndarray
    lat_bnds: np.ndarray | None = None
    lon_bnds: np.ndarray | None = None

    def canonical(self) -> "AxesGrid":
        """fix_ds semantics (/root/reference/xagg/auxfuncs.py:287-309): wrap
        lons 0:360 -> -180:180, sort both axes ascending.  Provided bounds are
        wrapped and re-ordered with their axes."""
        from .geo.bounds import canonicalize_axis, wrap_lon
        lat, lat_ord = canonicalize_axis(self.lat, is_lon=False)
        lon, lon_ord = canonicalize_axis(self.lon, is_lon=True)
        lat_b = self.lat_bnds[lat_ord] if self.lat_bnds is not None else None
        lon_b = self.lon_bnds
        if lon_b is not None:
            if np.asarray(self.lon).max() > 180.0:
                lon_b = wrap_lon(lon_b)
            lon_b = lon_b[lon_ord]
        return AxesGrid(lat, lon, lat_b, lon_b)

    def with_bounds(self) -> "AxesGrid":
        g = self.canonical()
        lat_b = g.lat_bnds if g.lat_bnds is not None else synth_bounds(g.lat, False)
        lon_b = g.lon_bnds if g.lon_bnds is not None else synth_bounds(g.lon, True)
        return AxesGrid(g.lat, g.lon, lat_b, lon_b)

    @property
    def nlat(self) -> int:
        return len(self.lat)

    @property
    def nlon(self) -> int:
        return len(self.lon)

    def pix_idx(self, iy, ix):
        return np.asarray(iy, dtype=np.int64) * self.nlon + np.asarray(ix, dtype=np.int64)
