"""Round-2 geometry fixes, each verified against an INDEPENDENT computation:

1. Polar LAEA refine uses the true projected 4-corner pixel quad (not an
   axis-aligned box from two corners, which is 10-19% wrong per pixel at
   70N) — checked by dense deterministic sampling in projected space.
2. Anisotropic grids (dlat >> dlon) cap the cell resolution per axis so the
   1-ring-dilated cover never drops an overlapping pixel — checked against
   the closed-form lon/lat rect-rect intersection set.
3. Polygons with holes subtract the hole area (reference GEOS semantics,
   /root/reference/xagg/core.py:488-497) — checked against closed-form CEA
   rect algebra (exterior minus hole).
"""

import numpy as np
import pandas as pd
import pytest

from xagg_spark.geo import ellipsoid as _ell
from xagg_spark.geo.clip import rect_rect_overlap_area_cea
from xagg_spark.grid import GridSpec
from xagg_spark.operators.overlaps import (_overlap_core, _overlap_prep,
                                           pixel_geometry, pixel_overlaps)
from xagg_spark.polygons import PolygonSet, rect_ring


def _sample_overlap_area(quad, rings_prj, n=1200):
    """Independent overlap-area estimate: uniform deterministic grid over
    the quad's bbox, even-odd PIP against quad and polygon implemented
    inline (no xagg_spark.geo.clip involvement)."""
    bx0, bx1 = quad[:, 0].min(), quad[:, 0].max()
    by0, by1 = quad[:, 1].min(), quad[:, 1].max()
    xs = bx0 + (np.arange(n) + 0.5) / n * (bx1 - bx0)
    ys = by0 + (np.arange(n) + 0.5) / n * (by1 - by0)
    PX, PY = np.meshgrid(xs, ys, indexing="ij")
    px, py = PX.ravel(), PY.ravel()

    def pip(rings, px, py):
        inside = np.zeros(len(px), dtype=np.int64)
        for r in rings:
            x0, y0 = r[:, 0], r[:, 1]
            x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
            for k in range(len(r)):
                cross = (y0[k] > py) != (y1[k] > py)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xi = x0[k] + (py - y0[k]) * (x1[k] - x0[k]) / (y1[k] - y0[k])
                inside += (cross & (xi > px)).astype(np.int64)
        return (inside % 2).astype(bool)

    in_quad = pip([quad], px, py)
    in_poly = pip(rings_prj, px, py)
    frac = (in_quad & in_poly).sum() / len(px)
    return frac * (bx1 - bx0) * (by1 - by0)


@pytest.fixture(scope="module")
def polar_wm(spark):
    # strictly-northern pentagon at 65-75N -> EPSG:6931 (north LAEA)
    ring = np.array([[12.0, 66.0], [27.0, 67.5], [24.0, 74.0],
                     [17.0, 72.5], [10.5, 71.0]])
    polys = PolygonSet([ring], pd.DataFrame({"name": ["arctic"]}))
    grid = GridSpec(lat_edge=60.0, lon_edge=0.0, dlat=1.0, dlon=1.0,
                    nlat=20, nlon=40, tile_h=10, tile_w=10)
    wm = pixel_overlaps(spark, grid, polys)
    return wm, polys, grid


def test_polar_quad_areas_match_sampling(polar_wm):
    wm, polys, grid = polar_wm
    assert wm.epsg == _ell.EPSG_NORTH
    pdf = wm.overlaps.toPandas().sort_values("pix_idx").reset_index(drop=True)
    assert len(pdf) > 20
    # reconstruct raw areas from rel_area (sum over polygon is 1)
    rings_prj = []
    for r in polys.rings[0]:
        x, y = _ell.forward(r[:, 0], r[:, 1], _ell.EPSG_NORTH)
        rings_prj.append(np.stack([x, y], axis=1))
    sampled, engine_rel = [], []
    for _, row in pdf.iterrows():
        iy, ix = int(row.pix_idx) // grid.nlon, int(row.pix_idx) % grid.nlon
        lon0, lon1 = 0.0 + ix * 1.0, 0.0 + (ix + 1) * 1.0
        lat0, lat1 = 60.0 + iy * 1.0, 60.0 + (iy + 1) * 1.0
        cs = np.array([[lon0, lat0], [lon1, lat0], [lon1, lat1], [lon0, lat1]])
        qx, qy = _ell.forward(cs[:, 0], cs[:, 1], _ell.EPSG_NORTH)
        quad = np.stack([qx, qy], axis=1)
        sampled.append(_sample_overlap_area(quad, rings_prj))
        engine_rel.append(row.rel_area)
    sampled = np.asarray(sampled)
    engine_rel = np.asarray(engine_rel)
    rel_sampled = sampled / sampled.sum()
    # pixel quad area ~1e10 m^2 here; sampling noise << 1% of a pixel.
    # The pre-fix axis-aligned box was 10-19% wrong per boundary pixel.
    np.testing.assert_allclose(engine_rel, rel_sampled,
                               rtol=0, atol=0.005 * rel_sampled.max())
    assert abs(engine_rel.sum() - 1.0) < 1e-9


def test_polar_interior_uses_jvm_fast_path(spark):
    """The unified full/edge split must hold for polar CRSes too: with a
    grid fine enough that safe-interior cells exist, the optimized plan
    keeps the Union of a JVM closed-form branch and ONE MapInPandas branch
    (interior pixels never cross into Python).  On the coarse fixture above
    Catalyst folds the empty full-branch away — equally fine."""
    ring = np.array([[12.0, 66.0], [27.0, 67.5], [24.0, 74.0],
                     [17.0, 72.5], [10.5, 71.0]])
    polys = PolygonSet([ring], pd.DataFrame({"name": ["arctic"]}))
    grid = GridSpec(lat_edge=60.0, lon_edge=0.0, dlat=0.25, dlon=0.25,
                    nlat=80, nlon=160, tile_h=10, tile_w=10)
    # the lazy overlap core keeps the logical plan visible (the finished
    # WeightMap local-checkpoints into a LogicalRDD, hiding the operator
    # tree)
    assert polys.pick_epsg() == _ell.EPSG_NORTH
    raw, _ = _overlap_core(spark, grid, polys, pixel_geometry(spark, grid),
                           _overlap_prep(spark, grid, polys),
                           _ell.EPSG_NORTH)
    plan = raw._jdf.queryExecution().optimizedPlan().toString()
    # assert the Union survived the optimizer (i.e. the full branch is
    # non-empty) and the closed-form area expression is JVM-side (SIN/LOG
    # column expressions in the plan, not Python)
    assert "Union" in plan
    assert "MapInPandas" in plan
    assert "SIN(RADIANS(" in plan
    # and interior really is the bulk: full cells exist in the cover
    cover = polys.cell_cover_classified(9)
    assert cover["full"].sum() > 0


def test_anisotropic_grid_capture(spark):
    """dlat=2, dlon=0.5: the old min-axis res pick could leave an
    overlapping pixel's center cell 2 rows outside the dilated cover."""
    grid = GridSpec(lat_edge=-40.0, lon_edge=-20.0, dlat=2.0, dlon=0.5,
                    nlat=40, nlon=80, tile_h=10, tile_w=10)
    # polygon deliberately offset so pixel centers sit far from its edges
    polys = PolygonSet([rect_ring(-9.9, -25.9, 6.3, 8.7)],
                       pd.DataFrame({"name": ["tall"]}))
    wm = pixel_overlaps(spark, grid, polys)
    got = set(wm.overlaps.select("pix_idx").toPandas()["pix_idx"])
    # expected: every pixel whose lon/lat rect strictly intersects the rect
    exp = set()
    for iy in range(grid.nlat):
        for ix in range(grid.nlon):
            lat0, lat1 = -40.0 + iy * 2.0, -40.0 + (iy + 1) * 2.0
            lon0, lon1 = -20.0 + ix * 0.5, -20.0 + (ix + 1) * 0.5
            if lon1 > -9.9 and lon0 < 6.3 and lat1 > -25.9 and lat0 < 8.7:
                exp.add(iy * grid.nlon + ix)
    assert got == exp
    # values: closed-form CEA rect-rect algebra (independent of the UDF)
    pdf = wm.overlaps.toPandas().sort_values("pix_idx")
    iy = pdf.pix_idx.to_numpy() // grid.nlon
    ix = pdf.pix_idx.to_numpy() % grid.nlon
    areas = rect_rect_overlap_area_cea(
        -20.0 + ix * 0.5, -40.0 + iy * 2.0,
        -20.0 + (ix + 1) * 0.5, -40.0 + (iy + 1) * 2.0,
        -9.9, -25.9, 6.3, 8.7)
    np.testing.assert_allclose(pdf.rel_area.to_numpy(), areas / areas.sum(),
                               rtol=1e-9, atol=0)


def test_polygon_with_hole(spark):
    """Donut polygon: hole area subtracted; pixels fully inside the hole
    absent.  Hole supplied in the SAME orientation as the exterior — the
    depth-parity classifier must still detect it."""
    grid = GridSpec(lat_edge=-6.0, lon_edge=-2.0, dlat=0.5, dlon=0.5,
                    nlat=24, nlon=32, tile_h=12, tile_w=16)
    ext = rect_ring(0.0, -4.0, 10.0, 4.0)
    hole = rect_ring(3.1, -2.3, 6.9, 1.7)          # CCW, same as exterior
    polys = PolygonSet([[ext, hole]], pd.DataFrame({"name": ["donut"]}))
    assert polys.ring_signs()[0] == [1.0, -1.0]
    wm = pixel_overlaps(spark, grid, polys)
    pdf = wm.overlaps.toPandas().sort_values("pix_idx")
    iy = pdf.pix_idx.to_numpy() // grid.nlon
    ix = pdf.pix_idx.to_numpy() % grid.nlon
    plat0 = -6.0 + iy * 0.5
    plon0 = -2.0 + ix * 0.5
    a_ext = rect_rect_overlap_area_cea(plon0, plat0, plon0 + 0.5, plat0 + 0.5,
                                       0.0, -4.0, 10.0, 4.0)
    a_hole = rect_rect_overlap_area_cea(plon0, plat0, plon0 + 0.5, plat0 + 0.5,
                                        3.1, -2.3, 6.9, 1.7)
    exp = a_ext - a_hole
    np.testing.assert_allclose(pdf.rel_area.to_numpy(), exp / exp.sum(),
                               rtol=1e-9, atol=1e-12)
    # pixels strictly inside the hole contribute nothing
    inside_hole = ((plon0 >= 3.1) & (plon0 + 0.5 <= 6.9) &
                   (plat0 >= -2.3) & (plat0 + 0.5 <= 1.7) &
                   (exp <= 0))
    assert not inside_hole.any()
    assert abs(pdf.rel_area.sum() - 1.0) < 1e-9


def test_multipolygon_parts_still_additive(spark):
    """Two disjoint parts (no holes): both depth-0 -> signs +1, areas add."""
    grid = GridSpec(lat_edge=-6.0, lon_edge=-2.0, dlat=0.5, dlon=0.5,
                    nlat=24, nlon=32, tile_h=12, tile_w=16)
    p1 = rect_ring(0.2, -3.2, 2.8, 0.9)
    p2 = rect_ring(6.1, 0.3, 9.4, 3.8)
    polys = PolygonSet([[p1, p2]], pd.DataFrame({"name": ["pair"]}))
    assert polys.ring_signs()[0] == [1.0, 1.0]
    wm = pixel_overlaps(spark, grid, polys)
    pdf = wm.overlaps.toPandas().sort_values("pix_idx")
    iy = pdf.pix_idx.to_numpy() // grid.nlon
    ix = pdf.pix_idx.to_numpy() % grid.nlon
    plat0 = -6.0 + iy * 0.5
    plon0 = -2.0 + ix * 0.5
    exp = (rect_rect_overlap_area_cea(plon0, plat0, plon0 + 0.5, plat0 + 0.5,
                                      0.2, -3.2, 2.8, 0.9)
           + rect_rect_overlap_area_cea(plon0, plat0, plon0 + 0.5, plat0 + 0.5,
                                        6.1, 0.3, 9.4, 3.8))
    np.testing.assert_allclose(pdf.rel_area.to_numpy(), exp / exp.sum(),
                               rtol=1e-9, atol=1e-12)


def test_jpeg_tiles_end_to_end(spark):
    """G7 complete: a jpeg tile table decodes through the Spark pipeline and
    aggregates within lossy tolerance of the raw32 ground truth."""
    import pyspark.sql.functions as F

    from xagg_spark.operators import aggregate, pixel_overlaps, tiles_to_pixels
    from xagg_spark.synth import generate_spark

    grid = GridSpec(lat_edge=-4.0, lon_edge=-4.0, dlat=0.5, dlon=0.5,
                    nlat=16, nlon=16, tile_h=8, tile_w=8)
    polys = PolygonSet([rect_ring(-2.3, -2.1, 2.2, 2.4)],
                       pd.DataFrame({"name": ["x"]}))
    wm = pixel_overlaps(spark, grid, polys)
    a = aggregate(tiles_to_pixels(
        generate_spark(spark, grid, ntime=2, fmt="jpeg"), grid), wm) \
        .orderBy("t").toPandas()
    b = aggregate(tiles_to_pixels(
        generate_spark(spark, grid, ntime=2, fmt="raw32"), grid), wm) \
        .orderBy("t").toPandas()
    np.testing.assert_allclose(a["value"], b["value"], rtol=0, atol=0.05)


def test_boundary_refined_counts_overlap_rows(spark):
    """n_boundary_refined counts the overlap rows the boundary clip
    produced, not the candidates sent through it: the dilated-ring
    candidates whose overlap comes out empty are dropped and not counted,
    so on a grid without antimeridian halves it never exceeds n_rows.
    The non-convex fallback count is of the same rows."""
    # a south-polar quad next to the pole: most candidates are boundary
    # ones and many clip to nothing (the candidate count was 1714 for
    # 1420 rows)
    ring = np.array([[-25.0, -89.0], [25.0, -88.0], [20.0, -80.0],
                     [-20.0, -81.0]])
    polys = PolygonSet([ring], pd.DataFrame({"name": ["south"]}))
    grid = GridSpec(lat_edge=-90.0, lon_edge=-30.0, dlat=0.5, dlon=0.5,
                    nlat=60, nlon=120, tile_h=30, tile_w=60)
    wm = pixel_overlaps(spark, grid, polys)
    try:
        assert wm.epsg == _ell.EPSG_SOUTH
        assert 0 < wm.n_boundary_refined <= wm.n_rows
        assert wm.n_nonconvex_fallback <= wm.n_boundary_refined
    finally:
        wm.unpersist()
