"""Pure-numpy geo math vs the reference's golden values.

Golden cases lifted from /root/reference/tests/test_auxfuncs.py and
/root/reference/tests/test_core.py (values only — implementation is new).
"""

import numpy as np
import pytest

from xagg_spark.geo import (canonicalize_axis, cea_band_area, clip_area,
                            cover_bbox, cover_polygon_classified,
                            crosses_antimeridian,
                            forward, pick_epsg, rect_rect_overlap_area_cea,
                            synth_bounds, wrap_lon)


def test_wrap_lon():
    # fix_ds: 0:360 -> -180:180 (/root/reference/tests/test_auxfuncs.py:68-82)
    assert np.allclose(wrap_lon(np.array([0, 179, 180, 181])), [0, 179, -180, -179])


def test_canonicalize_sorts_after_wrap():
    # unsorted + 0:360 (/root/reference/tests/test_auxfuncs.py:84-96)
    lons, order = canonicalize_axis(np.array([0.0, 179.0, 180.0, 181.0]), is_lon=True)
    assert np.allclose(lons, [-180, -179, 0, 179])
    assert list(order) == [2, 3, 0, 1]
    # idempotent
    lons2, order2 = canonicalize_axis(lons, is_lon=True)
    assert np.allclose(lons2, lons) and list(order2) == [0, 1, 2, 3]


def test_bnds_basic():
    # /root/reference/tests/test_auxfuncs.py:131-142
    b = synth_bounds(np.array([0.0, 1.0, 2.0]), is_lon=False)
    assert np.allclose(b, [[-0.5, 0.5], [0.5, 1.5], [1.5, 2.5]])
    b = synth_bounds(np.array([0.0, 1.0, 2.0]), is_lon=True)
    assert np.allclose(b, [[-0.5, 0.5], [0.5, 1.5], [1.5, 2.5]])


def test_bnds_badlons():
    with pytest.raises(ValueError):
        synth_bounds(np.array([180.0, 181.0, 182.0]), is_lon=True)


def test_bnds_fullgrid():
    # /root/reference/tests/test_auxfuncs.py:145-158
    lat = np.arange(-89.5, 89.51)
    lon = np.arange(-179.5, 179.51)
    assert np.allclose(synth_bounds(lat, False),
                       np.stack([np.arange(-90, 89.91), np.arange(-89, 90.1)], axis=1))
    assert np.allclose(synth_bounds(lon, True),
                       np.stack([np.arange(-180, 179.01), np.arange(-179, 180.01)], axis=1))


def test_bnds_truncated_lats_and_wrapped_lon0():
    # /root/reference/tests/test_auxfuncs.py:160-175
    lat_b = synth_bounds(np.arange(-90, 90.01), False)
    assert lat_b[0, 0] == -90 and lat_b[-1, -1] == 90
    assert np.allclose(lat_b[1], [-89.5, -88.5])
    lon_b = synth_bounds(np.arange(-180, 179.01), True)
    assert lon_b[0, 0] == 179.5 and np.allclose(lon_b[0, 1], -179.5)
    assert np.allclose(lon_b[-1], [178.5, 179.5])


def test_bnds_partialgrid_nowrap():
    # /root/reference/tests/test_auxfuncs.py:177-191
    lon_b = synth_bounds(np.arange(-179.5, 177.51), True)
    assert np.allclose(lon_b, np.stack([np.arange(-180, 177.01),
                                        np.arange(-179, 178.01)], axis=1))


def test_bnds_offsetgrid_wrap():
    # /root/reference/tests/test_auxfuncs.py:209-225
    lon_b = synth_bounds(np.arange(-179.4, 179.7), True)
    assert np.allclose(lon_b[-1, -1], -179.9)
    assert np.allclose(lon_b[0], [-179.9, -178.9])
    lat_b = synth_bounds(np.arange(-89.4, 89.7), False)
    assert lat_b[-1, -1] == 90


def test_bnds_one_pixel_eastern_hemisphere():
    # /root/reference/tests/test_auxfuncs.py:227-243
    b = synth_bounds(np.array([-179.8, -178.8, 179.2]), True)
    assert np.allclose(b, [[179.7, -179.3], [-179.3, -178.3], [178.7, 179.7]])


def test_bnds_one_pixel_western_hemisphere():
    # /root/reference/tests/test_auxfuncs.py:245-267
    b = synth_bounds(np.array([-179.8, 178.2, 179.2]), True)
    assert np.allclose(b, [[179.7, -179.3], [177.7, 178.7], [178.7, 179.7]])


def test_bnds_bad_thresh():
    with pytest.raises(ValueError):
        synth_bounds(np.array([0.0, 1.0]), True, wrap_around_thresh="bad_option")


def test_epsg_pick():
    # strict sign rule (/root/reference/xagg/core.py:475-486)
    assert pick_epsg(10, 20) == 6931
    assert pick_epsg(-20, -10) == 6932
    assert pick_epsg(-0.5, 1.5) == 6933
    assert pick_epsg(0, 10) == 6933  # touching equator -> global


def test_golden_rel_area_4pixels():
    # /root/reference/tests/test_core.py:351-367: polygon (-0.5..1.5)^2 over
    # 2x2 1-degree grid -> [0.250019, 0.250019, 0.249981, 0.249981]
    a00 = cea_band_area(-0.5, 0.5, -0.5, 0.5)
    a01 = cea_band_area(-0.5, 0.5, 0.5, 1.5)
    a10 = cea_band_area(0.5, 1.5, -0.5, 0.5)
    a11 = cea_band_area(0.5, 1.5, 0.5, 1.5)
    rel = np.array([a00, a01, a10, a11]) / (a00 + a01 + a10 + a11)
    assert np.allclose(rel, [0.250019, 0.250019, 0.249981, 0.249981], atol=1e-6)


def test_golden_rel_area_pixel_center_square():
    # /root/reference/tests/test_core.py:381-397
    a0 = rect_rect_overlap_area_cea(0, 0, 1, 1, -0.5, -0.5, 0.5, 0.5)
    a1 = rect_rect_overlap_area_cea(0, 0, 1, 1, 0.5, -0.5, 1.5, 0.5)
    a2 = rect_rect_overlap_area_cea(0, 0, 1, 1, -0.5, 0.5, 0.5, 1.5)
    a3 = rect_rect_overlap_area_cea(0, 0, 1, 1, 0.5, 0.5, 1.5, 1.5)
    rel = np.array([a0, a1, a2, a3]) / (a0 + a1 + a2 + a3)
    assert np.allclose(rel, [0.250009, 0.250009, 0.249991, 0.249991], atol=1e-6)


def test_clip_matches_closed_form_for_rects():
    # Sutherland-Hodgman + shoelace in projected space == analytic CEA area
    for (plon0, plat0, plon1, plat1) in [(-0.5, -0.5, 1.5, 1.5), (0, 0, 1, 1),
                                         (-0.3, -0.2, 0.9, 1.4)]:
        poly_lon = np.array([plon0, plon1, plon1, plon0])
        poly_lat = np.array([plat0, plat0, plat1, plat1])
        px, py = forward(poly_lon, poly_lat, 6933)
        for (qlon0, qlat0, qlon1, qlat1) in [(-0.5, -0.5, 0.5, 0.5), (0.5, 0.5, 1.5, 1.5)]:
            rlon = np.array([qlon0, qlon1, qlon1, qlon0])
            rlat = np.array([qlat0, qlat0, qlat1, qlat1])
            rx, ry = forward(rlon, rlat, 6933)
            got = clip_area(np.stack([px, py], 1), np.stack([rx, ry], 1))
            want = rect_rect_overlap_area_cea(plon0, plat0, plon1, plat1,
                                              qlon0, qlat0, qlon1, qlat1)
            assert np.isclose(got, float(want), rtol=1e-12)


def test_clip_triangle():
    tri = np.array([[0.0, 0.0], [2.0, 0.0], [0.0, 1.0]])
    rect = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])
    # hypotenuse y = 1 - x/2 -> area inside unit square = 1 - 1/4
    assert np.isclose(clip_area(tri, rect), 0.75)
    assert clip_area(tri + 10.0, rect) == 0.0


def test_antimeridian_flag():
    # /root/reference/xagg/core.py:359-364 rule, threshold 5 deg
    assert crosses_antimeridian(np.array([179.0]), np.array([-179.0]))[0]
    assert not crosses_antimeridian(np.array([170.0]), np.array([174.0]))[0]


def test_cover_bbox_and_polygon():
    cells = cover_bbox(-1.0, -1.0, 1.0, 1.0, res=7)
    assert len(cells) >= 1
    # polygon cover subset of the bbox cover grown by the cover's one-cell
    # dilation ring
    cw, ch = 360.0 / 2 ** 7, 180.0 / 2 ** 7
    grown = cover_bbox(-1.0 - cw, -1.0 - ch, 1.0 + cw, 1.0 + ch, res=7)
    tri = np.array([[-1.0, -1.0], [1.0, -1.0], [0.0, 1.0]])
    pc, full = cover_polygon_classified([tri], res=7)
    assert set(pc.tolist()) <= set(grown.tolist())
    assert set(cells.tolist()) <= set(pc.tolist())
    assert len(pc) >= 1 and not full.any()
    # lat bounds past the poles clamp to the edge rows, scalar or array
    from xagg_spark.geo.cells import cell_range
    assert cell_range(95.0, 100.0, 3, False) == (7, 7)
    lo, hi = cell_range(np.array([95.0, -100.0]), np.array([100.0, -95.0]),
                        3, False)
    assert lo.tolist() == [7, 0] and hi.tolist() == [7, 0]


def test_convex_pieces_nonconvex_quad():
    """The non-convex (dart) quad fallback: the two triangles tile the quad
    — signed areas add to the polygon area, and a clip against a covering
    window returns the full dart area."""
    from xagg_spark.geo.clip import clip_area
    from xagg_spark.operators.overlaps import _convex_pieces

    dart = np.array([[0.0, 0.0], [4.0, 1.0], [1.0, 1.0], [0.0, 4.0]])
    pieces = _convex_pieces(dart)
    assert len(pieces) == 2
    big = np.array([[-10.0, -10.0], [10.0, -10.0], [10.0, 10.0], [-10.0, 10.0]])
    total = sum(clip_area(big, p) for p in pieces)
    x, y = dart[:, 0], dart[:, 1]
    dart_area = 0.5 * abs(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))
    assert abs(total - dart_area) < 1e-12

    convex = np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]])
    assert len(_convex_pieces(convex)) == 1


def test_near_degenerate_edges_emit_no_overflow_warning():
    """An edge whose dy (or dx) is tiny (1e-300, 1e-309) overflows the
    crossing abscissa (the raster clip parameter) to inf.  The results
    are still right, and neither the even-odd kernel nor the cover raster
    may leak the RuntimeWarning to its callers."""
    import warnings

    from xagg_spark.geo.clip import crossing_parity, ring_edges

    flat = np.array([[0.0, 0.0], [10.0, 1e-300], [10.0, 50.0], [0.0, 50.0]])
    steep = np.array([[0.0, 0.0], [1e-309, 10.0], [5.0, 10.0], [5.0, 0.0]])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = crossing_parity(np.array([5.0, 5.0]), np.array([1e10, 25.0]),
                              ring_edges([flat]))
        ids, _ = cover_polygon_classified([steep], res=7)
    assert got.tolist() == [False, True]
    assert set(cover_bbox(0.0, 0.0, 5.0, 10.0, res=7).tolist()) \
        <= set(ids.tolist())

