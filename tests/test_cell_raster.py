"""The vectorized ring-edge rasterizer (`geo.cells._rasterize_edges`) marks
exactly the cells of the scalar per-(edge, column) loop it replaced, kept
here as the reference: on the perfbench geo polygons and on seeded random
rings with vertical, horizontal, near-vertical and repeated-vertex edges,
with and without curve pads, on full and cropped cell windows."""

import importlib.util
import os

import numpy as np
import pytest

from xagg_spark.geo import cells


def _reference(lons, lats, pads, res, x0, x1, y0, y1) -> np.ndarray:
    n = 1 << res
    cw, ch = 360.0 / n, 180.0 / n
    nx, ny = x1 - x0 + 1, y1 - y0 + 1
    mark = np.zeros((nx, ny), dtype=bool)
    ex0, ey0 = lons, lats
    ex1, ey1 = np.roll(lons, -1), np.roll(lats, -1)
    if pads is None:
        pads = np.zeros(len(lons))
    with np.errstate(over="ignore"):
        for k in range(len(lons)):
            ax, ay, bx, by = ex0[k], ey0[k], ex1[k], ey1[k]
            pad = float(pads[k])
            gx0 = int(np.floor((min(ax, bx) - pad + 180.0) / cw))
            gx1 = int(np.floor((max(ax, bx) + pad + 180.0) / cw))
            for gx in range(max(gx0, x0), min(gx1, x1) + 1):
                cxa = -180.0 + gx * cw - pad
                cxb = cxa + cw + 2.0 * pad
                if ax == bx:
                    ylo, yhi = min(ay, by), max(ay, by)
                else:
                    t0 = np.clip((cxa - ax) / (bx - ax), 0.0, 1.0)
                    t1 = np.clip((cxb - ax) / (bx - ax), 0.0, 1.0)
                    ya_ = ay + t0 * (by - ay)
                    yb_ = ay + t1 * (by - ay)
                    ylo, yhi = min(ya_, yb_), max(ya_, yb_)
                gy0 = max(int(np.floor((ylo - pad + 90.0) / ch)), y0)
                gy1 = min(int(np.floor((yhi + pad + 90.0) / ch)), y1)
                if gy1 >= gy0:
                    mark[gx - x0, gy0 - y0:gy1 - y0 + 1] = True
    return mark


def _window(ring, pads, res):
    """The cell window cover_polygon_classified rasterizes a ring into."""
    pad = float(np.max(pads)) if pads is not None else 0.0
    x0, x1 = cells.cell_range(ring[:, 0].min() - pad, ring[:, 0].max() + pad,
                              res, True)
    y0, y1 = cells.cell_range(ring[:, 1].min() - pad, ring[:, 1].max() + pad,
                              res, False)
    return int(x0), int(x1), int(y0), int(y1)


def _assert_same(ring, pads, res, window):
    got = cells._rasterize_edges(ring[:, 0], ring[:, 1], pads, res, *window)
    want = _reference(ring[:, 0], ring[:, 1], pads, res, *window)
    assert got.shape == want.shape and np.array_equal(got, want)
    return int(want.sum())


def _perfbench_polygons():
    path = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench",
                        "fixtures.py")
    spec = importlib.util.spec_from_file_location("_pb_fixtures", path)
    fx = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fx)
    return fx.polygon_set(fx.geo_rings(1))


@pytest.mark.parametrize("res", [6, 8, 10])
def test_matches_reference_on_perfbench_polygons(res):
    polys = _perfbench_polygons()
    pads = polys._edge_pads()
    marked = 0
    for poly, poly_pads in zip(polys.rings, pads):
        for ring, p in zip(poly, poly_pads):
            marked += _assert_same(ring, p, res, _window(ring, p, res))
    assert marked > 0


def _random_ring(rng):
    """A star-shaped ring with some vertical, horizontal, near-vertical
    and repeated-vertex edges."""
    m = int(rng.integers(3, 40))
    th = np.sort(rng.uniform(0.0, 2.0 * np.pi, m))
    r = rng.uniform(0.2, 1.0, m) * rng.uniform(0.5, 30.0)
    c = rng.uniform([-150.0, -60.0], [150.0, 60.0])
    ring = np.stack([c[0] + r * np.cos(th), c[1] + r * np.sin(th)], axis=1)
    for i in rng.integers(0, m, 3):
        j = (i + 1) % m
        kind = rng.integers(0, 4)
        if kind == 0:                                  # vertical
            ring[j, 0] = ring[i, 0]
        elif kind == 1:                                # horizontal
            ring[j, 1] = ring[i, 1]
        elif kind == 2:                                # near-vertical
            ring[j, 0] = np.nextafter(ring[i, 0], np.inf)
        else:                                          # repeated vertex
            ring = np.insert(ring, i, ring[i], axis=0)
            m += 1
    return ring


@pytest.mark.parametrize("res", range(3, 11))
def test_matches_reference_on_random_rings(res):
    rng = np.random.default_rng(1000 + res)
    for case in range(60):
        ring = _random_ring(rng)
        pads = (None if case % 2 == 0
                else rng.uniform(0.0, 0.5, len(ring)) * (rng.random(len(ring)) < 0.7))
        x0, x1, y0, y1 = _window(ring, pads, res)
        _assert_same(ring, pads, res, (x0, x1, y0, y1))
        # a cropped window: edges partly outside are clipped, not wrapped
        _assert_same(ring, pads, res, ((x0 + x1) // 2, x1, y0, (y0 + y1) // 2))
    # a subnormal lon step overflows the edge parameter t to +-inf
    tiny = np.array([[0.0, 1.0], [5e-324, 5.0], [3.0, 4.0]])
    _assert_same(tiny, None, res, _window(tiny, None, res))


def test_cover_is_unchanged_on_a_ring_with_a_hole(monkeypatch):
    """End to end through cover_polygon_classified: the vectorized marks
    give the same classified cover as the reference marks."""
    outer = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    hole = np.array([[3.0, 3.0], [6.0, 3.0], [6.0, 7.0], [3.0, 3.0]])
    got = cells.cover_polygon_classified([outer, hole], 7)
    monkeypatch.setattr(cells, "_rasterize_edges", _reference)
    want = cells.cover_polygon_classified([outer, hole], 7)
    assert all(np.array_equal(g, w) for g, w in zip(got, want))
