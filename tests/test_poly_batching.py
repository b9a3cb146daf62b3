"""Polygon batching for ring-count-dominated sets (the cover-budget-
unreachable regime): value parity with the unbatched build, contract
parity for NoOverlapError, and the fail-fast on the paths that cannot
batch.  The real trigger is ~800k+ rings; tests force it by shrinking
the module budgets."""

import numpy as np
import pandas as pd
import pytest

from xagg_spark.grid import GridSpec
from xagg_spark.operators import overlaps as _ov
from xagg_spark.operators import pixel_overlaps
from xagg_spark.operators.overlaps import (NoOverlapError,
                                           _cover_budget_unreachable,
                                           _estimated_cover_cells,
                                           _plan_poly_batches)
from xagg_spark.polygons import PolygonSet, rect_ring

GRID = GridSpec(lat_edge=0.0, lon_edge=0.0, dlat=0.5, dlon=0.5,
                nlat=32, nlon=32, tile_h=16, tile_w=16)


def _six_polys():
    rings = [rect_ring(0.7 + 2.4 * i, 1.1, 2.6 + 2.4 * i, 8.3)
             for i in range(6)]
    return PolygonSet(rings, pd.DataFrame({"name": [f"p{i}"
                                                    for i in range(6)]}))


def test_res0_estimate_is_ring_count():
    """_cover_budget_unreachable's premise: the res-0 estimate equals the
    total ring count exactly (bbox terms clamp at 1), including for
    polygons with holes (every ring counts)."""
    hole = rect_ring(2.0, 2.0, 3.0, 3.0)[::-1]
    polys = PolygonSet([rect_ring(1.0, 1.0, 4.0, 4.0),
                        [rect_ring(5.0, 5.0, 9.0, 9.0), hole]])
    assert _estimated_cover_cells(polys, 0) == 3.0
    assert not _cover_budget_unreachable(polys)


def test_plan_poly_batches_packs_by_ring_count():
    hole = rect_ring(2.0, 2.0, 3.0, 3.0)[::-1]
    polys = PolygonSet([rect_ring(0.0, 0.0, 1.0, 1.0),          # 1 ring
                        [rect_ring(4.0, 4.0, 9.0, 9.0), hole],  # 2 rings
                        rect_ring(10.0, 10.0, 11.0, 11.0),      # 1 ring
                        rect_ring(12.0, 12.0, 13.0, 13.0)])     # 1 ring
    import unittest.mock as mock
    with mock.patch.object(_ov, "POLY_BATCH_MAX_RINGS", 2):
        assert _plan_poly_batches(polys) == [(0, 1), (1, 2), (2, 4)]
    # default budget: one batch
    assert _plan_poly_batches(polys) == [(0, 4)]


def test_batched_build_matches_unbatched_exactly(spark, monkeypatch):
    polys = _six_polys()
    want = pixel_overlaps(spark, GRID, polys)
    w = (want.overlaps.select("poly_idx", "pix_idx", "rel_area")
             .toPandas().sort_values(["poly_idx", "pix_idx"])
             .reset_index(drop=True))
    want.unpersist()

    monkeypatch.setattr(_ov, "COVER_CELL_BUDGET", 4)
    monkeypatch.setattr(_ov, "POLY_BATCH_MAX_RINGS", 2)
    assert _cover_budget_unreachable(polys)          # forced regime
    got_wm = pixel_overlaps(spark, GRID, polys)
    assert len(got_wm._blocks) == 3
    assert got_wm.epsg == want.epsg                  # global J2 pick
    assert got_wm.n_rows == want.n_rows
    g = (got_wm.overlaps.select("poly_idx", "pix_idx", "rel_area")
               .toPandas().sort_values(["poly_idx", "pix_idx"])
               .reset_index(drop=True))
    assert (g["poly_idx"].tolist() == w["poly_idx"].tolist()
            and g["pix_idx"].tolist() == w["pix_idx"].tolist())
    assert np.allclose(g["rel_area"], w["rel_area"], rtol=0, atol=1e-12)
    # per-polygon normalization survives batching: rel_area sums to 1
    sums = g.groupby("poly_idx")["rel_area"].sum()
    assert np.allclose(sums, 1.0, rtol=0, atol=1e-9)
    got_wm.unpersist()                               # frees each block


def test_batched_empty_batch_and_all_empty(spark, monkeypatch):
    monkeypatch.setattr(_ov, "COVER_CELL_BUDGET", 1)
    monkeypatch.setattr(_ov, "POLY_BATCH_MAX_RINGS", 1)
    # batch 2 (far off-grid) is empty -> its polygons just have no rows
    polys = PolygonSet([rect_ring(1.0, 1.0, 5.0, 5.0),
                        rect_ring(120.0, 40.0, 125.0, 45.0)])
    wm = pixel_overlaps(spark, GRID, polys)
    pdf = wm.overlaps.select("poly_idx").distinct().toPandas()
    assert pdf["poly_idx"].tolist() == [0]
    wm.unpersist()
    # every batch empty -> the unbatched contract's NoOverlapError
    far = PolygonSet([rect_ring(120.0, 40.0, 125.0, 45.0),
                      rect_ring(130.0, 40.0, 135.0, 45.0)])
    with pytest.raises(NoOverlapError):
        pixel_overlaps(spark, GRID, far)


def test_unbatchable_paths_fail_fast(spark, monkeypatch):
    monkeypatch.setattr(_ov, "COVER_CELL_BUDGET", 1)
    polys = PolygonSet([rect_ring(1.0, 1.0, 5.0, 5.0),
                        rect_ring(6.0, 1.0, 9.0, 5.0)])
    # direct _overlap_prep callers get the guidance error, not res 0
    with pytest.raises(ValueError, match="COVER_CELL_BUDGET"):
        _ov._overlap_prep(spark, GRID, polys)


def test_single_polygon_over_budget_raises_not_recurses(spark, monkeypatch):
    """Code-review r5: one polygon with more rings than the budget cannot
    be split by batching — must raise the guidance error, not recurse
    between pixel_overlaps and the batched builder forever.  Covers both
    the whole-set case and a one-huge-polygon batch inside a larger set."""
    monkeypatch.setattr(_ov, "COVER_CELL_BUDGET", 2)
    monkeypatch.setattr(_ov, "POLY_BATCH_MAX_RINGS", 2)
    hole1 = rect_ring(2.0, 2.0, 3.0, 3.0)[::-1]
    hole2 = rect_ring(4.0, 4.0, 5.0, 5.0)[::-1]
    big = [rect_ring(1.0, 1.0, 9.0, 9.0), hole1, hole2]   # 3 rings > budget
    with pytest.raises(ValueError, match="single polygon"):
        pixel_overlaps(spark, GRID, PolygonSet([big]))
    with pytest.raises(ValueError, match="single polygon"):
        pixel_overlaps(spark, GRID, PolygonSet(
            [rect_ring(10.0, 10.0, 12.0, 12.0), big]))


def test_explicit_batch_cap_above_budget_is_capped(spark, monkeypatch):
    """An explicit _batch_max_rings larger than COVER_CELL_BUDGET is capped
    at the budget, so no batch's cover overflows the broadcast: the build
    succeeds in budget-sized batches with the unbatched values."""
    polys = _six_polys()
    want = pixel_overlaps(spark, GRID, polys)
    w = (want.overlaps.select("poly_idx", "pix_idx", "rel_area")
             .toPandas().sort_values(["poly_idx", "pix_idx"])
             .reset_index(drop=True))
    want.unpersist()
    monkeypatch.setattr(_ov, "COVER_CELL_BUDGET", 2)
    got_wm = pixel_overlaps(spark, GRID, polys, _batch_max_rings=10)
    assert len(got_wm._blocks) == 3
    g = (got_wm.overlaps.select("poly_idx", "pix_idx", "rel_area")
               .toPandas().sort_values(["poly_idx", "pix_idx"])
               .reset_index(drop=True))
    assert g["pix_idx"].tolist() == w["pix_idx"].tolist()
    assert np.allclose(g["rel_area"], w["rel_area"], rtol=0, atol=1e-12)
    got_wm.unpersist()

def test_batched_build_threads_weights(spark, monkeypatch):
    """The secondary weight grid must survive batching: every batch joins
    the same (pix_idx, weight) table, and the unioned overlaps carry the
    weight column with values identical to the unbatched build."""
    polys = _six_polys()
    wpdf = pd.DataFrame({
        "pix_idx": np.arange(GRID.nlat * GRID.nlon, dtype=np.int64),
        "weight": 0.25 + (np.arange(GRID.nlat * GRID.nlon) % 7) * 0.5,
    })
    want_wm = pixel_overlaps(spark, GRID, polys, weights_pdf=wpdf)
    assert want_wm.has_weights
    w = (want_wm.overlaps.select("poly_idx", "pix_idx", "rel_area", "weight")
                 .toPandas().sort_values(["poly_idx", "pix_idx"])
                 .reset_index(drop=True))
    want_wm.unpersist()

    monkeypatch.setattr(_ov, "COVER_CELL_BUDGET", 4)
    monkeypatch.setattr(_ov, "POLY_BATCH_MAX_RINGS", 2)
    got_wm = pixel_overlaps(spark, GRID, polys, weights_pdf=wpdf)
    assert len(got_wm._blocks) == 3 and got_wm.has_weights
    g = (got_wm.overlaps.select("poly_idx", "pix_idx", "rel_area", "weight")
               .toPandas().sort_values(["poly_idx", "pix_idx"])
               .reset_index(drop=True))
    assert g["pix_idx"].tolist() == w["pix_idx"].tolist()
    assert np.allclose(g["rel_area"], w["rel_area"], rtol=0, atol=1e-12)
    assert np.allclose(g["weight"], w["weight"], rtol=0, atol=0)
    got_wm.unpersist()
