"""kNN join (J6): polar CRS support + ring-expansion termination.

Ground truth is an independent brute-force numpy ranking with the same
Snyder forward (geo.ellipsoid) — no bbox, no pruning — so these tests
validate that the expanding-bbox search terminates only when its results
are provably complete, including the pole-spanning sector geometry.
"""

import numpy as np
import pandas as pd
import pytest

from xagg_spark.geo import ellipsoid as _ell
from xagg_spark.grid import GridSpec
from xagg_spark.operators.knn import knn_pixels
from xagg_spark.operators.overlaps import pixel_geometry


def _brute(grid, centers, k, epsg):
    lat = np.repeat(grid.lat_axis(), grid.nlon)
    lon = np.tile(grid.lon_axis(), grid.nlat)
    pix = np.arange(grid.nlat * grid.nlon, dtype=np.int64)
    px, py = _ell.forward(lon, lat, epsg)
    rows = []
    for r in centers.itertuples():
        cx, cy = _ell.forward(np.array([r.c_lon]), np.array([r.c_lat]), epsg)
        d2 = (px - cx[0]) ** 2 + (py - cy[0]) ** 2
        order = np.lexsort((pix, d2))[:k]
        for rank, i in enumerate(order, 1):
            rows.append((int(r.q_id), rank, int(pix[i])))
    return sorted(rows)


def _run(spark, grid, centers, k, expect_epsg):
    pixels = pixel_geometry(spark, grid).select("pix_idx", "lat", "lon")
    got = knn_pixels(spark, pixels, centers, k=k)
    got = sorted((int(a), int(b), int(c)) for a, b, c in
                 got.select("q_id", "rank", "pix_idx").collect())
    assert got == _brute(grid, centers, k, expect_epsg)


def test_knn_north_polar_matches_brute_force(spark):
    grid = GridSpec(lat_edge=55.0, lon_edge=-30.0, dlat=1.0, dlon=1.0,
                    nlat=20, nlon=40, tile_h=20, tile_w=20)
    centers = pd.DataFrame({
        "q_id": np.arange(3, dtype=np.int64),
        "c_lon": [-12.25, 0.375, 7.8125],
        "c_lat": [58.125, 63.0625, 71.25],
    })
    _run(spark, grid, centers, k=7, expect_epsg=_ell.EPSG_NORTH)


def test_knn_south_polar_matches_brute_force(spark):
    grid = GridSpec(lat_edge=-75.0, lon_edge=10.0, dlat=1.0, dlon=1.0,
                    nlat=15, nlon=30, tile_h=15, tile_w=15)
    centers = pd.DataFrame({
        "q_id": np.arange(2, dtype=np.int64),
        "c_lon": [16.75, 29.0625],
        "c_lat": [-68.125, -63.4375],
    })
    _run(spark, grid, centers, k=5, expect_epsg=_ell.EPSG_SOUTH)


def test_knn_pole_spanning_bbox_terminates_correctly(spark):
    """Center near the pole: the expanding box swallows the pole, where the
    searched region's inner arc degenerates — the sector-boundary math must
    keep expanding until results are complete (nearest pixels here lie
    ACROSS the pole, outside any small lon window around the center)."""
    grid = GridSpec(lat_edge=84.0, lon_edge=-180.0, dlat=1.0, dlon=10.0,
                    nlat=6, nlon=36, tile_h=6, tile_w=36)
    centers = pd.DataFrame({"q_id": np.array([0], dtype=np.int64),
                            "c_lon": [10.0], "c_lat": [89.5]})
    _run(spark, grid, centers, k=6, expect_epsg=_ell.EPSG_NORTH)


def test_knn_global_unchanged(spark):
    """Equator-straddling centers still use the global CEA (J2 rule)."""
    grid = GridSpec(lat_edge=-10.0, lon_edge=-10.0, dlat=1.0, dlon=1.0,
                    nlat=20, nlon=20, tile_h=20, tile_w=20)
    centers = pd.DataFrame({
        "q_id": np.arange(2, dtype=np.int64),
        "c_lon": [-3.25, 4.0625],
        "c_lat": [-4.125, 6.1875],
    })
    _run(spark, grid, centers, k=4, expect_epsg=_ell.EPSG_GLOBAL)


def test_knn_k_exceeds_pixel_count(spark):
    """k larger than the whole grid: the expansion hits max_radius and
    returns every pixel, fully ranked — no infinite loop, no error."""
    grid = GridSpec(lat_edge=0.0, lon_edge=0.0, dlat=1.0, dlon=1.0,
                    nlat=3, nlon=3, tile_h=3, tile_w=3)
    centers = pd.DataFrame({"q_id": np.array([0], dtype=np.int64),
                            "c_lon": [1.3], "c_lat": [1.2]})
    pixels = pixel_geometry(spark, grid).select("pix_idx", "lat", "lon")
    got = knn_pixels(spark, pixels, centers, k=50).toPandas()
    assert len(got) == 9                          # all pixels returned
    assert sorted(got["rank"]) == list(range(1, 10))


def test_knn_polar_center_near_antimeridian(spark):
    """ADVICE r3: a polar-LAEA center near +-180 — the projected plane has
    no cut there, so the nearest pixels straddle the antimeridian and the
    wrapped lon predicate must find them (the old unwrapped bbox silently
    truncated the sector at lon=180 while the confirmation check passed)."""
    grid = GridSpec(lat_edge=60.0, lon_edge=-180.0, dlat=1.0, dlon=5.0,
                    nlat=20, nlon=72, tile_h=20, tile_w=72)
    centers = pd.DataFrame({
        "q_id": np.arange(2, dtype=np.int64),
        "c_lon": [179.25, -179.5],
        "c_lat": [70.125, 64.0625],
    })
    _run(spark, grid, centers, k=8, expect_epsg=_ell.EPSG_NORTH)


def _broadcast_subtrees(plan: str):
    """Lines under each BroadcastExchange node of a plan tree string."""
    lines = plan.splitlines()
    depth = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
    for i, ln in enumerate(lines):
        if ln.lstrip(" :+-").startswith("BroadcastExchange"):
            sub = []
            for ln2, d in zip(lines[i + 1:], depth[i + 1:]):
                if d <= depth[i]:
                    break
                sub.append(ln2)
            yield sub


def _dense_case(spark):
    """400 pixels against 30 centers whose radius-matched ring covers hold
    well over 400 (q_id, cell) rows: the pixel table is the smaller join
    side."""
    grid = GridSpec(lat_edge=-10.0, lon_edge=-10.0, dlat=1.0, dlon=1.0,
                    nlat=20, nlon=20, tile_h=20, tile_w=20)
    pixels = pixel_geometry(spark, grid).select("pix_idx", "lat", "lon")
    i = np.arange(30, dtype=np.int64)
    centers = pd.DataFrame({"q_id": i,
                            "c_lon": -8.75 + (i % 6) * 3.125,
                            "c_lat": -8.375 + (i // 6) * 3.875})
    return grid, pixels, centers


def test_knn_plan_is_cell_hash_join_not_nested_loop(spark, monkeypatch):
    """The candidate join knn_pixels executes is a Broadcast HASH join on
    cell_id, never a BroadcastNestedLoopJoin over four range predicates
    (which tests every pixel against every center) — and with fewer
    pixels than cover rows the PIXELS are the broadcast side: no
    BroadcastExchange sits over the cover's Generate (the planner's size
    estimate once put a 6.25M-row cover on the build side)."""
    from xagg_spark.operators import knn as _knn

    seen = []
    topk = _knn._topk_struct_agg

    def spy(j, k):
        seen.append(topk(j, k))
        return seen[-1]

    monkeypatch.setattr(_knn, "_topk_struct_agg", spy)
    grid, pixels, centers = _dense_case(spark)
    assert pixels.count() < _knn._cover_row_count(centers, 2.0,
                                                   _knn._matched_resolution(2.0))
    got = knn_pixels(spark, pixels, centers, k=4, radius_deg=2.0)
    assert got.count() == 4 * len(centers)
    assert seen
    for top in seen:
        plan = top._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BroadcastHashJoin" in plan and "cell_id" in plan
        assert "Generate" in plan
        subs = list(_broadcast_subtrees(plan))
        assert subs, plan
        for sub in subs:
            assert not any("Generate" in ln for ln in sub), plan


def test_knn_logs_one_decision_record_per_iteration(spark, caplog):
    """Each expansion iteration emits one structured DEBUG record of its
    decisions; with fewer pixels than cover rows the build side is the
    pixel table, and every query is confirmed exactly once."""
    import logging

    caplog.set_level(logging.DEBUG, logger="xagg_spark.operators.knn")
    grid, pixels, centers = _dense_case(spark)
    knn_pixels(spark, pixels, centers, k=4, radius_deg=2.0)
    recs = [r.knn for r in caplog.records if hasattr(r, "knn")]
    assert recs
    assert all(r.levelno == logging.DEBUG and r.name == "xagg_spark.operators.knn"
               for r in caplog.records if hasattr(r, "knn"))
    first = recs[0]
    assert set(first) == {"radius_deg", "resolution", "pending", "cover_rows",
                          "pixel_rows", "build_side", "confirmed"}
    assert first["radius_deg"] == 2.0 and first["pending"] == len(centers)
    assert first["pixel_rows"] == grid.nlat * grid.nlon < first["cover_rows"]
    assert first["build_side"] == "pixels"
    assert sum(r["confirmed"] for r in recs) == len(centers)
    assert [r["radius_deg"] for r in recs] == [2.0 * 2 ** i
                                               for i in range(len(recs))]


def test_knn_frees_top_of_rounds_that_confirm_nothing(spark, caplog):
    """A round that confirms no query checkpoints its top-k arrays and
    nothing ever reads them, so the call must free them.  Afterwards only
    the checkpoints behind the returned view stay persisted: each
    confirming round's top-k arrays, plus its accepted-id table when it
    confirmed only part of its pending queries."""
    import logging

    caplog.set_level(logging.DEBUG, logger="xagg_spark.operators.knn")
    grid, pixels, centers = _dense_case(spark)
    jsc = spark.sparkContext._jsc

    def persisted():
        return {int(i) for i in jsc.getPersistentRDDs().keySet()}

    before = persisted()
    out = knn_pixels(spark, pixels, centers, k=4, radius_deg=0.25)
    new = persisted() - before
    recs = [r.knn for r in caplog.records if hasattr(r, "knn")]
    assert recs[0]["confirmed"] == 0
    assert len(new) == sum(1 + (r["confirmed"] < r["pending"])
                           for r in recs if r["confirmed"])
    got = sorted((int(a), int(b), int(c)) for a, b, c in
                 out.select("q_id", "rank", "pix_idx").collect())
    assert got == _brute(grid, centers, 4, _ell.EPSG_GLOBAL)


def test_knn_cea_near_antimeridian_keeps_cut_plane_semantics(spark):
    """CEA (EPSG:6933) is a cylinder CUT at +-180: x is linear in the given
    lon, so two pixels across the cut are genuinely far apart in-plane.
    The r4 wrap fix applies ONLY to the polar aspects — this pins that a
    CEA center near +-180 still ranks by the cut-plane metric (the brute
    force uses the same forward transform, so it agrees by construction,
    and the expanding search must still terminate with complete results)."""
    grid = GridSpec(lat_edge=-10.0, lon_edge=-180.0, dlat=1.0, dlon=5.0,
                    nlat=20, nlon=72, tile_h=20, tile_w=72)
    centers = pd.DataFrame({
        "q_id": np.arange(2, dtype=np.int64),
        "c_lon": [177.75, -178.5],
        "c_lat": [2.125, -3.0625],
    })
    _run(spark, grid, centers, k=6, expect_epsg=_ell.EPSG_GLOBAL)


def _cover_rows(centers, radius, res):
    """Reference ring cover: per-center cell sets of the scalar
    geo.cells.cover_bbox (wrap, pole clamping, full-circle dedup), as a
    set of (q_id, cell_id) pairs."""
    from xagg_spark.geo import cells as _c

    rows = set()
    for r in centers.itertuples():
        cells = _c.cover_bbox(
            float(r.c_lon) - radius, max(float(r.c_lat) - radius, -90.0),
            float(r.c_lon) + radius, min(float(r.c_lat) + radius, 90.0),
            res)
        rows.update((int(r.q_id), int(c)) for c in cells.tolist())
    return rows


def _check_cover(spark, centers, radius, res):
    from xagg_spark.operators.knn import _cover_df_jvm, _cover_row_count

    got, _ = _cover_df_jvm(spark, centers, radius, res, 6933)
    got = got.select("q_id", "cell_id").toPandas()
    mine = set(zip(got.q_id.astype(int).tolist(),
                   got.cell_id.astype(int).tolist()))
    assert mine == _cover_rows(centers, radius, res), (res, radius)
    # no duplicate (q, cell) pairs (a dup would double-rank a pixel)
    assert not got.duplicated(["q_id", "cell_id"]).any()
    assert len(got) == _cover_row_count(centers, radius, res), (res, radius)


def test_cover_rows_matches_scalar_cover_bbox(spark):
    """The cluster-built ring cover rows must be exactly the per-center
    cell sets of geo.cells.cover_bbox (wrap, pole clamping, full-circle
    dedup included) for a wide seeded sweep of centers, radii and
    resolutions, with no duplicate (q, cell) pair and exactly
    _cover_row_count rows."""
    rng = np.random.default_rng(20260817)
    for _ in range(25):
        res = int(rng.integers(0, 10))
        n_c = int(rng.integers(1, 9))
        radius = float(rng.choice([0.05, 0.7, 3.0, 20.0, 95.0, 181.0, 360.0]))
        centers = pd.DataFrame({
            "q_id": np.arange(n_c, dtype=np.int64),
            "c_lon": rng.uniform(-200.0, 220.0, n_c),   # raw frames too
            "c_lat": rng.uniform(-89.9, 89.9, n_c),
        })
        _check_cover(spark, centers, radius, res)


def test_cover_df_jvm_matches_cover_rows(spark):
    """The distributed (JVM sequence/explode) cover must produce exactly
    the reference cover rows for antimeridian-wrapping boxes and
    pole-clamped lats."""
    centers = pd.DataFrame({
        "q_id": np.arange(6, dtype=np.int64),
        "c_lon": [179.8, -179.9, 0.25, -38.0, 100.0, -0.125],
        "c_lat": [10.0, -5.5, 89.95, -89.9, 0.0, 45.125],
    })
    for radius, res in ((0.2, 11), (0.7, 8), (3.0, 5), (20.0, 2)):
        _check_cover(spark, centers, radius, res)


def test_knn_warns_on_under_k_and_zero_row_queries(spark):
    """ADVICE r4: a query whose rings hold no pixel by max_radius_deg is
    OMITTED from the output — that must be loud.  q0 sits on the grid
    (full k), q1 is far away with a max radius too small to reach any
    pixel (zero rows, omitted); the warning names exactly q1."""
    grid = GridSpec(lat_edge=0.0, lon_edge=0.0, dlat=1.0, dlon=1.0,
                    nlat=4, nlon=4, tile_h=4, tile_w=4)
    centers = pd.DataFrame({"q_id": np.array([0, 1], dtype=np.int64),
                            "c_lon": [1.6, 120.0], "c_lat": [1.4, 1.0]})
    pixels = pixel_geometry(spark, grid).select("pix_idx", "lat", "lon")
    with pytest.warns(UserWarning, match=r"fewer than k=3 .*q_id\(s\) \[1\]"):
        got = knn_pixels(spark, pixels, centers, k=3,
                         radius_deg=2.0, max_radius_deg=16.0).toPandas()
    assert set(got["q_id"]) == {0}                # q1 omitted, documented
    assert len(got[got.q_id == 0]) == 3


def test_knn_driver_side_scales_to_1m_centers():
    """VERDICT r4 ask #5 (driver half): at 10^6 pending centers the
    per-iteration driver work — exact cover-row count, build-side
    decision, verified-radius computation — must stay around a second,
    and over 2.88M pixels neither join side fits the broadcast budget:
    the per-center cover floors at ~4 cells, so even MAX_COARSEN_LEVELS
    of coarsening cannot fit 10^6 centers, and the coarsening stays
    clamped (unbounded, it walked res to 0 — one global cell, a
    single-key cartesian of every pixel against every center).  Pure
    numpy; the cluster half is the bench's knn_1m_centers entry and
    test_knn_shuffle_cover_path_matches_brute_force."""
    import time

    from xagg_spark.operators.knn import (BROADCAST_ROW_BUDGET,
                                          MAX_COARSEN_LEVELS,
                                          _cover_extents, _cover_row_count,
                                          _matched_resolution,
                                          _min_edge_distance_m,
                                          _pick_build_side)

    n = 1_000_000
    n_pix = 2_880_000
    rng = np.arange(n, dtype=np.int64)
    centers = pd.DataFrame({
        "q_id": rng,
        "c_lon": -175.0 + (rng % 2000) * 0.175,
        "c_lat": -85.0 + (rng // 2000) * 0.34,
    })
    radius = 0.2
    matched = _matched_resolution(radius)
    # no clamped resolution fits -> shuffled join at the matched res
    assert (_cover_row_count(centers, radius, matched - MAX_COARSEN_LEVELS)
            > BROADCAST_ROW_BUDGET)
    res, rows, build = _pick_build_side(centers, radius, n_pix)
    assert (res, build) == (matched, "none")
    # at 10^5 (the bench entry) a coarsened cover still fits the budget
    res100k, rows100k, build100k = _pick_build_side(centers[:100_000],
                                                    radius, n_pix)
    assert build100k == "cover" and rows100k <= BROADCAST_ROW_BUDGET
    assert matched - MAX_COARSEN_LEVELS <= res100k < matched
    # warm-up: the first numpy call pays one-off page-allocation costs
    # (1.5-3s cold under memory pressure) that have nothing to do with
    # the per-row scaling this test pins
    _cover_row_count(centers[:1000], radius, matched)
    _min_edge_distance_m(centers[:1000], radius, _ell.EPSG_GLOBAL)
    t0 = time.time()
    n_cover = _cover_row_count(centers, radius, matched)
    t_cover = time.time() - t0
    assert n_cover == rows
    _, nx, _, ny = _cover_extents(centers, radius, matched)
    assert len(nx) == n and (nx * ny >= 1).all()   # every center covered
    t0 = time.time()
    verified = _min_edge_distance_m(centers, radius, _ell.EPSG_GLOBAL)
    t_verified = time.time() - t0
    assert len(verified) == n
    # wall bounds separate REGIMES, not speeds: the vectorized paths run
    # ~0.1-0.3s warm; a per-row Python regression would take minutes
    assert t_cover < 10.0, t_cover
    assert t_verified < 10.0, t_verified


def test_knn_shuffle_cover_path_matches_brute_force(spark, monkeypatch,
                                                    caplog):
    """End-to-end through the no-broadcast branch (broadcast budget forced
    to 0 so every iteration takes the shuffled hash join): results must
    equal the independent brute-force ranking — same contract as the
    broadcast branches."""
    import logging

    from xagg_spark.operators import knn as _knn

    monkeypatch.setattr(_knn, "BROADCAST_ROW_BUDGET", 0)
    caplog.set_level(logging.DEBUG, logger="xagg_spark.operators.knn")
    grid = GridSpec(lat_edge=-10.0, lon_edge=-10.0, dlat=1.0, dlon=1.0,
                    nlat=20, nlon=20, tile_h=20, tile_w=20)
    centers = pd.DataFrame({
        "q_id": np.arange(3, dtype=np.int64),
        "c_lon": [1.0, -7.25, 8.5],
        "c_lat": [1.0, 6.125, -9.0],
    })
    _run(spark, grid, centers, k=7, expect_epsg=_ell.EPSG_GLOBAL)
    # and the polar wrapped-lon geometry through the same path
    pgrid = GridSpec(lat_edge=55.0, lon_edge=-30.0, dlat=1.0, dlon=1.0,
                     nlat=20, nlon=40, tile_h=20, tile_w=20)
    pcenters = pd.DataFrame({
        "q_id": np.arange(2, dtype=np.int64),
        "c_lon": [-12.25, 7.8125],
        "c_lat": [58.125, 71.25],
    })
    _run(spark, pgrid, pcenters, k=5, expect_epsg=_ell.EPSG_NORTH)
    sides = {r.knn["build_side"] for r in caplog.records if hasattr(r, "knn")}
    assert sides == {"none"}


def test_knn_duplicate_q_id_rejected(spark):
    """Code-review r5: duplicate q_id used to be silently collapsed by a
    dict lookup (arbitrary termination for the duplicates) and would now
    crash the vectorized Series reindex — reject loudly instead."""
    grid = GridSpec(lat_edge=0.0, lon_edge=0.0, dlat=1.0, dlon=1.0,
                    nlat=4, nlon=4, tile_h=4, tile_w=4)
    pixels = pixel_geometry(spark, grid).select("pix_idx", "lat", "lon")
    centers = pd.DataFrame({"q_id": np.array([0, 0], dtype=np.int64),
                            "c_lon": [1.0, 2.0], "c_lat": [1.0, 2.0]})
    with pytest.raises(ValueError, match="duplicate q_id"):
        knn_pixels(spark, pixels, centers, k=2)
