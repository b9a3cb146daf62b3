"""Weightmap save/load round-trip + kill/resume (reference S3/S4 + north_rule).

Reference round-trip test: /root/reference/tests/test_export.py:292-359.
"""

import numpy as np
import pandas as pd
import pytest

from xagg_spark import (GridSpec, PolygonSet, read_wm, rect_ring,
                        resume_pixel_overlaps, save_weightmap)
from xagg_spark.operators import aggregate, pixel_overlaps

GRID = GridSpec(lat_edge=-2.0, lon_edge=-2.0, dlat=0.5, dlon=0.5,
                nlat=8, nlon=8, tile_h=8, tile_w=8)


def _polys():
    return PolygonSet([rect_ring(-1.3, -1.2, 0.7, 0.9),
                       rect_ring(0.1, 0.1, 1.9, 1.8)],
                      pd.DataFrame({"name": ["a", "b"]}))


def test_save_load_roundtrip(spark, tmp_path):
    wm = pixel_overlaps(spark, GRID, _polys())
    before = wm.overlaps.orderBy("poly_idx", "pix_idx").toPandas()
    path = str(tmp_path / "wm")
    save_weightmap(wm, path)
    wm2 = read_wm(spark, path)
    after = wm2.overlaps.orderBy("poly_idx", "pix_idx").toPandas()
    pd.testing.assert_frame_equal(before, after, check_like=True)
    assert list(wm2.polys.attrs["name"]) == ["a", "b"]
    assert wm2.epsg == wm.epsg
    # overwrite guard (reference export.py:20-21)
    with pytest.raises(FileExistsError):
        save_weightmap(wm, path)
    save_weightmap(wm, path, overwrite=True)  # succeeds


def test_resume_after_kill(spark, tmp_path):
    """Kill after 2 of 4 buckets; rerun resumes without recomputing done
    buckets and the final weightmap equals the non-resumable one."""
    ck = str(tmp_path / "ck")
    with pytest.raises(RuntimeError, match="simulated failure"):
        resume_pixel_overlaps(spark, GRID, _polys(), ck, n_buckets=4,
                              _fail_after=2)
    wm, computed = resume_pixel_overlaps(spark, GRID, _polys(), ck, n_buckets=4)
    assert computed == 2  # only the pending 2 buckets ran
    got = wm.overlaps.orderBy("poly_idx", "pix_idx").toPandas()
    want = (pixel_overlaps(spark, GRID, _polys())
            .overlaps.orderBy("poly_idx", "pix_idx").toPandas())
    assert len(got) == len(want)
    assert np.allclose(got.rel_area.to_numpy(), want.rel_area.to_numpy(), atol=1e-12)
    assert (got.pix_idx.to_numpy() == want.pix_idx.to_numpy()).all()
    # rerun again: nothing recomputed
    wm3, computed3 = resume_pixel_overlaps(spark, GRID, _polys(), ck, n_buckets=4)
    assert computed3 == 0


def test_resumed_wm_aggregates_identically(spark, tmp_path):
    from xagg_spark.codecs import encode_tile
    from xagg_spark.synth import value_fn

    ck = str(tmp_path / "ck2")
    wm_r, _ = resume_pixel_overlaps(spark, GRID, _polys(), ck, n_buckets=3)
    wm_d = pixel_overlaps(spark, GRID, _polys())
    rows = []
    for t in range(2):
        iy, ix = GRID.tile_pixel_indices(0, 0)
        arr = value_fn(ix, iy, t)
        rows.append({"image_id": f"tile_test_{t:04d}_00000_00000",
                     "bytes": encode_tile(arr, "raw32"), "w": 8, "h": 8,
                     "fmt": "raw32", "caption": "c", "phash": 0})
    imgs = spark.createDataFrame(pd.DataFrame(rows))
    from xagg_spark.operators import tiles_to_pixels
    pix = tiles_to_pixels(imgs, GRID)
    a = aggregate(pix, wm_r).orderBy("poly_idx", "t").toPandas()
    b = aggregate(pix, wm_d).orderBy("poly_idx", "t").toPandas()
    assert np.allclose(a["value"], b["value"], atol=1e-12)

def test_resume_with_weights_threads_weight_column(spark, tmp_path):
    """Round-2 fix: the bucketed path must thread the additional weight grid
    through refine and the checkpoint — previously has_weights was True but
    no weight column existed, so aggregate() failed on an unresolved
    column.  Also: the stitch normalization must be window-free (the same
    groupBy + broadcast join-back as the main path)."""
    from xagg_spark.codecs import encode_tile
    from xagg_spark.operators import tiles_to_pixels
    from xagg_spark.synth import value_fn

    iy, ix = np.meshgrid(np.arange(GRID.nlat), np.arange(GRID.nlon),
                         indexing="ij")
    weights = pd.DataFrame({
        "pix_idx": (iy * GRID.nlon + ix).ravel().astype(np.int64),
        "weight": (((ix + iy) % 2) + 0.5).ravel().astype(np.float64)})

    ck = str(tmp_path / "ckw")
    wm_r, _ = resume_pixel_overlaps(spark, GRID, _polys(), ck, n_buckets=3,
                                    weights_pdf=weights)
    assert wm_r.has_weights and "weight" in wm_r.overlaps.columns
    # stitched plan is window-free (no one-partition-per-polygon skew)
    plan = wm_r.overlaps._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan

    wm_d = pixel_overlaps(spark, GRID, _polys(), weights_pdf=weights)
    rows = []
    for t in range(2):
        tiy, tix = GRID.tile_pixel_indices(0, 0)
        arr = value_fn(tix, tiy, t)
        rows.append({"image_id": f"tile_test_{t:04d}_00000_00000",
                     "bytes": encode_tile(arr, "raw32"), "w": 8, "h": 8,
                     "fmt": "raw32", "caption": "c", "phash": 0})
    imgs = spark.createDataFrame(pd.DataFrame(rows))
    pix = tiles_to_pixels(imgs, GRID)
    a = aggregate(pix, wm_r).orderBy("poly_idx", "t").toPandas()
    b = aggregate(pix, wm_d).orderBy("poly_idx", "t").toPandas()
    assert np.allclose(a["value"], b["value"], atol=1e-12)


def test_manifest_persists_refine_health_counters(spark, tmp_path):
    """VERDICT r3 ask #8: the convexity-fallback counters ride the
    manifest, so a regression that reroutes boundary pixels through the
    per-pixel Python path is visible in every persisted artifact.  On a
    lat/lon grid the projected quads are provably convex annular
    trapezoids -> the fallback count MUST be 0 (boundary refinement
    itself must have happened, the grid crosses polygon edges)."""
    import json
    import os

    wm = pixel_overlaps(spark, GRID, _polys())
    assert wm.n_boundary_refined > 0
    assert wm.n_nonconvex_fallback == 0
    path = str(tmp_path / "wm_health")
    save_weightmap(wm, path)
    with open(os.path.join(path, "_manifest.json")) as f:
        man = json.load(f)
    assert man["refine_stats"]["n_nonconvex_fallback"] == 0
    assert man["refine_stats"]["n_boundary_refined"] == wm.n_boundary_refined
    wm2 = read_wm(spark, path)
    assert wm2.n_nonconvex_fallback == 0
    assert wm2.n_boundary_refined == wm.n_boundary_refined


def test_resume_empty_waves_and_kill_budget_semantics(spark, tmp_path):
    """Review r4 fixes: (1) a wave whose buckets ALL have zero overlap rows
    must commit empty markers (declared-schema read) instead of dying on
    UNABLE_TO_INFER_SCHEMA; (2) _fail_after >= pending completes instead of
    raising; (3) the stitched WeightMap carries REAL refine counters
    accumulated at wave materialization (not vacuous zeros)."""
    tiny = PolygonSet([rect_ring(-1.3, -1.2, -0.9, -0.8)],
                      pd.DataFrame({"name": ["tiny"]}))
    ck = str(tmp_path / "ck_empty")
    # 16 buckets over a 64-pixel grid with a ~1-pixel polygon: most waves
    # are entirely empty
    wm_r, computed = resume_pixel_overlaps(spark, GRID, tiny, ck,
                                           n_buckets=16, wave_size=4)
    assert computed == 16
    want = pixel_overlaps(spark, GRID, tiny)
    got = wm_r.overlaps.orderBy("poly_idx", "pix_idx").toPandas()
    ref = want.overlaps.orderBy("poly_idx", "pix_idx").toPandas()
    assert len(got) == len(ref) > 0
    assert np.allclose(got.rel_area, ref.rel_area, atol=1e-12)
    # refine counters real, not zeros (the tiny polygon is all boundary)
    assert wm_r.n_boundary_refined > 0
    assert wm_r.n_nonconvex_fallback == 0

    # kill budget >= remaining work: completes, no spurious RuntimeError
    ck2 = str(tmp_path / "ck_budget")
    with pytest.raises(RuntimeError):
        resume_pixel_overlaps(spark, GRID, _polys(), ck2, n_buckets=4,
                              _fail_after=3)
    wm2, computed2 = resume_pixel_overlaps(spark, GRID, _polys(), ck2,
                                           n_buckets=4, _fail_after=10)
    assert computed2 == 1                    # only the pending bucket ran
    assert wm2.n_rows == pixel_overlaps(spark, GRID, _polys()).n_rows


def test_stale_wave_tmp_cleaned_on_zero_pending_resume(spark, tmp_path):
    """ADVICE r4: a crash between the final wave's bucket commits and its
    tmp cleanup leaves _wave.tmp behind; a resume with ZERO pending buckets
    never enters the wave loop, so the stitch path must clean it
    unconditionally (stale wave data can be GBs at scale)."""
    import os

    ck = str(tmp_path / "ck_stale")
    resume_pixel_overlaps(spark, GRID, _polys(), ck, n_buckets=4)
    stale = os.path.join(ck, "_wave.tmp")
    os.makedirs(stale)
    with open(os.path.join(stale, "junk.parquet"), "w") as f:
        f.write("leftover")
    wm, computed = resume_pixel_overlaps(spark, GRID, _polys(), ck,
                                         n_buckets=4)
    assert computed == 0                         # nothing recomputed
    assert not os.path.exists(stale)             # stale wave data removed
    want = pixel_overlaps(spark, GRID, _polys())
    assert wm.n_rows == want.n_rows


def _assert_equals_straight(wm, want):
    """Same (poly_idx, pix_idx) rows, rel_area within 1e-12, and the same
    weight column when there is one."""
    got = wm.overlaps.orderBy("poly_idx", "pix_idx").toPandas()
    ref = want.overlaps.orderBy("poly_idx", "pix_idx").toPandas()
    assert len(got) == len(ref) > 0
    assert (got.poly_idx.to_numpy() == ref.poly_idx.to_numpy()).all()
    assert (got.pix_idx.to_numpy() == ref.pix_idx.to_numpy()).all()
    assert np.allclose(got.rel_area, ref.rel_area, rtol=0, atol=1e-12)
    assert ("weight" in got.columns) == ("weight" in ref.columns)
    if "weight" in got.columns:
        assert (got.weight.to_numpy() == ref.weight.to_numpy()).all()


def _kill_after_two_of_four(spark, ck, grid=GRID, weights_pdf=None):
    with pytest.raises(RuntimeError, match="simulated failure"):
        resume_pixel_overlaps(spark, grid, _polys(), ck, n_buckets=4,
                              weights_pdf=weights_pdf, _fail_after=2)


def test_resume_key_covers_buckets_grid_and_weights(spark, tmp_path):
    """A bucket committed by another build — other n_buckets, grid or
    weight grid — is pending: the resume replaces it and the map equals
    the straight build of the resumed call's inputs."""
    ck = str(tmp_path / "ck_nb")
    _kill_after_two_of_four(spark, ck)
    wm, computed = resume_pixel_overlaps(spark, GRID, _polys(), ck,
                                         n_buckets=3)
    assert computed == 3
    _assert_equals_straight(wm, pixel_overlaps(spark, GRID, _polys()))

    fine = GridSpec(lat_edge=-2.0, lon_edge=-2.0, dlat=0.25, dlon=0.25,
                    nlat=16, nlon=16, tile_h=16, tile_w=16)
    ck = str(tmp_path / "ck_grid")
    _kill_after_two_of_four(spark, ck)
    wm, computed = resume_pixel_overlaps(spark, fine, _polys(), ck,
                                         n_buckets=4)
    assert computed == 4
    _assert_equals_straight(wm, pixel_overlaps(spark, fine, _polys()))

    pix = np.arange(GRID.nlat * GRID.nlon, dtype=np.int64)
    w1 = pd.DataFrame({"pix_idx": pix, "weight": np.ones(len(pix))})
    w2 = pd.DataFrame({"pix_idx": pix, "weight": (pix % 3) + 0.5})
    ck = str(tmp_path / "ck_w")
    _kill_after_two_of_four(spark, ck, weights_pdf=w1)
    wm, computed = resume_pixel_overlaps(spark, GRID, _polys(), ck,
                                         n_buckets=4, weights_pdf=w2)
    assert computed == 4
    _assert_equals_straight(
        wm, pixel_overlaps(spark, GRID, _polys(), weights_pdf=w2))


def test_resume_recomputes_bucket_short_of_its_marker(spark, tmp_path):
    """A committed bucket whose parquet footers no longer add up to its
    marker's row count (a part file lost after the commit) is recomputed;
    the other committed bucket is kept."""
    import glob
    import os

    ck = str(tmp_path / "ck_lost")
    _kill_after_two_of_four(spark, ck)
    lost = sorted(glob.glob(os.path.join(ck, "bucket=*", "part-*")))[0]
    os.remove(lost)
    wm, computed = resume_pixel_overlaps(spark, GRID, _polys(), ck,
                                         n_buckets=4)
    assert computed == 3
    _assert_equals_straight(wm, pixel_overlaps(spark, GRID, _polys()))


def test_resume_jobs_grow_with_waves_not_empty_buckets(spark, tmp_path,
                                                       monkeypatch):
    """A fresh resume of a ~1-pixel polygon: 12 of 16 buckets are empty
    and commit a marker-only directory with no Spark job, and each wave
    is one parquet write with a fixed number of jobs (the write and the
    broadcasts it reads).  Jobs are counted by job-id delta between two
    1-task marker jobs: the wave pool's threads do not inherit job
    groups."""
    from pyspark.sql import DataFrameWriter

    tiny = PolygonSet([rect_ring(-1.3, -1.2, -0.9, -0.8)],
                      pd.DataFrame({"name": ["tiny"]}))
    sc = spark.sparkContext

    def last_job_id(tag):
        sc.setJobGroup(tag, tag)
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return max(sc.statusTracker().getJobIdsForGroup(tag))

    writes = []
    parquet = DataFrameWriter.parquet

    def counting_parquet(self, *args, **kwargs):
        writes.append(args[0] if args else kwargs.get("path"))
        return parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting_parquet)
    jobs = {}
    for n_buckets, wave_size in ((16, 4), (4, 1), (16, 8), (16, 16)):
        writes.clear()
        before = last_job_id(f"before_{n_buckets}_{wave_size}")
        wm, computed = resume_pixel_overlaps(
            spark, GRID, tiny, str(tmp_path / f"ck_{n_buckets}_{wave_size}"),
            n_buckets=n_buckets, wave_size=wave_size)
        jobs[n_buckets, wave_size] = (
            last_job_id(f"after_{n_buckets}_{wave_size}") - before - 1)
        wm.unpersist()
        assert computed == n_buckets
        assert len(writes) == -(-n_buckets // wave_size)   # one per wave
    # 4 waves each: 12 empty buckets of 16 cost what 4 buckets cost
    assert jobs[16, 4] == jobs[4, 1], jobs
    # a fixed number of jobs per wave
    per_wave = jobs[16, 8] - jobs[16, 16]
    assert jobs[16, 4] - jobs[16, 16] == 3 * per_wave, jobs
    # one write job plus the wave query's broadcasts, well under the 38
    # jobs of a build that also ran a stats job per wave and a write job
    # per empty bucket
    assert jobs[16, 4] <= 22, jobs
