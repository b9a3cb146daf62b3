"""Deterministic block freeing of the weightmap builds: after
``WeightMap.unpersist()`` no persisted RDD made by the build is left —
neither the raw-area checkpoint(s) nor the polygon cover the build made
for itself — so repeated builds in one session do not pile up storage
until the ContextCleaner's next GC."""

import numpy as np
import pandas as pd

from xagg_spark.grid import GridSpec
from xagg_spark.io.weightmap_io import (read_wm, resume_pixel_overlaps,
                                        save_weightmap)
from xagg_spark.operators import (aggregate, aggregate_quantile,
                                  pixel_geometry, pixel_overlaps)
from xagg_spark.operators import overlaps as _ov
from xagg_spark.operators.knn import knn_pixels
from xagg_spark.polygons import PolygonSet, rect_ring
from xagg_spark.session import free_local_checkpoint

GRID = GridSpec(lat_edge=0.0, lon_edge=0.0, dlat=0.5, dlon=0.5,
                nlat=40, nlon=40, tile_h=20, tile_w=20)


def _polys():
    return PolygonSet([rect_ring(1.2, 1.1, 7.7, 8.3),
                       rect_ring(9.4, 3.3, 15.1, 12.6)],
                      pd.DataFrame({"name": ["a", "b"]}))


def _persisted(spark):
    jsc = spark.sparkContext._jsc
    return {int(i) for i in jsc.getPersistentRDDs().keySet()}


def test_unpersist_frees_every_block_of_a_straight_build(spark):
    before = _persisted(spark)
    wm = pixel_overlaps(spark, GRID, _polys())
    assert wm.n_rows > 0
    wm.unpersist()
    assert not _persisted(spark) - before


def test_unpersist_frees_every_block_of_a_batched_build(spark, monkeypatch):
    monkeypatch.setattr(_ov, "COVER_CELL_BUDGET", 1)
    monkeypatch.setattr(_ov, "POLY_BATCH_MAX_RINGS", 1)
    before = _persisted(spark)
    wm = pixel_overlaps(spark, GRID, _polys())
    assert len(wm._blocks) == 2                      # one per batch
    wm.unpersist()
    assert not _persisted(spark) - before


def test_caller_prep_survives_the_build(spark):
    """A caller-supplied ``_prep`` is shared across builds, so the build
    must leave its cover alone."""
    before = _persisted(spark)
    prep = _ov._overlap_prep(spark, GRID, _polys())
    cover = _persisted(spark) - before
    assert len(cover) == 1
    for _ in range(2):
        pixel_overlaps(spark, GRID, _polys(), _prep=prep).unpersist()
        assert _persisted(spark) - before == cover
    free_local_checkpoint(prep[1])


def test_resume_frees_its_prep_and_stitch(spark, tmp_path):
    before = _persisted(spark)
    wm, computed = resume_pixel_overlaps(spark, GRID, _polys(),
                                         str(tmp_path / "ck"), n_buckets=4,
                                         wave_size=2)
    assert computed == 4 and wm.n_rows > 0
    wm.unpersist()
    assert not _persisted(spark) - before


def test_loaded_weightmap_unpersist_releases_a_cache(spark, tmp_path):
    """A weightmap read from storage has no blocks of its own;
    ``unpersist()`` still releases a ``.cache()`` the caller put on its
    overlaps table."""
    wm = pixel_overlaps(spark, GRID, _polys())
    save_weightmap(wm, str(tmp_path / "wm"))
    wm.unpersist()
    loaded = read_wm(spark, str(tmp_path / "wm"))
    assert not loaded._blocks
    loaded.overlaps.cache()
    assert loaded.overlaps.is_cached
    loaded.unpersist()
    assert not loaded.overlaps.is_cached


def test_straight_build_has_one_block_partition_per_core_and_branch(spark):
    """The pixels are split one partition per core, so the raw-area block
    (the full-cell branch unioned with the refine branch) has at most two
    partitions per core: a finer pixel split pays the fixed start-up cost
    of a Python refine task once per extra partition."""
    wm = pixel_overlaps(spark, GRID, _polys())
    try:
        n = wm._blocks[0].rdd.getNumPartitions()
        assert n <= 2 * spark.sparkContext.defaultParallelism
    finally:
        wm.unpersist()


def test_free_local_checkpoint_frees_zonal_and_knn_results(spark):
    """A zonal result is a lazy merge over its call's checkpoint and a kNN
    result a projection over its rounds' checkpoints: freeing the result
    frees them all, and leaves the weightmap's own blocks alone."""
    wm = pixel_overlaps(spark, GRID, _polys())
    rng = np.random.default_rng(0)
    pix = spark.createDataFrame(pd.DataFrame({
        "pix_idx": np.repeat(np.arange(GRID.nlat * GRID.nlon), 2),
        "var": "tas", "t": np.tile([0, 1], GRID.nlat * GRID.nlon),
        "value": rng.uniform(0.0, 10.0, 2 * GRID.nlat * GRID.nlon)}))
    pixels = pixel_geometry(spark, GRID).select("pix_idx", "lat", "lon")
    centers = pd.DataFrame({"q_id": [0, 1], "c_lat": [5.0, 12.0],
                            "c_lon": [5.0, 1.0]})
    try:
        before = _persisted(spark)
        for make in (lambda: aggregate(pix, wm),
                     lambda: aggregate_quantile(pix, wm, q=0.5),
                     # a small first radius: several rounds, so the result
                     # unions the accepted rows of several checkpoints
                     lambda: knn_pixels(spark, pixels, centers, k=40,
                                        radius_deg=0.3)):
            res = make()
            assert len(res.toPandas()) > 0
            assert _persisted(spark) - before
            free_local_checkpoint(res)
            assert not _persisted(spark) - before
        assert wm.overlaps.count() == wm.n_rows     # its blocks survive
    finally:
        wm.unpersist()
