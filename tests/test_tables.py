"""Iceberg-or-parquet table helpers + tile-level bbox pushdown."""

import numpy as np

from xagg_spark.grid import GridSpec
from xagg_spark.io.tables import (iceberg_available, prefilter_images_bbox,
                                  read_images, write_images)
from xagg_spark.operators import aggregate, pixel_overlaps, tiles_to_pixels
from xagg_spark.polygons import PolygonSet, rect_ring
from xagg_spark.synth import generate_spark

GRID = GridSpec(lat_edge=0.0, lon_edge=0.0, dlat=0.5, dlon=0.5,
                nlat=32, nlon=32, tile_h=8, tile_w=8)


def test_roundtrip_with_bucketing(spark, tmp_path):
    p = str(tmp_path / "imgs")
    imgs = generate_spark(spark, GRID, ntime=1, fmt="raw32")
    write_images(imgs, p, mode="overwrite")
    back = read_images(spark, p)
    assert back.count() == GRID.ntiles
    assert "tile_bucket" in back.columns
    # iceberg not present in this env: helper must report it honestly
    assert iceberg_available(spark) is False


def test_tile_bbox_prefilter_prunes_and_preserves_results(spark):
    imgs = generate_spark(spark, GRID, ntime=1, fmt="raw32")
    polys = PolygonSet([rect_ring(1.2, 1.1, 4.3, 3.9)])
    lon0, lat0, lon1, lat1 = polys.total_bounds()
    pruned = prefilter_images_bbox(imgs, GRID, lon0 - 1, lat0 - 1,
                                   lon1 + 1, lat1 + 1)
    n_all, n_pruned = imgs.count(), pruned.count()
    assert n_pruned < n_all  # actually pruned whole tiles
    # identical aggregate from the pruned table
    wm = pixel_overlaps(spark, GRID, polys)
    a = aggregate(tiles_to_pixels(imgs, GRID), wm).toPandas()
    b = aggregate(tiles_to_pixels(pruned, GRID), wm).toPandas()
    a = a.sort_values(["poly_idx", "t"]).reset_index(drop=True)
    b = b.sort_values(["poly_idx", "t"]).reset_index(drop=True)
    assert np.allclose(a["value"], b["value"], equal_nan=True)


def test_copartitioned_join_is_exchange_free(spark, tmp_path):
    """save_copartitioned buckets fact + overlaps on pix_idx: the aggregate
    join plan is a SortMergeJoin with NO Exchange on either input (the one
    remaining shuffle in the pipeline, removed at write time), and the
    aggregate over the bucketed pair matches the broadcast-path result."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.functions as F

    from xagg_spark.grid import GridSpec
    from xagg_spark.io.tables import read_copartitioned, save_copartitioned
    from xagg_spark.operators import aggregate, pixel_overlaps, tiles_to_pixels
    from xagg_spark.polygons import PolygonSet, rect_ring
    from xagg_spark.synth import generate_spark

    import shutil
    for t in ("copart_t_fact", "copart_t_overlaps"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    grid = GridSpec(lat_edge=-4.0, lon_edge=-4.0, dlat=0.5, dlon=0.5,
                    nlat=16, nlon=16, tile_h=8, tile_w=8)
    polys = PolygonSet([rect_ring(-2.3, -2.1, 2.2, 2.4)],
                       pd.DataFrame({"name": ["x"]}))
    wm = pixel_overlaps(spark, grid, polys)
    pix = tiles_to_pixels(generate_spark(spark, grid, ntime=2, fmt="raw32"),
                          grid)
    save_copartitioned(pix, wm, "copart_t", n_buckets=4)
    fact, wm2 = read_copartitioned(spark, "copart_t", polys, grid, wm.epsg)

    # force the non-broadcast strategy so the bucket distribution (not AQE
    # broadcasting tiny test tables) is what's under test
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ov = wm2.overlaps.select("poly_idx", "pix_idx", "rel_area")
        joined = fact.join(ov, "pix_idx")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(pix_idx" not in plan
        assert "SelectedBucketsCount" in plan     # bucketed scan really used
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)

    a = (aggregate(fact, wm2, broadcast_overlaps=False)
         .orderBy("t").toPandas())
    b = aggregate(pix, wm).orderBy("t").toPandas()
    np.testing.assert_allclose(a["value"], b["value"], rtol=0, atol=1e-12)
    spark.sql("DROP TABLE IF EXISTS copart_t_fact")
    spark.sql("DROP TABLE IF EXISTS copart_t_overlaps")


def test_fact_overlaps_join_strategy_by_shape(spark):
    """r4 review fix: the SHUFFLE_HASH hint must apply ONLY where the join
    genuinely shuffles.  On bucketed co-partitioned tables Catalyst WOULD
    honor the hint (flipping the exchange-free sorted-bucket merge to a
    per-task hash build), so aggregate's join helper must omit it there;
    on plain inputs it must produce a ShuffledHashJoin."""
    import shutil

    import pandas as pd

    from xagg_spark.io.tables import read_copartitioned, save_copartitioned
    from xagg_spark.operators.aggregate import _fact_overlaps_join

    for t in ("jstrat_fact", "jstrat_overlaps"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    grid = GridSpec(lat_edge=-4.0, lon_edge=-4.0, dlat=0.5, dlon=0.5,
                    nlat=16, nlon=16, tile_h=8, tile_w=8)
    polys = PolygonSet([rect_ring(-2.3, -2.1, 2.2, 2.4)],
                       pd.DataFrame({"name": ["x"]}))
    wm = pixel_overlaps(spark, grid, polys)
    pix = tiles_to_pixels(generate_spark(spark, grid, ntime=2, fmt="raw32"),
                          grid)
    save_copartitioned(pix, wm, "jstrat", n_buckets=4)
    fact, wm2 = read_copartitioned(spark, "jstrat", polys, grid, wm.epsg)
    assert wm2.bucketed

    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ov = wm2.overlaps.select("poly_idx", "pix_idx", "rel_area")
        jb = _fact_overlaps_join(fact, ov, broadcast_overlaps=False,
                                 bucketed=True)
        pb = jb._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in pb and "ShuffledHashJoin" not in pb
        assert "Exchange hashpartitioning(pix_idx" not in pb

        ov_plain = wm.overlaps.select("poly_idx", "pix_idx", "rel_area")
        js = _fact_overlaps_join(pix, ov_plain, broadcast_overlaps=False,
                                 bucketed=False)
        ps = js._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in ps
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    for t in ("jstrat_fact", "jstrat_overlaps"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_copartitioned_read_verifies_integrity(spark, tmp_path):
    """VERDICT r4 ask #8: the exchange-free join trusts the catalog's
    bucket layout, so read_copartitioned must verify the pair against the
    save-time manifest — a foreign-tampered table fails HERE with a clear
    error instead of silently mis-joining."""
    import glob
    import json as _json
    import os
    import shutil

    import pandas as pd
    import pytest

    from xagg_spark.io.tables import (_copart_manifest_path,
                                      read_copartitioned,
                                      save_copartitioned)

    for t in ("integ_fact", "integ_overlaps"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    grid = GridSpec(lat_edge=-4.0, lon_edge=-4.0, dlat=0.5, dlon=0.5,
                    nlat=16, nlon=16, tile_h=8, tile_w=8)
    polys = PolygonSet([rect_ring(-2.3, -2.1, 2.2, 2.4)],
                       pd.DataFrame({"name": ["x"]}))
    wm = pixel_overlaps(spark, grid, polys)
    pix = tiles_to_pixels(generate_spark(spark, grid, ntime=1, fmt="raw32"),
                          grid)
    save_copartitioned(pix, wm, "integ", n_buckets=4)

    # pristine pair: verification passes
    read_copartitioned(spark, "integ", polys, grid, wm.epsg)

    # corrupt fixture 1: a data file vanishes (hand-copied / partial sync)
    files = sorted(glob.glob("spark-warehouse/integ_overlaps/part-*"))
    assert files
    moved = str(tmp_path / os.path.basename(files[0]))
    os.rename(files[0], moved)
    spark.catalog.refreshTable("integ_overlaps")
    try:
        with pytest.raises(ValueError, match="integ_overlaps.*corrupt.*rows"):
            read_copartitioned(spark, "integ", polys, grid, wm.epsg)
    finally:
        os.rename(moved, files[0])
        spark.catalog.refreshTable("integ_overlaps")

    # corrupt fixture 2: manifest bucket count disagrees with the catalog
    mpath = _copart_manifest_path(spark, "integ")
    with open(mpath) as f:
        man = _json.load(f)
    man_bad = dict(man, n_buckets=8)
    with open(mpath, "w") as f:
        _json.dump(man_bad, f)
    with pytest.raises(ValueError, match="catalog says 4 buckets"):
        read_copartitioned(spark, "integ", polys, grid, wm.epsg)
    with open(mpath, "w") as f:
        _json.dump(man, f)

    for t in ("integ_fact", "integ_overlaps"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_tile_bucket_partition_pruning(spark, tmp_path):
    """VERDICT r4 ask #4: the image_id string-parse predicates gate the
    decode UDF but are not parquet-stats-pushable — the POSITION-derived
    tile_bucket partition column is the real 100 TB prune.  Pin that the
    bucket IN-list becomes PartitionFilters and the scan reads a STRICT
    SUBSET of the table's files, while results stay identical to the
    unpruned prefilter."""
    from xagg_spark.io.tables import (bucket_filter_for_bbox,
                                      prefilter_images_bbox, write_images)

    p = str(tmp_path / "imgs_part")
    imgs = generate_spark(spark, GRID, ntime=2, fmt="raw32")
    write_images(imgs, p, mode="overwrite", tile_buckets=8,
                 one_file_per_bucket=True)
    back = spark.read.parquet(p)
    bbox = (1.2, 1.1, 4.3, 3.9)            # lon0, lat0, lon1, lat1
    buckets = bucket_filter_for_bbox(GRID, bbox[0], bbox[1], bbox[2],
                                     bbox[3], tile_buckets=8)
    assert buckets is not None and 0 < len(buckets) < 8   # real subset

    pruned = prefilter_images_bbox(back, GRID, *bbox, tile_buckets=8)
    plain = prefilter_images_bbox(back, GRID, *bbox)
    # identical rows with and without the bucket predicate
    assert (sorted(r.image_id for r in pruned.collect())
            == sorted(r.image_id for r in plain.collect()))

    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tile_bucket" in plan
    # files actually read: FileSourceScan's numFiles metric after the
    # action above vs the table's total file count
    leaves = pruned._jdf.queryExecution().executedPlan().collectLeaves()
    num_files = None
    for i in range(leaves.size()):
        node = leaves.apply(i)
        m = node.metrics()
        if m.contains("numFiles"):
            num_files = m.apply("numFiles").value()
    total_files = spark.read.parquet(p).inputFiles()
    assert num_files is not None
    assert num_files == len(buckets)       # one file per bucket layout
    assert num_files < len(total_files)    # strict subset of the table

    # a bbox missing the grid entirely prunes to zero rows, no error
    missed = prefilter_images_bbox(back, GRID, 500.0, 500.0, 501.0, 501.0,
                                   tile_buckets=8)
    assert missed.count() == 0


def test_bucket_filter_for_bbox_edge_cases():
    """Pure-driver unit: the bbox->bucket enumeration must wrap with the
    modulus on tall grids, saturate to None (no prune) when every bucket
    is present, and return [] for a bbox that misses the grid.  The row
    range is deliberately widened by one tile row per side (code-review
    r5: the JVM float tile-edge arithmetic can disagree with the driver's
    by one ulp at tile-aligned bbox edges, and the bucket list must be a
    conservative SUPERSET of the rows the tile predicates keep)."""
    from xagg_spark.io.tables import bucket_filter_for_bbox

    tall = GridSpec(lat_edge=0.0, lon_edge=0.0, dlat=0.5, dlon=0.5,
                    nlat=96, nlon=16, tile_h=8, tile_w=8)   # 12 tile rows
    # interior rows 9..11 widened to 8..11 with 8 buckets -> residues 0..3
    assert bucket_filter_for_bbox(tall, 0.0, 36.0, 8.0, 48.0,
                                  tile_buckets=8) == [0, 1, 2, 3]
    # >= tile_buckets rows in range: every bucket present -> None
    assert bucket_filter_for_bbox(tall, 0.0, 0.0, 8.0, 48.0,
                                  tile_buckets=8) is None
    # bbox entirely off-grid -> []
    assert bucket_filter_for_bbox(tall, 200.0, 200.0, 201.0, 201.0,
                                  tile_buckets=8) == []
    # bucket count larger than the row count: identity buckets; bottom
    # edge clamps at 0, top edge widens into row 2
    assert bucket_filter_for_bbox(tall, 0.0, 0.0, 8.0, 7.9,
                                  tile_buckets=64) == [0, 1, 2]
    # superset property: a tile-row-ALIGNED bbox edge (the ulp-risk case)
    # must still include the row on both sides of the edge
    aligned = bucket_filter_for_bbox(tall, 0.0, 16.0, 8.0, 16.0,
                                     tile_buckets=64)
    assert set(aligned) >= {3, 4}


def test_tile_layout_manifest_guards(spark, tmp_path):
    """write_images records the bucket layout in _tile_layout.json;
    appends with a different layout fail fast (mixed bucket semantics in
    one table would silently drop rows at prune time), and
    prefilter_images_bbox(layout_path=) resolves the true write-time
    bucket count from the manifest instead of trusting the caller."""
    import json
    import os

    import pytest

    from xagg_spark.io.tables import read_tile_layout

    p = str(tmp_path / "imgs_layout")
    imgs = generate_spark(spark, GRID, ntime=1, fmt="raw32")
    write_images(imgs, p, mode="overwrite", tile_buckets=8,
                 one_file_per_bucket=True)
    layout = read_tile_layout(p)
    assert layout == {"scheme": "ty_mod", "tile_buckets": 8}

    # append with the SAME layout: fine
    write_images(imgs, p, mode="append", tile_buckets=8,
                 one_file_per_bucket=True)
    # append with a DIFFERENT bucket count: fail fast
    with pytest.raises(ValueError, match="mixed bucket layouts"):
        write_images(imgs, p, mode="append", tile_buckets=16)

    # layout_path resolves the bucket count from the manifest
    back = spark.read.parquet(p)
    bbox = (1.2, 1.1, 4.3, 3.9)
    via_manifest = prefilter_images_bbox(back, GRID, *bbox, layout_path=p)
    explicit = prefilter_images_bbox(back, GRID, *bbox, tile_buckets=8)
    assert (sorted(r.image_id for r in via_manifest.collect())
            == sorted(r.image_id for r in explicit.collect()))
    plan = via_manifest._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tile_bucket" in plan

    # no manifest at the path -> clear error, not silent bad pruning
    with pytest.raises(ValueError, match="no _tile_layout.json"):
        prefilter_images_bbox(back, GRID, *bbox,
                              layout_path=str(tmp_path / "nowhere"))

    # unknown scheme -> refuse to prune with wrong arithmetic
    with open(os.path.join(p, "_tile_layout.json"), "w") as f:
        json.dump({"scheme": "xxhash64", "tile_buckets": 8}, f)
    with pytest.raises(ValueError, match="bucket scheme"):
        prefilter_images_bbox(back, GRID, *bbox, layout_path=p)


def test_tile_layout_relative_path_and_ignore_mode(spark, tmp_path):
    """Code-review r5: (1) a bare relative path (no '/') is a real
    parquet table when no Iceberg runtime exists — its manifest must
    resolve and the mixed-append guard must fire (the old guard treated
    any '/'-free target as an Iceberg identifier and skipped both);
    (2) mode='ignore' on an existing table skips the data write, so it
    must NOT restamp the manifest with a layout the files were never
    rewritten with.  Relative paths resolve against the shared
    JVM==driver cwd, so the table is written under the test cwd and
    cleaned up afterwards."""
    import shutil

    import pytest

    from xagg_spark.io.tables import read_tile_layout

    imgs = generate_spark(spark, GRID, ntime=1, fmt="raw32")
    rel = "tmp_imgs_rel_layout_test"
    try:
        write_images(imgs, rel, mode="overwrite", tile_buckets=8)
        assert read_tile_layout(rel) == {"scheme": "ty_mod",
                                         "tile_buckets": 8}
        with pytest.raises(ValueError, match="mixed bucket layouts"):
            write_images(imgs, rel, mode="append", tile_buckets=16)

        # ignore on an EXISTING table: no data write -> manifest untouched
        write_images(imgs, rel, mode="ignore", tile_buckets=16)
        assert read_tile_layout(rel) == {"scheme": "ty_mod",
                                         "tile_buckets": 8}
    finally:
        shutil.rmtree(rel, ignore_errors=True)
    # ignore on a NEW table: data written -> manifest recorded
    p_new = str(tmp_path / "imgs_new")
    write_images(imgs, p_new, mode="ignore", tile_buckets=4)
    assert read_tile_layout(p_new) == {"scheme": "ty_mod",
                                       "tile_buckets": 4}


def test_append_to_manifestless_table_raises(spark, tmp_path):
    """Code-review r5s4: an append onto an EXISTING table with no
    _tile_layout.json must fail fast — the table's bucket layout cannot
    be verified, and stamping the append's layout over it would be the
    pruner lie the manifest exists to prevent.  Fresh targets (nothing
    on disk) still append fine."""
    import os

    import pytest

    from xagg_spark.io.tables import read_tile_layout

    imgs = generate_spark(spark, GRID, ntime=1, fmt="raw32")
    p = str(tmp_path / "imgs_manifestless")
    # a table written by some foreign tool: data, no manifest
    write_images(imgs, p, mode="overwrite", tile_buckets=8)
    os.remove(os.path.join(p, "_tile_layout.json"))
    with pytest.raises(ValueError, match="no _tile_layout.json"):
        write_images(imgs, p, mode="append", tile_buckets=8)
    assert read_tile_layout(p) is None        # nothing was stamped
    # appending to a target that does not exist yet stays allowed
    p2 = str(tmp_path / "imgs_fresh_append")
    write_images(imgs, p2, mode="append", tile_buckets=8)
    assert read_tile_layout(p2) == {"scheme": "ty_mod", "tile_buckets": 8}
