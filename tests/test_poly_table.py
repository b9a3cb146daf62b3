"""The per-polygon table a WeightMap carries (`poly_table`: poly_idx, row
count n, pix_idx hash-sum h): every constructor hands out the table a
fresh groupBy over its overlaps gives, read_wm checks it against the
saved manifest polygon by polygon, and aggregate() reads it instead of
collecting its own.
"""

import logging
import os
import shutil

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from xagg_spark.grid import GridSpec
from xagg_spark.io.tables import read_copartitioned, save_copartitioned
from xagg_spark.io.weightmap_io import (_wm_from_agg, read_wm, read_wm_xagg,
                                        resume_pixel_overlaps, save_weightmap)
from xagg_spark.operators import aggregate, pixel_overlaps, tiles_to_pixels
from xagg_spark.polygons import PolygonSet, rect_ring
from xagg_spark.synth import generate_spark

GRID = GridSpec(lat_edge=-4.0, lon_edge=-4.0, dlat=0.5, dlon=0.5,
                nlat=16, nlon=16, tile_h=8, tile_w=8)


def _polys():
    return PolygonSet([rect_ring(-3.3, -3.1, 0.7, 0.9),
                       rect_ring(-0.2, 0.1, 3.4, 3.3),
                       rect_ring(1.1, -2.6, 2.9, -0.4)],
                      pd.DataFrame({"name": ["a", "b", "c"]}))


def _fresh_table(wm) -> pd.DataFrame:
    """The table recomputed from scratch over wm.overlaps."""
    return (wm.overlaps.groupBy("poly_idx")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.hash("pix_idx").cast("long")).alias("h"))
              .toPandas().sort_values("poly_idx", ignore_index=True))


def _assert_carries_fresh_table(wm, name):
    got = wm.poly_table[["poly_idx", "n", "h"]].reset_index(drop=True)
    want = _fresh_table(wm)
    assert len(want) == len(_polys()), name
    pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)
    assert wm.n_rows == wm.overlaps.count(), name


def _write_reference_dir(d, grid, polys):
    """A reference-layout weightmap dir without a readable agg (.h5):
    shapefile + classic _lat/_lon.nc; read_wm_xagg rebuilds the overlaps."""
    from xagg_spark.io.netcdf3 import write_netcdf3
    from xagg_spark.io.vector import write_shp
    os.makedirs(d)
    fn = os.path.basename(d)
    write_shp(polys, os.path.join(d, f"{fn}.shp"))
    n = grid.nlat * grid.nlon
    write_netcdf3(os.path.join(d, f"{fn}_lat.nc"), {"loc": n},
                  {"latv": (["loc"], np.repeat(grid.lat_axis(), grid.nlon))})
    write_netcdf3(os.path.join(d, f"{fn}_lon.nc"), {"loc": n},
                  {"lonv": (["loc"], np.tile(grid.lon_axis(), grid.nlat))})


def test_every_constructor_carries_the_fresh_table(spark, tmp_path):
    polys = _polys()
    straight = pixel_overlaps(spark, GRID, polys)
    _assert_carries_fresh_table(straight, "straight build")
    batched = pixel_overlaps(spark, GRID, polys, _batch_max_rings=1)
    _assert_carries_fresh_table(batched, "batched build")
    batched.unpersist()
    resumed, _ = resume_pixel_overlaps(spark, GRID, polys,
                                       str(tmp_path / "ck"), n_buckets=4)
    _assert_carries_fresh_table(resumed, "resumed build")

    path = str(tmp_path / "wm")
    save_weightmap(straight, path)
    _assert_carries_fresh_table(read_wm(spark, path), "read_wm")

    for t in ("ptab_fact", "ptab_overlaps"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    pix = tiles_to_pixels(generate_spark(spark, GRID, ntime=1, fmt="raw32"),
                          GRID)
    save_copartitioned(pix, straight, "ptab", n_buckets=4)
    try:
        _, copart = read_copartitioned(spark, "ptab", polys, GRID,
                                       straight.epsg)
        _assert_carries_fresh_table(copart, "read_copartitioned")
    finally:
        for t in ("ptab_fact", "ptab_overlaps"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    ref_dir = str(tmp_path / "wmx")
    _write_reference_dir(ref_dir, GRID, polys)
    _assert_carries_fresh_table(read_wm_xagg(spark, ref_dir), "read_wm_xagg")
    from_agg = _wm_from_agg(spark, straight.agg_pandas(), polys, GRID, None)
    _assert_carries_fresh_table(from_agg, "read_wm_xagg (agg table)")
    from_agg.unpersist()
    straight.unpersist()


def _rewrite_overlaps(path, pdf):
    ov_dir = os.path.join(path, "overlaps")
    shutil.rmtree(ov_dir)
    os.makedirs(ov_dir)
    pdf.to_parquet(os.path.join(ov_dir, "part-00000.parquet"), index=False)


def test_read_wm_names_the_polygon_whose_rows_changed(spark, tmp_path):
    """The saved total row count holds, but one polygon's rows differ from
    the manifest: read_wm must refuse the map and name that polygon."""
    wm = pixel_overlaps(spark, GRID, _polys())
    path = str(tmp_path / "wm")
    save_weightmap(wm, path)
    wm.unpersist()
    saved = pd.read_parquet(os.path.join(path, "overlaps"))
    row = saved.index[saved["poly_idx"] == 1][0]

    moved = saved.copy()               # a row of polygon 1 moves to 0
    moved.loc[row, "poly_idx"] = 0
    _rewrite_overlaps(path, moved)
    with pytest.raises(ValueError, match="corrupt: polygon 0 "):
        read_wm(spark, path)

    shifted = saved.copy()             # polygon 1 keeps its row count
    shifted.loc[row, "pix_idx"] = saved["pix_idx"].max() + 1
    _rewrite_overlaps(path, shifted)
    with pytest.raises(ValueError, match="corrupt: polygon 1 "):
        read_wm(spark, path)

    _rewrite_overlaps(path, saved)     # the untouched rows read back
    assert read_wm(spark, path).n_rows == len(saved)


def test_read_wm_refuses_other_manifest_versions(spark, tmp_path):
    import json
    wm = pixel_overlaps(spark, GRID, _polys())
    path = str(tmp_path / "wm")
    save_weightmap(wm, path)
    wm.unpersist()
    mp = os.path.join(path, "_manifest.json")
    with open(mp) as f:
        man = json.load(f)
    assert man["version"] == 2
    assert set(man["lineage"]["per_poly"]["0"]) == {"rows", "hash"}
    man["version"] = 1
    with open(mp, "w") as f:
        json.dump(man, f)
    with pytest.raises(ValueError, match="manifest version 1"):
        read_wm(spark, path)


def _agg_records(caplog) -> list:
    return [r.aggregate for r in caplog.records if hasattr(r, "aggregate")]


def test_repeat_for_loop_aggregate_collects_nothing(spark, monkeypatch,
                                                    caplog):
    """The dense certificate reads the carried table: no for_loop call on
    a WeightMap — the second included — collects a per-polygon table."""
    wm = pixel_overlaps(spark, GRID, _polys())
    pix = tiles_to_pixels(generate_spark(spark, GRID, ntime=2, fmt="raw32"),
                          GRID).localCheckpoint()
    calls = []
    frame_cls = type(pix)              # the session's concrete DataFrame
    for name in ("toPandas", "collect"):
        orig = getattr(frame_cls, name)

        def counted(self, *a, _orig=orig, _name=name, **k):
            calls.append(_name)
            return _orig(self, *a, **k)
        monkeypatch.setattr(frame_cls, name, counted)
    pix.select("pix_idx").limit(1).collect()
    assert calls == ["collect"]        # the counter sees collects
    calls.clear()
    caplog.set_level(logging.DEBUG, logger="xagg_spark.operators.aggregate")
    first = aggregate(pix, wm, impl="for_loop")
    assert calls == []
    keys = ["poly_idx", "var", "t"]
    first_pdf = first.toPandas().sort_values(keys, ignore_index=True)
    calls.clear()
    second = aggregate(pix, wm, impl="for_loop")
    assert calls == []
    assert [r["dense"] for r in _agg_records(caplog)] == [True, True]
    pd.testing.assert_frame_equal(
        first_pdf, second.toPandas().sort_values(keys, ignore_index=True))
    wm.unpersist()


def test_saved_and_read_back_dense_means_are_bit_identical(spark, tmp_path,
                                                           caplog):
    """Two build -> save -> read_wm -> dense aggregate chains in one
    session give the same means to the last bit."""
    pix = tiles_to_pixels(generate_spark(spark, GRID, ntime=2, fmt="raw32"),
                          GRID).localCheckpoint()
    caplog.set_level(logging.DEBUG, logger="xagg_spark.operators.aggregate")
    means = []
    for i in range(2):
        built = pixel_overlaps(spark, GRID, _polys())
        path = str(tmp_path / f"wm{i}")
        save_weightmap(built, path)
        built.unpersist()
        out = (aggregate(pix, read_wm(spark, path))
               .orderBy("poly_idx", "var", "t").toPandas())
        means.append(out["value"].to_numpy())
    assert [r["dense"] for r in _agg_records(caplog)] == [True, True]
    assert np.isfinite(means[0]).all()
    assert means[0].tobytes() == means[1].tobytes()
