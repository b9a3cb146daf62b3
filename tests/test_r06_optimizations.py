"""Round-6 optimization pins: the changed internals must keep their
contracts — single-file sorted buckets, aggregation-based kNN top-k
equivalence, and the per-group dense certificate of aggregate() with its
one-checkpoint-per-call shape."""

import logging
import shutil

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from xagg_spark.grid import GridSpec
from xagg_spark.polygons import PolygonSet, rect_ring


def test_save_copartitioned_single_file_per_bucket(spark):
    """The write must land exactly ONE file per bucket per table — the
    precondition for Spark trusting the sortBy metadata at scan time
    (multi-file buckets silently re-Sort the 'exchange-free' join)."""
    from xagg_spark.io.tables import save_copartitioned
    from xagg_spark.operators import pixel_overlaps, tiles_to_pixels
    from xagg_spark.synth import generate_spark

    for t in ("sfb_fact", "sfb_overlaps"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    grid = GridSpec(lat_edge=-4.0, lon_edge=-4.0, dlat=0.5, dlon=0.5,
                    nlat=16, nlon=16, tile_h=8, tile_w=8)
    polys = PolygonSet([rect_ring(-2.3, -2.1, 2.2, 2.4)],
                       pd.DataFrame({"name": ["x"]}))
    wm = pixel_overlaps(spark, grid, polys)
    pix = tiles_to_pixels(
        generate_spark(spark, grid, ntime=2, fmt="raw32"), grid)
    # many input partitions so the old layout would have produced
    # n_partitions x n_buckets files
    save_copartitioned(pix.repartition(8), wm, "sfb", n_buckets=4)
    for t in ("sfb_fact", "sfb_overlaps"):
        files = spark.table(t).inputFiles()
        assert len(files) == 4, (t, files)
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    wm.unpersist()


def test_topk_struct_agg_matches_window_ranking(spark):
    """_topk_struct_agg must reproduce row_number() over (dist2 asc,
    pix_idx asc) exactly, including ties and under-k groups."""
    from xagg_spark.operators.knn import _topk_struct_agg

    rows = []
    rng = np.random.RandomState(7)
    for q in range(30):
        n = int(rng.randint(1, 12))
        for i in range(n):
            # forced ties: quantized distances
            rows.append((q, float(rng.randint(0, 4)), int(rng.randint(0, 50))))
    df = spark.createDataFrame(rows, "q_id long, dist2 double, pix_idx long")
    got = (_topk_struct_agg(df, 5)
           .select("q_id", F.posexplode("_t").alias("_p", "_s"))
           .select("q_id", (F.col("_p") + 1).alias("rank"),
                   F.col("_s.dist2").alias("dist2"),
                   F.col("_s.pix_idx").alias("pix_idx"))
           .toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True))
    from pyspark.sql import Window
    w = Window.partitionBy("q_id").orderBy(F.asc("dist2"), F.asc("pix_idx"))
    want = (df.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= 5)
              .toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got[["q_id", "rank", "dist2", "pix_idx"]].astype(
            {"rank": "int64"}),
        want[["q_id", "rank", "dist2", "pix_idx"]].astype(
            {"rank": "int64"}))


def _agg_records(caplog) -> list:
    """The aggregate module's per-call DEBUG decision records."""
    return [r.aggregate for r in caplog.records if hasattr(r, "aggregate")]


def _for_loop_reference(ov: pd.DataFrame, facts: pd.DataFrame,
                        n_poly: int) -> pd.DataFrame:
    """Driver-side for_loop mean per (poly_idx, var, t): a pixel is valid
    for (poly, var) iff it has a finite value at some t, and weighs into
    that denominator once; every finite fact row is a numerator term
    (duplicates included).  Groups with no fact row come back NaN, like
    the outer merge onto the polygon attrs."""
    j = facts.merge(ov, on="pix_idx")
    j = j[np.isfinite(j["value"])]
    den = (j.drop_duplicates(["poly_idx", "pix_idx", "var"])
             .groupby(["poly_idx", "var"])["rel_area"].sum())
    num = ((j["value"] * j["rel_area"]).groupby(
        [j["poly_idx"], j["var"], j["t"]]).sum())
    space = facts[["var", "t"]].drop_duplicates()
    rows = []
    for p in range(n_poly):
        for var, t in space.itertuples(index=False):
            has = ((j["poly_idx"] == p) & (j["var"] == var)).any()
            rows.append((p, var, t, num.get((p, var, t), 0.0) / den[(p, var)]
                         if has else np.nan))
    return pd.DataFrame(rows, columns=["poly_idx", "var", "t", "expected"])


def _assert_matches_reference(got: pd.DataFrame, ov: pd.DataFrame,
                              facts: pd.DataFrame, n_poly: int) -> None:
    want = _for_loop_reference(ov, facts, n_poly)
    m = want.merge(got[["poly_idx", "var", "t", "value"]],
                   on=["poly_idx", "var", "t"], how="outer")
    assert len(m) == len(want) == len(got)
    e, g = m["expected"].to_numpy(), m["value"].to_numpy(dtype=float)
    np.testing.assert_array_equal(np.isnan(e), np.isnan(g))
    np.testing.assert_allclose(g[~np.isnan(e)], e[~np.isnan(e)],
                               rtol=1e-12, atol=0)


def _overlap_table(wm) -> pd.DataFrame:
    return (wm.overlaps.select("poly_idx", "pix_idx", "rel_area").toPandas()
              .sort_values(["poly_idx", "pix_idx"], ignore_index=True))


def test_aggregate_dense_fast_path_equals_general_path(spark, caplog):
    """The dense-data denominator shortcut must produce the for_loop
    answer: dense all-finite data takes the dense path and a NaN-poked
    fact the general path — read from the call's decision record — and
    both match a driver-side numpy for_loop reference."""
    from xagg_spark.operators import aggregate, pixel_overlaps, tiles_to_pixels
    from xagg_spark.synth import generate_spark

    grid = GridSpec(lat_edge=-6.0, lon_edge=-6.0, dlat=0.5, dlon=0.5,
                    nlat=20, nlon=24, tile_h=10, tile_w=12)
    polys = PolygonSet([rect_ring(-3.3, -3.1, 3.2, 3.4),
                        rect_ring(0.1, -5.0, 5.5, -0.7)],
                       pd.DataFrame({"name": ["a", "b"]}))
    wm = pixel_overlaps(spark, grid, polys)
    ov = _overlap_table(wm)
    pix = tiles_to_pixels(
        generate_spark(spark, grid, ntime=2, fmt="raw32"), grid)
    # poke one pixel's t=0 value to NaN: its group fails the fingerprint
    poked = pix.withColumn(
        "value", F.when((F.col("pix_idx") == 200) & (F.col("t") == 0),
                        float("nan")).otherwise(F.col("value")))
    caplog.set_level(logging.DEBUG, logger="xagg_spark.operators.aggregate")
    for fact, dense in ((pix, True), (poked, False)):
        caplog.clear()
        got = aggregate(fact, wm, dims=("var", "t")).toPandas()
        (rec,) = _agg_records(caplog)
        assert (rec["op"], rec["impl"], rec["dense"]) == \
            ("aggregate", "for_loop", dense)
        assert rec["join"] == "broadcast"      # a small map broadcasts
        assert (rec["mismatched"] == 0) is dense
        assert np.isfinite(got["value"]).all()
        _assert_matches_reference(got, ov, fact.toPandas(), n_poly=2)
    wm.unpersist()


def test_aggregate_duplicate_cancelling_missing_pixel_is_not_dense(
        spark, caplog):
    """A duplicated fact row must not cancel a missing one: a global row
    count (rows == overlap rows x dim space) calls this fact dense and
    returns 1.75; the per-group fingerprint (hash-sum of the pixel ids)
    sends it to the general path, whose for_loop answer is 7/3."""
    from xagg_spark.operators import aggregate, pixel_overlaps

    grid = GridSpec(lat_edge=0.0, lon_edge=0.0, dlat=1.0, dlon=1.0,
                    nlat=4, nlon=4, tile_h=4, tile_w=4)
    polys = PolygonSet([rect_ring(0.0, 0.0, 2.0, 2.0)],
                       pd.DataFrame({"name": ["a"]}))
    wm = pixel_overlaps(spark, grid, polys)
    ov = _overlap_table(wm)
    p = ov["pix_idx"].tolist()
    assert len(p) == 4                       # the 2x2 block {0, 1, 4, 5}
    # first pixel twice, last pixel absent: four rows for four pixels
    facts = pd.DataFrame({"pix_idx": [p[0], p[0], p[1], p[2]],
                          "var": "v", "t": 0, "value": [1.0, 1.0, 2.0, 3.0]})
    caplog.set_level(logging.DEBUG, logger="xagg_spark.operators.aggregate")
    got = aggregate(spark.createDataFrame(facts), wm).toPandas()
    (rec,) = _agg_records(caplog)
    assert (rec["dense"], rec["groups"], rec["mismatched"]) == (False, 1, 1)
    assert got["value"].iloc[0] == pytest.approx(7 / 3, abs=1e-3)
    _assert_matches_reference(got, ov, facts, n_poly=1)
    wm.unpersist()


def test_aggregate_polygon_without_fact_rows_stays_dense(spark, caplog):
    """A fact covering one polygon completely and the other not at all is
    dense for every group it has: the record says dense, the covered
    polygon matches the numpy for_loop reference and the other is NaN."""
    from xagg_spark.operators import aggregate, pixel_overlaps

    grid = GridSpec(lat_edge=0.0, lon_edge=0.0, dlat=1.0, dlon=1.0,
                    nlat=8, nlon=8, tile_h=8, tile_w=8)
    polys = PolygonSet([rect_ring(0.5, 0.5, 3.0, 3.0),
                        rect_ring(5.0, 5.0, 7.5, 7.0)],
                       pd.DataFrame({"name": ["a", "b"]}))
    wm = pixel_overlaps(spark, grid, polys)
    ov = _overlap_table(wm)
    rng = np.random.RandomState(3)
    pix_a = ov.loc[ov["poly_idx"] == 0, "pix_idx"].tolist()
    facts = pd.DataFrame([(px, var, t, float(rng.rand()))
                          for px in pix_a for var in ("u", "w")
                          for t in (0, 1)],
                         columns=["pix_idx", "var", "t", "value"])
    caplog.set_level(logging.DEBUG, logger="xagg_spark.operators.aggregate")
    got = aggregate(spark.createDataFrame(facts), wm).toPandas()
    (rec,) = _agg_records(caplog)
    assert (rec["dense"], rec["groups"], rec["mismatched"]) == (True, 4, 0)
    assert got.loc[got["poly_idx"] == 1, "value"].isna().all()
    _assert_matches_reference(got, ov, facts, n_poly=2)
    wm.unpersist()


def test_zonal_calls_checkpoint_once(spark, caplog):
    """aggregate (dense path), aggregate_stats, aggregate_quantile and
    aggregate_quantiles each leave exactly one new persistent RDD: the
    checkpoint of their per-group reduce."""
    from xagg_spark.operators import pixel_overlaps
    from xagg_spark.operators.aggregate import (aggregate, aggregate_quantile,
                                                aggregate_quantiles,
                                                aggregate_stats)

    grid = GridSpec(lat_edge=0.0, lon_edge=0.0, dlat=1.0, dlon=1.0,
                    nlat=6, nlon=6, tile_h=6, tile_w=6)
    polys = PolygonSet([rect_ring(0.5, 0.5, 4.0, 3.5)],
                       pd.DataFrame({"name": ["a"]}))
    wm = pixel_overlaps(spark, grid, polys)
    rng = np.random.RandomState(5)
    facts = spark.createDataFrame(pd.DataFrame(
        [(px, "v", t, float(rng.rand())) for px in range(36) for t in (0, 1)],
        columns=["pix_idx", "var", "t", "value"]))
    jsc = spark.sparkContext._jsc

    def persisted():
        return {int(i) for i in jsc.getPersistentRDDs().keySet()}

    caplog.set_level(logging.DEBUG, logger="xagg_spark.operators.aggregate")
    calls = {"aggregate": lambda: aggregate(facts, wm),
             "aggregate_stats": lambda: aggregate_stats(facts, wm),
             "aggregate_quantile": lambda: aggregate_quantile(facts, wm),
             "aggregate_quantiles":
                 lambda: aggregate_quantiles(facts, wm, [0.25, 0.75])}
    for name, call in calls.items():
        before = persisted()
        call().toPandas()
        new = persisted() - before
        assert len(new) == 1, (name, new)
        for i in new:
            jsc.sc().unpersistRDD(i, False)
    assert _agg_records(caplog)[0]["dense"] is True
    wm.unpersist()


def test_aggregate_quantile_rejects_q_named_columns(spark):
    """aggregate_quantile is aggregate_quantiles([q]) without the q
    column, so a dim or value column named q raises as it does there."""
    from xagg_spark.operators.overlaps import WeightMap, poly_table_of
    from xagg_spark.operators.aggregate import aggregate_quantile

    ov = spark.createDataFrame(pd.DataFrame(
        {"poly_idx": [0], "pix_idx": [0], "rel_area": [1.0],
         "lat": [0.0], "lon": [0.0]}))
    wm = WeightMap(ov, PolygonSet([rect_ring(0, 0, 1, 1)]), grid=None,
                   epsg=6933, poly_table=poly_table_of(ov))
    facts = spark.createDataFrame(pd.DataFrame(
        {"pix_idx": [0], "var": ["v"], "q": [0], "value": [1.0]}))
    with pytest.raises(ValueError, match="'q' is the quantile output"):
        aggregate_quantile(facts, wm, dims=("var", "q"))
    with pytest.raises(ValueError, match="'q' is the quantile output"):
        aggregate_quantile(facts, wm, dims=("var",), value_col="q")
