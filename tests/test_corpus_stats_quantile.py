"""Tests for round-5 additions: corpus boilerplate removal, n-gram top-k,
exact stratified sampling, and the weighted-quantile zonal statistic."""

import numpy as np
import pandas as pd
import pytest
import pyspark.sql.functions as F


# ---------------------------------------------------------------------------
# remove_frequent_units
# ---------------------------------------------------------------------------

def _docs(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame([{"doc_id": i, "text": t} for i, t in enumerate(rows)]))


def test_remove_frequent_units_strikes_and_preserves_order(spark):
    from xagg_spark.operators.text import remove_frequent_units
    df = _docs(spark, ["the cat the mat", "the dog", "the bird mat",
                       "rare words only"])
    # 'the' in 3 docs, 'mat' in 2; threshold 2 strikes both everywhere
    out = (remove_frequent_units(df, min_doc_count=2)
           .orderBy("doc_id").toPandas())
    assert list(out["clean_text"]) == ["cat", "dog", "bird",
                                       "rare words only"]
    assert list(out["n_removed"]) == [3, 1, 2, 0]
    assert list(out["n_kept"]) == [1, 1, 1, 3]


def test_remove_frequent_units_fully_boilerplate_doc_empty(spark):
    from xagg_spark.operators.text import remove_frequent_units
    df = _docs(spark, ["the the", "the", "unique"])
    out = (remove_frequent_units(df, min_doc_count=2)
           .orderBy("doc_id").toPandas())
    assert list(out["clean_text"]) == ["", "", "unique"]
    assert list(out["n_kept"]) == [0, 0, 1]
    # every input doc survives in the output (no row loss on empty docs)
    assert len(out) == 3


def test_remove_frequent_units_newline_delim_line_dedup(spark):
    from xagg_spark.operators.text import remove_frequent_units
    df = _docs(spark, ["copyright foo\nbody one", "copyright foo\nbody two"])
    out = (remove_frequent_units(df, min_doc_count=2, delim="\n")
           .orderBy("doc_id").toPandas())
    assert list(out["clean_text"]) == ["body one", "body two"]


def test_remove_frequent_units_rejects_threshold_below_two(spark):
    from xagg_spark.operators.text import remove_frequent_units
    with pytest.raises(ValueError, match="min_doc_count"):
        remove_frequent_units(_docs(spark, ["a"]), min_doc_count=1)


# ---------------------------------------------------------------------------
# ngram_topk
# ---------------------------------------------------------------------------

def test_ngram_topk_counts_and_tiebreak(spark):
    from xagg_spark.operators.text import ngram_topk
    df = spark.createDataFrame(pd.DataFrame([
        {"doc_id": 0, "lang": "en", "text": "a b a b a"},
        {"doc_id": 1, "lang": "en", "text": "a b c"},
        {"doc_id": 2, "lang": "de", "text": "x"},          # < n words: no grams
        {"doc_id": 3, "lang": "de", "text": "x y"},
    ]))
    out = ngram_topk(df, n=2, k=2, by="lang").orderBy("lang", "rank").toPandas()
    en = out[out["lang"] == "en"]
    # 'a b' x3, 'b a' x2, 'b c' x1 -> top-2 deterministic
    assert list(en["ngram"]) == ["a b", "b a"]
    assert list(en["n_occurrences"]) == [3, 2]
    de = out[out["lang"] == "de"]
    assert list(de["ngram"]) == ["x y"] and list(de["n_occurrences"]) == [1]


def test_ngram_topk_rejects_bad_n(spark):
    from xagg_spark.operators.text import ngram_topk
    with pytest.raises(ValueError, match="n must be"):
        ngram_topk(spark.range(1).withColumn("lang", F.lit("en"))
                   .withColumn("text", F.lit("a")), n=0)


# ---------------------------------------------------------------------------
# stratified_sample
# ---------------------------------------------------------------------------

def test_stratified_sample_exact_counts_and_stability(spark):
    from xagg_spark.operators.split import stratified_sample
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(100),
        "lang": ["en"] * 80 + ["de"] * 17 + ["fr"] * 3,
    }))
    out = stratified_sample(df, "lang", 10, "doc_id").toPandas()
    counts = out.groupby("lang")["doc_id"].count().to_dict()
    # exactly n for big strata, everything for the small one
    assert counts == {"en": 10, "de": 10, "fr": 3}
    assert set(out["sample_rank"]) <= set(range(1, 11))
    # repartitioning the input must not change the draw
    out2 = (stratified_sample(df.repartition(7), "lang", 10, "doc_id")
            .toPandas())
    a = out.sort_values(["lang", "doc_id"]).reset_index(drop=True)
    b = out2.sort_values(["lang", "doc_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # a different salt redraws (overwhelmingly likely to differ on 80 ids)
    out3 = stratified_sample(df, "lang", 10, "doc_id", salt="v2").toPandas()
    assert set(out3[out3["lang"] == "en"]["doc_id"]) != \
        set(out[out["lang"] == "en"]["doc_id"])


def test_stratified_sample_guards(spark):
    from xagg_spark.operators.split import stratified_sample
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "lang": ["en"]}))
    with pytest.raises(ValueError, match="n_per_stratum"):
        stratified_sample(df, "lang", 0, "doc_id")
    with pytest.raises(ValueError, match="sample_rank"):
        stratified_sample(df.withColumn("sample_rank", F.lit(1)),
                          "lang", 1, "doc_id")


# ---------------------------------------------------------------------------
# aggregate_quantile
# ---------------------------------------------------------------------------

def _toy_wm_and_facts(spark, values_by_pix, weights_by_pix, npoly=1):
    """One polygon overlapping len(values) pixels with given rel weights."""
    from xagg_spark.operators.overlaps import WeightMap, poly_table_of
    from xagg_spark.polygons import PolygonSet, rect_ring

    rows = []
    for p in range(npoly):
        tot = sum(weights_by_pix)
        for i, w in enumerate(weights_by_pix):
            rows.append({"poly_idx": p, "pix_idx": i, "rel_area": w / tot,
                         "lat": 0.0, "lon": float(i)})
    ov = spark.createDataFrame(pd.DataFrame(rows))
    polys = PolygonSet([rect_ring(0, 0, 1, 1) for _ in range(npoly)],
                       pd.DataFrame({"name": [f"p{i}" for i in range(npoly)]}))
    wm = WeightMap(ov, polys, grid=None, epsg=6933,
                   poly_table=poly_table_of(ov), has_weights=False)
    facts = spark.createDataFrame(pd.DataFrame(
        [{"pix_idx": i, "var": "v", "t": 0, "value": float(v)}
         for i, v in enumerate(values_by_pix)]))
    return wm, facts


def test_aggregate_quantile_matches_numpy_definition(spark):
    from xagg_spark.operators.aggregate import aggregate_quantile
    rng = np.random.RandomState(7)
    vals = rng.rand(40) * 100
    wts = rng.rand(40) + 0.01
    wm, facts = _toy_wm_and_facts(spark, vals, wts)
    for q in (0.25, 0.5, 0.9, 1.0):
        got = (aggregate_quantile(facts, wm, q=q, dims=("var", "t"))
               .toPandas()["value"].iloc[0])
        order = np.argsort(vals, kind="stable")
        cw = np.cumsum(wts[order] / wts.sum())
        want = vals[order][np.searchsorted(cw, q * cw[-1])]
        assert got == pytest.approx(want, abs=0), (q, got, want)


def test_aggregate_quantile_skips_nan_and_fills_empty_with_nan(spark):
    from xagg_spark.operators.aggregate import aggregate_quantile
    # poly 0 overlaps pixels 0..3; values: one NaN dropped, median of rest;
    # poly 1 exists in the attr table but overlaps nothing -> NaN out
    wm, facts = _toy_wm_and_facts(
        spark, [10.0, np.nan, 30.0, 20.0], [1.0, 1.0, 1.0, 1.0], npoly=1)
    from xagg_spark.polygons import PolygonSet, rect_ring
    wm.polys = PolygonSet([rect_ring(0, 0, 1, 1), rect_ring(2, 2, 3, 3)],
                          pd.DataFrame({"name": ["p0", "p1"]}))
    out = (aggregate_quantile(facts, wm, q=0.5, dims=("var", "t"))
           .orderBy("poly_idx").toPandas())
    assert out["value"].iloc[0] == 20.0        # finite {10,20,30} median
    assert np.isnan(out["value"].iloc[1])      # zero-overlap polygon


def test_aggregate_quantile_tie_break_and_validation(spark):
    from xagg_spark.operators.aggregate import aggregate_quantile
    # equal values across every pixel: quantile is that value at any q
    wm, facts = _toy_wm_and_facts(spark, [5.0] * 6, [1.0] * 6)
    out = aggregate_quantile(facts, wm, q=0.5).toPandas()
    assert out["value"].iloc[0] == 5.0
    with pytest.raises(ValueError, match="q must be"):
        aggregate_quantile(facts, wm, q=0.0)
    with pytest.raises(ValueError, match="q must be"):
        aggregate_quantile(facts, wm, q=1.5)


def test_aggregate_quantile_deterministic_across_parallelism(spark):
    from xagg_spark.operators.aggregate import aggregate_quantile
    rng = np.random.RandomState(11)
    vals = np.round(rng.rand(64) * 9)          # many ties -> exercises the
    wts = rng.rand(64) + 0.01                  # (value, pix_idx) tie-break
    wm, facts = _toy_wm_and_facts(spark, vals, wts)
    a = aggregate_quantile(facts, wm, q=0.5).toPandas()["value"].iloc[0]
    b = (aggregate_quantile(facts.repartition(13), wm, q=0.5)
         .toPandas()["value"].iloc[0])
    assert a == b


def test_aggregate_quantiles_one_pass_matches_single_q(spark):
    from xagg_spark.operators.aggregate import (aggregate_quantile,
                                                aggregate_quantiles)
    rng = np.random.RandomState(3)
    vals = rng.rand(48) * 50
    wts = rng.rand(48) + 0.01
    wm, facts = _toy_wm_and_facts(spark, vals, wts)
    qs = [0.25, 0.5, 0.75, 1.0]
    multi = (aggregate_quantiles(facts, wm, qs)
             .orderBy("q").toPandas())
    assert list(multi["q"]) == qs
    for q in qs:
        single = (aggregate_quantile(facts, wm, q=q)
                  .toPandas()["value"].iloc[0])
        got = multi[multi["q"] == q]["value"].iloc[0]
        assert got == single, (q, got, single)
    # zero-overlap polygon gets NaN for EVERY q via the attr outer-merge
    from xagg_spark.polygons import PolygonSet, rect_ring
    wm.polys = PolygonSet([rect_ring(0, 0, 1, 1), rect_ring(2, 2, 3, 3)],
                          pd.DataFrame({"name": ["p0", "p1"]}))
    out = (aggregate_quantiles(facts, wm, qs)
           .filter(F.col("poly_idx") == 1).toPandas())
    assert len(out) == len(qs) and out["value"].isna().all()


def test_aggregate_quantiles_validation(spark):
    from xagg_spark.operators.aggregate import aggregate_quantiles
    wm, facts = _toy_wm_and_facts(spark, [1.0], [1.0])
    with pytest.raises(ValueError, match="non-empty"):
        aggregate_quantiles(facts, wm, [])
    with pytest.raises(ValueError, match="every q"):
        aggregate_quantiles(facts, wm, [0.5, 1.2])
    with pytest.raises(ValueError, match="duplicates"):
        aggregate_quantiles(facts, wm, [0.5, 0.5])


def test_aggregate_quantile_promotes_missing_var_like_aggregate(spark):
    from xagg_spark.operators.aggregate import (aggregate_quantile,
                                                aggregate_quantiles)
    wm, facts = _toy_wm_and_facts(spark, [1.0, 2.0, 3.0], [1.0, 1.0, 1.0])
    bare = facts.drop("var")
    with pytest.warns(UserWarning, match="no 'var' column"):
        out = aggregate_quantile(bare, wm, q=0.5).toPandas()
    assert out["var"].iloc[0] == "var" and out["value"].iloc[0] == 2.0
    with pytest.warns(UserWarning, match="no 'var' column"):
        out2 = aggregate_quantiles(bare, wm, [0.5]).toPandas()
    assert out2["value"].iloc[0] == 2.0


def test_aggregate_quantiles_odd_value_col_and_q_collision(spark):
    from xagg_spark.operators.aggregate import aggregate_quantiles
    wm, facts = _toy_wm_and_facts(spark, [1.0, 2.0, 3.0], [1.0, 1.0, 1.0])
    odd = facts.withColumnRenamed("value", "my value")
    out = (aggregate_quantiles(odd, wm, [0.5], value_col="my value")
           .toPandas())
    assert out["my value"].iloc[0] == 2.0
    with pytest.raises(ValueError, match="'q' is the quantile"):
        aggregate_quantiles(facts.withColumnRenamed("value", "q"), wm,
                            [0.5], value_col="q")


def test_kfold_deterministic_map_only_and_guards(spark):
    from xagg_spark.operators.split import kfold
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(500)}))
    out = kfold(df, "doc_id", k=5).toPandas()
    assert set(out["fold"]) == set(range(5))
    # roughly balanced (binomial bound, deterministic fixture)
    assert out.groupby("fold").size().between(60, 140).all()
    out2 = kfold(df.repartition(7), "doc_id", k=5).toPandas()
    a = out.sort_values("doc_id").reset_index(drop=True)
    b = out2.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # map-only: no Exchange in the plan
    plan = (kfold(df, "doc_id")._jdf.queryExecution().executedPlan()
            .toString())
    assert "Exchange" not in plan, plan
    with pytest.raises(ValueError, match="k must be"):
        kfold(df, "doc_id", k=1)
    with pytest.raises(ValueError, match="fold column"):
        kfold(df.withColumn("fold", F.lit(0)), "doc_id")
