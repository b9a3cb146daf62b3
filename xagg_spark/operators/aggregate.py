"""aggregate: NaN-renormalizing weighted mean over the overlap table.

Reproduces the reference's default ``impl='for_loop'`` semantics
(/root/reference/xagg/core.py:776-827, normalize at auxfuncs.py:10-53):

  w_p(pix)  = rel_area(pix) * add_weight(pix)
  valid(pix) = NOT all-NaN(value[pix, over all non-loc dims])   # one mask
                                                                # shared by
                                                                # all dims
  w_hat     = w_p / sum_{valid} w_p          (NaN if denominator == 0)
  agg[dim]  = sum_{terms where v and w_hat finite} v * w_hat    # skipna sum
  agg       = 0.0 when a polygon has valid pixels but every term at this dim
              is NaN (xarray .sum(skipna=True) of all-NaN -> 0.0)
  agg       = NaN when the polygon has no overlap or no valid pixels

Physical plan (byte-traffic-minimal form):

  ONE fact ⨝ overlaps equi-join on pix_idx (broadcast when the weightmap
  fits, so the fact table never shuffles) feeding the numerator aggregate,
  which simultaneously OBSERVES the joined row count and the non-finite
  value count (accumulators, zero extra passes).  When the observation
  proves the data dense and all-finite — joined rows == overlap_rows x
  |dims-space| and zero NaN/NULL values, both exact integers — the
  for_loop denominators collapse to per-polygon weight sums over the
  overlap table alone (r6 adaptive fast path: no second pass over the
  join, no per-pixel validity table).  Otherwise the general per-pixel
  validity aggregate runs over the join.  Everything after is tiny
  broadcast joins.

All-variable aggregation happens in a single pass (reference loops vars but
reuses the weightmap, core.py:718-721).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _nan():
    return F.lit(float("nan"))


def _finite(c):
    return ~F.isnan(c) & c.isNotNull()


# auto-broadcast threshold for the overlap side: when the weightmap fits a
# broadcast, the (usually vastly larger) fact table never shuffles and the
# final aggregate is map-side partial + a tiny reduce.  5M rows ~= 250 MB
# hash relation (5 numeric cols) — comfortably broadcastable, and on a real
# cluster shipping 250 MB to each executor beats shuffling a multi-TB fact
# table by orders of magnitude.  Re-measured at 3.8M rows on local[32] with
# the weightmap persisted: broadcast 5.3s vs shuffle join 13.5s.  Weightmaps
# above the threshold (continental 0.01-degree grids) take the shuffle join;
# co-partitioning both sides on pix_idx at write time removes that exchange
# too (io.tables bucketing).
BROADCAST_OVERLAPS_MAX_ROWS = 5_000_000


def _fact_overlaps_join(pix_values: DataFrame, ov: DataFrame,
                        broadcast_overlaps: bool, bucketed: bool) -> DataFrame:
    """The engine's one big join, strategy by input shape:

    - broadcast: the (small) overlap side ships to every task; the fact
      table never shuffles;
    - bucketed co-partitioned tables (read_copartitioned sets
      WeightMap.bucketed): NO hint — the sorted buckets merge-stream
      exchange-free, which is the design.  A SHUFFLE_HASH hint here WOULD
      be honored by Catalyst (verified: it flips the exchange-free
      sorted-bucket SortMergeJoin to an exchange-free ShuffledHashJoin),
      hash-building an entire overlap bucket (n_rows/n_buckets rows) in
      memory per task — exactly the pressure bucketing exists to avoid —
      and with n_rows=None it would also pin the strategy against AQE's
      broadcast conversion;
    - otherwise the join genuinely shuffles: SHUFFLE_HASH with the
      overlap side as build skips both SortMergeJoin sort passes
      (measured at the 4x bench, 23M x 15M rows: aggregate min-of-3
      20.1s -> 6.4s).  SHJ spills since Spark 3.1, and AQE skew
      splitting stays active on the exchange."""
    if broadcast_overlaps:
        return pix_values.join(F.broadcast(ov), "pix_idx")
    if bucketed:
        return pix_values.join(ov, "pix_idx")
    return pix_values.join(ov.hint("SHUFFLE_HASH"), "pix_idx")


def aggregate(pix_values: DataFrame, wm, dims=("var", "t"),
              value_col: str = "value",
              broadcast_overlaps: bool | None = None,
              impl: str | None = None,
              silent: bool | None = None) -> DataFrame:
    """pix_values: long DataFrame (pix_idx, *dims, value).  wm: WeightMap.

    Returns tidy long result: (poly_idx, *attrs, *dims, value).  `var` in
    dims plays the reference's per-variable loop; `t`/`plev`/... are the
    non-loc dims carried through (reference A3: one hash aggregate per
    (poly_idx, dims)).

    impl='for_loop' (default): the reference's default NaN semantics — ONE
    validity mask per pixel (valid iff any finite value across the non-loc
    dims); NaN terms drop from the numerator only
    (/root/reference/xagg/core.py:776-827).

    impl='dot_product': the reference's dot-product semantics — weights are
    masked PER (pixel, dim-coordinate) and renormalized per coordinate
    (`weights_and_overlaps.where(var_array.notnull(), 0)`,
    /root/reference/xagg/core.py:716-775).  The two impls agree exactly on
    all-finite data and diverge under partial NaN (a pixel NaN at some
    timesteps): dot_product drops that pixel's weight at those timesteps,
    for_loop keeps it.  A coordinate with no valid pixels yields 0.0
    (reference: 0/0 weights fillna(0) -> dot = 0.0), except a variable that
    is NaN EVERYWHERE yields NaN (reference multiplies by nan).
    """
    from ..options import get_options
    if impl is None:
        impl = get_options()["impl"]
    if impl == "numba":           # subsumed by the hash aggregate (§2.4)
        impl = "for_loop"
    if impl not in ("for_loop", "dot_product"):
        raise ValueError(f"impl must be 'for_loop' or 'dot_product', got {impl!r}")
    if silent is None:
        silent = get_options()["silent"]

    pix_values, dims = _promote_var(pix_values, dims)
    if not silent:
        print(f"aggregating variables (impl={impl})...")
    dims = list(dims)
    has_var = "var" in dims
    vkeys = ["var"] if has_var else []
    v = F.col(value_col)
    joined = _weighted_fact_join(pix_values, wm, broadcast_overlaps)

    if impl == "dot_product":
        # per-(pixel, dim-coordinate) weight masking: numerator AND
        # denominator from ONE hash aggregate over the joined tree
        res = (joined.groupBy("poly_idx", *dims)
                     .agg(F.sum(F.when(_finite(v), v * F.col("_w"))).alias("_s"),
                          F.sum(F.when(_finite(v), F.col("_w"))).alias("_d")))
        from pyspark.sql import Window
        w_var = Window.partitionBy(*vkeys) if vkeys else \
            Window.partitionBy(F.lit(1))
        # _dmax == 0 over the whole variable <=> every value NaN -> NaN
        # (this window runs on the tiny polys x dims result, not the fact)
        res = (res.withColumn("_dmax", F.max("_d").over(w_var))
                  .withColumn(
                      value_col,
                      F.when(F.coalesce(F.col("_dmax"), F.lit(0.0)) == 0.0, _nan())
                       .when(F.coalesce(F.col("_d"), F.lit(0.0)) == 0.0, F.lit(0.0))
                       .otherwise(F.col("_s") / F.col("_d")))
                  .select("poly_idx", *dims, value_col))
        return _merge_attrs(res, pix_values.sparkSession, wm, dims, value_col)

    # numerators in ONE pass over the joined tree, with an Observation
    # counting the joined rows and the non-finite values DURING the same
    # job (accumulator-based — no extra pass).  The checkpointed result is
    # tiny (one row per poly x dims).
    from pyspark.sql import Observation
    obs = Observation()
    res = (joined.observe(obs,
                          F.count(F.lit(1)).alias("_rows"),
                          F.sum(F.when(~_finite(v), 1).otherwise(0))
                           .alias("_bad"))
                 .groupBy("poly_idx", *dims)
                 .agg(F.sum(F.when(_finite(v), v * F.col("_w"))).alias("_s"))
                 .localCheckpoint(eager=True))
    m = obs.get
    n_ov = getattr(wm, "n_rows", None)
    n_combos = (res.select(*dims).distinct().count() if dims else 1)
    # DENSE + all-finite fast path: when every value is finite AND the
    # joined row count equals overlap_rows x |dims-space| (every overlap
    # pixel carries the full dims cross product — the reference's stacked
    # layout, and the common clean-data case), every pixel is VALID for
    # every var by construction, so the for_loop denominators (core.py:812)
    # collapse to per-polygon weight sums over the OVERLAP table alone —
    # no second pass over the fact join, no per-pixel validity table.
    # Both conditions are exact integers observed from this very job;
    # anything else (NaNs, missing tiles, bbox-subset facts, unknown
    # n_rows) takes the general per-pixel path below.
    if (n_ov is not None and int(m["_bad"] or 0) == 0
            and int(m["_rows"] or 0) == n_ov * n_combos):
        denom = (_ov_weighted(wm)
                 .groupBy("poly_idx")
                 .agg(F.sum("_w").alias("_denom"),
                      F.count(F.lit(1)).alias("_n_valid")))
        if vkeys:
            denom = denom.crossJoin(res.select(*vkeys).distinct())
    else:
        # general path (for_loop NaN semantics, core.py:812 + normalize
        # drop_na, auxfuncs.py:10-53): a pixel is VALID for (poly[, var])
        # iff it has >= 1 finite value across the non-loc dims; denom =
        # sum of _w over valid pixels — a second two-level aggregate over
        # the join.  Pixels absent from the fact table are treated as
        # all-NaN (excluded), matching the reference where every stacked
        # loc carries (possibly NaN) values.
        level1 = (joined.groupBy("poly_idx", "pix_idx", *vkeys)
                        .agg(F.first("_w").alias("_w"),
                             F.max(F.when(_finite(v), 1).otherwise(0))
                              .alias("_af")))
        denom = (level1.filter(F.col("_af") == 1)
                       .groupBy("poly_idx", *vkeys)
                       .agg(F.sum("_w").alias("_denom"),
                            F.count(F.lit(1)).alias("_n_valid")))

    # NaN result when no valid pixels; 0.0 when valid pixels exist but
    # every term at this dim was NaN or denom == 0 (xarray skipna sum)
    res = (res.join(F.broadcast(denom), ["poly_idx"] + vkeys, "left")
              .withColumn(
                  value_col,
                  F.when(F.coalesce(F.col("_n_valid"), F.lit(0)) == 0, _nan())
                   .when(F.col("_denom") == 0.0, F.lit(0.0))
                   .otherwise(F.coalesce(F.col("_s") / F.col("_denom"),
                                         F.lit(0.0))))
              .select("poly_idx", *dims, value_col))

    return _merge_attrs(res, pix_values.sparkSession, wm, dims, value_col)


def _merge_attrs(res: DataFrame, spark, wm, dims, value_col) -> DataFrame:
    """Outer merge onto polygon attrs (reference J3, core.py:533-538): keep
    zero-overlap polygons with NaN values for every dim combination.
    dim_space comes from the (tiny) result, not another fact-table scan.
    value_col: one column name or a list (multi-stat results) — every
    listed DOUBLE column gets the NaN fill; other types keep NULL."""
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    attrs = spark.createDataFrame(wm.polys.attrs)
    # materialize the (tiny: polys x dims) result ONCE before it fans out
    # into the dim-space branch and the final join — otherwise the two
    # branches race ahead of the cache and the whole fact-join pipeline
    # runs twice.  localCheckpoint (not persist) also truncates lineage, so
    # the merge below schedules bare block-read tasks instead of dragging
    # the full decode/join closure into every task.
    res = res.localCheckpoint(eager=True)
    dim_space = res.select(*dims).distinct()
    full = F.broadcast(attrs).crossJoin(F.broadcast(dim_space))
    out = full.join(res, on=["poly_idx"] + list(dims), how="left")
    fillable = {c for c, t in res.dtypes if t in ("double", "float")}
    for vc in value_cols:
        if vc in fillable:
            out = out.withColumn(vc, F.when(F.col(vc).isNull(), _nan())
                                      .otherwise(F.col(vc)))
    return out


def aggregate_quantile(pix_values: DataFrame, wm, q: float = 0.5,
                       dims=("var", "t"), value_col: str = "value",
                       broadcast_overlaps: bool | None = None) -> DataFrame:
    """Exact weighted q-quantile per (polygon, *dims) — the zonal-statistic
    extension beyond the reference's weighted mean (same weight model:
    w = rel_area * add_weight, reference core.py:716-775).

    Definition (lower weighted quantile, no interpolation, engine-portable):
    sort the polygon's finite pixel values ascending (ties broken by
    pix_idx), take the running weight sum cw, and return the first value
    whose cw >= q * total_weight.  total_weight is computed as max(cw) over
    the partition — i.e. the SAME left-to-right accumulation that produced
    cw — so the threshold comparison is internally consistent whatever
    floating-point association an engine uses for its windowed sums.
    A flip between engines would need q*total to land within accumulated
    rounding error (~1e-12 relative) of a cw step (one pixel weight, ~1e-3
    of total for realistic polygons) — ruled out in practice and pinned by
    the driver oracle.

    NaN semantics: non-finite values are dropped before ranking (skipna);
    a (polygon, dims) group with no finite value — and any zero-overlap
    polygon — comes back NaN via the attr outer-merge (reference J3).

    Physical plan: the same single fact ⨝ overlaps join as `aggregate`
    (broadcast / bucketed / SHUFFLE_HASH by input shape), then ONE window
    Exchange+Sort on (poly_idx, *dims) with both window functions and the
    final min-aggregate riding the same sort — no second shuffle.  At
    100 TB the partition size is one polygon's pixel count; a continental
    polygon that overflows a task calls for the percentile_approx sketch
    instead, not this exact path.
    """
    if not (0.0 < q <= 1.0):
        raise ValueError(f"q must be in (0, 1], got {q!r}")
    pix_values, dims = _promote_var(pix_values, dims)
    ranked = _ranked_by_weight(pix_values, wm, dims, value_col,
                               broadcast_overlaps)
    v = F.col(value_col)
    res = (ranked.groupBy("poly_idx", *dims)
                 .agg(F.min(F.when(F.col("_cw") >= F.lit(float(q)) * F.col("_tw"), v))
                       .alias(value_col)))
    return _merge_attrs(res, pix_values.sparkSession, wm, dims, value_col)


def _ov_weighted(wm) -> DataFrame:
    """Overlap side with the weight column `_w` = rel_area * add_weight —
    shared by the fact join head and the dense-path denominators."""
    over = wm.overlaps
    if not wm.has_weights:
        over = over.withColumn("weight", F.lit(1.0))
    return over.select("poly_idx", "pix_idx",
                       (F.col("rel_area") * F.col("weight")).alias("_w"))


def _weighted_fact_join(pix_values: DataFrame, wm,
                        broadcast_overlaps: bool | None) -> DataFrame:
    """The shared head of every zonal-stat entry point: weight column
    `_w` = rel_area * add_weight, then fact ⨝ overlaps on pix_idx via
    `_fact_overlaps_join` (broadcast / bucketed / SHUFFLE_HASH by input
    shape).  The broadcast decision uses the row count CARRIED on the
    WeightMap (pixel_overlaps/read_wm set it) — never an eager count()
    here, which would re-execute the whole overlap DAG when the caller
    did not persist it."""
    ov = _ov_weighted(wm)
    if broadcast_overlaps is None:
        n_rows = getattr(wm, "n_rows", None)
        broadcast_overlaps = (n_rows is not None
                              and n_rows <= BROADCAST_OVERLAPS_MAX_ROWS)
    return _fact_overlaps_join(pix_values, ov, broadcast_overlaps,
                               getattr(wm, "bucketed", False))


def _promote_var(pix_values: DataFrame, dims) -> tuple:
    """DataArray-promotion facade shared by every zonal-stat entry point
    (reference wrappers.py:80-84 / core.py:686-692): a fact table without
    the variable column is an "unnamed DataArray" — promote it to a single
    variable named 'var' with the reference's warning."""
    dims = list(dims)
    if "var" in dims and "var" not in pix_values.columns:
        import warnings
        warnings.warn("input has no 'var' column (unnamed-DataArray analog); "
                      "the output variable will be \"var\"")
        pix_values = pix_values.withColumn("var", F.lit("var"))
    return pix_values, dims


def _ranked_by_weight(pix_values: DataFrame, wm, dims, value_col: str,
                      broadcast_overlaps: bool | None) -> DataFrame:
    """Shared quantile machinery: fact ⨝ overlaps (strategy by input
    shape), finite filter, running weight sum `_cw` over (value, pix_idx)
    asc within (poly_idx, *dims), and the partition total `_tw` = max of
    the SAME accumulation — one window Exchange+Sort carries everything."""
    from pyspark.sql import Window
    joined = _weighted_fact_join(pix_values, wm, broadcast_overlaps)
    v = F.col(value_col)
    finite = joined.filter(_finite(v))
    w_run = (Window.partitionBy("poly_idx", *dims)
                   .orderBy(v.asc(), F.col("pix_idx").asc())
                   .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy("poly_idx", *dims)
    return (finite.withColumn("_cw", F.sum("_w").over(w_run))
                  .withColumn("_tw", F.max(F.col("_cw")).over(w_all)))


def aggregate_quantiles(pix_values: DataFrame, wm, qs,
                        dims=("var", "t"), value_col: str = "value",
                        broadcast_overlaps: bool | None = None) -> DataFrame:
    """Several exact weighted quantiles in ONE pass: same single window
    Exchange+Sort as `aggregate_quantile`, with one conditional-min
    aggregate column per requested q, stacked to long form afterwards
    (the stack runs on the tiny polys x dims result, not the fact).
    Returns (poly_idx, *attrs, *dims, q, value) — one row per quantile.
    """
    qs = [float(x) for x in qs]
    if not qs:
        raise ValueError("qs must be non-empty")
    for x in qs:
        if not (0.0 < x <= 1.0):
            raise ValueError(f"every q must be in (0, 1], got {x!r}")
    if len(set(qs)) != len(qs):
        raise ValueError("qs contains duplicates")
    if value_col == "q" or "q" in dims:
        raise ValueError("'q' is the quantile output column — rename "
                         "value_col / dims")
    pix_values, dims = _promote_var(pix_values, dims)
    ranked = _ranked_by_weight(pix_values, wm, dims, value_col,
                               broadcast_overlaps)
    v = F.col(value_col)
    aggs = [F.min(F.when(F.col("_cw") >= F.lit(x) * F.col("_tw"), v))
             .alias(f"_q{i}") for i, x in enumerate(qs)]
    wide = ranked.groupBy("poly_idx", *dims).agg(*aggs)
    # melt wide -> long with explode over literal (q, value) structs — no
    # SQL-string interpolation, so any legal column name works unchanged
    melted = F.explode(F.array(*[
        F.struct(F.lit(x).cast("double").alias("q"),
                 F.col(f"_q{i}").alias(value_col))
        for i, x in enumerate(qs)])).alias("_s")
    res = (wide.select("poly_idx", *dims, melted)
               .select("poly_idx", *dims, F.col("_s.q").alias("q"),
                       F.col("_s").getField(value_col).alias(value_col)))
    return _merge_attrs(res, pix_values.sparkSession, wm, dims + ["q"],
                        value_col)


def aggregate_stats(pix_values: DataFrame, wm, dims=("var", "t"),
                    value_col: str = "value",
                    broadcast_overlaps: bool | None = None) -> DataFrame:
    """One-pass weighted summary statistics per (polygon, *dims):
    weighted mean, weighted POPULATION variance (E[x^2]-E[x]^2 over the
    weight measure, clamped at 0 against rounding), min, max, and the
    count of finite pixel terms — the zonal-stats report card beside the
    reference's single mean.

    Everything comes out of ONE map-side-combinable hash aggregate over
    the same fact ⨝ overlaps join as `aggregate` (broadcast / bucketed /
    SHUFFLE_HASH by input shape) — no window, no second shuffle, so this
    is strictly cheaper than the quantile path at any scale.  NaN terms
    drop (skipna); a group with no finite value — and any zero-overlap
    polygon — comes back NaN via the attr outer-merge.
    Returns (poly_idx, *attrs, *dims, mean, variance, min, max, n_valid).
    """
    pix_values, dims = _promote_var(pix_values, dims)
    stat_cols = {"mean", "variance", "min", "max", "n_valid"}
    clash = stat_cols.intersection(dims) | ({value_col} & stat_cols)
    if clash:
        raise ValueError(f"dims/value_col collide with the stat output "
                         f"column(s) {sorted(clash)} — rename them")
    joined = _weighted_fact_join(pix_values, wm, broadcast_overlaps)
    v = F.col(value_col)
    finite = joined.filter(_finite(v))
    agg = (finite.groupBy("poly_idx", *dims)
                 .agg(F.sum("_w").alias("_sw"),
                      F.sum(v * F.col("_w")).alias("_swv"),
                      F.sum(v * v * F.col("_w")).alias("_swv2"),
                      F.min(v).alias("min"),
                      F.max(v).alias("max"),
                      F.count(F.lit(1)).alias("n_valid")))
    mean = F.col("_swv") / F.col("_sw")
    res = (agg.withColumn("mean", mean)
              .withColumn("variance", F.greatest(
                  F.col("_swv2") / F.col("_sw") - mean * mean, F.lit(0.0)))
              .select("poly_idx", *dims, "mean", "variance", "min", "max",
                      F.col("n_valid").cast("long").alias("n_valid")))
    out = _merge_attrs(res, pix_values.sparkSession, wm, dims,
                       ["mean", "variance", "min", "max"])
    # a zero-overlap polygon has zero finite terms, not an unknown count
    return out.withColumn("n_valid",
                          F.coalesce("n_valid", F.lit(0)).cast("long"))

