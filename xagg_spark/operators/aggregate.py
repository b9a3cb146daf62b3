"""aggregate: the zonal family — weighted mean, weighted quantiles and
weighted summary statistics per (polygon, *dims) over the overlap table.

Data model: the fact table holds one row per (pix_idx, *dims), as in the
reference cube (one stacked loc per pixel, each carrying a possibly NaN
value at every non-loc coordinate).  Duplicate fact rows are not merged:
every path adds them as separate terms.

The weighted mean reproduces the reference's default ``impl='for_loop'``
semantics (reference xagg/core.py:776-827, normalize at
auxfuncs.py:10-53):

  w_p(pix)  = rel_area(pix) * add_weight(pix)
  valid(pix) = NOT all-NaN(value[pix, over all non-loc dims])   # one mask
                                                                # shared by
                                                                # all dims
  w_hat     = w_p / sum_{valid} w_p          (NaN if denominator == 0)
  agg[dim]  = sum_{terms where v and w_hat finite} v * w_hat    # skipna sum
  agg       = 0.0 when a polygon has valid pixels but every term at this dim
              is NaN (xarray .sum(skipna=True) of all-NaN -> 0.0)
  agg       = NaN when the polygon has no overlap or no valid pixels

Physical plan, one shape for every entry point: ONE fact ⨝ overlaps join
on pix_idx (`_weighted_fact_join`) feeds a per-(poly_idx, *dims) reduce,
whose output gets exactly ONE localCheckpoint (`_materialize`, which also
logs the call's DEBUG decision record, `extra={"aggregate": rec}`); the
finishing steps are lazy, tiny operations on it and `_merge_attrs`
outer-merges the result onto the polygon attrs.

Dense certificate (for_loop): if each (poly_idx, *dims) group holds every
overlap pixel of its polygon once, all finite, every pixel is valid and
the group's own finite-weight sum `_d` is its denominator — no second,
per-pixel validity aggregate over the join.  The numerator reduce proves
it per group: its finite-row count and long sum of 32-bit hash(pix_idx)
must equal the polygon's `n` and `h` in the WeightMap's carried
poly_table (a local-relation broadcast: one small job per query, no
collect; exact below 2^32 rows a group), mismatches counted by an
Observation in the same job.  One blind spot: within one group,
duplicated and missing pixels with an equal count and an equal hash-sum
pass as dense.
"""

from __future__ import annotations

import logging

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, Window

from .overlaps import pix_hash

_log = logging.getLogger(__name__)


def _nan():
    return F.lit(float("nan"))


def _finite(c):
    return ~F.isnan(c) & c.isNotNull()


# auto-broadcast threshold for the overlap side: below it the (usually vastly
# larger) fact table never shuffles.  5M rows ~= 250 MB hash relation — on a
# cluster, shipping that to each executor beats shuffling a multi-TB fact
# table (3.8M rows on local[32]: broadcast 5.3s vs shuffle join 13.5s).
# Larger weightmaps (continental 0.01-degree grids) take a plain join and
# the session's planner picks its strategy: AQE's shuffled-hash conversion
# under spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold, else a
# sort-merge join, or no exchange at all on co-bucketed tables (io.tables).
BROADCAST_OVERLAPS_MAX_ROWS = 5_000_000


def aggregate(pix_values: DataFrame, wm, dims=("var", "t"),
              value_col: str = "value",
              broadcast_overlaps: bool | None = None,
              impl: str | None = None,
              silent: bool | None = None) -> DataFrame:
    """pix_values: long DataFrame (pix_idx, *dims, value), one row per
    (pix_idx, *dims) as in the reference cube.  wm: WeightMap.

    Returns tidy long result: (poly_idx, *attrs, *dims, value).  `var` in
    dims plays the reference's per-variable loop; `t`/`plev`/... are the
    non-loc dims carried through (reference A3: one hash aggregate per
    (poly_idx, dims)).

    impl='for_loop' (default): the reference's default NaN semantics — ONE
    validity mask per pixel (valid iff any finite value across the non-loc
    dims); NaN terms drop from the numerator only
    (reference xagg/core.py:776-827).  Dense path when the per-group
    fingerprint proves every group holds its polygon's overlap pixels once,
    all finite (blind spot: duplicated and missing pixels of one group with
    equal count and hash-sum), the general path otherwise; both add
    duplicate rows as separate terms.

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
    vkeys = ["var"] if "var" in dims else []
    v, w = F.col(value_col), F.col("_w")
    joined, join = _weighted_fact_join(pix_values, wm, broadcast_overlaps)

    if impl == "dot_product":
        # per-(pixel, dim-coordinate) weight masking: numerator AND
        # denominator from ONE hash aggregate over the joined tree
        res, _ = _materialize(
            joined.groupBy("poly_idx", *dims).agg(*_mean_sums(v, w)),
            "aggregate", join, impl)
        w_var = Window.partitionBy(*(vkeys or [F.lit(1)]))
        # _dmax == 0 over the whole variable <=> every value NaN -> NaN
        # (this window runs on the tiny polys x dims result, not the fact)
        res = (res.withColumn("_dmax", F.max("_d").over(w_var))
                  .withColumn(
                      value_col,
                      F.when(F.coalesce(F.col("_dmax"), F.lit(0.0)) == 0.0, _nan())
                       .when(F.coalesce(F.col("_d"), F.lit(0.0)) == 0.0, F.lit(0.0))
                       .otherwise(F.col("_s") / F.col("_d")))
                  .select("poly_idx", *dims, value_col))
        return _merge_attrs(res, wm, dims, value_col)

    # the shared sums plus the per-group fingerprint (finite-row count
    # and hash-sum) in ONE pass over the joined tree, checked against the
    # carried poly_table inside the same job
    fin = _finite(v)
    ptab = joined.sparkSession.createDataFrame(
        wm.poly_table, "poly_idx long, n long, h long")
    res, dense = _materialize(
        joined.groupBy("poly_idx", *dims)
              .agg(*_mean_sums(v, w),
                   F.count(F.when(fin, 1)).alias("_c"),
                   F.sum(F.when(fin, pix_hash())).alias("_hc"))
              .join(F.broadcast(ptab), "poly_idx", "left"),
        "aggregate", join, impl,
        mismatch=~(F.col("_c").eqNullSafe(F.col("n"))
                   & F.col("_hc").eqNullSafe(F.col("h"))))
    if not dense:
        # general path (core.py:812 + normalize drop_na, auxfuncs.py:10-53):
        # a pixel is VALID for (poly[, var]) iff it has >= 1 finite value
        # across the non-loc dims; the denominator _d and valid count _c
        # become the sum of _w and the count over valid pixels, a second
        # two-level aggregate over the join.  A pixel absent from the fact
        # table counts as all-NaN (the reference cube has every loc).
        level1 = (joined.groupBy("poly_idx", "pix_idx", *vkeys)
                        .agg(F.first("_w").alias("_w"),
                             F.max(F.when(fin, 1).otherwise(0)).alias("_af")))
        # (collected: its local relation broadcasts in one small job per
        # query that reads it, not a re-run of this aggregate)
        denom = (level1.filter(F.col("_af") == 1).groupBy("poly_idx", *vkeys)
                       .agg(F.sum("_w").alias("_d"),
                            F.count(F.lit(1)).alias("_c")))
        denom = res.sparkSession.createDataFrame(denom.toPandas(),
                                                 denom.schema)
        res = (res.drop("_d", "_c")
                  .join(F.broadcast(denom), ["poly_idx"] + vkeys, "left"))

    # NaN result when no valid pixels; 0.0 when valid pixels exist but
    # every term at this dim was NaN or denom == 0 (xarray skipna sum)
    res = (res.withColumn(
                value_col,
                F.when(F.coalesce(F.col("_c"), F.lit(0)) == 0, _nan())
                 .when(F.col("_d") == 0.0, F.lit(0.0))
                 .otherwise(F.coalesce(F.col("_s") / F.col("_d"),
                                       F.lit(0.0))))
              .select("poly_idx", *dims, value_col))
    return _merge_attrs(res, wm, dims, value_col)


def _mean_sums(v, w) -> list:
    """The reduce head both mean impls share: `_s` = sum of the finite
    terms v * w, `_d` = sum of their weights."""
    fin = _finite(v)
    return [F.sum(F.when(fin, v * w)).alias("_s"),
            F.sum(F.when(fin, w)).alias("_d")]


def _materialize(reduced: DataFrame, op: str, join: str, impl=None,
                 mismatch=None) -> tuple:
    """The one materialization of a zonal call: localCheckpoint the
    per-group reduce (tiny: one row per group), observing in that same
    job its row count and — given the for_loop fingerprint test
    `mismatch` — the groups failing it; log the call's decision record.
    Returns (checkpoint, dense): dense is None without a `mismatch`.
    localCheckpoint truncates lineage, so the finishing steps and both
    branches of the attr merge read bare blocks, never the fact join."""
    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("groups")]
    if mismatch is not None:
        metrics.append(F.sum(F.when(mismatch, 1).otherwise(0))
                        .alias("mismatched"))
    out = reduced.observe(obs, *metrics).localCheckpoint(eager=True)
    rec = {"op": op, "impl": impl, "join": join, "mismatched": None,
           **{k: int(x or 0) for k, x in obs.get.items()}}
    rec["dense"] = None if mismatch is None else rec["mismatched"] == 0
    _log.debug("zonal call %s", rec, extra={"aggregate": rec})
    return out, rec["dense"]


def _merge_attrs(res: DataFrame, wm, dims, value_col) -> DataFrame:
    """Outer merge onto polygon attrs (reference J3, core.py:533-538): keep
    zero-overlap polygons with NaN values for every dim combination.
    dim_space comes from `res` itself (a lazy, tiny step over the call's
    checkpoint), not another fact-table scan.  value_col: one column name
    or a list (multi-stat results) — every listed DOUBLE column gets the
    NaN fill; other types keep NULL."""
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    attrs = res.sparkSession.createDataFrame(wm.polys.attrs)
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
    w = rel_area * add_weight, reference core.py:716-775).  The one-q case
    of `aggregate_quantiles`, without its `q` column; so, as there, a dim
    or `value_col` named `q` raises ValueError.

    Definition (lower weighted quantile, no interpolation, engine-portable):
    sort the polygon's finite pixel values ascending (ties broken by
    pix_idx), take the running weight sum cw, and return the first value
    whose cw >= q * total_weight.  total_weight is computed as max(cw) over
    the partition — i.e. the SAME left-to-right accumulation that produced
    cw — so the threshold comparison is internally consistent whatever
    floating-point association an engine uses for its windowed sums.
    A flip between engines would need q*total within rounding error (~1e-12
    relative) of a cw step (one pixel weight) — pinned by the driver oracle.

    NaN semantics: non-finite values are dropped before ranking (skipna);
    a (polygon, dims) group with no finite value — and any zero-overlap
    polygon — comes back NaN via the attr outer-merge (reference J3).
    """
    return aggregate_quantiles(pix_values, wm, [q], dims, value_col,
                               broadcast_overlaps).drop("q")


def _weighted_fact_join(pix_values: DataFrame, wm,
                        broadcast_overlaps: bool | None) -> tuple:
    """The shared head of every zonal-stat entry point: weight column
    `_w` = rel_area * add_weight, then the engine's one big join, fact ⨝
    overlaps on pix_idx.  The engine decides only whether the overlap side
    is broadcast; otherwise the join is plain and its strategy is the
    planner's.  Returns (joined, strategy name) — 'broadcast' or
    'planner'.  The broadcast decision uses the row count of the
    WeightMap's carried poly_table — never an eager count() here, which
    would re-execute the whole overlap DAG when the caller did not
    persist it."""
    over = wm.overlaps
    if not wm.has_weights:
        over = over.withColumn("weight", F.lit(1.0))
    ov = over.select("poly_idx", "pix_idx",
                     (F.col("rel_area") * F.col("weight")).alias("_w"))
    if broadcast_overlaps is None:
        broadcast_overlaps = wm.n_rows <= BROADCAST_OVERLAPS_MAX_ROWS
    return (pix_values.join(F.broadcast(ov) if broadcast_overlaps else ov,
                            "pix_idx"),
            "broadcast" if broadcast_overlaps else "planner")


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


def aggregate_quantiles(pix_values: DataFrame, wm, qs,
                        dims=("var", "t"), value_col: str = "value",
                        broadcast_overlaps: bool | None = None) -> DataFrame:
    """Several exact weighted quantiles (definition: `aggregate_quantile`)
    in ONE pass.  Returns (poly_idx, *attrs, *dims, q, value) — one row
    per quantile.

    Physical plan: the shared fact ⨝ overlaps join, a finite filter, then
    ONE window Exchange+Sort on (poly_idx, *dims) carrying the running
    weight sum `_cw` over (value, pix_idx) asc and the partition total
    `_tw` = max of the SAME accumulation; one conditional-min aggregate
    column per requested q rides the same sort — no second shuffle.  The
    stack to long form runs on the tiny per-group rows before their
    checkpoint (melted after it, the merge cost one more job).  At 100 TB
    the partition size is one polygon's pixel count; a continental polygon
    that overflows a task calls for the percentile_approx sketch instead,
    not this exact path.
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
    joined, join = _weighted_fact_join(pix_values, wm, broadcast_overlaps)
    v = F.col(value_col)
    w_all = Window.partitionBy("poly_idx", *dims)
    w_run = (w_all.orderBy(v.asc(), F.col("pix_idx").asc())
                  .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = (joined.filter(_finite(v))
                    .withColumn("_cw", F.sum("_w").over(w_run))
                    .withColumn("_tw", F.max(F.col("_cw")).over(w_all)))
    aggs = [F.min(F.when(F.col("_cw") >= F.lit(x) * F.col("_tw"), v))
             .alias(f"_q{i}") for i, x in enumerate(qs)]
    # melt wide -> long with explode over literal (q, value) structs — no
    # SQL-string interpolation, so any legal column name works unchanged
    melted = F.explode(F.array(*[
        F.struct(F.lit(x).cast("double").alias("q"),
                 F.col(f"_q{i}").alias(value_col))
        for i, x in enumerate(qs)])).alias("_s")
    res, _ = _materialize(
        ranked.groupBy("poly_idx", *dims).agg(*aggs)
              .select("poly_idx", *dims, melted)
              .select("poly_idx", *dims, F.col("_s.q").alias("q"),
                      F.col("_s").getField(value_col).alias(value_col)),
        "aggregate_quantiles", join)
    return _merge_attrs(res, wm, dims + ["q"], value_col)


def aggregate_stats(pix_values: DataFrame, wm, dims=("var", "t"),
                    value_col: str = "value",
                    broadcast_overlaps: bool | None = None) -> DataFrame:
    """One-pass weighted summary statistics per (polygon, *dims):
    weighted mean, weighted POPULATION variance (E[x^2]-E[x]^2 over the
    weight measure, clamped at 0 against rounding), min, max, and the
    count of finite pixel terms — the zonal-stats report card beside the
    reference's single mean.

    Everything comes out of ONE map-side-combinable hash aggregate over
    the same fact ⨝ overlaps join as `aggregate` (`_weighted_fact_join`)
    — no window, no second shuffle, so this is strictly cheaper than the
    quantile path at any scale.  NaN terms drop (skipna); a group with no
    finite value — and any zero-overlap polygon — comes back NaN via the
    attr outer-merge.
    Returns (poly_idx, *attrs, *dims, mean, variance, min, max, n_valid).
    """
    pix_values, dims = _promote_var(pix_values, dims)
    stat_cols = {"mean", "variance", "min", "max", "n_valid"}
    clash = stat_cols.intersection(dims) | ({value_col} & stat_cols)
    if clash:
        raise ValueError(f"dims/value_col collide with the stat output "
                         f"column(s) {sorted(clash)} — rename them")
    joined, join = _weighted_fact_join(pix_values, wm, broadcast_overlaps)
    v, w = F.col(value_col), F.col("_w")
    agg, _ = _materialize(
        joined.filter(_finite(v))
              .groupBy("poly_idx", *dims)
              .agg(F.sum(w).alias("_sw"),
                   F.sum(v * w).alias("_swv"),
                   F.sum(v * v * w).alias("_swv2"),
                   F.min(v).alias("min"),
                   F.max(v).alias("max"),
                   F.count(F.lit(1)).alias("n_valid")),
        "aggregate_stats", join)
    mean = F.col("_swv") / F.col("_sw")
    res = (agg.withColumn("mean", mean)
              .withColumn("variance", F.greatest(
                  F.col("_swv2") / F.col("_sw") - mean * mean, F.lit(0.0)))
              .select("poly_idx", *dims, "mean", "variance", "min", "max",
                      F.col("n_valid").cast("long").alias("n_valid")))
    out = _merge_attrs(res, wm, dims, ["mean", "variance", "min", "max"])
    # a zero-overlap polygon has zero finite terms, not an unknown count
    return out.withColumn("n_valid",
                          F.coalesce("n_valid", F.lit(0)).cast("long"))
