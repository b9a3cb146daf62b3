"""Hot-cell skew salting evidence (VERDICT r4 ask #2; SURVEY §4 north_rule
"salted repartitioning on hot H3 cells to handle polygon skew").

The skew fixture concentrates every polygon in one small neighborhood, so
the cell-prefilter candidate set lands in the few pixel-range partitions
that hold the hot band — the refine stage straggles on those tasks.
``pixel_overlaps(salt=N)`` hash-repartitions the boundary candidates on
(poly_idx, pix_idx % N) into N x parallelism partitions before the refine
UDF.  These tests pin:

1. the salted plan really inserts that hash exchange (not a round-robin)
   before refine;
2. the salted candidate distribution is balanced where the unsalted one is
   concentrated (the straggler actually moves);
3. salted and unsalted results are value-identical (the oracle twin is
   ``pixel_overlaps_skewed`` in driver_queries, hash-gated vs DuckDB).
"""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from xagg_spark.driver_queries import QGRID, _skew_polys
from xagg_spark.operators import pixel_overlaps


def _partition_counts(df) -> np.ndarray:
    pdf = (df.withColumn("_p", F.spark_partition_id())
             .groupBy("_p").count().toPandas())
    return pdf["count"].to_numpy()


def _core_plan(spark, salt: int) -> str:
    """Executed plan of the lazy overlap core (no localCheckpoint
    truncation, unlike the finished WeightMap)."""
    from xagg_spark.operators.overlaps import (_overlap_core, _overlap_prep,
                                               pixel_geometry)
    polys = _skew_polys()
    raw, _ = _overlap_core(spark, QGRID, polys, pixel_geometry(spark, QGRID),
                           _overlap_prep(spark, QGRID, polys),
                           polys.pick_epsg(), salt=salt)
    return raw._jdf.queryExecution().executedPlan().toString()


def test_salt_inserts_hash_salt_exchange_before_refine(spark):
    """The lazy overlap core keeps the refine pipeline's physical plan
    inspectable: salt>0 must add a hashpartitioning exchange on
    (poly_idx, pix_idx % salt) — NOT a round-robin, which would shatter
    the refine UDF's per-polygon vectorization groups (measured ~2x slower
    on the hot bench fixture) — and salt=0 must add no exchange at all."""
    ps = _core_plan(spark, salt=4)
    assert "hashpartitioning(poly_idx" in ps
    assert "RoundRobinPartitioning" not in ps
    pu = _core_plan(spark, salt=0)
    assert "hashpartitioning(poly_idx" not in pu
    assert "RoundRobinPartitioning" not in pu


def test_salt_redistributes_hot_candidates(spark):
    """Under the hot fixture the unsalted overlap rows pile into the few
    partitions holding the hot pixel band; the salted layout must spread
    them (max per-partition load drops, occupancy rises).  Partition ids
    survive to the output: refine is mapInPandas (narrow) and the
    normalize join is broadcast (narrow), so spark_partition_id() on the
    result reads the refine-stage distribution."""
    wm_u = pixel_overlaps(spark, QGRID, _skew_polys(), salt=0)
    wm_s = pixel_overlaps(spark, QGRID, _skew_polys(), salt=4)
    cu = _partition_counts(wm_u.overlaps)
    cs = _partition_counts(wm_s.overlaps)
    assert cu.sum() == cs.sum()                    # same rows, moved only
    # unsalted: hot band -> few heavy partitions; salted: balanced
    assert cs.max() * 2 <= cu.max(), (cs.max(), cu.max())
    assert len(cs) > len(cu)                       # more partitions busy
    # balance quality: the salted max is within 3x the ideal share
    assert cs.max() <= 3.0 * cs.sum() / len(cs)


def test_salted_equals_unsalted_values(spark):
    """Salting may move rows between tasks, never change a value."""
    a = (pixel_overlaps(spark, QGRID, _skew_polys(), salt=0)
         .overlaps.orderBy("poly_idx", "pix_idx").toPandas())
    b = (pixel_overlaps(spark, QGRID, _skew_polys(), salt=4)
         .overlaps.orderBy("poly_idx", "pix_idx").toPandas())
    assert len(a) == len(b)
    assert (a["poly_idx"].to_numpy() == b["poly_idx"].to_numpy()).all()
    assert (a["pix_idx"].to_numpy() == b["pix_idx"].to_numpy()).all()
    np.testing.assert_allclose(a["rel_area"].to_numpy(),
                               b["rel_area"].to_numpy(), rtol=0, atol=1e-15)
