"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def free_local_checkpoint(df) -> None:
    """Free the materialized blocks of every localCheckpoint'ed leaf of
    ``df``'s plan NOW.

    DataFrame.unpersist is a no-op for checkpointed plans — the blocks
    otherwise live until the JVM GCs the RDD, so iterative algorithms
    (label propagation, batched overlap builds) that checkpoint per
    round accumulate storage linearly and degrade the whole session.
    The leaves may sit under lazy steps: a zonal result is a merge over
    its call's checkpoint, a kNN result a projection over its rounds'
    checkpoints.  Each is freed via unpersistRDD (RDD.unpersist logs a
    lineage-truncated WARN per block); a plan with no such leaf (a
    parquet scan) falls back to DataFrame.unpersist, releasing a cache.
    Best-effort: errors are ignored."""
    ids = set()
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
        while leaves.hasNext():
            leaf = leaves.next()
            if (leaf.getClass().getSimpleName() == "LogicalRDD"
                    and leaf.rdd().isLocallyCheckpointed()):
                ids.add(leaf.rdd().id())
        sc = df.sparkSession.sparkContext._jsc.sc()
        for i in ids:
            sc.unpersistRDD(i, False)
    except Exception:
        pass
    if not ids:
        try:
            df.unpersist()
        except Exception:
            pass


def pandas_to_spark_blocks(spark, pdf):
    """Materialize a driver pandas frame as a CHECKPOINTED Spark DataFrame
    via a native parquet roundtrip: pyarrow writes the frame to scratch
    (split into ~defaultParallelism files so the scan parallelizes), Spark
    scans it natively, localCheckpoint materializes blocks, the scratch is
    deleted.  Measured ~4x faster than
    ``createDataFrame(pdf).localCheckpoint`` at 10^6 rows (2.4-3.7 s →
    0.6-1.5 s): the python-sourced Arrow scan is slow even for a single
    pass, while the parquet write+scan is all native.  Values are exact
    (int64/float64/bool roundtrip losslessly).  The scratch goes under
    ``spark.local.dir`` when set, else the system temp dir (``TMPDIR``)."""
    import shutil
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    if len(pdf) == 0:
        return spark.createDataFrame(pdf).localCheckpoint(eager=True)
    base = spark.sparkContext.getConf().get("spark.local.dir")
    if base:
        base = base.split(",")[0]
        os.makedirs(base, exist_ok=True)
    d = tempfile.mkdtemp(prefix="xagg-pdf-", dir=base or None)
    try:
        n_chunks = min(max(spark.sparkContext.defaultParallelism, 1),
                       len(pdf))
        # iloc row ranges: array_split on the frame warns (swapaxes)
        for i, rows in enumerate(np.array_split(range(len(pdf)), n_chunks)):
            chunk = pdf.iloc[rows[0]:rows[-1] + 1].reset_index(drop=True)
            pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                           os.path.join(d, f"part-{i:05d}.parquet"))
        return spark.read.parquet(d).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def get_spark(app: str = "xagg_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Local-mode session tuned for this engine.

    On a real cluster these confs come from spark-submit; the engine code
    itself never assumes local mode.  AQE handles runtime re-planning
    (coalescing small shuffle partitions, skew-join splitting).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # shuffle/spill scratch belongs on the fastest local storage (guide §1.3
    # — local disk bandwidth can be the tighter shuffle limit): point it at
    # node-local NVMe, or at a RAM-backed tmpfs such as /dev/shm, via
    # XAGG_SPARK_LOCAL_DIR.  Unset, Spark's own default applies — tmpfs is
    # never chosen unasked, since spill there competes with the heap for RAM.
    local_dir = os.environ.get("XAGG_SPARK_LOCAL_DIR")
    b = (SparkSession.builder.appName(app).master(master)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         # long sessions (benchmark batteries, services) otherwise
         # accumulate dead shuffle/broadcast/checkpoint blocks for up to
         # the 30-MINUTE default ContextCleaner GC interval — measured as
         # the "session debris" that inflated late-battery entries 1.4-1.8x
         # (BASELINE.md runs E/K/L).  A sub-minute periodic GC keeps the
         # block manager clean at negligible CPU cost; override via env
         # for clusters with different GC economics.
         .config("spark.cleaner.periodicGC.interval",
                 os.environ.get("XAGG_SPARK_PERIODIC_GC", "45s"))
         # let AQE flip a sort-merge join to a shuffled-hash join when the
         # RUNTIME per-partition build size is modest (guide §3.1): the
         # decision uses actual map output sizes, not estimates.  Those
         # are COMPRESSED shuffle bytes, so the in-memory hash relation
         # can be several times larger (a 1g heap failed to build one);
         # the hash build does not spill.
         .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                 os.environ.get("XAGG_SPARK_SHJ_THRESHOLD", "128m"))
         # trust bucketed tables' sortBy metadata at scan time: Spark only
         # reports the ordering when every selected bucket has at most ONE
         # file (never a false claim), and save_copartitioned guarantees
         # exactly that — without this flag the "exchange-free" bucketed
         # join silently re-Sorts both sides on every read (SPARK-28595)
         .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.sql.files.maxPartitionBytes", "134217728")
         .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
         .config("spark.ui.enabled", "false"))
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    return b.getOrCreate()
