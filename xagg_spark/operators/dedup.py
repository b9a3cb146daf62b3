"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for 10^9+-document corpora:
- exact dedup is one hash aggregate on a digest (map-side partial combine);
- MinHash signatures are computed with portable integer arithmetic
  (md5-prefix -> modular hash family) so any engine reproduces them exactly
  — the DuckDB oracle recomputes signatures from scratch;
- LSH banding turns near-dup search into an equi-join on (band, band_sig):
  shuffle keys are bounded, no pairwise blow-up outside buckets;
- n-gram Jaccard verifies candidate pairs exactly (the expensive step runs
  only on LSH survivors at scale; the standalone operator exists for tests).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..session import free_local_checkpoint

MOD = 1000003          # hash space (prime); small but oracle-portable
HASH_SALT = 7919


def _shingles(text_col, n: int = 4):
    """All character n-grams as an array column (1-based substring)."""
    t = F.col(text_col)
    return F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)), "
        f"i -> substring({text_col}, i, {n}))")


def _h_int(col):
    """Portable digest -> int: first 15 hex chars of md5 as bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, key_cols, id_col: str) -> DataFrame:
    """Groups of identical content: digest -> (keeper id, group size).
    Returns one row per duplicate group (size >= 1)."""
    digest = F.md5(F.concat_ws("\x1f", *[F.col(c) for c in key_cols]))
    return (df.withColumn("digest", digest)
              .groupBy("digest")
              .agg(F.min(id_col).alias("keeper"),
                   F.count(F.lit(1)).alias("group_size")))


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       num_hashes: int = 8, shingle: int = 4) -> DataFrame:
    """(id, hash_idx, sig): sig_j = min over shingles of
    ((md5int(s) % MOD) * (2j+1) + j*HASH_SALT) % MOD."""
    ex = (df.select(id_col, F.explode(_shingles(text_col, shingle)).alias("sh"))
            .withColumn("hm", _h_int(F.col("sh")) % MOD))
    hashes = F.explode(F.expr(
        f"transform(sequence(0, {num_hashes - 1}), j -> j)")).alias("j")
    ex = ex.select(id_col, "hm", hashes)
    sig = (F.col("hm") * (F.col("j") * 2 + 1) + F.col("j") * HASH_SALT) % MOD
    return (ex.withColumn("sig_term", sig)
              .groupBy(id_col, "j")
              .agg(F.min("sig_term").alias("sig")))


def lsh_candidate_pairs(sigs: DataFrame, id_col: str,
                        rows_per_band: int = 2) -> DataFrame:
    """Band the signature matrix and self-join on (band, band_sig):
    (id_a, id_b) candidate near-duplicate pairs, id_a < id_b, distinct."""
    banded = (sigs.withColumn("band", F.expr(f"j div {rows_per_band}"))
                  .groupBy(id_col, "band")
                  .agg(F.sum(F.col("sig")
                             * F.pow(F.lit(float(MOD)), F.col("j") % rows_per_band)
                             .cast("long")).alias("band_sig")))
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, (F.col(f"a.band") == F.col(f"b.band"))
                   & (F.col("a.band_sig") == F.col("b.band_sig"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
             .distinct())


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        pairs: DataFrame | None = None,
                        n: int = 4, threshold: float = 0.0,
                        max_doc_freq: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (or all pairs if None —
    test-scale only).  Returns (id_a, id_b, jaccard).

    max_doc_freq: optional stop-gram cut for the all-pairs path at scale —
    a gram appearing in more than this many documents is dropped from the
    WHOLE computation (intersection AND set sizes), i.e. Jaccard over the
    informative-gram subsets.  Without it, one ubiquitous gram ("the ",
    boilerplate headers) self-joins into n_docs^2 rows.  Default None
    keeps the exact semantics (and the oracle)."""
    grams = (df.select(F.col(id_col).alias("_id"),
                       F.explode(F.array_distinct(_shingles(text_col, n))).alias("g")))
    if max_doc_freq is not None:
        rare = (grams.groupBy("g")
                     .agg(F.count(F.lit(1)).alias("_df"))
                     .filter(F.col("_df") <= max_doc_freq)
                     .select("g"))
        grams = grams.join(rare, "g")
    if pairs is None:
        ga, gb = grams.alias("ga"), grams.alias("gb")
        inter = (ga.join(gb, (F.col("ga.g") == F.col("gb.g"))
                         & (F.col("ga._id") < F.col("gb._id")))
                   .groupBy(F.col("ga._id").alias("id_a"),
                            F.col("gb._id").alias("id_b"))
                   .agg(F.count(F.lit(1)).alias("n_inter")))
    else:
        # equi-join on (id, gram): candidate pairs pick up side-a grams by
        # id, then probe side-b grams on BOTH keys — the shared gram is part
        # of the join condition, so no per-pair |grams_a| x |grams_b|
        # cross-product is ever built (scale-critical: LSH survivors at
        # 10^9 docs can include long documents)
        ga = grams.withColumnRenamed("_id", "id_a")
        gb = grams.withColumnRenamed("_id", "id_b")
        inter = (pairs.join(ga, "id_a").join(gb, ["id_b", "g"])
                      .groupBy("id_a", "id_b")
                      .agg(F.count(F.lit(1)).alias("n_inter")))
    sizes = grams.groupBy("_id").agg(F.count(F.lit(1)).alias("n_grams"))
    out = (inter
           .join(sizes.withColumnRenamed("_id", "id_a")
                      .withColumnRenamed("n_grams", "na"), "id_a")
           .join(sizes.withColumnRenamed("_id", "id_b")
                      .withColumnRenamed("n_grams", "nb"), "id_b")
           .withColumn("jaccard",
                       F.round(F.col("n_inter")
                               / (F.col("na") + F.col("nb") - F.col("n_inter")), 6)))
    return out.filter(F.col("jaccard") >= threshold) \
              .select("id_a", "id_b", "jaccard")


def simhash16(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """16-bit SimHash over whitespace tokens with the portable md5-int hash:
    bit j set iff sum over tokens of (2*bit_j(h)-1) > 0."""
    toks = (df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("tok"))
              .filter(F.col("tok") != "")
              .withColumn("h", _h_int(F.col("tok")) % 65536))
    bits = toks.select(
        id_col,
        F.explode(F.expr("transform(sequence(0, 15), j -> j)")).alias("j"),
        "h")
    pow2 = F.pow(F.lit(2.0), F.col("j")).cast("long")
    contrib = F.when((F.floor(F.col("h") / pow2) % 2) == 1, 1).otherwise(-1)
    per_bit = (bits.withColumn("c", contrib)
                   .groupBy(id_col, "j")
                   .agg(F.sum("c").alias("s")))
    return (per_bit
            .withColumn("bitval",
                        F.when(F.col("s") > 0, F.pow(F.lit(2.0), F.col("j")).cast("long"))
                         .otherwise(F.lit(0).cast("long")))
            .groupBy(id_col)
            .agg(F.sum("bitval").alias("simhash")))


def connected_components(pairs: DataFrame, id_col_a: str = "id_a",
                         id_col_b: str = "id_b",
                         nodes: DataFrame | None = None,
                         max_iter: int = 50) -> DataFrame:
    """Connected components over an undirected pair list: (node, component)
    where component is the MINIMUM node id in the node's component.

    This is the clustering step a dedup pipeline needs after
    `lsh_candidate_pairs` (LSH emits pairwise near-dup evidence; keeping
    one document per *transitive* cluster requires components, not pairs).

    Algorithm: hash-min label propagation with pointer jumping —
    each round every node takes the min of its own label and its
    neighbors' labels, then labels are compressed one hop
    (comp(v) <- comp(comp(v))).  The jump step makes convergence
    O(log diameter) rounds instead of O(diameter), so a pathological
    chain of 10^6 near-dups still terminates in ~20 rounds; dedup
    clusters in practice (dense, tiny diameter) converge in 2-3.
    Every step is a key-partitioned join/groupBy — no driver-side
    graph state, so the corpus can be 10^9 documents.  Lineage is cut
    with localCheckpoint each round (the loop would otherwise stack
    O(rounds) shuffles into one plan); each round's checkpoint (and the
    edge table, on return) is freed as soon as it is superseded, so
    retained storage is O(1) rounds, not O(rounds).

    nodes: optional single-column DataFrame of the full node universe —
    ids that appear in no pair become singleton components of themselves.
    Without it, only ids present in `pairs` are emitted.

    Returns DataFrame["node", "component"].
    """
    a = pairs.select(F.col(id_col_a).alias("src"), F.col(id_col_b).alias("dst"))
    b = pairs.select(F.col(id_col_b).alias("src"), F.col(id_col_a).alias("dst"))
    edges = a.unionByName(b).distinct().localCheckpoint(eager=True)

    lab = edges.select(F.col("src").alias("node")).distinct()
    if nodes is not None:
        uni = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()
        lab = lab.unionByName(uni).distinct()
    lab = lab.withColumn("component", F.col("node")).localCheckpoint(eager=True)

    from pyspark.sql import Observation
    for _ in range(max_iter):
        # propagate: min label over the in-neighborhood
        nb = (edges.join(lab, edges.src == lab.node)
                   .groupBy("dst").agg(F.min("component").alias("nb_min")))
        new = (lab.join(nb, lab.node == nb.dst, "left")
                  .select("node",
                          F.least("component", F.coalesce("nb_min", "component"))
                           .alias("component")))
        # pointer jump: comp(v) <- comp(comp(v))
        m = new.select(F.col("node").alias("m_node"),
                       F.col("component").alias("m_comp"))
        new = (new.join(m, new.component == m.m_node, "left")
                  .select("node",
                          F.coalesce("m_comp", "component").alias("component")))
        # convergence test FUSED into the checkpoint materialization: join
        # the previous labels back in and count label changes with an
        # Observation during the same job — one action per round instead
        # of checkpoint + a separate count join (each round is a handful
        # of small jobs, so action count is the wall clock here)
        old = lab.select(F.col("node").alias("node"),
                         F.col("component").alias("_old"))
        obs = Observation()
        new = (new.join(old, "node", "left")
                  .observe(obs, F.sum((F.col("component") != F.col("_old"))
                                      .cast("long")).alias("changed"))
                  .select("node", "component")
                  .localCheckpoint(eager=True))
        changed = int(obs.get["changed"] or 0)
        # `new` is eagerly materialized, so the superseded round's
        # checkpoint blocks are dead weight — free them now, not at GC
        free_local_checkpoint(lab)
        lab = new
        if changed == 0:
            break
    else:
        free_local_checkpoint(edges)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    free_local_checkpoint(edges)
    return lab


def ngram_containment(df: DataFrame, eval_df: DataFrame, text_col: str,
                      id_col: str, n: int = 4) -> DataFrame:
    """Eval-set contamination score per document: the fraction of a
    document's DISTINCT character n-grams that also occur anywhere in
    `eval_df`'s text.  The standard train/eval decontamination check for
    LLM corpora: containment near 1.0 means the training document leaks
    an eval document (or vice versa).

    Scale shape: one equi-join on the gram string between the corpus'
    exploded distinct grams and the (much smaller) eval gram set —
    Catalyst broadcasts the eval side when it fits, otherwise it is a
    plain shuffle join on a high-cardinality key.  No pairwise doc×doc
    work (contrast `ngram_jaccard_pairs`).

    Returns (id_col, n_grams, n_hit, containment) — containment rounded
    to 6 places.
    """
    grams = df.select(F.col(id_col),
                      F.explode(F.array_distinct(_shingles(text_col, n)))
                       .alias("g"))
    eg = (eval_df.select(F.explode(_shingles(text_col, n)).alias("g"))
                 .distinct()
                 .withColumn("hit", F.lit(1)))
    return (grams.join(eg, "g", "left")
                 .groupBy(id_col)
                 .agg(F.count(F.lit(1)).alias("n_grams"),
                      F.count("hit").alias("n_hit"))
                 .withColumn("containment",
                             F.round(F.col("n_hit") / F.col("n_grams"), 6)))
