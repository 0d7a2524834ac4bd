"""Blocking passes — candidate-pair generation without the O(n²) scan.

Three passes, cheap/high-precision first (the reference's own usage order,
demo/demo.py:62-66 → token_similarity predict → embedding pass):

- B1 exact-normalized-key: strings sharing a normalization key
  (match_data.py:284-287 ``unite(callable)`` — zero pairs materialized, the
  key IS the cluster).
- B2 token blocking: all pairs of strings sharing an *eligible* token,
  2 ≤ doc_count ≤ max_block_size (token_similarity[html] predict()). The cap
  is the reference's skew handling: it drops singleton tokens (useless) and
  stopword-like hot tokens (quadratic blowup) — we keep it as a relational
  filter, which also bounds every block's pair count to cap·(cap−1)/2.
- B3 LSH over embedding vectors (operators/embed.py).

Scale notes:
- pairs are canonical (s0 < s1), deduped across blocks with one distinct;
- ``salt_pairs`` re-partitions candidate pairs by a hash of the pair key so
  downstream per-pair work is evenly spread even when one token produced most
  pairs (north-rule: salted repartitioning to break hot blocking keys);
- an anti-join drops pairs already co-grouped in the current partition
  (token_similarity[html] predict's ``predicted[s0] != predicted[s1]`` skip —
  an optimization, not semantics, since transitive closure is order-free).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nama_spark.session import local_frame


def exact_key_edges(strings_df: DataFrame, key_col, string_col: str = "string") -> DataFrame:
    """B1: (src, dst) edges linking every string to the first string of its
    normalization-key group. Linear, one shuffle on the key.

    NULL and empty keys are "no key": the string stays a singleton. This
    is a deliberate deviation from the reference, which unites ALL strings
    sharing a key value (match_data.py:284-287); at data scale uniting
    every suffix-only name whose normalization key is '' would fabricate
    one mega-cluster out of unrelated records. ``MatchData.unite(Column)``
    and ``ExactKeyPass`` both take their edges from here."""
    keyed = strings_df.select(
        F.col(string_col).alias("string"), key_col.alias("key")
    ).where(F.col("key").isNotNull() & (F.col("key") != ""))
    w = Window.partitionBy("key").orderBy("string")
    return (
        keyed.withColumn("anchor", F.first("string").over(w))
        .where(F.col("string") != F.col("anchor"))
        .select(
            F.col("string").alias("src"),
            F.col("anchor").alias("dst"),
            F.col("key").alias("block_key"),
        )
    )


def eligible_tokens(
    weights: DataFrame,
    min_block_size: int = 2,
    max_block_size: int = 100,
) -> DataFrame:
    """Tokens whose doc-count d falls in [min, max] (token_similarity[html]
    predict: ``2 <= d <= self.max_block_size``)."""
    return weights.where(
        (F.col("d") >= min_block_size) & (F.col("d") <= max_block_size)
    ).select("token")


def token_block_pairs(
    tokens: DataFrame,
    eligible: DataFrame,
    max_block_size: int = 100,
) -> DataFrame:
    """B2: canonical candidate pairs (s0 < s1, s0/s1 share an eligible token).

    The self-join is on the token key; with the block cap in place no key
    explodes, and AQE's skew-join split handles residual imbalance. Output is
    deduped across blocks. The driver twin is driver_token_blocks +
    driver_block_pairs.
    """
    t = tokens.join(eligible, "token", "left_semi")
    a = t.select(F.col("token"), F.col("string").alias("s0"))
    b = t.select(F.col("token"), F.col("string").alias("s1"))
    pairs = (
        a.join(b, "token")
        .where(F.col("s0") < F.col("s1"))
        .select("s0", "s1")
        .distinct()
    )
    return pairs


def token_block_pairs_against(
    tokens: DataFrame,
    new_strings: DataFrame,
    eligible: DataFrame,
    string_col: str = "string",
) -> DataFrame:
    """Incremental B2: candidate pairs where AT LEAST ONE side is a NEW
    string — the block join's left side is restricted to the new strings'
    tokens BEFORE the join, so arrival of Δn new names costs O(Δn·block)
    instead of re-enumerating the full all×all candidate set. new×new pairs
    are included; old×old pairs never materialize. Output is canonical
    (s0 < s1) and deduped, same contract as token_block_pairs. The driver
    twin is driver_block_pairs with ``against``."""
    nw = new_strings.select(F.col(string_col).alias("string")).distinct()
    t = tokens.join(eligible, "token", "left_semi")
    tn = t.join(nw, "string", "left_semi")
    a = tn.select(F.col("token"), F.col("string").alias("sn"))
    b = t.select(F.col("token"), F.col("string").alias("so"))
    return (
        a.join(b, "token")
        .where(F.col("sn") != F.col("so"))
        .select(
            F.least("sn", "so").alias("s0"), F.greatest("sn", "so").alias("s1")
        )
        .distinct()
    )


def driver_token_blocks(tokens, weights, max_block_size: int) -> list:
    """The member strings of each token with 2 ≤ d ≤ ``max_block_size``,
    from driver rows: (string, token, tf) ``tokens`` and (token, f, d,
    weight) ``weights`` — the key groups of token_block_pairs' self-join."""
    eligible = {t for t, _f, d, _w in weights if 2 <= d <= max_block_size}
    blocks: dict = {}
    for s, t, _tf in tokens:
        if t in eligible:
            blocks.setdefault(t, []).append(s)
    return list(blocks.values())


def driver_block_pairs(blocks, against=None) -> set:
    """Canonical (s0 < s1) pairs of strings sharing one of ``blocks``
    (driver_token_blocks): all of them, as token_block_pairs, or only those
    holding one of the ``against`` strings, as token_block_pairs_against."""
    pairs: set = set()
    if against is None:
        for members in blocks:
            # a string holds a token once, so a block's members are distinct
            pairs.update(combinations(sorted(members), 2))
        return pairs
    new = set(against)
    for members in blocks:
        for sn in members:
            if sn in new:
                for so in members:
                    if so != sn:
                        pairs.add((sn, so) if sn < so else (so, sn))
    return pairs


def anti_join_same_group(pairs: DataFrame, matchdata_df: DataFrame) -> DataFrame:
    """Drop pairs already co-grouped in the current partition — between-pass
    optimization (SURVEY.md §4 'already-same-group skip')."""
    g = matchdata_df.select("string", "group")
    joined = (
        pairs.join(g.withColumnRenamed("string", "s0").withColumnRenamed("group", "g0"), "s0", "left")
        .join(g.withColumnRenamed("string", "s1").withColumnRenamed("group", "g1"), "s1", "left")
    )
    return joined.where(
        F.col("g0").isNull() | F.col("g1").isNull() | (F.col("g0") != F.col("g1"))
    ).select("s0", "s1")


def salt_pairs(pairs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Salted repartition: spread candidate pairs uniformly by pair-key hash
    so per-pair scoring never concentrates on the partition that held a hot
    blocking key. Repartitions on the RAW 64-bit pair hash — pre-bucketing it
    with pmod(n) would make Spark hash n small values again, and those
    collisions leave some partitions empty and others doubled."""
    spark = pairs.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    return pairs.repartition(n, F.xxhash64("s0", "s1"))


def prefix_tokens(
    tokens: DataFrame, weights: DataFrame, threshold: float
) -> DataFrame:
    """(string, token) restricted to each string's PREFIX under the canonical
    rarest-first order (doc-count asc, token asc): the minimal leading set
    whose trailing suffix weight drops below t·w_sum(s). A token stays in the
    prefix iff the suffix weight from it (inclusive) is ≥ t·w_sum. Windows
    are per-string and bounded by tokens-per-string — no skew."""
    from pyspark.sql import Window

    tset = tokens.select("string", "token").distinct()
    tw = tset.join(weights.select("token", "weight", "d"), "token")
    w_str = Window.partitionBy("string")
    order = Window.partitionBy("string").orderBy("d", "token")
    tw = tw.withColumn("__w_sum", F.sum("weight").over(w_str))
    tw = tw.withColumn(
        "__suffix",
        F.sum("weight").over(
            order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        ),
    )
    return tw.where(
        F.col("__suffix") >= F.lit(threshold) * F.col("__w_sum")
    ).select("string", "token")


def prefix_filtered_pairs(
    tokens: DataFrame,
    weights: DataFrame,
    threshold: float,
    measure: str = "jaccard",
) -> DataFrame:
    """Exact weighted-Jaccard self-join via prefix filtering — the published
    SSJoin/PPJoin technique (Chaudhuri et al., ICDE'06; Xiao et al., WWW'08).

    Token blocking with a doc-frequency cap (token_block_pairs) deliberately
    drops hot tokens — pairs whose ONLY shared tokens are hot are missed
    (the reference's own trade-off). Prefix filtering is EXACT with no cap:

    order every string's distinct tokens canonically (rarest first — by
    (doc-count, token)); keep the minimal PREFIX whose suffix weight falls
    below t·w_sum(s). If a pair shares no prefix token on either side, its
    intersection weight is at most the suffix weight < t·w_sum ≤ t·w(∪-side),
    so weighted Jaccard < t — every qualifying pair shares a prefix token.

    Candidates come from a self-join on prefix tokens only (rare tokens →
    small blocks), then the exact score filters ≥ t. Per-string windows are
    bounded by tokens-per-string (no skew). Returns (s0, s1, score ≥ t).
    """
    from nama_spark.operators.score import token_similarity_scores

    if measure != "jaccard":
        # the prefix bound caps the LINEAR intersection weight; the cosine
        # numerator is Σw²(∩), which a linear-weight suffix bound does not
        # dominate (a heavy shared token can be outside both prefixes while
        # w²-normalized cosine still clears the threshold)
        raise ValueError(
            "prefix filtering is sound only for measure='jaccard'; "
            f"got {measure!r}"
        )
    prefix = prefix_tokens(tokens, weights, threshold)
    a = prefix.select("token", F.col("string").alias("s0"))
    b = prefix.select("token", F.col("string").alias("s1"))
    cand = (
        a.join(b, "token")
        .where(F.col("s0") < F.col("s1"))
        .select("s0", "s1")
        .distinct()
    )
    cand = salt_pairs(cand)
    scored = token_similarity_scores(cand, tokens, weights, measure=measure)
    return scored.where(F.col("score") >= threshold)


def global_rank(
    df: DataFrame,
    order_cols: list,
    num_partitions: int | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Contiguous 0-based global rank by ``order_cols`` WITHOUT the
    single-partition global window (`row_number() OVER (ORDER BY ...)` forces
    Exchange SinglePartition — one task holds the whole table).

    Distributed realization: repartitionByRange on the order columns (range
    partitions are themselves ordered), a PARTITION-LOCAL row_number (every
    partition ranks in parallel), then each partition's offset = prefix sum
    of partition sizes — a num_partitions-row collect — broadcast back. The
    composite order must be total (pass a tie-breaking unique column last) so
    the rank is deterministic and engine-portable.
    """
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_cols])
    # pin the range-partition id as a column FIRST, then window over that
    # column — windowing directly on spark_partition_id() would re-evaluate
    # the expression relative to whatever stage the window planner puts it in
    local = ranged.withColumn("__pid", F.spark_partition_id())
    w = Window.partitionBy("__pid").orderBy(*[F.col(c) for c in order_cols])
    # PIN the ranged materialization (lazy localCheckpoint): the sizes
    # collect below and the final join are two EXECUTIONS of this frame,
    # and repartitionByRange computes its boundaries from a data SAMPLE —
    # two executions may cut ranges differently, so offsets derived from
    # one partitioning must never be applied to a recomputation
    # (caught by the sf0.1 10x oracle attestation: pack_chunks drifted by
    # one pack around a boundary; same hazard here)
    local = local.withColumn("__rn", F.row_number().over(w)).localCheckpoint(
        eager=False
    )
    # one tiny action: partition sizes → offsets (prefix sum on the driver)
    sizes = {
        r["__pid"]: r["n"]
        for r in local.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    # explicit schema: an EMPTY input has no partitions → empty offset list
    # → schema inference would throw
    off_df = local_frame(
        spark, [(pid, off) for pid, off in offsets.items()], "__pid int, __off long"
    )
    return (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn(rank_col, (F.col("__rn") - 1 + F.col("__off")).cast("long"))
        .drop("__pid", "__rn", "__off")
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list,
    weight_col: str,
    num_partitions: int | None = None,
    out_col: str = "cumsum",
) -> DataFrame:
    """Global running sum of ``weight_col`` in ``order_cols`` order WITHOUT
    the single-partition global window — the weighted generalization of
    ``global_rank`` (same recipe: range partition → partition-local cumsum
    → per-partition offset = prefix sum of partition TOTALS, a
    num_partitions-row collect, broadcast back). Integer weights sum
    exactly, so the result is identical to the single-partition window."""
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_cols])
    local = ranged.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # pin before the totals collect — same double-execution hazard as
    # global_rank above (range boundaries are sample-derived)
    local = local.withColumn("__cs", F.sum(weight_col).over(w)).localCheckpoint(
        eager=False
    )
    totals = {
        r["__pid"]: r["t"]
        for r in local.groupBy("__pid")
        .agg(F.sum(weight_col).alias("t"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    # explicit schema (empty-input safe, same as global_rank)
    off_df = local_frame(
        spark,
        [(pid, int(off)) for pid, off in offsets.items()],
        "__pid int, __off long",
    )
    return (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn(out_col, (F.col("__cs") + F.col("__off")).cast("long"))
        .drop("__pid", "__cs", "__off")
    )


def sorted_neighborhood_pairs(
    strings_df: DataFrame,
    key_col,
    window: int = 3,
    string_col: str = "string",
    num_partitions: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95 — the
    classic merge/purge method): sort the universe by a blocking key and pair
    every string with its ``window−1`` successors in sort order. Catches
    near-misses that share a key PREFIX but no exact key or token (where
    exact-key and token blocking both fail), at a guaranteed linear
    (window−1)·n pair budget — no block can blow up, hot keys included.

    Spark realization: ``global_rank`` (range-partitioned parallel ranking,
    never Exchange SinglePartition) then an equi-join of rank against
    rank+d for d ∈ [1, window): one shuffle on the rank, fanout window−1.
    Returns (s0, s1, rank_distance) with s0 the sort-order predecessor.
    """
    if window < 2:
        raise ValueError("window must be >= 2 (w-1 successors per string)")
    spark = strings_df.sparkSession
    keyed = strings_df.select(
        F.col(string_col).alias("string"),
        (key_col if not callable(key_col) else key_col(F.col(string_col))).alias(
            "__key"
        ),
    )
    ranked = global_rank(
        keyed, ["__key", "string"], num_partitions=num_partitions
    )
    # both join sides read `ranked`; pin it once or the whole distributed
    # rank (range exchange + window + offset join) re-runs per side
    ranked = ranked.localCheckpoint(eager=False)
    a = ranked.select(F.col("string").alias("s0"), F.col("rank").alias("__r0"))
    b = ranked.select(F.col("string").alias("s1"), F.col("rank").alias("__r1"))
    deltas = spark.range(1, window).select(F.col("id").alias("__d"))
    return (
        a.crossJoin(F.broadcast(deltas))
        .withColumn("__r1", F.col("__r0") + F.col("__d"))
        .join(b, "__r1")
        .select("s0", "s1", F.col("__d").cast("int").alias("rank_distance"))
    )


def metablock_weights(
    assignments: DataFrame,
    scheme: str = "cbs",
    string_col: str = "string",
    block_col: str = "block",
    min_block_size: int = 2,
    max_block_size: int = 100,
) -> DataFrame:
    """Meta-blocking: the weighted comparison graph over a (string, block)
    assignment table (Papadakis et al., "Meta-Blocking: Taking Entity
    Resolution to the Next Level", TKDE 2014 — beyond the reference, which
    prunes only by the per-token block cap).

    Nodes are entities, an edge joins every pair co-occurring in ≥1 kept
    block, and the edge weight measures co-occurrence evidence:

    - ``cbs``: Common Blocks Scheme — the integer number of shared blocks
      (kept exact so pruning thresholds compare integers);
    - ``jaccard``: cbs / (|B_a| + |B_b| − cbs) over the entities' kept
      block lists;
    - ``ecbs``: cbs · log(N/|B_a|) · log(N/|B_b|) with N the number of
      kept blocks (the idf-corrected CBS).

    Relational plan: block purging first (size ∉ [min, max] dropped — the
    hot-block guard, same role as the eligible-token cap), one per-block
    self-join bounded by max_block_size, one groupBy (s0, s1) → cbs, then
    two broadcast-sized joins for the per-entity block counts. No window,
    no cross join; the pair groupBy is the only pair-scale shuffle.

    Returns (s0, s1, cbs, nb0, nb1[, weight]).
    """
    a = (
        assignments.select(
            F.col(string_col).alias("string"), F.col(block_col).alias("block")
        )
        .where(F.col("block").isNotNull())
        .distinct()
    )
    sizes = a.groupBy("block").agg(F.count(F.lit(1)).alias("__bs"))
    kept_blocks = sizes.where(
        (F.col("__bs") >= min_block_size) & (F.col("__bs") <= max_block_size)
    ).select("block")
    kept = a.join(kept_blocks, "block", "left_semi")
    l = kept.select("block", F.col("string").alias("s0"))
    r = kept.select("block", F.col("string").alias("s1"))
    edges = (
        l.join(r, "block")
        .where(F.col("s0") < F.col("s1"))
        .groupBy("s0", "s1")
        .agg(F.count(F.lit(1)).alias("cbs"))
    )
    nb = kept.groupBy("string").agg(F.count(F.lit(1)).alias("__nb"))
    edges = (
        edges.join(nb.select(F.col("string").alias("s0"),
                             F.col("__nb").alias("nb0")), "s0")
        .join(nb.select(F.col("string").alias("s1"),
                        F.col("__nb").alias("nb1")), "s1")
    )
    if scheme == "cbs":
        return edges
    if scheme == "jaccard":
        return edges.withColumn(
            "weight",
            F.col("cbs") / (F.col("nb0") + F.col("nb1") - F.col("cbs")),
        )
    if scheme == "ecbs":
        n_blocks = kept_blocks.select(
            F.count(F.lit(1)).cast("double").alias("__nblk")
        )
        return (
            edges.crossJoin(F.broadcast(n_blocks))
            .withColumn(
                "weight",
                F.col("cbs")
                * F.log(F.col("__nblk") / F.col("nb0"))
                * F.log(F.col("__nblk") / F.col("nb1")),
            )
            .drop("__nblk")
        )
    raise ValueError(f"unknown scheme: {scheme!r}")


def metablock_prune(
    weighted: DataFrame,
    method: str = "wep",
    weight_col: str = "cbs",
    k: int = 5,
) -> DataFrame:
    """Prune the meta-blocking graph (Papadakis TKDE 2014 pruning schemes):

    - ``wep`` (Weighted Edge Pruning): keep edges with weight ≥ the global
      mean weight. For the integer ``cbs`` weight the comparison is done in
      exact integer arithmetic (cbs · n_edges ≥ Σ cbs) so the cut is
      reproducible across engines — no float mean near a boundary.
    - ``cnp`` (Cardinality Node Pruning): keep an edge if it ranks in the
      top-k of EITHER endpoint's incident edges (weight desc, partner asc
      tie-break) — the redefined-CNP retain-if-either rule.

    WEP is two passes (1-row aggregate broadcast + filter); CNP is one
    explode-both-directions window. Both stay pair-linear.
    """
    if method == "wep":
        totals = weighted.agg(
            F.sum(F.col(weight_col).cast("decimal(38,6)")).alias("__tw"),
            F.count(F.lit(1)).cast("decimal(38,0)").alias("__ne"),
        )
        return (
            weighted.crossJoin(F.broadcast(totals))
            .where(
                F.col(weight_col).cast("decimal(38,6)") * F.col("__ne")
                >= F.col("__tw")
            )
            .drop("__tw", "__ne")
        )
    if method == "cnp":
        fwd = weighted.select(
            F.col("s0").alias("node"), F.col("s1").alias("partner"),
            F.col(weight_col).alias("__w"), "s0", "s1",
        )
        rev = weighted.select(
            F.col("s1").alias("node"), F.col("s0").alias("partner"),
            F.col(weight_col).alias("__w"), "s0", "s1",
        )
        both = fwd.unionByName(rev)
        w = Window.partitionBy("node").orderBy(
            F.col("__w").desc(), F.col("partner").asc()
        )
        kept = (
            both.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k)
            .select("s0", "s1")
            .distinct()
        )
        return weighted.join(kept, ["s0", "s1"], "left_semi")
    raise ValueError(f"unknown method: {method!r}")


def blocking_scheme_stats(
    records: DataFrame,
    gold_pairs: DataFrame,
    keys,
    id_col: str = "id",
    left_id: str = "id0",
    right_id: str = "id1",
) -> DataFrame:
    """Blocking-SCHEME selection report (Christen, "Data Matching" ch. 7;
    the measurement behind learned/greedy scheme selection à la Michelson
    & Knoblock 2006): one row per candidate key function with

        scheme, n_blocks, max_block,
        cand_pairs        Σ_b n_b·(n_b−1)/2 — candidate mass WITHOUT ever
                          materializing a pair
        covered_matches   labeled match pairs whose two sides share the key
        n_gold            labeled match pairs (after dropping null-key rows)
        pc_milli          floor(1000·covered/n_gold)   (pair completeness)
        rr_milli          1000 − floor(1000·cand_pairs/C(n,2))  (reduction)

    ``keys`` is ``{scheme_name: fn}`` with fn mapping the records DataFrame
    to a key Column (null keys excluded from blocking — standard).
    Choosing a scheme is then an argmax over this table (or a greedy union
    for multi-pass blocking, adding schemes by marginal covered_matches
    per cand_pair).

    Scale shape per scheme: ONE groupBy over the keyed records (block
    sizes), one 1-row aggregate, and two hash joins of the LABELED pair
    sample (gold sets are sample-sized, not corpus-sized) onto the key
    map. The per-scheme scalars are assembled driver-side into the k-row
    report — k is the number of candidate schemes, a small constant.

    No reference counterpart (nama never evaluates blocking); completes
    the existing single-candidate-set ``evaluate.blocking_quality``.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    n = records.count()
    total_pairs = n * (n - 1) // 2
    rows = []
    for name, fn in keys.items():
        keyed = records.select(
            F.col(id_col).alias("_id"), fn(records).alias("_k")
        ).where(F.col("_k").isNotNull())
        agg = (
            keyed.groupBy("_k")
            .agg(F.count(F.lit(1)).alias("nb"))
            .agg(
                F.count(F.lit(1)).alias("n_blocks"),
                F.max("nb").alias("max_block"),
                F.sum(F.col("nb") * (F.col("nb") - 1) / 2).alias("cand"),
            )
            .collect()[0]
        )
        g = (
            gold_pairs.select(
                F.col(left_id).alias("_a"), F.col(right_id).alias("_b")
            )
            .join(keyed.select(F.col("_id").alias("_a"),
                               F.col("_k").alias("_ka")), "_a")
            .join(keyed.select(F.col("_id").alias("_b"),
                               F.col("_k").alias("_kb")), "_b")
        )
        counts = g.agg(
            F.count(F.lit(1)).alias("n_gold"),
            F.sum(
                F.when(F.col("_ka") == F.col("_kb"), 1).otherwise(0)
            ).alias("covered"),
        ).collect()[0]
        cand = int(agg["cand"] or 0)
        n_gold = int(counts["n_gold"] or 0)
        covered = int(counts["covered"] or 0)
        rows.append((
            name,
            int(agg["n_blocks"] or 0),
            int(agg["max_block"] or 0),
            cand,
            covered,
            n_gold,
            (1000 * covered) // n_gold if n_gold else 1000,
            1000 - (1000 * cand) // total_pairs if total_pairs else 0,
        ))
    schema = StructType([
        StructField("scheme", StringType()),
        StructField("n_blocks", LongType()),
        StructField("max_block", LongType()),
        StructField("cand_pairs", LongType()),
        StructField("covered_matches", LongType()),
        StructField("n_gold", LongType()),
        StructField("pc_milli", LongType()),
        StructField("rr_milli", LongType()),
    ])
    spark = records.sparkSession
    return local_frame(spark, rows, schema)
