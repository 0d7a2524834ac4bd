"""Distributed connected components — the engine's transitive-clustering core.

Replaces the reference's sequential dict-rewrite union (nama/match_data.py:203-242,
:244-315) and its threshold-pass clustering (`_fast_unite_similar`,
nama/embedding_similarity/embeddings.py:144-174, whose result is exactly the
connected components of the ≥-threshold graph) with the alternating
large-star / small-star algorithm of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SoCC'14) — O(log n) rounds, each a shuffle-bounded
groupBy + join, no driver-side state.

Scale notes:
- node ids are compared with plain column ordering, so the same code runs on
  string ids (repo names) or longs.
- one entry point, one small-graph decision: ``connected_components`` reads
  the canonical edges once, bounded by ``small_graph_threshold``; a graph
  that fits is solved by driver union-find, a larger one runs the star
  rounds. Every unite in the library reaches CC through it.
- `localCheckpoint()` every iteration cuts the exponentially growing lineage;
  on a real cluster use `checkpoint()` against a durable checkpoint dir
  (configurable via ``checkpoint_dir``) so the loop is resumable.
- convergence is detected with a count + order-insensitive xxhash64 checksum
  (one cheap aggregate per iteration, no exceptAll anti-join).
- per-iteration metrics (edge count, checksum, wall) are appended to an
  in-memory lineage log the caller can persist (plans.lineage).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nama_spark.session import collect_rows, local_frame


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set, canonical (u < v), self-loops dropped."""
    u = F.least(F.col(src), F.col(dst))
    v = F.greatest(F.col(src), F.col(dst))
    return (
        edges.select(u.alias("u"), v.alias("v"))
        .where(F.col("u") != F.col("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    m = min(neighbors(u) ∪ {u}).

    No mid-round distinct: duplicate edges are harmless to the min
    aggregates, and _small_star's closing distinct canonicalizes the round's
    output — dropping the dedup here removes a full O(E)-row shuffle per
    iteration."""
    nbrs = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
    out = (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v"))


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge large→small; for each node u connect every smaller
    neighbor (and u itself) to m = min(smaller-neighbors ∪ {u})."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    out = oriented.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    out = out.union(mins.select(F.col("u"), F.col("m").alias("v")))
    return (
        out.where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # bit_xor is order-insensitive and cannot overflow (edges are distinct, so
    # xor-cancellation of duplicates is not a concern).
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _union_find_local(edge_rows) -> dict:
    """Driver-side union-find for the adaptive small-graph path."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for u, v in edge_rows:
        nodes.add(u)
        nodes.add(v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # min id becomes the root → deterministic component labels
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return {x: find(x) for x in nodes}


def _quotient_edges(
    edges: DataFrame, src: str, dst: str, labels: DataFrame
) -> DataFrame:
    """The group-quotient graph: ``edges`` with each endpoint mapped to its
    label in ``labels`` (node, label), an endpoint outside the table being
    its own label. Returns (src, dst); ``connected_components`` drops the
    self-loops and duplicates the contraction leaves."""
    node, label = labels.columns[:2]

    def side(i):
        return labels.select(
            F.col(node).alias(f"__n{i}"), F.col(label).alias(f"__l{i}")
        )

    return (
        edges.select(F.col(src).alias("__n0"), F.col(dst).alias("__n1"))
        .join(side(0), "__n0", "left")
        .join(side(1), "__n1", "left")
        .select(
            F.coalesce("__l0", "__n0").alias("src"),
            F.coalesce("__l1", "__n1").alias("dst"),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 40,
    checkpoint_dir: str | None = None,
    lineage: list | None = None,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """Compute connected components of an undirected edge DataFrame.

    Returns (node, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id of the component (deterministic).

    Adaptive execution, decided here and nowhere else: the canonical edge
    set is pinned and read once, bounded by ``small_graph_threshold``
    (``collect_rows``: an Arrow ``limit(cap + 1)`` read). A graph that fits
    is solved by driver-side union-find (same partition, same min-id
    labels): below the threshold the O(log n) shuffle rounds are pure
    scheduling latency. A graph that does not fit has had its pin
    materialized by that read, and the large-star/small-star rounds run on
    it. The 100k default bounds the driver read to ~10 MB of string pairs.

    Callers with isolated nodes union them in afterwards
    (``MatchData.unite``, ``labels_for_nodes``).
    """
    spark = edges.sparkSession
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    e = _canonical_edges(edges, src, dst)
    # the local pin is lazy: the bounded read below materializes it
    e = e.checkpoint() if checkpoint_dir else e.localCheckpoint(eager=False)
    rows = collect_rows(e, small_graph_threshold)
    if rows is not None:
        _log(lineage, "cc", 0, len(rows), "edges", float(len(rows)))
        comp = _union_find_local(rows)
        _log(lineage, "cc", 1, len(comp), "small_graph_union_find", 1.0)
        # node ids keep the edge type (strings on the ER path; the module
        # also runs on integer ids, see the module docstring)
        t = e.schema["u"].dataType.simpleString()
        return local_frame(
            spark, list(comp.items()), f"node {t}, component {t}"
        )

    prev = _checksum(e)
    _log(lineage, "cc", 0, prev[0], "edges", float(prev[0]))
    for it in range(1, max_iter + 1):
        t0 = time.time()
        e2 = _small_star(_large_star(e))
        # lazy pin: the checksum aggregate materializes it in one job
        e2 = e2.checkpoint() if checkpoint_dir else e2.localCheckpoint(eager=False)
        cur = _checksum(e2)
        e.unpersist()
        e = e2
        _log(lineage, "cc", it, cur[0], "wall_sec", time.time() - t0)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} iters")

    # At convergence edges are stars (node → component-min). Roots map to
    # themselves.
    labels = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    # A root never appears as v with a different u at convergence, so this
    # union is disjoint except roots; drop duplicates defensively.
    return labels.union(roots).groupBy("node").agg(F.min("component").alias("component"))


def labels_for_nodes(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "string",
    **cc_kwargs,
) -> DataFrame:
    """(node, component) for EVERY node in ``nodes`` — isolated nodes become
    their own singleton component (the reference's singleton-start invariant,
    match_data.py:123-126)."""
    comp = connected_components(edges, **cc_kwargs)
    n = nodes.select(F.col(node_col).alias("node")).distinct()
    return n.join(comp, "node", "left").select(
        F.col("node"),
        F.coalesce(F.col("component"), F.col("node")).alias("component"),
    )


def connected_components_delta(
    assignments: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    new_nodes: DataFrame | None = None,
    node_col: str = "node",
    lineage: list | None = None,
    **cc_kwargs,
) -> DataFrame:
    """Fold a DELTA edge batch into a persisted ``(node, component)``
    assignment WITHOUT re-reading or re-solving the historical edge set —
    the clustering member of the index-once / delta-daily family
    (dedup.minhash_band_index, ann.ivf_assign_delta).

    Exactness: edges only ever MERGE components, so the components of
    (old edges ∪ Δ) are exactly the components of the label multigraph
    obtained by contracting every old component to its label. We therefore
    (1) map each Δ endpoint to its current label (unknown endpoint ⇒ the
    node is brand-new and is its own label), (2) solve CC on that contracted
    label graph — O(|Δ|) edges, usually the driver union-find fast path —
    and (3) relabel the big assignment table through the resulting
    old-label → merged-label map. Labels stay the component-min node id:
    an old label is the min of its old members, a new node's label is
    itself, and the merged root is the min over the meta-component's
    labels, i.e. the min over all members. Same (node, component) contract
    as ``connected_components`` on the full edge set.

    Scale: the only touch of the full corpus is ONE equi-join of the
    assignment table against the relabel map, which is bounded by
    2·|Δ edges| + |new_nodes| rows and is broadcast — no shuffle of the
    assignment table, no re-shingle/re-score of historical pairs. A daily
    Δ at 10^12-file scale costs O(Δ) + one broadcast map-side pass.

    ``new_nodes``: optional single-column DataFrame of node ids that must
    appear in the output even if isolated (the singleton-start invariant,
    reference match_data.py:123-126).
    """
    a = assignments.select("node", "component")
    e = _canonical_edges(new_edges, src, dst)

    _log(lineage, "cc_delta", 0, None, "contracted_label_graph", 1.0)
    meta = connected_components(
        _quotient_edges(e, "u", "v", a), lineage=lineage, **cc_kwargs
    )
    relabel = meta.select(
        F.col("node").alias("old_label"), F.col("component").alias("merged")
    )

    # Bounded by the delta, so broadcast: the full assignment table is never
    # shuffled. For a Δ too big to broadcast, chunk the delta (each chunk is
    # exact, see Exactness above) rather than lifting the hint.
    relabel_b = F.broadcast(relabel)
    out_old = (
        a.join(relabel_b, a["component"] == relabel_b["old_label"], "left")
        .select(a["node"], F.coalesce("merged", a["component"]).alias("component"))
    )

    ep = e.select(F.col("u").alias("node")).union(e.select(F.col("v").alias("node")))
    if new_nodes is not None:
        ep = ep.union(new_nodes.select(F.col(node_col).alias("node")))
    fresh = ep.distinct().join(a.select("node"), "node", "left_anti")
    out_new = (
        fresh.join(relabel_b, fresh["node"] == relabel_b["old_label"], "left")
        .select(fresh["node"], F.coalesce("merged", fresh["node"]).alias("component"))
    )
    return out_old.unionByName(out_new)


# an inherited entity id "<base>.<k>": group 1 the base, group 2 the suffix
# k (rule 4 of stable_entity_ids; delta_fold matches with the same pattern)
ENTITY_ID_SUFFIX = r"^(.*)\.([1-9][0-9]{0,17})$"


def stable_entity_ids(
    previous: DataFrame,
    current: DataFrame,
    mint_prefix: str = "n:",
) -> DataFrame:
    """Carry ENTITY IDS across re-clusterings: given last run's
    ``previous`` (node, entity_id) and this run's ``current``
    (node, component), return (node, entity_id) where every current
    component keeps a prior entity id when it legitimately continues one,
    and mints a deterministic new id otherwise.

    Production ER needs ids that survive re-runs (downstream systems key on
    the entity id, not on the min-member label, which changes whenever the
    min member moves). Rules, each a deterministic total order:

    1. A component's CANDIDATE id is the previous entity id held by the
       plurality of its members (ties → lexicographically smallest id).
    2. An entity id claimed by several components (a cluster SPLIT) stays
       with the component holding the most of its members (ties →
       smallest component label); the losers mint.
    3. Components with no previously-seen member (or that lost rule 2)
       mint ``mint_prefix + md5(component label)`` — deterministic and
       namespace-disjoint from inherited ids as long as ids are only ever
       created by this operator.
    4. A mint equal to an id inherited in this run is re-minted as that
       id plus ``.k``, k one above the largest ``.k`` suffix any inherited
       id carries on it. This happens when a split loser's label minted
       the id in an earlier run and a bigger fragment keeps it: {a,b,c}
       labelled a held ``n:md5(a)``; after the split {b,c} keeps it and
       {a} gets ``n:md5(a).1``. Mints that collide with nothing are
       unchanged.

    Shape: two groupBy aggs + arg-min via min(struct(-n, id)) — no
    per-component windows, so a giant component never serializes into one
    task's sort. The vote table is |nodes with a previous id| rows, the
    argmax tables are |components| / |entity ids| rows. Rule 4 is one
    window over the |components| id rows, keyed by id base: a partition
    holds one row unless ids share a base.

    ``current`` is read three times (the vote join, the null votes of
    rule 1 and the final join), so callers pass a pinned frame
    (cached or ``localCheckpoint``-ed); an unpinned plan re-runs its whole
    lineage once per read.

    ``delta_fold.stable_entity_ids`` applies the same rules to driver rows;
    a rule changed here changes there too (tests/test_delta_fold.py twins
    them).
    """
    prev = previous.select("node", "entity_id")
    cur = current.select("node", "component")

    votes = (
        cur.join(prev, "node")
        .groupBy("component", "entity_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # rule 1: best previous id per component (max n, then min id). Every
    # component of ``cur`` enters the same aggregation with a null vote, so
    # components without a previous member get a null candidate
    no_vote = cur.select(
        "component",
        F.lit(None).cast("long").alias("neg"),
        F.lit(None).cast(prev.schema["entity_id"].dataType).alias("entity_id"),
    )
    best_id = (
        votes.select("component", (-F.col("n")).alias("neg"), "entity_id")
        .unionByName(no_vote)
        .groupBy("component")
        .agg(F.min(F.when(F.col("neg").isNotNull(),
                          F.struct("neg", "entity_id"))).alias("b"))
        .select("component", F.col("b.entity_id").alias("candidate"))
    )
    # rule 2: winning component per previous id (max n, then min component)
    winner = votes.groupBy("entity_id").agg(
        F.min(F.struct((-F.col("n")).alias("neg"), F.col("component"))).alias("w")
    ).select(F.col("entity_id").alias("candidate"), F.col("w.component").alias("wc"))

    kept = F.col("candidate").isNotNull() & (F.col("wc") == F.col("component"))
    entity_id = (
        F.when(kept, F.col("candidate"))
        .otherwise(F.concat(F.lit(mint_prefix), F.md5(F.col("component"))))
    )
    # rule 4: an inherited id "<base>.<k>" files under <base> with suffix k,
    # any other inherited id under itself with k = 0, a mint under itself
    # with no k; a mint whose base holds a k = 0 id takes max k + 1
    has_suffix = kept & F.col("candidate").rlike(ENTITY_ID_SUFFIX)
    base = F.when(
        has_suffix, F.regexp_extract("candidate", ENTITY_ID_SUFFIX, 1)
    ).otherwise(entity_id)
    k = F.when(
        has_suffix, F.regexp_extract("candidate", ENTITY_ID_SUFFIX, 2).cast("long")
    ).when(kept, F.lit(0))
    by_base = Window.partitionBy("base")
    taken = F.max(F.col("k") == 0).over(by_base)
    comp_ids = (
        best_id.join(winner, "candidate", "left")
        .select("component", kept.alias("kept"), entity_id.alias("entity_id"),
                base.alias("base"), k.alias("k"))
        .select(
            "component",
            F.when(
                ~F.col("kept") & taken,
                F.concat(F.col("base"), F.lit("."),
                         (F.max("k").over(by_base) + 1).cast("string")),
            )
            .otherwise(F.col("entity_id"))
            .alias("entity_id"),
        )
    )
    return cur.join(comp_ids, "component").select("node", "entity_id")


def _log(lineage, stage, iteration, rows, metric, value):
    if lineage is not None:
        lineage.append(
            {
                "stage": stage,
                "iteration": iteration,
                "rows": rows,
                "metric": metric,
                "value": float(value),
            }
        )
