"""Constrained greedy clustering — the reference's full ``unite_similar``
path (embeddings.py:177-458) and ``MatchData.separate`` (match_data.py:395-454).

Semantics (from the reference):
- candidate pairs with calibrated score ≥ threshold are processed in
  DESCENDING cosine order (embeddings.py:335-337). Equal-cosine ties: the
  reference's numpy argsort()[::-1] uses an UNSTABLE quicksort, so its tie
  order is unspecified — here ties break deterministically in reverse
  (i, j) order over the component's sorted members (a deterministic
  refinement; constraint outcomes on bit-identical-cosine ties may differ
  from a given reference run, as they may between two reference runs);
- groups start as singletons even when ``always_match`` is given
  (embeddings.py:222); always groups are united at the END
  (embeddings.py:436-437) — they influence the loop only through the
  never-label collapse below;
- ``never_match`` sets are collapsed to always-group LABELS when
  ``always_match`` is present (embeddings.py:276-281, always wins over never;
  conflicts — two strings of one never set sharing an always label — are
  detected per ``always_never_conflicts`` ∈ {warn, raise, ignore},
  embeddings.py:248-273);
- each group carries the union of its members' never sets; a merge is REFUSED
  if the two groups' never sets intersect (embeddings.py:385-391, 410-413);
- with ``group_threshold`` set, a merge of a would-be group of ≥3 strings is
  REFUSED unless the minimum pairwise cosine across the two groups ≥
  cos(group_threshold) — complete linkage (embeddings.py:395-399); two
  singletons merge WITHOUT this check (``singletons`` flag, embeddings.py:380);
- a REFUSED merge removes every queued pair connecting the two groups as
  composed at refusal time (embeddings.py:425-427);
- ``return_united`` records each accepted pair with the two groups' count
  sums at merge time and the calibrated score (embeddings.py:415-421,
  439-458).

Spark realization: the greedy loop is order-dependent, but constraints only
ever *refuse* merges, so the result decomposes by connected component of the
unconstrained ≥-threshold graph plus always-edges: no merge can cross
components. Components are small after thresholding, so each one runs the
exact sequential loop inside one ``applyInPandas`` task — embarrassingly
parallel across components, reference-exact within each.
"""

from __future__ import annotations

import warnings
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nama_spark.operators.cluster import labels_for_nodes
from nama_spark.operators.embed import DEFAULT_ALPHA, threshold_candidates
from nama_spark.operators.matchdata import MatchData
from nama_spark.operators.score import calibrated_score, score_to_cos
from nama_spark.session import local_frame


def _always_labels(always_sets: list[list[str]]) -> dict[str, str]:
    """string → always-group label (min string of its always component —
    MatchData(strings).unite(always_match).labels with unit counts,
    embeddings.py:224-227). Strings outside every always set label
    themselves (handled by dict.get default at the call sites)."""
    parent: dict[str, str] = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for grp in always_sets:
        grp = sorted(grp)
        for s in grp[1:]:
            ra, rb = find(grp[0]), find(s)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
    return {s: find(s) for s in parent}


def _greedy_component(
    members: list[str],
    counts: list[int],
    vecs: np.ndarray,
    edges: list[tuple[int, int, float]],
    never_of: dict[int, frozenset],
    always_groups: list[list[int]],
    separate_cos: float | None,
) -> tuple[list[int], list[tuple[int, int, int, int, float]]]:
    """Reference-exact sequential loop inside one component. Indices are
    positions in ``members``. Returns (group id per member, accepted merges
    as (i, j, n_i, n_j, cos))."""
    group = {i: i for i in range(len(members))}
    members_of: dict[int, list[int]] = {i: [i] for i in range(len(members))}
    never: dict[int, frozenset] = {
        i: never_of.get(i, frozenset()) for i in range(len(members))
    }

    # descending cos; ties in reverse (i, j) order (argsort()[::-1] of a
    # stable ascending sort over pairs originally enumerated in (i, j) order)
    queue = sorted(edges, key=lambda e: (-e[2], -e[0], -e[1]))
    united: list[tuple[int, int, int, int, float]] = []

    qi = 0
    alive = [True] * len(queue)
    while qi < len(queue):
        if not alive[qi]:
            qi += 1
            continue
        i0, i1, cos = queue[qi]
        qi += 1
        g0, g1 = group[i0], group[i1]
        if g0 == g1:
            # reference prunes these after non-singleton merges; skipping at
            # pop time is outcome-identical (a same-group pop never records)
            continue
        m0, m1 = members_of[g0], members_of[g1]
        singletons = len(m0) + len(m1) < 3

        unite_ok = True
        n0, n1 = never[g0], never[g1]
        if n0 and n1 and (n0 & n1):
            unite_ok = False
        if unite_ok and separate_cos is not None and not singletons:
            v0 = vecs[m0]
            v1 = vecs[m1]
            if float((v0 @ v1.T).min()) < separate_cos:
                unite_ok = False

        if unite_ok:
            united.append(
                (i0, i1, sum(counts[m] for m in m0), sum(counts[m] for m in m1), cos)
            )
            for m in m1:
                group[m] = g0
            members_of[g0] = m0 + m1
            del members_of[g1]
            if n0 or n1:
                never[g0] = n0 | n1
            never.pop(g1, None)
        else:
            # drop every queued pair connecting these two groups as composed
            # now (embeddings.py:425-427). This full-queue scan is the
            # reference's own rule (O(Q) per refusal, O(Q²) worst case) —
            # tolerable because Q is bounded by the caller's
            # max_component_size guard; an alive-index per group pair would
            # only help degenerate low-threshold inputs the guard rejects.
            gset = {g0, g1}
            for k in range(qi, len(queue)):
                if alive[k]:
                    a, b, _ = queue[k]
                    if group[a] in gset and group[b] in gset:
                        alive[k] = False

    # always groups unite at the END (embeddings.py:436-437)
    for grp in always_groups:
        roots = sorted({group[i] for i in grp if i in group})
        if len(roots) > 1:
            keep = roots[0]
            for r in roots[1:]:
                for m in members_of.pop(r):
                    group[m] = keep
                    members_of[keep].append(m)

    return [group[i] for i in range(len(members))], united


def unite_similar_constrained(
    matchdata: MatchData,
    embeddings: DataFrame,
    threshold: float = 0.5,
    alpha: float = DEFAULT_ALPHA,
    group_threshold: float | None = None,
    always_match: Iterable[Iterable[str]] | None = None,
    never_match: Iterable[Iterable[str]] | None = None,
    candidate_mode: str = "lsh",
    always_never_conflicts: str = "warn",
    return_united: bool = False,
    max_component_size: int | None = 50_000,
    **lsh_kwargs,
):
    """Constrained unite_similar (embeddings.py:177-458): reference-exact
    greedy GIVEN the candidate graph.

    ``candidate_mode`` defaults to "lsh" — the exact tiled matmul scan
    (cos = 1 − e·e/2 from the euclidean distance), so the relational
    bruteforce self-join never runs by default at scale. Pass
    candidate_mode="bruteforce" on small universes to reproduce the
    reference's dot-product cosines exactly. With no constraints use
    operators.embed.unite_similar — it avoids the per-component pandas step
    entirely.

    Returns MatchData, or (MatchData, united_df) when ``return_united``:
    united_df has one row per ACCEPTED merge — (s0, s1, n0, n1, score[,
    always_match]) mirroring the reference's united frame
    (embeddings.py:439-458).

    ``max_component_size`` guards the per-component sequential greedy: a
    too-low threshold (or a degenerate embedding) can produce one giant
    component, which would run the entire loop in a single task with an
    O(|V|²) in-task linkage matmul. Component sizes are counted up front (one
    cheap agg on the already-needed component frame); exceeding the cap
    raises with an actionable message instead of silently wedging an
    executor. Pass None to disable (small universes / tests).
    """
    if group_threshold and group_threshold < threshold:
        raise ValueError("group_threshold must be greater than or equal to threshold")
    assert always_never_conflicts in ("raise", "warn", "ignore")

    spark = embeddings.sparkSession
    cos_t = score_to_cos(threshold, alpha)
    sep_cos = (
        None if group_threshold is None else score_to_cos(group_threshold, alpha)
    )
    cand = threshold_candidates(embeddings, cos_t, candidate_mode, **lsh_kwargs)

    always_sets = [sorted(str(s) for s in grp) for grp in (always_match or [])]
    never_sets = [sorted(str(s) for s in grp) for grp in (never_match or [])]
    labels = _always_labels(always_sets)

    # collapse never sets through always labels; detect conflicts
    # (embeddings.py:248-281 — always wins, conflicted relationships vanish
    # because two strings sharing an always label collapse to one element).
    # With always_match present the reference also DROPS never-set members
    # that are not in the string universe (its label dict only covers
    # universe strings); without always_match it keeps them (raw-string
    # sets). Mirror both behaviors — membership probed with one semi-filter.
    if always_sets and never_sets:
        probe = sorted({s for grp in never_sets for s in grp})
        present = {
            r["string"]
            for r in embeddings.select("string")
            .where(F.col("string").isin(probe))
            .collect()
        }
        never_sets = [[s for s in grp if s in present] for grp in never_sets]
    collapsed_never: list[frozenset] = []
    conflicts = []
    for idx, grp in enumerate(never_sets):
        lbls = [labels.get(s, s) for s in grp]
        if len(set(lbls)) < len(grp):
            conflicts.append((idx, grp, lbls))
        collapsed_never.append(frozenset(lbls))
    if conflicts and always_never_conflicts != "ignore":
        msg = (
            "never_match groups in conflict with always_match groups "
            f"(always wins, conflicted relationships ignored): {conflicts}"
        )
        if always_never_conflicts == "raise":
            raise ValueError(msg)
        warnings.warn(msg)

    always_edges = []
    for grp in always_sets:
        always_edges += [(grp[0], s) for s in grp[1:]]
    a_edges = local_frame(spark, always_edges, "s0 string, s1 string")

    # components of the unconstrained graph (candidates ∪ always edges)
    # bound all possible merges
    comp = labels_for_nodes(
        embeddings.select("string"),
        cand.select("s0", "s1").union(a_edges),
        node_col="string",
        src="s0",
        dst="s1",
    )

    if max_component_size is not None:
        biggest = (
            comp.groupBy("component")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("mx"))
            .collect()[0]["mx"]
        )
        if biggest is not None and biggest > max_component_size:
            raise ValueError(
                f"largest candidate component has {biggest} members "
                f"(max_component_size={max_component_size}): the sequential "
                "greedy would run it as ONE task with an O(|V|²) linkage "
                "check. Raise `threshold`, tighten the LSH parameters "
                "(fewer/narrower buckets), or raise max_component_size "
                "explicitly if the giant component is intended."
            )

    # distinct column names per branch — both branches join the same comp
    # frame, and Spark's ambiguous-self-join check rejects shared refs
    comp_v = comp.select(
        F.col("node").alias("string"), F.col("component").alias("vcomp")
    )
    comp_e = comp.select(
        F.col("node").alias("s0"), F.col("component").alias("ecomp")
    )
    # counts ride along with the vectors (merge-time group count sums for the
    # return_united audit log) — a join, never a driver-side collect
    cnt = matchdata.df.select("string", F.col("count").alias("__cnt"))
    vecs = (
        embeddings.select("string", "vec")
        .join(cnt, "string", "left")
        .join(comp_v, "string")
    )
    edges = cand.join(comp_e, "s0").select("ecomp", "s0", "s1", "cos")

    out_schema = T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("string", T.StringType()),
            T.StructField("group", T.StringType()),
            T.StructField("n0", T.LongType()),
            T.StructField("n1", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def solve(vec_pdf: pd.DataFrame, edge_pdf: pd.DataFrame) -> pd.DataFrame:
        members = sorted(vec_pdf["string"])
        idx = {s: i for i, s in enumerate(members)}
        # float64 to match the relational cosine (zip_with/aggregate on
        # doubles) used for the candidate scores
        vmat = np.array(
            [list(v) for v in vec_pdf.sort_values("string")["vec"]], dtype=np.float64
        )
        e = [
            (idx[r.s0], idx[r.s1], float(r.cos))
            for r in edge_pdf.itertuples()
            if r.s0 in idx and r.s1 in idx
        ]
        # per-member never set: last-set-wins label→set map
        # (embeddings.py:349 never_match_map dict comprehension)
        never_map = {lbl: ns for ns in collapsed_never for lbl in ns}
        never_of = {}
        for s, i in idx.items():
            ns = never_map.get(labels.get(s, s))
            if ns:
                never_of[i] = ns
        agroups = [
            [idx[s] for s in grp if s in idx] for grp in always_sets
        ]
        agroups = [g for g in agroups if len(g) >= 2]
        cnts = [
            int(c) if pd.notna(c) else 1
            for c in vec_pdf.sort_values("string")["__cnt"]
        ]
        gids, united = _greedy_component(
            members, cnts, vmat, e, never_of, agroups, sep_cos
        )
        rows = [
            ("m", members[i], members[g], None, None, None)
            for i, g in enumerate(gids)
        ]
        rows += [
            ("u", members[i], members[j], n_i, n_j, cos)
            for i, j, n_i, n_j, cos in united
        ]
        return pd.DataFrame(
            rows, columns=["kind", "string", "group", "n0", "n1", "cos"]
        )

    solved = (
        vecs.groupBy("vcomp")
        .cogroup(edges.groupBy("ecomp"))
        .applyInPandas(solve, schema=out_schema)
    )
    if return_united:
        # both downstream branches (partition + audit log) consume `solved`;
        # pin it once. Durable checkpoint when a checkpoint dir is configured
        # (survives executor loss / stage retry on a real cluster, mirroring
        # cluster.py); localCheckpoint otherwise (local mode).
        if spark.sparkContext.getCheckpointDir():
            solved = solved.checkpoint()
        else:
            solved = solved.localCheckpoint()

    part = solved.where(F.col("kind") == "m").select("string", "group")
    out = matchdata.df.drop("group").join(part, "string", "left")
    out = out.withColumn("group", F.coalesce(F.col("group"), F.col("string")))
    md = MatchData(out)
    if not return_united:
        return md

    score = calibrated_score(F.col("cos"), alpha)
    united_df = solved.where(F.col("kind") == "u").select(
        F.col("string").alias("s0"),
        F.col("group").alias("s1"),
        "n0",
        "n1",
        score.alias("score"),
    )
    if always_sets:
        # always-label lookup as a map literal (labels dict is the small
        # user-provided constraint set) — JVM-side, no Python UDF
        lbl_map = F.create_map(
            *[F.lit(x) for kv in sorted(labels.items()) for x in kv]
        )
        l0 = F.coalesce(F.element_at(lbl_map, F.col("s0")), F.col("s0"))
        l1 = F.coalesce(F.element_at(lbl_map, F.col("s1")), F.col("s1"))
        united_df = united_df.withColumn("always_match", l0 == l1)
    return md, united_df


def separate(
    matchdata: MatchData,
    strings: Iterable[str],
    embeddings: DataFrame,
    threshold: float = 0.5,
    alpha: float = DEFAULT_ALPHA,
    **kwargs,
) -> MatchData:
    """Force the given strings into different groups (match_data.py:395-454):
    split every affected group, then re-predict its members with the separated
    strings as pairwise never_match constraints."""
    s_list = sorted(set(strings))
    # compute-once pin; localCheckpoint (not cache) so the blocks are
    # reclaimed once the returned frame's lineage is dropped
    affected = matchdata.matched_to(s_list).localCheckpoint(eager=False)
    affected_strings = {r["string"] for r in affected.select("string").collect()}
    rest = matchdata.drop(affected_strings)

    emb_sub = embeddings.join(
        affected.select("string"), "string", "left_semi"
    )
    sub_md = MatchData(
        affected.select("string", "count").withColumn("group", F.col("string")),
        _relabel=False,
    )
    re_clustered = unite_similar_constrained(
        sub_md,
        emb_sub,
        threshold=threshold,
        alpha=alpha,
        never_match=[s_list],
        **kwargs,
    )
    merged = rest.df.unionByName(re_clustered.df)
    return MatchData(merged)
