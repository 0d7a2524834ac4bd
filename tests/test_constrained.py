"""Constrained clustering vs a from-spec sequential oracle on random unit
vectors (the reference's greedy semantics, embeddings.py:177-458):

- groups start as singletons; always groups unite at the END
  (embeddings.py:222, 436-437);
- never sets collapse to always-group labels (always wins over never,
  embeddings.py:276-281); a merge is refused when the two groups' never sets
  intersect (embeddings.py:385-391);
- group_threshold complete-linkage applies only to merges producing a group
  of ≥3 strings (the `singletons` flag, embeddings.py:380, 395-399);
- a refused merge removes every queued pair connecting the two groups as
  composed at refusal time (embeddings.py:425-427);
- ties in cosine process in reverse (i, j) order (argsort()[::-1]);
- return_united records each accepted merge with merge-time group count sums
  and the calibrated score (embeddings.py:415-421, 439-458).

Oracle-exactness tests pass candidate_mode="bruteforce" so the candidate set
is the full ≥-threshold graph the oracle enumerates; the default lsh mode
gets its own smoke test (distance-derived cosines — outcome is a refinement).
"""

import math
import random
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from nama_spark.operators.constrained import separate, unite_similar_constrained
from nama_spark.operators.matchdata import MatchData

ALPHA = 20.0


def _random_embeddings(rng, n=40, dim=8, n_clusters=6):
    """Clustered random unit vectors so thresholds produce real structure."""
    centers = [np.array([rng.gauss(0, 1) for _ in range(dim)]) for _ in range(n_clusters)]
    rows = []
    for i in range(n):
        c = centers[i % n_clusters]
        v = c + 0.3 * np.array([rng.gauss(0, 1) for _ in range(dim)])
        v = v / np.linalg.norm(v)
        rows.append((f"s{i:03d}", 1 + i % 3, [float(x) for x in v]))
    return rows


def _always_labels(always):
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for grp in always or []:
        grp = sorted(grp)
        for s in grp[1:]:
            ra, rb = find(grp[0]), find(s)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
    return {s: find(s) for s in parent}


def _oracle(rows, threshold, group_threshold=None, always=None, never=None):
    """Sequential greedy from the published semantics. Returns
    (partition, united) where united = [(s0, s1, n0, n1, cos), ...]."""
    strings = [r[0] for r in rows]
    counts = {r[0]: r[1] for r in rows}
    vec = {r[0]: np.array(r[2], dtype=np.float64) for r in rows}
    cos_t = 1.0 + math.log(threshold) / ALPHA
    sep_cos = (
        1.0 + math.log(group_threshold) / ALPHA if group_threshold else None
    )

    labels = _always_labels(always)
    # reference rule: with always_match the never members are looked up in a
    # labels dict covering only UNIVERSE strings — out-of-universe members
    # silently drop (embeddings.py:278-281); without always_match the raw
    # string sets are kept as-is (embeddings.py:283-284)
    universe = set(strings)
    if always:
        never = [[s for s in grp if s in universe] for grp in (never or [])]
    collapsed = [
        frozenset(labels.get(s, s) for s in grp) for grp in (never or [])
    ]
    never_map = {lbl: ns for ns in collapsed for lbl in ns}

    group = {s: s for s in strings}
    members = {s: [s] for s in strings}
    never_grp = {
        s: never_map.get(labels.get(s, s), frozenset()) for s in strings
    }

    pos = {s: i for i, s in enumerate(strings)}
    queue = []
    for i, a in enumerate(strings):
        for b in strings[i + 1:]:
            c = float(vec[a] @ vec[b])
            if c >= cos_t:
                queue.append((a, b, c))
    queue.sort(key=lambda e: (-e[2], -pos[e[0]], -pos[e[1]]))

    united = []
    alive = [True] * len(queue)
    for qi, (a, b, c) in enumerate(queue):
        if not alive[qi]:
            continue
        ga, gb = group[a], group[b]
        if ga == gb:
            continue
        ma, mb = members[ga], members[gb]
        singletons = len(ma) + len(mb) < 3
        ok = True
        na, nb = never_grp[ga], never_grp[gb]
        if na and nb and (na & nb):
            ok = False
        if ok and sep_cos is not None and not singletons:
            v0 = np.stack([vec[s] for s in ma])
            v1 = np.stack([vec[s] for s in mb])
            if float((v0 @ v1.T).min()) < sep_cos:
                ok = False
        if ok:
            united.append(
                (a, b, sum(counts[s] for s in ma), sum(counts[s] for s in mb), c)
            )
            for s in mb:
                group[s] = ga
            members[ga] = ma + mb
            del members[gb]
            if na or nb:
                never_grp[ga] = na | nb
        else:
            gset = {ga, gb}
            for k in range(qi + 1, len(queue)):
                if alive[k]:
                    x, y, _ = queue[k]
                    if group[x] in gset and group[y] in gset:
                        alive[k] = False

    # always groups unite at the end
    for grp in always or []:
        grp = sorted(grp)
        roots = sorted({group[s] for s in grp})
        keep = roots[0]
        for r in roots[1:]:
            for s in members.pop(r):
                group[s] = keep
                members[keep].append(s)

    part = {}
    for s in strings:
        part.setdefault(group[s], set()).add(s)
    return {frozenset(v) for v in part.values()}, united


def _partition(md):
    groups = {}
    for r in md.df.collect():
        groups.setdefault(r["group"], set()).add(r["string"])
    return {frozenset(v) for v in groups.values()}


@pytest.fixture(scope="module")
def data(spark):
    rng = random.Random(11)
    rows = _random_embeddings(rng)
    emb = spark.createDataFrame(rows, ["string", "count", "vec"]).cache()
    md = MatchData(
        emb.select("string", "count").withColumn("group", F.col("string")),
        _relabel=False,
    )
    return rows, emb, md


def test_unconstrained_matches_oracle(spark, data):
    rows, emb, md = data
    got = _partition(
        unite_similar_constrained(
            md, emb, threshold=0.5, alpha=ALPHA, candidate_mode="bruteforce"
        )
    )
    assert got == _oracle(rows, 0.5)[0]


def test_lsh_default_is_refinement(spark, data):
    """Default candidate_mode is lsh (the exact tiled scan, not the
    relational self-join): its cosines come from the euclidean distance,
    so at the threshold it may differ from the bruteforce dot product by
    rounding; on this fixture the result refines the bruteforce
    partition."""
    import inspect

    sig = inspect.signature(unite_similar_constrained)
    assert sig.parameters["candidate_mode"].default == "lsh"
    rows, emb, md = data
    got = _partition(unite_similar_constrained(md, emb, threshold=0.5, alpha=ALPHA))
    full = _oracle(rows, 0.5)[0]
    for g in got:
        assert any(g <= big for big in full)


def test_group_threshold_complete_linkage(spark, data):
    rows, emb, md = data
    got = _partition(
        unite_similar_constrained(
            md, emb, threshold=0.5, group_threshold=0.9, alpha=ALPHA,
            candidate_mode="bruteforce",
        )
    )
    want = _oracle(rows, 0.5, group_threshold=0.9)[0]
    assert got == want
    # complete linkage can only refuse merges → partition is a refinement
    loose = _oracle(rows, 0.5)[0]
    for g in want:
        assert any(g <= big for big in loose)


def test_never_match_blocks_merges(spark, data):
    rows, emb, md = data
    never = [["s000", "s006"], ["s012", "s018"]]
    got = _partition(
        unite_similar_constrained(
            md, emb, threshold=0.5, never_match=never, alpha=ALPHA,
            candidate_mode="bruteforce",
        )
    )
    assert got == _oracle(rows, 0.5, never=never)[0]
    for g in got:
        assert not {"s000", "s006"} <= g
        assert not {"s012", "s018"} <= g


def test_always_match_unites_at_end(spark, data):
    rows, emb, md = data
    always = [["s001", "s002"]]
    got = _partition(
        unite_similar_constrained(
            md, emb, threshold=0.5, always_match=always, alpha=ALPHA,
            candidate_mode="bruteforce",
        )
    )
    assert got == _oracle(rows, 0.5, always=always)[0]
    assert any({"s001", "s002"} <= g for g in got)


def test_return_united_audit_log(spark, data):
    """The accepted-merge log matches the sequential oracle's accept sequence
    (as a multiset — row order is not DataFrame semantics): same pairs, same
    merge-time group count sums, calibrated score = exp(−α(1−cos))."""
    rows, emb, md = data
    got_md, united_df = unite_similar_constrained(
        md, emb, threshold=0.5, group_threshold=0.9, alpha=ALPHA,
        candidate_mode="bruteforce", return_united=True,
    )
    want_part, want_united = _oracle(rows, 0.5, group_threshold=0.9)
    assert _partition(got_md) == want_part
    got = {
        (r["s0"], r["s1"], r["n0"], r["n1"], round(r["score"], 9))
        for r in united_df.collect()
    }
    want = {
        (a, b, n0, n1, round(min(1.0, math.exp(-ALPHA * (1.0 - c))), 9))
        for a, b, n0, n1, c in want_united
    }
    assert got == want
    # every accepted pair's endpoints ended co-grouped
    part_of = {s: g for g in want_part for s in g}
    for a, b, *_ in want_united:
        assert part_of[a] is part_of[b]


def test_always_never_conflict_warns_and_always_wins(spark, data):
    rows, emb, md = data
    always = [["s000", "s006"]]
    never = [["s000", "s006", "s012"]]
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = _partition(
            unite_similar_constrained(
                md, emb, threshold=0.5, always_match=always, never_match=never,
                alpha=ALPHA, candidate_mode="bruteforce",
            )
        )
        assert any("conflict" in str(x.message) for x in w)
    # always wins: s000+s006 co-grouped despite the never set
    assert any({"s000", "s006"} <= g for g in got)
    assert got == _oracle(rows, 0.5, always=always, never=never)[0]
    with pytest.raises(ValueError):
        unite_similar_constrained(
            md, emb, threshold=0.5, always_match=always, never_match=never,
            alpha=ALPHA, candidate_mode="bruteforce",
            always_never_conflicts="raise",
        )


def test_separate_forces_apart(spark, data):
    rows, emb, md = data
    clustered = unite_similar_constrained(
        md, emb, threshold=0.5, alpha=ALPHA, candidate_mode="bruteforce"
    )
    part = _partition(clustered)
    # pick two strings that ended co-grouped
    big = max(part, key=len)
    assert len(big) >= 2
    a, b = sorted(big)[:2]
    out = separate(
        clustered, [a, b], emb, threshold=0.5, alpha=ALPHA,
        candidate_mode="bruteforce",
    )
    new_part = _partition(out)
    assert not any({a, b} <= g for g in new_part)
    # untouched groups stay intact
    for g in part:
        if g != big:
            assert g in new_part


def test_never_match_out_of_universe_drops_with_always(spark, data):
    """With always_match present, never-set members absent from the string
    universe drop before the collapse (the reference's label-dict lookup),
    so two never sets intersecting only on a ghost string do NOT block each
    other's merges."""
    rows, emb, md = data
    # find two strings that co-group unconstrained
    full = _oracle(rows, 0.5)[0]
    big = sorted(max(full, key=len))
    a, b = big[0], big[1]
    never = [[a, "zzz-not-in-universe"], [b, "zzz-not-in-universe"]]
    always = [["s001", "s002"]]
    got = _partition(
        unite_similar_constrained(
            md, emb, threshold=0.5, always_match=always, never_match=never,
            alpha=ALPHA, candidate_mode="bruteforce",
        )
    )
    assert got == _oracle(rows, 0.5, always=always, never=never)[0]
    # the ghost-string intersection must not keep a and b apart
    assert any({a, b} <= g for g in got)


def test_prefix_filter_rejects_cosine(spark):
    from nama_spark.operators.block import prefix_filtered_pairs

    df = spark.createDataFrame([("x y",)], ["string"])
    from nama_spark.functions.tokenize import token_weights, tokens_table

    toks = tokens_table(df, tokenizer="words")
    w = token_weights(toks)
    with pytest.raises(ValueError):
        prefix_filtered_pairs(toks, w, 0.5, measure="cosine")


def test_giant_component_guard(spark, data):
    """A threshold low enough to connect the whole universe trips the
    max_component_size guard with an actionable error, instead of running the
    entire sequential greedy (O(|V|²) linkage matmul) in one task."""
    rows, emb, md = data
    with pytest.raises(ValueError, match="max_component_size"):
        unite_similar_constrained(
            md,
            emb,
            threshold=1e-9,  # cos_t << any pairwise cosine → one mega-component
            alpha=ALPHA,
            candidate_mode="bruteforce",
            max_component_size=3,
        )
    # same call with the guard raised/disabled completes
    out = unite_similar_constrained(
        md,
        emb,
        threshold=1e-9,
        alpha=ALPHA,
        candidate_mode="bruteforce",
        max_component_size=None,
    )
    assert out.df.select("group").distinct().count() >= 1


def test_ivf_mode_routes_and_refines(spark, data):
    """candidate_mode='ivf' routes to ivf_candidates (ADVICE r4: it used to
    silently fall through to lsh_candidates, where ivf kwargs raised
    TypeError). IVF candidates can only MISS edges, so the result refines
    the bruteforce partition; with all cells probed it matches exactly."""
    rows, emb, md = data
    got = _partition(
        unite_similar_constrained(
            md, emb, threshold=0.5, alpha=ALPHA,
            candidate_mode="ivf", n_cells=4, nprobe=4,
        )
    )
    assert got == _oracle(rows, 0.5)[0]


def test_unknown_candidate_mode_raises(spark, data):
    rows, emb, md = data
    with pytest.raises(ValueError, match="candidate_mode"):
        unite_similar_constrained(
            md, emb, threshold=0.5, alpha=ALPHA, candidate_mode="typo"
        )
