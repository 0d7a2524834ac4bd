"""The daily-delta fold on driver rows: the Spark-free core of
``jobs/run_delta_er``'s driver path.

Rows in, rows out; no step starts a Spark job. Each step applies the rule of
the relational operator it stands in for:

1. ``add_strings`` — MatchData.add_strings: delta rows bump the counts of
   known strings or enter as singletons, then labels are re-elected (max
   count, ties go to the min string).
2. the incremental fit — TokenSimilarity.fit_incremental: the driver fit's
   own ``token_similarity._fit_model`` over the carried token table plus
   the genuinely new strings.
3. ``block_pairs`` — block.token_block_pairs_against: every distinct delta
   string against the union, over tokens with 2 ≤ d ≤ max_block_size.
4. scoring — the broadcast scorer's ``token_similarity._pair_scorer``.
5. ``unite_incremental`` — MatchData.unite_incremental: union-find
   (``cluster._union_find_local``) on the group quotient, then touched-only
   re-election.
6. ``stable_entity_ids`` — cluster.stable_entity_ids, rules 1-4.

Each piece is twin-tested against its relational operator in
tests/test_delta_fold.py.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from typing import NamedTuple

from nama_spark.operators.cluster import ENTITY_ID_SUFFIX, _union_find_local
from nama_spark.operators.token_similarity import _fit_model, _pair_scorer


class Fold(NamedTuple):
    clusters: list    # (string, count, group), labels elected
    entity_ids: list  # (node, entity_id)
    new_tokens: list  # (string, token, tf) rows of the genuinely new strings


def elect_labels(rows: list) -> list:
    """(string, count, group) rows with each group relabelled to its member
    of max count, ties to the min string (matchdata.elect_labels)."""
    best: dict = {}
    for s, c, g in rows:
        b = best.get(g)
        if b is None or (-c, s) < b:
            best[g] = (-c, s)
    return [(s, c, best[g][1]) for s, c, g in rows]


def add_strings(prior: list, delta: list) -> list:
    """``prior`` (string, count, group) rows plus the ``delta`` strings, one
    count per occurrence; null strings drop, labels are re-elected."""
    acc = {s: [c, g] for s, c, g in prior}
    for s in delta:
        if s is None:
            continue
        e = acc.get(s)
        if e is None:
            acc[s] = [1, s]
        else:
            e[0] += 1
    return elect_labels([(s, c, g) for s, (c, g) in acc.items()])


def block_pairs(
    tokens: list, weights: list, new_strings, max_block_size: int
) -> set:
    """Canonical (s0 < s1) pairs that share a token with
    2 ≤ d ≤ ``max_block_size`` and hold at least one of ``new_strings``."""
    eligible = {t for t, _f, d, _w in weights if 2 <= d <= max_block_size}
    blocks: dict = {}
    for s, t, _tf in tokens:
        if t in eligible:
            blocks.setdefault(t, []).append(s)
    new = set(new_strings)
    pairs = set()
    for members in blocks.values():
        for sn in members:
            if sn in new:
                for so in members:
                    if so != sn:
                        pairs.add((sn, so) if sn < so else (so, sn))
    return pairs


def unite_incremental(rows: list, edges) -> list:
    """(string, count, group) rows united by ``edges`` through the group
    quotient: endpoints map to their group in ``rows``, union-find joins the
    groups, and only the rows of touched groups are re-elected."""
    group = {s: g for s, _c, g in rows}
    comp = _union_find_local(
        (min(ga, gb), max(ga, gb))
        for ga, gb in ((group.get(a, a), group.get(b, b)) for a, b in edges)
    )
    if not comp:
        return rows
    untouched = [r for r in rows if r[2] not in comp]
    touched = elect_labels([(s, c, comp[g]) for s, c, g in rows if g in comp])
    return untouched + touched


_SUFFIX = re.compile(ENTITY_ID_SUFFIX)


def stable_entity_ids(
    previous: list, current: list, mint_prefix: str = "n:"
) -> list:
    """(node, entity_id) rows for ``current`` (node, component) rows given
    ``previous`` (node, entity_id) rows, by the four rules of
    cluster.stable_entity_ids."""
    component = dict(current)
    votes = Counter(
        (component[node], eid) for node, eid in previous if node in component
    )
    best: dict = {}    # rule 1: component → (-n, entity id)
    winner: dict = {}  # rule 2: entity id → (-n, component)
    for (comp, eid), n in votes.items():
        if comp not in best or (-n, eid) < best[comp]:
            best[comp] = (-n, eid)
        if eid not in winner or (-n, comp) < winner[eid]:
            winner[eid] = (-n, comp)
    claims = []
    for comp in dict.fromkeys(component.values()):
        candidate = best[comp][1] if comp in best else None
        kept = candidate is not None and winner[candidate][1] == comp
        if kept:
            eid = candidate
            m = _SUFFIX.match(candidate)
            base, k = (m.group(1), int(m.group(2))) if m else (eid, 0)
        else:
            eid = mint_prefix + hashlib.md5(comp.encode()).hexdigest()
            base, k = eid, None
        claims.append((comp, kept, eid, base, k))
    # rule 4: a mint whose base an inherited id holds with k = 0 takes the
    # base's max k + 1
    top: dict = {}
    taken = set()
    for _comp, _kept, _eid, base, k in claims:
        if k is not None:
            top[base] = max(top.get(base, k), k)
            if k == 0:
                taken.add(base)
    ids = {
        comp: f"{base}.{top[base] + 1}" if not kept and base in taken else eid
        for comp, kept, eid, base, k in claims
    }
    return [(node, ids[comp]) for node, comp in current]


def fold(
    prior: list,
    prev_ids: list,
    prev_tokens: list,
    delta: list,
    ts,
    threshold: float,
) -> Fold:
    """Fold the ``delta`` strings into the persisted state: ``prior``
    (string, count, group) rows with elected labels, ``prev_ids``
    (node, entity_id) and ``prev_tokens`` (string, token, tf) rows. ``ts``
    is the TokenSimilarity whose tokenizer, weighting, measure and block
    cap apply; edges are pairs scoring at least ``threshold``. The same
    result as ``ts.predict_incremental`` with ``prev_tokens`` followed by
    ``cluster.stable_entity_ids``."""
    united = add_strings(prior, delta)
    known = {s for s, _c, _g in prior}
    fitted = _fit_model(
        [s for s in dict.fromkeys(delta) if s is not None and s not in known],
        prev_tokens, ts.tokenizer, ts.weighting, ts.reference_doc_counts,
    )
    model, wd = fitted.model
    score = _pair_scorer(ts.measure)
    edges = [
        (a, b)
        for a, b in block_pairs(
            fitted.tokens, fitted.weights, delta, ts.max_block_size
        )
        if score(model[a], model[b], wd) >= threshold
    ]
    clusters = unite_incremental(united, edges)
    ids = stable_entity_ids(prev_ids, [(s, g) for s, _c, g in clusters])
    return Fold(clusters, ids, fitted.new_tokens)
