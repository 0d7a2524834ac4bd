"""The daily-delta fold on driver rows: the Spark-free core of
``jobs/run_delta_er``'s driver path.

Rows in, rows out; no step starts a Spark job. Each step applies the rule of
the relational operator it stands in for:

1. ``add_strings`` — MatchData.add_strings: delta rows bump the counts of
   known strings or enter as singletons, then labels are re-elected (max
   count, ties go to the min string).
2. the incremental fit — TokenSimilarity.fit_incremental: the driver fit's
   own ``token_similarity._fit_model`` (``TokenSimilarity._fit_rows``) over
   the carried token table plus the genuinely new strings.
3. blocking and scoring — token_similarity._block_scores, the batch
   path's driver step, against the delta: every distinct delta string
   against the union over tokens with 2 ≤ d ≤ max_block_size
   (block.token_block_pairs_against), scored by the broadcast scorer's
   ``_pair_scorer``, while the pairs touching the delta number at most
   ``_TOKENSIM_DRIVER_PAIRS`` (counted per block before any pair is
   enumerated); past it the fold returns None and the caller takes the
   relational fold.
4. ``unite_incremental`` — MatchData.unite_incremental: union-find
   (``cluster._union_find_local``) on the group quotient, then touched-only
   re-election.
5. ``stable_entity_ids`` — cluster.stable_entity_ids, rules 1-4.

Each piece is twin-tested against its relational operator in
tests/test_delta_fold.py.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from typing import NamedTuple

from nama_spark.operators.cluster import ENTITY_ID_SUFFIX, _union_find_local
from nama_spark.operators import token_similarity as TS


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
) -> Fold | None:
    """Fold the ``delta`` strings into the persisted state: ``prior``
    (string, count, group) rows with elected labels, ``prev_ids``
    (node, entity_id) and ``prev_tokens`` (string, token, tf) rows. ``ts``
    is the TokenSimilarity whose tokenizer, weighting, measure and block
    cap apply; edges are pairs scoring at least ``threshold``. The same
    result as ``ts.predict_incremental`` with ``prev_tokens`` followed by
    ``cluster.stable_entity_ids``, or None when the pair bound of the
    blocks the delta touches exceeds ``_TOKENSIM_DRIVER_PAIRS``."""
    united = add_strings(prior, delta)
    known = {s for s, _c, _g in prior}
    fitted = ts._fit_rows(
        [s for s in dict.fromkeys(delta) if s is not None and s not in known],
        prev_tokens,
    )
    _bound, scores = TS._block_scores(
        fitted, ts.max_block_size, ts.measure, against=delta,
        max_pairs=TS._TOKENSIM_DRIVER_PAIRS,
    )
    if scores is None:
        return None
    edges = [(a, b) for a, b, score in scores if score >= threshold]
    clusters = unite_incremental(united, edges)
    ids = stable_entity_ids(prev_ids, [(s, g) for s, _c, g in clusters])
    return Fold(clusters, ids, fitted.new_tokens)
