"""The driver fold's pieces (operators/delta_fold.py) against the relational
operators they stand in for, on small tables: label election, blocking,
scoring, stable entity ids, and the whole fold against predict_incremental
plus stable_entity_ids on the relational side of both gates."""

import hashlib

import pytest

from nama_spark.functions.tokenize import tokens_table
from nama_spark.operators import delta_fold as DF
from nama_spark.operators import token_similarity as TS
from nama_spark.operators.block import (
    driver_block_pairs,
    driver_token_blocks,
    eligible_tokens,
    token_block_pairs_against,
)
from nama_spark.operators.cluster import ENTITY_ID_SUFFIX, stable_entity_ids
from nama_spark.operators.matchdata import MatchData
from nama_spark.session import local_frame

_MD = "string string, count bigint, `group` string"
_IDS = "node string, entity_id string"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _strings(spark, values):
    return local_frame(spark, [(s,) for s in values], "string string")


NAMES = [f"{a} {b}" for a in ["acme", "globex", "initech", "acme corp"]
         for b in ["labs", "labz", "systems", "system", "analytics"]]


# ---------- label election ----------


@pytest.mark.parametrize("prior, delta", [
    # a re-delivery ties two members: the min string wins
    ([("x", 2, "x"), ("w", 1, "x")], ["w"]),
    # a re-delivery outvotes the label; new strings, repeats and a null
    ([("b", 2, "b"), ("a", 1, "b"), ("c", 1, "c")],
     ["a", "a", "d", "d", "c", None]),
    # three-way tie inside one group, nothing new
    ([("q", 1, "p"), ("p", 1, "p"), ("r", 1, "p")], ["r", "q"]),
])
def test_add_strings_elects_like_matchdata(spark, prior, delta):
    want = MatchData(local_frame(spark, prior, _MD), _relabel=False).add_strings(
        _strings(spark, delta)
    )
    assert sorted(DF.add_strings(prior, delta)) == _rows(want.df)


# ---------- blocking ----------


BLOCK_CASES = {
    # words: "aa" d=2, "bb" d=3 (= the cap), "cc" d=4 (over it), "dd" d=1,
    # "ee" d=2 inside one string; "x" and "" tokenize to nothing
    "bounds": (
        "words", 3,
        ["aa bb", "aa cc", "bb cc", "bb dd", "cc", "cc ee ee", "x", ""],
        ["aa cc", "bb dd", "cc ee ee", "", None, "new bb", "new2 aa"],
    ),
    # nmgrams23 names; the delta re-delivers known strings
    "names": ("nmgrams23", 100, NAMES[::2],
              NAMES[1::2] + [NAMES[0], NAMES[4]]),
}


@pytest.mark.parametrize("case", sorted(BLOCK_CASES))
def test_block_pairs_match_token_block_pairs_against(spark, case):
    tokenizer, cap, prior, delta = BLOCK_CASES[case]
    fresh = [s for s in dict.fromkeys(delta) if s is not None and s not in prior]
    fit = TS._fit_model(fresh, TS._fit_model(prior, [], tokenizer, "tf-idf").tokens,
                        tokenizer, "tf-idf")
    got = driver_block_pairs(
        driver_token_blocks(fit.tokens, fit.weights, cap), delta
    )
    want = token_block_pairs_against(
        local_frame(spark, fit.tokens, TS._TOKEN_SCHEMA),
        local_frame(spark, [(s,) for s in delta], "string string"),
        eligible_tokens(local_frame(spark, fit.weights, TS._WEIGHT_SCHEMA),
                        2, cap),
    )
    assert sorted(got) == _rows(want) and got


@pytest.mark.parametrize("case", sorted(BLOCK_CASES))
def test_block_scores_bound_counts_pairs_touching_against(case):
    """_block_scores' pair bound counts, per block, the member pairs that
    hold an ``against`` string (every pair without ``against``), and gates
    the enumeration at ``max_pairs``."""
    from itertools import combinations

    tokenizer, cap, prior, delta = BLOCK_CASES[case]
    strings = dict.fromkeys(s for s in prior + delta if s is not None)
    fit = TS._fit_model(strings, [], tokenizer, "tf-idf")
    blocks = driver_token_blocks(fit.tokens, fit.weights, cap)
    pairs = [p for m in blocks for p in combinations(m, 2)]
    against = delta[:2]
    touching = sum(1 for a, b in pairs if a in against or b in against)
    assert 0 < touching < len(pairs)
    bound, scores = TS._block_scores(fit, cap, "jaccard", against=against,
                                     max_pairs=touching)
    assert bound == touching and scores
    assert TS._block_scores(fit, cap, "jaccard", against=against,
                            max_pairs=touching - 1) == (touching, None)
    assert TS._block_scores(fit, cap, "jaccard")[0] == len(pairs)


# ---------- scoring ----------


@pytest.mark.parametrize("weighting", ["tf", "idf", "tf-idf", "none"])
@pytest.mark.parametrize("measure", ["jaccard", "cosine"])
def test_pair_scorer_matches_relational_scores(
    spark, measure, weighting, monkeypatch
):
    monkeypatch.setattr(TS, "_TOKENSIM_BROADCAST_TOKEN_ROWS", -1)
    monkeypatch.setattr(TS, "_TOKENSIM_DRIVER_FIT_STRINGS", -1)
    ts = TS.TokenSimilarity(weighting=weighting, measure=measure)
    want = {(a, b): s for a, b, s in _rows(ts.fit(_strings(spark, NAMES))
                                           .pair_scores())}
    fit = TS._fit_model(NAMES, [], "nmgrams23", weighting)
    model, wd = fit.model
    score = TS._pair_scorer(measure)
    pairs = driver_block_pairs(driver_token_blocks(fit.tokens, fit.weights, 100))
    got = {(a, b): score(model[a], model[b], wd) for a, b in pairs}
    assert got.keys() == want.keys() and got
    for k in got:
        assert got[k] == pytest.approx(want[k], rel=1e-12, abs=1e-15), k


# ---------- stable entity ids ----------


_KEPT = "n:" + hashlib.md5(b"a").hexdigest()

ID_CASES = {
    "first_run": ([], [("a", "a"), ("b", "a"), ("c", "c")]),
    "plurality": ([("a", "E2"), ("b", "E2"), ("c", "E1")],
                  [("a", "a"), ("b", "a"), ("c", "a")]),
    "id_tie": ([("a", "E2"), ("c", "E1")], [("a", "a"), ("c", "a")]),
    "split_minted_loser": (
        [(n, "E1") for n in "abcde"],
        [("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"),
         ("f", "f")],
    ),
    "split_component_tie": ([(n, "E1") for n in "abcd"],
                            [("a", "c"), ("b", "c"), ("c", "a"), ("d", "a")]),
    # a split loser's label minted the kept id in an earlier run
    "mint_collision": ([(n, _KEPT) for n in "abc"],
                       [("a", "a"), ("b", "b"), ("c", "b")]),
    # rule 4: every suffix already kept is skipped; other mints stay plain
    "suffix_k": (
        [("a", _KEPT + ".1"), ("d", _KEPT + ".1"), ("e", _KEPT + ".1"),
         ("b", _KEPT), ("c", _KEPT), ("f", "E9")],
        [("a", "a"), ("b", "b"), ("c", "b"), ("d", "d"), ("e", "d"),
         ("f", "f"), ("g", "g")],
    ),
}


@pytest.mark.parametrize("case", sorted(ID_CASES))
def test_stable_entity_ids_match_relational(spark, case):
    prev, cur = ID_CASES[case]
    want = stable_entity_ids(
        local_frame(spark, prev, _IDS),
        local_frame(spark, cur, "node string, component string"),
    )
    assert sorted(DF.stable_entity_ids(prev, cur)) == _rows(want)


# ---------- the whole fold ----------


@pytest.mark.parametrize("measure", ["jaccard", "cosine"])
def test_fold_matches_relational_fold(spark, measure, monkeypatch):
    """fold() against predict_incremental + stable_entity_ids with both
    gates forced to the distributed fit and the relational scorer. The
    delta re-delivers known strings, one of them twice."""
    old, delta = NAMES[::2], NAMES[1::2] + [NAMES[0], NAMES[2], NAMES[2]]
    ts = TS.TokenSimilarity(measure=measure)
    prior_md = ts.predict(MatchData.from_unmatched(_strings(spark, old)),
                          threshold=0.5)
    prior = _rows(prior_md.df)
    prev_ids = DF.stable_entity_ids([], [(s, g) for s, _c, g in prior])
    prev_tokens = TS._fit_model(old, [], "nmgrams23", "tf-idf").tokens

    got = DF.fold(prior, prev_ids, prev_tokens, delta, ts, 0.5)

    monkeypatch.setattr(TS, "_TOKENSIM_BROADCAST_TOKEN_ROWS", -1)
    monkeypatch.setattr(TS, "_TOKENSIM_DRIVER_FIT_STRINGS", -1)
    rel = TS.TokenSimilarity(measure=measure)
    united = rel.predict_incremental(
        MatchData(local_frame(spark, prior, _MD), _relabel=False),
        _strings(spark, delta), threshold=0.5,
        prev_tokens=local_frame(spark, prev_tokens, TS._TOKEN_SCHEMA),
    )
    clusters = united.df.localCheckpoint()
    ids = stable_entity_ids(
        local_frame(spark, prev_ids, _IDS),
        clusters.selectExpr("string AS node", "group AS component"),
    )
    assert sorted(got.clusters) == _rows(clusters)
    assert sorted(got.entity_ids) == _rows(ids)
    assert sorted(got.new_tokens) == _rows(rel.last_delta_tokens)
    assert sorted(got.new_tokens) == _rows(tokens_table(
        _strings(spark, [s for s in delta if s not in old])))
    # the delta merged something, so the fold is not vacuous
    assert len({g for _s, _c, g in got.clusters}) < len(
        {g for _s, _c, g in prior}) + len(set(delta) - set(old))


def _library_lines_with(needle: str) -> list:
    from pathlib import Path

    import nama_spark

    root = Path(nama_spark.__file__).parent
    return [
        f"{p.relative_to(root)}:{no}"
        for p in sorted(root.rglob("*.py"))
        for no, line in enumerate(p.read_text().splitlines(), 1)
        if needle in line
    ]


def test_weight_formula_and_pair_measures_have_one_copy():
    """Source guard: in the library, the idf/tf-idf weight formula lives
    only in token_similarity._fit_model, the Jaccard/cosine per-pair
    arithmetic only in token_similarity._pair_scorer, and the driver pair
    enumeration only in block.driver_block_pairs — the broadcast scorer,
    driver_pair_scores and the driver fold call them instead of copying
    them."""
    import inspect

    from nama_spark.operators import block

    for needle, owner in [
        ("math.log(1.0 + d)", TS._fit_model),
        ("wsa + wsb - inter", TS._pair_scorer),
        ("sqrt(w2a)", TS._pair_scorer),
        ("combinations(sorted(", block.driver_block_pairs),
        ("if sn < so else", block.driver_block_pairs),
        ("2 <= d <= max_block_size", block.driver_token_blocks),
    ]:
        hits = _library_lines_with(needle)
        assert len(hits) == inspect.getsource(owner).count(needle) > 0, hits


def test_entity_id_suffix_pattern_has_one_copy():
    """Source guard: rule 4's ``<base>.<k>`` pattern is written once, as
    cluster.ENTITY_ID_SUFFIX, which both stable_entity_ids implementations
    match with."""
    hits = _library_lines_with("[1-9][0-9]{0,17}")
    assert [h.split(":")[0] for h in hits] == ["operators/cluster.py"], hits
    assert DF._SUFFIX.pattern == ENTITY_ID_SUFFIX
