"""Blocking + scoring + TokenSimilarity end-to-end vs the from-spec oracle."""

import random

import pytest
from pyspark.sql import functions as F

from nama_spark.functions.tokenize import ngrams, nmgrams, token_weights, tokens_table, words
from nama_spark.operators.block import token_block_pairs, eligible_tokens
from nama_spark.operators.matchdata import MatchData
from nama_spark.operators.score import (
    add_fallback_scores,
    levenshtein_score,
    token_similarity_scores,
)
from nama_spark.operators.token_similarity import TokenSimilarity

from tests.oracle_tokensim import (
    TOKENIZERS,
    oracle_candidate_pairs,
    oracle_cosine,
    oracle_fit,
    oracle_jaccard,
    oracle_predict,
)


def _messy_names(rng, n_entities=25):
    """Deterministic messy variants of synthetic org names."""
    stems = [
        f"{a} {b}"
        for a in ["acme", "globex", "initech", "umbrella", "stark"]
        for b in ["labs", "systems", "holdings", "industries", "partners"]
    ][:n_entities]
    out = []
    for s in stems:
        out.append(s)
        out.append(s.upper())
        if rng.random() < 0.7:
            out.append(s + " inc")
        if rng.random() < 0.5:
            out.append(s.replace(" ", "-"))
        if rng.random() < 0.3:  # typo
            i = rng.randrange(len(s))
            out.append(s[:i] + s[i] + s[i:])
    return sorted(set(out))


# ---------- tokenizers ----------

def test_tokenizer_exprs_match_python(spark):
    cases = ["hello", "ab", "a", "", "acme labs", "x-1_y.z", "ACME & co"]
    df = spark.createDataFrame([(c,) for c in cases], ["s"])
    got = df.select(
        ngrams("s", 2).alias("bi"),
        nmgrams("s", 2, 3).alias("nm"),
        words("s").alias("w"),
    ).collect()
    for c, row in zip(cases, got):
        assert row["bi"] == TOKENIZERS["bigrams"](c), c
        assert row["nm"] == TOKENIZERS["nmgrams23"](c), c
        assert row["w"] == TOKENIZERS["words"](c), c


def test_token_weights_reference_formula(spark):
    strings = ["aab", "abc", "xyz"]
    df = spark.createDataFrame([(s,) for s in strings], ["string"])
    toks = tokens_table(df, tokenizer="bigrams")
    w = {
        r["token"]: (r["f"], r["d"], r["weight"])
        for r in token_weights(toks, "tf-idf").collect()
    }
    _, oracle_w, oracle_d = oracle_fit(strings, "bigrams", "tf-idf")
    for t, (f, d, weight) in w.items():
        assert d == oracle_d[t], t
        assert weight == pytest.approx(oracle_w[t]), t


# ---------- blocking ----------

@pytest.mark.parametrize("max_block", [3, 100])
def test_token_block_pairs_match_oracle(spark, max_block):
    rng = random.Random(1)
    strings = _messy_names(rng)
    df = spark.createDataFrame([(s,) for s in strings], ["string"])
    toks = tokens_table(df)
    wts = token_weights(toks)
    pairs = token_block_pairs(toks, eligible_tokens(wts, 2, max_block))
    got = {(r["s0"], r["s1"]) for r in pairs.collect()}
    tok_sets, _, doc = oracle_fit(strings)
    want = oracle_candidate_pairs(tok_sets, doc, max_block)
    assert got == want


# ---------- scoring ----------

@pytest.mark.parametrize("measure", ["jaccard", "cosine"])
def test_pair_scores_match_oracle(spark, measure):
    """The relational scorer scores every candidate pair (none dropped) to
    the oracle's weighted Jaccard / set-cosine."""
    rng = random.Random(2)
    strings = _messy_names(rng)
    df = spark.createDataFrame([(s,) for s in strings], ["string"])
    toks = tokens_table(df)
    wts = token_weights(toks)
    pairs = token_block_pairs(toks, eligible_tokens(wts, 2, 100))
    scored = token_similarity_scores(pairs, toks, wts, measure=measure).collect()
    tok_sets, oracle_w, doc = oracle_fit(strings)
    assert {(r["s0"], r["s1"]) for r in scored} == oracle_candidate_pairs(
        tok_sets, doc, 100
    )
    fn = oracle_jaccard if measure == "jaccard" else oracle_cosine
    for r in scored:
        want = fn(tok_sets[r["s0"]], tok_sets[r["s1"]], oracle_w)
        assert r["score"] == pytest.approx(want, abs=1e-9), (r["s0"], r["s1"])


def test_fallback_scores(spark):
    df = spark.createDataFrame(
        [("kitten", "sitting"), ("martha", "marhta"), ("abc", "abc"), ("", "x")],
        ["s0", "s1"],
    )
    rows = add_fallback_scores(df).collect()
    got = {(r["s0"], r["s1"]): (r["levenshtein_sim"], r["jaro_winkler"]) for r in rows}
    assert got[("kitten", "sitting")][0] == pytest.approx(1 - 3 / 7)
    # published Jaro-Winkler example: martha/marhta = 0.9611
    assert got[("martha", "marhta")][1] == pytest.approx(0.9611, abs=1e-4)
    assert got[("abc", "abc")] == (1.0, 1.0)
    assert got[("", "x")][0] == 0.0


# ---------- end-to-end vs oracle ----------

@pytest.mark.parametrize("seed,measure,threshold", [
    (0, "jaccard", 0.5),
    (1, "jaccard", 0.3),
    (2, "cosine", 0.6),
])
def test_predict_partition_matches_oracle(spark, seed, measure, threshold):
    rng = random.Random(seed)
    strings = _messy_names(rng)
    df = spark.createDataFrame([(s,) for s in strings], ["string"])
    ts = TokenSimilarity(measure=measure, max_block_size=100)
    ts.fit(df)
    pred = ts.predict(threshold=threshold)
    groups = {}
    for r in pred.df.collect():
        groups.setdefault(r["group"], set()).add(r["string"])
    got = {frozenset(v) for v in groups.values()}
    want = oracle_predict(strings, threshold, measure=measure)
    assert got == want


def test_learn_threshold_picks_f1_argmax(spark):
    rng = random.Random(3)
    strings = _messy_names(rng, n_entities=10)
    # gold: group by first word (entity stem)
    gold_df = [(s, 1, s.replace("-", " ").split()[0]) for s in strings]
    gold = MatchData(
        spark.createDataFrame(gold_df, ["string", "count", "group"])
    )
    ts = TokenSimilarity()
    rows = ts.learn_threshold(gold, grid=[0.2, 0.4, 0.6, 0.8])
    assert ts.threshold in {0.2, 0.4, 0.6, 0.8}
    best = max(r["F1"] for r in rows)
    assert any(r["threshold"] == ts.threshold and r["F1"] == best for r in rows)


def test_learn_threshold_coarse_to_fine_same_argmax(spark):
    """The two-stage sweep picks the SAME threshold as the full 100-pt grid
    on the fixture (unimodal F1 curve) while evaluating ~3x fewer points."""
    rng = random.Random(3)
    strings = _messy_names(rng, n_entities=10)
    gold_df = [(s, 1, s.replace("-", " ").split()[0]) for s in strings]
    gold = MatchData(
        spark.createDataFrame(gold_df, ["string", "count", "group"])
    )
    import numpy as np

    # 40-pt grid: same property as the 100-pt default at 2.5× less suite
    # wall (each grid point is a CC + confusion Spark job)
    grid = [round(x, 6) for x in np.linspace(0.5, 1, 40)]
    full = TokenSimilarity()
    full_rows = full.learn_threshold(gold, grid=grid)
    ctf = TokenSimilarity()
    ctf_rows = ctf.learn_threshold(gold, grid=grid, strategy="coarse_to_fine")
    assert ctf.threshold == full.threshold
    assert len(ctf_rows) < len(full_rows) / 2
    # evaluated points report the same scores as the full sweep
    full_by_t = {r["threshold"]: r["F1"] for r in full_rows}
    for r in ctf_rows:
        assert r["F1"] == full_by_t[r["threshold"]]


def test_predict_incremental_matches_python_oracle(spark):
    """predict_incremental == transitive closure of (existing partition ∪
    ≥-threshold edges touching a new string), with tokens/weights refit on
    the union universe — checked against a from-spec python oracle. Existing
    groups never split."""
    import networkx as nx

    from tests.oracle_tokensim import (
        oracle_candidate_pairs,
        oracle_fit,
        oracle_jaccard,
    )

    old = ["acme labs", "acme labz", "globex corp", "globex corpn",
           "initech llc", "umbrella co"]
    # existing partition: two merged groups + singletons
    existing = {
        "acme labs": "acme labs", "acme labz": "acme labs",
        "globex corp": "globex corp", "globex corpn": "globex corp",
        "initech llc": "initech llc", "umbrella co": "umbrella co",
    }
    new = ["acme labsy", "initech lllc", "totally different"]
    threshold = 0.35

    md = MatchData(
        spark.createDataFrame(
            [(s, 1, g) for s, g in existing.items()], ["string", "count", "group"]
        )
    )
    ts = TokenSimilarity()
    got_md = ts.predict_incremental(
        md, spark.createDataFrame([(s,) for s in new], ["string"]),
        threshold=threshold,
    )
    groups = {}
    for r in got_md.df.collect():
        groups.setdefault(r["group"], set()).add(r["string"])
    got = {frozenset(v) for v in groups.values()}

    # python oracle: refit on union, keep only new-touching scored edges
    union = old + new
    tok_sets, weights, doc = oracle_fit(union)
    pairs = oracle_candidate_pairs(tok_sets, doc)
    g = nx.Graph()
    g.add_nodes_from(union)
    for a, b in ((a, b) for a, b in existing.items() if a != b):
        g.add_edge(a, b)
    for a, b in pairs:
        if (a in new or b in new) and oracle_jaccard(
            tok_sets[a], tok_sets[b], weights
        ) >= threshold:
            g.add_edge(a, b)
    want = {frozenset(c) for c in nx.connected_components(g)}
    assert got == want

    # monotone: every existing group sits whole inside one result group
    for grp in ({"acme labs", "acme labz"}, {"globex corp", "globex corpn"}):
        assert any(grp <= res for res in got)


def test_explain_pairs_reconciles_with_score(spark):
    """The per-token breakdown sums back to the engine's weighted Jaccard
    and set-cosine, both of which match the oracle, and flags the shared
    evidence."""
    from nama_spark.operators.score import explain_pairs, token_similarity_scores
    from nama_spark.functions.tokenize import token_weights, tokens_table

    universe = spark.createDataFrame(
        [("acme corp",), ("acme corporation",), ("zenith ltd",)],
        ["string"],
    )
    pairs = spark.createDataFrame(
        [("acme corp", "acme corporation"), ("acme corp", "zenith ltd")],
        ["s0", "s1"],
    )
    exp = explain_pairs(pairs, universe).collect()
    toks = tokens_table(universe)
    wts = token_weights(toks)
    scores = {
        measure: {
            (r["s0"], r["s1"]): r["score"]
            for r in token_similarity_scores(
                pairs, toks, wts, measure=measure
            ).collect()
        }
        for measure in ("jaccard", "cosine")
    }
    import collections
    import math
    # per pair: Σw[shared], Σw[all], Σw²[shared], Σw²[s0], Σw²[s1]
    agg = collections.defaultdict(lambda: [0.0] * 5)
    for r in exp:
        key = (r["s0"], r["s1"])
        w = r["weight"]
        agg[key][1] += w
        if r["shared"]:
            agg[key][0] += w
            agg[key][2] += w * w
        if r["in_s0"]:
            agg[key][3] += w * w
        if r["in_s1"]:
            agg[key][4] += w * w
        # side flags are consistent: every row is in at least one side
        assert r["in_s0"] or r["in_s1"]
        assert r["shared"] == (r["in_s0"] and r["in_s1"])
    tok_sets, oracle_w, _ = oracle_fit(
        [r["string"] for r in universe.collect()]
    )
    for measure, fn in (("jaccard", oracle_jaccard), ("cosine", oracle_cosine)):
        assert set(agg) == set(scores[measure])
        for key, (sw, tw, sw2, w2a, w2b) in agg.items():
            got = scores[measure][key]
            assert got == pytest.approx(
                fn(tok_sets[key[0]], tok_sets[key[1]], oracle_w), abs=1e-9
            ), (measure, key)
            want = sw / tw if measure == "jaccard" else sw2 / math.sqrt(w2a * w2b)
            assert got == pytest.approx(want, abs=1e-9), (measure, key)
    # disjoint pair carries zero shared evidence
    assert agg[("acme corp", "zenith ltd")][0] == 0.0
