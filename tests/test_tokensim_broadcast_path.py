"""Round-6 pair_scores internals: the broadcast-model fast path must
reproduce the relational scorer pair-for-pair on both measures, including
the inner-join drop of token-less strings."""

import pytest
from pyspark.sql import functions as F

from nama_spark.operators import token_similarity as TS
from nama_spark.operators.token_similarity import TokenSimilarity


@pytest.fixture(scope="module")
def spark():
    from nama_spark.session import get_spark

    return get_spark("test_tokensim_bc", cores=4, shuffle_partitions=8)


@pytest.fixture(scope="module")
def names(spark):
    rows = [f"{a} {b}" for a in ["acme", "globex", "initech", "acme corp"]
            for b in ["labs", "labz", "systems", "system", "analytics"]]
    rows += ["x", ""]  # sub-2-char strings tokenize to nothing
    return spark.createDataFrame([(s,) for s in rows], ["string"])


@pytest.mark.parametrize("measure", ["jaccard", "cosine"])
def test_broadcast_path_matches_relational(spark, names, measure, monkeypatch):
    def scores(gate):
        monkeypatch.setattr(TS, "_TOKENSIM_BROADCAST_TOKEN_ROWS", gate)
        ts = TokenSimilarity(max_block_size=100, measure=measure).fit(names)
        return {
            (r["s0"], r["s1"]): r["score"]
            for r in ts.pair_scores().collect()
        }

    fast = scores(10**9)
    slow = scores(-1)
    assert set(fast) == set(slow)
    assert fast, "fixture produced no candidate pairs"
    for k in fast:
        assert fast[k] == pytest.approx(slow[k], abs=1e-12), k


@pytest.mark.parametrize("kind", ["nmgrams23", "bigrams", "trigrams", "words"])
def test_python_tokenizer_twin_matches_jvm(spark, kind):
    from nama_spark.functions.tokenize import tokens_table
    from nama_spark.operators.token_similarity import _py_tokenize
    from collections import Counter

    strings = ["acme labs", "a", "", "x y-z", "Ünïcode straße", "aa aa aa",
               "tab\tand  space", "123 abc_def"]
    df = spark.createDataFrame([(s,) for s in strings], ["string"])
    jvm = {(r["string"], r["token"]): r["tf"]
           for r in tokens_table(df, tokenizer=kind).collect()}
    py = {}
    for s in strings:
        for t, c in Counter(_py_tokenize(s, kind)).items():
            py[(s, t)] = c
    assert jvm == py


def test_driver_fit_matches_distributed_fit(spark, names, monkeypatch):
    from nama_spark.functions.tokenize import token_weights, tokens_table

    def fit_tables(gate):
        monkeypatch.setattr(TS, "_TOKENSIM_DRIVER_FIT_STRINGS", gate)
        ts = TokenSimilarity(max_block_size=100).fit(names)
        toks = {(r["string"], r["token"]): r["tf"] for r in ts._tokens.collect()}
        w = {r["token"]: (r["f"], r["d"], r["weight"]) for r in ts._weights.collect()}
        return toks, w

    dt, dw = fit_tables(10**9)   # driver fit
    st, sw = fit_tables(-1)      # distributed fit
    assert dt == st
    assert set(dw) == set(sw)
    for t in dw:
        assert dw[t][:2] == sw[t][:2]
        assert dw[t][2] == pytest.approx(sw[t][2], rel=1e-15)
