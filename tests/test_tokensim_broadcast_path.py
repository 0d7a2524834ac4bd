"""Round-6 pair_scores internals: the broadcast-model fast path must
reproduce the relational scorer pair-for-pair on both measures, including
the inner-join drop of token-less strings. The incremental fit and predict
must give the same tables and partition on both sides of both gates."""

import pytest
from pyspark.sql import functions as F

from nama_spark.operators import token_similarity as TS
from nama_spark.operators.matchdata import MatchData
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


def test_driver_fit_over_the_token_gate_broadcasts_no_model(
    spark, names, monkeypatch
):
    """A driver fit whose token rows exceed _TOKENSIM_BROADCAST_TOKEN_ROWS
    ships no score model, and pair_scores runs the relational scorer."""
    from nama_spark.operators.score import token_similarity_scores

    monkeypatch.setattr(TS, "_TOKENSIM_BROADCAST_TOKEN_ROWS", 1)
    ts = TokenSimilarity(max_block_size=100).fit(names)
    assert ts._fitted is not None and ts._n_token_rows > 1
    assert ts._score_bc is None
    got = sorted(tuple(r) for r in ts.pair_scores().collect())
    want = token_similarity_scores(ts.candidate_pairs(), ts._tokens,
                                   ts._weights, measure=ts.measure)
    assert got == sorted(tuple(r) for r in want.collect()) and got
    assert ts._score_bc is None


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


# ---------- the incremental path on both sides of both gates ----------


def _set_gates(monkeypatch, gate):
    monkeypatch.setattr(TS, "_TOKENSIM_BROADCAST_TOKEN_ROWS", gate)
    monkeypatch.setattr(TS, "_TOKENSIM_DRIVER_FIT_STRINGS", gate)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _weights(ts):
    return {r["token"]: (r["f"], r["d"], r["weight"]) for r in ts._weights.collect()}


def _assert_same_weights(a, b):
    assert set(a) == set(b) and a
    for t in a:
        assert a[t][:2] == b[t][:2], t
        assert a[t][2] == pytest.approx(b[t][2], rel=1e-15), t


@pytest.fixture(scope="module")
def split(spark, names):
    """(old universe, delta) — the delta repeats one old string, which
    predict_incremental must not tokenize a second time."""
    rows = [r["string"] for r in names.collect()]
    old = spark.createDataFrame([(s,) for s in rows[::2]], ["string"])
    delta = spark.createDataFrame(
        [(s,) for s in rows[1::2] + [rows[0]]], ["string"]
    )
    return old, delta


@pytest.mark.parametrize("gate", [10**9, -1], ids=["driver", "distributed"])
def test_fit_incremental_equals_fit_of_union(spark, split, gate, monkeypatch):
    from nama_spark.functions.tokenize import tokens_table

    _set_gates(monkeypatch, gate)
    old, delta = split
    # a null string tokenizes to nothing on either path
    genuinely_new = delta.join(old, "string", "left_anti").unionByName(
        spark.createDataFrame([(None,)], "string string")
    )
    inc = TokenSimilarity()
    new_rows = inc.fit_incremental(tokens_table(old), genuinely_new)
    full = TokenSimilarity().fit(old.unionByName(genuinely_new))
    assert (inc._score_bc is not None) == (gate > 0)
    assert _rows(inc._tokens) == _rows(full._tokens)
    assert inc._n_token_rows == full._n_token_rows
    _assert_same_weights(_weights(inc), _weights(full))
    assert _rows(new_rows) == _rows(tokens_table(genuinely_new))


@pytest.mark.parametrize("measure", ["jaccard", "cosine"])
def test_predict_incremental_same_on_both_sides_of_the_gates(
    spark, split, measure, monkeypatch
):
    from nama_spark.functions.tokenize import tokens_table

    old, delta = split
    prior = MatchData.from_unmatched(old)

    def fold(gate):
        _set_gates(monkeypatch, gate)
        ts = TokenSimilarity(measure=measure)
        md = ts.predict_incremental(
            prior, delta, threshold=0.5, prev_tokens=tokens_table(old)
        )
        assert (ts._score_bc is not None) == (gate > 0)
        return (_rows(md.df), _rows(ts.last_delta_tokens), _rows(ts._tokens),
                _weights(ts))

    fast = fold(10**9)
    slow = fold(-1)
    assert fast[:3] == slow[:3]
    _assert_same_weights(fast[3], slow[3])
    groups = {}
    for s, _count, g in fast[0]:
        groups.setdefault(g, []).append(s)
    new = {r["string"] for r in delta.join(old, "string", "left_anti").collect()}
    assert any(len(m) > 1 and new & set(m) for m in groups.values()), groups


@pytest.mark.parametrize("threshold", [0.3, 0.4])
def test_predict_incremental_keeps_merge_when_a_redelivery_relabels(
    spark, threshold
):
    """A re-delivered known string whose count bump moves its group's label
    (acme → acme inc) must still pull its new near-twin into the group."""
    from nama_spark.functions.tokenize import tokens_table

    prior_rows = [("acme", 2, "acme"), ("acme inc", 2, "acme")]
    prior = MatchData(spark.createDataFrame(
        prior_rows, ["string", "count", "group"]), _relabel=False)
    delta = ["acme inc", "acme incorporated"]
    ts = TokenSimilarity()
    got = ts.predict_incremental(
        prior, spark.createDataFrame([(s,) for s in delta], ["string"]),
        threshold=threshold,
        prev_tokens=tokens_table(prior.df),
    )
    want = [("acme", 2, "acme inc"), ("acme inc", 3, "acme inc"),
            ("acme incorporated", 1, "acme inc")]
    assert _rows(got.df) == want
    from nama_spark.operators import delta_fold

    carried = [tuple(r) for r in tokens_table(prior.df).collect()]
    fold = delta_fold.fold(prior_rows, [], carried, delta, ts, threshold)
    assert sorted(fold.clusters) == want


# ---------- the driver pair gate (_TOKENSIM_DRIVER_PAIRS) both ways ----------


# tie-heavy (word reorderings and shared-token families score alike),
# duplicated strings, and null, empty and token-less strings under both
# tokenizers ("-" and " " have no words and no n-grams of 2+ letters
# beyond the separator itself)
_DIRTY = (
    [f"{a} {b}" for a in ["acme", "globex", "acme corp"]
     for b in ["labs", "labz", "systems"]]
    + ["labs acme", "labz acme", "systems acme", "ab cd", "cd ab", "ab ab cd"]
    + ["acme labs", "ab cd", "labs acme"]          # duplicates
    + [None, "", "x", "-", " "]
)


@pytest.fixture(scope="module")
def dirty(spark):
    return spark.createDataFrame([(s,) for s in _DIRTY], "string string")


def _scored(ts, skip=None):
    return {(r["s0"], r["s1"]): r["score"]
            for r in ts.pair_scores(skip_same_group=skip).collect()}


@pytest.mark.parametrize("tokenizer", ["nmgrams23", "words"])
@pytest.mark.parametrize("weighting", ["tf", "idf", "tf-idf", "none"])
@pytest.mark.parametrize("measure", ["jaccard", "cosine"])
def test_driver_scores_match_both_spark_scorers(
    spark, dirty, tokenizer, weighting, measure, monkeypatch
):
    """driver_pair_scores against pair_scores' block join: bitwise equal to
    the broadcast scorer (same _pair_scorer on the same model), approx
    equal to the relational one; the skip_same_group scores are the driver
    scores less the co-grouped pairs. Above the pair gate there are no
    driver scores, and the bound read is the same."""
    groups = {s: s.split(" ")[0] for s in _DIRTY if s is not None}
    skip = MatchData.from_groups(
        dirty.where(F.col("string").isNotNull()).withColumn(
            "group", F.substring_index("string", " ", 1)
        )
    )
    monkeypatch.setattr(TS, "_TOKENSIM_DRIVER_PAIRS", 10**9)
    ts = TokenSimilarity(tokenizer=tokenizer, weighting=weighting,
                         measure=measure).fit(dirty)
    driver = {(a, b): score for a, b, score in ts.driver_pair_scores()}
    bound = ts.pair_bound
    driver_skip = {k: v for k, v in driver.items()
                   if groups[k[0]] != groups[k[1]]}
    monkeypatch.setattr(TS, "_TOKENSIM_DRIVER_PAIRS", bound - 1)
    assert ts.driver_pair_scores() is None and ts.pair_bound == bound
    assert driver and bound >= len(driver)
    assert 0 < len(driver_skip) < len(driver)

    broadcast, broadcast_skip = _scored(ts), _scored(ts, skip)
    assert driver == broadcast
    assert driver_skip == broadcast_skip
    monkeypatch.setattr(TS, "_TOKENSIM_BROADCAST_TOKEN_ROWS", -1)
    for want, got in ((_scored(ts), driver), (_scored(ts, skip), driver_skip)):
        assert got.keys() == want.keys()
        for k in got:
            assert got[k] == pytest.approx(want[k], rel=1e-12, abs=1e-15), k


def _pipeline_records(spark):
    raw = [s for s in _DIRTY if s is not None] + [
        "Acme Labs, Inc.", "ACME LABS LLC", "acme labs inc", "Globex Labs Ltd",
        "globex labz", "The Globex Systems",
    ]
    # duplicated records give the names counts above one
    return spark.createDataFrame([(s,) for s in raw + raw[:7]], "repo string")


@pytest.mark.parametrize("normalize", ["simplify_corp", None])
def test_pipeline_partition_and_lineage_on_both_sides_of_the_pair_gate(
    spark, normalize, monkeypatch
):
    """MatchPipeline([ExactKeyPass(), TokenSimPass(0.7)]) gives the same
    partition whether TokenSimPass builds its edges on the driver, scores
    on Spark after a driver fit, or fits on Spark, and, with more raw
    strings than normalized forms and the fit gate between the two counts,
    when the driver fit and scores come without the keyed rows; lineage
    records the pair bound, the gate and the path that ran."""
    from nama_spark.plans.pipeline import ExactKeyPass, MatchPipeline, TokenSimPass

    records = _pipeline_records(spark)

    def run(pair_gate, fit_gate=10**9):
        monkeypatch.setattr(TS, "_TOKENSIM_DRIVER_PAIRS", pair_gate)
        monkeypatch.setattr(TS, "_TOKENSIM_DRIVER_FIT_STRINGS", fit_gate)
        md, lineage = MatchPipeline(
            [ExactKeyPass(), TokenSimPass(0.7, normalize=normalize)]
        ).run(records, "repo")
        rows = {r["metric"]: r["value"] for r in lineage.rows
                if r["stage"] == "token_sim"}
        return _rows(md.df), rows

    driver, lin_driver = run(10**9)
    spark_scored, lin_spark = run(-1)
    spark_fit, lin_fit = run(-1, fit_gate=-1)
    assert driver == spark_scored == spark_fit
    assert len({g for _s, _c, g in driver}) < len(driver)
    assert lin_driver["driver_path"] == 1.0
    assert lin_driver["pair_gate"] == 10**9
    assert lin_driver["pair_bound"] > 0
    assert lin_spark["driver_path"] == 0.0
    assert lin_spark["pair_gate"] == -1
    assert lin_spark["pair_bound"] == lin_driver["pair_bound"]
    assert lin_fit["driver_path"] == 0.0
    assert "pair_bound" not in lin_fit
    if normalize is None:
        return
    from nama_spark.functions.normalize import norm_key

    keyed = records.select(F.col("repo").alias("string")).distinct().select(
        norm_key(F.col("string"), normalize).alias("norm")
    ).where(F.col("norm").isNotNull() & (F.col("norm") != ""))
    n_keyed, n_norm = keyed.count(), keyed.distinct().count()
    assert n_norm < n_keyed
    unkeyed, lin_unkeyed = run(10**9, fit_gate=n_norm)
    assert unkeyed == driver
    assert lin_unkeyed["driver_path"] == 1.0
    assert lin_unkeyed["pair_bound"] == lin_driver["pair_bound"]


def test_pipeline_driver_path_leaves_no_cached_data(spark):
    """TokenSimPass's driver path releases the fit's two cached token and
    weight frames (and its score broadcast) before it returns, so a
    pipeline run leaves the session's cache as it found it."""
    from nama_spark.plans.pipeline import ExactKeyPass, MatchPipeline, TokenSimPass

    spark.catalog.clearCache()
    records = spark.createDataFrame(
        [(s,) for s in ["Acme Labs", "ACME LABS INC", "acme lab", "Globex", "globex co"]],
        "repo string",
    )
    md, lineage = MatchPipeline([ExactKeyPass(), TokenSimPass(0.7)]).run(
        records, "repo"
    )
    md.df.collect()
    assert {r["value"] for r in lineage.rows
            if r["stage"] == "token_sim" and r["metric"] == "driver_path"} == {1.0}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
