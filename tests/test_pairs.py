"""top_scored_pairs semantics (match_data.py:458-556) and the other
pair-level operators."""

import pytest
from pyspark.sql import functions as F

from nama_spark.operators.matchdata import MatchData
from nama_spark.operators.pairs import top_scored_pairs


def test_top_scored_pairs_semantics(spark):
    md = MatchData(
        spark.createDataFrame(
            [("a1", 1, "A"), ("a2", 1, "A"), ("b1", 1, "B"),
             ("c1", 1, "C"), ("c2", 1, "C"), ("c3", 1, "C")],
            ["string", "count", "group"],
        )
    )
    scores = spark.createDataFrame(
        [("a1", "b1", 0.9), ("a2", "b1", 0.95), ("a1", "c1", 0.5),
         ("b1", "c1", 0.8), ("a1", "a2", 0.99)],
        ["s0", "s1", "score"],
    )
    out = top_scored_pairs(md, scores, n=10).collect()
    # intra-group pair (a1,a2) excluded
    assert all({r["group0"], r["group1"]} != {"a1"} for r in out)
    # best_per_group_pair: only one row per unordered group pair
    gp = [frozenset((r["group0"], r["group1"])) for r in out]
    assert len(gp) == len(set(gp))
    # impacts: A-B=2, A-C=6, B-C=3 → order A-C, B-C, A-B
    # labels are elected member strings: A->a1, B->b1, C->c1
    assert [frozenset((r["group0"], r["group1"])) for r in out] == [
        frozenset({"a1", "c1"}), frozenset({"b1", "c1"}), frozenset({"a1", "b1"})
    ]
    # A-B best pair by score is (a2,b1) 0.95
    ab = [r for r in out if frozenset((r["group0"], r["group1"])) == frozenset({"a1", "b1"})][0]
    assert ab["string0"] == "a2" and ab["score"] == 0.95
    # skip_pairs removes a reviewed group pair
    skip = spark.createDataFrame([("c1", "a1")], ["g0", "g1"])
    out2 = top_scored_pairs(md, scores, n=10, skip_pairs=skip).collect()
    assert all(frozenset((r["group0"], r["group1"])) != frozenset({"a1", "c1"}) for r in out2)


def test_prefix_filtered_pairs_exact_vs_bruteforce(spark):
    """Prefix filtering (SSJoin/PPJoin) must return EXACTLY the pairs with
    weighted jaccard >= t — including pairs whose only shared tokens are hot
    (which the df-capped token blocking deliberately drops) — while indexing
    strictly fewer (string, token) rows than full token blocking."""
    from pyspark.sql import functions as F

    from nama_spark.functions.tokenize import token_weights, tokens_table
    from nama_spark.operators.block import prefix_filtered_pairs, prefix_tokens
    from nama_spark.operators.score import token_similarity_scores

    # universe with a very hot token ("corp") + rare discriminative tokens
    strings = [f"corp unit{i % 7} item{i}" for i in range(40)]
    strings += ["corp alpha", "corp beta"]  # only share the hot token
    df = spark.createDataFrame([(s,) for s in strings], ["string"])
    toks = tokens_table(df, tokenizer="words")
    w = token_weights(toks, weighting="tf-idf")

    names = df.select("string").distinct()
    a = names.select(F.col("string").alias("s0"))
    b = names.select(F.col("string").alias("s1"))
    allp = a.join(b, F.col("s0") < F.col("s1"))
    scored_all = token_similarity_scores(allp, toks, w).cache()

    for t in (0.3, 0.8):
        got = {
            (r["s0"], r["s1"], round(r["score"], 9))
            for r in prefix_filtered_pairs(toks, w, t).collect()
        }
        want = {
            (r["s0"], r["s1"], round(r["score"], 9))
            for r in scored_all.where(F.col("score") >= t).collect()
        }
        assert got == want, f"t={t}"
        assert want, f"fixture produced no qualifying pairs at t={t}"

    # pruning: at a high threshold the hot token falls OUT of prefixes
    # (nama tf-idf up-weights hot tokens, so they dominate w_sum), shrinking
    # the index below the full token table
    n_full = toks.select("string", "token").distinct().count()
    n_prefix = prefix_tokens(toks, w, 0.8).count()
    assert n_prefix < n_full, (n_prefix, n_full)
    scored_all.unpersist()


def test_salt_pairs_breaks_hot_key_skew(spark):
    """North rule: 'salted repartitioning to break hot blocking keys'. Build a
    candidate set where one hot token contributed ~90% of pairs (all sharing
    the s0 side), salt, and assert rows spread evenly across partitions."""
    from pyspark.sql import functions as F

    from nama_spark.operators.block import salt_pairs

    hot = [("hotname", f"other{i:05d}") for i in range(9000)]
    rest = [(f"a{i:04d}", f"b{i:04d}") for i in range(1000)]
    pairs = spark.createDataFrame(hot + rest, ["s0", "s1"])
    n_parts = 16
    salted = salt_pairs(pairs, num_partitions=n_parts)
    sizes = (
        salted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == n_parts
    mean = sum(counts) / len(counts)
    assert max(counts) <= 1.5 * mean, counts


def test_sorted_neighborhood_matches_python_oracle(spark):
    """sorted_neighborhood_pairs == pair-every-string-with-its-(w−1)
    sort-order successors, for the total (key, string) order."""
    from nama_spark.operators.block import sorted_neighborhood_pairs

    names = ["delta one", "alpha two", "alpha one", "charlie", "bravo x",
             "bravo a", "echo", "alpha three"]
    df = spark.createDataFrame([(s,) for s in names], ["string"])
    w = 3
    got = {
        (r["s0"], r["s1"], r["rank_distance"])
        for r in sorted_neighborhood_pairs(
            df, F.col("string"), window=w, num_partitions=4
        ).collect()
    }
    ordered = sorted(names)  # key == string here
    want = {
        (ordered[i], ordered[i + d], d)
        for i in range(len(ordered))
        for d in range(1, w)
        if i + d < len(ordered)
    }
    assert got == want


def test_sorted_neighborhood_plan_no_single_partition(spark):
    """The distributed rank must not collapse to Exchange SinglePartition
    (the global-window anti-pattern this operator exists to avoid)."""
    from nama_spark.operators.block import sorted_neighborhood_pairs

    df = spark.range(200).select(F.concat(F.lit("s"), F.col("id")).alias("string"))
    out = sorted_neighborhood_pairs(df, F.col("string"), window=3, num_partitions=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert out.count() == (200 - 1) + (200 - 2)

    with pytest.raises(ValueError):
        sorted_neighborhood_pairs(df, F.col("string"), window=1)


def test_refit_releases_previous_caches(spark):
    """fit() on an already-fitted model unpersists the prior token/weight
    caches — repeated incremental updates must not leak executor storage."""
    from nama_spark.operators.token_similarity import TokenSimilarity

    df1 = spark.createDataFrame([("alpha beta",), ("beta gamma",)], ["string"])
    df2 = spark.createDataFrame([("delta epsilon",)], ["string"])
    ts = TokenSimilarity(tokenizer="words")
    ts.fit(df1)
    old_tokens, old_weights = ts._tokens, ts._weights
    old_tokens.count()  # materialize the caches
    assert old_tokens.is_cached and old_weights.is_cached
    ts.fit(df2)
    assert not old_tokens.is_cached and not old_weights.is_cached
    assert ts._tokens.is_cached
    ts.unpersist()


def test_link_tables_best_and_mutual(spark):
    """Cross-table linkage vs a hand-built python oracle: best-per-left and
    mutual-best selections over union-universe tf-idf word jaccard, with the
    deterministic string tie-break on equal scores."""
    import math
    from collections import Counter

    from nama_spark.operators.linkage import link_tables

    left = ["acme rocket labs", "globex power corp", "lonely name"]
    right = ["acme rocket labs inc", "acme rocket labs llc",
             "globex power corp sa", "unrelated thing"]
    ldf = spark.createDataFrame([(s,) for s in left], ["string"])
    rdf = spark.createDataFrame([(s,) for s in right], ["string"])

    # python oracle (same math as the engine's words/tf-idf/jaccard)
    uni = left + right
    tok_lists = {s: s.split() for s in uni}
    f = Counter(t for lst in tok_lists.values() for t in lst)
    w = {t: c / math.log(1 + c) for t, c in f.items()}
    elig = {t for t, c in f.items() if 2 <= c <= 100}

    def jac(a, b):
        sa, sb = set(tok_lists[a]), set(tok_lists[b])
        inter = sum(w[t] for t in sa & sb)
        union = sum(w[t] for t in sa | sb)
        return inter / union if union else 0.0

    cand = [
        (a, b) for a in left for b in right
        if set(tok_lists[a]) & set(tok_lists[b]) & elig
    ]
    thr = [(a, b, jac(a, b)) for a, b in cand if jac(a, b) >= 0.4]
    best_left = {}
    for a, b, s in sorted(thr, key=lambda x: (x[0], -round(x[2], 9), x[1])):
        best_left.setdefault(a, (b, s))
    best_right = {}
    for a, b, s in sorted(thr, key=lambda x: (x[1], -round(x[2], 9), x[0])):
        best_right.setdefault(b, (a, s))

    got_bl = {(r["s0"], r["s1"]) for r in
              link_tables(ldf, rdf, threshold=0.4, mode="best_left").collect()}
    assert got_bl == {(a, bs[0]) for a, bs in best_left.items()}

    got_mu = {(r["s0"], r["s1"]) for r in
              link_tables(ldf, rdf, threshold=0.4, mode="mutual").collect()}
    want_mu = {
        (a, bs[0]) for a, bs in best_left.items()
        if best_right.get(bs[0], (None,))[0] == a
    }
    assert got_mu == want_mu
    # the two acme rights compete for one left: mutual keeps exactly one
    assert len([p for p in got_mu if p[0] == "acme rocket labs"]) == 1


def test_link_tables_exact_equality_wins(spark):
    """A name present VERBATIM in both tables must link to itself at score
    1.0 — even when near-identical competitors share every eligible token,
    and even when the exact pair shares NO eligible token at all (blocking
    alone would never surface it)."""
    from nama_spark.operators.linkage import link_tables

    # 'acme rocket labs' exists on both sides; right also has a superstring
    # competitor that shares all its tokens.
    ldf = spark.createDataFrame(
        [("acme rocket labs",), ("globex power corp",)], ["string"])
    rdf = spark.createDataFrame(
        [("acme rocket labs",), ("acme rocket labs inc",),
         ("globex power corp sa",)], ["string"])
    got = {r["s0"]: (r["s1"], r["score"]) for r in
           link_tables(ldf, rdf, threshold=0.4, mode="best_left").collect()}
    assert got["acme rocket labs"] == ("acme rocket labs", 1.0)

    # force blocking to yield zero candidates (max_block_size below every
    # block) — the exact pair must still surface
    got2 = {r["s0"]: (r["s1"], r["score"]) for r in
            link_tables(ldf, rdf, threshold=0.4, mode="mutual",
                        max_block_size=1).collect()}
    assert got2 == {"acme rocket labs": ("acme rocket labs", 1.0)}


def test_link_tables_exact_wins_score_tie(spark):
    """A token-PERMUTED competitor scores jaccard exactly 1.0 (same token
    set) and sorts lexicographically before the verbatim string — the
    verbatim match must still win the tie (ordered before any s1 != s0 at
    equal rounded score)."""
    from nama_spark.operators.linkage import link_tables

    # 'labs rocket' permutes to 'labs rocket' vs verbatim 'rocket labs';
    # 'labs rocket' < 'rocket labs' lexicographically.
    ldf = spark.createDataFrame([("rocket labs",)], ["string"])
    rdf = spark.createDataFrame(
        [("labs rocket",), ("rocket labs",)], ["string"])
    got = {r["s0"]: (r["s1"], r["score"]) for r in
           link_tables(ldf, rdf, threshold=0.4, mode="best_left").collect()}
    assert got["rocket labs"] == ("rocket labs", 1.0)


def test_select_uncertain_pairs(spark):
    """Labeling-batch selection: band filter, deterministic md5 draw,
    seed rotation, repartition invariance."""
    import hashlib

    from nama_spark.operators.pairs import select_uncertain_pairs

    rows = [(f"a{i}", f"b{i}", i / 100.0) for i in range(100)]
    scored = spark.createDataFrame(rows, ["s0", "s1", "score"])
    sel = select_uncertain_pairs(scored, threshold=0.5, band=0.1, k=10,
                                 seed="r1")
    got = [(r["s0"], r["s1"]) for r in sel.collect()]
    assert len(got) == 10
    # only in-band pairs are eligible
    in_band = [(s0, s1) for (s0, s1, sc) in rows if abs(sc - 0.5) <= 0.1]
    assert set(got) <= set(in_band)
    # python replay of the md5 draw
    exp = sorted(
        in_band,
        key=lambda p: hashlib.md5(
            ("r1\x1f" + p[0] + "\x1f" + p[1]).encode()
        ).hexdigest(),
    )[:10]
    assert sorted(got) == sorted(exp)
    # repartition cannot change the batch; a new seed draws a new one
    again = {(r["s0"], r["s1"]) for r in select_uncertain_pairs(
        scored.repartition(13), 0.5, 0.1, 10, seed="r1").collect()}
    assert again == set(got)
    other = {(r["s0"], r["s1"]) for r in select_uncertain_pairs(
        scored, 0.5, 0.1, 10, seed="r2").collect()}
    assert other != set(got)
    # uncertainty is maximal at the threshold
    u = {r["s0"]: r["uncertainty"] for r in select_uncertain_pairs(
        scored, 0.5, 0.1, 21, seed="x").collect()}
    assert max(u, key=u.get) == "a50"

    import pytest as _pytest
    with _pytest.raises(ValueError):
        select_uncertain_pairs(scored, 0.5, band=0.0)


# ---------------------------------------------------------------------------
# Monge–Elkan hybrid similarity (integer-milli) vs a from-spec python oracle
# ---------------------------------------------------------------------------


def _lev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def _me_py(s0, s1):
    import re

    def toks(s):
        return [t for t in re.split(r"[^A-Za-z0-9]+", s.lower()) if t]

    def sim(a, b):
        return 1000 - (1000 * _lev(a, b)) // max(len(a), len(b))

    def directed(ta, tb):
        if not ta:
            return 0
        return sum(max((sim(a, b) for b in tb), default=0) for a in ta) // len(ta)

    t0, t1 = toks(s0), toks(s1)
    me01, me10 = directed(t0, t1), directed(t1, t0)
    return me01, me10, (me01 + me10) // 2


def test_monge_elkan_matches_python_oracle(spark):
    from nama_spark.operators.score import monge_elkan_scores

    cases = [
        ("Smith, John R.", "Jon Smith"),
        ("peter christen", "christen p"),
        ("alpha beta gamma", "gamma alpha beta"),
        ("acme corp", "acme corporation"),
        ("", "nonempty"),
        ("one", ""),
        ("Exact Match Ltd", "Exact Match Ltd"),
        ("a1 b2 c3", "c3 a1"),
        ("mueller", "muller gmbh & co kg"),
    ]
    df = spark.createDataFrame(cases, ["s0", "s1"])
    got = {
        (r["s0"], r["s1"]): (r["me01_milli"], r["me10_milli"], r["me_sym_milli"])
        for r in monge_elkan_scores(df).collect()
    }
    for s0, s1 in cases:
        assert got[(s0, s1)] == _me_py(s0, s1), (s0, s1)


def test_monge_elkan_reordering_beats_whole_string(spark):
    """The measure's raison d'être: token reordering with a typo scores high
    while whole-string normalized levenshtein scores much lower."""
    from nama_spark.operators.score import levenshtein_score, monge_elkan_scores
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("smith, john r.", "jon smith")], ["s0", "s1"])
    out = monge_elkan_scores(df).withColumn(
        "lev_milli", F.floor(levenshtein_score(F.col("s0"), F.col("s1")) * 1000)
    ).first()
    assert out["me_sym_milli"] > 700 > out["lev_milli"]


# ---------------------------------------------------------------------------
# SoftTFIDF (Cohen, Ravikumar & Fienberg 2003)
# ---------------------------------------------------------------------------


def _soft_py(pairs, corpus, threshold=0.9):
    import math
    import re

    from nama_spark.operators.score import _jaro_winkler_np

    def toks(s):
        return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]

    low = sorted({c.lower() for c in corpus})
    n = len(low)
    tf, df = {}, {}
    for s in low:
        for t in toks(s):
            tf[(s, t)] = tf.get((s, t), 0) + 1
    for s, t in tf:
        df[t] = df.get(t, 0) + 1

    def weights(s):
        vv = {t: math.log(tf[(s, t)] + 1) * math.log(n / df[t])
              for t in set(toks(s))}
        nrm = math.sqrt(sum(x * x for x in vv.values()))
        return {t: (x / nrm if nrm > 0 else 0.0) for t, x in vv.items()}

    def soft(a, b):
        va, vb = weights(a), weights(b)
        tot = 0.0
        for w, vw in sorted(va.items()):
            best = max(
                ((round(_jaro_winkler_np(w, u), 5), u) for u in vb),
                default=None,
            )
            if best and best[0] > threshold:
                tot += vw * vb[best[1]] * best[0]
        return tot

    out = {}
    for a, b in pairs:
        la, lb = a.lower(), b.lower()
        out[(a, b)] = (
            round(soft(la, lb), 5),
            round(soft(lb, la), 5),
            round((soft(la, lb) + soft(lb, la)) / 2, 5),
        )
    return out


def test_soft_tfidf_matches_python_oracle(spark):
    from nama_spark.operators.score import soft_tfidf_scores

    corpus = [
        "Smith John R", "Jon Smith", "Acme Inc", "Acme Corp Inc",
        "Global Widgets Inc", "John Doe", "Doe Jon widgets",
        "smyth jhon", "Acme Glbal Widgets",
    ]
    pairs = [
        ("Smith John R", "Jon Smith"),
        ("Acme Inc", "Acme Corp Inc"),
        ("Global Widgets Inc", "Doe Jon widgets"),
        ("John Doe", "Jon Smith"),
        ("smyth jhon", "Smith John R"),
        ("Acme Glbal Widgets", "Global Widgets Inc"),
        ("Acme Inc", "Jon Smith"),          # nothing close → 0
        ("Acme Inc", "Acme Inc"),           # identity → ~1
    ]
    cdf = spark.createDataFrame([(c,) for c in corpus], ["string"])
    pdf = spark.createDataFrame(pairs, ["s0", "s1"])
    got = {
        (r["s0"], r["s1"]): (r["soft01"], r["soft10"], r["soft_sym"])
        for r in soft_tfidf_scores(pdf, cdf, threshold=0.9).collect()
    }
    want = _soft_py(pairs, corpus)
    for k in pairs:
        assert all(abs(a - b) < 1e-9 for a, b in zip(got[k], want[k])), (
            k, got[k], want[k])
    assert got[("Acme Inc", "Jon Smith")] == (0.0, 0.0, 0.0)
    assert got[("Acme Inc", "Acme Inc")][2] > 0.999


def test_soft_tfidf_rare_token_dominates(spark):
    """The measure's raison d'être: an agreeing RARE token outweighs an
    agreeing boilerplate token, even with equal token counts."""
    from nama_spark.operators.score import soft_tfidf_scores

    corpus = [f"filler{i} inc" for i in range(20)] + [
        "zyxware solutions inc", "zyxware systems inc",
        "alpha solutions inc", "beta systems inc",
    ]
    pairs = [
        ("zyxware solutions inc", "zyxware systems inc"),  # rare token agrees
        ("alpha solutions inc", "beta systems inc"),       # only 'inc' agrees
    ]
    cdf = spark.createDataFrame([(c,) for c in corpus], ["string"])
    pdf = spark.createDataFrame(pairs, ["s0", "s1"])
    got = {(r["s0"], r["s1"]): r["soft_sym"]
           for r in soft_tfidf_scores(pdf, cdf).collect()}
    assert got[pairs[0]] > 3 * max(got[pairs[1]], 0.01)


# ---------------------------------------------------------------------------
# deterministic rule-cascade (waterfall) linkage
# ---------------------------------------------------------------------------


def _cascade_rules():
    from pyspark.sql import functions as F

    def k_exact(df):
        return F.col("name")

    def k_lower(df):
        return F.lower(F.col("name"))

    def k_first(df):
        return F.substring(F.lower(F.col("name")), 1, 3)

    return [("exact", k_exact, k_exact), ("lower", k_lower, k_lower),
            ("first3chars", k_first, k_first)]


def test_rule_cascade_first_rule_wins_and_ties(spark):
    from nama_spark.operators.linkage import rule_cascade_links

    left = spark.createDataFrame(
        [(1, "Acme"), (2, "ACME"), (3, "acm corp"), (4, "zzz")],
        ["id0", "name"],
    )
    right = spark.createDataFrame(
        [(10, "Acme"), (11, "acme"), (12, "acmight"), (13, "other")],
        ["id1", "name"],
    )
    got = {r["id0"]: (r["id1"], r["rule"], r["rule_idx"])
           for r in rule_cascade_links(left, right, _cascade_rules()).collect()}
    # id0=1 'Acme': exact → 10 (not the lower-rule 11)
    assert got[1] == (10, "exact", 0)
    # id0=2 'ACME': no verbatim; lower 'acme' matches BOTH 10 and 11 → min id1
    assert got[2] == (10, "lower", 1)
    # id0=3: only the 3-char prefix rule fires; 'acm' matches 10,11,12 → min
    assert got[3] == (10, "first3chars", 2)
    # id0=4: no rule fires → absent
    assert 4 not in got and len(got) == 3


def test_rule_cascade_max_key_size_skips_rule_not_record(spark):
    """A right-side key group over the cap is dropped from THAT rule only;
    the record still links through a later rule."""
    from pyspark.sql import functions as F

    from nama_spark.operators.linkage import rule_cascade_links

    left = spark.createDataFrame([(1, "hot")], ["id0", "name"])
    right = spark.createDataFrame(
        [(i, "hot") for i in range(10, 15)] + [(99, "HOT")], ["id1", "name"]
    )

    def k_exact(df):
        return F.col("name")

    def k_lower(df):
        return F.lower(F.col("name"))

    rules = [("exact", k_exact, k_exact), ("lower", k_lower, k_lower)]
    # cap 3: the 'hot' exact key (5 rows) is dropped; lower('hot') has 6 → also
    # dropped; nothing links
    assert rule_cascade_links(left, right, rules, max_key_size=3).count() == 0
    # cap 5: exact 'hot' (5 rows) allowed → links via rule 0, min id1
    got = rule_cascade_links(left, right, rules, max_key_size=5).first()
    assert (got["id1"], got["rule"]) == (10, "exact")


def test_rule_cascade_partition_invariance(spark):
    from nama_spark.operators.linkage import rule_cascade_links

    left = spark.createDataFrame(
        [(i, f"name{i % 7}") for i in range(60)], ["id0", "name"]
    )
    right = spark.createDataFrame(
        [(i, f"NAME{i % 5}") for i in range(40)], ["id1", "name"]
    )
    a = {(r["id0"], r["id1"], r["rule"]) for r in
         rule_cascade_links(left, right, _cascade_rules()).collect()}
    b = {(r["id0"], r["id1"], r["rule"]) for r in
         rule_cascade_links(left.repartition(13), right.repartition(7),
                            _cascade_rules()).collect()}
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# PPRL: Bloom-filter (CLK) encoding + Dice
# ---------------------------------------------------------------------------


def _clk_py(s, m=256, k=3, q=2):
    import hashlib

    s = s.lower()
    grams = [s[j:j + q] for j in range(len(s) - q + 1)] if len(s) >= q else []
    return sorted({
        int(hashlib.md5(f"{g}|{i}".encode()).hexdigest()[:6], 16) % m
        for g in grams for i in range(1, k + 1)
    })


def test_bloom_encode_matches_python_oracle(spark):
    from nama_spark.operators.pprl import bloom_encode

    names = ["Smith John", "jon smith", "a", "", "Acme Corp Inc", "ACME"]
    df = spark.createDataFrame([(n,) for n in names], ["string"])
    got = {r["string"]: list(r["bloom"])
           for r in bloom_encode(df, m=256, k=3, q=2).collect()}
    for n in names:
        assert got[n] == _clk_py(n), n
    assert got["a"] == [] and got[""] == []           # shorter than q
    assert got["ACME"] == _clk_py("acme")             # case-insensitive


def test_bloom_dice_tracks_cleartext_similarity(spark):
    """The PPRL contract: Dice on encodings approximates bigram Dice on
    cleartext — identical → 1000, near-dup high, disjoint low."""
    from nama_spark.operators.pprl import bloom_dice_pairs

    pairs = [
        ("acme corporation", "acme corporation"),   # identical
        ("acme corporation", "acme corpration"),    # typo
        ("acme corporation", "zzz qqq vvv"),        # unrelated
    ]
    df = spark.createDataFrame(pairs, ["s0", "s1"])
    got = {(r["s0"], r["s1"]): r["dice_milli"]
           for r in bloom_dice_pairs(df).collect()}
    assert got[pairs[0]] == 1000
    assert 800 <= got[pairs[1]] < 1000
    assert got[pairs[2]] < 300
    assert got[pairs[1]] > got[pairs[2]]


def test_bloom_dice_empty_filters(spark):
    from nama_spark.operators.pprl import bloom_dice_pairs

    df = spark.createDataFrame(
        [("a", "b"), ("a", "acme"), ("acme", "acme")], ["s0", "s1"])
    got = {(r["s0"], r["s1"]): r["dice_milli"]
           for r in bloom_dice_pairs(df).collect()}
    assert got[("a", "b")] == 1000      # both empty (vacuous identity)
    assert got[("a", "acme")] == 0      # one empty
    assert got[("acme", "acme")] == 1000


# ---------------------------------------------------------------------------
# one-to-one assignment (iterative mutual-best peeling)
# ---------------------------------------------------------------------------


def _peel_py(edges, rounds=3):
    """From-spec mutual-best peeling with (score desc, partner asc) ties."""
    remaining = list(edges)
    out = {}
    for rnd in range(1, rounds + 1):
        best_l, best_r = {}, {}
        for l, r, s in remaining:
            if l not in best_l or (s, -_ord(r)) > (best_l[l][1], -_ord(best_l[l][0])):
                best_l[l] = (r, s)
            if r not in best_r or (s, -_ord(l)) > (best_r[r][1], -_ord(best_r[r][0])):
                best_r[r] = (l, s)
        hit = {(l, r, s) for l, r, s in remaining
               if best_l[l][0] == r and best_r[r][0] == l}
        for l, r, s in hit:
            out[(l, r)] = (s, rnd)
        gone_l = {l for l, _, _ in hit}
        gone_r = {r for _, r, _ in hit}
        remaining = [(l, r, s) for l, r, s in remaining
                     if l not in gone_l and r not in gone_r]
    return out


def _ord(x):
    return x  # ids are ints in these tests; asc tie-break


def test_one_to_one_resolves_chains_beyond_single_shot_mutual(spark):
    from nama_spark.operators.linkage import one_to_one_links

    edges = [(1, 10, 900), (2, 10, 800), (2, 20, 700)]
    df = spark.createDataFrame(edges, ["id0", "id1", "score"])
    got = {(r["id0"], r["id1"]): (r["score"], r["round"])
           for r in one_to_one_links(df).collect()}
    # round 1: (1,10) mutual; round 2: B1 gone, so (2,20) becomes mutual
    assert got == {(1, 10): (900, 1), (2, 20): (700, 2)}


def test_one_to_one_matches_python_oracle_and_is_exclusive(spark):
    import random

    from nama_spark.operators.linkage import one_to_one_links

    rng = random.Random(7)
    edges = list({(rng.randrange(30), 100 + rng.randrange(30)): None
                  for _ in range(250)})
    edges = [(l, r, rng.randrange(1000)) for (l, r) in edges]
    df = spark.createDataFrame(edges, ["id0", "id1", "score"])
    got = {(r["id0"], r["id1"]): (r["score"], r["round"])
           for r in one_to_one_links(df, rounds=4).collect()}
    want = _peel_py(edges, rounds=4)
    assert got == want
    ls = [l for l, _ in got]
    rs = [r for _, r in got]
    assert len(ls) == len(set(ls)) and len(rs) == len(set(rs))  # 1:1


def test_one_to_one_partition_invariance(spark):
    import random

    from nama_spark.operators.linkage import one_to_one_links

    rng = random.Random(3)
    edges = [(rng.randrange(20), 100 + rng.randrange(20), rng.randrange(50))
             for _ in range(120)]
    df = spark.createDataFrame(edges, ["id0", "id1", "score"]).distinct()
    a = {tuple(r) for r in one_to_one_links(df).collect()}
    b = {tuple(r) for r in one_to_one_links(df.repartition(17)).collect()}
    assert a == b and len(a) > 0


def test_link_tables_one_to_one_saturates_beyond_mutual(spark):
    """Two similar lefts compete for the same best right: single-shot
    mutual links one and strands the other; one_to_one's second round
    assigns the stranded left to its next-best remaining right."""
    from nama_spark.operators.linkage import link_tables

    # both lefts' BEST right is R1 ("acme rocket labs"): L1 ties it
    # verbatim; L2 scores it 3-of-4 shared tokens vs only 2-of-5 for R2 —
    # and R2 itself prefers L1 (2-of-4) over L2 (2-of-5), so single-shot
    # mutual matches only (L1, R1) and strands L2
    left = ["acme rocket labs", "acme rocket labs x"]
    right = ["acme rocket labs", "acme rocket unit"]
    ldf = spark.createDataFrame([(s,) for s in left], ["string"])
    rdf = spark.createDataFrame([(s,) for s in right], ["string"])

    mu = {(r["s0"], r["s1"]) for r in
          link_tables(ldf, rdf, threshold=0.1, mode="mutual").collect()}
    oo = {(r["s0"], r["s1"]): r["round"] for r in
          link_tables(ldf, rdf, threshold=0.1, mode="one_to_one").collect()}
    # both selections are conflict-free
    for got in (mu, set(oo)):
        ls = [a for a, _ in got]
        rs = [b for _, b in got]
        assert len(ls) == len(set(ls)) and len(rs) == len(set(rs))
    # one_to_one links BOTH lefts; mutual strands one
    assert len(oo) == 2 and len(mu) < 2
    assert oo[("acme rocket labs", "acme rocket labs")] == 1
    assert oo[("acme rocket labs x", "acme rocket unit")] == 2


def test_link_tables_one_to_one_verbatim_wins_tie(spark):
    """The verbatim-match-wins-score-ties contract holds in the peeling
    mode too (the __ord struct ranks exact equality above a token-permuted
    competitor with the same rounded score)."""
    from nama_spark.operators.linkage import link_tables

    left = ["alpha beta gamma"]
    right = ["alpha beta gamma", "beta alpha gamma"]  # permuted ties at 1.0
    ldf = spark.createDataFrame([(s,) for s in left], ["string"])
    rdf = spark.createDataFrame([(s,) for s in right], ["string"])
    got = [(r["s0"], r["s1"]) for r in
           link_tables(ldf, rdf, threshold=0.5, mode="one_to_one").collect()]
    assert ("alpha beta gamma", "alpha beta gamma") in got
