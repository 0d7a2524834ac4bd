"""MatchData semantics vs the reference (nama/match_data.py) — constructors,
label election, unite polymorphism, split/drop/keep, add_strings, merge_dfs."""

import pytest
from pyspark.sql import functions as F

from nama_spark.functions.normalize import simplify_corp
from nama_spark.operators.matchdata import MatchData


def _partition(md):
    """frozenset-of-frozensets view (labels are cosmetic; F1 compares the
    partition — SURVEY.md §1.1)."""
    groups = {}
    for r in md.df.collect():
        groups.setdefault(r["group"], set()).add(r["string"])
    return {frozenset(v) for v in groups.values()}


def _labels(md):
    return {r["string"]: r["group"] for r in md.df.collect()}


def test_from_unmatched_singletons_accumulate_counts(spark):
    df = spark.createDataFrame(
        [("a", 2), ("a", 3), ("b", 1)], ["string", "count"]
    )
    md = MatchData.from_unmatched(df, count_col="count")
    rows = {r["string"]: (r["count"], r["group"]) for r in md.df.collect()}
    assert rows == {"a": (5, "a"), "b": (1, "b")}


def test_label_election_max_count_then_min_string(spark):
    # match_data.py:163: min((-counts[s], s)) → highest count, lexicographic tiebreak
    df = spark.createDataFrame(
        [("bb", 5, "g"), ("aa", 5, "g"), ("zz", 1, "g")],
        ["string", "count", "group"],
    )
    md = MatchData(df)
    assert set(_labels(md).values()) == {"aa"}


def test_from_pairs_transitive(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["string0", "string1"]
    )
    md = MatchData.from_pairs(pairs)
    assert _partition(md) == {frozenset({"a", "b", "c"}), frozenset({"x", "y"})}
    # integer ids become MatchData's string ids
    ids = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                "string0 long, string1 long")
    assert _partition(MatchData.from_pairs(ids)) == {
        frozenset({"1", "2", "3"}), frozenset({"10", "11"})
    }


def test_detect_dispatch(spark):
    pairs = spark.createDataFrame([("a", "b")], ["string0", "string1"])
    groups = spark.createDataFrame([("a", "g")], ["string", "group"])
    unmatched = spark.createDataFrame([("a",)], ["string"])
    assert _partition(MatchData.detect(pairs)) == {frozenset({"a", "b"})}
    assert _partition(MatchData.detect(groups)) == {frozenset({"a"})}
    # 'unmatched' is explicit-only (group_col=None) — reference parity
    assert _partition(MatchData.detect(unmatched, group_col=None)) == {
        frozenset({"a"})
    }


def test_detect_refuses_ambiguous_layouts(spark):
    """from_df(match_format='detect') parity (match_data.py:757-774): a bare
    string column without the group column refuses (unmatched must be asked
    for), pairs columns with extras refuse, and the string column wins over
    pair columns when both are present."""
    import pytest as _pytest

    bare = spark.createDataFrame([("a",)], ["string"])
    with _pytest.raises(ValueError, match="could not infer"):
        MatchData.detect(bare)

    pairs_extra = spark.createDataFrame(
        [("a", "b", 1)], ["string0", "string1", "extra"]
    )
    with _pytest.raises(ValueError, match="could not infer"):
        MatchData.detect(pairs_extra)

    nothing = spark.createDataFrame([(1,)], ["x"])
    with _pytest.raises(ValueError, match="could not infer"):
        MatchData.detect(nothing)

    # string column probed first: groups wins over pair columns
    both = spark.createDataFrame(
        [("a", "g", "x", "y")], ["string", "group", "string0", "string1"]
    )
    assert _partition(MatchData.detect(both)) == {frozenset({"a"})}


def test_unite_with_column_expr_hash_collision_pass(spark):
    # EP-2 (SURVEY.md §3): unite(simplify_corp) — the callable form of
    # match_data.py:284-287, as a pure Column expression.
    df = spark.createDataFrame(
        [("Acme Inc", 3), ("ACME, Ltd.", 1), ("Other Co", 1)], ["string", "count"]
    )
    md = MatchData.from_unmatched(df, count_col="count")
    united = md.unite(simplify_corp)
    assert _partition(united) == {
        frozenset({"Acme Inc", "ACME, Ltd."}),
        frozenset({"Other Co"}),
    }
    # label = max count member
    assert _labels(united)["ACME, Ltd."] == "Acme Inc"


def test_unite_with_column_expr_empty_keys_stay_singletons(spark):
    """''-keys mean "no key": suffix-only names whose normalization key is
    empty must NOT collapse into one cluster — same rule as exact_key_edges.
    (Documented deviation from the reference, which unites all strings
    sharing any key value, match_data.py:284-287.)"""
    df = spark.createDataFrame(
        [("The Group Inc.", 1), ("Holdings Co", 1), ("Acme Inc", 1), ("ACME Ltd", 1)],
        ["string", "count"],
    )
    md = MatchData.from_unmatched(df, count_col="count")
    united = md.unite(simplify_corp)  # first two simplify to ''
    assert _partition(united) == {
        frozenset({"The Group Inc."}),
        frozenset({"Holdings Co"}),
        frozenset({"Acme Inc", "ACME Ltd"}),
    }


def test_unite_transitivity_across_calls(spark):
    df = spark.createDataFrame([("a", 1), ("b", 1), ("c", 1)], ["string", "count"])
    md = MatchData.from_unmatched(df, count_col="count")
    md = md.unite([["a", "b"]])
    md = md.unite([["b", "c"]])
    assert _partition(md) == {frozenset({"a", "b", "c"})}


def test_unite_with_list_and_mapping(spark):
    df = spark.createDataFrame(
        [(s, 1) for s in "abcde"], ["string", "count"]
    )
    md = MatchData.from_unmatched(df, count_col="count")
    assert _partition(md.unite(["a", "b", "c"])) == {
        frozenset({"a", "b", "c"}), frozenset({"d"}), frozenset({"e"})
    }
    assert _partition(md.unite({"a": "k1", "d": "k1", "e": "k2"})) == {
        frozenset({"a", "d"}), frozenset({"b"}), frozenset({"c"}), frozenset({"e"})
    }


def test_unite_with_matchdata_and_add(spark):
    df1 = spark.createDataFrame([("a", 1), ("b", 1)], ["string", "count"])
    md1 = MatchData.from_unmatched(df1, count_col="count").unite([["a", "b"]])
    df2 = spark.createDataFrame([("b", 2), ("c", 1)], ["string", "count"])
    md2 = MatchData.from_unmatched(df2, count_col="count").unite([["b", "c"]])
    # __add__: union of universes, closure of both partitions (match_data.py:64-69)
    both = md1 + md2
    assert _partition(both) == {frozenset({"a", "b", "c"})}
    counts = {r["string"]: r["count"] for r in both.df.collect()}
    assert counts == {"a": 1, "b": 3, "c": 1}


def test_split_and_split_all(spark):
    df = spark.createDataFrame(
        [("a", 1, "g"), ("b", 1, "g"), ("c", 1, "g")], ["string", "count", "group"]
    )
    md = MatchData(df)
    assert _partition(md.split(["c"])) == {frozenset({"a", "b"}), frozenset({"c"})}
    # splitting the group's LABEL must still break it out (the remnants keep
    # carrying that label as their group key — regression: shared key)
    assert _partition(md.split(["a"])) == {frozenset({"b", "c"}), frozenset({"a"})}
    assert _partition(md.split_all()) == {
        frozenset({"a"}), frozenset({"b"}), frozenset({"c"})
    }


def test_drop_keep_add_strings(spark):
    df = spark.createDataFrame(
        [("a", 1, "g"), ("b", 2, "g"), ("c", 1, "h")], ["string", "count", "group"]
    )
    md = MatchData(df)
    assert set(_labels(md.drop(["b"]))) == {"a", "c"}
    assert set(_labels(md.keep(["a", "b"]))) == {"a", "b"}
    added = md.add_strings(
        spark.createDataFrame([("c", 5), ("d", 1)], ["string", "count"]),
        count_col="count",
    )
    rows = {r["string"]: r["count"] for r in added.df.collect()}
    assert rows == {"a": 1, "b": 2, "c": 6, "d": 1}
    # existing partition preserved; new string is a singleton
    assert frozenset({"a", "b"}) in _partition(added)
    assert frozenset({"d"}) in _partition(added)


def test_to_df_ordering_and_singletons(spark):
    df = spark.createDataFrame(
        [("a", 1, "g1"), ("b", 9, "g1"), ("solo", 1, "s")],
        ["string", "count", "group"],
    )
    md = MatchData(df)
    out = md.to_df(singletons=False).collect()
    assert [r["string"] for r in out] == ["b", "a"]  # count desc within group
    full = md.to_df(singletons=True).collect()
    assert len(full) == 3 and full[0]["string"] == "b"  # biggest group first


def test_merge_dfs_joins_on_match_group(spark):
    md = MatchData(
        spark.createDataFrame(
            [("acme inc", 1, "g"), ("acme ltd", 1, "g"), ("zeta", 1, "z")],
            ["string", "count", "group"],
        )
    )
    left = spark.createDataFrame([("acme inc", 10)], ["name", "lval"])
    right = spark.createDataFrame([("acme ltd", 77), ("zeta", 1)], ["name", "rval"])
    out = md.merge_dfs(left, right, left_on="name", right_on="name", how="inner")
    rows = out.select("lval", "rval").collect()
    assert len(rows) == 1 and rows[0]["lval"] == 10 and rows[0]["rval"] == 77


def test_matched_to_and_reset_counts(spark):
    md = MatchData(
        spark.createDataFrame(
            [("a", 4, "g"), ("b", 1, "g"), ("c", 1, "h")],
            ["string", "count", "group"],
        )
    )
    got = {r["string"] for r in md.matched_to(["b"]).collect()}
    assert got == {"a", "b"}
    assert {r["count"] for r in md.reset_counts().df.collect()} == {1}


# threshold=0 sends the quotient CC down the star rounds; 10**6 keeps it
# on the driver union-find
@pytest.mark.parametrize("threshold", [0, 10**6])
def test_unite_incremental_equals_unite(spark, threshold):
    """unite_incremental (group-quotient CC + touched-only relabel) must
    reproduce unite(edges) exactly whenever every edge touches a string
    outside the previous universe — chained merges through a new string,
    group-group merges, isolated new singletons, labels included."""
    from nama_spark.operators.matchdata import MatchData

    prev = MatchData(spark.createDataFrame(
        [("a", 3, "a"), ("a2", 1, "a"),      # group A
         ("b", 2, "b"), ("b2", 1, "b"),      # group B
         ("c", 1, "c"),                        # singleton
         ("d", 5, "d")],                       # untouched group
        ["string", "count", "group"]))
    new = spark.createDataFrame(
        [("n1",), ("n2",), ("n3",)], ["string"])
    md2 = prev.add_strings(new)
    # n1 bridges A and B; n2 joins c; n3 stays isolated
    edges = spark.createDataFrame(
        [("n1", "a"), ("n1", "b2"), ("c", "n2")], ["s0", "s1"])

    cc = {"small_graph_threshold": threshold}
    want = {tuple(r) for r in md2.unite(edges, **cc).df.collect()}
    got = {tuple(r) for r in md2.unite_incremental(edges, **cc).df.collect()}
    assert got == want

    # empty edge set: everything untouched, byte-identical rows
    none = spark.createDataFrame([], "s0 string, s1 string")
    got2 = {tuple(r) for r in md2.unite_incremental(none, **cc).df.collect()}
    want2 = {tuple(r) for r in md2.unite(none, **cc).df.collect()}
    assert got2 == want2


@pytest.mark.parametrize("threshold", [0, 10**6])
def test_unite_incremental_after_a_relabelling_redelivery(spark, threshold):
    """A delta that re-delivers a known string can move its group's label
    (add_strings re-elects): {acme:2, acme inc:2} is labelled acme until
    acme inc's count reaches 3. The quotient must use the current labels,
    or the edge into the group misses it and the merge is lost."""
    from nama_spark.operators.matchdata import MatchData

    prev = MatchData(spark.createDataFrame(
        [("acme", 2, "acme"), ("acme inc", 2, "acme")],
        ["string", "count", "group"]))
    md2 = prev.add_strings(spark.createDataFrame(
        [("acme inc",), ("acme incorporated",)], ["string"]))
    edges = spark.createDataFrame(
        [("acme inc", "acme incorporated")], ["s0", "s1"])
    cc = {"small_graph_threshold": threshold}
    got = {r["string"]: r["group"]
           for r in md2.unite_incremental(edges, **cc).df.collect()}
    assert got == {"acme": "acme inc", "acme inc": "acme inc",
                   "acme incorporated": "acme inc"}
    assert got == {r["string"]: r["group"]
                   for r in md2.unite(edges, **cc).df.collect()}


def test_diff_partitions(spark):
    """Model-upgrade audit: stable / split / merged / regrouped /
    only_a / only_b classification by pure cluster-cardinality math."""
    from nama_spark.operators.matchdata import diff_partitions

    a = spark.createDataFrame(
        [("s1", "A"), ("s2", "A"),            # stays together -> stable
         ("s3", "B"), ("s4", "B"),            # breaks apart   -> split
         ("s5", "C"), ("s6", "D"),            # fuses          -> merged
         ("s7", "E"), ("s8", "E"), ("s9", "F"),  # boundary moves -> regrouped
         ("s10", "G")],                       # dropped in b   -> only_a
        ["string", "group"],
    )
    b = spark.createDataFrame(
        [("s1", "A2"), ("s2", "A2"),
         ("s3", "B1"), ("s4", "B2"),
         ("s5", "CD"), ("s6", "CD"),
         ("s7", "E2"), ("s8", "X"), ("s9", "X"),
         ("s11", "H")],                       # new in b       -> only_b
        ["string", "group"],
    )
    got = {r["string"]: r for r in diff_partitions(a, b).collect()}
    assert len(got) == 11
    assert got["s1"]["status"] == got["s2"]["status"] == "stable"
    assert got["s3"]["status"] == got["s4"]["status"] == "split"
    assert got["s5"]["status"] == got["s6"]["status"] == "merged"
    # E={s7,s8}: s7 alone in E2 (split side), s8 joins s9 (regrouped)
    assert got["s7"]["status"] == "split"
    assert got["s8"]["status"] == "regrouped"
    assert got["s9"]["status"] == "merged"
    assert got["s10"]["status"] == "only_a" and got["s10"]["group_b"] is None
    assert got["s11"]["status"] == "only_b" and got["s11"]["group_a"] is None
    # cardinality columns carry the evidence
    assert (got["s3"]["na"], got["s3"]["nb"], got["s3"]["nab"]) == (2, 1, 1)
    assert (got["s5"]["na"], got["s5"]["nb"], got["s5"]["nab"]) == (1, 2, 1)
    assert (got["s8"]["na"], got["s8"]["nb"], got["s8"]["nab"]) == (2, 2, 1)
