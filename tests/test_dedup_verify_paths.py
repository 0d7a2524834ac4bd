"""Round-6 verify-stage internals: the block → ub-prefilter → exact-verify
split (_overlap_prefilter + _pair_overlap_pre) must reproduce the naive
blocked-pairs semantics exactly, on BOTH verify implementations (the
shuffled row joins of _pair_overlap and the hot-item bitmask
mapInPandas), and the over-budget mask case must fall back to the
shuffled joins."""

import sys

import pytest
from pyspark.sql import functions as F

from nama_spark.operators import dedup as D


@pytest.fixture(scope="module")
def spark():
    from nama_spark.session import get_spark

    s = get_spark("test_dedup_verify_paths", cores=4, shuffle_partitions=8)
    yield s


def _naive_jaccard_pairs(spark, docs, k, threshold, max_df):
    """Reference implementation straight from the operator contract: pairs
    sharing >= 1 shingle with df in [2, max_df]; exact full-set jaccard."""
    rows = docs.collect()
    import collections

    sets = {}
    for r in rows:
        toks = r["text"].lower().strip().split()
        if len(toks) >= k:
            sh = {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
        else:
            sh = {" ".join(toks)}
        sets[r["doc_id"]] = sh
    df_count = collections.Counter()
    for s in sets.values():
        for x in s:
            df_count[x] += 1
    elig = {x for x, c in df_count.items() if 2 <= c <= max_df}
    ids = sorted(sets)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if not (sets[a] & sets[b] & elig):
                continue
            inter = len(sets[a] & sets[b])
            jac = inter / (len(sets[a]) + len(sets[b]) - inter)
            if jac >= threshold:
                out[(a, b)] = jac
    return out


def _docs(spark):
    # boilerplate-heavy corpus: shared template words make many shingles
    # hot, so the ub-prefilter's hot-side bound is actually exercised
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(30):
        extra = f"doc {i} unique tail piece number {i * 7} here"
        rows.append((i, base + " " + (extra if i % 3 else base)))
    # two exact near-dup clusters
    rows.append((100, base + " cluster alpha one two three"))
    rows.append((101, base + " cluster alpha one two three"))
    rows.append((102, base + " cluster alpha one two four"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.mark.parametrize("hot_mask", [False, True])
def test_ngram_jaccard_matches_naive_on_both_paths(
    spark, monkeypatch, hot_mask
):
    docs = _docs(spark)
    k, threshold, max_df = 3, 0.3, 5
    monkeypatch.setattr(
        D, "_VERIFY_SET_PATH_MIN_PAIRS", 0 if hot_mask else 10**9
    )
    got = {
        (r["id0"], r["id1"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            docs, k=k, threshold=threshold, max_df=max_df
        ).collect()
    }
    want = _naive_jaccard_pairs(spark, docs, k, threshold, max_df)
    assert set(got) == set(want)
    for p in got:
        assert got[p] == pytest.approx(want[p], abs=1e-12)


@pytest.mark.parametrize("hot_mask", [False, True])
def test_containment_matches_old_semantics_on_both_paths(
    spark, monkeypatch, hot_mask
):
    docs = _docs(spark)
    monkeypatch.setattr(
        D, "_VERIFY_SET_PATH_MIN_PAIRS", 0 if hot_mask else 10**9
    )
    out = D.containment_pairs(docs, k=3, threshold=0.5, max_df=5).collect()
    # schema stays (id0, id1, n0, n1, containment) with long counts
    assert [f.name for f in D.containment_pairs(docs).schema.fields] == [
        "id0", "id1", "n0", "n1", "containment",
    ]
    for r in out:
        assert r["containment"] >= 0.5
        assert isinstance(r["n0"], int)
    # the identical-text cluster must be found with containment 1.0
    pairs = {(r["id0"], r["id1"]): r["containment"] for r in out}
    assert pairs.get((100, 101)) == pytest.approx(1.0)


def test_winnow_hot_mask_path_equals_joined_path(spark, monkeypatch):
    """The round-6 hot-bitmask verify (n_inter = n_elig + popcount of
    shared hot items) must reproduce the shuffled-join verify exactly,
    jaccard values included."""
    docs = _docs(spark)
    kw = dict(k=8, window=4, threshold=0.2, max_df=10)
    monkeypatch.setattr(D, "_VERIFY_SET_PATH_MIN_PAIRS", 10**9)
    want = {
        (r["id0"], r["id1"]): r["jaccard"]
        for r in D.winnow_near_pairs(docs, **kw).collect()
    }
    monkeypatch.setattr(D, "_VERIFY_SET_PATH_MIN_PAIRS", 0)
    got = {
        (r["id0"], r["id1"]): r["jaccard"]
        for r in D.winnow_near_pairs(docs, **kw).collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for p in got:
        assert got[p] == pytest.approx(want[p], abs=1e-12)
    # an over-budget mask matrix falls back to the shuffled-join verify
    # over the whole (pinned) item table, with the same pairs and jaccard
    monkeypatch.setattr(D, "_VERIFY_HOT_MASK_MAX_BYTES", 1)
    overlap_items, joined_items = [], []
    overlap, joined = D._pair_overlap, D._pair_overlap_joined

    def spy_overlap(cand, items, item_col, n_cand):
        overlap_items.append(items)
        return overlap(cand, items, item_col, n_cand)

    def spy_joined(cand, it, item_col):
        joined_items.append(it)
        return joined(cand, it, item_col)

    monkeypatch.setattr(D, "_pair_overlap", spy_overlap)
    monkeypatch.setattr(D, "_pair_overlap_joined", spy_joined)
    fallback = {
        (r["id0"], r["id1"]): r["jaccard"]
        for r in D.winnow_near_pairs(docs, **kw).collect()
    }
    assert len(overlap_items) == 1
    assert len(joined_items) == 1 and joined_items[0] is overlap_items[0]
    assert fallback == got


@pytest.mark.parametrize("op", ["ngram_jaccard_pairs", "containment_pairs"])
def test_small_candidate_verify_counts_the_pairs_once(spark, monkeypatch, op):
    """Under _VERIFY_SET_PATH_MIN_PAIRS the verify counts its pinned
    candidate pairs once, in _pair_overlap_pre; _pair_overlap reuses that
    count instead of pinning and counting the same pairs again."""
    docs = _docs(spark)
    monkeypatch.setattr(D, "_VERIFY_SET_PATH_MIN_PAIRS", 10**9)
    counters = []
    frame_type = type(docs)
    count = frame_type.count

    def spy_count(df):
        caller = sys._getframe(1).f_code.co_name
        if caller.startswith("_pair_overlap"):
            counters.append(caller)
        return count(df)

    monkeypatch.setattr(frame_type, "count", spy_count)
    out = getattr(D, op)(docs, k=3, threshold=0.3, max_df=5).collect()
    assert out
    assert counters == ["_pair_overlap_pre"]


def test_hot_mask_passthrough_when_no_hot_items(spark, monkeypatch):
    """With max_df above every doc frequency there are no hot items, and
    the forced hot-mask path must return the prefilter counts directly."""
    docs = _docs(spark)
    monkeypatch.setattr(D, "_VERIFY_SET_PATH_MIN_PAIRS", 10**9)
    want = {
        (r["id0"], r["id1"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            docs, k=3, threshold=0.3, max_df=10**6
        ).collect()
    }
    monkeypatch.setattr(D, "_VERIFY_SET_PATH_MIN_PAIRS", 0)
    got = {
        (r["id0"], r["id1"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            docs, k=3, threshold=0.3, max_df=10**6
        ).collect()
    }
    assert got == want and len(got) > 0


def test_winnow_prefilter_never_drops_a_true_pair(spark, monkeypatch):
    """ub >= |∩| by construction: every pair the unfiltered (huge-cap)
    pipeline reports must survive the prefiltered one."""
    docs = _docs(spark)
    for force in (0, 10**9):
        monkeypatch.setattr(D, "_VERIFY_SET_PATH_MIN_PAIRS", force)
        got = {
            (r["id0"], r["id1"])
            for r in D.winnow_near_pairs(
                docs, k=8, window=4, threshold=0.2, max_df=10
            ).collect()
        }
        assert (100, 101) in got
