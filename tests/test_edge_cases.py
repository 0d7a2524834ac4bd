"""Degenerate-input behavior: empty universes, singletons, and
normalize-to-nothing strings must flow through every operator family without
crashing — at 100 TB an empty partition, an empty daily delta, or a filter
that matches nothing is routine, not exceptional."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from nama_spark.operators.matchdata import MatchData

NAMES = StructType([StructField("string", StringType())])
DOCS = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)
EMB = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def _empty(spark, schema):
    return spark.createDataFrame([], schema)


def test_empty_universe_through_matchdata_and_tokensim(spark):
    from nama_spark.operators.token_similarity import TokenSimilarity

    md = MatchData.from_unmatched(_empty(spark, NAMES))
    assert md.df.count() == 0
    assert md.to_df().count() == 0
    ts = TokenSimilarity()
    ts.fit(md.df.select("string"))
    out = ts.predict(md, threshold=0.5)
    assert out.df.count() == 0


def test_single_string_universe(spark):
    from nama_spark.operators.token_similarity import TokenSimilarity

    md = MatchData.from_unmatched(
        spark.createDataFrame([("acme corp",)], ["string"])
    )
    ts = TokenSimilarity()
    ts.fit(md.df.select("string"))
    rows = ts.predict(md, threshold=0.5).df.collect()
    assert len(rows) == 1
    assert rows[0]["group"] is not None


def test_empty_documents_through_dedup_family(spark):
    from nama_spark.operators.dedup import (
        exact_dup_groups,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs,
        winnow_near_pairs,
        word_shingles,
    )

    docs = _empty(spark, DOCS)
    assert word_shingles(docs).count() == 0
    assert exact_dup_groups(docs).count() == 0
    assert ngram_jaccard_pairs(docs).count() == 0
    assert minhash_lsh_pairs(docs).count() == 0
    assert simhash_near_pairs(docs).count() == 0
    assert winnow_near_pairs(docs).count() == 0


def test_empty_embeddings_through_ann(spark):
    from nama_spark.operators.ann import cosine_topk_bruteforce, ivf_topk, lsh_topk

    emb = _empty(spark, EMB)
    assert cosine_topk_bruteforce(emb, emb, k=5).count() == 0
    assert lsh_topk(emb, emb, k=5).count() == 0
    assert ivf_topk(emb, emb, k=5).count() == 0


def test_ivf_corpus_smaller_than_cells(spark):
    """k-means throws when k > points — ivf_topk must clamp, not crash."""
    from nama_spark.operators.ann import ivf_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        ["vec_id", "embedding"],
    )
    out = ivf_topk(emb, emb, k=2, n_cells=16, nprobe=16).collect()
    assert len(out) > 0


def test_empty_universe_through_embedding_lsh(spark):
    from pyspark.sql.types import ArrayType, DoubleType

    from nama_spark.operators.embed import lsh_candidates

    emb = _empty(
        spark,
        StructType(
            [
                StructField("string", StringType()),
                StructField("vec", ArrayType(DoubleType())),
            ]
        ),
    )
    assert lsh_candidates(emb, 0.8).count() == 0


def test_empty_events_through_sessionize(spark):
    from nama_spark.streaming.stateful import sessionize_capped
    from nama_spark.streaming.windows import sessionize, sessionize_window

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    ev = _empty(spark, schema)
    assert sessionize(ev).count() == 0
    assert sessionize_window(ev).count() == 0
    assert sessionize_capped(ev).count() == 0


def test_single_event_session(spark):
    from datetime import datetime

    from nama_spark.streaming.stateful import sessionize_capped

    ev = spark.createDataFrame(
        [(1, datetime(2026, 1, 1, 12, 0, 0), 7, 1.0)],
        ["event_id", "ts", "user_id", "value"],
    )
    rows = sessionize_capped(ev, max_events=1).collect()
    assert len(rows) == 1
    assert rows[0]["n_events"] == 1 and rows[0]["session_seq"] == 1


def test_linkage_disjoint_token_spaces(spark):
    from nama_spark.operators.linkage import link_tables

    left = spark.createDataFrame([("alpha beta",), ("gamma delta",)], ["string"])
    right = spark.createDataFrame([("epsilon zeta",)], ["string"])
    assert link_tables(left, right, threshold=0.1).count() == 0


def test_all_strings_normalize_to_empty(spark):
    from nama_spark.functions.normalize import simplify

    md = MatchData.from_unmatched(
        spark.createDataFrame([("!!!",), ("???",), ("...",)], ["string"])
    )
    out = md.unite(simplify)
    # ''-keys never merge (the hottest key in any corpus by construction):
    # all three stay singletons
    assert out.df.select("group").distinct().count() == 3


def test_empty_edge_set_unite_is_identity(spark):
    md = MatchData.from_unmatched(
        spark.createDataFrame([("a",), ("b",)], ["string"])
    )
    edges = spark.createDataFrame(
        [], StructType([StructField("src", StringType()), StructField("dst", StringType())])
    )
    out = md.unite(edges)
    assert out.df.select("group").distinct().count() == 2


def test_sessionize_capped_random_with_ties(spark):
    """Seeded random events with many duplicate timestamps per user: the
    distributed fold must agree with a driver-side replay under the
    (ts, event_id) tie order."""
    import numpy as np
    from datetime import datetime, timedelta

    from nama_spark.streaming.stateful import sessionize_capped

    rng = np.random.default_rng(7)
    base = datetime(2026, 3, 1)
    rows = []
    eid = 0
    for u in range(40):
        t = 0
        for _ in range(int(rng.integers(1, 30))):
            # 30% exact ties, else gaps up to 2 h
            t += 0 if rng.random() < 0.3 else int(rng.integers(1, 7200))
            rows.append((eid, base + timedelta(seconds=t), u, 0.0))
            eid += 1
    ev = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "value"])
    got = {
        (r["user_id"], r["session_seq"]): r["n_events"]
        for r in sessionize_capped(ev, gap="30 minutes", max_events=4).collect()
    }
    want = {}
    per_user = {}
    for e, ts, u, _ in sorted(rows, key=lambda r: (r[2], r[1], r[0])):
        per_user.setdefault(u, []).append(ts)
    for u, ts_list in per_user.items():
        seq, n, last = 1, 0, None
        for ts in ts_list:
            if n > 0 and ((ts - last).total_seconds() > 1800 or n == 4):
                want[(u, seq)] = n
                seq, n = seq + 1, 0
            n, last = n + 1, ts
        want[(u, seq)] = n
    assert got == want


def test_sessionize_capped_sql_equals_fold(spark):
    """The relational capped-sessionize (windows-only, no Python) must agree
    with the fold-based form on the fixture AND on a tie-heavy random set."""
    import numpy as np
    from datetime import datetime, timedelta

    from nama_spark.streaming.stateful import (
        sessionize_capped,
        sessionize_capped_sql,
    )

    def as_set(df):
        return {
            (r["user_id"], r["session_seq"]): (
                r["session_start"], r["session_end"], r["n_events"]
            )
            for r in df.collect()
        }

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    for cap in (1, 2, 3, 100):
        a = as_set(sessionize_capped(ev, gap="30 minutes", max_events=cap))
        b = as_set(sessionize_capped_sql(ev, gap="30 minutes", max_events=cap))
        assert a == b, cap

    rng = np.random.default_rng(11)
    base = datetime(2026, 4, 1)
    rows, eid = [], 0
    for u in range(25):
        t = 0
        for _ in range(int(rng.integers(1, 40))):
            t += 0 if rng.random() < 0.4 else int(rng.integers(1, 5400))
            rows.append((eid, base + timedelta(seconds=t), u, 0.0))
            eid += 1
    ev2 = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "value"])
    a = as_set(sessionize_capped(ev2, gap="30 minutes", max_events=4))
    b = as_set(sessionize_capped_sql(ev2, gap="30 minutes", max_events=4))
    assert a == b


def test_empty_documents_through_text_ops(spark):
    from nama_spark.functions.text import chunk_documents, doc_keywords, pack_chunks

    docs = _empty(spark, DOCS)
    chunks = chunk_documents(docs)
    assert chunks.count() == 0
    assert pack_chunks(chunks).count() == 0
    assert doc_keywords(docs).count() == 0


@pytest.mark.parametrize(
    "bad_id, bad_vec, message",
    [(7, None, "embedding: NULL vector at id 7"),
     (9, [0.5, 0.5, 0.5], "embedding: ragged vector at id 9")],
    ids=["null", "ragged"],
)
def test_dirty_vectors_raise_clear_error_through_ann(spark, bad_id, bad_vec, message):
    """A NULL or ragged corpus vector fails the numpy re-rank with a
    ValueError naming the column and the row, in both the bruteforce scan
    and the IVF per-cell top-k, and the tiled threshold scan of
    embed.lsh_candidates names the string."""
    from nama_spark.operators.ann import (
        cosine_topk_bruteforce,
        ivf_assign,
        ivf_fit_centroids,
        ivf_topk_delta,
    )

    rows = [(i, [float(i % 5), 1.0, float(i % 3), 0.5]) for i in range(20)]
    clean = spark.createDataFrame(rows, EMB)
    dirty = spark.createDataFrame(
        [(i, bad_vec if i == bad_id else v) for i, v in rows], EMB
    )
    queries = clean.where(F.col("vec_id") < 3)
    with pytest.raises(Exception, match=message):
        cosine_topk_bruteforce(dirty, queries, k=3).collect()
    centers = ivf_fit_centroids(clean, n_cells=2)
    assigned = ivf_assign(dirty, centers)
    with pytest.raises(Exception, match=message):
        ivf_topk_delta(queries, centers, assigned, k=3, nprobe=2).collect()
    from nama_spark.operators.embed import lsh_candidates

    strings = dirty.select(
        F.concat(F.lit("s"), F.col("vec_id").cast("string")).alias("string"),
        F.col("embedding").alias("vec"),
    )
    kind = message.split(": ")[1].split(" vector")[0]
    with pytest.raises(ValueError, match=f"vec: {kind} vector at string 's{bad_id}'"):
        lsh_candidates(strings, 0.5)


def test_query_corpus_dim_mismatch_raises(spark):
    """Queries of another dimension than the corpus fail with a ValueError
    instead of re-ranking on a truncated dot product."""
    from nama_spark.operators.ann import cosine_topk_bruteforce

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 0.25]) for i in range(10)], EMB
    )
    queries = spark.createDataFrame([(100, [1.0, 0.0, 1.0])], EMB)
    with pytest.raises(Exception, match="embedding: query dim 3 != corpus dim 4"):
        cosine_topk_bruteforce(corpus, queries, k=3).collect()


def _docs_with_nulls(spark):
    # two NULL texts, a doc that READS "None", and an exact-dup pair
    return spark.createDataFrame(
        [
            (1, None),
            (2, None),
            (3, "None"),
            (4, "alpha beta gamma delta"),
            (5, "alpha beta gamma delta"),
        ],
        DOCS,
    )


def test_null_texts_have_no_items_and_never_pair(spark):
    """A NULL text has no shingles, fingerprints or band rows, so NULL-text
    docs can neither block nor band-match each other (an all-NULL MinHash
    signature used to band as the empty key and pair every NULL doc)."""
    from nama_spark.operators.dedup import (
        duplicated_span_profile,
        minhash_band_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_delta,
        winnow_fingerprints,
        word_shingles,
    )

    docs = _docs_with_nulls(spark)

    def ids(df):
        return {r[0] for r in df.select("doc_id").distinct().collect()}

    assert ids(word_shingles(docs)) == {3, 4, 5}
    assert ids(winnow_fingerprints(docs, k=3, window=2)) == {3, 4, 5}
    assert ids(minhash_band_index(docs)) == {3, 4, 5}
    profiled = duplicated_span_profile(docs, k=2).collect()
    assert {r["doc_id"] for r in profiled} == {3, 4, 5}
    pairs = minhash_lsh_pairs(docs, verify_threshold=None).collect()
    assert {(r.id0, r.id1) for r in pairs} == {(4, 5)}
    old = docs.where(F.col("doc_id").isin(1, 4))
    new = docs.where(F.col("doc_id").isin(2, 3, 5))
    delta = minhash_lsh_pairs_delta(new, minhash_band_index(old), verify_threshold=None)
    assert {(r.id0, r.id1) for r in delta.collect()} == {(4, 5)}


def test_span_dedup_keeps_null_text_docs(spark):
    """drop_duplicated_span_docs removes only the documents whose
    duplicated-span fraction exceeds the cap: a NULL text has no window and
    no duplicated span, so it survives, while the exact-dup pair goes.
    remove_duplicated_spans gives a NULL text no row."""
    from nama_spark.operators.dedup import (
        drop_duplicated_span_docs,
        remove_duplicated_spans,
    )

    docs = _docs_with_nulls(spark)
    kept = drop_duplicated_span_docs(docs, k=2, max_dup_frac=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 3]
    assert kept.columns == docs.columns
    cleaned = remove_duplicated_spans(docs, k=2).collect()
    assert {r["doc_id"] for r in cleaned} == {3, 4, 5}


def test_null_text_gets_null_simhash(spark):
    """A NULL text hashes to NULL, not to the hash of the word "none":
    NULL-text docs pair with nothing in the batch and delta SimHash joins."""
    from nama_spark.operators.dedup import (
        simhash_64,
        simhash_band_index,
        simhash_near_pairs,
        simhash_near_pairs_delta,
    )

    docs = _docs_with_nulls(spark)
    hashes = {r.doc_id: r.simhash for r in simhash_64(docs).collect()}
    assert hashes[1] is None and hashes[2] is None
    assert hashes[3] is not None and hashes[4] == hashes[5]
    got = {(r.id0, r.id1) for r in simhash_near_pairs(docs).collect()}
    assert got == {(4, 5)}
    old = docs.where(F.col("doc_id").isin(1, 4))
    new = docs.where(F.col("doc_id").isin(2, 3, 5))
    got = simhash_near_pairs_delta(new, simhash_band_index(old)).collect()
    assert {(r.id0, r.id1) for r in got} == {(4, 5)}


def _simhash_word_loop(text):
    """simhash_64's per-word loop as it was before its shift-and-mask: the
    reference its vectorised form must match bit for bit."""
    import hashlib

    import numpy as np

    if text is None:
        return None
    acc = np.zeros(64, dtype=np.int64)
    for w in str(text).lower().split():
        h = int.from_bytes(hashlib.md5(w.encode("utf-8")).digest()[:8], "big")
        bits = np.array([(h >> i) & 1 for i in range(64)], dtype=np.int64)
        acc += np.where(bits == 1, 1, -1)
    v = 0
    for i in range(64):
        if acc[i] > 0:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


def test_simhash_matches_the_word_loop(spark):
    """simhash_64's vectorised accumulators give the per-word loop's values
    on NULL, empty, whitespace-only, unicode and repeated-word texts."""
    from nama_spark.operators.dedup import simhash_64

    texts = [
        None, "", "   ", " \t\n ", "word", "Straße ÉCOLE naïve 東京 Ωμέγα 🙂",
        "the the the the cat", "cat cat dog dog", "a b c d e f g h i j k l",
        "Repeat repeat REPEAT repeat", "x " * 200,
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), DOCS)
    got = {r.doc_id: r.simhash for r in simhash_64(docs).collect()}
    assert got == {i: _simhash_word_loop(t) for i, t in enumerate(texts)}


@pytest.mark.parametrize("op", ["minhash_lsh_pairs", "minhash_band_index"])
def test_minhash_bands_must_divide_num_hashes(spark, op):
    """num_hashes=10 with bands=4 would band only 8 hashes: both public
    MinHash banding callers refuse it with a ValueError naming both values
    (a plain check, so it holds under python -O too)."""
    from nama_spark.operators import dedup

    docs = _docs_with_nulls(spark)
    with pytest.raises(ValueError, match=r"num_hashes \(10\).*bands \(4\)"):
        getattr(dedup, op)(docs, num_hashes=10, bands=4)
    # no hashes would give every doc the band key '': every pair a candidate
    with pytest.raises(ValueError, match=r"num_hashes \(0\)"):
        getattr(dedup, op)(docs, num_hashes=0, bands=4)
