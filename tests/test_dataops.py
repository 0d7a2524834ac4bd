"""Training-data-pipeline operators: dedup family, ANN, text analysis,
multimodal plumbing, event-time ops — on the driver-provided testdata."""

import re

import pytest
from pyspark.sql import functions as F

from nama_spark.functions import text as text_fns
from nama_spark.functions.normalize import ENGLISH_STOPWORDS
from nama_spark.functions.text import (
    fingerprint,
    lang_id,
    mean_word_length,
    quality_score,
    stopword_ratio,
    token_count,
    word_token_count,
)
from nama_spark.operators.ann import cosine_topk_bruteforce, ivf_topk, lsh_topk
from nama_spark.operators.dedup import (
    dedup_exact,
    exact_dup_groups,
    minhash_lsh_pairs,
    near_dup_clusters,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    word_shingles,
)
from nama_spark.operators.multimodal import (
    extract_image_features,
    media_from_documents,
    sample_video_frames,
)
from nama_spark.streaming.windows import event_time_aggregate, sessionize

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF}/documents.parquet")
    # append exact + near duplicates so dedup has something to find
    dup = base.limit(5).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near = base.limit(5).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        "lang", "source", "n_chars",
    )
    return base.union(dup).union(near).cache()


def test_dedup_exact(spark, docs):
    n = docs.count()
    deduped = dedup_exact(docs)
    assert deduped.count() == n - 5
    groups = exact_dup_groups(docs)
    dup_rows = groups.where(F.col("doc_id") != F.col("canonical_id"))
    assert dup_rows.count() == 5
    assert {r["canonical_id"] for r in dup_rows.collect()} == set(range(5))


def test_ngram_jaccard_near_dup(spark, docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    got = {(r["id0"], r["id1"]) for r in pairs.collect()}
    # exact dups have jaccard 1; near dups (text + ' tail') high jaccard
    for i in range(5):
        assert (i, i + 100000) in got, f"exact dup pair {i} missing"
        assert (i, i + 200000) in got, f"near dup pair {i} missing"


def test_minhash_lsh_pairs_and_clusters(spark, docs):
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=4, verify_threshold=0.5)
    got = {(r["id0"], r["id1"]) for r in pairs.collect()}
    for i in range(5):
        assert (i, i + 100000) in got  # identical text → identical signature
    clusters = near_dup_clusters(pairs, docs.select("doc_id"))
    assert clusters.count() == docs.count()
    cl = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    for i in range(5):
        assert cl[i] == cl[i + 100000]


def test_simhash_near_pairs(spark, docs):
    pairs = simhash_near_pairs(docs, max_hamming=3)
    got = {(r["id0"], r["id1"]): r["hamming"] for r in pairs.collect()}
    for i in range(5):
        assert got.get((i, i + 100000)) == 0  # identical text → identical simhash


def test_ann_bruteforce_vs_lsh_and_ivf(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.limit(8)
    bf = cosine_topk_bruteforce(emb, queries, k=5)
    assert bf.count() == 8 * 5
    bf_map = {}
    for r in bf.collect():
        bf_map.setdefault(r["query_id"], []).append(r["neighbor_id"])
    # lsh_topk is the exact top-k within max_distance (50 prunes nothing)
    lsh = lsh_topk(emb, queries, k=5, num_hash_tables=12, bucket_length=3.0,
                   max_distance=50.0)
    lsh_map = {}
    for r in lsh.collect():
        lsh_map.setdefault(r["query_id"], []).append(r["neighbor_id"])
    overlap = sum(
        len(set(bf_map[q]) & set(lsh_map.get(q, []))) for q in bf_map
    ) / (len(bf_map) * 5)
    # recall must be exactly 1.0: the driver oracle for ann_lsh_topk
    # compares its result against the exact top-k
    assert overlap == 1.0, overlap
    ivf = ivf_topk(emb, queries, k=5, n_cells=8, nprobe=4)
    ivf_map = {}
    for r in ivf.collect():
        ivf_map.setdefault(r["query_id"], []).append(r["neighbor_id"])
    overlap_ivf = sum(
        len(set(bf_map[q]) & set(ivf_map.get(q, []))) for q in bf_map
    ) / (len(bf_map) * 5)
    assert overlap_ivf >= 0.5, overlap_ivf


def test_ivf_persisted_index_delta(spark, tmp_path):
    """Index-once/delta-daily IVF: centroids + assignments persist to
    parquet; a later query batch runs against the stored index. Anchors:
    (a) nprobe = n_cells probes every cell ⇒ EXACT top-k (== bruteforce);
    (b) appending a delta's assignments (ivf_assign on the same centroids)
    then querying equals querying an index built over the union corpus —
    incremental arrival never needs the old corpus vectors."""
    from nama_spark.operators.ann import (
        ivf_assign,
        ivf_fit_centroids,
        ivf_topk_delta,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    old = emb.where(F.col("vec_id") % 2 == 0)
    delta = emb.where(F.col("vec_id") % 2 == 1)
    queries = emb.limit(4)

    centers = ivf_fit_centroids(old, n_cells=8)
    idx_dir = str(tmp_path / "ivf")
    centers.write.parquet(idx_dir + "/centroids")
    ivf_assign(old, centers).write.parquet(idx_dir + "/assigned")

    # delta arrival: assign ONLY the delta against the stored centroids
    centers2 = spark.read.parquet(idx_dir + "/centroids")
    assigned = spark.read.parquet(idx_dir + "/assigned").unionByName(
        ivf_assign(delta, centers2)
    )

    # (a) all-cells probe == exact bruteforce top-k over the union corpus
    got = ivf_topk_delta(queries, centers2, assigned, k=5, nprobe=8)
    want = cosine_topk_bruteforce(emb, queries, k=5)
    as_map = lambda df: {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in df.collect()
    }
    assert as_map(got) == as_map(want)

    # (b) partial probe still returns k rows per query with sane recall
    part = ivf_topk_delta(queries, centers2, assigned, k=5, nprobe=4)
    pm = {}
    for r in part.collect():
        pm.setdefault(r["query_id"], []).append(r["neighbor_id"])
    wm = {}
    for r in want.collect():
        wm.setdefault(r["query_id"], []).append(r["neighbor_id"])
    recall = sum(len(set(pm.get(q, [])) & set(wm[q])) for q in wm) / (len(wm) * 5)
    assert recall >= 0.5, recall


def test_ivf_index_over_quantized_vectors(spark):
    """Composability: the persisted IVF index runs over int8-quantized
    vectors unchanged (4× smaller index state); with all cells probed the
    quantized exact top-k matches the float top-k neighbor sets at ≥0.9
    overlap on this corpus (quantization noise can only flip near-ties)."""
    from nama_spark.operators.ann import (
        cosine_topk_bruteforce,
        ivf_assign,
        ivf_fit_centroids,
        ivf_topk_delta,
    )
    from nama_spark.operators.embed import quantize_vec_expr

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qemb = emb.select(
        "vec_id",
        quantize_vec_expr("embedding").cast("array<double>").alias("embedding"),
    )
    centers = ivf_fit_centroids(qemb, n_cells=8)
    assigned = ivf_assign(qemb, centers)
    queries = qemb.where(F.col("vec_id") < 4)
    got = ivf_topk_delta(queries, centers, assigned, k=10, nprobe=8)
    want = cosine_topk_bruteforce(emb, emb.where(F.col("vec_id") < 4), k=10)
    gm, wm = {}, {}
    for r in got.collect():
        gm.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in want.collect():
        wm.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    overlap = sum(len(gm[q] & wm[q]) for q in wm) / (len(wm) * 10)
    assert overlap >= 0.9, overlap


def test_dedup_paragraphs(spark):
    """Corpus-wide boilerplate paragraphs (df ≥ 2 docs) drop; unique ones
    stay in order; within-doc repeats of a unique paragraph survive; an
    all-boilerplate doc survives with empty text_clean."""
    from nama_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nunique alpha\nunique beta\ncookie banner"),
            (2, "cookie banner\nunique gamma"),
            (3, "only here\nonly here\nsolo text"),
            (4, "Cookie Banner"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in dedup_paragraphs(docs, min_df=2).collect()}
    # 'cookie banner' (case/trim-normalized) is in docs 1, 2, 4 → dropped
    assert got[1]["text_clean"] == "unique alpha\nunique beta"
    assert got[1]["n_kept"] == 2 and got[1]["n_dropped"] == 2
    assert got[2]["text_clean"] == "unique gamma"
    # within-doc repeat of a unique paragraph is NOT corpus boilerplate
    assert got[3]["text_clean"] == "only here\nonly here\nsolo text"
    assert got[3]["n_dropped"] == 0
    # all-boilerplate doc survives, empty
    assert got[4]["text_clean"] == "" and got[4]["n_kept"] == 0


def test_text_functions(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog sat on the mat with a hat for it", "en-ish"),
            ("der hund und die katze ist nicht ein tier mit für", "de-ish"),
            ("", "empty"),
            ("xyzzy qwerty", "no-markers"),
        ],
        ["text", "tag"],
    )
    rows = {
        r["tag"]: r
        for r in df.select(
            "tag",
            lang_id("text").alias("lang"),
            token_count("text").alias("n_tok"),
            word_token_count("text").alias("n_sub"),
            stopword_ratio("text").alias("sw"),
            quality_score("text").alias("q"),
            fingerprint("text").alias("fp"),
        ).collect()
    }
    assert rows["en-ish"]["lang"] == "en"
    assert rows["de-ish"]["lang"] == "de"
    assert rows["no-markers"]["lang"] == "und"
    assert rows["en-ish"]["n_tok"] == 14
    assert rows["empty"]["n_tok"] == 0 and rows["empty"]["q"] == 0.0
    assert rows["en-ish"]["sw"] > 0.5
    assert rows["en-ish"]["q"] >= 0.7
    # fingerprint invariant under case/whitespace
    fp2 = df.select(fingerprint(F.upper("text")).alias("fp")).collect()
    assert rows["en-ish"]["fp"] == fp2[0]["fp"]


# pure-Python references for the word-list profile columns: whitespace
# words (Java \s) of the lowercased text, empty words dropped
def _ref_words(s):
    return [w for w in re.split(r"[ \t\n\x0b\f\r]+", s.lower()) if w]


def _ref_stopword_ratio(s):
    ws = _ref_words(s) if s is not None else []
    return sum(w in ENGLISH_STOPWORDS for w in ws) / len(ws) if ws else 0.0


def _ref_mean_word_length(s):
    ws = _ref_words(s) if s is not None else []
    return sum(map(len, ws)) / len(ws) if ws else 0.0


def _ref_quality(s):
    ws = _ref_words(s) if s is not None else []
    if not ws:
        return 0.0
    len_ok = 1.0 if 10 <= len(ws) <= 10000 else 0.5
    sw = _ref_stopword_ratio(s)
    sw_ok = 1.0 if 0.05 <= sw <= 0.7 else 0.0
    p = (len(s) - len(re.sub(r"[^\w\s]", "", s, flags=re.ASCII))) / len(s)
    p_ok = 1.0 if p <= 0.2 else 0.5 if p <= 0.4 else 0.0
    return round(0.4 * len_ok + 0.3 * sw_ok + 0.3 * p_ok, 6)


def _ref_lang(s):
    ws = _ref_words(s) if s is not None else []
    counts = [sum(w in m for w in ws) for m in text_fns._LANG_MARKERS.values()]
    if max(counts) == 0:
        return "und"
    return list(text_fns._LANG_MARKERS)[counts.index(max(counts))]


def test_text_profile_matches_python_reference(spark):
    texts = [
        None, "", "   ", "\t\n",
        "THE Cat AND The Dog",            # upper-case markers
        "la que",                         # fr/es tie -> fr (first listed)
        "the der",                        # en/de tie -> en
        "der die und the",                # de wins outright
        "y el los la",                    # es beats fr on the shared 'la'
        "el le",                          # fr/es tie on separate markers
        "  the  quick\tbrown fox, jumps over the lazy dog! and it is. ",
        "!!! ??? ... ,,, the",            # punctuation-heavy
        "Der Hund und die Katze ist nicht ein Tier mit dem Hut auf dem Kopf.",
        "word " * 12,
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, text string")
    rows = df.select(
        "i",
        lang_id("text").alias("lang"),
        quality_score("text").alias("q"),
        stopword_ratio("text").alias("sw"),
        mean_word_length("text").alias("mwl"),
    ).orderBy("i").collect()
    for r in rows:
        t = texts[r["i"]]
        assert (r["lang"], r["q"], r["sw"], r["mwl"]) == (
            _ref_lang(t), _ref_quality(t), _ref_stopword_ratio(t),
            _ref_mean_word_length(t),
        ), repr(t)


def test_text_profile_expressions_tokenize_once(spark, monkeypatch):
    """Spark does not eliminate common subexpressions that contain lambda
    variables, so every split( in a profile expression is one more full
    tokenization per document; lang_id's expression grows linearly with
    the number of languages."""
    for fn in (lang_id, quality_score, stopword_ratio, mean_word_length):
        assert str(fn("text")).count("split(") == 1, fn.__name__

    def lang_id_len(n_langs):
        markers = {f"l{i:02d}": [f"w{i:02d}{j}" for j in range(10)]
                   for i in range(n_langs)}
        monkeypatch.setattr(text_fns, "_LANG_MARKERS", markers)
        return len(str(lang_id("text")))

    n4, n8, n16 = lang_id_len(4), lang_id_len(8), lang_id_len(16)
    per_lang_4_to_8 = (n8 - n4) / 4
    per_lang_8_to_16 = (n16 - n8) / 8
    assert per_lang_8_to_16 <= 1.05 * per_lang_4_to_8, (n4, n8, n16)


def test_multimodal_plumbing(spark, docs):
    media = media_from_documents(docs.limit(20))
    feats = extract_image_features(media, fake=True, dim=8)
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["feature"]) == 8
        assert 16 <= r["width"] <= 256
    # determinism: same bytes → same features
    again = {r["media_id"]: r["feature"] for r in extract_image_features(media, fake=True, dim=8).collect()}
    for r in rows:
        assert again[r["media_id"]] == r["feature"]
    # real decoder is an explicit stub
    with pytest.raises(Exception):
        extract_image_features(media, fake=False).collect()
    vids = media_from_documents(docs.limit(3), kind="video")
    frames = sample_video_frames(vids, every_n=50, fake=True)
    assert frames.count() >= 3


def test_audio_plumbing(spark, docs):
    """extract_audio_features: same modality-filtered mapInPandas pattern as
    images — sha256-derived scalars, seeded unit-norm feature vector,
    deterministic across runs, real decoder an explicit stub."""
    import hashlib

    import numpy as np

    from nama_spark.operators.multimodal import extract_audio_features

    media = media_from_documents(docs.limit(20), kind="audio")
    feats = extract_audio_features(media, fake=True, dim=8)
    rows = feats.collect()
    assert len(rows) == 20
    texts = {r["doc_id"]: r["text"] for r in docs.limit(20).collect()}
    for r in rows:
        assert len(r["feature"]) == 8
        assert abs(float(np.linalg.norm(r["feature"])) - 1.0) < 1e-5
        assert r["sample_rate"] in (8000, 16000, 22050, 44100)
        # scalar fields match the documented sha256 byte math
        h = hashlib.sha256(texts[r["media_id"]].encode()).digest()
        assert r["sample_rate"] == (8000, 16000, 22050, 44100)[h[7] % 4]
        assert r["n_samples"] == 1000 + int.from_bytes(h[8:10], "big") % 100000
        assert r["duration_sec"] == pytest.approx(r["n_samples"] / r["sample_rate"])
        assert r["rms"] == pytest.approx(h[10] / 255.0)
    again = {r["media_id"]: r["feature"]
             for r in extract_audio_features(media, fake=True, dim=8).collect()}
    for r in rows:
        assert again[r["media_id"]] == r["feature"]
    with pytest.raises(Exception):
        extract_audio_features(media, fake=False).collect()


def test_event_time_ops(spark):
    events = spark.read.parquet(f"{SF}/events.parquet")
    agg = event_time_aggregate(events, "1 hour")
    assert agg.count() > 0
    total = agg.agg(F.sum("n_events")).collect()[0][0]
    assert total == events.count()
    sess = sessionize(events, gap="30 minutes")
    assert sess.count() == events.count()
    # session ordering sanity: one user's sessions are monotone in time
    one = sess.where(F.col("user_id") == sess.select("user_id").first()[0])
    rows = one.orderBy("ts").select("session_seq").collect()
    seqs = [r["session_seq"] for r in rows]
    assert seqs == sorted(seqs)


def test_streaming_event_time_aggregate_matches_batch(spark, tmp_path):
    """Real Structured Streaming execution: readStream(parquet) → watermark →
    the same event_time_aggregate expression → memory sink (append mode).
    Append emits a window exactly once, when the watermark passes its end, so
    the streamed output must equal the batch output restricted to windows
    that closed before (max_ts − watermark)."""
    import shutil

    from nama_spark.streaming.windows import streaming_event_time_aggregate

    src = tmp_path / "events_stream"
    src.mkdir()
    shutil.copy(f"{SF}/events.parquet", src / "part-0.parquet")

    batch = spark.read.parquet(f"{SF}/events.parquet")
    schema = batch.schema
    stream = streaming_event_time_aggregate(
        spark, str(src), schema, window_duration="1 hour", watermark="2 hours"
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("ev_agg_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_sum"])
        for r in spark.table("ev_agg_test").collect()
    }

    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    from datetime import timedelta

    cutoff = max_ts - timedelta(hours=2)
    want = {}
    for r in event_time_aggregate(batch, "1 hour").collect():
        window_end = r["window_start"] + timedelta(hours=1)
        if window_end <= cutoff:
            want[(r["window_start"], r["event_type"])] = (
                r["n_events"], r["value_sum"],
            )
    assert want, "fixture too short for the watermark"
    assert got == want


def test_sessionize_window_matches_lag_sessionize(spark):
    """sessionize_window (F.session_window agg) partitions events into
    exactly the sessions the lag/cumsum sessionize builds: same (user,
    session_start=first event, n_events) triples, end = last event + gap."""
    from datetime import timedelta

    from nama_spark.streaming.windows import sessionize, sessionize_window

    events = spark.read.parquet(f"{SF}/events.parquet")
    lag_sessions = {
        (r["user_id"], r["session_start"], r["n_events"], r["session_end"])
        for r in sessionize(events, gap="30 minutes")
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("session_end"),
        )
        .collect()
    }
    win_sessions = {
        (
            r["user_id"],
            r["session_start"],
            r["n_events"],
            r["session_end"] - timedelta(minutes=30),
        )
        for r in sessionize_window(events, gap="30 minutes").collect()
    }
    assert lag_sessions == win_sessions


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Real Structured Streaming session windows: readStream → watermark →
    session_window agg → memory sink (append). A session emits once its
    window can no longer grow (watermark past its end), so the streamed
    output equals the batch sessionize_window restricted to sessions closed
    before (max_ts − watermark)."""
    import shutil
    from datetime import timedelta

    from nama_spark.streaming.windows import sessionize_window, streaming_sessionize

    src = tmp_path / "events_sess_stream"
    src.mkdir()
    shutil.copy(f"{SF}/events.parquet", src / "part-0.parquet")

    batch = spark.read.parquet(f"{SF}/events.parquet")
    stream = streaming_sessionize(
        spark, str(src), batch.schema, gap="30 minutes", watermark="2 hours"
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("ev_sess_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["value_sum"])
        for r in spark.table("ev_sess_test").collect()
    }
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - timedelta(hours=2)
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["value_sum"])
        for r in sessionize_window(batch, gap="30 minutes").collect()
        if r["session_end"].replace(tzinfo=None) <= cutoff
    }
    assert want, "fixture too short for the watermark"
    assert got == want


def test_winnow_fingerprints_guarantee_and_oracle(spark):
    """Winnowing (MOSS, SIGMOD'03): (a) exact fingerprint sets vs a from-spec
    python oracle; (b) the guarantee — two docs sharing a substring of length
    >= k + window - 1 share at least one fingerprint."""
    import hashlib

    from nama_spark.operators.dedup import winnow_fingerprints, winnow_near_pairs

    k, w = 8, 4
    shared = "the quick brown fox jumps over it"  # len 33 >= k+w-1
    rows = [
        (0, "AAA start pad " + shared + " tail one"),
        (1, "completely different prefix " + shared + " other end"),
        (2, "no overlap with anything else here at all"),
        (3, "tiny"),  # shorter than k → whole-text hash
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for r in winnow_fingerprints(df, k=k, window=w).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])

    def py_winnow(text):
        s = text.lower().strip()
        if len(s) < k:
            return {hashlib.md5(s.encode()).hexdigest()}
        grams = [
            hashlib.md5(s[i : i + k].encode()).hexdigest()
            for i in range(len(s) - k + 1)
        ]
        if len(grams) < w:
            return set(grams)
        return {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}

    for doc_id, text in rows:
        assert got[doc_id] == py_winnow(text), doc_id

    # guarantee: docs 0 and 1 share the 33-char substring → shared fp
    assert got[0] & got[1]
    assert not (got[2] & got[0])

    pairs = {
        (r["id0"], r["id1"]): r["jaccard"]
        for r in winnow_near_pairs(df, k=k, window=w, threshold=0.05).collect()
    }
    assert (0, 1) in pairs


def test_streaming_incremental_er(spark, tmp_path):
    """Streaming entity resolution: micro-batches of names unite into a
    versioned parquet state via foreachBatch + predict_incremental. The
    state after batch 2 equals applying predict_incremental to the state
    after batch 1 (order controlled by feeding file 2 only after batch 1
    is processed)."""
    from nama_spark.operators.matchdata import MatchData
    from nama_spark.operators.token_similarity import TokenSimilarity
    from nama_spark.streaming.er import load_state, streaming_unite_names

    src = tmp_path / "names_stream"
    state = str(tmp_path / "er_state")
    ckpt = str(tmp_path / "er_ckpt")
    src.mkdir()

    batch1 = ["acme rocket labs", "acme rocket labz", "globex power corp",
              "umbrella holdings"]
    batch2 = ["acme rocket labsy", "globex power corps", "brand new name"]
    df1 = spark.createDataFrame([(s,) for s in batch1], ["string"])
    df2 = spark.createDataFrame([(s,) for s in batch2], ["string"])

    def drop_file(df, name):
        # the file source wants FILES at the top level, not parquet dirs
        import glob
        import shutil

        tmp = str(tmp_path / f"__w_{name}")
        df.coalesce(1).write.parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], str(src / name))

    drop_file(df1, "b1.parquet")

    q = streaming_unite_names(
        spark, str(src), df1.schema, state, threshold=0.4,
        checkpoint_dir=ckpt,
    )
    try:
        q.processAllAvailable()
        got1 = load_state(spark, state)
        assert got1 is not None

        # expected after batch 1: a plain full predict
        md1 = MatchData.from_unmatched(df1)
        want1 = TokenSimilarity(tokenizer="words").fit(md1.df).predict(
            md1, threshold=0.4
        )

        def partition(md):
            groups = {}
            for r in md.df.collect():
                groups.setdefault(r["group"], set()).add(r["string"])
            return {frozenset(v) for v in groups.values()}

        assert partition(got1) == partition(want1)

        drop_file(df2, "b2.parquet")
        q.processAllAvailable()
        got2 = load_state(spark, state)

        want2 = TokenSimilarity(tokenizer="words").predict_incremental(
            want1, df2, threshold=0.4
        )
        assert partition(got2) == partition(want2)
        # the new variants united with their stems
        p2 = partition(got2)
        assert any({"acme rocket labs", "acme rocket labsy"} <= g for g in p2)
        assert any(g == {"brand new name"} for g in p2)
    finally:
        q.stop()


def _capped_sessions_oracle(ts_sorted_us, gap_us, cap):
    """Independent re-statement of capped-session semantics for the test."""
    sessions = []
    cur = None  # [start, last, n]
    for t in ts_sorted_us:
        if cur is not None and (t - cur[1] > gap_us or cur[2] == cap):
            sessions.append(tuple(cur))
            cur = None
        if cur is None:
            cur = [t, t, 1]
        else:
            cur[1], cur[2] = t, cur[2] + 1
    if cur is not None:
        sessions.append(tuple(cur))
    return sessions


def test_sessionize_capped_batch_semantics(spark):
    """Batch capped sessions equal a from-scratch per-user fold (gap OR
    running-count split), including session_seq numbering."""
    from nama_spark.streaming.stateful import sessionize_capped

    events = spark.read.parquet(f"{SF}/events.parquet")
    got = {}
    for r in sessionize_capped(events, gap="30 minutes", max_events=3).collect():
        got[(r["user_id"], r["session_seq"])] = (
            r["session_start"], r["session_end"], r["n_events"]
        )
    rows = events.select("user_id", "ts", "event_id").orderBy(
        "user_id", "ts", "event_id"
    ).collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r["ts"])
    want = {}
    for u, ts_list in per_user.items():
        us = [int(t.timestamp() * 1_000_000) for t in ts_list]
        for seq, (s, last, n) in enumerate(
            _capped_sessions_oracle(us, 1800 * 1_000_000, 3), start=1
        ):
            want[(u, seq)] = (s, last, n)
    assert set(got) == set(want)
    for k, (s, e, n) in got.items():
        ws, we, wn = want[k]
        assert int(s.timestamp() * 1_000_000) == ws, k
        assert int(e.timestamp() * 1_000_000) == we, k
        assert n == wn, k


def test_streaming_sessionize_capped_matches_batch(spark, tmp_path):
    """applyInPandasWithState capped sessions: every real session is emitted
    — by arrival-close (gap/cap overflow from a newer event, incl. the
    far-future sentinel written as a SECOND micro-batch) or by event-time
    timeout. Emitted set == the batch fold over the real events."""
    import shutil
    from datetime import datetime

    from nama_spark.streaming.stateful import (
        sessionize_capped,
        streaming_sessionize_capped,
    )

    src = tmp_path / "events_capped_stream"
    src.mkdir()
    shutil.copy(f"{SF}/events.parquet", src / "part-0.parquet")
    batch = spark.read.parquet(f"{SF}/events.parquet")

    stream = streaming_sessionize_capped(
        spark, str(src), batch.schema, gap="30 minutes", max_events=3,
        watermark="1 minute",
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("ev_capped_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one far-future sentinel per user closes each open session
        # on arrival (same key gets data → the arrival-close path)
        users = [r["user_id"] for r in batch.select("user_id").distinct().collect()]
        sentinel = spark.createDataFrame(
            [
                (10_000_000 + i, datetime(2031, 1, 1), u, "sentinel", 0.0, "")
                for i, u in enumerate(users)
            ],
            batch.schema,
        )
        sentinel.write.mode("append").parquet(str(src))
        q.processAllAvailable()
        # batch 3: a sentinel for a brand-new user pushes the watermark past
        # 2031 with NO data for existing keys → their 2031 sessions flush via
        # the hasTimedOut path
        spark.createDataFrame(
            [(10_999_999, datetime(2032, 1, 1), 999_999, "sentinel", 0.0, "")],
            batch.schema,
        ).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()

    emitted = spark.table("ev_capped_test").collect()
    got_real = {
        (r["user_id"], r["session_seq"]): (r["session_start"], r["n_events"])
        for r in emitted
        if r["session_start"] < datetime(2030, 1, 1)
    }
    want = {
        (r["user_id"], r["session_seq"]): (r["session_start"], r["n_events"])
        for r in sessionize_capped(batch, gap="30 minutes", max_events=3).collect()
    }
    assert got_real == want
    # the timeout path really fired: every user's 2031 sentinel session was
    # flushed by the 2032 watermark despite receiving no further events
    flushed = {r["user_id"] for r in emitted if r["session_start"].year == 2031}
    assert flushed == set(users)


def test_minhash_delta_equals_full_restricted(spark):
    """Incremental MinHash (delta vs stored band index) must equal the full
    pairwise run restricted to pairs touching a delta doc — band-sharing is
    symmetric, so indexing the corpus once loses nothing."""
    from nama_spark.operators.dedup import (
        minhash_band_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_delta,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)

    idx = minhash_band_index(old)
    got = {
        (r["id0"], r["id1"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs_delta(
            new, idx, corpus_df=old, verify_threshold=0.5
        ).collect()
    }
    want = {
        (r["id0"], r["id1"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs(docs, verify_threshold=0.5).collect()
        if r["id0"] % 2 == 1 or r["id1"] % 2 == 1
    }
    assert got == want and len(got) > 0

    # candidates-only mode (no corpus text needed at all)
    cand = minhash_lsh_pairs_delta(new, idx, verify_threshold=None)
    assert cand.count() >= len(got)


def test_simhash_delta_equals_full_restricted(spark):
    """Incremental SimHash (delta vs stored band index) == the full run
    restricted to pairs touching a delta doc; no corpus text re-read."""
    from nama_spark.operators.dedup import (
        simhash_band_index,
        simhash_near_pairs,
        simhash_near_pairs_delta,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    idx = simhash_band_index(old)
    got = {
        (r["id0"], r["id1"], r["hamming"])
        for r in simhash_near_pairs_delta(new, idx, max_hamming=3).collect()
    }
    want = {
        (r["id0"], r["id1"], r["hamming"])
        for r in simhash_near_pairs(docs, max_hamming=3).collect()
        if r["id0"] % 2 == 1 or r["id1"] % 2 == 1
    }
    assert got == want and len(got) > 0


def test_doc_keywords_ranks_discriminative_terms(spark):
    """A term unique to one doc must outrank corpus-wide terms (idf=0)."""
    from nama_spark.functions.text import doc_keywords

    docs = spark.createDataFrame(
        [(1, "alpha common common"), (2, "beta common"), (3, "gamma common")],
        ["doc_id", "text"],
    )
    rows = doc_keywords(docs, k=1).collect()
    top = {r["doc_id"]: r["keyword"] for r in rows}
    assert top == {1: "alpha", 2: "beta", 3: "gamma"}
    assert all(r["rank"] == 1 for r in rows)


def test_streaming_dedup_corpus(spark, tmp_path):
    """Streaming corpus dedup: batch 1 dedups within itself; batch 2 drops
    docs duplicating batch-1 SURVIVORS and keeps fresh ones; the state
    loader's `before` bound makes replay read the predecessor version (a
    batch can never self-match)."""
    from nama_spark.streaming.dedup import load_band_index, streaming_dedup_corpus

    src = tmp_path / "docs_stream"
    src.mkdir()
    state = str(tmp_path / "band_state")
    dec = str(tmp_path / "decisions")

    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta epsilon"),   # dup of 1 → drop
         (3, "totally different words entirely here")],
        ["doc_id", "text"],
    )
    b1.coalesce(1).write.mode("append").parquet(str(src))
    q = streaming_dedup_corpus(
        spark, str(src), b1.schema, state, dec, max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [(4, "alpha beta gamma delta epsilon"),   # dup of survivor 1 → drop
             (5, "brand new unique document text")],
            ["doc_id", "text"],
        ).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()

    import glob

    decisions = spark.read.parquet(*sorted(glob.glob(dec + "/b*")))
    got = {r["doc_id"]: r["keep"] for r in decisions.collect()}
    assert got == {1: True, 2: False, 3: True, 4: False, 5: True}

    # survivors-only index: dropped docs contribute no bands
    idx = load_band_index(spark, state)
    assert set(r["doc_id"] for r in idx.select("doc_id").distinct().collect()) == {1, 3, 5}
    # replay guard: batch 1's view (before=1) is v0, not its own output
    idx_before = load_band_index(spark, state, before=1)
    assert set(
        r["doc_id"] for r in idx_before.select("doc_id").distinct().collect()
    ) == {1, 3}
    # delta-shaped state: each version holds ONLY its batch's survivors'
    # bands (the per-batch write is O(Δn·bands), not O(corpus))
    v1_docs = set(
        r["doc_id"]
        for r in spark.read.parquet(state + "/v" + "1".zfill(10))
        .select("doc_id").distinct().collect()
    )
    assert v1_docs == {5}


def test_streaming_dedup_keeps_null_text_docs(spark, tmp_path):
    """NULL-text docs have no bands, so the streaming dedup cannot match
    one against another: both are kept, and neither enters the index."""
    from nama_spark.streaming.dedup import load_band_index, streaming_dedup_corpus

    src = tmp_path / "docs_stream"
    src.mkdir()
    state = str(tmp_path / "band_state")
    dec = str(tmp_path / "decisions")
    b1 = spark.createDataFrame(
        [(1, None), (2, None), (3, "one real document here")],
        "doc_id long, text string",
    )
    b1.coalesce(1).write.mode("append").parquet(str(src))
    q = streaming_dedup_corpus(spark, str(src), b1.schema, state, dec)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    import glob

    decisions = spark.read.parquet(*sorted(glob.glob(dec + "/b*")))
    assert {r["doc_id"]: r["keep"] for r in decisions.collect()} == {
        1: True, 2: True, 3: True,
    }
    idx = load_band_index(spark, state)
    assert {r["doc_id"] for r in idx.select("doc_id").distinct().collect()} == {3}


def test_streaming_er_state_pruned(spark, tmp_path):
    """_prune_versions keeps {current, predecessor} snapshots and deletes
    everything older — ER state storage is O(2 snapshots), not
    O(n_batches)."""
    from nama_spark.streaming.er import _prune_versions, _versions, load_state

    state = str(tmp_path / "st")
    df = spark.createDataFrame([("a", "a", 1)], ["string", "group", "count"])
    for v in range(4):
        df.write.parquet(f"{state}/v{v:010d}")
    _prune_versions(spark, state, current=3)
    assert _versions(spark, state) == [2, 3]
    # the replay view (strictly below 3) still resolves to the predecessor
    assert load_state(spark, state, before=3).df.count() == 1


def test_split_documents_leakfree(spark):
    """Near-dup clusters never straddle the split; fraction lands near the
    target; deterministic in the seed."""
    from nama_spark.operators.dedup import (
        minhash_lsh_pairs,
        split_documents_leakfree,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, verify_threshold=None)
    out = split_documents_leakfree(docs, pairs, val_fraction=0.2, seed=1)
    rows = out.collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())  # no straddling
    frac = sum(1 for r in rows if r["split"] == "val") / len(rows)
    assert 0.05 < frac < 0.4
    again = {(r["doc_id"], r["split"]) for r in
             split_documents_leakfree(docs, pairs, 0.2, seed=1).collect()}
    assert again == {(r["doc_id"], r["split"]) for r in rows}


def test_chunk_documents_coverage_and_overlap(spark):
    """Every token appears in some chunk; consecutive chunks overlap by
    exactly `overlap`; short/empty docs yield one chunk."""
    from nama_spark.functions.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(300))
    docs = spark.createDataFrame(
        [(1, text), (2, "tiny doc"), (3, "")], ["doc_id", "text"]
    )
    rows = chunk_documents(docs, chunk_tokens=128, overlap=16).collect()
    d1 = sorted(
        (r["chunk_seq"], r["chunk_text"].split()) for r in rows
        if r["doc_id"] == 1
    )
    covered = set()
    for _, words in d1:
        covered.update(words)
    assert covered == {f"w{i}" for i in range(300)}
    for (s0, w0), (s1, w1) in zip(d1, d1[1:]):
        assert s1 == s0 + 1
        assert w0[-16:] == w1[:16]  # exact overlap
        assert len(w0) == 128
    assert [r["chunk_text"] for r in rows if r["doc_id"] == 2] == ["tiny doc"]
    assert [r["n_tokens"] for r in rows if r["doc_id"] == 3] == [1]


def test_pack_chunks_budget(spark):
    """Packs fill to the budget (first-fit by running sum): no pack except
    possibly the last starts beyond the budget line, order deterministic."""
    from nama_spark.functions.text import chunk_documents, pack_chunks

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(100))) for i in range(20)],
        ["doc_id", "text"],
    )
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=0)
    packed = pack_chunks(chunks, budget_tokens=100)
    rows = packed.orderBy("doc_id", "chunk_seq").collect()
    sizes = {}
    for r in rows:
        sizes[r["pack_id"]] = sizes.get(r["pack_id"], 0) + 1
    # 20 docs × 100 tokens = 2000 tokens at 100/pack → 20-21 packs,
    # consecutive ids from 0
    assert min(sizes) == 0 and max(sizes) <= 21
    assert sorted(sizes) == list(range(len(sizes)))


def test_dedup_paragraphs_literal_separator(spark):
    """``sep`` is a literal, not a Java regex (ADVICE r4): '.' must split on
    actual dots, not on every character."""
    from nama_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [(1, "boiler.unique one"), (2, "boiler.unique two"), (3, "solo")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in
           dedup_paragraphs(docs, min_df=2, sep=".").collect()}
    assert got[1]["text_clean"] == "unique one"
    assert got[2]["text_clean"] == "unique two"
    assert got[3]["text_clean"] == "solo" and got[3]["n_dropped"] == 0


def test_ivf2_two_level_index_all_probe_exact(spark, tmp_path):
    """Two-level (coarse-quantizer) index drops into the SAME persisted
    layout and query path: ivf_assign detects the ``coarse`` column and
    routes two-stage; with every cell probed the top-k equals exact
    bruteforce (the anchor ivf_topk_delta already proves for flat indexes).
    Round-trips through parquet like run_ann.py does."""
    from nama_spark.operators.ann import (
        ivf2_fit_centroids,
        ivf_assign,
        ivf_topk_delta,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.limit(4)

    centers = ivf2_fit_centroids(emb, n_coarse=3, fine_per_coarse=3)
    assert {"cell", "coarse", "centroid"} <= set(centers.columns)
    idx = str(tmp_path / "ivf2")
    centers.write.parquet(idx + "/centroids")
    centers2 = spark.read.parquet(idx + "/centroids")
    assigned = ivf_assign(emb, centers2)
    total = centers2.count()
    assert total > 3  # genuinely two-level: more cells than coarse cells

    got = ivf_topk_delta(queries, centers2, assigned, k=5, nprobe=total)
    want = cosine_topk_bruteforce(emb, queries, k=5)
    as_map = lambda df: {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in df.collect()
    }
    assert as_map(got) == as_map(want)

    # partial probe: k rows per query, sane recall
    part = ivf_topk_delta(queries, centers2, assigned, k=5, nprobe=3)
    pm = {}
    for r in part.collect():
        pm.setdefault(r["query_id"], []).append(r["neighbor_id"])
    wm = {}
    for r in want.collect():
        wm.setdefault(r["query_id"], []).append(r["neighbor_id"])
    recall = sum(len(set(pm.get(q, [])) & set(wm[q])) for q in wm) / (len(wm) * 5)
    assert recall >= 0.5, recall


def test_ivf2_constant_occupancy_past_flat_cap(spark):
    """The point of the second level: sized for target occupancy T, the
    two-level index keeps per-cell occupancy ~T at vector counts where the
    flat index (capped at max_cells) would have occupancy grow linearly.
    20k random vectors, target 100: flat capped at 16 cells ⇒ 1,250/cell;
    two-level must deliver ≥ 4× more cells and mean occupancy ≤ 2.5×T."""
    import numpy as np
    import pandas as pd

    from nama_spark.operators.ann import ivf2_fit_centroids, ivf_assign

    rng = np.random.RandomState(5)
    n, dim, target = 20_000, 8, 100
    pdf = pd.DataFrame({
        "vec_id": range(n),
        "embedding": [list(map(float, v)) for v in rng.randn(n, dim)],
    })
    corpus = spark.createDataFrame(pdf).repartition(8)

    centers = ivf2_fit_centroids(corpus, target_occupancy=target)
    n_cells = centers.count()
    flat_cap = 16  # a flat index frozen at max_cells=16 ⇒ n/16 = 1,250/cell
    assert n_cells >= 4 * flat_cap, n_cells

    sizes = [
        r["c"] for r in ivf_assign(corpus, centers)
        .groupBy("cell").agg(F.count(F.lit(1)).alias("c")).collect()
    ]
    mean_occ = sum(sizes) / len(sizes)
    assert mean_occ <= 2.5 * target, mean_occ
    # and no pathological mega-cell: the largest cell stays well under the
    # flat-capped occupancy
    assert max(sizes) < n / flat_cap, max(sizes)


def test_pq_codebooks_encode_and_adc_topk(spark):
    """Product quantization: codebooks fit per subspace (one applyInPandas
    pass, deterministic), codes bounded, and ADC top-k recovers most exact
    neighbors — with the exact-cosine refine step recovering at least as
    much as raw ADC order. The corpus is CLUSTERED (gaussian modes, the
    realistic encoder-embedding geometry PQ is built for — the md5-hash
    fixture is near-random, an adversarial PQ case). PQ codes are m bytes
    vs 4·dim for floats: the memory-resident index at corpus scale."""
    import numpy as np
    import pandas as pd

    from nama_spark.operators.ann import (
        cosine_topk_bruteforce,
        pq_encode,
        pq_fit_codebooks,
        pq_topk,
    )

    rng = np.random.RandomState(11)
    n, dim, modes = 2000, 16, 50
    C = rng.randn(modes, dim)
    X = C[rng.randint(0, modes, n)] + 0.15 * rng.randn(n, dim)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(n),
        "embedding": [list(map(float, v)) for v in X],
    })).repartition(8).localCheckpoint()

    m, k_codes = 4, 32
    books = pq_fit_codebooks(emb, m=m, k=k_codes).localCheckpoint()
    rows = books.collect()
    assert {r["sub"] for r in rows} == set(range(m))
    assert all(0 <= r["code"] < k_codes for r in rows)
    # deterministic refit
    again = {(r["sub"], r["code"]): tuple(r["centroid"])
             for r in pq_fit_codebooks(emb, m=m, k=k_codes).collect()}
    first = {(r["sub"], r["code"]): tuple(r["centroid"]) for r in rows}
    assert first == again

    codes = pq_encode(emb, books).localCheckpoint()
    crows = codes.collect()
    assert len(crows) == n
    assert all(len(r["codes"]) == m for r in crows)
    assert all(0 <= c < k_codes for r in crows for c in r["codes"])

    queries = emb.where(F.col("vec_id") < 6)
    want = {}
    for r in cosine_topk_bruteforce(emb, queries, k=5).collect():
        want.setdefault(r["query_id"], []).append(r["neighbor_id"])

    got_refined = {}
    for r in pq_topk(queries, books, codes, k=5, refine=emb,
                     refine_factor=8).collect():
        got_refined.setdefault(r["query_id"], []).append(r["neighbor_id"])
    rec_ref = sum(
        len(set(got_refined.get(q, [])) & set(want[q])) for q in want
    ) / (len(want) * 5)
    assert rec_ref >= 0.7, rec_ref

    raw = pq_topk(queries, books, codes, k=5)
    assert {c for c in raw.columns} == {"query_id", "neighbor_id", "cos", "rank"}
    got_raw = {}
    for r in raw.collect():
        got_raw.setdefault(r["query_id"], []).append(r["neighbor_id"])
    rec_raw = sum(
        len(set(got_raw.get(q, [])) & set(want[q])) for q in want
    ) / (len(want) * 5)
    # raw ADC resolves MODES, not within-mode ranks (same-mode members share
    # codes → distance ties): well-formed k rows per query, refine dominates
    assert all(len(v) == 5 for v in got_raw.values())
    assert rec_ref >= rec_raw  # exact refine can only help

    # empty inputs short-circuit
    empty = emb.where(F.lit(False))
    assert pq_topk(empty, books, codes, k=5).count() == 0


def test_ivfpq_topk_composition(spark):
    """IVF-PQ: the ADC scan restricted to probed cells. Anchors: (a) with
    every cell probed it equals the full-scan pq_topk (same refine) —
    the composition adds no semantics, only pruning; (b) partial probe is
    well-formed with sane recall on clustered geometry; (c) the index that
    feeds it is cells + m-byte codes only (raw vectors appear ONLY in the
    optional refine table)."""
    import numpy as np
    import pandas as pd

    from nama_spark.operators.ann import (
        ivf_assign,
        ivf_fit_centroids,
        ivfpq_topk,
        pq_encode,
        pq_fit_codebooks,
        pq_topk,
    )

    rng = np.random.RandomState(23)
    n, dim, modes = 1500, 16, 30
    C = rng.randn(modes, dim)
    X = C[rng.randint(0, modes, n)] + 0.15 * rng.randn(n, dim)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(n),
        "embedding": [list(map(float, v)) for v in X],
    })).repartition(8).localCheckpoint()

    centers = ivf_fit_centroids(emb, n_cells=8).localCheckpoint()
    books = pq_fit_codebooks(emb, m=4, k=32).localCheckpoint()
    encoded = ivf_assign(emb, centers).join(
        pq_encode(emb, books), "vec_id"
    ).select("cell", "vec_id", "codes").localCheckpoint()

    queries = emb.where(F.col("vec_id") < 5)
    as_map = lambda df: {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in df.collect()
    }
    # (a) all-probe == full-scan PQ (identical shortlist → identical refine)
    full = pq_topk(queries, books, emb.join(
        pq_encode(emb, books), "vec_id").select("vec_id", "codes"),
        k=5, refine=emb, refine_factor=8)
    allp = ivfpq_topk(queries, centers, encoded, books, k=5, nprobe=8,
                      refine=emb, refine_factor=8)
    assert as_map(allp) == as_map(full)

    # (b) partial probe: k rows per query
    part = ivfpq_topk(queries, centers, encoded, books, k=5, nprobe=3,
                      refine=emb, refine_factor=8)
    per_q = {}
    for r in part.collect():
        per_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert all(len(v) == 5 for v in per_q.values())
    got_all = {q: set() for q in per_q}
    for (q, _), nb in as_map(allp).items():
        got_all.setdefault(q, set()).add(nb)
    recall = sum(len(set(per_q[q]) & got_all[q]) for q in per_q) / (len(per_q) * 5)
    assert recall >= 0.6, recall
