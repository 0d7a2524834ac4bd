"""Ingestion: CSV round-trip with all-string/empty-not-null semantics
(match_data.py:860-861 parity), format detection, matchdata writer."""

import glob
import json

import pytest
from pyspark.sql import functions as F

from nama_spark.operators.matchdata import MatchData
from nama_spark.sources.readers import read_csv, read_matchdata, read_records, write_matchdata


def test_read_csv_unmatched_and_empty_not_null(spark, tmp_path):
    p = str(tmp_path / "in.csv")
    spark.createDataFrame(
        [("acme", 2), (None, 1), ("beta", None)], ["string", "count"]
    ).coalesce(1).write.option("header", True).mode("overwrite").csv(p)
    # 'detect' refuses a bare string column (reference match_data.py:773-774
    # parity — unmatched must be requested explicitly)
    md = read_csv(spark, p, match_format="unmatched")
    rows = {r["string"]: r["count"] for r in md.df.collect()}
    # NULL string becomes "" (na_filter=False parity); NULL count becomes
    # empty string → cast "" to long fails → treat as 1 via coalesce path
    assert "" in rows and "acme" in rows and "beta" in rows


def test_read_matchdata_formats(spark):
    pairs = spark.createDataFrame([("a", "b")], ["string0", "string1"])
    md = read_matchdata(pairs)
    assert md.df.count() == 2
    groups = spark.createDataFrame([("a", 1, "g"), ("b", 1, "g")],
                                   ["string", "count", "group"])
    md2 = read_matchdata(groups, match_format="groups")
    assert md2.df.select("group").distinct().count() == 1


def test_write_and_read_records(spark, tmp_path):
    p = str(tmp_path / "md_out")
    md = MatchData(
        spark.createDataFrame(
            [("a", 2, "g"), ("b", 1, "g")], ["string", "count", "group"]
        )
    )
    write_matchdata(md, p, fmt="parquet")
    back = read_records(spark, p)
    assert back.count() == 2
    assert set(back.columns) == {"string", "count", "group"}


def test_read_records_catalog_dispatch(spark, tmp_path):
    """--catalog routing (SURVEY.md §1.6): read_records(catalog=...) resolves
    <catalog>.<table> via spark.read.table. No Iceberg jar in this sandbox,
    so the dispatch is exercised against the session catalog
    ('spark_catalog') with a parquet-backed table at a temp LOCATION — the
    identical code path an Iceberg catalog would take."""
    df = spark.createDataFrame([("a", 1), ("b", 2)], ["repo", "n"])
    loc = str(tmp_path / "cat_records")
    df.write.parquet(loc)
    spark.sql(
        f"CREATE TABLE default.cat_records (repo STRING, n BIGINT) "
        f"USING parquet LOCATION '{loc}'"
    )
    try:
        got = read_records(spark, "default.cat_records", catalog="spark_catalog")
        assert {r["repo"] for r in got.collect()} == {"a", "b"}
        # bare table id (no catalog) resolves in the session catalog
        got2 = read_records(spark, "default.cat_records")
        assert got2.count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS default.cat_records")


def test_run_dedup_job_minhash_and_exact(spark, tmp_path):
    """jobs/run_dedup.py main() end-to-end on the sf0.001 documents table:
    pairs + clusters + keep-list parquet outputs, cluster count consistent
    with docs − merged dups."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_dedup
    finally:
        sys.path.pop(0)

    out = str(tmp_path / "dd")
    rc = run_dedup.main([
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--method", "minhash", "--threshold", "0.5", "--output", out,
    ])
    assert rc == 0
    clusters = spark.read.parquet(out + "/clusters")
    keep = spark.read.parquet(out + "/keep")
    n_docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    assert clusters.count() == n_docs  # every doc assigned
    assert 0 < keep.count() <= n_docs

    out2 = str(tmp_path / "dd_exact")
    rc = run_dedup.main([
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--method", "exact", "--output", out2,
    ])
    assert rc == 0
    assert spark.read.parquet(out2 + "/groups").count() > 0


def test_run_dedup_job_embedding(spark, tmp_path):
    """run_dedup.py --method embedding: LSH-bucketed cosine pairs over the
    embeddings table, clusters + keep-list over the documents universe."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_dedup
    finally:
        sys.path.pop(0)

    out = str(tmp_path / "dd_emb")
    rc = run_dedup.main([
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--method", "embedding", "--threshold", "0.9",
        "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--output", out,
    ])
    assert rc == 0
    pairs = spark.read.parquet(out + "/pairs")
    assert set(pairs.columns) == {"id0", "id1", "score"}
    n_docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    assert spark.read.parquet(out + "/clusters").count() == n_docs


def test_run_corpus_pipeline_job(spark, tmp_path):
    """jobs/run_corpus_pipeline.py: dedup → filter → annotate → language
    shards; the funnel is monotone non-increasing and shards are
    partitioned by lang."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_corpus_pipeline
    finally:
        sys.path.pop(0)

    out = str(tmp_path / "corpus")
    rc = run_corpus_pipeline.main([
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", out,
        "--near-dup-threshold", "0.5",
        "--langs", "en,de,fr,es,und",
        "--val-fraction", "0.2",
        "--chunk-tokens", "32",
    ])
    assert rc == 0
    shards = spark.read.parquet(out + "/shards")
    assert "lang" in shards.columns and "quality" in shards.columns
    n = shards.count()
    n_in = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    assert 0 < n <= n_in
    # partitioned layout on disk: lang=<x> directories exist
    import os
    assert any(
        d.startswith("lang=") for d in os.listdir(out + "/shards")
    )
    # leak-free split column rode through; both splits non-empty at 20%
    assert set(r["split"] for r in shards.select("split").distinct().collect())         <= {"train", "val"}
    assert shards.where(F.col("split") == "train").count() > 0
    chunks = spark.read.parquet(out + "/chunks")
    assert chunks.count() >= n and "chunk_text" in chunks.columns


def test_run_corpus_pipeline_job_decontam_mixture_shuffle(spark, tmp_path):
    """The corpus-prep stages through the job surface: --decontam-eval
    drops overlapping docs, --mixture-temperature re-balances, and
    --shuffle-shards writes balanced train-order shards; every stage
    reports a funnel count."""
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_corpus_pipeline
    finally:
        sys.path.pop(0)

    # eval set = a slice of the same corpus → guaranteed n-gram collisions
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    eval_p = str(tmp_path / "eval.parquet")
    docs.where(F.col("doc_id") % 11 == 0).write.parquet(eval_p)

    out = str(tmp_path / "corpus")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run_corpus_pipeline.main([
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", out,
            "--near-dup-threshold", "0.5",
            "--decontam-eval", eval_p,
            "--decontam-n", "3",
            "--decontam-max-overlap", "0.05",
            "--mixture-temperature", "2.0",
            "--shuffle-shards", "4",
        ])
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    f = summary["funnel"]
    # decontam runs after the filters and only shrinks; eval overlap is
    # guaranteed (eval ⊂ corpus), so it must drop something at n=3
    assert f["after_decontam"] < f["after_filters"]
    assert f["after_mixture"] <= f["after_decontam"]
    assert f["train_shards"] == 4
    sh = spark.read.parquet(out + "/train_shards")
    assert sh.count() == f["after_mixture"]
    sizes = [r["n"] for r in sh.groupBy("shard")
             .agg(F.count(F.lit(1)).alias("n")).collect()]
    assert len(sizes) <= 4 and max(sizes) - min(sizes) <= 1
    # pos is contiguous from 0 within each shard
    mx = sh.groupBy("shard").agg(
        F.max("pos").alias("mx"), F.count(F.lit(1)).alias("n")
    )
    assert all(r["mx"] == r["n"] - 1 for r in mx.collect())


def test_run_dedup_job_incremental(spark, tmp_path):
    """run_dedup.py incremental mode: --write-index on the corpus, then
    --delta against it; delta keep/drop partition the delta ids."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_dedup
    finally:
        sys.path.pop(0)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old_p = str(tmp_path / "old.parquet")
    new_p = str(tmp_path / "new.parquet")
    docs.where(F.col("doc_id") % 2 == 0).write.parquet(old_p)
    docs.where(F.col("doc_id") % 2 == 1).write.parquet(new_p)

    idx_out = str(tmp_path / "idx")
    rc = run_dedup.main([
        "--input", old_p, "--method", "minhash",
        "--write-index", "--output", idx_out,
    ])
    assert rc == 0

    out = str(tmp_path / "delta_out")
    rc = run_dedup.main([
        "--input", old_p, "--method", "minhash", "--threshold", "0.5",
        "--delta", new_p, "--index", idx_out + "/band_index",
        "--output", out,
    ])
    assert rc == 0
    n_delta = docs.where(F.col("doc_id") % 2 == 1).count()
    kept_df = spark.read.parquet(out + "/delta_keep")
    kept = kept_df.count()
    dropped = spark.read.parquet(out + "/delta_drop").count()
    assert kept + dropped == n_delta
    assert dropped > 0  # the fixture's dup pairs straddle the parity split
    # orientation-independence: a kept delta doc must have NO pair touching
    # a corpus (even-id) doc — regardless of which side of (id0, id1) the
    # delta doc landed on. The old id1∩delta rule kept delta docs whose
    # corpus duplicate had the larger id.
    pairs = spark.read.parquet(out + "/pairs")
    delta_side = pairs.withColumn(
        "delta_id",
        F.when(F.col("id0") % 2 == 1, F.col("id0")).otherwise(F.col("id1")),
    ).withColumn(
        "other",
        F.when(F.col("id0") % 2 == 1, F.col("id1")).otherwise(F.col("id0")),
    )
    corpus_dup_delta_ids = (
        delta_side.where(F.col("other") % 2 == 0)
        .select(F.col("delta_id").alias("doc_id")).distinct()
    )
    assert kept_df.join(corpus_dup_delta_ids, "doc_id", "inner").count() == 0


def test_run_pipeline_bucketed_table(spark, tmp_path):
    """run_pipeline --bucketed-table: clusters land in the catalog bucketed
    by string; a same-bucketed record join plans with no Exchange."""
    import sys

    from fixtures.make_fixtures import fixture_dataframes, make_fixture

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_pipeline
    finally:
        sys.path.pop(0)

    records, _, _ = fixture_dataframes(spark, make_fixture(seed=3, n_entities=25))
    inp = str(tmp_path / "records.parquet")
    records.write.parquet(inp)
    out = str(tmp_path / "out")
    try:
        rc = run_pipeline.main([
            "--input", inp, "--output", out,
            "--passes", "exact_key",
            "--bucketed-table", "bt_pipeline_clusters", "--n-buckets", "4",
        ])
        assert rc == 0
        back = spark.read.table("bt_pipeline_clusters")
        assert set(back.columns) == {"string", "count", "group"}
        assert back.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_pipeline_clusters")


def test_run_ann_job_index_append_query(spark, tmp_path):
    """jobs/run_ann.py three-mode flow: --build-index on half the vectors,
    --append-index with the other half (only delta assignments computed),
    then a query run whose all-cells probe equals exact bruteforce."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_ann
    finally:
        sys.path.pop(0)

    from nama_spark.operators.ann import cosine_topk_bruteforce

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old_p = str(tmp_path / "old.parquet")
    new_p = str(tmp_path / "new.parquet")
    q_p = str(tmp_path / "q.parquet")
    emb.where(F.col("vec_id") % 2 == 0).write.parquet(old_p)
    emb.where(F.col("vec_id") % 2 == 1).write.parquet(new_p)
    emb.where(F.col("vec_id") < 4).write.parquet(q_p)

    idx1 = str(tmp_path / "idx1")
    assert run_ann.main(["--corpus", old_p, "--build-index",
                         "--n-cells", "8", "--output", idx1]) == 0
    idx2 = str(tmp_path / "idx2")
    assert run_ann.main(["--corpus", new_p, "--append-index",
                         "--index", idx1, "--output", idx2]) == 0
    res = str(tmp_path / "res")
    assert run_ann.main(["--queries", q_p, "--index", idx2,
                         "--k", "5", "--nprobe", "8",
                         "--output", res]) == 0

    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in spark.read.parquet(res + "/topk").collect()
    }
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk_bruteforce(
            emb, emb.where(F.col("vec_id") < 4), k=5
        ).collect()
    }
    assert got == want and len(got) == 4 * 5


def test_run_linkage_job(spark, tmp_path):
    """jobs/run_linkage.py: left names link to their 'the '-prefixed twins
    under mutual-best selection."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_linkage
    finally:
        sys.path.pop(0)

    left = spark.createDataFrame(
        [(f"acme widgets {i}",) for i in range(20)], ["name_l"]
    )
    right = left.select(
        F.concat(F.lit("the "), F.col("name_l")).alias("name_r")
    )
    lp, rp = str(tmp_path / "l.parquet"), str(tmp_path / "r.parquet")
    left.write.parquet(lp)
    right.write.parquet(rp)
    out = str(tmp_path / "links_out")
    rc = run_linkage.main([
        "--left", lp, "--left-col", "name_l",
        "--right", rp, "--right-col", "name_r",
        "--mode", "mutual", "--threshold", "0.3", "--output", out,
    ])
    assert rc == 0
    links = {
        (r["s0"], r["s1"])
        for r in spark.read.parquet(out + "/links").collect()
    }
    assert links == {
        (f"acme widgets {i}", f"the acme widgets {i}") for i in range(20)
    }


def test_run_linkage_job_fs_mode(spark, tmp_path):
    """jobs/run_linkage.py --mode fs: the unsupervised FS path links the
    verbatim + uniquely-suffixed twins and reports the fitted model."""
    import json as _json
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_linkage
    finally:
        sys.path.pop(0)

    words = ["acme", "orbit", "zenith", "quark"]
    base = [f"{words[i % 4]} {i:03d}" for i in range(40)]
    left = spark.createDataFrame([(s,) for s in base], ["name_l"])
    right = spark.createDataFrame(
        [(s,) for s in base[:20]]
        + [(f"{s} q{i}",) for i, s in enumerate(base[20:])],
        ["name_r"],
    )
    lp, rp = str(tmp_path / "fl.parquet"), str(tmp_path / "fr.parquet")
    left.write.parquet(lp)
    right.write.parquet(rp)
    out = str(tmp_path / "fs_links_out")
    rc = run_linkage.main([
        "--left", lp, "--left-col", "name_l",
        "--right", rp, "--right-col", "name_r",
        "--mode", "fs", "--threshold", "0.8", "--output", out,
    ])
    assert rc == 0
    links = spark.read.parquet(out + "/links")
    assert {"s0", "s1", "score", "weight_milli", "p_match"} <= set(links.columns)
    got = {(r["s0"], r["s1"]) for r in links.collect()}
    for s in base[:20]:
        assert (s, s) in got
    for i, s in enumerate(base[20:]):
        assert (s, f"{s} q{i}") in got


def test_run_ann_append_rejects_inplace_output(spark, tmp_path):
    """--append-index writes while lazily reading from --index; pointing
    --output at the same dir would clobber the index mid-read (ADVICE r4) —
    the job must refuse up front."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_ann
    finally:
        sys.path.pop(0)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus_p = str(tmp_path / "corpus.parquet")
    emb.limit(50).write.parquet(corpus_p)
    idx = str(tmp_path / "idx")
    assert run_ann.main(["--corpus", corpus_p, "--build-index",
                         "--n-cells", "4", "--output", idx]) == 0
    with pytest.raises(SystemExit, match="differ"):
        run_ann.main(["--corpus", corpus_p, "--append-index",
                      "--index", idx, "--output", idx])


def test_run_corpus_pipeline_paragraph_stage(spark, tmp_path):
    """--paragraph-min-df inserts the CCNet-style boilerplate stage between
    exact and near-dup: shared paragraphs vanish from surviving text, the
    funnel records the stage, and an all-boilerplate doc drops out."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_corpus_pipeline
    finally:
        sys.path.pop(0)

    banner = "subscribe to our newsletter today"
    docs = spark.createDataFrame(
        [(i,
          banner + "\n" + f"the quick brown fox number {i} jumps over "
          f"the lazy dog while writing document {i} in plain english")
         for i in range(20)]
        + [(97, banner), (98, banner),  # all-boilerplate docs
           (99, "a unique document with no boilerplate paragraphs at all "
                "that simply talks about the weather in october")],
        ["doc_id", "text"],
    )
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)

    out = str(tmp_path / "corpus")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run_corpus_pipeline.main([
            "--input", inp, "--output", out,
            "--paragraph-min-df", "2",
            "--near-dup-threshold", "0.9",
        ])
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    funnel = summary["funnel"]
    assert funnel["after_paragraph_dedup"] < funnel["after_exact_dedup"]
    assert funnel["paragraphs_dropped"] >= 20
    # funnel order: paragraph stage sits between exact and near-dup
    keys = list(funnel)
    assert keys.index("after_exact_dedup") < keys.index("after_paragraph_dedup") < keys.index("after_near_dedup")

    shards = spark.read.parquet(out + "/shards")
    assert shards.where(F.col("text").contains(banner)).count() == 0
    assert shards.where(F.col("doc_id").isin(97, 98)).count() == 0
    assert shards.where(F.col("doc_id") == 99).count() == 1


def test_run_corpus_pipeline_span_and_repetition_gates(spark, tmp_path):
    """--span-max-dup-frac drops mostly-verbatim-span docs (ExactSubstr
    gate, stage 1c) and --gopher-repetition drops within-doc repetition
    offenders (stage 3b); both funnel keys land in the right order."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_corpus_pipeline
    finally:
        sys.path.pop(0)

    shared = "this exact span of many tokens is repeated verbatim across documents"
    docs = spark.createDataFrame(
        # long all-distinct-token docs: no window repeats anywhere, and
        # single-occurrence gram char-mass stays far below Gopher's caps
        [(i, " ".join(f"tok{i}x{j}" for j in range(60))) for i in range(10)]
        # mostly-verbatim-span docs: > 50% duplicated k=4 windows
        + [(90, shared + " plus a tiny unique tail ninety"),
           (91, shared + " plus a tiny unique tail ninetyone")]
        # within-doc repetition offender: the 2-gram "spam ham" repeats 12
        # times (fails Gopher top-2), but every 4-token window contains a
        # unique u{j} token, so the k=4 span gate does NOT fire
        + [(95, " ".join(f"spam ham u{j}" for j in range(12)))],
        ["doc_id", "text"],
    )
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)

    out = str(tmp_path / "corpus")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run_corpus_pipeline.main([
            "--input", inp, "--output", out,
            "--span-max-dup-frac", "0.5", "--span-k", "4",
            "--gopher-repetition",
            "--near-dup-threshold", "0.95",
        ])
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    funnel = summary["funnel"]
    keys = list(funnel)
    assert (keys.index("after_exact_dedup") < keys.index("after_span_gate")
            < keys.index("after_near_dedup") < keys.index("after_repetition_gate")
            < keys.index("after_filters"))
    # span gate dropped the two verbatim-span docs
    assert funnel["after_span_gate"] == funnel["after_exact_dedup"] - 2
    # repetition gate dropped the spam doc (quality/lang gates disabled)
    assert funnel["after_repetition_gate"] == funnel["after_near_dedup"] - 1
    assert funnel["after_filters"] == funnel["after_repetition_gate"]
    shards = spark.read.parquet(out + "/shards")
    kept = {r["doc_id"] for r in shards.select("doc_id").collect()}
    assert kept.isdisjoint({90, 91, 95}) and set(range(10)) <= kept


def test_run_corpus_pipeline_span_remove(spark, tmp_path):
    """--span-action remove cuts the duplicated spans instead of dropping
    documents: the shared span vanishes from surviving text, fully-
    duplicated docs empty out and drop, and the funnel records tokens
    removed / docs emptied."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_corpus_pipeline
    finally:
        sys.path.pop(0)

    shared = "this exact span of many tokens is repeated verbatim across documents"
    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}x{j}" for j in range(60))) for i in range(10)]
        + [(90, shared + " plus a tiny unique tail ninety"),
           (91, shared + " plus a tiny unique tail ninetyone"),
           (97, shared)],   # the whole doc is the duplicated span -> empties
        ["doc_id", "text"],
    )
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)

    out = str(tmp_path / "corpus")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run_corpus_pipeline.main([
            "--input", inp, "--output", out,
            "--span-action", "remove", "--span-k", "4",
            "--near-dup-threshold", "0.95",
        ])
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    funnel = summary["funnel"]
    # the 11-token span is cut from all three carriers, and the boundary +
    # tail windows ("... documents plus", "plus a tiny unique", …) are ALSO
    # cross-doc duplicates of each other, so 90/91 keep only their final
    # token (every-occurrence removal is aggressive by design — Lee et al.
    # call the over-removal harmless); doc 97 empties entirely
    assert funnel["span_tokens_removed"] == 43
    assert funnel["span_docs_emptied"] == 1
    assert funnel["after_span_removal"] == funnel["after_exact_dedup"] - 1
    shards = spark.read.parquet(out + "/shards")
    rows = {r["doc_id"]: r["text"] for r in shards.collect()}
    assert 97 not in rows
    assert rows[90] == "ninety"
    assert rows[91] == "ninetyone"
    assert set(range(10)) <= set(rows)


def test_run_corpus_pipeline_canonical_priority(spark, tmp_path):
    """--canonical-priority keeps the HIGHEST-priority member of each
    near-dup cluster (FineWeb keep-the-best) instead of the min-id."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_corpus_pipeline
    finally:
        sys.path.pop(0)

    base = ("the quick brown fox jumps over the lazy dog while the "
            "sun sets slowly behind the quiet hills tonight")
    docs = spark.createDataFrame(
        [
            (1, base, len(base)),
            # near-dup of doc 1, longer -> wins under priority, loses to min-id
            (2, base + " indeed", len(base) + 7),
            (3, "a completely different document about maritime "
                "navigation and the history of lighthouses", 89),
        ],
        ["doc_id", "text", "n_chars"],
    )
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)

    import io
    from contextlib import redirect_stdout

    for flag, expect in [([], {1, 3}), (["--canonical-priority", "n_chars"], {2, 3})]:
        out = str(tmp_path / ("corpus" + str(len(flag))))
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = run_corpus_pipeline.main([
                "--input", inp, "--output", out,
                "--near-dup-threshold", "0.7",
            ] + flag)
        assert rc == 0
        summary = json.loads(buf.getvalue().strip().splitlines()[-1])
        assert summary["funnel"]["after_near_dedup"] == 2
        kept = {
            r["doc_id"]
            for r in spark.read.parquet(out + "/shards").select("doc_id").collect()
        }
        assert kept == expect, flag


def test_run_ann_job_two_level_index(spark, tmp_path):
    """--two-level builds a coarse-quantizer index in the SAME persisted
    layout; append + query work unchanged (ivf_assign auto-detects the
    coarse column), and the all-cells probe equals exact bruteforce."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_ann
    finally:
        sys.path.pop(0)

    from nama_spark.operators.ann import cosine_topk_bruteforce

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old_p = str(tmp_path / "old.parquet")
    new_p = str(tmp_path / "new.parquet")
    q_p = str(tmp_path / "q.parquet")
    emb.where(F.col("vec_id") % 2 == 0).write.parquet(old_p)
    emb.where(F.col("vec_id") % 2 == 1).write.parquet(new_p)
    emb.where(F.col("vec_id") < 4).write.parquet(q_p)

    idx1 = str(tmp_path / "idx1")
    assert run_ann.main(["--corpus", old_p, "--build-index", "--two-level",
                         "--output", idx1]) == 0
    centers = spark.read.parquet(idx1 + "/centroids")
    assert "coarse" in centers.columns
    idx2 = str(tmp_path / "idx2")
    assert run_ann.main(["--corpus", new_p, "--append-index",
                         "--index", idx1, "--output", idx2]) == 0
    res = str(tmp_path / "res")
    total = centers.count()
    assert run_ann.main(["--queries", q_p, "--index", idx2,
                         "--k", "5", "--nprobe", str(total),
                         "--output", res]) == 0
    got = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in spark.read.parquet(res + "/topk").collect()}
    want = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in cosine_topk_bruteforce(
                emb, emb.where(F.col("vec_id") < 4), k=5).collect()}
    assert got == want


def test_run_corpus_pipeline_redact_pii(spark, tmp_path):
    """--redact-pii masks text in the written shards and reports per-kind
    totals in the funnel."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_corpus_pipeline
    finally:
        sys.path.pop(0)

    docs = spark.createDataFrame(
        [
            (1, "write to alice@example.com about the quarterly numbers "
                "and the shipping schedule for the northern route today"),
            (2, "server 10.1.2.3 rebooted at dawn; call 555-123-4567 if "
                "the maritime telemetry feed drops again tonight please"),
        ],
        ["doc_id", "text"],
    )
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)

    import io
    from contextlib import redirect_stdout

    out = str(tmp_path / "corpus")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run_corpus_pipeline.main([
            "--input", inp, "--output", out, "--redact-pii",
        ])
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["funnel"]["pii_redacted"] == {
        "email": 1, "ssn": 0, "phone": 1, "ipv4": 1,
    }
    shards = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(out + "/shards").collect()
    }
    assert "<EMAIL>" in shards[1] and "alice@" not in shards[1]
    assert "<IPV4>" in shards[2] and "<PHONE>" in shards[2]


def test_run_corpus_pipeline_c4_lines(spark, tmp_path):
    """--c4-lines cleans boilerplate lines before dedup; pages collapsing
    to too few sentences (or lorem-ipsum pages) drop out of the funnel."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_corpus_pipeline
    finally:
        sys.path.pop(0)

    docs = spark.createDataFrame(
        [
            (1, "The ship sailed at dawn toward the open water today.\n"
                "- home\n"
                "Cargo manifests were checked twice by the harbourmaster.\n"
                "Click to subscribe..."),
            (2, "lorem ipsum dolor sit amet.\nA real sentence lives here."),
            (3, "Only one surviving sentence sits on this page.\nnope"),
        ],
        ["doc_id", "text"],
    )
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)

    import io
    from contextlib import redirect_stdout

    out = str(tmp_path / "corpus")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run_corpus_pipeline.main([
            "--input", inp, "--output", out, "--c4-lines",
        ])
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["funnel"]["after_c4_lines"] == 1
    rows = spark.read.parquet(out + "/shards").collect()
    assert [r["doc_id"] for r in rows] == [1]
    assert rows[0]["text"] == (
        "The ship sailed at dawn toward the open water today.\n"
        "Cargo manifests were checked twice by the harbourmaster."
    )


def test_run_corpus_pipeline_lm_gate(spark, tmp_path):
    """--lm-ref fits a bigram LM on the reference parquet and drops
    high-surprisal (gibberish) documents."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_corpus_pipeline
    finally:
        sys.path.pop(0)

    ref = spark.createDataFrame(
        [
            (100, "the ship sailed toward the harbour at dawn"),
            (101, "the crew checked the cargo before the ship sailed"),
        ],
        ["doc_id", "text"],
    )
    ref_p = str(tmp_path / "ref.parquet")
    ref.write.parquet(ref_p)
    docs = spark.createDataFrame(
        [
            (1, "the ship sailed toward the cargo at dawn"),
            (2, "zxq vbnm qwerty plok mjui zzzz xxxx yyyy"),
        ],
        ["doc_id", "text"],
    )
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)

    import io
    from contextlib import redirect_stdout

    out = str(tmp_path / "corpus")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run_corpus_pipeline.main([
            "--input", inp, "--output", out,
            "--lm-ref", ref_p, "--lm-max-avg-bits", "2.7",
        ])
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["funnel"]["after_lm_gate"] == 1
    kept = {r["doc_id"] for r in
            spark.read.parquet(out + "/shards").select("doc_id").collect()}
    assert kept == {1}


def test_run_corpus_pipeline_quality_model_and_dsir(spark, tmp_path):
    """--quality-ref fits the integer NB-share classifier against a
    trusted reference and gates per-token score; --dsir-ref/--dsir-keep
    then importance-resamples toward the reference distribution. Spam
    docs fail the model gate; DSIR keeps the reference-like survivors."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_corpus_pipeline
    finally:
        sys.path.pop(0)

    science = [
        f"careful thorough analysis of the experiment results number {i}"
        for i in range(12)
    ]
    spam = [f"win big casino bonus jackpot click now offer {i}"
            for i in range(6)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(science)]
        + [(100 + i, t) for i, t in enumerate(spam)],
        ["doc_id", "text"],
    )
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    # the reference must be distributionally LIKE the good slice (the
    # CCNet/DSIR setup: Wikipedia as reference for quality web text) —
    # same template, disjoint ids
    ref = spark.createDataFrame(
        [(1000 + i,
          "careful thorough analysis of the experiment results "
          f"number ref{i}")
         for i in range(8)],
        ["doc_id", "text"],
    )
    refp = str(tmp_path / "ref.parquet")
    ref.write.parquet(refp)

    out = str(tmp_path / "corpus")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run_corpus_pipeline.main([
            "--input", inp, "--output", out,
            "--quality-ref", refp, "--quality-min-milli", "-150",
            "--quality-features", "4096",
            "--dsir-ref", refp, "--dsir-keep", "8", "--dsir-seed", "7",
            "--near-dup-threshold", "0.95",
        ])
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    funnel = summary["funnel"]
    keys = list(funnel)
    assert (keys.index("after_filters") < keys.index("after_quality_model")
            < keys.index("after_dsir"))
    # the model gate drops the spam slice (shares no tokens with the ref)
    assert funnel["after_quality_model"] <= funnel["after_filters"] - 6
    assert funnel["after_dsir"] == 8
    shards = spark.read.parquet(out + "/shards")
    kept = {r["doc_id"] for r in shards.select("doc_id").collect()}
    assert len(kept) == 8 and kept <= set(range(12))


def test_run_report_job(spark, tmp_path):
    """jobs/run_report.py: one JSON audit over the sf0.001 documents —
    size/quality/pii/duplication/repetition/top-token sections with
    internally consistent counts, near-dup + LM sections on request."""
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_report
    finally:
        sys.path.pop(0)

    refp = str(tmp_path / "ref.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.where(F.col("doc_id") % 5 == 0).write.parquet(refp)

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run_report.main([
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", str(tmp_path / "report"),
            "--near-dup", "0.8",
            "--lm-ref", refp,
        ])
    assert rc == 0
    rep = json.loads(buf.getvalue().strip().splitlines()[-1])["report"]
    n = docs.count()
    assert rep["size"]["n_docs"] == n
    assert rep["size"]["n_words"] > 0 and rep["size"]["n_chars"] > 0
    # language table covers every doc
    assert sum(v["n_docs"] for v in rep["languages"].values()) == n
    # duplication identities
    dup = rep["duplication"]
    assert dup["distinct_texts"] + dup["exact_dup_docs"] == n
    assert 0 < dup["near_dup_clusters"] <= n
    assert dup["near_dup_docs"] == n - dup["near_dup_clusters"]
    assert 0 <= rep["repetition_offenders"] <= n
    assert len(rep["top_tokens"]) == 10
    assert all(k in rep["pii"] for k in ("email", "ssn", "phone", "ipv4"))
    sup = rep["surprisal_milli_bits_per_tok"]
    assert sup["ccnet_head_max"] <= sup["ccnet_middle_max"]
    by_lang = spark.read.parquet(str(tmp_path / "report") + "/by_lang")
    assert by_lang.count() == len(rep["languages"])


def test_run_corpus_pipeline_checkpoint_resume(spark, tmp_path):
    """--checkpoint-dir: the first run persists post-near-dup state; a
    rerun resumes from the annotate stage (funnel says so), reuses the
    checkpointed near-dup pairs for the leak-free split, and produces
    identical shards."""
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_corpus_pipeline
    finally:
        sys.path.pop(0)

    ckpt = str(tmp_path / "ckpt")
    common = [
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--near-dup-threshold", "0.5",
        "--val-fraction", "0.2",       # exercises the checkpointed pairs
        "--checkpoint-dir", ckpt,
    ]

    def run(out):
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = run_corpus_pipeline.main(common + ["--output", out])
        assert rc == 0
        return json.loads(buf.getvalue().strip().splitlines()[-1])["funnel"]

    f1 = run(str(tmp_path / "corpus1"))
    assert "resumed" not in f1 and "after_near_dedup" in f1
    f2 = run(str(tmp_path / "corpus2"))
    assert f2["resumed"] is True
    # the resumed run skipped the dedup stages but kept their funnel rows
    assert f2["after_near_dedup"] == f1["after_near_dedup"]
    a = spark.read.parquet(str(tmp_path / "corpus1") + "/shards")
    b = spark.read.parquet(str(tmp_path / "corpus2") + "/shards")
    ka = {(r["doc_id"], r["split"]) for r in a.select("doc_id", "split").collect()}
    kb = {(r["doc_id"], r["split"]) for r in b.select("doc_id", "split").collect()}
    assert ka == kb


def test_run_corpus_pipeline_bpe_stage(spark, tmp_path):
    """--bpe-merges trains the tokenizer on the surviving corpus, writes
    it beside the shards, and annotates tokenizer-true token counts."""
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_corpus_pipeline
    finally:
        sys.path.pop(0)

    out = str(tmp_path / "corpus")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run_corpus_pipeline.main([
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", out,
            "--near-dup-threshold", "0.5",
            "--bpe-merges", "8",
        ])
    assert rc == 0
    funnel = json.loads(buf.getvalue().strip().splitlines()[-1])["funnel"]
    assert funnel["bpe_merges"] == 8
    merges = spark.read.parquet(out + "/tokenizer")
    assert merges.count() == 8 and set(merges.columns) == {
        "rank", "left", "right", "cnt"
    }
    shards = spark.read.parquet(out + "/shards")
    row = shards.select("n_words", "n_bpe_tokens").first()
    assert row["n_bpe_tokens"] is not None
    # BPE over characters can only be >= whitespace word count after few
    # merges; and every doc got a count
    assert shards.where(F.col("n_bpe_tokens").isNull()).count() == 0
    assert shards.where(
        F.col("n_bpe_tokens") < F.col("n_words")
    ).count() == 0


def test_run_delta_er_job(spark, tmp_path, monkeypatch, capsys):
    """jobs/run_delta_er.py: bootstrap on day-0 names, fold a day-1 delta of
    typo'd twins into the persisted state — twins must land in their
    original's group, entity ids must survive, state versions must advance,
    and old groups must never split. The folds take the driver path; with
    the token-similarity gates forced below any input they take the
    distributed fold and write the same state."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_delta_er
    finally:
        sys.path.pop(0)

    day0 = spark.createDataFrame(
        [(f"acme widget company {i}",) for i in range(30)], ["repo"]
    )
    day1 = spark.createDataFrame(
        # typo'd twins of the first 10 + 5 brand-new singletons
        [(f"acme widget compny {i}",) for i in range(10)]
        + [(f"zzz unrelated {i}",) for i in range(5)],
        ["repo"],
    )
    p0, p1 = str(tmp_path / "d0.parquet"), str(tmp_path / "d1.parquet")
    day0.write.parquet(p0)
    day1.write.parquet(p1)
    state = str(tmp_path / "state")

    rc = run_delta_er.main([
        "--init", "--delta-input", p0, "--string-col", "repo",
        "--state", state, "--threshold", "0.7",
    ])
    assert rc == 0
    with open(state + "/CURRENT") as f:
        assert f.read().strip() == "v000001"
    c0 = spark.read.parquet(state + "/v000001/clusters")
    ids0 = {r["node"]: r["entity_id"]
            for r in spark.read.parquet(state + "/v000001/entity_ids").collect()}
    groups0 = {r["string"]: r["group"] for r in c0.collect()}

    rc = run_delta_er.main([
        "--delta-input", p1, "--string-col", "repo",
        "--state", state, "--threshold", "0.7",
    ])
    assert rc == 0
    with open(state + "/CURRENT") as f:
        assert f.read().strip() == "v000002"
    c1 = spark.read.parquet(state + "/v000002/clusters")
    groups1 = {r["string"]: r["group"] for r in c1.collect()}
    ids1 = {r["node"]: r["entity_id"]
            for r in spark.read.parquet(state + "/v000002/entity_ids").collect()}

    # every typo'd twin joined its original's group
    for i in range(10):
        assert groups1[f"acme widget compny {i}"] == \
            groups1[f"acme widget company {i}"], i
    # the unrelated newcomers may match each other (they are mutual
    # near-twins) but never an acme group
    for i in range(5):
        g = groups1[f"zzz unrelated {i}"]
        members = [s for s, v in groups1.items() if v == g]
        assert all(s.startswith("zzz") for s in members), members
    # old groups never split (unite is monotone): same-group-before ⇒ same after
    import itertools
    for a, b in itertools.islice(itertools.combinations(groups0, 2), 500):
        if groups0[a] == groups0[b]:
            assert groups1[a] == groups1[b]
    # entity ids survive for every day-0 string
    for s in groups0:
        assert ids1[s] == ids0[s], s
    # twins share their original's entity id
    for i in range(10):
        assert ids1[f"acme widget compny {i}"] == \
            ids1[f"acme widget company {i}"]
    # carried token table covers the union universe exactly
    toks = spark.read.parquet(state + "/v000002/tokens")
    assert set(r["string"] for r in toks.select("string").distinct().collect()) \
        == set(groups1)
    # every written version holds elected labels, which is what lets the
    # next fold read its prior clusters without re-electing them
    from nama_spark.operators.matchdata import elect_labels

    for c in (c0, c1):
        elected = elect_labels(c).select("string", "count", "group")
        assert sorted(c.select("string", "count", "group").collect()) == \
            sorted(elected.collect())

    # two more folds, then bootstrap + the same three folds with both gates
    # forced below any input: every version's clusters and ids are the same
    days = [p0, p1]
    for n, rows in (
        (2, [(f"acme widget co {i}",) for i in range(10, 20)]
            + [(f"zzz unrelatd {i}",) for i in range(3)]),
        (3, [(f"acme widgt company {i}",) for i in range(20, 30)]
            + [("acme widget company 0",)]),
    ):
        days.append(str(tmp_path / f"d{n}.parquet"))
        spark.createDataFrame(rows, ["repo"]).write.parquet(days[-1])
    for p in days[2:]:
        assert run_delta_er.main([
            "--delta-input", p, "--string-col", "repo",
            "--state", state, "--threshold", "0.7",
        ]) == 0
    summaries = [json.loads(line) for line in
                 capsys.readouterr().out.strip().splitlines()]
    assert [sm.get("fold") for sm in summaries] == ["driver"] * 4

    from nama_spark.operators import token_similarity as TS

    monkeypatch.setattr(TS, "_TOKENSIM_BROADCAST_TOKEN_ROWS", -1)
    monkeypatch.setattr(TS, "_TOKENSIM_DRIVER_FIT_STRINGS", -1)
    forced = str(tmp_path / "state_forced")
    for i, p in enumerate(days):
        assert run_delta_er.main(
            (["--init"] if i == 0 else [])
            + ["--delta-input", p, "--string-col", "repo",
               "--state", forced, "--threshold", "0.7"]
        ) == 0
    forced_summaries = [json.loads(line) for line in
                        capsys.readouterr().out.strip().splitlines()]
    assert [sm.pop("fold", None) for sm in forced_summaries] == \
        ["distributed"] * 4
    for sm in summaries + forced_summaries:
        sm.pop("fold", None)
        sm.pop("wall_sec")
    assert forced_summaries == summaries

    import pyarrow.parquet as pq

    def file_schemas(path):
        # from the parquet footers: Spark's reader makes every column
        # nullable, so only the files show a NOT NULL column
        return {pq.read_schema(f).to_string(show_schema_metadata=False)
                for f in glob.glob(f"{path}/*.parquet")}

    for v in range(1, 5):
        for table in ("clusters", "entity_ids", "tokens"):
            got, want = (
                sorted(spark.read.parquet(f"{st}/v{v:06d}/{table}").collect())
                for st in (forced, state)
            )
            assert got == want, (v, table)
            got, want = (file_schemas(f"{st}/v{v:06d}/{table}")
                         for st in (forced, state))
            assert got == want and len(got) == 1, (v, table, got, want)


def test_run_delta_er_state_over_a_gate_moves_no_rows(
    spark, tmp_path, monkeypatch, capsys
):
    """A state over the token-row gate takes the distributed fold without
    collecting any table to the driver first: the state gates are checked
    on the parquet footers' row counts."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_delta_er
    finally:
        sys.path.pop(0)

    p0, p1 = str(tmp_path / "d0.parquet"), str(tmp_path / "d1.parquet")
    spark.createDataFrame(
        [(f"acme widget company {i}",) for i in range(8)], ["repo"]
    ).write.parquet(p0)
    spark.createDataFrame(
        [(f"acme widget compny {i}",) for i in range(3)], ["repo"]
    ).write.parquet(p1)
    state = str(tmp_path / "state")
    argv = ["--string-col", "repo", "--state", state, "--threshold", "0.7"]
    assert run_delta_er.main(["--init", "--delta-input", p0] + argv) == 0

    from nama_spark.operators import token_similarity as TS

    monkeypatch.setattr(TS, "_TOKENSIM_BROADCAST_TOKEN_ROWS", 1)

    def no_driver_read(*_a, **_k):
        raise AssertionError("a table was collected above the gate")

    monkeypatch.setattr(run_delta_er, "_rows", no_driver_read)
    assert run_delta_er.main(["--delta-input", p1] + argv) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["fold"] == "distributed"
    groups = {r["string"]: r["group"] for r in
              spark.read.parquet(state + "/v000002/clusters").collect()}
    for i in range(3):
        assert groups[f"acme widget compny {i}"] == \
            groups[f"acme widget company {i}"]


def test_run_delta_er_fold_over_the_pair_gate_runs_distributed(
    spark, tmp_path, monkeypatch, capsys
):
    """A delta whose blocks hold more pairs than _TOKENSIM_DRIVER_PAIRS
    takes the relational fold, which writes the rows the driver fold
    writes."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    try:
        import run_delta_er
    finally:
        sys.path.pop(0)

    from nama_spark.operators import token_similarity as TS

    p0, p1 = str(tmp_path / "d0.parquet"), str(tmp_path / "d1.parquet")
    spark.createDataFrame(
        [(f"acme widget company {i}",) for i in range(12)], ["repo"]
    ).write.parquet(p0)
    spark.createDataFrame(
        [(f"acme widget compny {i}",) for i in range(4)] + [("zzz new",)],
        ["repo"],
    ).write.parquet(p1)
    folds = {}
    for gate in (TS._TOKENSIM_DRIVER_PAIRS, 0):
        monkeypatch.setattr(TS, "_TOKENSIM_DRIVER_PAIRS", gate)
        state = str(tmp_path / f"state_{gate}")
        argv = ["--string-col", "repo", "--state", state, "--threshold", "0.7"]
        assert run_delta_er.main(["--init", "--delta-input", p0] + argv) == 0
        assert run_delta_er.main(["--delta-input", p1] + argv) == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        folds[summary["fold"]] = [
            sorted(spark.read.parquet(f"{state}/v000002/{t}").collect())
            for t in ("clusters", "entity_ids", "tokens")
        ]
    assert sorted(folds) == ["distributed", "driver"]
    assert folds["distributed"] == folds["driver"]


def test_no_environment_reads_outside_session():
    """Source guard: the library's size gates are plain constants; only
    session.py reads the environment (its deployment settings)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "nama_spark"
    offenders = [
        f"{p.relative_to(root)}:{no}"
        for p in sorted(root.rglob("*.py"))
        if p.name != "session.py" or p.parent != root
        for no, line in enumerate(p.read_text().splitlines(), 1)
        if "environ" in line or "getenv" in line
    ]
    assert not offenders, offenders


def test_embedding_and_brp_cosine_each_live_once():
    """Source guard: the per-string random-projection embedding and the
    1 − e·e/2 cosine each appear once in the library; both embedding
    paths call the one embedding, and both threshold scans (driver and
    tiled) run the one block step that applies the cosine."""
    import inspect
    import pathlib

    from nama_spark.operators import embed as E

    root = pathlib.Path(__file__).resolve().parents[1] / "nama_spark"
    for needle in ("val @ proj[idx]", "euclid * euclid / 2.0"):
        hits = [
            f"{p.relative_to(root)}:{no}"
            for p in sorted(root.rglob("*.py"))
            for no, line in enumerate(p.read_text().splitlines(), 1)
            if needle in line
        ]
        assert len(hits) == 1, (needle, hits)
    for fn, shared in [
        (E.embed_strings, "_embed_one("),
        (E.embed_driver, "_embed_one("),
        (E._brp_block, "_euclid_cos("),
        (E.lsh_candidates, "_brp_block("),
        (E.brp_pairs, "_brp_block("),
    ]:
        assert shared in inspect.getsource(fn), (fn.__name__, shared)


def test_document_near_dup_steps_each_live_once():
    """Source guard: each step the document dedup families share — the
    k-token window, the band table, the band-key join, the prefilter →
    verify chain and the below-``before`` version filter of streaming
    state — is written once in the library (no copy keyed on a literal
    band column either), and every public operator that runs the step
    calls its helper."""
    import inspect
    import pathlib

    from nama_spark.operators import dedup as D
    from nama_spark.streaming import dedup as SD
    from nama_spark.streaming import er as SE

    root = pathlib.Path(__file__).resolve().parents[1] / "nama_spark"
    for needle, n in [
        ("F.sequence(F.lit(0), n - F.lit(k))", 1),
        ("F.explode(arr)", 1),
        ('["band", key]', 1),
        ('["band", "bsig"]', 0),
        ('["band", "bh"]', 0),
        ("_overlap_prefilter(", 1),
        ("v < before", 1),
    ]:
        hits = [
            f"{p.relative_to(root)}:{no}"
            for p in sorted(root.rglob("*.py"))
            for no, line in enumerate(p.read_text().splitlines(), 1)
            if needle in line and not line.lstrip().startswith("def ")
        ]
        assert len(hits) == n, (needle, hits)
    for fn, shared in [
        (D.word_shingles, "_token_windows("),
        (D.duplicated_span_profile, "_token_windows("),
        (D.remove_duplicated_spans, "_token_windows("),
        (D.minhash_lsh_pairs, "_minhash_bands("),
        (D.minhash_band_index, "_minhash_bands("),
        (D._minhash_bands, "_explode_bands("),
        (D.simhash_band_index, "_explode_bands("),
        (D.simhash_near_pairs, "simhash_band_index("),
        (D.simhash_near_pairs_delta, "simhash_band_index("),
        (D._band_pairs, "_band_join("),
        (D._band_pairs_delta, "_band_join("),
        (D.minhash_lsh_pairs, "_band_pairs("),
        (D.minhash_lsh_pairs_delta, "_band_pairs_delta("),
        (D.simhash_near_pairs, "_band_pairs("),
        (D.simhash_near_pairs_delta, "_band_pairs_delta("),
        (SD.streaming_dedup_corpus, "_band_join("),
        (D._overlap_pairs, "_overlap_prefilter("),
        (D.ngram_jaccard_pairs, "_overlap_pairs("),
        (D.containment_pairs, "_overlap_pairs("),
        (D.winnow_near_pairs, "_overlap_pairs("),
        (SE.load_state, "_read_versions("),
        (SE.load_token_state, "_read_versions("),
        (SD.load_band_index, "_read_versions("),
        (SE._prune_versions, "before=current"),
    ]:
        assert shared in inspect.getsource(fn), (fn.__name__, shared)


def test_building_from_scratch_is_a_fold():
    """Source guard: TokenSimilarity has one fit step (one tokenize, one
    weight, one adoption of the driver fit) behind fit and
    fit_incremental, neither of which calls the other; the delta job's
    bootstrap and the streaming first batch fold into the empty state
    instead of running a separate from_unmatched → fit → predict path."""
    import inspect
    import pathlib

    from nama_spark.operators.token_similarity import TokenSimilarity

    root = pathlib.Path(__file__).resolve().parents[1]
    src = (root / "nama_spark/operators/token_similarity.py").read_text()
    for needle in ("tokens_table(", "token_weights(", "self._fit_driver("):
        assert src.count(needle) == 1, needle
    for path in ("jobs/run_delta_er.py", "nama_spark/streaming/er.py"):
        text = (root / path).read_text()
        for needle in ("from_unmatched(", ".predict("):
            assert needle not in text, (path, needle)
    fit = inspect.getsource(TokenSimilarity.fit)
    fit_incremental = inspect.getsource(TokenSimilarity.fit_incremental)
    assert "self.fit_incremental(" not in fit
    assert "self.fit(" not in fit_incremental
    assert "self._fit(" in fit and "self._fit(" in fit_incremental


def test_run_delta_er_delta_strings_counts_distinct_non_null(
    spark, tmp_path, monkeypatch, capsys
):
    """``delta_strings`` counts the delta's distinct non-NULL strings (the
    ones add_strings keeps) on the bootstrap and on a later fold, with the
    token-similarity gates at their defaults and forced below any input."""
    import pathlib
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "jobs"))
    try:
        import run_delta_er
    finally:
        sys.path.pop(0)

    from nama_spark.operators import token_similarity as TS

    days = []
    for n, rows in enumerate((
        ["acme widget company", None, "acme widget company", "zeta corp"],
        ["acme widget compny", None, "zeta corp", "zeta corp"],
    )):
        days.append(str(tmp_path / f"d{n}.parquet"))
        spark.createDataFrame([(r,) for r in rows], "repo string").write.parquet(
            days[-1]
        )

    def run(state):
        for i, p in enumerate(days):
            assert run_delta_er.main(
                (["--init"] if i == 0 else [])
                + ["--delta-input", p, "--string-col", "repo",
                   "--state", state, "--threshold", "0.7"]
            ) == 0
        return [json.loads(line) for line in
                capsys.readouterr().out.strip().splitlines()]

    default = run(str(tmp_path / "state"))
    monkeypatch.setattr(TS, "_TOKENSIM_BROADCAST_TOKEN_ROWS", -1)
    monkeypatch.setattr(TS, "_TOKENSIM_DRIVER_FIT_STRINGS", -1)
    forced = run(str(tmp_path / "state_forced"))
    assert [sm["fold"] for sm in default] == ["driver"] * 2
    assert [sm["fold"] for sm in forced] == ["distributed"] * 2
    assert [sm["delta_strings"] for sm in default] == [2, 2]
    assert [sm["delta_strings"] for sm in forced] == [2, 2]


def test_no_mllib_brp_join_in_the_library():
    """Source guard: one exact scan serves candidate_mode="lsh" and
    lsh_topk, so MLlib's bucketed BRP join is not called anywhere in the
    library (tests keep it as a reference only)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "nama_spark"
    hits = [
        f"{p.relative_to(root)}:{no}"
        for p in sorted(root.rglob("*.py"))
        for no, line in enumerate(p.read_text().splitlines(), 1)
        if "BucketedRandomProjectionLSH" in line or "approxSimilarityJoin" in line
    ]
    assert not hits, hits


def test_pipeline_keys_once_and_the_key_window_lives_once():
    """Source guard: plans/pipeline.py evaluates the normalization key, runs
    the bounded collect and writes the join pullback once each (its shared
    keyed universe), and the key → anchor window lives only in
    block.exact_key_edges, which MatchData.unite and ExactKeyPass call."""
    import inspect
    import pathlib
    import re

    from nama_spark.operators import block
    from nama_spark.operators.matchdata import MatchData
    from nama_spark.plans.pipeline import ExactKeyPass

    root = pathlib.Path(__file__).resolve().parents[1] / "nama_spark"
    src = (root / "plans" / "pipeline.py").read_text()
    for needle in ("collect_rows(", "norm_key(", '.join(k0, "s0")'):
        assert src.count(needle) == 1, needle
    key_window = re.compile(r"""Window\.partitionBy\(\s*["']_*key["']""")
    hits = [
        f"{p.relative_to(root)}:{no}"
        for p in sorted(root.rglob("*.py"))
        for no, line in enumerate(p.read_text().splitlines(), 1)
        if key_window.search(line)
    ]
    assert len(hits) == 1, hits
    assert key_window.search(inspect.getsource(block.exact_key_edges))
    for fn in (MatchData.unite, ExactKeyPass.edges):
        assert "exact_key_edges(" in inspect.getsource(fn), fn.__qualname__


def test_connected_components_decides_alone():
    """Source guard: connected_components is the only place that chooses
    between driver union-find and the star rounds. The union-find runs only
    in cluster.py and in the driver fold (its own row twin), no second
    edge-cap knob exists, and the unites reach CC through MatchData.unite
    rather than labels_for_nodes."""
    import pathlib

    repo = pathlib.Path(__file__).resolve().parents[1]
    files = sorted((repo / "nama_spark").rglob("*.py")) + sorted(
        (repo / "jobs").rglob("*.py"))

    def hits(needle, paths):
        return [
            f"{p.relative_to(repo)}:{no}"
            for p in paths
            for no, line in enumerate(p.read_text().splitlines(), 1)
            if needle in line
        ]

    uf = hits("_union_find_local(", files)
    assert {h.split(":")[0] for h in uf} == {
        "nama_spark/operators/cluster.py", "nama_spark/operators/delta_fold.py"
    }, uf
    for knob in ("driver_edge_cap", "driver-edge-cap"):
        assert not hits(knob, files), knob
    ops = repo / "nama_spark" / "operators"
    assert not hits("labels_for_nodes(", [
        ops / "matchdata.py", ops / "token_similarity.py", ops / "embed.py"
    ])


def test_every_ann_topk_runs_the_one_exact_scan():
    """Source guard: every exact top-k of ann.py runs _exact_topk's
    broadcast-query scan. cosine_sim_expr is the tests' reference and no
    library code calls it, the numpy kernel is built once, in
    _exact_topk, and applyInPandas serves only the k-means and codebook
    fits (no per-cell re-rank that shuffles the index)."""
    import ast
    import inspect
    import pathlib

    from nama_spark.operators import ann

    root = pathlib.Path(__file__).resolve().parents[1] / "nama_spark"

    def calls(needle):
        return [
            f"{p.relative_to(root)}:{no}"
            for p in sorted(root.rglob("*.py"))
            for no, line in enumerate(p.read_text().splitlines(), 1)
            if needle in line and not line.lstrip().startswith("def ")
        ]

    assert not calls("cosine_sim_expr("), calls("cosine_sim_expr(")
    assert len(calls("_cosine_topk_ties(")) == 1, calls("_cosine_topk_ties(")
    assert "_cosine_topk_ties(" in inspect.getsource(ann._exact_topk)
    path = pathlib.Path(ann.__file__)
    src = path.read_text()
    owner = {}
    for node in ast.parse(src).body:
        if isinstance(node, ast.FunctionDef):
            for no in range(node.lineno, node.end_lineno + 1):
                owner[no] = node.name
    users = {
        owner.get(no)
        for no, line in enumerate(src.splitlines(), 1)
        if "applyInPandas" in line
    }
    assert users <= {
        "_np_kmeans", "_group_kmeans", "ivf2_fit_centroids", "pq_fit_codebooks"
    }, users


def test_run_linkage_job_one_to_one_mode(spark, tmp_path):
    """jobs/run_linkage.py --mode one_to_one: the peeling selection links
    every left to a distinct right and records the peel round."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_linkage
    finally:
        sys.path.pop(0)

    left = spark.createDataFrame(
        [(f"acme widgets {i}",) for i in range(12)], ["name_l"]
    )
    right = left.select(
        F.concat(F.lit("the "), F.col("name_l")).alias("name_r")
    )
    lp, rp = str(tmp_path / "l1.parquet"), str(tmp_path / "r1.parquet")
    left.write.parquet(lp)
    right.write.parquet(rp)
    out = str(tmp_path / "links_1to1")
    rc = run_linkage.main([
        "--left", lp, "--left-col", "name_l",
        "--right", rp, "--right-col", "name_r",
        "--mode", "one_to_one", "--threshold", "0.3", "--output", out,
    ])
    assert rc == 0
    rows = spark.read.parquet(out + "/links").collect()
    links = {(r["s0"], r["s1"]) for r in rows}
    assert links == {
        (f"acme widgets {i}", f"the acme widgets {i}") for i in range(12)
    }
    assert all(r["round"] >= 1 for r in rows)
    assert len({r["s1"] for r in rows}) == len(rows)  # exclusive


def test_run_delta_er_job_golden_records(spark, tmp_path):
    """--golden-rules: the state's golden table after a delta day equals a
    FULL golden_records recompute over the record store joined to the
    current partition (the delta-fusion contract, at the job surface)."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    try:
        import run_delta_er
    finally:
        sys.path.pop(0)

    from nama_spark.operators.fusion import golden_records

    day0 = spark.createDataFrame(
        [(f"acme widget company {i}",) for i in range(20)], ["repo"]
    )
    day1 = spark.createDataFrame(
        [(f"acme widget compny {i}",) for i in range(6)], ["repo"]
    )
    # record store: rows for every string seen so far, with fields to fuse
    recs = spark.createDataFrame(
        [(f"acme widget company {i}", f"desc{i:02d}" + "x" * (i % 3), i * 10)
         for i in range(20)]
        + [(f"acme widget compny {i}", f"short{i}", 1000 + i)
           for i in range(6)],
        ["repo", "descr", "stars"],
    )
    p0, p1 = str(tmp_path / "g0.parquet"), str(tmp_path / "g1.parquet")
    pr = str(tmp_path / "grecs.parquet")
    day0.write.parquet(p0)
    day1.write.parquet(p1)
    recs.write.parquet(pr)
    state = str(tmp_path / "gstate")

    rules = "descr=longest,stars=max"
    rc = run_delta_er.main([
        "--init", "--delta-input", p0, "--string-col", "repo",
        "--state", state, "--threshold", "0.7",
        "--golden-rules", rules, "--records-input", pr,
    ])
    assert rc == 0
    rc = run_delta_er.main([
        "--delta-input", p1, "--string-col", "repo",
        "--state", state, "--threshold", "0.7",
        "--golden-rules", rules, "--records-input", pr,
    ])
    assert rc == 0

    clusters = spark.read.parquet(state + "/v000002/clusters")
    golden = spark.read.parquet(state + "/v000002/golden")
    want = golden_records(
        recs.join(
            clusters.select(F.col("string").alias("repo"), "group"), "repo"
        ),
        "group",
        {"descr": "longest", "stars": "max"},
    )
    got = {r["group"]: (r["n_members"], r["descr"], r["stars"])
           for r in golden.collect()}
    wnt = {r["group"]: (r["n_members"], r["descr"], r["stars"])
           for r in want.collect()}
    assert got == wnt and len(got) > 0
    # twins merged into their originals' clusters: those golden rows must
    # reflect the arrival (stars=max picks the 1000+ arrival value)
    merged = {r["group"] for r in clusters.where(
        F.col("string").like("%compny%")).collect()}
    assert all(got[g][2] >= 1000 for g in merged)
