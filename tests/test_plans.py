"""Physical-plan hygiene: the properties that keep the engine viable at
100 TB — column pruning to the scan, no accidental cartesian products in the
blocking/scoring path, broadcast for small dimension tables. Asserted against
the optimizer's actual output so regressions fail loudly."""

import pytest
from pyspark.sql import functions as F

from fixtures.make_fixtures import fixture_dataframes, make_fixture
from nama_spark.functions.tokenize import token_weights, tokens_table
from nama_spark.operators.block import eligible_tokens, token_block_pairs
from nama_spark.operators.matchdata import MatchData
from nama_spark.operators.score import token_similarity_scores


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def records_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "records.parquet")
    fx = make_fixture(seed=3, n_entities=20)
    records, _, _ = fixture_dataframes(spark, fx)
    records.write.mode("overwrite").parquet(p)
    return p


def test_content_column_pruned_from_name_aggregation(spark, records_parquet):
    """The 10^12-row table's huge `content` column must never reach the
    shuffle when aggregating to the name universe."""
    records = spark.read.parquet(records_parquet)
    names = records.groupBy(F.col("repo").alias("string")).agg(
        F.count(F.lit(1)).alias("count")
    )
    plan = _plan(names)
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "content" not in read_schema, read_schema
    assert "repo" in read_schema


def test_filter_pushdown_reaches_scan(spark, records_parquet):
    records = spark.read.parquet(records_parquet)
    q = records.where(F.col("lang") == "py").select("repo")
    plan = _plan(q)
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "lang" in pushed, pushed


def test_blocking_and_scoring_have_no_cartesian_product(spark):
    strings = [f"name {i} alpha beta" for i in range(50)]
    df = spark.createDataFrame([(s,) for s in strings], ["string"])
    toks = tokens_table(df)
    w = token_weights(toks)
    pairs = token_block_pairs(toks, eligible_tokens(w, 2, 100))
    scored = token_similarity_scores(pairs, toks, w)
    plan = _plan(scored)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_merge_dfs_uses_equi_joins_only(spark):
    md = MatchData(
        spark.createDataFrame(
            [("a", 1, "g"), ("b", 1, "g")], ["string", "count", "group"]
        )
    )
    left = spark.createDataFrame([("a", 1)], ["k", "x"])
    right = spark.createDataFrame([("b", 2)], ["k", "y"])
    out = md.merge_dfs(left, right, left_on="k", right_on="k")
    plan = _plan(out)
    assert "CartesianProduct" not in plan


def test_confusion_df_has_no_group_windows(spark):
    """confusion_df must compute its per-group sums with groupBy aggregates
    joined back, never a Window over group_pred/group_gold — a window puts an
    entire mega-group into one task (guaranteed straggler when one giant
    cluster emerges from over-merging)."""
    from nama_spark.operators.evaluate import confusion_df

    pred = MatchData(
        spark.createDataFrame(
            [(f"s{i}", 1 + i % 3, f"p{i % 4}") for i in range(20)],
            ["string", "count", "group"],
        ),
        _relabel=False,
    )
    gold = MatchData(
        spark.createDataFrame(
            [(f"s{i}", 1, f"g{i % 5}") for i in range(20)],
            ["string", "count", "group"],
        ),
        _relabel=False,
    )
    df = confusion_df(pred, gold)
    plan = _plan(df)
    assert "Window" not in plan, plan


def test_small_weights_table_broadcast(spark):
    """The per-token weight table should end up broadcast into the scoring
    join rather than shuffled — AQE decides at runtime, so execute first and
    inspect the final adaptive plan."""
    strings = [f"name {i} alpha beta" for i in range(50)]
    df = spark.createDataFrame([(s,) for s in strings], ["string"])
    toks = tokens_table(df)
    w = token_weights(toks)
    pairs = token_block_pairs(toks, eligible_tokens(w, 2, 100))
    scored = token_similarity_scores(pairs, toks, w)
    scored.collect()
    final_plan = _plan(scored)
    assert "BroadcastHashJoin" in final_plan or "isFinalPlan=true" in final_plan


def test_new_operators_have_no_cartesian_product(spark):
    """Prefix join, winnowing pairs, and iter_scores (with min_score pushdown)
    must plan as equi-joins — never CartesianProduct/BroadcastNestedLoopJoin."""
    import math

    from nama_spark.functions.tokenize import token_weights, tokens_table
    from nama_spark.operators.block import prefix_filtered_pairs
    from nama_spark.operators.dedup import winnow_near_pairs

    strings = [f"name {i} alpha beta" for i in range(30)]
    df = spark.createDataFrame([(s,) for s in strings], ["string"])
    toks = tokens_table(df, tokenizer="words")
    w = token_weights(toks)
    plan = _plan(prefix_filtered_pairs(toks, w, 0.5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    docs = spark.createDataFrame(
        [(i, f"some shared text body {i % 3} tail") for i in range(20)],
        ["doc_id", "text"],
    )
    plan = _plan(winnow_near_pairs(docs, k=4, window=2, threshold=0.1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shingle_and_winnow_tokenization_materialized_once(spark):
    """Spark's subexpression elimination does not reach into
    higher-order-function lambdas: a split()/md5-array subtree captured in a
    sliding-window lambda is re-evaluated at EVERY window position —
    O(len²) per doc (measured 4× wall on winnowing at sf0.01). The guard is
    a materialization barrier: the tokenization must survive as its own
    projection (CollapseProject would erase the alias if it re-inlined)."""
    from nama_spark.operators.dedup import winnow_fingerprints, word_shingles

    docs = spark.createDataFrame([(1, "a b c d e f g")], ["doc_id", "text"])
    p = _plan(word_shingles(docs))
    assert "__toks" in p, p
    assert p.count("split(") == 1, p
    p = _plan(winnow_fingerprints(docs))
    assert "__grams" in p, p


def test_plan_audit_cheap_queries_clean(spark):
    """tools/plan_audit.py over the cheap pure-relational driver queries:
    zero non-whitelisted scale anti-patterns (cartesian products,
    single-partition exchanges, row-at-a-time Python). The full sweep runs
    as `python tools/plan_audit.py`."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    try:
        from plan_audit import audit
    finally:
        sys.path.pop(0)

    cheap = {
        "normalize_simplify", "normalize_simplify_corp",
        "matchdata_from_unmatched", "exact_key_clusters",
        "token_doc_counts", "tokens_tfidf_weights", "token_block_pairs",
        "pair_jaccard_scores", "group_stats", "merge_dfs_group_join",
        "top_scored_pairs", "tpch_q1_pricing_summary",
        "top_customers_by_revenue", "events_hourly", "events_sessionize",
        "events_sessionize_window", "events_sessionize_capped",
        "dedup_exact_docs", "text_quality_profile",
        "sorted_neighborhood_pairs", "multimodal_video_frames",
        "chunk_documents", "pack_chunks", "corpus_profile",
        "phonetic_soundex_keys", "fingerprint_key_clusters", "doc_keywords",
        "normalize_remove_stopwords", "matchdata_add_strings",
        "matchdata_split",
        "decontam_overlap", "decontaminate_docs", "mixture_rates_lang",
        "mixture_sample_docs", "shuffle_shard_docs",
    }
    results = audit(spark, "/root/testdata/sf0.001", only=cheap)
    assert len(results) == len(cheap)
    bad = {
        k: v for k, v in results.items()
        if v.get("violations") or v.get("error")
    }
    assert not bad, bad


@pytest.fixture()
def no_broadcast(spark):
    """Force sort-merge joins so Exchange presence/absence is what's tested
    (BroadcastExchange would mask the bucketed layout on small test tables)."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_bucketed_join_and_agg_are_exchange_free(spark, tmp_path, no_broadcast):
    """Two tables bucketed by `string` with the same bucket count must join
    with NO Exchange on either side, and a groupBy on the bucket key must
    aggregate in place — the stored layout replaces the shuffle. The same
    join over plain parquet shows the Exchanges the bucketing removes."""
    from nama_spark.sources.bucketed import read_bucketed, write_bucketed

    groups = spark.createDataFrame(
        [(f"name {i}", i % 7) for i in range(100)], ["string", "group"]
    )
    records = spark.createDataFrame(
        [(f"name {i % 100}", i) for i in range(300)], ["string", "file_id"]
    )
    try:
        write_bucketed(
            groups, "bt_groups", "string", n_buckets=4,
            path=str(tmp_path / "bt_groups"),
        )
        write_bucketed(
            records, "bt_records", "string", n_buckets=4,
            path=str(tmp_path / "bt_records"),
        )
        bg, br = read_bucketed(spark, "bt_groups"), read_bucketed(spark, "bt_records")

        joined = br.join(bg, "string")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # the layout is real, not just plan cosmetics: values round-trip
        assert joined.count() == 300

        agg = br.groupBy("string").count()
        assert "Exchange" not in _plan(agg), _plan(agg)

        # contrast: the identical join over plain parquet shuffles both sides
        records.write.mode("overwrite").parquet(str(tmp_path / "flat_records"))
        groups.write.mode("overwrite").parquet(str(tmp_path / "flat_groups"))
        flat = spark.read.parquet(str(tmp_path / "flat_records")).join(
            spark.read.parquet(str(tmp_path / "flat_groups")), "string"
        )
        assert "Exchange" in _plan(flat)
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_groups")
        spark.sql("DROP TABLE IF EXISTS bt_records")


def test_write_matchdata_bucketed_roundtrip(spark, tmp_path, no_broadcast):
    """MatchData persisted bucketed by string joins a same-bucketed record
    table exchange-free — the merge_dfs hot path at record scale."""
    from nama_spark.operators.matchdata import MatchData
    from nama_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
        write_matchdata_bucketed,
    )

    md = MatchData.from_unmatched(
        spark.createDataFrame([(f"co {i}",) for i in range(50)], ["string"])
    )
    try:
        write_matchdata_bucketed(
            md, "bt_md", n_buckets=4, path=str(tmp_path / "bt_md")
        )
        back = read_bucketed(spark, "bt_md")
        assert set(back.columns) == {"string", "count", "group"}
        assert back.count() == 50

        recs = spark.createDataFrame(
            [(f"co {i % 50}", i) for i in range(200)], ["string", "rid"]
        )
        write_bucketed(
            recs, "bt_md_recs", "string", n_buckets=4,
            path=str(tmp_path / "bt_md_recs"),
        )
        j = read_bucketed(spark, "bt_md_recs").join(back, "string")
        assert "Exchange" not in _plan(j), _plan(j)
        assert j.count() == 200
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_md")
        spark.sql("DROP TABLE IF EXISTS bt_md_recs")


def test_bench_benign_stderr_filter():
    """bench.py's stderr filter drops the three documented-benign noise
    families (accumulator-update burst incl. its stack frames, daemon
    BrokenPipe traceback, BlockManager re-register warning) while passing a
    NOVEL error — and its stack trace — through untouched."""
    import bench

    lines = [
        "26/01/01 ERROR DAGScheduler: Failed to update accumulator 42 (Unknown class)\n",
        "org.apache.spark.SparkException: attempted to access non-existent accumulator 42\n",
        "\tat org.apache.spark.util.AccumulatorV2.merge(AccumulatorV2.scala:1)\n",
        "\tat org.apache.spark.scheduler.DAGScheduler.update(DAGScheduler.scala:2)\n",
        "WARN BlockManager: Block rdd_12_3 already exists on this machine\n",
        "Traceback (most recent call last):\n",
        '  File "/opt/spark/python/pyspark/daemon.py", line 10, in worker\n',
        "BrokenPipeError: [Errno 32] Broken pipe\n",
        "26/01/01 ERROR Executor: Exception in task 0.0 in stage 5.0\n",
        "\tat com.example.Whatever.novel(Method.java:1)\n",
        "ordinary progress line\n",
    ]
    kept = list(bench.filter_benign_lines(lines))
    text = "".join(kept)
    assert "accumulator" not in text
    assert "BrokenPipe" not in text
    assert "BlockManager" not in text
    assert "Traceback" not in text  # the daemon traceback header went too
    # the novel error AND its frame survive
    assert "Exception in task 0.0" in text
    assert "com.example.Whatever.novel" in text
    assert "ordinary progress line" in text

    # a NOVEL python traceback is flushed intact (header held one line,
    # then released once the first frame proves it isn't the daemon one)
    novel = [
        "Traceback (most recent call last):\n",
        '  File "/app/mycode.py", line 7, in run\n',
        "ValueError: genuinely new\n",
    ]
    out = "".join(bench.filter_benign_lines(novel))
    assert "Traceback" in out and "mycode.py" in out and "genuinely new" in out
    # the GC'd-accumulator WARN variant is also dropped
    assert list(bench.filter_benign_lines(
        ["WARN AccumulatorContext: Attempted to access garbage collected "
         "accumulator 114108\n"])) == []
