"""End-to-end gate (BASELINE.md §2): the Spark pipeline must reproduce
reference-semantics MatchGroups at pairwise F1 ≥ 0.99 on labeled same-block
pairs, with the per-row sha256(content) invariant holding, and must be
resumable from checkpoints."""

import networkx as nx
import pytest
from pyspark.sql import functions as F

from fixtures.make_fixtures import fixture_dataframes, make_fixture
from nama_spark.operators.evaluate import score_predicted
from nama_spark.operators.matchdata import MatchData
from nama_spark.plans.pipeline import (
    ExactKeyPass,
    MatchPipeline,
    TokenSimPass,
    assign_records,
    sha256_invariant_violations,
)

from tests.oracle_tokensim import (
    oracle_fit,
    oracle_candidate_pairs,
    oracle_jaccard,
    oracle_simplify_corp,
)

THRESHOLD = 0.7
CFG = dict(tokenizer="nmgrams23", weighting="tf-idf", measure="jaccard",
           max_block_size=100)


def _reference_matchgroups(strings: list[str]) -> dict[str, frozenset]:
    """Reference-semantics clustering in pure Python: exact simplify_corp key
    pass, then token-similarity pass over the normalized forms at THRESHOLD;
    partition = transitive closure (the nama MatchGroups equivalent)."""
    g = nx.Graph()
    g.add_nodes_from(strings)
    by_key = {}
    norm_of = {}
    for s in strings:
        k = oracle_simplify_corp(s)
        norm_of[s] = k
        by_key.setdefault(k, []).append(s)
    for members in by_key.values():
        for other in members[1:]:
            g.add_edge(members[0], other)

    norms = sorted({k for k in norm_of.values() if k})
    tok_sets, weights, doc = oracle_fit(norms, CFG["tokenizer"], CFG["weighting"])
    for a, b in oracle_candidate_pairs(tok_sets, doc, CFG["max_block_size"]):
        if oracle_jaccard(tok_sets[a], tok_sets[b], weights) >= THRESHOLD:
            g.add_edge(
                by_key[a][0], by_key[b][0]
            )  # any representative; closure spreads it
    comp_of = {}
    for comp in nx.connected_components(g):
        fs = frozenset(comp)
        for s in comp:
            comp_of[s] = fs
    return comp_of


@pytest.fixture(scope="module")
def fixture_run(spark, tmp_path_factory):
    fx = make_fixture(seed=42, n_entities=50)
    records, gold, pairs = fixture_dataframes(spark, fx)
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    pipe = MatchPipeline(
        passes=[ExactKeyPass(key="simplify_corp"),
                TokenSimPass(threshold=THRESHOLD, **CFG)],
        checkpoint_dir=ckpt,
    )
    md, lineage = pipe.run(records, string_col="repo")
    return fx, records, gold, pairs, md, ckpt, pipe


def test_f1_vs_reference_matchgroups(spark, fixture_run):
    fx, records, gold, pairs, md, _, _ = fixture_run
    strings = [s for s, _, _ in fx.gold]
    ref = _reference_matchgroups(strings)
    # reference partition as a MatchData
    rows = [(s, c, min(ref[s])) for s, c, _ in fx.gold]
    ref_md = MatchData(spark.createDataFrame(rows, ["string", "count", "group"]))
    s = score_predicted(md, ref_md, use_counts=True)
    assert s["F1"] >= 0.99, s


def test_f1_on_labeled_block_pairs(spark, fixture_run):
    fx, records, gold, pairs, md, _, _ = fixture_run
    # pair-level agreement on labeled same-block pairs, reference semantics
    strings = [s for s, _, _ in fx.gold]
    ref = _reference_matchgroups(strings)
    pred = {r["string"]: r["group"] for r in md.df.collect()}
    tp = fp = fn = 0
    for s0, s1, _, _ in fx.labeled_pairs:
        ref_same = ref[s0] is ref[s1] or ref[s0] == ref[s1]
        pred_same = pred[s0] == pred[s1]
        if pred_same and ref_same:
            tp += 1
        elif pred_same:
            fp += 1
        elif ref_same:
            fn += 1
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    assert f1 >= 0.99, (tp, fp, fn, f1)


def test_gold_quality_sanity(spark, fixture_run):
    """The pipeline should also do reasonably well vs the *generator* gold —
    not a parity gate (threshold-dependent), just a floor."""
    fx, records, gold, pairs, md, _, _ = fixture_run
    s = score_predicted(md, MatchData(gold))
    assert s["F1"] >= 0.7, s
    assert s["precision"] >= 0.8, s


def test_sha256_invariant(spark, fixture_run):
    fx, records, *_ = fixture_run
    # same-seed regeneration = the reference copy
    ref_records, _, _ = fixture_dataframes(spark, make_fixture(seed=42, n_entities=50))
    assert sha256_invariant_violations(records, ref_records).count() == 0
    # a tampered row must surface
    tampered = ref_records.withColumn(
        "content",
        F.when(F.col("path").contains("_00."), F.concat(F.col("content"), F.lit("x")))
        .otherwise(F.col("content")),
    )
    assert sha256_invariant_violations(records, tampered).count() > 0


def test_assign_records_joins_back(spark, fixture_run):
    fx, records, gold, pairs, md, _, _ = fixture_run
    assigned = assign_records(records, md, string_col="repo")
    assert assigned.where(F.col("entity_group").isNull()).count() == 0
    assert assigned.count() == records.count()


def test_resume_from_checkpoint(spark, fixture_run):
    fx, records, gold, pairs, md, ckpt, pipe = fixture_run
    md2, lineage2 = pipe.run(records, string_col="repo", resume=True)
    lin_all = spark.read.parquet(f"{ckpt}/lineage.parquet")
    resumed = lin_all.where(
        F.col("metric") == "resumed_from_checkpoint"
    ).count()
    assert resumed >= len(pipe.passes)
    # identical result
    a = {(r["string"], r["group"]) for r in md.df.collect()}
    b = {(r["string"], r["group"]) for r in md2.df.collect()}
    assert a == b
    # lineage parquet written with per-partition stats
    lin = spark.read.parquet(f"{ckpt}/lineage.parquet")
    assert lin.where(F.col("metric") == "partition_rows").count() > 0


def test_embedding_pass_precomputed_vectors(spark, tmp_path):
    """EmbeddingPass(vectors_path=...) — the production encoder path: edges
    from precomputed (string, vec) parquet equal the inline-embedder edges,
    and missing vectors are counted, not fatal."""
    from fixtures.make_fixtures import fixture_dataframes, make_fixture
    from nama_spark.operators.embed import embed_strings
    from nama_spark.operators.matchdata import MatchData
    from nama_spark.plans.lineage import LineageLog
    from nama_spark.plans.pipeline import EmbeddingPass

    fx = make_fixture(seed=5, n_entities=40, max_files=2)
    records, _, _ = fixture_dataframes(spark, fx)
    names = records.select(F.col("repo").alias("string")).distinct()
    md = MatchData.from_unmatched(names)

    vec_path = str(tmp_path / "vectors.parquet")
    embed_strings(
        md.df.select("string"), count_col=None, dim=32, seed=9
    ).write.parquet(vec_path)

    inline = EmbeddingPass(
        threshold=0.5, dim=32, seed=9, normalize=None,
        candidate_mode="bruteforce",
    )
    precomp = EmbeddingPass(
        threshold=0.5, normalize=None, candidate_mode="bruteforce",
        vectors_path=vec_path,
    )
    e_inline = {
        (r["src"], r["dst"])
        for r in inline.edges(md, LineageLog(spark, None)).collect()
    }
    e_pre = {
        (r["src"], r["dst"])
        for r in precomp.edges(md, LineageLog(spark, None)).collect()
    }
    assert e_inline == e_pre and len(e_pre) > 0

    # drop some vectors: the pass skips those strings and logs the gap
    part = spark.read.parquet(vec_path).limit(30)
    vec2 = str(tmp_path / "vectors_partial.parquet")
    part.write.parquet(vec2)
    lin = LineageLog(spark, None)
    partial = EmbeddingPass(
        threshold=0.5, normalize=None, candidate_mode="bruteforce",
        vectors_path=vec2,
    )
    partial.edges(md, lin).count()
    metrics = {
        (r["stage"], r["metric"]): r["value"] for r in lin.to_df().collect()
    }
    assert metrics[("embedding", "strings_with_vectors")] == 30.0
    assert ("embedding", "strings_missing_vectors") in metrics


_DIRTY = [
    "Acme Labs, Inc.", "ACME LABS LLC", "acme labs inc", "Acme Lab",
    "Globex Systems Ltd", "globex systemz", "The Globex Systems",
    "Initech Holdings", "initech holding co", "Umbrella Corp",
    "Umbrella Corporation International", "Umbrella Corporation Internatonal",
    None, "", " ", " , ",
]


@pytest.mark.parametrize("normalize", ["simplify_corp", None])
def test_passes_share_one_keyed_collect(spark, monkeypatch, normalize):
    """ExactKeyPass, TokenSimPass and EmbeddingPass read one keyed universe
    per normalization key: one bounded collect when all three share the key,
    two when TokenSimPass keys on the raw strings. The partition is the same
    with the collect bound forced below the universe (every pass on its
    Spark path over the pinned keyed frame) and above it."""
    from nama_spark.operators import token_similarity as TS
    from nama_spark.plans import pipeline as P

    calls, collect_rows = [], P.collect_rows

    def counted(df, cap=None):
        calls.append(cap)
        return collect_rows(df, cap)

    monkeypatch.setattr(P, "collect_rows", counted)
    # duplicated records give the names counts above one
    records = spark.createDataFrame(
        [(s,) for s in _DIRTY + _DIRTY[:3]], "repo string"
    )

    def run(cap):
        monkeypatch.setattr(TS, "_TOKENSIM_DRIVER_FIT_STRINGS", cap)
        calls.clear()
        md, _ = MatchPipeline(
            [
                ExactKeyPass(),
                TokenSimPass(0.7, normalize=normalize),
                P.EmbeddingPass(),
            ]
        ).run(records, "repo")
        rows = sorted(
            (r["string"], r["group"]) for r in md.df.collect()
            if r["string"] is not None
        )
        return rows, len(calls)

    driver, n_driver = run(10**9)
    spark_side, n_spark = run(-1)
    assert driver == spark_side
    assert len({g for _s, g in driver}) < len(driver)
    assert n_driver == n_spark == (1 if normalize else 2)
