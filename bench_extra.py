"""Phase-level instrumentation for the round-6 optimization work (guide §1:
measure first; noop-sink isolation per §1.4). bench.py is FROZEN for
measurement — this file exists so the expensive timed regions can be broken
into phases and re-measured cheaply while optimizing. Numbers from here are
cited in OPTIMIZATION_r06.md; the official before/after evidence stays the
frozen bench.py run.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py <region> ...

Regions: pipeline_er, candidate_scoring, soft_tfidf, winnow, ngram_jaccard,
embed_ivf, ann_ivf, corpus, explain:<name>
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


class T:
    """Phase timer: T()(name) marks the end of a phase."""

    def __init__(self, spark=None):
        self.t0 = time.time()
        self.rows = []
        self.spark = spark

    def __call__(self, name):
        t = time.time()
        self.rows.append((name, round(t - self.t0, 3)))
        print(f"  [{name}] {t - self.t0:.3f}s", flush=True)
        self.t0 = t
        if self.spark:
            self.spark.sparkContext.setJobDescription(name)


def get_spark():
    from nama_spark.session import get_spark as gs

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return gs(
        "bench_extra", cores=cpus,
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "64")),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def region_pipeline_er(spark, sf_dir):
    from fixtures.make_fixtures import fixture_dataframes, make_fixture
    from nama_spark.functions.normalize import norm_key
    from nama_spark.operators.matchdata import MatchData
    from nama_spark.operators.token_similarity import TokenSimilarity
    from nama_spark.plans.lineage import LineageLog

    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    n_entities = int(os.environ.get("SPARK_GRAFT_ENTITIES", max(100, int(30000 * sf))))
    fx = make_fixture(seed=42, n_entities=n_entities, max_files=3)
    records, _, _ = fixture_dataframes(spark, fx)
    records = records.cache()
    records.count()
    t = T(spark)
    # --- mirror MatchPipeline.run phase by phase ---
    lineage = LineageLog(spark, None)
    names = records.groupBy(F.col("repo").alias("string")).agg(
        F.count(F.lit(1)).alias("count")
    )
    md = MatchData(names.withColumn("group", F.col("string")), _relabel=False)
    n = md.df.count()
    t(f"ingest count ({n})")

    from nama_spark.plans.pipeline import ExactKeyPass, TokenSimPass

    p1 = ExactKeyPass()
    e1 = p1.edges(md, lineage).localCheckpoint()
    t("exact_key edges")
    lineage.add_partition_stats(e1, "exact_key")
    t("exact_key partition stats")

    p2 = TokenSimPass(threshold=0.7)
    e2 = p2.edges(md, lineage).localCheckpoint()
    t("token_sim edges")
    lineage.add_partition_stats(e2, "token_sim")
    t("token_sim partition stats")

    md2 = md.unite(e1.union(e2), small_graph_threshold=100_000)
    md2 = MatchData(md2.df.localCheckpoint(), _relabel=False)
    t("fused unite (CC + relabel)")
    n_groups = md2.df.select("group").distinct().count()
    t(f"groups count ({n_groups})")
    lineage.add_partition_stats(md2.df, "fused_cc")
    t("final partition stats")
    records.unpersist()


def region_candidate_scoring(spark, sf_dir):
    from fixtures.make_fixtures import fixture_dataframes, make_fixture
    from nama_spark.functions.normalize import simplify_corp
    from nama_spark.operators.token_similarity import TokenSimilarity

    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    n_entities = int(os.environ.get("SPARK_GRAFT_ENTITIES", max(100, int(30000 * sf))))
    fx = make_fixture(seed=7, n_entities=n_entities, max_files=3)
    records, _, _ = fixture_dataframes(spark, fx)
    names = records.select(simplify_corp(F.col("repo")).alias("string")).distinct()
    names = names.cache()
    names.count()
    ts = TokenSimilarity(max_block_size=100).fit(names)
    ts._tokens.count()
    ts._weights.count()
    for rep in range(3):
        t = T(spark)
        pairs = ts.candidate_pairs().localCheckpoint()
        n = pairs.count()
        t(f"rep{rep} candidate_pairs ({n})")
        from nama_spark.operators.block import salt_pairs
        from nama_spark.operators.score import token_similarity_scores

        scored = token_similarity_scores(salt_pairs(pairs), ts._tokens, ts._weights)
        n2 = scored.count()
        t(f"rep{rep} scoring ({n2})")
        t0 = time.time()
        n3 = ts.pair_scores().count()
        print(f"  [rep{rep} full pair_scores ({n3})] {time.time() - t0:.3f}s",
              flush=True)
    names.unpersist()


def region_soft_tfidf(spark, sf_dir):
    from nama_spark.operators.score import soft_tfidf_scores

    part = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey", "p_name")
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = part.select(F.col("p_partkey").alias("k"), F.col("p_name").alias("s0"))
    b = part.select((F.col("p_partkey") - 1).alias("k"), F.col("p_name").alias("s1"))
    pairs = a.join(b, "k").repartition(n_parts).cache()
    pairs.count()
    corpus = part.select(F.col("p_name").alias("string"))
    for rep in range(3):
        t = T(spark)
        out = soft_tfidf_scores(pairs, corpus)
        out.agg(F.sum("soft_sym")).collect()
        t(f"rep{rep} soft_tfidf end-to-end")
    pairs.unpersist()


def region_winnow(spark, sf_dir):
    from nama_spark.operators.dedup import winnow_fingerprints, winnow_near_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(64).cache()
    docs.count()
    for rep in range(3):
        t = T(spark)
        fps = winnow_fingerprints(docs, k=8, window=4)
        noop(fps)
        t(f"rep{rep} fingerprints only (noop)")
        n = winnow_near_pairs(docs, k=8, window=4, threshold=0.2).count()
        t(f"rep{rep} full near_pairs ({n})")
    docs.unpersist()


def region_ngram_jaccard(spark, sf_dir):
    from nama_spark.operators.dedup import ngram_jaccard_pairs, word_shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(64).cache()
    docs.count()
    for rep in range(3):
        t = T(spark)
        sh = word_shingles(docs, k=3)
        noop(sh)
        t(f"rep{rep} shingles only (noop)")
        n = ngram_jaccard_pairs(docs, k=3, threshold=0.5, max_df=1000).count()
        t(f"rep{rep} full pairs ({n})")
    docs.unpersist()


def region_embed_ivf(spark, sf_dir):
    from fixtures.make_fixtures import fixture_dataframes, make_fixture
    from nama_spark.operators.embed import embed_strings, ivf_candidates

    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    n_entities = int(os.environ.get("SPARK_GRAFT_ENTITIES", max(100, int(30000 * sf))))
    fx = make_fixture(seed=7, n_entities=max(200, n_entities // 4), max_files=3)
    records, _, _ = fixture_dataframes(spark, fx)
    names = records.select(F.col("repo").alias("string")).distinct()
    for rep in range(3):
        t = T(spark)
        emb = embed_strings(names, count_col=None, dim=64, seed=42)
        emb2 = emb.localCheckpoint()
        n = emb2.count()
        t(f"rep{rep} embed ({n})")
        n2 = ivf_candidates(emb2, 0.8, nprobe=2).count()
        t(f"rep{rep} ivf_candidates ({n2})")


def region_ann_ivf(spark, sf_dir):
    from nama_spark.operators.ann import ivf_fit_centroids, ivf_assign, ivf_topk_delta

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(64).cache()
    n = emb.count()
    n_cells = max(8, min(n // 400, 4096))
    nprobe = max(7, (7 * n_cells + 9) // 10)
    queries = emb.where(F.col("vec_id") < 64)
    for rep in range(3):
        t = T(spark)
        centers = ivf_fit_centroids(emb, n_cells=n_cells).localCheckpoint()
        t(f"rep{rep} fit_centroids")
        assigned = ivf_assign(emb, centers).localCheckpoint()
        t(f"rep{rep} assign")
        out = ivf_topk_delta(queries, centers, assigned, k=10, nprobe=nprobe)
        out.localCheckpoint(eager=False).count()
        t(f"rep{rep} topk")
    emb.unpersist()


def region_corpus(spark, sf_dir):
    import io
    import shutil
    from contextlib import redirect_stdout

    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import run_corpus_pipeline

    out = "/tmp/bench_extra_corpus_out"
    for rep in range(2):
        shutil.rmtree(out, ignore_errors=True)
        t = T(spark)
        buf = io.StringIO()
        with redirect_stdout(buf):
            run_corpus_pipeline.main([
                "--input", f"{sf_dir}/documents.parquet", "--output", out,
                "--near-dup-threshold", "0.8", "--min-quality", "0.3",
                "--langs", "en,de,fr,es,zh,und",
            ])
        t(f"rep{rep} corpus pipeline")




def region_soft_tfidf_phases(spark, sf_dir):
    """soft_tfidf_scores body, phase by phase (mirrors score.py)."""
    from nama_spark.functions.tokenize import tokens_table
    from nama_spark.operators.score import jaro_winkler_udf

    part = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey", "p_name")
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = part.select(F.col("p_partkey").alias("k"), F.col("p_name").alias("s0"))
    b = part.select((F.col("p_partkey") - 1).alias("k"), F.col("p_name").alias("s1"))
    pairs = a.join(b, "k").repartition(n_parts).cache()
    pairs.count()
    corpus = part.select(F.col("p_name").alias("string"))
    s0, s1, string_col, threshold = "s0", "s1", "string", 0.9
    for rep in range(2):
        t = T(spark)
        low = (
            corpus.select(F.lower(F.col(string_col)).alias("string"))
            .where(F.col("string").isNotNull())
            .distinct()
        )
        n_strings = low.count()
        t(f"rep{rep} corpus count ({n_strings})")
        pair_strings = (
            pairs.select(F.lower(F.col(s0)).alias("string"))
            .union(pairs.select(F.lower(F.col(s1)).alias("string")))
            .where(F.col("string").isNotNull())
            .distinct()
        )
        corpus_toks = tokens_table(low, tokenizer="words")
        df_tab = corpus_toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        toks = tokens_table(low.union(pair_strings).distinct(), tokenizer="words")
        v = F.log(F.col("tf") + F.lit(1.0)) * F.log(
            F.lit(float(n_strings)) / F.coalesce(F.col("df"), F.lit(1)).cast("double")
        )
        vtab = toks.join(df_tab, "token", "left").select("string", "token", v.alias("v"))
        nrm = vtab.groupBy("string").agg(
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm")
        )
        wtab = vtab.join(nrm, "string").select(
            "string", "token",
            F.when(F.col("nrm") > 0, F.col("v") / F.col("nrm")).otherwise(F.lit(0.0)).alias("V"),
        ).localCheckpoint()
        t(f"rep{rep} weight table ({wtab.count()})")
        p = pairs.select(
            F.lower(F.col(s0)).alias("l0"), F.lower(F.col(s1)).alias("l1")
        ).distinct()
        t0c = p.join(
            wtab.select(F.col("string").alias("l0"), F.col("token").alias("w"),
                        F.col("V").alias("v0")), "l0",
        )
        t1c = p.join(
            wtab.select(F.col("string").alias("l1"), F.col("token").alias("u"),
                        F.col("V").alias("v1")), "l1",
        )
        tp = t0c.join(t1c, ["l0", "l1"]).localCheckpoint()
        t(f"rep{rep} token cross product ({tp.count()})")
        jw = jaro_winkler_udf()
        tok_pairs = (
            tp.select("w", "u").distinct()
            .withColumn("jw5", F.round(jw(F.col("w"), F.col("u")), 5))
        ).localCheckpoint()
        t(f"rep{rep} distinct JW ({tok_pairs.count()})")
        tp2 = tp.join(tok_pairs, ["w", "u"]).localCheckpoint()
        t(f"rep{rep} join jw back ({tp2.count()})")

        def directed(key_tok, key_v, other_tok, other_v, out_col):
            best = tp2.groupBy("l0", "l1", key_tok, key_v).agg(
                F.max(F.struct("jw5", other_tok, other_v)).alias("b")
            )
            return (
                best.where(F.col("b.jw5") > threshold)
                .groupBy("l0", "l1")
                .agg(F.sum(F.col(key_v) * F.col(f"b.{other_v}") * F.col("b.jw5")).alias(out_col))
            )

        c0 = directed("w", "v0", "u", "v1", "soft01")
        c1 = directed("u", "v1", "w", "v0", "soft10")
        res = (
            p.join(c0, ["l0", "l1"], "left").join(c1, ["l0", "l1"], "left")
            .select("l0", "l1",
                    F.round(F.coalesce("soft01", F.lit(0.0)), 5).alias("soft01"),
                    F.round(F.coalesce("soft10", F.lit(0.0)), 5).alias("soft10"))
        )
        keyed = pairs.withColumn("l0", F.lower(F.col(s0))).withColumn("l1", F.lower(F.col(s1)))
        out = keyed.join(res, ["l0", "l1"])
        out.agg(F.sum("soft01")).collect()
        t(f"rep{rep} argmax + final join")
    pairs.unpersist()


def region_ivf_phases(spark, sf_dir):
    """ivf_candidates body, phase by phase (mirrors embed.py flat path)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    from fixtures.make_fixtures import fixture_dataframes, make_fixture
    from nama_spark.operators.embed import cosine_expr, embed_strings

    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    n_entities = int(os.environ.get("SPARK_GRAFT_ENTITIES", max(100, int(30000 * sf))))
    fx = make_fixture(seed=7, n_entities=max(200, n_entities // 4), max_files=3)
    records, _, _ = fixture_dataframes(spark, fx)
    names = records.select(F.col("repo").alias("string")).distinct()
    cos_threshold, nprobe, sample_per_cell, seed, max_iter = 0.8, 2, 50, 42, 10
    for rep in range(2):
        t = T(spark)
        emb = embed_strings(names, count_col=None, dim=64, seed=42)
        feat = emb.select("string", "vec").localCheckpoint(eager=False)
        n = feat.count()
        t(f"rep{rep} embed+checkpoint ({n})")
        n_cells = max(8, min(n // 400, 4096))
        n_cells = min(n_cells, n)
        fit_frac = min(1.0, (sample_per_cell * n_cells) / max(n, 1))
        fit_df = feat.sample(fraction=fit_frac, seed=seed) if fit_frac < 1.0 else feat
        fit_feat = fit_df.select(
            array_to_vector(F.col("vec").cast("array<double>")).alias("features")
        ).localCheckpoint(eager=False)
        n_fit = fit_feat.count()
        t(f"rep{rep} fit sample ({n_fit})")
        model = KMeans(k=n_cells, seed=seed, maxIter=max_iter,
                       featuresCol="features", predictionCol="cell").fit(fit_feat)
        t(f"rep{rep} MLlib KMeans fit")
        centers_df = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
            ["cell", "centroid"],
        )
        d2 = F.aggregate(
            F.zip_with(F.col("vec").cast("array<double>"), F.col("centroid"),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda a, x: a + x,
        )
        w = Window.partitionBy("string").orderBy(F.col("d2").asc(), F.col("cell").asc())
        cand_cells = (
            feat.crossJoin(F.broadcast(centers_df))
            .withColumn("d2", d2)
            .select("string", "cell", "d2")
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= nprobe)
            .select("string", "cell")
        )
        assigned = cand_cells.join(feat, "string").select("cell", "string", "vec")
        assigned = assigned.select(
            F.col("cell").cast("long").alias("cell"), "string", "vec"
        ).localCheckpoint()
        t(f"rep{rep} assignment ({assigned.count()})")
        aa = assigned.select("cell", F.col("string").alias("s0"), F.col("vec").alias("v0"))
        bb = assigned.select("cell", F.col("string").alias("s1"), F.col("vec").alias("v1"))
        cos = cosine_expr(F.col("v0"), F.col("v1"))
        out = (
            aa.join(bb, "cell")
            .where(F.col("s0") < F.col("s1"))
            .withColumn("cos", cos)
            .where(F.col("cos") >= cos_threshold)
            .select("s0", "s1", "cos")
            .dropDuplicates(["s0", "s1"])
        )
        n2 = out.count()
        t(f"rep{rep} cell self-join ({n2})")


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark()
    regions = sys.argv[1:] or ["candidate_scoring"]
    for r in regions:
        print(f"== region {r} ==", flush=True)
        globals()[f"region_{r}"](spark, sf_dir)
    spark.stop()


if __name__ == "__main__":
    main()
