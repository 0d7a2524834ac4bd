"""spark-submit entry point for the matching pipeline.

Usage (north rule: "ships as spark-submit --py-files jobs"):

    # package the engine
    cd /root/repo && zip -qr /tmp/nama_spark.zip nama_spark

    spark-submit --py-files /tmp/nama_spark.zip jobs/run_pipeline.py \
        --input /path/to/repo_files.parquet \
        --string-col repo \
        --output /path/to/clusters \
        --checkpoint-dir /path/to/ckpt \
        --passes exact_key,token_sim,embedding \
        --token-threshold 0.7 --embed-threshold 0.5

On a cluster the same command runs unchanged against an Iceberg catalog
(SURVEY.md §1.6). Exact invocation — add the runtime package and register
the catalog on the submit line, then name it with --catalog:

    spark-submit \
        --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \
        --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
        --conf spark.sql.catalog.lake.type=rest \
        --conf spark.sql.catalog.lake.uri=https://catalog.example.com \
        --py-files /tmp/nama_spark.zip jobs/run_pipeline.py \
        --catalog lake --input db.repo_files \
        --string-col repo --output s3://bucket/clusters ...

(for a Hadoop-warehouse catalog use ...lake.type=hadoop plus
spark.sql.catalog.lake.warehouse=s3://bucket/warehouse). --catalog routes
through readers.read_records → spark.read.table("<catalog>.<input>"), so
Iceberg partition pruning / hidden partitioning / snapshot isolation apply
to the same DataFrame plan; the sandbox has no Iceberg jar, so tests
exercise the identical dispatch against a registered session-catalog
parquet table. Resume: re-running with the same --checkpoint-dir skips
completed passes.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="nama_spark matching pipeline")
    p.add_argument("--input", required=True, help="parquet path or table id")
    p.add_argument("--catalog", default=None,
                   help="named Spark catalog (e.g. an Iceberg catalog "
                        "registered via spark.sql.catalog.<name> confs); "
                        "--input/--reference-input are then read as "
                        "<catalog>.<table> identifiers")
    p.add_argument("--reference-input", default=None,
                   help="reference copy for the per-row sha256(content) invariant")
    p.add_argument("--string-col", default="repo")
    p.add_argument("--output", required=True, help="output dir (parquet)")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--passes", default="exact_key,token_sim",
                   help="comma list from {exact_key, token_sim, embedding}")
    p.add_argument("--norm-key", default="simplify_corp")
    p.add_argument("--token-threshold", type=float, default=0.7)
    p.add_argument("--token-weighting", default="tf-idf")
    p.add_argument("--token-measure", default="jaccard")
    p.add_argument("--max-block-size", type=int, default=100)
    p.add_argument("--embed-threshold", type=float, default=0.5)
    p.add_argument("--embed-dim", type=int, default=64)
    p.add_argument("--embed-candidates", default="lsh",
                   choices=["lsh", "ivf", "bruteforce"])
    p.add_argument("--embed-vectors", default=None,
                   help="parquet of precomputed (string, vec) from a real "
                        "encoder; replaces the built-in embedder for the "
                        "embedding pass")
    p.add_argument("--assign-records", action="store_true",
                   help="also write file-level rows with entity_group")
    p.add_argument("--bucketed-table", default=None,
                   help="also save the clusters bucketed by string into the "
                        "catalog (sources/bucketed.write_matchdata_bucketed) "
                        "so record-scale joins against them are "
                        "exchange-free; data files land under "
                        "<output>/clusters_bucketed")
    p.add_argument("--n-buckets", type=int, default=64)
    return p.parse_args(argv)


def build_passes(args):
    from nama_spark.plans.pipeline import EmbeddingPass, ExactKeyPass, TokenSimPass

    out = []
    for name in args.passes.split(","):
        name = name.strip()
        if name == "exact_key":
            out.append(ExactKeyPass(key=args.norm_key))
        elif name == "token_sim":
            out.append(
                TokenSimPass(
                    threshold=args.token_threshold,
                    weighting=args.token_weighting,
                    measure=args.token_measure,
                    max_block_size=args.max_block_size,
                    normalize=args.norm_key,
                )
            )
        elif name == "embedding":
            out.append(
                EmbeddingPass(
                    threshold=args.embed_threshold,
                    dim=args.embed_dim,
                    candidate_mode=args.embed_candidates,
                    normalize=args.norm_key,
                    vectors_path=args.embed_vectors,
                )
            )
        else:
            raise SystemExit(f"unknown pass: {name}")
    return out


def main(argv=None):
    args = parse_args(argv)

    from pyspark.sql import SparkSession

    from nama_spark.plans.pipeline import (
        MatchPipeline,
        assign_records,
        sha256_invariant_violations,
    )
    from nama_spark.sources.readers import read_records

    spark = SparkSession.builder.appName("nama_spark_pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    records = read_records(spark, args.input, catalog=args.catalog)

    if args.reference_input:
        ref = read_records(spark, args.reference_input, catalog=args.catalog)
        n_bad = sha256_invariant_violations(records, ref).count()
        if n_bad:
            raise SystemExit(f"sha256 invariant violated on {n_bad} rows")

    t0 = time.time()
    pipe = MatchPipeline(
        passes=build_passes(args),
        checkpoint_dir=args.checkpoint_dir,
    )
    md, lineage = pipe.run(records, string_col=args.string_col,
                           resume=not args.no_resume)
    md.df.write.mode("overwrite").parquet(args.output + "/clusters")
    if args.bucketed_table:
        from nama_spark.sources.bucketed import write_matchdata_bucketed

        write_matchdata_bucketed(
            md, args.bucketed_table, n_buckets=args.n_buckets,
            path=args.output + "/clusters_bucketed",
        )
    if args.assign_records:
        assign_records(records, md, string_col=args.string_col).write.mode(
            "overwrite"
        ).parquet(args.output + "/records_with_groups")

    n_strings = md.df.count()
    n_groups = md.df.select("group").distinct().count()
    summary = {
        "strings": n_strings,
        "groups": n_groups,
        "wall_sec": round(time.time() - t0, 2),
        "passes": args.passes,
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
