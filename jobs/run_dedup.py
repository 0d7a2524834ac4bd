"""spark-submit entry point for the document-dedup family.

Usage:

    cd /root/repo && zip -qr /tmp/nama_spark.zip nama_spark

    spark-submit --py-files /tmp/nama_spark.zip jobs/run_dedup.py \
        --input /path/to/documents.parquet \
        --method minhash \
        --threshold 0.8 \
        --output /path/to/dedup_out

Methods (all bucketed equi-join candidate generation — no O(n²) path here;
the bruteforce baselines live in the test suite only):

    exact     md5(text) groups                       → duplicate groups
    ngram     k-word-shingle Jaccard ≥ threshold     → near-dup pairs
    minhash   MinHash + banded LSH, exact verify     → near-dup pairs
    simhash   64-bit SimHash, banded, hamming ≤ h    → near-dup pairs
    winnow    winnowing/MOSS fingerprints, Jaccard   → near-dup pairs
    embedding embedding-cosine ≥ threshold (needs --embeddings) → pairs

For every pair-producing method the job ALSO writes connected-component
cluster assignments (<output>/clusters: doc_id → cluster) and a keep-list
(<output>/keep: min doc_id per cluster — the standard dedup survivor rule).
Catalog reads work as in run_pipeline.py (--catalog + spark.sql.catalog.*
confs on the submit line).

Incremental mode (minhash): index the corpus once, then dedup each arriving
delta against the index WITHOUT re-shingling the corpus —

    # once per corpus
    ... run_dedup.py --input corpus.parquet --method minhash \
        --write-index --output idx_out
    # per delta
    ... run_dedup.py --input corpus.parquet --method minhash \
        --delta new_docs.parquet --index idx_out/band_index \
        --threshold 0.8 --output day_out
    # → day_out/{pairs, delta_keep, delta_drop}: which new docs to ingest
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="nama_spark document dedup")
    p.add_argument("--input", required=True, help="documents parquet path/table")
    p.add_argument("--catalog", default=None)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--method", default="minhash",
                   choices=["exact", "ngram", "minhash", "simhash",
                            "winnow", "embedding"])
    p.add_argument("--threshold", type=float, default=0.8,
                   help="jaccard (ngram/minhash/winnow) or cosine (embedding)")
    p.add_argument("--shingle-k", type=int, default=3)
    p.add_argument("--max-df", type=int, default=None,
                   help="doc-frequency cap on blocking keys (skew control). "
                        "Default: the method's library default (ngram 1000; "
                        "winnow 100 — the measured MOSS-style sweet spot, "
                        "~97.7%% of uncapped pairs at 4.5x less cost). "
                        "Recall-sensitive winnow callers should pin this "
                        "explicitly.")
    p.add_argument("--num-hashes", type=int, default=16)
    p.add_argument("--bands", type=int, default=4)
    p.add_argument("--max-hamming", type=int, default=3)
    p.add_argument("--embeddings", default=None,
                   help="(embedding method) parquet/table with vec_id+embedding")
    p.add_argument("--write-index", action="store_true",
                   help="(minhash) only build + write <output>/band_index "
                        "for --input; daily deltas then run --delta against it")
    p.add_argument("--delta", default=None,
                   help="(minhash) parquet/table of newly-arrived docs; "
                        "dedups the delta against --input (incremental: "
                        "corpus is band-joined via the index, only candidate "
                        "corpus docs are re-shingled)")
    p.add_argument("--index", default=None,
                   help="precomputed band index parquet (with --delta; "
                        "default: built from --input on the fly)")
    p.add_argument("--output", required=True)
    return p.parse_args(argv)


def build_pairs(spark, args, docs):
    from pyspark.sql import functions as F

    from nama_spark.operators import dedup as D

    # --max-df None → each method's library default (ngram 1000, winnow 100)
    df_kw = {} if args.max_df is None else {"max_df": args.max_df}
    if args.method == "ngram":
        return D.ngram_jaccard_pairs(
            docs, args.text_col, args.id_col, k=args.shingle_k,
            threshold=args.threshold, **df_kw,
        )
    if args.method == "minhash":
        return D.minhash_lsh_pairs(
            docs, args.text_col, args.id_col, k=args.shingle_k,
            num_hashes=args.num_hashes, bands=args.bands,
            verify_threshold=args.threshold,
        )
    if args.method == "simhash":
        return D.simhash_near_pairs(
            docs, args.text_col, args.id_col, max_hamming=args.max_hamming
        )
    if args.method == "winnow":
        return D.winnow_near_pairs(
            docs, args.text_col, args.id_col,
            threshold=args.threshold, **df_kw,
        )
    if args.method == "embedding":
        if not args.embeddings:
            raise SystemExit("--embeddings required for method=embedding")
        from nama_spark.operators.ann import lsh_topk
        from nama_spark.sources.readers import read_records

        emb = read_records(spark, args.embeddings, catalog=args.catalog)

        # each row's exact top-50 neighbours (lsh_topk), thresholded on cos
        cand = lsh_topk(emb, emb, k=50)
        return (
            cand.where(
                (F.col("cos") >= args.threshold)
                & (F.col("query_id") < F.col("neighbor_id"))
            )
            .select(
                F.col("query_id").alias("id0"),
                F.col("neighbor_id").alias("id1"),
                F.col("cos").alias("score"),
            )
        )
    raise SystemExit(f"unknown method: {args.method}")


def main(argv=None):
    args = parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from nama_spark.operators.dedup import exact_dup_groups, near_dup_clusters
    from nama_spark.sources.readers import read_records

    spark = SparkSession.builder.appName("nama_spark_dedup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from nama_spark.operators.dedup import minhash_band_index, minhash_lsh_pairs_delta

    docs = read_records(spark, args.input, catalog=args.catalog)
    t0 = time.time()

    if args.write_index:
        if args.method != "minhash":
            raise SystemExit("--write-index requires --method minhash")
        idx = minhash_band_index(
            docs, args.text_col, args.id_col, k=args.shingle_k,
            num_hashes=args.num_hashes, bands=args.bands,
        )
        idx.write.mode("overwrite").parquet(args.output + "/band_index")
        print(json.dumps({
            "method": "minhash_index",
            "index_rows": spark.read.parquet(args.output + "/band_index").count(),
            "wall_sec": round(time.time() - t0, 2),
        }))
        return 0

    if args.delta:
        if args.method != "minhash":
            raise SystemExit("--delta requires --method minhash")
        delta = read_records(spark, args.delta, catalog=args.catalog)
        idx = (
            spark.read.parquet(args.index)
            if args.index
            else minhash_band_index(
                docs, args.text_col, args.id_col, k=args.shingle_k,
                num_hashes=args.num_hashes, bands=args.bands,
            )
        )
        pairs = minhash_lsh_pairs_delta(
            delta, idx, corpus_df=docs, text_col=args.text_col,
            id_col=args.id_col, k=args.shingle_k,
            num_hashes=args.num_hashes, bands=args.bands,
            verify_threshold=args.threshold,
        ).localCheckpoint(eager=False)
        pairs.write.mode("overwrite").parquet(args.output + "/pairs")
        delta_ids = (
            delta.select(F.col(args.id_col).alias("doc_id")).distinct()
            .localCheckpoint(eager=False)
        )
        # Survivor rule (same as streaming/dedup.py): a delta doc drops if
        # it pairs with a CORPUS doc in either orientation (delta ids are
        # not guaranteed larger than corpus ids — id0 < id1 says nothing
        # about arrival order), or with a smaller-id doc of the same delta.
        edges = (
            pairs.select(F.col("id0").alias("doc_id"), F.col("id1").alias("other"))
            .unionByName(
                pairs.select(F.col("id1").alias("doc_id"),
                             F.col("id0").alias("other")))
            .join(delta_ids, "doc_id", "left_semi")
        )
        vs_corpus = edges.join(
            delta_ids.select(F.col("doc_id").alias("other")), "other", "left_anti"
        ).select("doc_id")
        within = (
            edges.join(delta_ids.select(F.col("doc_id").alias("other")),
                       "other", "left_semi")
            .where(F.col("other") < F.col("doc_id"))
            .select("doc_id")
        )
        drop = vs_corpus.union(within).distinct()
        keep = delta_ids.join(drop, "doc_id", "left_anti")
        drop.write.mode("overwrite").parquet(args.output + "/delta_drop")
        keep.write.mode("overwrite").parquet(args.output + "/delta_keep")
        print(json.dumps({
            "method": "minhash_delta",
            "delta_docs": delta_ids.count(),
            "pairs": pairs.count(),
            "dropped": drop.count(),
            "kept": keep.count(),
            "wall_sec": round(time.time() - t0, 2),
        }))
        return 0

    if args.method == "exact":
        groups = exact_dup_groups(docs, args.text_col, args.id_col)
        groups.write.mode("overwrite").parquet(args.output + "/groups")
        summary = {
            "method": "exact",
            "groups": groups.count(),
            "wall_sec": round(time.time() - t0, 2),
        }
        print(json.dumps(summary))
        return 0

    pairs = build_pairs(spark, args, docs).localCheckpoint(eager=False)
    pairs.write.mode("overwrite").parquet(args.output + "/pairs")

    id_src, id_dst = pairs.columns[0], pairs.columns[1]
    all_ids = docs.select(F.col(args.id_col).alias("doc_id")).distinct()
    clusters = near_dup_clusters(
        pairs.select(F.col(id_src).alias("id0"), F.col(id_dst).alias("id1")),
        all_ids,
    )
    clusters.write.mode("overwrite").parquet(args.output + "/clusters")
    keep = clusters.groupBy("cluster_id").agg(F.min("doc_id").alias("keep_id"))
    keep.write.mode("overwrite").parquet(args.output + "/keep")

    summary = {
        "method": args.method,
        "pairs": pairs.count(),
        "docs": all_ids.count(),
        "clusters": keep.count(),
        "wall_sec": round(time.time() - t0, 2),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
