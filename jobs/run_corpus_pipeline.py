"""spark-submit entry point: documents → training-corpus shards.

The standard LLM-data preparation chain, composed from the engine's
operators — each stage is the bucketed/scale path, not a baseline:

    0b. C4 line cleaning  (--c4-lines) keep only terminal-punctuation
                          lines with enough words; drop bullet / ellipsis /
                          JS boilerplate lines and lorem-ipsum / code pages
                          (Raffel et al. 2020 §2.2 — before dedup, as in C4)
    1. exact dedup        md5(text) groups → keep min doc_id
    1b. paragraph dedup   (--paragraph-min-df > 0) CCNet-style: drop every
                          paragraph whose normalized form appears in ≥ df
                          distinct docs (boilerplate); empty docs drop out
    1c. span-dup stage    (--span-max-dup-frac > 0) drop documents whose
                          fraction of duplicated k-token windows exceeds
                          the cap (ExactSubstr signal, Lee et al. 2022 —
                          catches mostly-verbatim pages whole-doc MinHash
                          misses); --span-action remove instead cuts the
                          duplicated spans and keeps the cleaned text
    2. near-dup removal   MinHash + banded LSH pairs → CC clusters →
                          keep min doc_id per cluster
    3. quality filter     quality_score ≥ --min-quality
                          (length/punct/stopword profile)
    3b. repetition gate   (--gopher-repetition) drop documents failing any
                          Gopher Table-A1 repetition rule (top-2/3/4-gram
                          and duplicate-5..10-gram char-mass caps)
    3c. LM perplexity     (--lm-ref PATH) bigram count LM fit on a trusted
                          reference; drop docs over --lm-max-avg-bits
                          whole-bit surprisal (CCNet gate, integer-exact)
    4. language filter    lang-ID ∈ --langs (marker-token n-gram heuristic)
    5. annotate           token counts + rolling-hash fingerprint
    5a. quality model     (--quality-ref PATH) integer NB-share classifier
                          fit reference-vs-corpus; keep docs scoring
                          ≥ --quality-min-milli per token (fastText-style
                          model gate, deterministic integer arithmetic)
    5b. decontamination   (--decontam-eval PATH) drop docs whose distinct
                          n-gram overlap vs the eval set exceeds
                          --decontam-max-overlap (GPT-3 appendix-C rule)
    5c. mixture sampling  (--mixture-temperature > 0) temperature-rebalance
                          the domain mixture (deterministic, append-stable)
    5c'. DSIR selection   (--dsir-ref PATH --dsir-keep K) keep K docs by
                          Gumbel top-k importance resampling toward the
                          target distribution (Xie et al. 2023)
    5d. PII redaction     (--redact-pii [kinds]) mask emails / SSNs /
                          phones / IPv4s in place with typed placeholders
                          (Dolma/FineWeb practice); per-kind totals in the
                          funnel
    5e. tokenizer         (--bpe-merges N) train BPE on the survivors,
                          write <output>/tokenizer, annotate shards with
                          tokenizer-true n_bpe_tokens
    6. shard              write parquet partitioned by language (and by a
                          leak-free train/val split with --val-fraction:
                          near-dup clusters never straddle the boundary)
    6b. shuffle-shard     (--shuffle-shards N) also write the seeded global
                          shuffle as N balanced train-order shards

Usage:

    cd /root/repo && zip -qr /tmp/nama_spark.zip nama_spark
    spark-submit --py-files /tmp/nama_spark.zip jobs/run_corpus_pipeline.py \
        --input /path/to/documents.parquet \
        --output /path/to/corpus \
        --near-dup-threshold 0.8 --min-quality 0.3 --langs en,de,fr,es

Prints one JSON summary line with per-stage survivor counts (the funnel —
silent attrition is how training corpora go wrong). With --checkpoint-dir
the post-near-dup state (docs + pairs + funnel) persists and a rerun
resumes from the annotate stage — the north-rule resumability pattern the
ER pipeline (plans/pipeline.py) already has, at the corpus job's most
expensive boundary.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="nama_spark corpus pipeline")
    p.add_argument("--input", required=True)
    p.add_argument("--catalog", default=None)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--output", required=True)
    p.add_argument("--paragraph-min-df", type=int, default=0,
                   help="> 0: CCNet-style paragraph-level boilerplate dedup "
                        "between exact and near-dup (drop paragraphs seen "
                        "in >= df distinct docs); 0 disables")
    p.add_argument("--span-max-dup-frac", type=float, default=0.0,
                   help="> 0: drop docs whose duplicated --span-k-token "
                        "window fraction exceeds this (ExactSubstr doc "
                        "gate); 0 disables")
    p.add_argument("--span-k", type=int, default=16,
                   help="window length (tokens) for the span-dup gate")
    p.add_argument("--span-action", choices=("drop", "remove"),
                   default="drop",
                   help="'drop' removes whole documents over the dup-frac "
                        "cap; 'remove' cuts the duplicated spans themselves "
                        "(ExactSubstr removal, Lee et al. 2022) and keeps "
                        "the cleaned text — emptied docs are dropped")
    p.add_argument("--gopher-repetition", action="store_true",
                   help="drop docs failing any Gopher Table-A1 repetition "
                        "rule (paper-default thresholds)")
    p.add_argument("--near-dup-threshold", type=float, default=0.8)
    p.add_argument("--checkpoint-dir", default=None,
                   help="stage-level resume: after near-dup removal the "
                        "surviving docs, the near-dup pairs (the leak-free "
                        "split needs them) and the funnel persist here; a "
                        "rerun with the same dir resumes from the annotate "
                        "stage (delete the dir to force recompute)")
    p.add_argument("--canonical-priority", default=None,
                   help="input column; near-dup survivors are the cluster "
                        "member with the HIGHEST value (ties -> min id) "
                        "instead of the min-id default (keep-the-best, "
                        "FineWeb-style)")
    p.add_argument("--shingle-k", type=int, default=3)
    p.add_argument("--min-quality", type=float, default=0.0,
                   help="0 disables the quality gate")
    p.add_argument("--langs", default="",
                   help="comma list to keep (empty = keep all, incl. 'und')")
    p.add_argument("--decontam-eval", default=None,
                   help="parquet of benchmark/eval docs: drop surviving "
                        "docs whose distinct n-gram overlap against it "
                        "exceeds --decontam-max-overlap")
    p.add_argument("--decontam-n", type=int, default=8,
                   help="n-gram length for the decontamination gate")
    p.add_argument("--decontam-max-overlap", type=float, default=0.0,
                   help="max tolerated overlap fraction (0.0 = the GPT-3 "
                        "any-collision drop rule)")
    p.add_argument("--mixture-temperature", type=float, default=0.0,
                   help="> 0: temperature-rebalance the domain mixture "
                        "(rate per domain ~ n^(1/T-1), max-normalized; "
                        "deterministic md5-keyed down-sampling)")
    p.add_argument("--mixture-domain-col", default="lang",
                   help="domain column for mixture sampling (default: the "
                        "lang column the annotate stage adds)")
    p.add_argument("--mixture-seed", type=int, default=0)
    p.add_argument("--lm-ref", default=None,
                   help="parquet of reference documents; fit a bigram "
                        "count LM on it and drop docs whose average "
                        "whole-bit surprisal exceeds --lm-max-avg-bits "
                        "(CCNet perplexity gate, integer-exact)")
    p.add_argument("--lm-max-avg-bits", type=float, default=8.0)
    p.add_argument("--quality-ref", default=None,
                   help="parquet of high-quality reference documents; fit "
                        "integer NB-share weights (reference vs this "
                        "corpus) and keep docs whose per-token score is "
                        ">= --quality-min-milli (model-based quality gate, "
                        "fastText-style, integer-exact)")
    p.add_argument("--quality-min-milli", type=int, default=0,
                   help="avg milli-units per token the classifier must "
                        "assign. NOTE: when the corpus is much larger "
                        "than the reference, most token shares (and so "
                        "most scores) sit below 0 — calibrate the "
                        "threshold on a scored sample, the scale is "
                        "relative, not absolute")
    p.add_argument("--quality-features", type=int, default=1 << 18)
    p.add_argument("--dsir-ref", default=None,
                   help="parquet of target-distribution documents; score "
                        "every doc with DSIR importance log-ratios "
                        "(target vs this corpus) and keep --dsir-keep "
                        "docs by Gumbel top-k resampling")
    p.add_argument("--dsir-keep", type=int, default=0)
    p.add_argument("--dsir-temperature", type=float, default=1.0)
    p.add_argument("--dsir-seed", type=int, default=0)
    p.add_argument("--c4-lines", action="store_true",
                   help="C4-style line cleaning BEFORE dedup: keep only "
                        "terminal-punctuation lines with >= --c4-min-words "
                        "words, drop bullet/ellipsis/javascript lines, drop "
                        "lorem-ipsum and curly-brace pages, require "
                        ">= --c4-min-lines surviving lines")
    p.add_argument("--c4-min-words", type=int, default=3)
    p.add_argument("--c4-min-lines", type=int, default=2)
    p.add_argument("--redact-pii", default=None, const="all", nargs="?",
                   help="mask PII in the text before sharding: a "
                        "comma-list of kinds (email,ssn,phone,ipv4) or "
                        "bare flag for all; adds per-kind n_<kind> count "
                        "columns and a funnel total")
    p.add_argument("--shuffle-shards", type=int, default=0,
                   help="> 0: also write <output>/train_shards - the "
                        "deterministic seeded global shuffle dealt into N "
                        "balanced shards with a contiguous pos order "
                        "(resumable training-order assignment)")
    p.add_argument("--shuffle-seed", type=int, default=0)
    p.add_argument("--val-fraction", type=float, default=0.0,
                   help="> 0: also assign a leak-free train/val split "
                        "(near-dup clusters never straddle; shards are then "
                        "partitioned by (lang, split))")
    p.add_argument("--split-seed", type=int, default=0)
    p.add_argument("--bpe-merges", type=int, default=0,
                   help="> 0: train a BPE tokenizer (this many merges) on "
                        "the surviving corpus, write it to "
                        "<output>/tokenizer, and add tokenizer-true "
                        "n_bpe_tokens counts to the shards")
    p.add_argument("--chunk-tokens", type=int, default=0,
                   help="> 0: also write <output>/chunks (token-window "
                        "training examples, --chunk-overlap stride)")
    p.add_argument("--chunk-overlap", type=int, default=16)
    return p.parse_args(argv)


def _try_resume(spark, ckpt):
    """Load (docs, pairs, funnel) from a prior run's checkpoint, or None.
    Pure DataFrame reader API — works on any Hadoop-visible filesystem."""
    import json as _json

    try:
        docs = spark.read.parquet(ckpt + "/near_dedup_docs")
        pairs = spark.read.parquet(ckpt + "/near_dedup_pairs")
        funnel = _json.loads(
            spark.read.text(ckpt + "/funnel").first()["value"]
        )
        return docs, pairs, funnel
    except Exception:
        return None


def _write_checkpoint(spark, ckpt, docs, pairs, funnel):
    """Persist the post-near-dup state and RE-ROOT both frames on the
    written parquet, so every later stage reads the checkpoint instead
    of re-executing the dedup lineage (a durable localCheckpoint)."""
    import json as _json

    docs.write.mode("overwrite").parquet(ckpt + "/near_dedup_docs")
    pairs.write.mode("overwrite").parquet(ckpt + "/near_dedup_pairs")
    from nama_spark.session import local_frame

    local_frame(
        spark, [(_json.dumps(funnel),)], "value string"
    ).coalesce(1).write.mode("overwrite").text(ckpt + "/funnel")
    return (
        spark.read.parquet(ckpt + "/near_dedup_docs"),
        spark.read.parquet(ckpt + "/near_dedup_pairs"),
    )


def main(argv=None):
    args = parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from nama_spark.functions.text import (
        fingerprint,
        lang_id,
        quality_score,
        token_count,
        word_token_count,
    )
    from nama_spark.operators.dedup import (
        dedup_paragraphs,
        exact_dup_groups,
        minhash_lsh_pairs,
        near_dup_clusters,
        split_documents_leakfree,
    )
    from nama_spark.sources.readers import read_records

    spark = SparkSession.builder.appName("nama_spark_corpus").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.time()
    # stage-level resume: stages 0b-2 (line rules + the three dedup
    # families) are the expensive half of the job; with --checkpoint-dir
    # their output persists and a rerun skips straight to annotation.
    state = _try_resume(spark, args.checkpoint_dir) if args.checkpoint_dir else None
    if state is not None:
        docs, pairs, funnel = state
        funnel["resumed"] = True
    else:
        docs = read_records(spark, args.input, catalog=args.catalog)
        # Input-parallelism guard (guide §2.5): a corpus delivered as a few
        # big files scans as a few tasks, and every map-side stage (md5
        # dedup keys, shingles, the quality/lang regex profile, the final
        # write) inherits that width — the event log showed the whole job
        # serialized through 1-task stages on a single-file input. Spread
        # once up front, derived from the session's shuffle width (not a
        # constant); inputs already wider than that are left alone.
        # Count the input BEFORE the spread: the number is identical and the
        # count job then runs a plain (column-pruned) scan instead of paying
        # the repartition exchange a first time on its own (round 6).
        funnel = {"input": docs.count()}
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if docs.rdd.getNumPartitions() < n_parts:
            docs = docs.repartition(n_parts)

        # 0b. C4 line-level cleaning — FIRST text-shaping stage (C4 itself
        # cleans lines before dedup: stripped boilerplate lines would otherwise
        # make distinct pages exact-equal only after this pass)
        if args.c4_lines:
            from nama_spark.operators.corpus import c4_line_filter

            cleaned = c4_line_filter(
                docs, text_col=args.text_col, id_col=args.id_col,
                min_words=args.c4_min_words, min_kept_lines=args.c4_min_lines,
            )
            docs = docs.drop(args.text_col).join(
                cleaned.select(
                    args.id_col, F.col("text_clean").alias(args.text_col)
                ),
                args.id_col,
            ).localCheckpoint(eager=False)
            funnel["after_c4_lines"] = docs.count()

        # 1. exact dedup — keep one doc per identical text (the canonical id)
        keep_exact = (
            exact_dup_groups(docs, args.text_col, args.id_col)
            .select(F.col("canonical_id").alias(args.id_col))
            .distinct()
        )
        docs = docs.join(keep_exact, args.id_col, "left_semi").localCheckpoint(
            eager=False
        )
        funnel["after_exact_dedup"] = docs.count()

        # 1b. paragraph-level boilerplate dedup (CCNet ordering: after exact,
        # before near-dup — removing shared boilerplate first keeps MinHash from
        # pairing documents that only share headers/footers)
        if args.paragraph_min_df > 0:
            cleaned = dedup_paragraphs(
                docs, text_col=args.text_col, id_col=args.id_col,
                min_df=args.paragraph_min_df,
            )
            dropped = cleaned.agg(F.sum("n_dropped").alias("d")).collect()[0]["d"]
            docs = (
                docs.drop(args.text_col)
                .join(
                    cleaned.select(
                        args.id_col, F.col("text_clean").alias(args.text_col)
                    ),
                    args.id_col,
                )
                .where(F.length(F.col(args.text_col)) > 0)
                .localCheckpoint(eager=False)
            )
            funnel["paragraphs_dropped"] = int(dropped or 0)
            funnel["after_paragraph_dedup"] = docs.count()

        # 1c. duplicated-span stage (the ExactSubstr signal). action=drop:
        # remove documents that are mostly verbatim copies of corpus-wide
        # spans even when no whole-document near-duplicate exists.
        # action=remove: cut the duplicated spans themselves (every
        # occurrence, Lee et al. 2022) and keep the cleaned text.
        if args.span_action == "remove":
            from nama_spark.operators.dedup import remove_duplicated_spans

            cleaned = remove_duplicated_spans(
                docs, k=args.span_k, text_col=args.text_col, id_col=args.id_col,
            ).localCheckpoint(eager=False)
            stats = cleaned.agg(
                F.sum("n_removed").alias("cut"),
                F.count(F.when(F.col("text_clean") == "", 1)).alias("emptied"),
            ).first()
            docs = (
                docs.drop(args.text_col)
                .join(
                    cleaned.where(F.col("text_clean") != "").select(
                        args.id_col,
                        F.col("text_clean").alias(args.text_col),
                    ),
                    args.id_col,
                )
                .localCheckpoint(eager=False)
            )
            funnel["span_tokens_removed"] = int(stats["cut"] or 0)
            funnel["span_docs_emptied"] = int(stats["emptied"] or 0)
            funnel["after_span_removal"] = docs.count()
        elif args.span_max_dup_frac > 0:
            from nama_spark.operators.dedup import drop_duplicated_span_docs

            docs = drop_duplicated_span_docs(
                docs, k=args.span_k, max_dup_frac=args.span_max_dup_frac,
                text_col=args.text_col, id_col=args.id_col,
            ).localCheckpoint(eager=False)
            funnel["after_span_gate"] = docs.count()

        # 2. near-dup removal — MinHash LSH pairs → CC → min-id survivor
        pairs = minhash_lsh_pairs(
            docs, args.text_col, args.id_col, k=args.shingle_k,
            verify_threshold=args.near_dup_threshold,
        ).localCheckpoint(eager=False)
        all_ids = docs.select(F.col(args.id_col).alias("doc_id")).distinct()
        clusters = near_dup_clusters(
            pairs.select("id0", "id1"), all_ids
        )
        if args.canonical_priority:
            from nama_spark.operators.dedup import select_canonical_docs

            docs = select_canonical_docs(
                docs, clusters, priority_col=args.canonical_priority,
                id_col=args.id_col,
            ).localCheckpoint(eager=False)
        else:
            keep_near = clusters.groupBy("cluster_id").agg(
                F.min("doc_id").alias(args.id_col)
            ).select(args.id_col)
            docs = docs.join(keep_near, args.id_col, "left_semi").localCheckpoint(
                eager=False
            )
        funnel["after_near_dedup"] = docs.count()

        if args.checkpoint_dir:
            docs, pairs = _write_checkpoint(
                spark, args.checkpoint_dir, docs, pairs, funnel
            )

    # 3-5. profile columns, then gate on them. Width guard first: AQE
    # coalesces the post-dedup survivors by BYTES (to one partition at
    # bench scale) and the checkpoint freezes that layout, so the regex
    # profile below — the job's most compute-dense projection — ran as a
    # single task (event log: 4.3 s / 1 task). No-op when the frame is
    # already at least shuffle-width partitions (the cluster-scale case).
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if docs.rdd.getNumPartitions() < n_parts:
        docs = docs.repartition(n_parts)
    t = F.col(args.text_col)
    # Pinned BEFORE the filters: PushDownPredicates copies a filtered
    # profile column's expression into the Filter, so a pin after them ran
    # the quality and lang profiles twice per document.
    docs = docs.withColumns(
        {
            "quality": quality_score(t),
            "lang": lang_id(t),
            "n_tokens": token_count(t),
            "n_words": word_token_count(t),
            "fp": fingerprint(t),
        }
    ).localCheckpoint(eager=False)
    if args.min_quality > 0:
        docs = docs.where(F.col("quality") >= args.min_quality)
    # 3b. Gopher repetition gate — within-doc n-gram char-mass caps
    # (paper-default thresholds; integer-arithmetic comparisons)
    if args.gopher_repetition:
        from nama_spark.operators.corpus import gopher_repetition_filter

        docs = gopher_repetition_filter(
            docs, text_col=args.text_col, id_col=args.id_col
        ).localCheckpoint(eager=False)
        funnel["after_repetition_gate"] = docs.count()
    langs = [x for x in args.langs.split(",") if x]
    if langs:
        docs = docs.where(F.col("lang").isin(langs))
    # Fusion gate (round 6): when NO later stage filters or mutates the
    # frame, the after_filters count and the total-token sum are observed
    # during the shard write itself (one CollectMetrics node on the write's
    # plan) instead of two separate full passes — same values, two fewer
    # jobs. Any active later stage keeps the explicit count (its value
    # would differ from the write's row count).
    later_stages = any([
        args.lm_ref, args.quality_ref, args.decontam_eval,
        args.mixture_temperature > 0,
        bool(args.dsir_ref) and args.dsir_keep > 0,
        args.redact_pii, args.bpe_merges > 0, args.val_fraction > 0,
    ])
    write_obs = None
    if later_stages:
        funnel["after_filters"] = docs.count()
    else:
        from pyspark.sql import Observation

        write_obs = Observation("corpus_final")
        docs = docs.observe(
            write_obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_toks"),
        )
        # placeholder keeps the funnel key order; filled after the write
        funnel["after_filters"] = None

    # 3c. LM perplexity gate — fit the bigram count model on the trusted
    # reference (small by definition: CCNet fits Wikipedia, scores the
    # crawl), gate candidates on integer whole-bit surprisal
    if args.lm_ref:
        from nama_spark.operators.lm import ngram_lm_filter, ngram_lm_fit

        lm_model = ngram_lm_fit(
            spark.read.parquet(args.lm_ref), n=2,
            text_col=args.text_col, id_col=args.id_col,
        )
        docs = ngram_lm_filter(
            docs, lm_model, max_avg_bits=args.lm_max_avg_bits,
            text_col=args.text_col, id_col=args.id_col,
        ).localCheckpoint(eager=False)
        funnel["after_lm_gate"] = docs.count()

    # 5a. model-based quality gate — NB-share integer weights fit with
    # the trusted reference as target and THIS corpus as raw (one pass
    # over each), then an integer per-token threshold. The weight table
    # is model-sized and broadcasts; the corpus never shuffles wide.
    if args.quality_ref:
        from nama_spark.operators.classifier import (
            hashed_token_features,
            nb_share_score,
            nb_share_weights,
        )

        ref_feats = hashed_token_features(
            spark.read.parquet(args.quality_ref),
            n_features=args.quality_features,
            text_col=args.text_col, id_col=args.id_col,
        )
        corpus_feats = hashed_token_features(
            docs, n_features=args.quality_features,
            text_col=args.text_col, id_col=args.id_col,
        ).localCheckpoint(eager=False)
        qscores = nb_share_score(
            corpus_feats, nb_share_weights(ref_feats, corpus_feats),
            id_col=args.id_col,
        )
        keep = qscores.where(
            F.col("logit_milli")
            >= F.lit(args.quality_min_milli) * F.col("n_toks")
        ).select(args.id_col)
        docs = docs.join(keep, args.id_col, "left_semi").localCheckpoint(
            eager=False
        )
        funnel["after_quality_model"] = docs.count()

    # 5b. benchmark decontamination — on the post-filter survivors (the
    # cheapest point: every earlier stage only shrinks the corpus). The
    # eval n-gram set is broadcast; the corpus never shuffles wide.
    if args.decontam_eval:
        from nama_spark.operators.corpus import decontaminate

        eval_docs = spark.read.parquet(args.decontam_eval)
        docs = decontaminate(
            docs, eval_docs, n=args.decontam_n,
            max_overlap=args.decontam_max_overlap,
            text_col=args.text_col, id_col=args.id_col,
        ).localCheckpoint(eager=False)
        funnel["after_decontam"] = docs.count()

    # 5c. temperature mixture re-balancing — deterministic md5-keyed
    # down-sample toward p_domain ~ n^(1/T); append-stable decisions
    if args.mixture_temperature > 0:
        from nama_spark.operators.corpus import mixture_rates, sample_mixture

        rates = mixture_rates(
            docs, temperature=args.mixture_temperature,
            domain_col=args.mixture_domain_col,
        )
        docs = sample_mixture(
            docs, rates, seed=args.mixture_seed,
            domain_col=args.mixture_domain_col, id_col=args.id_col,
        ).localCheckpoint(eager=False)
        funnel["after_mixture"] = docs.count()

    # 5c'. DSIR selection — importance-resample toward the target
    # distribution (weights fit target-vs-this-corpus, Gumbel top-k with
    # id-keyed noise: deterministic, repartition-safe)
    if args.dsir_ref and args.dsir_keep > 0:
        from nama_spark.operators.classifier import (
            dsir_resample,
            dsir_score,
            dsir_weights,
            hashed_token_features,
        )

        ref_feats = hashed_token_features(
            spark.read.parquet(args.dsir_ref),
            n_features=args.quality_features,
            text_col=args.text_col, id_col=args.id_col,
        )
        corpus_feats = hashed_token_features(
            docs, n_features=args.quality_features,
            text_col=args.text_col, id_col=args.id_col,
        ).localCheckpoint(eager=False)
        selected = dsir_resample(
            dsir_score(
                corpus_feats, dsir_weights(ref_feats, corpus_feats),
                id_col=args.id_col,
            ),
            args.dsir_keep,
            seed=str(args.dsir_seed),
            temperature=args.dsir_temperature,
            id_col=args.id_col,
        )
        docs = docs.join(
            selected.select(args.id_col), args.id_col, "left_semi"
        ).localCheckpoint(eager=False)
        funnel["after_dsir"] = docs.count()

    # 5d. PII redaction — last text-mutating stage, so every earlier
    # signal (hashes, shingles, quality) was computed on the raw text and
    # nothing downstream ever sees an unmasked document
    if args.redact_pii:
        from nama_spark.functions.pii import PII_KINDS
        from nama_spark.operators.corpus import redact_documents

        kinds = (
            PII_KINDS if args.redact_pii == "all"
            else tuple(k.strip() for k in args.redact_pii.split(","))
        )
        docs = redact_documents(
            docs, kinds=kinds, text_col=args.text_col
        ).localCheckpoint(eager=False)
        agg = docs.agg(
            *[F.sum(f"n_{k}").alias(k) for k in kinds]
        ).collect()[0]
        funnel["pii_redacted"] = {k: int(agg[k] or 0) for k in kinds}

    # 5e. tokenizer training — BPE merges learned FROM the cleaned
    # survivors (training the tokenizer on the corpus it will tokenize,
    # the standard order), persisted next to the shards; every shard row
    # gains the tokenizer-true token count the packing budget wants
    if args.bpe_merges > 0:
        from nama_spark.operators.bpe import bpe_fit, bpe_token_counts

        merges = bpe_fit(
            docs, n_merges=args.bpe_merges,
            text_col=args.text_col, id_col=args.id_col,
        )
        merges.write.mode("overwrite").parquet(args.output + "/tokenizer")
        docs = docs.join(
            bpe_token_counts(
                docs, merges, text_col=args.text_col, id_col=args.id_col
            ).select(args.id_col, "n_bpe_tokens"),
            args.id_col,
            "left",
        ).localCheckpoint(eager=False)
        funnel["bpe_merges"] = int(merges.count())

    # 6. shards — partition pruning for per-language (and per-split)
    # consumers. The split reuses stage 2's near-dup pairs, so clusters of
    # near-duplicates never straddle train/val (leak-free).
    part_cols = ["lang"]
    if args.val_fraction > 0:
        splits = split_documents_leakfree(
            docs, pairs, val_fraction=args.val_fraction,
            seed=args.split_seed, id_col=args.id_col,
        ).withColumnRenamed("doc_id", args.id_col)
        docs = docs.join(
            splits.select(args.id_col, "split"), args.id_col
        )
        part_cols.append("split")
    docs.write.mode("overwrite").partitionBy(*part_cols).parquet(
        args.output + "/shards"
    )
    if args.chunk_tokens > 0:
        from nama_spark.functions.text import chunk_documents

        chunks = chunk_documents(
            docs, chunk_tokens=args.chunk_tokens,
            overlap=args.chunk_overlap,
            text_col=args.text_col, id_col=args.id_col,
        )
        chunks.write.mode("overwrite").parquet(args.output + "/chunks")
        funnel["chunks"] = spark.read.parquet(args.output + "/chunks").count()
    if args.shuffle_shards > 0:
        from nama_spark.operators.corpus import shuffle_shard

        shuffled = shuffle_shard(
            docs, n_shards=args.shuffle_shards, seed=args.shuffle_seed,
            id_col=args.id_col,
        )
        shuffled.write.mode("overwrite").partitionBy("shard").parquet(
            args.output + "/train_shards"
        )
        funnel["train_shards"] = args.shuffle_shards
    if write_obs is not None:
        m = write_obs.get
        funnel["after_filters"] = int(m["n_docs"])
        tok_total = m["n_toks"] or 0
    else:
        tok_total = docs.agg(F.sum("n_tokens").alias("t")).collect()[0]["t"] or 0

    summary = {
        "funnel": funnel,
        "total_tokens": int(tok_total),
        "wall_sec": round(time.time() - t0, 2),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
