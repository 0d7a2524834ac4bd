"""spark-submit entry point for DAILY-DELTA entity resolution.

The full-corpus pipeline (jobs/run_pipeline.py) re-solves the world; this
job folds a Δ batch of newly-arrived names into PERSISTED state instead,
so a daily increment costs O(Δ·block), never O(corpus):

    state/clusters.parquet     (string, count, group)   — the partition
    state/entity_ids.parquet   (node, entity_id)        — stable ids
    state/tokens.parquet       (string, token, tf)      — carried token table

    # bootstrap: day 0 folded into the empty state
    spark-submit --py-files /tmp/nama_spark.zip jobs/run_delta_er.py \
        --init --delta-input day0.parquet --string-col repo \
        --state /lake/er_state

    # every following day: Δ-only blocking/scoring + group-quotient unite
    spark-submit --py-files /tmp/nama_spark.zip jobs/run_delta_er.py \
        --delta-input day1.parquet --string-col repo \
        --state /lake/er_state --threshold 0.7

``--init`` folds its delta into the empty state, which fits every gate,
as every later day folds into the last version. Each fold takes one of
two paths, chosen from the sizes of its inputs:

- *Driver fold.* When the prior clusters and the entity-id rows each hold
  at most ``_TOKENSIM_DRIVER_FIT_STRINGS`` rows and the carried token table
  at most ``_TOKENSIM_BROADCAST_TOKEN_ROWS`` rows (the batch path's own
  gates in operators/token_similarity.py, counted from the state's parquet
  footers, so a state over a gate moves no row to the driver), and the
  delta holds at most ``_TOKENSIM_DRIVER_FIT_STRINGS`` rows (one bounded
  ``limit(cap + 1)`` Arrow read), the state is read by one Arrow collect
  per table and ``operators.delta_fold.fold`` runs the whole fold in Python
  on that one snapshot: no Spark job runs between the state read and the
  state write. The fold enumerates pairs only while those touching the
  delta number at most ``_TOKENSIM_DRIVER_PAIRS``; past it, the
  distributed fold runs instead. Clusters and entity ids are written from
  local frames; the token table is the prior version's file plus the new
  strings' rows. A 40-name delta into a ~900-name state costs 8 Spark
  jobs instead of 53. The gates also hold as this choice's crossover:
  folding 40 names into states of up to 37k names (1.94M token rows), the
  driver fold took less CPU and wall time than the distributed one
  (docs/SCALE.md).
- *Distributed fold.* Above any gate, the relational operators run:
  TokenSimilarity.predict_incremental (fit_incremental tokenizes only
  genuinely new strings against the carried token table;
  token_block_pairs_against enumerates new-touching candidates only;
  unite_incremental merges through the group quotient) and then
  cluster.stable_entity_ids.

Both paths write the same rows (tests/test_sources.py folds the same days
with the gates forced each way) and record which one ran as ``"fold"`` in
the printed summary; its ``"delta_strings"`` counts the delta's distinct
non-NULL strings on either path. Old×old pairs are never re-scored and old
groups never split — uniting is monotone. Stable entity ids carry across the
re-clustering so downstream keys survive label churn. The state tables are
read with their known schemas. State is rewritten atomically into a
versioned subdir and `state/CURRENT` is flipped last, so a killed run never
corrupts the previous day's state (the checkpoint/resume posture of
run_pipeline, at the state level).

No reference counterpart: nama's unite() is incremental only because
everything lives in one in-memory dict (match_data.py:203-242); this is
the distributed, persisted equivalent.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="nama_spark daily-delta ER")
    p.add_argument("--delta-input", required=True,
                   help="parquet path or table id with the new records")
    p.add_argument("--catalog", default=None,
                   help="Iceberg/session catalog name (table ids)")
    p.add_argument("--string-col", default="string")
    p.add_argument("--state", required=True,
                   help="state dir (clusters/entity_ids/tokens parquet)")
    p.add_argument("--init", action="store_true",
                   help="bootstrap state from --delta-input alone")
    p.add_argument("--threshold", type=float, default=0.7)
    p.add_argument("--tokenizer", default="nmgrams23")
    p.add_argument("--weighting", default="tf-idf")
    p.add_argument("--measure", default="jaccard")
    p.add_argument("--max-block-size", type=int, default=100)
    p.add_argument("--golden-rules", default=None,
                   help="comma list field=rule (rule: max|min|longest|"
                        "most_frequent|sum|avg|any): maintain a golden-"
                        "record table in state, delta-fused per batch")
    p.add_argument("--records-input", default=None,
                   help="record table (parquet/table id) carrying the "
                        "fields --golden-rules fuses; joined to clusters "
                        "on --string-col. Required with --golden-rules")
    return p.parse_args(argv)


_CLUSTERS = "string string, count bigint NOT NULL, `group` string"
_ENTITY_IDS = "node string, entity_id string"


def _fits(path: str | None, cap: int) -> bool:
    """Whether the parquet table at ``path`` (None: empty) holds at most
    ``cap`` rows, counted from its file footers: no Spark job runs."""
    import pyarrow.dataset as ds

    return path is None or ds.dataset(path, format="parquet").count_rows() <= cap


def _rows(df, cap: int | None = None) -> list | None:
    """session.collect_rows: the job's one driver read of a table, a seam
    the tests replace to prove that no table is collected."""
    from nama_spark.session import collect_rows

    return collect_rows(df, cap)


def _current_version(state: str) -> str | None:
    cur = os.path.join(state, "CURRENT")
    if not os.path.exists(cur):
        return None
    with open(cur) as f:
        return f.read().strip()


def _write_state(state: str, version: str, clusters, entity_ids, tokens,
                 golden=None):
    base = os.path.join(state, version)
    clusters.write.mode("overwrite").parquet(os.path.join(base, "clusters"))
    entity_ids.write.mode("overwrite").parquet(
        os.path.join(base, "entity_ids")
    )
    tokens.write.mode("overwrite").parquet(os.path.join(base, "tokens"))
    if golden is not None:
        golden.write.mode("overwrite").parquet(os.path.join(base, "golden"))
    # flip CURRENT last: readers always see a complete version
    tmp = os.path.join(state, "CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(version)
    os.replace(tmp, os.path.join(state, "CURRENT"))


def main(argv=None):
    args = parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from nama_spark.operators import delta_fold
    from nama_spark.operators import token_similarity as TS
    from nama_spark.operators.cluster import stable_entity_ids
    from nama_spark.operators.matchdata import MatchData
    from nama_spark.session import local_frame
    from nama_spark.sources.readers import read_records

    spark = SparkSession.builder.appName("nama_spark_delta_er").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.time()
    delta = read_records(spark, args.delta_input, catalog=args.catalog)
    ts = TS.TokenSimilarity(
        tokenizer=args.tokenizer,
        weighting=args.weighting,
        measure=args.measure,
        max_block_size=args.max_block_size,
    )

    version = _current_version(args.state)
    if args.init and version is not None:
        raise SystemExit(f"--init but {args.state}/CURRENT exists")
    if not args.init and version is None:
        raise SystemExit(
            f"no {args.state}/CURRENT — bootstrap with --init first"
        )
    next_version = f"v{int(version[1:]) + 1 if version else 1:06d}"
    # building from scratch is folding into the empty state: with no
    # version yet, every table is empty
    base = version and os.path.join(args.state, version)
    tables = [
        (base and os.path.join(base, t), schema, cap)
        for t, schema, cap in (
            ("clusters", _CLUSTERS, TS._TOKENSIM_DRIVER_FIT_STRINGS),
            ("entity_ids", _ENTITY_IDS, TS._TOKENSIM_DRIVER_FIT_STRINGS),
            ("tokens", TS._TOKEN_SCHEMA, TS._TOKENSIM_BROADCAST_TOKEN_ROWS),
        )
    ]
    # the state's schemas are known: reading with them skips a
    # footer-inference job per table
    prior_df, prev_ids, prev_tokens = (
        local_frame(spark, [], schema) if path is None
        else spark.read.schema(schema).parquet(path)
        for path, schema, _cap in tables
    )
    # the state gates are checked on the footers' row counts, so a state
    # over either gate moves no row to the driver; only the delta's gate
    # costs a bounded read
    out = None
    if all(_fits(path, cap) for path, _s, cap in tables):
        delta_rows = _rows(
            delta.select(F.col(args.string_col).cast("string")),
            TS._TOKENSIM_DRIVER_FIT_STRINGS,
        )
        if delta_rows is not None:
            prior_rows, id_rows, token_rows = (
                _rows(df) for df in (prior_df, prev_ids, prev_tokens)
            )
            strings = [r[0] for r in delta_rows]
            # None when the delta's blocks hold more pairs than the
            # driver enumerates: the relational fold takes them
            out = delta_fold.fold(prior_rows, id_rows, token_rows,
                                  strings, ts, args.threshold)
    if out is not None:
        # one file per table: the rows are driver-sized by the gates. The
        # carried token rows are re-read from the prior version's file by
        # the write itself rather than shipped back from the driver.
        clusters, ids, tokens_out = (
            df.coalesce(1)
            for df in (
                local_frame(spark, out.clusters, _CLUSTERS),
                local_frame(spark, out.entity_ids, _ENTITY_IDS),
                prev_tokens.unionByName(
                    local_frame(spark, out.new_tokens, TS._TOKEN_SCHEMA)
                ),
            )
        )
        # delta_strings: the distinct non-NULL strings, the ones
        # add_strings keeps (countDistinct's rule on the other path)
        n_delta = len(set(strings) - {None})
        sizes = (len(out.clusters), len({g for _s, _c, g in out.clusters}))
    else:
        # the job only ever writes elected labels, so re-electing on read
        # would repeat a universe-wide window per reference to prior.df
        united = ts.predict_incremental(
            MatchData(prior_df, _relabel=False),
            delta,
            threshold=args.threshold,
            string_col=args.string_col,
            prev_tokens=prev_tokens,
        )
        # carried token table + this batch's delta rows = next batch's carry
        tokens_out = prev_tokens.unionByName(ts.last_delta_tokens)
        n_delta = delta.agg(
            F.countDistinct(F.col(args.string_col).cast("string"))
        ).first()[0]
        # pin the united partition once: the clusters write, the three
        # reads inside stable_entity_ids, the golden-record branch and the
        # summary all consume it, and each would otherwise re-run the
        # whole fold
        clusters = united.df.localCheckpoint(eager=False)
        assignment = clusters.select(
            F.col("string").alias("node"), F.col("group").alias("component")
        )
        ids = stable_entity_ids(prev_ids, assignment)

    # optional golden-record maintenance: delta-fuse only churn-touched
    # clusters (fusion.golden_records_delta); a batch's changed set is the
    # clusters containing any delta string — under the job's arrival-only
    # model every merged/new cluster contains one, and clusters whose
    # labels died in a merge are dropped by the alive semi-join.
    golden_out = None
    n_golden = n_refused = None
    if args.golden_rules:
        from nama_spark.operators.fusion import (
            golden_records,
            golden_records_delta,
        )

        if not args.records_input:
            raise SystemExit("--golden-rules requires --records-input")
        rules = dict(kv.split("=", 1)
                     for kv in args.golden_rules.split(","))
        records = read_records(
            spark, args.records_input, catalog=args.catalog
        )
        rec = records.join(
            clusters.select(
                F.col("string").alias(args.string_col), "group"
            ),
            args.string_col,
        )
        golden_path = base and os.path.join(base, "golden")
        if golden_path and os.path.exists(golden_path):
            prev_golden = spark.read.parquet(golden_path)
            changed = (
                clusters.join(
                    delta.select(
                        F.col(args.string_col).alias("string")
                    ).distinct(),
                    "string", "leftsemi",
                ).select("group").distinct()
            )
            alive = clusters.select("group").distinct()
            golden_out = golden_records_delta(
                prev_golden.join(alive, "group", "leftsemi"),
                rec, "group", rules, changed,
            ).localCheckpoint(eager=False)
            n_refused = changed.count()
        else:
            # first golden-enabled run (init, or flag newly added)
            golden_out = golden_records(rec, "group", rules).localCheckpoint(
                eager=False
            )
        n_golden = golden_out.count()

    _write_state(args.state, next_version, clusters, ids, tokens_out,
                 golden=golden_out)

    if out is None:
        row = clusters.agg(
            F.count(F.lit(1)), F.countDistinct("group")
        ).first()
        sizes = (row[0], row[1])
    summary = {
        "version": next_version,
        "delta_strings": n_delta,
        "strings": sizes[0],
        "groups": sizes[1],
        "wall_sec": round(time.time() - t0, 2),
        "fold": "distributed" if out is None else "driver",
    }
    if n_golden is not None:
        summary["golden_rows"] = n_golden
        if n_refused is not None:
            summary["golden_refused_clusters"] = n_refused
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
