"""Streaming incremental corpus dedup — documents arrive as a stream; each
micro-batch dedups against everything kept so far via the persisted MinHash
band index (``minhash_band_index``), inside ``foreachBatch``.

Versioned state like streaming ER (er.py), but DELTA-shaped: each
micro-batch writes only its own survivors' bands under
``<state_dir>/v<batch_id>`` (parquet + _SUCCESS) and the live index is the
UNION of versions strictly below the reading batch's id — idempotent under
checkpoint recovery (a replayed batch overwrites its own delta and never
sees it), per-batch write cost O(Δn·bands), total state O(kept corpus).
(ER's MatchData state is a whole partition, so er.py keeps full snapshots
and prunes to {current, predecessor} instead.)

Decisions are keep/drop per batch doc:
- drop if it band-matches any already-indexed doc, or a smaller-id doc
  within its own batch (the within-batch survivor rule);
- survivors' bands (only) append to the index — dropped near-dups don't
  bloat state, and future arrivals match against the cluster's survivor.

Shared steps: every state load goes through er.py's ``_read_versions``
(complete versions strictly below the batch id), the band match is
operators/dedup.py's ``_band_join``, and the stream tail is er.py's
``_start_stream``.

Candidates-only (no exact-Jaccard verify): the state keeps bands, not
corpus text — at stream scale that is the point. Tighten ``bands``/
``num_hashes`` to trade recall vs precision; run the batch
``minhash_lsh_pairs_delta(..., corpus_df=...)`` path offline when exact
verification matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nama_spark.streaming.er import _read_versions, _start_stream


def load_band_index(spark, state_dir: str, before: int | None = None):
    """Union of all complete band-index DELTA versions (strictly below
    ``before`` when given), or None. Each version holds only that batch's
    survivors' bands — the index is the union, so a batch write costs
    O(Δn · bands), never O(corpus). A replayed batch overwrites its own
    delta file and reads strictly-below versions: idempotent."""
    return _read_versions(spark, state_dir, "v", before)


def streaming_dedup_corpus(
    spark,
    source_dir: str,
    schema,
    state_dir: str,
    decisions_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
):
    """readStream(parquet docs) → foreachBatch(band-join vs index) →
    keep/drop decisions + appended index version. Returns the started
    StreamingQuery. Each micro-batch costs O(Δn · bucket) — the corpus is
    never re-shingled."""
    from nama_spark.operators.dedup import _band_join, minhash_band_index

    def process(batch_df: DataFrame, batch_id: int) -> None:
        new_bands = minhash_band_index(
            batch_df, text_col, id_col, k, num_hashes, bands
        ).localCheckpoint(eager=False)
        batch_ids = (
            batch_df.select(F.col(id_col).alias("doc_id")).distinct()
            .localCheckpoint(eager=False)
        )
        prev = load_band_index(spark, state_dir, before=batch_id)
        both = new_bands if prev is None else new_bands.unionByName(prev)
        matched = _band_join(new_bands, both, "bsig", ("ida", "idb")).where(
            F.col("ida") != F.col("idb")
        )
        # a batch doc drops if its match is already indexed (not in this
        # batch) or is a smaller-id doc of the same batch
        older = matched.join(
            batch_ids.select(F.col("doc_id").alias("idb")), "idb", "left_anti"
        ).select(F.col("ida").alias("doc_id"))
        within = (
            matched.join(
                batch_ids.select(F.col("doc_id").alias("idb")), "idb", "left_semi"
            )
            .where(F.col("idb") < F.col("ida"))
            .select(F.col("ida").alias("doc_id"))
        )
        drop = older.union(within).distinct().localCheckpoint(eager=False)
        keep = batch_ids.join(drop, "doc_id", "left_anti")
        decisions = keep.withColumn("keep", F.lit(True)).unionByName(
            drop.withColumn("keep", F.lit(False))
        )
        decisions.write.mode("overwrite").parquet(
            f"{decisions_dir}/b{batch_id:010d}"
        )
        # delta write: this batch's survivors' bands ONLY — the index is the
        # union of versions (load_band_index), so state totals O(kept corpus)
        # and the per-batch write is O(Δn · bands), not O(corpus).
        survivors = new_bands.join(
            keep.select("doc_id"), "doc_id", "left_semi"
        )
        survivors.write.mode("overwrite").parquet(
            f"{state_dir}/v{batch_id:010d}"
        )

    return _start_stream(
        spark, source_dir, schema, process, checkpoint_dir, max_files_per_trigger
    )
