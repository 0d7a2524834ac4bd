"""Streaming entity resolution — incremental matching over a name stream.

Beyond the reference (batch-only): names arrive as a stream; each micro-batch
unites into the running partition via ``TokenSimilarity.predict_incremental``
(new-vs-all blocking — old×old pairs never re-enumerate), inside
``foreachBatch``. The first batch folds into the empty partition.

State design (the part that must survive failures):
- the partition lives as parquet under ``<state_dir>/v<batch_id>`` — one
  immutable VERSION per micro-batch, never overwritten in place (a lazy
  read-then-overwrite of one path corrupts the very files being read);
- a replayed batch (checkpoint recovery re-runs the last epoch) rewrites its
  own version directory from the same predecessor → idempotent, the
  foreachBatch contract;
- the current state is simply the highest complete version (parquet's
  _SUCCESS marker), so readers never see a half-written partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _versions(
    spark, state_dir: str, prefix: str = "v", before: int | None = None
) -> list[int]:
    """Complete state versions under state_dir (Hadoop FS — works on local
    paths and distributed filesystems alike), strictly below ``before``
    when given. ``prefix`` selects the family: 'v' = partition snapshots,
    't' = append-only token-delta dirs."""
    sc = spark.sparkContext
    jvm = sc._jvm
    path = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name.startswith(prefix) and name[len(prefix):].isdigit():
            if fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
                out.append(int(name[len(prefix):]))
    return sorted(v for v in out if before is None or v < before)


def _read_versions(spark, state_dir: str, prefix: str, before, last=False):
    """The complete versions below ``before`` as one frame (only the
    highest with ``last``), or None: every streaming state load."""
    vs = _versions(spark, state_dir, prefix, before)
    if last:
        vs = vs[-1:]
    if not vs:
        return None
    return spark.read.parquet(*[f"{state_dir}/{prefix}{v:010d}" for v in vs])


def load_token_state(spark, state_dir: str, before: int | None = None):
    """Union of the complete token-delta dirs (t<batch_id>) strictly below
    ``before`` — the carried (string, token, tf) table of the accumulated
    universe. Deltas are append-only (each batch writes ONLY its new
    strings' token rows — the MinHash band-index pattern), so the union IS
    the full table and a replayed batch re-reading < its own id stays
    consistent. Returns None when no delta exists yet."""
    return _read_versions(spark, state_dir, "t", before)


def _prune_versions(spark, state_dir: str, current: int) -> None:
    """Delete complete snapshot versions older than ``current``'s
    predecessor. The predecessor stays on disk for checkpoint-replay safety
    (a replayed epoch reads strictly-below its own id); everything older is
    unreachable. Keeps state storage at O(2 snapshots) instead of
    O(n_batches × state)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    fs = jvm.org.apache.hadoop.fs.Path(state_dir).getFileSystem(
        sc._jsc.hadoopConfiguration()
    )
    for v in _versions(spark, state_dir, before=current)[:-1]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{state_dir}/v{v:010d}"), True)


def load_state(spark, state_dir: str, before: int | None = None):
    """Current MatchData state (highest complete version), or None.

    ``before`` bounds the version strictly below a batch id: a REPLAYED
    micro-batch (checkpoint recovery re-runs the last epoch) must read its
    PREDECESSOR state, not the version it already wrote itself — loading
    the unbounded highest would feed the batch its own output (for dedup
    that self-match would drop every doc; for ER it double-counts)."""
    from nama_spark.operators.matchdata import MatchData

    df = _read_versions(spark, state_dir, "v", before, last=True)
    return None if df is None else MatchData(df, _relabel=False)


def streaming_unite_names(
    spark,
    source_dir: str,
    schema,
    state_dir: str,
    threshold: float = 0.5,
    string_col: str = "string",
    tokenizer: str = "words",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
):
    """readStream(parquet names) → foreachBatch(incremental unite) →
    versioned parquet state. Returns the started StreamingQuery; callers
    stop it / processAllAvailable as needed. Every batch is a
    predict_incremental against the previous version (the first against the
    empty partition) — each costs O(Δn·block), not a recluster."""
    from nama_spark.operators.matchdata import MatchData
    from nama_spark.operators.token_similarity import TokenSimilarity
    from nama_spark.session import local_frame

    def process(batch_df: DataFrame, batch_id: int) -> None:
        prev = load_state(spark, state_dir, before=batch_id) or MatchData(
            local_frame(spark, [], "string string, count bigint, `group` string"),
            _relabel=False,
        )
        ts = TokenSimilarity(tokenizer=tokenizer)
        md = ts.predict_incremental(
            prev, batch_df.select(string_col), threshold=threshold,
            string_col=string_col,
            prev_tokens=load_token_state(spark, state_dir, before=batch_id),
        )
        md.df.write.mode("overwrite").parquet(f"{state_dir}/v{batch_id:010d}")
        # append-only token index: O(Δn) rows per batch, so later batches
        # never re-tokenize the accumulated universe; with no index yet
        # (the first batch, or a pre-existing v-only state) the batch
        # writes the whole union table, so later batches go incremental
        ts.last_delta_tokens.write.mode("overwrite").parquet(
            f"{state_dir}/t{batch_id:010d}"
        )
        _prune_versions(spark, state_dir, batch_id)
        ts.unpersist()

    return _start_stream(
        spark, source_dir, schema, process, checkpoint_dir, max_files_per_trigger
    )


def _start_stream(spark, source_dir, schema, process, checkpoint_dir, max_files):
    """readStream(parquet) → foreachBatch(process), started."""
    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(source_dir)
    )
    writer = reader.writeStream.foreachBatch(process)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
