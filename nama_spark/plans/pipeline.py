"""Multi-pass matching pipeline — the engine's flagship plan.

Reference usage composes passes cheapest/highest-precision first
(build_opensecrets_training_data.py:91, demo/demo.py:62-66,
training/unsupervised.py:15): exact-normalized-key → token similarity →
embedding similarity. Each pass only ADDS edges (uniting is monotone), so
passes commute with transitive closure and the pipeline can resume after any
completed pass.

Scale design (the part the reference cannot do):
- file-level records (10¹²-row table) are aggregated ONCE to the distinct
  name universe with multiplicities — exactly nama's counts model
  (match_data.py:21) — so every pairwise stage runs at name cardinality, not
  file cardinality; only `sha2(content,256)` ever travels for the invariant.
- each pass writes its edge set to ``<checkpoint_dir>/<NN_pass>_edges/``
  parquet and one connected-components run over their union writes the
  partition to ``<checkpoint_dir>/zz_clusters/``; on resume, completed
  passes load instead of recompute (per-pass _SUCCESS marker is parquet's
  own).
- per-pass lineage rows (rows in/out, groups, wall, per-partition row stats)
  land in ``<checkpoint_dir>/lineage.parquet``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nama_spark.functions.normalize import norm_key
from nama_spark.operators import token_similarity as TS
from nama_spark.operators.matchdata import MatchData
from nama_spark.operators.token_similarity import TokenSimilarity
from nama_spark.plans.lineage import LineageLog
from nama_spark.session import collect_rows, local_frame


@dataclass
class ExactKeyPass:
    """B1 — unite strings sharing a normalization key (EP-2, SURVEY.md §3)."""

    key: str = "simplify_corp"
    name: str = "exact_key"

    def edges(self, md: MatchData, lineage: LineageLog) -> DataFrame:
        from nama_spark.operators.block import exact_key_edges

        return exact_key_edges(
            md.df, norm_key(F.col("string"), self.key)
        ).select("src", "dst")


@dataclass
class TokenSimPass:
    """B2 — token-blocking similarity pass over normalized representatives.

    ``normalize`` maps raw strings through a normalization key first; edges
    found between normalized forms are pulled back to the raw strings sharing
    that form (the exact pass has already united those, so the pullback adds
    no spurious pairs).

    When the keyed (string, norm) rows number at most
    ``_TOKENSIM_DRIVER_FIT_STRINGS``, one bounded ``limit(cap + 1)`` Arrow
    collect reads them; they become a local frame, and their distinct norms
    go to ``TokenSimilarity.fit`` (the driver fit, no probe). Then:

    - *Driver.* If the driver fit's pair bound (Σ over eligible tokens of
      C(block size, 2)) is at most ``_TOKENSIM_DRIVER_PAIRS``,
      ``driver_pair_scores`` blocks and scores in Python, and the threshold
      and the pullback (a dict from norm to raw strings) run there too:
      only the (src, dst) edges ship, as one local frame, and no Spark job
      runs between the collect and the edges. (A universe that fits the
      driver fit while its keyed rows do not is fitted by fit()'s own
      probe; its driver scores ship as a local frame to the join pullback.)
    - *Spark.* Otherwise ``pair_scores`` runs the block join and scorer and
      the pullback is two joins, as before the driver path existed.

    Lineage records the pair gate, the pair bound when a driver fit read
    it, and the path taken (``driver_path`` 1 or 0)."""

    threshold: float = 0.6
    tokenizer: str = "nmgrams23"
    weighting: str = "tf-idf"
    measure: str = "jaccard"
    max_block_size: int = 100
    normalize: str | None = "simplify_corp"
    name: str = "token_sim"

    def edges(self, md: MatchData, lineage: LineageLog) -> DataFrame:
        spark = md.df.sparkSession
        if self.normalize:
            key = norm_key(F.col("string"), self.normalize)
            keyed = md.df.select("string", key.alias("norm")).where(
                F.col("norm").isNotNull() & (F.col("norm") != "")
            )
        else:
            keyed = md.df.select("string", F.col("string").alias("norm"))
        ts = TokenSimilarity(
            tokenizer=self.tokenizer,
            weighting=self.weighting,
            measure=self.measure,
            max_block_size=self.max_block_size,
        )
        rows = collect_rows(keyed, TS._TOKENSIM_DRIVER_FIT_STRINGS)
        by_norm = None
        if rows is not None:
            by_norm = {}
            for raw, norm in rows:
                by_norm.setdefault(norm, []).append(raw)
            keyed = local_frame(spark, rows, "string string, norm string")
        elif self.normalize:
            # pinned: consumed by the universe AND both pullback joins —
            # three re-evaluations of the regex chain otherwise (round 6)
            keyed = keyed.localCheckpoint(eager=False)
        ts.fit(
            keyed.select(F.col("norm").alias("string")),
            strings=None if by_norm is None else list(by_norm),
        )
        scored = ts.driver_pair_scores()
        lineage.add(self.name, "threshold", self.threshold)
        lineage.add(self.name, "pair_gate", TS._TOKENSIM_DRIVER_PAIRS)
        if ts.pair_bound is not None:
            lineage.add(self.name, "pair_bound", ts.pair_bound)
        lineage.add(self.name, "driver_path", float(scored is not None))
        if scored is not None and by_norm is not None:
            edges = [
                (r0, r1)
                for n0, n1, score in scored
                if score >= self.threshold
                for r0 in by_norm[n0]
                for r1 in by_norm[n1]
            ]
            return local_frame(spark, edges, "src string, dst string")
        scores = (
            ts.pair_scores() if scored is None
            else local_frame(spark, scored, TS._SCORE_SCHEMA)
        )
        edges = scores.where(F.col("score") >= self.threshold)
        if self.normalize:
            k0 = keyed.select(F.col("string").alias("r0"), F.col("norm").alias("s0"))
            k1 = keyed.select(F.col("string").alias("r1"), F.col("norm").alias("s1"))
            edges = (
                edges.join(k0, "s0").join(k1, "s1").select(
                    F.col("r0").alias("src"), F.col("r1").alias("dst")
                )
            )
        else:
            edges = edges.select(F.col("s0").alias("src"), F.col("s1").alias("dst"))
        return edges


@dataclass
class EmbeddingPass:
    """B3 — LSH-candidate embedding-cosine pass (embeddings.py fast path).

    With ``model="rp"``, no ``vectors_path`` and a ``candidate_mode`` that
    has an exact driver scan (``embed.driver_scan``: "lsh"), one bounded
    Arrow collect (``_TOKENSIM_DRIVER_FIT_STRINGS`` rows) reads the keyed
    (string, norm) rows. The pass embeds the distinct norms on the driver
    (``embed.embed_driver``, bitwise ``embed_strings``' vectors), keeps the
    pairs ``embed.brp_pairs`` finds under the BRP join's own predicate (a
    superset of the join's pairs: the join can only miss a pair), and
    pulls them back to raw strings through a dict; only the (src, dst)
    edges ship, as one local frame, and no Spark job runs between the
    collect and the edges. If those edges would pass
    ``embed._EMBED_DRIVER_PAIRS`` (a low threshold keeps every pair), the
    collected rows become a local frame and the pass runs the Spark path
    on it. Otherwise — over the collect bound, and in every other mode —
    the pass embeds on Spark and runs ``embed.threshold_candidates`` with
    a two-join pullback.

    Lineage records, under TokenSimPass's keys, the edge gate when the
    driver scan applies, C(n, 2) over the distinct norms when the collect
    read them (``pair_bound``: the pairs the scan visits), and the path
    taken (``driver_path`` 1 or 0)."""

    threshold: float = 0.5          # calibrated probability threshold
    alpha: float = 20.0
    dim: int = 64
    seed: int = 42
    candidate_mode: str = "lsh"     # "lsh" | "ivf" | "bruteforce"
    num_hash_tables: int = 8
    bucket_length: float = 0.25
    # ivf mode: auto n_cells (~n/400) when None; the density-robust scale
    # path — see ivf_candidates (the BRP-LSH join cost grows with bucket
    # occupancy; measured 57× at 10× vectors, IVF 4.6×)
    n_cells: int | None = None
    nprobe: int = 2
    # ivf mode scale knobs (forwarded): two_level=None auto-engages the
    # coarse quantizer past the flat cell cap (ann._IVF_FLAT_MAX_CELLS);
    # max_cell_rows pre-splits hot cells
    two_level: bool | None = None
    max_cell_rows: int | None = None
    normalize: str | None = "simplify_corp"
    # "rp" = seeded Gaussian random projection (embed_strings);
    # "md5" = engine-portable md5 feature hashing (embed_strings_md5 —
    # SQL-reproducible, so the whole pass can be oracle-checked)
    model: str = "rp"
    # production path: parquet of precomputed (string, vec) from a real
    # encoder run offline (the reference's trained transformer —
    # similarity_model.py embed). When set, `model` is ignored; universe
    # strings without a vector are skipped (count in lineage).
    vectors_path: str | None = None
    name: str = "embedding"

    def edges(self, md: MatchData, lineage: LineageLog) -> DataFrame:
        from nama_spark.operators import embed as E
        from nama_spark.operators.score import score_to_cos

        spark = md.df.sparkSession
        cos_t = score_to_cos(self.threshold, self.alpha)
        if self.normalize:
            key = norm_key(F.col("string"), self.normalize)
            keyed = md.df.select("string", key.alias("norm")).where(
                F.col("norm").isNotNull() & (F.col("norm") != "")
            )
        else:
            keyed = md.df.select("string", F.col("string").alias("norm"))
        scan = None
        if self.model == "rp" and not self.vectors_path:
            scan = E.driver_scan(self.candidate_mode)
        rows = None
        if scan is not None:
            lineage.add(self.name, "pair_gate", E._EMBED_DRIVER_PAIRS)
            rows = collect_rows(keyed, TS._TOKENSIM_DRIVER_FIT_STRINGS)
        if rows is not None:
            # NULL norms never meet the Spark pullback join either
            by_norm = {}
            for raw, norm in rows:
                if norm is not None:
                    by_norm.setdefault(norm, []).append(raw)
            norms = sorted(by_norm)
            lineage.add(self.name, "pair_bound", len(norms) * (len(norms) - 1) // 2)
            pairs = scan(
                E.embed_driver(norms, dim=self.dim, seed=self.seed),
                cos_t, E._EMBED_DRIVER_PAIRS,
            )
            sizes = [len(by_norm[s]) for s in norms]
            if pairs is not None and sum(
                sizes[i] * sizes[j] for i, j in pairs
            ) <= E._EMBED_DRIVER_PAIRS:
                lineage.add(self.name, "driver_path", 1.0)
                # norms are sorted, so i < j is lsh_candidates' s0 < s1
                edges = [
                    (r0, r1)
                    for i, j in pairs
                    for r0 in by_norm[norms[i]]
                    for r1 in by_norm[norms[j]]
                ]
                return local_frame(spark, edges, "src string, dst string")
            keyed = local_frame(spark, rows, "string string, norm string")
        elif self.normalize:
            # pinned for the same three-consumer reason as TokenSimPass
            keyed = keyed.localCheckpoint(eager=False)
        lineage.add(self.name, "driver_path", 0.0)

        if self.normalize:
            universe = keyed.select(F.col("norm").alias("string")).distinct()
        else:
            universe = md.df.select("string")
        if self.vectors_path:
            emb = spark.read.parquet(self.vectors_path).select("string", "vec")
            emb = emb.join(universe, "string", "left_semi")
            n_universe = universe.count()
            n_vec = emb.count()
            lineage.add(self.name, "strings_with_vectors", n_vec)
            if n_vec < n_universe:
                lineage.add(self.name, "strings_missing_vectors",
                            n_universe - n_vec)
        elif self.model == "md5":
            emb = E.embed_strings_md5(universe, count_col=None, dim=self.dim)
        else:
            emb = E.embed_strings(universe, count_col=None, dim=self.dim, seed=self.seed)
        mode_kwargs = {
            "ivf": dict(n_cells=self.n_cells, nprobe=self.nprobe,
                        two_level=self.two_level,
                        max_cell_rows=self.max_cell_rows),
            "lsh": dict(num_hash_tables=self.num_hash_tables,
                        bucket_length=self.bucket_length),
        }
        cand = E.threshold_candidates(
            emb, cos_t, self.candidate_mode,
            **mode_kwargs.get(self.candidate_mode, {}),
        )
        # pull normalized-form candidate edges back to raw strings
        k0 = keyed.select(F.col("string").alias("r0"), F.col("norm").alias("s0"))
        k1 = keyed.select(F.col("string").alias("r1"), F.col("norm").alias("s1"))
        return (
            cand.join(k0, "s0").join(k1, "s1")
            .select(F.col("r0").alias("src"), F.col("r1").alias("dst"))
        )


@dataclass
class MatchPipeline:
    """Ordered multi-pass plan with checkpoint/resume and lineage.

    Every pass emits its edge set (each pass's candidates are a function of
    the string universe, not of the running partition), edges checkpoint
    per pass, and ONE connected-components run closes the union. Transitive
    closure is monotone, so the result is the one sequential uniting after
    each pass would give, with P−1 fewer CC rounds.
    """

    passes: list = field(default_factory=lambda: [ExactKeyPass(), TokenSimPass()])
    checkpoint_dir: str | None = None
    # edge count under which CC runs driver-side union-find instead of the
    # iterative shuffle rounds (cluster.py small_graph_threshold)
    cc_driver_edge_cap: int = 100_000

    def run(
        self,
        records: DataFrame,
        string_col: str = "repo",
        resume: bool = True,
    ) -> tuple[MatchData, LineageLog]:
        spark = records.sparkSession
        lineage = LineageLog(spark, self.checkpoint_dir)

        # file-scale → name-scale: one aggregation, counts = multiplicities.
        # Pinned (round 6): every pass, the partition stats and the final
        # unite re-reads md.df — unpinned, each consumer re-runs the
        # file-scale groupBy (guide §5 localCheckpoint for reused
        # intermediates); the ingest count below materializes the pin.
        names = records.groupBy(F.col(string_col).alias("string")).agg(
            F.count(F.lit(1)).alias("count")
        )
        md = MatchData(
            names.withColumn("group", F.col("string")).localCheckpoint(
                eager=False
            ),
            _relabel=False,
        )
        lineage.add("ingest", "distinct_strings", md.df.count())

        all_edges = None
        all_resumed = True
        for i, p in enumerate(self.passes):
            stage_dir = (
                os.path.join(self.checkpoint_dir, f"{i:02d}_{p.name}_edges")
                if self.checkpoint_dir
                else None
            )
            if resume and stage_dir and _checkpoint_exists(spark, stage_dir):
                edges = spark.read.parquet(stage_dir)
                lineage.add(p.name, "resumed_from_checkpoint", 1.0, checkpoint=stage_dir)
            else:
                all_resumed = False
                t0 = time.time()
                edges = p.edges(md, lineage)
                if stage_dir:
                    edges.write.mode("overwrite").parquet(stage_dir)
                    edges = spark.read.parquet(stage_dir)
                else:
                    # no durable checkpoint → pin the edge set once; it is
                    # consumed twice more (partition stats collect + the
                    # fused-CC union) and would otherwise recompute the
                    # whole pass per consumer. Lazy pin: the partition-stats
                    # collect right below materializes it — one job, not an
                    # eager-checkpoint job followed by a stats job (round 6)
                    edges = edges.localCheckpoint(eager=False)
                lineage.add(p.name, "wall_sec", time.time() - t0, checkpoint=stage_dir)
                lineage.add_partition_stats(edges, p.name)
            all_edges = edges if all_edges is None else all_edges.union(edges)

        final_dir = (
            os.path.join(self.checkpoint_dir, "zz_clusters")
            if self.checkpoint_dir
            else None
        )
        if (
            resume
            and all_resumed
            and final_dir
            and _checkpoint_exists(spark, final_dir)
        ):
            md = MatchData(spark.read.parquet(final_dir), _relabel=False)
            lineage.add("fused_cc", "resumed_from_checkpoint", 1.0, checkpoint=final_dir)
            lineage.flush()
            return md, lineage

        t0 = time.time()
        if all_edges is not None:
            md = md.unite(
                all_edges, small_graph_threshold=self.cc_driver_edge_cap
            )
        if final_dir:
            md.df.write.mode("overwrite").parquet(final_dir)
            md = MatchData(spark.read.parquet(final_dir), _relabel=False)
        else:
            # pin the clustered partition for the groups count, partition
            # stats and whatever the caller does next (label-election window
            # + join would otherwise re-run per action). Lazy: the groups
            # count below materializes the pin in the same job (round 6)
            md = MatchData(md.df.localCheckpoint(eager=False), _relabel=False)
        lineage.add("fused_cc", "wall_sec", time.time() - t0, checkpoint=final_dir)
        lineage.add("fused_cc", "groups", md.df.select("group").distinct().count())
        lineage.add_partition_stats(md.df, "fused_cc")
        lineage.flush()
        return md, lineage


def _checkpoint_exists(spark: SparkSession, path: str) -> bool:
    # Hadoop FS check (works for local and distributed filesystems alike)
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS")
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def assign_records(records: DataFrame, md: MatchData, string_col: str = "repo") -> DataFrame:
    """Join cluster labels back onto the file-level records (name-scale →
    file-scale). The name→group map is small relative to records → broadcast
    when it fits; Catalyst/AQE decides."""
    gmap = md.df.select(
        F.col("string").alias(string_col), F.col("group").alias("entity_group")
    )
    return records.join(gmap, string_col, "left")


def sha256_invariant_violations(records: DataFrame, reference: DataFrame,
                                keys: tuple = ("repo", "path", "commit")) -> DataFrame:
    """Per-row content-sha256 equality vs the reference copy (north rule /
    BASELINE.json input_hint). Pure column ops: F.sha2(content, 256) on both
    sides, equi-join on the row key, keep mismatches. Returns the violation
    rows (empty = invariant holds)."""
    a = records.select(*keys, F.sha2(F.col("content"), 256).alias("sha_a"))
    b = reference.select(*keys, F.sha2(F.col("content"), 256).alias("sha_b"))
    return a.join(b, list(keys), "full").where(
        F.col("sha_a").isNull()
        | F.col("sha_b").isNull()
        | (F.col("sha_a") != F.col("sha_b"))
    )
