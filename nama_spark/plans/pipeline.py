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
import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nama_spark.functions.normalize import norm_key
from nama_spark.operators import token_similarity as TS
from nama_spark.operators.block import exact_key_edges
from nama_spark.operators.matchdata import MatchData
from nama_spark.operators.token_similarity import TokenSimilarity
from nama_spark.plans.lineage import LineageLog
from nama_spark.session import collect_rows, local_frame

# MatchData → {(normalization key, collect bound): _Keyed}; weak, so an
# entry lives exactly as long as its MatchData
_KEYED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


class _Keyed:
    """The keyed (string, norm) universe of one MatchData under one
    normalization key, built once and read by every pass of a run.

    ``df`` holds each string's ``norm_key`` under ``key``, NULL and empty
    norms dropped; with ``key=None`` each non-NULL string is its own norm. One
    bounded ``limit(cap + 1)`` Arrow collect (``session.collect_rows``, cap
    ``_TOKENSIM_DRIVER_FIT_STRINGS``) reads those rows. When they fit,
    ``df`` is them as a one-partition local frame and ``by_norm`` maps each
    norm to its raw strings. Over the cap ``by_norm`` is None and ``df`` is
    the keyed frame, lazily pinned when a key is set: the exact-key window,
    a pass's universe and the pullback joins would each re-run the regex
    chain otherwise. Norm pairs go back to raw strings through ``edges``
    (the dict; one local frame in one partition, so only (src, dst) ships)
    or ``pullback`` (two joins on Spark; none when ``key`` is None)."""

    def __init__(self, md: MatchData, key: str | None, cap: int):
        self.spark = md.df.sparkSession
        self.key = key
        norm = norm_key(F.col("string"), key) if key else F.col("string")
        df = md.df.select("string", norm.alias("norm")).where(F.col("norm").isNotNull())
        if key:
            df = df.where(F.col("norm") != "")
        rows = collect_rows(df, cap)
        self.by_norm = None
        if rows is not None:
            self.by_norm = {}
            for raw, norm in rows:
                self.by_norm.setdefault(norm, []).append(raw)
            df = local_frame(self.spark, rows, "string string, norm string").coalesce(1)
        elif key:
            df = df.localCheckpoint(eager=False)
        self.df = df

    @classmethod
    def of(cls, md: MatchData, key: str | None) -> "_Keyed":
        # the bound as it reads now: a caller may move it between two passes
        memo_key = (key, TS._TOKENSIM_DRIVER_FIT_STRINGS)
        memo = _KEYED.setdefault(md, {})
        if memo_key not in memo:
            memo[memo_key] = cls(md, *memo_key)
        return memo[memo_key]

    def edges(self, norm_pairs) -> DataFrame:
        rows = [
            (r0, r1)
            for n0, n1 in norm_pairs
            for r0 in self.by_norm[n0]
            for r1 in self.by_norm[n1]
        ]
        return local_frame(self.spark, rows, "src string, dst string").coalesce(1)

    def pullback(self, cand: DataFrame) -> DataFrame:
        if not self.key:
            return cand.select(F.col("s0").alias("src"), F.col("s1").alias("dst"))
        k0 = self.df.select(F.col("string").alias("r0"), F.col("norm").alias("s0"))
        k1 = self.df.select(F.col("string").alias("r1"), F.col("norm").alias("s1"))
        return cand.join(k0, "s0").join(k1, "s1").select(
            F.col("r0").alias("src"), F.col("r1").alias("dst")
        )


@dataclass
class ExactKeyPass:
    """B1 — unite strings sharing a normalization key (EP-2, SURVEY.md §3)."""

    key: str = "simplify_corp"
    name: str = "exact_key"

    def edges(self, md: MatchData, lineage: LineageLog) -> DataFrame:
        u = _Keyed.of(md, self.key)
        return exact_key_edges(u.df, F.col("norm")).select("src", "dst")


@dataclass
class TokenSimPass:
    """B2 — token-blocking similarity pass over normalized representatives.

    ``normalize`` maps raw strings through a normalization key first; edges
    found between normalized forms are pulled back to the raw strings sharing
    that form (the exact pass has already united those, so the pullback adds
    no spurious pairs). When the keyed universe (``_Keyed``) fits its
    collect, its distinct norms go to ``TokenSimilarity.fit`` (the driver
    fit, no probe). Then:

    - *Driver.* If the driver fit's pair bound (Σ over eligible tokens of
      C(block size, 2)) is at most ``_TOKENSIM_DRIVER_PAIRS``,
      ``driver_pair_scores`` blocks and scores in Python, and the threshold
      and the pullback run there too, so no Spark job runs between the
      collect and the edges. (A universe that fits the driver fit while
      its keyed rows do not is fitted by fit()'s own probe; its driver
      scores ship as a local frame to the join pullback.)
    - *Spark.* Otherwise ``pair_scores`` runs the block join and scorer and
      the pullback is two joins, as before the driver path existed.

    Lineage records the pair gate, the pair bound when a driver fit read
    it, and the path taken (``driver_path`` 1 or 0). The driver path
    releases the fit's cached frames and broadcast before it returns; the
    Spark path's edges read them, so it leaves them cached."""

    threshold: float = 0.6
    tokenizer: str = "nmgrams23"
    weighting: str = "tf-idf"
    measure: str = "jaccard"
    max_block_size: int = 100
    normalize: str | None = "simplify_corp"
    name: str = "token_sim"

    def edges(self, md: MatchData, lineage: LineageLog) -> DataFrame:
        u = _Keyed.of(md, self.normalize)
        ts = TokenSimilarity(
            tokenizer=self.tokenizer,
            weighting=self.weighting,
            measure=self.measure,
            max_block_size=self.max_block_size,
        )
        ts.fit(
            u.df.select(F.col("norm").alias("string")),
            strings=None if u.by_norm is None else list(u.by_norm),
        )
        scored = ts.driver_pair_scores()
        lineage.add(self.name, "threshold", self.threshold)
        lineage.add(self.name, "pair_gate", TS._TOKENSIM_DRIVER_PAIRS)
        if ts.pair_bound is not None:
            lineage.add(self.name, "pair_bound", ts.pair_bound)
        lineage.add(self.name, "driver_path", float(scored is not None))
        if scored is None:
            # the Spark path's scores read the fit's caches, so they stay
            scores = ts.pair_scores()
        else:
            ts.unpersist()
            if u.by_norm is not None:
                return u.edges(
                    (n0, n1) for n0, n1, score in scored if score >= self.threshold
                )
            scores = local_frame(u.spark, scored, TS._SCORE_SCHEMA)
        return u.pullback(scores.where(F.col("score") >= self.threshold))


@dataclass
class EmbeddingPass:
    """B3 — LSH-candidate embedding-cosine pass (embeddings.py fast path).

    With ``model="rp"``, no ``vectors_path``, a ``candidate_mode`` that has
    an exact driver scan (``embed.driver_scan``: "lsh") and a keyed
    universe (``_Keyed``) that fits its collect, the pass embeds the
    distinct norms on the driver (``embed.embed_driver``, bitwise
    ``embed_strings``' vectors) and keeps the pairs ``embed.brp_pairs``
    finds (``embed.lsh_candidates``' pairs: both run one block step); no
    Spark job runs between the collect and the edges. If those edges would pass
    ``embed._EMBED_DRIVER_PAIRS`` (a low threshold keeps every pair), the
    pass runs the Spark path on the collected rows. Otherwise — over the
    collect bound, and in every other mode — the pass embeds on Spark and
    runs ``embed.threshold_candidates`` with the join pullback.

    Lineage records, under TokenSimPass's keys, the edge gate when the
    driver scan applies, C(n, 2) over the distinct norms when the collect
    read them (``pair_bound``: the pairs the scan visits), and the path
    taken (``driver_path`` 1 or 0)."""

    threshold: float = 0.5          # calibrated probability threshold
    alpha: float = 20.0
    dim: int = 64
    seed: int = 42
    candidate_mode: str = "lsh"     # "lsh" | "ivf" | "bruteforce"
    # ivf mode: auto n_cells (~n/400) when None; the sub-quadratic scale
    # path — see ivf_candidates (the exact "lsh" scan compares all C(n, 2)
    # pairs)
    n_cells: int | None = None
    nprobe: int = 2
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

        u = _Keyed.of(md, self.normalize)
        cos_t = score_to_cos(self.threshold, self.alpha)
        scan = None
        if self.model == "rp" and not self.vectors_path:
            scan = E.driver_scan(self.candidate_mode)
        if scan is not None:
            lineage.add(self.name, "pair_gate", E._EMBED_DRIVER_PAIRS)
        if scan is not None and u.by_norm is not None:
            norms = sorted(u.by_norm)
            lineage.add(self.name, "pair_bound", len(norms) * (len(norms) - 1) // 2)
            pairs = scan(
                E.embed_driver(norms, dim=self.dim, seed=self.seed),
                cos_t, E._EMBED_DRIVER_PAIRS,
            )
            sizes = [len(u.by_norm[s]) for s in norms]
            if pairs is not None and sum(
                sizes[i] * sizes[j] for i, j in pairs
            ) <= E._EMBED_DRIVER_PAIRS:
                lineage.add(self.name, "driver_path", 1.0)
                # norms are sorted, so i < j is lsh_candidates' s0 < s1
                return u.edges((norms[i], norms[j]) for i, j in pairs)
        lineage.add(self.name, "driver_path", 0.0)

        universe = u.df.select(F.col("norm").alias("string")).distinct()
        if self.vectors_path:
            emb = u.spark.read.parquet(self.vectors_path).select("string", "vec")
            emb = emb.join(universe, "string", "left_semi")
            n_universe = universe.count()
            n_vec = emb.count()
            lineage.add(self.name, "strings_with_vectors", n_vec)
            if n_vec < n_universe:
                lineage.add(self.name, "strings_missing_vectors", n_universe - n_vec)
        elif self.model == "md5":
            emb = E.embed_strings_md5(universe, count_col=None, dim=self.dim)
        else:
            emb = E.embed_strings(universe, count_col=None, dim=self.dim, seed=self.seed)
        # only ivf takes options: the mode dispatch is threshold_candidates'
        mode_kwargs = {"ivf": dict(n_cells=self.n_cells, nprobe=self.nprobe)}
        cand = E.threshold_candidates(
            emb, cos_t, self.candidate_mode, **mode_kwargs.get(self.candidate_mode, {})
        )
        return u.pullback(cand)


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

    def run(
        self,
        records: DataFrame,
        string_col: str = "repo",
        resume: bool = True,
    ) -> tuple[MatchData, LineageLog]:
        spark = records.sparkSession
        lineage = LineageLog(spark, self.checkpoint_dir)

        # file-scale → name-scale: one aggregation, counts = multiplicities.
        # Pinned: the keyed universe, the partition stats and the final
        # unite each re-read md.df and would re-run the file-scale groupBy;
        # the ingest count below materializes the pin.
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
            stage_dir = None
            if self.checkpoint_dir:
                stage_dir = os.path.join(self.checkpoint_dir, f"{i:02d}_{p.name}_edges")
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
                    # no durable checkpoint → pin the edge set once for its
                    # two consumers (partition stats, the fused-CC union);
                    # lazy, so the partition-stats collect below
                    # materializes it in the same job
                    edges = edges.localCheckpoint(eager=False)
                lineage.add(p.name, "wall_sec", time.time() - t0, checkpoint=stage_dir)
                lineage.add_partition_stats(edges, p.name)
            all_edges = edges if all_edges is None else all_edges.union(edges)

        final_dir = None
        if self.checkpoint_dir:
            final_dir = os.path.join(self.checkpoint_dir, "zz_clusters")
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
            md = md.unite(all_edges)
        if final_dir:
            md.df.write.mode("overwrite").parquet(final_dir)
            md = MatchData(spark.read.parquet(final_dir), _relabel=False)
        else:
            # pin the clustered partition for the groups count, partition
            # stats and the caller (the label window + join would re-run per
            # action); lazy: the groups count below materializes it
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
