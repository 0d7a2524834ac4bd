"""Embedding pass — deterministic string embeddings, LSH candidates,
threshold clustering, nearest-seed assignment.

The reference embeds strings with a GPU transformer (embedding_model.py:68-101:
tokenizer → RoBERTa → pooling → optional linear projection → L2 normalize);
the projection layer itself is initialized as *random-projection LSH*
(embedding_model.py:40-44). This sandbox has no torch/transformers, and model
training is out of scope (SURVEY.md §2.10), so the embedder here is the same
trick without the transformer: hashed char-ngram counts → seeded Gaussian
random projection → L2 normalize. It preserves the contract the rest of the
engine relies on — unit vectors whose cosine approximates character-level name
similarity — and is fully deterministic (seeded), so tests are reproducible.

Spark realization: one ``mapInPandas`` pass (Arrow batches; the projection
matrix is built once per python worker and cached — no per-row Python at the
Spark layer). Downstream, cosine, thresholding and clustering are relational
or numpy per Spark group. The pipeline's EmbeddingPass, on a keyed universe
the pipeline's one bounded collect read, embeds on the driver with the same
per-string function (``embed_driver``) and runs ``brp_pairs``, so no Spark
job runs while the kept edges stay within ``_EMBED_DRIVER_PAIRS``.

Capabilities mapped (cites against /root/reference):
- ``embed``                → SimilarityModel.embed, similarity_model.py:64-112
- ``score_pairs``          → Embeddings.score_pairs, embeddings.py:517-533
- ``unite_similar`` fast   → _fast_unite_similar, embeddings.py:144-174
  (result = connected components of the ≥-threshold graph)
- ``unite_nearest``        → Embeddings.unite_nearest / voronoi,
  embeddings.py:461-514
- ``brp_pairs`` / ``lsh_candidates`` → the batched matmul scan
  (embeddings.py:144-174, 301-307), on the driver / tiled over the
  executors; both run ``_brp_block``, the one exact block step. For unit
  vectors cos ≥ t ⇔ euclidean ≤ sqrt(2−2t), so the threshold becomes a
  distance bound and cos is recovered from the distance.
- save/load                → embeddings.py:45-68, 628-644 (parquet + JSON
  sidecar instead of zip+npy).
"""

from __future__ import annotations

import json
import math
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nama_spark.operators.score import (
    calibrated_score,
    score_to_cos,
    similarity_loss,
)
from nama_spark.session import local_frame

DEFAULT_DIM = 64
DEFAULT_BUCKETS = 1 << 16
DEFAULT_ALPHA = 20.0  # calibration scale (scoring_model.py:11-15 ships alpha)

_PROJ_CACHE: dict = {}


def _projection(seed: int, n_buckets: int, dim: int) -> np.ndarray:
    """Seeded Gaussian projection matrix, cached per process.

    Drawn in row chunks from one ``RandomState`` and divided chunk by chunk,
    so no float64 copy of the whole matrix is ever held (33.5 MB at the
    default 65536 × 64). The legacy Gaussian stream continues across calls,
    so the matrix is bitwise the one-shot draw."""
    key = (seed, n_buckets, dim)
    if key not in _PROJ_CACHE:
        rng = np.random.RandomState(seed)
        proj = np.empty((n_buckets, dim), dtype=np.float32)
        for r0 in range(0, n_buckets, 4096):
            rows = min(4096, n_buckets - r0)
            proj[r0 : r0 + rows] = rng.normal(0.0, 1.0, size=(rows, dim)).astype(
                np.float32
            ) / math.sqrt(dim)
        _PROJ_CACHE[key] = proj
    return _PROJ_CACHE[key]


def _char_ngram_counts(s: str, n_lo: int, n_hi: int, n_buckets: int) -> dict[int, int]:
    """Stable feature hashing of char n-grams (zlib.crc32 — deterministic
    across processes, unlike PYTHONHASHSEED-dependent hash())."""
    import zlib

    out: dict[int, int] = {}
    padded = f"\x02{s}\x03"  # boundary markers help short names
    for n in range(n_lo, n_hi + 1):
        for i in range(len(padded) - n + 1):
            b = zlib.crc32(padded[i : i + n].encode("utf-8")) % n_buckets
            out[b] = out.get(b, 0) + 1
    return out


def _embed_one(
    s: str, proj: np.ndarray, n_lo: int, n_hi: int, add_upper: bool, prompt: str
) -> np.ndarray:
    """One string's L2-normalized float32 embedding: hashed char n-gram
    counts, sublinear tf, projected through ``proj``. The one per-string
    embedding, shared by ``embed_strings``' workers and ``embed_driver``."""
    n_buckets, dim = proj.shape
    text = prompt + s + ("\x1f" + s.upper() if add_upper else "")
    counts = _char_ngram_counts(text, n_lo, n_hi, n_buckets)
    if not counts:
        return np.zeros(dim, dtype=np.float32)
    idx = np.fromiter(counts.keys(), dtype=np.int64, count=len(counts))
    val = np.fromiter(counts.values(), dtype=np.float32, count=len(counts))
    # sublinear tf damping keeps hot grams from dominating
    val = np.sqrt(val)
    v = val @ proj[idx]
    norm = float(np.linalg.norm(v))
    return (v / norm if norm > 0 else v).astype(np.float32)


def embed_driver(
    strings: list[str], dim: int = DEFAULT_DIM, seed: int = 42
) -> np.ndarray:
    """(len(strings), dim) float32 matrix of ``embed_strings``' vectors (at
    its default n-gram range, buckets, case augmentation and prompt) for a
    driver-side string list, row i for strings[i]: the same per-string
    function on the same projection, so bitwise equal to its ``vec``
    column."""
    proj = _projection(seed, DEFAULT_BUCKETS, dim)
    out = np.empty((len(strings), dim), dtype=np.float32)
    for i, s in enumerate(strings):
        out[i] = _embed_one(s, proj, 2, 3, True, "")
    return out


def embed_strings(
    strings_df: DataFrame,
    string_col: str = "string",
    count_col: str | None = "count",
    dim: int = DEFAULT_DIM,
    seed: int = 42,
    ngram_range: tuple[int, int] = (2, 3),
    n_buckets: int = DEFAULT_BUCKETS,
    add_upper: bool = True,
    prompt: str = "",
) -> DataFrame:
    """(string, count, vec) with L2-normalized float vectors.

    ``add_upper`` mirrors the reference's case-augmentation (string + SEP +
    upper(string) fed to the encoder, embedding_model.py:55-56); ``prompt``
    mirrors the 'Organization: ' prefix (embedding_model.py:53-54).
    """
    has_count = count_col is not None and count_col in strings_df.columns
    cols = [F.col(string_col).alias("string")] + (
        [F.col(count_col).cast("long").alias("count")] if has_count else []
    )
    src = strings_df.select(*cols)
    if not has_count:
        src = src.groupBy("string").agg(F.count(F.lit(1)).alias("count"))

    n_lo, n_hi = ngram_range
    out_schema = T.StructType(
        [
            T.StructField("string", T.StringType()),
            T.StructField("count", T.LongType()),
            T.StructField("vec", T.ArrayType(T.FloatType())),
        ]
    )

    def embed_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        proj = _projection(seed, n_buckets, dim)
        for pdf in batches:
            vecs = [
                _embed_one(s, proj, n_lo, n_hi, add_upper, prompt).tolist()
                for s in pdf["string"].astype(str)
            ]
            yield pd.DataFrame(
                {"string": pdf["string"], "count": pdf["count"], "vec": vecs}
            )

    return src.mapInPandas(embed_batches, schema=out_schema)


def embed_strings_md5(
    strings_df: DataFrame,
    string_col: str = "string",
    count_col: str | None = "count",
    dim: int = 16,
    ngram_range: tuple[int, int] = (2, 3),
) -> DataFrame:
    """Engine-portable feature-hashing embedder: (string, count, vec) with
    L2-normalized float64 vectors whose math any SQL engine can recompute.

    Same EmbeddingModel.forward contract as ``embed_strings`` (reference
    embedding_model.py:68-101 — encode → pool → L2-normalize) and the same
    ``mapInPandas`` Arrow plumbing, but the hash is md5 instead of a seeded
    Gaussian projection: per char n-gram g of chr(2)+s+chr(3),

        h   = md5(g) hex
        dim = int(h[:4], 16) % D      (= 4th hex digit for D = 16)
        sgn = +1 if int(h[4], 16) is even else -1

    signed gram counts accumulate per dim, then L2-normalize. Deterministic
    with no seed state, and — like the simhash/multimodal sha256 oracles —
    exactly reproducible in DuckDB SQL, which makes pipelines built on it
    fully oracle-checkable end to end (the driver's correctness gate runs the
    identical bit math on the SQL side).
    """
    import hashlib

    has_count = count_col is not None and count_col in strings_df.columns
    cols = [F.col(string_col).alias("string")] + (
        [F.col(count_col).cast("long").alias("count")] if has_count else []
    )
    src = strings_df.select(*cols)
    if not has_count:
        src = src.groupBy("string").agg(F.count(F.lit(1)).alias("count"))

    n_lo, n_hi = ngram_range
    out_schema = T.StructType(
        [
            T.StructField("string", T.StringType()),
            T.StructField("count", T.LongType()),
            T.StructField("vec", T.ArrayType(T.DoubleType())),
        ]
    )

    def embed_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = []
            for s in pdf["string"].astype(str):
                padded = f"\x02{s}\x03"
                acc = np.zeros(dim, dtype=np.float64)
                for n in range(n_lo, n_hi + 1):
                    for i in range(len(padded) - n + 1):
                        h = hashlib.md5(padded[i : i + n].encode("utf-8")).hexdigest()
                        d = int(h[:4], 16) % dim
                        acc[d] += 1.0 if int(h[4], 16) % 2 == 0 else -1.0
                norm = float(np.linalg.norm(acc))
                v = acc / norm if norm > 0 else acc
                vecs.append(v.tolist())
            yield pd.DataFrame(
                {"string": pdf["string"], "count": pdf["count"], "vec": vecs}
            )

    return src.mapInPandas(embed_batches, schema=out_schema)


# ---------- cosine as a column expression (JVM-side, no Python) ----------

def cosine_expr(a, b):
    """Dot product of two array<float> columns — vectors are already unit
    norm, so dot = cosine. Higher-order functions keep it in codegen."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def quantize_vec_expr(vec_col, scale: int = 127):
    """int8-style symmetric quantization of a unit-norm float vector:
    q_i = floor(v_i·scale + 0.5) ∈ [−scale, scale]. floor(x + 0.5) instead
    of round(): identical IEEE doubles round identically in every engine
    (Spark HALF_UP vs DuckDB banker's rounding differ exactly on half-ties;
    floor does not). 4× smaller than float32 on the wire/in state, and
    integer dot products are EXACT — order-free and engine-portable (the
    cross-engine float-summation lesson from calibration_alpha_sweep applied
    to vectors)."""
    return F.transform(
        _as_col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"),
    )


def quantized_cosine_expr(q0, q1):
    """Cosine from quantized vectors: intdot/(‖q0‖·‖q1‖). The three dot
    products are exact integer sums; only the final division/sqrt is float
    (same IEEE result in any engine given the same integers)."""
    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    d = idot(q0, q1)
    n0 = idot(q0, q0)
    n1 = idot(q1, q1)
    return F.when(
        (n0 > 0) & (n1 > 0),
        d / (F.sqrt(n0.cast("double")) * F.sqrt(n1.cast("double"))),
    ).otherwise(F.lit(0.0))


def quantize_embeddings(
    embeddings: DataFrame, vec_col: str = "vec", scale: int = 127
) -> DataFrame:
    """Add a quantized ``qvec`` column (array<long> holding int8-range
    values). At 100 TB the embedding column dominates storage and shuffle
    width: int8 cuts both 4× and quantized re-rank error on unit vectors is
    ~1/scale per component (measured on the test fixture: |cos_q − cos| <
    0.02, top-10 recall ≥ 0.9 — see tests/test_embed.py)."""
    return embeddings.withColumn("qvec", quantize_vec_expr(vec_col, scale))


def _as_col(c):
    return F.col(c) if isinstance(c, str) else c


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    centroids: DataFrame | None = None,
    n_cells: int | None = None,
    keep: str = "low_centroid_sim",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 127,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal over
    an embedding column — assign every vector to its nearest k-means cell,
    form within-cell duplicate groups (connected components over quantized
    cosine ≥ ``threshold`` edges), and keep ONE representative per group:
    the member LEAST similar to its cell centroid (the paper's winning
    policy — boundary members carry more information) or ``keep='min_id'``.

    Returns (``id_col``, cell, cluster_id, centroid_sim_ppm, is_kept) for
    every input vector — a full audit map, filter on ``is_kept`` to dedup.

    ``centroids`` is an injection seam: pass a (cell, centroid) frame for a
    pre-fit / deterministic quantizer (the SQL oracle does), else a sampled
    MLlib k-means fit runs (ann.ivf_fit_centroids).

    Cross-engine exactness: vectors and centroids are int8-quantized, so
    every cosine is integer-dot/sqrt — bit-identical in any engine — and
    the keep election compares identical doubles (the
    calibration_alpha_sweep lesson applied to the whole operator).

    Shape at scale: centroid assignment is a broadcast map-side
    groupBy-max (no window); the candidate join is the IVF cell equi-join
    (never all-pairs); components reuse the shared large-star/small-star CC
    engine; the representative election is two cluster-key aggregations,
    so a pathological giant group never lands in one task's sort."""
    if keep not in ("low_centroid_sim", "min_id"):
        raise ValueError(f"unknown keep policy {keep!r}")
    if centroids is None:
        from .ann import ivf_fit_centroids

        centroids = ivf_fit_centroids(embeddings, n_cells=n_cells, vec_col=vec_col)

    qe = embeddings.select(
        F.col(id_col), quantize_vec_expr(vec_col, scale).alias("q")
    ).localCheckpoint(eager=False)
    qc = F.broadcast(
        centroids.select(
            F.col("cell").cast("int").alias("cell"),
            quantize_vec_expr("centroid", scale).alias("cq"),
        )
    )
    scored = qe.crossJoin(qc).select(
        id_col, "cell", quantized_cosine_expr(F.col("q"), F.col("cq")).alias("csim")
    )
    best = scored.groupBy(id_col).agg(
        F.max(F.struct(F.col("csim"), (-F.col("cell")).alias("negcell"))).alias("b")
    )
    assign = best.select(
        id_col,
        (-F.col("b.negcell")).cast("int").alias("cell"),
        F.col("b.csim").alias("csim"),
    ).localCheckpoint(eager=False)

    cells = assign.select(id_col, "cell").join(qe, id_col)
    a = cells.select(
        F.col(id_col).alias("id0"), "cell", F.col("q").alias("q0")
    )
    b = cells.select(
        F.col(id_col).alias("id1"), F.col("cell").alias("cell1"),
        F.col("q").alias("q1"),
    )
    pairs = (
        a.join(b, (a["cell"] == b["cell1"]) & (a["id0"] < b["id1"]))
        .where(quantized_cosine_expr(F.col("q0"), F.col("q1")) >= threshold)
        .select("id0", "id1")
    )

    from .dedup import near_dup_clusters

    clusters = near_dup_clusters(
        pairs, embeddings.select(F.col(id_col)), id_col=id_col
    ).withColumnRenamed("doc_id", id_col)

    memb = clusters.join(assign, id_col)
    if keep == "min_id":
        best_ids = memb.groupBy("cluster_id").agg(F.min(id_col).alias("__k"))
    else:
        mn = memb.groupBy("cluster_id").agg(F.min("csim").alias("csim"))
        best_ids = (
            memb.join(mn, ["cluster_id", "csim"])
            .groupBy("cluster_id")
            .agg(F.min(id_col).alias("__k"))
        )
    return memb.join(best_ids, "cluster_id", "left").select(
        id_col,
        "cell",
        "cluster_id",
        F.floor(F.col("csim") * 1e6 + 0.5).cast("long").alias("centroid_sim_ppm"),
        (F.col(id_col) == F.col("__k")).alias("is_kept"),
    )


def score_pairs(
    pairs: DataFrame,
    embeddings: DataFrame,
    alpha: float = DEFAULT_ALPHA,
    s0: str = "s0",
    s1: str = "s1",
) -> DataFrame:
    """(s0, s1, cos, score) for an explicit pair list (embeddings.py:517-533):
    two equi-joins to fetch vectors + a relational dot + calibration."""
    e0 = embeddings.select(F.col("string").alias(s0), F.col("vec").alias("__v0"))
    e1 = embeddings.select(F.col("string").alias(s1), F.col("vec").alias("__v1"))
    out = pairs.join(e0, s0).join(e1, s1)
    cos = cosine_expr(F.col("__v0"), F.col("__v1"))
    score = calibrated_score(cos, alpha)
    return out.withColumn("cos", cos).withColumn("score", score).drop("__v0", "__v1")


# ---------- candidate generation ----------

def threshold_candidates(
    embeddings: DataFrame, cos_threshold: float, candidate_mode: str, **kwargs
) -> DataFrame:
    """(s0, s1, cos) pairs with cos ≥ ``cos_threshold`` from the candidate
    generator named by ``candidate_mode``: "bruteforce" (exact, a
    relational O(n²) self-join), "lsh" (exact, the tiled scan of
    ``lsh_candidates``) or "ivf" (approximate; ``kwargs`` go to
    ``ivf_candidates`` / ``lsh_candidates``). The one candidate-mode
    dispatch of the embedding layer (the reference's single batched-matmul
    scan, embeddings.py:301-307, behind unite_similar, its constrained form
    and iter_scores); an unknown mode raises ValueError."""
    if candidate_mode == "bruteforce":
        if cos_threshold <= -1.0:
            import warnings

            warnings.warn(
                "candidate_mode='bruteforce' with no cosine threshold scans "
                "the FULL upper triangle (O(n²) self-join) — the reference's "
                "review-everything semantics, for review-scale universes "
                "only. Pass a threshold (iter_scores: min_score) to push a "
                "cosine bound into the candidate join, or "
                "candidate_mode='lsh' at scale."
            )
        return bruteforce_candidates(embeddings, cos_threshold)
    if candidate_mode == "ivf":
        return ivf_candidates(embeddings, cos_threshold, **kwargs)
    if candidate_mode == "lsh":
        return lsh_candidates(embeddings, cos_threshold, **kwargs)
    raise ValueError(f"unknown candidate_mode: {candidate_mode!r}")


def driver_scan(candidate_mode: str):
    """The driver-side scan that stands in for ``threshold_candidates``'
    generator ``candidate_mode`` on a universe held on the driver, or None
    when the mode has none. Only "lsh" has one, ``brp_pairs``: the same
    block step as ``lsh_candidates``, so the same pairs."""
    return {"lsh": brp_pairs}.get(candidate_mode)


def _no_pairs(embeddings: DataFrame) -> DataFrame:
    """Zero-row (s0, s1, cos) frame for an empty embedding universe."""
    return embeddings.select(
        F.col("string").alias("s0"),
        F.col("string").alias("s1"),
        F.lit(0.0).alias("cos"),
    ).where(F.lit(False))


def bruteforce_candidates(
    embeddings: DataFrame, cos_threshold: float
) -> DataFrame:
    """All pairs with cos ≥ threshold via an upper-triangular self-join —
    correctness baseline for small universes and tests. O(n²) pairs through
    the JVM's higher-order cosine: at scale use ``lsh_candidates``, the
    reference's batched matmul (embeddings.py:301-307) in numpy tiles."""
    a = embeddings.select(F.col("string").alias("s0"), F.col("vec").alias("v0"))
    b = embeddings.select(F.col("string").alias("s1"), F.col("vec").alias("v1"))
    pairs = a.join(b, F.col("s0") < F.col("s1"))
    cos = cosine_expr(F.col("v0"), F.col("v1"))
    return (
        pairs.withColumn("cos", cos)
        .where(F.col("cos") >= cos_threshold)
        .select("s0", "s1", "cos")
    )


def _euclid_bound(cos_threshold: float) -> float:
    """Euclidean distance of unit vectors at cosine ``cos_threshold``:
    cos ≥ t ⇔ ‖a−b‖ ≤ sqrt(2−2t)."""
    return math.sqrt(max(0.0, 2.0 - 2.0 * cos_threshold))


def _euclid_cos(euclid):
    """Cosine of unit vectors at euclidean distance ``euclid`` (a numpy
    array): 1 − e·e/2, the conversion ``_brp_block`` applies."""
    return 1.0 - euclid * euclid / 2.0


# float64 cells one scan block holds (32 MB): brp_pairs' row blocks and
# the side of lsh_candidates' square tiles are sized from it
_BLOCK_CELLS = 1 << 22


def _brp_block(a: np.ndarray, b: np.ndarray, cos_threshold: float, upper: bool):
    """The one exact scan step: (i, j, e) arrays of the rows i of ``a`` and
    j of ``b`` (float64 blocks) whose euclidean distance e passes
    e < sqrt(2−2t), strict, and 1 − e·e/2 ≥ t. With ``upper`` the two
    blocks start at the same row, and only j > i is kept.

    e is MLlib BRP's ``keyDistance``: squared float64 differences summed in
    dimension order, then sqrt; the predicate is that join's, which could
    only miss pairs. A float64 matmul prefilters (‖a‖² + ‖b‖² − 2a·b ≤
    e_max² plus 1e-9 per unit of the largest squared norm, above the
    formula's rounding error, so no kept pair is dropped); the exact
    distance runs on the survivors only."""
    dist = _euclid_bound(cos_threshold)
    sqa = np.einsum("ij,ij->i", a, a)
    sqb = np.einsum("ij,ij->i", b, b)
    # fmax skips NaN norms: a NaN row passes no test, and must not void the
    # margin for the rest of its block
    margin = 1e-9 * (1.0 + np.fmax.reduce(np.r_[sqa, sqb], initial=0.0))
    d2 = a @ b.T
    d2 *= -2.0
    d2 += sqa[:, None]
    d2 += sqb[None, :]
    ii, jj = np.nonzero(d2 <= dist * dist + margin)
    if upper:
        ii, jj = ii[jj > ii], jj[jj > ii]
    acc = np.zeros(len(ii))
    for k in range(a.shape[1]):
        d = a[ii, k] - b[jj, k]
        acc += d * d
    e = np.sqrt(acc)
    keep = (e < dist) & (_euclid_cos(e) >= cos_threshold)
    return ii[keep], jj[keep], e[keep]


def _raise_dirty_vectors(feat: DataFrame) -> None:
    """ValueError naming the first string with a NULL ``vec``, else the
    first whose length is off the most common one."""
    bad = feat.where(F.col("vec").isNull()).orderBy("string").first()
    if bad is not None:
        raise ValueError(f"vec: NULL vector at string {bad['string']!r}")
    w = feat.groupBy(F.size("vec").alias("w")).count().orderBy(
        F.desc("count"), "w").first()["w"]
    bad = feat.where(F.size("vec") != w).orderBy("string").first()
    raise ValueError(f"vec: ragged vector at string {bad['string']!r} "
                     f"(length {len(bad['vec'])}, expected {w})")


def lsh_candidates(
    embeddings: DataFrame,
    cos_threshold: float,
    num_hash_tables: int = 8,
    bucket_length: float = 0.25,
    seed: int = 42,
) -> DataFrame:
    """(s0, s1, cos), s0 < s1, for every pair passing ``_brp_block``'s
    predicate — for unit vectors every pair with cos ≥ t, cos = 1 − e·e/2
    (threshold pushdown, as score_to_cos at embeddings.py:147):
    ``brp_pairs``' scan tiled over the executors, so its pairs, bitwise.

    One aggregate counts the n rows (a NULL or ragged vector raises a
    ValueError naming its string). Rows hash into nb = ceil(n / B) blocks,
    B² ≤ ``_BLOCK_CELLS``; each row goes to its block's nb (lo, hi) tiles,
    and one ``applyInPandas`` runs ``_brp_block`` per tile. No vector
    reaches the driver. ``num_hash_tables``, ``bucket_length`` and
    ``seed`` were MLlib's BRP join's, which this scan replaced (same pairs
    or more, faster at every size measured: docs/SCALE.md B3); they are
    accepted and no longer shape the result."""
    feat = embeddings.select("string", "vec").localCheckpoint(eager=False)
    n, n_vec, dim, widest = feat.agg(
        F.count(F.lit(1)), F.count("vec"),
        F.min(F.size("vec")), F.max(F.size("vec")),
    ).first()
    if n == 0:
        return _no_pairs(feat)
    if n_vec < n or dim != widest:
        _raise_dirty_vectors(feat)
    nb = -(-n // math.isqrt(_BLOCK_CELLS))
    t = float(cos_threshold)

    def tile(pdf: pd.DataFrame) -> pd.DataFrame:
        diag = pdf["lo"].iat[0] == pdf["hi"].iat[0]
        sides = [pdf[~pdf["side"]]] if diag else [pdf[~pdf["side"]], pdf[pdf["side"]]]
        x = [np.array(p["vec"].tolist(), np.float64).reshape(len(p), dim) for p in sides]
        ii, jj, e = _brp_block(x[0], x[-1], t, upper=diag)
        s0 = sides[0]["string"].to_numpy()[ii]
        s1 = sides[-1]["string"].to_numpy()[jj]
        keep = s0 != s1
        return pd.DataFrame({"s0": np.minimum(s0, s1)[keep],
                             "s1": np.maximum(s0, s1)[keep], "cos": _euclid_cos(e)[keep]})

    block = F.pmod(F.xxhash64("string"), F.lit(nb))
    tiles = feat.select(
        "string", "vec", block.alias("b"),
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("o"),
    ).select(
        F.least("b", "o").alias("lo"), F.greatest("b", "o").alias("hi"),
        (F.col("b") > F.col("o")).alias("side"), "string", "vec",
    )
    return tiles.groupBy("lo", "hi").applyInPandas(
        tile, "s0 string, s1 string, cos double"
    )


# Most (src, dst) edges EmbeddingPass keeps on the driver: past it
# brp_pairs gives up and the pass runs the Spark embed and lsh_candidates,
# which keep the pairs on the executors (at a threshold of 0 or less every
# one of C(n, 2) pairs passes). The driver path's Python peak grows by
# 300-315 bytes per kept edge (docs/SCALE.md B3), so this bound,
# TokenSimPass's driver pair bound, holds it near 1 GB.
_EMBED_DRIVER_PAIRS = 3_500_000


def brp_pairs(
    vecs: np.ndarray, cos_threshold: float, max_pairs: int
) -> list[tuple[int, int]] | None:
    """Index pairs (i, j), i < j, of the rows of ``vecs`` that pass
    ``_brp_block``'s predicate (the pairs ``lsh_candidates`` returns for
    the same vectors); None once more than ``max_pairs`` pass. Runs on the
    driver, in row blocks against all later rows, each about 32 MB
    (``_BLOCK_CELLS``)."""
    x = vecs.astype(np.float64)
    rows = max(1, _BLOCK_CELLS // max(len(x), 1))
    out: list[tuple[int, int]] = []
    for i0 in range(0, len(x), rows):
        ii, jj, _e = _brp_block(x[i0 : i0 + rows], x[i0:], cos_threshold, True)
        if len(out) + len(ii) > max_pairs:
            return None
        out.extend(zip((ii + i0).tolist(), (jj + i0).tolist()))
    return out


def _split_hot_cells(
    assigned: DataFrame,
    max_cell_rows: int,
    sample_per_cell: int = 50,
    max_iter: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Secondary split for IVF cells holding more than ``max_cell_rows``
    members (k-means cells are not size-balanced; a dominant embedding mode
    concentrates in one cell whose self-join is O(m²)). Per hot cell, fit
    ceil(m/max_cell_rows) sub-centroids on a bounded deterministic sample
    (one applyInPandas pass over all hot cells at once), then re-assign the
    hot members through a broadcast join + a skinny (cell, string, sub, d2)
    window — never a per-cell driver loop, never a wide shuffle. Sub-cell
    ids pack into the low 20 bits of the cell key, so the downstream
    equi-join is unchanged. Cold cells pass through untouched."""
    from nama_spark.operators.ann import _group_kmeans, _sq_dist

    sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("__cn"))
    hot = sizes.where(F.col("__cn") > max_cell_rows).localCheckpoint(eager=False)
    if hot.isEmpty():
        return assigned
    cold = assigned.join(F.broadcast(hot.select("cell")), "cell", "left_anti")
    members = assigned.join(F.broadcast(hot), "cell")
    k_sub = F.ceil(F.col("__cn") / F.lit(max_cell_rows)).cast("int")
    # deterministic per-row uniform for the fit sample: ~sample_per_cell·k
    # rows per hot cell regardless of cell size
    u = F.pmod(F.xxhash64("cell", "string"), F.lit(1 << 20)) / F.lit(float(1 << 20))
    samp = members.withColumn("__k", k_sub).where(
        u < F.least(
            F.lit(1.0),
            F.lit(float(sample_per_cell)) * F.col("__k") / F.col("__cn"),
        )
    ).select("cell", "vec", "__k")
    sub_centers = _group_kmeans(samp, "cell", "vec", "__k", max_iter, seed).select(
        "cell", F.col("idx").alias("sub"), F.col("centroid").alias("scentroid")
    )
    d2 = _sq_dist(F.col("vec").cast("array<double>"), F.col("scentroid"))
    w = Window.partitionBy("cell", "string").orderBy(
        F.col("d2").asc(), F.col("sub").asc()
    )
    picked = (
        members.select("cell", "string", "vec")
        .join(F.broadcast(sub_centers), "cell")
        .withColumn("d2", d2)
        .select("cell", "string", "sub", "d2")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("cell", "string", "sub")
    )
    hot_split = (
        picked.join(members.select("cell", "string", "vec"), ["cell", "string"])
        .select(
            (F.col("cell") * F.lit(1 << 20) + 1 + F.col("sub")).alias("cell"),
            "string",
            "vec",
        )
    )
    # cold keys shift into the same packed space (sub slot 0) so a cold
    # cell id can never collide with a hot cell's sub-cell id
    cold = cold.select(
        (F.col("cell") * F.lit(1 << 20)).alias("cell"), "string", "vec"
    )
    return cold.unionByName(hot_split)


def ivf_candidates(
    embeddings: DataFrame,
    cos_threshold: float,
    n_cells: int | None = None,
    nprobe: int = 2,
    sample_per_cell: int = 50,
    max_iter: int = 10,
    seed: int = 42,
    two_level: bool | None = None,
    max_cell_rows: int | None = None,
) -> DataFrame:
    """Approximate ≥-threshold pairs via IVF cells — the density-robust
    scale path for the embedding threshold join.

    Why not ``lsh_candidates`` at scale: it is exact, so it compares all
    C(n, 2) pairs (MLlib's bucketed BRP join before it grew as fast: 57×
    the time for a 10× bench corpus, 4.7 → 267 s).

    IVF instead partitions the SPACE: k-means cells fit on a sample
    (``sample_per_cell``·n_cells rows), every vector joins its ``nprobe``
    nearest cells, candidate pairs meet inside shared cells (equi-join on
    cell id), and the exact cosine filters. With ``n_cells`` ~ n/400
    (auto), expected cell occupancy is constant, so join cost is ~
    n·nprobe²·occupancy — linear in n at fixed density. Recall < 1 (a pair
    whose members share no probed cell is missed) and is measured, not
    assumed: see SCALE.md §embedding-joins and the ivf row in bench.py.

    The index is the persisted-index IVF of ann.py: centroids from
    ``ann.ivf_fit_centroids``, assignment by ``ann.ivf_assign`` (a broadcast
    cross-join of n·n_cells distance exprs, JVM-side, + a per-string
    top-nprobe window). Past ``ann._IVF_FLAT_MAX_CELLS`` auto-sized cells
    (4096, where the flat cross-join stops paying) the TWO-LEVEL coarse
    quantizer takes over automatically (``two_level=None``): coarse k-means
    over √total cells, an independent fine k-means inside each coarse cell
    (``ann.ivf2_fit_centroids``), and ``ann.ivf_assign``'s two-stage
    assignment, which probes n_coarse + nprobe_coarse·fine_per_coarse
    centroids per vector — occupancy stays at ~400 for any n instead of
    growing linearly past ~1.6M vectors. ``two_level=True`` forces it
    (tests / tuning).

    Skew note: k-means cells are not size-balanced — a corpus with one
    dominant mode can produce a hot cell whose per-cell join is O(m²).
    AQE's skew-join split shares that cell's join across tasks (the join is
    a plain equi-join on cell, so the runtime split applies). For a cell
    that exceeds memory-per-task, ``max_cell_rows`` pre-splits every cell
    holding more rows than the cap with a SECONDARY k-means over that
    cell's members (sub-centroids fit on a bounded per-cell sample via one
    applyInPandas pass, members re-assigned through a broadcast join + a
    skinny (cell, string, sub, d2) window — the equi-join shape is
    unchanged, only the key gains sub-cell bits). Pairs falling across
    sub-cells of a split cell are missed like any cross-cell pair; recall
    is measured, not assumed (test_skew.py::test_hot_cell_secondary_split).
    """
    from nama_spark.operators import ann

    feat = embeddings.select("string", "vec").localCheckpoint(eager=False)
    n = feat.count()
    if n == 0:
        return _no_pairs(feat)
    if two_level is None:
        two_level = n_cells is None and n // 400 > ann._IVF_FLAT_MAX_CELLS
    fit = dict(sample_per_cell=sample_per_cell, max_iter=max_iter,
               vec_col="vec", seed=seed)
    if two_level:
        # None sizes both levels from n; a requested n_cells splits √n_cells
        shape = ann._ivf2_shape(n_cells) if n_cells is not None else (None, None)
        centers = ann.ivf2_fit_centroids(
            feat, n_coarse=shape[0], fine_per_coarse=shape[1], **fit
        ).localCheckpoint(eager=False)
    else:
        centers = ann.ivf_fit_centroids(feat, n_cells=n_cells, **fit)
    # (cell long, string, vec) either way: ivf_assign routes a two-level
    # table through the two-stage assignment
    assigned = ann.ivf_assign(feat, centers, nprobe, id_col="string", vec_col="vec")
    if max_cell_rows is not None:
        assigned = _split_hot_cells(
            assigned, max_cell_rows, sample_per_cell=sample_per_cell,
            max_iter=max_iter, seed=seed,
        )
    # Per-cell pair stage: one applyInPandas over the cell groups computes
    # the within-cell cosines as tiled numpy float64 matmuls and emits the
    # ≥-threshold survivors (a within-cell self-join paid the JVM's ~10
    # µs/pair higher-order cosine: 7-9 s for the sf0.1 embed workload's
    # 2.2M pairs vs <1 s here). Score blocks stay within _BLOCK_CELLS; cells
    # stay near the ~400-row occupancy target (max_cell_rows pre-splits hot
    # ones). Rows sort by string inside each cell, so pairs come out s0 < s1;
    # a pair met in two probed cells collapses in the cross-cell dedupe.
    t = float(cos_threshold)
    out_schema = T.StructType(
        [
            T.StructField("s0", T.StringType()),
            T.StructField("s1", T.StringType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        strs = pdf["string"].to_numpy()
        order = np.argsort(strs)
        strs = strs[order]
        X = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["vec"].to_numpy()[order]]
        )
        m = len(strs)
        o0: list = []
        o1: list = []
        oc: list = []
        B = math.isqrt(_BLOCK_CELLS)
        for i0 in range(0, m, B):
            Xi = X[i0:i0 + B]
            for j0 in range(i0, m, B):
                S = Xi @ X[j0:j0 + B].T
                mask = S >= t
                if i0 == j0:
                    mask = np.triu(mask, 1)
                ii, jj = np.nonzero(mask)
                if len(ii):
                    o0.extend(strs[i0 + ii])
                    o1.extend(strs[j0 + jj])
                    oc.extend(float(x) for x in S[ii, jj])
        return pd.DataFrame({"s0": o0, "s1": o1, "cos": oc})

    return (
        assigned.groupBy("cell")
        .applyInPandas(cell_pairs, out_schema)
        .dropDuplicates(["s0", "s1"])
    )


def iter_scores(
    matchdata,
    embeddings: DataFrame,
    alpha: float = DEFAULT_ALPHA,
    is_match: bool | None = None,
    min_score: float | None = None,
    max_score: float | None = None,
    min_loss: float | None = None,
    max_loss: float | None = None,
    use_count_weights: bool = True,
    candidate_mode: str = "bruteforce",
    **lsh_kwargs,
) -> DataFrame:
    """Scored pair stream — the reference's ``iter_scores``/``_batch_scores``
    assembled as one relational operator (embeddings.py:536-625).

    Every pair (string0 < string1) of the embedding universe, with the two
    strings' current group labels from ``matchdata``, calibrated score
    p = exp(−α(1−cos)) and the scoring model's XE loss (count^0.5 pair
    weights by default — SimilarityModel's ExponentWeights,
    similarity_model.py:23-28). Filters mirror the reference kwargs:
    is_match / min_score / max_score / min_loss / max_loss.

    Scale: ``min_score`` pushes down to the candidate join
    (cos ≥ score_to_cos(min_score)); without it the scan is the full upper
    triangle — the reference's own review-everything semantics, for
    review-scale universes only.
    """
    cos_t = score_to_cos(min_score, alpha) if min_score is not None else -99.0
    cand = threshold_candidates(embeddings, cos_t, candidate_mode, **lsh_kwargs)
    g = matchdata.df.select("string", "group", "count")
    out = (
        cand.join(
            g.select(
                F.col("string").alias("s0"),
                F.col("group").alias("group0"),
                F.col("count").alias("__c0"),
            ),
            "s0",
        ).join(
            g.select(
                F.col("string").alias("s1"),
                F.col("group").alias("group1"),
                F.col("count").alias("__c1"),
            ),
            "s1",
        )
    )
    y = (F.col("group0") == F.col("group1")).cast("double")
    w = (
        F.pow(F.col("__c0"), 0.5) * F.pow(F.col("__c1"), 0.5)
        if use_count_weights
        else None
    )
    out = (
        out.withColumn("score", calibrated_score(F.col("cos"), alpha))
        .withColumn("loss", similarity_loss(F.col("cos"), y, alpha, weights=w))
        .withColumn("is_match", F.col("group0") == F.col("group1"))
    )
    if is_match is not None:
        out = out.where(F.col("is_match") == bool(is_match))
    if min_score is not None:
        out = out.where(F.col("score") >= min_score)
    if max_score is not None:
        out = out.where(F.col("score") <= max_score)
    if min_loss is not None:
        out = out.where(F.col("loss") >= min_loss)
    if max_loss is not None:
        out = out.where(F.col("loss") <= max_loss)
    return out.select(
        F.col("s0").alias("string0"),
        F.col("s1").alias("string1"),
        "group0",
        "group1",
        "cos",
        "score",
        "loss",
        "is_match",
    )


# ---------- clustering ----------

def unite_similar(
    matchdata,
    embeddings: DataFrame,
    threshold: float = 0.5,
    alpha: float = DEFAULT_ALPHA,
    candidate_mode: str = "lsh",
    **lsh_kwargs,
):
    """Fast-path unite_similar (embeddings.py:144-174): unite all pairs whose
    calibrated score ≥ threshold; the result is the connected components of
    that graph merged into the current partition. ``threshold`` is a
    probability; it is pushed down to a raw cosine before candidate
    generation (scoring_model.py:48-52)."""
    cand = threshold_candidates(
        embeddings, score_to_cos(threshold, alpha), candidate_mode, **lsh_kwargs
    )
    return matchdata.unite(cand.select("s0", "s1"))


def unite_nearest(
    matchdata,
    embeddings: DataFrame,
    seed_strings: list[str] | DataFrame,
    threshold: float = 0.0,
    alpha: float = DEFAULT_ALPHA,
):
    """Voronoi assignment (embeddings.py:461-514): each string joins the
    group of its nearest seed string if calibrated score ≥ threshold. Seeds
    are small → broadcast cross join + top-1 window."""
    from nama_spark.operators.matchdata import MatchData

    spark = embeddings.sparkSession
    if not isinstance(seed_strings, DataFrame):
        seeds = local_frame(spark, [(s,) for s in seed_strings], "seed string")
    else:
        seeds = seed_strings.select(F.col(seed_strings.columns[0]).alias("seed"))
    seed_vecs = seeds.join(
        embeddings.select(F.col("string").alias("seed"), F.col("vec").alias("svec")),
        "seed",
    )
    cand = embeddings.select("string", "vec").crossJoin(F.broadcast(seed_vecs))
    cos = cosine_expr(F.col("vec"), F.col("svec"))
    score = calibrated_score(cos, alpha)
    w = Window.partitionBy("string").orderBy(F.col("cos").desc(), F.col("seed").asc())
    best = (
        cand.withColumn("cos", cos)
        .withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("score") >= threshold))
        .select("string", "seed")
    )
    out = (
        matchdata.df.join(best, "string", "left")
        .withColumn("group", F.coalesce(F.col("seed"), F.col("string")))
        .drop("seed")
    )
    return MatchData(out)


def slice_embeddings(embeddings: DataFrame, strings) -> DataFrame:
    """Subset an Embeddings table to the given strings (Embeddings.__getitem__,
    embeddings.py:70-96) — a semi-join."""
    spark = embeddings.sparkSession
    if isinstance(strings, DataFrame):
        keys = strings.select(F.col(strings.columns[0]).alias("string"))
    else:
        keys = local_frame(spark, [(s,) for s in strings], "string string")
    return embeddings.join(keys.distinct(), "string", "left_semi")


def reweight_embeddings(embeddings: DataFrame, matchdata_df: DataFrame) -> DataFrame:
    """Re-weight an Embeddings with counts from a MatchData
    (Embeddings.embed(matches), embeddings.py:98-106): join on string, take
    the MatchData's counts. The w = count**0.5 importance weights
    (similarity_model.py:23-28) are derived downstream as pow(count, 0.5)."""
    counts = matchdata_df.select("string", F.col("count").alias("__new_count"))
    return (
        embeddings.join(counts, "string")
        .select("string", F.col("__new_count").alias("count"), "vec")
    )


# ---------- persistence (embeddings.py:45-68, 628-644) ----------

def save_embeddings(embeddings: DataFrame, path: str, alpha: float = DEFAULT_ALPHA,
                    meta: dict | None = None) -> None:
    embeddings.write.mode("overwrite").parquet(os.path.join(path, "vectors.parquet"))
    sidecar = {"alpha": alpha, **(meta or {})}
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(sidecar, f)


def load_embeddings(spark, path: str) -> tuple[DataFrame, dict]:
    df = spark.read.parquet(os.path.join(path, "vectors.parquet"))
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    return df, meta
