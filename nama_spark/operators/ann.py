"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce``: exact top-k neighbors per query — the
  correctness baseline. A numpy scan of the corpus against the broadcast
  query side when it is small, else a crossJoin + window.
  O(|queries|·|corpus|): for scale use the cell-probing variants.
- ``lsh_topk``: the same exact top-k over the corpus rows within a
  euclidean ``max_distance`` of the query.
- ``ivf_topk``: IVF-style coarse quantization: k-means centroids (MLlib),
  probe the nprobe nearest cells per query, exact re-rank inside the cells.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nama_spark.operators.embed import cosine_expr
from nama_spark.session import local_frame


def _norm(vec_col):
    return F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )


def cosine_sim_expr(a, b):
    """Cosine for not-necessarily-normalized vectors."""
    dot = cosine_expr(a, b)
    return dot / (_norm(a) * _norm(b))


def _sq_dist(a, b):
    """Squared euclidean distance of two array columns — the one JVM-side
    distance fold every centroid assignment and PQ lookup table uses."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _top_k(df: DataFrame, k: int, by=None) -> DataFrame:
    """(query_id, neighbor_id, cos, rank): each query's first ``k`` rows
    ordered by ``by`` (default cos descending), ties to the lower
    neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc() if by is None else by, F.col("neighbor_id").asc()
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rn").alias("rank"))
    )


def _empty_topk(df: DataFrame, id_col: str) -> DataFrame:
    """Zero-row (query_id, neighbor_id, cos, rank) frame with the id type
    taken from the input — MLlib fit() (k-means) throws on an
    empty dataset, and an empty corpus/delta is routine at scale, so the
    fit-based variants short-circuit to this."""
    return (
        df.select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("cos"),
            F.lit(0).alias("rank"),
        )
        .where(F.lit(False))
    )


def _np_elem(dt):
    """numpy dtype for a Spark array<float>/array<double> column, else
    None."""
    if isinstance(dt, T.ArrayType):
        if isinstance(dt.elementType, T.FloatType):
            return np.float32
        if isinstance(dt.elementType, T.DoubleType):
            return np.float64
    return None


def _cosine_topk_ties(k: int, q_dtype, c_dtype, vec_col: str,
                      max_distance: float | None = None):
    """The one numpy cosine top-k kernel: returns ``topk(qid, Q, nid, C)``
    → DataFrame(query_id, neighbor_id, cos) holding, per query, every
    non-self row whose cos is at or above its k-th best — ties (and NaNs,
    kept as +inf in the truncation key) are never dropped, so a downstream
    global rank window sees every row it could rank ≤ k: a row beaten by
    ≥k rows of its own batch or cell is beaten by ≥k rows globally.

    ``Q``/``C`` are sequences of per-row vectors; each side is stacked in
    its own element dtype (a float side widened by a union casts back
    exactly). Bit-exact vs cosine_sim_expr: each norm squares in its own
    side's dtype (like transform(x*x) on array<float>), dot products run in
    the wider of the two dtypes (like zip_with(x*y) after Spark's type
    coercion), every fold is dimension-sequential float64, and
    cos = dot / (norm·norm). A NULL or ragged vector raises ValueError
    naming ``vec_col`` and the first offending id. With ``max_distance``,
    only rows at euclidean distance < max_distance (folded as ``_sq_dist``
    does) compete.

    Returned as a nested function so cloudpickle ships it by value: workers
    never need nama_spark importable."""

    def stack(ids, vecs, dtype):
        try:
            M = np.stack(vecs).astype(dtype, copy=False)
            if M.ndim == 2:
                return M
        except (TypeError, ValueError):
            pass
        # error path only: name the first NULL, else the first row off the
        # most common length
        lens = [len(v) if hasattr(v, "__len__") else None for v in vecs]
        for i, n in zip(ids, lens):
            if n is None:
                raise ValueError(f"{vec_col}: NULL vector at id {i!r}")
        width = max(set(lens), key=lens.count)
        for i, n in zip(ids, lens):
            if n != width:
                raise ValueError(
                    f"{vec_col}: ragged vector at id {i!r} "
                    f"(length {n}, expected {width})"
                )
        raise ValueError(f"{vec_col}: vectors do not stack into a matrix")

    def seq_dim_sum(prod):
        # accumulate over the LAST axis in index order, float64 — the
        # bit-exact twin of F.aggregate(..., 0.0, acc + x)'s left-to-right
        # fold (np.sum's pairwise reduction can differ in the last ulp)
        acc = np.zeros(prod.shape[:-1], dtype=np.float64)
        for j in range(prod.shape[-1]):
            acc += prod[..., j].astype(np.float64, copy=False)
        return acc

    def topk(qid, Q, nid, C):
        qid = np.asarray(qid)
        nid = np.asarray(nid)
        if len(qid) == 0 or len(nid) == 0:
            return pd.DataFrame({"query_id": qid[:0], "neighbor_id": nid[:0],
                                 "cos": np.zeros(0, dtype=np.float64)})
        Q = stack(qid, Q, q_dtype)
        C = stack(nid, C, c_dtype)
        if Q.shape[1] != C.shape[1]:
            raise ValueError(
                f"{vec_col}: query dim {Q.shape[1]} != corpus dim {C.shape[1]}"
            )
        qn = np.sqrt(seq_dim_sum(Q * Q))
        cn = np.sqrt(seq_dim_sum(C * C))
        n = len(C)
        kk = min(k, n)
        out_q, out_n, out_c = [], [], []
        # bound the (queries × corpus) cos matrix at ~128M float64 entries
        step = max(1, (1 << 27) // n)
        for s in range(0, len(Q), step):
            Qs = Q[s:s + step]
            dot = np.zeros((len(Qs), n), dtype=np.float64)
            for j in range(Q.shape[1]):
                dot += np.multiply.outer(Qs[:, j], C[:, j]).astype(
                    np.float64, copy=False
                )
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / np.multiply.outer(qn[s:s + step], cn)
            key = np.where(np.isnan(cos), np.inf, cos)
            out_mask = qid[s:s + step, None] == nid[None, :]
            if max_distance is not None:
                Q64, C64 = Qs.astype(np.float64), C.astype(np.float64)
                d2 = np.zeros((len(Qs), n), dtype=np.float64)
                for j in range(Q.shape[1]):
                    d2 += np.subtract.outer(Q64[:, j], C64[:, j]) ** 2
                out_mask |= ~(np.sqrt(d2) < max_distance)
            key = np.where(out_mask, -np.inf, key)
            if n > kk:
                thr = np.partition(key, n - kk, axis=1)[:, n - kk]
            else:
                thr = np.full(len(Qs), -np.inf)
            keep = (key >= thr[:, None]) & ~out_mask
            for i in range(len(Qs)):
                sel = np.flatnonzero(keep[i])
                out_q.append(np.repeat(qid[s + i], len(sel)))
                out_n.append(nid[sel])
                out_c.append(cos[i, sel])
        return pd.DataFrame({"query_id": np.concatenate(out_q),
                             "neighbor_id": np.concatenate(out_n),
                             "cos": np.concatenate(out_c)})

    return topk


# Query-row count up to which cosine_topk_bruteforce collects the query
# side and broadcasts it into the numpy scan; bigger query sides take the
# broadcast-hinted crossJoin.
_BRUTEFORCE_QUERY_ROWS = 10_000


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cos) — exact top-k cosine neighbors, excluding
    self-matches. Deterministic tie-break on neighbor id.

    With float/double vectors (the small-query-batch contract), this runs
    one eager driver action first:
    ``queries.limit(_BRUTEFORCE_QUERY_ROWS + 1).collect()``. A query side
    within the cap ships once as a broadcast and the scan runs as ONE
    mapInPandas over the corpus, one partition per core: every corpus batch
    scores against it with the _cosine_topk_ties kernel, and only
    per-batch per-query top-k rows (ties at the k-th cos included —
    lossless truncation) reach the global rank window, so the
    |q|·|corpus| crossJoin rows never materialize. Scoring is bit-exact
    vs cosine_sim_expr (tests/test_ivf_cell_topk.py). A bigger query
    side or other element types take the broadcast-hinted crossJoin +
    cosine_sim_expr path."""
    return _exact_topk(corpus, queries, k, id_col, vec_col, None)


def _exact_topk(corpus, queries, k, id_col, vec_col, max_distance):
    """``cosine_topk_bruteforce`` over the corpus rows at euclidean
    distance < ``max_distance`` (None: every row) from each query."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    q_elem = _np_elem(q.schema["qv"].dataType)
    c_elem = _np_elem(c.schema["cv"].dataType)
    qrows = None
    if q_elem is not None and c_elem is not None:
        qrows = q.limit(_BRUTEFORCE_QUERY_ROWS + 1).collect()
        if not qrows:
            return _empty_topk(corpus, id_col)
    if qrows is not None and len(qrows) <= _BRUTEFORCE_QUERY_ROWS:
        bc = corpus.sparkSession.sparkContext.broadcast((
            np.array([r["query_id"] for r in qrows]),
            [r["qv"] for r in qrows],
        ))
        topk = _cosine_topk_ties(k, q_elem, c_elem, vec_col, max_distance)

        def scan(batches):
            qid, qvecs = bc.value
            for pdf in batches:
                if len(pdf):
                    yield topk(qid, qvecs, pdf["neighbor_id"].to_numpy(),
                               pdf["cv"])

        out_schema = T.StructType([
            T.StructField("query_id", q.schema["query_id"].dataType),
            T.StructField("neighbor_id", c.schema["neighbor_id"].dataType),
            T.StructField("cos", T.DoubleType()),
        ])
        # the scan streams Arrow batches: one partition per core costs no
        # memory and skips a Python task per extra partition (bench.py
        # ann_topk, 64 partitions of 2,000 vectors: 4.5 → 0.6 s, local[4])
        par = corpus.sparkSession.sparkContext.defaultParallelism
        return _top_k(c.coalesce(par).mapInPandas(scan, schema=out_schema), k)
    joined = c.crossJoin(F.broadcast(q)).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    if max_distance is not None:
        d2 = _sq_dist(F.col("qv").cast("array<double>"),
                      F.col("cv").cast("array<double>"))
        joined = joined.where(F.sqrt(d2) < max_distance)
    return _top_k(
        joined.withColumn("cos", cosine_sim_expr(F.col("qv"), F.col("cv"))), k
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_hash_tables: int = 8,
    bucket_length: float = 2.0,
    max_distance: float = 10.0,
    seed: int = 42,
) -> DataFrame:
    """Exact top-k (``cosine_topk_bruteforce``) over the corpus rows at
    euclidean distance < ``max_distance`` from the query: every row MLlib's
    bucketed BRP join could return. ``num_hash_tables``, ``bucket_length``
    and ``seed`` were that join's; they no longer shape the result."""
    return _exact_topk(corpus, queries, k, id_col, vec_col, max_distance)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF: cluster the corpus into n_cells (k-means), assign each vector to
    its cell; per query probe the nprobe nearest centroids and re-rank
    exactly inside those cells. Candidate join is equi on cell id.

    Composition of the persisted-index halves (``ivf_fit_centroids`` →
    ``ivf_assign`` → ``ivf_topk_delta``), so the k-means always fits on a
    bounded sample — a caller handing this 10⁸ vectors no longer k-means-es
    the full corpus by accident."""
    n_corpus = corpus.count()
    if n_corpus == 0 or queries.isEmpty():
        return _empty_topk(corpus, id_col)
    centers = ivf_fit_centroids(
        corpus, n_cells=min(n_cells, n_corpus), vec_col=vec_col, seed=seed
    )
    assigned = ivf_assign(corpus, centers, id_col=id_col, vec_col=vec_col)
    return ivf_topk_delta(
        queries, centers, assigned, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    )


# ---------- persisted-index IVF (index once, delta daily) ----------

def ivf_fit_centroids(
    corpus: DataFrame,
    n_cells: int | None = None,
    sample_per_cell: int = 50,
    max_iter: int = 10,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """(cell, centroid) — k-means centroids fit on a bounded sample
    (``sample_per_cell``·n_cells rows), the persistable half of an IVF
    index. ``n_cells`` auto-sizes to ~n/400 (capped at
    ``_IVF_FLAT_MAX_CELLS`` — past that use a two-level coarse quantizer,
    same shape). Fit once, write to parquet, reuse across daily deltas:
    arriving vectors only need ``ivf_assign``."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n = corpus.count()
    if n == 0:
        raise ValueError("cannot fit IVF centroids on an empty corpus")
    if n_cells is None:
        n_cells = max(8, min(n // 400, _IVF_FLAT_MAX_CELLS))
    n_cells = min(n_cells, n)
    fit_frac = min(1.0, (sample_per_cell * n_cells) / n)
    fit_df = corpus.sample(fraction=fit_frac, seed=seed) if fit_frac < 1.0 else corpus
    spark = corpus.sparkSession
    fit_rows = fit_df.select(
        F.col(vec_col).cast("array<double>").alias("v")
    ).localCheckpoint(eager=False)
    n_fit = fit_rows.count()
    n_cells = max(1, min(n_cells, n_fit))
    if n_fit <= _KMEANS_DRIVER_ROWS and n_cells <= _KMEANS_DRIVER_MAX_K:
        # Bounded-sample fast path (round 6): the fit sample is
        # sample_per_cell·n_cells rows BY CONSTRUCTION, and for the common
        # cell counts it is a few thousand vectors — a driver-side numpy
        # Lloyd (the same _np_kmeans the two-level fine fit already uses)
        # replaces the ~20 scheduled MLlib jobs whose latency dominated
        # the fit (measured 1.6-2.1 s MLlib vs ~50 ms numpy at 400-row
        # samples; the bounded collect is the PQ-codebook discipline).
        # Bigger samples keep the distributed MLlib fit.
        X = np.array([r["v"] for r in fit_rows.collect()], dtype=float)
        centers = _np_kmeans(
            X, n_cells, np.random.RandomState(seed), max_iter=max_iter
        )
    else:
        centers = KMeans(
            k=n_cells, seed=seed, maxIter=max_iter,
            featuresCol="features", predictionCol="cell",
        ).fit(
            fit_rows.select(array_to_vector(F.col("v")).alias("features"))
        ).clusterCenters()
    return local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "cell long, centroid array<double>",
    )


# Cell count past which the flat quantizer stops paying: its assignment is
# a broadcast cross-join of every vector with every centroid. Auto-sized
# flat indexes stop here; embed.ivf_candidates switches to two levels.
_IVF_FLAT_MAX_CELLS = 4096

# Fit-sample row count under which k-means runs as a driver-side numpy
# Lloyd instead of MLlib (bounded collect: rows × dim × 8 B ≈ 25 MB).
_KMEANS_DRIVER_ROWS = 50_000
# _np_kmeans' k-means++ seeding is O(n·k²·d) — the driver path is only a
# win for small cell counts; larger k stays on the distributed MLlib fit.
_KMEANS_DRIVER_MAX_K = 64


def _np_kmeans(X: np.ndarray, k: int, rng: np.random.RandomState,
               max_iter: int = 10) -> np.ndarray:
    """Plain Lloyd k-means with k-means++-style seeding, numpy-vectorized.
    Runs INSIDE an applyInPandas group (one coarse cell's bounded sample) —
    the per-group twin of the MLlib fit, with no per-group driver loop."""
    n = len(X)
    k = max(1, min(k, n))
    # k-means++ seeding: first center uniform, then ∝ squared distance
    centers = X[rng.randint(n)][None, :]
    for _ in range(1, k):
        d2 = np.min(
            ((X[:, None, :] - centers[None, :, :]) ** 2).sum(-1), axis=1
        )
        tot = d2.sum()
        if tot <= 0:  # all points coincide with a chosen center
            break
        centers = np.vstack([centers, X[rng.choice(n, p=d2 / tot)]])
    for _ in range(max_iter):
        assign = np.argmin(
            ((X[:, None, :] - centers[None, :, :]) ** 2).sum(-1), axis=1
        )
        new = np.vstack([
            X[assign == i].mean(0) if (assign == i).any() else centers[i]
            for i in range(len(centers))
        ])
        if np.allclose(new, centers):
            break
        centers = new
    return centers


def _group_kmeans(
    df: DataFrame, key: str, vec_col: str, k, max_iter: int, seed: int
) -> DataFrame:
    """(<key>, idx, centroid) — an independent ``_np_kmeans`` per ``key``
    group of ``df`` in ONE applyInPandas pass (no driver loop), seeded
    ``seed + key``. ``k`` is a constant or the name of a column holding
    each group's k; ``key`` keeps its input type."""

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(pdf[key].iloc[0])
        X = np.stack(pdf[vec_col].to_numpy()).astype(float)
        kg = int(pdf[k].iloc[0]) if isinstance(k, str) else k
        centers = _np_kmeans(
            X, kg, np.random.RandomState(seed + g), max_iter=max_iter
        )
        return pd.DataFrame({
            key: g,
            "idx": range(len(centers)),
            "centroid": [list(map(float, c)) for c in centers],
        })

    schema = T.StructType([
        T.StructField(key, df.schema[key].dataType),
        T.StructField("idx", T.IntegerType()),
        T.StructField("centroid", T.ArrayType(T.DoubleType())),
    ])
    return df.groupBy(key).applyInPandas(fit, schema)


def _ivf2_shape(total: int, n_coarse: int | None = None,
                fine_per_coarse: int | None = None) -> tuple[int, int]:
    """(n_coarse, fine_per_coarse) for ~``total`` two-level cells: √total
    coarse cells unless given, the rest split evenly inside each."""
    if n_coarse is None:
        n_coarse = max(2, math.ceil(math.sqrt(total)))
    if fine_per_coarse is None:
        fine_per_coarse = max(1, math.ceil(total / n_coarse))
    return n_coarse, fine_per_coarse


def ivf2_fit_centroids(
    corpus: DataFrame,
    n_coarse: int | None = None,
    fine_per_coarse: int | None = None,
    target_occupancy: int = 400,
    sample_per_cell: int = 50,
    max_iter: int = 10,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """(cell, coarse, centroid) — TWO-LEVEL IVF centroids: a coarse k-means
    (MLlib, sampled) over the corpus, then an independent fine k-means
    INSIDE each coarse cell (numpy Lloyd via applyInPandas over the sampled
    rows grouped by coarse cell — one distributed pass, no driver loop).

    Why: the single-level quantizer's assignment is a broadcast cross-join
    costing O(n·n_cells) distance exprs, so ``ivf_fit_centroids`` caps
    n_cells at 4096 — past ~1.6M vectors per-cell occupancy (and the cell
    equi-join) grows linearly again, the same density wall the IVF path was
    built to avoid. Two levels keep occupancy at ``target_occupancy`` for
    any n: total cells = n/target_occupancy with n_coarse ≈ √total, and
    assignment probes n_coarse + nprobe_coarse·fine_per_coarse centroids
    per vector instead of all n_cells (√-scale, Faiss-IMI shape).

    The output unions with the flat index contract: ``ivf_assign`` and
    ``ivf_topk_delta`` detect the ``coarse`` column and route two-stage;
    run_ann.py persists it to the same <index>/centroids dir.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n = corpus.count()
    if n == 0:
        raise ValueError("cannot fit IVF centroids on an empty corpus")
    n_coarse, fine_per_coarse = _ivf2_shape(
        max(8, n // target_occupancy), n_coarse, fine_per_coarse
    )
    n_coarse = min(n_coarse, n)

    fit_frac = min(1.0, (sample_per_cell * n_coarse * fine_per_coarse) / n)
    fit_df = (
        corpus.sample(fraction=fit_frac, seed=seed) if fit_frac < 1.0 else corpus
    )
    sample = fit_df.select(
        F.col(vec_col).cast("array<double>").alias("v")
    ).localCheckpoint(eager=False)
    n_sample = sample.count()
    n_coarse = max(1, min(n_coarse, n_sample))

    coarse_model = KMeans(
        k=n_coarse, seed=seed, maxIter=max_iter,
        featuresCol="features", predictionCol="coarse",
    ).fit(sample.select(array_to_vector(F.col("v")).alias("features")))

    # stage-1 assign the SAMPLE with the in-scope MLlib model: a pure
    # map-side projection (no crossJoin, no window, no shuffle) — the
    # relational two-stage path in _ivf2_assign exists for consumers that
    # only have the persisted centroid table, but here the model object is
    # at hand
    sassigned = coarse_model.transform(
        sample.select("v", array_to_vector(F.col("v")).alias("features"))
    ).select("coarse", "v")
    fine = _group_kmeans(sassigned, "coarse", "v", fine_per_coarse, max_iter, seed)
    return fine.select(
        (F.col("coarse").cast("long") * fine_per_coarse + F.col("idx"))
        .alias("cell"),
        "coarse",
        "centroid",
    )


def _coarse_routing(centers: DataFrame) -> DataFrame:
    """(coarse, ccentroid) derived from a two-level centers table as the
    mean of each coarse cell's fine centroids — close enough for stage-1
    routing, and empty coarse cells vanish automatically (no fine rows)."""
    return (
        centers.select("coarse", F.posexplode("centroid").alias("pos", "x"))
        .groupBy("coarse", "pos")
        .agg(F.avg("x").alias("x"))
        .groupBy("coarse")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "x"))),
                lambda s: s["x"],
            ).alias("ccentroid")
        )
    )


def _ivf2_assign(
    df: DataFrame,
    centers: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
    nprobe_coarse: int | None = None,
) -> DataFrame:
    """Two-stage assignment against a two-level centers table: probe the
    ``nprobe_coarse`` nearest coarse cells, then the ``nprobe`` nearest fine
    cells among THOSE coarse cells' centroids. Per vector that is
    n_coarse + nprobe_coarse·fine_per_coarse distance exprs — √-scale vs
    the flat cross-join. ``nprobe ≥ total cells`` probes everything (the
    exactness anchor survives two levels)."""
    coarse_tbl = _coarse_routing(centers)
    n_coarse = coarse_tbl.count()
    total_cells = centers.count()
    if nprobe >= total_cells:
        nprobe_coarse = n_coarse
    elif nprobe_coarse is None:
        nprobe_coarse = min(n_coarse, max(2, nprobe))

    vecs = df.select(id_col, F.col(vec_col).cast("array<double>").alias("__v"))
    probed = _nearest(
        vecs.crossJoin(F.broadcast(coarse_tbl)), "coarse",
        _sq_dist(F.col("__v"), F.col("ccentroid")), nprobe_coarse, id_col,
    )
    cells = _nearest(
        probed.join(vecs, id_col).join(F.broadcast(centers), "coarse"), "cell",
        _sq_dist(F.col("__v"), F.col("centroid")), nprobe, id_col,
    )
    return cells.join(df.select(id_col, vec_col), id_col).select(
        "cell", id_col, vec_col
    )


def _nearest(pairs: DataFrame, key: str, d2, n: int, id_col: str) -> DataFrame:
    """(<id_col>, <key>) — per vector, the ``n`` (vector, centroid) rows of
    ``pairs`` with the smallest ``d2``, ties to the lower key. The window
    sees only skinny (id, key, d2) rows: the vector payload stays out of
    its exchange and rejoins by id afterwards."""
    w = Window.partitionBy(id_col).orderBy(F.col("d2").asc(), F.col(key).asc())
    return (
        pairs.withColumn("d2", d2)
        .select(id_col, key, "d2")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .select(id_col, key)
    )


def ivf_assign(
    df: DataFrame,
    centers: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, <id_col>, <vec_col>) — each vector assigned to its ``nprobe``
    nearest centroids. Broadcast cross-join on the (small) centroid table,
    then a top-nprobe window over skinny (id, cell, d2) rows (keep the
    64-float payload out of the exchange). O(Δn·n_cells) per delta — the
    corpus is never re-read. Also the assignment step of
    ``embed.ivf_candidates``.

    A two-level centers table (has a ``coarse`` column — see
    ``ivf2_fit_centroids``) routes through the two-stage assignment
    transparently, so ``ivf_topk_delta`` and run_ann.py work with either
    index layout unchanged."""
    if "coarse" in centers.columns:
        return _ivf2_assign(df, centers, nprobe, id_col, vec_col)
    cells = _nearest(
        df.select(id_col, vec_col).crossJoin(F.broadcast(centers)), "cell",
        _sq_dist(F.col(vec_col).cast("array<double>"), F.col("centroid")),
        nprobe, id_col,
    )
    return cells.join(df.select(id_col, vec_col), id_col).select(
        "cell", id_col, vec_col
    )


def ivf_topk_delta(
    queries: DataFrame,
    centers: DataFrame,
    assigned: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k per query against a PERSISTED IVF index (``centers`` +
    ``assigned``, as built by ivf_fit_centroids/ivf_assign): probe the
    nprobe nearest cells, exact cosine re-rank inside them. A query batch
    of Δq rows costs O(Δq·n_cells) assignment + the probed-cell work —
    the indexed corpus is touched only through its cell partitions.
    ``nprobe = n_cells`` probes everything: exact top-k (the test anchor).
    Same output contract as ivf_topk: (query_id, neighbor_id, cos, rank).

    The per-cell re-rank runs as ONE grouped applyInPandas (round 6,
    guide §4.2): probe queries and assigned vectors meet per cell, the
    _cosine_topk_ties kernel scores them in numpy, and only each query's
    top-k (ties included) leaves the cell — the candidate fan-out
    (|q| · nprobe · occupancy rows through an exchange, each paying an
    interpreted ~10 µs higher-order cosine) never materializes, and the
    global window ranks |q| · nprobe · k rows instead. Scoring is
    bit-exact vs the cosine_sim_expr join, mixed float/double sides
    included; vector columns of other numeric element types are cast to
    array<double> on entry."""
    def float_vectors(df):
        if _np_elem(df.schema[vec_col].dataType) is not None:
            return df
        return df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))

    queries = float_vectors(queries)
    assigned = float_vectors(assigned)
    probes = ivf_assign(queries, centers, nprobe=nprobe,
                        id_col=id_col, vec_col=vec_col)
    topk = _cosine_topk_ties(
        k,
        _np_elem(queries.schema[vec_col].dataType),
        _np_elem(assigned.schema[vec_col].dataType),
        vec_col,
    )

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf[pdf["side"] == 0]
        c = pdf[pdf["side"] == 1]
        return topk(q["id"].to_numpy(), q["vec"], c["id"].to_numpy(), c["vec"])

    out_schema = T.StructType([
        T.StructField("query_id", queries.schema[id_col].dataType),
        T.StructField("neighbor_id", queries.schema[id_col].dataType),
        T.StructField("cos", T.DoubleType()),
    ])
    # one tagged union instead of a cogroup — probes and the index
    # routinely share lineage (queries drawn from the corpus), which trips
    # the ambiguous-self-join analyzer on cogroup's dual groupBy. Mixed
    # element types widen to double here; the kernel casts each side back.
    tagged = probes.select(
        "cell", F.lit(0).alias("side"),
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
    ).unionByName(assigned.select(
        "cell", F.lit(1).alias("side"),
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
    ))
    return _top_k(
        tagged.groupBy("cell").applyInPandas(per_cell, schema=out_schema)
        .dropDuplicates(["query_id", "neighbor_id"]),
        k,
    )


# ---------- product quantization (IVF-PQ-style ADC; Jégou et al. 2011) ----------

def pq_fit_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 256,
    sample_per_code: int = 40,
    max_iter: int = 10,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """(sub, code, centroid) — product-quantization codebooks: the vector is
    split into ``m`` contiguous subvectors and each subspace gets an
    independent k-means codebook of ``k`` centroids (Jégou, Douze, Schmid,
    "Product quantization for nearest neighbor search", TPAMI 2011 — the
    standard memory-bounded ANN representation; Faiss IVFPQ shape).

    Why at 100 TB: a dim-64 float32 vector is 256 bytes; its PQ code is
    ``m`` bytes (32× smaller at m=8) and ADC scoring never touches the raw
    vectors — the index STATE, not just the wire format (int8 quantization,
    embed.py), becomes memory-resident at corpus sizes where floats can't.

    Distributed fit with no driver loop: one bounded sample of the corpus,
    exploded to (sub, subvector) rows, then ONE applyInPandas pass fits all
    ``m`` codebooks in parallel (numpy Lloyd, deterministic per-sub seed) —
    the same shape as ivf2_fit_centroids' per-coarse fine fit."""
    n = corpus.count()
    if n == 0:
        raise ValueError("cannot fit PQ codebooks on an empty corpus")
    fit_frac = min(1.0, (sample_per_code * k) / n)
    fit_df = corpus.sample(fraction=fit_frac, seed=seed) if fit_frac < 1.0 else corpus
    v = F.col(vec_col).cast("array<double>")
    dim_row = fit_df.select(F.size(v).alias("d")).first()
    dim = int(dim_row["d"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    subs = fit_df.select(
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda i: F.slice(v, i * dsub + 1, dsub),
            )
        ).alias("sub", "sv")
    ).localCheckpoint(eager=False)
    return _group_kmeans(subs, "sub", "sv", k, max_iter, seed).select(
        "sub", F.col("idx").alias("code"), "centroid"
    )


def _collect_codebooks(codebooks: DataFrame) -> np.ndarray:
    """codebooks DF → dense numpy [m, k, dsub] (codebooks are small by
    construction: m·k·dsub doubles — 128 KiB at m=8, k=256, dim 64)."""
    rows = codebooks.collect()
    m = max(r["sub"] for r in rows) + 1
    k = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["centroid"])
    arr = np.zeros((m, k, dsub))
    for r in rows:
        arr[r["sub"], r["code"]] = r["centroid"]
    return arr


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(<id_col>, codes array<int>) — each vector quantized to its nearest
    code per subspace. Vectorized Arrow pass (mapInPandas + one numpy
    argmin per batch over the broadcast [m,k,dsub] codebook tensor — never
    per-row Python): encoding cost O(n·m·k·dsub) flops, embarrassingly
    partition-parallel, output m small ints per vector."""
    spark = df.sparkSession
    books = _collect_codebooks(codebooks)
    bks = spark.sparkContext.broadcast(books)
    mm, dsub = books.shape[0], books.shape[2]

    src = df.select(id_col, F.col(vec_col).cast("array<double>").alias("__v"))

    def encode(batches):
        B = bks.value  # [m, k, dsub]
        for pdf in batches:
            X = np.stack(pdf["__v"].to_numpy()).astype(float)
            codes = np.empty((len(X), mm), dtype=np.int32)
            for s in range(mm):
                sub = X[:, s * dsub:(s + 1) * dsub]
                # ||x - c||² = ||x||² - 2x·c + ||c||²; argmin over codes
                d = (
                    -2.0 * sub @ B[s].T
                    + (B[s] ** 2).sum(axis=1)[None, :]
                )
                codes[:, s] = d.argmin(axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "codes": [list(map(int, c)) for c in codes],
            })

    out_schema = T.StructType([
        src.schema[id_col],
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ])
    return src.mapInPandas(encode, out_schema)


def _adc_topk(
    queries: DataFrame,
    codebooks: DataFrame,
    cand: DataFrame,
    k: int,
    refine: DataFrame | None,
    refine_factor: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The ADC scan shared by ``pq_topk`` and ``ivfpq_topk``: scores the
    (query_id, neighbor_id, codes) candidates ``cand`` against per-query
    lookup tables and ranks them, optionally refining by exact cosine."""
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    mrow = codebooks.agg(F.max("sub").alias("m"),
                         F.max(F.size("centroid")).alias("dsub"),
                         F.max("code").alias("kmax")).first()
    m, dsub, kk = int(mrow["m"]) + 1, int(mrow["dsub"]), int(mrow["kmax"]) + 1
    d2 = _sq_dist(
        F.slice(F.col("qv"), F.col("sub") * dsub + 1, dsub), F.col("centroid")
    )
    # LUT rows per query: (query_id, sub, code, d2) → one array per query,
    # indexed [sub*k' + code] (k' from the codebook, uniform by fit)
    lut = (
        qv.crossJoin(F.broadcast(codebooks))
        .select("query_id", (F.col("sub") * kk + F.col("code")).alias("slot"),
                d2.alias("d2"))
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("slot", "d2"))),
                lambda s: s["d2"],
            ).alias("lut")
        )
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.col("lut"),
            s * kk + F.element_at(F.col("codes"), s + 1) + 1,
        ),
    )
    scored = (
        cand.join(F.broadcast(lut), "query_id")
        .withColumn("adc", adc)
        # rank-compatible surrogate for unit vectors: ||q−x||² = 2−2cos
        .select("query_id", "neighbor_id", "adc", (-F.col("adc")).alias("cos"))
    )
    ranked = _top_k(
        scored, k if refine is None else refine_factor * k, by=F.col("adc").asc()
    )
    if refine is None:
        return ranked
    rv = refine.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    exact = (
        ranked.select("query_id", "neighbor_id")
        .join(rv, "neighbor_id")
        .join(qv, "query_id")
        .withColumn("cos", cosine_sim_expr(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cos")
    )
    return _top_k(exact, k)


def pq_topk(
    queries: DataFrame,
    codebooks: DataFrame,
    encoded: DataFrame,
    k: int = 5,
    refine: DataFrame | None = None,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by ASYMMETRIC DISTANCE (ADC): per query, a lookup
    table LUT[sub][code] = ||q_sub − centroid||² (q·m·k skinny rows, one
    small groupBy), then each candidate's distance is the JVM-side sum
    Σ_sub LUT[sub][codes[sub]] — the scan touches only the m-byte codes,
    never raw vectors. With ``refine`` (an (id, vec) table), the top
    refine_factor·k ADC candidates per query are re-ranked by exact cosine
    (the standard IVF-PQ refine step); without it, ADC order stands and
    ``cos`` is the negated squared ADC distance (rank-compatible for
    unit-norm vectors: ||q−x||² = 2−2cos).

    Output contract matches the other *_topk operators:
    (query_id, neighbor_id, cos, rank)."""
    if queries.isEmpty() or encoded.isEmpty():
        return _empty_topk(queries, id_col)
    cand = (
        encoded.select(F.col(id_col).alias("neighbor_id"), "codes")
        .crossJoin(F.broadcast(queries.select(F.col(id_col).alias("query_id"))))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    return _adc_topk(queries, codebooks, cand, k, refine, refine_factor,
                     id_col, vec_col)


def ivfpq_topk(
    queries: DataFrame,
    centers: DataFrame,
    encoded: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    refine: DataFrame | None = None,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ proper: the ADC scan of ``pq_topk`` restricted to the
    ``nprobe`` probed IVF cells per query — candidate volume drops from the
    whole corpus to nprobe·occupancy codes, each m bytes. ``encoded`` is
    (cell, <id_col>, codes) — ``ivf_assign`` output joined with
    ``pq_encode`` (both persistable; the index is cells + codes, never raw
    vectors). ``centers`` may be flat or two-level (ivf_assign detects).
    With ``nprobe`` ≥ all cells and ``refine``, equals pq_topk(refine=...)
    — the composition's exactness anchor."""
    if queries.isEmpty() or encoded.isEmpty():
        return _empty_topk(queries, id_col)
    probes = ivf_assign(
        queries, centers, nprobe=nprobe, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col).alias("query_id"), "cell")
    cand = (
        probes.join(
            encoded.select("cell", F.col(id_col).alias("neighbor_id"), "codes"),
            "cell",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "codes")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _adc_topk(queries, codebooks, cand, k, refine, refine_factor,
                     id_col, vec_col)
