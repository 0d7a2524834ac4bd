"""Similarity search over embedding columns (array<float>).

Every exact top-k here is one scan, ``_exact_topk``: one bounded read of
the query side, broadcast into one mapInPandas over the corpus as it lies,
where the ``_cosine_topk_ties`` numpy kernel scores each corpus batch,
then one rank window. Each operator only says which corpus rows a query
may meet:

- ``cosine_topk_bruteforce``: every row — the correctness baseline,
  O(|queries|·|corpus|); for scale use the cell-probing variants.
- ``lsh_topk``: the rows within a euclidean ``max_distance`` of the query.
- ``ivf_topk`` / ``ivf_topk_delta``: IVF-style coarse quantization — the
  rows of the nprobe cells nearest the query, over k-means centroids.
- ``pq_topk`` / ``ivfpq_topk`` with ``refine``: the query's shortlist of
  product-quantization (ADC) candidates.
"""

from __future__ import annotations

import functools
import itertools
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


def _top_k(df: DataFrame, k: int, by=None, distinct=False) -> DataFrame:
    """(query_id, neighbor_id, cos, rank): each query's first ``k`` rows
    ordered by ``by`` (default cos descending), ties to the lower
    neighbor_id. With ``distinct``, repeats of a (query_id, neighbor_id)
    row — which must carry the same score — share one dense rank and are
    reported once; the dedup runs inside the window's partitioning, so it
    adds no exchange."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc() if by is None else by, F.col("neighbor_id").asc()
    )
    rank = F.dense_rank() if distinct else F.row_number()
    out = (
        df.withColumn("rn", rank.over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rn").alias("rank"))
    )
    return out.dropDuplicates(["query_id", "neighbor_id"]) if distinct else out


def _empty_topk(df: DataFrame, id_col: str) -> DataFrame:
    """Zero-row (query_id, neighbor_id, cos, rank) frame with the id type
    taken from the input, for an empty query side or corpus."""
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
    """The one numpy cosine top-k kernel: returns
    ``topk(qid, Q, nid, C, admits=None, ckey=None)`` → DataFrame(query_id,
    neighbor_id, cos) holding, per query, every non-self row whose cos is
    at or above its k-th best — ties (and NaNs, kept as +inf in the
    truncation key) are never dropped, so a row it drops is beaten by ≥k
    rows globally and the global rank window loses nothing.

    ``Q``/``C`` are sequences of per-row vectors, each stacked in its
    side's element dtype. Bit-exact vs cosine_sim_expr: each norm squares
    in its own side's dtype (like transform(x*x) on array<float>), dot
    products run in the wider dtype (like zip_with(x*y) after Spark's
    type coercion), every fold is dimension-sequential float64, and
    cos = dot / (norm·norm). A NULL or ragged vector raises ValueError
    naming ``vec_col`` and the first offending id. With ``max_distance``,
    only rows at euclidean distance < max_distance (folded as ``_sq_dist``
    does) compete. With ``admits`` — (query index, key) arrays ordered by
    query index — a query meets only the rows whose ``ckey`` it admits:
    those pairs alone are scored, so a batch costs O(admitted pairs·dim),
    not O(queries·rows), and a neighbor id met through several rows (a
    vector in several probed cells) scores once, before the truncation.

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

    def topk(qid, Q, nid, C, admits=None, ckey=None):
        qid, nid = np.asarray(qid), np.asarray(nid)
        Q, C = stack(qid, Q, q_dtype), stack(nid, C, c_dtype)
        if Q.shape[1] != C.shape[1]:
            raise ValueError(
                f"{vec_col}: query dim {Q.shape[1]} != corpus dim {C.shape[1]}"
            )
        qn, cn = np.sqrt(seq_dim_sum(Q * Q)), np.sqrt(seq_dim_sum(C * C))
        n = len(C)

        def score(qi, ri):
            # cos and truncation key (-inf: self or too distant, +inf: NaN
            # cos) of a query block × every row, or of index-aligned pairs
            dot = np.zeros(np.broadcast_shapes(qi.shape, ri.shape))
            for j in range(Q.shape[1]):
                dot += (Q[qi, j] * C[ri, j]).astype(np.float64, copy=False)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / (qn[qi] * cn[ri])
            out = qid[qi] == nid[ri]
            if max_distance is not None:
                d2 = np.zeros(dot.shape)
                for j in range(Q.shape[1]):
                    d2 += (Q[qi, j].astype(np.float64)
                           - C[ri, j].astype(np.float64)) ** 2
                out |= ~(np.sqrt(d2) < max_distance)
            return cos, np.where(out, -np.inf,
                                 np.where(np.isnan(cos), np.inf, cos))

        if admits is not None:
            aq, akey = admits
            order = np.argsort(ckey, kind="stable")
            lo = np.searchsorted(ckey[order], akey)
            cnt = np.searchsorted(ckey[order], akey, "right") - lo
            code = pd.factorize(nid)[0]
        hits = []
        # bound a block at ~16M (query, row) pairs
        step = max(1, (1 << 24) // n)
        for s in range(0, len(Q), step):
            if admits is None:
                qi = np.arange(s, min(s + step, len(Q)))[:, None]
                cos, key = score(qi, np.arange(n)[None, :])
                thr = np.partition(key, -min(k, n), axis=1)[:, [-min(k, n)]]
                i, ri = np.nonzero((key >= thr) & (key > -np.inf))
                hits.append((qi[i, 0], ri, cos[i, ri]))
                continue
            # the block's queries, each paired with the rows of its keys; a
            # neighbor id met through several rows (cells) scores once
            a, b = np.searchsorted(aq, [s, s + step])
            c = cnt[a:b]
            qi = np.repeat(aq[a:b], c)
            ri = order[np.repeat(lo[a:b] - np.cumsum(c) + c, c)
                       + np.arange(c.sum())]
            first = np.unique(qi * n + code[ri], return_index=True)[1]
            qi, ri = qi[first], ri[first]
            cos, key = score(qi, ri)
            # per query by key descending, down to its k-th key
            o = np.lexsort((-key, qi))
            qi, ri, cos, key = qi[o], ri[o], cos[o], key[o]
            kth = np.minimum(np.searchsorted(qi, qi) + k - 1,
                             np.searchsorted(qi, qi, "right") - 1)
            keep = (key >= key[kth]) & (key > -np.inf)
            hits.append((qi[keep], ri[keep], cos[keep]))
        qi, ri, cos = map(np.concatenate, zip(*hits))
        return pd.DataFrame({"query_id": qid[qi], "neighbor_id": nid[ri],
                             "cos": cos})

    return topk


# Queries per broadcast of the exact scan: a bigger query side is read in
# chunks of this many queries, one broadcast and one corpus scan each.
_BRUTEFORCE_QUERY_ROWS = 10_000


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cos, rank) — exact top-k cosine neighbors,
    excluding self-matches, ties to the lower neighbor id: ``_exact_topk``
    over every corpus row. It runs one eager driver action when called,
    ``queries.limit(_BRUTEFORCE_QUERY_ROWS + 1).collect()``; only
    per-batch per-query top-k rows (ties at the k-th cos included) reach
    the rank window, so the |q|·|corpus| pairs never materialize. Scoring
    is bit-exact vs cosine_sim_expr (tests/test_ivf_cell_topk.py)."""
    return _exact_topk(corpus, queries, k, id_col, vec_col)


def _exact_topk(corpus, queries, k, id_col, vec_col, max_distance=None,
                key=None):
    """The one exact top-k of this module: (query_id, neighbor_id, cos,
    rank) of ``queries`` (<id_col>, <vec_col>[, keys]), one row per query,
    against ``corpus`` (<id_col>, <vec_col>[, <key>]). A query meets the
    rows within euclidean ``max_distance`` (None: all) or, with ``key``,
    only the rows whose ``key`` is in its ``keys`` (probed cells,
    shortlist ids): the kernel scores just those pairs, each neighbor id
    once. Other element types than float/double are cast to
    array<double> on entry.

    The query side is read with ``limit(cap + 1)``, cap =
    ``_BRUTEFORCE_QUERY_ROWS``; over the cap its plan runs again, read in
    chunks of cap queries (``toLocalIterator``, one job per partition).
    Each chunk is broadcast into ONE mapInPandas over the corpus as it
    lies, one partition per core, where the kernel keeps each query's rows
    down to its k-th best cos; one rank window takes the union. The
    driver's Python heap holds one partition plus one chunk, but every
    chunk's broadcast lives as long as the result."""
    def floats(df):
        if _np_elem(df.schema[vec_col].dataType) is not None:
            return df
        return df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))

    corpus = floats(corpus.select(*dict.fromkeys([id_col, vec_col, key or id_col])))
    queries = floats(queries.select(id_col, vec_col, *["keys"] if key else []))
    topk = _cosine_topk_ties(
        k, _np_elem(queries.schema[vec_col].dataType),
        _np_elem(corpus.schema[vec_col].dataType), vec_col, max_distance,
    )
    sc = corpus.sparkSession.sparkContext
    out_schema = T.StructType([
        T.StructField("query_id", queries.schema[id_col].dataType),
        T.StructField("neighbor_id", corpus.schema[id_col].dataType),
        T.StructField("cos", T.DoubleType()),
    ])

    def scan(rows):
        admits = None
        if key:  # (query index, admitted key), by query index
            keys = [r["keys"] for r in rows]
            admits = (np.repeat(np.arange(len(rows)), [len(ks) for ks in keys]),
                      pd.Series([x for ks in keys for x in ks]).to_numpy())
        bc = sc.broadcast((np.array([r[id_col] for r in rows]),
                           [r[vec_col] for r in rows], admits))

        def run(batches):
            qid, qvecs, admits = bc.value
            for pdf in batches:
                if key:  # drop the rows no query admits
                    pdf = pdf[np.isin(pdf[key].to_numpy(), admits[1])]
                if len(pdf):
                    yield topk(qid, qvecs, pdf[id_col].to_numpy(), pdf[vec_col],
                               admits, pdf[key].to_numpy() if key else None)

        # the scan streams Arrow batches: one partition per core costs no
        # memory and skips a Python task per extra partition (bench.py
        # ann_topk, 64 partitions of 2,000 vectors: 4.5 → 0.6 s, local[4])
        return corpus.coalesce(sc.defaultParallelism).mapInPandas(run, out_schema)

    cap = max(1, _BRUTEFORCE_QUERY_ROWS)
    chunks = [queries.limit(cap + 1).collect()]
    if len(chunks[0]) > cap:  # runs the query side's plan a second time
        it = queries.toLocalIterator()
        chunks = iter(lambda: list(itertools.islice(it, cap)), [])
    scans = [scan(rows) for rows in chunks if rows]
    if not scans:
        return _empty_topk(corpus, id_col)
    # a vector held by several probed cells may score in several batches
    return _top_k(functools.reduce(DataFrame.unionByName, scans), k,
                  distinct=key is not None)


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
    exactly inside those cells, by the exact scan restricted to each
    query's probed cells (``ivf_topk_delta``).

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
    nprobe nearest cells, exact cosine re-rank inside them.
    ``nprobe = n_cells`` probes everything: exact top-k (the test anchor).
    Same output contract as ivf_topk: (query_id, neighbor_id, cos, rank).

    Runs one bounded collect when called: the queries, each with its
    vector and the cells ``ivf_assign`` probes for it, are
    ``_exact_topk``'s query side; its scan streams ``assigned`` where it
    lies (never shuffled) and scores each query against its probed cells'
    rows only. A batch of Δq queries costs O(Δq·n_cells) assignment plus
    Σ_cell (queries probing it)·(its rows) cosines. Bit-exact vs the
    cosine_sim_expr join, mixed float/double sides included."""
    probes = ivf_assign(queries, centers, nprobe=nprobe,
                        id_col=id_col, vec_col=vec_col)
    probed = probes.groupBy(id_col).agg(
        F.first(vec_col).alias(vec_col), F.collect_list("cell").alias("keys")
    )
    return _exact_topk(assigned, probed, k, id_col, vec_col, key="cell")


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
    lookup tables and ranks them, optionally refining the shortlist by
    the exact scan."""
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
    shortlist = ranked.groupBy(F.col("query_id").alias(id_col)).agg(
        F.collect_list("neighbor_id").alias("keys")
    ).join(qv.withColumnsRenamed({"query_id": id_col, "qv": vec_col}), id_col)
    return _exact_topk(refine, shortlist, k, id_col, vec_col, key=id_col)


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
    (the standard IVF-PQ refine step): one bounded collect reads that
    shortlist, and ``_exact_topk`` scans ``refine`` with each query held
    to its own shortlist ids. Without it, ADC order stands and ``cos`` is
    the negated squared ADC distance (rank-compatible for unit-norm
    vectors: ||q−x||² = 2−2cos). Output: (query_id, neighbor_id, cos,
    rank), as for the other *_topk operators."""
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
