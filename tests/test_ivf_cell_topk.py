"""Round-6 guard: ivf_topk_delta's per-cell numpy top-k and
cosine_topk_bruteforce's scan must be BIT-exact against the round-5
relational paths (equi-join or crossJoin + cosine_sim_expr + global window)
— each side's own element dtype for its norm, the wider dtype for the dot,
dimension-sequential float64 fold, ties at the k-th cos never dropped.

``vec_type`` is one element type for both sides, or "query,corpus" for
mixed sides."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from nama_spark.operators.ann import (
    _empty_topk,
    cosine_sim_expr,
    ivf_assign,
    ivf_fit_centroids,
    ivf_topk_delta,
)


def _join_path(queries, centers, assigned, k, nprobe, vec_type):
    """The round-5 implementation, verbatim."""
    probes = ivf_assign(queries, centers, nprobe=nprobe).select(
        F.col("vec_id").alias("query_id"), "cell",
        F.col("embedding").alias("qv"),
    )
    cand = probes.join(
        assigned.select(
            "cell", F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv"),
        ),
        "cell",
    ).where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("cos", cosine_sim_expr(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cos")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rn").alias("rank"))
    )


def _mk_corpus(spark, vec_type, with_dups=False):
    import random

    rng = random.Random(7)
    rows = []
    for i in range(200):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(16)]))
    if with_dups:
        # duplicate vectors under new ids: pervasive cos ties at the k-th
        # position, the truncation case that must keep ties
        rows += [(1000 + i, list(v)) for i, v in
                 [(r[0], r[1]) for r in rows[:50]]]
    return spark.createDataFrame(
        rows, f"vec_id: long, embedding: array<{vec_type}>"
    )


VEC_TYPES = ["float", "double", "float,double", "double,float"]


def _mk_sides(spark, vec_type, with_dups=False):
    """(corpus, queries) — the same vectors, each side in its own type."""
    q_type, _, c_type = vec_type.partition(",")
    emb = _mk_corpus(spark, c_type or q_type, with_dups).localCheckpoint()
    if not c_type:
        return emb, emb.where(F.col("vec_id") < 6)
    queries = _mk_corpus(spark, q_type, with_dups).where(F.col("vec_id") < 6)
    return emb, queries.localCheckpoint()


@pytest.mark.parametrize("vec_type", VEC_TYPES)
@pytest.mark.parametrize("with_dups", [False, True])
def test_cell_topk_bitwise_equals_join_path(spark, vec_type, with_dups):
    emb, queries = _mk_sides(spark, vec_type, with_dups)
    centers = ivf_fit_centroids(emb, n_cells=4).localCheckpoint()
    assigned = ivf_assign(emb, centers).localCheckpoint()
    for nprobe in (4, 2):
        ref = {
            tuple(r)
            for r in _join_path(
                queries, centers, assigned, 5, nprobe, vec_type
            ).collect()
        }
        got = {
            tuple(r)
            for r in ivf_topk_delta(
                queries, centers, assigned, k=5, nprobe=nprobe
            ).collect()
        }
        assert got == ref  # bitwise: cos floats compared exactly


def test_cell_topk_empty_queries(spark):
    emb = _mk_corpus(spark, "float")
    centers = ivf_fit_centroids(emb, n_cells=4).localCheckpoint()
    assigned = ivf_assign(emb, centers).localCheckpoint()
    empty = emb.where(F.lit(False))
    got = ivf_topk_delta(empty, centers, assigned, k=5, nprobe=2)
    assert got.count() == 0
    # the bounded collect of the probed queries finds none and returns
    # _empty_topk's frame, with its column names and types
    assert got.dtypes == _empty_topk(empty, "vec_id").dtypes


def _bruteforce_join_path(corpus, queries, k):
    """cosine_topk_bruteforce's round-5 implementation, verbatim."""
    from nama_spark.operators.ann import cosine_sim_expr

    q = F.broadcast(queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    joined = c.crossJoin(q).where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        joined.withColumn("cos", cosine_sim_expr(F.col("qv"), F.col("cv")))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rn").alias("rank"))
    )


@pytest.mark.parametrize("vec_type", VEC_TYPES)
def test_bruteforce_scan_bitwise_equals_join_path(spark, vec_type):
    from nama_spark.operators.ann import cosine_topk_bruteforce

    emb, queries = _mk_sides(spark, vec_type, with_dups=True)
    ref = {tuple(r) for r in _bruteforce_join_path(emb, queries, 5).collect()}
    got = {tuple(r) for r in cosine_topk_bruteforce(emb, queries, k=5).collect()}
    assert got == ref


def test_bruteforce_query_cap_both_sides(spark, monkeypatch):
    """At the query-row cap the scan runs on one broadcast; one row over
    it the query side is scanned in chunks. Both stay bit-exact."""
    from nama_spark.operators import ann

    emb, queries = _mk_sides(spark, "float", with_dups=True)
    ref = {tuple(r) for r in _bruteforce_join_path(emb, queries, 5).collect()}
    n_q = queries.count()
    for cap in (n_q, n_q - 1):
        monkeypatch.setattr(ann, "_BRUTEFORCE_QUERY_ROWS", cap)
        out = ann.cosine_topk_bruteforce(emb, queries, k=5)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "MapInPandas" in plan, (cap, plan)
        assert {tuple(r) for r in out.collect()} == ref


@pytest.mark.parametrize("vec_type", VEC_TYPES)
def test_multi_assigned_index_scores_each_vector_once(spark, vec_type):
    """An index assigned at nprobe=2 holds each vector in two cells, and
    both rows sit in one partition (ivf_assign joins on the id). A query
    probing both cells must score the vector once before the per-batch
    truncation, or its repeats push true neighbors out of the top k."""
    emb, queries = _mk_sides(spark, vec_type, with_dups=True)
    centers = ivf_fit_centroids(emb, n_cells=4).localCheckpoint()
    assigned = ivf_assign(emb, centers, nprobe=2).localCheckpoint()
    for nprobe in (4, 2):
        ref = {
            tuple(r)
            for r in _join_path(
                queries, centers, assigned, 5, nprobe, vec_type
            ).collect()
        }
        got = {
            tuple(r)
            for r in ivf_topk_delta(
                queries, centers, assigned, k=5, nprobe=nprobe
            ).collect()
        }
        assert got == ref


@pytest.mark.parametrize("int_type", ["int", "bigint"])
def test_small_int_vectors_bitwise_equal_cross_join(spark, int_type):
    """Integer vectors are cast to array<double> on entry; small integers
    multiply and add exactly in float64, so the scan matches the crossJoin
    + cosine_sim_expr reference bit for bit, tie-heavy as they are."""
    from nama_spark.operators.ann import cosine_topk_bruteforce

    import random

    rng = random.Random(11)
    rows = []
    while len(rows) < 120:
        v = [rng.randint(-3, 3) for _ in range(6)]
        if any(v):  # a zero vector's cos is NaN, which no set compares
            rows.append((len(rows), v))
    emb = spark.createDataFrame(
        rows, f"vec_id: long, embedding: array<{int_type}>"
    ).localCheckpoint()
    queries = emb.where(F.col("vec_id") < 6)
    ref = {tuple(r) for r in _bruteforce_join_path(emb, queries, 5).collect()}
    got = {tuple(r) for r in cosine_topk_bruteforce(emb, queries, k=5).collect()}
    assert got == ref
    centers = ivf_fit_centroids(emb, n_cells=4).localCheckpoint()
    assigned = ivf_assign(emb, centers).localCheckpoint()
    got = {tuple(r) for r in ivf_topk_delta(
        queries, centers, assigned, k=5, nprobe=4).collect()}
    assert got == ref
    ref = {tuple(r) for r in _join_path(
        queries, centers, assigned, 5, 2, int_type).collect()}
    got = {tuple(r) for r in ivf_topk_delta(
        queries, centers, assigned, k=5, nprobe=2).collect()}
    assert got == ref


def test_query_chunks_give_the_unchunked_rows(spark, monkeypatch):
    """Every exact top-k reads a query side over _BRUTEFORCE_QUERY_ROWS in
    chunks of that many queries; chunks of 1, 2 and n_q − 1 queries give
    the rows of one broadcast, for every operator that runs the scan."""
    from nama_spark.operators import ann

    emb, queries = _mk_sides(spark, "float", with_dups=True)
    centers = ivf_fit_centroids(emb, n_cells=4).localCheckpoint()
    assigned = ivf_assign(emb, centers, nprobe=2).localCheckpoint()
    books = ann.pq_fit_codebooks(emb, m=4, k=16).localCheckpoint()
    encoded = ann.pq_encode(emb, books).localCheckpoint()
    runs = {
        "bruteforce": lambda: ann.cosine_topk_bruteforce(emb, queries, k=5),
        "lsh": lambda: ann.lsh_topk(emb, queries, k=5, max_distance=1.5),
        "ivf": lambda: ann.ivf_topk_delta(
            queries, centers, assigned, k=5, nprobe=2),
        "pq_refine": lambda: ann.pq_topk(
            queries, books, encoded, k=5, refine=emb, refine_factor=3),
    }
    want = {name: {tuple(r) for r in run().collect()} for name, run in runs.items()}
    assert all(want.values())
    n_q = queries.count()
    for cap in (1, 2, n_q - 1):
        monkeypatch.setattr(ann, "_BRUTEFORCE_QUERY_ROWS", cap)
        for name, run in runs.items():
            assert {tuple(r) for r in run().collect()} == want[name], (cap, name)
