"""EmbeddingPass's driver snapshot and the one exact scan: the driver
embedding is bitwise the Spark one; the driver scan keeps exactly the
pairs MLlib's BRP join keeps when every vector shares a bucket; the tiled
``lsh_candidates`` gives the driver scan's pairs and bitwise its cos at any
tile size; ``lsh_topk`` is the exact top-k within its distance bound; and
the pipeline gives the same partition on both sides of
``embed._EMBED_DRIVER_PAIRS``, which bounds the edges the driver keeps."""

import math
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from nama_spark.operators import embed as E


@pytest.fixture(scope="module")
def spark():
    from nama_spark.session import get_spark

    return get_spark("test_embed_driver_path", cores=4, shuffle_partitions=8)


@pytest.mark.parametrize("n_buckets,dim", [(65536, 64), (5001, 33)])
def test_chunked_projection_is_the_one_shot_draw(monkeypatch, n_buckets, dim):
    monkeypatch.setattr(E, "_PROJ_CACHE", {})
    want = np.random.RandomState(7).normal(
        0.0, 1.0, size=(n_buckets, dim)
    ).astype(np.float32) / math.sqrt(dim)
    got = E._projection(7, n_buckets, dim)
    assert got.dtype == np.float32 and got.shape == want.shape
    assert got.tobytes() == want.tobytes()


def test_driver_embedding_is_bitwise_embed_strings(spark):
    from perfbench import inputs

    names = sorted(set(inputs.er_inputs(1, inputs.SIZES["tiny"])["records"]))
    df = spark.createDataFrame([(s,) for s in names], "string string")
    spark_vecs = {
        r["string"]: np.array(r["vec"], dtype=np.float32)
        for r in E.embed_strings(df, count_col=None).collect()
    }
    driver = E.embed_driver(names)
    assert driver.dtype == np.float32 and len(names) > 50
    for s, v in zip(names, driver):
        assert v.tobytes() == spark_vecs[s].tobytes(), s


def _brp_distance(a, b):
    """BRP keyDistance: squared float64 differences summed in order, sqrt."""
    acc = 0.0
    for x, y in zip(a.astype(np.float64), b.astype(np.float64)):
        acc += (x - y) * (x - y)
    return math.sqrt(acc)


def _threshold_for_bound(target):
    """A cosine threshold t whose euclidean bound is exactly ``target``."""
    t = 1.0 - target * target / 2.0
    for direction in (2.0, -2.0):
        s = t
        for _ in range(4000):
            if E._euclid_bound(s) == target:
                return s
            s = float(np.nextafter(s, direction))
    raise AssertionError(f"no threshold gives bound {target!r}")


def _mllib_brp_pairs(emb, cos_threshold, bucket_length):
    """Reference only: the (s0, s1) pairs of MLlib's BRP self-join under
    the predicate the library's scan implements (strict distance bound,
    then 1 − e·e/2 ≥ t)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    feat = emb.select(
        "string", array_to_vector(F.col("vec").cast("array<double>")).alias("features")
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", numHashTables=8,
        bucketLength=bucket_length, seed=42,
    ).fit(feat)
    joined = model.approxSimilarityJoin(
        feat, feat, E._euclid_bound(cos_threshold), distCol="euclid"
    )
    return {
        (r["s0"], r["s1"])
        for r in joined.select(
            F.col("datasetA.string").alias("s0"),
            F.col("datasetB.string").alias("s1"),
            (1.0 - F.col("euclid") * F.col("euclid") / 2.0).alias("cos"),
        ).where((F.col("s0") < F.col("s1")) & (F.col("cos") >= cos_threshold))
        .collect()
    }


def test_driver_kernel_matches_mllib_brp_at_the_distance_boundary(spark):
    """Hand-built float32 vectors; the last component is one shared large
    value, so it adds exactly 0 to every distance while every projection
    shares its sign, and with a huge bucket_length all vectors fall in one
    bucket per table: the BRP join then sees every pair, and its pairs must
    equal the driver scan's with the bound exactly at a pair distance, one
    ulp above it and one ulp below it. The tiled ``lsh_candidates`` keeps
    the same pairs, so a superset of the join's."""
    vecs = np.array(
        [
            [0.6, 0.8, 0.0, 1000.0],
            [0.0, 0.6, 0.8, 1000.0],
            [0.48, 0.64, 0.6, 1000.0],
            [0.8, 0.0, 0.6, 1000.0],
            [0.6, 0.8, 0.001, 1000.0],
        ],
        dtype=np.float32,
    )
    strings = [f"s{i}" for i in range(len(vecs))]
    emb = spark.createDataFrame(
        [(s, v.tolist()) for s, v in zip(strings, vecs)],
        "string string, vec array<float>",
    )
    e = _brp_distance(vecs[0], vecs[1])
    got = {}
    for name, bound in [
        ("at", e),
        ("distance one ulp above the bound", float(np.nextafter(e, 0.0))),
        ("distance one ulp below the bound", float(np.nextafter(e, 9.0))),
    ]:
        t = _threshold_for_bound(bound)
        driver = {
            (strings[i], strings[j]) for i, j in E.brp_pairs(vecs, t, 10**9)
        }
        mllib = _mllib_brp_pairs(emb, t, bucket_length=1e9)
        tiled = {(r["s0"], r["s1"]) for r in E.lsh_candidates(emb, t).collect()}
        assert driver == mllib, name
        assert tiled == driver, name
        got[name] = driver
    # strict e < dist: the pair at the bound is out, one ulp inside is in
    assert ("s0", "s1") not in got["at"]
    assert ("s0", "s1") not in got["distance one ulp above the bound"]
    assert ("s0", "s1") in got["distance one ulp below the bound"]


_UNIVERSES = {
    "dirty": [
        "Acme Labs, Inc.", "ACME LABS LLC", "acme labs inc", "Acme Lab",
        "Globex Systems Ltd", "globex systemz", "The Globex Systems",
        "Initech Holdings", "initech holding co", "Umbrella Corp",
        "Umbrella Corporation International",
        "Umbrella Corporation Internatonal",
        None, "", " ",
    ],
    "normalizes_to_nothing": ["", None, " , ", "...", " "],
    "single_norm": ["Acme Inc", "ACME, Inc.", "acme inc"],
}


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda r: tuple("" if x is None else str(x) for x in r),
    )


@pytest.mark.parametrize("universe", sorted(_UNIVERSES))
@pytest.mark.parametrize("normalize", ["simplify_corp", None])
def test_pipeline_partition_and_lineage_on_both_sides_of_the_embed_gate(
    spark, monkeypatch, universe, normalize
):
    """MatchPipeline([ExactKeyPass(), TokenSimPass(0.7), EmbeddingPass()])
    gives the same partition whether EmbeddingPass embeds and scans on the
    driver or runs the Spark embed and the tiled scan (an edge gate of -1
    turns every driver scan back); lineage records the gate, the pair bound
    C(n_norms, 2) on both sides and the path taken."""
    from nama_spark.functions.normalize import norm_key
    from nama_spark.plans.pipeline import (
        EmbeddingPass,
        ExactKeyPass,
        MatchPipeline,
        TokenSimPass,
    )

    raw = _UNIVERSES[universe]
    # duplicated records give the names counts above one
    records = spark.createDataFrame(
        [(s,) for s in raw + raw[:2]], "repo string"
    )

    def run(gate):
        monkeypatch.setattr(E, "_EMBED_DRIVER_PAIRS", gate)
        md, lineage = MatchPipeline(
            [
                ExactKeyPass(),
                TokenSimPass(0.7, normalize=normalize),
                EmbeddingPass(normalize=normalize),
            ]
        ).run(records, "repo")
        mine = [r for r in lineage.rows if r["stage"] == "embedding"]
        rows = {r["metric"]: r["value"] for r in mine
                if r["metric"] in ("pair_gate", "pair_bound", "driver_path")}
        n_edges = sum(r["rows"] for r in mine if r["partition_id"] is not None)
        return _rows(md.df), rows, n_edges

    driver, lin_driver, edges_driver = run(10**9)
    spark_side, lin_spark, edges_spark = run(-1)
    assert driver == spark_side
    assert edges_driver == edges_spark
    assert len(driver) == len({s for s in raw if s is not None})
    if universe == "dirty":
        assert edges_driver > 0

    names = records.select(F.col("repo").alias("string")).distinct()
    if normalize:
        norms = names.select(
            norm_key(F.col("string"), normalize).alias("norm")
        ).where(F.col("norm").isNotNull() & (F.col("norm") != ""))
    else:
        norms = names.select(F.col("string").alias("norm")).where(
            F.col("norm").isNotNull()
        )
    n = norms.distinct().count()
    assert lin_driver == {
        "pair_gate": 10**9, "pair_bound": n * (n - 1) // 2, "driver_path": 1.0,
    }
    assert lin_spark["pair_gate"] == -1
    assert lin_spark["pair_bound"] == lin_driver["pair_bound"]
    assert lin_spark["driver_path"] == 0.0
    if universe == "single_norm" and normalize:
        assert n == 1 and len({g for _s, _c, g in driver}) == 1
    if universe == "normalizes_to_nothing" and normalize:
        assert n == 0


def test_brp_pairs_gives_up_past_max_pairs():
    """At a cosine threshold every pair passes, brp_pairs returns all C(n, 2)
    pairs up to max_pairs and None past it, in one block or several."""
    rng = np.random.RandomState(3)
    vecs = rng.normal(size=(40, 8)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    every = [(i, j) for i in range(40) for j in range(i + 1, 40)]
    assert sorted(E.brp_pairs(vecs, -99.0, len(every))) == every
    assert E.brp_pairs(vecs, -99.0, len(every) - 1) is None
    assert E.brp_pairs(vecs[:1], -99.0, 0) == []


def test_driver_scan_is_lsh_only():
    assert E.driver_scan("lsh") is E.brp_pairs
    for mode in ("bruteforce", "ivf", "nope"):
        assert E.driver_scan(mode) is None


@pytest.mark.parametrize("normalize", ["simplify_corp", None])
def test_low_threshold_past_the_edge_gate_runs_the_spark_path(
    spark, monkeypatch, normalize
):
    """At threshold 0 every pair passes the predicate (score_to_cos gives
    -99), so the driver would hold every raw pair. With the edge gate one
    below that count the pass falls back to the Spark embed and the tiled
    scan on the collected rows, which keeps the same edges."""
    from nama_spark.operators.matchdata import MatchData
    from nama_spark.plans.lineage import LineageLog
    from nama_spark.plans.pipeline import EmbeddingPass

    raw = [s for s in _UNIVERSES["dirty"] if s is not None]
    md = MatchData.from_unmatched(
        spark.createDataFrame([(s,) for s in raw], "string string")
    )
    names = [r["string"] for r in md.df.select("string").collect()]
    if normalize:
        from nama_spark.functions.normalize import norm_key

        keyed = [
            tuple(r)
            for r in md.df.select(
                "string", norm_key(F.col("string"), normalize).alias("n")
            ).collect()
            if r["n"]
        ]
        every = len(keyed) * (len(keyed) - 1) // 2 - sum(
            c * (c - 1) // 2
            for c in Counter(n for _s, n in keyed).values()
        )
    else:
        every = len(names) * (len(names) - 1) // 2

    def edges(gate):
        monkeypatch.setattr(E, "_EMBED_DRIVER_PAIRS", gate)
        lineage = LineageLog(spark)
        out = {
            tuple(r)
            for r in EmbeddingPass(threshold=0.0, normalize=normalize)
            .edges(md, lineage).collect()
        }
        return out, {r["metric"]: r["value"] for r in lineage.rows}

    driver, lin_driver = edges(10**9)
    assert len(driver) == every > 0
    assert lin_driver["driver_path"] == 1.0
    spark_side, lin_spark = edges(every - 1)
    assert lin_spark["driver_path"] == 0.0
    assert lin_spark["pair_gate"] == every - 1
    assert lin_spark["pair_bound"] == lin_driver["pair_bound"]
    assert spark_side == driver


def _tile_universes():
    """(strings, float32 vectors, cos thresholds) universes for the tiled
    scan: real embedded names, random unit vectors with exact duplicates
    and one NaN vector (in no pair, and no bar to its block's pairs), and
    unnormalized vectors at a threshold every pair passes."""
    names = [s for s in _UNIVERSES["dirty"] if s]
    rng = np.random.RandomState(5)
    rand = rng.normal(size=(14, 6)).astype(np.float32)
    rand /= np.linalg.norm(rand, axis=1, keepdims=True)
    rand[7] = rand[2]
    rand[11] = rand[2]
    rand[4, 1] = np.nan
    wide = rng.normal(scale=3.0, size=(9, 5)).astype(np.float32)
    return {
        "names": (names, E.embed_driver(names), (0.5, 0.8)),
        "unit_with_duplicates": ([f"u{i:02d}" for i in range(14)], rand, (0.3, 0.9)),
        "every_pair": ([f"w{i}" for i in range(9)][::-1], wide, (-99.0,)),
    }


@pytest.mark.parametrize("tile", [1, 2, 10**6], ids=["B1", "B2", "B_over_n"])
@pytest.mark.parametrize("universe", ["names", "unit_with_duplicates", "every_pair"])
def test_tiled_scan_is_the_driver_scan(spark, monkeypatch, universe, tile):
    """lsh_candidates over the executors returns brp_pairs' (s0, s1) pairs
    and, bitwise, cos = 1 − e·e/2 of BRP's distance, with tiles of one row
    (only diagonal tiles hold pairs of one block), of two rows (many
    tiles) and of more rows than the universe (one tile)."""
    strings, vecs, thresholds = _tile_universes()[universe]
    monkeypatch.setattr(E, "_BLOCK_CELLS", tile * tile)
    emb = spark.createDataFrame(
        [(s, v.tolist()) for s, v in zip(strings, vecs)],
        "string string, vec array<float>",
    )
    for t in thresholds:
        want = {}
        for i, j in E.brp_pairs(vecs, t, 10**9):
            pair = tuple(sorted((strings[i], strings[j])))
            want[pair] = E._euclid_cos(_brp_distance(vecs[i], vecs[j])).hex()
        got = [(r["s0"], r["s1"], r["cos"].hex())
               for r in E.lsh_candidates(emb, t).collect()]
        assert len(got) == len(want) > 0, t
        assert {(s0, s1): c for s0, s1, c in got} == want, t
        assert all(s0 < s1 for s0, s1, _c in got)


def test_lsh_topk_is_the_exact_topk_within_max_distance(spark, monkeypatch):
    """lsh_topk against a numpy reference: per query, the corpus rows
    (self excluded) at euclidean distance < max_distance, ranked by cosine
    then neighbor id. Row 4 is query 0's direction at a large norm (cos 1,
    distance 9), so the bound prunes it; rows 1-3 tie exactly at query 0's
    k-th cosine. The broadcast scan and the crossJoin path agree."""
    from nama_spark.operators import ann

    vecs = np.array([
        [1.0, 0.0, 0.0, 0.0],
        [0.6, 0.8, 0.0, 0.0],
        [0.6, 0.0, 0.8, 0.0],
        [0.6, 0.0, 0.0, 0.8],
        [10.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [-1.0, 0.0, 0.0, 0.0],
        [0.9, 0.1, 0.1, 0.0],
    ])
    corpus = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.where(F.col("vec_id").isin(0, 5))
    k, max_distance = 2, 1.5

    def reference(q):
        rows = []
        for i, c in enumerate(vecs):
            if i == q or math.sqrt(sum((a - b) ** 2 for a, b in zip(vecs[q], c))) >= max_distance:
                continue
            cos = float(vecs[q] @ c / (np.linalg.norm(vecs[q]) * np.linalg.norm(c)))
            rows.append((-cos, i))
        return [(i, -negcos) for negcos, i in sorted(rows)[:k]]

    def run():
        got = {}
        for r in ann.lsh_topk(corpus, queries, k=k, max_distance=max_distance).collect():
            got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cos"]))
        return {q: [(n, c) for _r, n, c in sorted(v)] for q, v in got.items()}

    scan = run()
    monkeypatch.setattr(ann, "_BRUTEFORCE_QUERY_ROWS", 0)
    assert run() == scan
    for q in (0, 5):
        want = reference(q)
        assert [n for n, _c in scan[q]] == [n for n, _c in want], q
        assert [c for _n, c in scan[q]] == pytest.approx([c for _n, c in want], abs=1e-12)
    assert [n for n, _c in scan[0]] == [7, 1]
    unbounded = ann.lsh_topk(corpus, queries, k=k).where("query_id = 0").collect()
    assert 4 in {r["neighbor_id"] for r in unbounded}
