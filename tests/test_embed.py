"""Embedding pass: determinism, unit norm, cosine sanity, LSH recall vs
brute force, threshold clustering ≡ transitive closure, voronoi assignment,
save/load round-trip."""

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from nama_spark.operators.embed import (
    bruteforce_candidates,
    cosine_expr,
    embed_strings,
    lsh_candidates,
    load_embeddings,
    save_embeddings,
    score_pairs,
    unite_nearest,
    unite_similar,
)
from nama_spark.operators.matchdata import MatchData


def _names():
    return [
        "acme labs", "acme labs inc", "acme labz",
        "globex systems", "globex system", "globex sys",
        "initech holdings", "initech holding",
        "completely different co",
    ]


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.createDataFrame([(s, 1) for s in _names()], ["string", "count"])
    e = embed_strings(df, dim=32, seed=7).cache()
    e.count()
    return e


def test_embeddings_unit_norm_and_deterministic(spark, emb):
    rows = {r["string"]: np.array(r["vec"]) for r in emb.collect()}
    for s, v in rows.items():
        assert len(v) == 32
        assert np.linalg.norm(v) == pytest.approx(1.0, abs=1e-5), s
    # re-embed → identical vectors (seeded, hash-stable)
    df = spark.createDataFrame([(s, 1) for s in _names()], ["string", "count"])
    again = {r["string"]: np.array(r["vec"]) for r in embed_strings(df, dim=32, seed=7).collect()}
    for s in rows:
        assert np.allclose(rows[s], again[s])


def test_cosine_reflects_char_similarity(spark, emb):
    pairs = spark.createDataFrame(
        [("acme labs", "acme labs inc"), ("acme labs", "completely different co")],
        ["s0", "s1"],
    )
    got = {(r["s0"], r["s1"]): r["cos"] for r in score_pairs(pairs, emb).collect()}
    near = got[("acme labs", "acme labs inc")]
    far = got[("acme labs", "completely different co")]
    assert near > far + 0.2
    assert near > 0.65


def test_lsh_candidates_recall_vs_bruteforce(spark, emb):
    t = 0.6
    bf = {(r["s0"], r["s1"]) for r in bruteforce_candidates(emb, t).collect()}
    lsh = {
        (r["s0"], r["s1"])
        for r in lsh_candidates(emb, t, num_hash_tables=16, bucket_length=1.0).collect()
    }
    assert bf, "bruteforce should find some close pairs"
    # exact-cos re-check makes LSH ⊆ BF; with 16 tables expect full recall here
    assert lsh.issubset(bf)
    assert len(lsh) >= math.ceil(0.9 * len(bf))


def test_quantized_cosine_accuracy(spark, emb):
    """int8 quantization: components land in [-127, 127], quantized cosine
    tracks the exact cosine within ~2/scale on unit vectors, and the top
    neighbor ordering is preserved on the fixture."""
    from nama_spark.operators.embed import (
        quantize_embeddings,
        quantized_cosine_expr,
    )

    qe = quantize_embeddings(emb)
    rows = qe.collect()
    for r in rows:
        assert all(-127 <= v <= 127 for v in r["qvec"]), r["string"]

    a = qe.select(F.col("string").alias("s0"), F.col("vec").alias("v0"),
                  F.col("qvec").alias("q0"))
    b = qe.select(F.col("string").alias("s1"), F.col("vec").alias("v1"),
                  F.col("qvec").alias("q1"))
    pairs = a.join(b, F.col("s0") < F.col("s1")).select(
        "s0", "s1",
        cosine_expr(F.col("v0"), F.col("v1")).alias("cos"),
        quantized_cosine_expr(F.col("q0"), F.col("q1")).alias("qcos"),
    )
    for r in pairs.collect():
        assert abs(r["cos"] - r["qcos"]) < 0.02, (r["s0"], r["s1"])


def test_ivf_candidates_recall_vs_bruteforce(spark, emb):
    """IVF-cell threshold join: exact-cos filter ⇒ no false positives; with
    nprobe=2 over a handful of cells, recall on this fixture is high. Empty
    input returns an empty (s0, s1, cos) frame."""
    from nama_spark.operators.embed import ivf_candidates

    t = 0.6
    bf = {(r["s0"], r["s1"]) for r in bruteforce_candidates(emb, t).collect()}
    ivf = {
        (r["s0"], r["s1"])
        for r in ivf_candidates(emb, t, n_cells=3, nprobe=2).collect()
    }
    assert bf
    assert ivf.issubset(bf)
    assert len(ivf) >= math.ceil(0.8 * len(bf))

    empty = emb.where(F.lit(False))
    out = ivf_candidates(empty, t)
    assert out.columns == ["s0", "s1", "cos"] and out.count() == 0


def test_unite_similar_ivf_mode_matches_bruteforce(spark, emb):
    """unite_similar(candidate_mode='ivf') reproduces the bruteforce
    partition on the fixture (all candidate modes share the CC merge)."""
    md = MatchData.from_unmatched(emb.select("string"))
    kw = dict(threshold=0.01, alpha=20.0)
    want = unite_similar(md, emb, candidate_mode="bruteforce", **kw)
    got = unite_similar(md, emb, candidate_mode="ivf", n_cells=3, nprobe=2, **kw)

    def parts(m):
        g = {}
        for r in m.df.collect():
            g.setdefault(r["group"], set()).add(r["string"])
        return {frozenset(v) for v in g.values()}

    assert parts(got) == parts(want)


def test_unite_similar_is_transitive_closure(spark, emb):
    md = MatchData.from_unmatched(emb.select("string"))
    alpha = 20.0
    p_threshold = 0.01
    cos_t = 1.0 + math.log(p_threshold) / alpha
    got = unite_similar(md, emb, threshold=p_threshold, alpha=alpha,
                        candidate_mode="bruteforce")
    # oracle: networkx closure over brute-force ≥-cos_t pairs
    import networkx as nx

    g = nx.Graph()
    g.add_nodes_from(_names())
    for r in bruteforce_candidates(emb, cos_t).collect():
        g.add_edge(r["s0"], r["s1"])
    want = {frozenset(c) for c in nx.connected_components(g)}
    groups = {}
    for r in got.df.collect():
        groups.setdefault(r["group"], set()).add(r["string"])
    assert {frozenset(v) for v in groups.values()} == want


def test_unite_nearest_voronoi(spark, emb):
    md = MatchData.from_unmatched(emb.select("string"))
    got = unite_nearest(md, emb, ["acme labs", "globex systems"], threshold=0.0)
    labels = {r["string"]: r["group"] for r in got.df.collect()}
    # labels are re-elected (cosmetic); co-membership is the semantics
    assert labels["acme labz"] == labels["acme labs"]
    assert labels["globex sys"] == labels["globex systems"]
    assert labels["acme labz"] != labels["globex sys"]
    # threshold high enough → unassigned strings stay singleton
    strict = unite_nearest(md, emb, ["acme labs"], threshold=0.9999)
    lbl = {r["string"]: r["group"] for r in strict.df.collect()}
    assert lbl["completely different co"] == "completely different co"


def test_save_load_roundtrip(spark, emb, tmp_path):
    p = str(tmp_path / "emb")
    save_embeddings(emb, p, alpha=17.5, meta={"dim": 32})
    df, meta = load_embeddings(spark, p)
    assert meta["alpha"] == 17.5 and meta["dim"] == 32
    assert df.count() == emb.count()
    assert set(df.columns) == {"string", "count", "vec"}


def test_slice_and_reweight(spark, emb):
    from nama_spark.operators.embed import reweight_embeddings, slice_embeddings

    sub = slice_embeddings(emb, ["acme labs", "globex sys"])
    assert {r["string"] for r in sub.collect()} == {"acme labs", "globex sys"}
    md_df = spark.createDataFrame(
        [("acme labs", 7, "g"), ("globex sys", 2, "g")], ["string", "count", "group"]
    )
    rw = reweight_embeddings(emb, md_df)
    got = {r["string"]: r["count"] for r in rw.collect()}
    assert got == {"acme labs": 7, "globex sys": 2}


def test_similarity_loss_formula(spark):
    import math

    from pyspark.sql import functions as F

    from nama_spark.operators.score import similarity_loss

    alpha = 10.0
    df = spark.createDataFrame(
        [(0.9, 1), (0.9, 0), (0.2, 1), (1.0, 0)], ["cos", "y"]
    )
    rows = df.select(
        "cos",
        "y",
        similarity_loss(F.col("cos"), F.col("y"), alpha).alias("loss"),
        similarity_loss(
            F.col("cos"), F.col("y"), alpha, weights=F.lit(3.0)
        ).alias("loss_w"),
    ).collect()
    for r in rows:
        # reference floors Z itself: Z += clamp(eps - Z, 0)  (scoring_model.py:33-37)
        z = max(alpha * (1 - r["cos"]), 1e-6)
        want = r["y"] * z - (0.0 if r["y"] == 1 else math.log(-math.expm1(-z)))
        assert r["loss"] == __import__("pytest").approx(want, rel=1e-9), r
        # weighted form reproduces the reference's loss *= weights*loss
        # (scoring_model.py:44-45) → weights·loss²
        assert r["loss_w"] == __import__("pytest").approx(3.0 * want * want, rel=1e-9), r


def test_iter_scores_filters_match_python_oracle(spark):
    """iter_scores (embeddings.py:536-625): pair stream with group labels,
    calibrated score, weighted XE loss, and every filter — checked against a
    direct python enumeration."""
    import itertools
    import math

    from pyspark.sql import functions as F

    from nama_spark.operators.embed import iter_scores
    from nama_spark.operators.matchdata import MatchData

    alpha = 20.0
    rows = [
        ("a", 2, [1.0, 0.0, 0.0], "g1"),
        ("b", 1, [0.9999, 0.0141, 0.0], "g1"),
        ("c", 3, [0.8, 0.6, 0.0], "g2"),
        ("d", 1, [0.0, 1.0, 0.0], "g2"),
        ("e", 1, [0.0, 0.0, 1.0], "g3"),
    ]
    emb = spark.createDataFrame(
        [(s, v) for s, _, v, _ in rows], ["string", "vec"]
    )
    md = MatchData(
        spark.createDataFrame(
            [(s, c, g) for s, c, v, g in rows], ["string", "count", "group"]
        ),
        _relabel=False,
    )

    def py_rows(**kw):
        out = {}
        data = {s: (c, v, g) for s, c, v, g in rows}
        for s0, s1 in itertools.combinations(sorted(data), 2):
            c0, v0, g0 = data[s0]
            c1, v1, g1 = data[s1]
            cos = sum(x * y for x, y in zip(v0, v1))
            score = min(1.0, math.exp(-alpha * (1 - cos)))
            y = 1.0 if g0 == g1 else 0.0
            z = max(alpha * (1 - cos), 1e-6)
            loss = y * z - (0.0 if y == 1.0 else math.log(-math.expm1(-z)))
            loss = (c0**0.5 * c1**0.5) * loss * loss
            if kw.get("is_match") is True and y != 1.0:
                continue
            if kw.get("is_match") is False and y != 0.0:
                continue
            if kw.get("min_score") is not None and score < kw["min_score"]:
                continue
            if kw.get("max_score") is not None and score > kw["max_score"]:
                continue
            if kw.get("min_loss") is not None and loss < kw["min_loss"]:
                continue
            if kw.get("max_loss") is not None and loss > kw["max_loss"]:
                continue
            out[(s0, s1)] = (round(score, 9), round(loss, 9), y == 1.0)
        return out

    import contextlib

    for kw in [
        {},
        {"is_match": True},
        {"is_match": False},
        {"min_score": 1e-9},
        {"max_loss": 5.0},
        {"min_loss": 1.0, "max_score": 0.99},
    ]:
        # no min_score → the documented O(n²)-bruteforce warning MUST fire
        # (and must not leak into the suite's warning summary unasserted)
        ctx = (
            pytest.warns(UserWarning, match="FULL upper triangle")
            if kw.get("min_score") is None
            else contextlib.nullcontext()
        )
        with ctx:
            spark_rows = iter_scores(md, emb, alpha=alpha, **kw).collect()
        got = {
            (r["string0"], r["string1"]): (
                round(r["score"], 9), round(r["loss"], 9), r["is_match"],
            )
            for r in spark_rows
        }
        assert got == py_rows(**kw), kw


def test_md5_embedder_matches_independent_math(spark):
    """embed_strings_md5's mapInPandas output equals a from-scratch
    reimplementation of its documented bit math (dim = int(md5[:4],16) % D,
    sign = parity of md5[4]) — the same math the DuckDB oracle runs."""
    import hashlib

    from nama_spark.operators.embed import embed_strings_md5

    names = _names()
    df = spark.createDataFrame([(s, 1) for s in names], ["string", "count"])
    got = {r["string"]: np.array(r["vec"]) for r in embed_strings_md5(df, dim=16).collect()}

    for s in names:
        padded = "\x02" + s + "\x03"
        acc = np.zeros(16)
        grams = [padded[i:i + 2] for i in range(len(padded) - 1)]
        grams += [padded[i:i + 3] for i in range(len(padded) - 2)]
        for g in grams:
            h = hashlib.md5(g.encode()).hexdigest()
            acc[int(h[:4], 16) % 16] += 1.0 if int(h[4], 16) % 2 == 0 else -1.0
        expect = acc / np.linalg.norm(acc)
        assert np.allclose(got[s], expect, atol=1e-12), s
        assert np.linalg.norm(got[s]) == pytest.approx(1.0, abs=1e-9)


def test_embedding_pass_ivf_mode(spark):
    """EmbeddingPass(candidate_mode='ivf') unites the same partition as the
    bruteforce mode on the fixture (the exact-cos filter makes IVF a strict
    subset; with nprobe=2 over a few cells the subset is the full set here)."""
    from nama_spark.plans.lineage import LineageLog
    from nama_spark.plans.pipeline import EmbeddingPass

    names = _names()
    base = spark.createDataFrame(
        [(s, 1, s) for s in names], ["string", "count", "group"]
    )
    md = MatchData(base, _relabel=False)
    kw = dict(threshold=0.01, alpha=20.0, dim=32, normalize=None)
    want = {
        tuple(sorted((r["src"], r["dst"])))
        for r in EmbeddingPass(candidate_mode="bruteforce", **kw)
        .edges(md, LineageLog(spark, None)).collect()
    }
    got = {
        tuple(sorted((r["src"], r["dst"])))
        for r in EmbeddingPass(candidate_mode="ivf", n_cells=3, nprobe=2, **kw)
        .edges(md, LineageLog(spark, None)).collect()
    }
    assert got == want and len(want) > 0


def test_md5_embedding_pass_wiring(spark):
    """EmbeddingPass(model='md5') produces edges exactly where the md5 cos
    clears the pushed-down threshold, pulled back to raw strings."""
    from nama_spark.operators.embed import embed_strings_md5
    from nama_spark.plans.lineage import LineageLog
    from nama_spark.plans.pipeline import EmbeddingPass

    names = _names()
    base = spark.createDataFrame(
        [(s, 1, s) for s in names], ["string", "count", "group"]
    )
    md = MatchData(base, _relabel=False)
    cos_t = 0.6
    p = EmbeddingPass(
        threshold=math.exp(-20.0 * (1.0 - cos_t)),
        model="md5",
        dim=16,
        candidate_mode="bruteforce",
        normalize=None,
    )
    edges = {
        tuple(sorted((r["src"], r["dst"])))
        for r in p.edges(md, LineageLog(spark, None)).collect()
    }
    emb = {r["string"]: np.array(r["vec"])
           for r in embed_strings_md5(md.df.select("string"), count_col=None, dim=16).collect()}
    expect = set()
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            if float(emb[a] @ emb[b]) >= cos_t:
                expect.add(tuple(sorted((a, b))))
    assert edges == expect
    assert expect  # non-trivial at this threshold on these names


def test_fit_alpha_recovers_generating_alpha(spark):
    """Labels drawn from p = exp(-a*(1-cos)) at a known a*: the relational
    grid fit lands on a* (grid resolution 1.0); the weighted path applies
    the reference's loss-squaring quirk."""
    import numpy as np

    from nama_spark.operators.score import alpha_loss_sweep, fit_alpha

    rng = np.random.default_rng(3)
    a_true = 12.0
    cos = rng.uniform(0.5, 1.0, 4000)
    y = (rng.uniform(size=4000) < np.exp(-a_true * (1.0 - cos))).astype(int)
    pairs = spark.createDataFrame(
        [(float(c), int(t)) for c, t in zip(cos, y)], ["cos", "is_match"]
    )
    best, sweep = fit_alpha(pairs, grid=[float(g) for g in range(1, 41)])
    assert abs(best - a_true) <= 2.0
    assert sweep.count() == 40

    # weighted: w * loss^2 — ranking can differ, but every loss is finite
    pw = pairs.withColumn("w", F.lit(2.0))
    sw = alpha_loss_sweep(pw, weight_col="w")
    vals = [r["total_loss"] for r in sw.collect()]
    assert all(np.isfinite(v) for v in vals)


@pytest.mark.parametrize("two_level", [True, False])
def test_ivf_candidates_two_level_all_probe_equals_bruteforce(spark, emb, two_level):
    """two_level=True routes through the coarse quantizer (ivf2 fit +
    two-stage assign), two_level=False through the flat one
    (ivf_fit_centroids + ivf_assign); with every cell probed the assignment
    is exhaustive, so the pair set EQUALS bruteforce — the exactness anchor
    holds for both layouts. A partial probe is a subset (no false
    positives)."""
    from nama_spark.operators.embed import ivf_candidates

    t = 0.6
    bf = {(r["s0"], r["s1"]) for r in bruteforce_candidates(emb, t).collect()}
    every = {
        (r["s0"], r["s1"])
        for r in ivf_candidates(
            emb, t, n_cells=6, nprobe=6, two_level=two_level
        ).collect()
    }
    assert every == bf

    part = {
        (r["s0"], r["s1"])
        for r in ivf_candidates(
            emb, t, n_cells=6, nprobe=2, two_level=two_level
        ).collect()
    }
    assert part.issubset(bf)


def _constrained(md, emb, mode):
    from nama_spark.operators.constrained import unite_similar_constrained

    return unite_similar_constrained(md, emb, candidate_mode=mode)


def _iter_scores(md, emb, mode):
    from nama_spark.operators.embed import iter_scores

    return iter_scores(md, emb, min_score=0.5, candidate_mode=mode)


def _embedding_pass(md, emb, mode):
    from nama_spark.plans.lineage import LineageLog
    from nama_spark.plans.pipeline import EmbeddingPass

    p = EmbeddingPass(candidate_mode=mode, dim=32, normalize=None)
    return p.edges(md, LineageLog(md.df.sparkSession, None))


@pytest.mark.parametrize(
    "caller",
    [
        lambda md, emb, mode: unite_similar(md, emb, candidate_mode=mode),
        _constrained,
        _iter_scores,
        _embedding_pass,
    ],
    ids=["unite_similar", "unite_similar_constrained", "iter_scores",
         "EmbeddingPass"],
)
def test_unknown_candidate_mode_raises(spark, emb, caller):
    """Every caller of the candidate-mode dispatch rejects a mode it does
    not know (here a wrong-case "IVF") instead of quietly running LSH."""
    md = MatchData.from_unmatched(emb.select("string"))
    with pytest.raises(ValueError, match="unknown candidate_mode: 'IVF'"):
        caller(md, emb, "IVF")


# ---------- SemDeDup (embed.semdedup) ----------

def test_semdedup_policies(spark):
    from nama_spark.operators.embed import semdedup
    import pytest as _pytest

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.995, 0.0998]),   # near-dup of 0
            (2, [0.9, 0.436]),      # same cell, below threshold
            (3, [0.0, 1.0]),
            (4, [0.1, 0.995]),      # near-dup of 3
            (5, [-1.0, 0.0]),       # antipode -> lands in cell 1 (csim 0)
        ],
        ["vec_id", "embedding"],
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["cell", "centroid"]
    )
    out = {
        r["vec_id"]: r
        for r in semdedup(emb, threshold=0.95, centroids=cents).collect()
    }
    assert {i: out[i]["cell"] for i in range(6)} == {
        0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1
    }
    # duplicate groups: {0,1} and {3,4}; others singleton
    assert out[0]["cluster_id"] == out[1]["cluster_id"]
    assert out[3]["cluster_id"] == out[4]["cluster_id"]
    assert len({r["cluster_id"] for r in out.values()}) == 4
    # keep-the-boundary-member: 1 and 4 (lower centroid sim) survive
    kept = {i for i, r in out.items() if r["is_kept"]}
    assert kept == {1, 2, 4, 5}
    # min_id policy keeps the smallest id instead
    out_min = {
        r["vec_id"]: r["is_kept"]
        for r in semdedup(
            emb, threshold=0.95, centroids=cents, keep="min_id"
        ).collect()
    }
    assert {i for i, k in out_min.items() if k} == {0, 2, 3, 5}
    # centroid_sim_ppm is the exact quantized cosine in ppm
    assert out[0]["centroid_sim_ppm"] == 1_000_000
    with _pytest.raises(ValueError):
        semdedup(emb, keep="nope")


def test_semdedup_kmeans_path(spark):
    """centroids=None fits sampled k-means; every vector gets exactly one
    row and every duplicate group keeps exactly one representative."""
    import numpy as np
    from nama_spark.operators.embed import semdedup
    from pyspark.sql import functions as F

    rng = np.random.RandomState(7)
    rows = []
    for i in range(60):
        base = rng.randn(8)
        base /= np.linalg.norm(base)
        rows.append((2 * i, [float(x) for x in base]))
        jit = base + 0.01 * rng.randn(8)
        jit /= np.linalg.norm(jit)
        rows.append((2 * i + 1, [float(x) for x in jit]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = semdedup(emb, threshold=0.98, n_cells=4)
    assert out.count() == 120
    per_cluster = out.groupBy("cluster_id").agg(
        F.sum(F.col("is_kept").cast("int")).alias("k")
    )
    assert per_cluster.where(F.col("k") != 1).count() == 0
    # jittered twins that share a cell collapse: fewer survivors than rows
    n_kept = out.where("is_kept").count()
    assert n_kept < 120


def test_vector_layer_has_one_distance_fold_and_one_mode_dispatch():
    """Source guard: in the library, the squared-distance fold lives only in
    ann._sq_dist and candidate_mode is compared only in
    embed.threshold_candidates."""
    import inspect
    from pathlib import Path

    import nama_spark
    from nama_spark.operators import ann, embed

    root = Path(nama_spark.__file__).parent
    for needle, owner in [
        ("(x - y) * (x - y)", ann._sq_dist),
        ("candidate_mode ==", embed.threshold_candidates),
    ]:
        hits = [
            f"{p.relative_to(root)}:{no}"
            for p in sorted(root.rglob("*.py"))
            for no, line in enumerate(p.read_text().splitlines(), 1)
            if needle in line
        ]
        assert len(hits) == inspect.getsource(owner).count(needle) > 0, hits
