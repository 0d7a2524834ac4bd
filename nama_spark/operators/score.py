"""Pairwise scoring over candidate pairs.

Token-set scorers (one definition each, token_similarity[html]:76-143):

- weighted Jaccard  = Σw(∩) / Σw(∪)          (token_similarity[html]:76-107)
- weighted set-cos  = Σw²(∩) / (‖w(s0)‖·‖w(s1)‖)  (token_similarity[html]:110-143)

``token_similarity_scores`` is the one relational scorer: each string's
token→weight map joins onto the candidate pairs and the intersection runs as
a JVM higher-order expression per pair. Σw(∪) = Σw(s0) + Σw(s1) − Σw(∩), so
only the intersection needs both maps; per-string sums are a linear
aggregate. ``TokenSimilarity.pair_scores`` swaps in a broadcast-model
``mapInPandas`` (python sets + dicts) when the fitted token table is small;
everything else — linkage, prefix filtering, incremental predict, large
universes — runs the relational scorer.

Fallback signals (north rule: "Jaro-Winkler/Levenshtein fallbacks — no
per-row Python"):

- Levenshtein: Spark built-in ``F.levenshtein`` (JVM).
- Jaro-Winkler: an Arrow-batched pandas UDF (vectorized numpy over each batch)
  — the only Python in this module, and it is batch-level, never per-row
  interpretation at the Spark layer.

Embedding-score calibration (scoring_model.py:11-52): p = min(1, exp(−α(1−cos)))
as a column expression; the inverse ``score_to_cos`` is driver-side constant
folding used for threshold pushdown (embeddings.py:147).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nama_spark.session import local_frame


# Corpus size (distinct strings) under which soft_tfidf_scores collects
# the corpus, builds the df table driver-side and runs the whole pair
# stage in one mapInPandas instead of the ~20-exchange relational plan.
_SOFT_TFIDF_DRIVER_CORPUS_ROWS = 200_000


# ---------- relational token-set scorer ----------

def string_token_maps(tokens: DataFrame, weights: DataFrame) -> DataFrame:
    """(string, wmap, w_sum, w2_sum): each string's token→weight map plus its
    Σw / Σw² — built once, joined onto candidate pairs by
    ``token_similarity_scores``."""
    tw = tokens.join(weights.select("token", "weight"), "token")
    return tw.groupBy("string").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("token"), F.col("weight")))
        ).alias("wmap"),
        F.sum("weight").alias("w_sum"),
        F.sum(F.col("weight") * F.col("weight")).alias("w2_sum"),
    )


def token_similarity_scores(
    pairs: DataFrame,
    tokens: DataFrame,
    weights: DataFrame,
    measure: str = "jaccard",
) -> DataFrame:
    """(s0, s1, score) for each candidate pair. Pairs with empty intersection
    score 0 (token_similarity[html]:97-99, 130-132); pairs with a token-less
    string drop (inner joins).

    Each string's token→weight map rides through TWO equi-joins onto the
    pairs and the intersection is a higher-order expression evaluated in
    the JVM per row, so the shuffle carries O(pairs) map-payload rows rather
    than O(pairs × tokens-per-string) exploded ones."""
    maps = string_token_maps(tokens, weights)
    m0 = maps.select(
        F.col("string").alias("s0"), F.col("wmap").alias("m0"),
        F.col("w_sum").alias("w_sum0"), F.col("w2_sum").alias("w2_sum0"),
    )
    m1 = maps.select(
        F.col("string").alias("s1"), F.col("wmap").alias("m1"),
        F.col("w_sum").alias("w_sum1"), F.col("w2_sum").alias("w2_sum1"),
    )
    df = pairs.join(m0, "s0").join(m1, "s1")
    # iterate the smaller map for the intersection sum (weights are global,
    # so either map yields the same Σw over the shared keys)
    swapped = F.size(F.col("m1")) < F.size(F.col("m0"))
    it_map = F.when(swapped, F.col("m1")).otherwise(F.col("m0"))
    other = F.when(swapped, F.col("m0")).otherwise(F.col("m1"))
    if measure == "jaccard":
        inter = F.aggregate(
            F.map_keys(it_map),
            F.lit(0.0),
            lambda acc, k: acc
            + F.when(
                F.element_at(other, k).isNotNull(), F.element_at(it_map, k)
            ).otherwise(F.lit(0.0)),
        )
        union = F.col("w_sum0") + F.col("w_sum1") - inter
        score = F.when((inter > 0) & (union > 0), inter / union).otherwise(F.lit(0.0))
    elif measure == "cosine":
        inter2 = F.aggregate(
            F.map_keys(it_map),
            F.lit(0.0),
            lambda acc, k: acc
            + F.when(
                F.element_at(other, k).isNotNull(),
                F.element_at(it_map, k) * F.element_at(it_map, k),
            ).otherwise(F.lit(0.0)),
        )
        denom = F.sqrt(F.col("w2_sum0")) * F.sqrt(F.col("w2_sum1"))
        score = F.when((inter2 > 0) & (denom > 0), inter2 / denom).otherwise(
            F.lit(0.0)
        )
    else:
        raise ValueError(f"unknown measure: {measure}")
    return df.select("s0", "s1", score.alias("score"))


# ---------- character-level fallback signals ----------

def levenshtein_score(s0: Column, s1: Column) -> Column:
    """Normalized Levenshtein similarity in [0,1] — built-in edit distance
    over the longer length (polyfuzz/jellyfish baseline role,
    experiments/polyfuzz_baseline.py:17-23)."""
    dist = F.levenshtein(s0, s1)
    longer = F.greatest(F.length(s0), F.length(s1))
    return F.when(longer > 0, 1.0 - dist / longer).otherwise(F.lit(1.0))


def _jaro_winkler_np(a: str, b: str, prefix_weight: float = 0.1) -> float:
    """Jaro-Winkler from the published definition (Winkler 1990)."""
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    match_a = [False] * la
    match_b = [False] * lb
    matches = 0
    for i, ch in enumerate(a):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not match_b[j] and b[j] == ch:
                match_a[i] = True
                match_b[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions: matched chars in order
    bs = [b[j] for j in range(lb) if match_b[j]]
    t = sum(1 for ai, bi in zip((a[i] for i in range(la) if match_a[i]), bs) if ai != bi)
    t //= 2
    jaro = (matches / la + matches / lb + (matches - t) / matches) / 3
    # Winkler boost only above the classic 0.7 cutoff (Winkler 1990; same
    # rule as jellyfish — the reference's own baseline dependency — and
    # DuckDB's jaro_winkler_similarity, which oracle-checks this function)
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for ca, cb in zip(a[:4], b[:4]):
        if ca == cb:
            prefix += 1
        else:
            break
    return jaro + prefix * prefix_weight * (1 - jaro)


def jaro_winkler_udf():
    """Arrow-batched pandas UDF: per-batch loop in Python is acceptable here
    (short strings, batch-level transfer); Spark-level execution stays
    vectorized Arrow."""

    @F.pandas_udf(T.DoubleType())
    def jw(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [_jaro_winkler_np(x, y) for x, y in zip(a.astype(str), b.astype(str))],
            dtype="float64",
        )

    return jw


def add_fallback_scores(pairs: DataFrame, s0: str = "s0", s1: str = "s1") -> DataFrame:
    """Append levenshtein_sim and jaro_winkler columns to a pair DataFrame."""
    jw = jaro_winkler_udf()
    return pairs.withColumn(
        "levenshtein_sim", levenshtein_score(F.col(s0), F.col(s1))
    ).withColumn("jaro_winkler", jw(F.col(s0), F.col(s1)))


# ---------- embedding-score calibration (scoring_model.py) ----------

def calibrated_score(cos: Column, alpha: float) -> Column:
    """p = clamp(exp(−α(1−cos)), 0, 1)  (scoring_model.py:20-23)."""
    return F.least(F.lit(1.0), F.exp(-F.lit(alpha) * (F.lit(1.0) - cos)))


def score_to_cos(p: float, alpha: float) -> float:
    """Threshold pushdown: the raw cosine equivalent of probability p
    (scoring_model.py:48-52); −99 if p ≤ 0. Driver-side constant folding so
    the filter lands on the raw cosine column before any UDF."""
    if p <= 0:
        return -99.0
    return 1.0 + math.log(p) / alpha


def similarity_loss(cos: Column, is_match: Column, alpha: float,
                    eps: float = 1e-6, weights: Column | None = None) -> Column:
    """Cross-entropy in Z-form (scoring_model.py:25-46): Z = max(α(1−cos), ε)
    (the reference floors Z itself — ``Z += clamp(ε−Z, 0)``), then
    loss = Y·Z − xlogy(1−Y, −expm1(−Z)) with xlogy(0, x) = 0.

    ``weights`` reproduces the reference verbatim: ``loss *= weights*loss``
    (scoring_model.py:44-45) — i.e. the weighted output is weights·loss², not
    weights·loss. That squaring is the reference's actual behavior (its
    training and iter_scores paths both flow through it), so parity keeps it.
    Pure column math — used by the active-learning review flow (iter_scores'
    loss column, embeddings.py:604-625)."""
    z = F.greatest(F.lit(alpha) * (F.lit(1.0) - cos), F.lit(eps))
    y = is_match.cast("double")
    xlogy = F.when(y < 1.0, (F.lit(1.0) - y) * F.log(-F.expm1(-z))).otherwise(
        F.lit(0.0)
    )
    loss = y * z - xlogy
    if weights is not None:
        loss = weights * loss * loss
    return loss


def combine_scores(
    token_score: Column,
    jw: Column | None = None,
    lev: Column | None = None,
    weights: tuple[float, float, float] = (1.0, 0.0, 0.0),
) -> Column:
    """Configurable linear combination of signals (the reference's pluggable
    ``measure``; fallbacks per the north rule)."""
    wt, wj, wl = weights
    total = wt + (wj if jw is not None else 0.0) + (wl if lev is not None else 0.0)
    out = token_score * F.lit(wt)
    if jw is not None:
        out = out + jw * F.lit(wj)
    if lev is not None:
        out = out + lev * F.lit(wl)
    return out / F.lit(total if total else 1.0)


def alpha_loss_sweep(
    pairs: DataFrame,
    cos_col: str = "cos",
    label_col: str = "is_match",
    weight_col: str | None = None,
    grid: list[float] | None = None,
    eps: float = 1e-6,
    unit: float | None = None,
) -> DataFrame:
    """(alpha, total_loss) — the Z-form XE loss of ``similarity_loss`` summed
    over labeled pairs for EVERY candidate alpha, in ONE shuffle: the grid
    (≤ a few hundred rows) broadcast-crossJoins the pairs, then one groupBy.
    The weighted path keeps the reference's loss·w·loss squaring.

    ``unit`` (e.g. 1e-6) switches to integer-unit summation: each pair's
    loss is rounded to ``loss/unit`` and summed as BIGINT ``total_loss_u``.
    Floating sums are order-sensitive (different partitionings → last-ulp
    drift), so cross-engine/cross-run reproducible totals need the exact
    integer path; argmin is unaffected either way at any sane unit."""
    if grid is None:
        grid = [round(1.0 + i, 4) for i in range(50)]
    spark = pairs.sparkSession
    g = local_frame(spark, [(float(a),) for a in grid], "alpha double")
    z = F.greatest(
        F.col("alpha") * (F.lit(1.0) - F.col(cos_col)), F.lit(float(eps))
    )
    y = F.col(label_col).cast("double")
    xlogy = F.when(
        y < 1.0, (F.lit(1.0) - y) * F.log(-F.expm1(-z))
    ).otherwise(F.lit(0.0))
    loss = y * z - xlogy
    if weight_col is not None:
        loss = F.col(weight_col) * loss * loss
    if unit is not None:
        u = F.round(loss / F.lit(float(unit))).cast("long")
        return (
            pairs.crossJoin(F.broadcast(g))
            .select("alpha", u.alias("__l"))
            .groupBy("alpha")
            .agg(F.sum("__l").alias("total_loss_u"))
        )
    return (
        pairs.crossJoin(F.broadcast(g))
        .select("alpha", loss.alias("__l"))
        .groupBy("alpha")
        .agg(F.sum("__l").alias("total_loss"))
    )


def fit_alpha(
    pairs: DataFrame,
    cos_col: str = "cos",
    label_col: str = "is_match",
    weight_col: str | None = None,
    grid: list[float] | None = None,
) -> tuple[float, DataFrame]:
    """Calibrate the score model's single trainable scalar α
    (scoring_model.py:11-15 — the reference learns it jointly with the
    encoder under torch; with frozen embeddings the α-fit is plain
    empirical-risk minimization, which is fully relational). Returns
    (best_alpha, sweep_frame); ties break on the smaller α."""
    sweep = alpha_loss_sweep(pairs, cos_col, label_col, weight_col, grid)
    best = sweep.orderBy(
        F.col("total_loss").asc(), F.col("alpha").asc()
    ).first()
    return float(best["alpha"]), sweep


def explain_pairs(
    pairs: DataFrame,
    universe: DataFrame,
    tokenizer: str = "nmgrams23",
    weighting: str = "tf-idf",
    string_col: str = "string",
) -> DataFrame:
    """Per-token evidence behind a token-similarity score — the match
    DEBUGGER: for each (s0, s1) pair, one row per token of either string
    with its global weight and which side(s) carry it.

    Returns (s0, s1, token, in_s0, in_s1, shared, weight). The weighted
    Jaccard the engine scores reconciles exactly from the breakdown:

        jaccard = Σ weight[shared] / Σ weight[all rows]

    (token_similarity_scores over the same tokenizer/weighting — tested
    in test_tokensim.py). Cost: the pair list joins the token table
    twice and unions — O(pairs × tokens-per-string) skinny rows.
    Intended for the post-hoc shortlist (disputed pairs, audit samples),
    not the full candidate stream."""
    from nama_spark.functions.tokenize import token_weights, tokens_table

    toks = tokens_table(universe, string_col, tokenizer).localCheckpoint(
        eager=False
    )
    weights = token_weights(toks, weighting)
    t0 = toks.select(F.col("string").alias("s0"), "token").withColumn(
        "in_s0", F.lit(True)
    )
    t1 = toks.select(F.col("string").alias("s1"), "token").withColumn(
        "in_s1", F.lit(True)
    )
    a = pairs.select("s0", "s1").join(t0, "s0").select(
        "s0", "s1", "token", F.lit(1).alias("c0"), F.lit(0).alias("c1")
    )
    b = pairs.select("s0", "s1").join(t1, "s1").select(
        "s0", "s1", "token", F.lit(0).alias("c0"), F.lit(1).alias("c1")
    )
    merged = (
        a.unionByName(b)
        .groupBy("s0", "s1", "token")
        .agg(
            (F.sum("c0") > 0).alias("in_s0"),
            (F.sum("c1") > 0).alias("in_s1"),
        )
        .withColumn("shared", F.col("in_s0") & F.col("in_s1"))
    )
    return merged.join(
        F.broadcast(weights.select("token", "weight")), "token"
    ).select("s0", "s1", "token", "in_s0", "in_s1", "shared", "weight")


def monge_elkan_scores(
    pairs: DataFrame,
    s0: str = "s0",
    s1: str = "s1",
    lower: bool = True,
) -> DataFrame:
    """Monge–Elkan hybrid similarity (Monge & Elkan, KDD'96 §3): each token
    of one string is matched to its BEST-matching token of the other, and
    the per-token maxima are averaged — the standard remedy for token
    reorderings with per-token typos ("Smith, John R." vs "Jon Smith"),
    which pure set-jaccard (whole-token equality) scores near 0 and pure
    edit distance scores low because of the reordering.

    Inner similarity is the normalized Levenshtein in INTEGER MILLI units,
        sim(a, b) = 1000 - floor(1000·lev(a, b) / max(len(a), len(b))),
    so every value is exact integer arithmetic, bit-identical cross-engine
    (the repo's house rule — float token similarities hash-diverge).
    Directed means floor to milli as well. Returns ``pairs`` with

        me01_milli  floor-mean over s0's tokens of their best s1 match
        me10_milli  the reverse direction
        me_sym_milli  floor((me01 + me10) / 2) — the symmetric variant

    (empty-token sides score 0). Scale: the whole computation is ONE
    projection of JVM higher-order array expressions (transform /
    array_max / aggregate) over the pair stream — no explode, no extra
    shuffle, no Python; cost is O(|tokens0|·|tokens1|) per pair, which for
    name-length strings is a handful of cheap levenshteins inside
    whole-stage codegen. Intended downstream of blocking, exactly where
    add_fallback_scores sits.

    No reference counterpart (nama scores whole strings); included because
    Monge–Elkan is the canonical hybrid measure in the linkage literature.
    """
    from nama_spark.functions.tokenize import words

    c0 = F.lower(F.col(s0)) if lower else F.col(s0)
    c1 = F.lower(F.col(s1)) if lower else F.col(s1)

    def sim_milli(a, b):
        return F.lit(1000).cast("long") - F.floor(
            (F.levenshtein(a, b).cast("long") * 1000)
            / F.greatest(F.length(a), F.length(b))
        )

    def directed(ta, tb):
        best = F.transform(
            ta,
            lambda a: F.coalesce(
                F.array_max(F.transform(tb, lambda b: sim_milli(a, b))),
                F.lit(0).cast("long"),
            ),
        )
        total = F.aggregate(
            best, F.lit(0).cast("long"), lambda acc, x: acc + x
        )
        return F.when(
            F.size(ta) > 0, F.floor(total / F.size(ta))
        ).otherwise(F.lit(0))

    out = pairs.withColumn("_t0", words(c0)).withColumn("_t1", words(c1))
    out = out.withColumn("me01_milli", directed(F.col("_t0"), F.col("_t1")))
    out = out.withColumn("me10_milli", directed(F.col("_t1"), F.col("_t0")))
    return out.withColumn(
        "me_sym_milli",
        F.floor((F.col("me01_milli") + F.col("me10_milli")) / 2),
    ).drop("_t0", "_t1")


def soft_tfidf_scores(
    pairs: DataFrame,
    corpus: DataFrame,
    string_col: str = "string",
    s0: str = "s0",
    s1: str = "s1",
    threshold: float = 0.9,
) -> DataFrame:
    """SoftTFIDF (Cohen, Ravikumar & Fienberg, IIWeb'03 §2) — the other
    canonical hybrid measure next to Monge–Elkan: corpus-IDF-weighted token
    match where "match" is softened from equality to Jaro-Winkler > θ.
    Rare agreeing tokens dominate the score; boilerplate tokens ("inc",
    "llc") contribute almost nothing even when they agree — exactly the
    failure mode of the unweighted hybrids.

    Per string s over a lowercased word tokenization of ``corpus``:

        v(w, s) = ln(tf(w,s) + 1) · ln(N / df(w))      (secondstring's
        V(w, s) = v(w, s) / ‖v(·, s)‖₂                  SoftTFIDF weights)

    and for a pair (s, t) with CLOSE(θ) = tokens w of s whose best
    Jaro-Winkler match u* in t has jw5(w, u*) > θ:

        soft01 = Σ_{w ∈ CLOSE} V(w, s) · V(u*, t) · jw5(w, u*)

    ``jw5`` is Jaro-Winkler rounded to 5 decimals BEFORE every decision
    (threshold + argmax), the precision at which this repo's JW is proven
    hash-identical to DuckDB's (fallback_scores row); the best-match
    argmax tie-breaks deterministically on (jw5, token) via a struct max,
    so the score is engine- and partition-invariant. soft10 is the
    reverse direction, soft_sym their mean; all rounded to 5.

    Scale shape: weights are two linear aggregates over the corpus token
    table (tf join df, then an L2-norm groupBy); the pair stage is two
    equi-joins fanning each pair out to its token cross product (≤ a few
    dozen rows for name-length strings), with Jaro-Winkler evaluated once
    per DISTINCT token pair (an Arrow-batched pandas UDF over the deduped
    (w, u) table, never per occurrence) and joined back — at web scale the
    distinct-token-pair table is orders of magnitude smaller than the
    occurrence stream. No windows; argmax is a groupBy struct-max.

    No reference counterpart (nama scores whole strings); included because
    SoftTFIDF is the standard TF-IDF-weighted hybrid in the linkage
    literature and composes with the existing token_weights machinery.
    """
    from nama_spark.functions.tokenize import tokens_table

    low = (
        corpus.select(F.lower(F.col(string_col)).alias("string"))
        .where(F.col("string").isNotNull())
        .distinct()
    )
    n_strings = low.count()  # scalar corpus size (one action, one value)

    # pinned: consumed by the pair stage and the final re-join
    p = pairs.select(
        F.lower(F.col(s0)).alias("l0"), F.lower(F.col(s1)).alias("l1")
    ).distinct().localCheckpoint(eager=False)

    keyed = pairs.withColumn("l0", F.lower(F.col(s0))).withColumn(
        "l1", F.lower(F.col(s1))
    )

    # ---- collected-corpus fast path (round 6, guide §4.2) ----
    # The relational plan below costs ~20 exchanges (weight-table chain,
    # two weight joins, the token cross-product join, the distinct-JW
    # table + its ArrowEvalPython + join-back, two argmax groupBy chains,
    # two result joins); measured at sf0.1 the query is pure stage
    # latency. When the CORPUS is bounded (the deployment shape this
    # measure is built for — a fixed trained corpus scored against a
    # growing pair stream), collect it once, build the df table driver-
    # side, and run the ENTIRE pair stage in one mapInPandas: per-string
    # V weights (same ln(tf+1)·ln(N/df) / L2 formulas), the same jw5
    # (shared _jaro_winkler_np + an exact HALF_UP round-5 twin of Spark's
    # round), the same (jw5, token, V) struct-max tie-break, CLOSE(θ)
    # rule and final round-5 columns. Past the gate the relational path
    # runs unchanged — it handles corpora too big to collect.
    if n_strings <= _SOFT_TFIDF_DRIVER_CORPUS_ROWS:
        import decimal as _dec
        import re as _re
        from collections import Counter as _Counter

        token_re = _re.compile("[^A-Za-z0-9]+")

        def _words(s: str) -> list:
            return [w for w in token_re.split(s) if w != ""]

        df_map: dict = {}
        for r in low.collect():
            for tok in set(_words(r["string"])):
                df_map[tok] = df_map.get(tok, 0) + 1
        spark = pairs.sparkSession
        bc = spark.sparkContext.broadcast((df_map, float(n_strings)))
        thr = float(threshold)

        q5 = _dec.Decimal("0.00001")

        def _round5(x: float) -> float:
            # Spark's round(double, 5): BigDecimal.valueOf (shortest
            # decimal repr, like python repr) + HALF_UP
            return float(
                _dec.Decimal(repr(x)).quantize(q5, rounding=_dec.ROUND_HALF_UP)
            )

        out_schema = T.StructType(
            [
                T.StructField("l0", T.StringType()),
                T.StructField("l1", T.StringType()),
                T.StructField("soft01", T.DoubleType()),
                T.StructField("soft10", T.DoubleType()),
                T.StructField("soft_sym", T.DoubleType()),
            ]
        )

        def score_batches(batches):
            dfm, n_corpus = bc.value
            w_memo: dict = {}
            jw_memo: dict = {}

            def weights(s: str) -> list:
                out = w_memo.get(s)
                if out is None:
                    tf = _Counter(_words(s))
                    v = {
                        w: math.log(c + 1.0)
                        * math.log(n_corpus / float(dfm.get(w, 1)))
                        for w, c in tf.items()
                    }
                    nrm = math.sqrt(sum(x * x for x in v.values()))
                    out = [
                        (w, (x / nrm) if nrm > 0 else 0.0)
                        for w, x in v.items()
                    ]
                    w_memo[s] = out
                return out

            def jw5(a: str, b: str) -> float:
                key = (a, b)
                v = jw_memo.get(key)
                if v is None:
                    v = _round5(_jaro_winkler_np(a, b))
                    jw_memo[key] = v
                return v

            def directed(side0, side1):
                total = None
                for w, v0 in side0:
                    best = None
                    for u, v1 in side1:
                        cand = (jw5(w, u), u, v1)
                        if best is None or cand > best:
                            best = cand
                    if best is not None and best[0] > thr:
                        term = v0 * best[2] * best[0]
                        total = term if total is None else total + term
                return total

            for pdf in batches:
                rows = []
                for l0, l1 in zip(pdf["l0"], pdf["l1"]):
                    w0 = weights(l0)
                    w1 = weights(l1)
                    s01 = directed(w0, w1)
                    s10 = directed(w1, w0)
                    a = 0.0 if s01 is None else s01
                    b = 0.0 if s10 is None else s10
                    rows.append(
                        (l0, l1, _round5(a), _round5(b), _round5((a + b) / 2.0))
                    )
                yield pd.DataFrame(
                    rows, columns=["l0", "l1", "soft01", "soft10", "soft_sym"]
                )

        res_fast = p.mapInPandas(score_batches, schema=out_schema)
        return keyed.join(res_fast, ["l0", "l1"]).drop("l0", "l1")

    # ---- relational path (corpora too large to collect) ----
    # IDF statistics come from the corpus alone, but weight ROWS must also
    # exist for pair strings outside it (linking a fresh batch against a
    # trained corpus) — a token unseen in the corpus gets df = 1, the
    # maximum rarity (secondstring's unseen-token convention).
    pair_strings = (
        pairs.select(F.lower(F.col(s0)).alias("string"))
        .union(pairs.select(F.lower(F.col(s1)).alias("string")))
        .where(F.col("string").isNotNull())
        .distinct()
    )
    # ONE tokenization of the union universe with a corpus-membership flag
    # (round 6): the old shape tokenized the corpus twice — once for the
    # df table, once inside the union token table (two extra
    # distinct+explode+groupBy subtrees, guide §2.4).
    all_strings = (
        low.withColumn("__in_corpus", F.lit(1))
        .unionByName(pair_strings.withColumn("__in_corpus", F.lit(0)))
        .groupBy("string")
        .agg(F.max("__in_corpus").alias("__in_corpus"))
    )
    from nama_spark.functions.tokenize import tokenizer_expr

    toks = (
        all_strings.select(
            "string", "__in_corpus",
            F.explode(tokenizer_expr("words")(F.col("string"))).alias("token"),
        )
        .groupBy("string", "token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.max("__in_corpus").alias("__in_corpus"),
        )
    )
    # df per token over corpus strings only — toks rows are unique per
    # (string, token), so the row count IS the distinct-string count
    df_tab = (
        toks.where(F.col("__in_corpus") == 1)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    v = F.log(F.col("tf") + F.lit(1.0)) * F.log(
        F.lit(float(n_strings)) / F.coalesce(F.col("df"), F.lit(1)).cast("double")
    )
    vtab = toks.join(df_tab, "token", "left").select(
        "string", "token", v.alias("v")
    )
    nrm = vtab.groupBy("string").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm")
    )
    # pinned: the weight table feeds BOTH pair-side joins (t0 AND t1) — an
    # unpinned wtab recomputes the whole corpus-weights subtree twice per
    # action (measured ~half the query's wall at sf0.1)
    wtab = vtab.join(nrm, "string").select(
        "string",
        "token",
        F.when(F.col("nrm") > 0, F.col("v") / F.col("nrm"))
        .otherwise(F.lit(0.0))
        .alias("V"),
    ).localCheckpoint(eager=False)
    t0 = p.join(
        wtab.select(
            F.col("string").alias("l0"),
            F.col("token").alias("w"),
            F.col("V").alias("v0"),
        ),
        "l0",
    )
    t1 = p.join(
        wtab.select(
            F.col("string").alias("l1"),
            F.col("token").alias("u"),
            F.col("V").alias("v1"),
        ),
        "l1",
    )
    tp = t0.join(t1, ["l0", "l1"])

    jw = jaro_winkler_udf()
    tok_pairs = (
        tp.select("w", "u")
        .distinct()
        .withColumn("jw5", F.round(jw(F.col("w"), F.col("u")), 5))
    )
    # both directed argmaxes consume this stream — pin it so the weight
    # joins and the JW evaluation run once, not once per direction
    tp = tp.join(tok_pairs, ["w", "u"]).localCheckpoint(eager=False)

    def directed(key_tok, key_v, other_tok, other_v, out_col):
        best = tp.groupBy("l0", "l1", key_tok, key_v).agg(
            F.max(F.struct("jw5", other_tok, other_v)).alias("b")
        )
        return (
            best.where(F.col("b.jw5") > threshold)
            .groupBy("l0", "l1")
            .agg(
                F.sum(
                    F.col(key_v) * F.col(f"b.{other_v}") * F.col("b.jw5")
                ).alias(out_col)
            )
        )

    c0 = directed("w", "v0", "u", "v1", "soft01")
    c1 = directed("u", "v1", "w", "v0", "soft10")
    res = (
        p.join(c0, ["l0", "l1"], "left")
        .join(c1, ["l0", "l1"], "left")
        .select(
            "l0",
            "l1",
            F.round(F.coalesce("soft01", F.lit(0.0)), 5).alias("soft01"),
            F.round(F.coalesce("soft10", F.lit(0.0)), 5).alias("soft10"),
            F.round(
                (F.coalesce("soft01", F.lit(0.0)) + F.coalesce("soft10", F.lit(0.0)))
                / 2.0,
                5,
            ).alias("soft_sym"),
        )
    )
    return keyed.join(res, ["l0", "l1"]).drop("l0", "l1")
