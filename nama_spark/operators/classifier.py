"""Model-based quality classification over hashed bag-of-words features.

The production LLM-corpus pattern (fastText quality filters; FineWeb-Edu's
classifier gate): score every document with a linear model over hashed
token features and keep the high-scoring slice. The reference engine has
no model-based filter (its learning surface is the embedding similarity
model, nama/embedding_similarity.py); this module is part of the
beyond-reference training-data-pipeline layer, built Spark-first:

- features are skinny relational rows ``(id, f, x)`` — never per-row
  Python, never materialized dense vectors;
- training is full-batch logistic-regression gradient descent expressed
  as TWO aggregations per iteration (a broadcast-weights join → per-doc
  logit, then a per-feature gradient agg). The weight vector — bounded
  by ``n_features``, i.e. model-sized, NOT data-sized — rides the driver
  between iterations and enters each job as a broadcast join, the
  parameter-server-on-driver shape. Every iteration is one linear scan
  of the pinned feature table: at 100 TB the cost is n_iter scans, no
  shuffle ever exceeds ``n_features`` rows on the gradient side;
- inference is one broadcast join + one groupBy — and an integer-exact
  variant (``nb_share_weights`` / ``nb_share_score``) exists so the
  scoring path is verifiable bit-for-bit against an external engine
  (floats cross engines drift; smoothed-count integer arithmetic
  cannot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nama_spark.session import local_frame


def hashed_token_features(
    docs: DataFrame,
    n_features: int = 1 << 18,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "spark",
    binary: bool = False,
) -> DataFrame:
    """Whitespace-tokenized, case-folded hashed bag-of-words: one skinny
    row ``(id_col, f, x)`` per (document, feature) with x = token count
    (or 1 when ``binary``). ``hash="spark"`` uses the JVM murmur3
    (`F.hash`) — the fast path. ``hash="md5"`` derives the index from
    the first 4 hex digits of md5 (requires n_features ≤ 65536) — an
    engine-portable hash any SQL engine can reproduce, used by the
    correctness oracles (same trick as the md5 embedder,
    operators/embed.py).

    Documents with no tokens produce no rows — scorers re-attach them
    via a left join (see quality_filter)."""
    if hash not in ("spark", "md5"):
        raise ValueError(f"unknown hash mode {hash!r}")
    if hash == "md5" and n_features > 1 << 16:
        raise ValueError("md5 hash mode supports n_features <= 65536")
    tok = F.explode(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    ).alias("__tok")
    toks = docs.select(F.col(id_col).alias("__id"), tok).where(
        F.col("__tok") != ""
    )
    if hash == "spark":
        f = F.pmod(F.hash("__tok"), F.lit(n_features))
    else:
        f = (
            F.conv(F.substring(F.md5("__tok"), 1, 4), 16, 10).cast("long")
            % n_features
        )
    agg = (
        toks.select("__id", f.cast("long").alias("f"))
        .groupBy("__id", "f")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    if binary:
        agg = agg.withColumn("x", F.lit(1).cast("long"))
    return agg.select(F.col("__id").alias(id_col), "f", "x")


def logreg_fit(
    features: DataFrame,
    labels: DataFrame,
    n_iter: int = 40,
    lr: float = 0.5,
    l2: float = 0.0,
    id_col: str = "doc_id",
    label_col: str = "label",
):
    """Full-batch logistic regression by relational gradient descent.

    ``features`` is the (id, f, x) table from hashed_token_features;
    ``labels`` is (id, label∈{0,1}). Per iteration: (1) logit_i =
    Σ_f x·w via a broadcast join on f and a groupBy on the id, (2)
    residual r_i = σ(logit_i + b) − y_i, (3) per-feature gradient
    Σ_i x·r / n via a groupBy on f, collected to the driver (≤ distinct
    features ≤ n_features rows — model-sized), (4) w ← w − lr·(g + l2·w).
    Deterministic given the input (no sampling; float sums are
    order-dependent only at ulp level).

    Returns (weights DataFrame (f, w), intercept float)."""
    spark = features.sparkSession
    feats = (
        features.select(
            F.col(id_col).alias("__id"),
            F.col("f").cast("long").alias("f"),
            F.col("x").cast("double").alias("x"),
        )
        .join(
            labels.select(
                F.col(id_col).alias("__id"),
                F.col(label_col).cast("double").alias("y"),
            ),
            "__id",
        )
        .localCheckpoint(eager=False)
    )
    n_docs = feats.select("__id").distinct().count()
    if n_docs == 0:
        raise ValueError("logreg_fit: no labeled documents with features")
    w: dict[int, float] = {}
    b = 0.0
    for _ in range(n_iter):
        if w:
            wdf = local_frame(spark, list(w.items()), "f long, w double")
            scored = feats.join(F.broadcast(wdf), "f", "left")
        else:
            scored = feats.withColumn("w", F.lit(None).cast("double"))
        resid = (
            scored.groupBy("__id", "y")
            .agg(F.sum(F.col("x") * F.coalesce("w", F.lit(0.0))).alias("z"))
            .select(
                "__id",
                (
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("z") + F.lit(b))))
                    - F.col("y")
                ).alias("r"),
            )
            .localCheckpoint(eager=False)  # reused by grad AND gb
        )
        grad = (
            feats.join(resid, "__id")
            .groupBy("f")
            .agg((F.sum(F.col("x") * F.col("r")) / n_docs).alias("g"))
            .collect()
        )
        gb = resid.agg(F.avg("r").alias("gb")).first()["gb"]
        for row in grad:
            fi, g = row["f"], row["g"]
            w[fi] = w.get(fi, 0.0) - lr * (g + l2 * w.get(fi, 0.0))
        b -= lr * gb
    return local_frame(spark, list(w.items()), "f long, w double"), b


def logreg_score(
    features: DataFrame,
    weights: DataFrame,
    intercept: float = 0.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, logit, prob) for every document with ≥1 feature row: one
    broadcast join on f, one groupBy on the id. Feature-less documents
    are absent (their logit is the bare intercept; quality_filter
    re-attaches them)."""
    return (
        features.join(F.broadcast(weights), "f", "left")
        .groupBy(F.col(id_col))
        .agg(
            (
                F.sum(F.col("x") * F.coalesce("w", F.lit(0.0)))
                + F.lit(float(intercept))
            ).alias("logit")
        )
        .select(
            id_col,
            "logit",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit")))).alias("prob"),
        )
    )


def quality_filter(
    docs: DataFrame,
    weights: DataFrame,
    intercept: float = 0.0,
    min_prob: float = 0.5,
    n_features: int = 1 << 18,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "spark",
) -> DataFrame:
    """Keep documents the classifier scores ≥ ``min_prob``. Schema-
    preserving. Documents with no tokens score at the bare intercept
    (left join + coalesce), so an empty page passes only if the model's
    prior does."""
    import math

    scored = logreg_score(
        hashed_token_features(
            docs, n_features=n_features, text_col=text_col, id_col=id_col,
            hash=hash,
        ),
        weights,
        intercept,
        id_col=id_col,
    )
    prior = 1.0 / (1.0 + math.exp(-float(intercept)))
    return (
        docs.join(scored.select(id_col, "prob"), id_col, "left")
        .where(F.coalesce("prob", F.lit(prior)) >= min_prob)
        .drop("prob")
    )


def _flog2(c):
    """floor(log2(x)) for a positive integer column, exactly, in any
    engine: length of the binary string minus one (the lm.py whole-bit
    idiom, operators/lm.py:144)."""
    return (F.length(F.bin(c)) - 1).cast("long")


def dsir_weights(
    features_target: DataFrame,
    features_raw: DataFrame,
) -> DataFrame:
    """DSIR importance log-ratios (Xie et al., NeurIPS 2023 — Data
    Selection via Importance Resampling): per hashed feature,

        w_log2 = log2 p_target(f) − log2 p_raw(f)

    under Laplace-smoothed hashed-unigram LMs (p(f) = (c+1)/(N+V) with V
    = features seen in either corpus). ``w_log2`` is the float
    production weight. ``w_hbits`` is an integer HALF-bit twin:
    floor_log2((ct+1)²) − floor_log2((cr+1)²), the per-corpus
    normalization constants dropped (they shift every document's score
    by count·const, which standardization — and equal-length comparison
    — ignores). Squaring keeps BIGINT exact for counts < 3·10⁹; the
    bit-length of an integer is engine-independent, so scores built from
    w_hbits verify hash-exact cross-engine (the lm.py surprisal trick).

    Returns (f, ct, cr, w_log2, w_hbits)."""
    import math

    ct = features_target.groupBy("f").agg(F.sum("x").alias("ct"))
    cr = features_raw.groupBy("f").agg(F.sum("x").alias("cr"))
    both = (
        ct.join(cr, "f", "full")
        .select(
            "f",
            F.coalesce("ct", F.lit(0)).cast("long").alias("ct"),
            F.coalesce("cr", F.lit(0)).cast("long").alias("cr"),
        )
        .localCheckpoint(eager=False)  # reused: totals agg + output
    )
    tot = both.agg(
        F.sum("ct").alias("nt"),
        F.sum("cr").alias("nr"),
        F.count(F.lit(1)).alias("v"),
    ).first()
    nt, nr, v = tot["nt"] or 0, tot["nr"] or 0, tot["v"]
    const = math.log2(nr + v) - math.log2(nt + v)
    return both.select(
        "f",
        "ct",
        "cr",
        (
            F.log2(F.col("ct") + 1) - F.log2(F.col("cr") + 1) + F.lit(const)
        ).alias("w_log2"),
        (
            _flog2((F.col("ct") + 1) * (F.col("ct") + 1))
            - _flog2((F.col("cr") + 1) * (F.col("cr") + 1))
        ).alias("w_hbits"),
    )


def dsir_score(
    features: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_toks, logit_log2, logit_hbits): per-document importance =
    Σ count·w over the document's hashed features — one broadcast join,
    one groupBy. ``logit_log2`` drives resampling; ``logit_hbits`` is
    the integer twin the oracles hash."""
    return (
        features.join(F.broadcast(weights), "f", "left")
        .groupBy(F.col(id_col))
        .agg(
            F.sum("x").cast("long").alias("n_toks"),
            F.sum(F.col("x") * F.coalesce("w_log2", F.lit(0.0))).alias(
                "logit_log2"
            ),
            F.sum(F.col("x") * F.coalesce("w_hbits", F.lit(0)))
            .cast("long")
            .alias("logit_hbits"),
        )
    )


def dsir_resample(
    scored: DataFrame,
    k: int,
    seed: str = "dsir",
    temperature: float = 1.0,
    id_col: str = "doc_id",
    length_normalize: bool = True,
) -> DataFrame:
    """Gumbel top-k importance resampling: keep the k documents with the
    largest  logit/T + Gumbel(md5(seed‖id))  — exactly sampling-without-
    replacement ∝ exp(logit/T), reproducible under repartitioning
    because the noise is keyed on the id, never on partition layout (the
    sample_mixture determinism rule, corpus.py:133). ``length_normalize``
    divides the logit by the token count first (DSIR's per-token
    average), so long documents don't dominate purely by length. Global
    top-k compiles to TakeOrderedAndProject — no full sort shuffle.
    T→0 degenerates to deterministic top-k by score."""
    if k <= 0:
        raise ValueError("k must be positive")
    logit = F.col("logit_log2")
    if length_normalize:
        logit = logit / F.greatest(F.col("n_toks"), F.lit(1)).cast("double")
    u48 = (
        F.conv(
            F.substring(F.md5(F.concat_ws("\x1f", F.lit(seed), F.col(id_col))), 1, 12),
            16,
            10,
        ).cast("decimal(20,0)")
        .cast("double")
        + 0.5
    ) / F.lit(float(1 << 48))
    gumbel = -F.log(-F.log(u48))
    key = (
        logit / F.lit(float(temperature)) + gumbel
        if temperature > 0
        else logit
    )
    return (
        scored.withColumn("__key", key)
        .orderBy(F.col("__key").desc(), F.col(id_col))
        .limit(k)
        .drop("__key")
    )


def nb_share_weights(
    features_target: DataFrame,
    features_rest: DataFrame,
    milli: int = 1000,
) -> DataFrame:
    """Integer-exact Naive-Bayes-flavored token weights: for each hashed
    feature, the Laplace-smoothed share of its mass that sits in the
    TARGET corpus, centered at zero, in fixed-point milli-units:

        w = (milli·(ct+1)) // (ct+cr+2)  −  milli//2

    (ct, cr = total counts in target / rest). A monotone proxy of the NB
    log-odds ln(p_t/p_r) that stays in BIGINT arithmetic end-to-end —
    integer division floors identically in every engine, so scores built
    from these weights verify bit-for-bit cross-engine (the same reason
    the calibration sweep quantizes cosines, score.py:319). Production
    training uses logreg_fit; this closed-form variant needs ONE pass
    over each corpus and no labels beyond the corpus split itself.

    Returns (f, w_milli) covering features seen in either corpus."""
    ct = features_target.groupBy("f").agg(F.sum("x").alias("ct"))
    cr = features_rest.groupBy("f").agg(F.sum("x").alias("cr"))
    half = int(milli) // 2
    return (
        ct.join(cr, "f", "full")
        .select(
            "f",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cr", F.lit(0)).alias("cr"),
        )
        .select(
            "f",
            (
                F.expr(f"({int(milli)} * (ct + 1)) div (ct + cr + 2)")
                - F.lit(half)
            ).cast("long").alias("w_milli"),
        )
    )


def nb_share_multiclass_weights(
    features: DataFrame,
    doc_classes: DataFrame,
    milli: int = 1000,
    id_col: str = "doc_id",
    class_col: str = "class",
) -> DataFrame:
    """Per-(class, feature) integer weights for one-vs-rest NB-share
    classification (the fastText lang-ID shape): the binary
    nb_share_weights formula applied once per class against the rest
    mass ``c_f − c_cf``, which collapses to

        w = (milli·(c_cf+1)) // (c_f + 2) − milli//2

    (c_cf = feature count inside the class, c_f = corpus-wide). One
    features-pass groupBy (class, f); the output is model-sized
    (≤ n_classes · n_features rows) and broadcasts at inference."""
    labeled = features.join(
        doc_classes.select(
            F.col(id_col), F.col(class_col).alias("__cls")
        ),
        id_col,
    )
    per_cf = labeled.groupBy("__cls", "f").agg(F.sum("x").alias("ccf"))
    per_f = per_cf.groupBy("f").agg(F.sum("ccf").alias("cf"))
    half = int(milli) // 2
    return (
        per_cf.join(per_f, "f")
        .select(
            F.col("__cls").alias(class_col),
            "f",
            (
                F.expr(f"({int(milli)} * (ccf + 1)) div (cf + 2)")
                - F.lit(half)
            ).cast("long").alias("w_milli"),
        )
    )


def nb_share_classify(
    features: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    class_col: str = "class",
) -> DataFrame:
    """(id, predicted class, score_milli): integer per-class dot products
    from one broadcast join + groupBy (id, class); the winner by
    (score desc, class asc) — a per-id window, never a global sort. All
    arithmetic BIGINT, so predictions are deterministic and verify
    hash-exact cross-engine."""
    from pyspark.sql import Window

    scores = (
        features.join(F.broadcast(weights), "f")
        .groupBy(F.col(id_col), F.col(class_col))
        .agg(
            F.sum(F.col("x") * F.col("w_milli")).cast("long").alias(
                "score_milli"
            )
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_milli").desc(), F.col(class_col)
    )
    return (
        scores.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(id_col, class_col, "score_milli")
    )


def nb_share_score(
    features: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_toks, logit_milli): integer dot product of token counts
    with nb_share_weights — exact in any engine. A feature absent from
    both training corpora can only appear when scoring a different
    corpus than the weights were fit on; the left join + coalesce(0)
    gives such features neutral weight."""
    return (
        features.join(F.broadcast(weights), "f", "left")
        .groupBy(F.col(id_col))
        .agg(
            F.sum("x").cast("long").alias("n_toks"),
            F.sum(F.col("x") * F.coalesce("w_milli", F.lit(0)))
            .cast("long")
            .alias("logit_milli"),
        )
    )
