"""TokenSimilarity — the reference's unsupervised token-blocking matcher
(token_similarity[html] class TokenSimilarity), Spark-first.

Reference flow (predict(), token_similarity[html]:321-373): for every token
with 2 ≤ doc_count ≤ max_block_size, score all string pairs in the token's
block; unite pairs with score ≥ threshold. The sequential unite loop skips
already-co-grouped pairs, but since uniting is monotone the final partition is
exactly the connected components of the ≥-threshold edges — order-independent,
so the distributed CC pass is semantics-preserving (SURVEY.md §2.8).

Spark plan:
    strings (+ carried tokens) → one bounded Arrow probe (limit(cap + 1))
            → one fit step, from scratch or incremental (_fit):
              driver fit (≤ _TOKENSIM_DRIVER_FIT_STRINGS strings): tokens +
              weights as Python rows, exposed as local frames
              or tokens (explode, 1 shuffle) → weights (token agg)
            → eligible-token self-join → canonical candidate pairs
            → jaccard/cosine: broadcast-model mapInPandas when the fitted
              token table is small, else the relational map-payload scorer
            → filter score ≥ threshold → edges
            → large-star/small-star CC → MatchData
    After a driver fit, driver_pair_scores blocks and scores the same pairs
    in Python instead (no Spark job) while the pair bound is within
    _TOKENSIM_DRIVER_PAIRS; TokenSimPass takes that path up to its edges.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nama_spark.functions.tokenize import token_weights, tokens_table
from nama_spark.operators.block import (
    anti_join_same_group,
    driver_block_pairs,
    driver_token_blocks,
    eligible_tokens,
    token_block_pairs,
)
from nama_spark.operators.evaluate import score_predicted
from nama_spark.operators.matchdata import MatchData
from nama_spark.operators.score import token_similarity_scores
from nama_spark.session import collect_rows, local_frame


# Fitted-token-table row count under which pair_scores and
# predict_incremental ship the score model ({string → token set, Σw, Σw²}
# + token→weight) broadcast into one mapInPandas instead of the relational
# join-aggregate plans (rows ≈ strings × tokens-per-string; ~2M rows ≈ low
# hundreds of MB built). It also bounds fit_incremental's collect of the
# carried token table.
_TOKENSIM_BROADCAST_TOKEN_ROWS = 2_000_000
# Universe size (distinct strings) under which fit() — and fit_incremental,
# for its delta strings — tokenizes driver-side
# (python twin of the tokenizer expressions, verified equal in
# tests/test_tokensim_broadcast_path.py) instead of running the
# distinct+explode+groupBy chain distributed — at a few thousand strings
# the distributed fit is pure stage latency (measured ~4 s vs ~0.5 s).
_TOKENSIM_DRIVER_FIT_STRINGS = 100_000
# Pair bound under which driver_pair_scores blocks and scores a driver
# fit's pairs in Python (TokenSimPass takes it up to its edges) instead of
# leaving them to pair_scores' block join and scorer. The bound is Σ over
# eligible tokens of C(block size, 2), read from the fitted token rows
# before any pair is enumerated; it over-counts the distinct pairs (a pair
# sharing k tokens counts k times). Set at TokenSimPass's measured
# local[4] wall-clock crossover (docs/SCALE.md): the driver was level or
# ahead at every measured bound up to 3.5M and 28% behind at 5.3M.
_TOKENSIM_DRIVER_PAIRS = 3_500_000

_TOKEN_SCHEMA = T.StructType(
    [
        T.StructField("string", T.StringType()),
        T.StructField("token", T.StringType()),
        # NOT NULL, as tokens_table's count writes it
        T.StructField("tf", T.LongType(), False),
    ]
)

_WEIGHT_SCHEMA = T.StructType(
    [
        T.StructField("token", T.StringType()),
        T.StructField("f", T.LongType()),
        T.StructField("d", T.LongType()),
        T.StructField("weight", T.DoubleType()),
    ]
)


def _score_model(strs: dict, wd: dict) -> dict:
    """{string: (sorted token tuple, token set, Σw, Σw²)} — sums iterate
    SORTED tokens so scores are identical across runs (python set order is
    hash-randomized per process) and across the fit paths."""
    model = {}
    for s, toks in strs.items():
        ordered = tuple(sorted(toks))
        w_sum = 0.0
        w2_sum = 0.0
        for t in ordered:
            w = wd[t]
            w_sum += w
            w2_sum += w * w
        model[s] = (ordered, set(ordered), w_sum, w2_sum)
    return model


class _DriverFit(NamedTuple):
    new_tokens: list  # (string, token, tf) rows tokenized by this fit
    tokens: list      # carried + new rows: the universe's token table
    weights: list     # (token, f, d, weight) rows
    model: tuple      # (_score_model(...), token → weight)


def _fit_model(
    strings, carried, tokenizer: str, weighting: str | None,
    reference_doc_counts: bool = True,
) -> _DriverFit:
    """The driver fit as a pure function: the rows of tokens_table +
    token_weights over ``carried`` plus the tokenized ``strings``, and the
    broadcast scorer's model over them. ``carried`` are (string, token, tf)
    rows of an already-tokenized universe (fit_incremental's carried
    table); they join the table as they are and only ``strings`` are
    tokenized. Weights are computed over the union, so they are the same as
    a fit of the whole universe."""
    # a null string has no tokens, as in tokens_table
    new_rows = [
        (s, t, c)
        for s in strings
        if s is not None
        for t, c in Counter(_py_tokenize(s, tokenizer)).items()
    ]
    tok_rows = list(carried) + new_rows
    freq: dict = {}
    nstr: dict = {}
    strs: dict = {}
    for s, t, c in tok_rows:
        freq[t] = freq.get(t, 0) + c
        nstr[t] = nstr.get(t, 0) + 1
        strs.setdefault(s, set()).add(t)
    w_rows = []
    for t, f in freq.items():
        d = f if reference_doc_counts else nstr[t]
        if weighting == "tf":
            w = float(f)
        elif weighting == "idf":
            w = 1.0 / math.log(1.0 + d)
        elif weighting == "tf-idf":
            w = f / math.log(1.0 + d)
        elif weighting is None or weighting == "none":
            w = 1.0
        else:
            raise ValueError(f"unknown weighting: {weighting}")
        w_rows.append((t, f, d, w))
    wd = {t: w for (t, _f, _d, w) in w_rows}
    return _DriverFit(new_rows, tok_rows, w_rows, (_score_model(strs, wd), wd))


def _pair_scorer(measure: str):
    """``score(ma, mb, wd)`` for two _score_model entries — the broadcast
    scorer's per-pair measure (same definitions as token_similarity_scores).
    Iterates the smaller side's SORTED tuple and probes the bigger side's
    set, so the sum order is deterministic. Returned as a nested function
    so cloudpickle ships it by value: workers never need nama_spark
    importable."""
    if measure not in ("jaccard", "cosine"):
        raise ValueError(f"unknown measure: {measure}")
    cosine = measure == "cosine"
    sqrt = math.sqrt

    def score(ma, mb, wd) -> float:
        ta, sa, wsa, w2a = ma
        tb, sb, wsb, w2b = mb
        small, big = (ta, sb) if len(ta) <= len(tb) else (tb, sa)
        if cosine:
            inter2 = 0.0
            for t in small:
                if t in big:
                    w = wd[t]
                    inter2 += w * w
            denom = sqrt(w2a) * sqrt(w2b)
            return inter2 / denom if inter2 > 0 and denom > 0 else 0.0
        inter = 0.0
        for t in small:
            if t in big:
                inter += wd[t]
        union = wsa + wsb - inter
        return inter / union if inter > 0 and union > 0 else 0.0

    return score


_SCORE_SCHEMA = "s0 string, s1 string, score double"


def _block_scores(
    fitted: _DriverFit, max_block_size: int, measure: str,
    against=None, max_pairs: int | None = None,
) -> tuple:
    """Token blocking and scoring on a driver fit's rows: (bound, scores).
    ``bound`` is Σ over eligible tokens of the block's pairs that touch an
    ``against`` string, C(n, 2) − C(n − k, 2) for a block of n strings
    holding k of them (every string when ``against`` is None), read before
    any pair is enumerated; ``scores`` are the (s0, s1, score) rows of the
    canonical candidate pairs (all of them, or those holding one of the
    ``against`` strings; block.driver_block_pairs), or None when the bound
    exceeds ``max_pairs``. The one driver block → score step of
    TokenSimilarity.driver_pair_scores and the delta fold."""
    blocks = driver_token_blocks(fitted.tokens, fitted.weights, max_block_size)
    new = None if against is None else set(against)
    bound = 0
    for members in blocks:
        n = len(members)
        rest = 0 if new is None else sum(s not in new for s in members)
        bound += n * (n - 1) // 2 - rest * (rest - 1) // 2
    if max_pairs is not None and bound > max_pairs:
        return bound, None
    model, wd = fitted.model
    score = _pair_scorer(measure)
    return bound, [
        (a, b, score(model[a], model[b], wd))
        for a, b in driver_block_pairs(blocks, against)
    ]


def _py_tokenize(s: str, kind: str) -> list:
    """Python twin of functions.tokenize's Column tokenizers (same
    code-point semantics as Spark's UTF8String substr/length)."""
    if kind == "nmgrams23":
        return [s[i:i + n] for n in (2, 3)
                for i in range(len(s) - n + 1)]
    if kind == "bigrams":
        return [s[i:i + 2] for i in range(len(s) - 1)]
    if kind == "trigrams":
        return [s[i:i + 3] for i in range(len(s) - 2)]
    if kind == "words":
        import re as _re

        return [w for w in _re.split("[^A-Za-z0-9]+", s) if w != ""]
    raise ValueError(f"unknown tokenizer: {kind}")


class TokenSimilarity:
    """Configurable token-blocking similarity matcher.

    Parameters mirror the reference constructor (token_similarity[html]
    __init__): tokenizer ∈ {nmgrams23 (default), bigrams, trigrams, words},
    weighting ∈ {tf, idf, tf-idf, none}, measure ∈ {jaccard, cosine},
    max_block_size (default 100 — the skew cap).
    """

    def __init__(
        self,
        tokenizer: str = "nmgrams23",
        weighting: str = "tf-idf",
        measure: str = "jaccard",
        max_block_size: int = 100,
        reference_doc_counts: bool = True,
    ):
        self.tokenizer = tokenizer
        self.weighting = weighting
        self.measure = measure
        self.max_block_size = max_block_size
        self.reference_doc_counts = reference_doc_counts
        self.threshold: float | None = None
        self._tokens: DataFrame | None = None
        self._weights: DataFrame | None = None
        self._strings: DataFrame | None = None
        self._n_token_rows: int | None = None
        # the driver fit's rows and score model (None after a distributed
        # fit), and the pair bound driver_pair_scores last read from them
        self._fitted: _DriverFit | None = None
        self.pair_bound: int | None = None
        self._score_bc = None  # broadcast score model (fast path, see below)

    # ---------- fit ----------

    def fit(
        self, strings_df: DataFrame, string_col: str = "string",
        strings: list | None = None,
    ) -> "TokenSimilarity":
        """Tokenize + weight the string universe; cache both (reused across
        thresholds — the reference's embed-once/predict-many pattern,
        baseline.py:53-57). This is the one fit step (_fit) with nothing
        carried; fit_incremental runs it over a carried token table.

        ``strings``, when the caller has already read them to the driver,
        are the distinct strings of ``strings_df``; fit() then skips its
        probe."""
        self._strings = strings_df.select(
            F.col(string_col).alias("string")
        ).distinct()
        self._fit(self._strings, names=strings)
        return self

    def _fit(
        self, strings: DataFrame, carried: DataFrame | None = None,
        names: list | None = None,
    ) -> DataFrame:
        """The one fit step: release the previous fit's caches, tokenize
        ``strings`` (column ``string``; ``names``, when given, are its
        distinct values), add the ``carried`` (string, token, tf) rows as
        they are, weight the union and cache both tables. Returns the rows
        it tokenized. Within _TOKENSIM_DRIVER_FIT_STRINGS strings and
        _TOKENSIM_BROADCAST_TOKEN_ROWS carried rows (each read through one
        bounded ``limit(cap + 1)`` Arrow probe) the driver fit replaces the
        whole tokenize+weight chain (6 exchanges + 2 cache materializations
        of pure stage latency at a few thousand strings) with python dict
        math over identical rows; above either, the chain runs."""
        self.unpersist()
        spark = strings.sparkSession
        if names is None:
            probe = collect_rows(strings.distinct(), _TOKENSIM_DRIVER_FIT_STRINGS)
            names = None if probe is None else [r[0] for r in probe]
        if names is not None and len(names) <= _TOKENSIM_DRIVER_FIT_STRINGS:
            rows = () if carried is None else collect_rows(
                carried, _TOKENSIM_BROADCAST_TOKEN_ROWS
            )
            if rows is not None:
                fitted = self._fit_rows(names, rows)
                self._fit_driver(spark, fitted)
                if carried is None:
                    return self._tokens
                return local_frame(spark, fitted.new_tokens, _TOKEN_SCHEMA)
        new = tokens_table(strings, tokenizer=self.tokenizer)
        self._tokens = (new if carried is None else carried.unionByName(new)).cache()
        self._weights = token_weights(
            self._tokens,
            weighting=self.weighting,
            reference_doc_counts=self.reference_doc_counts,
        ).cache()
        # Materialize both caches NOW (guide §5 caching): a lazily-cached
        # token table referenced from several branches of one downstream
        # action (eligible-token filter, block self-join ×2, intersection
        # ×2, norms) races its own cache population — stages scheduled
        # before the blocks land recompute the whole tokenize subtree.
        # Measured on pipeline_er's TokenSimPass at sf0.1: edges 20.3 s
        # lazy → 10.7 s eager (the bench's own fit-then-count prewarm
        # becomes a no-op cache hit).
        self._weights.count()
        self._n_token_rows = self._tokens.count()
        return new

    def _fit_rows(self, strings: list, carried=()) -> _DriverFit:
        """_fit_model under this matcher's tokenizer and weighting."""
        return _fit_model(
            strings, carried, self.tokenizer, self.weighting,
            self.reference_doc_counts,
        )

    def _fit_driver(self, spark, fitted: _DriverFit) -> None:
        """Adopt a driver fit: keep its rows for driver_pair_scores and
        expose them as the (string, token, tf) and (token, f, d, weight)
        tables — same rows as tokens_table + token_weights (equality-tested)
        — built with ``session.local_frame``, so every distributed consumer
        (block join, token_similarity_scores, incremental paths) works
        unchanged. The frames are JVM-resident Arrow relations (no Python
        worker runs when they are scanned), cached but not counted: a
        driver_pair_scores caller never scans them, and a Spark scorer's
        repeated scans read the cache instead of re-shipping the rows in
        every task. When _scores will read it (the token rows are within
        _TOKENSIM_BROADCAST_TOKEN_ROWS), the score model _fit_model builds
        is broadcast now instead of re-collecting the two tables on the
        first pair_scores call; a larger fit ships no model."""
        self._fitted = fitted
        self._tokens = local_frame(spark, fitted.tokens, _TOKEN_SCHEMA).cache()
        self._weights = local_frame(spark, fitted.weights, _WEIGHT_SCHEMA).cache()
        self._n_token_rows = len(fitted.tokens)
        if self._n_token_rows <= _TOKENSIM_BROADCAST_TOKEN_ROWS:
            self._score_bc = spark.sparkContext.broadcast(fitted.model)

    def fit_incremental(
        self,
        prev_tokens: DataFrame,
        delta_strings: DataFrame,
        string_col: str = "string",
    ) -> DataFrame:
        """Incremental fit from a CARRIED token table (the band-index
        pattern): ``prev_tokens`` is the persisted (string, token, tf) table
        of the existing universe; ``delta_strings`` are strings NOT in it.
        Tokenizes only the Δn delta rows and recomputes the weights of the
        union — the resulting tokens/weights are IDENTICAL to fit() on the
        union universe (weights are a pure function of the union token
        table), at O(Δn) tokenization instead of re-exploding every
        accumulated string per increment, in fit()'s fit step (_fit).
        Returns the delta token rows so the caller can persist them
        (streaming/er.py appends one delta dir per micro-batch)."""
        delta = self._fit(
            delta_strings.select(F.col(string_col).alias("string")),
            prev_tokens.select("string", "token", "tf"),
        )
        self._strings = self._tokens.select("string").distinct()
        return delta

    def _require_fit(self):
        if self._tokens is None:
            raise RuntimeError("call fit() first")

    # ---------- candidate pairs + scores ----------

    def candidate_pairs(self) -> DataFrame:
        self._require_fit()
        elig = eligible_tokens(self._weights, 2, self.max_block_size)
        return token_block_pairs(self._tokens, elig, self.max_block_size)

    def driver_pair_scores(self) -> list | None:
        """(s0, s1, score) rows of every candidate pair, blocked and scored
        in Python on the driver fit's rows (_block_scores), or None after a
        distributed fit or when the fit's pair bound exceeds
        _TOKENSIM_DRIVER_PAIRS. ``pair_bound`` records the bound read. The
        rows are pair_scores' (bitwise those of its broadcast scorer)."""
        self._require_fit()
        if self._fitted is None:
            return None
        self.pair_bound, rows = _block_scores(
            self._fitted, self.max_block_size, self.measure,
            max_pairs=_TOKENSIM_DRIVER_PAIRS,
        )
        return rows

    def pair_scores(self, skip_same_group: MatchData | None = None) -> DataFrame:
        """(s0, s1, score) for every candidate pair (cacheable for threshold
        sweeps). Two scorers: the broadcast model below when the fitted
        token table is within _TOKENSIM_BROADCAST_TOKEN_ROWS, else the
        relational token_similarity_scores."""
        # Pin the candidate stream once (lazily): the block-join+distinct
        # subtree runs on the first action and later actions reuse it.
        pairs = self.candidate_pairs().localCheckpoint(eager=False)
        if skip_same_group is not None:
            pairs = anti_join_same_group(pairs, skip_same_group.df)
        # NOTE (guide §2.4, round 6): candidate_pairs ends in a .distinct()
        # on (s0, s1), whose hash partitioning already spreads pairs
        # uniformly by pair key — the salt_pairs repartition that used to
        # sit here re-shuffled the identical distribution a second time
        # (one full exchange of the candidate stream for zero skew benefit).
        # salt_pairs stays available for callers whose pair source is NOT
        # already pair-key-partitioned.
        return self._scores(pairs)

    def _scores(self, pairs: DataFrame) -> DataFrame:
        """(s0, s1, score) for candidate ``pairs`` — the one scorer
        dispatch of pair_scores and predict_incremental."""
        if (
            self._n_token_rows is not None
            and self._n_token_rows <= _TOKENSIM_BROADCAST_TOKEN_ROWS
        ):
            # Broadcast-model fast path (round 6, guide §4.2): when the
            # fitted token table is bounded, ship {string → token set,
            # Σw, Σw²} plus the global token→weight dict broadcast into
            # one mapInPandas over the (still fully distributed) candidate
            # stream — python set intersection + dict lookups per pair
            # replace the two map-payload joins and the per-pair JVM
            # higher-order intersection loop. The broadcast is built once
            # per fit and reused across thresholds/sweeps (the same
            # fit-once/predict-many contract the cached token table
            # already has); strings whose tokenization is empty have no
            # model entry and their pairs drop, exactly like the inner
            # map joins. The gate bounds the broadcast side only —
            # the pair side scales with the candidate stream.
            return self._pair_scores_broadcast(pairs)
        return token_similarity_scores(
            pairs, self._tokens, self._weights, measure=self.measure
        )

    def _pair_scores_broadcast(self, pairs: DataFrame) -> DataFrame:
        """The broadcast-model scorer behind pair_scores' gate: one
        mapInPandas over the candidate stream, sets/weights from a
        per-fit broadcast. Same measure definitions as
        token_similarity_scores; equality is covered by
        tests/test_tokensim_broadcast_path.py."""
        import pandas as pd

        spark = pairs.sparkSession
        if self._score_bc is None:
            weights = {
                r["token"]: r["weight"] for r in self._weights.collect()
            }
            strs: dict = {}
            for r in self._tokens.collect():
                strs.setdefault(r["string"], set()).add(r["token"])
            self._score_bc = spark.sparkContext.broadcast(
                (_score_model(strs, weights), weights)
            )
        bc = self._score_bc
        score = _pair_scorer(self.measure)

        def score_batches(batches):
            strs, wd = bc.value
            for pdf in batches:
                r0, r1, rs = [], [], []
                for a, b in zip(pdf["s0"], pdf["s1"]):
                    ma = strs.get(a)
                    mb = strs.get(b)
                    if ma is None or mb is None:
                        continue  # inner-join drop, same as the JVM path
                    r0.append(a)
                    r1.append(b)
                    rs.append(score(ma, mb, wd))
                yield pd.DataFrame({"s0": r0, "s1": r1, "score": rs})

        return pairs.select("s0", "s1").mapInPandas(
            score_batches, schema=_SCORE_SCHEMA
        )

    # ---------- predict ----------

    def unpersist(self) -> "TokenSimilarity":
        """Release the fitted token/weight caches. fit() pins both for reuse
        across predict/threshold sweeps — call this when the model is done in
        a long-lived session so executor storage is reclaimed."""
        for df in (self._tokens, self._weights):
            if df is not None:
                df.unpersist()
        self._fitted = None
        self.pair_bound = None
        if self._score_bc is not None:
            self._score_bc.unpersist()
            self._score_bc = None
        return self

    def predict(
        self,
        matchdata: MatchData | DataFrame | None = None,
        threshold: float | None = None,
        scores: DataFrame | None = None,
    ) -> MatchData:
        """Cluster the fitted universe at the given threshold. If ``matchdata``
        is given, its counts/partition seed the result (predictions merge into
        the existing partition, like unite(model))."""
        if threshold is None:
            threshold = self.threshold
        if threshold is None:
            raise ValueError(
                "set a threshold via learn_threshold() or pass one explicitly"
            )
        if isinstance(matchdata, DataFrame):
            matchdata = MatchData.detect(matchdata)
        if matchdata is None:
            self._require_fit()
            base = self._strings.withColumn("count", F.lit(1).cast("long")).withColumn(
                "group", F.col("string")
            )
            matchdata = MatchData(base, _relabel=False)
        if self._tokens is None:
            self.fit(matchdata.df, string_col="string")

        if scores is None:
            scores = self.pair_scores()
        return matchdata.unite(
            scores.where(F.col("score") >= threshold).select("s0", "s1")
        )

    def predict_incremental(
        self,
        matchdata: MatchData,
        new_strings: DataFrame,
        threshold: float | None = None,
        string_col: str = "string",
        count_col: str | None = None,
        prev_tokens: DataFrame | None = None,
    ) -> MatchData:
        """Unite NEWLY-ARRIVED strings into an existing partition without
        re-enumerating the old×old candidate set (the daily-increment path:
        Δn new names against an n-name universe costs O(Δn·block), not
        O(n·block)).

        Semantics: result = transitive closure of (current partition ∪
        ≥-threshold edges touching a new string). Uniting is monotone, so
        existing groups never split — they can only merge through a new
        string. This matches running full unite-after-unite with the new
        edge set; it is NOT byte-identical to a full from-scratch re-predict,
        because token weights are refit on the union universe and old×old
        pairs are deliberately not re-scored (document-level weights drift
        as the corpus grows — re-predict from scratch when that matters).

        The refit and the scorer are the batch path's own: fit() or
        fit_incremental (one fit step, driver fit under its gates) and
        pair_scores' dispatch (broadcast score model when the union token
        table is within _TOKENSIM_BROADCAST_TOKEN_ROWS, else the relational
        token_similarity_scores). ``last_delta_tokens`` holds the rows the
        refit tokenized: the whole union's when nothing was carried.
        Building from scratch is this call on an empty ``matchdata``.

        Beyond the reference (nama has no incremental path; its unite is
        already incremental only because everything is in one dict)."""
        from nama_spark.operators.block import token_block_pairs_against

        if threshold is None:
            threshold = self.threshold
        if threshold is None:
            raise ValueError(
                "set a threshold via learn_threshold() or pass one explicitly"
            )
        nw = new_strings.select(F.col(string_col).alias("string")).distinct()
        md2 = matchdata.add_strings(
            new_strings, string_col=string_col, count_col=count_col
        )
        # refit tokens/weights on the union universe — either from scratch
        # (O(n) re-tokenization) or, when the caller carries the previous
        # token table (``prev_tokens``), incrementally: only strings not yet
        # in the existing universe are tokenized, and the refit weights are
        # identical by construction.
        if prev_tokens is None:
            self.last_delta_tokens = self.fit(md2.df)._tokens
        else:
            genuinely_new = nw.join(
                matchdata.df.select("string").distinct(), "string", "left_anti"
            )
            self.last_delta_tokens = self.fit_incremental(
                prev_tokens, genuinely_new
            )
        elig = eligible_tokens(self._weights, 2, self.max_block_size)
        # token_block_pairs_against already ends in a pair-key .distinct();
        # no extra salt repartition needed (see pair_scores)
        pairs = token_block_pairs_against(self._tokens, nw, elig)
        scores = self._scores(pairs)
        edges = scores.where(F.col("score") >= threshold).select("s0", "s1")
        # every edge touches a new string by construction (blocking was
        # against ``nw``), so the group-quotient unite applies: CC + relabel
        # cost O(Δ-touched), not O(universe) — the difference between a
        # micro-batch that costs Δ and one that re-walks the corpus
        return md2.unite_incremental(edges)

    # ---------- threshold sweep ----------

    def learn_threshold(
        self,
        gold: MatchData,
        objective: str = "F1",
        grid: list[float] | None = None,
        use_counts: bool = False,
        strategy: str = "grid",
        coarse_step: int = 10,
    ):
        """Fit on the gold universe, score candidates once, evaluate the
        objective per grid threshold, keep the argmax (last max on ties —
        token_similarity[html] learn_threshold). Returns the sweep rows.
        Default grid = np.linspace(0.5, 1, 100), the reference's own default
        (token_similarity[html]:253-256).

        ``strategy="coarse_to_fine"`` evaluates every ``coarse_step``-th grid
        point (plus the last), then every unevaluated point within one coarse
        step of the coarse argmax — ~3× fewer Spark jobs than the full sweep
        (each evaluation is a CC + confusion-matrix job). The chosen
        threshold is identical to the full grid's whenever the objective is
        unimodal over the grid (the usual precision/recall trade-off shape);
        returned rows cover only the evaluated points."""
        import numpy as np

        if grid is None:
            grid = [round(x, 6) for x in np.linspace(0.5, 1, 100)]
        self.fit(gold.df, string_col="string")
        scores = self.pair_scores().cache()
        scores.count()  # materialize once

        def evaluate(idxs):
            out = []
            for i in idxs:
                pred = self.predict(gold, threshold=grid[i], scores=scores)
                s = score_predicted(pred, gold, use_counts=use_counts)
                s["threshold"] = grid[i]
                out.append((i, s))
            return out

        if strategy == "coarse_to_fine" and len(grid) > coarse_step:
            coarse_idx = sorted(set(range(0, len(grid), coarse_step)) | {len(grid) - 1})
            evaluated = dict(evaluate(coarse_idx))
            # last max on ties — the same rule as the full grid
            best_i = max(coarse_idx, key=lambda i: (evaluated[i][objective], i))
            lo = max(0, best_i - coarse_step)
            hi = min(len(grid) - 1, best_i + coarse_step)
            fine_idx = [i for i in range(lo, hi + 1) if i not in evaluated]
            evaluated.update(dict(evaluate(fine_idx)))
            rows = [evaluated[i] for i in sorted(evaluated)]
        else:
            rows = [s for _, s in evaluate(range(len(grid)))]
        best = max(rows, key=lambda r: (r[objective], grid.index(r["threshold"])))
        self.threshold = best["threshold"]
        scores.unpersist()
        return rows

    def test(self, gold: MatchData) -> dict:
        """Predict on the gold universe, score against it
        (token_similarity[html] test())."""
        self.fit(gold.df, string_col="string")
        pred = self.predict(gold)
        return score_predicted(pred, gold)
