"""Byte-pair-encoding tokenizer training and encoding, Spark-first.

The missing piece between corpus prep and training: learn a subword
vocabulary FROM the corpus (Sennrich et al., ACL 2016) and count/encode
with it. The reference engine has no tokenizer surface; this follows the
published algorithm directly.

Scale shape — the key identity is that BPE never needs the corpus after
one pass: it trains on the WORD-FREQUENCY table (distinct words ×
counts), which is vocabulary-sized, not corpus-sized (~10⁸ rows at
100 TB vs ~10¹³ tokens). So:

- one corpus scan builds (word, n) — the only corpus-sized job;
- each merge iteration is one pair-count aggregation + one in-JVM array
  rewrite over the word table (shuffle bounded by distinct pairs), with
  the winning pair chosen by a deterministic (count desc, pair asc)
  argmax — a 1-row collect;
- encoding applies the merge table per DISTINCT word (Arrow-batched
  mapInPandas — the genuinely iterative per-datum case where a Pandas
  UDF is the right tool), then broadcast-joins the tiny word→tokens map
  back onto the corpus. The corpus itself is never touched by Python.

The per-iteration argmax collect mirrors the union-find driver loop
(cluster.py): n_merges small jobs over a bounded table, localCheckpoint
every few rounds to keep lineage flat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nama_spark.session import local_frame

_EOW = "▁"  # end-of-word marker (SentencePiece's U+2581, visible)


def word_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(word, n): case-folded whitespace word frequencies — the one
    corpus-sized pass BPE needs."""
    return (
        docs.select(
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _initial_symbols(words: DataFrame) -> DataFrame:
    """(word, n, syms): each word split to single characters with the
    end-of-word marker appended to the last one."""
    chars = F.split(F.col("word"), "")
    return words.select(
        "word",
        "n",
        F.concat(
            F.slice(chars, 1, F.size(chars) - 1),
            F.array(F.concat(F.element_at(chars, -1), F.lit(_EOW))),
        ).alias("syms"),
    )


def pair_counts(symbols: DataFrame) -> DataFrame:
    """(left, right, cnt): frequency of adjacent symbol pairs, weighted
    by word count — the BPE objective. One explode + one groupBy."""
    s = F.col("syms")
    pairs = F.when(
        F.size(s) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(s) - 1),
            lambda i: F.struct(
                F.element_at(s, i).alias("left"),
                F.element_at(s, i + 1).alias("right"),
            ),
        ),
    ).otherwise(F.array())
    return (
        symbols.select("n", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("n").alias("cnt"))
    )


def _apply_merge(symbols: DataFrame, left: str, right: str) -> DataFrame:
    """Rewrite every symbol array, replacing adjacent (left, right) with
    the concatenation, left-to-right non-overlapping — a single in-JVM
    aggregate fold, no Python."""
    merged = F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(left + right)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return symbols.select("word", "n", merged.alias("syms"))


def bpe_fit(
    docs: DataFrame,
    n_merges: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_pair_count: int = 2,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the merge
    table (rank, left, right, cnt) in learned order — ties broken
    deterministically by (count desc, left asc, right asc), so the same
    corpus always yields the same tokenizer regardless of partitioning.
    Stops early when no pair reaches ``min_pair_count``.

    ``checkpoint_every=1`` pins the symbol table each iteration so no
    pair-count scan re-executes stacked merge folds (measured 2× at a
    50k-word vocabulary: 4.2 → 2.0 s/merge on local[32]; the remaining
    cost is two fixed-latency jobs per merge). For production-sized
    merge counts (30k+), run the corpus scan here and hand the collected
    — vocabulary-sized — word table to a specialized local trainer; the
    distributed loop is for corpus-scale counting and modest vocabularies."""
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    spark = docs.sparkSession
    syms = _initial_symbols(word_counts(docs, text_col, id_col)).localCheckpoint(
        eager=False
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        top = (
            pair_counts(syms)
            .orderBy(F.col("cnt").desc(), F.col("left"), F.col("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < min_pair_count:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["cnt"])
        merges.append((rank, left, right, cnt))
        syms = _apply_merge(syms, left, right)
        # flatten lineage: each merge adds an aggregate-fold projection
        if (rank + 1) % checkpoint_every == 0:
            syms = syms.localCheckpoint(eager=False)
    return local_frame(
        spark, merges, "rank int, left string, right string, cnt long"
    )


def bpe_encode_words(words: DataFrame, merges: DataFrame) -> DataFrame:
    """(word, tokens array<string>): apply the merge table in rank order
    to each DISTINCT word. The merge loop is data-dependent per word, so
    this is the one Arrow-batched Python step — over the vocabulary
    table only, never the corpus."""
    ranks = {
        (r["left"], r["right"]): r["rank"]
        for r in merges.select("rank", "left", "right").collect()
    }
    spark = words.sparkSession
    bc = spark.sparkContext.broadcast(ranks)

    def encode(batches):
        import pandas as pd

        rk = bc.value
        for pdf in batches:
            out = []
            for w in pdf["word"]:
                syms = list(w[:-1]) + [w[-1] + _EOW] if w else []
                while len(syms) >= 2:
                    best, best_i = None, -1
                    for i in range(len(syms) - 1):
                        r = rk.get((syms[i], syms[i + 1]))
                        if r is not None and (best is None or r < best):
                            best, best_i = r, i
                    if best is None:
                        break
                    syms[best_i : best_i + 2] = [
                        syms[best_i] + syms[best_i + 1]
                    ]
                out.append(syms)
            yield pd.DataFrame({"word": pdf["word"], "tokens": out})

    return words.select("word").distinct().mapInPandas(
        encode, "word string, tokens array<string>"
    )


def bpe_token_counts(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_words, n_bpe_tokens): tokenizer-true token counts per
    document — encode the distinct vocabulary once, broadcast the tiny
    word→token-count map, join it onto the corpus words. The budget
    column chunk/pack stages should use when a real tokenizer matters."""
    wordrows = (
        docs.select(
            F.col(id_col).alias("__id"),
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("word"),
        )
        .where(F.col("word") != "")
        .localCheckpoint(eager=False)  # reused: distinct vocab + join back
    )
    vocab = bpe_encode_words(wordrows.select("word").distinct(), merges)
    per_word = vocab.select("word", F.size("tokens").alias("n_tok"))
    return (
        wordrows.join(F.broadcast(per_word), "word")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
        )
        .select(F.col("__id").alias(id_col), "n_words", "n_bpe_tokens")
    )
