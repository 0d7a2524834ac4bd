"""Text-analysis column functions for training-data pipelines — language-ID,
quality scoring, token counting, document fingerprinting. All pure Column
expressions (JVM-side), DuckDB-oracle-checkable."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from nama_spark.functions.normalize import ENGLISH_STOPWORDS

# tiny per-language marker sets for the n-gram/stopword heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "it", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "pour", "que", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "por", "que", "con"],
}


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _words(c: Column) -> Column:
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda w: w != F.lit(""))


def token_count(c: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(_words(_col(c)))


def word_token_count(c: Column | str) -> Column:
    """BPE-ish sub-token estimate: words + extra tokens for long words
    (a word of length L counts ceil(L/4) tokens) — a cheap, deterministic
    proxy for tokenizer budgeting."""
    return F.aggregate(
        _words(_col(c)),
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("int"),
    )


def _fold_words(c: Column | str, counts: dict, finish, null_value) -> Column:
    """One tokenization pass: fold the words of ``c`` into the int
    counters ``counts`` (name → per-word int Column of the word), then map
    the counter struct through ``finish``; NULL text gives ``null_value``.

    Every profile column goes through here because Spark does not
    eliminate common subexpressions that contain lambda variables: each
    separate reference to ``_words(c)`` (or to an aggregate over it)
    splits, lowercases and filters the whole document again."""
    zero = F.struct(*[F.lit(0).alias(k) for k in counts])
    return F.coalesce(
        F.aggregate(
            _words(_col(c)),
            zero,
            lambda acc, w: F.struct(
                *[(acc[k] + f(w)).alias(k) for k, f in counts.items()]
            ),
            finish,
        ),
        F.lit(null_value),
    )


def _is_in(words: list[str]):
    # isin inside the lambda is rewritten to an InSet hash lookup (past
    # spark.sql.optimizer.inSetConversionThreshold literals), not a linear
    # array_contains scan
    return lambda w: w.isin(list(words)).cast("int")


def _word_mean(c: Column | str, per_word) -> Column:
    """Mean of the int Column ``per_word(w)`` over the words of ``c``; 0.0
    for NULL or wordless text."""
    return _fold_words(
        c,
        {"n": lambda w: F.lit(1), "total": per_word},
        lambda a: F.when(a["n"] > 0, a["total"] / a["n"]).otherwise(F.lit(0.0)),
        0.0,
    )


def stopword_ratio(c: Column | str, stopwords: list[str] | None = None) -> Column:
    return _word_mean(c, _is_in(stopwords or ENGLISH_STOPWORDS))


def punct_ratio(c: Column | str) -> Column:
    s = _col(c)
    n = F.length(s)
    n_punct = n - F.length(F.regexp_replace(s, r"[^\w\s]", ""))
    return F.when(n > 0, n_punct / n).otherwise(F.lit(0.0))


def mean_word_length(c: Column | str) -> Column:
    return _word_mean(c, F.length)


def quality_score(c: Column | str) -> Column:
    """[0,1] document-quality heuristic from length / punctuation / stopword
    signals (Gopher/C4-style rule-of-thumb filters, expressed as one expr):
    0.4·len_ok + 0.3·stopword_ok + 0.3·punct_ok."""
    col = _col(c)
    p = punct_ratio(col)
    p_ok = F.when(p <= 0.2, 1.0).otherwise(F.when(p <= 0.4, 0.5).otherwise(0.0))

    def finish(a):
        n_tok = a["n"]
        # score is only evaluated for n_tok > 0
        len_ok = F.when((n_tok >= 10) & (n_tok <= 10000), 1.0).otherwise(0.5)
        sw = a["n_stop"] / n_tok
        sw_ok = F.when((sw >= 0.05) & (sw <= 0.7), 1.0).otherwise(0.0)
        score = F.round(0.4 * len_ok + 0.3 * sw_ok + 0.3 * p_ok, 6)
        return F.when(n_tok > 0, score).otherwise(F.lit(0.0))

    return _fold_words(
        col, {"n": lambda w: F.lit(1), "n_stop": _is_in(ENGLISH_STOPWORDS)},
        finish, 0.0,
    )


def lang_id(c: Column | str) -> Column:
    """Marker-stopword language ID: argmax language by marker hit-count over
    whitespace tokens, the first of ``_LANG_MARKERS`` on a tie; 'und'
    (undetermined) when nothing matches. One pass counts every language;
    the expression grows linearly with the number of languages."""
    langs = list(_LANG_MARKERS)

    def finish(a):
        counts = F.array(*[a[lang] for lang in langs])
        top = F.array_max(counts)
        first_top = F.array_position(counts, top).cast("int")
        return F.when(top == 0, F.lit("und")).otherwise(
            F.element_at(F.array(*[F.lit(lang) for lang in langs]), first_top)
        )

    return _fold_words(
        c, {lang: _is_in(_LANG_MARKERS[lang]) for lang in langs},
        finish, "und",
    )


def fingerprint(c: Column | str) -> Column:
    """Normalized-content fingerprint: md5 of lowercase, whitespace-collapsed
    text — stable across engines (docs with the same normalized content get
    the same fingerprint)."""
    norm = F.regexp_replace(F.lower(F.trim(_col(c))), r"\s+", " ")
    return F.md5(norm)


def doc_keywords(
    df,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """(doc_id, keyword, tfidf, rank) — top-k TF-IDF keywords per document
    (corpus profiling / index summarization). tf = in-doc term count,
    idf = ln(N / df) over distinct-doc frequency; ties break on the word
    ascending so the ranking is total and engine-portable. Two shuffles:
    token explode → (doc, word) counts + df agg, then one window per doc."""
    from pyspark.sql import DataFrame, Window

    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_words(F.col(text_col))).alias("word"),
    )
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # 1-row corpus total rides in as a broadcast crossJoin so the whole
    # operator stays lazy (no job at plan-construction time)
    n = df.agg(F.countDistinct(id_col).alias("__n_docs"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("word").asc()
    )
    return (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("__n_docs").cast("double") / F.col("df")),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", F.col("word").alias("keyword"), "tfidf", "rank")
    )


def chunk_documents(
    df,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """(doc_id, chunk_seq, chunk_text, n_tokens) — fixed-size token windows
    with overlap (training-example preparation: context windows stride by
    chunk_tokens − overlap so no boundary content is lost). Whitespace
    tokens; the final chunk may be short; an empty document yields one
    empty chunk (row-count preserving for auditability).

    The token array is materialized as its own projection before the
    windowing transform — the split() would otherwise re-evaluate at every
    chunk start (higher-order-lambda subexpression hazard, see
    dedup.word_shingles)."""
    from pyspark.sql import functions as F

    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tokenized = df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
    t = F.col("__toks")
    n = F.size(t)
    starts = F.when(
        n > chunk_tokens,
        F.sequence(F.lit(0), n - F.lit(overlap) - F.lit(1), F.lit(step)),
    ).otherwise(F.array(F.lit(0)))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            (s / F.lit(step)).cast("long").alias("chunk_seq"),
            F.array_join(F.slice(t, s + 1, chunk_tokens), " ").alias("chunk_text"),
            F.least(n - s, F.lit(chunk_tokens)).cast("long").alias("n_tokens"),
        ),
    )
    return tokenized.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id",
        F.col("c.chunk_seq").alias("chunk_seq"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


def pack_chunks(
    chunks,
    budget_tokens: int = 2048,
    id_col: str = "doc_id",
    seq_col: str = "chunk_seq",
    tokens_col: str = "n_tokens",
):
    """(doc_id, chunk_seq, pack_id) — assign chunks to fixed-budget training
    sequences by running token count in deterministic (doc_id, chunk_seq)
    order: pack_id = floor((cumsum − n) / budget). The streaming-friendly
    first-fit approximation (a chunk may straddle two packs' budget line;
    exact bin packing is NP-hard and order-destroying): average pack fill is
    ≥ 1 − max_chunk/budget. The running sum is the DISTRIBUTED global
    cumsum (block.global_cumsum: range partition + local window + offset
    prefix — never Exchange SinglePartition)."""
    from pyspark.sql import functions as F

    from nama_spark.operators.block import global_cumsum

    cs = global_cumsum(
        chunks, [id_col, seq_col], tokens_col, out_col="__cum"
    )
    return cs.select(
        id_col,
        seq_col,
        ((F.col("__cum") - F.col(tokens_col)) / F.lit(int(budget_tokens)))
        .cast("long")
        .alias("pack_id"),
    )
