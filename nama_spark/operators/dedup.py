"""Document deduplication — exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine. The large-scale training-data companion to the
record-linkage core: same blocking→score→cluster shape, applied to documents.

All SQL-expressible paths are pure DataFrame ops (cross-checked against
DuckDB oracles in __spark_entry__.py); SimHash uses one Arrow-batched pandas
UDF for the 64-bit bit-bucketing.

Scale notes:
- shingle/self-join passes carry a doc-frequency cap like the token-blocking
  pass (stopword-shingles would otherwise explode the join);
- MinHash signatures use min(md5(shingle || seed)) — engine-portable and
  deterministic (no JVM-specific hash), banded into LSH buckets so the join
  is equi on (band, band_signature);
- near-dup *clusters* (not just pairs) come from the shared CC operator.

Each step the families share is written once, and the operators call it:
- ``_token_windows`` — the k-token window, a document shorter than k as
  one window of its whole text, no window for a NULL text:
  word_shingles, duplicated_span_profile, remove_duplicated_spans;
- ``_minhash_bands`` — MinHash signatures cut into (band, bsig) keys:
  minhash_lsh_pairs, minhash_band_index;
- ``simhash_band_index`` — 16-bit SimHash bands: simhash_near_pairs,
  simhash_near_pairs_delta;
- ``_band_join`` — the collision join on (band, key): ``_band_pairs``
  (minhash_lsh_pairs, simhash_near_pairs), ``_band_pairs_delta`` (their
  _delta twins) and streaming/dedup.py;
- ``_overlap_pairs`` — ub-prefilter → exact verify → measure ≥ t:
  ngram_jaccard_pairs, containment_pairs, winnow_near_pairs.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nama_spark.session import local_frame


# ---------- exact ----------

def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per identical text (hash groupBy — one shuffle).

    The window partitions on md5(text), not the raw text (round 6, guide
    §2.3: shuffle keys, not payloads) — the exchange hashes and sorts a
    16-byte digest instead of whole documents, the same md5-equivalence
    the exact-dedup oracle (q_dedup_exact_docs) already defines."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, canonical_id) for every doc, canonical = min id of identical
    text. Partitioned on md5(text) so only (id, digest) rows shuffle — the
    documents themselves never cross the exchange (guide §2.3)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.min(id_col)
        .over(Window.partitionBy(F.md5(F.col(text_col))))
        .alias("canonical_id"),
    )


# ---------- shingles ----------

def word_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  k: int = 3) -> DataFrame:
    """(doc_id, shingle): distinct k-word shingles, lowercase, whitespace
    tokenized. Array exprs only.

    Tokenization is materialized as its own projection before the shingling
    pass: subexpression elimination does not reach into higher-order-function
    lambdas, so a split() captured in the slice lambda would re-tokenize the
    whole document at every shingle position — O(words²) per doc (the same
    hazard measured at 4× wall on winnow_fingerprints)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tokenized = df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
    shingles = _token_windows(
        F.col("__toks"), k, lambda i, w, n: F.array_join(w, " ")
    )
    # dedup INSIDE the array (in-JVM, per doc) before exploding: the rows
    # are then distinct by construction — the old explode-then-.distinct()
    # paid a full corpus-wide shuffle of the shingle stream for the same
    # result (guide §2.4: remove shuffles outright).
    return tokenized.select(
        "doc_id", F.explode(F.array_distinct(shingles)).alias("shingle")
    )


def _token_windows(t: Column, k: int, window) -> Column:
    """``window(start, tokens, length)`` for every k-token window of the
    token array ``t`` (0-based start, length k); a document shorter than k
    is one window of all its tokens at start 0. A NULL ``t`` (NULL text)
    gives a NULL array, which explodes to no rows — a NULL text has no
    items, so it can neither block with nor band-match another document."""
    n = F.size(t)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - F.lit(k)),
            lambda i: window(i, F.slice(t, i + 1, k), F.lit(k)),
        ),
    ).when(t.isNotNull(), F.array(window(F.lit(0), t, n)))


def _overlap_prefilter(
    items: DataFrame,
    item_col: str,
    max_df: int,
) -> DataFrame:
    """(id0, id1, n_elig, n0, n1, ub) for every blocked candidate pair:
    n_elig = shared items with df in [2, max_df] (counted during pair
    enumeration — the same shuffle the old distinct paid), ub = n_elig +
    min(hot0, hot1) an upper bound on the true intersection size (hot =
    items with df > max_df, never enumerated pairwise), n0/n1 the exact
    per-doc set sizes. See _pair_overlap's caller docstrings for the
    exactness argument: any measure monotone in |∩| evaluated at ub can
    prefilter candidates with zero false drops."""
    dfreq = items.groupBy(item_col).agg(F.count(F.lit(1)).alias("df"))
    elig = dfreq.where(
        (F.col("df") >= 2) & (F.col("df") <= max_df)
    ).select(item_col)
    se = items.join(elig, item_col, "left_semi")
    a = se.select(item_col, F.col("doc_id").alias("id0"))
    b = se.select(item_col, F.col("doc_id").alias("id1"))
    partial = (
        a.join(b, item_col)
        .where(F.col("id0") < F.col("id1"))
        .groupBy("id0", "id1")
        .agg(F.count(F.lit(1)).alias("n_elig"))
    )
    sizes = items.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n"))
    hot = dfreq.where(F.col("df") > max_df).select(item_col)
    hcnt = (
        items.join(hot, item_col, "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__h"))
    )
    out = _per_side(_per_side(partial, sizes, "__n", "n"), hcnt, "__h", "h", "left")
    ub = F.col("n_elig") + F.least(
        F.coalesce(F.col("h0"), F.lit(0)), F.coalesce(F.col("h1"), F.lit(0))
    )
    return out.select(
        "id0", "id1", "n_elig", "n0", "n1",
        F.least(ub, F.least("n0", "n1")).alias("ub"),
    )


# Read by no verify path: kept under its name because perfbench's corpus
# workload prints it beside the verify gates.
_VERIFY_BROADCAST_ROWS = 2_000_000
# Candidate-pair count from which _pair_overlap_pre's hot-mask verify pays
# its fixed costs; smaller candidate sets take _pair_overlap's semi-joined
# verify.
_VERIFY_SET_PATH_MIN_PAIRS = 100_000


def _pair_overlap(
    cand: DataFrame, items: DataFrame, item_col: str, n_cand: int
) -> DataFrame:
    """(id0, id1, n_inter, n0, n1) for candidate pairs over an exploded
    (doc_id, <item_col>) set table — the exact shuffled-join verify behind
    ``_pair_overlap_pre``'s small-candidate and over-budget cases.

    ``cand`` is the caller's pinned pair list and ``n_cand`` its count, so
    this verify runs no count of its own. Round-6 shape (guide §2.3/§2.4):
    when the list holds fewer than ``_VERIFY_SET_PATH_MIN_PAIRS`` pairs,
    its doc ids SEMI-JOIN the item table before anything else, so the
    intersection joins and the size aggregate shuffle O(candidate-doc
    items), not the whole corpus — the candidate-driven discipline
    minhash_lsh_pairs_delta already used (measured on winnow_near_pairs at
    sf0.1: the two full ~4M-row fingerprint shuffles of the old verify
    stage drop to the ~500 candidate docs' rows). Exactness is unchanged:
    intersection and set sizes only ever read rows of docs that appear in a
    candidate pair.

    A larger candidate set touches most docs, so the semi-join would cost a
    full pass for ~no reduction (measured at DOC_MULT=10 minhash: +3.4 s of
    pure adaptive machinery): the joins read the caller's item table, which
    ``_pair_overlap_pre`` has already pinned."""
    if n_cand >= _VERIFY_SET_PATH_MIN_PAIRS:
        return _pair_overlap_joined(cand, items, item_col)
    ids = (
        cand.select(F.col("id0").alias("doc_id"))
        .union(cand.select(F.col("id1").alias("doc_id")))
        .distinct()
    )
    it = items.join(ids, "doc_id", "left_semi").localCheckpoint(eager=False)
    return _pair_overlap_joined(cand, it, item_col)


# Byte budget for the broadcast hot-item bitmask matrix (docs-with-hot-items
# × ceil(distinct-hot/64) 8-byte words). Past it the verify falls back to
# the shuffled-join verify (_pair_overlap).
_VERIFY_HOT_MASK_MAX_BYTES = 256 * 2**20
# Driver-collect budget for the (doc_id, bit) int pairs the mask build reads
# (16 B/row through Arrow).
_VERIFY_HOT_COLLECT_ROWS = 16_000_000
_POPCNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def _pair_overlap_pre(
    pre: DataFrame, items: DataFrame, item_col: str, max_df: int
) -> DataFrame:
    """(id0, id1, n_inter, n0, n1) for ``_overlap_prefilter`` survivors —
    the round-6 verify that REUSES the prefilter's exact counts instead of
    re-intersecting full item sets per pair.

    Exactness: every item has df == 1 (unsharable), df in [2, max_df]
    (eligible — counted exactly into ``n_elig`` during pair enumeration) or
    df > max_df (hot). Hence |A∩B| = n_elig + |shared hot items|, and
    n0/n1 from the prefilter are the exact set sizes. Only the hot overlap
    is left to compute per pair, and the hot vocabulary is tiny by
    construction (each hot item repeats > max_df times, so distinct hot ≤
    rows/max_df): each doc's hot set becomes a fixed-width bitmask, the
    whole matrix broadcasts, and per-pair overlap is AND+popcount over
    numpy rows — no per-pair Python sets, no fan-out join, and the
    broadcast shrinks from every doc's full item set to a few mask words.

    Small candidate sets (under ``_VERIFY_SET_PATH_MIN_PAIRS``) keep the
    pre-round-6 semi-join + shuffled verify (the fixed costs here are not
    worth it); more than ``_VERIFY_HOT_COLLECT_ROWS`` hot rows or an
    over-budget mask matrix fall back to the shuffled verify over the
    pinned item table (``_pair_overlap``)."""
    cand = pre.select("id0", "id1", "n_elig", "n0", "n1").localCheckpoint(
        eager=False
    )
    n_cand = cand.count()
    if n_cand < _VERIFY_SET_PATH_MIN_PAIRS:
        return _pair_overlap(cand.select("id0", "id1"), items, item_col, n_cand)

    it = items.localCheckpoint(eager=False)
    spark = cand.sparkSession
    dfreq = it.groupBy(item_col).agg(F.count(F.lit(1)).alias("df"))
    # consumed three times below (stats, vocab, bit join) — pin once
    hot_rows = it.join(
        dfreq.where(F.col("df") > max_df).select(item_col), item_col, "left_semi"
    ).localCheckpoint(eager=False)
    stats = hot_rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("doc_id")).alias("d"),
    ).collect()[0]
    n_hot_rows, n_hot_docs = int(stats["n"]), int(stats["d"])
    passthrough = cand.select(
        "id0", "id1",
        F.col("n_elig").cast("long").alias("n_inter"),
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
    )
    if n_hot_rows == 0:
        # no hot items anywhere: the prefilter counts ARE the verify
        return passthrough
    if n_hot_rows > _VERIFY_HOT_COLLECT_ROWS:
        return _pair_overlap(cand.select("id0", "id1"), it, item_col, n_cand)

    # hot vocabulary is small by construction (each hot item repeats
    # > max_df times: distinct hot ≤ rows/max_df) — collect it, assign bit
    # positions, and ship ONLY (doc_id, bit) ints to the driver through
    # Arrow; raw item values (strings/bytes) never leave the cluster
    hot_vocab = [r[0] for r in hot_rows.select(item_col).distinct().collect()]
    n_bits = len(hot_vocab)
    n_words = (n_bits + 63) // 64
    if (n_hot_docs + 1) * n_words * 8 > _VERIFY_HOT_MASK_MAX_BYTES:
        return _pair_overlap(cand.select("id0", "id1"), it, item_col, n_cand)
    bit_tab = local_frame(
        spark,
        [(v, i) for i, v in enumerate(hot_vocab)],
        T.StructType(
            [it.schema[item_col], T.StructField("__bit", T.IntegerType())]
        ),
    )
    pdf = (
        hot_rows.join(F.broadcast(bit_tab), item_col)
        .select("doc_id", "__bit")
        .toPandas()
    )
    drow, doc_ids = pd.factorize(pdf["doc_id"])
    bits = pdf["__bit"].to_numpy(np.int64)
    # last row stays all-zero: docs with no hot items map there
    mat = np.zeros((len(doc_ids) + 1, n_words), dtype=np.uint64)
    np.bitwise_or.at(
        mat,
        (drow, bits // 64),
        np.uint64(1) << (bits % 64).astype(np.uint64),
    )
    zero_row = len(doc_ids)
    docpos = pd.Series(
        np.arange(len(doc_ids), dtype=np.int64), index=doc_ids
    )
    bc = spark.sparkContext.broadcast((docpos, mat, zero_row))
    out_schema = T.StructType(
        [cand.schema["id0"], cand.schema["id1"]]
        + [T.StructField(c, T.LongType()) for c in ("n_inter", "n0", "n1")]
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cand = cand.repartition(n_parts, F.col("id0"), F.col("id1"))

    def hot_overlap_batches(batches):
        pos, m, zrow = bc.value
        mu8 = m.view(np.uint8)
        w8 = mu8.shape[1]
        for b in batches:
            i0 = pos.reindex(b["id0"]).fillna(zrow).to_numpy(np.int64)
            i1 = pos.reindex(b["id1"]).fillna(zrow).to_numpy(np.int64)
            inter = mu8[i0] & mu8[i1]
            n_hot = (
                _POPCNT8[inter]
                .sum(axis=1, dtype=np.int64)
                if w8
                else np.zeros(len(i0), dtype=np.int64)
            )
            yield pd.DataFrame(
                {
                    "id0": b["id0"],
                    "id1": b["id1"],
                    "n_inter": b["n_elig"].to_numpy(np.int64) + n_hot,
                    "n0": b["n0"].to_numpy(np.int64),
                    "n1": b["n1"].to_numpy(np.int64),
                }
            )

    return cand.mapInPandas(hot_overlap_batches, schema=out_schema)


def _pair_overlap_joined(
    cand: DataFrame, it: DataFrame, item_col: str
) -> DataFrame:
    """The shuffled-join verify: exact intersection counts + set sizes via
    two equi-joins and two size joins (the pre-round-6 shape)."""
    sizes = it.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n"))
    inter = (
        cand.join(it.select(F.col("doc_id").alias("id0"), item_col), "id0")
        .join(
            it.select(F.col("doc_id").alias("id1"), item_col),
            ["id1", item_col],
        )
        .groupBy("id0", "id1")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _per_side(inter, sizes, "__n", "n")


def _per_side(
    pairs: DataFrame, per_doc: DataFrame, col: str, name: str, how: str = "inner"
) -> DataFrame:
    """``pairs`` (id0, id1, ...) with the per-doc column ``col`` of
    ``per_doc`` (doc_id, ``col``) attached to each side: as <name>0 for
    id0, then as <name>1 for id1."""
    for i in "01":
        side = per_doc.select(
            F.col("doc_id").alias(f"id{i}"), F.col(col).alias(f"{name}{i}")
        )
        pairs = pairs.join(side, f"id{i}", how)
    return pairs


def _jaccard(n_inter: Column) -> Column:
    return n_inter / (F.col("n0") + F.col("n1") - n_inter)


def _containment(n_inter: Column) -> Column:
    return n_inter / F.least("n0", "n1")


def _at_least(overlap: DataFrame, name: str, measure, threshold: float) -> DataFrame:
    """``overlap`` (id0, id1, n_inter, n0, n1) plus ``name`` =
    measure(n_inter), keeping the pairs where it is ≥ threshold."""
    return overlap.withColumn(name, measure(F.col("n_inter"))).where(
        F.col(name) >= threshold
    )


def _overlap_pairs(
    items: DataFrame, item_col: str, max_df: int, name: str, measure,
    threshold: float,
) -> DataFrame:
    """Block → ub-prefilter → exact verify → measure ≥ threshold over an
    exploded (doc_id, ``item_col``) set table. Only pairs whose measure AT
    the intersection upper bound clears the threshold reach the verify:
    ub ≥ |∩| and every measure here is monotone in |∩|, so no pair is
    falsely dropped."""
    pre = _overlap_prefilter(items, item_col, max_df)
    cand = pre.where(measure(F.col("ub")) >= threshold)
    return _at_least(
        _pair_overlap_pre(cand, items, item_col, max_df), name, measure,
        threshold,
    )


# ---------- n-gram jaccard near-dup ----------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """(id0, id1, jaccard) for pairs with shingle-set Jaccard ≥ threshold.

    Candidate pairs share ≥1 shingle with doc-frequency in [2, max_df]
    (the skew cap); the exact Jaccard |∩|/|∪| is then computed from
    intersection counts + per-doc set sizes, all relationally.
    """
    # compute-once pin for the multi-join consumers below; localCheckpoint
    # (not cache) so nothing stays pinned in executor storage after the
    # returned frame is consumed (same rationale as winnow_near_pairs)
    sh = word_shingles(df, text_col, id_col, k).localCheckpoint(eager=False)
    # block + upper-bound prefilter (guide §3.2): measured at sf0.1 this
    # cuts the verify set 1.13M → ~hundreds with bit-identical output
    return _overlap_pairs(
        sh, "shingle", max_df, "jaccard", _jaccard, threshold
    ).select("id0", "id1", "jaccard")


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """(id0, id1, n0, n1, containment) for pairs where the SMALLER
    shingle set is ≥ threshold contained in the other: containment =
    |A∩B| / min(|A|,|B|) (Broder 1997's asymmetric resemblance twin).
    Catches a short document quoted inside a long one — a pair symmetric
    Jaccard scores near |A|/|B| and misses at any usable threshold.

    Same candidate discipline as ngram_jaccard_pairs (``_overlap_pairs``):
    blocks on shingles with doc-frequency in [2, max_df], exact
    intersection recomputed over ALL shingles — the df-cap only bounds
    pair enumeration, never the statistic."""
    sh = word_shingles(df, text_col, id_col, k).localCheckpoint(eager=False)
    # same ub-prefilter as ngram_jaccard_pairs: containment is monotone in
    # |∩| too, so pairs below threshold at ub are below it exactly
    return _overlap_pairs(
        sh, "shingle", max_df, "containment", _containment, threshold
    ).select("id0", "id1", "n0", "n1", "containment")


# ---------- MinHash + LSH ----------

def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, sig: array<string>) — sig[i] = min over shingles of
    md5(shingle || ':' || i). md5 is available and identical in Spark, DuckDB
    and Python, so signatures are engine-portable (oracle-checkable)."""
    aggs = [
        F.min(F.md5(F.concat(F.col("shingle"), F.lit(f":{i}")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = shingles.groupBy(F.col(id_col).alias("doc_id")).agg(*aggs)
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def _minhash_bands(shingles: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, bsig): each doc's MinHash signature cut into ``bands``
    bands of num_hashes/bands hashes, each band's hashes joined into one
    join key. num_hashes must split evenly, or some hashes would silently
    band nowhere (and with no hashes every band key is '')."""
    if bands < 1 or num_hashes < 1 or num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of bands ({bands})"
        )
    r = num_hashes // bands
    sig = F.col("sig")
    return _explode_bands(
        minhash_signatures(shingles, num_hashes), ["doc_id"], "bsig",
        [F.concat_ws("|", *[sig[b * r + i] for i in range(r)]) for b in range(bands)],
    )


def _explode_bands(df: DataFrame, keep: list, key: str, band_keys: list) -> DataFrame:
    """(*keep, band, ``key``): one row per band b of every ``df`` row, with
    band_keys[b] as its ``key`` — the band table both LSH families join."""
    arr = F.array(
        *[
            F.struct(F.lit(b).alias("band"), c.alias(key))
            for b, c in enumerate(band_keys)
        ]
    )
    return df.select(*keep, F.explode(arr).alias("bb")).select(
        *keep, F.col("bb.band").alias("band"), F.col(f"bb.{key}").alias(key)
    )


def _band_join(
    left: DataFrame, right: DataFrame, key: str, ids=("id0", "id1"),
    carry: str | None = None,
) -> DataFrame:
    """One row per (band, ``key``) collision of a ``left`` doc with a
    ``right`` doc — the LSH collision join every band-signature candidate
    set here is built from (C2Net's one join over band signatures). Rows
    carry left's doc_id as ids[0] and right's as ids[1]; with ``carry``,
    each side's ``carry`` column rides along as h<last char of its id>."""
    def side(banded: DataFrame, id_name: str) -> DataFrame:
        cols = ["band", key, F.col("doc_id").alias(id_name)]
        if carry is not None:
            cols.append(F.col(carry).alias("h" + id_name[-1]))
        return banded.select(*cols)

    return side(left, ids[0]).join(side(right, ids[1]), ["band", key])


def _band_pairs(banded: DataFrame, key: str, carry: str | None = None) -> DataFrame:
    """Distinct (id0, id1[, h0, h1]), id0 < id1, of the docs of ``banded``
    sharing a full band signature: its self band join, where id0 < id1
    keeps each pair once."""
    return (
        _band_join(banded, banded, key, carry=carry)
        .where(F.col("id0") < F.col("id1"))
        .select("id0", "id1", *(["h0", "h1"] if carry else []))
        .distinct()
    )


def _band_pairs_delta(
    banded: DataFrame, index: DataFrame, key: str, carry: str | None = None
) -> DataFrame:
    """``_band_pairs``' rows for the pairs touching the delta ``banded``,
    joined against ``banded`` ∪ ``index``. A delta doc's partner may have
    the smaller or the larger id, so the join keeps every pair of distinct
    ids and orients it with least/greatest."""
    a_first = F.col("ida") < F.col("idb")
    cols = [
        F.least("ida", "idb").alias("id0"),
        F.greatest("ida", "idb").alias("id1"),
    ]
    if carry is not None:
        cols += [
            F.when(a_first, F.col("ha")).otherwise(F.col("hb")).alias("h0"),
            F.when(a_first, F.col("hb")).otherwise(F.col("ha")).alias("h1"),
        ]
    both = banded.unionByName(index)
    return (
        _band_join(banded, both, key, ("ida", "idb"), carry)
        .where(F.col("ida") != F.col("idb"))
        .select(*cols)
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """Banded MinHash-LSH candidate pairs, optionally verified with exact
    shingle Jaccard. rows = (id0, id1[, jaccard]).

    bands × rows-per-band = num_hashes; docs sharing any full band signature
    become candidates (equi-join on (band, signature) — shuffle-friendly,
    no cross join anywhere).
    """
    # compute-once pin for the multi-join consumers below; localCheckpoint
    # (not cache) so nothing stays pinned in executor storage after the
    # returned frame is consumed (same rationale as winnow_near_pairs)
    sh = word_shingles(df, text_col, id_col, k).localCheckpoint(eager=False)
    cand = _band_pairs(_minhash_bands(sh, num_hashes, bands), "bsig")
    if verify_threshold is None:
        return cand
    # direct joined verify: LSH banding already made the candidate set
    # precise (that is its whole point), so the adaptive path selection of
    # _pair_overlap only adds a count+pin pass here — measured +0.7 s at
    # sf0.1 and no win in either the sparse (1×) or duplicate-heavy (10×)
    # regime
    return _at_least(
        _pair_overlap_joined(cand, sh, "shingle"), "jaccard", _jaccard,
        verify_threshold,
    ).select("id0", "id1", "jaccard")


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(doc_id, band, bsig) — the persistable LSH index of a corpus.

    Write this once per corpus (ideally bucketed on (band, bsig) —
    sources/bucketed.py); daily deltas then dedup against it WITHOUT
    re-scanning corpus text: ``minhash_lsh_pairs_delta``."""
    return _minhash_bands(
        word_shingles(df, text_col, id_col, k), num_hashes, bands
    )


def minhash_lsh_pairs_delta(
    new_df: DataFrame,
    corpus_index: DataFrame,
    corpus_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """Incremental MinHash dedup: near-dup pairs TOUCHING the delta —
    new-vs-corpus via an equi-join of the delta's banded signatures against
    the stored ``corpus_index``, plus new-vs-new within the delta. Δn
    arrivals cost O(Δn · bucket); the corpus is never re-shingled wholesale.

    With ``corpus_df`` (and a verify_threshold), exact shingle Jaccard is
    verified — but only the candidate corpus docs are re-shingled (semi-join
    first), keeping the verify cost proportional to the candidate set.
    Output (id0, id1[, jaccard]) with id0 < id1; params must match the ones
    the index was built with."""
    new_banded = minhash_band_index(
        new_df, text_col, id_col, k, num_hashes, bands
    ).localCheckpoint(eager=False)
    cand = _band_pairs_delta(new_banded, corpus_index, "bsig").localCheckpoint(
        eager=False
    )
    if verify_threshold is None:
        return cand
    if corpus_df is None:
        raise ValueError("corpus_df is required when verify_threshold is set")
    cand_ids = cand.select(F.col("id0").alias("doc_id")).union(
        cand.select(F.col("id1").alias("doc_id"))
    ).distinct()
    # re-shingle ONLY docs that appear in a candidate pair
    texts = new_df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).unionByName(
        corpus_df.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
    ).join(cand_ids, "doc_id", "left_semi")
    sh = word_shingles(texts, "text", "doc_id", k).localCheckpoint(eager=False)
    return _at_least(
        _pair_overlap_joined(cand, sh, "shingle"), "jaccard", _jaccard,
        verify_threshold,
    ).select("id0", "id1", "jaccard")


# ---------- SimHash ----------

def simhash_64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash over word tokens — one Arrow-batched
    pandas UDF (bit math isn't expressible relationally without 64 columns).
    A NULL text has no words to hash and gets a NULL simhash, whose NULL
    band keys join nothing."""
    @F.pandas_udf(T.LongType())
    def sh(texts: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            words = str(t).lower().split()
            # each word's md5 prefix as a big-endian uint64, one row of bits
            h = np.frombuffer(b"".join(
                hashlib.md5(w.encode("utf-8")).digest()[:8] for w in words
            ), dtype=">u8")
            ones = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            # bit i is set where its +1 votes outnumber its −1 votes; the
            # little-endian pack reads as the signed 64-bit LongType value
            out.append(int(np.packbits(2 * ones > len(words),
                                       bitorder="little").view("<i8")[0]))
        return pd.Series(out, dtype="Int64")

    return df.select(F.col(id_col).alias("doc_id"), sh(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming, blocked on
    16-bit bands (a pair within hamming 3 shares at least one of 4 bands)."""
    cand = _band_pairs(
        simhash_band_index(df, text_col, id_col), "bh", carry="simhash"
    )
    return _within_hamming(cand, max_hamming)


def _within_hamming(cand: DataFrame, max_hamming: int) -> DataFrame:
    hamming = F.bit_count(F.col("h0").bitwiseXOR(F.col("h1")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id0", "id1", "hamming")
    )


def simhash_band_index(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash, band, bh) — persistable SimHash band index of a
    corpus (16-bit bands; pigeonhole-complete for hamming ≤ 3). Same
    index-once / delta-join-daily pattern as minhash_band_index."""
    return _explode_bands(
        simhash_64(df, text_col, id_col), ["doc_id", "simhash"], "bh",
        [
            F.shiftrightunsigned(F.col("simhash"), b * 16).bitwiseAND(F.lit(0xFFFF))
            for b in range(4)
        ],
    )


def simhash_near_pairs_delta(
    new_df: DataFrame,
    corpus_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Incremental SimHash near-dups: pairs TOUCHING the delta — the delta's
    bands equi-join the stored corpus index (plus delta-vs-delta). The
    signatures ride in the index, so the corpus is never re-hashed and no
    corpus text is needed at all. Output (id0, id1, hamming), id0 < id1."""
    new_banded = simhash_band_index(new_df, text_col, id_col).localCheckpoint(
        eager=False
    )
    cand = _band_pairs_delta(new_banded, corpus_index, "bh", carry="simhash")
    return _within_hamming(cand, max_hamming)


# ---------- winnowing (MOSS) ----------

def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """(doc_id, fp) — winnowed document sketch (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03 —
    the MOSS code-plagiarism sketch, the standard near-dup fingerprint for
    source code): hash every char k-gram, slide a window of ``window``
    hashes, keep each window's minimum. Guarantee: any shared substring of
    length ≥ k + window − 1 contributes at least one shared fingerprint.

    Pure array expressions end to end (sequence → substr → md5 → slice →
    array_min → explode) — no Python, engine-portable hashes (md5 hex, min
    is lexicographic on both Spark and DuckDB). Documents shorter than k
    fingerprint as their own whole-text hash.

    The k-gram hash array is materialized as its OWN projection before the
    sliding-min pass. Folded into one expression, the `grams` subtree sits
    inside the sliding window's lambda body, and Spark's subexpression
    elimination does not reach into higher-order-function lambdas — every
    window position re-hashed the whole document: O(len²) md5s/doc.
    Measured on the full near-pairs query at sf0.01 (500 docs): 90.7 s →
    21.8 s from this split alone (the fingerprint stage itself: 1.3 s).
    Catalyst's CollapseProject keeps the barrier because `__grams` is
    non-cheap and referenced more than once.
    """
    s = F.lower(F.trim(F.col(text_col)))
    n = F.length(s)
    # guard short docs: an inverted F.sequence runs backwards, never error out
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.md5(s.substr(i, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(s).alias("__whole"),
        grams.alias("__grams"),
    )
    g = F.col("__grams")
    n_g = F.size(g)
    mins = F.when(
        n_g >= window,
        F.transform(
            F.sequence(F.lit(1), n_g - F.lit(window - 1)),
            lambda j: F.array_min(F.slice(g, j, window)),
        ),
    ).otherwise(
        # a NULL text (NULL __whole) has no fingerprint at all
        F.when(n_g > 0, g).when(
            F.col("__whole").isNotNull(), F.array(F.col("__whole"))
        )
    )
    # array_distinct already ran per doc, so (doc_id, fp) rows are distinct
    # by construction — the old trailing .distinct() re-shuffled the whole
    # fingerprint stream (~4M rows at sf0.1) for nothing (guide §2.4).
    return hashed.select(
        "doc_id",
        F.explode(F.array_distinct(mins)).alias("fp"),
    )


def winnow_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """(id0, id1, jaccard) over winnowed fingerprint SETS — the same
    block→intersect→jaccard shape as ngram_jaccard_pairs but over the much
    smaller winnowed sketch (≈ 2/(window+1) of the k-gram count), with the
    usual doc-frequency skew cap on blocking fingerprints.

    ``max_df`` defaults LOW (100): char-8-gram fingerprints shared by
    hundreds of documents are boilerplate, not evidence — exactly the
    fingerprints MOSS drops — and each df-D fingerprint contributes
    O(D²) candidate pairs. Measured on the sf0.1 corpus (5,000 docs,
    threshold 0.2): max_df 1000 → 262 pairs in 107 s; max_df 100 →
    256 of those pairs (97.7%) in 29 s; the pairs lost share ONLY
    ultra-common fingerprints."""
    # fps feeds 4 joins below; localCheckpoint (not cache) computes it once
    # AND truncates its lineage without leaving storage pinned forever in a
    # long-lived session — a lazy .cache() here is never unpersisted because
    # the result is returned unevaluated.
    # fp values are only join/group keys from here on (the output carries
    # ids + jaccard, never fps) — unhex the md5 to 16 raw bytes so the
    # verify fan-out shuffles 16-byte binary keys instead of 32-char hex
    # strings (guide §2.3: narrower types; md5-hex → bytes is bijective)
    fps = (
        winnow_fingerprints(df, text_col, id_col, k, window)
        .select("doc_id", F.unhex("fp").alias("fp"))
        .localCheckpoint(eager=False)
    )
    # block + ub-prefilter + exact verify on survivors (see ngram_jaccard);
    # the verify reuses the prefilter's exact n_elig/n0/n1 — only the hot
    # overlap is computed per pair (bitmask AND+popcount, _pair_overlap_pre)
    return _overlap_pairs(
        fps, "fp", max_df, "jaccard", _jaccard, threshold
    ).select("id0", "id1", "jaccard")


# ---------- near-dup clusters ----------

def near_dup_clusters(pairs: DataFrame, all_ids: DataFrame,
                      id_col: str = "doc_id") -> DataFrame:
    """(doc_id, cluster_id) — connected components over near-dup pairs; docs
    with no near-dup are their own cluster."""
    from nama_spark.operators.cluster import labels_for_nodes

    labels = labels_for_nodes(
        all_ids.select(F.col(id_col).cast("string").alias("node")),
        pairs.select(
            F.col("id0").cast("string").alias("src"),
            F.col("id1").cast("string").alias("dst"),
        ),
        node_col="node",
    )
    return labels.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("cluster_id"),
    )


def select_canonical_docs(
    docs: DataFrame,
    clusters: DataFrame,
    priority_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """``docs`` reduced to ONE survivor per near-dup cluster: the member
    with the highest ``priority_col`` (ties → smallest id), or simply the
    smallest id when no priority is given. Web-corpus builds keep the
    best member — longest text, highest quality score — rather than an
    arbitrary one (FineWeb/RefinedWeb practice), so the min-id rule the
    pipeline stages default to gets a policy hook here. Schema-preserving.

    ``clusters`` is a (doc_id, cluster_id) map (near_dup_clusters output).
    Shape: two groupBys on cluster_id (max priority, then min id among the
    tied) — cluster-key aggs, no windows, so a pathological giant cluster
    is two wide agg rows, never one task's sort buffer."""
    if priority_col is None:
        best = clusters.groupBy("cluster_id").agg(F.min("doc_id").alias(id_col))
    else:
        members = clusters.join(
            docs.select(
                F.col(id_col).alias("doc_id"), F.col(priority_col).alias("__p")
            ),
            "doc_id",
        )
        mx = members.groupBy("cluster_id").agg(F.max("__p").alias("__p"))
        best = (
            members.join(mx, ["cluster_id", "__p"])
            .groupBy("cluster_id")
            .agg(F.min("doc_id").alias(id_col))
        )
    return docs.join(best.select(id_col), id_col, "left_semi")


# ---------- leak-free corpus splits ----------

def split_documents_leakfree(
    docs: DataFrame,
    pairs: DataFrame,
    val_fraction: float = 0.1,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, cluster_id, split) — train/val assignment where every
    near-dup CLUSTER lands wholly in one split (the dedup-aware analog of
    evaluate.split_on_groups: splitting at the document level leaks
    near-duplicates of training docs into validation, inflating every
    eval metric). ``pairs`` = any near-dup pair set (id0, id1, ...).

    The split hashes the cluster id through md5 (engine-portable, unlike
    xxhash64) → uniform in [0,1) → val iff u < val_fraction. Deterministic
    in (cluster_id, seed); adding documents never moves an existing
    cluster across splits unless the clusters themselves merge."""
    clusters = near_dup_clusters(
        pairs.select("id0", "id1"),
        docs.select(F.col(id_col).alias("doc_id")).distinct(),
    )
    # first 12 md5 hex digits → 48-bit uniform (exact in a double)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("cluster_id"), F.lit(str(seed)))),
                1, 12,
            ),
            16, 10,
        ).cast("double")
        / F.lit(float(1 << 48))
    )
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(u < F.lit(float(val_fraction)), F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def duplicated_span_profile(
    docs: DataFrame,
    k: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_occ: int = 2,
) -> DataFrame:
    """(``id_col``, n_windows, n_dup, dup_frac) — for each document, the
    fraction of its k-token windows whose exact token sequence occurs
    ≥ ``min_occ`` times corpus-wide, counting EVERY occurrence (within-
    and cross-document). This is the ExactSubstr duplication signal of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (ACL 2022): whole-document MinHash misses partial overlap —
    a page quoting a duplicated boilerplate block, a doc that repeats
    its own content — while the per-window occurrence count catches any
    verbatim span of ≥ k tokens. The suffix-array construction of the
    paper is replaced by a relational twin: fixed-k windows + one
    occurrence groupBy (a span of length L ≥ k duplicates L−k+1 windows,
    so long shared spans dominate dup_frac exactly as they dominate the
    suffix-array's match length).

    Shape at scale: one tokenization projection (materialized before the
    window lambda — the word_shingles O(words²) hazard), windows hashed
    in-JVM (md5 of the joined window; engine-portable), ONE occurrence
    groupBy on the hash (zipfian-hot boilerplate windows collapse to
    single agg rows), one hash-join back, one per-doc agg. Everything is
    linear in total token count; no pair enumeration anywhere.

    Windows are counted WITH multiplicity (each position is a window);
    documents shorter than ``k`` tokens contribute their whole text as a
    single window, so every document with a non-NULL text gets a row and
    dup_frac is always defined."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tokenized = docs.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
    hashes = _token_windows(
        F.col("__toks"), k, lambda i, w, n: F.md5(F.array_join(w, " "))
    )
    win = tokenized.select("__id", F.explode(hashes).alias("h"))
    occ = win.groupBy("h").agg(F.count(F.lit(1)).alias("occ"))
    return (
        win.join(occ, "h")
        .groupBy(F.col("__id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("occ") >= min_occ).cast("long")).alias("n_dup"),
        )
        .withColumn(
            "dup_frac", F.col("n_dup") / F.col("n_windows").cast("double")
        )
    )


def drop_duplicated_span_docs(
    docs: DataFrame,
    k: int = 16,
    max_dup_frac: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_occ: int = 2,
) -> DataFrame:
    """``docs`` with documents whose duplicated-span fraction exceeds
    ``max_dup_frac`` REMOVED (left-anti through duplicated_span_profile) —
    the document-level action on the Lee et al. signal: drop pages that
    are mostly verbatim copies of corpus-wide spans even when no single
    whole-document near-duplicate exists. A NULL text has no profile row
    and no duplicated span, so it stays. Schema-preserving."""
    drop = duplicated_span_profile(
        docs, k=k, text_col=text_col, id_col=id_col, min_occ=min_occ
    ).where(F.col("dup_frac") > F.lit(float(max_dup_frac)))
    return docs.join(drop.select(id_col), id_col, "left_anti")


def remove_duplicated_spans(
    docs: DataFrame,
    k: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_occ: int = 2,
) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al., ACL 2022 — the released
    deduplicate-text-datasets tool removes EVERY occurrence of a
    duplicated substring; the paper notes this over-removal is harmless):
    cut from each document every token covered by a k-token window whose
    exact (case-folded) sequence occurs ≥ ``min_occ`` times corpus-wide,
    and reassemble the survivors in original order. The document-level
    gate on the same signal is drop_duplicated_span_docs; this is the
    span-level action — a page quoting one boilerplate block loses the
    block, not the page.

    Returns (``id_col``, text_clean, n_tokens, n_removed); fully-
    duplicated documents survive with text_clean = ''. A NULL-text
    document has no tokens and gets no row.

    Shape at scale: window hashes are md5s of joined slices (the
    duplicated_span_profile projection), ONE occurrence groupBy on the
    hash (hot boilerplate windows are single agg rows), coverage is an
    explode of duplicated windows × k positions (≤ k·tokens rows, linear),
    removal is a left-anti join on (doc, pos) — duplicate coverage rows
    need no distinct — and re-assembly is the dedup_paragraphs groupBy
    with an in-JVM array_sort. No pair enumeration, no windows."""
    raw = F.split(F.trim(F.col(text_col)), r"\s+")
    tokenized = docs.select(
        F.col(id_col).alias("__id"), raw.alias("__toks")
    ).localCheckpoint(eager=False)
    t = F.col("__toks")
    wins = _token_windows(
        t,
        k,
        lambda i, w, n: F.struct(
            i.alias("wpos"),
            F.md5(F.lower(F.array_join(w, " "))).alias("h"),
            n.alias("clen"),
        ),
    )
    winpos = tokenized.select("__id", F.explode(wins).alias("w")).select(
        "__id", F.col("w.wpos").alias("wpos"), F.col("w.h").alias("h"),
        F.col("w.clen").alias("clen"),
    )
    occ = winpos.groupBy("h").agg(F.count(F.lit(1)).alias("occ"))
    dup = winpos.join(occ.where(F.col("occ") >= min_occ).select("h"), "h")
    covered = dup.select(
        "__id",
        F.explode(
            F.sequence(F.col("wpos"), F.col("wpos") + F.col("clen") - 1)
        ).alias("pos"),
    )
    tokpos = tokenized.select(
        "__id", F.posexplode(t).alias("pos", "tok")
    )
    kept = tokpos.join(covered, ["__id", "pos"], "left_anti")
    return (
        _reassemble(kept, tokpos, "__id", "tok", " ", "n_tokens")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long").alias("n_removed"),
        )
    )


def dedup_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style paragraph-level dedup (Wenzek et al. 2020): drop every
    paragraph whose NORMALIZED form (lower + trim) occurs in ≥ ``min_df``
    distinct documents corpus-wide — boilerplate headers, footers, cookie
    banners, licence blocks — and reassemble each document's surviving
    paragraphs in their original order.

    Shape at scale: posexplode → one hash groupBy (count DISTINCT doc per
    normalized-paragraph md5) → left-anti join → one groupBy re-assembly
    with an in-JVM array_sort on (pos, para). Paragraph df is naturally
    zipfian; the groupBy key is the md5, so the hot boilerplate keys are
    single aggregation rows, not wide groups. Within-document repeats are
    NOT dropped (df counts distinct docs) — corpus-wide boilerplate only.

    Returns (``id_col``, text_clean, n_kept, n_dropped); documents whose
    every paragraph was boilerplate survive with text_clean = ''.
    """
    # ``sep`` is a LITERAL separator (the oracle splits literally, and the
    # reassembly joins literally) — F.split takes a Java regex, so escape
    # metacharacters ('.', '||', ...) before handing it over.
    paras = docs.select(
        id_col,
        F.posexplode(
            F.split(F.col(text_col), re.escape(sep))
        ).alias("pos", "para"),
    )
    norm = F.lower(F.trim(F.col("para")))
    pdf = paras.withColumn("h", F.md5(norm)).where(norm != "")
    hot = (
        pdf.groupBy("h")
        .agg(F.countDistinct(id_col).alias("df"))
        .where(F.col("df") >= min_df)
        .select("h")
    )
    kept = pdf.join(hot, "h", "left_anti")
    return (
        _reassemble(kept, pdf, id_col, "para", sep, "n_total")
        .select(
            id_col,
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_total") - F.coalesce("n_kept", F.lit(0)))
            .cast("long").alias("n_dropped"),
        )
    )


def _reassemble(
    kept: DataFrame, every: DataFrame, key: str, piece: str, sep: str, total: str
) -> DataFrame:
    """(``key``, ``total``, text_clean, n_kept): per document, the count of
    all its (key, pos, ``piece``) rows in ``every`` and its ``kept`` pieces
    re-joined by ``sep`` in pos order (an in-JVM array_sort); a document
    with no kept piece gets NULL text_clean and n_kept."""
    reasm = kept.groupBy(key).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", piece))),
                lambda s: s[piece],
            ),
            sep,
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = every.groupBy(key).agg(F.count(F.lit(1)).alias(total))
    return totals.join(reasm, key, "left")


# ---------- URL-level dedup ----------

def url_dedup(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """(``id_col``, url_norm, canonical_id) — exact dedup on the CANONICAL
    form of a URL column (functions/url.py rule set: case/port/www/
    fragment/tracking-param/trailing-slash normalization). canonical_id is
    the min id among docs sharing a normalized URL; filter
    ``id == canonical_id`` to keep one fetch per page. This is the first,
    cheapest dedup stage of a web-corpus build (CCNet/FineWeb order:
    URL dedup → exact text → near-dup) — one hash groupBy on a short
    string key, no text ever shuffles."""
    from nama_spark.functions.url import normalize_url

    normed = docs.select(
        F.col(id_col), normalize_url(url_col).alias("url_norm")
    )
    canon = normed.groupBy("url_norm").agg(F.min(id_col).alias("canonical_id"))
    return normed.join(canon, "url_norm").select(id_col, "url_norm", "canonical_id")
