"""String normalization as pure Column expressions — no UDFs.

Reference semantics (cited against /root/reference):

- ``simplify``       — nama/utils.py:6-26
- ``simplify_corp``  — nama/utils.py:29-57
- ``remove_stopwords`` — docs/nama/utils.html (module absent from the code
  snapshot; behavior: drop words whose lowercase form is an english stopword,
  splitting on whitespace and joining with single spaces)
- ``clean_name``     — training/build_opensecrets_training_data.py:27-41

All are implemented as chained built-in functions so Catalyst constant-folds,
pushes predicates through them, and keeps them inside whole-stage codegen.
Spark uses Java regex (lookbehind/lookahead supported — unlike RE2 engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Inner punctuation between two non-space chars is deleted (utils.py:22):
# "O'Brien" -> "obrien", "A.B.C." -> "abc." (trailing dot then collapsed).
_INNER_PUNCT = r"(?<=\S)['’´\.](?=\S)"

# Any run of whitespace/listed punctuation collapses to one space (utils.py:23).
_PUNCT_RUN = (
    "[\\s\\.,!@#$%^&*:;/'\"`"
    "´‘’“”"
    "\\(\\)_—\\-]+"
)

# One trailing run of corporate suffixes, after 'the ' prefix strip
# (utils.py:48-55). Anchored at $, so at most one replacement occurs —
# equivalent to the reference's count=1.
CORP_SUFFIX_REGEX = (
    "( (group|holding(s)?( co)?|inc(orporated)?|ltd|l ?l? ?[cp]"
    "|co(rp(oration)?|mpany)?|s[ae]|plc))+$"
)

# The classic english stopword list (public domain; same set NLTK ships).
ENGLISH_STOPWORDS = [
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "you're", "you've", "you'll", "you'd", "your", "yours", "yourself",
    "yourselves", "he", "him", "his", "himself", "she", "she's", "her",
    "hers", "herself", "it", "it's", "its", "itself", "they", "them",
    "their", "theirs", "themselves", "what", "which", "who", "whom",
    "this", "that", "that'll", "these", "those", "am", "is", "are", "was",
    "were", "be", "been", "being", "have", "has", "had", "having", "do",
    "does", "did", "doing", "a", "an", "the", "and", "but", "if", "or",
    "because", "as", "until", "while", "of", "at", "by", "for", "with",
    "about", "against", "between", "into", "through", "during", "before",
    "after", "above", "below", "to", "from", "up", "down", "in", "out",
    "on", "off", "over", "under", "again", "further", "then", "once",
    "here", "there", "when", "where", "why", "how", "all", "any", "both",
    "each", "few", "more", "most", "other", "some", "such", "no", "nor",
    "not", "only", "own", "same", "so", "than", "too", "very", "s", "t",
    "can", "will", "just", "don", "don't", "should", "should've", "now",
    "d", "ll", "m", "o", "re", "ve", "y", "ain", "aren", "aren't",
    "couldn", "couldn't", "didn", "didn't", "doesn", "doesn't", "hadn",
    "hadn't", "hasn", "hasn't", "haven", "haven't", "isn", "isn't", "ma",
    "mightn", "mightn't", "mustn", "mustn't", "needn", "needn't", "shan",
    "shan't", "shouldn", "shouldn't", "wasn", "wasn't", "weren",
    "weren't", "won", "won't", "wouldn", "wouldn't",
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def simplify(c: Column | str) -> Column:
    """Lowercase; ' & '→' and '; strip inner apostrophes/periods; collapse
    punctuation runs to a single space; trim.  (nama/utils.py:6-26)"""
    out = F.lower(_col(c))
    out = F.regexp_replace(out, " & ", " and ")
    out = F.regexp_replace(out, _INNER_PUNCT, "")
    out = F.regexp_replace(out, _PUNCT_RUN, " ")
    return F.trim(out)


def simplify_corp(c: Column | str) -> Column:
    """``simplify`` + strip leading 'the ' + one trailing corporate-suffix run.
    (nama/utils.py:29-57)"""
    out = simplify(c)
    out = F.regexp_replace(out, "^the ", "")
    return F.regexp_replace(out, CORP_SUFFIX_REGEX, "")


def remove_stopwords(c: Column | str, stopwords: list[str] | None = None) -> Column:
    """Drop whitespace-separated words whose lowercase form is a stopword;
    rejoin with single spaces.  (docs/nama/utils.html remove_stopwords)"""
    # isin inside the lambda is rewritten to an InSet hash lookup, not a
    # linear array_contains scan over the stopword list
    stopset = list(stopwords or ENGLISH_STOPWORDS)
    words_arr = F.filter(
        F.split(F.trim(_col(c)), r"\s+"),
        lambda w: (w != F.lit("")) & ~F.lower(w).isin(stopset),
    )
    return F.array_join(words_arr, " ")


# the reference's exact patterns (training/build_opensecrets_training_data.py:27-41)
_OBO_PAT = r"(?i)([ \(]on behalf of|obo) ([^\)]+)"
_MULTI_NAME_PAT = (
    r"(?i)([/\(\)\[\]\{\}]|f[/\.]?k[/\.]?a|formerly|\(for|doing business as"
    r"|d/?b/?a)|on behalf of| OBO |in affiliation with"
)


def clean_name(c: Column | str) -> Column:
    """Raw client-name cleaner, reference-exact
    (training/build_opensecrets_training_data.py:27-41):

    1. standardize whitespace;
    2. keep the represented entity of "… on behalf of X" / "… obo X"
       (regex group 2 — the quirks are the reference's: 'obo' matches without
       a word boundary, the capture stops at a closing paren);
    3. NULL strings that look like multiple names (slashes/brackets, f/k/a,
       formerly, d/b/a, a REMAINING 'on behalf of', ' OBO ', 'in affiliation
       with') — the check runs on the extracted part, so nested
       'on behalf of' chains drop."""
    out = F.trim(F.regexp_replace(_col(c), r"\s+", " "))
    out = F.when(
        out.rlike(_OBO_PAT), F.trim(F.regexp_extract(out, _OBO_PAT, 2))
    ).otherwise(out)
    return F.when(out.rlike(_MULTI_NAME_PAT), F.lit(None)).otherwise(out)


def norm_key(c: Column | str, kind: str = "simplify_corp") -> Column:
    """A normalization key for exact-key blocking (EP-2 in SURVEY.md §3)."""
    if kind == "simplify":
        return simplify(c)
    if kind == "simplify_corp":
        return simplify_corp(c)
    if kind == "lower":
        return F.lower(F.trim(_col(c)))
    if kind == "soundex":
        return soundex_key(c)
    if kind == "fingerprint":
        return fingerprint_key(c)
    raise ValueError(f"unknown norm key kind: {kind}")


def soundex_key(c: Column | str, word: int = 1) -> Column:
    """Phonetic blocking key (classic ER blocker — Christen, "Data
    Matching" ch. 4; beyond the reference): Soundex of the ``word``-th
    whitespace word, computed on a letters-only uppercase form so the code
    is defined purely by the published algorithm (Spark's builtin follows
    the US-census rules incl. the H/W collapse — pinned by test against the
    spec examples). Empty/no-letter inputs key to NULL (excluded from
    blocking, like empty normalization keys)."""
    w = F.element_at(F.split(F.trim(_col(c)), r"\s+"), word)
    letters = F.regexp_replace(F.upper(w), "[^A-Z]", "")
    return F.when(letters != "", F.soundex(letters)).otherwise(F.lit(None))


def fingerprint_key(c: Column | str) -> Column:
    """Key-collision clustering fingerprint (the OpenRefine/Google-Refine
    "fingerprint method"; beyond the reference): lowercase, strip to
    alphanumerics, split, dedupe, SORT the words, rejoin. Word order and
    repetition stop mattering — 'acme corp'/'Corp. ACME' collide. Empty
    results key to NULL (excluded from blocking)."""
    words_arr = F.array_sort(
        F.array_distinct(
            F.filter(
                F.split(
                    F.regexp_replace(F.lower(_col(c)), r"[^a-z0-9\s]", " "),
                    r"\s+",
                ),
                lambda w: w != F.lit(""),
            )
        )
    )
    out = F.array_join(words_arr, " ")
    return F.when(out != "", out).otherwise(F.lit(None))
