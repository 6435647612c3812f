"""Text-analysis operators for training-data pipelines (extension M6).

Everything is built-in columnar expressions (JVM-side, codegen'd) — no
Python UDFs — so these run at scan speed over 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword seeds for the n-gram/stopword language
# heuristic.  Deliberately small and public-knowledge; real deployments
# would broadcast a fuller table.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization after trim; empty text -> empty array."""
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def char_count(text: Column) -> Column:
    return F.length(text)


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not [a-z0-9 ] (lowercased)."""
    lowered = F.lower(text)
    stripped = F.regexp_replace(lowered, r"[a-z0-9 ]", "")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        F.length(stripped).cast("double") / F.length(text)
    )


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or LANG_STOPWORDS["en"]
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(toks)
    )


def mean_token_length(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")), F.lit(0).cast("long"), lambda a, x: a + x
    )
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(toks)
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: penalize very short docs, high
    punctuation, and missing stopwords.  Deterministic and SQL-expressible.
    """
    length_term = F.least(token_count(text).cast("double") / F.lit(50.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    sw_term = F.least(stopword_ratio(text) * 10.0, F.lit(1.0))
    return F.round((length_term + punct_term + sw_term) / 3.0, 4)


def fingerprint(text: Column) -> Column:
    """Normalization-invariant document fingerprint: md5 of the
    lowercase/whitespace-collapsed text."""
    return F.md5(F.regexp_replace(F.trim(F.lower(text)), r"\s+", " "))


BPE_ISH_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token estimate: letter runs, single digits, and
    punctuation marks each count as one token (the classic "~1 token per
    word + 1 per digit/symbol" approximation used for budget estimates).
    Pure regexp_count — scan-speed, no UDF."""
    return F.regexp_count(text, F.lit(BPE_ISH_TOKEN_RE)).cast("int")


def char_ngram_fingerprints(text: Column, n: int = 8, keep: int = 4, normalized: bool = False) -> Column:
    """Winnowing-style document fingerprint set: hash every character
    ``n``-gram of the normalized text, keep the ``keep`` smallest hashes
    (a deterministic min-k sketch; two documents sharing fingerprints are
    near-dup candidates).  The rolling window is ``sequence`` + ``substring``
    over a normalized string — all built-in, no UDF; md5 stands in for the
    rolling polynomial hash (same selectivity, SQL-portable).

    PERFORMANCE: pass ``normalized=True`` with ``text`` a BOUND column
    holding pre-normalized text.  The ``substring`` inside the lambda
    re-evaluates its input expression per element, so an unbound
    regexp_replace chain here is O(n^2) per document."""
    norm = text if normalized else F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    length = F.length(norm)
    starts = F.when(length >= n, F.sequence(F.lit(1), length - (n - 1))).otherwise(
        F.when(length > 0, F.array(F.lit(1))).otherwise(F.array().cast("array<int>"))
    )
    grams = F.transform(starts, lambda i: F.md5(F.substring(norm, i, n)))
    return F.slice(F.array_sort(F.array_distinct(grams)), 1, keep)


def chunk_windows(text: Column, size: int, overlap: int) -> Column:
    """Split a document into overlapping word windows (the training-data
    chunking pass): windows of ``size`` words with stride
    ``size - overlap``; the final partial window is kept.  Pure
    higher-order-function expression — zero shuffles, explodes linearly
    (one output row per stride step) at any corpus scale."""
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    stride = size - overlap
    words = F.split(F.regexp_replace(F.trim(text), r"\s+", " "), " ")
    n = F.size(words)
    n_windows = F.greatest(F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1)).cast("int")
    idx = F.sequence(F.lit(0), n_windows - 1)
    return F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(words, i * stride + 1, size)).alias("chunk"),
        ),
    )


PII_PATTERNS: list[tuple[str, str]] = [
    # order matters: specific shapes before general digit runs (an SSN
    # would otherwise be eaten by the phone pattern), emails first
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
]


def redact_pii(text: Column) -> Column:
    """Regex PII scrubbing (emails, phone-like digit runs, SSN shapes) —
    the standard pre-training redaction pass.  Lookahead-free patterns,
    so any RE2 engine reproduces the result byte-for-byte; chained
    regexp_replace stays inside whole-stage codegen."""
    out = text
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def language_guess_from_tokens(toks: Column) -> Column:
    """Stopword-vote language heuristic over LANG_STOPWORDS, on a
    pre-tokenized (lowercased, BOUND) array; 'und' (undetermined) when no
    language scores > 0.  Ties break by language code order for
    determinism."""
    expr = F.lit("und")
    best = F.lit(0)

    def count_hits(stopwords: list[str]):
        # NOTE: the lambda must be single-argument — a second parameter
        # (even defaulted) makes F.filter pass the element index into it.
        return F.size(F.filter(toks, lambda t: t.isin(stopwords)))

    # when-ladder: languages evaluated in sorted order, later language wins
    # only on a strictly higher vote (ties break to the earlier code)
    for lang in sorted(LANG_STOPWORDS):
        hits = count_hits(LANG_STOPWORDS[lang])
        expr = F.when(hits > best, F.lit(lang)).otherwise(expr)
        best = F.greatest(hits, best)
    return expr


# -- span-level dedup + hashed linear classifier (extension M6) --------------

def word_chunks(text: Column, size: int = 20) -> Column:
    """Split a document into fixed-``size`` word spans ("pseudo-
    paragraphs" for corpora without structural breaks): array of span
    strings, last span ragged.  Pure columnar (split + sequence +
    slice), replayable verbatim in SQL."""
    words = F.split(F.trim(F.regexp_replace(text, r"\s+", " ")), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(size)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - 1),
        lambda i: F.array_join(F.slice(words, i * size + 1, size), " "),
    )


def hashed_linear_score(text: Column, weights: list[float], buckets: int | None = None) -> Column:
    """Deterministic hashed linear text classifier (the fasttext-style
    bag-of-hashed-tokens model, Joulin et al. '16, minus training):
    each token hashes into one of ``len(weights)`` buckets via the
    portable md5 family and contributes that bucket's weight; the score
    is the mean contribution.  With trained weights this IS a linear
    quality/topic classifier at scan speed (zero shuffles, no UDF); the
    fixed-weight form here keeps it deterministic and oracle-verifiable.
    Returns the LINEAR score (no sigmoid: libm exp differs across
    engines in ulps; monotone, so thresholding is equivalent)."""
    from .dedup import portable_hash60

    buckets = buckets or len(weights)
    warr = F.array(*[F.lit(float(w)) for w in weights])
    toks = tokens(F.lower(text))
    contrib = F.transform(
        toks, lambda t: F.element_at(warr, (portable_hash60(t) % buckets + 1).cast("int"))
    )
    n = F.size(toks)
    total = F.aggregate(contrib, F.lit(0.0), lambda acc, x: acc + x)
    return F.when(n > 0, total / n).otherwise(F.lit(0.0))
