"""Distributed BPE tokenizer training (merge learning), Sennrich et al.
'16: iteratively count adjacent symbol pairs over the word-frequency
table and merge the most frequent pair — the algorithm behind GPT/Llama
tokenizer vocabularies, expressed as pure DataFrame ops.

Scale design:
* The corpus is reduced ONCE to the word-frequency table (distinct token
  + count) — all later rounds run over |vocab| rows, not |corpus| rows,
  exactly like the reference implementations' word-dict optimization.
* Each round is: explode adjacent pairs weighted by word count (one
  shuffle), global top-1 (tiny sort), then the merge applied as a
  zero-shuffle higher-order fold over each word's symbol array with the
  winning pair attached by a 1-row broadcast cross join — NO
  ``collect()``; the learned pair never leaves the cluster, so the whole
  multi-round loop is one lazily-composed plan with barriers.
* The greedy left-to-right non-overlapping merge needs no "just merged"
  flag: a merged symbol equals ``left || right`` and can never equal
  ``left`` again within the round (``right`` is non-empty), so a plain
  fold is exact.

Word table rows are barriered per round (``materialize``) — the fold
rewrites every row, and without a barrier round N's plan would re-run
all earlier rounds once per downstream consumer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .materialize import materialize


def word_frequency_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> (word, cnt): lowercase whitespace tokens with counts.
    The single corpus-scale reduction; everything after runs on vocab."""
    from . import text_analysis as TA

    toks = docs.select(
        F.explode(TA.tokens(F.lower(F.col(text_col)))).alias("word")
    )
    return toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


def _merge_pair(syms: Column, left: Column, right: Column) -> Column:
    """Greedy left-to-right non-overlapping merge of adjacent
    (left, right) into one symbol — a single higher-order fold, no
    explode, no shuffle."""
    merged = F.concat(left, right)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == left) & (x == right),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_rounds(words: DataFrame, rounds: int) -> tuple[list[DataFrame], DataFrame]:
    """Run the merge-learning loop; returns (per-round top-1 tables,
    final per-word symbol table)."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    cur = words.select("word", F.split("word", "").alias("syms"), "cnt")
    learned = []
    for rnd in range(1, rounds + 1):
        cur = materialize(cur)
        pairs = cur.select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1).alias("l"),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1).alias("r"),
                )
            ).alias("p"),
            "cnt",
        ).select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "cnt")
        top1 = materialize(
            pairs.groupBy("l", "r")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
            .limit(1)
        )
        learned.append(top1.select(F.lit(rnd).alias("round"), "l", "r", "pair_count"))
        # LEFT join on TRUE, not crossJoin: when the vocab has no pairs
        # left (all words fully merged / single-char), top1 is EMPTY and
        # a cross join would annihilate the whole word table — with the
        # left join the pair columns are NULL, the merge condition is
        # never true, and the round is an identity pass
        cur = cur.join(F.broadcast(top1.select("l", "r")), F.lit(True), "left").select(
            "word", _merge_pair(F.col("syms"), F.col("l"), F.col("r")).alias("syms"), "cnt"
        )
    return learned, cur


def bpe_learn_merges(words: DataFrame, rounds: int = 3) -> DataFrame:
    """Learn ``rounds`` BPE merges from a (word, cnt) table.

    Returns one row per learned merge: (round, left, right, pair_count),
    deterministic tie-break (count DESC, left ASC, right ASC).
    """
    learned, _ = _bpe_rounds(words, rounds)
    out = learned[0]
    for t in learned[1:]:
        out = out.unionByName(t)
    return out.select(
        "round",
        F.col("l").alias("merge_left"),
        F.col("r").alias("merge_right"),
        "pair_count",
    )


def bpe_encode_corpus(docs: DataFrame, rounds: int = 3, text_col: str = "text") -> DataFrame:
    """Train BPE on the corpus AND encode every document with the
    learned merges — tokenizer training and application in ONE lazily
    composed plan, no model file round-trip.

    Since merges apply word-internally, encoding is a JOIN, not a
    re-fold: the training loop already produced the final symbol array
    per DISTINCT word, so each document just joins its words against
    that (broadcastable) vocabulary and sums symbol counts — the
    word-dict trick working twice (train on vocab-grain, encode by
    lookup).  Returns (doc_id, n_chars_in_words, n_bpe_tokens)."""
    from . import text_analysis as TA

    _, vocab = _bpe_rounds(word_frequency_table(docs, text_col), rounds)
    doc_words = docs.select(
        "doc_id", F.explode(TA.tokens(F.lower(F.col(text_col)))).alias("word")
    )
    encoded = (
        doc_words.join(F.broadcast(vocab.select("word", F.size("syms").alias("n_syms"))), "word")
        .groupBy("doc_id")
        .agg(
            F.sum(F.length("word")).alias("n_chars_in_words"),
            F.sum("n_syms").alias("n_bpe_tokens"),
        )
    )
    # wordless (empty-text) docs still get a row — encode is total
    return docs.select("doc_id").join(encoded, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_chars_in_words", F.lit(0).cast("long")).alias("n_chars_in_words"),
        F.coalesce("n_bpe_tokens", F.lit(0).cast("long")).alias("n_bpe_tokens"),
    )
