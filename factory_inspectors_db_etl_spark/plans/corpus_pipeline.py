"""End-to-end training-set build: the M6 counterpart of the document
warehouse ETL (`plans/inspectors_etl.py`) — one composed job from raw
corpus to packed, split, deduplicated training data, tracked as a single
bench number (`bench.py` -> ``corpus_pipeline_build``).

Stages (each individually oracle-verified by its own catalog query; this
plan is their composition):

1. near-dup clustering  — n-gram Jaccard pairs -> connected components
                          (d_ngram_jaccard / d_dedup_clusters)
2. canonical selection  — keep the highest-quality doc per cluster
                          (d_keep_best)
3. quality + language   — scan-speed columnar filters (t_quality_score,
                          t_language_guess)
4. split                — deterministic content-hash train/val/test
                          (p_hash_split)
5. packing              — token-budget bins, sharded, train split only
                          (p_pack_bins)

Scale posture: one per-document barrier holds each document with its
exact-dup representative, its quality score and its language verdict,
computed once; the representatives fed to the pair join, the keep-best
window and the quality/language gate all read it.  The pair join is
banded/inverted-index (never all-pairs); the cluster keep-decision and
every later stage are equi-joins on doc_id or the representative id —
AQE-splittable at any corpus size.  The cluster stage is barriered
(iterative CC materializes every round), so downstream consumers see a
flat plan.

Eager jobs: the per-document barrier, the pair join's shingle barrier,
the components' barriers (see ``assign_components``) and the barrier
on ``kept``; ``splits`` and ``packed_train`` are lazy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators import text_analysis as TA
from ..operators.dedup import assign_components, exact_dedup, ngram_jaccard_pairs
from ..operators.materialize import materialize
from ..operators.sampling import hash_split, pack_token_bins
from ..sources.tables import load_table


def build_training_set(
    spark: SparkSession,
    sf_dir: str,
    min_quality: float = 0.4,
    budget: int = 2000,
    shards: int = 16,
) -> dict[str, DataFrame]:
    """Returns {'kept', 'splits', 'packed_train', 'components'}
    DataFrames; 'components' is (doc_id, component_id) for every doc."""
    docs = load_table(spark, sf_dir, "documents")
    doc_cols = docs.columns

    # EXACT-DUP COLLAPSE before any pair enumeration (the r5 LSH/setsim
    # guard, applied to the clustering stage): identical texts have
    # identical shingle sets, hence identical neighbors, hence the same
    # component — so clustering only the distinct-text REPRESENTATIVES
    # and mapping members onto their representative's component is
    # bit-identical (reps are min-id per text, so the component id stays
    # the min doc_id over ALL members).  Without it, pair volume grows
    # as duplicates² on duplicate-dense corpora: the round-7 sf0.1→sf1
    # scaling sweep measured the whole build at 80× for 10× data on the
    # 10×-replicated stress corpus (6.8s → 544s); with the collapse the
    # pair computation scales with distinct texts.
    # NULL-text safety (ADVICE r7): md5(NULL) is NULL, and groupBy keeps
    # the NULL-fingerprint group, so `reps` DOES contain a representative
    # for NULL-text docs — but a plain equi-join on the md5 would drop them
    # (NULL never equi-joins).  eqNullSafe (`<=>`) keeps the mapping total:
    # every doc, NULL text included, lands on exactly one representative,
    # matching the pre-collapse assign_components behavior (PERMISSIVE
    # JSONL readers can legitimately produce NULL text).
    reps = exact_dedup(docs, "text", "doc_id")
    rep_side = reps.select(
        F.col("fingerprint").alias("_rfp"),
        F.col("representative_id").alias("_rep_id"),
    )
    # The per-document barrier: every later stage reads a document's
    # representative, quality and language verdict from here, so the
    # md5, the exact-dup aggregate and the text signals run once.
    # Tokens are BOUND to a column first — language_guess_from_tokens
    # references its input once per language vote, and HOF lambdas get
    # no CSE, so an unbound tokens(lower(text)) would re-tokenize per
    # vote (the documented contract of that function; same pattern as
    # q_t_language_guess)
    per_doc = materialize(
        docs.join(rep_side, F.md5(F.col("text")).eqNullSafe(F.col("_rfp")))
        .withColumn("_toks", TA.tokens(F.lower(F.col("text"))))
        .select(
            *doc_cols,
            "_rep_id",
            TA.quality_score(F.col("text")).alias("quality"),
            (TA.language_guess_from_tokens(F.col("_toks")) != "und").alias("_lang_known"),
        )
    )

    # 1-2: cluster near-dups over the representatives, keep the best doc
    # per cluster
    rep_docs = per_doc.filter(F.col("doc_id") == F.col("_rep_id")).select("doc_id", "text")
    pairs = ngram_jaccard_pairs(rep_docs, "doc_id", "text", k=3, threshold=0.5)
    comp_rep = assign_components(rep_docs, pairs, "doc_id").select(
        F.col("doc_id").alias("_rep_id"), "component_id"
    )
    scored = per_doc.join(comp_rep, "_rep_id")
    # `comp` is TOTAL over docs (one row per input doc_id) — pinned by
    # tests/test_corpus_pipeline.py::test_null_text_docs_not_silently_dropped.
    comp = scored.select("doc_id", "component_id")
    wk = W.partitionBy("component_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    canonical = scored.withColumn("_rn", F.row_number().over(wk)).filter(F.col("_rn") == 1)

    # 3: columnar quality/language gates, read from the barrier
    kept = canonical.filter(
        (F.col("quality") >= min_quality) & F.col("_lang_known")
    ).select(*doc_cols, "component_id", "quality")

    # barrier: three sinks consume this point (kept/splits/packed) and
    # Spark shares no computation across separate actions — without the
    # barrier the pair join + window re-run once per sink
    kept = materialize(kept)

    # 4: deterministic split
    splits = hash_split(kept, "text", {"train": 0.98, "val": 0.01, "test": 0.01})

    # 5: pack the train split into token-budget bins
    packed_train = pack_token_bins(
        splits.filter(F.col("split") == "train"),
        "text",
        "n_chars",
        budget=budget,
        shards=shards,
        # near-dup clustering upstream keeps one doc per cluster, but only
        # NEAR dups — byte-identical texts in different clusters would tie
        # the (hash, text) pack order, so the unique id closes the order
        tiebreak_col="doc_id",
    )
    return {
        "kept": kept,
        "splits": splits,
        "packed_train": packed_train,
        "components": comp,
    }


# The benchmark-timed output set: the three terminal artifacts a
# training-data build actually ships.  'components' (added r8 for the
# NULL-text totality contract) is an intermediate exposed for consumers
# and tests — timing it as a 4th action would both double-count its
# lineage (kept already joins it) and silently widen the measurement
# scope vs every carried-forward baseline (round-8 review finding).
BENCH_OUTPUTS = ("kept", "splits", "packed_train")
