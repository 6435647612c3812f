"""Deduplication operators for large-scale text pipelines (extension M6).

All operators are expressed with built-in columnar functions (no Python
UDFs) so they stay inside whole-stage codegen, and are deterministic:
hashing is md5/xxhash64 on explicit inputs, never engine-internal hash
partitioning, so results are reproducible across engines and runs.

Scale design:
* exact dedup        -- one shuffle on the digest; map-side partial agg.
* shingling          -- explode is linear in total shingles; shingles are
                        hashed to 64-bit before the shuffle so shuffle
                        payload is fixed-width.
* MinHash + LSH      -- per-doc signature is an aggregation over shingle
                        hashes (one shuffle); banding turns all-pairs into
                        an equi-join on (band, band_hash) buckets, i.e.
                        candidate pairs only — never the O(n^2) cross join.
* SimHash            -- bit-vote aggregation over token hashes; near-dup
                        candidates via band equi-join on bit slices.

Algorithm provenance (public literature): MinHash resemblance sketches —
Broder, "On the resemblance and containment of documents" (SEQUENCES
1997); LSH banding and the 1-(1-s^r)^b S-curve — Leskovec/Rajaraman/
Ullman, "Mining of Massive Datasets" ch.3; SimHash — Charikar,
"Similarity estimation techniques from rounding algorithms" (STOC 2002),
applied at crawl scale in Manku/Jain/Das Sarma (WWW 2007), whose
pigeonhole band trick `simhash_near_duplicates` uses.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .graph_broadcast import graph_small_side, resolve_graph_broadcast
from .materialize import materialize, materialize_counted


class NonConvergenceError(RuntimeError):
    """An iterative algorithm hit its round bound before reaching a fixed
    point.  Distinct from RuntimeError so callers (``assign_components``'s
    large-star fallback) can fall back on THIS specifically without
    masking unrelated runtime failures (lost executors, OOM, bad input)."""


# round budgets of the two components algorithms: min-label's covers the
# diameter of any near-dup clique; large-star's O(log^2 n) covers any graph
_MIN_LABEL_ROUNDS = 25
_LARGE_STAR_ROUNDS = 20

# -- portable 60-bit hash (cross-engine deterministic) -----------------------
#
# xxhash64 is JVM-only; for results that must be verifiable by ANY engine
# with md5 (DuckDB, Postgres, Trino, ...) we derive a 60-bit integer from
# the top 15 hex chars of md5, then expand it into a universal hash family
# with pure int64 arithmetic.  Identical SQL runs verbatim in DuckDB:
#     CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)
# so every MinHash/SimHash result below is oracle-checkable, not trust-me.

PORTABLE_MOD = (1 << 31) - 1  # Mersenne prime 2^31-1
_HALF_MASK = (1 << 30) - 1
_SIMHASH_BITS = 60  # fingerprint width: one bit per portable_hash60 bit


def portable_hash60(col: Column) -> Column:
    """60-bit hash of a string column: top 15 hex chars of md5 as a
    non-negative 64-bit int.  Reproducible in any md5-capable engine."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def portable_hash60_sql(expr: str) -> str:
    """DuckDB SQL rendering of ``portable_hash60`` over the SQL
    expression ``expr`` (the oracles' copy of the hash)."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def affine_params(n: int, seed: int = 0x5EED) -> list[tuple[int, int, int]]:
    """Deterministic (a, b, c) triples for the universal family
    g_i(h) = (a_i*hi + b_i*lo + c_i) mod (2^31-1) over the two 30-bit
    halves of a ``portable_hash60`` value.  Every product stays < 2^61,
    so the arithmetic never overflows int64 in Spark's ANSI mode and the
    same literals evaluate identically in the DuckDB oracle."""
    rng = random.Random(seed)
    return [
        (
            rng.randrange(1, PORTABLE_MOD),
            rng.randrange(1, PORTABLE_MOD),
            rng.randrange(PORTABLE_MOD),
        )
        for _ in range(n)
    ]


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical texts by md5 digest; keep min-id representative.

    Returns (fingerprint, representative id, duplicate count).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count(F.lit(1)).alias("n_duplicates"),
        )
    )


def normalize_for_shingling(text: Column) -> Column:
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


def shingles(words: Column, k: int = 5) -> Column:
    """Word k-shingles from a word-array column (distinct).

    PERFORMANCE CONTRACT: ``words`` must be a BOUND attribute (a real
    column materialized via ``withColumn``), not an expression like
    ``F.split(...)``.  Spark re-evaluates expressions referenced inside
    higher-order-function lambdas once PER ELEMENT (no common-
    subexpression elimination across the lambda boundary), so passing the
    split expression directly makes shingling O(n^2) per document —
    measured 5x slower at 5k docs and unboundedly worse on long ones.
    """
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    )


def _with_words(df: DataFrame, text_col: str, out: str = "_words") -> DataFrame:
    return df.withColumn(out, F.split(normalize_for_shingling(F.col(text_col)), " "))


def _shingle_stream(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(doc, sh) stream: each document's distinct word ``k``-shingles as
    64-bit xxhash64 values (``k=1``: its distinct tokens).  The one
    shingle stream of every set-similarity operator here and in
    ``setsim``: fixed-width hashes keep the shuffle payload at 16 B per
    shingle (collision odds ~2^-64).  A NULL text has no shingles, as in
    the DuckDB oracles (``shingles`` alone would give it the empty
    shingle, so NULL and empty texts would pair)."""
    words = _with_words(df.filter(F.col(text_col).isNotNull()), text_col)
    elems = F.array_distinct(F.col("_words")) if k == 1 else shingles(F.col("_words"), k)
    return words.select(
        F.col(id_col).alias("doc"), F.explode(elems).alias("sh")
    ).select("doc", F.xxhash64("sh").alias("sh"))


def _shingle_intersections(
    df: DataFrame, id_col: str, text_col: str, k: int, max_df: int | None
) -> tuple[DataFrame, DataFrame]:
    """Inverted-index intersection counts over the ``k``-shingle stream:
    ``(inter, sizes)`` with ``inter`` = (id_a, id_b, inter), id_a < id_b,
    for every pair sharing at least one shingle, and ``sizes`` = (doc, sz)
    per document.

    The stream is materialized ONCE: it feeds three consumers (sizes, the
    frequency probe, the postings join) and Spark plans no reuse across
    them — without the barrier the full text-scan+tokenize+explode runs
    three times.  The barrier is eager deliberately: a LAZY checkpoint
    lets the consuming stages race the cache and re-compute (measured
    +30-50% on every barriered query); the cost is that plan-only
    callers (the audit tool) execute the upstream job at construction
    time.

    Postings: shingle -> list of docs, pairs emitted from each list, so
    the shingle set is shuffled once (on the 64-bit hash) instead of
    twice as in a shingle self-join, and postings of size 1 never emit.
    ``max_df`` is the stop-shingle cap (see ``ngram_jaccard_pairs``);
    ``None`` counts every shingle."""
    sh = materialize(_shingle_stream(df, id_col, text_col, k))
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    if max_df is None:
        postings = (
            sh.groupBy("sh")
            .agg(F.collect_list("doc").alias("docs"))
            .filter(F.size("docs") > 1)
        )
    else:
        # Cap BEFORE building any list: a fixed-width count aggregate finds
        # hot shingles, and collect_list only ever runs over shingles that
        # passed the cap — the giant posting row is never materialized.
        # The probe join is a second shuffle of sh (no exchange reuse: the
        # agg side exchanges partial-agg output, not raw sh), but both
        # shuffles are skew-protected — the count agg by map-side partial
        # aggregation, the join by AQE skew splitting.  A window-based
        # single-shuffle variant would ship EVERY row of a hot shingle to
        # one task with no partial-agg protection, which is exactly the
        # straggler this cap exists to avoid.
        freq = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .observe(
                "ngram_jaccard_capped_postings",
                F.sum((F.col("df") > max_df).cast("long")).alias("n_capped"),
            )
        )
        eligible = freq.filter((F.col("df") > 1) & (F.col("df") <= max_df)).select("sh")
        postings = (
            sh.join(eligible, "sh")
            .groupBy("sh")
            .agg(F.collect_list("doc").alias("docs"))
        )
    inter = (
        postings.select(F.explode("docs").alias("id_a"), "docs")
        .select("id_a", F.explode("docs").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return inter, sizes


def _collapse_duplicates(
    df: DataFrame, id_col: str, key: Column
) -> tuple[DataFrame, DataFrame]:
    """Group the rows of ``df`` whose ``key`` is equal.  Returns
    ``(reps, members)``: ``reps`` is one row per group — its min-id row,
    every column of ``df`` plus the group size ``_gn`` — and ``members``
    maps each rep id ``rep`` to every member id ``mid`` (itself included).

    The duplicate-density guard of every pair operator on texts or
    vectors: a corpus where each document has r verbatim copies makes
    every posting list or LSH bucket r× longer and the pair join r²×
    bigger, while the pair set over DISTINCT contents is unchanged — so
    pairs are computed once per rep and expanded to members afterward.
    Bit-identical whenever the pair values are pure functions of the
    content (shingle sets, vectors): each group's min member IS its rep.
    Text callers key on ``md5(text)``, which keeps the window's exchange
    key 16 bytes wide instead of shipping every multi-KB text twice (key +
    payload) — the equality ``exact_dedup`` already stakes on.  A NULL key
    is a group of its own, so callers whose NULL rows must stay apart
    filter them out first.  One window pass behind one barrier, because
    both the reps and the member expansion read it."""
    grp = Window.partitionBy(key)
    tagged = materialize(
        df.select(
            "*",
            F.min(id_col).over(grp).alias("_rep"),
            F.count(F.lit(1)).over(grp).alias("_gn"),
        )
    )
    members = tagged.select(F.col("_rep").alias("rep"), F.col(id_col).alias("mid"))
    reps = tagged.filter(F.col(id_col) == F.col("_rep")).drop("_rep")
    return reps, members


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity >= threshold.

    Inverted-index join (``_shingle_intersections``): only docs sharing
    >=1 shingle ever meet, the intersection is counted per pair, then
    |A ∪ B| = |A| + |B| - |A ∩ B|.  Returns (id_a, id_b, jaccard) with
    id_a < id_b.

    ``max_df`` is the stop-shingle cap: a posting list longer than it is
    dropped BEFORE any pair is generated, because one shingle shared by
    m documents emits O(m^2) pairs — a single stop-shingle across 10M
    docs would otherwise be one giant posting row and 5*10^13 pairs.
    Dropped shingles still count toward |A| and |B| (sizes come from the
    full shingle sets), so affected pairs' Jaccard is UNDERestimated —
    conservative for a near-dup gate.  The number of capped shingles is
    published as the observed metric ``ngram_jaccard_capped_postings``
    (CollectMetrics — free at execution time, readable from any query
    listener).  Exact mode: ``max_df=None``; on corpora where no shingle
    reaches the cap (e.g. the driver tables) the result is identical.
    """
    inter, sizes = _shingle_intersections(df, id_col, text_col, k, max_df)
    out = (
        inter.join(sizes.withColumnRenamed("doc", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("doc", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_hashes: int = 64,
) -> DataFrame:
    """Per-document MinHash signature (array of num_hashes minima).

    One ``portable_hash60`` per shingle, split into two 30-bit halves,
    then ``num_hashes`` affine maps mod 2^31-1 (``affine_params``) — a
    classic universal family.  One md5 per shingle + pure int64
    arithmetic, reproducible in any engine (the driver's DuckDB oracle
    re-runs it verbatim).

    The signature is the elementwise min over the document's shingles —
    computed columnar as an aggregate over the exploded shingle set (one
    shuffle on doc id).
    """
    sh = _with_words(df, text_col).select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(F.col("_words"), k)).alias("sh"),
    )
    sh = sh.select("doc", portable_hash60(F.col("sh")).alias("h")).select(
        "doc",
        F.shiftright("h", 30).alias("hi"),
        F.col("h").bitwiseAND(F.lit(_HALF_MASK)).alias("lo"),
    )
    mins = [
        F.min((F.lit(a) * F.col("hi") + F.lit(b) * F.col("lo") + F.lit(c)) % F.lit(PORTABLE_MOD)).alias(f"h{i}")
        for i, (a, b, c) in enumerate(affine_params(num_hashes))
    ]
    sig = sh.groupBy("doc").agg(*mins)
    return sig.select("doc", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature"))


def minhash_band_buckets(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Explode signatures into (doc, band, digest) LSH bucket rows.

    Signatures are materialized first: every consumer joins the bucket
    set against itself or a filtered view of it, and without the barrier
    the whole shingle->minhash aggregation would run once PER SIDE (no
    ReusedExchange is planned across self-joins).  (doc, signature) is
    8*num_hashes bytes per doc — cheap at any scale."""
    signatures = materialize(signatures)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                portable_hash60(
                    F.concat_ws(",", *[F.col("signature")[i * rows_per_band + j].cast("string") for j in range(rows_per_band)])
                ).alias("digest"),
            )
            for i in range(bands)
        ]
    )
    return signatures.select("doc", F.explode(band_structs).alias("b")).select(
        "doc", F.col("b.band").alias("band"), F.col("b.digest").alias("digest")
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: docs whose signature agrees on all rows of any band.

    Returns candidate pairs (id_a, id_b, n_bands_matched).  The band digest
    equi-join replaces the all-pairs comparison; with b bands of r rows the
    match probability is 1-(1-s^r)^b for Jaccard s.  Signatures and band
    digests both hash with ``portable_hash60``, so the pipeline is
    oracle-checkable end to end.

    Signatures are materialized before the band self-join: without the
    barrier the whole shingle->minhash aggregation runs once PER SIDE
    (no ReusedExchange is planned across the self-join).  (doc,
    signature) is 8*num_hashes bytes per doc — cheap at any scale.
    """
    buckets = minhash_band_buckets(signatures, bands, rows_per_band)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.digest") == F.col("b.digest"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_bands_matched"))
    )


def incremental_lsh_dup_flags(
    signatures: DataFrame,
    delta_flags: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Incremental near-dup detection: flag each DELTA document (a new
    ingestion batch) that near-dups against the BASE corpus or an
    earlier delta document — WITHOUT re-running the corpus×corpus pair
    join.

    This is the daily-crawl production shape (RefinedWeb/CCNet keep
    their MinHash index warm between crawls): the already-deduped base
    only contributes its (band, digest) bucket rows as the probe TARGET;
    the pair join's left side is delta-only, so candidate volume scales
    with |delta| × bucket occupancy, not |corpus|².  At 100 TB the base
    bucket table is the persisted index you'd keep partitioned by
    (band, digest) between runs; signatures here are re-derived in-plan
    because the driver contract is a single self-contained query.

    ``delta_flags`` carries (doc_id, is_delta).  A delta doc is a dup if
    it shares any LSH band digest with (a) ANY base doc, or (b) a delta
    doc with a SMALLER id (the deterministic earlier-arrival tiebreak —
    first occurrence in the batch is kept).  Returns one row per delta
    doc: (doc_id, n_dup_sources, is_dup)."""
    buckets = minhash_band_buckets(signatures, bands, rows_per_band)
    flagged = buckets.join(
        delta_flags.select(F.col("doc_id").alias("doc"), "is_delta"), "doc"
    )
    probe = flagged.filter(F.col("is_delta")).alias("a")
    target = flagged.alias("b")
    matches = (
        probe.join(
            target,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.digest") == F.col("b.digest"))
            & (
                (~F.col("b.is_delta"))
                | (F.col("b.doc") < F.col("a.doc"))
            ),
        )
        .groupBy(F.col("a.doc").alias("doc_id"))
        .agg(F.count_distinct(F.col("b.doc")).alias("n_dup_sources"))
    )
    return (
        delta_flags.filter(F.col("is_delta"))
        .select("doc_id")
        .join(matches, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_sources", F.lit(0)).alias("n_dup_sources"),
            (F.coalesce("n_dup_sources", F.lit(0)) > 0).alias("is_dup"),
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash over word tokens, fully columnar.

    Per token: h = portable_hash60(token); each bit votes +1/-1; the
    fingerprint sets bit i when the summed vote is positive, so the whole
    fingerprint is reproducible in the DuckDB oracle.  Implemented with
    higher-order array functions (no UDF): aggregate over the token array
    per row — no extra shuffle at all.
    """
    # Materialize the token-hash array as a bound column FIRST: the
    # per-bit vote aggregates below each reference it, and an unbound
    # split+transform expression would be re-evaluated once per aggregate
    # (bits x the tokenization cost per row).
    df = _with_words(df, text_col).withColumn(
        "_th", F.transform(F.col("_words"), lambda t: portable_hash60(t))
    )
    hashes = F.col("_th")
    # Per bit i: vote = sum over token hashes of +1/-1 depending on bit i.
    # shiftright needs a literal bit count, so bits are unrolled in Python —
    # 60 aggregates over the same (reused) hash array, still one pass per row.
    def bit_vote_merger(i: int):
        # factory keeps the lambda strictly 2-argument (PySpark inspects arity)
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    fingerprint = F.lit(0).cast("long")
    for i in range(_SIMHASH_BITS):
        vote = F.aggregate(hashes, F.lit(0).cast("long"), bit_vote_merger(i))
        fingerprint = fingerprint.bitwiseOR(
            F.when(vote > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return df.select(F.col(id_col).alias("doc"), fingerprint.alias("simhash"))


def simhash_near_duplicates(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming.

    Pigeonhole LSH: split the 60-bit ``simhash`` fingerprint into
    ``bands`` slices; any pair within distance < bands must agree
    exactly on >=1 slice, so the candidate join is an equi-join on
    (slice index, slice value).

    The fingerprint table is materialized (``materialize``) before
    the self-join: Spark plans no ReusedExchange across the two sides
    here, so without the barrier the 60-aggregate SimHash computation
    executes TWICE (measured 2x the hash cost at sf0.1).  The
    checkpointed table is (doc, fingerprint) — 16 bytes/doc, cheap at
    any scale; set spark.graft.materialize.mode='reliable' on a cluster
    where executor loss must be survivable.
    """
    width = _SIMHASH_BITS // bands
    fingerprints = materialize(fingerprints)
    slices = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("slice"),
            )
            for i in range(bands)
        ]
    )
    buckets = fingerprints.select("doc", "simhash", F.explode(slices).alias("s")).select(
        "doc", "simhash", F.col("s.band").alias("band"), F.col("s.slice").alias("slice")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.slice") == F.col("b.slice"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = _MIN_LABEL_ROUNDS,
) -> DataFrame:
    """Connected components over a near-dup pair graph: (node, component)
    where ``component`` is the smallest node id reachable from ``node``.

    This is the missing last step of every pair-producing dedup operator
    in this module (Jaccard / MinHash-LSH / SimHash emit PAIRS; a keep/
    drop decision needs CLUSTERS — pairs (1,2) and (2,3) must collapse to
    one kept doc, not two independent drops).

    Algorithm: iterative min-label propagation.  Round 1 labels every
    node with the min of itself and its neighbors, straight from the
    edge list; each later round every node takes the min of its own
    label and its neighbors' labels; stop when a round changes nothing.
    Rounds = graph diameter + 1.  Near-dup graphs are dense little
    cliques (diameter 2-4), so 3-5 rounds is typical; ``max_iters``
    bounds adversarial chains (round 1 counts against it), and hitting
    it raises rather than returning a silently unconverged labeling.

    100 TB posture:
    * round 1: one map-side-combined groupBy-min over the symmetric
      edges; each later round: the neighbor-min propagation (labels x
      symmetric-edges equi-join + map-side-combined groupBy-min) plus
      one left join back onto the label table — no other joins;
    * the convergence check is FOLDED INTO the label update: the same
      select that computes the new label also emits a ``changed`` flag,
      and its sum is observed from the round's own barrier job
      (``materialize_counted``) — no extra job and no labels-vs-labels
      self-join per round;
    * lineage is cut every round by the barrier (the iterative-algorithm
      contract in Spark: without it the plan doubles per round and the
      optimizer re-analyzes an exponentially growing tree);
    * for graphs whose diameter is genuinely large (not the dedup use
      case), the O(log^2 n)-round alternating large-star/small-star
      algorithm (Kiveris et al., "Connected Components in MapReduce and
      Beyond", SoCC 2014) is the drop-in replacement; min-propagation is
      chosen here because dedup clusters are diameter-bounded and each
      round is strictly cheaper.

    Runs one barrier for the symmetric edges and one per round, and no
    other action.  Only nodes that appear in ``pairs`` are returned;
    callers give singleton docs their own component via a left join +
    coalesce (see ``assign_components``).
    """
    edges = materialize(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    # r12 NOTE — broadcast-joining labels/nbr_min (the g1/large-star
    # pattern) was tried here and MEASURED SLOWER, then reverted: this
    # loop's callers are near-dup closures whose pair graphs are tiny
    # (diameter-2 cliques, |V| ≪ corpus), so per-round broadcast
    # build+distribute latency exceeds the shuffled joins it replaces —
    # isolated floors d_keep_best 4.18 -> 5.9-6.1 s, d_dedup_clusters
    # 3.47 -> 4.1-4.4 s across two 3-run draws.  Graphs big enough for
    # the broadcast to win take the large-star path, which has it.
    labels = None
    for _ in range(max_iters):
        if labels is None:
            # round 1 from the identity labeling, which is the edge list
            # itself: every node has at least one neighbor
            step = (
                edges.groupBy("u")
                .agg(F.min("v").alias("nbr_min"))
                .select(F.col("u").alias("node"), F.col("u").alias("label"), "nbr_min")
            )
        else:
            nbr_min = (
                edges.join(labels, edges.v == labels.node)
                .groupBy("u")
                .agg(F.min("label").alias("nbr_min"))
            )
            step = labels.join(nbr_min, labels.node == nbr_min.u, "left")
        new_label = F.least(
            F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
        )
        new_labels, _, sums = materialize_counted(
            step.select(
                "node",
                new_label.alias("label"),
                # convergence flag computed IN the update (labels only ever
                # decrease, so changed == strictly smaller) — no self-join
                (new_label < F.col("label")).cast("long").alias("changed"),
            ),
            changed="changed",
        )
        labels = new_labels.select("node", "label")
        if sums["changed"] == 0:
            return labels.select("node", F.col("label").alias("component"))
    raise NonConvergenceError(
        f"connected_components did not converge in {max_iters} rounds; "
        "the pair graph has a longer chain than any near-dup corpus should — "
        "raise max_iters or switch to connected_components_large_star"
    )


def connected_components_large_star(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = _LARGE_STAR_ROUNDS,
) -> DataFrame:
    """Connected components via alternating Large-Star / Small-Star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the scale path for graphs whose DIAMETER is unbounded,
    where ``connected_components``'s min-propagation (rounds = diameter)
    would not terminate in reasonable rounds.  Converges in
    O(log^2 n) rounds on ANY graph shape.

    Per round (all hash shuffles on node ids; one barrier, whose job
    also counts the round's edges):

    * Large-Star: every node u computes m = min({u} ∪ N(u)) over the
      SYMMETRIC edge list and re-points its strictly-larger neighbors at
      m: emit (v, m) for v ∈ N(u), v > u.
    * Small-Star: edges canonicalized to (hi, lo); every hi computes
      m = min({hi} ∪ smaller-neighbors) and connects itself and all its
      smaller neighbors to m.

    Both operations preserve connectivity and strictly shrink the
    potential function; the fixed point is a set of stars whose centers
    are the component minima.  Convergence is detected when a round
    leaves the canonical edge set unchanged.

    Returns (node, component) for every node appearing in ``pairs``,
    identical to ``connected_components`` output.  Same
    lineage-truncation contract (one barrier per round).
    """
    edges, prev_cnt, _ = materialize_counted(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    # node universe from the UNfiltered pairs so self-paired nodes get a
    # (node, node) row, matching connected_components exactly
    all_nodes, n_nodes, _ = materialize_counted(
        pairs.select(F.col(src).alias("node"))
        .union(pairs.select(F.col(dst).alias("node")))
        .distinct()
    )

    # r12 (guide §2.4, the g1 pattern): the per-node min table m is
    # |V|-row — ride the size-gated graph broadcast on both star joins
    # so a round's exchanges are the two map-side-combined groupBys plus
    # ONE edge-scale distinct (small-star's), instead of two join
    # exchange+sort pairs and TWO edge-scale distincts.  all_nodes is
    # the materialized exact node universe: its barrier's row count
    # gates every round (m ⊆ nodes always).
    spark = pairs.sparkSession
    bcast = resolve_graph_broadcast(spark, n_nodes)

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.least(F.first("u"), F.min("v")).alias("m"))
        # no .distinct() here (r12): small-star's min-agg is unchanged
        # by duplicate rows and its own terminal .distinct() dedups the
        # round's output, so large-star's dedup exchange was a pure
        # extra edge-scale shuffle.  Emission volume is exactly |E|
        # (one orientation survives the v > u filter per edge).
        return (
            sym.join(graph_small_side(m, bcast), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # e is canonical (u > v) after large-star's (larger -> m) emit
        can = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        m = can.groupBy("u").agg(F.least(F.first("u"), F.min("v")).alias("m"))
        joined = can.join(graph_small_side(m, bcast), "u")
        pointed = joined.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
            joined.select(F.col("u"), F.col("m").alias("v"))
        )
        return (
            pointed.filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )

    # convergence probe (r12): both round outputs are DISTINCT sets, so
    # new == old  <=>  |new| == |old| AND new.exceptAll(old) is empty.
    # The counts come from the barriers' own jobs; rounds whose count
    # moved (most non-converged rounds) skip the exceptAll entirely —
    # vs the r11 probe which shuffled BOTH edge lists through two
    # exceptAll directions every round.
    for _ in range(max_iters):
        new_edges, new_cnt, _ = materialize_counted(_small_star(_large_star(edges)))
        changed = 1
        if new_cnt == prev_cnt:
            changed = new_edges.exceptAll(edges).limit(1).count()
        prev_cnt = new_cnt
        edges = new_edges
        if changed == 0:
            # fixed point: stars centered at component minima.  Every
            # non-center node appears as u exactly once with v = center.
            labels = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
            centers_and_singletons = all_nodes.join(
                labels, all_nodes.node == labels.node, "left_anti"
            ).select("node", F.col("node").alias("component"))
            return labels.union(centers_and_singletons)
    raise NonConvergenceError(
        f"connected_components_large_star did not converge in {max_iters} "
        "rounds; O(log^2 n) bounds make this unreachable for any graph that "
        "fits in storage — check for non-deterministic node ids"
    )


def ngram_cluster_assignments(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-doc (id, component_id) from the n-gram-Jaccard closure, with
    the exact-duplicate collapse (``_collapse_duplicates`` keyed on
    ``md5(text)``) in front of the pair join.

    Pair-producing operators are stuck with member-level output —
    q verbatim copies genuinely form q(q-1)/2 qualifying pairs — but a
    closure consumer's output is ONE row per doc, so nothing forces the
    quadratic intermediate: identical texts collapse to their min-id
    representative, ``ngram_jaccard_pairs`` + ``assign_components`` run
    on representatives, and members inherit their rep's component.

    Equivalence: the PAIR PREDICATE is bit-identical — jaccard is a pure
    function of the two texts, so identical texts always share all
    shingles (jaccard = 1), the member pair graph is exactly the
    expanded rep graph plus intra-group cliques, and each group's min
    member IS its rep — same component ids (cluster-min doc id), same
    downstream canonical picks.  ``ngram_jaccard_pairs``' stop-shingle
    cap (``max_df=1000``), however, counts document frequency per
    DISTINCT text here rather than per copy (a text duplicated more than
    1000 times would have every shingle dropped at the member grain and
    its copies degrade to singletons), so under a binding cap this form
    tracks the uncapped closure more closely.  NULL texts bypass the
    collapse: they shingle to nothing, so each one stays a singleton.

    Measured (second-decade sweep, 10 verbatim copies/text at sf1, 100
    at sf10): the un-collapsed closure took 240s at sf1 and timed out at
    sf10; this form runs 4.3s/4.5s — pair work tracks DISTINCT texts,
    which replication does not grow."""
    nn = docs.filter(F.col(text_col).isNotNull()).select(id_col, text_col)
    reps, members = _collapse_duplicates(nn, id_col, F.md5(F.col(text_col)))
    pairs = ngram_jaccard_pairs(reps, id_col, text_col, k=k, threshold=threshold)
    rep_comp = assign_components(reps, pairs, id_col).select(
        F.col(id_col).alias("rep"), "component_id"
    )
    nulls = docs.filter(F.col(text_col).isNull()).select(
        F.col(id_col), F.col(id_col).alias("component_id")
    )
    return (
        members.join(rep_comp, "rep")
        .select(F.col("mid").alias(id_col), "component_id")
        .unionByName(nulls)
    )


def assign_components(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc cluster assignment + canonical flag from near-dup pairs.

    Returns every row of ``docs`` with ``component_id`` (min doc id in
    its duplicate cluster; itself when unpaired) and ``is_canonical``
    (True for exactly one doc per cluster — the keep decision).

    The components come from min-label propagation
    (``connected_components``, ``_MIN_LABEL_ROUNDS`` rounds), the cheaper
    algorithm on near-dup cliques whose diameter is 2-4.  When the pair
    graph has a longer chain than that budget, min-label raises
    ``NonConvergenceError`` and large-star/small-star
    (``connected_components_large_star``, ``_LARGE_STAR_ROUNDS`` rounds,
    O(log^2 n) on any diameter) runs instead.  Both produce the same
    (node, min-id) labeling, so the fallback changes cost, never
    results; any other runtime failure propagates.

    Runs eagerly: min-label's symmetric-edge barrier, then one barrier
    per round (round 1 straight from the edges), each observing its own
    convergence sum — no other job.  On the
    fallback, after min-label's whole budget, large-star's two barriers
    (canonical edges, node universe — their observed row counts give the
    first edge count and the broadcast gate's bound), then per round one
    barrier observing its edge count and, when the count did not move,
    one ``exceptAll`` probe.  The returned frame's join against ``docs``
    is lazy; AQE picks broadcast or shuffle for it from the components'
    runtime size.
    """
    try:
        comp = connected_components(pairs, max_iters=_MIN_LABEL_ROUNDS)
    except NonConvergenceError:
        comp = connected_components_large_star(pairs, max_iters=_LARGE_STAR_ROUNDS)
    comp = comp.withColumnRenamed("node", id_col)
    out = docs.join(comp, id_col, "left")
    component = F.coalesce(F.col("component"), F.col(id_col))
    return out.select(
        F.col(id_col),
        component.alias("component_id"),
        (F.col(id_col) == component).alias("is_canonical"),
    )
