"""Similarity search over embedding columns (extension M6).

Embeddings are ``array<float>`` columns.  Dot products / norms run columnar
via higher-order functions (``F.aggregate`` / ``F.zip_with``) — JVM-side,
no Python in the hot path.

Scale design:
* ``cosine_topk_bruteforce`` is the exact baseline: queries are broadcast
  (small side), so the cross join is a BroadcastNestedLoopJoin with no
  shuffle of the corpus; top-k per query is a window/rank over the scored
  pairs (per-query state = k rows).
* ``lsh_bucket_topk`` is the scale path: random-hyperplane LSH buckets both
  sides; only same-bucket pairs are scored (equi-join on the bucket key),
  trading recall for a ~(2^bits)x reduction in scored pairs.  Hyperplanes
  are deterministic (seeded, numpy) and shipped as literal arrays.

Algorithm provenance (public literature): locality-sensitive hashing —
Indyk/Motwani (STOC 1998) and Gionis/Indyk/Motwani (VLDB 1999);
sign-of-random-projection buckets for cosine — Charikar (STOC 2002);
inverted-file (IVF) coarse quantization with multi-cell probing —
Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011), minus the PQ residual codes (exact re-scoring instead).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _collapse_duplicates
from .materialize import materialize


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_to: int | None = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, score, rank); excludes self-matches.
    Ranking ties break on neighbor id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec"))
    score = cosine(F.col("_qvec"), F.col("_cvec"))
    if round_to is not None:
        score = F.round(score, round_to)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", score.alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def kmeans_centroids(
    corpus: DataFrame,
    vec_col: str,
    n_centroids: int,
    seed: int = 7,
    max_iter: int = 20,
    train_filter: Column | None = None,
) -> DataFrame:
    """Trained IVF centroids via ``pyspark.ml.clustering.KMeans``
    (k-means|| init — Bahmani et al., VLDB 2012, the distributed
    initialization Spark ML implements).

    Returns the same tiny (centroid_id, _cent) shape as the deterministic
    first-n centroid set, so ``ivf_topk``'s probe-join plan is unchanged.
    Training input is L2-NORMALIZED (spherical k-means): ``ivf_topk``
    assigns cells by COSINE, and Euclidean clustering on the unit sphere
    is order-equivalent to cosine; training on raw magnitudes would pull
    centers toward the data mean.  (The synthetic testdata embeddings
    are already unit-norm AND direction-uniform — max pairwise cosine
    ~0.26 — so there measured recall@5 is 0.62-0.68 at n_probe=4/16 vs
    0.92 for data-point anchors: structureless data is IVF's worst case
    and favors anchors that coincide with corpus points.  On real
    embedding corpora, which cluster, trained centroids are what keeps
    recall up as cells multiply — that is why this variant exists.)
    Training is one iterative Spark ML job over the corpus; at 100 TB
    pass ``train_filter`` (e.g. a deterministic hash-bucket predicate,
    ``operators/sampling.py::hash_bucket``) — centroid quality converges
    long before the full corpus is seen, and the filter keeps the
    training input deterministic, unlike ``limit()``.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.filter(train_filter) if train_filter is not None else corpus
    feats = train.withColumn("_n", l2_norm(F.col(vec_col))).select(
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col("_n"))
        ).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return corpus.sparkSession.createDataFrame(
        centers, "centroid_id int, _cent array<double>"
    )


def _resolve_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    centroids: str,
    kmeans_seed: int,
    kmeans_train_filter: Column | None,
    kmeans_max_iter: int,
) -> DataFrame:
    """Centroid-set dispatch shared by ``ivf_topk`` and
    ``semantic_dedup``: deterministic first-n corpus vectors
    (oracle-checkable) or spherical-k-means-trained centers (the
    production path)."""
    if centroids == "kmeans":
        return kmeans_centroids(
            corpus,
            vec_col,
            n_centroids,
            seed=kmeans_seed,
            max_iter=kmeans_max_iter,
            train_filter=kmeans_train_filter,
        )
    if centroids == "first_n":
        return corpus.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("_cent")
        )
    raise ValueError(f"unknown centroids mode {centroids!r}: first_n | kmeans")


def _rank_cells(cand: DataFrame, out_id: str, vec_out: str, top: int) -> DataFrame:
    """Keep each vector's ``top`` best centroid cells out of its
    (vector, centroid) candidate rows: the rounded cosine to ``_cent``,
    ranked per vector id as ``_crank`` 1..top (ties on the lower
    centroid id).  Returns (out_id, vec_out, centroid_id, _crank)."""
    scored = cand.select(
        F.col(out_id),
        F.col(vec_out),
        "centroid_id",
        F.round(cosine(F.col(vec_out), F.col("_cent")), 6).alias("_cscore"),
    )
    w = Window.partitionBy(out_id).orderBy(
        F.col("_cscore").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("_crank", F.row_number().over(w))
        .filter(F.col("_crank") <= top)
        .drop("_cscore")
    )


def _assign_cells(
    df: DataFrame, cents: DataFrame, out_id: str, vec_out: str, top: int,
    keep_rank: bool = False,
) -> DataFrame:
    """Assign each vector to its ``top`` nearest centroid cells: broadcast
    nested-loop against the tiny centroid set, then ``_rank_cells``.
    Shared by ``ivf_topk`` (corpus top-1 / query n_probe) and
    ``semantic_dedup`` (cluster assignment; multi-probe keeps ``_crank``
    so rank 1 stays the canonical cluster)."""
    out = _rank_cells(df.crossJoin(F.broadcast(cents)), out_id, vec_out, top)
    return out if keep_rank else out.drop("_crank")


# LSH-pruned centroid assignment: plane-count cap (bits never exceed
# this; 2^16 buckets covers k ~ 500k centroids at 8 per bucket) and the
# average centroids-per-bucket target the bit count is sized for.
_ASSIGN_LSH_MAX_BITS = 16
_ASSIGN_LSH_CENTS_PER_BUCKET = 8
_ASSIGN_LSH_SEED = 42


def assign_lsh_bits(n_centroids: int) -> int:
    """Bit count for LSH-pruned assignment: enough sign-hyperplanes that
    buckets hold ~_ASSIGN_LSH_CENTS_PER_BUCKET centroids on average.
    Deterministic in k alone, so a SQL oracle can recompute it with
    ``least(16, greatest(1, ceil(log2(k / 8.0))))`` — k/8.0 is an exact
    dyadic division and log2 lands exactly on integers only at powers of
    two (where both engines are exact), so the ceil never straddles an
    ulp."""
    import math

    raw = math.ceil(math.log2(n_centroids / float(_ASSIGN_LSH_CENTS_PER_BUCKET)))
    return min(_ASSIGN_LSH_MAX_BITS, max(1, raw))


def _assign_cells_lsh(
    df: DataFrame,
    cents: DataFrame,
    out_id: str,
    vec_out: str,
    top: int,
    dim: int,
    n_centroids: int,
) -> DataFrame:
    """LSH-pruned centroid assignment — the linear-time replacement for
    ``_assign_cells``'s broadcast nested loop when the centroid count
    grows with the corpus (auto-k SemDeDup).

    The nested loop costs O(n·k) dot products; with k = n/cell_size that
    is quadratic in n — measured 64.5× wall-clock for 10× data at sf1
    (SCALING_SWEEP.json round 8), WORSE than the fixed-k pair explosion
    it was meant to fix.  Here each vector scores only centroids sharing
    one of its 1+bits probed LSH codes (its own sign-bucket plus every
    single-bit flip — standard multi-probe): candidates per vector stay
    ~(1+bits)·k/2^bits ≈ (1+bits)·8, so total work is O(n·log k) — truly
    linear up to the log factor.  Candidates are ranked by the same
    ``_rank_cells`` as the exact path; vectors whose probes hit no
    centroid (rare by construction) fall back to ``_assign_cells``'s
    exact nested loop, so every vector is always assigned.

    Approximation contract: the assigned cell is the nearest centroid
    among PROBED buckets, which can differ from the global argmax when
    the true nearest centroid differs from the vector in >= 2 sign bits.
    The assignment is still deterministic (seeded planes, identical
    sequential-sum projections) and SQL-replayable — planes embed as
    double literals, bits recomputes from k (``assign_lsh_bits``).

    The hash pass uses the columnar ``lsh_bucket_expr`` (interpreted HOF
    dots — fine for <= 16 planes); at extreme scale swap in
    ``band_buckets_udf``'s Arrow/BLAS matmul, same bit semantics.

    Returns ``_rank_cells``' columns, ``_crank`` included (its one
    caller, ``semantic_dedup``, reads rank 1 as the cluster)."""
    bits = assign_lsh_bits(n_centroids)
    planes = random_hyperplanes(dim, _ASSIGN_LSH_MAX_BITS, _ASSIGN_LSH_SEED)[:bits]
    v = df.withColumn("_bkt", lsh_bucket_expr(F.col(vec_out), planes))
    c = cents.withColumn("_cbkt", lsh_bucket_expr(F.col("_cent"), planes))
    probes = v.select(
        F.col(out_id),
        F.col(vec_out),
        F.explode(
            F.array(
                F.col("_bkt"),
                *[F.col("_bkt").bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(bits)],
            )
        ).alias("_code"),
    )
    cand = probes.join(
        F.broadcast(c.select("centroid_id", "_cent", "_cbkt")),
        probes["_code"] == F.col("_cbkt"),
    )
    # Rank BEFORE the fallback check, then materialize the small ranked
    # result (n x top rows): both downstream consumers (the anti-join
    # and the final union) read the barrier, so the probe hash+join DAG
    # executes exactly once per action — without it the whole candidate
    # pipeline ran twice (round-8 review finding), doubling the constant
    # factor of the path that exists to be the cheap one.
    ranked_cand = materialize(_rank_cells(cand, out_id, vec_out, top))
    # rare fallback: vectors none of whose probe codes hold a centroid
    # are scored exactly against the full set (always-assigned contract);
    # their ids are disjoint from ranked_cand's by construction, so the
    # two ranked sets union without re-ranking
    unmatched = v.join(
        ranked_cand.select(out_id).distinct(), out_id, "left_anti"
    ).select(out_id, vec_out)
    return ranked_cand.unionAll(
        _assign_cells(unmatched, cents, out_id, vec_out, top, keep_rank=True)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    round_to: int = 4,
    centroids: str = "first_n",
    kmeans_seed: int = 7,
    kmeans_train_filter: Column | None = None,
    kmeans_max_iter: int = 20,
) -> DataFrame:
    """IVF-style approximate top-k: coarse quantization + probed search.

    ``centroids="first_n"``: the first ``n_centroids`` corpus vectors by
    id — deterministic (no k-means iterations), which is what makes the
    result oracle-checkable.  ``centroids="kmeans"``: centroids trained
    with ``pyspark.ml.clustering.KMeans`` (see ``kmeans_centroids``) —
    the production path (recall at scale depends on centroid quality);
    IDENTICAL probe-join plan shape, pinned by
    tests/test_plan_shapes.py.  Corpus vectors are assigned to their
    nearest centroid (broadcast nested-loop against the tiny centroid set,
    then a top-1 window); each query probes its ``n_probe`` nearest
    centroid cells and scores ONLY vectors in those cells — an equi-join
    on ``centroid_id`` instead of an all-pairs cross join, so the scored
    set shrinks by ~n_probe/n_centroids.  At 100 TB the assignment pass is
    one scan + broadcast, and the probe join shuffles on the (small-int)
    cell id.
    """
    cents = _resolve_centroids(
        corpus, id_col, vec_col, n_centroids, centroids,
        kmeans_seed, kmeans_train_filter, kmeans_max_iter,
    )

    c = _assign_cells(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")),
        cents,
        "neighbor_id",
        "_cvec",
        top=1,
    )
    q = _assign_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")),
        cents,
        "query_id",
        "_qvec",
        top=n_probe,
    )
    scored = (
        c.join(F.broadcast(q), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qvec"), F.col("_cvec")), round_to).alias("score"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])  # a pair may share n_probe cells
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    m: int = 8,
    codewords: int = 16,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI 2011): split each
    vector into ``m`` subspaces, quantize every subvector to its nearest
    of ``codewords`` per-subspace codewords, and score query-corpus
    pairs by ADC — summing the query's precomputed dot product with each
    assigned codeword.  The corpus is then ``m`` small integers per
    vector instead of ``dim`` floats (here 8 codes for 64 floats — the
    memory collapse that makes billion-vector search fit in RAM), and a
    pair score is ``m`` table lookups instead of a ``dim``-wide dot.

    Codebooks are the first ``codewords`` corpus vectors' subvectors
    (deterministic, the same anchor choice as ivf_topk's ``first_n`` —
    k-means-trained codebooks swap in exactly like ``kmeans_centroids``
    does there, without changing the plan).  All distances use the
    expanded form ``ip(x,x) - 2·ip(x,c) + ip(c,c)`` (three sequential-
    sum inner products — cross-engine reproducible, no elementwise
    temporary); argmin is a ``min(struct(dist, codeword))`` partial
    aggregation, NOT a window — map-side combine collapses the
    ``codewords``-way comparison before any shuffle.  ADC table entries
    are rounded then scaled to exact integers so the per-pair sum is
    associative — immune to aggregation order, hash-identical in any
    engine.

    Plan at scale: one broadcast join (tiny codebook) + one aggregation
    to encode the corpus, the same to build query tables, one equi-join
    on (subspace, code) + one aggregation to score, one top-k window.
    No cartesian; the only per-pair work is integer addition.
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    d = dim // m

    def subspaces(df: DataFrame, out_id: str) -> DataFrame:
        slices = F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.transform(
                F.slice(F.col(vec_col), s * d + 1, d), lambda x: x.cast("double")
            ),
        )
        return df.select(
            F.col(id_col).alias(out_id), F.posexplode(slices).alias("s", "sv")
        )

    sub = subspaces(corpus, "nid")
    csub = subspaces(corpus.filter(F.col(id_col) < codewords), "c").select(
        "c", "s", F.col("sv").alias("cs")
    )
    dist = F.round(
        dot(F.col("sv"), F.col("sv"))
        - 2 * dot(F.col("sv"), F.col("cs"))
        + dot(F.col("cs"), F.col("cs")),
        6,
    )
    enc = (
        sub.join(F.broadcast(csub), "s")
        .select("nid", "s", F.struct(dist.alias("d"), F.col("c")).alias("_dc"))
        .groupBy("nid", "s")
        .agg(F.min("_dc").alias("_best"))
        .select("nid", "s", F.col("_best.c").alias("code"))
    )
    qsub = subspaces(queries, "qid")
    # round at the INTEGER scale, not round(x,6)*1e6-then-cast: the scaled
    # product can land at .99999... and Spark's long cast truncates where
    # another engine's rounds — round(x*1e6) is exact and identical
    # everywhere (both engines round halves away from zero)
    qt = (
        qsub.join(F.broadcast(csub), "s")
        .select(
            "qid",
            "s",
            "c",
            F.round(dot(F.col("sv"), F.col("cs")) * 1_000_000)
            .cast("long")
            .alias("w"),
        )
    )
    scored = (
        enc.join(F.broadcast(qt), (enc["s"] == qt["s"]) & (enc["code"] == qt["c"]))
        .filter(F.col("qid") != F.col("nid"))
        .groupBy("qid", "nid")
        # NO final round: sum(w) is an exact integer, so int->double cast +
        # one IEEE division is bit-identical in any engine, while a
        # round(x, 4) on a half-boundary value (e.g. 392350/1e6) differs
        # between decimal-string rounding (Spark, BigDecimal: 0.3924) and
        # binary-double rounding (DuckDB: 0.3923) — found at sf0.1
        .agg(
            (F.sum("w").cast("double") / F.lit(1_000_000.0)).alias("approx_score")
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("approx_score").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            "approx_score",
            "rank",
        )
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    round_to: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine >= t).

    Exact all-pairs form (the oracle-checkable baseline).  The upper-
    triangle predicate halves the scored pairs; norms are computed once
    per side.  At 100 TB scale the same contract is served by LSH
    bucketing (``lsh_bucket_topk``'s bucket join) or ``ivf_topk``'s cell
    join — swap the pair generator, keep the scoring expression.
    """
    # Pre-normalize ONCE per row (bound column), so each of the O(n^2)
    # pairs costs a single dot product instead of dot + two norm
    # recomputations — measured 3x on the all-pairs stage.  The oracle
    # mirrors the same operation order (divide per element, then
    # sequential sum of products) for bit-identical doubles.
    unit = vectors.withColumn("_n", l2_norm(F.col(vec_col))).withColumn(
        "_u", F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col("_n"))
    )
    a = unit.select(F.col(id_col).alias("id_a"), F.col("_u").alias("_ua"))
    b = unit.select(F.col(id_col).alias("id_b"), F.col("_u").alias("_ub"))
    score = F.round(dot(F.col("_ua"), F.col("_ub")), round_to)
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", score.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | str = "auto",
    threshold: float = 0.95,
    round_to: int = 4,
    centroids: str = "first_n",
    kmeans_seed: int = 7,
    kmeans_train_filter: Column | None = None,
    kmeans_max_iter: int = 20,
    n_probe: int = 1,
    target_cell_size: int = 256,
    assign: str = "lsh",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then search
    for near-duplicate pairs ONLY within each cluster — the O(n²/k)
    restriction that makes embedding dedup feasible at corpus scale,
    because semantically near-identical documents land in the same cell.

    Per vector the result carries ``(id, cluster_id, keep)`` where
    ``keep`` is false iff a vector with a SMALLER id sharing one of its
    probed cells has cosine >= ``threshold`` (greedy keep-lowest-id —
    deterministic and order-free; the paper's keep-farthest-from-centroid
    variant swaps only the tiebreak, not the plan).  Cross-cluster
    near-dups are missed by construction — that is the documented recall
    trade of the method.  Two recall levers, measured in
    tests/test_semantic_dedup_recall.py: trained centroids
    (``centroids="kmeans"``) sharpen the cells, and ``n_probe > 1``
    (multi-probe, the IVF trick) searches each vector's ``n_probe``
    nearest cells so boundary-straddling pairs still meet — pair volume
    grows ~n_probe×, still O(n²·n_probe/k), never all-pairs.
    ``cluster_id`` stays the rank-1 cell in every mode.

    Plan at scale: centroid set is tiny (broadcast nested-loop assign +
    per-id top-N window), the pair search is an equi-join on
    ``cluster_id`` (never a global cross join), and the keep flag is one
    aggregation over the dup pairs joined back — shuffles are sized by
    the cluster cells, not the corpus square.

    SCALING THE CELL COUNT — the full story, both terms measured:

    * Fixed ``k`` while the corpus grows: the O(n²·n_probe/k) PAIR term
      is quadratic (r7 sweep: 17.7× wall-clock for 10× data at k=16).
    * ``n_clusters="auto"`` (k = max(16, n // target_cell_size), n from
      the one eager aggregate) makes the pair term linear
      (n·target_cell_size·n_probe) — but with ``assign="exact"`` the
      ASSIGNMENT term O(n·k) = O(n²/cell) is now the quadratic one
      (r8 sweep: 64.5× for 10× data at sf1 — WORSE than fixed-k,
      because assignment costs k/cell_size times more dot products per
      vector than pairing).
    * ``assign="lsh"`` + auto-k is the actually-linear configuration:
      each vector scores only centroids sharing one of its 1+bits
      multi-probed LSH codes (~(1+bits)·8 candidates, bits ~ log k —
      see ``_assign_cells_lsh``), so BOTH terms are ~n·log(n).  The
      assignment becomes nearest-among-probed-buckets (approximate;
      recall floor pinned in tests/test_semantic_dedup_recall.py), and
      stays deterministic + SQL-replayable.

    DEFAULTS are the scale-safe configuration (``n_clusters="auto"``,
    ``assign="lsh"`` — both cost terms ~n·log n, sweep-measured 4.71×
    at 10× data): calling ``semantic_dedup(vectors)`` without reading
    this docstring gets the linear path.  The quadratic configurations
    (fixed ``n_clusters``, or ``assign="exact"`` with auto-k) remain
    available explicitly as oracle-determinism baselines and live in
    ``plans.catalog.PYTEST_ONLY_QUERIES``, off the driver registry
    (VERDICT r8 item #1).  ``dim`` is only read in LSH mode (plane
    width): ``None`` (default) infers it from the corpus via the same
    min/max-size aggregate that guards against mixed widths; an
    explicit value must match the embedding width exactly.

    Eager jobs: ONE aggregate over the corpus whenever auto-k or LSH
    mode needs it (row count, min and max vector width together), the
    k-means training with ``centroids="kmeans"``, the LSH
    candidate-ranking barrier in LSH mode, and the assignment barrier;
    the pair search and the verdict are lazy.
    """
    if n_clusters != "auto" and not isinstance(n_clusters, int):
        raise ValueError(f"n_clusters must be an int or 'auto', got {n_clusters!r}")
    # One eager aggregate serves both reads of the corpus: the row count
    # auto-k needs and, in LSH mode, the min/max vector width of the dim
    # guard below.
    n_total = lo = hi = None
    if n_clusters == "auto" or assign == "lsh":
        n_total, lo, hi = vectors.agg(
            F.count(F.lit(1)), F.min(F.size(F.col(vec_col))), F.max(F.size(F.col(vec_col)))
        ).first()
    if n_clusters == "auto":
        n_clusters = max(16, n_total // target_cell_size)
    cents = _resolve_centroids(
        vectors, id_col, vec_col, n_clusters, centroids,
        kmeans_seed, kmeans_train_filter, kmeans_max_iter,
    )

    if assign == "lsh":
        # dim mismatch guard: zip_with pads the shorter array with nulls,
        # so planes of the wrong width make every projection NULL -> every
        # vector AND centroid lands in bucket 0 -> (1+bits)*n*k
        # candidates, silently WORSE than the exact loop this mode
        # replaces.  The guard reads min AND max vector size over the
        # WHOLE corpus (not just the first row — a mixed-width corpus
        # whose first row happens to match would otherwise slip through
        # and degrade row-by-row, the exact failure mode this documents).
        # Fail loudly instead.
        if dim is None:
            if lo is None:
                raise ValueError(
                    "assign='lsh' cannot infer the plane width from an "
                    f"empty corpus — pass dim= explicitly"
                )
            if lo != hi:
                raise ValueError(
                    f"assign='lsh' found mixed {vec_col!r} widths "
                    f"[{lo}, {hi}] — LSH planes must match the embedding "
                    "width for every row"
                )
            dim = lo
        elif lo is not None and (lo != dim or hi != dim):
            raise ValueError(
                f"assign='lsh' was given dim={dim} but {vec_col!r} vectors "
                f"have sizes in [{lo}, {hi}] — LSH planes must match the "
                "embedding width for every row"
            )
        assigned = _assign_cells_lsh(
            vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
            cents,
            "_id",
            "_v",
            top=n_probe,
            dim=dim,
            n_centroids=n_clusters,
        )
    elif assign == "exact":
        assigned = _assign_cells(
            vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
            cents,
            "_id",
            "_v",
            top=n_probe,
            keep_rank=True,
        )
    else:
        raise ValueError(f"unknown assign mode {assign!r}: exact | lsh")
    # Assignment scores raw vectors (same expression as ivf_topk's oracle);
    # pair scoring pre-normalizes once per row, same as
    # embedding_neardup_pairs — both shapes already value-pinned vs DuckDB.
    assigned = (
        assigned.withColumn("_n", l2_norm(F.col("_v")))
        .withColumn(
            "_u", F.transform(F.col("_v"), lambda x: x.cast("double") / F.col("_n"))
        )
        .drop("_v", "_n")
    )
    # Barrier: the assignment feeds THREE plan branches (both pair sides
    # + the verdict join).  Without it the scan + broadcast-NL centroid
    # assignment executes three times per run — at corpus scale, three
    # full passes instead of one.
    assigned = materialize(assigned)
    a = assigned.select(
        F.col("_id").alias("id_a"), F.col("_u").alias("_ua"), "centroid_id"
    )
    b = assigned.select(
        F.col("_id").alias("id_b"), F.col("_u").alias("_ub"), "centroid_id"
    )
    dup_ids = (
        a.join(b, "centroid_id")
        .filter(F.col("id_b") < F.col("id_a"))
        .filter(F.round(dot(F.col("_ua"), F.col("_ub")), round_to) >= threshold)
        .select(F.col("id_a").alias("_dup_id"))
        .distinct()
    )
    primary = assigned.filter(F.col("_crank") == 1)
    return (
        primary.join(dup_ids, primary["_id"] == dup_ids["_dup_id"], "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("centroid_id").alias("cluster_id"),
            F.col("_dup_id").isNull().alias("keep"),
        )
    )


def embedding_neardup_pairs_blocked(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    round_to: int = 4,
    n_blocks: int | None = None,
    target_block_rows: int = 8192,
) -> DataFrame:
    """Exact all-pairs embedding near-dup, fully distributed (no driver
    collect anywhere in the plan): classic blocked matrix multiply.

    Rows hash into ``n_blocks`` blocks; each row is replicated to every
    unordered block PAIR it participates in (n_blocks copies), then one
    ``applyInPandas`` task per block pair scores its two blocks with a
    single BLAS matmul.  Work is the same O(n^2) dot products as the
    exact contract demands, but:
    * task memory is bounded by 2 x block_rows x dim doubles regardless
      of n (pick target_block_rows to fit the executor);
    * shuffle volume is n x n_blocks vector copies — O(n^2 / block_rows),
      the textbook blocked-matmul replication cost, spread over
      n_blocks^2 / 2 independent tasks;
    * nothing ever moves to the driver.

    ``n_blocks`` defaults from a count() (a metadata-only parquet
    aggregate, not a data collect).  Scores unit-normalize, BLAS-dot and
    round: BLAS summation order differs from ``embedding_neardup_pairs``'
    sequential sum at ~1e-16, which the ``round_to`` rounding absorbs, so
    the two are value-identical.
    """
    import pandas as pd

    if n_blocks is None:
        n = vectors.count()
        n_blocks = max(1, -(-n // target_block_rows))
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    )
    # replicate each row into every unordered block pair containing its block
    pairs = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda j: F.struct(
            F.least(F.col("blk"), j.cast("int")).alias("ba"),
            F.greatest(F.col("blk"), j.cast("int")).alias("bb"),
        ),
    )
    tagged = v.select("id", "v", "blk", F.explode(pairs).alias("p")).select(
        F.col("p.ba").alias("ba"), F.col("p.bb").alias("bb"), "id", "v", "blk"
    )

    def score_block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = int(pdf["ba"].iloc[0]), int(pdf["bb"].iloc[0])
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})

        def side(block: int):
            part = pdf[pdf["blk"] == block]
            ids = part["id"].to_numpy(dtype="int64")
            if not len(ids):
                return ids, None
            mat = np.stack([np.asarray(x, dtype="float64") for x in part["v"]])
            return ids, mat / np.linalg.norm(mat, axis=1, keepdims=True)

        ids_a, ua = side(ba)
        if ua is None:
            return empty
        if ba == bb:
            ids_b, ub = ids_a, ua
        else:
            ids_b, ub = side(bb)
            if ub is None:
                return empty
        scores = np.round(ua @ ub.T, round_to)
        ia, ib = np.nonzero(scores >= threshold)
        if ba == bb:
            # symmetric matrix: keep strictly-upper-triangle (by id) so each
            # unordered pair is emitted once and self-pairs drop
            keep = ids_a[ia] < ids_b[ib]
            ia, ib = ia[keep], ib[keep]
        lo = np.minimum(ids_a[ia], ids_b[ib])
        hi = np.maximum(ids_a[ia], ids_b[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": scores[ia, ib]})

    return tagged.groupBy("ba", "bb").applyInPandas(
        score_block_pair, "id_a long, id_b long, cosine double"
    )


def random_hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim))


def lsh_bucket_expr(vec: Column, planes: np.ndarray) -> Column:
    """Sign-of-projection LSH bucket id (int) for a vector column.

    Columnar form — fine for a handful of planes (ANN bucketing uses 4).
    For band signatures (16 bands x 4 bits = 64 planes) use
    ``band_buckets_udf``: 64 unrolled higher-order-function dots are
    evaluated interpreted (HOF lambdas don't enter whole-stage codegen)
    and measured ~10x slower than one Arrow-batched BLAS matmul.

    Each plane's literal array is ONE parsed SQL expression — one py4j
    call instead of one ``F.lit`` per coordinate.  Coordinates are
    written as their ``repr`` with the ``D`` suffix, which parses back
    to the identical double."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.expr("array(" + ", ".join(f"{float(x)!r}D" for x in plane) + ")")
        proj = dot(vec, lit_plane)
        bucket = bucket + F.when(proj > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def band_buckets_udf(planes: np.ndarray, bands: int, bits_per_band: int):
    """Arrow-batched band-signature hashing: one BLAS matmul per batch
    computes every plane projection at once, returning an array of
    ``bands`` bucket ids per vector.  Bit semantics identical to
    ``lsh_bucket_expr`` (bit i set iff projection_i > 0)."""
    from pyspark.sql.functions import pandas_udf

    P = planes.astype("float64")
    weights = (1 << np.arange(bits_per_band)).astype("int64")

    @pandas_udf(T.ArrayType(T.LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(v, dtype="float64") for v in vecs])
        signs = (M @ P.T) > 0  # (n, bands*bits_per_band)
        b = (signs.reshape(len(M), bands, bits_per_band) * weights).sum(axis=2)
        return pd.Series(list(b))

    return _buckets


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only pairs sharing an LSH bucket.

    The candidate join is an equi-join on the bucket id — shuffle on a
    small int key instead of an all-pairs nested loop.
    """
    planes = random_hyperplanes(dim, bits, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        lsh_bucket_expr(F.col(vec_col), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        lsh_bucket_expr(F.col(vec_col), planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qvec"), F.col("_cvec")), 4).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_neardup_pairs_lsh(
    vectors: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    round_to: int = 4,
    bands: int = 16,
    bits_per_band: int = 4,
    seed: int = 42,
    collapse_exact: bool = True,
) -> DataFrame:
    """LSH-candidates + exact-rescore near-dup pipeline: the general-case
    scale path when even blocked O(n^2) is too much.

    ``collapse_exact`` (default on) guards against DUPLICATE-DENSE
    corpora, where plain bucket-joining degenerates: m byte-identical
    copies of one vector land every band bucket they touch, so the
    within-bucket join emits O(m^2) candidate rows per bucket per band —
    quadratic in the duplication factor, which is exactly the corpus
    shape near-dup detection exists for.  The collapse groups identical
    vectors first (one shuffle keyed on the vector bytes), runs
    LSH+rescore on one REPRESENTATIVE per group, then expands rep pairs
    back to id pairs with the rep cosine attached.  Bit-identical
    output: band buckets and the rounded cosine are pure functions of
    the vector, so every expanded pair collides and scores exactly as it
    would have un-collapsed (within-group pairs are identical vectors —
    always colliding, scored via the group's self-pair).  Measured at
    sf1 (10x replicated corpus, every vector 10 copies): 232s -> the
    rep-side join is 100x smaller.

    Candidate generation: random-hyperplane LSH, ``bands`` independent
    band buckets of ``bits_per_band`` sign bits each; a pair is a
    candidate iff it collides in >= 1 band — a self-equi-join on the
    (band, bucket) key, never an all-pairs product.  Rescore: candidates
    join back to their unit vectors and get the EXACT sequential-sum
    cosine (same expression as ``embedding_neardup_pairs``), so false
    positives are eliminated; the only approximation is recall.

    Recall is 1-(1-p^r)^b with p = 1 - theta/pi: for cosine 0.95
    (theta~18deg, p~.90) the default 16x4 gives ~1-5e-8 — effectively
    exact.  At LOW thresholds hyperplane LSH degrades (cosine 0.4 ->
    ~94% pair recall at 16x4): that regime is what
    ``embedding_neardup_pairs_blocked`` is for.

    Shuffle profile at scale: corpus scanned once to hash (one
    Arrow-batched BLAS matmul per batch — see ``band_buckets_udf``),
    exploded x bands for the bucket join (fixed-width keys), then two
    id-equi-joins for the rescore — all AQE-skew-splittable equi-joins.
    """
    planes = random_hyperplanes(dim, bands * bits_per_band, seed)
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    hasher = band_buckets_udf(planes, bands, bits_per_band)
    members = None
    if collapse_exact:
        # keyed on the vector itself (~4*dim bytes/row — comparable to
        # the scan)
        v, members = _collapse_duplicates(v, "id", F.col("vec"))
    # materialize the buckets before the self-join: no ReusedExchange is
    # planned across the two sides, so without the barrier the Arrow/BLAS
    # hashing UDF executes once PER SIDE.  (id, band, bucket) is ~20 B
    # per (doc, band) — cheap at any scale.
    buckets = materialize(
        v.select("id", F.posexplode(hasher(F.col("vec"))).alias("band", "bucket"))
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    if members is not None:
        # identical vectors always collide (same buckets by construction);
        # one SELF-pair per multi-member group carries the group's cosine
        # through the same rescore path, so the expansion below emits
        # within-group pairs with exactly the value the un-collapsed
        # pipeline would have computed.
        self_pairs = (
            v.filter(F.col("_gn") >= 2)
            .select(F.col("id").alias("id_a"), F.col("id").alias("id_b"))
        )
        candidates = candidates.unionByName(self_pairs)
    paired = candidates.join(
        v.select(F.col("id").alias("id_a"), F.col("vec").alias("_va")), "id_a"
    ).join(v.select(F.col("id").alias("id_b"), F.col("vec").alias("_vb")), "id_b")

    def rescore(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack([np.asarray(x, dtype="float64") for x in pdf["_va"]])
            B = np.stack([np.asarray(x, dtype="float64") for x in pdf["_vb"]])
            A /= np.linalg.norm(A, axis=1, keepdims=True)
            B /= np.linalg.norm(B, axis=1, keepdims=True)
            s = np.round(np.einsum("ij,ij->i", A, B), round_to)
            keep = s >= threshold
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy()[keep],
                    "id_b": pdf["id_b"].to_numpy()[keep],
                    "cosine": s[keep],
                }
            )

    scored = paired.mapInPandas(rescore, "id_a long, id_b long, cosine double")
    if members is None:
        return scored
    # expand rep pairs to id pairs: each id belongs to exactly one group,
    # so a pair of ids maps to exactly one rep pair — only the self-pair
    # expansion double-emits (xa,xb)/(xb,xa), which the dedup removes.
    return (
        scored.join(
            members.select(F.col("rep").alias("id_a"), F.col("mid").alias("xa")),
            "id_a",
        )
        .join(
            members.select(F.col("rep").alias("id_b"), F.col("mid").alias("xb")),
            "id_b",
        )
        .filter(F.col("xa") != F.col("xb"))
        .select(
            F.least("xa", "xb").alias("id_a"),
            F.greatest("xa", "xb").alias("id_b"),
            "cosine",
        )
        .dropDuplicates(["id_a", "id_b"])
    )
