"""Scale-path behavior of the near-dup operators: the blocked distributed
exact form must equal the columnar exact form, the LSH candidates+rescore
pipeline must be a pure-recall approximation (no false positives), and
the n-gram Jaccard stop-shingle cap must bound hot postings without
changing results on corpora below the cap.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.operators.dedup import ngram_jaccard_pairs
from factory_inspectors_db_etl_spark.operators.similarity import (
    cosine_topk_bruteforce,
    embedding_neardup_pairs,
    embedding_neardup_pairs_blocked,
    embedding_neardup_pairs_lsh,
    ivf_topk,
)
from factory_inspectors_db_etl_spark.sources.tables import load_table

THRESHOLD = 0.40


def _pairs(df):
    return {(r["id_a"], r["id_b"]): r["cosine"] for r in df.collect()}


@pytest.fixture(scope="module")
def exact_pairs(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return _pairs(embedding_neardup_pairs(e, threshold=THRESHOLD))


def test_blocked_equals_exact(spark, sf_dir, exact_pairs):
    e = load_table(spark, sf_dir, "embeddings")
    # 100-row blocks over 500 vectors -> 5 blocks, 15 block pairs: the
    # multi-block path (diagonal + off-diagonal tasks) is what's tested
    got = _pairs(
        embedding_neardup_pairs_blocked(e, threshold=THRESHOLD, target_block_rows=100)
    )
    assert set(got) == set(exact_pairs)
    assert all(abs(got[k] - exact_pairs[k]) < 1e-9 for k in got)


def test_blocked_single_block_degenerate(spark, sf_dir, exact_pairs):
    e = load_table(spark, sf_dir, "embeddings")
    got = _pairs(embedding_neardup_pairs_blocked(e, threshold=THRESHOLD, n_blocks=1))
    assert set(got) == set(exact_pairs)


def test_lsh_rescore_no_false_positives_and_high_recall(spark, sf_dir, exact_pairs):
    e = load_table(spark, sf_dir, "embeddings")
    got = _pairs(embedding_neardup_pairs_lsh(e, dim=64, threshold=THRESHOLD))
    # exact rescore: every emitted pair is a true pair with the true score
    assert set(got) <= set(exact_pairs)
    assert all(abs(got[k] - exact_pairs[k]) < 1e-9 for k in got)
    # recall at this LOW threshold is ~1-(1-p^4)^16 with p~0.63 -> ~0.94;
    # assert a conservative floor (at the 0.95 design point it is ~1-5e-8)
    assert len(got) >= 0.75 * len(exact_pairs)


def test_ivf_kmeans_recall_floor_vs_bruteforce_and_deterministic(spark, sf_dir):
    """The KMeans-centroid IVF variant (VERDICT r3 item #4): recall@5
    measured against exact brute force must clear the 0.35 contract
    floor of q_sim_ivf_topk_kmeans; the deterministic first-n variant is
    measured alongside.  On the synthetic embeddings (unit-norm,
    direction-uniform — no cluster structure, IVF's worst case) the
    data-point anchors win (~0.92 vs ~0.62); the kmeans path is the
    production choice for real, clustered corpora."""
    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(e, qs, k=5).select("query_id", "neighbor_id")
    n_exact = exact.count()
    assert n_exact == 50

    def recall(df):
        return df.select("query_id", "neighbor_id").join(
            exact, ["query_id", "neighbor_id"]
        ).count() / n_exact

    km = recall(ivf_topk(e, qs, k=5, n_centroids=16, n_probe=4, centroids="kmeans"))
    det = recall(ivf_topk(e, qs, k=5, n_centroids=16, n_probe=4))
    assert km >= 0.35, f"kmeans recall {km} under contract floor"
    assert det >= 0.35, f"first_n recall {det} under contract floor"


def test_ivf_unknown_centroid_mode_raises(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="annoy"):
        ivf_topk(e, e.limit(1), centroids="annoy")


def test_ngram_max_df_caps_hot_shingle(spark):
    # 12 docs sharing one hot 3-gram prefix + 2 genuine near-dups
    hot = [(i, f"alpha beta gamma filler{i} tail{i} end{i}") for i in range(12)]
    near = [
        (100, "one two three four five six seven"),
        (101, "one two three four five six eight"),
    ]
    df = spark.createDataFrame(hot + near, "doc_id long, text string")
    # cap at 10: the hot shingle (df=12) is dropped, so the hot docs share
    # nothing and generate NO pairs; the near-dup pair survives untouched
    capped = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.1, max_df=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(100, 101)}
    # uncapped: the hot shingle generates all 66 hot pairs
    exact = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.1, max_df=None)
    assert exact.count() == 66 + 1


def test_ngram_default_cap_is_noop_below_cap(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    capped = ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.5)
    exact = ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.5, max_df=None)
    assert _pairs_j(capped) == _pairs_j(exact)


def _pairs_j(df):
    return {(r["id_a"], r["id_b"]): round(r["jaccard"], 9) for r in df.collect()}


def test_duplicate_collapse_keeps_nulls_apart_and_copies_together(spark):
    """The shared exact-duplicate collapse, through a closure consumer
    and a pair operator: NULL texts never group or pair, verbatim copies
    land on their min id, and the near-dup joins them."""
    from factory_inspectors_db_etl_spark.operators.dedup import ngram_cluster_assignments
    from factory_inspectors_db_etl_spark.operators.setsim import prefix_filter_jaccard_pairs

    text = "the quick brown fox jumps over the lazy dog today"
    rows = [
        (1, None),
        (2, None),
        (10, text),
        (11, text),
        (12, text),
        (13, "the quick brown fox jumps over the lazy dog tonight"),  # J = 7/9
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    comp = {
        r["doc_id"]: r["component_id"]
        for r in ngram_cluster_assignments(df, "doc_id", "text").collect()
    }
    assert comp == {1: 1, 2: 2, 10: 10, 11: 10, 12: 10, 13: 10}

    pairs = {
        (r["id_a"], r["id_b"])
        for r in prefix_filter_jaccard_pairs(df, "doc_id", "text").collect()
    }
    assert not any({1, 2} & set(p) for p in pairs)
    assert {(10, 11), (10, 12), (11, 12)} <= pairs
    assert {(10, 13), (11, 13), (12, 13)} <= pairs


# ---------------------------------------------------------------------------
# connected components / cluster assignment
# ---------------------------------------------------------------------------


def test_connected_components_chain_and_island(spark):
    from factory_inspectors_db_etl_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3: exercises multi-round propagation) plus
    # separate pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_max_iters_raises(spark):
    from factory_inspectors_db_etl_spark.operators.dedup import connected_components

    # a 30-node chain needs ~29 min-propagation rounds to converge; with
    # max_iters=2 the operator must raise rather than return a silently
    # unconverged labeling
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=2)


def test_connected_components_converges_with_headroom(spark):
    from factory_inspectors_db_etl_spark.operators.dedup import connected_components

    # same chain with enough rounds: one component labeled by the min node
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(11)}


def test_connected_components_budget_counts_the_seeded_round(spark):
    from factory_inspectors_db_etl_spark.operators.dedup import (
        NonConvergenceError,
        connected_components,
    )

    # chain 1-2-3-4: three rounds move the min label to node 4, a fourth
    # observes no change — round 1 (seeded from the edge list) counts
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    with pytest.raises(NonConvergenceError):
        connected_components(pairs, max_iters=3)
    got = {r["node"]: r["component"] for r in connected_components(pairs, max_iters=4).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_connected_components_runs_three_barriers_and_no_other_action(spark, monkeypatch):
    """A 4-clique plus a self-paired island converges in round 2: the
    symmetric-edge barrier, round 1 seeded from the edges and round 2,
    which observes no change from its own barrier job.  Each barrier
    runs under its own job group, so any other action (a count, a
    convergence sum) would show up in the outer group."""
    from factory_inspectors_db_etl_spark.operators import dedup

    sc = spark.sparkContext
    outer = "cc-outer"
    barriers: list[str] = []

    def in_own_group(fn):
        def recording(df, *args, **kwargs):
            gid = f"cc-barrier-{len(barriers)}"
            barriers.append(gid)
            sc.setJobGroup(gid, gid)
            try:
                return fn(df, *args, **kwargs)
            finally:
                sc.setJobGroup(outer, outer)

        return recording

    monkeypatch.setattr(dedup, "materialize", in_own_group(dedup.materialize))
    monkeypatch.setattr(dedup, "materialize_counted", in_own_group(dedup.materialize_counted))
    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    pairs = spark.createDataFrame(clique + [(9, 9)], "id_a long, id_b long")
    sc.setJobGroup(outer, outer)
    try:
        comp = dedup.connected_components(pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    assert len(barriers) == 3
    assert all(tracker.getJobIdsForGroup(g) for g in barriers)
    assert tracker.getJobIdsForGroup(outer) == []
    got = {r["node"]: r["component"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}


def test_large_star_agrees_with_min_propagation(spark):
    from factory_inspectors_db_etl_spark.operators.dedup import (
        connected_components,
        connected_components_large_star,
    )

    # chain + clique + singleton-pair + self-pair: every structural case
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21), (30, 30)],
        "id_a long, id_b long",
    )
    want = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    got = {r["node"]: r["component"] for r in connected_components_large_star(pairs).collect()}
    assert got == want


def test_large_star_converges_on_long_chain(spark):
    from factory_inspectors_db_etl_spark.operators.dedup import (
        connected_components_large_star,
    )

    # a 60-node chain: min-propagation needs ~59 rounds (raises at the
    # default 25); large-star/small-star is O(log^2 n) and must converge
    # comfortably inside 20 rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    got = {r["node"]: r["component"] for r in connected_components_large_star(pairs).collect()}
    assert got == {i: 0 for i in range(61)}


def test_assign_components_auto_falls_back_on_long_chain(spark, monkeypatch):
    """A 40-node chain exceeds min-label's round budget (cut to 3 here so
    the bail-out is fast); assign_components must fall back to large-star,
    whose own budget the tight min-label one does not starve, and produce
    the exact single cluster with one canonical doc."""
    from factory_inspectors_db_etl_spark.operators import dedup

    monkeypatch.setattr(dedup, "_MIN_LABEL_ROUNDS", 3)
    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(39)], "id_a long, id_b long")
    got = dedup.assign_components(docs, pairs)
    rows = {r["doc_id"]: (r["component_id"], r["is_canonical"]) for r in got.collect()}
    assert rows.keys() == set(range(40))
    assert all(c == 0 for c, _ in rows.values())
    assert [d for d, (_, canon) in rows.items() if canon] == [0]


def test_lsh_bucket_expr_parsed_planes_match_per_coordinate_literals(spark):
    """The parsed-SQL plane arrays carry the exact doubles: buckets equal
    the per-coordinate ``F.lit`` form on random vectors, tiny ones
    included (projections near zero), for 1, 5 and 16 planes."""
    import numpy as np

    from factory_inspectors_db_etl_spark.operators.similarity import (
        dot,
        lsh_bucket_expr,
        random_hyperplanes,
    )

    def per_literal(vec, planes):
        bucket = F.lit(0).cast("long")
        for i, plane in enumerate(planes):
            proj = dot(vec, F.array(*[F.lit(float(x)) for x in plane]))
            bucket = bucket + F.when(proj > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        return bucket

    rng = np.random.default_rng(1)
    rows = [(i, [float(x) for x in rng.standard_normal(32)]) for i in range(500)]
    rows += [(500 + i, [float(x) * 1e-300 for x in rng.standard_normal(32)]) for i in range(20)]
    vecs = spark.createDataFrame(rows, "id long, v array<double>")
    planes = random_hyperplanes(32, 16, 42)
    for bits in (1, 5, 16):
        want = vecs.select("id", per_literal(F.col("v"), planes[:bits]).alias("b"))
        got = vecs.select("id", lsh_bucket_expr(F.col("v"), planes[:bits]).alias("b"))
        assert sorted(got.collect()) == sorted(want.collect())
    coords = [float(x) for x in planes.ravel()]
    parsed = spark.range(1).select(
        F.expr("array(" + ", ".join(f"{x!r}D" for x in coords) + ")")
    ).first()[0]
    assert parsed == coords


def test_pq_topk_contract_and_plan(spark, sf_dir):
    """PQ/ADC top-k: full verdict coverage per query, codes bounded,
    no cartesian in the plan, and approximate neighbors overlap the
    exact brute-force top-k far better than chance."""
    from factory_inspectors_db_etl_spark.operators.similarity import (
        cosine_topk_bruteforce,
        pq_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = e.filter(F.col("vec_id") < 10)
    approx = pq_topk(e, qs, dim=64, k=5, m=8, codewords=16)
    rows = approx.collect()
    assert {r["query_id"] for r in rows} == set(range(10))
    assert all(1 <= r["rank"] <= 5 for r in rows)

    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan

    exact = cosine_topk_bruteforce(e, qs, k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(
        1 for r in rows if r["neighbor_id"] in exact_sets[r["query_id"]]
    )
    n_corpus = e.count()
    # chance overlap of two 5-sets from n_corpus candidates is ~25/n;
    # require at least 20% recall — far above chance for any real corpus
    assert hits / (5 * 10) >= 0.2, f"PQ recall {hits}/50 vs exact top-5"
