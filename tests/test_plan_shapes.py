"""Physical-plan invariants: the claims the scale design makes must be
visible in `.explain` output, and must not regress.

These assert plan *shape*, not timings: pushdown reaches scans, star
joins broadcast (no shuffle of the big side), IVF probe joins stay
broadcast.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.plans.catalog import QUERIES
from factory_inspectors_db_etl_spark.sources.tables import load_table


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_and_projection_push_into_scan(spark, sf_dir):
    plan = _formatted(QUERIES["s1_filter_project"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: the scan schema carries only referenced columns
    read_schema = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_flagship_star_join_broadcasts_all_dims(spark, sf_dir):
    plan = _physical(QUERIES["flagship_q5_revenue"](spark, sf_dir))
    # four broadcast joins, and the lineitem side never shuffles: the only
    # exchange below the aggregate is the final groupBy partial->final
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan


def test_fact_dim_join_is_broadcast_not_shuffle(spark, sf_dir):
    plan = _formatted(QUERIES["j1_broadcast_dim_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_window_fill_partitions_by_group(spark, sf_dir):
    # forward-fill shuffles once on the partition key, then windows locally
    plan = _physical(QUERIES["w1_forward_fill"](spark, sf_dir))
    assert "Window" in plan
    assert plan.count("Exchange") <= 2


def test_ivf_probe_join_broadcasts_queries(spark, sf_dir):
    plan = _formatted(QUERIES["sim_ivf_topk"](spark, sf_dir))
    # centroid assignment and probe joins broadcast the small side; the
    # corpus is never nested-loop joined against itself
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivf_kmeans_probe_join_same_shape(spark, sf_dir):
    """The trained-centroid variant must keep the deterministic variant's
    probe-join plan shape: tiny broadcast centroid set, cell equi-join,
    never a corpus-against-itself cartesian (VERDICT r3 item #4)."""
    from factory_inspectors_db_etl_spark.operators.similarity import ivf_topk
    from factory_inspectors_db_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "embeddings")
    df = ivf_topk(
        e, e.filter(F.col("vec_id") < 10), k=5, n_centroids=8, n_probe=2,
        centroids="kmeans",
    )
    plan = _formatted(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sampling_is_scan_plus_filter_no_shuffle(spark, sf_dir):
    # hash_split/stratified sampling are pure scan->project/filter:
    # a sampling pass over 100 TB must not shuffle anything
    for q in ("p_hash_split", "p_stratified_sample"):
        plan = _physical(QUERIES[q](spark, sf_dir))
        assert "Exchange" not in plan, q
        assert "Join" not in plan, q


def test_group_sample_single_shuffle(spark, sf_dir):
    # k-smallest-hash per group: exactly the window's shuffle, nothing more
    plan = _physical(QUERIES["p_group_sample"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_lsh_neardup_never_cartesian(spark, sf_dir):
    # banded candidate generation + rescore must stay equi-join shaped:
    # no cartesian/broadcast-nested-loop anywhere in the pipeline
    plan = _physical(QUERIES["d_embedding_neardup_lsh"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_lsh_never_cartesian(spark, sf_dir):
    plan = _physical(QUERIES["d_minhash_lsh"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multimodal_meta_prunes_payload_from_scan(spark, sf_dir):
    # metadata projection never deserializes media bytes downstream of the
    # reader: the parquet scan reads only the referenced source columns
    plan = _formatted(QUERIES["m_multimodal_meta"](spark, sf_dir))
    read_schema = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "text" in read_schema  # payload derives from text here
    assert "source" not in read_schema and "n_chars" not in read_schema


def test_range_frame_and_funnel_single_shuffle(spark, sf_dir):
    # both per-user patterns pay exactly one exchange on user_id
    for q in ("w9_range_frame", "w10_funnel"):
        plan = _physical(QUERIES[q](spark, sf_dir))
        assert plan.count("Exchange") == 1, q


def test_pivot_no_distinct_scan_and_no_join(spark, sf_dir):
    # explicit value list => no separate distinct-values job and no join;
    # the plan is the two standard aggregations (count by (user, type),
    # then pivotfirst by user), each with map-side partials
    plan = _physical(QUERIES["a6_pivot"](spark, sf_dir))
    assert plan.count("Exchange") == 2
    assert "Join" not in plan
    assert "pivotfirst" in plan


def test_unpivot_zero_shuffle(spark, sf_dir):
    plan = _physical(QUERIES["a6b_unpivot"](spark, sf_dir))
    assert "Exchange" not in plan


def test_pack_bins_single_shuffle(spark, sf_dir):
    # per-shard packing: exactly the window's one exchange on shard
    plan = _physical(QUERIES["p_pack_bins"](spark, sf_dir))
    assert plan.count("Exchange") == 1


def test_contamination_no_cartesian(spark, sf_dir):
    plan = _physical(QUERIES["d_contamination"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sessionize_single_shuffle_serves_windows_and_agg(spark, sf_dir):
    # gaps-and-islands: lag window, cumsum window, and the session
    # aggregate all reuse ONE hash partitioning on user_id
    plan = _physical(QUERIES["w13_sessionize"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(user_id" in plan


def test_grouping_sets_single_aggregation_pass(spark, sf_dir):
    # explicit grouping sets expand map-side: one partial+final aggregate
    # pair, one exchange, no union of per-set scans
    plan = _physical(QUERIES["a3c_grouping_sets"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Union" not in plan
    assert plan.count("Scan parquet") == 1


def test_a5_sketch_aggregates_not_under_distinct_expand(spark, sf_dir):
    """a5 must keep the heavy-state sketch aggregates (HLL, quantile
    summaries) OUT of the multi-distinct EXPAND rewrite: mixed into the
    countDistinct aggregate, their partial buffers are keyed by
    (group, gid, distinct-value) — one sketch PER DISTINCT KEY (measured
    53s vs ~2s at sf0.1; OOM at scale).  The split form has exactly one
    Expand (the exact-distinct side) and the sketch side is a plain
    two-phase aggregate."""
    plan = _physical(QUERIES["a5_approx_sketches"](spark, sf_dir))
    assert plan.count("Expand") == 1
    # the sketch aggregates live in a subtree with no Expand below them:
    # cheap textual proxy — hll_sketch_agg appears only in non-Expand
    # aggregate nodes (an Expand feeding them would sit between)
    for chunk in plan.split("Expand")[1:]:
        assert "hll_sketch_agg" not in chunk.split("Exchange")[0]


@pytest.mark.slow
def test_whole_catalog_no_cartesian_no_unpartitioned_window(spark, sf_dir):
    """The two catalog-wide invariants scripts/plan_audit.py reports as
    evidence, promoted to a hard gate over EVERY registered query: no
    CartesianProduct anywhere, no window without a PARTITION BY (the
    single-task funnel).  Runs at sf0.001 — plan shape, not data scale,
    is under test — and automatically covers every future query."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "plan_audit",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "plan_audit.py"),
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)

    bad = []
    for name, fn in QUERIES.items():
        a = pa.audit_one(fn(spark, sf_dir))
        if a["cartesian"]:
            bad.append(f"{name}: CartesianProduct")
        if a["unpartitioned_windows"]:
            bad.append(f"{name}: {a['unpartitioned_windows']} unpartitioned window(s)")
    assert not bad, bad


def test_iterative_shuffle_clamp_bounds_local_mode(spark, sf_dir):
    """The g1b one-JVM recipe as code (VERDICT r10 item #3): iterative
    full-edge-per-round operators clamp spark.sql.shuffle.partitions to
    the single-JVM ceiling while their per-round eager materializes
    plan, and restore the session value afterward.  Below the ceiling
    the clamp is a no-op, so driver-scale plans are untouched."""
    from factory_inspectors_db_etl_spark.session import (
        _ITERATIVE_LOCAL_MAX_PARTITIONS,
        iterative_shuffle_clamp,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "1170")  # the sf10 byte-proportional width that died
        with iterative_shuffle_clamp(spark):
            assert int(spark.conf.get(key)) == _ITERATIVE_LOCAL_MAX_PARTITIONS
        assert spark.conf.get(key) == "1170", "session value must be restored"
        spark.conf.set(key, "32")
        with iterative_shuffle_clamp(spark):
            assert spark.conf.get(key) == "32", "below the ceiling: no-op"
    finally:
        spark.conf.set(key, before)


def test_graph_join_strategy_flips_with_conf(spark, sf_dir):
    """The iterative-graph |V|-row join must be a broadcast join by
    default and a plain shuffle join once its bound passes
    spark.graft.graph.broadcast.maxRows (the billion-node scale-out mode,
    VERDICT r4 item #3).  Auto-broadcast is disabled for the shuffle
    probe so the assertion sees the planner's unhinted choice.  A maxRows
    that is not a positive integer raises instead of reading as the
    default."""
    from factory_inspectors_db_etl_spark.operators.graph_broadcast import (
        GRAPH_BROADCAST_MAX_ROWS_CONF,
        graph_small_side,
        resolve_graph_broadcast,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    contrib = edges.groupBy("src").agg(F.count(F.lit(1)).alias("contrib"))

    def gated_join():
        bcast = resolve_graph_broadcast(spark, 1_000)
        return _physical(edges.join(graph_small_side(contrib, bcast), "src"))

    plan_bcast = gated_join()
    assert "BroadcastHashJoin" in plan_bcast

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(GRAPH_BROADCAST_MAX_ROWS_CONF, "999")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_shuffle = gated_join()
    finally:
        spark.conf.unset(GRAPH_BROADCAST_MAX_ROWS_CONF)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert "BroadcastHashJoin" not in plan_shuffle
    assert "SortMergeJoin" in plan_shuffle or "ShuffledHashJoin" in plan_shuffle

    for bad in ["0", "-5", "20M"]:
        spark.conf.set(GRAPH_BROADCAST_MAX_ROWS_CONF, bad)
        try:
            with pytest.raises(ValueError, match=re.escape(GRAPH_BROADCAST_MAX_ROWS_CONF)):
                resolve_graph_broadcast(spark, 1)
        finally:
            spark.conf.unset(GRAPH_BROADCAST_MAX_ROWS_CONF)


def test_graph_join_strategy_size_gate(spark, sf_dir):
    """The r12 size gate (VERDICT r11 item #8): the |V|-row graph small
    side broadcasts below spark.graft.graph.broadcast.maxRows and falls
    back to a shuffle join above it — so a billion-node graph cannot OOM
    the driver even when nobody set the conf.  Below the threshold plans
    are unchanged (broadcast, the r11 behavior); the explicit per-call
    override still wins."""
    from factory_inspectors_db_etl_spark.operators.graph_broadcast import (
        GRAPH_BROADCAST_MAX_ROWS_CONF,
        graph_small_side,
        resolve_graph_broadcast,
    )

    # default maxRows: gate by the caller's row bound
    assert resolve_graph_broadcast(spark, 1_000) is True
    spark.conf.set(GRAPH_BROADCAST_MAX_ROWS_CONF, "500")
    try:
        assert resolve_graph_broadcast(spark, 1_000) is False
        assert resolve_graph_broadcast(spark, 400) is True
        # explicit per-call override beats the gate (g1b/g3b contract)
        assert resolve_graph_broadcast(spark, 10**9, True) is True
        assert resolve_graph_broadcast(spark, 1, False) is False

        # end-to-end: the same join that broadcasts below the gate plans
        # a shuffle join above it
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        a, b = li.alias("a"), li.alias("b")
        edges = (
            a.join(b, "l_orderkey")
            .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
            .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
            .distinct()
        )
        contrib = edges.groupBy("src").agg(F.count(F.lit(1)).alias("contrib"))
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            over = _physical(
                edges.join(graph_small_side(contrib, resolve_graph_broadcast(spark, 501)), "src")
            )
            under = _physical(
                edges.join(graph_small_side(contrib, resolve_graph_broadcast(spark, 499)), "src")
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        assert "BroadcastHashJoin" not in over
        assert "SortMergeJoin" in over or "ShuffledHashJoin" in over
        assert "BroadcastHashJoin" in under
    finally:
        spark.conf.unset(GRAPH_BROADCAST_MAX_ROWS_CONF)


def test_kcore_size_gate_bounds_vertices_not_edges(spark, sf_dir, monkeypatch):
    """g8's alive set holds up to |V| rows, and on its oriented edge list
    |V| can reach 2|E|, so the size gate must use 2|E| as the bound.
    With maxRows at exactly g8's |E| an |E| bound would still broadcast
    a table that may be twice the limit; the 2|E| bound falls back to a
    shuffle join for every round's alive-set join."""
    from factory_inspectors_db_etl_spark.operators.graph_broadcast import (
        GRAPH_BROADCAST_MAX_ROWS_CONF,
    )
    from factory_inspectors_db_etl_spark.plans import catalog_graph

    seen = []
    real = catalog_graph.materialize_counted

    def recording(df, *args, **kwargs):
        out = real(df, *args, **kwargs)
        seen.append((_physical(df), out[0]))
        return out

    # the edge list and every peel round go through `materialize_counted`
    monkeypatch.setattr(catalog_graph, "materialize_counted", recording)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        catalog_graph.q_g8_kcore(spark, sf_dir)
        n_edges = seen[0][1].count()  # first barrier is the edge list
        rounds_default = [plan for plan, _ in seen[1:]]
        seen.clear()
        spark.conf.set(GRAPH_BROADCAST_MAX_ROWS_CONF, str(n_edges))
        catalog_graph.q_g8_kcore(spark, sf_dir)
        rounds_gated = [plan for plan, _ in seen[1:]]
    finally:
        spark.conf.unset(GRAPH_BROADCAST_MAX_ROWS_CONF)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert n_edges > 0 and rounds_default and rounds_gated
    assert all("BroadcastHashJoin" in plan for plan in rounds_default)
    assert not any("BroadcastHashJoin" in plan for plan in rounds_gated)


@pytest.mark.parametrize("query", ["q_g1_pagerank", "q_g8_kcore"])
def test_gated_graph_queries_run_no_job_outside_a_barrier(spark, sf_dir, monkeypatch, query):
    """The size gate reads its bound from a barrier's observed count, so a
    gated graph query runs no job of its own: every job runs inside a
    barrier, each of which gets its own job group here, and none in the
    outer group.  Table loads get a group of their own too, since reading
    a parquet footer for the schema is a job."""
    from factory_inspectors_db_etl_spark.plans import catalog_graph

    sc = spark.sparkContext
    outer = f"{query}-outer"
    groups: list[str] = []

    def in_own_group(fn, kind):
        def recording(*args, **kwargs):
            gid = f"{query}-{kind}-{len(groups)}"
            groups.append(gid)
            sc.setJobGroup(gid, gid)
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setJobGroup(outer, outer)

        return recording

    for name in ("materialize", "materialize_counted"):
        monkeypatch.setattr(catalog_graph, name, in_own_group(getattr(catalog_graph, name), "barrier"))
    monkeypatch.setattr(catalog_graph, "load_table", in_own_group(catalog_graph.load_table, "scan"))
    sc.setJobGroup(outer, outer)
    try:
        getattr(catalog_graph, query)(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    barriers = [g for g in groups if "-barrier-" in g]
    assert len(barriers) >= 2
    assert all(tracker.getJobIdsForGroup(g) for g in barriers)
    assert tracker.getJobIdsForGroup(outer) == []
