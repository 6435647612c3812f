"""Graph catalog: the twelve queries over the part co-purchase graph
(parts are linked when they appear in the same order) — centrality
(g1/g1b), triangles (g2), communities (g3/g3b), k-hop reachability (g4),
weakly-connected components (g5), clustering coefficient (g6), degree
assortativity (g7), k-core (g8), link prediction (g9) and neighbor
Jaccard (g10).

Every query builds its edge list with ``_copurchase_edges``, the one
definition of the graph: the ``lineitem`` self-join on ``l_orderkey``,
optionally restricted to urgent orders, either symmetric (``src !=
dst``) or canonical (``u < v``), distinct and materialized once by a
counted barrier, whose observed row count is the size gate's bound
where a query broadcasts a node table.  The oracles spell the same edge
list out in SQL.

Same contract as ``plans.catalog``: every query has a DuckDB oracle and
the pair is registered in ``REGISTRY``.  Determinism follows the catalog
conventions: integer masses, counts and moments end to end, one
trailing IEEE division per float output, integer aggregates CAST to
BIGINT in oracles, and every unrolled oracle round ``AS MATERIALIZED``
where it is referenced twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import connected_components_large_star
from ..operators.graph_broadcast import graph_small_side, resolve_graph_broadcast
from ..operators.materialize import materialize, materialize_counted
from ..session import clamp_iterative_shuffle
from ..sources.tables import load_table


def _copurchase_edges(
    spark: SparkSession, sf: str, *, urgent: bool, oriented: bool
) -> tuple[DataFrame, int]:
    """The part co-purchase edge list, materialized once, and its edge
    count as observed by the barrier.

    ``urgent`` keeps only lines of ``1-URGENT`` orders (bounds the wedge
    volume of the triangle-style queries).  ``oriented`` stores each
    edge once as ``(u, v)`` with ``u < v``; otherwise both directions
    are stored as ``(src, dst)`` with ``src != dst``.  Runs one job (the
    barrier)."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    if urgent:
        orders = (
            load_table(spark, sf, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        li = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
            "l_orderkey", "l_partkey"
        )
    a, b = li.alias("a"), li.alias("b")
    if oriented:
        linked, x, y = F.col("a.l_partkey") < F.col("b.l_partkey"), "u", "v"
    else:
        linked, x, y = F.col("a.l_partkey") != F.col("b.l_partkey"), "src", "dst"
    edges, n_edges, _ = materialize_counted(
        a.join(b, "l_orderkey")
        .filter(linked)
        .select(F.col("a.l_partkey").alias(x), F.col("b.l_partkey").alias(y))
        .distinct()
    )
    return edges, n_edges


def _degrees(edges: DataFrame, node: str, deg: str) -> DataFrame:
    """(node, deg) over a canonical (u, v) edge list: each edge counts
    once for each endpoint."""
    return (
        edges.select(F.col("u").alias(node))
        .unionAll(edges.select(F.col("v").alias(node)))
        .groupBy(node)
        .agg(F.count(F.lit(1)).cast("long").alias(deg))
    )


def _triangles_per_node(edges: DataFrame) -> DataFrame:
    """(part_id, n_triangles) over a canonical (u, v) edge list: wedges
    a<b<c joined on the middle node, closed against the edge list, each
    triangle counted once for each of its three nodes."""
    e1 = edges.select(F.col("u").alias("ta"), F.col("v").alias("tb"))
    e2 = edges.select(F.col("u").alias("tb"), F.col("v").alias("tc"))
    return (
        e1.join(e2, "tb")
        .join(edges.select(F.col("u").alias("ta"), F.col("v").alias("tc")), ["ta", "tc"])
        .select(F.explode(F.array("ta", "tb", "tc")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


# ---------------------------------------------------------------------------
# G1: integer-mass PageRank (deterministic fixed-point iteration)
# ---------------------------------------------------------------------------

_PR_ITERS = 5
_PR_INIT = 1_000_000  # integer mass per node; 0.15 teleport = 150000


@clamp_iterative_shuffle  # single-JVM per-round shuffle-mass guard (see session.py)
def q_g1_pagerank(
    spark: SparkSession, sf: str, broadcast_nodes: bool | None = None
) -> DataFrame:
    """G1: PageRank over the part co-purchase graph — the
    iterative-graph-algorithm family (centrality, label propagation)
    expressed as pure joins+aggs.

    Determinism: ranks are integer MASS, updates are integer division
    (``mass div outdeg``, ``(85*in) div 100``), so every iteration is
    exact and order-free — bit-identical in any engine, unlike float
    PageRank whose contribution-sum order varies.  (Production float
    variant: same plan, drop the divs.)

    Plan per iteration: ranks (|V| rows, tiny vs |E|) broadcast onto the
    edge list, one shuffle to sum incoming mass by dst, broadcast-join
    back to the node list; edges are materialized ONCE and reused, ranks
    re-materialized per round to keep the plan flat (iterative barrier).
    Edge degree is bounded by lines-per-order (<=13 in TPC-H-ish data),
    so pair generation can't blow up; unbounded baskets would need a
    per-key cap first.

    r11 (guide §2.4 "remove shuffles outright"): the rank table CARRIES
    the (static) out-degree column instead of re-joining the degree
    table every round — the per-round ranks⋈deg SMJ (two exchanges +
    two sorts of |V| rows, 5x per query) is gone, contributions are a
    projection of the checkpointed rank table; and the |V|-row
    ``incoming`` aggregate rides ``graph_small_side`` on the update
    join too, so in broadcast mode one round = ONE exchange (the
    map-side-combined vote shuffle) instead of five.  Mass arithmetic
    is unchanged — same integer updates against the same static degrees
    — so g1/g1b outputs and oracles are untouched
    (plans/r11/g1_pagerank_{before,after}.txt)."""
    edges, _ = _copurchase_edges(spark, sf, urgent=False, oriented=False)
    deg, n_nodes, _ = materialize_counted(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    )
    # r12 size gate (VERDICT r11 item #8): resolve the small-side
    # strategy ONCE per query — deg is the exact-|V| table and its
    # barrier counted it; above spark.graft.graph.broadcast.maxRows the
    # update joins fall back to shuffle automatically
    broadcast_nodes = resolve_graph_broadcast(spark, n_nodes, broadcast_nodes)
    ranks = deg.select(
        F.col("src").alias("node"), "deg", F.lit(_PR_INIT).cast("long").alias("mass")
    )
    for _ in range(_PR_ITERS):
        # per-NODE contribution is a projection (deg rides the rank
        # table), then one broadcast onto the edge list — the per-edge
        # work is a single hash lookup, not a division + second join
        node_contrib = ranks.select(
            F.col("node").alias("src"), F.expr("mass div deg").alias("contrib")
        )
        incoming = (
            edges.join(graph_small_side(node_contrib, broadcast_nodes), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("contrib").alias("inmass"))
        )
        ranks = materialize(
            ranks.select("node", "deg")
            .join(graph_small_side(incoming, broadcast_nodes), "node", "left")
            .select(
                "node",
                "deg",
                (
                    F.lit(_PR_INIT * 15 // 100)
                    + F.expr("(85 * coalesce(inmass, 0L)) div 100")
                ).cast("long").alias("mass"),
            )
        )
    return ranks.select(F.col("node").alias("part_id"), F.col("mass").alias("pagerank_mass"))


def _gen_pagerank_oracle(iters: int = _PR_ITERS) -> str:
    sql = f"""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1
), r0 AS (
  SELECT src AS node, CAST({_PR_INIT} AS BIGINT) AS mass FROM deg
)"""
    for i in range(1, iters + 1):
        sql += f""",
r{i} AS (
  SELECT d.src AS node,
         CAST({_PR_INIT * 15 // 100} + (85 * coalesce(s.inmass, 0)) // 100 AS BIGINT) AS mass
  FROM deg d LEFT JOIN (
    SELECT e.dst AS node, sum(r.mass // g.deg) AS inmass
    FROM e JOIN r{i - 1} r ON e.src = r.node JOIN deg g ON g.src = e.src
    GROUP BY 1
  ) s ON s.node = d.src
)"""
    sql += f"\nSELECT node AS part_id, mass AS pagerank_mass FROM r{iters}"
    return sql


O_G1_PAGERANK = _gen_pagerank_oracle()


def q_g1b_pagerank_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """G1b: PageRank with the per-round |V|-row join as a SHUFFLE join
    (``broadcast_nodes=False``, an explicit per-call override of the
    size gate — no session-conf mutation to race with concurrent plan
    builds) instead of a broadcast — the mode for billion-node graphs
    where the rank table itself no longer fits one executor.  Bit-identical output
    (same integer-mass arithmetic, same oracle as g1); only the exchange
    strategy flips, which tests/test_plan_shapes.py pins on both
    modes."""
    return q_g1_pagerank(spark, sf, broadcast_nodes=False)


# ---------------------------------------------------------------------------
# G2: triangle counting
# ---------------------------------------------------------------------------


def q_g2_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """G2: per-node triangle participation over the (urgent-order) part
    co-purchase graph — the clustering-coefficient / community-density
    primitive.  Standard canonical-orientation algorithm: edges stored
    once as (u < v), wedges built by joining edges on the middle node
    (only a<b<c survive by construction), closed against the edge list.

    Scale posture: the wedge join is the quadratic term (sum of deg^2).
    Here the graph is bounded by restricting to one order-priority class;
    production graphs bound it the standard way — cap or split
    high-degree nodes before wedge generation (the salting trick, J10,
    applied to graphs).  Edges are materialized once and reused by all
    three plan arms; joins are equi-joins on node ids, AQE-splittable."""
    edges, _ = _copurchase_edges(spark, sf, urgent=True, oriented=True)
    return _triangles_per_node(edges)


O_G2_TRIANGLES = """
WITH li AS (
  SELECT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
), e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
), tri AS (
  SELECT e1.u AS ta, e1.v AS tb, e2.v AS tc
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT part_id, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
  SELECT ta AS part_id FROM tri
  UNION ALL SELECT tb FROM tri
  UNION ALL SELECT tc FROM tri
)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# G3: synchronous label propagation (community detection)
# ---------------------------------------------------------------------------

_LPA_ITERS = 4


@clamp_iterative_shuffle  # single-JVM per-round shuffle-mass guard (see session.py)
def q_g3_label_propagation(
    spark: SparkSession, sf: str, broadcast_nodes: bool | None = None
) -> DataFrame:
    """G3: community detection by SYNCHRONOUS label propagation
    (Raghavan et al. '07) over the urgent-order co-purchase graph — the
    third graph family next to centrality (g1) and triangles (g2), and
    the cheap community pass real pipelines run before per-community
    work.  Each round every node adopts the MODE of its neighbors'
    labels; all-integer counts with (count DESC, label ASC) tie-break
    make every round exact and order-free, and a FIXED iteration count
    sidesteps sync-LPA's oscillation — deterministic in any engine, like
    g1's integer masses.

    Plan per round: labels (|V| rows) broadcast onto the edge list, one
    shuffle to count (dst, label) votes, an argmin-struct partial agg
    for the mode (map-side combined, no window), barriered per round.
    The oracle unrolls the same rounds in SQL."""
    edges, n_edges = _copurchase_edges(spark, sf, urgent=True, oriented=False)
    labels = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    # r12 size gate: |V| <= |E| here (every node appears as src of the
    # symmetric edge list), so the edge barrier's count is a conservative
    # bound — above maxRows the per-round label join falls back to
    # shuffle automatically (VERDICT r11 item #8)
    broadcast_nodes = resolve_graph_broadcast(spark, n_edges, broadcast_nodes)
    for _ in range(_LPA_ITERS):
        votes = (
            edges.join(graph_small_side(labels, broadcast_nodes), edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node2"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = materialize(
            votes.groupBy(F.col("node2").alias("node"))
            .agg(F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("label").alias("l"))).alias("_m"))
            .select("node", F.col("_m.l").alias("label"))
        )
    return labels.select(F.col("node").alias("part_id"), F.col("label").alias("community"))


def _gen_lpa_oracle(iters: int = _LPA_ITERS) -> str:
    sql = """
WITH li AS (
  SELECT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
), e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
), l0 AS (
  SELECT DISTINCT src AS node, src AS label FROM e
)"""
    for i in range(1, iters + 1):
        sql += f""",
l{i} AS (
  SELECT node, label FROM (
    SELECT v.node, v.label,
           row_number() OVER (PARTITION BY v.node ORDER BY v.cnt DESC, v.label ASC) AS rn
    FROM (
      SELECT e.dst AS node, r.label, count(*) AS cnt
      FROM e JOIN l{i - 1} r ON e.src = r.node
      GROUP BY 1, 2
    ) v
  ) WHERE rn = 1
)"""
    sql += f"\nSELECT node AS part_id, CAST(label AS BIGINT) AS community FROM l{iters}"
    return sql


O_G3_LPA = _gen_lpa_oracle()


def q_g3b_label_prop_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """G3b: label propagation in shuffle-join mode — see g1b."""
    return q_g3_label_propagation(spark, sf, broadcast_nodes=False)


# ---------------------------------------------------------------------------
# G4: bounded-hop BFS (k-hop reachability / shortest hop distance)
# ---------------------------------------------------------------------------

_BFS_HOPS = 3
_BFS_SEED_MOD = 100  # deterministic seed set: part ids divisible by 100


def q_g4_khop_bfs(spark: SparkSession, sf: str) -> DataFrame:
    """G4: minimum hop distance (<=3) from a deterministic seed set over
    the part co-purchase graph — bounded-hop BFS, the reachability
    member of the iterative-graph family (g1 centrality, g2 triangles,
    g3 communities).

    Textbook distributed BFS: per round, join the FRONTIER (nodes first
    reached last round) onto the edge list, then anti-join against the
    settled set so each node is expanded exactly once — the settled
    table grows monotonically and every round is one equi-join + one
    anti-join, both on the node key.  Joining the full distance table
    instead of the frontier would be correct under min-merge but
    re-expands every settled node every round.  Hop counts are exact
    integers; the oracle is an INDEPENDENT algorithm (DuckDB recursive
    CTE enumerating all paths <=3 then taking min), not a plan twin.
    Frontier side is broadcast below the size gate and a shuffle join
    above it (``spark.graft.graph.broadcast.maxRows``), like g1/g3.
    """
    edges, n_edges = _copurchase_edges(spark, sf, urgent=False, oriented=False)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    settled = materialize(
        nodes.filter(F.col("node") % _BFS_SEED_MOD == 0).select(
            "node", F.lit(0).cast("int").alias("hops")
        )
    )
    # r12 size gate (VERDICT r11 item #8 + ADVICE r11 on the growing
    # settled set): every per-round table here — frontier, settled — is
    # a subset of the node universe, and |V| <= |E| on this symmetric
    # edge list, so the edge barrier's count bounds every round's
    # broadcast; above maxRows all rounds fall back to shuffle joins
    # automatically.
    bcast = resolve_graph_broadcast(spark, n_edges)
    frontier = settled
    for k in range(1, _BFS_HOPS + 1):
        reached = (
            edges.join(
                graph_small_side(frontier.select(F.col("node").alias("src")), bcast),
                "src",
            )
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        # r11: the settled set is |V|-bounded like the frontier — ride
        # the same broadcast helper on the anti-join's build side so a
        # round is one distinct-exchange, not distinct + SMJ anti
        # (size-gated to shuffle for billion-node graphs).
        new = materialize(
            reached.join(
                graph_small_side(settled.select("node"), bcast),
                "node",
                "left_anti",
            ).select("node", F.lit(k).cast("int").alias("hops"))
        )
        settled = materialize(settled.unionByName(new))
        frontier = new
    return settled.select(F.col("node").alias("part_id"), "hops")


def _gen_khop_oracle(hops: int = _BFS_HOPS) -> str:
    """Level-wise min-merge BFS unrolled to SQL (like the g1/g3
    generated oracles).  A recursive-CTE path enumeration is the more
    independent check but enumerates ~seeds x degree^hops rows — at the
    sf1 stress scale (avg co-purchase degree ~90) that is billions of
    paths and the oracle itself becomes the bottleneck; the level-wise
    form is bounded by one edge-list expansion per hop.  Algorithmic
    independence is covered by the Python queue-BFS property test."""
    sql = f"""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
), d0 AS (
  SELECT node, 0 AS dist FROM (SELECT DISTINCT src AS node FROM e)
  WHERE node % {_BFS_SEED_MOD} = 0
)"""
    for k in range(1, hops + 1):
        sql += f""", d{k} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{k - 1}
    UNION ALL
    SELECT e.dst AS node, d.dist + 1 AS dist
    FROM d{k - 1} d JOIN e ON d.node = e.src
  ) GROUP BY node
)"""
    sql += f"""
SELECT node AS part_id, CAST(dist AS INTEGER) AS hops FROM d{hops}
"""
    return sql


O_G4_KHOP = _gen_khop_oracle()


# ---------------------------------------------------------------------------
# G5: weakly connected components (large-star/small-star at catalog level)
# ---------------------------------------------------------------------------


def q_g5_wcc(spark: SparkSession, sf: str) -> DataFrame:
    """G5: weakly-connected components over the urgent-order part
    co-purchase graph, via the alternating Large-Star/Small-Star
    algorithm (Kiveris SoCC'14) — the O(log² n)-round scale mode that
    ``connected_components``'s diameter-bounded min-propagation is not
    (the g1b lesson: the scale mode needs its own registry row).  Every
    node gets its component's minimum part id.  The oracle replays the
    closure with level-wise min-label rounds, so the componentization
    itself is value-checked.  The edge list is materialized before the
    components run: they read it twice (edges and node universe), and a
    lazy input would run the urgent self-join once for each read."""
    edges, _ = _copurchase_edges(spark, sf, urgent=True, oriented=True)
    comp = connected_components_large_star(edges, "u", "v")
    return comp.select(
        F.col("node").alias("part_id"), F.col("component").alias("component")
    )


# level-wise unrolled min-label propagation, NOT a recursive transitive
# closure: the urgent co-purchase graph is one near-giant component, so
# a walk CTE materializes O(|component|²) rows (~3.6e8 at sf0.1,
# infeasible at sf1) — the same oracle-is-the-bottleneck lesson as g4.
# Each round joins the label table against the symmetric edge list once;
# _G5_ROUNDS=16 covers any plausible diameter of a dense co-purchase
# graph (measured convergence is ~4-6 rounds), and an insufficient round
# count cannot pass silently: Spark computes the true fixed point, so
# the hashes would mismatch.  Every CTE is MATERIALIZED: each round
# references its predecessor twice, and DuckDB's default inlining would
# re-expand the whole chain 2^rounds times (measured: "too many open
# files" at round 16 — g4 survives only because it unrolls 3).
_G5_ROUNDS = 16


def _gen_wcc_oracle(rounds: int = _G5_ROUNDS) -> str:
    sql = """
WITH li AS MATERIALIZED (
  SELECT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
), e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
), edges AS MATERIALIZED (
  SELECT u, v FROM e0
  UNION
  SELECT v AS u, u AS v FROM e0
), r0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, u AS lab FROM edges
)"""
    for i in range(1, rounds + 1):
        sql += f""",
r{i} AS MATERIALIZED (
  SELECT r.node, least(r.lab, coalesce(m.ml, r.lab)) AS lab
  FROM r{i - 1} r LEFT JOIN (
    SELECT e.u AS node, min(p.lab) AS ml
    FROM edges e JOIN r{i - 1} p ON p.node = e.v
    GROUP BY 1
  ) m ON m.node = r.node
)"""
    sql += f"\nSELECT node AS part_id, lab AS component FROM r{rounds}"
    return sql


O_G5_WCC = _gen_wcc_oracle()


# ---------------------------------------------------------------------------
# G6: local clustering coefficient (triangles / possible wedges per node)
# ---------------------------------------------------------------------------


def q_g6_clustering_coeff(spark: SparkSession, sf: str) -> DataFrame:
    """G6: local clustering coefficient over the urgent co-purchase
    graph — coeff(v) = 2·T(v) / (d(v)·(d(v)−1)), the community-density
    metric g2's raw triangle counts feed.  Same canonical-orientation
    triangle enumeration as g2 (edges stored once as u<v, wedge join on
    the middle node); degree from the symmetric edge list; the headline
    is the EXACT integer ``coeff_e6 = (2T·10⁶) div (d(d−1))`` (the a22
    int128→double lesson) with the display double derived from it.
    Nodes with d < 2 report coefficient 0."""
    edges, _ = _copurchase_edges(spark, sf, urgent=True, oriented=True)
    deg = _degrees(edges, "part_id", "degree")
    tri = _triangles_per_node(edges)
    out = deg.join(tri, "part_id", "left").fillna(0, subset=["n_triangles"])
    coeff_e6 = F.expr(
        "CASE WHEN degree < 2 THEN CAST(0 AS BIGINT) "
        "ELSE CAST((2 * n_triangles * 1000000) div (degree * (degree - 1)) AS BIGINT) END"
    )
    return out.select(
        "part_id",
        "degree",
        "n_triangles",
        coeff_e6.alias("coeff_e6"),
    ).withColumn("clustering_coeff", F.col("coeff_e6").cast("double") / F.lit(1.0e6))


O_G6_CLUSTERING = """
WITH li AS MATERIALIZED (
  SELECT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
), e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
), deg AS (
  SELECT part_id, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT u AS part_id FROM e UNION ALL SELECT v FROM e)
  GROUP BY 1
), tri AS (
  SELECT part_id, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (
    SELECT unnest([e1.u, e1.v, e2.v]) AS part_id
    FROM e e1
    JOIN e e2 ON e2.u = e1.v
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
  )
  GROUP BY 1
)
SELECT d.part_id, d.degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN d.degree < 2 THEN 0
                 ELSE (2 * COALESCE(t.n_triangles, 0) * 1000000)
                      // (d.degree * (d.degree - 1)) END AS BIGINT) AS coeff_e6,
       CAST(CASE WHEN d.degree < 2 THEN 0
                 ELSE (2 * COALESCE(t.n_triangles, 0) * 1000000)
                      // (d.degree * (d.degree - 1)) END AS DOUBLE) / 1e6
         AS clustering_coeff
FROM deg d LEFT JOIN tri t USING (part_id)
"""


# ---------------------------------------------------------------------------
# G7: degree assortativity (Newman '02) over the co-purchase graph
# ---------------------------------------------------------------------------


def q_g7_degree_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """G7: DEGREE ASSORTATIVITY (Newman '02, Phys Rev Lett 89) of the
    urgent-order part co-purchase graph — the Pearson correlation of
    degrees across edge endpoints, the standard one-number summary of
    whether hubs link to hubs (r>0, social-like) or to leaves (r<0,
    technological/dependency-like).  Uses the same canonical u<v edge
    set as ``q_g2_triangle_count``.

    Undirected handling: each edge contributes BOTH ordered stubs
    (deg_u, deg_v) and (deg_v, deg_u), the textbook symmetrization, so
    sx=sy and sxx=syy by construction and r reduces to one integer
    ratio: r = (n*sxy - sx*sy) / (n*sxx - sx*sx) — exact integer moments
    with one trailing IEEE division.  The moment SUMS fit BIGINT at any
    realistic scale (sum <= n*max_deg^2: 3.5e10 at sf1, measured), but
    the final n*sxy / sx*sy products grow ~n^2, so they are computed in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — exact to 1e38, then one
    cast to double; both engines convert the identical integer to the
    identical nearest double.

    Scale (r11 rewrite — guide §2.3/§2.4 "shuffle fewer bytes / remove
    shuffles outright"): three of the five stub moments are pure
    functions of the DEGREE TABLE alone — n = Σdeg (every node appears
    in deg(v) stubs), sx = sy = Σdeg² (each edge contributes its
    endpoints' degrees once per orientation), sxx = syy = Σdeg³ — so
    they are ONE aggregation over the |V|-row degree table with no edge
    join at all.  Only the cross-moment sxy = 2·Σ_edges deg_u·deg_v
    genuinely needs degrees attached to edges; that attachment
    broadcasts the |V|-row degree table onto the edge list
    (size-gated to a shuffle join for billion-node graphs, the g1/g3
    pattern).  The pre-r11 form materialized the stub union of the
    doubly-joined edge list — Spark computed the two-SMJ attach subtree
    TWICE (once per union branch) and the degree aggregation FOUR times
    (24 exchanges at sf0.01,
    plans/r11/g7_degree_assortativity_before.txt); this form is
    3 exchanges and never shuffles the edge list.  Moment values are
    the identical integers (same longs, same decimal(38,0) products,
    same one trailing IEEE division) — the oracle is unchanged."""
    edges, _ = _copurchase_edges(spark, sf, urgent=True, oriented=True)
    deg, n_nodes, _ = materialize_counted(_degrees(edges, "node", "deg"))
    # degree-table moments: n = Σdeg (stub count), sx = Σdeg², sxx = Σdeg³
    # — the same longs the stub enumeration summed, one |V|-row pass.
    # coalesce(n, 0) pins the empty-graph case to the stub-count
    # semantics (count over zero stubs = 0, not NULL).
    s = deg.agg(
        F.coalesce(F.sum("deg"), F.lit(0).cast("long")).alias("n"),
        F.sum(F.col("deg") * F.col("deg")).alias("sx"),
        F.sum(F.col("deg") * F.col("deg") * F.col("deg")).alias("sxx"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    # r12 size gate: deg is the exact-|V| table and its barrier counted
    # it — that count bounds both attach joins (VERDICT r11 item #8)
    bcast = resolve_graph_broadcast(spark, n_nodes)
    sxy_row = (
        edges.join(graph_small_side(du, bcast), "u")
        .join(graph_small_side(dv, bcast), "v")
        .agg((F.lit(2) * F.sum(F.col("deg_u") * F.col("deg_v"))).alias("sxy"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = dec("n") * dec("sxy") - dec("sx") * dec("sx")
    den = dec("n") * dec("sxx") - dec("sx") * dec("sx")
    # Degenerate-graph guard (r8 ADVICE): on a REGULAR graph every stub
    # degree is equal, so den = n*sxx - sx² = 0 and the correlation is
    # undefined — Spark's double 0/0 yields NaN while DuckDB's behavior
    # is version/setting-dependent, so both engines pin the case to NULL
    # via NULLIF instead of relying on either's division semantics.
    return s.crossJoin(F.broadcast(sxy_row)).select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        "n_nodes",
        (F.col("n").cast("double") / F.col("n_nodes").cast("double")).alias(
            "mean_degree"
        ),
        (
            num.cast("double")
            / F.when(den != 0, den).otherwise(F.lit(None)).cast("double")
        ).alias("assortativity"),
    )


O_G7_ASSORTATIVITY = """
WITH li AS (
  SELECT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
), e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
  GROUP BY node
), ed AS (
  SELECT du.deg AS deg_u, dv.deg AS deg_v
  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
), stubs AS (
  SELECT deg_u AS x, deg_v AS y FROM ed
  UNION ALL SELECT deg_v, deg_u FROM ed
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM stubs
), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
SELECT CAST(n / 2 AS BIGINT) AS n_edges, n_nodes,
       CAST(n AS DOUBLE) / CAST(n_nodes AS DOUBLE) AS mean_degree,
       CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
         / CAST(nullif(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx, 0) AS DOUBLE)
         AS assortativity
FROM s, nn
"""

# ---------------------------------------------------------------------------
# G8: k-core extraction (iterative peeling to an observed fixpoint)
# ---------------------------------------------------------------------------

_KCORE_K = 8  # minimum in-core degree
_KCORE_ROUNDS = 6  # peel cap; fixpoint measured at <=4 for sf0.01..sf1


def q_g8_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """G8: K-CORE extraction (Seidman '83) of the urgent-order
    co-purchase graph — the classic cohesive-subgraph/graph-pruning
    primitive (every surviving node has >= k neighbors that also
    survive), computed by iterative peeling: drop nodes with degree < k,
    re-filter edges to surviving endpoints, repeat.  Completes the graph
    family next to pagerank/triangles/label-prop/k-hop/wcc/clustering/
    assortativity.

    At most ``_KCORE_ROUNDS`` peels, stopping at the fixpoint it
    observes: each peel's barrier counts the edges it keeps, and a peel
    that keeps every edge of its input has reached the fixpoint —
    peeling only removes edges, so equal counts mean equal edge sets and
    every further peel would be a no-op.  The cap was MEASURED above the
    fixpoint (<= 4 rounds for k=8 on sf0.01/sf0.1/sf1; at sf0.01 the
    edge count stops moving after round 1 or 2), so the result equals
    the fixed ``_KCORE_ROUNDS``-round peel, which the oracle replays as
    an unrolled SQL CTE chain with no recursion.

    Plan per round: one map-side-combinable degree aggregation over the
    edge stubs + two equi-joins filtering edges to surviving endpoints
    (the alive set is far smaller than the edge list — broadcastable
    here, AQE-shuffle at 100 TB).  Edges are materialized once and
    every round's output feeds the next.  Eager jobs: the edge-list
    barrier (whose count is the fixpoint's first reference and the size
    gate's bound) and one barrier per peel."""
    cur, n_cur = _copurchase_edges(spark, sf, urgent=True, oriented=True)
    # r12: the |V|-bounded alive set rides the size-gated graph
    # broadcast (the g1 pattern) — pins what the docstring previously
    # left to AQE, so a round's only edge-scale exchange is the
    # map-side-combined degree aggregation.  On this oriented edge list
    # |V| can reach 2|E| (a matching), so the gate's bound is twice the
    # edge count
    bcast = resolve_graph_broadcast(spark, 2 * n_cur)
    for _ in range(_KCORE_ROUNDS):
        alive = _degrees(cur, "node", "_d").filter(F.col("_d") >= _KCORE_K).select("node")
        # materialize per round: each round reads `cur` TWICE (degree agg
        # + edge filter), so without a barrier the lineage doubles every
        # round — 2^R copies of the base scan in one Catalyst tree (found
        # the hard way: the unmaterialized 6-round plan stalled the
        # optimizer).  The barrier keeps every round's plan constant-size,
        # exactly the g5_wcc iteration discipline.
        cur, n_kept, _ = materialize_counted(
            cur.join(
                graph_small_side(alive.withColumnRenamed("node", "u"), bcast), "u"
            )
            .join(
                graph_small_side(alive.withColumnRenamed("node", "v"), bcast), "v"
            )
            .select("u", "v")
        )
        if n_kept == n_cur:
            break
        n_cur = n_kept
    return _degrees(cur, "node", "core_degree")


def _gen_kcore_oracle() -> str:
    # every e{{i}} is referenced TWICE by round i+1 (degree agg + edge
    # filter): default inlined CTEs would expand 2^R copies of the base
    # scan (measured: fd exhaustion at R=6) — MATERIALIZED pins each
    # round to evaluate once, mirroring the Spark side's per-round
    # materialize() barrier
    rounds = []
    prev = "e0"
    for i in range(1, _KCORE_ROUNDS + 1):
        rounds.append(
            f"""a{i} AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, count(*) AS c
    FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
    GROUP BY node)
  WHERE c >= {_KCORE_K}
), e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  JOIN a{i} x ON x.node = e.u
  JOIN a{i} y ON y.node = e.v
)"""
        )
        prev = f"e{i}"
    chain = ",\n".join(rounds)
    return f"""
WITH li AS (
  SELECT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
), e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
),
{chain}
SELECT node, CAST(count(*) AS BIGINT) AS core_degree
FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
GROUP BY node
"""


O_G8_KCORE = _gen_kcore_oracle()


# ---------------------------------------------------------------------------
# G9: common-neighbor / Adamic-Adar link prediction (graph family)
# ---------------------------------------------------------------------------

_G9_MAX_HUB_DEG = 64  # exclude hub intermediates: candidate volume = n*cap^2
_G9_TOP = 50


def q_g9_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """G9: LINK PREDICTION over the urgent-order co-purchase graph —
    score NON-adjacent node pairs by common-neighbor count and
    Adamic-Adar (sum over shared neighbors w of 1/ln(deg_w);
    Adamic & Adar '03, Liben-Nowell & Kleinberg '03), the classic
    "which edge forms next" primitive; same canonical u<v edge set as
    g2/g7/g8.

    Hub exclusion: intermediates with degree > ``_G9_MAX_HUB_DEG``
    generate no candidate pairs, bounding candidate volume at n*cap²
    instead of the n*max_deg² blowup — the standard scale mitigation
    (it biases AA low on hub-mediated pairs, documented; production
    tunes the cap).  deg_w >= 2 holds by construction for any shared
    neighbor, so ln(deg_w) > 0 and the AA term divides safely.

    Cross-engine exactness: per-intermediate AA contributions snap to
    fixed-point BIGINTs (round(1e6/ln(deg_w)) — the t_zipf ln
    discipline), so pair scores are exact integer sums with one
    trailing division; the top-50 cut orders by (cn, aa, u, v) — a
    total order, so the SET is deterministic and the oracle check's
    order-insensitive hash matches.

    Scale: degree table is one map-side count; candidate generation is
    an equi-join of the adjacency list with itself ON the intermediate
    (shuffle keyed by w, bounded by the cap); the existing-edge
    anti-join and the final top-k (TakeOrdered, no global window) are
    standard."""
    edges, n_edges = _copurchase_edges(spark, sf, urgent=True, oriented=True)
    adj = edges.select(F.col("u").alias("w"), F.col("v").alias("x")).unionAll(
        edges.select(F.col("v").alias("w"), F.col("u").alias("x"))
    )
    deg = _degrees(edges, "w", "deg")
    mid = deg.filter((F.col("deg") >= 2) & (F.col("deg") <= _G9_MAX_HUB_DEG))
    aa_w = F.round(F.lit(1_000_000.0) / F.log(F.col("deg").cast("double"))).cast(
        "long"
    )
    # r11: the |V|-row filtered-degree table rides graph_small_side
    # (broadcast below the size gate, a shuffle join above it) — the
    # pre-r11 plan SMJ-joined adj
    # against mid and, because adj_mid feeds both wedge sides, ran that
    # SMJ subtree TWICE; the broadcast leaves the adjacency unshuffled
    # until the wedge join itself (12 -> 8 exchanges, 4 -> 2 SMJ: only
    # the wedge self-join and the existing-edge anti-join still shuffle,
    # plans/r11/g9_link_prediction_{before,after}.txt).  A
    # collect_list-and-explode wedge form (one adj shuffle) was measured
    # SLOWER at sf0.1 — ObjectHashAggregate + Generate leave whole-stage
    # codegen (isolated 3.2s -> 5.2s), so the codegen self-join stays.
    # r12 size gate: mid is a deg-filtered subset of V, and |V| can reach
    # 2|E| on this oriented edge list, so twice the edge barrier's count
    # bounds it (VERDICT r11 item #8)
    bcast = resolve_graph_broadcast(spark, 2 * n_edges)
    adj_mid = adj.join(graph_small_side(mid, bcast), "w").select(
        "w", "x", aa_w.alias("aa")
    )
    p1 = adj_mid.select("w", F.col("x").alias("u"), "aa")
    p2 = adj_mid.select("w", F.col("x").alias("v"))
    cand = p1.join(p2, "w").filter(F.col("u") < F.col("v"))
    # aggregate BEFORE the existing-edge anti-join: the wedge stream is
    # the big intermediate (139M rows at sf1 — measured exactly 10x the
    # sf0.1 volume) and groupBy gets a map-side partial combine, so the
    # (u,v) shuffle carries combined pair scores, not raw wedges; the
    # anti-join then runs on the far smaller distinct-pair set.  The
    # filter commutes with the aggregation (both key on (u,v)).
    scored_all = cand.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cn"),
        F.sum("aa").cast("long").alias("aa_scaled"),
    )
    scored = scored_all.join(edges, ["u", "v"], "left_anti")
    top = scored.orderBy(
        F.col("cn").desc(), F.col("aa_scaled").desc(), F.col("u").asc(), F.col("v").asc()
    ).limit(_G9_TOP)
    return top.select(
        "u",
        "v",
        "cn",
        (F.col("aa_scaled").cast("double") / F.lit(1_000_000.0)).alias("adamic_adar"),
    )


O_G9_LINK_PREDICTION = f"""
WITH li AS (
  SELECT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
), e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
), adj AS (
  SELECT u AS w, v AS x FROM e UNION ALL SELECT v, u FROM e
), deg AS (
  SELECT w, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY w
), mid AS (
  SELECT w, CAST(round(1000000.0 / ln(deg)) AS BIGINT) AS aa
  FROM deg WHERE deg >= 2 AND deg <= {_G9_MAX_HUB_DEG}
), am AS (
  SELECT adj.w, adj.x, mid.aa FROM adj JOIN mid USING (w)
), cand AS (
  SELECT p1.w, p1.x AS u, p2.x AS v, p1.aa
  FROM am p1 JOIN am p2 ON p1.w = p2.w
  WHERE p1.x < p2.x
), ne AS (
  SELECT c.u, c.v, c.w, c.aa FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.u AND e.v = c.v)
), scored AS (
  SELECT u, v, CAST(count(*) AS BIGINT) AS cn, CAST(sum(aa) AS BIGINT) AS aa_scaled
  FROM ne GROUP BY u, v
)
SELECT u, v, cn, CAST(aa_scaled AS DOUBLE) / 1000000.0 AS adamic_adar
FROM scored
ORDER BY cn DESC, aa_scaled DESC, u ASC, v ASC
LIMIT {_G9_TOP}
"""


# ---------------------------------------------------------------------------
# G10: neighbor-Jaccard edge similarity (graph family)
# ---------------------------------------------------------------------------


def q_g10_neighbor_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """G10: NEIGHBOR-JACCARD similarity per EDGE of the urgent-order
    co-purchase graph — |N(u)∩N(v)| / |N(u)∪N(v)| over the endpoints'
    neighbor sets (excluding the endpoints themselves), the classic
    edge-strength/tie-strength feature (Granovetter-style weak-tie
    analysis; also the embeddedness feature in link-strength models).
    Complements g9: g9 scores NON-edges (what forms next), this scores
    EXISTING edges (how embedded each tie is).

    With deg taken over the canonical u<v edge set: the intersection is
    the edge's triangle count (common neighbors w); |N(u)\\{v}| =
    deg_u−1, |N(v)\\{u}| = deg_v−1, so union = (deg_u−1)+(deg_v−1)−∩.
    All exact BIGINTs, ONE trailing division; an isolated edge (both
    degrees 1) has union 0 — undefined similarity, NULLIF-pinned NULL.

    Scale: degree table is one map-side count; the common-neighbor
    count per edge is the edge's TRIANGLE count, so it runs as
    DEGREE-ORDERED triangle enumeration (the g2 family's orientation,
    sharpened): orient every edge from its lower-(deg, id) endpoint to
    the higher, build wedges only between OUT-neighbors of the shared
    low vertex, close against the edge list, then explode each
    triangle (found exactly once, from its minimum-rank vertex) into
    its three edges and count.  Candidate volume is Σ outdeg(a)² —
    outdeg under this orientation is O(√E), so the wedge stream is
    O(E^1.5) regardless of hub skew, EXACT with no cap or bias
    (VERDICT r9 item 2: the raw Σ deg(w)² self-join this replaces was
    the scale-killer on skewed graphs; the r9 sweep measured it at
    8.27× per 10× data)."""
    edges, _ = _copurchase_edges(spark, sf, urgent=True, oriented=True)
    deg = _degrees(edges, "w", "deg")
    du = deg.select(F.col("w").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("w").alias("v"), F.col("deg").alias("deg_v"))
    # degree-ordered orientation: each edge points low-(deg, id) ->
    # high-(deg, id).  Every triangle then has exactly ONE vertex with
    # two out-edges (its minimum-rank vertex), so joining the oriented
    # adjacency with itself on that shared tail enumerates each
    # triangle exactly once, and outdeg <= O(sqrt(E)) bounds the wedge
    # stream at O(E^1.5) even under hub skew — no cap, no bias.
    ed = materialize(edges.join(du, "u").join(dv, "v"))
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oadj = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    o1 = oadj.select("a", F.col("b").alias("x1"))
    o2 = oadj.select("a", F.col("b").alias("x2"))
    # x1 < x2 by id keeps each out-neighbor pair once AND matches the
    # canonical u<v edge list directly; the inner join closes wedges
    # into triangles BEFORE any aggregation, so the exploded stream is
    # 3x |triangles|, not the wedge volume.
    tri = (
        o1.join(o2, "a")
        .filter(F.col("x1") < F.col("x2"))
        .join(
            edges.select(F.col("u").alias("x1"), F.col("v").alias("x2")),
            ["x1", "x2"],
        )
    )
    # each triangle contributes one common neighbor to each of its 3
    # edges: w=a for edge (x1,x2); w=x2 for edge (a,x1); w=x1 for (a,x2)
    contrib = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("x1").alias("cu"), F.col("x2").alias("cv")),
                F.struct(
                    F.least("a", "x1").alias("cu"),
                    F.greatest("a", "x1").alias("cv"),
                ),
                F.struct(
                    F.least("a", "x2").alias("cu"),
                    F.greatest("a", "x2").alias("cv"),
                ),
            )
        ).alias("e")
    ).select(F.col("e.cu").alias("u"), F.col("e.cv").alias("v"))
    shared = contrib.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared")
    )
    e = ed.join(shared, ["u", "v"], "left").withColumn(
        "n_shared", F.coalesce(F.col("n_shared"), F.lit(0))
    )
    union = F.col("deg_u") - 1 + F.col("deg_v") - 1 - F.col("n_shared")
    return e.select(
        "u",
        "v",
        "deg_u",
        "deg_v",
        "n_shared",
        (
            F.col("n_shared").cast("double")
            / F.nullif(union, F.lit(0)).cast("double")
        ).alias("jaccard"),
    )


O_G10_NEIGHBOR_JACCARD = """
WITH li AS (
  SELECT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
), e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
), adj AS (
  SELECT u AS w, v AS x FROM e UNION ALL SELECT v, u FROM e
), deg AS (
  SELECT w, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY w
), shared AS (
  SELECT c.u, c.v, CAST(count(*) AS BIGINT) AS n_shared
  FROM (
    SELECT p1.w, p1.x AS u, p2.x AS v
    FROM adj p1 JOIN adj p2 ON p1.w = p2.w
    WHERE p1.x < p2.x
  ) c
  WHERE EXISTS (SELECT 1 FROM e WHERE e.u = c.u AND e.v = c.v)
  GROUP BY c.u, c.v
)
SELECT e.u, e.v, du.deg AS deg_u, dv.deg AS deg_v,
       coalesce(s.n_shared, 0) AS n_shared,
       CAST(coalesce(s.n_shared, 0) AS DOUBLE)
         / CAST(nullif(du.deg - 1 + dv.deg - 1 - coalesce(s.n_shared, 0), 0) AS DOUBLE)
         AS jaccard
FROM e
JOIN deg du ON du.w = e.u
JOIN deg dv ON dv.w = e.v
LEFT JOIN shared s ON s.u = e.u AND s.v = e.v
"""


REGISTRY = {
    "g1_pagerank": (q_g1_pagerank, O_G1_PAGERANK),
    "g1b_pagerank_shuffle": (q_g1b_pagerank_shuffle, O_G1_PAGERANK),
    "g2_triangle_count": (q_g2_triangle_count, O_G2_TRIANGLES),
    "g3_label_propagation": (q_g3_label_propagation, O_G3_LPA),
    "g3b_label_prop_shuffle": (q_g3b_label_prop_shuffle, O_G3_LPA),
    "g4_khop_bfs": (q_g4_khop_bfs, O_G4_KHOP),
    "g5_wcc": (q_g5_wcc, O_G5_WCC),
    "g6_clustering_coeff": (q_g6_clustering_coeff, O_G6_CLUSTERING),
    "g7_degree_assortativity": (q_g7_degree_assortativity, O_G7_ASSORTATIVITY),
    "g8_kcore": (q_g8_kcore, O_G8_KCORE),
    "g9_link_prediction": (q_g9_link_prediction, O_G9_LINK_PREDICTION),
    "g10_neighbor_jaccard": (q_g10_neighbor_jaccard, O_G10_NEIGHBOR_JACCARD),
}
