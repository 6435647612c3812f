"""Size-gated small-side strategy for iterative graph joins.

The graph queries in ``plans/catalog_graph.py`` (pagerank, label
propagation, BFS, assortativity, k-core, link prediction) and the
large-star components in ``operators/dedup.py`` (g5_wcc and the
dedup-closure fallback) join a |V|-row per-node table (ranks / labels /
minima / frontier / alive set) against an |E|-row edge list.  Min-label
components do not: their near-dup pair graphs are tiny, and the
broadcast measured slower there.  Broadcasting the
node table removes the edge-side exchange+sort per round — the r11 g1
win — but an UNGATED broadcast would OOM the driver on billion-node
graphs (VERDICT r11 item #4: "nothing automatically flips it").

This module centralizes the decision: broadcast iff the caller's row
bound on the broadcast side is at most
``spark.graft.graph.broadcast.maxRows`` (default 20M rows — a (long,
long) node table at 20M rows is ~320 MB framed, well under the 8 GB /
512M-row broadcast cap but already generous for a driver; size it to
driver memory on a real cluster).  The bound is an int the caller
already holds: the row count a ``materialize_counted`` barrier observed
from its own job (the edge list's or the node table's), so the gate
runs no job of its own.

The gate bounds MONOTONE-GROWING tables too: g4's settled set and the
large-star per-node minima are subsets of the node universe, so gating
on |V| once per query is a correct conservative bound for every round
(ADVICE r11: the settled set approaches reachable-|V| by the last hop —
|V| under the threshold means every round's broadcast is too).

A per-call explicit override (``broadcast=True/False``) wins over the
gate; the g1b/g3b shuffle-mode contract variants use it.  A ``maxRows``
that is not a positive integer raises ``ValueError`` instead of silently
reading as the default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GRAPH_BROADCAST_MAX_ROWS_CONF = "spark.graft.graph.broadcast.maxRows"
_DEFAULT_MAX_ROWS = 20_000_000


def resolve_graph_broadcast(
    spark: SparkSession, n_rows: int, broadcast: bool | None = None
) -> bool:
    """Resolve the small-side strategy ONCE per query (the result is a
    plain bool so loop bodies pay no per-round conf reads or counts).

    ``n_rows``: the caller's bound on the broadcast side's rows.
    ``broadcast``: explicit per-call override; wins when not None.
    """
    if broadcast is not None:
        return broadcast
    raw = spark.conf.get(GRAPH_BROADCAST_MAX_ROWS_CONF, None) or str(_DEFAULT_MAX_ROWS)
    try:
        limit = int(raw)
    except ValueError:
        limit = 0
    if limit <= 0:
        raise ValueError(f"{GRAPH_BROADCAST_MAX_ROWS_CONF}={raw!r} must be a positive integer")
    return n_rows <= limit


def graph_small_side(df: DataFrame, broadcast: bool) -> DataFrame:
    """The |V|-row side of an iterative-graph join, broadcast-hinted per
    the resolved ``broadcast``.  Same results either way — only the join
    strategy flips."""
    return F.broadcast(df) if broadcast else df
