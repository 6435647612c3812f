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

This module centralizes the decision:

* ``spark.graft.graph.broadcast`` = ``auto`` (default) | ``true`` | ``false``
  - ``true`` / ``false``: unconditional, the pre-r12 behavior.
  - ``auto``: broadcast iff the caller's |V| row-count bound is at most
    ``spark.graft.graph.broadcast.maxRows`` (default 20M rows — a
    (long, long) node table at 20M rows is ~320 MB framed, well under
    the 8 GB / 512M-row broadcast cap but already generous for a
    driver; size it to driver memory on a real cluster).  Callers pass
    the bound as a zero-arg callable (usually ``deg.count`` on an
    already-materialized node table — one cheap checkpoint-scan job per
    QUERY, not per round); with no bound available, ``auto`` falls back
    to broadcast, the pre-r12 behavior.

The gate bounds MONOTONE-GROWING tables too: g4's settled set and the
large-star per-node minima are subsets of the node universe, so gating
on |V| once per query is a correct conservative bound for every round
(ADVICE r11: the settled set approaches reachable-|V| by the last hop —
|V| under the threshold means every round's broadcast is too).

Per-call explicit override (``broadcast=True/False``) wins over the
conf; the g1b/g3b shuffle-mode contract variants use it.  Any other conf
value (``off``, ``0``, a non-positive or non-integer ``maxRows``) raises
``ValueError`` instead of silently reading as the default.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GRAPH_BROADCAST_CONF = "spark.graft.graph.broadcast"
GRAPH_BROADCAST_MAX_ROWS_CONF = "spark.graft.graph.broadcast.maxRows"
_DEFAULT_MAX_ROWS = 20_000_000


def resolve_graph_broadcast(
    spark: SparkSession,
    broadcast: bool | None = None,
    n_rows: Callable[[], int] | int | None = None,
) -> bool:
    """Resolve the small-side strategy ONCE per query (the result is a
    plain bool so loop bodies pay no per-round conf reads or counts).

    ``broadcast``: explicit per-call override; wins when not None.
    ``n_rows``: the |V| bound — an int, or a zero-arg callable evaluated
    only when the conf is ``auto`` (pass ``materialized_nodes.count`` so
    non-auto modes never pay the job).
    """
    if broadcast is not None:
        return broadcast
    mode = (spark.conf.get(GRAPH_BROADCAST_CONF, "auto") or "auto").lower()
    if mode not in ("auto", "true", "false"):
        raise ValueError(
            f"unknown {GRAPH_BROADCAST_CONF}={mode!r}; expected one of {{auto, true, false}}"
        )
    raw = spark.conf.get(GRAPH_BROADCAST_MAX_ROWS_CONF, None) or str(_DEFAULT_MAX_ROWS)
    try:
        limit = int(raw)
    except ValueError:
        limit = 0
    if limit <= 0:
        raise ValueError(f"{GRAPH_BROADCAST_MAX_ROWS_CONF}={raw!r} must be a positive integer")
    if mode != "auto":
        return mode == "true"
    # auto: gate on the caller's row bound when one exists
    if n_rows is None:
        return True
    bound = n_rows() if callable(n_rows) else int(n_rows)
    return bound <= limit


def graph_small_side(
    spark: SparkSession,
    df: DataFrame,
    broadcast: bool | None = None,
    n_rows: Callable[[], int] | int | None = None,
) -> DataFrame:
    """The |V|-row side of an iterative-graph join, broadcast-hinted per
    ``resolve_graph_broadcast``.  Same results either way — only the
    join strategy flips."""
    return (
        F.broadcast(df)
        if resolve_graph_broadcast(spark, broadcast, n_rows)
        else df
    )
