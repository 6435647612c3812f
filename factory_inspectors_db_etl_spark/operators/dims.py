"""Dimension building and FK resolution (SURVEY.md §2.4 J1-J5).

The reference resolves dimensions row-at-a-time with an in-process cache +
``SELECT``/``INSERT RETURNING`` round-trips (populate_db_ru_v1.py:181-212).
Spark-first, the whole pattern inverts into set operations:

* ``build_dim``    -- J2 get-or-create == dropDuplicates + row_number
                      surrogate keys, deterministic by natural-key order.
* ``null_safe_join`` -- J3 composite keys where NULL must match NULL
                      (populate_db_ru_v1.py:229-235) == `<=>` equality.

Scale notes: dims stay broadcastable (bounded key domains); the only
shuffle is the dedup inside ``build_dim``, which is a partial-agg-friendly
``dropDuplicates`` on the natural key.  Surrogate minting is TWO-PHASE
(per-head-key ``row_number`` + broadcast cumulative offsets over the tiny
distinct-head set), so no non-tiny dim is ever funneled through a
single-partition global window.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def mint_surrogate_ids(
    dedup: DataFrame,
    nk: Sequence[str],
    id_col: str,
    start_id: int = 1,
    bucket: Column | None = None,
) -> DataFrame:
    """Mint dense ids identical to ``row_number() OVER (ORDER BY nk)``
    with NO global window anywhere in the plan.

    Phase 1: ``row_number`` partitioned by an order-preserving bucket
    (default: the first natural-key column) — parallel windows, one per
    bucket value.  Phase 2: each bucket's offset = total rows in all
    strictly-earlier buckets, computed as a broadcast inequality
    self-join over the per-bucket COUNTS (B buckets -> B^2 comparisons
    on a B-row table — trivial) and broadcast back.  Because the global
    sort order compares the bucket first, per-bucket rank + earlier-
    bucket totals equals the global rank exactly.  Unlike a cumsum
    window over the counts, the join form never funnels anything through
    a single partition, so the plan is warning-free and shape-stable at
    any scale.

    ``bucket`` must be ORDER-PRESERVING w.r.t. ``nk[0]`` (sorting by
    (bucket, nk) must equal sorting by nk).  Pass one when ``nk[0]`` has
    unbounded cardinality — e.g. ``F.substring(name, 1, 1)`` for a string
    key (a string sorts after every string with a smaller first char), or
    a year/file column — so B stays bounded while phase 1 still
    parallelizes.  Nulls: bucket NULL groups sort first on both sides
    (``asc_nulls_first`` + the explicit null branch in the join
    condition), matching ``ORDER BY nk ASC NULLS FIRST``.
    """
    nk = list(nk)
    order = [F.col(c).asc_nulls_first() for c in nk]
    b = bucket if bucket is not None else F.col(nk[0])
    local = dedup.withColumn("_b", b).withColumn(
        "_rn", F.row_number().over(Window.partitionBy("_b").orderBy(*order))
    )
    counts = local.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
    cb = counts.select(F.col("_b").alias("_b2"), F.col("_n").alias("_n2"))
    earlier = (F.col("_b2").isNull() & F.col("_b").isNotNull()) | (F.col("_b2") < F.col("_b"))
    offsets = (
        counts.join(F.broadcast(cb), earlier, "left")
        .groupBy("_b")
        .agg(F.coalesce(F.sum("_n2"), F.lit(0)).alias("_off"))
        .select(F.col("_b").alias("_b3"), "_off")
    )
    return (
        local.join(F.broadcast(offsets), local["_b"].eqNullSafe(F.col("_b3")))
        .withColumn(id_col, (F.col("_rn") + F.col("_off") + F.lit(start_id - 1)).cast("int"))
        .drop("_b", "_b3", "_rn", "_off")
    )


def build_dim(
    df: DataFrame,
    natural_key: Sequence[str],
    id_col: str,
    extra_cols: Sequence[str] = (),
    start_id: int = 1,
    bucket: Column | None = None,
) -> DataFrame:
    """Deduplicate ``natural_key`` and mint dense surrogate ids.

    Surrogate ids are ordered by the natural key so they are deterministic
    across runs/partitionings (documented divergence from the reference's
    insertion-order SERIAL ids — equivalence is on natural keys, SURVEY.md §7).
    ``extra_cols`` are carried with ``first()`` per key.  ``bucket`` is the
    optional order-preserving phase-1 partition key for high-cardinality
    natural keys (see ``mint_surrogate_ids``).
    """
    nk = list(natural_key)
    aggs = [F.first(c, ignorenulls=True).alias(c) for c in extra_cols]
    dedup = df.groupBy(*nk).agg(*aggs) if aggs else df.select(*nk).dropDuplicates(nk)
    return mint_surrogate_ids(dedup, nk, id_col, start_id, bucket=bucket)


def build_dim_incremental(
    existing: DataFrame,
    new_rows: DataFrame,
    natural_key: Sequence[str],
    id_col: str,
    bucket: Column | None = None,
) -> DataFrame:
    """Incremental get-or-create (SURVEY.md §2.4 J2, incremental variant):
    append only UNSEEN natural keys to an existing dimension, minting ids
    after the current max — existing ids never change (the property the
    reference's SERIAL column provides across runs).

    new keys = left_anti(new, existing); ids = max(existing.id) +
    row_number over the (small, deduplicated) novelty set.  The anti-join
    broadcasts the existing dim key set when small; at scale it is a
    shuffle on the natural key — still one pass over the increment only.
    ``bucket`` is forwarded to ``mint_surrogate_ids`` exactly as in
    ``build_dim``: pass an order-preserving coarse bucket when ``nk[0]``
    has unbounded cardinality, or phase 2's BxB count-join degenerates to
    distinct-key-count squared.
    """
    nk = list(natural_key)
    novel = new_rows.select(*nk).dropDuplicates(nk).join(
        existing.select(*nk), on=nk, how="left_anti"
    )
    base = existing.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("m"))
    minted = (
        mint_surrogate_ids(novel, nk, "_relid", bucket=bucket)
        .crossJoin(F.broadcast(base))
        .withColumn(id_col, (F.col("_relid") + F.col("m")).cast("int"))
        .drop("_relid", "m")
    )
    return existing.unionByName(minted.select(*existing.columns))


def null_safe_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    how: str = "inner",
    broadcast_right: bool = True,
) -> DataFrame:
    """Join where NULL key components match NULL (SQL ``<=>`` / eqNullSafe)."""
    r = F.broadcast(right) if broadcast_right else right
    cond: Column | None = None
    for k in keys:
        c = left[k].eqNullSafe(right[k])
        cond = c if cond is None else (cond & c)
    joined = left.join(r, on=cond, how=how)
    # drop the duplicate right-side key columns
    for k in keys:
        joined = joined.drop(right[k])
    return joined
