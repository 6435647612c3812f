"""Skew-mitigation operators (SURVEY.md §4 / 100 TB posture).

Spark's map-side partial aggregation already absorbs key skew for
algebraic aggregates (sum/count/min/max) — the partial state per key is
O(1).  The operators here cover the cases partial aggregation does NOT
fix:

* ``skew_safe_count_distinct`` — a hot group key with many distinct
  values concentrates the whole distinct-set build on one reducer.  The
  two-phase form shuffles on (key, value) first (spreading the hot key
  across all partitions), then counts per key — each shuffle partition
  holds a slice of the hot key's value space.

Used with AQE's skew-join splitting (on by default in session.py), this
covers the join-side and agg-side skew paths.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def skew_safe_count_distinct(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    out_col: str = "n_distinct",
) -> DataFrame:
    """COUNT(DISTINCT value) per key without concentrating a hot key.

    Phase 1 dedups on (keys..., value) — the shuffle key includes the
    value, so a hot group key spreads over all partitions; phase 2 counts
    rows per key (value already unique).  Equivalent to
    ``groupBy(keys).agg(countDistinct(value))`` for all inputs.
    """
    keys = list(keys)
    dedup = df.select(*keys, value_col).dropDuplicates([*keys, value_col])
    return dedup.groupBy(*keys).agg(F.count(F.lit(1)).alias(out_col))
