"""Bucketized range join (SURVEY.md §2.4 J8 at scale).

``point in [lo, hi)`` joins plan as BroadcastNestedLoopJoin when the
interval side is tiny (fine), but degrade to an O(n*m) nested loop when
both sides are large.  The bucketized form turns the theta join into an
equi-join: quantize the domain into fixed-width buckets, explode each
interval onto every bucket it covers, join points to intervals on the
bucket id, and re-apply the exact predicate as a residual filter.

Cost: shuffle on a dense int key + |interval| * (width/bucket) exploded
rows — linear, shuffle-friendly, skew-manageable (hot buckets salt like
any hot key).  This is the same strategy Spark's own storage-partitioned
range joins and Databricks' RANGE_JOIN hint apply internally; expressed
here with public DataFrame ops only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: int,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to interval rows with ``lo <= point < hi``.

    ``bucket_width`` quantizes the join domain; pick it near the median
    interval width (too small explodes intervals, too large fattens the
    residual filter).  Output columns: all point columns + all interval
    columns.
    """
    p = points.withColumn("_bucket", (F.col(point_col) / bucket_width).cast("long"))
    iv = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                (F.col(lo_col) / bucket_width).cast("long"),
                # hi is exclusive: a zero-width interval still lands in its
                # lo bucket; otherwise the last covered bucket is (hi-1)/w
                F.greatest(
                    (F.col(lo_col) / bucket_width).cast("long"),
                    ((F.col(hi_col) - 1) / bucket_width).cast("long"),
                ),
            )
        ),
    )
    joined = p.join(iv, on="_bucket", how=how).filter(
        (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
    )
    return joined.drop("_bucket")
