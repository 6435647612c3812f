"""Window forward fill (SURVEY.md §2.6 W1/W2), the ``w1_forward_fill``
catalog query's operator.

A ditto mark ("same as above") becomes ``last(<marker>, ignorenulls=True)``
over a window partitioned by the ordering unit and ordered by a total
in-group key — never by DataFrame order, which is undefined after a
shuffle.  The roster ETL does not use it: its W1-W4 fills are loop state
in the per-document pass (``plans.inspectors_etl``).

Scale: window state is bounded by rows per partition key; parallelism =
number of partition keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def forward_fill(
    df: DataFrame,
    col: str,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    out_col: str | None = None,
    null_markers: Sequence[str] = (),
) -> DataFrame:
    """Forward-fill ``col`` within each partition in ``order_by`` order:
    each row gets the last non-null value up to and including itself.

    ``null_markers``: sentinel strings (the ditto marks ``»`` / ``"``) that
    mean "repeat previous value"; they are first mapped to NULL, then filled.
    """
    value = F.col(col)
    if null_markers:
        value = F.when(value.isin(list(null_markers)), F.lit(None)).otherwise(value)
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col or col, F.last(value, ignorenulls=True).over(w))
