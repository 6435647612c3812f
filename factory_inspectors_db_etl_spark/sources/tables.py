"""Parquet test-table loaders (TESTDATA.md).

Maps to SURVEY.md §2.1 S1 (path scan): ``spark.read.parquet`` over an
explicit path.  Filters/projections applied downstream push into the scan
via Catalyst (PushedFilters / ReadSchema), so callers should NOT cache or
materialize here — keep the scan lazy so pruning works.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def read_events(spark: SparkSession, path: str) -> tuple[DataFrame, bool]:
    """Read an events parquet file and sniff its ``ts`` unit from the same
    schema read: ``(df, is_nanos)``.

    The generator has shipped ``ts`` as TIMESTAMP(NANOS) and as
    TIMESTAMP(MICROS) across testdata revisions.  Spark's parquet reader
    rejects NANOS unless ``nanosAsLong`` is on, and then surfaces the
    column as ``bigint``.  So the read runs with that conf on, and the
    caller's prior value is restored unless the column is NANOS, whose
    scan keeps needing it.  A MICROS file (and a read that raises) leaves
    the session conf as it was.  One footer read, no data scanned."""
    old = spark.conf.get(NANOS_AS_LONG, None)
    spark.conf.set(NANOS_AS_LONG, "true")
    is_nanos = False
    try:
        df = spark.read.parquet(path)
        is_nanos = dict(df.dtypes).get("ts") == "bigint"
    finally:
        if not is_nanos:
            if old is None:
                spark.conf.unset(NANOS_AS_LONG)
            else:
                spark.conf.set(NANOS_AS_LONG, old)
    return df, is_nanos


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.parquet(path)
    df, is_nanos = read_events(spark, path)
    if is_nanos:
        # rebuild a TIMESTAMP_NTZ arithmetically (epoch + micros) —
        # deliberately NOT via a TimestampType cast, which would shift by
        # the session timezone.  Nanos->micros truncation is lossless here
        # (values are python-datetime-derived, i.e. micro precision).
        df = df.withColumn(
            "ts",
            F.expr("timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
        )
    return df
