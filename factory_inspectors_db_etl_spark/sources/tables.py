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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # events.parquet stores ts as TIMESTAMP(NANOS), which the Spark
        # parquet reader rejects.  Read nanos as long, then rebuild a
        # TIMESTAMP_NTZ arithmetically (epoch + micros) — deliberately NOT
        # via a TimestampType cast, which would shift by the session
        # timezone.  Nanos->micros truncation is lossless here (values are
        # python-datetime-derived, i.e. micro precision).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts",
                F.expr("timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
            )
        return df
    return spark.read.parquet(path)

