"""Skew operators: both forms must be value-equivalent to the naive
aggregations they replace."""

from __future__ import annotations

from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.operators.skew import skew_safe_count_distinct
from factory_inspectors_db_etl_spark.sources.tables import load_table


def test_skew_safe_count_distinct_equivalent(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    got = skew_safe_count_distinct(li, ["l_returnflag"], "l_orderkey", "n").collect()
    want = (
        li.groupBy("l_returnflag").agg(F.countDistinct("l_orderkey").alias("n")).collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_aqe_splits_skewed_join_partitions(spark):
    """The stated mitigation for hot join keys is AQE skew splitting;
    pin that it actually engages under this session's configs: a 25x-hot
    key must show SortMergeJoin(skew=true) + a skewed AQEShuffleRead in
    the executed adaptive plan (thresholds lowered so local data sizes
    qualify; restored after)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") < 250_000, 0).otherwise(F.col("id") % 100).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 300_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
