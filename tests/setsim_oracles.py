"""Brute-force reference twins of the set-similarity joins in
``operators/setsim.py``: the full inverted-index join with NO prefix
filter and no exact-duplicate collapse, so every shared element generates
the pair.  Quadratic in posting-list length on hot elements, which is
why they live with the tests that compare against them and not in the
engine."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.operators.dedup import _shingle_stream


def bruteforce_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 5,
) -> DataFrame:
    """Reference twin of ``prefix_filter_jaccard_pairs``."""
    p, q = threshold_num, threshold_den
    toks = _shingle_stream(df, id_col, text_col, k)
    sizes = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc").alias("id_a"), F.col("sz").alias("_sza")), "id_a")
        .join(sizes.select(F.col("doc").alias("id_b"), F.col("sz").alias("_szb")), "id_b")
        .withColumn("inter", F.col("inter").cast("long"))
        .withColumn("union_sz", (F.col("_sza") + F.col("_szb") - F.col("inter")).cast("long"))
        .filter(q * F.col("inter") >= p * F.col("union_sz"))
        .select(
            "id_a",
            "id_b",
            "inter",
            "union_sz",
            (F.col("inter") / F.col("union_sz")).alias("jaccard"),
        )
    )


def bruteforce_tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int = 3,
    threshold_den: int = 5,
) -> DataFrame:
    """Reference twin of ``tfidf_cosine_pairs``."""
    p, q = threshold_num, threshold_den
    toks = _shingle_stream(df, id_col, text_col, k=1)
    dfreq = toks.groupBy("sh").agg(F.count(F.lit(1)).cast("long").alias("df"))
    nd = df.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    tw = (
        toks.join(dfreq.crossJoin(F.broadcast(nd)), "sh")
        .select("doc", "sh", (F.expr("nd div df") * F.expr("nd div df")).alias("w2"))
    )
    norms = tw.groupBy("doc").agg(F.sum("w2").cast("long").alias("n2"))
    a, b = tw.alias("a"), tw.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.sum("a.w2").cast("long").alias("dot"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return (
        inter.join(norms.select(F.col("doc").alias("id_a"), F.col("n2").alias("na2")), "id_a")
        .join(norms.select(F.col("doc").alias("id_b"), F.col("n2").alias("nb2")), "id_b")
        .filter(
            dec("dot") * dec("dot") * F.lit(q * q).cast("decimal(38,0)")
            >= F.lit(p * p).cast("decimal(38,0)") * dec("na2") * dec("nb2")
        )
        .select(
            "id_a",
            "id_b",
            "dot",
            F.col("na2").cast("long").alias("na2"),
            F.col("nb2").cast("long").alias("nb2"),
            (
                F.col("dot").cast("double")
                / F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double"))
            ).alias("cosine"),
        )
    )
