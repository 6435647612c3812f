"""Deterministic hash sampling/splitting (operators/sampling.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.operators.sampling import (
    hash_split,
    hash_topk_per_group,
    stratified_hash_sample,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"document number {i} with some text", "en" if i % 3 else "de") for i in range(300)],
        ["doc_id", "text", "lang"],
    ).cache()


def test_split_is_partition_and_deterministic(docs):
    out = hash_split(docs, "text", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 300
    assert counts["train"] > counts.get("val", 0)
    # deterministic: identical assignment on re-evaluation
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(docs, "text", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert a == b


def test_split_driftless_under_corpus_growth(spark, docs):
    """Adding documents never reassigns an existing one."""
    small = docs.filter(F.col("doc_id") < 100)
    before = {r["doc_id"]: r["split"] for r in hash_split(small, "text", {"a": 0.5, "b": 0.5}).collect()}
    after = {r["doc_id"]: r["split"] for r in hash_split(docs, "text", {"a": 0.5, "b": 0.5}).collect()}
    assert all(after[k] == v for k, v in before.items())


def test_split_fractions_must_sum_to_one(docs):
    with pytest.raises(ValueError):
        hash_split(docs, "text", {"train": 0.5, "val": 0.1})


def test_stratified_rates_apply_per_stratum(docs):
    out = stratified_hash_sample(docs, "text", "lang", {"en": 0.0}, default_rate=1.0)
    langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert langs == {"de"}  # en fully dropped, de fully kept
    assert out.count() == docs.filter("lang = 'de'").count()


def test_group_topk_sample_exact_k_and_stable(spark):
    ev = spark.createDataFrame(
        [(i, i % 7, f"k{i}") for i in range(140)], ["event_id", "user_id", "key"]
    )
    out = hash_topk_per_group(ev, ["user_id"], "key", 3)
    sizes = {r["user_id"]: r["n"] for r in out.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert all(n == 3 for n in sizes.values()) and len(sizes) == 7
    again = hash_topk_per_group(ev, ["user_id"], "key", 3)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_chunk_windows_edges(spark):
    from factory_inspectors_db_etl_spark.operators.text_analysis import chunk_windows
    from pyspark.sql import functions as F
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(47))), (2, "a b c"), (3, "")],
        ["doc_id", "text"],
    )
    rows = (
        df.select("doc_id", F.explode(chunk_windows(F.col("text"), 20, 5)).alias("c"))
        .select("doc_id", "c.chunk_idx", "c.chunk")
        .collect()
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk"]))
    # 47 words, stride 15: windows at 0,15,30 -> 3 (ceil((47-5)/15)=3)
    assert len(by_doc[1]) == 3
    # consecutive windows share exactly `overlap` words
    w0, w1 = by_doc[1][0][1].split(), by_doc[1][1][1].split()
    assert w0[-5:] == w1[:5]
    # short and empty docs produce exactly one window
    assert len(by_doc[2]) == 1 and by_doc[2][0][1] == "a b c"
    assert len(by_doc[3]) == 1
    with _pytest.raises(ValueError):
        chunk_windows(F.col("text"), 10, 10)


def test_redact_pii_examples(spark):
    from factory_inspectors_db_etl_spark.operators.text_analysis import redact_pii
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@d-e.org now"),
            (2, "tel +1 555-123 4567 ok"),
            (3, "ssn 123-45-6789."),
            (4, "clean text stays"),
        ],
        ["i", "t"],
    )
    got = {r["i"]: r["c"] for r in df.select("i", redact_pii(F.col("t")).alias("c")).collect()}
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "tel <PHONE> ok"
    assert got[3] == "ssn <SSN>."
    assert got[4] == "clean text stays"


def test_pack_bins_budget_and_contiguity(spark):
    from factory_inspectors_db_etl_spark.operators.sampling import pack_token_bins
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, f"doc {i}", 700) for i in range(60)] + [(100, "huge", 5000)],
        ["doc_id", "text", "n_tok"],
    )
    out = pack_token_bins(df, "text", "n_tok", budget=2000, shards=4).collect()
    # every (shard, bin) holds documents whose sizes sum within budget,
    # except a bin whose FIRST doc alone exceeds it (never split)
    bins = {}
    for r in out:
        bins.setdefault((r["shard"], r["bin"]), []).append(r["n_tok"])
    for sizes in bins.values():
        assert sum(sizes) <= 2000 + max(0, max(sizes) - 2000) + 2000
    # the oversized doc sits alone in its bin
    huge_bin = next((r["shard"], r["bin"]) for r in out if r["doc_id"] == 100)
    others_in_bin = [r for r in out if (r["shard"], r["bin"]) == huge_bin]
    # contiguous fill may start the bin with small docs before the huge
    # one, but nothing is placed after it in the same bin
    assert sum(r["n_tok"] for r in others_in_bin) < 5000 + 2000
    # deterministic across reruns
    again = pack_token_bins(df, "text", "n_tok", budget=2000, shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
