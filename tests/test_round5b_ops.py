"""Unit/property tests for the round-5 second batch: the lossless
prefix-filtered set-similarity join, directed containment, hourly
gap-fill interpolation, and the Bloom-pre-filtered join.

Cross-engine value equality for all four registered queries is covered
by tests/test_catalog_vs_duckdb.py (they are in the catalog); this file
pins the properties the oracles cannot express — losslessness of the
prefix filter, Bloom no-false-negatives, interpolation exactness, and
the adversarial corners (threshold boundaries, empty build sides).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.operators.bloom_join import (
    bloom_filtered_join,
    bloom_prefilter,
    build_bloom,
)
from factory_inspectors_db_etl_spark.operators.setsim import (
    containment_pairs,
    prefix_filter_jaccard_pairs,
)
from factory_inspectors_db_etl_spark.operators.timeseries import gap_fill_hourly
from factory_inspectors_db_etl_spark.sources.tables import load_table
from setsim_oracles import bruteforce_jaccard_pairs


def _pairs(df):
    return {
        (r["id_a"], r["id_b"], r["inter"], r["union_sz"]) for r in df.collect()
    }


# ---------------------------------------------------------------------------
# prefix-filtered Jaccard: losslessness
# ---------------------------------------------------------------------------


def test_prefix_filter_equals_bruteforce_on_corpus(spark, sf_dir):
    """The headline claim: the prefix filter loses NOTHING — identical
    output to the unfiltered inverted-index join on the real corpus."""
    d = load_table(spark, sf_dir, "documents")
    pf = prefix_filter_jaccard_pairs(d, "doc_id", "text", k=3)
    bf = bruteforce_jaccard_pairs(d, "doc_id", "text", k=3)
    assert _pairs(pf) == _pairs(bf) != set()


def test_prefix_filter_exact_threshold_boundary(spark):
    """J == threshold exactly must be KEPT, and the prefix length must
    come from integer ceil — a float ceil(0.6*n) walks the
    3.0000000000000004 ulp edge and silently shortens the prefix (a
    false-negative bug the integer DIV form cannot have).  Unigram sets
    (k=1) make the set sizes explicit.

    a = {t1..t8}, b = {t1..t6, x1, x2}: inter=6, union=10, J=0.6 — on
    the 3/5 boundary."""
    a = " ".join(f"t{i}" for i in range(8))
    b = " ".join(f"t{i}" for i in range(6)) + " x1 x2"
    docs = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    got = prefix_filter_jaccard_pairs(docs, "doc_id", "text", k=1).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["inter"], r["union_sz"]) == (6, 10) and r["jaccard"] == 0.6


def test_prefix_filter_rare_token_adversary(spark):
    """Docs overlapping ONLY in globally-common tokens: the qualifying
    pair's shared tokens are the most frequent in the corpus, so a
     'rarest tokens only, drop the rest' shortcut that was NOT the exact
    prefix theorem would miss it.  Also plants sub-threshold pairs that
    must stay excluded."""
    common = "the of and to in is it for on as"  # 10 shared tokens
    rows = [(i, common) for i in range(1, 4)]  # identical docs, J=1.0
    rows += [(10, common + " zebra"), (11, "only unique words here nothing shared")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pf = _pairs(prefix_filter_jaccard_pairs(docs, "doc_id", "text", k=1))
    bf = _pairs(bruteforce_jaccard_pairs(docs, "doc_id", "text", k=1))
    assert pf == bf
    assert (1, 2, 10, 10) in pf and (1, 10, 10, 11) in pf  # 10/11 > 0.6
    assert not any(11 in (p[0], p[1]) for p in pf)


def test_prefix_filter_no_cartesian_plan(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    plan = prefix_filter_jaccard_pairs(d, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# containment
# ---------------------------------------------------------------------------


def test_containment_finds_quote_jaccard_misses(spark):
    """A short doc quoted verbatim inside a much longer one: containment
    1.0, symmetric Jaccard far below any useful threshold."""
    quote = "the five boxing wizards jump quickly tonight"
    long_doc = (
        "opening remarks before the quotation begins " + quote +
        " and then a very long discussion follows with many more words " +
        "padding the document so the shingle set grows much larger than " +
        "the quoted source text ever was in the first place"
    )
    docs = spark.createDataFrame(
        [(1, quote), (2, long_doc)], "doc_id long, text string"
    )
    got = containment_pairs(docs, "doc_id", "text", k=3).collect()
    fwd = [r for r in got if r["src_id"] == 1 and r["dst_id"] == 2]
    assert len(fwd) == 1 and fwd[0]["containment"] == 1.0
    # and the symmetric direction (big ⊑ small) is NOT claimed
    assert not [r for r in got if r["src_id"] == 2]
    bf = bruteforce_jaccard_pairs(docs, "doc_id", "text", k=3, threshold_num=1, threshold_den=2)
    assert bf.count() == 0  # Jaccard @ 0.5 is blind to it


def test_containment_matches_pandas_bruteforce(spark, sf_dir):
    """Directed pairs on the real corpus == per-doc shingle-set python
    arithmetic (threshold 4/5, k=3)."""
    d = load_table(spark, sf_dir, "documents").limit(200)
    rows = d.select("doc_id", "text").collect()

    def sh(text, k=3):
        w = " ".join(text.strip().lower().split()).split(" ")
        return {" ".join(w[i : i + k]) for i in range(max(len(w) - k + 1, 1))}

    sets = {r["doc_id"]: sh(r["text"]) for r in rows}
    want = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if 5 * inter >= 4 * len(sets[a]):
                want.add((a, b, inter, len(sets[a])))
            if 5 * inter >= 4 * len(sets[b]):
                want.add((b, a, inter, len(sets[b])))
    got = {
        (r["src_id"], r["dst_id"], r["inter"], r["sz_src"])
        for r in containment_pairs(d, "doc_id", "text", k=3).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# gap fill
# ---------------------------------------------------------------------------


def test_gap_fill_hand_case(spark):
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", 10.0),
            (1, "2024-01-01 00:40:00", 0.5),   # same hour: sums to 10.50
            (1, "2024-01-01 03:20:00", 40.0),
            (1, "2024-01-01 03:30:00", 2.0),   # hour 3 sums to 42.00
            (2, "2024-01-05 05:00:00", 7.0),
        ],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        (r["user_id"], r["bucket"]): (r["value_filled"], r["fill_kind"])
        for r in gap_fill_hourly(ev, "user_id", "ts", "value").collect()
    }
    assert got == {
        (1, "2024-01-01 00:00:00"): (10.5, "exact"),
        (1, "2024-01-01 01:00:00"): ((1050 * 2 + 4200 * 1) / 300, "interp"),
        (1, "2024-01-01 02:00:00"): ((1050 * 1 + 4200 * 2) / 300, "interp"),
        (1, "2024-01-01 03:00:00"): (42.0, "exact"),
        (2, "2024-01-05 05:00:00"): (7.0, "exact"),
    }


def test_gap_fill_grid_dense_and_exact_on_events(spark, sf_dir):
    """Properties on the real table: per-user grid is DENSE hourly
    (row count == span+1, all buckets distinct), no null values, and
    every 'exact' row equals the independent hourly cents sum."""
    ev = load_table(spark, sf_dir, "events")
    out = gap_fill_hourly(ev, "user_id", "ts", "value")
    per_user = out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("bucket").alias("nd"),
        F.min("bucket").alias("lo"),
        F.max("bucket").alias("hi"),
    )
    bad = per_user.filter(
        (F.col("n") != F.col("nd"))
        | (
            F.col("n")
            != F.expr(
                "timestampdiff(HOUR, CAST(lo AS TIMESTAMP_NTZ), CAST(hi AS TIMESTAMP_NTZ)) + 1"
            )
        )
    )
    assert bad.count() == 0
    assert out.filter(F.col("value_filled").isNull()).count() == 0
    hourly = ev.groupBy(
        "user_id",
        F.date_format(F.date_trunc("HOUR", "ts"), "yyyy-MM-dd HH:00:00").alias("bucket"),
    ).agg(
        (F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long")) / 100)
        .alias("want")
    )
    exact = out.filter(F.col("fill_kind") == "exact")
    mism = exact.join(hourly, ["user_id", "bucket"], "left").filter(
        F.col("want").isNull() | (F.col("want") != F.col("value_filled"))
    )
    assert mism.count() == 0
    # observed-span grids never need the edge arms
    assert out.filter(F.col("fill_kind").isin("ffill", "bfill")).count() == 0


# ---------------------------------------------------------------------------
# bloom join
# ---------------------------------------------------------------------------

_NB = 1 << 12


def test_bloom_never_false_negative(spark):
    """Every true key must survive the probe — the property that makes
    the composed join exact.  4096 bits with 3000 keys is deliberately
    past saturation (~52% FP) so false positives EXIST while false
    negatives must not."""
    dim = spark.range(0, 3000).select((F.col("id") * 37 + 11).alias("k"))
    fact = spark.range(0, 3000).select((F.col("id") * 37 + 11).alias("fk"))
    bloom = build_bloom(dim, "k", num_bits=_NB)
    kept = bloom_prefilter(fact, "fk", bloom, _NB).count()
    assert kept == 3000  # every true key passes


def test_bloom_join_equals_plain_join_on_tables(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    got = bloom_filtered_join(
        li, o.select("o_orderkey"), "l_orderkey", "o_orderkey", num_bits=_NB
    ).select("l_orderkey", "l_linenumber")
    want = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "l_linenumber"
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_bloom_bitmap_constant_size(spark):
    """The broadcast payload is num_bits/64 longs NO MATTER the key
    count — the whole reason this beats an exact key-set broadcast."""
    for n_keys in (1, 5000):
        b = build_bloom(
            spark.range(0, n_keys).select(F.col("id").alias("k")), "k", num_bits=_NB
        ).collect()
        assert len(b) == 1 and len(b[0]["bloom_words"]) == _NB // 64


def test_bloom_empty_build_side(spark):
    """Zero surviving dim keys -> empty bitmap -> probe drops everything
    (and nothing crashes on the empty collect_list/map)."""
    dim = spark.range(0, 10).select(F.col("id").alias("k")).filter(F.col("k") < 0)
    fact = spark.range(0, 100).select(F.col("id").alias("fk"))
    assert bloom_filtered_join(fact, dim, "fk", "k", num_bits=_NB).count() == 0


# ---------------------------------------------------------------------------
# j14 SCD2 lookup
# ---------------------------------------------------------------------------


def test_scd2_lookup_hand_case(spark):
    """Purchases hit the state valid AT their timestamp: before any
    state -> NULL, at exactly a change point -> the NEW state, after the
    last change -> carried forward."""
    rows = [
        (1, 10, "2024-01-01 00:00:00", "signup"),
        (2, 10, "2024-01-01 02:00:00", "click"),
        (3, 10, "2024-01-01 04:00:00", "error"),
        # purchases
        (100, 10, "2023-12-31 23:00:00", "purchase"),  # before any state
        (101, 10, "2024-01-01 01:00:00", "purchase"),  # inside signup
        (102, 10, "2024-01-01 02:00:00", "purchase"),  # AT the click change
        (103, 10, "2024-01-01 09:00:00", "purchase"),  # after last change
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz")).withColumn(
        "value", F.lit(1.0)
    )
    # rebuild the q_j14_scd2_lookup plan body on the in-memory frame
    from factory_inspectors_db_etl_spark.operators.asof import asof_join
    from pyspark.sql import Window as W

    states = ev.filter(F.col("event_type") != "purchase")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    changes = (
        states.withColumn("_chg", prev.isNull() | (F.col("event_type") != prev))
        .filter(F.col("_chg"))
        .groupBy("user_id", "ts")
        .agg(F.max_by("event_type", "event_id").alias("state"))
        .withColumn("state_since", F.col("ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = {
        r["event_id"]: r["state"]
        for r in asof_join(
            purchases, changes, keys=["user_id"], on="ts",
            payload=["state", "state_since"],
        ).collect()
    }
    assert out == {100: None, 101: "signup", 102: "click", 103: "error"}


# ---------------------------------------------------------------------------
# a14 MAD outliers
# ---------------------------------------------------------------------------


def test_mad_outliers_matches_numpy(spark, sf_dir):
    import numpy as np
    from factory_inspectors_db_etl_spark.plans.catalog_ext2 import (
        _MAD_K,
        q_a14_mad_outliers,
    )
    from factory_inspectors_db_etl_spark.sources.tables import load_table

    got = {r["l_returnflag"]: r for r in q_a14_mad_outliers(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).collect()
    groups = {}
    for r in li:
        groups.setdefault(r["l_returnflag"], []).append(
            round(r["l_extendedprice"] * 100)
        )
    for flag, cents in groups.items():
        a = np.array(sorted(cents), dtype=float)
        med = float(np.percentile(a, 50, method="linear"))
        dev = np.abs(a - med)
        mad = float(np.percentile(np.sort(dev), 50, method="linear"))
        r = got[flag]
        assert r["median_price"] == med / 100
        assert r["mad"] == mad / 100
        assert r["n"] == len(cents)
        assert r["n_outliers"] == int((dev > _MAD_K * mad).sum())


# ---------------------------------------------------------------------------
# w18 EWMA
# ---------------------------------------------------------------------------


def test_ewma_hand_case(spark):
    from factory_inspectors_db_etl_spark.plans.catalog_ext2 import _EWMA_SPAN

    assert _EWMA_SPAN == 8
    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:30:00", 10.0),
            (2, 1, "2024-01-01 01:30:00", 20.0),
            (3, 1, "2024-01-01 02:30:00", 40.0),
        ],
        "event_id long, user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    # rebuild the query body inline on the tiny frame
    from pyspark.sql import Window as W

    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    hourly = ev.groupBy("user_id", F.date_trunc("HOUR", "ts").alias("_hts")).agg(
        F.sum(cents).alias("_v")
    )
    w = W.partitionBy("user_id").orderBy("_hts")
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for j in range(8):
        weight = 1 << (7 - j)
        lagged = F.lag("_v", j).over(w)
        num = num + F.coalesce(lagged * weight, F.lit(0))
        den = den + F.when(lagged.isNotNull(), F.lit(weight)).otherwise(F.lit(0))
    out = hourly.select(
        "user_id",
        F.date_format("_hts", "yyyy-MM-dd HH:00:00").alias("bucket"),
        (num.cast("double") / (den * 100)).alias("ewma"),
    )
    got = {r["bucket"]: r["ewma"] for r in out.collect()}
    # bucket1: only itself -> 10.0; bucket2: (2000*128 + 1000*64)/((128+64)*100)
    assert got["2024-01-01 00:00:00"] == 10.0
    assert got["2024-01-01 01:00:00"] == (2000 * 128 + 1000 * 64) / (192 * 100)
    assert got["2024-01-01 02:00:00"] == (4000 * 128 + 2000 * 64 + 1000 * 32) / (224 * 100)


def test_setsim_collapse_is_bit_identical(spark):
    """The duplicate-density collapse (default on) must emit EXACTLY the
    un-collapsed pipeline's rows on a corpus where every text has
    verbatim copies — including within-group pairs (J=1 / C=1 valued
    from the group's own set size) and cross-group pairs."""
    base = [
        "the quick brown fox jumps over the lazy dog tonight",
        "the quick brown fox jumps over a lazy dog tonight",
        "completely different text about spark engines here today",
    ]
    rows = [(i * 10 + j, t) for i, t in enumerate(base) for j in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fast = _pairs(prefix_filter_jaccard_pairs(docs, "doc_id", "text", k=3))
    slow = _pairs(
        prefix_filter_jaccard_pairs(docs, "doc_id", "text", k=3, collapse_exact=False)
    )
    brute = _pairs(bruteforce_jaccard_pairs(docs, "doc_id", "text", k=3))
    assert fast == slow == brute
    # within-group pairs present with J=1 semantics (inter == union)
    assert any(a // 10 == b // 10 and i == u for a, b, i, u in fast)

    c_fast = {
        (r["src_id"], r["dst_id"], r["inter"], r["sz_src"])
        for r in containment_pairs(docs, "doc_id", "text", k=3).collect()
    }
    c_slow = {
        (r["src_id"], r["dst_id"], r["inter"], r["sz_src"])
        for r in containment_pairs(
            docs, "doc_id", "text", k=3, collapse_exact=False
        ).collect()
    }
    assert c_fast == c_slow
    # both directions inside a duplicate group
    assert (0, 1, 8, 8) in c_fast and (1, 0, 8, 8) in c_fast
