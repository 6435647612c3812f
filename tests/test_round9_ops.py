"""Round-9 operator properties: independent brute-force twins for the
six catalog_ext7 queries (the DuckDB oracles are the cross-engine gate;
these pin the ALGORITHMS against from-scratch Python recomputation and
the handwritten edge cases the synthetic tables cannot hit).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.plans.catalog_ext7 import (
    _KMV_K,
    q_a26_entropy,
    q_a27_bottomk_distinct,
    q_j24_interp_join,
    q_t_readability,
    q_w35_changepoint,
)
from factory_inspectors_db_etl_spark.plans.catalog_graph import _G9_MAX_HUB_DEG, q_g9_link_prediction
from factory_inspectors_db_etl_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# W35: CUSUM change-point
# ---------------------------------------------------------------------------


def test_w35_changepoint_matches_bruteforce(spark, sf_dir):
    """The integer-scaled argmax must equal a from-scratch float CUSUM
    on the same daily series (floats are safe in the REFERENCE because
    the argmax margin is >> ulp on this data)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("d"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    daily = (
        ev.groupBy("event_type", "d")
        .agg(F.sum("cents").alias("y"))
        .orderBy("event_type", "d")
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["d"], r["y"]))
    got = {r["event_type"]: r for r in q_w35_changepoint(spark, sf_dir).collect()}
    assert set(got) == set(series)
    for et, pts in series.items():
        n = len(pts)
        total = sum(y for _, y in pts)
        best_i, best_dev = None, -1
        c = 0
        for i, (_, y) in enumerate(pts, start=1):
            c += y
            dev = abs(n * c - i * total)
            if dev > best_dev:
                best_i, best_dev = i, dev
        r = got[et]
        assert r["n_days"] == n
        assert r["cp_day"] == pts[best_i - 1][0].strftime("%Y-%m-%d")
        assert abs(r["cusum_rel"] - best_dev / (n * total)) < 1e-12


def test_w35_single_day_series_degenerates_to_null_right_mean(spark, tmp_path):
    """One day => the change-point is that day, dev=0, right mean NULL
    (the NULLIF guard, r8 ADVICE division rule)."""
    sf = str(tmp_path)
    pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime(["2024-01-01 03:00:00", "2024-01-01 11:00:00"]),
            "user_id": [1, 2],
            "event_type": ["click", "click"],
            "value": [1.5, 2.5],
            "props": ["{}", "{}"],
        }
    ).to_parquet(f"{sf}/events.parquet")
    rows = q_w35_changepoint(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_days"] == 1 and r["cp_day"] == "2024-01-01"
    assert r["cusum_rel"] == 0.0
    assert r["left_mean"] == 4.0  # (150 + 250) cents / (1 day * 100)
    assert r["right_mean"] is None


# ---------------------------------------------------------------------------
# J24: interpolation join
# ---------------------------------------------------------------------------


def test_j24_interp_brackets_and_exact_knots(spark, sf_dir):
    """Every in-range probe must interpolate BETWEEN its bracket values
    (min(y0,y1) <= interp <= max(y0,y1)); a probe exactly on a knot day
    must return exactly that day's reference value."""
    out = q_j24_interp_join(spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem").select(
        F.to_date("l_shipdate").alias("d"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    ref = {
        r["d"].strftime("%Y-%m-%d"): r["y"]
        for r in li.groupBy("d").agg(F.sum("cents").alias("y")).collect()
    }
    n_oob = 0
    for r in out:
        if r["oob"]:
            n_oob += 1
            assert r["interp_cents"] is None and r["y0"] is None
            continue
        lo, hi = min(r["y0"], r["y1"]), max(r["y0"], r["y1"])
        assert lo <= r["interp_cents"] <= hi
        if r["day"] in ref:
            assert r["interp_cents"] == float(ref[r["day"]])
    # the synthetic ranges guarantee both paths are exercised
    assert n_oob < len(out)


def test_j24_linear_midpoint_hand_example(spark, tmp_path):
    """Hand-built curve: knots (d0, 100), (d4, 500) — a probe at d1 must
    get 200 (exact thirds avoided: 4-day gap, 1 day in => 100 + 400/4)."""
    sf = str(tmp_path)
    pd.DataFrame(
        {
            "l_orderkey": [1, 2],
            "l_partkey": [1, 1],
            "l_suppkey": [1, 1],
            "l_linenumber": [1, 1],
            "l_quantity": [1.0, 1.0],
            "l_extendedprice": [1.00, 5.00],
            "l_discount": [0.0, 0.0],
            "l_tax": [0.0, 0.0],
            "l_returnflag": ["N", "N"],
            "l_linestatus": ["O", "O"],
            "l_shipdate": pd.to_datetime(["2020-01-01", "2020-01-05"]),
        }
    ).to_parquet(f"{sf}/lineitem.parquet", coerce_timestamps="us")
    pd.DataFrame(
        {
            "o_orderkey": [10, 11, 12],
            "o_custkey": [1, 1, 1],
            "o_orderstatus": ["O", "O", "O"],
            "o_totalprice": [1.0, 1.0, 1.0],
            "o_orderdate": pd.to_datetime(["2020-01-02", "2020-01-07", "2019-12-30"]),
            "o_orderpriority": ["1-URGENT"] * 3,
        }
    ).to_parquet(f"{sf}/orders.parquet", coerce_timestamps="us")
    got = {r["o_orderkey"]: r for r in q_j24_interp_join(spark, sf).collect()}
    assert got[10]["interp_cents"] == 200.0  # 100 + (500-100) * 1/4
    assert got[11]["interp_cents"] == 500.0  # past the end: clamped to last knot
    assert got[11]["oob"] is False
    assert got[12]["oob"] is True and got[12]["interp_cents"] is None


# ---------------------------------------------------------------------------
# A26: entropy profile
# ---------------------------------------------------------------------------


def test_a26_entropy_matches_numpy_and_bounds(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("h")
    )
    counts: dict[str, dict[int, int]] = {}
    for r in ev.groupBy("event_type", "h").count().collect():
        counts.setdefault(r["event_type"], {})[r["h"]] = r["count"]
    got = {r["event_type"]: r for r in q_a26_entropy(spark, sf_dir).collect()}
    assert set(got) == set(counts)
    for et, hist in counts.items():
        n = sum(hist.values())
        ref_h = -sum(c / n * math.log(c / n) for c in hist.values())
        ref_gini = 1.0 - sum((c / n) ** 2 for c in hist.values())
        r = got[et]
        assert r["n"] == n and r["n_bins"] == len(hist)
        # fixed-point ln snapping costs <= bins/1e5 absolute
        assert abs(r["entropy"] - ref_h) < 1e-3
        assert abs(r["gini_simpson"] - ref_gini) < 1e-12
        assert 0.0 <= r["entropy"] <= math.log(24) + 1e-3
        assert r["entropy_norm"] <= 1.0 + 1e-6


def test_a26_single_bin_group_entropy_zero_norm_null(spark, tmp_path):
    sf = str(tmp_path)
    pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime(["2024-01-01 05:10:00", "2024-01-02 05:50:00"]),
            "user_id": [1, 2],
            "event_type": ["only", "only"],
            "value": [1.0, 1.0],
            "props": ["{}", "{}"],
        }
    ).to_parquet(f"{sf}/events.parquet")
    r = q_a26_entropy(spark, sf).collect()[0]
    assert r["n_bins"] == 1
    assert r["entropy"] == 0.0
    assert r["entropy_norm"] is None  # ln(1) = 0 divisor -> NULLIF
    assert r["gini_simpson"] == 0.0


# ---------------------------------------------------------------------------
# A27: bottom-k KMV sketch
# ---------------------------------------------------------------------------


def test_a27_estimate_within_bound_and_fallback(spark, sf_dir):
    rows = q_a27_bottomk_distinct(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["kth_hash"] is None:
            # fewer than k distinct keys: the sketch is exact by fallback
            assert r["est_distinct"] == float(r["n_exact"])
            assert r["sketch_ok"] is True
        else:
            assert r["n_exact"] >= _KMV_K
            assert r["est_distinct"] > 0
            # KMV rse ~ 1/sqrt(k-2) ~ 6.3%; the query pins 15%
            assert r["sketch_ok"] is True


def test_a27_kmv_estimator_formula_bruteforce(spark, sf_dir):
    """Recompute (k-1)/(h_k/2^60) from the raw hashes in Python."""
    from factory_inspectors_db_etl_spark.operators.dedup import portable_hash60

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        portable_hash60(
            F.concat(F.lit("kmv:"), F.col("o_custkey").cast("string"))
        ).alias("h"),
    )
    hashes: dict[str, set[int]] = {}
    for r in o.distinct().collect():
        hashes.setdefault(r["o_orderpriority"], set()).add(r["h"])
    got = {r["o_orderpriority"]: r for r in q_a27_bottomk_distinct(spark, sf_dir).collect()}
    for prio, hs in hashes.items():
        srt = sorted(hs)
        r = got[prio]
        if len(srt) >= _KMV_K:
            kth = srt[_KMV_K - 1]
            assert r["kth_hash"] == kth
            assert r["est_distinct"] == (_KMV_K - 1) / (kth / (1 << 60))
        else:
            assert r["kth_hash"] is None


# ---------------------------------------------------------------------------
# T-READ: Flesch readability
# ---------------------------------------------------------------------------


def test_t_readability_hand_counts(spark, tmp_path):
    sf = str(tmp_path)
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "The cat sat. The dog ran!",  # 6 words, 2 sentences
                None,  # null -> empty band
                "word",  # no sentence punctuation -> NULL flesch
            ],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [25, 0, 4],
        }
    ).to_parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: r for r in q_t_readability(spark, sf).collect()}
    r1 = got[1]
    assert (r1["n_words"], r1["n_sentences"]) == (6, 2)
    # vowel groups: e,a,a,e,o,a  -> 6 syllables
    assert r1["n_syllables"] == 6
    want = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
    assert abs(r1["flesch"] - want) < 1e-12
    assert r1["band"] == "very_easy"
    assert got[2]["band"] == "empty" and got[2]["flesch"] is None
    assert got[3]["band"] == "no_sentences" and got[3]["flesch"] is None


def test_t_readability_full_table_bands_consistent(spark, sf_dir):
    out = q_t_readability(spark, sf_dir).collect()
    assert len(out) == load_table(spark, sf_dir, "documents").count()
    for r in out:
        if r["flesch"] is None:
            assert r["band"] in ("empty", "no_sentences")
        elif r["flesch"] >= 90:
            assert r["band"] == "very_easy"
        elif r["flesch"] >= 60:
            assert r["band"] == "standard"


# ---------------------------------------------------------------------------
# G9: link prediction
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def g9_graph(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    li = li.join(urgent, li["l_orderkey"] == urgent["o_orderkey"]).select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    edges = {
        (r["u"], r["v"])
        for r in a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .collect()
    }
    return edges


def test_g9_scores_match_bruteforce(spark, sf_dir, g9_graph):
    """Recompute CN and Adamic-Adar from the raw edge set in Python and
    check every returned pair (scores AND non-edge-ness)."""
    edges = g9_graph
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    deg = {w: len(nb) for w, nb in adj.items()}
    out = q_g9_link_prediction(spark, sf_dir).collect()
    assert out
    for r in out:
        u, v = r["u"], r["v"]
        assert (u, v) not in edges, "returned pair is an existing edge"
        shared = [
            w
            for w in adj.get(u, set()) & adj.get(v, set())
            if 2 <= deg[w] <= _G9_MAX_HUB_DEG
        ]
        assert r["cn"] == len(shared)
        aa_scaled = sum(round(1_000_000.0 / math.log(deg[w])) for w in shared)
        assert abs(r["adamic_adar"] - aa_scaled / 1e6) < 1e-12


def test_g9_topk_is_the_true_maximum(spark, sf_dir, g9_graph):
    """The 50 returned pairs must dominate every non-returned candidate
    under the (cn, aa, u, v) order — i.e. the limit is a true top-k,
    not an arbitrary prefix."""
    edges = g9_graph
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    deg = {w: len(nb) for w, nb in adj.items()}
    scores: dict[tuple[int, int], list] = {}
    for w, nb in adj.items():
        if not (2 <= deg[w] <= _G9_MAX_HUB_DEG):
            continue
        aa = round(1_000_000.0 / math.log(deg[w]))
        ns = sorted(nb)
        for i, u in enumerate(ns):
            for v in ns[i + 1 :]:
                if (u, v) in edges:
                    continue
                s = scores.setdefault((u, v), [0, 0])
                s[0] += 1
                s[1] += aa
    ranked = sorted(
        ((cn, aa, u, v) for (u, v), (cn, aa) in scores.items()),
        key=lambda t: (-t[0], -t[1], t[2], t[3]),
    )
    want = {(u, v) for cn, aa, u, v in ranked[:50]}
    got = {(r["u"], r["v"]) for r in q_g9_link_prediction(spark, sf_dir).collect()}
    assert got == want
