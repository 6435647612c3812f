"""Unit/property tests for the round-5 third batch (catalog_ext3):
bidirectional nearest-event join, count-min sketch, rolling median,
FK audit, snapshot diff, weighted sampling, seasonal baseline.

Cross-engine value equality is covered by tests/test_catalog_vs_duckdb.py
(all seven are registered catalog queries); this file pins the properties
the oracles cannot express — agreement with an independent brute-force /
pandas recompute, the CMS one-sided-error guarantee on adversarial data,
and the snapshot-diff round-trip (applying the changelog to the old
snapshot reproduces the new one exactly).
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.plans.catalog_ext3 import (
    _WS_DEN,
    _WS_SALT,
    q_a15_countmin,
    q_a16_seasonal_baseline,
    q_j15_nearest_event_join,
    q_j17_snapshot_diff,
    q_p_fk_audit,
    q_p_weighted_sample,
    q_w19_rolling_median,
)
from factory_inspectors_db_etl_spark.sources.tables import load_table


def _events_pdf(spark, sf_dir) -> pd.DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("ts_us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v_cents"),
    )
    return ev.toPandas()


def test_nearest_event_join_matches_bruteforce(spark, sf_dir):
    """Per purchase, scan ALL same-user clicks in Python and pick the
    minimal |gap| with the prefer-preceding tie rule — must equal the
    two-window-pass plan exactly (ids, gaps, and directions)."""
    pdf = _events_pdf(spark, sf_dir)
    got = {
        r["purchase_id"]: (r["click_id"], r["gap_us"], r["direction"])
        for r in q_j15_nearest_event_join(spark, sf_dir).collect()
    }
    purchases = pdf[pdf.event_type == "purchase"]
    clicks = pdf[pdf.event_type == "click"]
    assert len(got) == len(purchases) > 0
    n_after = 0
    for _, p in purchases.iterrows():
        cl = clicks[clicks.user_id == p.user_id]
        if cl.empty:
            assert got[p.event_id] == (None, None, None)
            continue
        # prev = max (ts,id) among clicks ordered before/equal the purchase
        # in the (ts_us, event_id) total order; next = min strictly after
        key = (p.ts_us, p.event_id)
        before = cl[[tuple(x) < key for x in zip(cl.ts_us, cl.event_id)]]
        after = cl[[tuple(x) > key for x in zip(cl.ts_us, cl.event_id)]]
        prev = before.sort_values(["ts_us", "event_id"]).iloc[-1] if len(before) else None
        nxt = after.sort_values(["ts_us", "event_id"]).iloc[0] if len(after) else None
        gp = p.ts_us - prev.ts_us if prev is not None else None
        gn = nxt.ts_us - p.ts_us if nxt is not None else None
        if prev is not None and (nxt is None or gp <= gn):
            want = (prev.event_id, gp, "before")
        else:
            want = (nxt.event_id, gn, "after")
            n_after += 1
        assert got[p.event_id] == want, p.event_id
    assert n_after > 0  # the bidirectional case actually exercises "after"


def test_rolling_median_matches_pandas(spark, sf_dir):
    pdf = _events_pdf(spark, sf_dir).sort_values(["user_id", "ts_us", "event_id"])
    pdf["want"] = (
        pdf.groupby("user_id")["v_cents"]
        .transform(lambda s: s.rolling(7, min_periods=1).median())
        / 100.0
    )
    got = {
        r["event_id"]: (r["rolling_median"], r["n_in_frame"])
        for r in q_w19_rolling_median(spark, sf_dir).collect()
    }
    assert len(got) == len(pdf)
    for _, row in pdf.iterrows():
        med, n = got[row.event_id]
        assert med == pytest.approx(row.want, abs=0)
        assert n <= 7


def test_countmin_one_sided_error_and_exact_replay(spark, sf_dir):
    rows = q_a15_countmin(spark, sf_dir).collect()
    assert rows
    total = sum(r["true_count"] for r in rows)
    for r in rows:
        assert r["never_undercounts"] is True
        assert r["cms_estimate"] >= r["true_count"]
        # d=4, w=256: the min-over-rows estimate can't exceed truth + N
        # (trivial bound); on this data it should be far tighter
        assert r["overcount"] <= total
    # python replay of the sketch for one user must agree
    pdf = _events_pdf(spark, sf_dir)
    counts = pdf.user_id.value_counts()
    uid = int(counts.index[0])

    def bucket(row: int, u: int) -> int:
        h = int(hashlib.md5(f"cms{row}:{u}".encode()).hexdigest()[:15], 16)
        return h % 256

    cells = {}
    for u, c in counts.items():
        for r in range(4):
            k = (r, bucket(r, int(u)))
            cells[k] = cells.get(k, 0) + int(c)
    want = min(cells[(r, bucket(r, uid))] for r in range(4))
    got = {r["user_id"]: r["cms_estimate"] for r in rows}[uid]
    assert got == want


def test_snapshot_diff_roundtrip(spark, sf_dir):
    """Applying the emitted changelog to the old snapshot must reproduce
    the new snapshot exactly — the defining property of a diff."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    old = {
        r["o_orderkey"]: r["cents"]
        for r in orders.filter(F.col("o_orderkey") % 7 != 3).collect()
    }
    new = {
        r["o_orderkey"]: (r["cents"] + 100 if r["o_orderkey"] % 3 == 0 else r["cents"])
        for r in orders.filter(F.col("o_orderkey") % 5 != 2).collect()
    }
    state = dict(old)
    n_classes = {"insert": 0, "update": 0, "delete": 0}
    for r in q_j17_snapshot_diff(spark, sf_dir).collect():
        k, ct = r["o_orderkey"], r["change_type"]
        n_classes[ct] += 1
        if ct == "delete":
            assert state.pop(k) == round(r["old_price"] * 100)
        else:
            if ct == "update":
                assert k in state
            else:
                assert k not in state
            state[k] = round(r["new_price"] * 100)
    assert state == new
    assert all(v > 0 for v in n_classes.values()), n_classes


def test_weighted_sample_is_the_deterministic_hash_set(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    want = {}
    for r in docs.collect():
        h = int(
            hashlib.md5((_WS_SALT + r["text"]).encode()).hexdigest()[:15], 16
        ) % _WS_DEN
        w = min(r["n_chars"], _WS_DEN)
        if h < w:
            want[r["doc_id"]] = _WS_DEN / w
    got = {
        r["doc_id"]: r["inv_prob"] for r in q_p_weighted_sample(spark, sf_dir).collect()
    }
    assert got == want and got


def test_seasonal_baseline_flag_is_exact(spark, sf_dir):
    rows = q_a16_seasonal_baseline(spark, sf_dir).collect()
    assert rows
    from collections import defaultdict

    sums = defaultdict(lambda: [0, 0])
    for r in rows:
        cell = sums[(r["event_type"], r["hod"])]
        cell[0] += round(r["value_usd"] * 100)
        cell[1] += 1
    n_anom = 0
    for r in rows:
        s, n = sums[(r["event_type"], r["hod"])]
        want = round(r["value_usd"] * 100) * n > 2 * s
        assert r["is_anomaly"] == want
        n_anom += want
    assert 0 < n_anom < len(rows)


def test_fk_audit_reports_intact_schema_and_counts(spark, sf_dir):
    rows = {r["relation"]: r for r in q_p_fk_audit(spark, sf_dir).collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert r["orphan_keys"] == 0 and r["intact"] is True
        assert 0 < r["child_keys"] <= r["child_rows"]
    li = load_table(spark, sf_dir, "lineitem").count()
    assert rows["lineitem.orderkey->orders"]["child_rows"] == li


# ---------------------------------------------------------------------------
# second ext3 batch: TWAP, windowed funnel, mode, impute, bag set-ops
# ---------------------------------------------------------------------------


def test_twap_matches_python_integration(spark, sf_dir):
    from collections import defaultdict

    pdf = _events_pdf(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.date_format(F.date_trunc("DAY", "ts"), "yyyy-MM-dd").alias("day")
    )
    days = {r["event_id"]: r["day"] for r in ev.collect()}
    by_ud = defaultdict(list)
    for _, r in pdf.iterrows():
        by_ud[(r.user_id, days[r.event_id])].append((r.ts_us, r.event_id, r.v_cents))
    from factory_inspectors_db_etl_spark.plans.catalog_ext3 import q_w20_twap

    got = {
        (r["user_id"], r["day"]): (r["n_obs"], r["twap_usd"])
        for r in q_w20_twap(spark, sf_dir).collect()
    }
    assert set(got) == set(by_ud)
    import datetime

    for (uid, day), obs in by_ud.items():
        obs.sort()
        d = datetime.datetime.fromisoformat(day)
        day_end = int(
            (d + datetime.timedelta(days=1) - datetime.datetime(1970, 1, 1)).total_seconds()
        ) * 1_000_000
        num = den = 0
        for i, (ts, _eid, v) in enumerate(obs):
            nxt = obs[i + 1][0] if i + 1 < len(obs) else day_end
            num += v * (nxt - ts)
            den += nxt - ts
        n, twap = got[(uid, day)]
        assert n == len(obs)
        assert twap == num / (den * 100)


def test_funnel_window_matches_bruteforce(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext3 import (
        _CONV_WINDOW_US,
        q_w21_funnel_window,
    )

    pdf = _events_pdf(spark, sf_dir)
    clicks = pdf[pdf.event_type == "click"]
    purchases = pdf[pdf.event_type == "purchase"]
    got = {
        r["click_id"]: (r["converted"], r["purchase_id"], r["delay_us"])
        for r in q_w21_funnel_window(spark, sf_dir).collect()
    }
    assert len(got) == len(clicks)
    n_conv = 0
    for _, c in clicks.iterrows():
        key = (c.ts_us, c.event_id)
        up = purchases[purchases.user_id == c.user_id]
        after = up[
            [tuple(x) > key for x in zip(up.ts_us, up.event_id)]
        ].sort_values(["ts_us", "event_id"])
        if len(after) and after.iloc[0].ts_us - c.ts_us <= _CONV_WINDOW_US:
            p = after.iloc[0]
            assert got[c.event_id] == (True, p.event_id, p.ts_us - c.ts_us)
            n_conv += 1
        else:
            assert got[c.event_id] == (False, None, None)
    assert 0 < n_conv < len(clicks)


def test_mode_and_impute_match_pandas(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext3 import (
        q_a17_mode,
        q_p_impute,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", F.col("l_quantity").cast("long").alias("q"))
        .toPandas()
    )
    for r in q_a17_mode(spark, sf_dir).collect():
        grp = li[(li.l_returnflag == r["l_returnflag"]) & (li.l_linestatus == r["l_linestatus"])]
        counts = grp.q.value_counts()
        best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert (r["mode_qty"], r["n_mode"]) == best

    out = q_p_impute(spark, sf_dir).toPandas()
    assert len(out) == len(li)
    missing = out[out.is_missing]
    assert 0 < len(missing) < len(out)
    # every imputed value is its group's observed median; observed rows intact
    obs = out[~out.is_missing]
    for (rf, ls), grp in missing.groupby(["l_returnflag", "l_linestatus"]):
        med = obs[(obs.l_returnflag == rf) & (obs.l_linestatus == ls)].qty_filled.median()
        assert set(grp.qty_filled) == {med}


def test_bag_setops_match_counter_arithmetic(spark, sf_dir):
    from collections import Counter

    from factory_inspectors_db_etl_spark.plans.catalog_ext3 import (
        _custkey_bags,
        q_e2b_except_all,
        q_e3b_intersect_all,
    )

    a, b = _custkey_bags(spark, sf_dir)
    ca = Counter(r["o_custkey"] for r in a.collect())
    cb = Counter(r["o_custkey"] for r in b.collect())
    got_e = Counter(r["o_custkey"] for r in q_e2b_except_all(spark, sf_dir).collect())
    got_i = Counter(r["o_custkey"] for r in q_e3b_intersect_all(spark, sf_dir).collect())
    want_e = Counter({k: ca[k] - cb.get(k, 0) for k in ca if ca[k] > cb.get(k, 0)})
    want_i = Counter({k: min(ca[k], cb[k]) for k in ca if k in cb})
    assert got_e == want_e and got_i == want_i
    # the bag semantics genuinely differ from the set semantics here
    assert any(v > 1 for v in got_i.values())


# ---------------------------------------------------------------------------
# third ext3 batch: gini, transitions, diversified top-k, hierarchy rollup
# ---------------------------------------------------------------------------


def test_gini_matches_direct_formula_and_bounds(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext3 import q_a18_gini

    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("c"),
        )
        .toPandas()
    )
    got = {r["o_orderpriority"]: (r["n"], r["gini"]) for r in q_a18_gini(spark, sf_dir).collect()}
    assert set(got) == set(o.o_orderpriority.unique())
    for prio, grp in o.groupby("o_orderpriority"):
        xs = sorted(grp.c)
        n, sx = len(xs), sum(xs)
        six = sum((i + 1) * x for i, x in enumerate(xs))
        want = (2 * six - (n + 1) * sx) / (n * sx)
        gn, gg = got[prio]
        assert gn == n and gg == want
        assert 0 <= gg < 1


def test_transition_matrix_matches_pandas(spark, sf_dir):
    from collections import Counter

    from factory_inspectors_db_etl_spark.plans.catalog_ext3 import (
        q_w22_transition_matrix,
    )

    pdf = _events_pdf(spark, sf_dir).sort_values(["user_id", "ts_us", "event_id"])
    pairs = Counter()
    for _, grp in pdf.groupby("user_id"):
        types = list(grp.event_type)
        for a, b in zip(types, types[1:]):
            pairs[(a, b)] += 1
    rows = q_w22_transition_matrix(spark, sf_dir).collect()
    got = {(r["prev_type"], r["next_type"]): (r["n"], r["prob"]) for r in rows}
    assert set(got) == set(pairs)
    out_totals = Counter()
    for (a, _b), n in pairs.items():
        out_totals[a] += n
    for k, n in pairs.items():
        gn, gp = got[k]
        assert gn == n and gp == n / out_totals[k[0]]
    # probabilities per source sum to 1 exactly as rationals
    for src in out_totals:
        assert sum(n for (a, _b), (n, _p) in got.items() if a == src) == out_totals[src]


def test_diversified_topk_constraints_and_optimality(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext3 import (
        q_o7_diversified_topk,
    )

    rows = q_o7_diversified_topk(spark, sf_dir).collect()
    assert [r["rank"] for r in rows] == list(range(1, 21))
    per_supp = {}
    for r in rows:
        per_supp[r["l_suppkey"]] = per_supp.get(r["l_suppkey"], 0) + 1
        assert r["supp_rank"] <= 3
    assert max(per_supp.values()) <= 3
    # greedy optimality: the result equals the brute-force "walk the
    # global order, take while the supplier cap allows" selection
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_suppkey",
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").alias("c"),
        )
        .toPandas()
        .sort_values(
            ["c", "l_orderkey", "l_linenumber", "l_suppkey"],
            ascending=[False, True, True, True],
        )
    )
    taken, caps = [], {}
    for _, r in li.iterrows():
        if caps.get(r.l_suppkey, 0) < 3:
            caps[r.l_suppkey] = caps.get(r.l_suppkey, 0) + 1
            taken.append((r.l_orderkey, r.l_linenumber, r.l_suppkey))
            if len(taken) == 20:
                break
    got = [(r["l_orderkey"], r["l_linenumber"], r["l_suppkey"]) for r in rows]
    assert got == taken


def test_hierarchy_rollup_matches_python_walk(spark, sf_dir):
    from collections import defaultdict

    from factory_inspectors_db_etl_spark.plans.catalog_ext3 import (
        q_h1_hierarchy_rollup,
    )

    pdf = _events_pdf(spark, sf_dir)
    per_user = pdf.groupby("user_id").agg(n=("event_id", "count"), v=("v_cents", "sum"))
    want = defaultdict(lambda: [0, 0, 0])
    for uid, row in per_user.iterrows():
        seen = set()
        node = int(uid)
        while True:
            if node not in seen:
                seen.add(node)
                want[node][0] += int(row.n)
                want[node][1] += 1
                want[node][2] += int(row.v)
            if node == 0:
                break
            node //= 10
    got = {
        r["node"]: (r["subtree_events"], r["subtree_leaves"], r["subtree_value_usd"])
        for r in q_h1_hierarchy_rollup(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for node, (n, leaves, v) in want.items():
        assert got[node] == (n, leaves, v / 100)


def test_streaks_match_bruteforce(spark, sf_dir):
    """Longest consecutive-day streak per user recomputed in Python from
    the raw day sets — must equal the rank-difference plan exactly,
    including total active days and island count."""
    from factory_inspectors_db_etl_spark.plans.catalog_ext3 import q_w25_streaks

    days = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .toPandas()
    )
    got = {
        r["user_id"]: (r["longest_streak"], r["active_days"], r["n_streaks"])
        for r in q_w25_streaks(spark, sf_dir).collect()
    }
    assert len(got) == days.user_id.nunique() > 0
    for uid, grp in days.groupby("user_id"):
        ds = sorted(grp.d)
        runs = []
        cur = 1
        for a, b in zip(ds, ds[1:]):
            if (b - a).days == 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        assert got[uid] == (max(runs), len(ds), len(runs)), uid


def test_benford_profile_exact(spark, sf_dir):
    """First-digit counts recomputed in pandas from the cent values;
    shares must sum to 1 per group and every (group, digit) count must
    agree exactly."""
    from factory_inspectors_db_etl_spark.plans.catalog_ext3 import q_p_benford

    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .toPandas()
    )
    o = o[o.cents > 0]
    o["digit"] = o.cents.astype(str).str[0].astype(int)
    want = o.groupby(["o_orderpriority", "digit"]).size()
    rows = q_p_benford(spark, sf_dir).collect()
    assert len(rows) == len(want)
    share_sum: dict[str, float] = {}
    for r in rows:
        assert want[(r["o_orderpriority"], r["digit"])] == r["cnt"]
        share_sum[r["o_orderpriority"]] = share_sum.get(r["o_orderpriority"], 0.0) + r["share"]
    for g, s in share_sum.items():
        assert abs(s - 1.0) < 1e-9, (g, s)


def test_kanon_classes_exact(spark, sf_dir):
    """Every (priority, status, year) class size recomputed in pandas;
    the suppress flag must be exactly class_size < 5."""
    from factory_inspectors_db_etl_spark.plans.catalog_ext3 import _KANON_K, q_p_kanon

    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_orderstatus", F.year("o_orderdate").alias("y"))
        .toPandas()
    )
    want = o.groupby(["o_orderpriority", "o_orderstatus", "y"]).size()
    rows = q_p_kanon(spark, sf_dir).collect()
    assert len(rows) == len(want)
    for r in rows:
        n = want[(r["o_orderpriority"], r["o_orderstatus"], r["order_year"])]
        assert r["class_size"] == n
        assert r["suppress"] == (n < _KANON_K)


def test_period_over_period_matches_pandas(spark, sf_dir):
    """Month-over-month deltas recomputed via a pandas groupby+shift on
    the integer-cent series; first month of each nation must be null."""
    from factory_inspectors_db_etl_spark.plans.catalog_ext3 import (
        q_w26_period_over_period,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    pdf = o.join(c, o.o_custkey == c.c_custkey).toPandas()
    series = (
        pdf.groupby(["c_nationkey", "month"]).cents.sum().rename("rev").reset_index()
    ).sort_values(["c_nationkey", "month"])
    series["prev"] = series.groupby("c_nationkey").rev.shift(1)
    want = {
        (r.c_nationkey, r.month): (r.rev, r.prev) for r in series.itertuples()
    }
    rows = q_w26_period_over_period(spark, sf_dir).collect()
    assert len(rows) == len(want)
    for r in rows:
        rev, prev = want[(r["c_nationkey"], r["month"])]
        assert r["revenue_usd"] == rev / 100
        if pd.isna(prev):
            assert r["delta_usd"] is None and r["pct_change"] is None
        else:
            assert r["delta_usd"] == (rev - prev) / 100
            assert r["pct_change"] == (rev - prev) / prev


def test_dau_wau_matches_bruteforce(spark, sf_dir):
    """WAU recomputed per report day by brute-force set union over the
    trailing 7 calendar days; DAU by direct per-day set size."""
    import datetime as dt

    from factory_inspectors_db_etl_spark.plans.catalog_ext3 import q_w27_dau_wau

    ud = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .toPandas()
    )
    by_day: dict = {}
    for r in ud.itertuples():
        by_day.setdefault(r.d, set()).add(r.user_id)
    lo, hi = min(by_day), max(by_day)
    rows = q_w27_dau_wau(spark, sf_dir).collect()
    assert {r["day"] for r in rows} == {
        (lo + dt.timedelta(days=i)).isoformat() for i in range((hi - lo).days + 1)
    }
    for r in rows:
        day = dt.date.fromisoformat(r["day"])
        window = set()
        for i in range(7):
            window |= by_day.get(day - dt.timedelta(days=i), set())
        assert r["wau_7d"] == len(window), r["day"]
        assert r["dau"] == len(by_day.get(day, set())), r["day"]


def test_khop_bfs_matches_bruteforce(spark, sf_dir):
    """Hop distances recomputed by a Python BFS over the co-purchase
    adjacency built in pandas — every settled node and hop count must
    agree, and no unreached node may appear."""
    from collections import deque

    from factory_inspectors_db_etl_spark.plans.catalog_graph import (
        _BFS_HOPS,
        _BFS_SEED_MOD,
        q_g4_khop_bfs,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").toPandas()
    adj: dict = {}
    for _, grp in li.groupby("l_orderkey"):
        parts = sorted(set(grp.l_partkey))
        for p in parts:
            adj.setdefault(p, set()).update(q for q in parts if q != p)
    dist = {n: 0 for n in adj if n % _BFS_SEED_MOD == 0}
    queue = deque(dist)
    while queue:
        n = queue.popleft()
        if dist[n] >= _BFS_HOPS:
            continue
        for m in adj.get(n, ()):
            if m not in dist:
                dist[m] = dist[n] + 1
                queue.append(m)
    got = {r["part_id"]: r["hops"] for r in q_g4_khop_bfs(spark, sf_dir).collect()}
    assert got == dist


def test_wau_sketch_contract(spark, sf_dir):
    """The sketch variant must report the SAME exact WAU as w27 per day
    and every sketch_ok boolean must be TRUE (5% HLL contract)."""
    from factory_inspectors_db_etl_spark.plans.catalog_ext3 import (
        q_w27_dau_wau,
        q_w27b_wau_sketch,
    )

    exact = {r["day"]: r["wau_7d"] for r in q_w27_dau_wau(spark, sf_dir).collect()}
    rows = q_w27b_wau_sketch(spark, sf_dir).collect()
    assert len(rows) == len(exact)
    for r in rows:
        assert r["exact_wau_7d"] == exact[r["day"]], r["day"]
        assert r["sketch_ok"] is True, r["day"]


def test_weighted_median_matches_bruteforce(spark, sf_dir):
    """Weighted median recomputed by expanding each value to its integer
    weight in Python (repeat-and-sort) — the lower weighted median of
    the expanded multiset must equal the cumulative-weight plan."""
    from factory_inspectors_db_etl_spark.plans.catalog_ext3 import (
        q_a21_weighted_median,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("val"),
            F.col("l_quantity").cast("long").alias("w"),
        )
        .toPandas()
    )
    got = {
        r["group_key"]: (r["wmedian_usd"], r["total_weight"])
        for r in q_a21_weighted_median(spark, sf_dir).collect()
    }
    assert len(got) == li.l_returnflag.nunique() > 0
    for g, grp in li.groupby("l_returnflag"):
        pairs = sorted(zip(grp.val, grp.w))
        tot = int(grp.w.sum())
        cum = 0
        for val, w in pairs:
            cum += w
            if 2 * cum >= tot:
                break
        assert got[g] == (val / 100, tot), g


def test_asof_tolerance_nulls_stale_matches(spark, sf_dir):
    """j6c must agree with j6b wherever the matched view is within 1
    hour and be NULL exactly where j6b's match is older (or absent) —
    recomputed from the raw events in Python."""
    from factory_inspectors_db_etl_spark.plans.catalog import (
        q_j6b_asof_join,
        q_j6c_asof_tolerance,
    )

    ev = _events_pdf(spark, sf_dir)
    views = ev[ev.event_type == "view"]
    view_ts = {}
    for r in views.itertuples():
        view_ts.setdefault(r.user_id, []).append(r.ts_us)
    for v in view_ts.values():
        v.sort()
    purchases = {r.event_id: (r.user_id, r.ts_us) for r in ev[ev.event_type == "purchase"].itertuples()}
    import bisect

    base = {r["event_id"]: r["view_value"] for r in q_j6b_asof_join(spark, sf_dir).collect()}
    tol = {r["event_id"]: r["view_value"] for r in q_j6c_asof_tolerance(spark, sf_dir).collect()}
    assert base.keys() == tol.keys() == purchases.keys()
    hour_us = 3_600_000_000
    n_stale = 0
    for eid, (uid, ts) in purchases.items():
        vs = view_ts.get(uid, [])
        i = bisect.bisect_right(vs, ts)
        if i == 0:
            assert base[eid] is None and tol[eid] is None
        elif ts - vs[i - 1] <= hour_us:
            assert tol[eid] == base[eid] is not None
        else:
            assert base[eid] is not None and tol[eid] is None
            n_stale += 1
    assert n_stale > 0, "fixture produced no stale matches; tolerance arm unexercised"
