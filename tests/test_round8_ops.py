"""Round-8 operator tests: brute-force / property twins for the four
new catalog_ext6 queries — w34 life-table survival, p_ks two-sample KS
drift, t_zipf log-log fit, g7 degree assortativity.  (Oracle parity at
sf0.001 is covered for all four by test_catalog_vs_duckdb.py; these pin
the MATH against independent reference implementations and synthetic
edge cases.)"""

from __future__ import annotations

import datetime as dt
from fractions import Fraction

import numpy as np
import pandas as pd

from factory_inspectors_db_etl_spark.plans.catalog_ext6 import (
    _W34_CHURN_GAP_DAYS,
    q_p_ks_drift,
    q_t_zipf_fit,
    q_w34_survival_curve,
)
from factory_inspectors_db_etl_spark.plans.catalog_graph import q_g7_degree_assortativity
from factory_inspectors_db_etl_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# W34: survival curve
# ---------------------------------------------------------------------------


def _brute_life_table(events: pd.DataFrame) -> pd.DataFrame:
    d = events.assign(day=events["ts"].dt.normalize())
    obs_end = d["day"].max()
    g = d.groupby("user_id")["day"].agg(["min", "max"]).reset_index()
    churned = (obs_end - g["max"]).dt.days > _W34_CHURN_GAP_DAYS
    dur = np.where(
        churned, (g["max"] - g["min"]).dt.days, (obs_end - g["min"]).dt.days
    )
    lt = (
        pd.DataFrame({"day": dur, "churned": churned})
        .groupby("day")["churned"]
        .agg(n_churned="sum", total="count")
        .reset_index()
        .sort_values("day")
    )
    lt["n_censored"] = lt["total"] - lt["n_churned"]
    return lt


def test_w34_life_table_counts_match_pandas_brute_force(spark, sf_dir):
    got = q_w34_survival_curve(spark, sf_dir).toPandas().sort_values("day")
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts").toPandas()
    want = _brute_life_table(ev)
    assert list(got["day"]) == list(want["day"])
    assert list(got["n_churned"]) == list(want["n_churned"])
    assert list(got["n_censored"]) == list(want["n_censored"])
    # at-risk recurrence: n_{i+1} = n_i - d_i - c_i, starting at user count
    n = ev["user_id"].nunique()
    for _, r in got.iterrows():
        assert r["n_at_risk"] == n
        n -= r["n_churned"] + r["n_censored"]
    assert n == 0


def test_w34_ppm_survival_tracks_exact_km_product_within_step_rounding(
    spark, sf_dir
):
    got = q_w34_survival_curve(spark, sf_dir).toPandas().sort_values("day")
    s_exact = Fraction(1)
    prev_ppm = 1_000_000
    for i, (_, r) in enumerate(got.iterrows(), start=1):
        s_exact *= Fraction(
            int(r["n_at_risk"] - r["n_churned"]), int(r["n_at_risk"])
        )
        # each fold step rounds to the nearest ppm, so drift is bounded
        # by half a ppm per step (relative, but survival <= 1)
        assert abs(r["survival_ppm"] / 1e6 - float(s_exact)) <= i * 5e-7 + 1e-12
        assert r["survival_ppm"] <= prev_ppm  # monotone non-increasing
        prev_ppm = r["survival_ppm"]
        assert r["hazard"] == r["n_churned"] / r["n_at_risk"]


# ---------------------------------------------------------------------------
# P-KS: two-sample KS drift
# ---------------------------------------------------------------------------


def _events_dir(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_ks_stat_matches_numpy_brute_force(spark, sf_dir):
    got = {
        r["event_type"]: r
        for r in q_p_ks_drift(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value").toPandas()
    ev["day"] = ev["ts"].dt.normalize()
    d0, d1 = ev["day"].min(), ev["day"].max()
    ev["cents"] = (ev["value"].round(2) * 100).round().astype("int64")
    ev["first"] = (ev["day"] - d0).dt.days * 2 < (d1 - d0).days
    for etype, grp in ev.groupby("event_type"):
        a = np.sort(grp.loc[grp["first"], "cents"].to_numpy())
        b = np.sort(grp.loc[~grp["first"], "cents"].to_numpy())
        grid = np.union1d(a, b)
        f1 = np.searchsorted(a, grid, side="right") / len(a)
        f2 = np.searchsorted(b, grid, side="right") / len(b)
        d_brute = np.max(np.abs(f1 - f2))
        r = got[etype]
        assert r["n_first"] == len(a) and r["n_second"] == len(b)
        assert abs(r["ks_stat"] - d_brute) < 1e-12


def test_ks_identical_halves_give_zero_and_no_drift(spark, tmp_path):
    base = dt.datetime(2024, 1, 1)
    rows = []
    # same 50 values replayed in each half, two types
    for half, off in ((0, 0), (1, 10)):
        for i in range(50):
            rows.append(
                (
                    half * 100 + i,
                    base + dt.timedelta(days=off, hours=i % 24),
                    i % 7,
                    "alpha" if i % 2 == 0 else "beta",
                    float(i % 11) + 0.25,
                    None,
                )
            )
    # pin the span so day 0..19 splits at day 10 exactly
    rows.append((999, base + dt.timedelta(days=19, hours=23), 1, "alpha", 3.25, None))
    rows.append((998, base, 1, "alpha", 3.25, None))
    out = {r["event_type"]: r for r in q_p_ks_drift(spark, _events_dir(spark, tmp_path, rows)).collect()}
    assert out["beta"]["ks_stat"] == 0.0
    assert not out["beta"]["drift"]
    assert not out["alpha"]["drift"]  # one extra pair of equal values each side


def test_ks_shifted_second_half_flags_drift(spark, tmp_path):
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(400):
        rows.append((i, base + dt.timedelta(hours=i % 200), i % 9, "gamma", 1.0, None))
    for i in range(400):
        rows.append(
            (1000 + i, base + dt.timedelta(days=15, hours=i % 200), i % 9, "gamma", 900.0, None)
        )
    out = q_p_ks_drift(spark, _events_dir(spark, tmp_path, rows)).collect()
    (r,) = out
    assert r["ks_stat"] == 1.0  # disjoint supports: maximal drift
    assert r["drift"]


# ---------------------------------------------------------------------------
# T-ZIPF: log-log fit
# ---------------------------------------------------------------------------


def test_zipf_slope_matches_numpy_polyfit_within_quantization(spark, sf_dir):
    got = q_t_zipf_fit(spark, sf_dir).toPandas().set_index("shard")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
    docs["shard"] = docs["doc_id"] % 4
    for shard, grp in docs.groupby("shard"):
        toks = pd.Series(
            [t for s in grp["text"] for t in s.lower().strip().split()]
        )
        # ties at the rank-200 cutoff share the same count, so the
        # (rank, count) multiset — and hence the fit — is tie-invariant
        freq = toks.value_counts()
        c = np.sort(freq.to_numpy())[::-1][:200].astype(float)
        rank = np.arange(1, len(c) + 1, dtype=float)
        slope, _ = np.polyfit(np.log(rank), np.log(c), 1)
        row = got.loc[shard]
        assert row["n_points"] == len(c)
        # fixed-point snap at 1e-5 on each coordinate: slope agreement
        # is far tighter than the quantization worst case
        assert abs(row["slope"] - slope) < 1e-3
        assert row["slope"] < 0  # frequencies decay with rank
        assert 0.0 <= row["r2"] <= 1.0


# ---------------------------------------------------------------------------
# G7: degree assortativity
# ---------------------------------------------------------------------------


def test_g7_matches_numpy_pearson_over_edge_stubs(spark, sf_dir):
    (row,) = q_g7_degree_assortativity(spark, sf_dir).collect()
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .toPandas()
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter("o_orderpriority = '1-URGENT'")
        .select("o_orderkey")
        .toPandas()["o_orderkey"]
    )
    li = li[li["l_orderkey"].isin(set(urgent))]
    m = li.merge(li, on="l_orderkey")
    e = m[m["l_partkey_x"] < m["l_partkey_y"]][["l_partkey_x", "l_partkey_y"]]
    e = e.drop_duplicates()
    deg = pd.concat([e["l_partkey_x"], e["l_partkey_y"]]).value_counts()
    x = np.concatenate([deg[e["l_partkey_x"]].to_numpy(), deg[e["l_partkey_y"]].to_numpy()])
    y = np.concatenate([deg[e["l_partkey_y"]].to_numpy(), deg[e["l_partkey_x"]].to_numpy()])
    assert row["n_edges"] == len(e)
    assert row["n_nodes"] == len(deg)
    assert abs(row["mean_degree"] - 2 * len(e) / len(deg)) < 1e-9
    r_brute = np.corrcoef(x, y)[0, 1]
    assert abs(row["assortativity"] - r_brute) < 1e-9
    assert -1.0 - 1e-9 <= row["assortativity"] <= 1.0 + 1e-9


# ---------------------------------------------------------------------------
# Pure-math property pins for the round-8 cross-engine formulas
# (replicating the exact SQL integer semantics in Python; no Spark)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _life_tables(draw):
    """Random (d_i, c_i) sequences with every step consuming >= 1 user."""
    steps = draw(
        st.lists(
            st.tuples(st.integers(0, 50), st.integers(0, 50)).filter(
                lambda t: t[0] + t[1] > 0
            ),
            min_size=1,
            max_size=120,
        )
    )
    return steps


@given(_life_tables())
@settings(max_examples=300, deadline=None)
def test_ppm_recurrence_tracks_exact_km_product(steps):
    """The integer survival recurrence s' = (2*s*(n-d) + n) DIV (2*n)
    (round-half-up in ppm space) stays within half a ppm per step of the
    exact Kaplan-Meier product, is monotone non-increasing, and never
    leaves [0, 1e6] — for ANY life table, not just the test data's."""
    total = sum(d + c for d, c in steps)
    n, s = total, 1_000_000
    exact = Fraction(1)
    for i, (d, c) in enumerate(steps, start=1):
        assert n >= d + c >= 1
        s = (2 * s * (n - d) + n) // (2 * n)
        exact *= Fraction(n - d, n)
        assert 0 <= s <= 1_000_000
        assert abs(s / 1e6 - float(exact)) <= i * 5e-7 + 1e-12
        n -= d + c
    assert n == 0


@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=60),
    st.lists(st.integers(0, 30), min_size=1, max_size=60),
)
@settings(max_examples=300, deadline=None)
def test_ks_integer_cross_multiplication_is_exact(a, b):
    """max|ca*n2 - cb*n1| / (n1*n2) equals the true two-sample KS
    statistic as an exact rational, for any integer samples."""
    n1, n2 = len(a), len(b)
    grid = sorted(set(a) | set(b))
    ca = cb = 0
    best = 0
    for v in grid:
        ca += sum(1 for x in a if x == v)
        cb += sum(1 for x in b if x == v)
        best = max(best, abs(ca * n2 - cb * n1))
    # exact rational reference: max over grid of |F1 - F2|
    ca = cb = 0
    want = Fraction(0)
    for v in grid:
        ca += sum(1 for x in a if x == v)
        cb += sum(1 for x in b if x == v)
        want = max(want, abs(Fraction(ca, n1) - Fraction(cb, n2)))
    assert Fraction(best, n1 * n2) == want
    # identical samples => zero
    if a == b:
        assert best == 0


# ---------------------------------------------------------------------------
# A25: the review's interpolation-gap scenario must hold under the new
# order-statistic bound
# ---------------------------------------------------------------------------


def test_a25_merged_bound_holds_on_sparse_wide_gap_group(spark, tmp_path):
    """Two events valued $1.00 and $10.00 in one group: the interpolated
    median is $5.50 (mid-gap, unboundedly far from any bucket midpoint —
    the round-8 review's counterexample to the old bound), but the new
    contract bounds the estimate against the rank-selected ORDER
    STATISTIC ($1.00), which always shares the selected bucket:
    |$1.25 - $1.00| = 25 cents = half a width.  merged_est_ok must be
    TRUE — provably, not empirically."""
    from factory_inspectors_db_etl_spark.plans.catalog_ext5 import (
        q_a25_quantile_sketch_rollup,
    )

    base = dt.datetime(2024, 3, 5)
    rows = [
        (1, base, 1, "gap", 1.00, None),
        (2, base + dt.timedelta(days=1), 2, "gap", 10.00, None),
    ]
    (r,) = q_a25_quantile_sketch_rollup(spark, _events_dir(spark, tmp_path, rows)).collect()
    assert r["n_events"] == 2
    assert abs(r["p50_exact"] - 5.50) < 1e-9  # interpolation sits mid-gap...
    assert r["merged_est_ok"]  # ...and the contract still holds


def test_assign_lsh_bits_formula_matches_sql_replay_exactly():
    """The LSH-assign oracle recomputes bits in SQL as
    least(16, greatest(1, ceil(log2(k / 8.0)))); the Python side is
    operators.similarity.assign_lsh_bits.  Pin exact agreement across
    the k range, including every power-of-two boundary (where ceil(log2)
    sits exactly on an integer and an engine ulp would flip it)."""
    import duckdb

    from factory_inspectors_db_etl_spark.operators.similarity import assign_lsh_bits

    ks = sorted(
        set(
            [16, 17, 100, 128, 129, 833, 8333, 524288, 10**7]
            + [2**i * 8 for i in range(1, 22)]          # exact boundaries
            + [2**i * 8 + 1 for i in range(1, 22)]      # just past them
            + [2**i * 8 - 1 for i in range(2, 22)]      # just before them
        )
    )
    con = duckdb.connect()
    for k in ks:
        (got,) = con.sql(
            f"SELECT CAST(least(16, greatest(1, ceil(log2({k} / 8.0)))) AS INTEGER)"
        ).fetchone()
        assert got == assign_lsh_bits(k), f"k={k}: sql {got} != python {assign_lsh_bits(k)}"


# ---------------------------------------------------------------------------
# G8: k-core extraction
# ---------------------------------------------------------------------------


def test_g8_kcore_stops_at_its_observed_fixpoint(spark, sf_dir, monkeypatch):
    """The peel loop ends at the first round that keeps every edge of its
    input, so on the test graph it runs fewer round barriers than its
    ``_KCORE_ROUNDS`` cap."""
    from factory_inspectors_db_etl_spark.plans import catalog_graph

    real = catalog_graph.materialize_counted
    barrier_counts = []

    def recording(df, *args, **kwargs):
        out = real(df, *args, **kwargs)
        barrier_counts.append(out[1])
        return out

    monkeypatch.setattr(catalog_graph, "materialize_counted", recording)
    catalog_graph.q_g8_kcore(spark, sf_dir)
    # the first counted barrier is the edge list, the rest are the peels
    n_edges, *kept_counts = barrier_counts
    assert 0 < len(kept_counts) < catalog_graph._KCORE_ROUNDS
    edges, _ = catalog_graph._copurchase_edges(spark, sf_dir, urgent=True, oriented=True)
    assert edges.count() == n_edges
    counts = [n_edges] + kept_counts
    # every round but the last removes edges; the last keeps them all
    assert all(a > b for a, b in zip(counts[:-2], counts[1:-1]))
    assert counts[-1] == counts[-2]


def test_g8_kcore_matches_python_peeling_to_fixpoint(spark, sf_dir):
    """The fixed-round query must equal the TRUE k-core (peel to
    fixpoint) on the test graphs — the fixed round count (6) was chosen
    above the measured fixpoint (<=4), and peeling is monotone, so any
    difference means the margin eroded or the peel is wrong."""
    from factory_inspectors_db_etl_spark.plans.catalog_graph import (
        _KCORE_K,
        q_g8_kcore,
    )

    got = {r["node"]: r["core_degree"] for r in q_g8_kcore(spark, sf_dir).collect()}

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .toPandas()
    )
    urgent = set(
        load_table(spark, sf_dir, "orders")
        .filter("o_orderpriority = '1-URGENT'")
        .select("o_orderkey")
        .toPandas()["o_orderkey"]
    )
    li = li[li["l_orderkey"].isin(urgent)]
    m = li.merge(li, on="l_orderkey")
    e = (
        m[m["l_partkey_x"] < m["l_partkey_y"]][["l_partkey_x", "l_partkey_y"]]
        .drop_duplicates()
        .itertuples(index=False)
    )
    edges = {(u, v) for u, v in e}
    while True:  # peel to TRUE fixpoint, however many rounds
        deg = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        alive = {n for n, d in deg.items() if d >= _KCORE_K}
        nxt = {(u, v) for u, v in edges if u in alive and v in alive}
        if nxt == edges:
            break
        edges = nxt
    want = {}
    for u, v in edges:
        want[u] = want.get(u, 0) + 1
        want[v] = want.get(v, 0) + 1
    assert got == want
    # k-core invariant: every surviving node has >= k in-core neighbors
    assert all(d >= _KCORE_K for d in got.values()) or not got


def test_g8_kcore_round_margin_holds_at_driver_sf():
    """MARGIN PIN (VERDICT r8 item #5): the fixed 6-round peel equals
    the true k-core only while the data's fixpoint stays below it.  The
    equality test above catches erosion at the default test SF; this
    one measures rounds-to-fixpoint at sf0.01 — the driver's grading
    scale — and requires >= 2 spare rounds, so a data change that
    consumes the margin fails HERE (loudly, with the measured number)
    before it can silently turn the query into a partial peel.  Pure
    duckdb+python: no Spark session needed for the property."""
    import duckdb

    from factory_inspectors_db_etl_spark.plans.catalog_graph import (
        _KCORE_K,
        _KCORE_ROUNDS,
    )

    sf = "/root/testdata/sf0.01"
    edges = set(
        duckdb.sql(
            f"""
            WITH li AS (
              SELECT l.l_orderkey, l.l_partkey
              FROM '{sf}/lineitem.parquet' l
              JOIN '{sf}/orders.parquet' o ON o.o_orderkey = l.l_orderkey
              WHERE o.o_orderpriority = '1-URGENT'
            )
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b USING (l_orderkey)
            WHERE a.l_partkey < b.l_partkey
            """
        ).fetchall()
    )
    rounds = 0
    while True:
        deg: dict[int, int] = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        alive = {n for n, d in deg.items() if d >= _KCORE_K}
        nxt = {(u, v) for u, v in edges if u in alive and v in alive}
        if nxt == edges:
            break
        edges = nxt
        rounds += 1
    assert rounds <= _KCORE_ROUNDS - 2, (
        f"k-core fixpoint now takes {rounds} rounds at sf0.01 but the "
        f"fixed-round query peels only {_KCORE_ROUNDS} — the safety "
        "margin is below 2 rounds; raise _KCORE_ROUNDS (and regenerate "
        "the unrolled oracle) before the partial peel ships"
    )


def test_g7_regular_graph_pins_null_assortativity(spark, tmp_path):
    """Degenerate-division guard (r8 ADVICE): on a REGULAR graph all
    stub degrees are equal, den = n*sxx - sx² = 0, and the correlation
    is undefined — both engines must pin NULL, not NaN/inf.  Graph: a
    4-cycle built from 4 two-part urgent orders (every degree = 2)."""
    import pandas as pd

    from factory_inspectors_db_etl_spark.plans.catalog_graph import (
        q_g7_degree_assortativity,
    )

    sf = str(tmp_path)
    # orders 1..4, each with two parts -> edges (1,2),(2,3),(3,4),(1,4)
    pairs = [(1, 2), (2, 3), (3, 4), (1, 4)]
    pd.DataFrame(
        {
            "l_orderkey": [k for k in range(1, 5) for _ in range(2)],
            "l_partkey": [p for pr in pairs for p in pr],
            "l_suppkey": [1] * 8,
            "l_linenumber": list(range(1, 9)),
            "l_quantity": [1.0] * 8,
            "l_extendedprice": [1.0] * 8,
            "l_discount": [0.0] * 8,
            "l_tax": [0.0] * 8,
            "l_returnflag": ["N"] * 8,
            "l_linestatus": ["O"] * 8,
            "l_shipdate": pd.to_datetime(["2020-01-01"] * 8),
        }
    ).to_parquet(f"{sf}/lineitem.parquet", coerce_timestamps="us")
    pd.DataFrame(
        {
            "o_orderkey": [1, 2, 3, 4],
            "o_custkey": [1] * 4,
            "o_orderstatus": ["O"] * 4,
            "o_totalprice": [1.0] * 4,
            "o_orderdate": pd.to_datetime(["2020-01-01"] * 4),
            "o_orderpriority": ["1-URGENT"] * 4,
        }
    ).to_parquet(f"{sf}/orders.parquet", coerce_timestamps="us")
    r = q_g7_degree_assortativity(spark, sf).collect()[0]
    assert r["n_edges"] == 4 and r["mean_degree"] == 2.0
    assert r["assortativity"] is None


def test_p_ks_null_values_are_dropped_not_grouped(spark, tmp_path):
    """NULL-value guard (r8 ADVICE): NULL measurements must be DROPPED
    (they would form a NULL-cents group that Spark sorts first and
    DuckDB sorts last, diverging the running CDF).  With the NULLs
    removed the two halves here are identical => D = 0, no drift."""
    import pandas as pd

    from factory_inspectors_db_etl_spark.plans.catalog_ext6 import q_p_ks_drift

    sf = str(tmp_path)
    pd.DataFrame(
        {
            "event_id": range(8),
            "ts": pd.to_datetime(
                ["2024-01-01"] * 3 + ["2024-01-10"] * 5
            ),
            "user_id": [1] * 8,
            "event_type": ["m"] * 8,
            "value": [1.0, 2.0, None, 1.0, 2.0, None, None, None],
        }
    ).assign(props="{}").to_parquet(f"{sf}/events.parquet")
    r = q_p_ks_drift(spark, sf).collect()[0]
    assert (r["n_first"], r["n_second"]) == (2, 2)
    assert r["ks_stat"] == 0.0 and r["drift"] is False
