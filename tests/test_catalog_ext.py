"""Invariant tests for the round-4 extension catalog
(plans/catalog_ext.py): salting is a pure physical rewrite, keep-best
picks exactly one doc per cluster, the unigram LM ranks OOV-heavy docs
lower, and the histogram partitions the input.  Also the brute-force
checks of three graph queries (plans/catalog_graph.py): integer-mass
PageRank, triangle counts and label propagation.

(Value-vs-DuckDB parity is covered for all of these by the
auto-parametrized suite in test_catalog_vs_duckdb.py.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.plans import catalog_ext as CE
from factory_inspectors_db_etl_spark.plans import catalog_graph as CG
from factory_inspectors_db_etl_spark.sources.tables import load_table


def test_histogram_partitions_input(spark, sf_dir):
    out = CE.q_a10_histogram(spark, sf_dir).agg(
        F.sum("n_orders").alias("n"), F.max("bin").alias("maxbin"), F.min("bin").alias("minbin")
    ).collect()[0]
    total = load_table(spark, sf_dir, "orders").count()
    assert out["n"] == total  # every order lands in exactly one bin
    assert 0 <= out["minbin"] and out["maxbin"] <= CE._HIST_BINS - 1


def test_salted_join_equals_unsalted(spark, sf_dir):
    """The whole point of J10: salting changes the physical key, never
    the result."""
    ev = load_table(spark, sf_dir, "events")
    us = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("user_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("user_value"),
    )
    plain = (
        ev.join(us, "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("user_events").alias("sum_user_events"),
            F.sum("user_value").cast("double").alias("sum_user_value"),
        )
    )
    salted = CE.q_j10_salted_join(spark, sf_dir)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_fact_rows_match_exactly_one_replica(spark, sf_dir):
    """Join multiplicity check: |salted join| == |events| — every fact
    row matched exactly one of the S dim replicas."""
    ev_n = load_table(spark, sf_dir, "events").count()
    n = CE.q_j10_salted_join(spark, sf_dir).agg(F.sum("n_events")).collect()[0][0]
    assert n == ev_n


def test_keep_best_one_winner_per_cluster(spark, sf_dir):
    out = CE.q_d_keep_best(spark, sf_dir)
    per_cluster = out.groupBy("component_id").agg(
        F.sum(F.col("keep").cast("int")).alias("winners"),
        F.max(F.when(F.col("keep"), F.col("quality"))).alias("kept_q"),
        F.max("quality").alias("max_q"),
    )
    bad = per_cluster.filter((F.col("winners") != 1) | (F.col("kept_q") != F.col("max_q")))
    assert bad.count() == 0
    # every doc appears exactly once
    assert out.count() == load_table(spark, sf_dir, "documents").count()


def test_interval_overlap_matches_bruteforce(spark, sf_dir):
    """Bucketed cell-join overlap == brute-force O(S*P) interval
    intersection over the same derived interval sets."""
    out = {(r.user_id, r.session_idx): r.n_peak_overlaps
           for r in CE.q_j11_interval_overlap(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id").collect()
    anchor = __import__("datetime").date(1992, 1, 1)
    hcell = lambda ts: (ts.date() - anchor).days * 24 + ts.hour  # noqa: E731
    from collections import Counter, defaultdict

    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.ts, r.event_id))
    sessions = {}
    for u, rows in by_user.items():
        rows.sort()
        idx, last = 0, None
        bounds = {}
        for ts, _ in rows:
            if last is None or (ts - last).total_seconds() > 1800:
                idx += 1
            lo, hi = bounds.get(idx, (ts, ts))
            bounds[idx] = (min(lo, ts), max(hi, ts))
            last = ts
        for i, (lo, hi) in bounds.items():
            sessions[(u, i)] = (hcell(lo), hcell(hi))
    counts = Counter(hcell(r.ts) for r in ev)
    total, nh = sum(counts.values()), len(counts)
    peak_cells = sorted(c for c, n in counts.items() if n * nh > total)
    peaks, cur = [], None
    for c in peak_cells:
        if cur and c == cur[1] + 1:
            cur[1] = c
        else:
            cur = [c, c]
            peaks.append(cur)
    want = {
        k: sum(1 for p in peaks if lo <= p[1] and hi >= p[0])
        for k, (lo, hi) in sessions.items()
    }
    assert out == want


def _pagerank_bruteforce(edges, iters, init, teleport_pct=15):
    from collections import defaultdict

    out = defaultdict(set)
    for u, v in edges:
        out[u].add(v)
    mass = {u: init for u in out}
    for _ in range(iters):
        inmass = defaultdict(int)
        for u, targets in out.items():
            c = mass[u] // len(targets)
            for v in targets:
                inmass[v] += c
        mass = {u: init * teleport_pct // 100 + (100 - teleport_pct) * inmass[u] // 100 for u in out}
    return mass


def test_pagerank_matches_bruteforce_python(spark, sf_dir):
    """The distributed integer-mass iteration must equal the obvious
    single-machine fixed-point loop node for node."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").collect()
    by_order = {}
    for r in li:
        by_order.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    edges = {
        (a, b)
        for parts in by_order.values()
        for a in parts
        for b in parts
        if a != b
    }
    expect = _pagerank_bruteforce(edges, CG._PR_ITERS, CG._PR_INIT)
    got = {r.part_id: r.pagerank_mass for r in CG.q_g1_pagerank(spark, sf_dir).collect()}
    assert got == expect


def test_triangle_count_matches_bruteforce(spark, sf_dir):
    """Distributed wedge-close == itertools.combinations over the
    collected edge set."""
    from itertools import combinations

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders")
    urgent = {r.o_orderkey for r in orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey").collect()}
    by_order = {}
    for r in li.collect():
        if r.l_orderkey in urgent:
            by_order.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    edges = set()
    for parts in by_order.values():
        for a, b in combinations(sorted(parts), 2):
            edges.add((a, b))
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    from collections import Counter

    tri = Counter()
    for a, b in edges:
        for c in adj.get(a, set()) & adj.get(b, set()):
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    got = {r.part_id: r.n_triangles for r in CG.q_g2_triangle_count(spark, sf_dir).collect()}
    assert got == dict(tri)


def test_unigram_lm_scores_oov_low(spark, sf_dir):
    """A doc of pure OOV tokens must score at the Laplace floor
    (1/(T+V) per token), strictly below the corpus mean."""
    out = CE.q_t_unigram_lm(spark, sf_dir)
    rows = out.collect()
    assert rows, "held-out split is empty"
    # all-OOV docs (if any) score exactly n/(n*(T+V)) = 1/(T+V): the minimum
    scores = {r.doc_id: r for r in rows}
    nonzero = [r.mean_laplace_p for r in rows if r.n_tokens > 0]
    floor = min(nonzero)
    for r in rows:
        if r.n_tokens > 0 and r.n_oov == r.n_tokens:
            assert r.mean_laplace_p == floor
        if r.n_tokens > 0:
            assert r.mean_laplace_p >= floor
    assert all(0 <= r.n_oov <= r.n_tokens for r in rows)


def _bpe_reference(word_counts, rounds):
    """Obvious single-machine BPE: count pairs over the word dict, merge
    the max pair greedily left-to-right, repeat."""
    from collections import Counter

    words = {w: list(w) for w in word_counts}
    learned = []
    for rnd in range(1, rounds + 1):
        pc = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += word_counts[w]
        (l, r), c = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        learned.append((rnd, l, r, c))
        for w, syms in words.items():
            out = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            words[w] = out
    return learned


def test_bpe_train_matches_reference(spark, sf_dir):
    from factory_inspectors_db_etl_spark.operators.bpe import word_frequency_table

    d = load_table(spark, sf_dir, "documents")
    wc = {r.word: r.cnt for r in word_frequency_table(d).collect()}
    want = _bpe_reference(wc, 3)
    got = sorted(tuple(r) for r in CE.q_t_bpe_train(spark, sf_dir).collect())
    assert got == want


def test_bpe_encode_consistent_with_merges(spark, sf_dir):
    """Encoding invariants: n_bpe_tokens <= chars-in-words (merges only
    shrink), strictly smaller overall (3 merges must fire somewhere),
    and per-doc totals reconcile with an independent re-encode from the
    learned merge list."""
    from factory_inspectors_db_etl_spark.operators.bpe import word_frequency_table

    rows = CE.q_t_bpe_encode(spark, sf_dir).collect()
    assert all(r.n_bpe_tokens <= r.n_chars_in_words for r in rows)
    assert sum(r.n_bpe_tokens for r in rows) < sum(r.n_chars_in_words for r in rows)
    merges = [
        (r.merge_left, r.merge_right)
        for r in CE.q_t_bpe_train(spark, sf_dir).orderBy("round").collect()
    ]
    d = load_table(spark, sf_dir, "documents")
    wc = {r.word: r.cnt for r in word_frequency_table(d).collect()}
    enc = {}
    for w in wc:
        syms = list(w)
        for l, r in merges:
            out = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            syms = out
        enc[w] = len(syms)
    docs = d.select("doc_id", F.explode(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w")).collect()
    from collections import defaultdict

    want = defaultdict(int)
    for r in docs:
        if r.w:
            want[r.doc_id] += enc[r.w]
    got = {r.doc_id: r.n_bpe_tokens for r in rows if r.n_bpe_tokens > 0}
    assert got == dict(want)


def test_bpe_merge_handles_overlap_and_recombination(spark):
    """Greedy non-overlap on runs ('aaaa' with (a,a) -> [aa, aa]) and the
    no-flag-needed property (merged symbol can't re-merge in-round)."""
    from factory_inspectors_db_etl_spark.operators.bpe import _merge_pair

    df = spark.createDataFrame(
        [(["a", "a", "a", "a"],), (["a", "a", "a"],), (["x", "a", "a", "y"],)],
        "syms array<string>",
    )
    out = [
        r[0]
        for r in df.select(
            _merge_pair(F.col("syms"), F.lit("a"), F.lit("a")).alias("m")
        ).collect()
    ]
    assert out == [["aa", "aa"], ["aa", "a"], ["x", "aa", "y"]]


def test_cumulative_distinct_invariants(spark, sf_dir):
    rows = sorted(CE.q_w15_cumulative_distinct(spark, sf_dir).collect())
    assert rows
    ev = load_table(spark, sf_dir, "events")
    total = ev.select("user_id").distinct().count()
    # running total is monotone, ends at the global distinct count, and
    # per-day new-user increments reconcile exactly
    cum = 0
    for r in rows:  # rows sorted by day string == chronological
        cum += r.n_new_users
        assert r.cum_distinct_users == cum
        assert r.n_active_users >= r.n_new_users >= 0
    assert rows[-1].cum_distinct_users == total


def test_linreg_matches_numpy(spark, sf_dir):
    """Sufficient-statistics slope == numpy polyfit slope (loose float
    tolerance — numpy uses least-squares QR, ours is the closed form)."""
    import numpy as np

    rows = CE.q_a11_groupwise_linreg(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1992-01-01").cast("date")).alias("x"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("y"),
    ).collect()
    import collections

    g = collections.defaultdict(list)
    for r in ev:
        g[r.event_type].append((r.x, r.y))
    for r in rows:
        xs, ys = zip(*g[r.event_type])
        slope, intercept = np.polyfit(np.array(xs, dtype=float), np.array(ys, dtype=float), 1)
        assert abs(r.slope_cents_per_day - slope) < 1e-6 * max(1.0, abs(slope))
        assert abs(r.intercept_cents - intercept) < 1e-6 * max(1.0, abs(intercept))


def test_bpe_empty_pair_round_is_identity(spark):
    """A round with no pairs left (single-char vocab) must be an
    identity pass, not annihilate the word table (empty-top1 crossJoin
    regression)."""
    from factory_inspectors_db_etl_spark.operators.bpe import _bpe_rounds, bpe_learn_merges

    words = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 2)], "word string, cnt long"
    )
    learned, final = _bpe_rounds(words, rounds=2)
    # no pairs ever existed -> no merges learned, vocab intact
    assert bpe_learn_merges(words, rounds=2).count() == 0
    rows = {r.word: r.syms for r in final.collect()}
    assert rows == {"a": ["a"], "b": ["b"], "c": ["c"]}


def test_bpe_rounds_zero_raises(spark):
    import pytest as _pytest

    from factory_inspectors_db_etl_spark.operators.bpe import bpe_learn_merges

    words = spark.createDataFrame([("ab", 1)], "word string, cnt long")
    with _pytest.raises(ValueError, match="rounds"):
        bpe_learn_merges(words, rounds=0)


def test_label_propagation_matches_bruteforce(spark, sf_dir):
    """Distributed sync LPA == the obvious single-machine round loop
    (mode of neighbor labels, count-desc/label-asc tie-break)."""
    from collections import Counter, defaultdict

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders")
    urgent = {
        r.o_orderkey
        for r in orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey").collect()
    }
    by_order = defaultdict(set)
    for r in li.collect():
        if r.l_orderkey in urgent:
            by_order[r.l_orderkey].add(r.l_partkey)
    adj = defaultdict(set)
    for parts in by_order.values():
        for a in parts:
            for b in parts:
                if a != b:
                    adj[a].add(b)
    labels = {n: n for n in adj}
    for _ in range(CG._LPA_ITERS):
        new = {}
        for n in adj:
            votes = Counter(labels[m] for m in adj[n])
            new[n] = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        labels = new
    got = {r.part_id: r.community for r in CG.q_g3_label_propagation(spark, sf_dir).collect()}
    assert got == labels
