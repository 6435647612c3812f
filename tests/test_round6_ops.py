"""Round-6 operator tests: real PNG/WAV/MP4 codec round-trips (plus a
corruption-grid fuzz that every parser rejects malformed bytes with
ValueError only), TF-IDF cosine join vs brute force (expanded AND
grouped contracts), catalog-level WCC vs union-find, skyline vs
quadratic dominance scan, FIFO allocation vs the sequential walk,
spatial grid join vs brute force, interval alignment/coalescing
conservation, vocab growth, attribution / path analysis vs sequential
recomputes, clustering coefficient vs adjacency sets, temporal-split
leakage, incremental join view vs full recompute, percentile rank,
balanced downsample, Tukey winsorization, novelty/HHI bounds, RFM
tiling, reservoir determinism, and the ADVICE hardening fixes (bloom
scratch-name collisions, sqlite column validation)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.operators.multimodal import (
    _parse_png,
    decode_png,
    encode_png,
)
from factory_inspectors_db_etl_spark.operators.setsim import (
    tfidf_cosine_pairs,
)
from factory_inspectors_db_etl_spark.plans.catalog_ext4 import (
    q_a22_hhi_concentration,
    q_j18_interval_align,
    q_o8_skyline_2d,
    q_p_reservoir_sample,
    q_t_ngram_novelty,
    q_w28_rfm_segmentation,
)
from factory_inspectors_db_etl_spark.plans.catalog_graph import q_g5_wcc
from factory_inspectors_db_etl_spark.sources.tables import load_table
from setsim_oracles import bruteforce_tfidf_cosine_pairs


# ---------------------------------------------------------------------------
# PNG codec
# ---------------------------------------------------------------------------


def _pixels(h: int, w: int, seed: int) -> np.ndarray:
    # deterministic pseudo-random-ish pixels without RNG state
    i = np.arange(h * w * 3, dtype="int64")
    return ((i * 2654435761 + seed * 97) % 256).astype("u1").reshape(h, w, 3)


@pytest.mark.parametrize("h,w", [(1, 1), (1, 7), (7, 1), (6, 5), (8, 8), (11, 3)])
def test_png_roundtrip_exact(h, w):
    px = _pixels(h, w, h * 31 + w)
    payload = encode_png(px)
    rw, rh, out = _parse_png(payload)
    assert (rw, rh) == (w, h)
    assert np.array_equal(out, px)


def test_png_all_five_filters_exercised_and_inverted():
    # h >= 5 guarantees filter types 0..4 all appear (row % 5 rotation)
    px = _pixels(9, 4, 123)
    payload = encode_png(px)
    # extremes stress Average/Paeth carry behavior
    px2 = np.zeros((5, 3, 3), dtype="u1")
    px2[::2] = 255
    assert np.array_equal(_parse_png(encode_png(px2))[2], px2)
    assert np.array_equal(_parse_png(payload)[2], px)


def test_png_crc_corruption_detected():
    payload = bytearray(encode_png(_pixels(5, 5, 7)))
    # flip a byte inside the IDAT body (after sig+IHDR chunk = 8+25 bytes,
    # skip the 8-byte IDAT header too)
    payload[8 + 25 + 8 + 2] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        _parse_png(bytes(payload))


def test_png_rejects_non_png_and_features_are_exact_ratios():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    px = _pixels(4, 6, 55)
    feats = decode_png(encode_png(px))
    npx = 4 * 6
    assert feats[0] == 6.0 and feats[1] == 4.0 and feats[2] == 3.0
    assert feats[3] == int(px[:, :, 0].astype("int64").sum()) / (npx * 255)
    assert feats[6] == int(px.astype("int64").sum()) / (npx * 3 * 255)
    assert feats[7] == 6 / 4


# ---------------------------------------------------------------------------
# TF-IDF cosine join
# ---------------------------------------------------------------------------


def test_tfidf_cosine_prefix_filter_is_lossless(spark, sf_dir):
    """The registered (prefix-filtered, collapsed) operator must equal
    the unfiltered, uncollapsed brute force — zero false negatives from
    the suffix-norm prefix, zero perturbation from the duplicate
    collapse."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    fast = tfidf_cosine_pairs(p, "p_partkey", "p_name", 3, 5).toPandas()
    brute = bruteforce_tfidf_cosine_pairs(p, "p_partkey", "p_name", 3, 5).toPandas()
    key = ["id_a", "id_b"]
    fast = fast.sort_values(key).reset_index(drop=True)
    brute = brute.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(fast, brute, check_exact=True)


def test_tfidf_cosine_planted_variants(spark):
    """Planted corpus: exact duplicates, a rare-word near-match, and a
    common-word-only pair.  Rare-word sharing must qualify, ubiquitous
    words alone must not, duplicates always pair."""
    rows = [
        (1, "zephyr quartz marble alpha beta"),
        (2, "zephyr quartz marble alpha beta"),  # exact dup of 1
        (3, "zephyr quartz marble alpha delta"),  # 4 shared heavy words
        (4, "plain common words only here"),
        (5, "plain common words only there"),
        (6, "delta beta filler goes here"),  # keeps delta/beta non-unique
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tfidf_cosine_pairs(df, "doc_id", "text", 3, 5).toPandas()
    pairs = set(map(tuple, out[["id_a", "id_b"]].values))
    assert (1, 2) in pairs  # exact duplicate
    assert (1, 3) in pairs and (2, 3) in pairs  # rare-word near match
    assert (1, 6) not in pairs  # one shared common word is not enough
    brute = bruteforce_tfidf_cosine_pairs(df, "doc_id", "text", 3, 5).toPandas()
    assert pairs == set(map(tuple, brute[["id_a", "id_b"]].values))
    # duplicate pair carries symmetric norms and cosine exactly as brute
    m = (
        out.sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    b = brute.sort_values(["id_a", "id_b"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(m, b, check_exact=True)


def test_tfidf_cosine_grouped_contract_is_information_complete(spark):
    """expand_members=False (the registered 100 TB contract) must be the
    exact grouping of the expanded result: reps are min member ids,
    sum(n_pairs) equals the expanded pair count, and a consumer-side
    expansion of the grouped rows reproduces the expanded pair SET."""
    rows = [
        (1, "zephyr quartz marble alpha beta"),
        (2, "zephyr quartz marble alpha beta"),  # dup of 1
        (7, "zephyr quartz marble alpha beta"),  # dup of 1
        (3, "zephyr quartz marble alpha delta"),
        (9, "zephyr quartz marble alpha delta"),  # dup of 3
        (4, "plain common words only here"),
        (6, "delta beta filler goes here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    grouped = tfidf_cosine_pairs(
        df, "doc_id", "text", 3, 5, expand_members=False
    ).toPandas()
    expanded = tfidf_cosine_pairs(df, "doc_id", "text", 3, 5).toPandas()
    assert int(grouped["n_pairs"].sum()) == len(expanded)
    # groups: {1,2,7} rep 1, {3,9} rep 3 -> cross row (1,3) n_pairs 6,
    # self rows (1,1) n_pairs 3 and (3,3) n_pairs 1
    by_pair = {(r.id_a, r.id_b): r for r in grouped.itertuples()}
    assert by_pair[(1, 3)].n_pairs == 6 and by_pair[(1, 3)].n_a == 3
    assert by_pair[(1, 1)].n_pairs == 3 and by_pair[(1, 1)].cosine == 1.0
    assert by_pair[(3, 3)].n_pairs == 1
    # consumer-side expansion reproduces the expanded pair set exactly
    members = {1: [1, 2, 7], 3: [3, 9], 4: [4], 6: [6]}
    regen = set()
    for (ra, rb), r in by_pair.items():
        if ra == rb:
            ms = members[ra]
            regen |= {(a, b) for i, a in enumerate(ms) for b in ms[i + 1:]}
        else:
            regen |= {
                (min(a, b), max(a, b)) for a in members[ra] for b in members[rb]
            }
    assert regen == set(map(tuple, expanded[["id_a", "id_b"]].values))


# ---------------------------------------------------------------------------
# G5 WCC vs union-find
# ---------------------------------------------------------------------------


def test_g5_wcc_matches_union_find(spark, sf_dir):
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
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .toPandas()
    )
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges[["u", "v"]].values:
        ru, rv = find(int(u)), find(int(v))
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # min-id relabel: component = min node in tree
    expected = {}
    for node in parent:
        expected[node] = find(node)
    got = q_g5_wcc(spark, sf_dir).toPandas()
    got_map = dict(zip(got["part_id"].astype(int), got["component"].astype(int)))
    assert got_map == expected


# ---------------------------------------------------------------------------
# O8 skyline vs quadratic scan
# ---------------------------------------------------------------------------


def test_o8_skyline_matches_bruteforce(spark, sf_dir):
    p = load_table(spark, sf_dir, "part").toPandas()
    cents = (p["p_retailprice"].astype(float) * 100).round().astype(int)
    size = p["p_size"].astype(int)
    keep = []
    for i in range(len(p)):
        dominated = (
            ((cents < cents[i]) & (size >= size[i]))
            | ((cents == cents[i]) & (size > size[i]))
        ).any()
        if not dominated:
            keep.append(int(p["p_partkey"][i]))
    got = sorted(q_o8_skyline_2d(spark, sf_dir).toPandas()["p_partkey"].astype(int))
    assert got == sorted(keep)


# ---------------------------------------------------------------------------
# J18 interval alignment: conservation + cell bounds
# ---------------------------------------------------------------------------


def test_j18_overlaps_sum_to_session_duration(spark, sf_dir):
    out = q_j18_interval_align(spark, sf_dir)
    # each cell's overlap is within one hour
    bounds = out.agg(
        F.min("overlap_us").alias("lo"), F.max("overlap_us").alias("hi")
    ).collect()[0]
    assert bounds["lo"] >= 0 and bounds["hi"] <= 3_600_000_000
    # per-session overlap total equals the session's end-start span
    sums = out.groupBy("user_id", "session_idx").agg(
        F.sum("overlap_us").alias("total_us")
    )
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_break = F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES")
    new_s = F.when(gap_break | F.lag("ts").over(w).isNull(), 1).otherwise(0)
    sess = (
        ev.withColumn("_new", new_s)
        .withColumn(
            "session_idx",
            F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("int"),
        )
        .groupBy("user_id", "session_idx")
        .agg(
            F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))").cast("long").alias("span_us")
        )
    )
    joined = sums.join(sess, ["user_id", "session_idx"])
    bad = joined.filter(F.col("total_us") != F.col("span_us")).count()
    assert bad == 0


# ---------------------------------------------------------------------------
# bounds / determinism checks for the lighter round-6 queries
# ---------------------------------------------------------------------------


def test_t_ngram_novelty_bounds_and_first_doc(spark, sf_dir):
    out = q_t_ngram_novelty(spark, sf_dir).toPandas()
    assert ((out["novelty"] >= 0) & (out["novelty"] <= 1)).all()
    assert (out["n_novel"] <= out["n_shingles"]).all()
    # the smallest doc_id owns every one of its shingles
    first = out.loc[out["doc_id"].idxmin()]
    assert first["n_novel"] == first["n_shingles"] and first["novelty"] == 1.0


def test_a22_hhi_bounds(spark, sf_dir):
    out = q_a22_hhi_concentration(spark, sf_dir).toPandas()
    assert ((out["hhi"] > 0) & (out["hhi"] <= 1.0 + 1e-12)).all()
    # HHI >= 1/n always
    assert (out["hhi"] >= 1.0 / out["n_customers"] - 1e-12).all()


def test_w28_rfm_scores_tile_correctly(spark, sf_dir):
    out = q_w28_rfm_segmentation(spark, sf_dir).toPandas()
    for c in ["r_score", "f_score", "m_score"]:
        assert out[c].between(1, 5).all()
    # within a nation, ntile sizes differ by at most 1
    for (_, grp) in out.groupby("n_name"):
        sizes = grp["r_score"].value_counts()
        assert sizes.max() - sizes.min() <= 1
    assert (
        out["segment"]
        == out["r_score"].astype(str) + out["f_score"].astype(str) + out["m_score"].astype(str)
    ).all()


def test_p_reservoir_exact_k_and_deterministic(spark, sf_dir):
    a = q_p_reservoir_sample(spark, sf_dir).toPandas()
    b = q_p_reservoir_sample(spark, sf_dir).toPandas()
    n_events = load_table(spark, sf_dir, "events").count()
    assert len(a) == min(1000, n_events)
    assert set(a["event_id"]) == set(b["event_id"])  # replayable


# ---------------------------------------------------------------------------
# ADVICE hardening
# ---------------------------------------------------------------------------


def test_bloom_prefilter_survives_column_name_collision(spark):
    """A fact table that already owns 'bloom_words' / '_bpos0' keeps its
    columns intact and still filters correctly (ADVICE r5 finding)."""
    from factory_inspectors_db_etl_spark.operators.bloom_join import (
        bloom_prefilter,
        build_bloom,
    )

    dim = spark.createDataFrame([(1,), (3,), (5,)], ["k"])
    fact = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40), (5, "e", 50)],
        ["k", "bloom_words", "_bpos0"],
    )
    bloom = build_bloom(dim, "k", num_bits=1 << 12, num_hashes=3)
    out = bloom_prefilter(fact, "k", bloom, num_bits=1 << 12, num_hashes=3)
    assert set(out.columns) == {"k", "bloom_words", "_bpos0"}
    rows = {r["k"]: (r["bloom_words"], r["_bpos0"]) for r in out.collect()}
    # no false negatives, user columns untouched
    assert {1, 3, 5} <= set(rows)
    assert rows[1] == ("a", 10) and rows[5] == ("e", 50)


def test_sqlite_rejects_suspicious_column_names(spark, tmp_path):
    from factory_inspectors_db_etl_spark.sources.sqlite_relational import write_relational

    df = spark.createDataFrame([(1, "x")], ["ok_col", 'bad"col'])
    with pytest.raises(ValueError, match="suspicious column"):
        write_relational(df, str(tmp_path / "t.db"), "t", key_cols=["ok_col"])


# ---------------------------------------------------------------------------
# Round-6b operators: FIFO allocation, spatial grid join, WAV energy,
# vocabulary growth, last-touch attribution
# ---------------------------------------------------------------------------


def _sequential_fifo(demand, supply):
    """Textbook sequential FIFO walk (the spec the distributed form must
    equal): demand/supply are [(key..., qty)] lists already in order."""
    out, di, si = [], 0, 0
    d = [list(x) for x in demand]
    s = [list(x) for x in supply]
    while di < len(d) and si < len(s):
        take = min(d[di][-1], s[si][-1])
        if take > 0:
            out.append((d[di][0], s[si][0], take))
        d[di][-1] -= take
        s[si][-1] -= take
        if d[di][-1] == 0:
            di += 1
        if s[si][-1] == 0:
            si += 1
    return out


def test_fifo_allocate_equals_sequential_walk(spark):
    from factory_inspectors_db_etl_spark.operators.allocation import fifo_allocate

    # quantities straddle the cell width (64) to force multi-cell
    # intervals and boundary-spanning pairs
    demand = [("k1", 1, 100), ("k1", 2, 7), ("k1", 3, 130), ("k2", 1, 5)]
    supply = [("k1", 10, 60), ("k1", 11, 200), ("k2", 10, 9), ("k3", 1, 4)]
    ddf = spark.createDataFrame(demand, ["key", "seq", "qty"])
    sdf = spark.createDataFrame(supply, ["key", "seq", "qty"])
    out = fifo_allocate(ddf, sdf, ["key"], ["seq"], "qty").toPandas()
    got = {
        (r.key, r.d_seq, r.s_seq): r.alloc_qty for r in out.itertuples()
    }
    expect = {}
    for key in ("k1", "k2", "k3"):
        dd = [(seq, q) for k, seq, q in demand if k == key]
        ss = [(seq, q) for k, seq, q in supply if k == key]
        for dseq, sseq, take in _sequential_fifo(dd, ss):
            expect[(key, dseq, sseq)] = take
    assert got == expect
    # conservation: per key, allocated total = min(total demand, supply)
    for key in ("k1", "k2"):
        td = sum(q for k, _, q in demand if k == key)
        ts = sum(q for k, _, q in supply if k == key)
        assert sum(v for (k, _, _), v in got.items() if k == key) == min(td, ts)


def test_j19_catalog_conservation(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext4 import q_j19_fifo_allocation

    out = q_j19_fifo_allocation(spark, sf_dir).toPandas()
    assert (out["alloc_qty"] >= 1).all()
    li = load_table(spark, sf_dir, "lineitem").toPandas()
    li = li[li["l_returnflag"].isin(["A", "R"])]
    tot = li.groupby(["l_partkey", "l_returnflag"])["l_quantity"].sum().unstack(fill_value=0)
    alloc = out.groupby("part_id")["alloc_qty"].sum()
    for part, row in tot.iterrows():
        expect = int(min(row.get("A", 0), row.get("R", 0)))
        assert int(alloc.get(part, 0)) == expect


def test_j21_spatial_matches_bruteforce(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext4 import (
        _SPATIAL_R,
        q_j21_grid_spatial_join,
    )

    out = q_j21_grid_spatial_join(spark, sf_dir).toPandas()
    # brute force from the same md5-derived coordinates
    import hashlib

    cust = load_table(spark, sf_dir, "customer").select("c_custkey").toPandas()

    def coord(prefix, k):
        return int(hashlib.md5(f"{prefix}{k}".encode()).hexdigest()[:15], 16) % 1_000_000

    xs = {k: (coord("gx:", k), coord("gy:", k)) for k in cust["c_custkey"]}
    keys = sorted(xs)
    brute = set()
    r2 = _SPATIAL_R * _SPATIAL_R
    for i, a in enumerate(keys):
        xa, ya = xs[a]
        for b in keys[i + 1 :]:
            xb, yb = xs[b]
            d2 = (xa - xb) ** 2 + (ya - yb) ** 2
            if d2 <= r2:
                brute.add((a, b, d2))
    got = set(zip(out["id_a"], out["id_b"], out["dist2"]))
    assert got == brute


def test_wav_roundtrip_and_frame_energy():
    from factory_inspectors_db_etl_spark.operators.multimodal import (
        decode_wav_pcm,
        encode_wav,
        wav_frame_energies,
    )

    i = np.arange(256, dtype="int64")
    s = ((i * 37 + 11) % 4096 - 2048).astype("int64")
    payload = encode_wav(s.astype("<i2"), sample_rate=8000)
    # the existing decoder accepts the new encoder's output
    feats = decode_wav_pcm(payload)
    assert feats[0] == 1.0 and feats[2] == 256.0
    energies = wav_frame_energies(payload, frame=64)
    expect = (s.reshape(4, 64) ** 2).sum(axis=1)
    assert energies == [int(e) for e in expect]
    with pytest.raises(ValueError):
        wav_frame_energies(b"RIFFxxxxNOPE" + b"\x00" * 64)


def test_vocab_growth_is_cumulative_and_total(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext4 import q_t_vocab_growth

    out = q_t_vocab_growth(spark, sf_dir).toPandas().sort_values("batch_id")
    assert (out["vocab_size"].diff().dropna() >= 0).all()
    assert out["vocab_size"].iloc[-1] == out["new_shingles"].sum()
    assert out["n_docs"].sum() == load_table(spark, sf_dir, "documents").count()


def test_w29_attribution_matches_bruteforce(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext4 import (
        q_w29_last_touch_attribution,
    )

    out = q_w29_last_touch_attribution(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events").toPandas().sort_values(["user_id", "ts", "event_id"])
    horizon = pd.Timedelta(days=7)
    expect = {}
    for uid, grp in ev.groupby("user_id"):
        last_click = None
        for r in grp.itertuples():
            if r.event_type == "purchase":
                if last_click is not None and (r.ts - last_click[0]) <= horizon:
                    expect[r.event_id] = (last_click[1], (r.ts - last_click[0]) // pd.Timedelta(microseconds=1))
                else:
                    expect[r.event_id] = (None, None)
            if r.event_type == "click":
                last_click = (r.ts, r.event_id)
    got = {
        r.event_id: (
            None if pd.isna(r.click_event_id) else int(r.click_event_id),
            None if pd.isna(r.gap_us) else int(r.gap_us),
        )
        for r in out.itertuples()
    }
    assert got == expect


def test_g6_clustering_coeff_matches_set_bruteforce(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_graph import q_g6_clustering_coeff

    out = q_g6_clustering_coeff(spark, sf_dir).toPandas()
    assert out["clustering_coeff"].between(0, 1).all()
    # independent set-based recompute of degree/triangles per node
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").toPandas()
    urgent = set(
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
        .toPandas()["o_orderkey"]
    )
    li = li[li["l_orderkey"].isin(urgent)]
    adj = {}
    for _, grp in li.groupby("l_orderkey"):
        ps = sorted(set(grp["l_partkey"]))
        for i, u in enumerate(ps):
            for v in ps[i + 1 :]:
                adj.setdefault(u, set()).add(v)
                adj.setdefault(v, set()).add(u)
    for r in out.itertuples():
        nbrs = adj.get(r.part_id, set())
        assert r.degree == len(nbrs)
        tri = sum(len(adj[x] & nbrs) for x in nbrs) // 2
        assert r.n_triangles == tri
        if r.degree >= 2:
            assert r.coeff_e6 == (2 * tri * 1_000_000) // (r.degree * (r.degree - 1))


def test_p_temporal_split_has_no_leakage(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext4 import q_p_temporal_split

    out = q_p_temporal_split(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts").toPandas()
    j = out.merge(ev, on=["event_id", "user_id"])
    lo, hi = ev["ts"].min(), ev["ts"].max()
    cut_ok = (j["ts"] - lo) * 5 < (hi - lo) * 4
    assert ((j["split"] == "train") == cut_ok).all()
    # cold-start users have EVERY event in the test period (no leakage)
    cold = set(j.loc[j["cold_start"], "user_id"])
    assert (j.loc[j["user_id"].isin(cold), "split"] == "test").all()
    # and every non-cold user has at least one train event
    warm = j[~j["user_id"].isin(cold)]
    assert (warm.groupby("user_id")["split"].apply(lambda s: (s == "train").any())).all()


def test_j23_incremental_equals_full_recompute(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext4 import (
        q_j23_incremental_join_view,
    )

    inc = (
        q_j23_incremental_join_view(spark, sf_dir)
        .toPandas()
        .sort_values("n_name")
        .reset_index(drop=True)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    full = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .toPandas()
        .sort_values("n_name")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(inc, full, check_exact=True)


def test_a24_percentile_rank_properties(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext4 import q_a24_percentile_rank

    out = q_a24_percentile_rank(spark, sf_dir).toPandas()
    assert out["pct_rank"].between(0, 1).all() and out["cdf"].between(0, 1).all()
    for _, grp in out.groupby("n_name"):
        g = grp.sort_values(["cents", "c_custkey"]).reset_index(drop=True)
        n = len(g)
        # max spender has cdf exactly 1; percent_rank is (rank-1)/(n-1)
        assert g["cdf"].iloc[-1] == 1.0
        if n > 1:
            import numpy as _np

            ranks = g["cents"].rank(method="min").astype(int)
            assert _np.allclose(g["pct_rank"], (ranks - 1) / (n - 1), atol=0)
            cdf = g["cents"].rank(method="max").astype(int) / n
            assert _np.allclose(g["cdf"], cdf, atol=0)


def test_p_balanced_downsample_is_balanced_and_deterministic(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext4 import (
        q_p_balanced_downsample,
    )

    a = q_p_balanced_downsample(spark, sf_dir).toPandas()
    b = q_p_balanced_downsample(spark, sf_dir).toPandas()
    assert set(a["event_id"]) == set(b["event_id"])  # replayable
    sizes = a.groupby("event_type").size()
    ev = load_table(spark, sf_dir, "events").toPandas()
    min_n = ev.groupby("event_type").size().min()
    assert (sizes == min_n).all()
    assert sizes.index.nunique() == ev["event_type"].nunique()


def test_mp4_container_roundtrip_and_corruption():
    from factory_inspectors_db_etl_spark.operators.multimodal import (
        decode_mp4,
        encode_mp4_min,
        parse_mp4,
    )

    pl = encode_mp4_min(1000, 7321, 640, 480, b"sample-bytes")
    m = parse_mp4(pl)
    assert m == {
        "n_boxes": 6,
        "timescale": 1000,
        "duration": 7321,
        "width": 640,
        "height": 480,
        "mdat_bytes": 12,
    }
    assert decode_mp4(pl)[:3] == [1000.0, 7321.0, 7.321]
    # box-size overrun must be detected, not silently mis-parsed
    bad = bytearray(pl)
    bad[0] = 0xFF  # inflate ftyp's size field past the buffer
    with pytest.raises(ValueError, match="overruns|truncated"):
        parse_mp4(bytes(bad))
    with pytest.raises(ValueError, match="ftyp"):
        parse_mp4(b"\x00\x00\x00\x08free" + b"\x00" * 16)
    # a moov without mvhd is rejected (no silent defaults)
    ftyp_len = int.from_bytes(pl[:4], "big")
    no_mvhd = (
        bytes(pl[:ftyp_len])
        + (8 + 8).to_bytes(4, "big")
        + b"moov"
        + (8).to_bytes(4, "big")
        + b"free"
    )
    with pytest.raises(ValueError, match="mvhd"):
        parse_mp4(no_mvhd)


def test_m_mp4_meta_catalog_query(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext4 import q_m_mp4_meta

    out = q_m_mp4_meta(spark, sf_dir).toPandas()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(out) == n_docs
    assert (out["n_boxes"] == 6).all() and (out["timescale"] == 1000).all()
    # duration_s is the exact same division both engines perform
    assert (out["duration_s"] == out["duration"] / 1000).all()


def test_p_winsorize_tukey_fences(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext4 import q_p_winsorize

    out = q_p_winsorize(spark, sf_dir).toPandas()
    # clipped values always inside the fences; unclipped rows unchanged
    assert (out["clipped"] >= out["fence_lo"]).all()
    assert (out["clipped"] <= out["fence_hi"]).all()
    un = out[~out["was_clipped"]]
    assert (un["clipped"] == un["cents"].astype(float)).all()
    # fences recomputed with numpy's linear interpolation (same formula)
    for name, grp in out.groupby("n_name"):
        q1, q3 = np.percentile(grp["cents"].astype(float), [25, 75], method="linear")
        assert grp["fence_lo"].iloc[0] == q1 - 1.5 * (q3 - q1)
        assert grp["fence_hi"].iloc[0] == q3 + 1.5 * (q3 - q1)


def test_w30_path_analysis_matches_pandas_recompute(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext4 import q_w30_path_analysis

    out = q_w30_path_analysis(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events").toPandas().sort_values(
        ["user_id", "ts", "event_id"]
    )
    from collections import Counter

    paths = Counter()
    for _, grp in ev.groupby("user_id"):
        cur, last = [], None
        sess = []
        for r in grp.itertuples():
            if last is not None and (r.ts - last) > pd.Timedelta(minutes=30):
                sess.append(cur)
                cur = []
            cur.append(r.event_type)
            last = r.ts
        sess.append(cur)
        for s in sess:
            paths[">".join(s[:8])] += 1
    expect = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = list(zip(out["path"], out["n_sessions"]))
    assert got == expect


def test_w31_interval_coalesce_properties(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext4 import (
        q_w31_interval_coalesce,
    )

    out = q_w31_interval_coalesce(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events").toPandas()
    assert out["n_events"].sum() == len(ev)  # every event in exactly one block
    # blocks within a user are disjoint and ordered, and each block's
    # coverage >= its longest single interval
    out["bs"] = pd.to_datetime(out["block_start"])
    out["be"] = pd.to_datetime(out["block_end"])
    for _, grp in out.groupby("user_id"):
        g = grp.sort_values("island")
        assert (g["be"].values[:-1] <= g["bs"].values[1:]).all()
        assert (g["covered_us"] >= 60_000_000).all()  # min duration 60s
    # sequential recompute for a few users
    ev["dur_s"] = (ev["value"] * 100).round().astype("int64") % 5400 + 60
    ev["te"] = ev["ts"] + pd.to_timedelta(ev["dur_s"], unit="s")
    for uid in sorted(ev["user_id"].unique())[:5]:
        g = ev[ev["user_id"] == uid].sort_values(["ts", "event_id"])
        blocks, cur_s, cur_e, n = [], None, None, 0
        for r in g.itertuples():
            if cur_e is None or r.ts > cur_e:
                if cur_e is not None:
                    blocks.append((cur_s, cur_e, n))
                cur_s, cur_e, n = r.ts, r.te, 0
            cur_e = max(cur_e, r.te)
            n += 1
        blocks.append((cur_s, cur_e, n))
        got = out[out["user_id"] == uid].sort_values("island")
        assert len(got) == len(blocks)
        for (bs, be, bn), r in zip(blocks, got.itertuples()):
            # block_start/end are second-precision display strings
            assert r.bs == bs.floor("s") and r.be == be.floor("s")
            assert r.n_events == bn


def test_codec_parsers_never_crash_on_arbitrary_bytes():
    """Every real codec parser must reject malformed input with
    ValueError (the declared fallback signal) — never IndexError /
    struct.error / infinite loop — including truncations and bit-flips
    of VALID payloads, the adversarial middle ground."""
    from factory_inspectors_db_etl_spark.operators.multimodal import (
        decode_mp4,
        decode_png,
        decode_ppm,
        decode_wav_pcm,
        encode_mp4_min,
        encode_png,
        encode_wav,
        wav_frame_energies,
    )

    i = np.arange(128, dtype="int64")
    valid = [
        encode_png(((i[:60] * 7) % 256).astype("u1").reshape(4, 5, 3)),
        encode_wav(((i * 13) % 4096 - 2048).astype("<i2")),
        encode_mp4_min(1000, 1234, 64, 48, b"x" * 10),
        b"P6\n5 4\n255\n" + bytes(range(60)),
    ]
    decoders = [decode_png, decode_wav_pcm, decode_mp4, decode_ppm, wav_frame_energies]
    # deterministic corruption grid: truncations + single-byte flips
    for payload in valid:
        for cut in (0, 1, 7, 11, len(payload) // 2, len(payload) - 1):
            for dec in decoders:
                try:
                    dec(payload[:cut])
                except ValueError:
                    pass  # the contract
        for pos in range(0, len(payload), max(1, len(payload) // 17)):
            mutated = bytearray(payload)
            mutated[pos] ^= 0xFF
            for dec in decoders:
                try:
                    dec(bytes(mutated))
                except ValueError:
                    pass


def test_p_chi2_contributions_match_scipy_free_recompute(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext4 import (
        q_p_chi2_independence,
    )

    out = q_p_chi2_independence(spark, sf_dir).toPandas()
    n = out["observed"].sum()
    # exact integer recompute of each cell's contribution
    r = out.groupby("event_type")["observed"].sum().to_dict()
    c = out.groupby("dow")["observed"].sum().to_dict()
    for row in out.itertuples():
        rt, ct = r[row.event_type], c[row.dow]
        diff = n * row.observed - rt * ct
        assert row.expected_e6 == (rt * ct * 1_000_000) // n
        assert row.contrib_e6 == (diff * diff * 1_000_000) // (n * rt * ct)
    # marginal identity: sum of observed == sum of expected (within the
    # floor-division slack of one millionth per cell)
    assert abs(out["expected_e6"].sum() / 1e6 - n) < len(out) * 1e-6 + 1e-6


def test_e4_relational_division_matches_set_recompute(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext4 import (
        q_e4_relational_division,
    )

    out = q_e4_relational_division(spark, sf_dir).toPandas()
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority").toPandas()
    all_p = set(o["o_orderpriority"])
    per = o.groupby("o_custkey")["o_orderpriority"].agg(set)
    expect = {k for k, v in per.items() if v == all_p}
    assert set(out["c_custkey"]) == expect
    counts = o.groupby("o_custkey").size()
    for r in out.itertuples():
        assert r.n_orders == counts[r.c_custkey]


def test_mp4_nesting_depth_raises_valueerror_not_recursionerror():
    """ADVICE r6: ~8KB of nested 'moov' headers blew the Python
    recursion limit — a RecursionError escapes decode_and_featurize's
    (NotImplementedError, ValueError) net and crashes the Spark task
    instead of taking the byte fallback.  Pin the depth cap: a
    1000-deep container tree raises ValueError ('nesting'), and a
    realistic 5-deep tree still parses."""
    from factory_inspectors_db_etl_spark.operators.multimodal import (
        encode_mp4_min,
        parse_mp4,
    )

    # innermost: a valid mvhd so only the depth is at issue
    mvhd_body = bytes(12) + (1000).to_bytes(4, "big") + (42).to_bytes(4, "big")
    inner = (8 + len(mvhd_body)).to_bytes(4, "big") + b"mvhd" + mvhd_body
    deep = inner
    for _ in range(1000):
        deep = (8 + len(deep)).to_bytes(4, "big") + b"moov" + deep
    payload = b"\x00\x00\x00\x10ftypisom\x00\x00\x00\x00" + deep
    with pytest.raises(ValueError, match="nesting"):
        parse_mp4(payload)
    # genuine shallow file still parses (encode_mp4_min nests 2 levels)
    m = parse_mp4(encode_mp4_min(1000, 5000, 64, 48, b"x" * 4))
    assert m["timescale"] == 1000 and m["duration"] == 5000
