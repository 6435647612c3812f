"""catalog_ext8 operator properties (built r9; g10/t_mattr/t_rake/t_ppl
promoted to the r10 driver window, m_bmp_decode staged for r12):
independent brute-force twins, same discipline as test_round9_ops.

The g10 twin doubles as the correctness pin for the r10 degree-ordered
triangle-enumeration rewrite (VERDICT r9 item #2): the brute force
computes every edge's neighbor sets directly, so any wedge miscount
from the orientation change fails here before it reaches the oracle.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.plans.catalog_ext8 import (
    _MATTR_W,
    _RAKE_STOP,
    _RAKE_TOP,
    q_t_mattr,
    q_t_rake_keyphrases,
)
from factory_inspectors_db_etl_spark.plans.catalog_graph import q_g10_neighbor_jaccard
from factory_inspectors_db_etl_spark.sources.tables import load_table


def _edges(spark, sf_dir):
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
    return {
        (r["u"], r["v"])
        for r in a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .collect()
    }


def test_g10_jaccard_matches_bruteforce(spark, sf_dir):
    edges = _edges(spark, sf_dir)
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    out = q_g10_neighbor_jaccard(spark, sf_dir).collect()
    assert {(r["u"], r["v"]) for r in out} == edges  # one row per edge
    for r in out:
        u, v = r["u"], r["v"]
        shared = len(adj[u] & adj[v])
        union = len((adj[u] - {v}) | (adj[v] - {u}))
        assert r["n_shared"] == shared
        assert (r["deg_u"], r["deg_v"]) == (len(adj[u]), len(adj[v]))
        if union == 0:
            assert r["jaccard"] is None
        else:
            assert abs(r["jaccard"] - shared / union) < 1e-15


def test_t_mattr_matches_direct_window_scan(spark, sf_dir):
    """The difference-array formulation must equal the textbook O(n*W)
    per-window distinct scan."""
    docs = {
        r["doc_id"]: (r["text"] or "")
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    got = {r["doc_id"]: r for r in q_t_mattr(spark, sf_dir).collect()}
    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        toks = text.strip().lower().split()
        r = got[doc_id]
        assert r["n_tokens"] == len(toks)
        if not toks:
            assert r["mattr"] is None and r["n_windows"] == 0
            continue
        w = min(_MATTR_W, len(toks))
        starts = range(len(toks) - w + 1)
        total = sum(len(set(toks[s : s + w])) for s in starts)
        assert r["n_windows"] == len(starts) and r["window_w"] == w
        assert abs(r["mattr"] - total / (len(starts) * w)) < 1e-12


def test_t_mattr_repetitive_vs_diverse_hand_docs(spark, tmp_path):
    sf = str(tmp_path)
    diverse = " ".join(f"tok{i}" for i in range(150))
    repetitive = " ".join("spam ham" for _ in range(75))
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [diverse, repetitive, ""],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [1, 1, 0],
        }
    ).to_parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: r for r in q_t_mattr(spark, sf).collect()}
    assert got[1]["mattr"] == 1.0  # all distinct in every window
    assert abs(got[2]["mattr"] - 2 / _MATTR_W) < 1e-12  # two types per window
    assert got[3]["mattr"] is None and got[3]["n_tokens"] == 0


def _rake_bruteforce(text: str) -> list[tuple[str, float]]:
    norm = re.sub(r"[^a-z0-9\s]", " ", text.lower())
    stop = set(_RAKE_STOP)
    phrases: list[list[str]] = []
    cur: list[str] = []
    for tok in norm.split():
        if tok in stop:
            if cur:
                phrases.append(cur)
            cur = []
        else:
            cur.append(tok)
    if cur:
        phrases.append(cur)
    deg_extra: dict[str, int] = {}
    freq: dict[str, int] = {}
    for p in phrases:
        for wd in p:
            deg_extra[wd] = deg_extra.get(wd, 0) + len(p) - 1
            freq[wd] = freq.get(wd, 0) + 1
    wscore6 = {
        wd: round((deg_extra[wd] + freq[wd]) * 1_000_000.0 / freq[wd]) for wd in freq
    }
    pscore: dict[str, int] = {}
    for p in phrases:
        pscore[" ".join(p)] = sum(wscore6[wd] for wd in p)
    ranked = sorted(pscore.items(), key=lambda kv: (-kv[1], kv[0]))[:_RAKE_TOP]
    return [(ph, s / 1e6) for ph, s in ranked]


def test_t_rake_matches_bruteforce(spark, sf_dir):
    docs = {
        r["doc_id"]: (r["text"] or "")
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    got: dict[int, list] = {}
    for r in q_t_rake_keyphrases(spark, sf_dir).collect():
        got.setdefault(r["doc_id"], []).append((r["rank"], r["phrase"], r["score"]))
    n_checked = 0
    for doc_id, text in docs.items():
        want = _rake_bruteforce(text)
        rows = sorted(got.get(doc_id, []))
        assert len(rows) == len(want), f"doc {doc_id}: {len(rows)} vs {len(want)}"
        for (rank, phrase, score), (wp, ws) in zip(rows, want):
            assert phrase == wp, f"doc {doc_id} rank {rank}: {phrase!r} != {wp!r}"
            assert math.isclose(score, ws, abs_tol=1e-9)
            n_checked += 1
    assert n_checked > 0


def test_t_rake_hand_example(spark, tmp_path):
    sf = str(tmp_path)
    pd.DataFrame(
        {
            "doc_id": [1],
            "text": ["Deep learning of compact models is the art of compact models."],
            "lang": ["en"],
            "source": ["s"],
            "n_chars": [1],
        }
    ).to_parquet(f"{sf}/documents.parquet")
    rows = {r["rank"]: r for r in q_t_rake_keyphrases(spark, sf).collect()}
    # phrases: "deep learning" (of) "compact models" (is the art of)
    # "compact models" -> compact/models freq 2 deg_extra 2 -> wscore 2.0
    # deep/learning freq 1 deg_extra 1 -> wscore 2.0
    assert rows[1]["phrase"] == "compact models" and rows[1]["score"] == 4.0
    assert rows[2]["phrase"] == "deep learning" and rows[2]["score"] == 4.0


def test_t_lm_perplexity_matches_bruteforce(spark, sf_dir):
    """From-scratch Laplace unigram NLL over the same hash split."""
    from factory_inspectors_db_etl_spark.operators.dedup import portable_hash60
    from factory_inspectors_db_etl_spark.plans.catalog_ext8 import (
        _PPL_SCALE,
        q_t_lm_perplexity,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (portable_hash60(F.col("text")) % 10_000 < 8_000).alias("is_train"),
    )
    rows = d.collect()
    vocab: dict[str, int] = {}
    for r in rows:
        if r["is_train"] and r["text"] is not None:
            for tok in r["text"].lower().strip().split():
                vocab[tok] = vocab.get(tok, 0) + 1
    T, V = sum(vocab.values()), len(vocab)
    got = {r["doc_id"]: r for r in q_t_lm_perplexity(spark, sf_dir).collect()}
    heldout = [r for r in rows if r["is_train"] is False]
    assert len(got) == len(heldout) and len(heldout) > 0
    for r in heldout:
        toks = (r["text"] or "").lower().strip().split()
        nll = -sum(
            round(math.log((vocab.get(t, 0) + 1) / (T + V)) * _PPL_SCALE)
            for t in toks
        )
        g = got[r["doc_id"]]
        assert g["n_tokens"] == len(toks)
        assert g["n_oov"] == sum(1 for t in toks if t not in vocab)
        assert g["nll_e6"] == nll
        if toks:
            assert abs(g["avg_nll"] - nll / (len(toks) * _PPL_SCALE)) < 1e-12
            assert g["avg_nll"] > 0  # log-probs are negative
        else:
            assert g["avg_nll"] is None


# ---------------------------------------------------------------------------
# pure-python hypothesis twins for the subtle round-9 algorithm math
# (no Spark session — these pin the DERIVATIONS the queries implement)
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


def _mattr_diff_array(toks: list[str], W: int) -> tuple[int, int, int]:
    """Pure-python replica of q_t_mattr's difference-array derivation:
    (sum_distinct, n_windows, weff)."""
    n = len(toks)
    if n == 0:
        return 0, 0, 0
    weff = min(W, n)
    n_windows = n - weff + 1
    prev: dict[str, int] = {}
    events: dict[int, int] = {}
    for i, t in enumerate(toks, start=1):
        p = prev.get(t, 0)
        lo = max(i - weff + 1, p + 1, 1)
        hi = min(i, n_windows)
        if lo <= hi:
            events[lo] = events.get(lo, 0) + 1
            events[hi + 1] = events.get(hi + 1, 0) - 1
        prev[t] = i
    total = 0
    cum = 0
    pts = sorted(s for s in events if s <= n_windows)
    for idx, s in enumerate(pts):
        cum += events[s]
        nxt = pts[idx + 1] if idx + 1 < len(pts) else n_windows + 1
        total += cum * (min(nxt, n_windows + 1) - s)
    return total, n_windows, weff


@given(
    st.lists(st.sampled_from("abcde"), min_size=0, max_size=60),
    st.integers(1, 12),
)
@settings(max_examples=500, deadline=None)
def test_mattr_difference_array_identity(toks, W):
    """The +1/-1 event formulation must equal the direct per-window
    distinct scan on ARBITRARY token sequences and window widths —
    adversarial repeats at window boundaries included (the synthetic
    corpus can't generate those)."""
    total, n_windows, weff = _mattr_diff_array(toks, W)
    if not toks:
        assert (total, n_windows, weff) == (0, 0, 0)
        return
    want = sum(
        len(set(toks[s : s + weff])) for s in range(len(toks) - weff + 1)
    )
    assert total == want
    assert n_windows == len(toks) - weff + 1


@given(st.lists(st.integers(-10**9, 10**9), min_size=1, max_size=50))
@settings(max_examples=500, deadline=None)
def test_cusum_integer_argmax_equals_fraction_form(ys):
    """w35's integer-scaled deviation |n*C_i - i*T| must pick the same
    change-point as the textbook float form |C_i - i*T/n| computed with
    exact Fractions (earliest-index tiebreak both sides)."""
    from fractions import Fraction

    n = len(ys)
    T = sum(ys)
    best_int, dev_int = None, -1
    best_fr, dev_fr = None, Fraction(-1)
    c = 0
    for i, y in enumerate(ys, start=1):
        c += y
        di = abs(n * c - i * T)
        if di > dev_int:
            best_int, dev_int = i, di
        df = abs(Fraction(c) - Fraction(i * T, n))
        if df > dev_fr:
            best_fr, dev_fr = i, df
    assert best_int == best_fr
    assert dev_int == dev_fr * n


# ---------------------------------------------------------------------------
# M-BMP: the fifth raster codec (staged query q_m_bmp_decode)
# ---------------------------------------------------------------------------

import numpy as np  # noqa: E402


def test_bmp_roundtrip_exact_including_stride_padding():
    """decode(encode(px)) must return the exact pixel array for widths
    with every stride-padding residue (w*3 mod 4 = 0..3) — the format's
    classic off-by-stride bug surface."""
    from factory_inspectors_db_etl_spark.operators.multimodal import (
        _parse_bmp,
        encode_bmp,
    )

    rng = np.random.RandomState(11)
    for w in (3, 4, 5, 6, 1, 8):
        for h in (1, 2, 5):
            px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
            b = encode_bmp(px)
            w2, h2, px2 = _parse_bmp(b)
            assert (w2, h2) == (w, h)
            assert (px2 == px).all()


def test_bmp_top_down_variant_decodes_identically():
    """Negative biHeight = top-down row order (the documented DIB
    variant): same pixels must come back."""
    import struct

    from factory_inspectors_db_etl_spark.operators.multimodal import (
        _parse_bmp,
        encode_bmp,
    )

    rng = np.random.RandomState(12)
    px = rng.randint(0, 256, (3, 5, 3)).astype(np.uint8)
    b = bytearray(encode_bmp(px))
    h, stride = 3, (5 * 3 + 3) & ~3
    struct.pack_into("<i", b, 22, -h)
    rows = [bytes(b[54 + i * stride : 54 + (i + 1) * stride]) for i in range(h)]
    b[54 : 54 + stride * h] = b"".join(reversed(rows))
    _, _, px2 = _parse_bmp(bytes(b))
    assert (px2 == px).all()


def test_bmp_rejects_unsupported_profiles():
    from factory_inspectors_db_etl_spark.operators.multimodal import (
        _parse_bmp,
        encode_bmp,
    )
    import struct

    import pytest

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    good = encode_bmp(px)
    for offset, value in ((28, 8), (30, 1)):  # bpp=8, compression=RLE8
        bad = bytearray(good)
        struct.pack_into("<H" if offset == 28 else "<I", bad, offset, value)
        with pytest.raises(ValueError, match="unsupported profile"):
            _parse_bmp(bytes(bad))
    with pytest.raises(ValueError, match="bad magic"):
        _parse_bmp(b"XX" + good[2:])
    with pytest.raises(ValueError, match="truncated raster"):
        _parse_bmp(good[:-4])


def test_g10_exact_on_hub_skewed_graph(spark, tmp_path):
    """The degree-ordered rewrite exists FOR hub skew (VERDICT r9 item
    #2), so pin exactness on a graph that has some: a hub part
    co-purchased with every rim part (deg 20) plus a rim ring (deg 3)
    plus one isolated edge (deg 1 endpoints -> NULL jaccard).  Every
    triangle contains the hub, so any orientation/double-count bug in
    the min-rank wedge enumeration shows up as a wrong n_shared here,
    where the brute force is trivially checkable by hand."""
    import pandas as pd

    sf = str(tmp_path)
    orders, lineitem = [], []
    n_rim = 20
    for k in range(1, n_rim + 1):
        orders.append((k, "1-URGENT"))
        nxt = k + 1 if k < n_rim else 1
        for part in (0, k, nxt):  # hub + ring edge per order
            lineitem.append((k, part))
    orders.append((99, "1-URGENT"))  # isolated edge, both degrees 1
    lineitem += [(99, 100), (99, 101)]
    orders.append((98, "3-MEDIUM"))  # wrong priority: must be filtered out
    lineitem += [(98, 0), (98, 500)]
    pd.DataFrame(orders, columns=["o_orderkey", "o_orderpriority"]).to_parquet(
        f"{sf}/orders.parquet"
    )
    pd.DataFrame(lineitem, columns=["l_orderkey", "l_partkey"]).to_parquet(
        f"{sf}/lineitem.parquet"
    )

    edges = _edges(spark, sf)
    assert (100, 101) in edges and not any(500 in e for e in edges)
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    assert len(adj[0]) == n_rim  # the hub really is skewed

    out = {(r["u"], r["v"]): r for r in q_g10_neighbor_jaccard(spark, sf).collect()}
    assert set(out) == edges
    for (u, v), r in out.items():
        shared = len(adj[u] & adj[v])
        union = len((adj[u] - {v}) | (adj[v] - {u}))
        assert r["n_shared"] == shared, (u, v)
        assert (r["deg_u"], r["deg_v"]) == (len(adj[u]), len(adj[v]))
        if union == 0:
            assert r["jaccard"] is None
            assert (u, v) == (100, 101)
        else:
            assert abs(r["jaccard"] - shared / union) < 1e-12
