"""Round-7 operator tests: the real baseline-JPEG codec
(operators/jpeg.py) — bit-exact constant-block round-trips across
grayscale / YCbCr 4:4:4 / 4:2:0 / restart-marker paths, lossy-close
behavior on arbitrary content, declared-fallback rejections
(progressive, arithmetic, 12-bit), and the corruption-grid contract
(malformed bytes raise ValueError only, never IndexError/crash)."""

from __future__ import annotations

import numpy as np
import pytest

from factory_inspectors_db_etl_spark.operators.jpeg import (
    decode_jpeg,
    encode_jpeg,
    parse_jpeg,
)
from factory_inspectors_db_etl_spark.sources.tables import load_table


def _const_blocks(seed: int, hb: int, wb: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    grid = rng.randint(0, 256, size=(hb, wb)).astype("u1")
    return np.repeat(np.repeat(grid, 8, axis=0), 8, axis=1)


def test_jpeg_grayscale_constant_blocks_roundtrip_bit_exact():
    y = _const_blocks(1, 3, 5)
    w, h, nc, planes = parse_jpeg(encode_jpeg(y))
    assert (w, h, nc) == (40, 24, 1)
    assert np.array_equal(planes[0], y)


def test_jpeg_color_444_neutral_chroma_is_exactly_luma():
    # Cb = Cr = 128 makes the JFIF conversion an identity: R=G=B=Y
    y = _const_blocks(2, 2, 4)
    flat = np.full_like(y, 128)
    w, h, nc, planes = parse_jpeg(encode_jpeg(y, flat, flat))
    assert nc == 3
    assert np.array_equal(planes[0], y)
    assert np.array_equal(planes[1], flat) and np.array_equal(planes[2], flat)
    feats = decode_jpeg(encode_jpeg(y, flat, flat))
    # all three RGB channel means equal the luma mean, exactly
    assert feats[3] == feats[4] == feats[5] == int(y.sum()) / (y.size * 255)


def test_jpeg_420_subsampled_roundtrip_and_upsample():
    # 4:2:0 needs multiple-of-16 luma dims: 16x32 of constant 16x16 tiles
    y = np.repeat(np.repeat(_const_blocks(3, 1, 2), 2, axis=0), 2, axis=1)
    cb = np.full((8, 16), 90, dtype="u1")
    cr = np.full((8, 16), 170, dtype="u1")
    w, h, nc, planes = parse_jpeg(encode_jpeg(y, cb, cr, subsample=True))
    assert (w, h, nc) == (32, 16, 3)
    assert np.array_equal(planes[0], y)
    # chroma replicated 2x2 back to full resolution
    assert np.array_equal(planes[1], np.repeat(np.repeat(cb, 2, 0), 2, 1))
    assert np.array_equal(planes[2], np.repeat(np.repeat(cr, 2, 0), 2, 1))


def test_jpeg_restart_markers_roundtrip():
    y = _const_blocks(4, 4, 5)
    for ri in (1, 2, 3, 7):
        _, _, _, planes = parse_jpeg(encode_jpeg(y, restart_interval=ri))
        assert np.array_equal(planes[0], y), f"restart_interval={ri}"


def test_jpeg_nonconstant_content_is_lossy_close():
    # arbitrary content: DCT rounding error stays within ±2 per pixel
    # with all-ones quant tables (sanity that the general path is a real
    # decoder, not a constant-block special case)
    y = ((np.arange(24 * 32).reshape(24, 32) * 7 + 13) % 256).astype("u1")
    _, _, _, planes = parse_jpeg(encode_jpeg(y))
    assert int(np.abs(planes[0].astype(int) - y.astype(int)).max()) <= 2


def test_jpeg_rejects_progressive_and_friends():
    y = _const_blocks(5, 2, 2)
    pl = bytearray(encode_jpeg(y))
    sof = pl.index(b"\xff\xc0")
    for marker, what in ((0xC2, "progressive"), (0xC9, "arithmetic"), (0xCA, "prog-arith")):
        mutated = bytearray(pl)
        mutated[sof + 1] = marker
        with pytest.raises(ValueError, match="baseline"):
            parse_jpeg(bytes(mutated))
    # 12-bit precision
    mutated = bytearray(pl)
    mutated[sof + 4] = 12
    with pytest.raises(ValueError, match="precision"):
        parse_jpeg(bytes(mutated))


def test_jpeg_corruption_grid_valueerror_only():
    """Same contract as the PNG/WAV/MP4 corruption grids: truncations
    and byte-flips of a valid payload either decode (a flip inside
    entropy data can still be decodable) or raise ValueError — never
    IndexError / KeyError / struct.error / RecursionError."""
    y = _const_blocks(6, 3, 4)
    flat = np.full_like(y, 128)
    payloads = [
        encode_jpeg(y, restart_interval=2),
        encode_jpeg(y, flat, flat),
    ]
    for payload in payloads:
        for cut in (0, 1, 2, 7, 19, len(payload) // 2, len(payload) - 1):
            try:
                decode_jpeg(payload[:cut])
            except ValueError:
                pass
        for pos in range(0, len(payload), max(1, len(payload) // 41)):
            mutated = bytearray(payload)
            mutated[pos] ^= 0xFF
            try:
                decode_jpeg(bytes(mutated))
            except ValueError:
                pass


def test_jpeg_rejects_undefined_tables_and_bad_scan():
    y = _const_blocks(7, 2, 2)
    pl = encode_jpeg(y)
    # strip the DHT segments: scan then references undefined tables
    dht = pl.index(b"\xff\xc4")
    out = bytearray(pl[:dht])
    pos = dht
    while pl[pos : pos + 2] == b"\xff\xc4":
        pos += 2 + int.from_bytes(pl[pos + 2 : pos + 4], "big")
    out += pl[pos:]
    with pytest.raises(ValueError, match="Huffman table"):
        parse_jpeg(bytes(out))
    with pytest.raises(ValueError, match="SOI"):
        parse_jpeg(b"not a jpeg at all")
    with pytest.raises(ValueError):
        parse_jpeg(b"\xff\xd8\xff\xd9")  # SOI+EOI, no frame


def test_m_jpeg_decode_catalog_query(spark, sf_dir):
    """The registered query decodes REAL JPEG payloads for every doc and
    reproduces the SQL pixel rule bit-exactly (the oracle hash-match runs
    in test_catalog_vs_duckdb; here pin the Python-side replay and that
    both the grayscale and color arms exercise the real decoder)."""
    from factory_inspectors_db_etl_spark.plans.catalog_ext5 import q_m_jpeg_decode

    out = q_m_jpeg_decode(spark, sf_dir).toPandas().set_index("doc_id")
    docs = load_table(spark, sf_dir, "documents").toPandas().set_index("doc_id")
    assert len(out) == len(docs)
    for did, row in out.iterrows():
        text = docs.loc[did, "text"] or ""
        wb, hb = did % 4 + 2, did % 3 + 2
        codes = [ord(c) % 256 for c in text]
        n = wb * hb
        s = sum(codes[b % len(codes)] if codes else 0 for b in range(n))
        assert row["width"] == wb * 8 and row["height"] == hb * 8
        assert row["n_components"] == (3 if did % 2 == 0 else 1)
        assert row["mean_gray"] == s / (n * 255)
        assert row["mean_all"] == row["mean_gray"]


def test_w32_interval_concurrency_matches_sequential_sweep(spark, sf_dir):
    """Per-supplier peak concurrency equals a brute-force day-by-day
    count of covering intervals (the sequential statement the sweep
    line replaces)."""
    import datetime as dt

    from factory_inspectors_db_etl_spark.plans.catalog_ext5 import (
        q_w32_interval_concurrency,
    )

    out = q_w32_interval_concurrency(spark, sf_dir).toPandas().set_index("suppkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .selectExpr(
            "cast(l_suppkey as long) s",
            "to_date(l_shipdate) d0",
            "cast(l_quantity as int) % 20 + 3 tr",
        )
        .toPandas()
    )
    for s, grp in li.groupby("s"):
        counts: dict[dt.date, int] = {}
        for _, r in grp.iterrows():
            for k in range(int(r["tr"]) + 1):
                day = r["d0"] + dt.timedelta(days=k)
                counts[day] = counts.get(day, 0) + 1
        peak = max(counts.values())
        first = min(d for d, c in counts.items() if c == peak)
        assert out.loc[s, "peak_in_transit"] == peak
        assert out.loc[s, "first_peak_date"] == first.strftime("%Y-%m-%d")


def test_w32_single_shuffle_plan(spark, sf_dir):
    """The sweep line's whole chain (per-day aggregate, ordered cumsum
    window, max window, final group-by) must ride ONE hash exchange —
    the subset-key repartition trick; a second exchange means the
    aggregate stopped reusing the supplier partitioning."""
    import re

    from factory_inspectors_db_etl_spark.plans.catalog_ext5 import (
        q_w32_interval_concurrency,
    )

    plan = (
        q_w32_interval_concurrency(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_t_collocation_lift_matches_brute_force(spark, sf_dir):
    """Top-k collocations equal a pandas brute-force recompute: distinct
    words per doc, df >= 5 vocab, co-occurrence counts, exact integer
    lift, same total order."""
    import itertools
    import re as _re
    from collections import Counter

    from factory_inspectors_db_etl_spark.plans.catalog_ext5 import (
        _COLL_MIN_CO,
        _COLL_MIN_DF,
        _COLL_TOPK,
        q_t_collocation_lift,
    )

    out = q_t_collocation_lift(spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents").select("text").toPandas()["text"]
    N = len(docs)
    doc_words = [
        sorted(
            {
                w
                for w in _re.sub(r"\s+", " ", (t or "").strip().lower()).split(" ")
                if w
            }
        )
        for t in docs
    ]
    df = Counter(w for ws in doc_words for w in ws)
    vocab = {w for w, c in df.items() if c >= _COLL_MIN_DF}
    co = Counter()
    for ws in doc_words:
        kept = [w for w in ws if w in vocab]
        co.update(itertools.combinations(kept, 2))
    rows = [
        (w1, w2, c, df[w1], df[w2], (c * N * 10**6) // (df[w1] * df[w2]))
        for (w1, w2), c in co.items()
        if c >= _COLL_MIN_CO
    ]
    rows.sort(key=lambda r: (-r[5], r[0], r[1]))
    want = rows[:_COLL_TOPK]
    got = [tuple(r) for r in out.itertuples(index=False)]
    assert got == want


def test_t_collocation_pair_expansion_is_columnar_no_self_join(spark, sf_dir):
    """Pair generation must be the in-place higher-order transform, not
    a doc_id self-join: exactly 2 data shuffles (per-doc collapse + the
    (w1, w2) aggregate) besides the one-time vocab barrier, and no
    SortMergeJoin anywhere."""
    import re

    from factory_inspectors_db_etl_spark.plans.catalog_ext5 import (
        q_t_collocation_lift,
    )

    plan = (
        q_t_collocation_lift(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2


def test_semantic_dedup_auto_cell_count_scales_with_corpus(spark, sf_dir):
    """n_clusters='auto' sizes the cell count from the corpus
    (k = max(16, n // target_cell_size)) so the O(n²·n_probe/k) pair
    term stays linear as data grows — and where auto resolves to the
    same k as the literal, the output is identical row for row."""
    from factory_inspectors_db_etl_spark.operators.similarity import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    target = max(1, n // 16)  # forces auto-k == 16 on this corpus
    auto = semantic_dedup(
        e, n_clusters="auto", threshold=0.40, n_probe=2, target_cell_size=target,
        assign="exact",
    )
    fixed = semantic_dedup(e, n_clusters=16, threshold=0.40, n_probe=2, assign="exact")
    a = sorted(map(tuple, auto.collect()))
    b = sorted(map(tuple, fixed.collect()))
    assert a == b and len(a) == n
    # and a larger corpus under the same target gets MORE cells: pin the
    # arithmetic (k doubles when n doubles)
    base = e.select("vec_id", "embedding")
    doubled = base.unionAll(base.selectExpr(f"vec_id + {n} as vec_id", "embedding"))
    out = semantic_dedup(
        doubled, n_clusters="auto", threshold=0.40, target_cell_size=target,
        assign="exact",
    )
    # auto-k = 2n // target = 32 cells -> cluster ids span beyond the
    # first 16 vec_ids (first_n centroids are vec_id < k)
    assert out.agg({"cluster_id": "max"}).first()[0] >= 16
    import pytest as _pytest

    with _pytest.raises(ValueError, match="auto"):
        semantic_dedup(e, n_clusters="16")


def test_jpeg_dimension_bomb_rejected_before_allocation():
    """A malformed SOF claiming 65535x65535 must raise ValueError at the
    header (16M-pixel cap), not allocate multi-GB planes and then fail
    in the entropy decode."""
    y = _const_blocks(8, 2, 2)
    pl = bytearray(encode_jpeg(y))
    sof = pl.index(b"\xff\xc0")
    pl[sof + 5 : sof + 7] = (65535).to_bytes(2, "big")  # height
    pl[sof + 7 : sof + 9] = (65535).to_bytes(2, "big")  # width
    with pytest.raises(ValueError, match="16M-pixel cap"):
        parse_jpeg(bytes(pl))


def test_gif_roundtrips_dictionary_growth_interlace_and_palette():
    """GIF is lossless: every path round-trips bit-exactly — plain,
    interlaced (the 8/8/4/2 four-pass order), a raster long enough to
    grow the LZW dictionary past width escalations and the 4096-entry
    CLEAR reset, and a non-identity palette."""
    from factory_inspectors_db_etl_spark.operators.gif import encode_gif, parse_gif

    rng = np.random.RandomState(11)
    idx = rng.randint(0, 256, size=(23, 37)).astype("u1")
    for interlace in (False, True):
        w, h, rgb = parse_gif(encode_gif(idx, interlace=interlace))
        assert (w, h) == (37, 23)
        for c in range(3):  # identity grayscale palette: RGB == index
            assert np.array_equal(rgb[:, :, c], idx)
    big = np.tile(np.arange(64, dtype="u1"), 4096).reshape(256, 1024)
    _, _, rgb = parse_gif(encode_gif(big))
    assert np.array_equal(rgb[:, :, 0], big)
    pal = np.zeros((256, 3), dtype="u1")
    pal[:, 0] = np.arange(256)
    pal[:, 2] = 255 - np.arange(256)
    _, _, rgb = parse_gif(encode_gif(idx, palette=pal))
    assert np.array_equal(rgb[:, :, 0], idx)
    assert np.array_equal(rgb[:, :, 2], 255 - idx)
    # a logical screen larger than the first image (valid per spec): the
    # decoder rasterizes the image descriptor's dims
    screen = bytearray(encode_gif(idx))
    screen[6:10] = (200).to_bytes(2, "little") + (100).to_bytes(2, "little")
    w, h, rgb = parse_gif(bytes(screen))
    assert (w, h) == (37, 23) and np.array_equal(rgb[:, :, 0], idx)


def test_gif_corruption_grid_and_rejections():
    """Corruption-grid contract (truncations + byte flips -> ValueError
    or a clean decode, never a crash), 89a extension skipping, and the
    dimension-bomb cap."""
    from factory_inspectors_db_etl_spark.operators.gif import decode_gif, encode_gif, parse_gif

    idx = (np.arange(15 * 11).reshape(15, 11) % 256).astype("u1")
    payload = encode_gif(idx, interlace=True)
    for cut in (0, 5, 12, 13 + 700, len(payload) // 2, len(payload) - 1):
        try:
            decode_gif(payload[:cut])
        except ValueError:
            pass
    for pos in range(0, len(payload), max(1, len(payload) // 41)):
        mutated = bytearray(payload)
        mutated[pos] ^= 0xFF
        try:
            decode_gif(bytes(mutated))
        except ValueError:
            pass
    # 89a with a graphic-control extension before the image: still decodes
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    with_ext = b"GIF89a" + payload[6 : 13 + 768] + ext + payload[13 + 768 :]
    _, _, rgb = parse_gif(with_ext)
    assert np.array_equal(rgb[:, :, 0], idx)
    # dimension bomb rejected at the descriptor, not at allocation
    bomb = bytearray(payload)
    bomb[13 + 768 + 5 : 13 + 768 + 7] = (65535).to_bytes(2, "little")
    bomb[13 + 768 + 7 : 13 + 768 + 9] = (65535).to_bytes(2, "little")
    with pytest.raises(ValueError, match="16M-pixel cap"):
        parse_gif(bytes(bomb))
    with pytest.raises(ValueError, match="signature"):
        parse_gif(b"NOTAGIF")


def test_m_gif_decode_catalog_query(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext5 import q_m_gif_decode

    out = q_m_gif_decode(spark, sf_dir).toPandas().set_index("doc_id")
    docs = load_table(spark, sf_dir, "documents").toPandas().set_index("doc_id")
    assert len(out) == len(docs)
    for did, row in out.iterrows():
        text = docs.loc[did, "text"] or ""
        w, h = did % 7 + 4, did % 5 + 3
        codes = [ord(c) % 256 for c in text]
        n = w * h
        s = sum(codes[p % len(codes)] if codes else 0 for p in range(n))
        assert row["width"] == w and row["height"] == h
        assert row["mean_gray"] == s / (n * 255)
        assert row["mean_all"] == row["mean_gray"]


def test_w33_position_attribution_conservation_and_brute_force(spark, sf_dir):
    """Every purchase with >=1 touch distributes EXACTLY 1,000,000
    credit units (conservation), and the per-touch credits equal a
    brute-force per-user recompute of the U-shaped rule."""
    from factory_inspectors_db_etl_spark.plans.catalog_ext5 import (
        _W33_LOOKBACK_US,
        q_w33_position_attribution,
    )

    out = q_w33_position_attribution(spark, sf_dir).toPandas()
    sums = out.groupby("purchase_event_id")["credit_e6"].sum()
    assert (sums == 1_000_000).all()
    ev = (
        load_table(spark, sf_dir, "events")
        .selectExpr(
            "event_id",
            "user_id",
            "event_type",
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) us",
        )
        .toPandas()
    )
    got = {
        (r.purchase_event_id, r.click_event_id): (r.position, r.n_touches, r.credit_e6)
        for r in out.itertuples()
    }
    want = {}
    for _, grp in ev.groupby("user_id"):
        clicks = grp[grp["event_type"] == "click"].sort_values(["us", "event_id"])
        for p in grp[grp["event_type"] == "purchase"].itertuples():
            touch = clicks[(clicks["us"] < p.us) & (clicks["us"] >= p.us - _W33_LOOKBACK_US)]
            n = len(touch)
            for pos, c in enumerate(touch.itertuples(), start=1):
                if n == 1:
                    credit = 1_000_000
                elif n == 2:
                    credit = 500_000
                elif pos == 1:
                    credit = 400_000
                elif pos == n:
                    credit = 400_000 + 200_000 % (n - 2)
                else:
                    credit = 200_000 // (n - 2)
                want[(p.event_id, c.event_id)] = (pos, n, credit)
    assert got == want and len(got) > 0


def test_p_ldiversity_matches_pandas_recompute(spark, sf_dir):
    from factory_inspectors_db_etl_spark.plans.catalog_ext5 import (
        _LDIV_L,
        q_p_ldiversity,
    )

    out = q_p_ldiversity(spark, sf_dir).toPandas()
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_custkey", "o_orderpriority", "o_orderstatus", "cast(year(o_orderdate) as int) order_year"
    ).toPandas()
    c = load_table(spark, sf_dir, "customer").selectExpr("c_custkey", "c_mktsegment").toPandas()
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    g = j.groupby(["o_orderpriority", "o_orderstatus", "order_year"]).agg(
        class_size=("c_mktsegment", "size"), l_distinct=("c_mktsegment", "nunique")
    )
    assert len(out) == len(g)
    for r in out.itertuples():
        w = g.loc[(r.o_orderpriority, r.o_orderstatus, r.order_year)]
        assert r.class_size == w["class_size"] and r.l_distinct == w["l_distinct"]
        assert r.leaky == (w["l_distinct"] < _LDIV_L)


def test_jpeg_gif_generators_handle_empty_and_unicode_text(spark):
    """Generator edge cases the corpus never exercises: empty text
    (all-zero pixels) and non-ASCII text (codepoint rule) both produce
    REAL decodable payloads whose means replay the rule."""
    from factory_inspectors_db_etl_spark.operators.gif import decode_gif
    from factory_inspectors_db_etl_spark.operators.multimodal import (
        decode_and_featurize,
        with_gif_payload,
        with_jpeg_payload,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, None), (7, "héllo→мир"), (12, "x")], ["doc_id", "text"]
    )
    for gen in (with_jpeg_payload, with_gif_payload):
        out = decode_and_featurize(gen(docs)).toPandas().set_index("doc_id")
        assert len(out) == 4
        # empty/null text -> all-zero pixels -> mean 0; and the real
        # decoder ran (features[0] is a real width, not a byte histogram)
        for did in (0, 1):
            assert out.loc[did, "features"][3] == 0.0
            assert out.loc[did, "features"][0] > 0
    # unicode: per-character codepoint rule, exact
    g = decode_and_featurize(with_gif_payload(docs)).toPandas().set_index("doc_id")
    codes = [ord(c) % 256 for c in "héllo→мир"]
    w, h = 7 % 7 + 4, 7 % 5 + 3
    n = w * h
    want = sum(codes[p % len(codes)] for p in range(n)) / (n * 255)
    assert g.loc[7, "features"][3] == want


def test_w33_plan_has_no_dedup_and_no_cartesian(spark, sf_dir):
    """The canonical-cell discipline means each (click, purchase) pair
    meets on exactly one key: no Deduplicate/distinct anywhere in the
    plan, and the range predicate rides an equi-join, not a cartesian."""
    from factory_inspectors_db_etl_spark.plans.catalog_ext5 import (
        q_w33_position_attribution,
    )

    plan = (
        q_w33_position_attribution(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "Deduplicate" not in plan and "HashAggregate(keys=[purchase_event_id" not in plan.split("Window")[0]
