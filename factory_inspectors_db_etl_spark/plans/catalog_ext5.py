"""Round-7 catalog: REAL baseline-JPEG decode verified against a SQL
oracle.

Same contract as ``plans.catalog``: every query has a DuckDB oracle
registered with it in this module's ``REGISTRY``.  Determinism follows
the catalog conventions: exact integer sums with one trailing IEEE
division per float output, integer aggregates CAST to BIGINT in oracles.

Reference parity: the reference repo (populate_db_ru_v1.py) has no
media path — this module extends the engine's LLM-data-pipeline
surface (multimodal columns, SURVEY.md §2 M6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators import multimodal as MM
from ..operators.materialize import materialize
from ..sources.tables import load_table

# ---------------------------------------------------------------------------
# M-JPEG: real baseline-JPEG encode -> decode round-trip, SQL-replayed
# ---------------------------------------------------------------------------


def q_m_jpeg_decode(spark: SparkSession, sf: str) -> DataFrame:
    """M-JPEG: REAL baseline JPEG decode.  ``with_jpeg_payload`` builds a
    genuine JFIF payload per document (Annex-K Huffman tables, forward
    DCT, byte stuffing, restart markers, grayscale and YCbCr 4:4:4
    alternating by doc_id) whose PIXELS replay a SQL rule over the
    document text via constant 8x8 blocks; ``decode_and_featurize`` then
    really decodes it (``operators.jpeg.decode_jpeg``: marker walk +
    Huffman + dequant + IDCT + color convert).  Constant blocks with
    all-ones quant tables round-trip BIT-EXACTLY through the lossy
    format, so the oracle recomputes the channel means from the pixel
    RULE and a hash match proves the whole decoder end to end.  Plan:
    two Python islands (generator + decoder), both Arrow-batched
    mapInPandas; payload bytes never shuffle outside Arrow."""
    d = load_table(spark, sf, "documents")
    feats = MM.decode_and_featurize(MM.with_jpeg_payload(d))
    fx = lambda i: F.element_at("features", i)  # noqa: E731
    return feats.select(
        "doc_id",
        fx(1).cast("int").alias("width"),
        fx(2).cast("int").alias("height"),
        fx(3).cast("int").alias("n_components"),
        fx(4).alias("mean_gray"),
        fx(7).alias("mean_all"),
    )


# Spark divides (64*sum_g) / (64*nb*255); the oracle divides sum_g /
# (nb*255).  Both numerator and denominator differ by the exact
# power-of-two factor 64, so the IEEE results are bit-identical.
O_M_JPEG = """
WITH m AS (
  SELECT doc_id,
         CAST(doc_id % 4 + 2 AS BIGINT) AS wb,
         CAST(doc_id % 3 + 2 AS BIGINT) AS hb,
         length(text) AS L,
         list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1)) % 256) AS codes
  FROM documents
), s AS (
  SELECT doc_id, wb, hb,
         list_sum(list_transform(range(0, wb * hb), b ->
            CASE WHEN L = 0 THEN 0 ELSE codes[(b % L) + 1] END)) AS sum_g
  FROM m
)
SELECT doc_id,
       CAST(wb * 8 AS INTEGER) AS width,
       CAST(hb * 8 AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INTEGER) AS n_components,
       CAST(sum_g AS DOUBLE) / (wb * hb * 255) AS mean_gray,
       CAST(sum_g AS DOUBLE) / (wb * hb * 255) AS mean_all
FROM s
"""


# ---------------------------------------------------------------------------
# W32: sweep-line interval concurrency (peak in-transit shipments)
# ---------------------------------------------------------------------------


def q_w32_interval_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """W32: peak concurrent intervals per key by SWEEP LINE — the
    classic "max simultaneous sessions/shipments/meetings" operator.
    Each lineitem is in transit for [shipdate, shipdate + transit_days]
    inclusive, transit_days = int(quantity) % 20 + 3 (deterministic,
    SQL-replayable — the synthetic table has no receipt date).  The
    sequential statement ("walk a timeline, track a counter") becomes
    distributed via +1/−1 boundary events: net delta per (supplier,
    day), one cumulative-sum window = concurrency at every change
    point; the peak and its first date fall out of the same partitioning.

    Plan: ONE shuffle on l_suppkey serves the per-day aggregate, the
    ordered cumsum window, the unordered max window, and the final
    group-by — the explicit ``repartition("suppkey")`` hash-partitions
    on the SUBSET key, which satisfies the (suppkey, d) clustered
    distribution of the aggregate AND the window's requirement, so
    Spark inserts no second exchange (pinned: plan has exactly 1).
    Exact integers end to end.  100 TB: the sweep line never
    materializes the timeline — only change points (2 rows per
    interval, combinable map-side)."""
    li = load_table(spark, sf, "lineitem").select(
        F.col("l_suppkey").cast("long").alias("suppkey"),
        F.to_date("l_shipdate").alias("start"),
        (F.col("l_quantity").cast("int") % 20 + 3).alias("transit"),
    )
    deltas = li.select(
        "suppkey", F.col("start").alias("d"), F.lit(1).alias("delta")
    ).unionAll(
        li.select(
            "suppkey",
            F.date_add(F.col("start"), F.col("transit") + F.lit(1)).alias("d"),
            F.lit(-1).alias("delta"),
        )
    )
    per_day = (
        deltas.repartition("suppkey")
        .groupBy("suppkey", "d")
        .agg(F.sum("delta").cast("long").alias("net"))
    )
    w = W.partitionBy("suppkey").orderBy("d")
    wall = W.partitionBy("suppkey")
    conc = per_day.withColumn(
        "conc",
        F.sum("net").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    ).withColumn("peak", F.max("conc").over(wall))
    return (
        conc.filter(F.col("conc") == F.col("peak"))
        .groupBy("suppkey")
        .agg(
            F.max("peak").cast("long").alias("peak_in_transit"),
            F.date_format(F.min("d"), "yyyy-MM-dd").alias("first_peak_date"),
        )
    )


O_W32_CONCURRENCY = """
WITH li AS (
  SELECT l_suppkey AS suppkey,
         CAST(l_shipdate AS DATE) AS start,
         CAST(l_quantity AS INTEGER) % 20 + 3 AS transit
  FROM lineitem
), deltas AS (
  SELECT suppkey, start AS d, 1 AS delta FROM li
  UNION ALL
  SELECT suppkey, start + transit + 1, -1 FROM li
), per_day AS (
  SELECT suppkey, d, CAST(sum(delta) AS BIGINT) AS net
  FROM deltas GROUP BY 1, 2
), running AS (
  SELECT suppkey, d,
         CAST(sum(net) OVER (PARTITION BY suppkey ORDER BY d) AS BIGINT) AS conc
  FROM per_day
), peaks AS (
  SELECT suppkey, max(conc) AS peak FROM running GROUP BY 1
)
SELECT r.suppkey,
       CAST(p.peak AS BIGINT) AS peak_in_transit,
       strftime(min(r.d), '%Y-%m-%d') AS first_peak_date
FROM running r
JOIN peaks p ON p.suppkey = r.suppkey AND r.conc = p.peak
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# T-COLL: collocation mining with integer-exact lift (PMI without the log)
# ---------------------------------------------------------------------------

_COLL_MIN_DF = 5
_COLL_MIN_CO = 5
_COLL_TOPK = 100


def q_t_collocation_lift(spark: SparkSession, sf: str) -> DataFrame:
    """T-COLL: corpus collocation mining — word pairs that co-occur in
    documents far more than independence predicts.  The statistic is
    LIFT rather than PMI: lift(x,y) = P(x,y)/(P(x)P(y)) =
    N·n_xy/(n_x·n_y), kept as the EXACT integer
    ``lift_e6 = (n_xy·N·10⁶) div (n_x·n_y)`` (monotone in PMI, so the
    ranking is identical — and exact integers dodge the engine-divergent
    log/double entirely, the a22/p_chi2 design rule).

    Plan: distinct words per doc (columnar explode), doc-frequency
    filter (min_df bounds the vocabulary, broadcast back), then pair
    expansion happens COLUMNAR per document — the kept words collapse
    to a sorted per-doc array (one shuffle on doc_id) and (w1 < w2)
    pairs are generated in place by nested higher-order transforms, so
    there is NO self-join and the pair table shuffles exactly once (the
    (w1, w2) aggregate, map-side combinable).  Doc frequencies join
    back broadcast; top-k is TakeOrderedAndProject under the total
    order (lift desc, w1, w2).  100 TB: min_df and min_co keep the pair
    table sparse; pairs per doc ≤ C(kept_words, 2) locally, and no
    all-pairs vocabulary join ever happens."""
    d = load_table(spark, sf, "documents")
    words = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.split(
                        F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "), " "
                    )
                )
            ).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    n_docs = d.select(F.count(F.lit(1)).alias("n")).withColumnRenamed("n", "n_docs")
    df_counts = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # the filtered vocabulary is reused three times (kept-filter + the
    # two frequency join-backs); its projections differ, so without a
    # barrier Spark re-runs the groupBy(w) shuffle once per use (plan
    # showed 3 copies) — materialize it once, it is min_df-bounded small
    vocab = materialize(df_counts.filter(F.col("df") >= _COLL_MIN_DF))
    kept = words.join(F.broadcast(vocab.select("w")), "w")
    per_doc = kept.groupBy("doc_id").agg(F.sort_array(F.collect_set("w")).alias("ws"))
    # columnar (w1 < w2) pair expansion: for the i-th word, pair it with
    # every later word of the SORTED array — no self-join, no shuffle
    pair_expr = F.flatten(
        F.transform(
            "ws",
            lambda x, i: F.transform(
                F.slice(F.col("ws"), i + 2, F.greatest(F.size("ws") - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("w1"), y.alias("w2")),
            ),
        )
    )
    pairs = (
        per_doc.select(F.explode(pair_expr).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
        .filter(F.col("n_xy") >= _COLL_MIN_CO)
        .join(F.broadcast(vocab.select(F.col("w").alias("w1"), F.col("df").alias("n_x"))), "w1")
        .join(F.broadcast(vocab.select(F.col("w").alias("w2"), F.col("df").alias("n_y"))), "w2")
    )
    out = pairs.crossJoin(F.broadcast(n_docs)).withColumn(
        "lift_e6",
        F.expr(
            "CAST((CAST(n_xy AS DECIMAL(38,0)) * n_docs * 1000000) div "
            "(CAST(n_x AS DECIMAL(38,0)) * n_y) AS BIGINT)"
        ),
    )
    return (
        out.select("w1", "w2", "n_xy", "n_x", "n_y", "lift_e6")
        .orderBy(F.desc("lift_e6"), "w1", "w2")
        .limit(_COLL_TOPK)
    )


O_T_COLLOCATION = f"""
WITH words AS (
  SELECT DISTINCT doc_id, w
  FROM (
    SELECT doc_id,
           UNNEST(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS w
    FROM documents
  )
  WHERE w <> ''
), dfc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS df FROM words GROUP BY 1
  HAVING count(*) >= {_COLL_MIN_DF}
), kept AS (
  SELECT words.doc_id, words.w, dfc.df FROM words JOIN dfc USING (w)
), pairs AS (
  SELECT a.w AS w1, b.w AS w2,
         CAST(count(*) AS BIGINT) AS n_xy,
         CAST(any_value(a.df) AS BIGINT) AS n_x,
         CAST(any_value(b.df) AS BIGINT) AS n_y
  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2
  HAVING count(*) >= {_COLL_MIN_CO}
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
)
SELECT w1, w2, n_xy, n_x, n_y,
       CAST((CAST(n_xy AS HUGEINT) * n_docs * 1000000) // (CAST(n_x AS HUGEINT) * n_y) AS BIGINT) AS lift_e6
FROM pairs, n
ORDER BY lift_e6 DESC, w1, w2
LIMIT {_COLL_TOPK}
"""


# ---------------------------------------------------------------------------
# M-GIF: real GIF (LZW) encode -> decode round-trip, SQL-replayed
# ---------------------------------------------------------------------------


def q_m_gif_decode(spark: SparkSession, sf: str) -> DataFrame:
    """M-GIF: REAL GIF decode.  ``with_gif_payload`` builds a genuine
    GIF87a per document (real dictionary-building LZW, identity
    grayscale palette, odd doc_ids interlaced) whose pixel indices
    replay a SQL rule; ``decode_and_featurize`` then really decodes it
    (``operators.gif.decode_gif``: sub-block reassembly, variable-width
    LZW with dictionary growth/CLEAR resets, palette lookup, interlace
    de-scrambling).  GIF is lossless, so the oracle's replay of the
    rule pins the whole codec bit-exactly — the LZW sibling of the
    PNG (zlib) and JPEG (Huffman/DCT) round-trip proofs."""
    d = load_table(spark, sf, "documents")
    feats = MM.decode_and_featurize(MM.with_gif_payload(d))
    fx = lambda i: F.element_at("features", i)  # noqa: E731
    return feats.select(
        "doc_id",
        fx(1).cast("int").alias("width"),
        fx(2).cast("int").alias("height"),
        fx(4).alias("mean_gray"),
        fx(7).alias("mean_all"),
    )


O_M_GIF = """
WITH m AS (
  SELECT doc_id,
         CAST(doc_id % 7 + 4 AS BIGINT) AS w,
         CAST(doc_id % 5 + 3 AS BIGINT) AS h,
         length(text) AS L,
         list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1)) % 256) AS codes
  FROM documents
), s AS (
  SELECT doc_id, w, h,
         list_sum(list_transform(range(0, w * h), p ->
            CASE WHEN L = 0 THEN 0 ELSE codes[(p % L) + 1] END)) AS sum_g
  FROM m
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(sum_g AS DOUBLE) / (w * h * 255) AS mean_gray,
       CAST(sum_g AS DOUBLE) / (w * h * 255) AS mean_all
FROM s
"""


# ---------------------------------------------------------------------------
# W33: position-based (U-shaped) attribution with exact integer credits
# ---------------------------------------------------------------------------

_W33_LOOKBACK_US = 7 * 86400 * 1_000_000
# events.ts is TIMESTAMP_NTZ (load_table's nanos rebuild); unix_micros
# takes only TIMESTAMP, so microseconds come from an NTZ-epoch diff
_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"


def q_w33_position_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """W33: position-based ("U-shaped") marketing attribution — every
    purchase distributes 1,000,000 exact credit units over the user's
    clicks in a 7-day lookback: 40% to the first touch, 40% to the
    last, the middle 20% split evenly with the integer remainder going
    to the last touch (documented, deterministic) — so per-purchase
    credits sum to exactly 10⁶ (conservation law, test-pinned).  The
    multi-touch sibling of w29's last-touch.

    Scale shape: the click-to-purchase assignment is the J8b bucketed
    range join, not a per-user all-pairs — clicks emit to the (at most
    2) week cells their 7-day forward window touches, purchases key by
    their own cell, and each (click, purchase) pair meets on exactly ONE
    key (the purchase's cell), so no post-join dedup exists.  Credits
    are pure integers; one window on the purchase id orders the touches.
    """
    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_event_id"),
        F.col("ts").alias("click_ts"),
        F.expr(_US).alias("c_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.expr(_US).alias("p_us"),
        F.expr(f"({_US}) div {_W33_LOOKBACK_US}").alias("cell"),
    )
    # a click influences purchases in [click_ts, click_ts + 7d): that
    # window spans at most two lookback-width cells
    c2 = clicks.withColumn(
        "cell",
        F.explode(
            F.array(
                F.expr(f"c_us div {_W33_LOOKBACK_US}"),
                F.expr(f"c_us div {_W33_LOOKBACK_US} + 1"),
            )
        ),
    )
    touched = (
        c2.join(purchases, ["user_id", "cell"])
        .filter(
            (F.col("c_us") < F.col("p_us"))
            & (F.col("c_us") >= F.col("p_us") - F.lit(_W33_LOOKBACK_US))
        )
    )
    wp = W.partitionBy("purchase_event_id").orderBy("click_ts", "click_event_id")
    out = (
        touched.withColumn("position", F.row_number().over(wp).cast("int"))
        .withColumn(
            "n_touches", F.count(F.lit(1)).over(W.partitionBy("purchase_event_id")).cast("int")
        )
        .withColumn(
            "credit_e6",
            F.expr(
                """CAST(CASE
                     WHEN n_touches = 1 THEN 1000000
                     WHEN n_touches = 2 THEN 500000
                     WHEN position = 1 THEN 400000
                     WHEN position = n_touches
                       THEN 400000 + 200000 % (n_touches - 2)
                     ELSE 200000 div (n_touches - 2)
                   END AS BIGINT)"""
            ),
        )
    )
    return out.select(
        "purchase_event_id", "click_event_id", "position", "n_touches", "credit_e6"
    )


O_W33_ATTRIBUTION = f"""
WITH clicks AS (
  SELECT user_id, event_id AS click_event_id, ts AS click_ts,
         epoch_us(ts) AS c_us
  FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, event_id AS purchase_event_id, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
), touched AS (
  SELECT p.purchase_event_id, c.click_event_id, c.click_ts,
         row_number() OVER (PARTITION BY p.purchase_event_id
                            ORDER BY c.click_ts, c.click_event_id) AS position,
         count(*) OVER (PARTITION BY p.purchase_event_id) AS n
  FROM clicks c JOIN purchases p
    ON c.user_id = p.user_id
   AND c.c_us < p.p_us AND c.c_us >= p.p_us - {_W33_LOOKBACK_US}
)
SELECT purchase_event_id, click_event_id,
       CAST(position AS INTEGER) AS position,
       CAST(n AS INTEGER) AS n_touches,
       CAST(CASE
              WHEN n = 1 THEN 1000000
              WHEN n = 2 THEN 500000
              WHEN position = 1 THEN 400000
              WHEN position = n THEN 400000 + 200000 % (n - 2)
              ELSE 200000 // (n - 2)
            END AS BIGINT) AS credit_e6
FROM touched
"""


# ---------------------------------------------------------------------------
# P-LDIV: distinct-l-diversity audit (the k-anonymity sibling)
# ---------------------------------------------------------------------------

_LDIV_L = 3


def q_p_ldiversity(spark: SparkSession, sf: str) -> DataFrame:
    """P-LDIV: distinct l-diversity audit (Machanavajjhala et al. '07)
    — k-anonymity's necessary complement: an equivalence class can be
    large (k-anonymous) yet still leak if every member shares the same
    SENSITIVE value.  Group orders by the same quasi-identifier tuple
    as p_kanon (priority, status, order year) and flag classes with
    fewer than l=3 distinct customer market segments.

    Plan shape: one equi-join to the customer dim for the sensitive
    attribute, then a single exact count-distinct aggregation on the
    QI tuple — bounded by QI-domain cardinality."""
    o = load_table(spark, sf, "orders").select(
        "o_custkey",
        "o_orderpriority",
        "o_orderstatus",
        F.year("o_orderdate").cast("int").alias("order_year"),
    )
    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderpriority", "o_orderstatus", "order_year")
        .agg(
            F.count(F.lit(1)).cast("long").alias("class_size"),
            F.countDistinct("c_mktsegment").cast("long").alias("l_distinct"),
        )
        .withColumn("leaky", F.col("l_distinct") < _LDIV_L)
    )


O_P_LDIVERSITY = f"""
SELECT o_orderpriority, o_orderstatus,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(count(*) AS BIGINT) AS class_size,
       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct,
       count(DISTINCT c_mktsegment) < {_LDIV_L} AS leaky
FROM orders JOIN customer ON c_custkey = o_custkey
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# A25: mergeable quantile-summary rollup (histogram partials, a8/a9 theme)
# ---------------------------------------------------------------------------

_A25_BUCKET_CENTS = 50  # equi-width bucket: 50 cents => estimate error <= 2 buckets


def q_a25_quantile_sketch_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """A25: the QUANTILE side of a8/a9's partial-reaggregation story —
    monthly p50/p90 from MERGED daily histogram partials, never
    rescanning raw rows.  Exact quantile state cannot be rolled up
    (median-of-day medians is the classic wrong answer), but equi-width
    histogram counts merge freely across any regrouping — the same
    mergeable-summary discipline as KLL/GK sketches, expressed with
    nothing but groupBy/sum so the whole plan stays in whole-stage
    codegen.

    Contract oracle like a9: the exact monthly percentiles are
    hash-checked, plus a boolean pinning the histogram estimate against
    the exact rank-selected ORDER STATISTIC (not the interpolated
    quantile): the bucket rule and the cent rule cross the N/2 (3N/4)
    boundary at the same element, so the selected order statistic always
    lies inside the selected bucket and |midpoint - statistic| <= half a
    bucket width (25 cents) is a PROVABLE invariant, checked in pure
    integer arithmetic in both engines.  (The first cut bounded the
    estimate against the INTERPOLATED percentile instead — unsound,
    since interpolation at non-integer ranks sits mid-gap between order
    statistics and gaps are unbounded; round-8 review finding.)
    Precondition: cents >= 0 (bucket = trunc(cent/50) == floor only for
    non-negatives; holds for the value column).  Only DYADIC quantiles
    (0.5, 0.75) are exposed — w12's cross-engine lesson: interpolating
    integer cents at quarter fractions is exact in binary floating point
    under either interpolation formula, so Spark and DuckDB produce the
    identical double, while 0.9's fraction is non-dyadic and can diverge
    by an ulp.  Rank selection is cross-multiplied integers
    (2*cum >= N, 4*cum >= 3*N), never ceil(q*N) on a float.  At 100 TB
    only the daily histogram pass touches raw data; merges move
    O(buckets) rows."""
    ev = load_table(spark, sf, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    day = F.date_format("ts", "yyyy-MM-dd")
    daily = ev.groupBy(
        day.alias("day"),
        "event_type",
        (cents / _A25_BUCKET_CENTS).cast("long").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("_c"))
    monthly_hist = daily.groupBy(
        F.substring("day", 1, 7).alias("month"), "event_type", "bucket"
    ).agg(F.sum("_c").alias("c"))
    wcum = W.partitionBy("month", "event_type").orderBy("bucket")
    wall = W.partitionBy("month", "event_type")
    cum = monthly_hist.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "N", F.sum("c").over(wall)
    )
    est = cum.groupBy("month", "event_type").agg(
        F.min(
            F.when(F.col("cum") * 2 >= F.col("N"), F.col("bucket"))
        ).alias("_b50"),
        F.min(
            F.when(F.col("cum") * 4 >= F.col("N") * 3, F.col("bucket"))
        ).alias("_b75"),
    )
    exact = ev.groupBy(
        F.date_format("ts", "yyyy-MM").alias("month"), "event_type"
    ).agg(
        F.percentile(
            cents.cast("double"), F.array(F.lit(0.5), F.lit(0.75))
        ).alias("_q"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # exact order statistics by the SAME cross-multiplied rank rule the
    # bucket selection uses — the integer ground truth the merged
    # estimate is provably within half a bucket width of
    cent_counts = ev.groupBy(
        F.date_format("ts", "yyyy-MM").alias("month"),
        "event_type",
        cents.alias("cent"),
    ).agg(F.count(F.lit(1)).alias("_cc"))
    wccum = W.partitionBy("month", "event_type").orderBy("cent")
    wcall = W.partitionBy("month", "event_type")
    ccum = cent_counts.withColumn("ccum", F.sum("_cc").over(wccum)).withColumn(
        "CN", F.sum("_cc").over(wcall)
    )
    order_stats = ccum.groupBy("month", "event_type").agg(
        F.min(F.when(F.col("ccum") * 2 >= F.col("CN"), F.col("cent"))).alias("_c50"),
        F.min(
            F.when(F.col("ccum") * 4 >= F.col("CN") * 3, F.col("cent"))
        ).alias("_c75"),
    )
    half = _A25_BUCKET_CENTS // 2
    est50c = F.col("_b50") * _A25_BUCKET_CENTS + half
    est75c = F.col("_b75") * _A25_BUCKET_CENTS + half
    return (
        exact.join(F.broadcast(est), ["month", "event_type"])
        .join(F.broadcast(order_stats), ["month", "event_type"])
        .select(
            "month",
            "event_type",
            "n_events",
            (F.element_at("_q", 1) / 100).alias("p50_exact"),
            (F.element_at("_q", 2) / 100).alias("p75_exact"),
            (
                (F.abs(est50c - F.col("_c50")) <= F.lit(half))
                & (F.abs(est75c - F.col("_c75")) <= F.lit(half))
            ).alias("merged_est_ok"),
        )
    )


_A25_HALF = _A25_BUCKET_CENTS // 2

# merged_est_ok is recomputed here (not hardcoded TRUE) so the oracle
# independently verifies the invariant: the monthly bucket histogram is
# the merge of the daily partials (counts are identical by associativity
# of sum), the bucket/cent rank rules cross N/2 and 3N/4 at the same
# element, and |bucket midpoint - order statistic| <= half a width.
O_A25_QUANTILE_ROLLUP = f"""
WITH ev AS (
  SELECT strftime(ts, '%Y-%m') AS month, event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cent
  FROM events
), cc AS (
  SELECT month, event_type, cent, CAST(count(*) AS BIGINT) AS c
  FROM ev GROUP BY 1, 2, 3
), cum AS (
  SELECT month, event_type, cent,
         CAST(sum(c) OVER (PARTITION BY month, event_type ORDER BY cent) AS BIGINT) AS ccum,
         CAST(sum(c) OVER (PARTITION BY month, event_type) AS BIGINT) AS cn
  FROM cc
), os AS (
  SELECT month, event_type,
         min(CASE WHEN ccum * 2 >= cn THEN cent END) AS c50,
         min(CASE WHEN ccum * 4 >= 3 * cn THEN cent END) AS c75
  FROM cum GROUP BY 1, 2
), bh AS (
  SELECT month, event_type, cent // {_A25_BUCKET_CENTS} AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM ev GROUP BY 1, 2, 3
), bcum AS (
  SELECT month, event_type, bucket,
         CAST(sum(c) OVER (PARTITION BY month, event_type ORDER BY bucket) AS BIGINT) AS bc,
         CAST(sum(c) OVER (PARTITION BY month, event_type) AS BIGINT) AS bn
  FROM bh
), best AS (
  SELECT month, event_type,
         min(CASE WHEN bc * 2 >= bn THEN bucket END) AS b50,
         min(CASE WHEN bc * 4 >= 3 * bn THEN bucket END) AS b75
  FROM bcum GROUP BY 1, 2
), ex AS (
  SELECT month, event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         quantile_cont(CAST(cent AS DOUBLE), 0.5) / 100 AS p50_exact,
         quantile_cont(CAST(cent AS DOUBLE), 0.75) / 100 AS p75_exact
  FROM ev GROUP BY 1, 2
)
SELECT ex.month, ex.event_type, ex.n_events, ex.p50_exact, ex.p75_exact,
       (abs(best.b50 * {_A25_BUCKET_CENTS} + {_A25_HALF} - os.c50) <= {_A25_HALF}
        AND abs(best.b75 * {_A25_BUCKET_CENTS} + {_A25_HALF} - os.c75) <= {_A25_HALF})
         AS merged_est_ok
FROM ex
JOIN os ON os.month = ex.month AND os.event_type = ex.event_type
JOIN best ON best.month = ex.month AND best.event_type = ex.event_type
"""


# ---------------------------------------------------------------------------
# M6 dedup: SemDeDup with AUTO cell count — the scale-safe registered form
# ---------------------------------------------------------------------------

_SEMAUTO_CELL = 24  # target vectors per cell (test-SF sized; 256 in prod)


def q_d_semantic_dedup_auto(spark: SparkSession, sf: str) -> DataFrame:
    """M6 dedup: SemDeDup with ``n_clusters="auto"`` — the production
    discipline the round-7 scaling sweep demanded (fixed k=16 measured
    17.65× wall-clock for 10× data; the O(n²·n_probe/k) pair term is
    quadratic whenever k is pinned while n grows).  Auto mode sizes
    k = max(16, n // target_cell_size) from one metadata-cheap count, so
    cells stay ~target_cell_size vectors and the pair term is
    ~n·cell_size·n_probe — linear in the corpus.  n_probe=2 keeps the
    multi-probe recall lever on, so this is the scale-safe twin of BOTH
    d_semantic_dedup and d_semantic_dedup_multiprobe (same output
    contract: one row per vector, rank-1 cell id, greedy keep-lowest-id).

    Oracle replay: k is a DETERMINISTIC function of n, so the DuckDB
    oracle computes the same k with greatest(16, count(*) // cell) and
    names the same first-k centroid set."""
    from ..operators.similarity import semantic_dedup

    e = load_table(spark, sf, "embeddings")
    # assign="exact" EXPLICITLY: this query IS the auto-k/exact-assign
    # baseline (its r8 sweep row, 64.5x at 10x, is why the family's
    # defaults moved to assign="lsh" in round 9 and this form left the
    # driver registry for PYTEST_ONLY_QUERIES).
    return semantic_dedup(
        e,
        n_clusters="auto",
        threshold=0.40,
        n_probe=2,
        target_cell_size=_SEMAUTO_CELL,
        assign="exact",
    )


O_D_SEMANTIC_DEDUP_AUTO = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
kk AS (SELECT greatest(16, count(*) // {_SEMAUTO_CELL}) AS k FROM v),
cents AS (SELECT vec_id AS centroid_id, ev AS cv FROM v WHERE vec_id < (SELECT k FROM kk)),
asg AS (
  SELECT vec_id, ev, centroid_id, rn FROM (
    SELECT v.vec_id, v.ev, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY round(list_inner_product(v.ev, c.cv) / (sqrt(list_inner_product(v.ev, v.ev)) * sqrt(list_inner_product(c.cv, c.cv))), 6) DESC,
                      c.centroid_id ASC) AS rn
    FROM v CROSS JOIN cents c) WHERE rn <= 2
),
u AS (SELECT vec_id, centroid_id, rn,
             list_transform(ev, x -> x / sqrt(list_inner_product(ev, ev))) AS uv
      FROM asg),
dups AS (
  SELECT DISTINCT a.vec_id
  FROM u a JOIN u b ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id
  WHERE round(list_inner_product(a.uv, b.uv), 4) >= 0.40
)
SELECT u.vec_id, u.centroid_id AS cluster_id, d.vec_id IS NULL AS keep
FROM u LEFT JOIN dups d ON u.vec_id = d.vec_id
WHERE u.rn = 1
"""


# d_semantic_dedup_auto is not registered: plans.catalog lists it in
# PYTEST_ONLY_QUERIES as a quadratic baseline.
REGISTRY = {
    "m_jpeg_decode": (q_m_jpeg_decode, O_M_JPEG),
    "w32_interval_concurrency": (q_w32_interval_concurrency, O_W32_CONCURRENCY),
    "t_collocation_lift": (q_t_collocation_lift, O_T_COLLOCATION),
    "m_gif_decode": (q_m_gif_decode, O_M_GIF),
    "w33_position_attribution": (q_w33_position_attribution, O_W33_ATTRIBUTION),
    "p_ldiversity": (q_p_ldiversity, O_P_LDIVERSITY),
    "a25_quantile_sketch_rollup": (q_a25_quantile_sketch_rollup, O_A25_QUANTILE_ROLLUP),
}
