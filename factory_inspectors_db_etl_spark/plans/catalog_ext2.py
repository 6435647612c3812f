"""Round-5 second-batch catalog: lossless prefix-filtered set-similarity
join, directed containment dedup, hourly gap-fill with exact linear
interpolation, and a Bloom-pre-filtered selective join.

Same contract as ``plans.catalog``: every query has a DuckDB oracle and
the pair is registered through this module's ``REGISTRY``.  Determinism
follows the catalog conventions: thresholds and interpolation as integer
rationals with one trailing IEEE division, time buckets via calendar
arithmetic on TIMESTAMP_NTZ + ISO strings (never session-timezone
epochs), integer aggregates CAST to BIGINT on the oracle side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloom_join import bloom_filtered_join
from ..operators.setsim import containment_pairs, prefix_filter_jaccard_pairs
from ..operators.timeseries import gap_fill_hourly
from ..sources.tables import load_table


def _dec(c) -> F.Column:
    return F.col(c).cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# D: prefix-filtered exact Jaccard join (SSJoin/PPJoin family)
# ---------------------------------------------------------------------------


def q_d_setsim_prefix_join(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 3-shingle-set Jaccard >= 3/5 via the LOSSLESS prefix filter
    (Chaudhuri ICDE'06 / Xiao WWW'08) — the deterministic complement of
    MinHash-LSH: candidates come only from each document's rarest
    ``|s| - ceil(0.6|s|) + 1`` shingles plus a length-ratio prune, yet
    the output provably equals brute force (losslessness pinned against
    the unfiltered join in tests/test_round5b_ops.py; the oracle below
    IS the brute-force semantics).  At 100 TB the posting lists that
    explode under a naive element join simply never form: a stop
    element enters a prefix only for documents with nothing rarer."""
    d = load_table(spark, sf, "documents")
    return prefix_filter_jaccard_pairs(
        d, "doc_id", "text", k=3, threshold_num=3, threshold_den=5
    )


O_D_SETSIM_PREFIX = """
WITH w AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), toks AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS tok
  FROM w, UNNEST(range(1, greatest(len(w) - 2, 1) + 1)) AS t(i)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
       CAST(sa.sz + sb.sz - inter AS BIGINT) AS union_sz,
       CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE 5 * inter >= 3 * (sa.sz + sb.sz - inter)
"""


# ---------------------------------------------------------------------------
# D: directed containment (the asymmetric relation Jaccard can't see)
# ---------------------------------------------------------------------------


def q_d_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Directed shingle containment |src∩dst|/|src| >= 4/5: finds
    documents quoted/embedded inside larger ones, where symmetric
    Jaccard stays near zero.  Inverted-index candidates (shared-shingle
    equi-join over every shingle — no stop-shingle cap, as in
    O_D_CONTAINMENT) — one undirected intersection count fans out into
    per-direction integer threshold checks."""
    d = load_table(spark, sf, "documents")
    return containment_pairs(d, "doc_id", "text", k=3, threshold_num=4, threshold_den=5)


O_D_CONTAINMENT = """
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS sh
  FROM toks, UNNEST(range(1, greatest(len(w) - 2, 1) + 1)) AS t(i)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), directed AS (
  SELECT id_a AS src_id, id_b AS dst_id, inter, sa.sz AS sz_src
  FROM inter JOIN sizes sa ON sa.doc_id = id_a
  UNION ALL
  SELECT id_b AS src_id, id_a AS dst_id, inter, sb.sz AS sz_src
  FROM inter JOIN sizes sb ON sb.doc_id = id_b
)
SELECT src_id, dst_id, CAST(inter AS BIGINT) AS inter,
       CAST(sz_src AS BIGINT) AS sz_src,
       CAST(inter AS DOUBLE) / sz_src AS containment
FROM directed
WHERE 5 * inter >= 4 * sz_src
"""


# ---------------------------------------------------------------------------
# W17: hourly gap fill + exact linear interpolation
# ---------------------------------------------------------------------------


def q_w17_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """W17: the hypertable resample→gapfill→interpolate shape — per user,
    a DENSE hourly grid between the first and last observed hour, holes
    filled by linear interpolation between the surrounding hourly sums.
    All arithmetic is integer cents cross-multiplied over hour indexes;
    each output value is one correctly-rounded double division, so the
    hash matches DuckDB bit-for-bit (w12's determinism lesson applied
    to interpolation)."""
    ev = load_table(spark, sf, "events")
    return gap_fill_hourly(ev, "user_id", "ts", "value")


O_W17_GAP_FILL = """
WITH e AS (
  SELECT user_id, date_trunc('hour', ts) AS hts,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
), hourly AS (
  SELECT user_id, hts, sum(cents) AS v FROM e GROUP BY 1, 2
), span AS (
  SELECT user_id, min(hts) AS lo,
         date_diff('hour', min(hts), max(hts)) AS n_hours
  FROM hourly GROUP BY 1
), grid AS (
  SELECT user_id, lo + to_hours(idx) AS hts, idx
  FROM span, UNNEST(range(0, n_hours + 1)) AS t(idx)
), j AS (
  SELECT g.user_id, g.idx, g.hts, h.v
  FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hts = h.hts
), f AS (
  SELECT *,
    last_value(v IGNORE NULLS) OVER wb AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER wb AS pi,
    first_value(v IGNORE NULLS) OVER wf AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER wf AS ni
  FROM j
  WINDOW wb AS (PARTITION BY user_id ORDER BY idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY idx
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, strftime(hts, '%Y-%m-%d %H:00:00') AS bucket,
  CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE) / 100
       WHEN pv IS NOT NULL AND nv IS NOT NULL
         THEN CAST(pv * (ni - idx) + nv * (idx - pi) AS DOUBLE) / ((ni - pi) * 100)
       WHEN pv IS NOT NULL THEN CAST(pv AS DOUBLE) / 100
       ELSE CAST(nv AS DOUBLE) / 100 END AS value_filled,
  CASE WHEN v IS NOT NULL THEN 'exact'
       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
       WHEN pv IS NOT NULL THEN 'ffill' ELSE 'bfill' END AS fill_kind
FROM f
"""


# ---------------------------------------------------------------------------
# J13: Bloom-pre-filtered selective join
# ---------------------------------------------------------------------------

_J13_BITS = 1 << 18  # 32 KiB bitmap; <5% FP to ~25k surviving keys


def q_j13_bloom_filtered_join(spark: SparkSession, sf: str) -> DataFrame:
    """J13: monthly revenue of lineitems whose order is 1-URGENT in
    1995 — through ``operators.bloom_join``: a constant-size (32 KiB)
    Bloom bitmap over the surviving order keys broadcasts and drops
    non-matching lineitems BEFORE the join's exchange; the exact join
    then removes false positives, so the result — and the oracle — is
    the plain join.  The 100 TB case this exists for: a post-filter dim
    side too big to broadcast as exact keys still pre-filters the fact
    shuffle through a fixed-size bitmap (Spark's runtime bloomFilter
    rewrite, hand-rolled and plan-pinned)."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.year("o_orderdate") == 1995)
    )
    joined = bloom_filtered_join(
        li, o.select("o_orderkey"), "l_orderkey", "o_orderkey", num_bits=_J13_BITS
    )
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast(
        "double"
    )
    return joined.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
    ).agg(revenue.alias("revenue"), F.count(F.lit(1)).alias("n_items"))


O_J13_BLOOM = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1995
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# S14: stream-stream FULL OUTER join, batch twin
# ---------------------------------------------------------------------------


def q_s14_stream_stream_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    """S14: batch twin of the watermarked stream-stream FULL OUTER join —
    s12/s13's third sibling: matched view→purchase attributions PLUS
    organic purchases (NULL view side) PLUS abandoned views that
    converted nothing (NULL purchase side).  Runs the SAME function body
    the streaming path uses (``how="full_outer"``); streaming-vs-batch
    equivalence incl. both watermark-delayed null arms is pinned in
    tests/test_streaming.py."""
    from ..streaming.ops import stream_stream_view_purchase_join

    ev = load_table(spark, sf, "events")
    return stream_stream_view_purchase_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        how="full_outer",
    )


O_S14_FULL_OUTER = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'view'
)
SELECT p.event_id AS purchase_id,
       COALESCE(p.user_id, v.user_id) AS user_id,
       v.ts AS view_ts, v.value AS view_value
FROM p FULL JOIN v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 30 MINUTE
"""


# ---------------------------------------------------------------------------
# J14: SCD2 point-in-time lookup (as-of join against a change history)
# ---------------------------------------------------------------------------


def q_j14_scd2_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """J14: the warehouse read side of w14 — each purchase event looks
    up the user's dimension state VALID AT ITS TIMESTAMP from an SCD2
    change history (here: the user's last non-purchase event type, the
    same run construction as w14).  Implemented as a single-shuffle
    as-of join (``operators/asof.py::asof_join``: union + ordered
    forward-fill — never a point-in-interval theta join, whose O(n·m)
    blowup is THE classic SCD2-lookup mistake at scale).

    Determinism: the change history is collapsed to one state per
    (user, ts) with ``max_by(event_id)`` before the join — (user, ts)
    happens to be unique in this data, but uniqueness is a data
    property, not a schema guarantee (the p_pack_bins sf1 lesson), and
    the as-of fill must have a total order.  Purchases before the first
    state row keep a NULL state (left semantics)."""
    from ..operators.asof import asof_join
    from pyspark.sql import Window as W

    ev = load_table(spark, sf, "events")
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
    joined = asof_join(
        purchases, changes, keys=["user_id"], on="ts", payload=["state", "state_since"]
    )
    fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")  # noqa: E731
    return joined.select(
        "event_id",
        "user_id",
        fmt("ts").alias("purchase_ts"),
        "state",
        fmt("state_since").alias("state_since"),
    )


O_J14_SCD2_LOOKUP = """
WITH states AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events WHERE event_type <> 'purchase'
), changes AS (
  SELECT user_id, ts, max_by(event_type, event_id) AS state
  FROM states WHERE prev IS NULL OR event_type <> prev
  GROUP BY 1, 2
), p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       c.state,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS state_since
FROM p ASOF LEFT JOIN changes c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# ---------------------------------------------------------------------------
# A14: robust outlier detection (median / MAD)
# ---------------------------------------------------------------------------

_MAD_K = 3


def q_a14_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """A14: per-group robust outlier profile — median and MAD (median
    absolute deviation) of the price, and how many rows sit more than
    3×MAD from the median.  The mean/stddev z-score breaks exactly when
    you need it (outliers drag the mean); median/MAD does not.

    Determinism: both medians interpolate integer-cent (then half-cent)
    grids at the dyadic fraction 1/2 — exact in IEEE under either
    engine's formula (w12's lesson); the keep test compares exact
    grid doubles (3×MAD is a .5-grid value scaled by 3 — still exact),
    and the only rounding anywhere is the final /100.

    Scale shape: three hash aggregations on the tiny group key, with the
    one-row-per-group median/MAD tables broadcast back onto the scan —
    the fact table is scanned, never shuffled."""
    li = load_table(spark, sf, "lineitem")
    cents = (_dec("l_extendedprice") * 100).cast("long").cast("double")
    base = li.select("l_returnflag", cents.alias("_c"))
    med = base.groupBy("l_returnflag").agg(F.percentile("_c", F.lit(0.5)).alias("_med"))
    dev = base.join(F.broadcast(med), "l_returnflag").withColumn(
        "_dev", F.abs(F.col("_c") - F.col("_med"))
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.percentile("_dev", F.lit(0.5)).alias("_mad"),
        F.count(F.lit(1)).alias("n"),
    )
    flagged = dev.join(F.broadcast(mad), "l_returnflag")
    return (
        flagged.groupBy("l_returnflag")
        .agg(
            F.first("_med").alias("_m"),
            F.first("_mad").alias("_d"),
            F.first("n").alias("n"),
            F.sum((F.col("_dev") > _MAD_K * F.col("_mad")).cast("long")).alias(
                "n_outliers"
            ),
        )
        .select(
            "l_returnflag",
            (F.col("_m") / 100).alias("median_price"),
            (F.col("_d") / 100).alias("mad"),
            "n",
            "n_outliers",
        )
    )


O_A14_MAD = f"""
WITH base AS (
  SELECT l_returnflag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DOUBLE) AS c
  FROM lineitem
), med AS (
  SELECT l_returnflag, quantile_cont(c, 0.5) AS m FROM base GROUP BY 1
), dev AS (
  SELECT b.l_returnflag, abs(b.c - med.m) AS d, med.m
  FROM base b JOIN med ON b.l_returnflag = med.l_returnflag
), mad AS (
  SELECT l_returnflag, quantile_cont(d, 0.5) AS md, CAST(count(*) AS BIGINT) AS n
  FROM dev GROUP BY 1
)
SELECT dev.l_returnflag,
       any_value(dev.m) / 100 AS median_price,
       any_value(mad.md) / 100 AS mad,
       any_value(mad.n) AS n,
       CAST(sum(CASE WHEN dev.d > {_MAD_K} * mad.md THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad ON dev.l_returnflag = mad.l_returnflag
GROUP BY dev.l_returnflag
"""


# ---------------------------------------------------------------------------
# W18: exact bounded exponential moving average
# ---------------------------------------------------------------------------

_EWMA_SPAN = 8


def q_w18_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """W18: exponentially-weighted moving average (α = 1/2) over each
    user's hourly value series, bounded to the last 8 observed buckets —
    the metrics-dashboard smoother, done bit-reproducibly: weights are
    the integers 2^(7-j) over lagged integer-cent sums, so numerator and
    denominator are exact integers and the only float op is ONE final
    division.  An unbounded recursive EWMA would accumulate a float per
    step (engine-divergent) and, as a running state, resist parallel
    decomposition; the 8-term form is a pure window expression — one
    shuffle on user_id, map-side everything else.

    The 8 lag() calls share one WindowExec (same spec), so this costs
    one sort, not eight."""
    ev = load_table(spark, sf, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("HOUR", "ts").alias("_hts")
    ).agg(F.sum(cents).alias("_v"))
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("_hts")
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for j in range(_EWMA_SPAN):
        weight = 1 << (_EWMA_SPAN - 1 - j)
        lagged = F.lag("_v", j).over(w)
        num = num + F.coalesce(lagged * weight, F.lit(0))
        den = den + F.when(lagged.isNotNull(), F.lit(weight)).otherwise(F.lit(0))
    return hourly.select(
        "user_id",
        F.date_format("_hts", "yyyy-MM-dd HH:00:00").alias("bucket"),
        (num.cast("double") / (den * 100)).alias("ewma"),
    )


def _gen_ewma_oracle(span: int = _EWMA_SPAN) -> str:
    lags = ", ".join(
        f"lag(v, {j}) OVER (PARTITION BY user_id ORDER BY hts) AS l{j}"
        for j in range(span)
    )
    num = " + ".join(f"coalesce(l{j} * {1 << (span - 1 - j)}, 0)" for j in range(span))
    den = " + ".join(
        f"CASE WHEN l{j} IS NOT NULL THEN {1 << (span - 1 - j)} ELSE 0 END"
        for j in range(span)
    )
    return f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hts,
         sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT user_id, hts, {lags} FROM hourly
)
SELECT user_id, strftime(hts, '%Y-%m-%d %H:00:00') AS bucket,
       CAST({num} AS DOUBLE) / (({den}) * 100) AS ewma
FROM lagged
"""


O_W18_EWMA = _gen_ewma_oracle()


# ---------------------------------------------------------------------------
# T: joint-bigram language-model scoring (train split -> held-out score)
# ---------------------------------------------------------------------------


def q_t_bigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """T: corpus bigram-LM fluency signal — bigram frequencies counted on
    the content-hash TRAIN split (same 80% arithmetic as ``p_hash_split``
    / ``t_unigram_lm``), every held-out doc scored by its mean
    Laplace-smoothed JOINT bigram probability.  Word-order scrambles that
    a unigram LM cannot see (same bag, broken adjacency) collapse a doc's
    score; the joint form (rather than conditional c(w1,w2)/c(w1)) keeps
    the t_unigram_lm exactness contract: sum(c_i + 1) and
    n_bigrams * (B + V) are exact integers, ONE IEEE division per doc,
    so the result hash-matches DuckDB bit-for-bit.

    Plan shape == t_unigram_lm at one n higher: tokenize + adjacent-pair
    zip in the scan (zero shuffle), one shuffle for bigram counts, 1-row
    totals broadcast, counts broadcast-joined onto held-out bigrams (the
    bigram vocab outgrows the broadcast ceiling before the unigram one
    does — flip to a shuffle join on ``bi``; aggregation unchanged), one
    per-doc shuffle."""
    from ..operators import text_analysis as TA
    from ..operators.dedup import portable_hash60
    from ..operators.materialize import materialize

    d = load_table(spark, sf, "documents")
    docs = d.select(
        "doc_id",
        F.lower(F.col("text")).alias("lt"),
        (portable_hash60(F.col("text")) % 10_000 < 8_000).alias("is_train"),
    )
    w = TA.tokens(F.col("lt"))
    # adjacent pairs: zip(w[0:n-1], w[1:n-1]) — guard size<2 (slice with a
    # negative length errors at runtime)
    pairs = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = docs.select("doc_id", "is_train", F.explode(pairs).alias("bi"))
    vocab = materialize(
        bi.filter("is_train").groupBy("bi").agg(F.count(F.lit(1)).alias("c"))
    )
    totals = vocab.agg(
        F.sum("c").cast("long").alias("B"), F.count(F.lit(1)).alias("V")
    )
    scored = (
        bi.filter(~F.col("is_train"))
        .join(F.broadcast(vocab), "bi", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bigrams"),
            F.count(F.when(F.col("c").isNull(), 1)).cast("int").alias("n_oov"),
            F.sum(F.coalesce(F.col("c"), F.lit(0)) + 1).alias("num"),
        )
    )
    return (
        docs.filter(~F.col("is_train"))
        .select("doc_id")
        .join(scored, "doc_id", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.when(F.col("n_bigrams").isNull() | (F.col("n_bigrams") == 0), F.lit(0.0))
            .otherwise(
                F.col("num").cast("double")
                / (F.col("n_bigrams").cast("long") * (F.col("B") + F.col("V"))).cast("double")
            )
            .alias("mean_laplace_p"),
        )
    )


_PORTABLE60 = "CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)"

O_T_BIGRAM_LM = f"""
WITH docs AS (
  SELECT doc_id,
         CASE WHEN trim(lower(text)) = '' THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS w,
         {_PORTABLE60} % 10000 < 8000 AS is_train
  FROM documents
), bi AS (
  SELECT doc_id, is_train, w[i] || ' ' || w[i + 1] AS bi
  FROM docs, UNNEST(range(1, len(w))) AS t(i)
  WHERE len(w) >= 2
), vocab AS (
  SELECT bi, CAST(count(*) AS BIGINT) AS c FROM bi WHERE is_train GROUP BY 1
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS B, CAST(count(*) AS BIGINT) AS V FROM vocab
), scored AS (
  SELECT t.doc_id,
         CAST(count(*) AS INTEGER) AS n_bigrams,
         CAST(count(CASE WHEN v.c IS NULL THEN 1 END) AS INTEGER) AS n_oov,
         CAST(sum(coalesce(v.c, 0) + 1) AS BIGINT) AS num
  FROM bi t LEFT JOIN vocab v ON v.bi = t.bi
  WHERE NOT t.is_train
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(s.n_bigrams, 0) AS n_bigrams,
       coalesce(s.n_oov, 0) AS n_oov,
       CASE WHEN s.n_bigrams IS NULL OR s.n_bigrams = 0 THEN 0.0
            ELSE CAST(s.num AS DOUBLE)
                 / CAST(CAST(s.n_bigrams AS BIGINT) * (t.B + t.V) AS DOUBLE) END
         AS mean_laplace_p
FROM docs d LEFT JOIN scored s ON s.doc_id = d.doc_id CROSS JOIN tot t
WHERE NOT d.is_train
"""


REGISTRY = {
    "t_bigram_lm": (q_t_bigram_lm, O_T_BIGRAM_LM),
    "d_setsim_prefix_join": (q_d_setsim_prefix_join, O_D_SETSIM_PREFIX),
    "d_containment": (q_d_containment, O_D_CONTAINMENT),
    "w17_gap_fill": (q_w17_gap_fill, O_W17_GAP_FILL),
    "j13_bloom_filtered_join": (q_j13_bloom_filtered_join, O_J13_BLOOM),
    "j14_scd2_lookup": (q_j14_scd2_lookup, O_J14_SCD2_LOOKUP),
    "a14_mad_outliers": (q_a14_mad_outliers, O_A14_MAD),
    "w18_ewma": (q_w18_ewma, O_W18_EWMA),
    "s14_stream_stream_full_outer": (q_s14_stream_stream_full_outer, O_S14_FULL_OUTER),
}
