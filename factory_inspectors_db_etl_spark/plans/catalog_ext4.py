"""Round-6 catalog: TF-IDF-weighted cosine entity-resolution join,
a REAL PNG encode→decode round-trip, market-concentration (HHI),
per-market RFM segmentation, session→calendar interval alignment,
n-gram novelty scoring, deterministic exact-k reservoir sampling, and
a 2-D skyline (Pareto frontier).

Same contract as ``plans.catalog``: every query has a DuckDB oracle
registered with it in this module's ``REGISTRY``.  Determinism follows
the catalog conventions: money in integer cents, integer cross-multiplied
thresholds (DECIMAL(38,0) / HUGEINT on the oracle side), one trailing
IEEE division per float output, integer aggregates CAST to BIGINT in
oracles, date/bucket outputs as ISO strings, and every window over a
provably total per-partition order.

Reference parity: the reference's dictionary fuzzy-dot fallback
(populate_db_ru_v1.py:186-192) is the 1-entity-at-a-time ancestor of
``j16``'s corpus-scale set-similarity join; everything else extends the
engine past the reference surface (LLM-pipeline + analytics families).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators import multimodal as MM
from ..operators.allocation import fifo_allocate
from ..operators.dedup import (
    materialize,
    normalize_for_shingling,
    shingles,
)
from ..operators.setsim import tfidf_cosine_pairs
from ..sources.tables import load_table

def _cents(col: str):
    return (F.col(col).cast("decimal(18,2)") * 100).cast("long")


# ---------------------------------------------------------------------------
# J16: TF-IDF-weighted cosine set-similarity join (entity resolution)
# ---------------------------------------------------------------------------


def q_j16_tfidf_cosine_join(spark: SparkSession, sf: str) -> DataFrame:
    """J16: idf-weighted cosine self-join over part NAMES — the WHIRL /
    fuzzy-match entity-resolution shape: two product names match when
    they share RARE words, with ubiquitous words contributing ~nothing.
    Integer surrogate idf (``w = N div df``) + suffix-norm prefix filter
    (lossless, Bayardo WWW'07) + DECIMAL(38,0) cross-multiplied
    threshold — see ``operators.setsim.tfidf_cosine_pairs``.

    Registered at the DISTINCT-TEXT grain with member multiplicities
    (``expand_members=False``): on duplicate-heavy corpora the
    member-level enumeration is Θ(duplicates²) — measured ~3·10⁹ rows
    on the 10×-replicated sf1 stress corpus, where the grouped result
    is 64 rows — so the grouped form IS the scale contract, and the
    multiplicity columns keep it information-complete.  The oracle is
    capless all-pairs SQL at the same grain with df/N counted over RAW
    rows, so the prefix filter's zero-false-negative claim is still
    value-checked every run (member-level losslessness is pinned vs
    brute force in tests/test_round6_ops.py)."""
    p = load_table(spark, sf, "part").select("p_partkey", "p_name")
    return tfidf_cosine_pairs(
        p, "p_partkey", "p_name", threshold_num=3, threshold_den=5,
        expand_members=False,
    )


O_J16 = """
WITH grp AS MATERIALIZED (
  SELECT min(p_partkey) AS doc, CAST(count(*) AS BIGINT) AS gn, p_name
  FROM part GROUP BY p_name
), toks AS (
  SELECT DISTINCT doc, tok
  FROM (
    SELECT doc,
           unnest(string_split(regexp_replace(trim(lower(p_name)), '\\s+', ' ', 'g'), ' ')) AS tok
    FROM grp
  )
), n AS (
  SELECT CAST(sum(gn) AS BIGINT) AS nd FROM grp
), wt AS (
  SELECT tok, CAST((SELECT nd FROM n) // CAST(sum(g.gn) AS BIGINT) AS BIGINT) AS w
  FROM toks t JOIN grp g USING (doc) GROUP BY tok
), tw AS (
  SELECT doc, t.tok, CAST(w * w AS BIGINT) AS w2
  FROM toks t JOIN wt USING (tok)
), norms AS (
  SELECT doc, CAST(sum(w2) AS BIGINT) AS n2 FROM tw GROUP BY 1
), dots AS (
  SELECT a.doc AS id_a, b.doc AS id_b, CAST(sum(a.w2) AS BIGINT) AS dot
  FROM tw a JOIN tw b ON a.tok = b.tok AND a.doc < b.doc
  GROUP BY 1, 2
), cross_pairs AS (
  SELECT id_a, id_b, dot,
         na.n2 AS na2, nb.n2 AS nb2,
         CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine,
         ga.gn AS n_a, gb.gn AS n_b,
         CAST(ga.gn * gb.gn AS BIGINT) AS n_pairs
  FROM dots
  JOIN norms na ON na.doc = id_a
  JOIN norms nb ON nb.doc = id_b
  JOIN grp ga ON ga.doc = id_a
  JOIN grp gb ON gb.doc = id_b
  WHERE CAST(dot AS HUGEINT) * dot * 25 >= 9 * CAST(na.n2 AS HUGEINT) * nb.n2
), self_pairs AS (
  SELECT g.doc AS id_a, g.doc AS id_b, nm.n2 AS dot, nm.n2 AS na2, nm.n2 AS nb2,
         CAST(nm.n2 AS DOUBLE) / sqrt(CAST(nm.n2 AS DOUBLE) * CAST(nm.n2 AS DOUBLE)) AS cosine,
         g.gn AS n_a, g.gn AS n_b,
         CAST(g.gn * (g.gn - 1) // 2 AS BIGINT) AS n_pairs
  FROM grp g JOIN norms nm ON nm.doc = g.doc
  WHERE g.gn >= 2
)
SELECT * FROM cross_pairs UNION ALL SELECT * FROM self_pairs
"""


# ---------------------------------------------------------------------------
# M-PNG: real PNG encode -> decode round-trip, SQL-replayed pixel stats
# ---------------------------------------------------------------------------


def q_m_png_decode(spark: SparkSession, sf: str) -> DataFrame:
    """M-PNG: REAL PNG decode.  ``with_png_payload`` builds a genuine
    PNG per document (zlib IDAT, CRC'd chunks, all five scanline filter
    types in rotation) whose PIXELS replay a SQL-expressible rule over
    the document text; ``decode_and_featurize`` then really decodes it
    (``operators.multimodal.decode_png``: chunk walk + CRC check +
    inflate + un-filter).  The oracle recomputes the channel means from
    the pixel RULE — a hash match therefore proves the whole
    encode→decode round-trip bit-exactly, since any filter/inflate/CRC
    defect would perturb the decoded sums."""
    d = load_table(spark, sf, "documents")
    feats = MM.decode_and_featurize(MM.with_png_payload(d))
    fx = lambda i: F.element_at("features", i)  # noqa: E731
    return feats.select(
        "doc_id",
        fx(1).cast("int").alias("width"),
        fx(2).cast("int").alias("height"),
        fx(4).alias("mean_r"),
        fx(5).alias("mean_g"),
        fx(6).alias("mean_b"),
        fx(7).alias("mean_all"),
    )


O_M_PNG = """
WITH m AS (
  SELECT doc_id,
         CAST(doc_id % 5 + 3 AS BIGINT) AS w,
         CAST(doc_id % 4 + 2 AS BIGINT) AS h,
         length(text) AS L,
         list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1)) % 256) AS codes
  FROM documents
), s AS (
  SELECT doc_id, w, h,
         list_sum(list_transform(range(0, w * h), j ->
            CASE WHEN L = 0 THEN 0 ELSE codes[((3 * j) % L) + 1] END)) AS sum_r,
         list_sum(list_transform(range(0, w * h), j ->
            CASE WHEN L = 0 THEN 0 ELSE codes[((3 * j + 1) % L) + 1] END)) AS sum_g,
         list_sum(list_transform(range(0, w * h), j ->
            CASE WHEN L = 0 THEN 0 ELSE codes[((3 * j + 2) % L) + 1] END)) AS sum_b
  FROM m
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(sum_r AS DOUBLE) / (w * h * 255) AS mean_r,
       CAST(sum_g AS DOUBLE) / (w * h * 255) AS mean_g,
       CAST(sum_b AS DOUBLE) / (w * h * 255) AS mean_b,
       CAST(sum_r + sum_g + sum_b AS DOUBLE) / (w * h * 3 * 255) AS mean_all
FROM s
"""


# ---------------------------------------------------------------------------
# A22: Herfindahl–Hirschman market-concentration index per nation
# ---------------------------------------------------------------------------


def q_a22_hhi_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """A22: HHI revenue concentration per customer nation — the
    market-concentration / inequality family companion to a18 (Gini),
    chosen over entropy/Theil because HHI = Σ shareᵢ² is exactly
    computable from integer cents: per-customer revenue in cents
    (BIGINT), squares summed in DECIMAL(38,0) (cents² overflows BIGINT
    at scale), and the headline value is the EXACT integer
    ``hhi_e12 = (sumsq·10¹²) div total²`` — integral division of
    38-digit decimals is exact in both engines, where a direct
    sumsq→double cast is NOT (sf1 lesson: DuckDB's int128→double
    double-rounds, 1-ulp mismatch on one nation); the display double
    divides that exact integer by 1e12.  Plan: one shuffle to customer
    grain, one to nation grain, nation dim broadcast."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    cust = (
        o.groupBy("o_custkey")
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("cents"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    dec = F.col("cents").cast("decimal(38,0)")
    agg = cust.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum(dec * dec).cast("decimal(38,0)").alias("_sumsq"),
    )
    return agg.withColumn(
        "hhi_e12",
        F.expr(
            "CAST((_sumsq * CAST(1000000000000 AS DECIMAL(38,0))) div "
            "(CAST(total_cents AS DECIMAL(38,0)) * CAST(total_cents AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ),
    ).select(
        "n_name",
        "n_customers",
        "total_cents",
        "hhi_e12",
        (F.col("hhi_e12").cast("double") / F.lit(1.0e12)).alias("hhi"),
    )


O_A22_HHI = """
WITH cust AS (
  SELECT o_custkey, CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), j AS (
  SELECT n.n_name, cust.cents
  FROM cust
  JOIN customer c ON c.c_custkey = o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
)
SELECT n_name, n_customers, total_cents, hhi_e12,
       CAST(hhi_e12 AS DOUBLE) / 1e12 AS hhi
FROM (
  SELECT n_name,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS total_cents,
         CAST(sum(CAST(cents AS HUGEINT) * cents) * CAST(1000000000000 AS HUGEINT)
              // (CAST(sum(cents) AS HUGEINT) * sum(cents)) AS BIGINT) AS hhi_e12
  FROM j GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# W28: per-market RFM segmentation (windowed quintile scoring)
# ---------------------------------------------------------------------------


def q_w28_rfm_segmentation(spark: SparkSession, sf: str) -> DataFrame:
    """W28: RFM (recency/frequency/monetary) customer segmentation with
    quintile scores PER NATION — the product-analytics staple.  Metrics
    are exact integers (days since last order vs the global max order
    date, order count, cents); scores are ``ntile(5)`` over total
    orders — every ntile ranks by (metric, c_custkey) so the tiling is
    deterministic, and every window is PARTITIONED by nation (no global
    sort funnel; the per-market framing is also the analytically right
    one — spend scales differ across markets).  Global max date arrives
    by broadcast 1-row cross join."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    maxd = o.agg(F.max("o_orderdate").alias("_maxd"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("_last"),
            F.count(F.lit(1)).cast("long").alias("f_orders"),
            F.sum(_cents("o_totalprice")).cast("long").alias("m_cents"),
        )
        .crossJoin(F.broadcast(maxd))
        .withColumn("r_days", F.datediff("_maxd", "_last").cast("int"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    wr = W.partitionBy("n_name").orderBy(F.col("r_days").desc(), "c_custkey")
    wf = W.partitionBy("n_name").orderBy(F.col("f_orders").asc(), "c_custkey")
    wm = W.partitionBy("n_name").orderBy(F.col("m_cents").asc(), "c_custkey")
    scored = cust.select(
        "c_custkey",
        "n_name",
        "r_days",
        "f_orders",
        "m_cents",
        F.ntile(5).over(wr).cast("int").alias("r_score"),
        F.ntile(5).over(wf).cast("int").alias("f_score"),
        F.ntile(5).over(wm).cast("int").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat_ws(
            "",
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


O_W28_RFM = """
WITH maxd AS (
  SELECT max(o_orderdate) AS md FROM orders
), cust AS (
  SELECT o_custkey,
         CAST(datediff('day', max(o_orderdate), (SELECT md FROM maxd)) AS INTEGER) AS r_days,
         CAST(count(*) AS BIGINT) AS f_orders,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS m_cents
  FROM orders GROUP BY 1
), j AS (
  SELECT c.c_custkey, n.n_name, cust.r_days, cust.f_orders, cust.m_cents
  FROM cust
  JOIN customer c ON c.c_custkey = o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
), s AS (
  SELECT c_custkey, n_name, r_days, f_orders, m_cents,
         CAST(ntile(5) OVER (PARTITION BY n_name ORDER BY r_days DESC, c_custkey) AS INTEGER) AS r_score,
         CAST(ntile(5) OVER (PARTITION BY n_name ORDER BY f_orders ASC, c_custkey) AS INTEGER) AS f_score,
         CAST(ntile(5) OVER (PARTITION BY n_name ORDER BY m_cents ASC, c_custkey) AS INTEGER) AS m_score
  FROM j
)
SELECT c_custkey, n_name, r_days, f_orders, m_cents, r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment
FROM s
"""


# ---------------------------------------------------------------------------
# J18: session -> calendar-hour interval alignment
# ---------------------------------------------------------------------------


def q_j18_interval_align(spark: SparkSession, sf: str) -> DataFrame:
    """J18: align per-user SESSION intervals (w13's 30-minute-gap rule)
    onto the CALENDAR HOUR grid, emitting the exact overlap of every
    (session, hour) cell in integer microseconds — the temporal
    normalization step behind per-hour billing/occupancy rollups.  No
    inequality join anywhere: each session explodes to the hours it
    covers (``sequence`` fan-out bounded by session length), overlap is
    ``least(end, hour+1h) - greatest(start, hour)`` on NTZ timestamps.
    One shuffle on user_id serves both sessionization windows and the
    session aggregate; the hour explode is shuffle-free."""
    ev = load_table(spark, sf, "events")
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
        .agg(F.min("ts").alias("_s"), F.max("ts").alias("_e"))
    )
    cells = sess.select(
        "user_id",
        "session_idx",
        "_s",
        "_e",
        F.explode(
            F.expr("sequence(date_trunc('hour', _s), date_trunc('hour', _e), interval 1 hour)")
        ).alias("_h"),
    )
    return cells.select(
        "user_id",
        "session_idx",
        F.date_format("_h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.expr(
            "timestampdiff(MICROSECOND, greatest(_s, _h),"
            " least(_e, _h + interval 1 hour))"
        ).cast("long").alias("overlap_us"),
    )


O_J18_ALIGN = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_idx
  FROM g
), sess AS (
  SELECT user_id, session_idx, min(ts) AS s, max(ts) AS e
  FROM s GROUP BY 1, 2
), cells AS (
  SELECT user_id, session_idx, s, e,
         unnest(generate_series(date_trunc('hour', s), date_trunc('hour', e),
                                INTERVAL 1 HOUR)) AS h
  FROM sess
)
SELECT user_id, session_idx,
       strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(date_diff('microseconds', greatest(s, h), least(e, h + INTERVAL 1 HOUR)) AS BIGINT)
         AS overlap_us
FROM cells
"""


# ---------------------------------------------------------------------------
# T-NOV: per-document n-gram novelty (first-seen shingle fraction)
# ---------------------------------------------------------------------------


def q_t_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """T-NOV: per-document novelty — the fraction of a document's
    distinct 3-shingles whose FIRST appearance (minimum doc_id) is this
    document.  The corpus-curation signal behind "how much of this crawl
    is new text" dashboards, and the batch twin of incremental-dedup's
    delta framing (d_incremental_dedup).  Two shuffles: one groupBy to
    find each shingle's first owner, one to re-aggregate per document;
    shingles are 64-bit hashes (catalog identity convention)."""
    d = load_table(spark, sf, "documents")
    sh = (
        d.withColumn("_words", F.split(normalize_for_shingling(F.col("text")), " "))
        .select("doc_id", F.explode(shingles(F.col("_words"), 3)).alias("_sh"))
        .select("doc_id", F.xxhash64("_sh").alias("elem"))
        .distinct()
    )
    firsts = sh.groupBy("elem").agg(F.min("doc_id").alias("_first"))
    per_doc = (
        sh.join(firsts, "elem")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("_first") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_shingles").cast("double")).alias(
            "novelty"
        ),
    )


O_T_NOVELTY = """
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS sh
  FROM toks, UNNEST(range(1, greatest(len(w) - 2, 1) + 1)) AS t(i)
), firsts AS (
  SELECT sh, min(doc_id) AS fd FROM sh GROUP BY 1
), per_doc AS (
  SELECT s.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN f.fd = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM sh s JOIN firsts f USING (sh)
  GROUP BY 1
)
SELECT doc_id, n_shingles, n_novel,
       CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novelty
FROM per_doc
"""


# ---------------------------------------------------------------------------
# P-RES: deterministic exact-k reservoir sample (hash top-k)
# ---------------------------------------------------------------------------


def q_p_reservoir_sample(spark: SparkSession, sf: str) -> DataFrame:
    """P-RES: exact-k uniform sample WITHOUT a global shuffle sort —
    rank every event by a salted content hash and keep the k smallest
    (hash-ordering makes "uniform random" and "deterministic replay"
    the same thing, the sampling-family convention from p_hash_split).
    Plan: TakeOrderedAndProject — per-partition top-k then a driver-side
    k-way merge of k·n_partitions rows, never a full sort/shuffle of the
    fact table; at any scale the moved data is O(k) per partition.  The
    md5 hash family keeps the oracle replay engine-portable."""
    ev = load_table(spark, sf, "events")
    rk = F.md5(F.concat(F.lit("rs6:"), F.col("event_id").cast("string")))
    return (
        ev.select("event_id", "user_id", "event_type", rk.alias("rk"))
        .orderBy("rk", "event_id")
        .limit(1000)
    )


O_P_RESERVOIR = """
SELECT event_id, user_id, event_type,
       md5('rs6:' || CAST(event_id AS VARCHAR)) AS rk
FROM events
ORDER BY rk, event_id
LIMIT 1000
"""


# ---------------------------------------------------------------------------
# O8: 2-D skyline (Pareto frontier: minimize price, maximize size)
# ---------------------------------------------------------------------------


def q_o8_skyline_2d(spark: SparkSession, sf: str) -> DataFrame:
    """O8: the skyline operator — parts on the (minimize retail price,
    maximize size) Pareto frontier: no other part is at-most-as-expensive
    AND at-least-as-large with at least one strict.  Classic distributed
    decomposition (skyline(S₁∪S₂) ⊆ skyline(S₁)∪skyline(S₂), dominance
    transitivity): stage 1 computes BUCKET-LOCAL skylines with
    PARTITIONED windows ($1000 price buckets; a range frame gives the
    strictly-cheaper running max, a same-price partition max settles
    ties), stage 2 merges the few survivors with one broadcast
    inequality anti-join — no global-order window, no quadratic join on
    the full table.  Equal (price, size) rows don't dominate each other
    and are all kept."""
    p = load_table(spark, sf, "part")
    b = p.select(
        "p_partkey", _cents("p_retailprice").alias("price_cents"), "p_size"
    ).withColumn("_bucket", F.expr("price_cents div 100000"))
    w_cheaper = (
        W.partitionBy("_bucket")
        .orderBy("price_cents")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    w_same = W.partitionBy("price_cents")
    local = (
        b.withColumn("_prev_max", F.max("p_size").over(w_cheaper))
        .withColumn("_same_max", F.max("p_size").over(w_same))
        .filter(
            (F.col("_prev_max").isNull() | (F.col("_prev_max") < F.col("p_size")))
            & (F.col("p_size") == F.col("_same_max"))
        )
        .select("p_partkey", "price_cents", "p_size")
    )
    local = materialize(local)
    t = local.select(
        F.col("price_cents").alias("_tp"), F.col("p_size").alias("_ts")
    )
    dominated = ((F.col("_tp") < F.col("price_cents")) & (F.col("_ts") >= F.col("p_size"))) | (
        (F.col("_tp") == F.col("price_cents")) & (F.col("_ts") > F.col("p_size"))
    )
    return local.join(F.broadcast(t), dominated, "left_anti")


O_O8_SKYLINE = """
WITH b AS (
  SELECT p_partkey,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
         p_size
  FROM part
)
SELECT p_partkey, price_cents, p_size
FROM b s
WHERE NOT EXISTS (
  SELECT 1 FROM b t
  WHERE (t.price_cents < s.price_cents AND t.p_size >= s.p_size)
     OR (t.price_cents = s.price_cents AND t.p_size > s.p_size)
)
"""


# ---------------------------------------------------------------------------
# J19: FIFO allocation (inventory lot matching via cumulative intervals)
# ---------------------------------------------------------------------------


def q_j19_fifo_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """J19: FIFO lot matching — per part, match 'A'-returnflag lineitems
    (demand) against 'R'-flag lineitems (supply) in shipdate order,
    emitting the exact quantity each (demand, supply) pair exchanges.
    The distributed form is the cumulative-interval identity (see
    ``operators.allocation.fifo_allocate``): alloc(i,j) = overlap of the
    two cumulative unit ranges, paired by fixed-width cells of the
    cumulative axis (J11 discipline) — no sequential walk, no per-key
    all-pairs.  Rows pre-aggregate on the full natural key so the
    per-part order (shipdate, orderkey, linenumber) is total by
    construction (the p_pack_bins lesson: totality is a data property).
    All quantities exact BIGINT."""
    li = load_table(spark, sf, "lineitem")
    base = (
        li.filter(F.col("l_returnflag").isin("A", "R"))
        .groupBy(
            "l_partkey", "l_returnflag", "l_shipdate", "l_orderkey", "l_linenumber"
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"))
    )
    demand = base.filter(F.col("l_returnflag") == "A").drop("l_returnflag")
    supply = base.filter(F.col("l_returnflag") == "R").drop("l_returnflag")
    out = fifo_allocate(
        demand,
        supply,
        key_cols=["l_partkey"],
        order_cols=["l_shipdate", "l_orderkey", "l_linenumber"],
        qty_col="qty",
    )
    return out.select(
        F.col("l_partkey").alias("part_id"),
        F.col("d_l_orderkey").alias("d_orderkey"),
        F.col("d_l_linenumber").alias("d_linenumber"),
        F.col("s_l_orderkey").alias("s_orderkey"),
        F.col("s_l_linenumber").alias("s_linenumber"),
        "alloc_qty",
    )


O_J19_FIFO = """
WITH base AS (
  SELECT l_partkey, l_returnflag, l_shipdate, l_orderkey, l_linenumber,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem WHERE l_returnflag IN ('A', 'R')
  GROUP BY 1, 2, 3, 4, 5
), c AS (
  SELECT *,
         CAST(sum(qty) OVER (PARTITION BY l_partkey, l_returnflag
                             ORDER BY l_shipdate, l_orderkey, l_linenumber
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
  FROM base
)
SELECT d.l_partkey AS part_id,
       d.l_orderkey AS d_orderkey, d.l_linenumber AS d_linenumber,
       s.l_orderkey AS s_orderkey, s.l_linenumber AS s_linenumber,
       CAST(least(d.hi, s.hi) - greatest(d.hi - d.qty, s.hi - s.qty) AS BIGINT)
         AS alloc_qty
FROM c d JOIN c s ON d.l_partkey = s.l_partkey
WHERE d.l_returnflag = 'A' AND s.l_returnflag = 'R'
  AND d.hi - d.qty < s.hi AND s.hi - s.qty < d.hi
"""


# ---------------------------------------------------------------------------
# J21: grid-bucketed spatial self-join (exact integer L2²)
# ---------------------------------------------------------------------------

_SPATIAL_R = 10_000  # radius on the 1e6 x 1e6 integer grid


def q_j21_grid_spatial_join(spark: SparkSession, sf: str) -> DataFrame:
    """J21: spatial distance self-join — every customer pair within
    Euclidean distance r on a synthetic 10⁶×10⁶ integer plane
    (coordinates are md5-derived from the key: deterministic, uniform,
    engine-portable — the p_hash_split identity convention).  Classic
    grid decomposition: cell side = r, each point PROBES its 3×3 cell
    neighborhood while standing in its home cell, so a qualifying pair
    (L2 ≤ r ⟹ L∞ ≤ r ⟹ adjacent cells) joins on exactly one
    (probe-cell = home-cell) key — an equi-join, never a quadratic
    inequality join, and no post-dedup.  Distance stays the exact
    integer dx²+dy² (BIGINT); candidate volume is O(n · density·r²),
    the spatial-join optimum."""
    c = load_table(spark, sf, "customer").select("c_custkey")
    hx = F.conv(F.substring(F.md5(F.concat(F.lit("gx:"), F.col("c_custkey").cast("string"))), 1, 15), 16, 10).cast("long")
    hy = F.conv(F.substring(F.md5(F.concat(F.lit("gy:"), F.col("c_custkey").cast("string"))), 1, 15), 16, 10).cast("long")
    pts = c.select(
        "c_custkey",
        (hx % 1_000_000).alias("x"),
        (hy % 1_000_000).alias("y"),
    ).withColumn("cx", F.expr(f"x div {_SPATIAL_R}")).withColumn(
        "cy", F.expr(f"y div {_SPATIAL_R}")
    )
    offsets = spark.range(9).select(
        (F.col("id") % 3 - 1).alias("dx"), (F.expr("id div 3") - 1).alias("dy")
    )
    probes = pts.crossJoin(F.broadcast(offsets)).select(
        F.col("c_custkey").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        (F.col("cx") + F.col("dx")).alias("jcx"),
        (F.col("cy") + F.col("dy")).alias("jcy"),
    )
    home = pts.select(
        F.col("c_custkey").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("cx").alias("jcx"),
        F.col("cy").alias("jcy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        probes.join(home, ["jcx", "jcy"])
        .filter((F.col("id_a") < F.col("id_b")) & (d2 <= F.lit(_SPATIAL_R * _SPATIAL_R)))
        .select(
            "id_a",
            "id_b",
            F.col("xa").cast("long").alias("xa"),
            F.col("ya").cast("long").alias("ya"),
            F.col("xb").cast("long").alias("xb"),
            F.col("yb").cast("long").alias("yb"),
            d2.cast("long").alias("dist2"),
        )
    )


O_J21_SPATIAL = f"""
WITH pts AS MATERIALIZED (
  SELECT c_custkey,
         CAST(('0x' || substr(md5('gx:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS x,
         CAST(('0x' || substr(md5('gy:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS y
  FROM customer
), cells AS (
  SELECT *, x // {_SPATIAL_R} AS cx, y // {_SPATIAL_R} AS cy FROM pts
), offsets AS (
  SELECT dx, dy FROM (VALUES (-1), (0), (1)) a(dx), (VALUES (-1), (0), (1)) b(dy)
)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(a.x AS BIGINT) AS xa, CAST(a.y AS BIGINT) AS ya,
       CAST(b.x AS BIGINT) AS xb, CAST(b.y AS BIGINT) AS yb,
       CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
FROM cells a
JOIN offsets o ON TRUE
JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
WHERE a.c_custkey < b.c_custkey
  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_SPATIAL_R * _SPATIAL_R}
"""


# ---------------------------------------------------------------------------
# M-WAV: real WAV encode -> decode round-trip, frame-level integer energy
# ---------------------------------------------------------------------------


def q_m_wav_energy(spark: SparkSession, sf: str) -> DataFrame:
    """M-WAV: REAL audio frame analysis.  ``with_wav_payload`` builds a
    genuine RIFF/PCM WAV per document whose SAMPLES replay a
    SQL-expressible rule over the text; ``frame_energy_table`` then
    really decodes it (RIFF chunk walk + PCM validation) and emits the
    EXACT integer Σs² per 64-sample frame.  The oracle recomputes the
    energies from the sample RULE — a hash match proves the whole
    encode→decode round-trip bit-exactly (the audio twin of
    ``m_png_decode``)."""
    d = load_table(spark, sf, "documents")
    return MM.frame_energy_table(MM.with_wav_payload(d), frame=64)


O_M_WAV = """
WITH m AS (
  SELECT doc_id,
         (CAST(doc_id % 5 AS BIGINT) + 2) * 64 AS n,
         length(text) AS L,
         list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1)) % 256) AS codes
  FROM documents
), smp AS (
  SELECT doc_id, n,
         list_transform(range(0, n), i ->
            CASE WHEN L = 0 THEN 0
                 ELSE (codes[(i % L) + 1] * ((i % 7) + 1)) % 4096 - 2048 END) AS s
  FROM m
)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(list_sum(list_transform(list_slice(s, 64 * f + 1, 64 * f + 64), v -> v * v)) AS BIGINT) AS energy,
       CAST(n AS BIGINT) AS n_samples
FROM smp, UNNEST(range(0, n // 64)) t(f)
"""


# ---------------------------------------------------------------------------
# T-VG: n-gram vocabulary growth (Heaps law) at batch grain
# ---------------------------------------------------------------------------

_VG_BATCH = 200


def q_t_vocab_growth(spark: SparkSession, sf: str) -> DataFrame:
    """T-VG: vocabulary-growth (Heaps-law) curve over the corpus in
    ingestion order — per batch of 200 docs, the number of NEVER-SEEN
    3-shingles and the cumulative vocabulary size.  The crawl-monitoring
    companion to t_ngram_novelty: same first-owner framing (min doc_id
    per shingle — one groupBy, no per-prefix rescans), aggregated to the
    batch grain.  The cumulative sum runs over the BATCH table (≤ a few
    hundred rows at any SF) via a broadcast inequality self-join — the
    catalog's standing fix for unpartitioned-window funnels
    (``operators/dims.py::mint_surrogate_ids``), so no stage ever
    single-threads on the corpus."""
    d = load_table(spark, sf, "documents")
    sh = (
        d.withColumn("_words", F.split(normalize_for_shingling(F.col("text")), " "))
        .select("doc_id", F.explode(shingles(F.col("_words"), 3)).alias("_sh"))
        .select("doc_id", F.xxhash64("_sh").alias("elem"))
        .distinct()
    )
    firsts = sh.groupBy("elem").agg(F.min("doc_id").alias("_fd"))
    newb = (
        firsts.select(F.expr(f"_fd div {_VG_BATCH}").alias("batch_id"))
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).cast("long").alias("new_shingles"))
    )
    docs = (
        d.select(F.expr(f"doc_id div {_VG_BATCH}").alias("batch_id"))
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    base = docs.join(newb, "batch_id", "left").fillna(0, subset=["new_shingles"])
    prior = base.select(
        F.col("batch_id").alias("_b2"), F.col("new_shingles").alias("_ns2")
    )
    return (
        base.join(F.broadcast(prior), F.col("_b2") <= F.col("batch_id"))
        .groupBy("batch_id", "n_docs", "new_shingles")
        .agg(F.sum("_ns2").cast("long").alias("vocab_size"))
        .select("batch_id", "n_docs", "new_shingles", "vocab_size")
    )


O_T_VOCAB_GROWTH = f"""
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS sh
  FROM toks, UNNEST(range(1, greatest(len(w) - 2, 1) + 1)) AS t(i)
), firsts AS (
  SELECT sh, min(doc_id) AS fd FROM sh GROUP BY 1
), newb AS (
  SELECT fd // {_VG_BATCH} AS batch_id, CAST(count(*) AS BIGINT) AS new_shingles
  FROM firsts GROUP BY 1
), docs AS (
  SELECT doc_id // {_VG_BATCH} AS batch_id, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
)
SELECT CAST(d.batch_id AS BIGINT) AS batch_id, n_docs,
       CAST(COALESCE(new_shingles, 0) AS BIGINT) AS new_shingles,
       CAST(sum(COALESCE(new_shingles, 0)) OVER (ORDER BY d.batch_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
FROM docs d LEFT JOIN newb USING (batch_id)
"""


# ---------------------------------------------------------------------------
# W29: last-touch attribution (most recent prior click within 7 days)
# ---------------------------------------------------------------------------


def q_w29_last_touch_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """W29: last-touch marketing attribution — for every purchase, the
    user's most recent PRIOR click, attributed only when it falls inside
    a 7-day lookback.  One growing-frame window per user (last(...,
    ignorenulls) over [unbounded preceding, -1] — incremental, never the
    quadratic tail-rescan shape the w17 lesson flags), gap in exact
    integer microseconds (engine-portable where SECOND truncation is
    not).  The attribution staple behind marketing-spend dashboards."""
    ev = load_table(spark, sf, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    lc = F.last(
        F.when(F.col("event_type") == "click", F.struct("ts", "event_id")),
        ignorenulls=True,
    ).over(w)
    horizon_us = 7 * 86400 * 1_000_000
    out = (
        ev.withColumn("_lc", lc)
        .filter(F.col("event_type") == "purchase")
        .withColumn(
            "_gap_us", F.expr("timestampdiff(MICROSECOND, _lc.ts, ts)").cast("long")
        )
        .withColumn("_in", F.col("_gap_us") <= F.lit(horizon_us))
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.when(F.col("_in"), F.col("_lc.event_id")).alias("click_event_id"),
        F.when(F.col("_in"), F.col("_gap_us")).alias("gap_us"),
        F.coalesce(F.col("_in"), F.lit(False)).alias("attributed"),
    )


O_W29_ATTRIBUTION = """
WITH w AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'click'
                         THEN struct_pack(cts := ts, ceid := event_id) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lc
  FROM events
)
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       CASE WHEN date_diff('microsecond', lc.cts, ts) <= 604800000000
            THEN lc.ceid END AS click_event_id,
       CASE WHEN date_diff('microsecond', lc.cts, ts) <= 604800000000
            THEN CAST(date_diff('microsecond', lc.cts, ts) AS BIGINT) END AS gap_us,
       COALESCE(date_diff('microsecond', lc.cts, ts) <= 604800000000, FALSE) AS attributed
FROM w WHERE event_type = 'purchase'
"""


# ---------------------------------------------------------------------------
# P-TS: temporal train/test split with cold-start labeling
# ---------------------------------------------------------------------------


def q_p_temporal_split(spark: SparkSession, sf: str) -> DataFrame:
    """P-TS: leakage-safe temporal train/test split — the ML-prep staple
    the hash splits (p_hash_split) deliberately do NOT cover: the cutoff
    is the 80% point of the observed time span (exact integer-µs
    cross-multiplication, no float epochs), events strictly before it
    are 'train', the rest 'test', and every user whose FIRST event lands in
    the test period is flagged cold_start (the users a temporal model
    has never seen).  One window shuffle on user_id for first-event;
    bounds arrive by broadcast 1-row cross join."""
    ev = load_table(spark, sf, "events")
    bounds = ev.agg(F.min("ts").alias("_lo"), F.max("ts").alias("_hi"))
    w = W.partitionBy("user_id")
    lab = (
        ev.withColumn("_first", F.min("ts").over(w))
        .crossJoin(F.broadcast(bounds))
        .withColumn("_off5", F.expr("timestampdiff(MICROSECOND, _lo, ts)") * 5)
        .withColumn("_span4", F.expr("timestampdiff(MICROSECOND, _lo, _hi)") * 4)
        .withColumn(
            "_foff5", F.expr("timestampdiff(MICROSECOND, _lo, _first)") * 5
        )
    )
    return lab.select(
        "event_id",
        "user_id",
        F.when(F.col("_off5") < F.col("_span4"), F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
        (F.col("_foff5") >= F.col("_span4")).alias("cold_start"),
    )


O_P_TEMPORAL_SPLIT = """
WITH b AS (
  SELECT min(ts) AS lo, max(ts) AS hi FROM events
), u AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1
)
SELECT e.event_id, e.user_id,
       CASE WHEN date_diff('microsecond', b.lo, e.ts) * 5
                 < date_diff('microsecond', b.lo, b.hi) * 4
            THEN 'train' ELSE 'test' END AS split,
       date_diff('microsecond', b.lo, u.first_ts) * 5
         >= date_diff('microsecond', b.lo, b.hi) * 4 AS cold_start
FROM events e, b
JOIN u ON u.user_id = e.user_id
"""


# ---------------------------------------------------------------------------
# J23: incremental join-view maintenance (delta-join identity)
# ---------------------------------------------------------------------------


def q_j23_incremental_join_view(spark: SparkSession, sf: str) -> DataFrame:
    """J23: materialized JOIN-view maintenance — the delta-join identity
    ΔV = ΔA ⋈ B (A8 covers the aggregate half; this is the join half).
    The per-nation revenue view over orders ⋈ customer ⋈ nation is
    maintained INCREMENTALLY: the pre-existing state (orders before
    1997) is aggregated once, the 'newly arrived' batch (1997+) joins
    the dims alone, and the view is the merged re-aggregation — never a
    re-scan of the old fact.  The ORACLE recomputes the view from
    scratch, so a hash match value-checks the maintenance identity
    itself cross-engine.  Money in integer cents throughout."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    cut = F.lit("1997-01-01").cast("date")

    def contribution(orders: DataFrame) -> DataFrame:
        return (
            orders.join(c, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(
                F.sum(_cents("o_totalprice")).cast("long").alias("revenue_cents"),
                F.count(F.lit(1)).cast("long").alias("n_orders"),
            )
        )

    old_state = contribution(o.filter(F.col("o_orderdate") < cut))
    delta = contribution(o.filter(F.col("o_orderdate") >= cut))
    return (
        old_state.unionByName(delta)
        .groupBy("n_name")
        .agg(
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
            F.sum("n_orders").cast("long").alias("n_orders"),
        )
    )


O_J23_INC_VIEW = """
SELECT n.n_name,
       CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# A24: percentile rank / empirical CDF per group
# ---------------------------------------------------------------------------


def q_a24_percentile_rank(spark: SparkSession, sf: str) -> DataFrame:
    """A24: each customer's spend percentile WITHIN their nation —
    ``percent_rank`` ((rank−1)/(n−1)) and ``cume_dist`` (empirical CDF,
    tie-aware) over exact integer cents.  The inverse lookup of w12's
    quantiles (value → percentile instead of percentile → value).  Both
    outputs are single exact-integer ratios, so the doubles are
    bit-identical cross-engine; one shuffle to customer grain, one
    window shuffle per nation, dims broadcast."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    cust = (
        o.groupBy("o_custkey")
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("cents"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    w = W.partitionBy("n_name").orderBy("cents")
    return cust.select(
        F.col("c_custkey"),
        "n_name",
        "cents",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdf"),
    )


O_A24_PCT_RANK = """
WITH cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), j AS (
  SELECT c.c_custkey, n.n_name, cust.cents
  FROM cust
  JOIN customer c ON c.c_custkey = o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
)
SELECT c_custkey, n_name, cents,
       percent_rank() OVER (PARTITION BY n_name ORDER BY cents) AS pct_rank,
       cume_dist() OVER (PARTITION BY n_name ORDER BY cents) AS cdf
FROM j
"""


# ---------------------------------------------------------------------------
# P-BAL: balanced class downsampling (majority classes cut to minority size)
# ---------------------------------------------------------------------------


def q_p_balanced_downsample(spark: SparkSession, sf: str) -> DataFrame:
    """P-BAL: class-balanced downsampling — every event_type reduced to
    the MINORITY class's count, membership decided by the k smallest
    salted content hashes per class (deterministic replay, the sampling
    family convention; never rand()).  The imbalanced-classification
    prep step p_group_sample's fixed-k form does not cover: k here is
    data-dependent (the global min class count), delivered by one
    broadcast 1-row join, so the plan is one class-partitioned window +
    one broadcast filter at any scale."""
    ev = load_table(spark, sf, "events")
    rk = F.md5(F.concat(F.lit("bal6:"), F.col("event_id").cast("string")))
    w = W.partitionBy("event_type").orderBy(rk, "event_id")
    ranked = ev.select(
        "event_id", "user_id", "event_type", F.row_number().over(w).alias("_rn")
    )
    min_n = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .agg(F.min("_cnt").alias("_min_n"))
    )
    return (
        ranked.crossJoin(F.broadcast(min_n))
        .filter(F.col("_rn") <= F.col("_min_n"))
        .select("event_id", "user_id", "event_type")
    )


O_P_BALANCED = """
WITH ranked AS (
  SELECT event_id, user_id, event_type,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY md5('bal6:' || CAST(event_id AS VARCHAR)), event_id) AS rn
  FROM events
), m AS (
  SELECT min(cnt) AS min_n FROM (SELECT count(*) AS cnt FROM events GROUP BY event_type)
)
SELECT event_id, user_id, event_type
FROM ranked, m WHERE rn <= min_n
"""


# ---------------------------------------------------------------------------
# M-MP4: real ISO-BMFF container demux, SQL-replayed metadata
# ---------------------------------------------------------------------------


def q_m_mp4_meta(spark: SparkSession, sf: str) -> DataFrame:
    """M-MP4: REAL video-container demux.  ``with_mp4_payload`` builds a
    genuine ISO BMFF file per document (size-prefixed box tree: ftyp +
    moov(mvhd + trak(tkhd)) + mdat) whose container FIELDS replay a
    SQL-expressible rule; ``decode_and_featurize`` then really parses it
    (``parse_mp4``: recursive box walk, size validation, version-0
    full-box field extraction).  A hash match proves the demux path
    end-to-end — the container level is what a data pipeline needs
    (duration, geometry, payload size); codec frame decode stays the
    declared fallback."""
    d = load_table(spark, sf, "documents")
    feats = MM.decode_and_featurize(MM.with_mp4_payload(d))
    fx = lambda i: F.element_at("features", i)  # noqa: E731
    return feats.select(
        "doc_id",
        fx(1).cast("long").alias("timescale"),
        fx(2).cast("long").alias("duration"),
        fx(3).alias("duration_s"),
        fx(4).cast("int").alias("width"),
        fx(5).cast("int").alias("height"),
        fx(6).cast("int").alias("n_boxes"),
        fx(7).cast("long").alias("mdat_bytes"),
    )


O_M_MP4 = """
SELECT doc_id,
       CAST(1000 AS BIGINT) AS timescale,
       CAST((doc_id % 9 + 1) * 1000 + length(text) AS BIGINT) AS duration,
       CAST((doc_id % 9 + 1) * 1000 + length(text) AS DOUBLE) / 1000 AS duration_s,
       CAST((doc_id % 5 + 1) * 64 AS INTEGER) AS width,
       CAST((doc_id % 3 + 1) * 48 AS INTEGER) AS height,
       CAST(6 AS INTEGER) AS n_boxes,
       CAST(least(length(text), 16) AS BIGINT) AS mdat_bytes
FROM documents
"""


# ---------------------------------------------------------------------------
# P-WIN: Tukey-fence winsorization (clip per-group outliers, exact bounds)
# ---------------------------------------------------------------------------


def q_p_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """P-WIN: per-nation winsorization of customer spend at the TUKEY
    FENCES (Q1 − 1.5·IQR, Q3 + 1.5·IQR) — the standard outlier-clipping
    prep step, and deliberately quartile-based: .25/.75 are DYADIC
    fractions, so the integer-cent interpolation and the 1.5 (dyadic)
    fence arithmetic are exact in both engines (the w12 lesson — a
    p05/p95 winsorize would interpolate at non-dyadic fractions and sit
    on a cross-engine ulp knife-edge).  One percentile aggregate with
    the percentage ARRAY (w12's single-buffer discipline), bounds
    broadcast back onto the customer rows."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    cust = (
        o.groupBy("o_custkey")
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("cents"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "n_name", "cents")
    )
    bounds = cust.groupBy("n_name").agg(
        F.percentile(F.col("cents").cast("double"), F.array(F.lit(0.25), F.lit(0.75))).alias("_q")
    ).select(
        "n_name",
        (F.element_at("_q", 1) - 1.5 * (F.element_at("_q", 2) - F.element_at("_q", 1))).alias("fence_lo"),
        (F.element_at("_q", 2) + 1.5 * (F.element_at("_q", 2) - F.element_at("_q", 1))).alias("fence_hi"),
    )
    j = cust.join(F.broadcast(bounds), "n_name")
    cd = F.col("cents").cast("double")
    return j.select(
        "c_custkey",
        "n_name",
        "cents",
        "fence_lo",
        "fence_hi",
        F.greatest(F.least(cd, F.col("fence_hi")), F.col("fence_lo")).alias("clipped"),
        ((cd < F.col("fence_lo")) | (cd > F.col("fence_hi"))).alias("was_clipped"),
    )


O_P_WINSORIZE = """
WITH cust AS (
  SELECT c.c_custkey, n.n_name,
         CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
), b AS (
  SELECT n_name,
         quantile_cont(CAST(cents AS DOUBLE), 0.25)
           - 1.5 * (quantile_cont(CAST(cents AS DOUBLE), 0.75)
                    - quantile_cont(CAST(cents AS DOUBLE), 0.25)) AS fence_lo,
         quantile_cont(CAST(cents AS DOUBLE), 0.75)
           + 1.5 * (quantile_cont(CAST(cents AS DOUBLE), 0.75)
                    - quantile_cont(CAST(cents AS DOUBLE), 0.25)) AS fence_hi
  FROM cust GROUP BY 1
)
SELECT cust.c_custkey, cust.n_name, cust.cents, b.fence_lo, b.fence_hi,
       greatest(least(CAST(cust.cents AS DOUBLE), b.fence_hi), b.fence_lo) AS clipped,
       CAST(cust.cents AS DOUBLE) < b.fence_lo OR CAST(cust.cents AS DOUBLE) > b.fence_hi
         AS was_clipped
FROM cust JOIN b USING (n_name)
"""


# ---------------------------------------------------------------------------
# W30: clickstream path analysis (top per-session event-type sequences)
# ---------------------------------------------------------------------------


def q_w30_path_analysis(spark: SparkSession, sf: str) -> DataFrame:
    """W30: path analysis — the top 50 session journeys, where a journey
    is the ordered sequence of a session's first 8 event types (w13's
    30-minute-gap sessions).  The clickstream staple behind "how do
    users reach purchase" dashboards.  Ordering inside a path comes from
    ``sort_array`` over (ts, event_id, type) structs — collect_list's
    arrival order is NOT deterministic, the struct sort is — and the
    8-event cap bounds per-session state at any scale.  Top-50 under a
    TOTAL order (count desc, path asc) so the cut is deterministic;
    TakeOrderedAndProject moves O(50) rows per partition."""
    ev = load_table(spark, sf, "events")
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
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("_evs")
        )
    )
    path = F.concat_ws(
        ">", F.transform(F.slice("_evs", 1, 8), lambda x: x["event_type"])
    )
    return (
        sess.select(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(50)
    )


O_W30_PATHS = """
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_idx
  FROM g
), paths AS (
  SELECT user_id, session_idx,
         array_to_string(
           list_slice(list(event_type ORDER BY ts, event_id), 1, 8), '>') AS path
  FROM s GROUP BY 1, 2
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT 50
"""


# ---------------------------------------------------------------------------
# W31: interval coalescing (merge overlapping intervals -> coverage)
# ---------------------------------------------------------------------------


def q_w31_interval_coalesce(spark: SparkSession, sf: str) -> DataFrame:
    """W31: merge overlapping/adjacent intervals per user — the coverage
    union behind uptime, on-call, and billing-overlap reports, and the
    other classic gaps-and-islands variant (w25 is the gap side; this is
    the overlap side).  Each event opens an interval [ts, ts + dur) with
    ``dur = (value·100 as int) mod 5400 + 60`` seconds (exact integer,
    SQL-replayable).  A new island starts where the interval's start
    exceeds the running max end of all PRIOR intervals (growing-frame
    max — incremental, the w17 lesson); islands aggregate to one row per
    merged busy block.  One shuffle on user_id serves both the window
    and the aggregate; all arithmetic integer-µs/seconds."""
    ev = load_table(spark, sf, "events")
    dur_s = (F.col("value").cast("decimal(18,2)") * 100).cast("long") % 5400 + 60
    base = ev.withColumn("_dur", dur_s).select(
        "user_id",
        "ts",
        "event_id",
        F.expr("ts + make_interval(0, 0, 0, 0, 0, 0, _dur)").alias("te"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prior_max_end = F.max("te").over(w.rowsBetween(W.unboundedPreceding, -1))
    flagged = base.withColumn(
        "_new", F.when(prior_max_end.isNull() | (F.col("ts") > prior_max_end), 1).otherwise(0)
    ).withColumn(
        "island",
        F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("int"),
    )
    return (
        flagged.groupBy("user_id", "island")
        .agg(
            F.min("ts").alias("_s"),
            F.max("te").alias("_e"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            "user_id",
            "island",
            F.date_format("_s", "yyyy-MM-dd HH:mm:ss").alias("block_start"),
            F.date_format("_e", "yyyy-MM-dd HH:mm:ss").alias("block_end"),
            "n_events",
            # MICROSECOND, not SECOND: Spark truncates the full difference
            # while DuckDB counts second-boundary crossings — divergent on
            # fractional-second endpoints; the µs diff is exact in both
            F.expr("timestampdiff(MICROSECOND, _s, _e)").cast("long").alias("covered_us"),
        )
    )


O_W31_COALESCE = """
WITH base AS (
  SELECT user_id, ts, event_id,
         ts + to_seconds(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 5400 + 60) AS te
  FROM events
), flagged AS (
  SELECT user_id, ts, event_id, te,
         CASE WHEN max(te) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                   OR ts > max(te) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_s
  FROM base
), isl AS (
  SELECT user_id, ts, te,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS INTEGER) AS island
  FROM flagged
)
SELECT user_id, island,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS block_start,
       strftime(max(te), '%Y-%m-%d %H:%M:%S') AS block_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(date_diff('microsecond', min(ts), max(te)) AS BIGINT) AS covered_us
FROM isl GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# S15: stream-stream LEFT SEMI join (completes the join-matrix: inner/
# left outer/full outer/semi)
# ---------------------------------------------------------------------------


def q_s15_stream_stream_semi(spark: SparkSession, sf: str) -> DataFrame:
    """S15: batch twin of the watermarked stream-stream LEFT SEMI join —
    purchases preceded by ANY same-user view within 30 minutes, each
    emitted once with no view columns (the EXISTS form).  Completes the
    s12/s13/s14 stream-stream join matrix; semi is the state-cheap arm:
    a buffered purchase can be dropped at its FIRST match instead of
    held for every later one, and output is bounded by the purchase
    stream, never match multiplicity.  Same function body as the
    streaming path (``streaming/ops.py::stream_stream_view_purchase_join``,
    how='left_semi'); streaming-vs-batch equivalence pinned in
    tests/test_streaming.py."""
    from ..streaming.ops import stream_stream_view_purchase_join

    ev = load_table(spark, sf, "events")
    return stream_stream_view_purchase_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        how="left_semi",
    )


O_S15_SEMI = """
SELECT p.event_id AS purchase_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_time
FROM events p
WHERE p.event_type = 'purchase'
  AND EXISTS (
    SELECT 1 FROM events v
    WHERE v.event_type = 'view' AND v.user_id = p.user_id
      AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 30 MINUTE
  )
"""


# ---------------------------------------------------------------------------
# P-CHI: chi-square independence audit (exact-integer contributions)
# ---------------------------------------------------------------------------


def q_p_chi2_independence(spark: SparkSession, sf: str) -> DataFrame:
    """P-CHI: chi-square test of independence between event_type and
    day-of-week — the data-QA screen for "is this categorical pair
    associated" (a dependence between event mix and weekday signals
    sampling or instrumentation drift).  Per contingency cell the
    contribution (O−E)²/E is computed via the a22 div trick as the
    EXACT integer ``((N·O − R·C)²·10⁶) div (N·R·C)`` in
    DECIMAL(38,0)/HUGEINT — N·O products overflow 2^53 at scale, and a
    direct int128→double cast is the documented engine-divergent
    landmine.  Plan: one contingency aggregation; margins re-aggregate
    the TINY cell table (≤ 5·7 rows) and join back broadcast."""
    ev = load_table(spark, sf, "events")
    cells = ev.groupBy(
        "event_type", F.dayofweek("ts").cast("int").alias("dow")
    ).agg(F.count(F.lit(1)).cast("long").alias("observed"))
    rows = cells.groupBy("event_type").agg(F.sum("observed").cast("long").alias("_r"))
    cols = cells.groupBy("dow").agg(F.sum("observed").cast("long").alias("_c"))
    total = cells.agg(F.sum("observed").cast("long").alias("_n"))
    j = (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "dow")
        .crossJoin(F.broadcast(total))
    )
    return j.select(
        "event_type",
        "dow",
        "observed",
        F.expr("CAST((_r * _c * 1000000) div _n AS BIGINT)").alias("expected_e6"),
        F.expr(
            "CAST(((CAST(_n AS DECIMAL(38,0)) * observed - CAST(_r AS DECIMAL(38,0)) * _c)"
            " * (CAST(_n AS DECIMAL(38,0)) * observed - CAST(_r AS DECIMAL(38,0)) * _c)"
            " * 1000000) div (CAST(_n AS DECIMAL(38,0)) * _r * _c) AS BIGINT)"
        ).alias("contrib_e6"),
    ).withColumn("contribution", F.col("contrib_e6").cast("double") / F.lit(1.0e6))


O_P_CHI2 = """
WITH cells AS (
  SELECT event_type, CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
         CAST(count(*) AS BIGINT) AS observed
  FROM events GROUP BY 1, 2
), r AS (
  SELECT event_type, CAST(sum(observed) AS BIGINT) AS rt FROM cells GROUP BY 1
), c AS (
  SELECT dow, CAST(sum(observed) AS BIGINT) AS ct FROM cells GROUP BY 1
), n AS (
  SELECT CAST(sum(observed) AS BIGINT) AS nt FROM cells
)
SELECT cells.event_type, cells.dow, cells.observed,
       CAST((rt * ct * 1000000) // nt AS BIGINT) AS expected_e6,
       CAST(((CAST(nt AS HUGEINT) * observed - CAST(rt AS HUGEINT) * ct)
             * (CAST(nt AS HUGEINT) * observed - CAST(rt AS HUGEINT) * ct)
             * 1000000) // (CAST(nt AS HUGEINT) * rt * ct) AS BIGINT) AS contrib_e6,
       CAST(CAST(((CAST(nt AS HUGEINT) * observed - CAST(rt AS HUGEINT) * ct)
             * (CAST(nt AS HUGEINT) * observed - CAST(rt AS HUGEINT) * ct)
             * 1000000) // (CAST(nt AS HUGEINT) * rt * ct) AS BIGINT) AS DOUBLE) / 1e6
         AS contribution
FROM cells JOIN r USING (event_type) JOIN c USING (dow), n
"""


# ---------------------------------------------------------------------------
# E4: relational division (the FOR-ALL operator)
# ---------------------------------------------------------------------------


def q_e4_relational_division(spark: SparkSession, sf: str) -> DataFrame:
    """E4: relational DIVISION — customers who placed orders in EVERY
    order-priority class, the textbook FOR-ALL operator (Codd's ÷) that
    no single join expresses.  Scalable form: distinct (customer,
    priority) pairs, count per customer, keep counts equal to the
    divisor's cardinality (a broadcast 1-row join — never the
    double-NOT-EXISTS nested correlate).  Output includes order counts
    so the row is analytics-ready."""
    o = load_table(spark, sf, "orders")
    divisor_n = o.select("o_orderpriority").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("_k")
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.countDistinct("o_orderpriority").cast("long").alias("_np"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    return (
        per_cust.crossJoin(F.broadcast(divisor_n))
        .filter(F.col("_np") == F.col("_k"))
        .select(F.col("o_custkey").alias("c_custkey"), "n_orders")
    )


O_E4_DIVISION = """
WITH k AS (
  SELECT count(DISTINCT o_orderpriority) AS kk FROM orders
)
SELECT o_custkey AS c_custkey, CAST(count(*) AS BIGINT) AS n_orders
FROM orders, k
GROUP BY o_custkey, kk
HAVING count(DISTINCT o_orderpriority) = kk
"""


REGISTRY = {
    "j16_tfidf_cosine_join": (q_j16_tfidf_cosine_join, O_J16),
    "m_png_decode": (q_m_png_decode, O_M_PNG),
    "a22_hhi_concentration": (q_a22_hhi_concentration, O_A22_HHI),
    "w28_rfm_segmentation": (q_w28_rfm_segmentation, O_W28_RFM),
    "j18_interval_align": (q_j18_interval_align, O_J18_ALIGN),
    "t_ngram_novelty": (q_t_ngram_novelty, O_T_NOVELTY),
    "p_reservoir_sample": (q_p_reservoir_sample, O_P_RESERVOIR),
    "o8_skyline_2d": (q_o8_skyline_2d, O_O8_SKYLINE),
    "j19_fifo_allocation": (q_j19_fifo_allocation, O_J19_FIFO),
    "j21_grid_spatial_join": (q_j21_grid_spatial_join, O_J21_SPATIAL),
    "m_wav_energy": (q_m_wav_energy, O_M_WAV),
    "t_vocab_growth": (q_t_vocab_growth, O_T_VOCAB_GROWTH),
    "w29_last_touch_attribution": (q_w29_last_touch_attribution, O_W29_ATTRIBUTION),
    "p_temporal_split": (q_p_temporal_split, O_P_TEMPORAL_SPLIT),
    "j23_incremental_join_view": (q_j23_incremental_join_view, O_J23_INC_VIEW),
    "a24_percentile_rank": (q_a24_percentile_rank, O_A24_PCT_RANK),
    "p_balanced_downsample": (q_p_balanced_downsample, O_P_BALANCED),
    "m_mp4_meta": (q_m_mp4_meta, O_M_MP4),
    "p_winsorize": (q_p_winsorize, O_P_WINSORIZE),
    "w30_path_analysis": (q_w30_path_analysis, O_W30_PATHS),
    "w31_interval_coalesce": (q_w31_interval_coalesce, O_W31_COALESCE),
    "s15_stream_stream_semi": (q_s15_stream_stream_semi, O_S15_SEMI),
    "p_chi2_independence": (q_p_chi2_independence, O_P_CHI2),
    "e4_relational_division": (q_e4_relational_division, O_E4_DIVISION),
}
