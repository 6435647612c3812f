"""Named query catalog: one entry per operator of SURVEY.md §2 (+ M6
extensions), each with a DuckDB oracle for the driver's correctness gate.

Cross-engine determinism conventions (the driver hash-compares values):

* Money/value doubles in the test data are exactly 2-decimal, so sums are
  computed over ``CAST(x AS DECIMAL(18,2))`` in BOTH engines (exact), then
  cast to DOUBLE (deterministic rounding) — bit-identical results.
* Averages are ``CAST(exact-decimal-sum AS DOUBLE) / count`` — one IEEE
  division on identical inputs.
* Every rank/limit has a total ordering (explicit tiebreak columns).
* Window/LSH hashes are md5 on explicit strings, not engine hash
  partitioning.  xxhash64 has no DuckDB equivalent, so it appears only
  where results do not depend on the hash value (salts, shingle ids).
* DuckDB ``row_number``/``rank``/``ntile`` return BIGINT; oracles cast to
  INTEGER to match Spark.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.asof import asof_fill
from ..operators.dedup import (
    affine_params,
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_cluster_assignments,
    ngram_jaccard_pairs,
    portable_hash60,
    portable_hash60_sql,
    simhash,
)
from ..operators.dims import build_dim, null_safe_join
from ..operators.fill import forward_fill
from ..operators.materialize import materialize
from ..operators import multimodal as MM
from ..operators.merge import apply_cdc
from ..operators.similarity import (
    cosine_topk_bruteforce,
    ivf_topk,
    lsh_bucket_topk,
    semantic_dedup,
)
from ..operators import text_analysis as TA
from ..sources.tables import load_table
from . import (
    catalog_ext,
    catalog_ext2,
    catalog_ext3,
    catalog_ext4,
    catalog_ext5,
    catalog_ext6,
    catalog_ext7,
    catalog_ext8,
    catalog_ext9,
    catalog_graph,
)


def _dec(c) -> F.Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# Scans / projections / filters (S1, P1-P6 analogs)
# ---------------------------------------------------------------------------

def q_s1_filter_project(spark: SparkSession, sf: str) -> DataFrame:
    """S1/P-family: parquet scan with pushed-down filter + pruned columns +
    computed projection.  .explain shows PushedFilters on l_shipdate and a
    3-column ReadSchema."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") < "1995-06-01")
        .select(
            "l_orderkey",
            "l_linenumber",
            (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("disc_price"),
        )
    )


O_S1 = """
SELECT l_orderkey, l_linenumber,
       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc_price
FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-06-01'
"""


def q_f5_regex_extract(spark: SparkSession, sf: str) -> DataFrame:
    """F5 analog: regex group extraction from a semi-structured string."""
    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("int").alias("k_value"),
    )


O_F5 = """
SELECT event_id, CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INTEGER) AS k_value FROM events
"""


def q_f2_clean_number(spark: SparkSession, sf: str) -> DataFrame:
    """F2: digit extraction + int cast (thousands-separator-safe cleaner)."""
    from ..functions.text import clean_number

    p = load_table(spark, sf, "part")
    return p.select("p_partkey", clean_number(F.col("p_brand")).alias("brand_num"))


O_F2 = """
SELECT p_partkey, CAST(regexp_replace(p_brand, '[^0-9]', '', 'g') AS INTEGER) AS brand_num FROM part
"""


def q_f8_token_sort_canon(spark: SparkSession, sf: str) -> DataFrame:
    """F8 analog (name canonicalization pattern): tokenize, sort tokens,
    re-join — permutation-invariant canonical key."""
    p = load_table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.array_join(F.array_sort(F.split(F.col("p_name"), " ")), " ").alias("canon_name"),
    )


O_F8 = """
SELECT p_partkey, array_to_string(list_sort(string_split(p_name, ' ')), ' ') AS canon_name FROM part
"""


def q_f9_case_ladder(spark: SparkSession, sf: str) -> DataFrame:
    """F9: exact-match classification ladder with regex fallback."""
    ev = load_table(spark, sf, "events")
    cat = (
        F.when(F.col("event_type") == "purchase", "revenue")
        .when(F.col("event_type") == "signup", "growth")
        .when(F.col("event_type") == "error", "ops")
        .when(F.col("event_type").rlike("^c"), "engagement")
        .otherwise("other")
    )
    return ev.groupBy(cat.alias("category")).agg(F.count(F.lit(1)).alias("n_events"))


O_F9 = """
SELECT CASE WHEN event_type = 'purchase' THEN 'revenue'
            WHEN event_type = 'signup' THEN 'growth'
            WHEN event_type = 'error' THEN 'ops'
            WHEN regexp_matches(event_type, '^c') THEN 'engagement'
            ELSE 'other' END AS category,
       count(*) AS n_events
FROM events GROUP BY 1
"""


def q_f10_dict_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    """F10: dictionary canonicalization via broadcast lookup join with
    fallback (the reference's abbr->full-name dance, minus the SQL
    round-trips)."""
    ev = load_table(spark, sf, "events")
    lookup = spark.createDataFrame(
        [("signup", "Sign Up"), ("purchase", "Purchase"), ("click", "Click")],
        schema="event_type string, canonical string",
    )
    joined = ev.join(F.broadcast(lookup), "event_type", "left")
    canon = F.coalesce(F.col("canonical"), F.concat(F.lit("unknown:"), F.col("event_type")))
    return joined.groupBy(canon.alias("canonical_type")).agg(F.count(F.lit(1)).alias("n_events"))


O_F10 = """
SELECT coalesce(m.canonical, 'unknown:' || e.event_type) AS canonical_type, count(*) AS n_events
FROM events e
LEFT JOIN (VALUES ('signup','Sign Up'), ('purchase','Purchase'), ('click','Click')) m(event_type, canonical)
  ON e.event_type = m.event_type
GROUP BY 1
"""


_MONTHS_RU_GENITIVE = [
    "января", "февраля", "марта", "апреля", "мая", "июня",
    "июля", "августа", "сентября", "октября", "ноября", "декабря",
]


def q_f11_typed_date(spark: SparkSession, sf: str) -> DataFrame:
    """§1.2 typed-date extension, driver-checked: synthesize the
    reference's raw Russian date phrases ("с 10 марта") from o_orderdate,
    then upgrade them back to DateType with ``parse_raw_date``.  The
    oracle computes the expected date directly with make_date, so every
    month token in the when-ladder (including the 'март' vs 'ма' prefix
    trap) is value-checked."""
    from .inspectors_analytics import parse_raw_date

    o = load_table(spark, sf, "orders")
    month_name = F.element_at(
        F.array(*[F.lit(m) for m in _MONTHS_RU_GENITIVE]), F.month("o_orderdate")
    )
    raw = F.concat_ws(" ", F.lit("с"), F.dayofmonth("o_orderdate").cast("string"), month_name)
    return o.select(
        "o_orderkey",
        raw.alias("raw_phrase"),
        # DateType in the operator; formatted to ISO string for the driver
        # comparison because date/timestamp collect representations are
        # session-timezone-dependent (date->timestamp casts to session-tz
        # midnight but non-Arrow collect renders OS-tz datetimes), while
        # strings hash identically under any driver config
        F.date_format(
            parse_raw_date(raw, F.year("o_orderdate")), "yyyy-MM-dd"
        ).alias("typed_date"),
    )


O_F11 = """
SELECT o_orderkey,
       'с ' || CAST(extract('day' FROM o_orderdate) AS VARCHAR) || ' ' ||
       (['января','февраля','марта','апреля','мая','июня','июля','августа',
         'сентября','октября','ноября','декабря'])[CAST(extract('month' FROM o_orderdate) AS INTEGER)]
       AS raw_phrase,
       strftime(make_date(CAST(extract('year' FROM o_orderdate) AS INTEGER),
                 CAST(extract('month' FROM o_orderdate) AS INTEGER),
                 CAST(extract('day' FROM o_orderdate) AS INTEGER)), '%Y-%m-%d') AS typed_date
FROM orders
"""


# ---------------------------------------------------------------------------
# Aggregations (A1-A4)
# ---------------------------------------------------------------------------

def q_a1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """A2/A4: TPC-H Q1-shaped grouped aggregation (partial+final hash agg)."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


O_A1 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

# a5: the oracle recomputes the EXACT distinct counts (hash-checked) and
# asserts the bound booleans TRUE — the sketch estimates themselves are
# engine-internal, but their error contract is cross-engine-verifiable.
O_A5 = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS orders_err_ok,
       TRUE AS parts_err_ok,
       TRUE AS p50_in_band,
       TRUE AS p95_in_band
FROM lineitem
GROUP BY l_returnflag
"""


def q_a5_approx_sketches(spark: SparkSession, sf: str) -> DataFrame:
    """A2 at 100 TB: mergeable sketches instead of exact state —
    approx_count_distinct (HLL++), an explicit HLL sketch (partition-
    mergeable binary state), and approximate percentiles (GK).

    Sketch INTERNALS are engine-specific, so raw estimates can never
    hash-match another engine; what IS verifiable is the sketches'
    accuracy CONTRACT.  The query therefore emits, per group: the exact
    distinct counts (hash-checked against DuckDB's) plus booleans
    asserting each sketch is within its documented error bound —
    relative error <= 5% for the two HLL estimates (configured rsd 1% /
    lgK 12, so 5% = many sigmas), and each percentile_approx value lying
    between the EXACT +/-2%-rank quantiles (accuracy 10000 => rank error
    1e-4, so the band is generous).  DuckDB's oracle recomputes the
    exact values and asserts the booleans TRUE — a strictly stronger
    check than the former rows-only row: it verifies the sketches
    instead of exempting them.  Sketch inputs are deterministic, so the
    booleans are stable across runs.  Reference analog: the distinct-
    count analytics in populate_db_ru_v1.py:167-168."""
    li = load_table(spark, sf, "lineitem")
    pcts = F.percentile_approx("l_quantity", [0.5, 0.95], 10000)
    band = F.expr("percentile(l_quantity, array(0.48, 0.52, 0.93, 0.97))")
    # TWO aggregations joined on the tiny group key, NOT one: mixing
    # multi-column countDistinct with heavy-state non-distinct aggregates
    # makes Spark's EXPAND-based distinct rewrite key the partial phase by
    # (group, gid, distinct-value) — allocating and merging one HLL/
    # quantile-summary buffer PER DISTINCT KEY VALUE (measured 53s vs ~4s
    # at sf0.1; at real scale it simply OOMs).  Split, each side is its
    # natural plan: EXPAND with counter-sized state / single-pass
    # partial-merged sketches.  The join is |groups| rows, broadcast.
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("_approx_orders"),
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).alias("_approx_parts"),
        pcts.alias("_p"),
        band.alias("_b"),
    )
    agg = exact.join(F.broadcast(sketches), "l_returnflag")
    rel_ok = lambda approx, exact: (  # noqa: E731
        F.abs(approx.cast("double") - F.col(exact)) / F.col(exact) <= F.lit(0.05)
    )
    in_band = lambda i, lo, hi: (  # noqa: E731
        (F.element_at("_p", i) >= F.element_at("_b", lo))
        & (F.element_at("_p", i) <= F.element_at("_b", hi))
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        rel_ok(F.col("_approx_orders"), "exact_orders").alias("orders_err_ok"),
        rel_ok(F.col("_approx_parts"), "exact_parts").alias("parts_err_ok"),
        in_band(1, 1, 2).alias("p50_in_band"),
        in_band(2, 3, 4).alias("p95_in_band"),
    )


def q_a3_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """A3: hierarchical rollup (region -> nation -> grand total)."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"),
    )


def q_j6b_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """J6b/J8: true as-of join — for each purchase event, the value of
    the user's latest view event at-or-before it.  Union-based
    single-shuffle implementation (tag sides, one window per key,
    forward-fill the right payload); the oracle is DuckDB's native
    ASOF LEFT JOIN.  The right side is pre-deduped to one row per
    (user, ts) so tie-winner choice cannot differ between engines."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf, "events")
    left = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    out = asof_join(left, right, keys=["user_id"], on="ts", payload=["view_value"])
    return out.select("event_id", "user_id", "view_value")


O_J6B = """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
r AS (SELECT user_id, ts, max(value) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
SELECT l.event_id, l.user_id, r.view_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_j6c_asof_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """J6c: as-of join WITH STALENESS TOLERANCE — j6b's point-in-time
    lookup, but a match older than 1 hour is rejected (null payload),
    the ``pandas.merge_asof(tolerance=...)`` semantic that keeps a
    feature store from serving stale values.  Exercises the
    ``tolerance`` arm of ``operators/asof.py::asof_join`` (previously
    implemented but not oracle-verified).  Plan identical to j6b: one
    union + one window shuffle; the tolerance check is a columnar
    interval comparison on the carried match timestamp."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf, "events")
    left = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    out = asof_join(
        left,
        right,
        keys=["user_id"],
        on="ts",
        payload=["view_value"],
        tolerance=F.expr("INTERVAL 1 HOUR"),
    )
    return out.select("event_id", "user_id", "view_value")


O_J6C = """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
r AS (SELECT user_id, ts, max(value) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
SELECT l.event_id, l.user_id,
       CASE WHEN l.ts - r.ts <= INTERVAL 1 HOUR THEN r.view_value END AS view_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_w10_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """W10: ordered-event funnel — per user, did view precede signup and
    signup precede purchase?  One conditional-min aggregation per stage
    (single shuffle on user_id, map-side partial aggs), then ordering
    comparisons — the standard conversion-funnel shape, no self-joins."""
    ev = load_table(spark, sf, "events")
    tmin = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    agg = ev.groupBy("user_id").agg(
        tmin("view").alias("t_view"),
        tmin("signup").alias("t_signup"),
        tmin("purchase").alias("t_purchase"),
    )
    reached_signup = F.col("t_view").isNotNull() & F.col("t_signup").isNotNull() & (
        F.col("t_view") < F.col("t_signup")
    )
    reached_purchase = reached_signup & F.col("t_purchase").isNotNull() & (
        F.col("t_signup") < F.col("t_purchase")
    )
    return agg.select(
        "user_id",
        reached_signup.alias("view_then_signup"),
        reached_purchase.alias("full_funnel"),
    )


O_W10 = """
WITH agg AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT user_id,
       (t_view IS NOT NULL AND t_signup IS NOT NULL AND t_view < t_signup) AS view_then_signup,
       (t_view IS NOT NULL AND t_signup IS NOT NULL AND t_view < t_signup
        AND t_purchase IS NOT NULL AND t_signup < t_purchase) AS full_funnel
FROM agg
"""


def q_w11_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """W11: cohort retention — users grouped by first-activity day,
    distinct active users per (cohort_day, activity_day).  Two
    aggregations (first-touch per user, then the cohort matrix); day
    boundaries via date_trunc on the NTZ timestamp, so the session
    timezone cannot move users between cohorts."""
    ev = load_table(spark, sf, "events")
    # ISO date STRINGS, not date/timestamp values: date_trunc returns a
    # timestamp in Spark but a DATE in DuckDB, and collected temporal
    # representations are driver-config-dependent; strings hash
    # identically everywhere (same lesson as f11_typed_date)
    day = lambda c: F.date_format(F.date_trunc("DAY", c), "yyyy-MM-dd")  # noqa: E731
    first_touch = ev.groupBy("user_id").agg(day(F.min("ts")).alias("cohort_day"))
    return (
        ev.join(first_touch, "user_id")
        .groupBy("cohort_day", day(F.col("ts")).alias("activity_day"))
        .agg(F.count_distinct("user_id").alias("n_active_users"))
    )


O_W11 = """
WITH first_touch AS (
  SELECT user_id, strftime(date_trunc('day', min(ts)), '%Y-%m-%d') AS cohort_day
  FROM events GROUP BY user_id
)
SELECT f.cohort_day, strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS activity_day,
       count(DISTINCT e.user_id) AS n_active_users
FROM events e JOIN first_touch f USING (user_id)
GROUP BY 1, 2
"""


def q_w16_ohlc_resample(spark: SparkSession, sf: str) -> DataFrame:
    """W16: OHLC time-bucket resampling — the open/high/low/close +
    volume aggregation every metrics/financial pipeline runs to downsample
    an event stream to fixed buckets (here: per user per hour).

    Open/close are NOT window functions here: ``min(struct(ts, event_id,
    value))`` picks the first-by-(ts, event_id) row's value inside a
    plain hash aggregate — one shuffle total, no per-row rank, and
    (ts, event_id) is a total order (event_id unique), so the struct
    comparison is deterministic.  That is the 100 TB shape: a
    first/last-in-group via ordered-struct min/max stays map-side
    combinable where a row_number window would shuffle and sort every
    event.  high/low are raw double extremes (no arithmetic — hash-safe);
    volume follows the decimal(18,2) sum convention; bucket is an ISO
    string (w11's cross-engine lesson)."""
    ev = load_table(spark, sf, "events")
    bucket = F.date_format(F.date_trunc("HOUR", F.col("ts")), "yyyy-MM-dd HH:00:00")
    return (
        ev.groupBy("user_id", bucket.alias("bucket"))
        .agg(
            F.min(F.struct("ts", "event_id", "value")).getField("value").alias("open"),
            F.max(F.struct("ts", "event_id", "value")).getField("value").alias("close"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("volume"),
        )
    )


O_W16 = """
WITH h AS (
  SELECT user_id, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS bucket,
         ts, event_id, value,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rrn
  FROM events
)
SELECT user_id, bucket,
       max(CASE WHEN rn = 1 THEN value END) AS open,
       max(CASE WHEN rrn = 1 THEN value END) AS close,
       max(value) AS high,
       min(value) AS low,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
FROM h GROUP BY 1, 2
"""


def q_w12_exact_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """W12: EXACT per-group quartiles (linear interpolation) — the
    non-sketch complement of a5's GK quantiles.  One hash aggregation
    (Spark's percentile is a true aggregate, not a window): at scale the
    per-group state is the value multiset, so this is for bounded-
    cardinality value domains / moderate groups; unbounded domains go
    through a5's mergeable sketches instead.

    Cross-engine determinism: percentiles are computed in integer-CENT
    space.  Interpolating integers at the dyadic fractions .25/.5/.75 is
    exact in binary floating point under EITHER interpolation formula
    (a+(b-a)f or (1-f)a+fb), so both engines produce the identical cent
    value; the final /100 is then the same double on both sides.
    Rounding the dollar value instead is a knife-edge: a true quantile of
    x.xx5 dollars rounds differently per engine ulp."""
    li = load_table(spark, sf, "lineitem")
    cents = (_dec("l_extendedprice") * 100).cast("long").cast("double")
    # ONE percentile aggregate with the percentage array, not three:
    # each percentile(...) call is its own aggregate holding its own copy
    # of the per-group value multiset (3x the state, 3x the final sort);
    # the array form buffers and sorts the group once (measured ~2x).
    agg = li.groupBy("l_returnflag").agg(
        F.percentile(cents, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("_q"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(
        "l_returnflag",
        (F.element_at("_q", 1) / 100).alias("p25"),
        (F.element_at("_q", 2) / 100).alias("p50"),
        (F.element_at("_q", 3) / 100).alias("p75"),
        "n",
    )


O_W12 = """
SELECT l_returnflag,
       quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DOUBLE), 0.25) / 100 AS p25,
       quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DOUBLE), 0.5) / 100 AS p50,
       quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DOUBLE), 0.75) / 100 AS p75,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def q_w14_scd2_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """SCD Type-2 interval construction: collapse a change history into
    validity ranges — one row per (user, event_type) RUN with
    [valid_from, valid_to) bounds, valid_to NULL for the current run.
    The standard slowly-changing-dimension build the reference's static
    dims never needed, done the scalable way: a lag window detects
    change points, a lead window over ONLY the change points closes the
    intervals — both windows and the filter share one shuffle on
    user_id.  Timestamps emitted as ISO strings (w11's cross-engine
    lesson)."""
    ev = load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")  # noqa: E731
    changes = (
        ev.withColumn("_chg", prev.isNull() | (F.col("event_type") != prev))
        .filter(F.col("_chg"))
    )
    # window specs are unbound descriptors: the SAME spec applied to the
    # filtered frame gives the interval-closing lead
    return changes.select(
        "user_id",
        "event_type",
        fmt(F.col("ts")).alias("valid_from"),
        fmt(F.lead("ts").over(w)).alias("valid_to"),
    )


O_W14 = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), changes AS (
  SELECT user_id, event_type, ts, event_id
  FROM marked WHERE prev IS NULL OR event_type <> prev
)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(ts) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_w13_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """W13: batch sessionization (gaps-and-islands) — the batch twin of
    the streaming session_window (s10): a new session starts when the
    gap to the user's previous event exceeds 30 minutes; sessions are
    numbered per user by a cumulative sum over the new-session flags.
    ONE shuffle on user_id serves both windows AND the final aggregate
    (same partitioning); gap arithmetic is NTZ-interval-based so the
    session timezone cannot move boundaries; boundary timestamps are
    emitted as ISO strings (same cross-engine lesson as w11)."""
    ev = load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_break = F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES")
    new_s = F.when(gap_break | F.lag("ts").over(w).isNull(), 1).otherwise(0)
    fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")  # noqa: E731
    return (
        ev.withColumn("_new", new_s)
        .withColumn(
            "session_idx",
            F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("int"),
        )
        .groupBy("user_id", "session_idx")
        .agg(
            fmt(F.min("ts")).alias("session_start"),
            fmt(F.max("ts")).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


O_W13 = """
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
)
SELECT user_id, session_idx,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, session_idx
"""


def q_a6b_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """A6b: unpivot (melt) — the inverse of A6.  The three lineitem
    charge components become (key, value) rows via the native unpivot
    operator: a zero-shuffle row-expansion, 3x rows out of one scan."""
    li = load_table(spark, sf, "lineitem")
    src = li.filter(F.col("l_orderkey") <= 100).select(
        "l_orderkey",
        "l_linenumber",
        _dec("l_extendedprice").cast("double").alias("extendedprice"),
        _dec("l_discount").cast("double").alias("discount"),
        _dec("l_tax").cast("double").alias("tax"),
    )
    return src.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["extendedprice", "discount", "tax"],
        "component",
        "amount",
    )


O_A6B = """
SELECT l_orderkey, l_linenumber, component, amount FROM (
  SELECT l_orderkey, l_linenumber, 'extendedprice' AS component,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS amount
  FROM lineitem WHERE l_orderkey <= 100
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'discount',
         CAST(CAST(l_discount AS DECIMAL(18,2)) AS DOUBLE)
  FROM lineitem WHERE l_orderkey <= 100
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'tax',
         CAST(CAST(l_tax AS DECIMAL(18,2)) AS DOUBLE)
  FROM lineitem WHERE l_orderkey <= 100
)
"""


def q_w9_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    """W9: time-RANGE window frame — trailing 30-minute count and sum per
    user, ordered by an epoch-microsecond key derived with TIMESTAMP_NTZ
    arithmetic (timezone-independent, so the hostile non-UTC session
    cannot shift frame membership).  The sum aggregates DECIMAL(18,2)
    casts: exact in both engines, immune to float summation-tree
    differences (Spark sliding accumulation vs DuckDB segment trees)."""
    ev = load_table(spark, sf, "events")
    ev = ev.withColumn(
        "ts_us",
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"),
    )
    w = W.partitionBy("user_id").orderBy("ts_us").rangeBetween(-1_800_000_000, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_30m"),
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("sum_trailing_30m"),
    )


O_W9 = """
SELECT event_id, user_id,
       count(*) OVER w AS n_trailing_30m,
       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing_30m
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
"""


def q_a3b_cube(spark: SparkSession, sf: str) -> DataFrame:
    """A3b: full cube over (order status, priority) — every grouping-set
    combination in one pass (partial aggregation map-side, one shuffle)."""
    o = load_table(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
    )


O_A3B = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_a3c_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """A3c: explicit GROUPING SETS — the general form rollup/cube are
    sugar for: exactly the requested combinations ((status, priority),
    (status), ()), still ONE pass / one shuffle (Spark expands the sets
    map-side, partial-aggregates each).  ``grouping_id`` disambiguates
    which set a row came from (NULL data values vs NULL-because-rolled-up)."""
    o = load_table(spark, sf, "orders")
    return o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
    )


O_A3C = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def q_a7_collect_set(spark: SparkSession, sf: str) -> DataFrame:
    """A7: set aggregation — distinct order statuses per priority as a
    canonical (sorted, joined) string.  collect_set order is engine-
    nondeterministic, so the deterministic surface is sort-then-join;
    the stringified form also keeps the driver's canonicalizer happy
    (no array-typed output columns)."""
    o = load_table(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias("statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


O_A7 = """
SELECT o_orderpriority,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
       count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


def q_a6_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """A6: pivot event counts per user into one column per event type.
    The pivot value list is explicit (no extra distinct-scan job), so the
    plan is a single groupBy aggregation with 5 conditional counts —
    exactly the manual SUM(CASE) the oracle writes out."""
    ev = load_table(spark, sf, "events")
    types = ["click", "view", "signup", "purchase", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


O_A6 = """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
FROM events GROUP BY user_id
"""


O_A3 = """
SELECT r_name, n_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_a2_skew_safe_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """A2 at-scale variant: COUNT(DISTINCT) per hot key via the two-phase
    (key, value) shuffle — l_returnflag has only 3 values, the worst-case
    skew shape for a naive distinct build."""
    from ..operators.skew import skew_safe_count_distinct

    li = load_table(spark, sf, "lineitem")
    return skew_safe_count_distinct(li, ["l_returnflag"], "l_orderkey", "n_orders")


O_A2_SKEW = """
SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders
FROM lineitem GROUP BY l_returnflag
"""


def q_a4_distinct_counts(spark: SparkSession, sf: str) -> DataFrame:
    """A1/A4: exact distinct aggregation (expand + two-phase agg)."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count(F.lit(1)).alias("n_rows"),
    )


O_A4 = """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_suppliers, COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Joins (J1-J8)
# ---------------------------------------------------------------------------

def q_j1_broadcast_dim_join(spark: SparkSession, sf: str) -> DataFrame:
    """J1: fact->dim broadcast hash join (no shuffle of the fact side)."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


O_J1 = """
SELECT p_brand,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_j2_surrogate_dim(spark: SparkSession, sf: str) -> DataFrame:
    """J2: get-or-create == dedup + deterministic row_number surrogate keys."""
    p = load_table(spark, sf, "part")
    return build_dim(p, ["p_type"], "type_id")


O_J2 = """
SELECT p_type, CAST(row_number() OVER (ORDER BY p_type) AS INTEGER) AS type_id
FROM (SELECT DISTINCT p_type FROM part)
"""


def q_j3_nullsafe_join(spark: SparkSession, sf: str) -> DataFrame:
    """J3: null-safe composite-key join (NULL matches NULL, SQL <=>)."""
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    cb = c.select("c_custkey", F.nullif(F.col("c_nationkey") % 5, F.lit(0)).alias("bucket"))
    sb = (
        s.select(F.nullif(F.col("s_nationkey") % 5, F.lit(0)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    joined = null_safe_join(cb, sb, ["bucket"], how="left")
    return joined.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_cust"), F.max("n_supp").alias("n_supp")
    )


O_J3 = """
WITH cb AS (SELECT c_custkey, nullif(c_nationkey % 5, 0) AS bucket FROM customer),
     sb AS (SELECT nullif(s_nationkey % 5, 0) AS bucket, count(*) AS n_supp FROM supplier GROUP BY 1)
SELECT cb.bucket, count(*) AS n_cust, max(sb.n_supp) AS n_supp
FROM cb LEFT JOIN sb ON cb.bucket IS NOT DISTINCT FROM sb.bucket
GROUP BY cb.bucket
"""


def q_j4_case_insensitive_join(spark: SparkSession, sf: str) -> DataFrame:
    """J4: case-insensitive key match — join on lower(key), the declared
    behavior of the reference's location lookup (populate_db_ru_v1.py:229-233)."""
    c = load_table(spark, sf, "customer")
    cu = c.select("c_custkey", F.upper(F.col("c_mktsegment")).alias("seg_uc"))
    nl = (
        c.select(F.lower(F.col("c_mktsegment")).alias("seg_lc"))
        .distinct()
        .withColumn("seg_len", F.length("seg_lc"))
    )
    return (
        cu.join(F.broadcast(nl), F.lower(cu.seg_uc) == nl.seg_lc)
        .groupBy("seg_lc", "seg_len")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


O_J4 = """
WITH cu AS (SELECT c_custkey, upper(c_mktsegment) AS seg_uc FROM customer),
     nl AS (SELECT DISTINCT lower(c_mktsegment) AS seg_lc, length(lower(c_mktsegment)) AS seg_len FROM customer)
SELECT seg_lc, seg_len, count(*) AS n_customers
FROM cu JOIN nl ON lower(seg_uc) = seg_lc
GROUP BY seg_lc, seg_len
"""


def q_j5_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """J5: anti-membership (parts never ordered) == left_anti join."""
    p = load_table(spark, sf, "part")
    li = load_table(spark, sf, "lineitem")
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select("p_partkey", "p_name")


def q_j5b_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """J5b: membership without multiplying rows == left_semi join
    (customers with at least one open order).  Semi joins never
    duplicate the probe side, so the output cardinality is bounded by
    the left table — the safe existence-check shape at scale."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return (
        c.join(o.filter(F.col("o_orderstatus") == "O"), c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


O_J5B = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
"""


O_J5 = """
SELECT p_partkey, p_name FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
"""


def q_j6_asof_fill(spark: SparkSession, sf: str) -> DataFrame:
    """J6: as-of lookback — latest prior signup value per user carried onto
    every event (the senior-inspector back-reference pattern, as a window
    over the in-flight frame instead of a write-read cycle)."""
    ev = load_table(spark, sf, "events")
    out = asof_fill(
        ev,
        condition=F.col("event_type") == "signup",
        payload=["value"],
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        out_prefix="asof_",
    )
    return out.select("event_id", "user_id", F.col("asof_value"))


O_J6 = """
SELECT event_id, user_id,
       last_value(CASE WHEN event_type = 'signup' THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS asof_value
FROM events
"""


def q_j8_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """J8: range/interval join (point-in-interval bucket classification) —
    broadcast nested-loop over a tiny interval table."""
    p = load_table(spark, sf, "part")
    buckets = spark.createDataFrame(
        [("small", 0, 10), ("medium", 10, 20), ("large", 20, 30), ("xlarge", 30, 40), ("jumbo", 40, 60)],
        schema="size_class string, lo int, hi int",
    )
    joined = p.join(
        F.broadcast(buckets), (p.p_size >= buckets.lo) & (p.p_size < buckets.hi)
    )
    return joined.groupBy("size_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(_dec("p_retailprice")).cast("double").alias("total_price"),
    )


O_J8 = """
SELECT size_class, count(*) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM part
JOIN (VALUES ('small',0,10), ('medium',10,20), ('large',20,30), ('xlarge',30,40), ('jumbo',40,60)) b(size_class, lo, hi)
  ON p_size >= lo AND p_size < hi
GROUP BY size_class
"""


def q_j8b_range_join_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """J8 at scale: the same point-in-interval classification as
    j8_range_join, but as a bucketized equi-join (shuffle on a dense
    bucket id + residual filter) instead of a nested loop — the shape
    that survives a large interval table."""
    from ..operators.range_join import range_join_bucketed

    p = load_table(spark, sf, "part")
    buckets = spark.createDataFrame(
        [("small", 0, 10), ("medium", 10, 20), ("large", 20, 30), ("xlarge", 30, 40), ("jumbo", 40, 60)],
        schema="size_class string, lo int, hi int",
    )
    joined = range_join_bucketed(
        p.select("p_partkey", "p_size", "p_retailprice"), buckets, "p_size", "lo", "hi", bucket_width=10
    )
    return joined.groupBy("size_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(_dec("p_retailprice")).cast("double").alias("total_price"),
    )


# same oracle semantics as O_J8
O_J8B = O_J8


# ---------------------------------------------------------------------------
# Windows (W1-W8)
# ---------------------------------------------------------------------------

def q_w1_forward_fill(spark: SparkSession, sf: str) -> DataFrame:
    """W1/W2: ditto-style forward fill of the last non-null marker within an
    ordered group.  The order key (o_orderdate, o_orderkey) is total —
    forward fills are only deterministic under a total per-partition order
    (the reader-minted row_idx plays this role in the ETL pipeline)."""
    o = load_table(spark, sf, "orders")
    df = o.withColumn("marker", F.nullif(F.col("o_orderstatus"), F.lit("O")))
    filled = forward_fill(
        df,
        "marker",
        partition_by=["o_custkey"],
        order_by=["o_orderdate", "o_orderkey"],
        out_col="filled_status",
    )
    return filled.select("o_custkey", "o_orderkey", "filled_status")


O_W1 = """
SELECT o_custkey, o_orderkey,
       last_value(nullif(o_orderstatus, 'O') IGNORE NULLS)
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS filled_status
FROM orders
"""


def q_w5_latest_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """W5/O2: top-1 per group (latest order per customer)."""
    o = load_table(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


O_W5 = """
SELECT o_custkey, o_orderkey, o_orderdate
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders)
WHERE rn = 1
"""


def q_w6_global_surrogate(spark: SparkSession, sf: str) -> DataFrame:
    """W6: stable global surrogate ids ordered by (source, doc_id) —
    two-phase: per-group row_number (parallel windows) + broadcast
    cumulative offsets (computed over the tiny distinct-group set).  A
    naive ``row_number().over(Window.orderBy(...))`` funnels the whole
    table through ONE partition; this form scales with the group count
    while producing identical ids."""
    d = load_table(spark, sf, "documents").select("doc_id", "source")
    local = d.withColumn(
        "_rn", F.row_number().over(W.partitionBy("source").orderBy("doc_id"))
    )
    # offsets = totals of all strictly-earlier sources, via a broadcast
    # inequality self-join over the tiny per-source counts — a cumsum
    # window over the counts would itself be an unpartitioned WindowExec
    # (single-partition funnel, warning at any size); the join form has
    # no global window anywhere in the plan
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    cb = counts.select(F.col("source").alias("_s2"), F.col("_n").alias("_n2"))
    offsets = (
        counts.join(F.broadcast(cb), F.col("_s2") < F.col("source"), "left")
        .groupBy("source")
        .agg(F.coalesce(F.sum("_n2"), F.lit(0)).alias("_off"))
    )
    return (
        local.join(F.broadcast(offsets), "source")
        .select("doc_id", "source", (F.col("_rn") + F.col("_off")).cast("int").alias("row_id"))
    )


O_W6 = """
SELECT doc_id, source, CAST(row_number() OVER (ORDER BY source, doc_id) AS INTEGER) AS row_id
FROM documents
"""


def q_w7_lag_delta(spark: SparkSession, sf: str) -> DataFrame:
    """W7: career-trajectory style lag/lead (value delta per user over time)."""
    ev = load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    delta = (_dec("value") - F.lag(_dec("value")).over(w)).cast("double")
    return ev.select("event_id", "user_id", delta.alias("value_delta"))


O_W7 = """
SELECT event_id, user_id,
       CAST(CAST(value AS DECIMAL(18,2)) - lag(CAST(value AS DECIMAL(18,2)))
         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS value_delta
FROM events
"""


def q_w8_rank_suite(spark: SparkSession, sf: str) -> DataFrame:
    """W8: ranking family (rank / dense_rank / ntile) with total ordering."""
    c = load_table(spark, sf, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


O_W8 = """
SELECT c_custkey, c_nationkey,
       CAST(rank() OVER w AS INTEGER) AS rnk,
       CAST(dense_rank() OVER w AS INTEGER) AS drnk,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
"""


# ---------------------------------------------------------------------------
# Sorts / limits / set ops (O5, E1-E3)
# ---------------------------------------------------------------------------

def q_o5_topk(spark: SparkSession, sf: str) -> DataFrame:
    """O5: top-k with total ordering (TakeOrderedAndProject)."""
    o = load_table(spark, sf, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(15)
        .select("o_orderkey", "o_totalprice")
    )


O_O5 = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 15
"""


def q_e1_union_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """E1: cross-source union + set-semantics dedup."""
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    return (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .unionByName(s.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


O_E1 = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


def q_e2_except(spark: SparkSession, sf: str) -> DataFrame:
    """E2: key-space exclusion (EXCEPT)."""
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    return (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .subtract(s.select(F.col("s_nationkey").alias("nationkey")))
    )


O_E2 = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
"""


def q_e3_intersect(spark: SparkSession, sf: str) -> DataFrame:
    """E3: INTERSECT."""
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    return (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .intersect(s.select(F.col("s_nationkey").alias("nationkey")))
    )


O_E3 = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


# ---------------------------------------------------------------------------
# Streaming semantics, batch-checked (§2.9)
# ---------------------------------------------------------------------------

def q_s9_tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 10-minute event-time window (same operator Structured
    Streaming uses; here batch-evaluated so the oracle can check it)."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


O_S9 = """
SELECT date_trunc('hour', ts) + INTERVAL (floor(extract('minute' FROM ts) / 10) * 10) MINUTE AS window_start,
       event_type, count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def q_s9b_sliding_window(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding 10-minute / 5-minute event-time windows (the streaming
    ``sliding_counts`` operator, batch-evaluated so the oracle can check
    it): every event lands in width/slide = 2 overlapping windows."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


O_S9B = """
WITH g AS (
  SELECT event_type,
         date_trunc('hour', ts) + INTERVAL (floor(extract('minute' FROM ts) / 5) * 5) MINUTE AS grid
  FROM events
), e AS (
  -- an event at t belongs to the two 10-min windows starting at its 5-min
  -- grid floor and one slide earlier
  SELECT event_type, unnest([grid, grid - INTERVAL 5 MINUTE]) AS window_start FROM g
)
SELECT window_start, event_type, count(*) AS n_events
FROM e GROUP BY 1, 2
"""


def q_s10_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows (30-minute gap) per user — the streaming
    session_window operator, batch-evaluated; oracle is the classic
    gaps-and-islands rewrite."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


O_S10 = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM numbered GROUP BY user_id, session_no
"""


def q_s11_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Batch twin of ``streaming/ops.py::streaming_dedup``
    (``dropDuplicatesWithinWatermark`` on event_id) — §2.9's one operator
    that had no driver-checkable query until round 4.

    event_id is UNIQUE in the synthetic events table, so the query first
    simulates at-least-once delivery deterministically: every 10th event
    is re-delivered 2 minutes late (both engines construct the identical
    duped input), then dedup keeps the FIRST delivery per key.  The
    batch-evaluated semantics (min event-time per key, delivery count)
    equal the streaming operator's steady state with an unexpired
    watermark; tests/test_streaming.py pins streaming-vs-batch
    equivalence on the same duped input."""
    ev = load_table(spark, sf, "events").select("event_id", "ts")
    dupes = ev.filter(F.pmod(F.col("event_id"), F.lit(10)) == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 2 MINUTES")
    )
    both = ev.unionByName(dupes)
    return both.groupBy("event_id").agg(
        F.min("ts").alias("first_ts"),
        F.count(F.lit(1)).alias("n_deliveries"),
    )


O_S11 = """
WITH deliveries AS (
  SELECT event_id, ts FROM events
  UNION ALL
  SELECT event_id, ts + INTERVAL 2 MINUTE AS ts FROM events WHERE event_id % 10 = 0
)
SELECT event_id, min(ts) AS first_ts, CAST(count(*) AS BIGINT) AS n_deliveries
FROM deliveries GROUP BY event_id
"""


def q_s12_stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Batch twin of ``streaming/ops.py::stream_stream_view_purchase_join``
    — the time-bounded watermarked stream-stream inner join (§2.9's last
    operator with no driver-checkable query until round 5): each purchase
    matched to the same user's view events in the preceding 30 minutes.

    Runs the SAME function body on batch frames (``withWatermark`` is a
    documented no-op outside streaming), so the driver hashes the exact
    join predicate the streaming path executes;
    tests/test_streaming.py::test_stream_stream_join_matches_batch pins
    streaming-vs-batch equivalence on the same events.  The time-range
    predicate is what bounds join state on an unbounded stream — and in
    batch it is what keeps this an equi-join on user_id with a range
    residual rather than a cross product."""
    from ..streaming.ops import stream_stream_view_purchase_join

    ev = load_table(spark, sf, "events")
    return stream_stream_view_purchase_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
    )


O_S12 = """
SELECT p.event_id AS purchase_id, p.user_id, v.ts AS view_ts, v.value AS view_value
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND p.event_type = 'purchase' AND v.event_type = 'view'
 AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 30 MINUTE
"""


# ---------------------------------------------------------------------------
# M6 extensions: dedup / text analysis / similarity
# ---------------------------------------------------------------------------

def q_d_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: md5 fingerprint groups with representative + count."""
    d = load_table(spark, sf, "documents")
    return exact_dedup(d, "text", "doc_id")


O_D_EXACT = """
SELECT md5(text) AS fingerprint, min(doc_id) AS representative_id, count(*) AS n_duplicates
FROM documents GROUP BY 1
"""


def q_d_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs via inverted-index join (no cross
    product).  Shingle identity via xxhash64 in Spark == raw-string join in
    the oracle (collision probability ~2^-64)."""
    d = load_table(spark, sf, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.5)


O_D_JACCARD = """
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
)
SELECT id_a, id_b, CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
"""


def q_d_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs -> duplicate CLUSTERS -> per-doc keep/drop: the
    last mile of dedup.  Jaccard pairs (same as ``d_ngram_jaccard``)
    feed iterative min-label connected components
    (``operators.dedup.connected_components``); every doc gets its
    cluster's min doc_id as ``component_id`` and exactly one doc per
    cluster is ``is_canonical``.  The oracle replays the closure with a
    recursive CTE, so the clustering itself is value-checked.

    Pairs are generated at the DISTINCT-TEXT grain
    (``operators.dedup.ngram_cluster_assignments`` — the setsim/LSH
    exact-dup collapse applied to closure consumers, r10): unlike the
    pair QUERIES, whose member output is Θ(duplicates²) by contract,
    this query's output is one row per doc, so nothing forces the
    intermediate pair set to carry r² member pairs per
    verbatim-duplicated text.  Bit-identity argument and the 240s->4.3s
    sf1 measurement live on the operator's docstring."""
    d = load_table(spark, sf, "documents").select("doc_id", "text")
    comp = ngram_cluster_assignments(d, "doc_id", "text", k=3, threshold=0.5)
    return comp.select(
        "doc_id",
        "component_id",
        (F.col("doc_id") == F.col("component_id")).alias("is_canonical"),
    )


# pair generation shared verbatim with O_D_JACCARD; the recursive CTE
# computes min-reachable-id per node (terminates because UNION dedups)
O_D_CLUSTERS = """
WITH RECURSIVE toks AS (
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
), pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), walk(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, w.label FROM edges e JOIN walk w ON w.node = e.v
), comp AS (
  SELECT node, min(label) AS component FROM walk GROUP BY node
)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS component_id,
       d.doc_id = coalesce(c.component, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


def q_d_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: portable md5-derived universal
    hash family -> per-doc signature minima -> banded equi-join.  The
    DuckDB oracle re-runs the identical hash arithmetic, so the whole
    pipeline (shingling, signatures, banding, candidate join) is
    value-checked, not rows-only."""
    d = load_table(spark, sf, "documents")
    sigs = minhash_signatures(d, "doc_id", "text", k=5, num_hashes=64)
    return minhash_lsh_candidates(sigs, bands=16, rows_per_band=4)


def _minhash_bands_cte(k: int = 5, num_hashes: int = 64, bands: int = 16, rows_per_band: int = 4) -> str:
    """Shared CTE prefix (through ``bands``) for the MinHash oracles: same
    shingling as O_D_JACCARD, same affine coefficients as
    ``affine_params`` (imported, not re-rolled), same band digesting."""
    params = affine_params(num_hashes)
    g = ",\n         ".join(
        f"min(({a} * hi + {b} * lo + {c}) % 2147483647) AS g{i}"
        for i, (a, b, c) in enumerate(params)
    )
    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, "
        + portable_hash60_sql(
            " || ',' || ".join(
                f"CAST(g{b * rows_per_band + j} AS VARCHAR)" for j in range(rows_per_band)
            )
        )
        + " AS digest FROM sig"
        for b in range(bands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + {k - 1}), ' ') AS sh
  FROM toks, UNNEST(range(1, greatest(len(w) - {k - 1}, 1) + 1)) AS t(i)
), halves AS (
  SELECT doc_id, h >> 30 AS hi, h & 1073741823 AS lo
  FROM (SELECT doc_id, {portable_hash60_sql("sh")} AS h FROM sh)
), sig AS (
  SELECT doc_id,
         {g}
  FROM halves GROUP BY doc_id
), bands AS (
  {band_rows}
)"""


def _gen_minhash_oracle() -> str:
    return (
        _minhash_bands_cte()
        + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands_matched
FROM bands a JOIN bands b ON a.band = b.band AND a.digest = b.digest AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""
    )


O_D_MINHASH = _gen_minhash_oracle()


def q_d_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup of an ingestion DELTA against the BASE corpus
    (operators/dedup.py::incremental_lsh_dup_flags — the daily-crawl
    shape): the ~20% of documents whose content hash lands in the delta
    split are probed against everyone's LSH buckets; the pair join's
    probe side is delta-only, so the work scales with the increment,
    not the corpus square.  The delta split is content-hash-derived
    (portable, no stored state), mirroring p_hash_split's determinism
    story."""
    from ..operators.dedup import incremental_lsh_dup_flags, minhash_signatures

    d = load_table(spark, sf, "documents")
    flags = d.select(
        "doc_id",
        (F.pmod(portable_hash60(F.col("text")), F.lit(5)) == 0).alias("is_delta"),
    )
    sigs = minhash_signatures(d, "doc_id", "text", k=5, num_hashes=64)
    return incremental_lsh_dup_flags(sigs, flags, bands=16, rows_per_band=4)


def _gen_incremental_oracle() -> str:
    return (
        _minhash_bands_cte()
        + f"""
, flags AS (
  SELECT doc_id, ({portable_hash60_sql("text")} % 5 = 0) AS is_delta FROM documents
), cand AS (
  SELECT a.doc_id, count(DISTINCT b.doc_id) AS n_dup_sources
  FROM bands a
  JOIN flags fa ON fa.doc_id = a.doc_id AND fa.is_delta
  JOIN bands b ON a.band = b.band AND a.digest = b.digest
  JOIN flags fb ON fb.doc_id = b.doc_id
  WHERE (NOT fb.is_delta) OR b.doc_id < a.doc_id
  GROUP BY 1
)
SELECT f.doc_id,
       CAST(coalesce(c.n_dup_sources, 0) AS BIGINT) AS n_dup_sources,
       coalesce(c.n_dup_sources, 0) > 0 AS is_dup
FROM flags f LEFT JOIN cand c ON f.doc_id = c.doc_id
WHERE f.is_delta
"""
    )


O_D_INCREMENTAL = _gen_incremental_oracle()


def q_d_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash fingerprints (60-bit portable hash family — the DuckDB
    oracle recomputes every bit vote)."""
    d = load_table(spark, sf, "documents")
    return simhash(d, "doc_id", "text")


def _gen_simhash_cte(bits: int = 60) -> str:
    """Shared fingerprint CTE chain for the SimHash oracles."""
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(bits)
    )
    fp = "\n           + ".join(
        f"CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), th AS (
  SELECT doc_id, unnest(w) AS tok FROM toks
), hh AS (
  SELECT doc_id, {portable_hash60_sql("tok")} AS h FROM th
), votes AS (
  SELECT doc_id,
         {votes}
  FROM hh GROUP BY doc_id
), fp AS (
  SELECT doc_id AS doc,
         CAST({fp} AS BIGINT) AS simhash
  FROM votes
)"""


O_D_SIMHASH = _gen_simhash_cte() + "\nSELECT doc, simhash FROM fp\n"


def q_s2b_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured extraction (the S2 theme generalized): parse the
    JSON ``props`` column JVM-side (get_json_object, no UDF) and
    aggregate the extracted value per event type.  At scale this is the
    standard log-enrichment scan: pushdown-friendly, one shuffle for the
    final small aggregate."""
    ev = load_table(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("k_avg"),
        )
    )


O_S2B_JSON = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE) / count(*) AS k_avg
FROM events GROUP BY event_type
"""


def q_t_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 terms per document by smoothed tf-idf
    (idf = ln((N+1)/(df+1)) + 1) — the classic keyword-extraction /
    feature-weighting pass.  Corpus size N enters the plan as a
    broadcast 1-row aggregate (no driver-side collect); term ranking
    orders by the ROUNDED score so cross-engine ulp noise in ln()
    cannot flip ranks (ties break on the term itself)."""
    d = load_table(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    # tf feeds BOTH the doc-frequency aggregate and the scoring join and
    # Spark plans no reuse between them — barrier it so the tokenize +
    # explode + per-doc-term aggregation runs once (compact: one row per
    # distinct (doc, term))
    tf = materialize(toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)),
                6,
            ).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "score", "rank")
    )


O_T_TFIDF = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), dfq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT doc_id, tf.term,
         round(tf * (ln((n.n + 1.0) / (df + 1.0)) + 1.0), 6) AS score
  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN n
)
SELECT doc_id, term, score, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
      FROM scored)
WHERE rn <= 3
"""


PROFILE_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def q_p_profile_columns(spark: SparkSession, sf: str) -> DataFrame:
    """Single-pass column profiling (the standard pre-training data-QA
    sweep): per column of the events table, total rows, null count, and
    exact distinct count — ONE aggregation job computing all metrics for
    all columns, then a zero-shuffle stack to long format.  Counts only
    (BIGINT everywhere): min/max/mean are deliberately excluded from the
    hashed contract because cross-engine float/timestamp FORMATTING is
    not canonical, while counts are."""
    ev = load_table(spark, sf, "events")
    cols = PROFILE_COLS
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"_null_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"_dist_{c}"))
    one = ev.agg(*aggs)
    stack = ", ".join(f"'{c}', _null_{c}, _dist_{c}" for c in cols)
    return one.selectExpr(
        f"stack({len(cols)}, {stack}) AS (column_name, n_null, n_distinct)",
        "n_rows",
    ).select("column_name", "n_rows", "n_null", "n_distinct")


O_P_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM events"""
    for c in PROFILE_COLS
)


def q_p_curate_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Capstone corpus-curation pass: the full pretraining keep/drop
    decision composed from the catalog's own signal operators — exact-
    dedup canonical flag, composite quality score, repetition filter,
    language gate — joined on doc_id and reduced to one boolean.  Each
    signal is the SAME implementation its standalone query verifies, so
    the composition is oracle-checked end to end; at scale every branch
    is an independent scan-shaped job over the same corpus and the joins
    shuffle on doc_id (AQE-splittable, no branch reads another's
    intermediate state)."""
    qlt = q_t_quality_score(spark, sf).select("doc_id", "quality")
    rep = q_t_repetition_stats(spark, sf).select("doc_id", "dup_word_frac")
    lang = q_t_language_guess(spark, sf)
    d = load_table(spark, sf, "documents")
    canon = d.select(
        "doc_id",
        (
            F.col("doc_id")
            == F.min("doc_id").over(W.partitionBy(F.md5(F.col("text"))))
        ).alias("is_canonical"),
    )
    out = qlt.join(rep, "doc_id").join(lang, "doc_id").join(canon, "doc_id")
    keep = (
        F.col("is_canonical")
        & (F.col("quality") >= 0.5)
        & (F.col("dup_word_frac") <= 0.3)
        & (F.col("lang_guess") == "en")
    )
    return out.select(
        "doc_id", "lang_guess", "quality", "dup_word_frac", "is_canonical",
        keep.alias("keep"),
    )



def q_p_pack_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget packing: documents fill 2000-token bins by
    cumulative size within 16 deterministic hash shards (a global
    cumsum window would funnel the corpus through one task; per-shard
    packing is N-way parallel with bounded state).  n_chars stands in
    for the token count."""
    from ..operators.sampling import pack_token_bins

    d = load_table(spark, sf, "documents")
    out = pack_token_bins(
        d, "text", "n_chars", budget=2000, shards=16, tiebreak_col="doc_id"
    )
    return out.select("doc_id", "shard", "bin")


O_P_PACK = f"""
WITH h AS (
  SELECT doc_id, n_chars, {portable_hash60_sql("text")} AS h, text FROM documents
), s AS (
  SELECT doc_id, n_chars, h, h % 16 AS shard, text FROM h
), c AS (
  SELECT doc_id, shard,
         sum(n_chars) OVER (PARTITION BY shard ORDER BY h, text, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum,
         n_chars
  FROM s
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(floor((cum - n_chars) / 2000.0) AS INTEGER) AS bin
FROM c
"""


def q_d_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Train/test contamination check: for each test-split document, how
    many train-split documents share at least one 5-gram shingle.
    Composes the deterministic hash split with the inverted shingle
    index — the decontamination pass every training corpus needs.
    Inverted-index equi-join on the shingle hash (never a cross join);
    shingle sets are distinct per doc so counts are pair-level."""
    from ..operators.dedup import _with_words, portable_hash60, shingles
    from ..operators.sampling import hash_split

    d = hash_split(
        load_table(spark, sf, "documents"), "text", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    sh = _with_words(d, "text").select(
        "doc_id", "split", F.explode(shingles(F.col("_words"), 5)).alias("sh")
    ).select("doc_id", "split", portable_hash60(F.col("sh")).alias("sh"))
    test = sh.filter(F.col("split") == "test").select(F.col("doc_id").alias("test_doc"), "sh")
    train = sh.filter(F.col("split") == "train").select(F.col("doc_id").alias("train_doc"), "sh")
    return (
        test.join(train, "sh")
        .select("test_doc", "train_doc")
        .distinct()
        .groupBy("test_doc")
        .agg(F.count(F.lit(1)).alias("n_contaminating_train_docs"))
    )


O_D_CONTAM = f"""
WITH split AS (
  SELECT doc_id, text,
         CASE WHEN {portable_hash60_sql("text")} % 10000 < 8000 THEN 'train'
              WHEN {portable_hash60_sql("text")} % 10000 < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), toks AS (
  SELECT doc_id, split,
         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM split
), sh AS (
  SELECT DISTINCT doc_id, split,
         {portable_hash60_sql("array_to_string(list_slice(w, i, i + 4), ' ')")} AS sh
  FROM toks, UNNEST(range(1, greatest(len(w) - 4, 1) + 1)) AS t(i)
)
SELECT a.doc_id AS test_doc, count(DISTINCT b.doc_id) AS n_contaminating_train_docs
FROM sh a JOIN sh b ON a.sh = b.sh AND a.split = 'test' AND b.split = 'train'
GROUP BY 1
"""


def q_t_chunk_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Training-data chunking: overlapping 20-word windows (overlap 5)
    per document, exploded to one row per chunk.  Zero shuffles — the
    window list is a per-row higher-order expression."""
    d = load_table(spark, sf, "documents")
    chunks = d.select(
        "doc_id", F.explode(TA.chunk_windows(F.col("text"), 20, 5)).alias("c")
    )
    return chunks.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk").alias("chunk"),
    )


O_T_CHUNKS = """
WITH t AS (
  SELECT doc_id, string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), n AS (
  SELECT doc_id, w, CAST(greatest(ceil((len(w) - 5) / 15.0), 1) AS INTEGER) AS n_windows FROM t
)
SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
       array_to_string(list_slice(w, i * 15 + 1, i * 15 + 20), ' ') AS chunk
FROM n, UNNEST(range(0, n_windows)) AS u(i)
"""


def q_t_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction pass: the corpus has no PII, so synthetic contact
    strings are appended deterministically by doc_id, then scrubbed with
    the lookahead-free pattern chain (reproduced verbatim by RE2 in the
    oracle)."""
    d = load_table(spark, sf, "documents")
    contact = F.element_at(
        F.array(
            F.lit("reach me at bob.smith+test@example.co.uk today"),
            F.lit("call +7 812 1234567 now"),
            F.lit("ssn 123-45-6789 on file"),
        ),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    decorated = F.concat(F.col("text"), F.lit(" contact: "), contact)
    return d.select("doc_id", TA.redact_pii(decorated).alias("clean_text"))


def _gen_pii_oracle() -> str:
    from ..operators.text_analysis import PII_PATTERNS

    expr = """(text || ' contact: ' ||
      CASE doc_id % 3
        WHEN 0 THEN 'reach me at bob.smith+test@example.co.uk today'
        WHEN 1 THEN 'call +7 812 1234567 now'
        ELSE 'ssn 123-45-6789 on file' END)"""
    for pat, token in PII_PATTERNS:
        # duckdb '...' literals are not escape-processed: keep backslashes
        # single (RE2 reads them directly), only quotes need doubling
        esc = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{esc}', '{token}', 'g')"
    return f"SELECT doc_id, {expr} AS clean_text FROM documents"


O_T_PII = _gen_pii_oracle()


def q_p_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test split by content hash: reproducible,
    repartition-stable, driftless (new docs never move old ones), and
    auditable — the oracle re-derives membership from the same md5
    arithmetic."""
    from ..operators.sampling import hash_split

    d = load_table(spark, sf, "documents")
    return hash_split(d, "text", {"train": 0.8, "val": 0.1, "test": 0.1}).select(
        "doc_id", "split"
    )


def _gen_hash_split_oracle(fractions: dict[str, float], buckets: int = 10_000) -> str:
    names = list(fractions)
    cum, cases = 0.0, []
    for name in names[:-1]:
        cum += fractions[name]
        cases.append(f"WHEN {portable_hash60_sql('text')} % {buckets} < {int(cum * buckets)} THEN '{name}'")
    return f"""
SELECT doc_id,
       CASE {' '.join(cases)} ELSE '{names[-1]}' END AS split
FROM documents
"""


O_P_HASH_SPLIT = _gen_hash_split_oracle({"train": 0.8, "val": 0.1, "test": 0.1})


def q_p_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-stratum hash sampling (corpus rebalancing: keep 10% of 'en',
    half of everything else) — one scan, no shuffle, rate ladder is a
    literal CASE."""
    from ..operators.sampling import stratified_hash_sample

    d = load_table(spark, sf, "documents")
    return stratified_hash_sample(
        d, "text", "lang", {"en": 0.1}, default_rate=0.5
    ).select("doc_id", "lang")


def _gen_stratified_oracle(rates: dict[str, float], default_rate: float, buckets: int = 10_000) -> str:
    # boundaries computed in python (same float -> int truncation as the
    # Spark plan; DuckDB's double->int CAST rounds, so literals are safer)
    ladder = " ".join(
        f"WHEN lang = '{s}' THEN {int(r * buckets)}" for s, r in rates.items()
    )
    return f"""
SELECT doc_id, lang FROM documents
WHERE {portable_hash60_sql('text')} % {buckets} < (CASE {ladder} ELSE {int(default_rate * buckets)} END)
"""


O_P_STRATIFIED = _gen_stratified_oracle({"en": 0.1}, 0.5)


def q_p_group_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Uniform-without-replacement k=2 sample per user: the k smallest
    content hashes per group (deterministic across engines and reruns,
    unlike rand()-ordered row_number)."""
    from ..operators.sampling import hash_topk_per_group

    ev = load_table(spark, sf, "events").withColumn(
        "event_key", F.col("event_id").cast("string")
    )
    return hash_topk_per_group(ev, ["user_id"], "event_key", 2).select("user_id", "event_id")


O_P_GROUP_SAMPLE = f"""
SELECT user_id, event_id FROM (
  SELECT user_id, event_id,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY {portable_hash60_sql("CAST(event_id AS VARCHAR)")}, CAST(event_id AS VARCHAR)
         ) AS rn
  FROM events)
WHERE rn <= 2
"""


def q_t_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: token count, char count, mean token length,
    normalization-invariant fingerprint."""
    d = load_table(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        TA.token_count(t).alias("n_tokens"),
        TA.char_count(t).alias("n_chars_measured"),
        TA.mean_token_length(t).alias("mean_token_len"),
        TA.fingerprint(t).alias("fingerprint"),
    )


O_T_STATS = """
WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS w FROM documents)
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0 ELSE len(w) END AS INTEGER) AS n_tokens,
       CAST(length(text) AS INTEGER) AS n_chars_measured,
       CASE WHEN trim(text) = '' OR len(w) = 0 THEN 0.0
            ELSE CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS DOUBLE) / len(w) END AS mean_token_len,
       md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM t
"""


def q_t_language_guess(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID heuristic: stopword votes, ties to earlier language code."""
    d = load_table(spark, sf, "documents")
    # tokens materialized once; the vote ladder references the bound array
    return d.withColumn("_toks", TA.tokens(F.lower(F.col("text")))).select(
        "doc_id", TA.language_guess_from_tokens(F.col("_toks")).alias("lang_guess")
    )


O_T_LANG = """
WITH t AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), c AS (
  SELECT doc_id,
         len(list_filter(w, x -> x IN ('der','die','und','das','ist'))) AS de,
         len(list_filter(w, x -> x IN ('the','and','of','to','in'))) AS en,
         len(list_filter(w, x -> x IN ('el','la','de','que','los'))) AS es,
         len(list_filter(w, x -> x IN ('le','la','et','les','des'))) AS fr
  FROM t
)
SELECT doc_id,
       CASE WHEN fr > greatest(de, en, es) THEN 'fr'
            WHEN es > greatest(de, en) THEN 'es'
            WHEN en > de THEN 'en'
            WHEN de > 0 THEN 'de'
            ELSE 'und' END AS lang_guess
FROM c
"""


def q_t_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Quality scoring: length/punct/stopword composite in [0,1]."""
    d = load_table(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        TA.token_count(t).alias("n_tokens"),
        TA.stopword_ratio(t).alias("stopword_ratio"),
        TA.quality_score(t).alias("quality"),
    )


O_T_QUALITY = """
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS w,
         CASE WHEN trim(lower(text)) = '' THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS wl
  FROM documents
), m AS (
  SELECT doc_id, text, len(w) AS n_tokens,
         CASE WHEN len(wl) = 0 THEN 0.0
              ELSE CAST(len(list_filter(wl, x -> x IN ('the','and','of','to','in'))) AS DOUBLE) / len(wl) END AS swr,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END AS pr
  FROM t
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, swr AS stopword_ratio,
       round((least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
            + (1.0 - least(pr * 5.0, 1.0))
            + least(swr * 10.0, 1.0)) / 3.0, 4) AS quality
FROM m
"""


def q_t_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    adapted to the newline-free synthetic corpus): per-doc duplicate-word
    fraction and top-bigram share — the standard cheap filters for
    boilerplate / degenerate repetition in pretraining corpora.

    Scale shape: word stats are pure columnar array ops (zero shuffle);
    the top-bigram share explodes to (doc, bigram) and aggregates twice
    on the doc-keyed stream — partial aggregation map-side, both
    shuffles on doc_id so AQE coalesces them into one exchange chain.
    Determinism: both ratios are single IEEE divisions of exact integer
    counts — bit-identical in any engine, no rounding needed."""
    d = load_table(spark, sf, "documents")
    # materialize the split as a BOUND column first: an unbound split()
    # referenced inside the transform lambda would re-tokenize the text
    # once per element (the HOF re-evaluation pitfall this repo pins in
    # operators/dedup.py::shingles — measured 5.0s -> 0.6s here)
    withw = d.select("doc_id", F.split(F.col("text"), " ").alias("_w"))
    words = F.col("_w")
    # the bigram array lives ONLY in the explode branch: materializing it
    # in a shared projection makes the stats-side join branch recompute
    # the whole HOF (column pruning does not reach through the lambda) —
    # measured 3.4s -> 2.0s at sf0.1 for keeping the branches disjoint
    stats = withw.select(
        "doc_id",
        F.size(words).alias("n_words"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(words)).cast("double") / F.size(words)
        ).alias("dup_word_frac"),
    )
    # guard single-word docs: sequence(0, -1) DESCENDS in Spark ([0,-1])
    # and the lambda would index out of range; emit an empty bigram array
    # instead, and LEFT-join so those docs keep a row (NULL share — the
    # oracle's LEFT JOIN + NULL/0 division agrees)
    bigrams = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - 2),
            lambda i: F.concat_ws(" ", F.element_at(words, i + 1), F.element_at(words, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top = (
        withw.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("_mx"))
    )
    return stats.join(top, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "dup_word_frac",
        (F.col("_mx").cast("double") / (F.col("n_words") - 1)).alias("top_bigram_share"),
    )


O_T_REPETITION = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), base AS (
  SELECT doc_id, len(ws) AS n_words,
         1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dup_word_frac,
         ws
  FROM w
), bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS bigram
  FROM w
), cnt AS (
  SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram
), top AS (
  SELECT doc_id, max(c) AS mx FROM cnt GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n_words AS INTEGER) AS n_words, b.dup_word_frac,
       CAST(t.mx AS DOUBLE) / (b.n_words - 1) AS top_bigram_share
FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id
"""


def q_sim_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force exact cosine top-5 for the first 10 query vectors.
    Double-precision left-to-right dot products in both engines."""
    e = load_table(spark, sf, "embeddings")
    return cosine_topk_bruteforce(
        e, e.filter(F.col("vec_id") < 10), id_col="vec_id", vec_col="embedding", k=5
    )


O_SIM_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_inner_product(q.qv, q.qv))), 4) AS score
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
)
SELECT query_id, neighbor_id, score, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= 5
"""


def q_sim_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed approximate cosine top-k (the scale path for ANN).
    Oracle-checked: the seeded hyperplanes are embedded as double
    literals in the generated SQL, so DuckDB reproduces the exact
    bucketing (sign of identical sequential-sum projections) and
    scoring."""
    e = load_table(spark, sf, "embeddings")
    return lsh_bucket_topk(e, e.filter(F.col("vec_id") < 10), dim=64, k=5, bits=4)


def _gen_sim_lsh_oracle(dim: int = 64, k: int = 5, bits: int = 4, seed: int = 42) -> str:
    """Oracle for q_sim_lsh_topk: same hyperplanes (repr round-trips each
    float64 exactly), same sign-of-projection bucket id, same rounded
    cosine + rank."""
    from ..operators.similarity import random_hyperplanes

    planes = random_hyperplanes(dim, bits, seed)
    bucket = "\n           + ".join(
        f"CASE WHEN list_inner_product(v, [{', '.join(repr(float(x)) for x in p)}]) > 0"
        f" THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (
  SELECT vec_id, v,
         {bucket} AS bucket
  FROM e
), q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_inner_product(c.v, q.qv)
               / (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(q.qv, q.qv))), 4) AS score
  FROM b c JOIN q USING (bucket)
  WHERE c.vec_id != q.query_id
)
SELECT query_id, neighbor_id, score, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= {k}
"""


O_SIM_LSH = _gen_sim_lsh_oracle()


def q_t_token_count_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-ish token counting: letter runs + single digits + punctuation
    (the standard token-budget estimator), via regexp_count."""
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        TA.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


O_T_TOKEN_BPE = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe_tokens
FROM documents
"""


def q_t_char_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing-style min-k sketch of character 8-gram hashes (document
    fingerprinting for near-dup candidate generation)."""
    d = load_table(spark, sf, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return d.withColumn("_norm", norm).select(
        "doc_id",
        F.array_join(
            TA.char_ngram_fingerprints(F.col("_norm"), n=8, keep=4, normalized=True), ","
        ).alias("fingerprints"),
    )


O_T_CHAR_FP = r"""
WITH n AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t FROM documents
)
SELECT doc_id,
       array_to_string(
         CASE WHEN length(t) >= 8
              THEN list_sort(list_distinct(list_transform(range(1, length(t) - 6), i -> md5(substring(t, i, 8)))))[1:4]
              WHEN length(t) > 0 THEN [md5(substring(t, 1, 8))]
              ELSE [] END, ',') AS fingerprints
FROM n
"""


def q_d_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact, fully distributed:
    blocked matrix multiply (one applyInPandas BLAS task per block pair,
    nothing ever collected to the driver).  block rows sized small here
    so the multi-block path is what gets oracle-checked."""
    from ..operators.similarity import embedding_neardup_pairs_blocked

    e = load_table(spark, sf, "embeddings")
    return embedding_neardup_pairs_blocked(e, threshold=0.40, target_block_rows=200)


def q_d_embedding_neardup_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-candidates + exact-rescore near-dup (the general-case scale
    path).  Oracle-checked by REPLAY (upgraded from rows-only in r3):
    the oracle regenerates the same seeded hyperplanes, the same 16x4
    band buckets, the same candidate equi-join, and the same exact
    rescore, so the driver hash-compares the full approximate pipeline
    end to end (recall vs the exact operator is a separate, documented
    property — tests/test_dedup_similarity_scale.py).  Determinism
    margin measured: min |projection| ~1e-5 and min rounded-cosine
    distance to a round-half edge ~3e-8 across all test SFs — 8+ orders
    above cross-engine summation ulps."""
    from ..operators.similarity import embedding_neardup_pairs_lsh

    e = load_table(spark, sf, "embeddings")
    return embedding_neardup_pairs_lsh(e, dim=64, threshold=0.40)


def _gen_emb_neardup_lsh_oracle(
    dim: int = 64,
    threshold: float = 0.40,
    bands: int = 16,
    bits_per_band: int = 4,
    seed: int = 42,
) -> str:
    """Replay oracle for q_d_embedding_neardup_lsh: same hyperplanes
    (repr round-trips float64 exactly), same band-bucket construction
    (bucket_b = sum_j (1<<j)*[plane(b*bits+j).v > 0]), same candidate
    join, same normalize-then-dot rescore as O_D_EMB_NEARDUP."""
    from ..operators.similarity import random_hyperplanes

    planes = random_hyperplanes(dim, bands * bits_per_band, seed)

    def band_expr(b: int) -> str:
        return "\n       + ".join(
            f"CASE WHEN list_inner_product(v, [{', '.join(repr(float(x)) for x in planes[b * bits_per_band + j])}]) > 0"
            f" THEN {1 << j} ELSE 0 END"
            for j in range(bits_per_band)
        )

    bucket_list = ",\n      ".join(f"({band_expr(b)})" for b in range(bands))
    band_ids = ", ".join(str(b) for b in range(bands))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bk AS (
  SELECT vec_id,
      [{bucket_list}] AS bks
  FROM e
),
buckets AS (
  SELECT vec_id, band, bks[band + 1] AS bucket
  FROM bk, UNNEST([{band_ids}]) AS t(band)
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
u AS (
  SELECT vec_id, list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS uv
  FROM e
)
SELECT c.id_a, c.id_b, round(list_inner_product(ua.uv, ub.uv), 4) AS cosine
FROM cand c
JOIN u ua ON ua.vec_id = c.id_a
JOIN u ub ON ub.vec_id = c.id_b
WHERE round(list_inner_product(ua.uv, ub.uv), 4) >= {threshold}
"""


O_D_EMB_NEARDUP_LSH = _gen_emb_neardup_lsh_oracle()


O_D_EMB_NEARDUP = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
u AS (
  SELECT vec_id,
         list_transform(ev, x -> x / sqrt(list_inner_product(ev, ev))) AS uv
  FROM v
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_inner_product(a.uv, b.uv), 4) AS cosine
FROM u a JOIN u b ON a.vec_id < b.vec_id
WHERE round(list_inner_product(a.uv, b.uv), 4) >= 0.40
"""


def q_sim_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF approximate nearest neighbors: deterministic coarse centroids,
    nearest-cell assignment, n_probe=2 probed search."""
    e = load_table(spark, sf, "embeddings")
    return ivf_topk(e, e.filter(F.col("vec_id") < 10), k=5, n_centroids=16, n_probe=2)


O_SIM_IVF = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
cents AS (SELECT vec_id AS centroid_id, ev AS cv FROM v WHERE vec_id < 16),
c_assign AS (
  SELECT vec_id AS neighbor_id, ev AS cvec, centroid_id FROM (
    SELECT v.vec_id, v.ev, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY round(list_inner_product(v.ev, c.cv) / (sqrt(list_inner_product(v.ev, v.ev)) * sqrt(list_inner_product(c.cv, c.cv))), 6) DESC,
                      c.centroid_id ASC) AS rn
    FROM v CROSS JOIN cents c)
  WHERE rn = 1
),
q_assign AS (
  SELECT vec_id AS query_id, ev AS qvec, centroid_id FROM (
    SELECT v.vec_id, v.ev, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY round(list_inner_product(v.ev, c.cv) / (sqrt(list_inner_product(v.ev, v.ev)) * sqrt(list_inner_product(c.cv, c.cv))), 6) DESC,
                      c.centroid_id ASC) AS rn
    FROM v CROSS JOIN cents c WHERE v.vec_id < 10)
  WHERE rn <= 2
),
scored AS (
  SELECT DISTINCT q.query_id, c.neighbor_id,
         round(list_inner_product(q.qvec, c.cvec)
               / (sqrt(list_inner_product(q.qvec, q.qvec)) * sqrt(list_inner_product(c.cvec, c.cvec))), 4) AS score
  FROM c_assign c JOIN q_assign q USING (centroid_id)
  WHERE q.query_id != c.neighbor_id
)
SELECT query_id, neighbor_id, score, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= 5
"""


def q_sim_ivf_topk_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN with KMEANS-TRAINED centroids (spherical k-means||,
    ``similarity.py::kmeans_centroids``) — the production centroid path;
    plan shape identical to the deterministic ``sim_ivf_topk``
    (pinned by tests/test_plan_shapes.py).

    Trained-centroid results can't be replayed in another engine (the
    centers are an iterative float fixpoint), so — like a5 — the
    verifiable thing is the CONTRACT: the query computes recall@5
    against its own exact brute-force top-k and emits (n_queries,
    recall_ok) where recall_ok asserts mean recall >= 0.35, a 1.8x
    buffer under the 0.62-0.68 measured on the structureless synthetic
    embeddings (IVF's worst-case data — see kmeans_centroids docstring).
    The oracle pins the query count exactly and the boolean TRUE."""
    e = load_table(spark, sf, "embeddings")
    qs = e.filter(F.col("vec_id") < 10)
    # max_iter=8: k-means|| init converges 16 centers on these corpora in
    # a handful of iterations; 20 rounds of tiny driver-coordinated jobs
    # were pure latency (recall identical at both SFs, re-measured)
    approx = ivf_topk(
        e, qs, k=5, n_centroids=16, n_probe=4, centroids="kmeans", kmeans_max_iter=8
    )
    exact = cosine_topk_bruteforce(e, qs, k=5)
    hits = approx.select("query_id", "neighbor_id").join(
        exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    )
    agg = exact.agg(F.count(F.lit(1)).alias("n_exact")).crossJoin(
        hits.agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return agg.select(
        (F.col("n_exact") / F.lit(5)).cast("bigint").alias("n_queries"),
        ((F.col("n_hit") / F.col("n_exact")) >= F.lit(0.35)).alias("recall_ok"),
    )


O_SIM_IVF_KMEANS = """
SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
"""


def q_d_simhash_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup candidate pairs via pigeonhole band join
    (Hamming <= 3) over portable 60-bit fingerprints — oracle-checked
    end to end (fingerprints, band slicing, Hamming filter)."""
    d = load_table(spark, sf, "documents")
    from ..operators.dedup import simhash_near_duplicates

    return simhash_near_duplicates(simhash(d, "doc_id", "text"), max_hamming=3, bands=4)


def _gen_simhash_neardup_oracle(bits: int = 60, bands: int = 4, max_hamming: int = 3) -> str:
    width = bits // bands
    mask = (1 << width) - 1
    band_list = ", ".join(str(b) for b in range(bands))
    return _gen_simhash_cte(bits) + f""",
buckets AS (
  SELECT doc, simhash, band, (simhash >> (band * {width})) & {mask} AS slice
  FROM fp, UNNEST([{band_list}]) AS t(band)
)
SELECT DISTINCT a.doc AS id_a, b.doc AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM buckets a JOIN buckets b
  ON a.band = b.band AND a.slice = b.slice AND a.doc < b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


O_D_SIMHASH_NEARDUP = _gen_simhash_neardup_oracle()


def _f1_decorated(t: Column, did: Column) -> Column:
    """Deterministically decorate corpus text so every stage of the F1
    chain is exercised (the raw synthetic corpus is pure [a-z0-9 ]):
    leading/trailing space+dot, trailing hard sign, comma spacing, the
    СПб place replacement, the инж. тех. abbreviation, and pre-reform і.
    Decorations deliberately avoid 3+ consecutive dots — the one spot
    where the oracle's consuming-RE2 rewrite of the reference's negative
    lookahead is not exactly equivalent."""
    variants = F.array(
        F.concat(F.lit("  "), t, F.lit(" .")),
        F.concat(t, F.lit("ъ.")),
        F.concat(t, F.lit(" , запятая")),
        F.concat(F.lit("спб. "), t),
        F.concat(t, F.lit(" инж. тех.")),
        F.concat(F.lit("хорошій "), t),
    )
    return F.element_at(variants, (did % 6 + 1).cast("int"))


def q_f1_standardize(spark: SparkSession, sf: str) -> DataFrame:
    """F1: the reference's full standardize_text chain (translate,
    lookahead regexes, conditional dot-strip) applied columnar to
    decorated corpus text (see ``_f1_decorated``).  The DuckDB oracle
    re-runs the chain with RE2-consuming equivalents of each lookahead
    (``x(?=d)`` -> ``x(d)`` with the delimiter re-emitted), which are
    exactly equivalent except on 3+-dot runs that the decorations avoid;
    the Python/columnar agreement property suite pins the full semantics
    including those."""
    from ..functions.text import standardize_text

    d = load_table(spark, sf, "documents")
    decorated = _f1_decorated(F.col("text"), F.col("doc_id"))
    return d.select("doc_id", standardize_text(decorated).alias("text_std"))


def _gen_f1_oracle() -> str:
    from ..functions.text import (
        ABBREV_REPLACEMENTS,
        DOT_KEEP_LITERALS,
        NEW_CHARS,
        OLD_CHARS,
        PLACE_REPLACEMENTS,
    )

    def dq(s: str) -> str:
        return s.replace("'", "''")

    expr = "lower(regexp_replace(dec, '^\\s+|\\s+$', '', 'g'))"
    for old, new in PLACE_REPLACEMENTS:
        expr = f"replace({expr}, '{dq(old)}', '{dq(new)}')"
    expr = f"translate({expr}, '{OLD_CHARS}', '{NEW_CHARS}')"
    keep_list = ", ".join(f"'{dq(k)}'" for k in DOT_KEEP_LITERALS)
    abbrevs = "s2"
    for old, new in ABBREV_REPLACEMENTS:
        abbrevs = f"replace({abbrevs}, '{dq(old)}', '{dq(new)}')"
    return f"""
WITH d0 AS (
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 0 THEN '  ' || text || ' .'
           WHEN 1 THEN text || 'ъ.'
           WHEN 2 THEN text || ' , запятая'
           WHEN 3 THEN 'спб. ' || text
           WHEN 4 THEN text || ' инж. тех.'
           ELSE 'хорошій ' || text
         END AS dec
  FROM documents
), s1 AS (
  SELECT doc_id, {expr} AS s1 FROM d0
), s2 AS (  -- hard/soft sign before delimiter or end (consuming form)
  SELECT doc_id, regexp_replace(regexp_replace(s1,
           'ъ(\\s|[.,;:!?]|$)', '\\1', 'g'),
           'ь(\\s|[.,;:!?]|$)', '\\1', 'g') AS s2
  FROM s1
), s3 AS (
  SELECT doc_id, {abbrevs} AS s3 FROM s2
), s4 AS (  -- double-dot collapse unless followed by a cyrillic letter
  SELECT doc_id, regexp_replace(s3,
           '\\s*\\.\\s*\\.(\\s*)([^\\sа-яё]|$)', '.\\1\\2', 'g') AS s4
  FROM s3
), s5 AS (  -- space before dot swallowed when dot ends a token
  SELECT doc_id, regexp_replace(s4, '\\s*\\.(\\s|$)', '.\\1', 'g') AS s5
  FROM s4
), s6 AS (
  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(s5,
           '\\s*,\\s*', ', ', 'g'),
           '\\s+', ' ', 'g'),
           '^\\s+|\\s+$', '', 'g') AS s6
  FROM s5
), s7 AS (
  SELECT doc_id,
         CASE WHEN (s6 LIKE '%.' OR s6 LIKE '%,')
                   AND NOT (regexp_matches(s6, '(^|[^0-9a-zа-яё_])[а-яё]\\.$')
                            OR regexp_matches(s6, '(^|[^0-9a-zа-яё_])[а-яё]\\.\\s*[а-яё]\\.$')
                            OR regexp_matches(s6, '^[а-яё]{{1,3}}\\.$')
                            OR s6 IN ({keep_list}))
              THEN regexp_replace(substr(s6, 1, length(s6) - 1), '^\\s+|\\s+$', '', 'g')
              ELSE s6 END AS s7
  FROM s6
)
SELECT doc_id, CASE WHEN s7 = '' THEN NULL ELSE s7 END AS text_std FROM s7
"""


O_F1 = _gen_f1_oracle()


def q_u3_grouped_agg_udaf(spark: SparkSession, sf: str) -> DataFrame:
    """U3: custom UDAF — exact per-user median (not available as a
    built-in exact aggregate) + count, as true GROUPED_AGG pandas UDAFs
    inside ``agg()`` (ArrowAggregatePython).

    r11 (guide §4.1): the pre-r11 form was ``applyInPandas`` — a
    FlatMapGroupsInPandas that assembled a full pandas DataFrame per
    user group and re-emitted the group key from data, paying per-group
    DataFrame construction for a 1-row result.  GROUPED_AGG UDAFs
    receive just the value Series per group and let Spark own the key
    column; same single shuffle of (user_id, value), same Python median,
    identical output (pandas ``Series.median`` both ways).  Measured
    isolated fresh-JVM min-of-3: 3.06s -> 1.32s at sf0.1
    (plans/r11/u3_grouped_agg_udaf_{before,after}.txt:
    FlatMapGroupsInPandas -> ArrowAggregatePython).  r12: typed-hint
    UDAF definitions (no deprecated PandasUDFType) + the all-null
    NULL pin, see ``functions/u3_udafs.py``."""
    from ..functions.u3_udafs import u3_count, u3_median

    ev = load_table(spark, sf, "events")

    return (
        ev.select("user_id", "value")
        .groupBy("user_id")
        .agg(
            u3_median("value").alias("median_value"),
            u3_count("value").alias("n"),
        )
    )


O_U3 = """
SELECT user_id, median(value) AS median_value, count(*) AS n
FROM events GROUP BY user_id
"""


def q_m_multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal metadata projection: binary payload + typed metadata
    struct, payload column pruned out of the result (no media bytes
    deserialized downstream)."""
    d = load_table(spark, sf, "documents")
    return MM.payload_metadata(MM.with_payload(d))


O_M_META = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       md5(text) AS payload_md5,
       CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
       CAST((doc_id % 8 + 1) * 64 AS INTEGER) AS width,
       CAST((doc_id % 4 + 1) * 64 AS INTEGER) AS height,
       CAST(doc_id % 7 + 1 AS INTEGER) AS n_frames
FROM documents
"""


def q_m_multimodal_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-batched decode/feature-extract over multimodal rows
    (mapInPandas; codec stubbed -> deterministic byte features).  The
    deterministic featurizer is fully reproducible in SQL (byte histogram
    + mean over ascii codes), so the Python island is oracle-checked.

    The ``features array<double>`` column is stringified (rounded +
    array_join, same as t_char_fingerprint) because the driver's
    canonicalizer sorts on every output column and can't hash lists."""
    d = load_table(spark, sf, "documents")
    feats = MM.decode_and_featurize(MM.with_payload(d))
    return feats.select(
        "doc_id",
        "n_bytes",
        "payload_md5",
        F.round("mean_byte", 6).alias("mean_byte"),
        F.array_join(
            F.transform("features", lambda x: F.round(x.cast("double"), 6).cast("string")),
            ",",
        ).alias("features_csv"),
    )


O_M_DECODE = """
WITH m AS (
  SELECT doc_id, text, length(text) AS L,
         list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1))) AS codes
  FROM documents
)
SELECT doc_id,
       CAST(L AS INTEGER) AS n_bytes,
       md5(text) AS payload_md5,
       CASE WHEN L = 0 THEN 0.0
            ELSE round(CAST(list_aggregate(codes, 'sum') AS DOUBLE) / L, 6) END AS mean_byte,
       CASE WHEN L = 0 THEN '0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0'
            ELSE array_to_string(list_transform(range(0, 8), j ->
                 CAST(round(CAST(len(list_filter(codes, c -> c % 8 = j)) AS DOUBLE) / L, 6) AS VARCHAR)), ',')
       END AS features_csv
FROM m
"""


def q_m_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """One->many frame sampling UDTF shape (video path).  Each frame
    digest is md5 of a contiguous payload slice, reproduced verbatim by
    the oracle's md5(substring(...))."""
    d = load_table(spark, sf, "documents")
    return MM.sample_frames(MM.with_payload(d))


O_M_FRAME = """
WITH m AS (
  SELECT doc_id, text, CAST(doc_id % 7 + 1 AS BIGINT) AS n, length(text) AS L
  FROM documents
)
SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       md5(substring(text, (i * L) // n + 1, ((i + 1) * L) // n - (i * L) // n)) AS frame_md5
FROM m, UNNEST(range(0, n)) AS t(i)
"""


# ---------------------------------------------------------------------------
# Flagship
# ---------------------------------------------------------------------------

def flagship(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5-shaped star join: revenue per (region, nation).

    Plan shape at scale: lineitem (big) shuffles once on l_orderkey to meet
    orders; customer joins broadcast nation/region; AQE converts the
    orders->customer join to broadcast when small enough."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast("double")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(revenue.alias("revenue"), F.count(F.lit(1)).alias("n_lineitems"))
    )


O_FLAGSHIP = """
SELECT r_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_d_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): coarse k=16
    clustering of the embedding space, near-dup search ONLY within each
    cluster, greedy keep-lowest-id.  Deterministic first-n centroids so
    the full pipeline — assignment argmax, within-cell pair scores, keep
    flags — replays in the oracle."""
    e = load_table(spark, sf, "embeddings")
    return semantic_dedup(e, n_clusters=16, threshold=0.40, assign="exact")


O_D_SEMANTIC_DEDUP = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
cents AS (SELECT vec_id AS centroid_id, ev AS cv FROM v WHERE vec_id < 16),
asg AS (
  SELECT vec_id, ev, centroid_id FROM (
    SELECT v.vec_id, v.ev, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY round(list_inner_product(v.ev, c.cv) / (sqrt(list_inner_product(v.ev, v.ev)) * sqrt(list_inner_product(c.cv, c.cv))), 6) DESC,
                      c.centroid_id ASC) AS rn
    FROM v CROSS JOIN cents c) WHERE rn = 1
),
u AS (SELECT vec_id, centroid_id,
             list_transform(ev, x -> x / sqrt(list_inner_product(ev, ev))) AS uv
      FROM asg),
dups AS (
  SELECT DISTINCT a.vec_id
  FROM u a JOIN u b ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id
  WHERE round(list_inner_product(a.uv, b.uv), 4) >= 0.40
)
SELECT u.vec_id, u.centroid_id AS cluster_id, d.vec_id IS NULL AS keep
FROM u LEFT JOIN dups d ON u.vec_id = d.vec_id
"""


def q_d_semantic_dedup_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup with multi-probe (n_probe=2): each vector also searches
    its SECOND-nearest cell, so near-dup pairs straddling a cluster
    boundary — the method's documented recall hole, measured in
    tests/test_semantic_dedup_recall.py — still meet in a shared cell.
    Pair volume grows ~2×, still O(n²·n_probe/k); cluster_id stays the
    rank-1 cell, so the output schema and grouping semantics match
    d_semantic_dedup exactly."""
    e = load_table(spark, sf, "embeddings")
    return semantic_dedup(e, n_clusters=16, threshold=0.40, n_probe=2, assign="exact")


O_D_SEMANTIC_DEDUP_MP = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
cents AS (SELECT vec_id AS centroid_id, ev AS cv FROM v WHERE vec_id < 16),
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


_MIXTURE_WEIGHTS = {"en": 0.25, "de": 0.25, "es": 0.25, "fr": 0.25}


def q_p_mixture_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mixture resampling: downsample the corpus so the surviving
    language proportions match the target mixture (Gopher/The Pile style
    domain weights) — rates are DERIVED from observed stratum counts
    (largest feasible output, never upsampling), membership is the
    portable content-hash bucket test."""
    from ..operators.sampling import mixture_sample

    d = load_table(spark, sf, "documents")
    return mixture_sample(d, "text", "lang", _MIXTURE_WEIGHTS).select("doc_id", "lang")


def _gen_mixture_oracle(weights: dict[str, float], buckets: int = 10_000) -> str:
    total = sum(weights.values())
    in_list = ", ".join(f"'{s}'" for s in weights)
    wcase = " ".join(
        f"WHEN '{s}' THEN {w / total!r}" for s, w in weights.items()
    )
    return f"""
WITH inmix AS (SELECT doc_id, lang, text FROM documents WHERE lang IN ({in_list})),
counts AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM inmix GROUP BY lang),
wtab AS (SELECT lang, n, CASE lang {wcase} END AS w FROM counts),
t AS (SELECT min(n / w) AS t FROM wtab),
rates AS (SELECT lang, least(1.0, w * t.t / n) AS rate FROM wtab CROSS JOIN t)
SELECT d.doc_id, d.lang
FROM inmix d JOIN rates USING (lang)
WHERE {portable_hash60_sql("text")} % {buckets} < floor(rate * {buckets} + 1e-9)
"""


O_P_MIXTURE = _gen_mixture_oracle(_MIXTURE_WEIGHTS)


def q_j9_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """J9 (MERGE INTO analog): apply a keyed I/U/D changelog to a base
    snapshot with last-writer-wins versioning — changelog compaction
    (top-1 window per key) + anti join + union.  The changelog is derived
    deterministically from orders: every order is an update to its
    customer's row (new keys above 1M are inserts), keys on orders
    divisible by 37 are deletes."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    base = cust.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    key = F.when(
        F.col("o_orderkey") % 41 == 0, F.col("o_custkey") + 1_000_000
    ).otherwise(F.col("o_custkey"))
    changes = orders.select(
        key.alias("c_custkey"),
        F.concat(F.lit("cdc-"), key.cast("string")).alias("c_name"),
        F.col("o_totalprice").alias("c_acctbal"),
        F.lit("CDC").alias("c_mktsegment"),
        F.when(F.col("o_orderkey") % 37 == 0, "D").otherwise("U").alias("op"),
        F.col("o_orderdate").alias("v_ts"),
        F.col("o_orderkey").alias("v_id"),
    )
    return apply_cdc(base, changes, ["c_custkey"], ["v_ts", "v_id"])


O_J9_MERGE = """
WITH ch AS (
  SELECT CASE WHEN o_orderkey % 41 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS c_custkey,
         'cdc-' || CAST(CASE WHEN o_orderkey % 41 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS VARCHAR) AS c_name,
         o_totalprice AS c_acctbal,
         'CDC' AS c_mktsegment,
         CASE WHEN o_orderkey % 37 = 0 THEN 'D' ELSE 'U' END AS op,
         o_orderdate AS v_ts, o_orderkey AS v_id
  FROM orders
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY v_ts DESC, v_id DESC) AS rn
    FROM ch) WHERE rn = 1
)
SELECT c_custkey, c_name, c_acctbal, c_mktsegment
FROM customer b
WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = b.c_custkey)
UNION ALL
SELECT c_custkey, c_name, c_acctbal, c_mktsegment
FROM latest WHERE op <> 'D'
"""


def q_p_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, value): min/max-
    scale each dimension to 8-bit buckets from a one-row broadcast
    aggregate, then bit-interleave — the space-filling-curve layout that
    bounds every output file's span in BOTH dimensions for min/max
    pruning (the two-access-path problem the reference solves with two
    B-tree indexes, ``populate_db_ru_v1.py:175-179``).  Pure integer/
    bit arithmetic, replayed exactly by the oracle."""
    from ..operators.layout import zorder_key

    ev = load_table(spark, sf, "events")
    return zorder_key(ev, ["user_id", "value"], bits_per_dim=8).select(
        "event_id", "zkey"
    )


def _gen_zorder_oracle(bits_per_dim: int = 8) -> str:
    top = (1 << bits_per_dim) - 1
    terms = []
    for d, c in enumerate(("b_user", "b_val")):
        for i in range(bits_per_dim):
            terms.append(f"(({c} // {1 << i}) % 2) * {1 << (i * 2 + d)}")
    zexpr = "\n         + ".join(terms)
    return f"""
WITH stats AS (
  SELECT min(CAST(user_id AS DOUBLE)) AS lo_u, max(CAST(user_id AS DOUBLE)) AS hi_u,
         min(value) AS lo_v, max(value) AS hi_v
  FROM events
), b AS (
  -- CAST to BIGINT: duckdb's // on DOUBLE is plain division, so the
  -- interleave's floor-div/mod bit extraction needs integer operands
  SELECT event_id,
         CAST(least(CASE WHEN hi_u - lo_u > 0
                    THEN floor((CAST(user_id AS DOUBLE) - lo_u) / (hi_u - lo_u) * {top + 1})
                    ELSE 0 END, {top}) AS BIGINT) AS b_user,
         CAST(least(CASE WHEN hi_v - lo_v > 0
                    THEN floor((value - lo_v) / (hi_v - lo_v) * {top + 1})
                    ELSE 0 END, {top}) AS BIGINT) AS b_val
  FROM events CROSS JOIN stats
)
SELECT event_id,
       CAST({zexpr} AS BIGINT) AS zkey
FROM b
"""


O_P_ZORDER = _gen_zorder_oracle()


def q_a8_reaggregate(spark: SparkSession, sf: str) -> DataFrame:
    """A8: incremental partial re-aggregation — maintain mergeable daily
    partials (sum/count, decimal-exact) and roll them up to monthly
    WITHOUT touching raw rows again; the average is re-derived from the
    merged sums (avg-of-avgs is the classic wrong answer this pins).
    The at-scale pattern: the expensive raw scan happens once per day,
    every coarser rollup merges partial state."""
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(
        F.sum(_dec("value")).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    return daily.groupBy(
        F.substring("day", 1, 7).alias("month"), "event_type"
    ).agg(
        F.sum("_s").cast("double").alias("sum_value"),
        F.sum("_n").alias("n_events"),
        (F.sum("_s").cast("double") / F.sum("_n")).alias("avg_value"),
    )


O_A8_REAGG = """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
         sum(CAST(value AS DECIMAL(18,2))) AS s, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT substring(day, 1, 7) AS month, event_type,
       CAST(sum(s) AS DOUBLE) AS sum_value,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(sum(s) AS DOUBLE) / sum(n) AS avg_value
FROM daily GROUP BY 1, 2
"""


def q_a9_sketch_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """A9: the SKETCH side of a8's partial-reaggregation story — distinct
    users per (month, event_type) from MERGED daily HLL sketches
    (``hll_sketch_agg`` per day, ``hll_union_agg`` to month), never
    rescanning raw rows.  This is why mergeable sketches exist: exact
    distinct state cannot be rolled up (distinct-of-day != sum), sketches
    union freely across any regrouping.  Contract oracle like a5: the
    exact monthly distinct count is hash-checked, plus a boolean pinning
    the merged estimate within 5% of it (lgK=12 => rse ~1.6%, so 5% is
    wide).  The exact side exists only to judge the sketch; at 100 TB
    only the daily sketch pass touches raw data."""
    ev = load_table(spark, sf, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    daily = ev.groupBy(day.alias("day"), "event_type").agg(
        F.hll_sketch_agg("user_id").alias("_sk")
    )
    monthly = daily.groupBy(
        F.substring("day", 1, 7).alias("month"), "event_type"
    ).agg(F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est"))
    exact = ev.groupBy(
        F.date_format("ts", "yyyy-MM").alias("month"), "event_type"
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    return exact.join(F.broadcast(monthly), ["month", "event_type"]).select(
        "month",
        "event_type",
        "exact_users",
        (
            F.abs(F.col("_est").cast("double") - F.col("exact_users"))
            / F.col("exact_users")
            <= F.lit(0.05)
        ).alias("merged_est_ok"),
    )


O_A9_SKETCH_ROLLUP = """
SELECT strftime(ts, '%Y-%m') AS month, event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS merged_est_ok
FROM events GROUP BY 1, 2
"""


def q_t_span_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Span-level exact dedup with document reassembly (the paragraph-
    dedup pass of RefinedWeb/Dolma-style pipelines, applied to 20-word
    spans since the synthetic corpus has no structural breaks): every
    span that already appeared earlier in the corpus — boilerplate,
    repeated headers — is dropped, and each document is rebuilt from its
    surviving spans.  First-occurrence wins globally, ordered by
    (doc_id, span position).

    Plan: explode to spans (scan-speed), ONE window shuffle on the span
    digest to pick winners, ONE groupBy shuffle on doc_id to reassemble
    — collect_list skips the NULL-ed dropped spans, so a single pass
    computes totals, kept counts, and the rebuilt text."""
    d = load_table(spark, sf, "documents")
    chunks = d.select(
        "doc_id",
        F.posexplode(TA.word_chunks(F.col("text"), 20)).alias("chunk_idx", "chunk"),
    )
    w = W.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk_idx")
    flagged = chunks.withColumn("_keep", F.row_number().over(w) == 1)
    kept_struct = F.when(F.col("_keep"), F.struct("chunk_idx", "chunk"))
    return flagged.groupBy("doc_id").agg(
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x["chunk"]
                ),
                " ",
            ),
            F.lit(""),
        ).alias("clean_text"),
        (F.count(F.lit(1)) - F.count(F.when(F.col("_keep"), 1))).alias("n_spans_dropped"),
    )


O_T_SPAN_DEDUP = r"""
WITH w AS (
  SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
  FROM documents
), c AS (
  SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
         array_to_string(words[i*20+1 : (i+1)*20], ' ') AS chunk
  FROM w, unnest(range(greatest(CAST(ceil(len(words) / 20.0) AS BIGINT), 1))) AS t(i)
), k AS (
  SELECT *, row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx) = 1 AS keep
  FROM c
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN keep THEN chunk END, ' ' ORDER BY chunk_idx), '') AS clean_text,
       CAST(count(*) - count(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_spans_dropped
FROM k GROUP BY doc_id
"""


def _gen_cls_weights(n: int = 64, seed: int = 99) -> list[float]:
    import random as _random

    rng = _random.Random(seed)
    return [round(rng.uniform(-1, 1), 6) for _ in range(n)]


_CLS_WEIGHTS = _gen_cls_weights()


def q_t_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Hashed linear text classifier at scan speed (fasttext-style
    bag-of-hashed-tokens, Joulin et al. '16): tokens hash into 64 weight
    buckets via the portable md5 family, score = mean bucket weight.
    Deterministic fixed weights stand in for a trained model — the
    PLUMBING (hashing, lookup, fold, thresholding; zero shuffles, no
    UDF) is the operator under test, and the oracle replays it bucket
    for bucket."""
    d = load_table(spark, sf, "documents")
    score = TA.hashed_linear_score(F.col("text"), _CLS_WEIGHTS)
    return d.select(
        "doc_id",
        F.round(score, 6).alias("lm_score"),
        (score > 0).alias("keep"),
    )


def _gen_classifier_oracle(weights: list[float]) -> str:
    warr = "[" + ", ".join(repr(w) for w in weights) + "]"
    h = portable_hash60_sql("t")
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(trim(lower(text)), ' ') AS tk FROM documents
), contrib AS (
  SELECT doc_id,
         list_transform(tk, t -> (CAST({warr} AS DOUBLE[]))[CAST({h} % {len(weights)} + 1 AS INTEGER)]) AS cs,
         len(tk) AS n
  FROM toks
)
SELECT doc_id,
       round(CASE WHEN n > 0 THEN list_reduce(cs, (a, b) -> a + b) / n ELSE 0.0 END, 6) AS lm_score,
       (CASE WHEN n > 0 THEN list_reduce(cs, (a, b) -> a + b) / n ELSE 0.0 END) > 0 AS keep
FROM contrib
"""


O_T_QUALITY_CLS = _gen_classifier_oracle(_CLS_WEIGHTS)


def q_sim_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ADC top-k (Jégou '11): 64-dim vectors become
    8 codebook ids; pair scores are 8 integer table lookups.  The third
    ANN family next to LSH buckets and IVF cells — deterministic first-n
    codebooks make the full pipeline (encoding argmin, ADC tables,
    integer-exact score sums) oracle-replayable."""
    from ..operators.similarity import pq_topk

    e = load_table(spark, sf, "embeddings")
    return pq_topk(e, e.filter(F.col("vec_id") < 10), dim=64, k=5, m=8, codewords=16)


O_SIM_PQ = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
sub AS (
  SELECT vec_id AS nid, CAST(s AS INTEGER) AS s, ev[s*8+1 : (s+1)*8] AS sv
  FROM v, unnest(range(8)) t(s)
),
csub AS (SELECT nid AS c, s, sv AS cs FROM sub WHERE nid < 16),
enc AS (
  SELECT nid, s,
         (min({'d': round(list_inner_product(sv, sv)
                          - 2 * list_inner_product(sv, cs)
                          + list_inner_product(cs, cs), 6),
               'c': c})).c AS code
  FROM sub JOIN csub USING (s)
  GROUP BY nid, s
),
qt AS (
  SELECT sub.nid AS qid, s, c,
         CAST(round(list_inner_product(sv, cs) * 1000000, 0) AS BIGINT) AS w
  FROM sub JOIN csub USING (s) WHERE sub.nid < 10
),
scored AS (
  -- no round(., 4): sum(w) is an exact integer, one IEEE division is
  -- bit-identical everywhere, while rounding a half-boundary value
  -- (392350/1e6) splits between decimal-string (Spark) and binary
  -- (DuckDB) rounding — found at sf0.1
  SELECT qid, nid, CAST(sum(w) AS DOUBLE) / 1000000 AS approx_score
  FROM enc JOIN qt ON enc.s = qt.s AND enc.code = qt.c
  WHERE qid != nid
  GROUP BY qid, nid
)
SELECT qid AS query_id, nid AS neighbor_id, approx_score, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY approx_score DESC, nid ASC) AS rn
      FROM scored)
WHERE rn <= 5
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

O_P_CURATE = f"""
WITH q AS ({O_T_QUALITY}),
r AS ({O_T_REPETITION}),
l AS ({O_T_LANG}),
c AS (
  SELECT doc_id,
         doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
  FROM documents
)
SELECT q.doc_id, l.lang_guess, q.quality, r.dup_word_frac, c.is_canonical,
       (c.is_canonical AND q.quality >= 0.5 AND r.dup_word_frac <= 0.3
        AND l.lang_guess = 'en') AS keep
FROM q
JOIN r ON q.doc_id = r.doc_id
JOIN l ON q.doc_id = l.doc_id
JOIN c ON q.doc_id = c.doc_id
"""

# Each catalog module exports one REGISTRY of name -> (query, oracle SQL);
# a query cannot be registered without its oracle.  These are this
# module's own entries.
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {
    "s1_filter_project": (q_s1_filter_project, O_S1),
    "f5_regex_extract": (q_f5_regex_extract, O_F5),
    "f2_clean_number": (q_f2_clean_number, O_F2),
    "f8_token_sort_canon": (q_f8_token_sort_canon, O_F8),
    "f9_case_ladder": (q_f9_case_ladder, O_F9),
    "f10_dict_canonicalize": (q_f10_dict_canonicalize, O_F10),
    "f11_typed_date": (q_f11_typed_date, O_F11),
    "a1_pricing_summary": (q_a1_pricing_summary, O_A1),
    "a5_approx_sketches": (q_a5_approx_sketches, O_A5),
    "a3_rollup": (q_a3_rollup, O_A3),
    "j6b_asof_join": (q_j6b_asof_join, O_J6B),
    "j6c_asof_tolerance": (q_j6c_asof_tolerance, O_J6C),
    "w10_funnel": (q_w10_funnel, O_W10),
    "w11_cohort_retention": (q_w11_cohort_retention, O_W11),
    "w16_ohlc_resample": (q_w16_ohlc_resample, O_W16),
    "w12_exact_percentiles": (q_w12_exact_percentiles, O_W12),
    "w14_scd2_intervals": (q_w14_scd2_intervals, O_W14),
    "w13_sessionize": (q_w13_sessionize, O_W13),
    "a6b_unpivot": (q_a6b_unpivot, O_A6B),
    "w9_range_frame": (q_w9_range_frame, O_W9),
    "a3b_cube": (q_a3b_cube, O_A3B),
    "a3c_grouping_sets": (q_a3c_grouping_sets, O_A3C),
    "a7_collect_set": (q_a7_collect_set, O_A7),
    "a6_pivot": (q_a6_pivot, O_A6),
    "a2_skew_safe_distinct": (q_a2_skew_safe_distinct, O_A2_SKEW),
    "a4_distinct_counts": (q_a4_distinct_counts, O_A4),
    "j1_broadcast_dim_join": (q_j1_broadcast_dim_join, O_J1),
    "j2_surrogate_dim": (q_j2_surrogate_dim, O_J2),
    "j3_nullsafe_join": (q_j3_nullsafe_join, O_J3),
    "j4_case_insensitive_join": (q_j4_case_insensitive_join, O_J4),
    "j5_anti_join": (q_j5_anti_join, O_J5),
    "j5b_semi_join": (q_j5b_semi_join, O_J5B),
    "j6_asof_fill": (q_j6_asof_fill, O_J6),
    "j8_range_join": (q_j8_range_join, O_J8),
    "j8b_range_join_bucketed": (q_j8b_range_join_bucketed, O_J8B),
    "w1_forward_fill": (q_w1_forward_fill, O_W1),
    "w5_latest_per_group": (q_w5_latest_per_group, O_W5),
    "w6_global_surrogate": (q_w6_global_surrogate, O_W6),
    "w7_lag_delta": (q_w7_lag_delta, O_W7),
    "w8_rank_suite": (q_w8_rank_suite, O_W8),
    "o5_topk": (q_o5_topk, O_O5),
    "e1_union_dedup": (q_e1_union_dedup, O_E1),
    "e2_except": (q_e2_except, O_E2),
    "e3_intersect": (q_e3_intersect, O_E3),
    "s9_tumbling_window": (q_s9_tumbling_window, O_S9),
    "s9b_sliding_window": (q_s9b_sliding_window, O_S9B),
    "s10_session_window": (q_s10_session_window, O_S10),
    "s11_stream_dedup": (q_s11_stream_dedup, O_S11),
    "s12_stream_stream_join": (q_s12_stream_stream_join, O_S12),
    "d_exact_dedup": (q_d_exact_dedup, O_D_EXACT),
    "d_ngram_jaccard": (q_d_ngram_jaccard, O_D_JACCARD),
    "d_dedup_clusters": (q_d_dedup_clusters, O_D_CLUSTERS),
    "d_minhash_lsh": (q_d_minhash_lsh, O_D_MINHASH),
    "d_incremental_dedup": (q_d_incremental_dedup, O_D_INCREMENTAL),
    "d_simhash": (q_d_simhash, O_D_SIMHASH),
    "s2b_json_extract": (q_s2b_json_extract, O_S2B_JSON),
    "t_tfidf_topk": (q_t_tfidf_topk, O_T_TFIDF),
    "p_profile_columns": (q_p_profile_columns, O_P_PROFILE),
    "p_curate_corpus": (q_p_curate_corpus, O_P_CURATE),
    "p_pack_bins": (q_p_pack_bins, O_P_PACK),
    "d_contamination": (q_d_contamination, O_D_CONTAM),
    "t_chunk_windows": (q_t_chunk_windows, O_T_CHUNKS),
    "t_pii_redact": (q_t_pii_redact, O_T_PII),
    "p_hash_split": (q_p_hash_split, O_P_HASH_SPLIT),
    "p_stratified_sample": (q_p_stratified_sample, O_P_STRATIFIED),
    "p_group_sample": (q_p_group_sample, O_P_GROUP_SAMPLE),
    "t_text_stats": (q_t_text_stats, O_T_STATS),
    "t_language_guess": (q_t_language_guess, O_T_LANG),
    "t_quality_score": (q_t_quality_score, O_T_QUALITY),
    "t_repetition_stats": (q_t_repetition_stats, O_T_REPETITION),
    "sim_cosine_topk": (q_sim_cosine_topk, O_SIM_TOPK),
    "sim_lsh_topk": (q_sim_lsh_topk, O_SIM_LSH),
    "t_token_count_bpe": (q_t_token_count_bpe, O_T_TOKEN_BPE),
    "t_char_fingerprint": (q_t_char_fingerprint, O_T_CHAR_FP),
    "d_embedding_neardup": (q_d_embedding_neardup, O_D_EMB_NEARDUP),
    "d_embedding_neardup_lsh": (q_d_embedding_neardup_lsh, O_D_EMB_NEARDUP_LSH),
    "sim_ivf_topk": (q_sim_ivf_topk, O_SIM_IVF),
    "sim_ivf_topk_kmeans": (q_sim_ivf_topk_kmeans, O_SIM_IVF_KMEANS),
    "d_simhash_neardup": (q_d_simhash_neardup, O_D_SIMHASH_NEARDUP),
    "f1_standardize": (q_f1_standardize, O_F1),
    "u3_grouped_agg_udaf": (q_u3_grouped_agg_udaf, O_U3),
    "m_multimodal_meta": (q_m_multimodal_meta, O_M_META),
    "m_multimodal_decode": (q_m_multimodal_decode, O_M_DECODE),
    "m_frame_sample": (q_m_frame_sample, O_M_FRAME),
    "flagship_q5_revenue": (flagship, O_FLAGSHIP),
    "p_mixture_sample": (q_p_mixture_sample, O_P_MIXTURE),
    "j9_merge_upsert": (q_j9_merge_upsert, O_J9_MERGE),
    "p_zorder_layout": (q_p_zorder_layout, O_P_ZORDER),
    "a8_reaggregate": (q_a8_reaggregate, O_A8_REAGG),
    "a9_sketch_rollup": (q_a9_sketch_rollup, O_A9_SKETCH_ROLLUP),
    "t_span_dedup": (q_t_span_dedup, O_T_SPAN_DEDUP),
    "t_quality_classifier": (q_t_quality_classifier, O_T_QUALITY_CLS),
    "sim_pq_topk": (q_sim_pq_topk, O_SIM_PQ),
}


def merge_registries(*tables: dict) -> dict:
    """Union of REGISTRY tables; a name registered twice raises."""
    merged: dict = {}
    for table in tables:
        for name, pair in table.items():
            if name in merged:
                raise ValueError(f"catalog query {name!r} is registered twice")
            merged[name] = pair
    return merged


_ALL = merge_registries(
    REGISTRY,
    catalog_ext.REGISTRY,
    catalog_ext2.REGISTRY,
    catalog_ext3.REGISTRY,
    catalog_ext4.REGISTRY,
    catalog_ext5.REGISTRY,
    catalog_ext6.REGISTRY,
    catalog_ext7.REGISTRY,
    catalog_ext8.REGISTRY,
    catalog_ext9.REGISTRY,
    catalog_graph.REGISTRY,
)
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    n: q for n, (q, _) in _ALL.items()
}
ORACLES: dict[str, str] = {n: o for n, (_, o) in _ALL.items()}


# Oracle-checked by tests/test_catalog_vs_duckdb.py but not registered:
# the semantic-dedup configurations with a measured quadratic term
# (fixed k=16, fixed-k multiprobe, and auto-k with exact assignment).
# They are the determinism baselines for the registered linear form,
# d_semantic_dedup_lshassign, and the only oracle check of the
# assign="exact" path the recall tests use as their reference.
_PYTEST_ONLY = {
    "d_semantic_dedup": (q_d_semantic_dedup, O_D_SEMANTIC_DEDUP),
    "d_semantic_dedup_multiprobe": (q_d_semantic_dedup_multiprobe, O_D_SEMANTIC_DEDUP_MP),
    "d_semantic_dedup_auto": (
        catalog_ext5.q_d_semantic_dedup_auto,
        catalog_ext5.O_D_SEMANTIC_DEDUP_AUTO,
    ),
}
PYTEST_ONLY_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    n: q for n, (q, _) in _PYTEST_ONLY.items()
}
PYTEST_ONLY_ORACLES: dict[str, str] = {n: o for n, (_, o) in _PYTEST_ONLY.items()}
