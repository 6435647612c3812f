"""Round-5 third-batch catalog: bidirectional nearest-event temporal
join, an exactly-reproducible count-min sketch, exact rolling medians,
a referential-integrity audit, snapshot differencing to a changelog,
integer-exact weighted Bernoulli sampling, and a seasonal-baseline
anomaly flag.

Same contract as ``plans.catalog``: every query has a DuckDB oracle and
the pair is registered through this module's ``REGISTRY``.  Determinism
follows the catalog conventions: epoch keys via ``timestampdiff`` on
TIMESTAMP_NTZ (never session-timezone ``unix_timestamp``), money in
integer cents with one trailing IEEE division, integer aggregates CAST
to BIGINT on the oracle side, every window over a provably TOTAL per-partition order
(``(ts_us, event_id)`` — event_id breaks any future ts collision).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.tables import load_table

_TS_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"


# ---------------------------------------------------------------------------
# J15: bidirectional nearest-event join (temporal alignment)
# ---------------------------------------------------------------------------


def q_j15_nearest_event_join(spark: SparkSession, sf: str) -> DataFrame:
    """J15: for every ``purchase`` event, the NEAREST ``click`` by the
    same user in either time direction — the sensor-alignment /
    attribution primitive that an as-of join (j6b, backward-only) cannot
    express.  Computed without any inequality join: union both event
    sets, sort per user by the total key ``(ts_us, event_id)``, and take
    one ``last(click) ignorenulls`` pass per direction (the forward one
    over the descending sort) — two growing frames sharing ONE shuffle
    on ``user_id``, linear in events, never candidate-pair quadratic.  Nearest = smaller absolute gap; exact tie prefers the
    preceding click (integer microsecond compare, no floats anywhere).

    At 100 TB this is the right plan: a single hash partition by user,
    two window passes over the same sort, output one row per purchase.
    The reference has no temporal-nearest operator; this generalizes its
    senior-inspector as-of fill (populate_db_ru_v1.py:618-662) to the
    bidirectional case.
    """
    ev = load_table(spark, sf, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    ev = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.expr(_TS_US).alias("ts_us"),
    )
    is_click = F.col("event_type") == "click"
    click_ts = F.when(is_click, F.col("ts_us"))
    click_id = F.when(is_click, F.col("event_id"))
    # both directions as GROWING frames: the forward pass runs over the
    # DESCENDING order so its frame is [unbounded preceding, current],
    # which Spark evaluates incrementally — a [current, unbounded
    # following] frame rescans the partition tail per row (quadratic per
    # key; see gap_fill_hourly's measured case)
    wb = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts_us").asc(), F.col("event_id").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts_us").desc(), F.col("event_id").desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cand = ev.select(
        "*",
        F.last(click_ts, ignorenulls=True).over(wb).alias("prev_ts"),
        F.last(click_id, ignorenulls=True).over(wb).alias("prev_id"),
        F.last(click_ts, ignorenulls=True).over(wf).alias("next_ts"),
        F.last(click_id, ignorenulls=True).over(wf).alias("next_id"),
    ).filter(F.col("event_type") == "purchase")
    gap_prev = F.col("ts_us") - F.col("prev_ts")  # >= 0 by frame
    gap_next = F.col("next_ts") - F.col("ts_us")  # >= 0 by frame
    take_prev = F.col("prev_ts").isNotNull() & (
        F.col("next_ts").isNull() | (gap_prev <= gap_next)
    )
    return cand.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(take_prev, F.col("prev_id")).otherwise(F.col("next_id")).alias("click_id"),
        F.when(take_prev, gap_prev)
        .otherwise(gap_next)
        .cast("long")
        .alias("gap_us"),
        F.when(F.col("prev_ts").isNull() & F.col("next_ts").isNull(), None)
        .when(take_prev, F.lit("before"))
        .otherwise(F.lit("after"))
        .alias("direction"),
    )


O_J15_NEAREST = """
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
  FROM events WHERE event_type IN ('purchase', 'click')
), cand AS (
  SELECT *,
         last(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
           OVER wb AS prev_ts,
         last(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           OVER wb AS prev_id,
         first(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
           OVER wf AS next_ts,
         first(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           OVER wf AS next_id
  FROM ev
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id AS purchase_id, user_id,
       CASE WHEN prev_ts IS NOT NULL
                 AND (next_ts IS NULL OR ts_us - prev_ts <= next_ts - ts_us)
            THEN prev_id ELSE next_id END AS click_id,
       CAST(CASE WHEN prev_ts IS NOT NULL
                      AND (next_ts IS NULL OR ts_us - prev_ts <= next_ts - ts_us)
                 THEN ts_us - prev_ts ELSE next_ts - ts_us END AS BIGINT) AS gap_us,
       CASE WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
            WHEN prev_ts IS NOT NULL
                 AND (next_ts IS NULL OR ts_us - prev_ts <= next_ts - ts_us)
            THEN 'before' ELSE 'after' END AS direction
FROM cand WHERE event_type = 'purchase'
"""


# ---------------------------------------------------------------------------
# A15: count-min sketch, exactly reproduced by the oracle
# ---------------------------------------------------------------------------

_CMS_D, _CMS_W = 4, 256


def _cms_bucket_spark(row: int):
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"cms{row}:"), F.col("user_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (h % _CMS_W).cast("int")


def q_a15_countmin(spark: SparkSession, sf: str) -> DataFrame:
    """A15: count-min sketch (Cormode-Muthukrishnan '05) frequency
    estimation for every distinct ``user_id`` in the event stream —
    depth 4 × width 256, bucket = md5-derived 60-bit hash mod width, so
    the ENTIRE sketch is deterministic integer arithmetic that the
    DuckDB oracle replays bit-for-bit: this query hash-verifies the
    sketch itself (estimate >= truth always holds by construction and
    is asserted as a column).

    Scale shape: the sketch build is one map-side-combinable aggregation
    onto d×w = 1024 cells regardless of input size — the canonical
    mergeable summary for 100 TB streams (same posture as a9's HLL
    rollup).  Estimates come from broadcasting the 1024-cell table onto
    the distinct-key probe; nothing is collected.
    """
    ev = load_table(spark, sf, "events").select("user_id")
    probes = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    rows = None
    for r in range(_CMS_D):
        cell = ev.select(F.lit(r).alias("row"), _cms_bucket_spark(r).alias("bucket"))
        rows = cell if rows is None else rows.unionByName(cell)
    sketch = rows.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cell_count")
    )
    probe_cells = None
    for r in range(_CMS_D):
        pc = probes.select(
            "user_id", F.lit(r).alias("row"), _cms_bucket_spark(r).alias("bucket")
        )
        probe_cells = pc if probe_cells is None else probe_cells.unionByName(pc)
    est = (
        probe_cells.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cell_count").alias("cms_estimate"))
    )
    return probes.join(est, "user_id").select(
        "user_id",
        "true_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("true_count")).cast("long").alias("overcount"),
        (F.col("cms_estimate") >= F.col("true_count")).alias("never_undercounts"),
    )


def _cms_bucket_sql(row: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('cms{row}:' || CAST(user_id AS VARCHAR)), 1, 15)) "
        f"AS BIGINT) % {_CMS_W}"
    )


_CMS_CELLS_SQL = "\nUNION ALL\n".join(
    f"SELECT {r} AS row, {_cms_bucket_sql(r)} AS bucket, user_id FROM events"
    for r in range(_CMS_D)
)

O_A15_CMS = f"""
WITH cells AS (
  {_CMS_CELLS_SQL}
), sketch AS (
  SELECT row, bucket, CAST(count(*) AS BIGINT) AS cell_count
  FROM cells GROUP BY 1, 2
), probes AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS true_count FROM events GROUP BY 1
), probe_cells AS (
  SELECT DISTINCT row, bucket, user_id FROM cells
), est AS (
  SELECT pc.user_id, min(s.cell_count) AS cms_estimate
  FROM probe_cells pc JOIN sketch s ON s.row = pc.row AND s.bucket = pc.bucket
  GROUP BY 1
)
SELECT p.user_id, p.true_count, e.cms_estimate,
       CAST(e.cms_estimate - p.true_count AS BIGINT) AS overcount,
       e.cms_estimate >= p.true_count AS never_undercounts
FROM probes p JOIN est e ON e.user_id = p.user_id
"""


# ---------------------------------------------------------------------------
# W19: exact rolling median over a bounded ROWS frame
# ---------------------------------------------------------------------------


def q_w19_rolling_median(spark: SparkSession, sf: str) -> DataFrame:
    """W19: exact trailing-7-row median of the event value per user —
    the robust rolling location estimate (the windowed counterpart of
    a14's global median/MAD).  Values are summed as integer cents so the
    only float is the final half-sum a median of an even count produces:
    dyadic fractions of integers are bit-identical across engines (w12's
    lesson).  The frame is ROWS-bounded (7 rows), so per-row state is
    O(7) — no unbounded percentile buffers — and the one shuffle is the
    ``user_id`` hash partition.
    """
    ev = load_table(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.expr(_TS_US).alias("ts_us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v_cents"),
    )
    return ev.select(
        "event_id",
        "user_id",
        F.expr(
            "percentile(v_cents, 0.5) OVER ("
            "PARTITION BY user_id ORDER BY ts_us, event_id "
            "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
        ).alias("med_cents"),
        F.expr(
            "count(1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id "
            "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
        ).cast("int")
        .alias("n_in_frame"),
    ).select(
        "event_id",
        "user_id",
        (F.col("med_cents") / 100).alias("rolling_median"),
        "n_in_frame",
    )


O_W19_ROLLING_MEDIAN = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS v_cents
  FROM events
)
SELECT event_id, user_id,
       median(v_cents) OVER w / 100 AS rolling_median,
       CAST(count(*) OVER w AS INTEGER) AS n_in_frame
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# P: referential-integrity audit (orphan scan over every FK edge)
# ---------------------------------------------------------------------------


def q_p_fk_audit(spark: SparkSession, sf: str) -> DataFrame:
    """P: data-quality audit of every foreign-key edge in the star
    schema — row count, distinct key count, and orphan count (child keys
    with no parent) per relation, in ONE result table.  The reference
    enforces these edges implicitly through insertion order
    (populate_db_ru_v1.py's dim-then-fact protocol); a warehouse at
    100 TB needs the audit as a standing query instead.

    Plan shape (round-6 collapse — the r5 form ran 5 independent
    audit sub-plans totaling 25 exchanges; correct but the widest plan
    in the catalog): tag every child's keys with its relation name,
    UNION them, and run ONE ``groupBy(relation, key)`` distinct-collapse
    shuffle over the combined stream; parent keys (all dimension-sized)
    union into a single broadcast flag join; one final
    ``groupBy(relation)`` produces all five audit rows.  Total: two real
    exchanges (child-key collapse + 5-row final) plus one dim-sized
    distinct — the same scan volume as before, 5 jobs fused into one.
    """
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    part = load_table(spark, sf, "part")
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")

    def tag(name, df, key):
        return df.select(F.lit(name).alias("relation"), F.col(key).cast("long").alias("k"))

    edges = [
        ("lineitem.orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
        ("lineitem.partkey->part", li, "l_partkey", part, "p_partkey"),
        ("lineitem.suppkey->supplier", li, "l_suppkey", supplier, "s_suppkey"),
        ("orders.custkey->customer", orders, "o_custkey", customer, "c_custkey"),
        ("customer.nationkey->nation", customer, "c_nationkey", nation, "n_nationkey"),
    ]
    kids = edges[0][1].transform(lambda d: tag(edges[0][0], d, edges[0][2]))
    parents = tag(edges[0][0], edges[0][3], edges[0][4])
    for name, child, ckey, parent, pkey in edges[1:]:
        kids = kids.unionByName(tag(name, child, ckey))
        parents = parents.unionByName(tag(name, parent, pkey))
    keyed = kids.groupBy("relation", "k").agg(F.count(F.lit(1)).alias("_cnt"))
    flagged = keyed.join(
        F.broadcast(parents.distinct().withColumn("_p", F.lit(1))),
        ["relation", "k"],
        "left",
    )
    return flagged.groupBy("relation").agg(
        F.sum("_cnt").cast("long").alias("child_rows"),
        F.count(F.lit(1)).cast("long").alias("child_keys"),
        F.sum(F.when(F.col("_p").isNull(), 1).otherwise(0)).cast("long").alias("orphan_keys"),
    ).withColumn("intact", F.col("orphan_keys") == 0)


O_P_FK_AUDIT = """
WITH audits AS (
  SELECT 'lineitem.orderkey->orders' AS relation,
         CAST(count(*) AS BIGINT) AS child_rows,
         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS child_keys,
         CAST((SELECT count(*) FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem) c
               WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = c.k))
              AS BIGINT) AS orphan_keys
  FROM lineitem
  UNION ALL
  SELECT 'lineitem.partkey->part',
         CAST(count(*) AS BIGINT), CAST(count(DISTINCT l_partkey) AS BIGINT),
         CAST((SELECT count(*) FROM (SELECT DISTINCT l_partkey AS k FROM lineitem) c
               WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = c.k))
              AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem.suppkey->supplier',
         CAST(count(*) AS BIGINT), CAST(count(DISTINCT l_suppkey) AS BIGINT),
         CAST((SELECT count(*) FROM (SELECT DISTINCT l_suppkey AS k FROM lineitem) c
               WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = c.k))
              AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'orders.custkey->customer',
         CAST(count(*) AS BIGINT), CAST(count(DISTINCT o_custkey) AS BIGINT),
         CAST((SELECT count(*) FROM (SELECT DISTINCT o_custkey AS k FROM orders) c
               WHERE NOT EXISTS (SELECT 1 FROM customer cu WHERE cu.c_custkey = c.k))
              AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'customer.nationkey->nation',
         CAST(count(*) AS BIGINT), CAST(count(DISTINCT c_nationkey) AS BIGINT),
         CAST((SELECT count(*) FROM (SELECT DISTINCT c_nationkey AS k FROM customer) c
               WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.k))
              AS BIGINT)
  FROM customer
)
SELECT relation, child_rows, child_keys, orphan_keys,
       orphan_keys = 0 AS intact
FROM audits
"""


# ---------------------------------------------------------------------------
# J17: snapshot differencing -> CDC changelog
# ---------------------------------------------------------------------------


def q_j17_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """J17: snapshot differencing — the inverse of j9's changelog APPLY:
    given two full snapshots of a table, emit the minimal changelog
    (insert / delete / update rows) that transforms old into new.  The
    two snapshots are carved deterministically from ``orders``
    (old = keys with k % 7 != 3, new = keys with k % 5 != 2, prices
    bumped by $1 where k % 3 == 0), so every class is populated and the
    oracle replays the identical carving.

    Plan shape: ONE full outer join hash-partitioned on the key — the
    scalable snapshot-diff plan (both sides shuffle once; no window, no
    driver state).  Unchanged rows are dropped before the output.
    """
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("cents")
    )
    old = orders.filter(F.col("o_orderkey") % 7 != 3).select(
        "o_orderkey", F.col("cents").alias("old_cents")
    )
    new = orders.filter(F.col("o_orderkey") % 5 != 2).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("cents") + 100)
        .otherwise(F.col("cents"))
        .alias("new_cents"),
    )
    d = old.join(new, "o_orderkey", "full_outer")
    return (
        d.select(
            "o_orderkey",
            F.when(F.col("old_cents").isNull(), F.lit("insert"))
            .when(F.col("new_cents").isNull(), F.lit("delete"))
            .when(F.col("old_cents") != F.col("new_cents"), F.lit("update"))
            .otherwise(F.lit("unchanged"))
            .alias("change_type"),
            (F.col("old_cents") / 100).alias("old_price"),
            (F.col("new_cents") / 100).alias("new_price"),
        )
        .filter(F.col("change_type") != "unchanged")
    )


O_J17_SNAPSHOT_DIFF = """
WITH base AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
), old AS (
  SELECT o_orderkey, cents AS old_cents FROM base WHERE o_orderkey % 7 != 3
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN cents + 100 ELSE cents END AS new_cents
  FROM base WHERE o_orderkey % 5 != 2
), d AS (
  SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey, old_cents, new_cents
  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
)
SELECT o_orderkey,
       CASE WHEN old_cents IS NULL THEN 'insert'
            WHEN new_cents IS NULL THEN 'delete'
            WHEN old_cents != new_cents THEN 'update'
            ELSE 'unchanged' END AS change_type,
       old_cents / 100 AS old_price,
       new_cents / 100 AS new_price
FROM d
WHERE NOT (old_cents IS NOT NULL AND new_cents IS NOT NULL AND old_cents = new_cents)
"""


# ---------------------------------------------------------------------------
# P: integer-exact weighted Bernoulli sampling (Horvitz-Thompson weights)
# ---------------------------------------------------------------------------

_WS_DEN = 512
_WS_SALT = "wsamp1:"


def q_p_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """P: size-weighted Bernoulli document sample — inclusion
    probability ``min(n_chars, 512)/512``, decided by pure integer
    arithmetic on a salted content hash (``h % 512 < weight``), plus the
    exact Horvitz-Thompson inverse-probability weight so downstream
    token statistics stay unbiased.  This is the per-item refinement of
    ``p_mixture_sample``'s domain-level rates: longer documents (more
    tokens) are kept proportionally more often, which is how a token
    budget — not a document budget — is sampled from a 100 TB corpus.

    Determinism: no RNG anywhere — the same md5 arithmetic runs in the
    oracle, and ``inv_prob`` is one exact integer ratio per row followed
    by a single IEEE division.  Zero shuffles: scan → filter → project.
    """
    d = load_table(spark, sf, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(_WS_SALT), F.col("text"))), 1, 15), 16, 10
    ).cast("long")
    weight = F.least(F.col("n_chars").cast("long"), F.lit(_WS_DEN))
    return (
        d.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            (h % _WS_DEN).alias("u"),
            weight.alias("w"),
        )
        .filter(F.col("u") < F.col("w"))
        .select(
            "doc_id",
            "n_chars",
            (F.lit(float(_WS_DEN)) / F.col("w").cast("double")).alias("inv_prob"),
        )
    )


O_P_WEIGHTED_SAMPLE = f"""
WITH d AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(('0x' || substr(md5('{_WS_SALT}' || text), 1, 15)) AS BIGINT)
           % {_WS_DEN} AS u,
         least(CAST(n_chars AS BIGINT), {_WS_DEN}) AS w
  FROM documents
)
SELECT doc_id, n_chars, CAST({_WS_DEN} AS DOUBLE) / w AS inv_prob
FROM d WHERE u < w
"""


# ---------------------------------------------------------------------------
# A16: seasonal baseline + exact-integer anomaly flag
# ---------------------------------------------------------------------------


def q_a16_seasonal_baseline(spark: SparkSession, sf: str) -> DataFrame:
    """A16: seasonal-baseline anomaly screen — the mean event value per
    (event_type, hour-of-day) cell is the baseline; an event is anomalous
    when its value exceeds twice its cell's baseline.  The comparison is
    EXACT integer arithmetic (``v_cents * n > 2 * sum_cents`` — the
    baseline division never happens on the decision path), so the flag
    cannot flip on a float ulp; the reported baseline itself is the one
    trailing IEEE division the catalog convention allows.

    Plan shape: one map-side-combinable aggregation onto at most
    |types| × 24 cells, broadcast back onto the stream — the standing
    profile-then-screen pattern for telemetry at 100 TB (no window, no
    second shuffle; hour-of-day via calendar arithmetic on TIMESTAMP_NTZ,
    timezone-independent).
    """
    ev = load_table(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.hour("ts").cast("int").alias("hod"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v_cents"),
    )
    cells = ev.groupBy("event_type", "hod").agg(
        F.sum("v_cents").cast("long").alias("sum_cents"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return ev.join(F.broadcast(cells), ["event_type", "hod"]).select(
        "event_id",
        "event_type",
        "hod",
        (F.col("v_cents") / 100).alias("value_usd"),
        (F.col("sum_cents") / F.lit(100.0) / F.col("n")).alias("baseline_usd"),
        (F.col("v_cents") * F.col("n") > 2 * F.col("sum_cents")).alias("is_anomaly"),
    )


O_A16_SEASONAL = """
WITH ev AS (
  SELECT event_id, event_type, CAST(hour(ts) AS INTEGER) AS hod,
         CAST(round(value * 100) AS BIGINT) AS v_cents
  FROM events
), cells AS (
  SELECT event_type, hod, CAST(sum(v_cents) AS BIGINT) AS sum_cents,
         CAST(count(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2
)
SELECT ev.event_id, ev.event_type, ev.hod,
       ev.v_cents / 100 AS value_usd,
       CAST(c.sum_cents AS DOUBLE) / 100.0 / c.n AS baseline_usd,
       ev.v_cents * c.n > 2 * c.sum_cents AS is_anomaly
FROM ev JOIN cells c ON c.event_type = ev.event_type AND c.hod = ev.hod
"""


# ---------------------------------------------------------------------------
# W20: time-weighted average (TWAP) per user-day
# ---------------------------------------------------------------------------

_DAY_END_US = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
    "date_trunc('DAY', ts) + INTERVAL 1 DAY)"
)


def q_w20_twap(spark: SparkSession, sf: str) -> DataFrame:
    """W20: time-weighted average value per (user, day) — each
    observation holds until the next one (last of the day holds to
    midnight), so the mean is duration-weighted, the TWAP/TWA shape a
    plain ``avg`` gets wrong whenever sampling is irregular.  Weights
    are exact epoch-microsecond spans and values exact cents; the
    numerator/denominator stay integer until ONE IEEE division
    (``sum(v*dur) / (sum(dur)*100)``), so the result hash-matches the
    oracle bit-for-bit.

    Plan shape: one window pass (lead over the (user, day) partition,
    total order ``(ts_us, event_id)``) sharing its shuffle with the
    following aggregation — two operators, one exchange, linear state.
    """
    ev = load_table(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.date_format(F.date_trunc("DAY", F.col("ts")), "yyyy-MM-dd").alias("day"),
        F.expr(_TS_US).alias("ts_us"),
        F.expr(_DAY_END_US).alias("day_end_us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v_cents"),
    )
    w = W.partitionBy("user_id", "day").orderBy("ts_us", "event_id")
    dur = F.coalesce(F.lead("ts_us").over(w), F.col("day_end_us")) - F.col("ts_us")
    return (
        ev.select("user_id", "day", "v_cents", dur.alias("dur_us"))
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum(F.col("v_cents") * F.col("dur_us")).cast("long").alias("num"),
            F.sum("dur_us").cast("long").alias("den"),
        )
        .select(
            "user_id",
            "day",
            "n_obs",
            (F.col("num").cast("double") / (F.col("den") * 100).cast("double")).alias(
                "twap_usd"
            ),
        )
    )


O_W20_TWAP = """
WITH ev AS (
  SELECT user_id, event_id,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         epoch_us(ts) AS ts_us,
         epoch_us(date_trunc('day', ts) + INTERVAL 1 DAY) AS day_end_us,
         CAST(round(value * 100) AS BIGINT) AS v_cents
  FROM events
), spans AS (
  SELECT user_id, day, v_cents,
         coalesce(lead(ts_us) OVER (PARTITION BY user_id, day
                                    ORDER BY ts_us, event_id), day_end_us)
           - ts_us AS dur_us
  FROM ev
)
SELECT user_id, day, CAST(count(*) AS BIGINT) AS n_obs,
       CAST(sum(v_cents * dur_us) AS DOUBLE)
         / CAST(sum(dur_us) * 100 AS DOUBLE) AS twap_usd
FROM spans GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# W21: windowed funnel conversion (click -> purchase within 1 hour)
# ---------------------------------------------------------------------------

_CONV_WINDOW_US = 3_600_000_000


def q_w21_funnel_window(spark: SparkSession, sf: str) -> DataFrame:
    """W21: per-click conversion — did the SAME user purchase within one
    hour after the click?  The timeout-constrained refinement of w10's
    unordered funnel: order matters (purchase strictly after the click
    in the ``(ts_us, event_id)`` total order) and the delay is bounded.
    One forward window pass (``first purchase IGNORE NULLS`` over the
    1-FOLLOWING..UNBOUNDED frame) on the user partition — never a
    time-range self-join, so candidate volume is linear, the 100 TB
    plan for sessionized attribution.
    """
    ev = load_table(spark, sf, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    ev = ev.select(
        "event_id", "user_id", "event_type", F.expr(_TS_US).alias("ts_us")
    )
    is_p = F.col("event_type") == "purchase"
    # "first purchase strictly after" as a GROWING frame: descending
    # order, frame ending one row before current (the strictness), so
    # Spark evaluates it incrementally instead of rescanning the
    # partition tail per row (see j15's frame note)
    wf = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts_us").desc(), F.col("event_id").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cand = ev.select(
        "*",
        F.last(F.when(is_p, F.col("ts_us")), ignorenulls=True).over(wf).alias("p_ts"),
        F.last(F.when(is_p, F.col("event_id")), ignorenulls=True).over(wf).alias("p_id"),
    ).filter(F.col("event_type") == "click")
    converted = F.col("p_ts").isNotNull() & (
        F.col("p_ts") - F.col("ts_us") <= _CONV_WINDOW_US
    )
    return cand.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        converted.alias("converted"),
        F.when(converted, F.col("p_id")).alias("purchase_id"),
        F.when(converted, F.col("p_ts") - F.col("ts_us")).cast("long").alias("delay_us"),
    )


O_W21_FUNNEL_WINDOW = f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
  FROM events WHERE event_type IN ('click', 'purchase')
), cand AS (
  SELECT *,
         first(CASE WHEN event_type = 'purchase' THEN ts_us END IGNORE NULLS)
           OVER wf AS p_ts,
         first(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
           OVER wf AS p_id
  FROM ev
  WINDOW wf AS (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT event_id AS click_id, user_id,
       p_ts IS NOT NULL AND p_ts - ts_us <= {_CONV_WINDOW_US} AS converted,
       CASE WHEN p_ts IS NOT NULL AND p_ts - ts_us <= {_CONV_WINDOW_US}
            THEN p_id END AS purchase_id,
       CAST(CASE WHEN p_ts IS NOT NULL AND p_ts - ts_us <= {_CONV_WINDOW_US}
                 THEN p_ts - ts_us END AS BIGINT) AS delay_us
FROM cand WHERE event_type = 'click'
"""


# ---------------------------------------------------------------------------
# A17: exact per-group mode (deterministic tiebreak)
# ---------------------------------------------------------------------------


def q_a17_mode(spark: SparkSession, sf: str) -> DataFrame:
    """A17: exact statistical mode of the order quantity per
    (returnflag, linestatus) group, with a TOTAL tiebreak (higher count
    wins, then smaller value) — the categorical companion of u3's exact
    median and the fill value a mode-imputation step (p_impute uses the
    median flavor) would take.

    Plan shape: value-counts aggregation (map-side combinable, keyed by
    group × value — bounded by value cardinality, 50 here), then a
    1-row-per-group window over that tiny table.  The heavy shuffle is
    the first one; the window runs on |groups × values| rows, never on
    the fact table.
    """
    li = load_table(spark, sf, "lineitem")
    counts = li.groupBy(
        "l_returnflag", "l_linestatus", F.col("l_quantity").cast("long").alias("qty")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = W.partitionBy("l_returnflag", "l_linestatus").orderBy(
        F.col("n").desc(), F.col("qty").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("qty").alias("mode_qty"),
            F.col("n").alias("n_mode"),
        )
    )


O_A17_MODE = """
WITH counts AS (
  SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS qty,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2, 3
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY l_returnflag, l_linestatus
                               ORDER BY n DESC, qty ASC) AS rn
  FROM counts
)
SELECT l_returnflag, l_linestatus, qty AS mode_qty, n AS n_mode
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# P: group-median imputation of deterministically-masked missing values
# ---------------------------------------------------------------------------


def q_p_impute(spark: SparkSession, sf: str) -> DataFrame:
    """P: missing-value imputation by group statistic — the standard ML
    preprocessing step.  A deterministic 10% of quantities are treated
    as missing (salted content hash of the row key, so the oracle masks
    the identical rows), and each hole is filled with the EXACT median
    of its (returnflag, linestatus) group's observed values — integers,
    so the only possible fraction is the dyadic half an even count
    yields, bit-identical in both engines.

    Plan shape: one grouped exact-percentile agg over the observed rows
    (tiny result: one row per group), broadcast back onto the fact scan.
    No window over the fact table, no second shuffle of the data.
    """
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("imp1:"),
                    F.col("l_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    li = li.withColumn("is_missing", h % 10 == 0)
    med = (
        li.filter(~F.col("is_missing"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.expr("percentile(qty, 0.5)").alias("group_median"))
    )
    return li.join(F.broadcast(med), ["l_returnflag", "l_linestatus"]).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
        "is_missing",
        F.when(F.col("is_missing"), F.col("group_median"))
        .otherwise(F.col("qty").cast("double"))
        .alias("qty_filled"),
    )


O_P_IMPUTE = """
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(('0x' || substr(md5('imp1:' || CAST(l_orderkey AS VARCHAR) || ':'
                                   || CAST(l_linenumber AS VARCHAR)), 1, 15))
              AS BIGINT) % 10 = 0 AS is_missing
  FROM lineitem
), med AS (
  SELECT l_returnflag, l_linestatus, median(qty) AS group_median
  FROM li WHERE NOT is_missing GROUP BY 1, 2
)
SELECT li.l_orderkey, li.l_linenumber, li.l_returnflag, li.l_linestatus,
       li.is_missing,
       CASE WHEN li.is_missing THEN m.group_median
            ELSE CAST(li.qty AS DOUBLE) END AS qty_filled
FROM li JOIN med m
  ON m.l_returnflag = li.l_returnflag AND m.l_linestatus = li.l_linestatus
"""


# ---------------------------------------------------------------------------
# E2b/E3b: multiset EXCEPT ALL / INTERSECT ALL
# ---------------------------------------------------------------------------


def _custkey_bags(spark: SparkSession, sf: str):
    o = load_table(spark, sf, "orders")
    a = o.filter(F.year("o_orderdate") <= 1995).select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a, b


def q_e2b_except_all(spark: SparkSession, sf: str) -> DataFrame:
    """E2b: bag difference (EXCEPT ALL) of two customer-key multisets —
    each key survives ``max(count_a - count_b, 0)`` times, the
    multiplicity semantics the set-based e2 cannot express (dedup
    pipelines use it to subtract a processed batch from a backlog WITH
    duplicate accounting).  Spark's native ``exceptAll`` rewrite is
    aggregation-based (sum of +1/-1 tags, then replicate) — no window,
    no join explosion; one shuffle on the value."""
    a, b = _custkey_bags(spark, sf)
    return a.exceptAll(b)


O_E2B_EXCEPT_ALL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) <= 1995
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


def q_e3b_intersect_all(spark: SparkSession, sf: str) -> DataFrame:
    """E3b: bag intersection (INTERSECT ALL) of the same two multisets —
    each key kept ``min(count_a, count_b)`` times.  Same
    aggregation-based rewrite posture as e2b."""
    a, b = _custkey_bags(spark, sf)
    return a.intersectAll(b)


O_E3B_INTERSECT_ALL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) <= 1995
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


# ---------------------------------------------------------------------------
# A18: exact Gini coefficient per group
# ---------------------------------------------------------------------------


def q_a18_gini(spark: SparkSession, sf: str) -> DataFrame:
    """A18: Gini concentration coefficient of order value per priority
    class — the standard inequality measure, computed by the
    rank-weighted formula ``G = (2*Σ(i*x_i) - (n+1)*Σx) / (n*Σx)`` over
    the ascending sort.  Every term is an exact integer (cents × ranks);
    ties contribute identically under any tie order, so the arbitrary
    ``row_number`` tiebreak cannot change the sum and ONE final IEEE
    division makes the result bit-identical cross-engine.

    Plan shape: one window (rank within the group) + one aggregation
    sharing the same hash partition on the group key — the sort is the
    unavoidable cost of any exact order statistic; no broadcast, no
    second shuffle.
    """
    o = load_table(spark, sf, "orders").select(
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("cents").asc(), F.col("o_orderkey").asc()
    )
    ranked = o.select(
        "o_orderpriority", "cents", F.row_number().over(w).cast("long").alias("i")
    )
    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sx"),
            F.sum(F.col("i") * F.col("cents")).cast("long").alias("six"),
        )
        .select(
            "o_orderpriority",
            "n",
            (
                (2 * F.col("six") - (F.col("n") + 1) * F.col("sx")).cast("double")
                / (F.col("n") * F.col("sx")).cast("double")
            ).alias("gini"),
        )
    )


O_A18_GINI = """
WITH ranked AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(row_number() OVER (PARTITION BY o_orderpriority
                                 ORDER BY round(o_totalprice * 100), o_orderkey)
              AS BIGINT) AS i
  FROM orders
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(2 * sum(i * cents) - (count(*) + 1) * sum(cents) AS DOUBLE)
         / CAST(count(*) * sum(cents) AS DOUBLE) AS gini
FROM ranked GROUP BY 1
"""


# ---------------------------------------------------------------------------
# W22: first-order Markov transition matrix over event sequences
# ---------------------------------------------------------------------------


def q_w22_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """W22: event-type transition matrix — for every ordered pair of
    consecutive events of the same user, count (prev_type → type) and
    report each transition's probability among the source type's
    outgoing transitions.  The first-order Markov/clickstream summary;
    probability = exact integer ratio with ONE division.

    Plan shape: one lag window on the user partition (total order
    ``(ts_us, event_id)``), then an aggregation onto at most
    |types|² = 25 cells — map-side combinable, broadcast row-total join.
    """
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", F.expr(_TS_US).alias("ts_us"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"), "event_type"
    ).filter(F.col("prev_type").isNotNull())
    cells = pairs.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    totals = cells.groupBy("prev_type").agg(F.sum("n").cast("long").alias("out_n"))
    return cells.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        F.col("event_type").alias("next_type"),
        "n",
        (F.col("n").cast("double") / F.col("out_n").cast("double")).alias("prob"),
    )


O_W22_TRANSITIONS = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events
), pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS prev_type,
         event_type
  FROM ev
), cells AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2
), totals AS (
  SELECT prev_type, CAST(sum(n) AS BIGINT) AS out_n FROM cells GROUP BY 1
)
SELECT c.prev_type, c.event_type AS next_type, c.n,
       CAST(c.n AS DOUBLE) / CAST(t.out_n AS DOUBLE) AS prob
FROM cells c JOIN totals t ON t.prev_type = c.prev_type
"""


# ---------------------------------------------------------------------------
# O7: diversified top-k (global top with a per-group cap)
# ---------------------------------------------------------------------------


def q_o7_diversified_topk(spark: SparkSession, sf: str) -> DataFrame:
    """O7: global top-20 line items by extended price, subject to a
    diversity cap of at most 3 per supplier — the search/recommendation
    "no single source dominates the page" constraint.  Two
    ``row_number`` passes over the SAME total order (price desc, then
    the row key): within-supplier rank filters to ≤3, then the global
    rank takes 20.

    Plan shape at scale: the per-supplier window is one hash shuffle;
    the global cut is ``orderBy().limit(20)`` — TakeOrderedAndProject,
    a distributed per-partition top-k merged on the driver, never a
    full global sort.  The rank COLUMN is then minted over the ≤20
    survivors by the same broadcast inequality-join trick as w6
    (count of strictly-earlier keys + 1): a
    ``row_number().over(Window.orderBy(...))`` — even over 20 rows —
    is an unpartitioned WindowExec, the single-task funnel the
    catalog-wide plan gate forbids.
    """
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    order = [
        F.col("cents").desc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
        F.col("l_suppkey").asc(),
    ]
    per_supp = W.partitionBy("l_suppkey").orderBy(*order)
    capped = li.withColumn("supp_rank", F.row_number().over(per_supp).cast("int")).filter(
        F.col("supp_rank") <= 3
    )
    # global cut over the survivors: TakeOrderedAndProject (per-partition
    # top-20, merged once) — no global sort, no global window
    top = capped.orderBy(*order).limit(20)
    # rank = 1 + |strictly-earlier keys|, via a broadcast inequality
    # self-join over the <=20 survivors.  The sort key is made ascending
    # (-cents) so Spark's lexicographic struct comparison IS the total
    # order; the key is unique (contains the row key), so the regroup
    # is lossless.
    key = F.struct(
        (-F.col("cents")).alias("k0"),
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").alias("k2"),
        F.col("l_suppkey").alias("k3"),
    )
    t = top.withColumn("_key", key)
    earlier = t.select(F.col("_key").alias("_key2"))
    return (
        t.join(F.broadcast(earlier), F.col("_key2") < F.col("_key"), "left")
        .groupBy("_key", "l_orderkey", "l_linenumber", "l_suppkey", "cents", "supp_rank")
        .agg((F.count("_key2") + 1).cast("int").alias("rank"))
        .select(
            "rank",
            "l_orderkey",
            "l_linenumber",
            "l_suppkey",
            (F.col("cents") / 100).alias("price_usd"),
            "supp_rank",
        )
    )


O_O7_DIVERSIFIED_TOPK = """
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_suppkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), capped AS (
  SELECT *,
         CAST(row_number() OVER (PARTITION BY l_suppkey
               ORDER BY cents DESC, l_orderkey, l_linenumber, l_suppkey)
              AS INTEGER) AS supp_rank
  FROM li
  QUALIFY supp_rank <= 3
)
SELECT CAST(row_number() OVER (ORDER BY cents DESC, l_orderkey, l_linenumber, l_suppkey)
            AS INTEGER) AS rank,
       l_orderkey, l_linenumber, l_suppkey,
       cents / 100 AS price_usd, supp_rank
FROM capped
QUALIFY rank <= 20
"""


# ---------------------------------------------------------------------------
# H1: hierarchy (materialized-path) subtree rollup
# ---------------------------------------------------------------------------

_H_DEPTH = 7  # user_id < 10^7 in every SF => at most 7 ancestor levels


def q_h1_hierarchy_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """H1: subtree rollup over an implicit decimal hierarchy —
    ``parent(u) = u DIV 10`` turns user ids into a forest (root 0);
    for every ancestor node, the total event count and value of its
    ENTIRE subtree.  The scalable plan is the materialized-path trick:
    each leaf EXPLODES its (bounded-depth) ancestor chain in closed form
    — ``u, u/10, u/100, …`` — and one aggregation groups by ancestor.
    No iteration, no recursive joins, no driver loops: depth is bounded
    by the key domain (7 decimal levels here), so the fan-out is a
    constant factor, the 100 TB answer to a recursive CTE.  The oracle
    IS a recursive CTE — DuckDB walks edges upward and must agree with
    the closed form exactly.
    """
    ev = load_table(spark, sf, "events").select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v_cents"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_cents").cast("long").alias("v"),
    )
    anc = F.explode(
        F.array_distinct(
            F.array(
                *[
                    F.expr(f"user_id div {10 ** k}").cast("long")
                    for k in range(_H_DEPTH + 1)
                ]
            )
        )
    ).alias("node")
    return (
        per_user.select(anc, "n", "v")
        .groupBy("node")
        .agg(
            F.sum("n").cast("long").alias("subtree_events"),
            F.count(F.lit(1)).cast("long").alias("subtree_leaves"),
            (F.sum("v").cast("double") / 100).alias("subtree_value_usd"),
        )
    )


O_H1_HIERARCHY = f"""
WITH RECURSIVE per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1
), walk AS (
  SELECT user_id AS leaf, user_id AS node, n, v, 0 AS depth FROM per_user
  UNION ALL
  SELECT leaf, node // 10, n, v, depth + 1
  FROM walk WHERE node > 0 AND depth < {_H_DEPTH}
), dedup AS (
  SELECT DISTINCT leaf, node, n, v FROM walk
)
SELECT node, CAST(sum(n) AS BIGINT) AS subtree_events,
       CAST(count(*) AS BIGINT) AS subtree_leaves,
       CAST(sum(v) AS DOUBLE) / 100 AS subtree_value_usd
FROM dedup GROUP BY 1
"""


# ---------------------------------------------------------------------------
# W25: gaps-and-islands — longest consecutive-day streak per user
# ---------------------------------------------------------------------------


def q_w25_streaks(spark: SparkSession, sf: str) -> DataFrame:
    """W25: longest consecutive-day activity streak per user — the
    canonical gaps-and-islands problem, solved with the rank-difference
    trick: over each user's DISTINCT active days in order,
    ``day - row_number`` is constant exactly within a run of
    consecutive days, so one window + one aggregation find every
    island without self-joins or iteration.

    Plan shape at scale: one shuffle for the (user, day) distinct, one
    for the per-user window; both island and per-user aggregations
    reuse the window's hash partitioning on user_id (their keys are
    supersets), so nothing reshuffles after the sort.  All-integer
    output.
    """
    ev = load_table(spark, sf, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    islands = days.select(
        "user_id",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("_anchor"),
    )
    streaks = islands.groupBy("user_id", "_anchor").agg(
        F.count(F.lit(1)).cast("long").alias("_len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("_len").cast("long").alias("longest_streak"),
        F.sum("_len").cast("long").alias("active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
    )


O_W25_STREAKS = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), islands AS (
  SELECT user_id,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS anchor
  FROM days
), streaks AS (
  SELECT user_id, anchor, CAST(count(*) AS BIGINT) AS len
  FROM islands GROUP BY 1, 2
)
SELECT user_id,
       CAST(max(len) AS BIGINT) AS longest_streak,
       CAST(sum(len) AS BIGINT) AS active_days,
       CAST(count(*) AS BIGINT) AS n_streaks
FROM streaks GROUP BY 1
"""


# ---------------------------------------------------------------------------
# P-BENFORD: first-digit distribution audit (Benford profile)
# ---------------------------------------------------------------------------


def q_p_benford(spark: SparkSession, sf: str) -> DataFrame:
    """P: Benford first-digit profile of order totals per priority
    class — the fraud/data-quality screen: natural multi-magnitude
    amounts follow log10(1+1/d), fabricated or truncated ones don't.
    The query emits the observed profile (digit, count, share) per
    group; the judgment threshold is left to the consumer because the
    expected shares are irrational constants and baking them in would
    put transcendental floats on the comparison path.

    First digit is taken from the integer-cent string (x100 never
    changes the leading significant digit of a positive amount), so
    the whole profile is integer until the single share division.
    One aggregation plus a window over the tiny per-group digit table
    (partitioned by group — never a global funnel).
    """
    o = load_table(spark, sf, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    digits = o.select(
        "o_orderpriority",
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"),
    ).filter(F.col("digit") > 0)
    counts = digits.groupBy("o_orderpriority", "digit").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wg = W.partitionBy("o_orderpriority")
    return counts.select(
        "o_orderpriority",
        "digit",
        "cnt",
        (F.col("cnt").cast("double") / F.sum("cnt").over(wg)).alias("share"),
    )


O_P_BENFORD = """
WITH digits AS (
  SELECT o_orderpriority,
         CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS INTEGER) AS digit
  FROM orders
  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
), counts AS (
  SELECT o_orderpriority, digit, CAST(count(*) AS BIGINT) AS cnt
  FROM digits GROUP BY 1, 2
)
SELECT o_orderpriority, digit, cnt,
       CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY o_orderpriority) AS share
FROM counts
"""


# ---------------------------------------------------------------------------
# P-KANON: k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------

_KANON_K = 5


def q_p_kanon(spark: SparkSession, sf: str) -> DataFrame:
    """P: k-anonymity audit — group orders by their quasi-identifier
    tuple (priority, status, order year) and flag every equivalence
    class smaller than k=5: those rows are re-identifiable and a
    release pipeline must suppress or generalize them.  The standard
    privacy pre-release gate (Sweeney '02), as one exact aggregation.

    Plan shape at scale: a single hash aggregation on the QI tuple —
    map-side combinable, bounded by QI-domain cardinality, zero joins,
    zero windows.
    """
    o = load_table(spark, sf, "orders")
    return (
        o.groupBy(
            "o_orderpriority",
            "o_orderstatus",
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
        .withColumn("suppress", F.col("class_size") < _KANON_K)
    )


O_P_KANON = f"""
SELECT o_orderpriority, o_orderstatus,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(count(*) AS BIGINT) AS class_size,
       count(*) < {_KANON_K} AS suppress
FROM orders GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# W26: period-over-period (month-over-month revenue per nation)
# ---------------------------------------------------------------------------


def q_w26_period_over_period(spark: SparkSession, sf: str) -> DataFrame:
    """W26: month-over-month revenue change per customer nation — the
    universal reporting query: aggregate to a (nation, month) series,
    then lag within each nation to get the absolute and relative
    change.  Revenue stays in integer cents through the aggregation
    AND the delta; the percent change is the single division
    (bigint/bigint -> double, bit-identical across engines).

    Plan shape at scale: the fact-side aggregation reduces orders to a
    |nations| x |months| series BEFORE any window, so the lag runs over
    a tiny table; customer is joined pre-aggregation on the shuffled
    key (AQE picks broadcast when the dim fits).  ``lag`` needs no
    gap handling here because every (nation, month) cell exists in the
    aggregated series by construction — missing months would need a
    gap-fill first (w17's operator).
    """
    o = load_table(spark, sf, "orders").select(
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    series = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "month")
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
    )
    w = W.partitionBy("c_nationkey").orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return series.select(
        "c_nationkey",
        "month",
        (F.col("rev_cents").cast("double") / 100).alias("revenue_usd"),
        ((F.col("rev_cents") - prev).cast("double") / 100).alias("delta_usd"),
        (
            (F.col("rev_cents") - prev).cast("double") / prev.cast("double")
        ).alias("pct_change"),
    )


O_W26_POP = """
WITH series AS (
  SELECT c_nationkey, strftime(o_orderdate, '%Y-%m') AS month,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT c_nationkey, month,
       CAST(rev_cents AS DOUBLE) / 100 AS revenue_usd,
       CAST(rev_cents - lag(rev_cents) OVER w AS DOUBLE) / 100 AS delta_usd,
       CAST(rev_cents - lag(rev_cents) OVER w AS DOUBLE)
         / CAST(lag(rev_cents) OVER w AS DOUBLE) AS pct_change
FROM series
WINDOW w AS (PARTITION BY c_nationkey ORDER BY month)
"""


# ---------------------------------------------------------------------------
# W27: DAU / trailing-7-day WAU (distinct users over a sliding window)
# ---------------------------------------------------------------------------


def q_w27_dau_wau(spark: SparkSession, sf: str) -> DataFrame:
    """W27: daily active users and trailing-7-day weekly active users —
    the product-metrics staple, and the canonical distinct-over-
    sliding-window problem: WAU(d) = |distinct users active in
    [d-6, d]|, which no partial aggregate can roll up (distinct state
    does not merge across overlapping windows).

    The scalable plan inverts the window: each DISTINCT (user, day)
    row explodes to the <=7 report days it contributes to, a second
    distinct collapses multi-day users within a window, and a plain
    count per report day IS the distinct count — bounded 7x fan-out of
    the (user, day) table, never a range self-join of the fact against
    itself.  Report days are clipped to the observed [min, max] span
    via a broadcast 1-row bounds join — this bounds the REPORT DAY,
    not the window: for the first six report days the trailing window
    extends before the first observed day, so those WAU values cover
    truncated (partial) windows.  The oracle computes the same
    semantics; consumers comparing early-day WAU to later days should
    start at lo+6 if they need full windows only.
    """
    ev = load_table(spark, sf, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    bounds = ud.agg(F.min("d").alias("_lo"), F.max("d").alias("_hi"))
    contrib = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("day"),
        )
        .distinct()
        .join(
            F.broadcast(bounds),
            (F.col("day") >= F.col("_lo")) & (F.col("day") <= F.col("_hi")),
        )
    )
    wau = contrib.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("wau_7d"))
    dau = ud.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    # day goes out as an ISO string, not DateType: pandas round-trips
    # DATE columns asymmetrically (duckdb fetchdf -> Timestamp, Spark
    # toPandas -> datetime.date), so a raw date column hash-mismatches
    # on TYPE with identical values — catalog convention (see w16/w17
    # buckets) is ISO strings for all date/bucket output columns
    return wau.join(dau, "day", "left").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce("dau", F.lit(0).cast("long")).alias("dau"),
        "wau_7d",
    )


O_W27_DAU_WAU = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), bounds AS (
  SELECT min(d) AS lo, max(d) AS hi FROM ud
), contrib AS (
  SELECT DISTINCT user_id, d + CAST(i AS INTEGER) AS day
  FROM ud, range(7) t(i)
), wau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS wau_7d
  FROM contrib, bounds WHERE day BETWEEN lo AND hi GROUP BY 1
), dau AS (
  SELECT d AS day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1
)
SELECT strftime(wau.day, '%Y-%m-%d') AS day,
       CAST(coalesce(dau.dau, 0) AS BIGINT) AS dau, wau.wau_7d
FROM wau LEFT JOIN dau USING (day)
"""


# ---------------------------------------------------------------------------
# W27b: sliding-window WAU from merged daily HLL sketches
# ---------------------------------------------------------------------------


def q_w27b_wau_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """W27b: trailing-7-day WAU from MERGED DAILY HLL SKETCHES — the
    scale companion to w27.  w27's exact inversion fans out the
    (user, day) table by the window length; at a 90-day window on
    billions of users that multiplier lands on the biggest table in
    the plan.  Sketches move the fan-out to the |days|-row sketch
    table instead: one daily ``hll_sketch_agg`` pass touches raw data,
    then each day's FIXED-SIZE sketch explodes to the report days it
    covers and ``hll_union_agg`` merges per report day — window length
    now multiplies kilobytes, not users.  Same contract oracle as
    a9: the exact WAU (w27's plan) is hash-checked and a boolean pins
    the sketch estimate within 5% (lgK=12 => rse ~1.6%).
    """
    ev = load_table(spark, sf, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    bounds = ud.agg(F.min("d").alias("_lo"), F.max("d").alias("_hi"))
    daily_sk = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("_sk")
    )
    sk_contrib = daily_sk.select(
        F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("day"), "_sk"
    ).join(
        F.broadcast(bounds),
        (F.col("day") >= F.col("_lo")) & (F.col("day") <= F.col("_hi")),
    )
    est = sk_contrib.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est")
    )
    exact = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("day"),
        )
        .distinct()
        .join(
            F.broadcast(bounds),
            (F.col("day") >= F.col("_lo")) & (F.col("day") <= F.col("_hi")),
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_wau_7d"))
    )
    return exact.join(est, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "exact_wau_7d",
        (
            F.abs(F.col("_est").cast("double") - F.col("exact_wau_7d"))
            / F.col("exact_wau_7d")
            <= F.lit(0.05)
        ).alias("sketch_ok"),
    )


O_W27B_WAU_SKETCH = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), bounds AS (
  SELECT min(d) AS lo, max(d) AS hi FROM ud
), contrib AS (
  SELECT DISTINCT user_id, d + CAST(i AS INTEGER) AS day
  FROM ud, range(7) t(i)
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS exact_wau_7d,
       TRUE AS sketch_ok
FROM contrib, bounds WHERE day BETWEEN lo AND hi GROUP BY 1
"""


# ---------------------------------------------------------------------------
# A21: exact weighted median per group
# ---------------------------------------------------------------------------


def q_a21_weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    """A21: exact quantity-weighted median of the extended price per
    return flag — the robust-stats companion to w12's unweighted
    percentiles: each value counts with its integer weight, and the
    (lower) weighted median is the smallest value whose cumulative
    weight reaches half the total.  All comparisons are integer
    (``2*cumw >= tot`` avoids the half-weight division); the single
    division is the final cents->dollars display cast.

    Plan shape at scale: values pre-aggregated per (group, value) —
    the window then runs over distinct values, not raw rows, and both
    windows plus the final aggregation share one hash partition on the
    group key.
    """
    li = load_table(spark, sf, "lineitem")
    v = li.groupBy(
        F.col("l_returnflag").alias("group_key"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("val"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
    wc = W.partitionBy("group_key").orderBy("val")
    wt = W.partitionBy("group_key")
    c = v.select(
        "group_key",
        "val",
        F.sum("w").over(wc).alias("cumw"),
        F.sum("w").over(wt).alias("tot"),
    )
    return c.groupBy("group_key").agg(
        (
            F.min(F.when(F.lit(2) * F.col("cumw") >= F.col("tot"), F.col("val")))
            .cast("double")
            / 100
        ).alias("wmedian_usd"),
        F.max("tot").cast("long").alias("total_weight"),
    )


O_A21_WEIGHTED_MEDIAN = """
WITH v AS (
  SELECT l_returnflag AS group_key,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS val,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT group_key, val,
         sum(w) OVER (PARTITION BY group_key ORDER BY val) AS cumw,
         sum(w) OVER (PARTITION BY group_key) AS tot
  FROM v
)
SELECT group_key,
       CAST(min(CASE WHEN 2 * cumw >= tot THEN val END) AS DOUBLE) / 100
         AS wmedian_usd,
       CAST(max(tot) AS BIGINT) AS total_weight
FROM c GROUP BY 1
"""


REGISTRY = {
    "j15_nearest_event_join": (q_j15_nearest_event_join, O_J15_NEAREST),
    "a15_countmin": (q_a15_countmin, O_A15_CMS),
    "w19_rolling_median": (q_w19_rolling_median, O_W19_ROLLING_MEDIAN),
    "p_fk_audit": (q_p_fk_audit, O_P_FK_AUDIT),
    "j17_snapshot_diff": (q_j17_snapshot_diff, O_J17_SNAPSHOT_DIFF),
    "p_weighted_sample": (q_p_weighted_sample, O_P_WEIGHTED_SAMPLE),
    "a16_seasonal_baseline": (q_a16_seasonal_baseline, O_A16_SEASONAL),
    "w20_twap": (q_w20_twap, O_W20_TWAP),
    "w21_funnel_window": (q_w21_funnel_window, O_W21_FUNNEL_WINDOW),
    "a17_mode": (q_a17_mode, O_A17_MODE),
    "p_impute": (q_p_impute, O_P_IMPUTE),
    "e2b_except_all": (q_e2b_except_all, O_E2B_EXCEPT_ALL),
    "e3b_intersect_all": (q_e3b_intersect_all, O_E3B_INTERSECT_ALL),
    "a18_gini": (q_a18_gini, O_A18_GINI),
    "w22_transition_matrix": (q_w22_transition_matrix, O_W22_TRANSITIONS),
    "o7_diversified_topk": (q_o7_diversified_topk, O_O7_DIVERSIFIED_TOPK),
    "h1_hierarchy_rollup": (q_h1_hierarchy_rollup, O_H1_HIERARCHY),
    "w25_streaks": (q_w25_streaks, O_W25_STREAKS),
    "p_benford": (q_p_benford, O_P_BENFORD),
    "p_kanon": (q_p_kanon, O_P_KANON),
    "w26_period_over_period": (q_w26_period_over_period, O_W26_POP),
    "w27_dau_wau": (q_w27_dau_wau, O_W27_DAU_WAU),
    "w27b_wau_sketch": (q_w27b_wau_sketch, O_W27B_WAU_SKETCH),
    "a21_weighted_median": (q_a21_weighted_median, O_A21_WEIGHTED_MEDIAN),
}
