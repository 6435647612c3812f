"""Round-8 catalog: three classic analytics shapes absent until now —
life-table survival (Kaplan-Meier with administrative censoring),
two-sample Kolmogorov-Smirnov drift detection and Zipf-law exponent
fit — plus the linear SemDeDup form (auto-k, LSH-pruned assignment).

Same contract as ``plans.catalog``: every query has a DuckDB oracle in
this module's ``REGISTRY``.  Determinism discipline follows the catalog
conventions: exact integer arithmetic end-to-end with one trailing IEEE
division per float output (w12/a25 lesson); where a genuinely
transcendental input is unavoidable (Zipf's logs) it is snapped to
fixed-point integers immediately so every downstream sum/product is
exact.

Reference parity: the reference repo (populate_db_ru_v1.py) has no
survival/drift/Zipf path — this module extends the engine's
analytics surface beyond the reference (SURVEY.md §2 additions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.tables import load_table

# ---------------------------------------------------------------------------
# W34: life-table survival curve (Kaplan-Meier, administrative censoring)
# ---------------------------------------------------------------------------

_W34_CHURN_GAP_DAYS = 7  # inactive for the final week of observation => churned


def q_w34_survival_curve(spark: SparkSession, sf: str) -> DataFrame:
    """W34: user-churn SURVIVAL CURVE — the Kaplan-Meier product-limit
    life table (Kaplan & Meier '58), the classic retention/churn-risk
    analytics shape (time-to-event with right censoring).  A user is
    *churned* when their last event precedes the end of observation by
    more than ``_W34_CHURN_GAP_DAYS``; otherwise they are *censored* at
    the observation end (still alive).  Duration = days from the user's
    first event to their churn (or censoring) point; the life table
    gives, per duration day t: n_at_risk, churn events d_t, censorings
    c_t, hazard d_t/n_t, and KM survival S(t) = prod_{i<=t}(1-d_i/n_i).

    Cross-engine exactness: S(t) is a cumulative PRODUCT of rationals —
    float product order and exp(sum(log)) both diverge across engines by
    ulps, so the curve is carried as an integer parts-per-million
    recurrence instead: s' = (2*s*(n-d) + n) DIV (2*n) (round-half-up in
    pure integer arithmetic).  Spark replays it with an ``aggregate``
    fold over the date-sorted life table; DuckDB with a recursive CTE —
    bit-identical by construction, no float ever accumulates.

    Scale: the raw scan reduces to one row per user (one shuffle), then
    one row per distinct duration (second shuffle) — the fold runs over
    the AGGREGATED life table, O(distinct days) ~ hundreds of rows in a
    single tiny task, never over raw events.  At 100 TB both shuffles
    are map-side-combinable counts; the observation-end scalar is a
    broadcast, not a collect."""
    ev = load_table(spark, sf, "events").select("user_id", F.to_date("ts").alias("d"))
    obs = ev.agg(F.max("d").alias("obs_end"))
    per_user = ev.groupBy("user_id").agg(
        F.min("d").alias("first_d"), F.max("d").alias("last_d")
    )
    u = (
        per_user.crossJoin(F.broadcast(obs))
        .withColumn(
            "churned", F.datediff("obs_end", "last_d") > _W34_CHURN_GAP_DAYS
        )
        .withColumn(
            "dur",
            F.when(F.col("churned"), F.datediff("last_d", "first_d"))
            .otherwise(F.datediff("obs_end", "first_d"))
            .cast("long"),
        )
    )
    life = u.groupBy("dur").agg(
        F.sum(F.when(F.col("churned"), 1).otherwise(0)).cast("long").alias("d_churn"),
        F.sum(F.when(F.col("churned"), 0).otherwise(1)).cast("long").alias("c_cens"),
    )
    packed = life.agg(
        F.array_sort(F.collect_list(F.struct("dur", "d_churn", "c_cens"))).alias("arr")
    )
    row_t = (
        "STRUCT<day: BIGINT, n_at_risk: BIGINT, n_churned: BIGINT, "
        "n_censored: BIGINT, survival_ppm: BIGINT>"
    )
    folded = packed.select(
        F.explode(
            F.expr(
                f"""
    aggregate(
      arr,
      struct(
        aggregate(arr, CAST(0 AS BIGINT), (a, x) -> a + x.d_churn + x.c_cens) AS n,
        CAST(1000000 AS BIGINT) AS s,
        CAST(array() AS ARRAY<{row_t}>) AS out),
      (acc, x) -> struct(
        acc.n - x.d_churn - x.c_cens AS n,
        (2 * acc.s * (acc.n - x.d_churn) + acc.n) DIV (2 * acc.n) AS s,
        array_append(acc.out, struct(
          x.dur AS day, acc.n AS n_at_risk, x.d_churn AS n_churned,
          x.c_cens AS n_censored,
          (2 * acc.s * (acc.n - x.d_churn) + acc.n) DIV (2 * acc.n) AS survival_ppm
        )) AS out),
      acc -> acc.out)
    """
            )
        ).alias("r")
    ).select("r.*")
    return folded.select(
        "day",
        "n_at_risk",
        "n_churned",
        "n_censored",
        (F.col("n_churned").cast("double") / F.col("n_at_risk")).alias("hazard"),
        "survival_ppm",
        (F.col("survival_ppm").cast("double") / F.lit(1000000)).alias("survival"),
    )


O_W34_SURVIVAL = f"""
WITH RECURSIVE per_user AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_d, max(CAST(ts AS DATE)) AS last_d
  FROM events GROUP BY user_id
), obs AS (SELECT max(CAST(ts AS DATE)) AS obs_end FROM events),
u AS (
  SELECT datediff('day', last_d, obs_end) > {_W34_CHURN_GAP_DAYS} AS churned,
         CASE WHEN datediff('day', last_d, obs_end) > {_W34_CHURN_GAP_DAYS}
              THEN datediff('day', first_d, last_d)
              ELSE datediff('day', first_d, obs_end) END AS dur
  FROM per_user, obs
), life AS (
  SELECT CAST(dur AS BIGINT) AS dur,
         CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d_churn,
         CAST(sum(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT) AS c_cens
  FROM u GROUP BY 1
), idx AS (
  SELECT dur, d_churn, c_cens,
         CAST(row_number() OVER (ORDER BY dur) AS BIGINT) AS rn,
         CAST((SELECT count(*) FROM u) AS BIGINT)
           - CAST(coalesce(sum(d_churn + c_cens) OVER
               (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS n_at_risk
  FROM life
), km AS (
  SELECT rn, dur, n_at_risk, d_churn, c_cens,
         (2 * 1000000 * (n_at_risk - d_churn) + n_at_risk) // (2 * n_at_risk) AS s_ppm
  FROM idx WHERE rn = 1
  UNION ALL
  SELECT i.rn, i.dur, i.n_at_risk, i.d_churn, i.c_cens,
         (2 * km.s_ppm * (i.n_at_risk - i.d_churn) + i.n_at_risk) // (2 * i.n_at_risk)
  FROM km JOIN idx i ON i.rn = km.rn + 1
)
SELECT dur AS day, n_at_risk, d_churn AS n_churned, c_cens AS n_censored,
       CAST(d_churn AS DOUBLE) / n_at_risk AS hazard,
       CAST(s_ppm AS BIGINT) AS survival_ppm,
       CAST(s_ppm AS DOUBLE) / 1000000 AS survival
FROM km
"""


# ---------------------------------------------------------------------------
# P-KS: two-sample Kolmogorov-Smirnov drift detection (data-QA family)
# ---------------------------------------------------------------------------

# KS critical value at alpha=0.05: c = 1.358, compared in squared form so
# no sqrt enters the boolean: D^2 > c^2 * (n1+n2)/(n1*n2).
_KS_C2 = 1.844164  # 1.358 ** 2, exact decimal


def q_p_ks_drift(spark: SparkSession, sf: str) -> DataFrame:
    """P-KS: two-sample Kolmogorov-Smirnov DRIFT DETECTOR — the classic
    data-QA gate for "did this column's distribution shift between two
    periods" (training-data refresh monitoring; Gama '14 survey).  The
    event stream is split into first/second calendar halves at the
    midpoint of the observed date span; per event_type, D = max_x
    |F1(x) - F2(x)| over the empirical CDFs of the (cent-exact) value
    column, with the alpha=0.05 rejection bound.

    Cross-engine exactness: the CDF difference is kept as the INTEGER
    |ca*n2 - cb*n1| (cross-multiplied cumulative counts, the same trick
    as a25's rank selection), maximized as a BIGINT, with exactly one
    trailing IEEE division for D.  The boolean compares doubles built
    from exact integers in a fixed parenthesization, identical on both
    engines.

    Scale: one shuffle to per-(type, value) counts (map-side combine),
    one window exchange on event_type reused by the final aggregation —
    never a sort of raw rows.  Values are bucketed to cents, so the
    cumulative pass is O(distinct cents) per type, not O(rows)."""
    # NULL values are dropped explicitly (r8 ADVICE): a NULL cents group
    # would sort FIRST in Spark's cumulative window but LAST in DuckDB's
    # default NULLS ordering, diverging the running CDF — and a NULL
    # measurement carries no distribution information anyway.
    ev = (
        load_table(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.to_date("ts").alias("d"),
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        )
    )
    span = ev.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    halved = ev.crossJoin(F.broadcast(span)).withColumn(
        "in_first", F.datediff("d", "d0") * 2 < F.datediff("d1", "d0")
    )
    per_val = halved.groupBy("event_type", "cents").agg(
        F.sum(F.when(F.col("in_first"), 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("in_first"), 0).otherwise(1)).cast("long").alias("b"),
    )
    wtype = W.partitionBy("event_type")
    wcum = wtype.orderBy("cents")
    cdf = (
        per_val.withColumn("ca", F.sum("a").over(wcum))
        .withColumn("cb", F.sum("b").over(wcum))
        .withColumn("n1", F.sum("a").over(wtype))
        .withColumn("n2", F.sum("b").over(wtype))
    )
    ks = cdf.groupBy("event_type").agg(
        F.max(F.abs(F.col("ca") * F.col("n2") - F.col("cb") * F.col("n1"))).alias(
            "ks_int"
        ),
        F.max("n1").alias("n_first"),
        F.max("n2").alias("n_second"),
    )
    n1d = F.col("n_first").cast("double")
    n2d = F.col("n_second").cast("double")
    ksd = F.col("ks_int").cast("double")
    # empty-half guard (r8 ADVICE): with n1 or n2 = 0 the statistic is
    # undefined (no distribution to compare) — NULLIF pins ks_stat to
    # NULL and the strict > against a NULL product makes drift NULL on
    # both engines, instead of 0/0-dependent behavior.
    prod = F.nullif(F.col("n_first") * F.col("n_second"), F.lit(0))
    return ks.select(
        "event_type",
        "n_first",
        "n_second",
        (ksd / prod.cast("double")).alias("ks_stat"),
        (
            ksd * ksd
            > (F.lit(_KS_C2) * (F.col("n_first") + F.col("n_second")).cast("double"))
            * prod.cast("double")
        ).alias("drift"),
    )


O_P_KS_DRIFT = f"""
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), span AS (SELECT min(d) AS d0, max(d) AS d1 FROM ev),
halved AS (
  SELECT event_type, cents,
         datediff('day', d0, d) * 2 < datediff('day', d0, d1) AS in_first
  FROM ev, span
), per_val AS (
  SELECT event_type, cents,
         CAST(sum(CASE WHEN in_first THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN in_first THEN 0 ELSE 1 END) AS BIGINT) AS b
  FROM halved GROUP BY 1, 2
), cdf AS (
  SELECT event_type,
         CAST(sum(a) OVER (PARTITION BY event_type ORDER BY cents) AS BIGINT) AS ca,
         CAST(sum(b) OVER (PARTITION BY event_type ORDER BY cents) AS BIGINT) AS cb,
         CAST(sum(a) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
         CAST(sum(b) OVER (PARTITION BY event_type) AS BIGINT) AS n2
  FROM per_val
), ks AS (
  SELECT event_type, max(abs(ca * n2 - cb * n1)) AS ks_int,
         max(n1) AS n_first, max(n2) AS n_second
  FROM cdf GROUP BY event_type
)
SELECT event_type, n_first, n_second,
       CAST(ks_int AS DOUBLE) / CAST(nullif(n_first * n_second, 0) AS DOUBLE) AS ks_stat,
       CAST(ks_int AS DOUBLE) * CAST(ks_int AS DOUBLE)
         > ({_KS_C2} * CAST(n_first + n_second AS DOUBLE))
           * CAST(nullif(n_first * n_second, 0) AS DOUBLE) AS drift
FROM ks
"""


# ---------------------------------------------------------------------------
# T-ZIPF: Zipf-law exponent fit over token frequencies (text family)
# ---------------------------------------------------------------------------

_ZIPF_TOP = 200  # rank cutoff for the log-log fit (the power-law head)
_ZIPF_SCALE = 100_000  # fixed-point scale for log coordinates


def q_t_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    """T-ZIPF: Zipf's-law exponent per corpus shard — OLS slope of
    log(freq) on log(rank) over the top-200 token frequencies, the
    classic corpus-health fingerprint (natural text fits slope ~ -1;
    boilerplate/spam corpora flatten or steepen it — Piantadosi '14).
    Four doc_id%4 shards give a stability read alongside the fit.

    Cross-engine exactness: log(rank) and log(freq) are snapped to
    fixed-point integers (round(ln * 1e5)) IMMEDIATELY, so the OLS
    moment sums are exact BIGINTs and slope/r2 are single divisions of
    exact integers (the a11 discipline).  Residual risk: ln() itself
    could differ by 1 ulp between the JVM and libm AND land within 1e-16
    of a 1e-5 rounding boundary — probability ~1e-8 across the ~1600
    evaluations per run (4 shards x 200 points x 2 logs), documented
    and accepted.  The 1e5 scale (not
    1e6) keeps n*sum(y*y) < 2^63 at sf1 corpus frequencies.

    Scale: tokenize+explode (scan), one shuffle to (shard, token)
    counts, top-200 via a rank window per shard (the per-shard count
    stream is the shuffled aggregate, never raw tokens), one tiny final
    aggregation.  At 100 TB the frequency table is the only large
    intermediate and it is map-side combined."""
    from ..operators import text_analysis as TA

    d = load_table(spark, sf, "documents")
    tok = d.select(
        (F.col("doc_id") % 4).alias("shard"),
        F.explode(TA.tokens(F.lower(F.col("text")))).alias("tok"),
    )
    freq = tok.groupBy("shard", "tok").agg(F.count(F.lit(1)).alias("c"))
    wr = W.partitionBy("shard").orderBy(F.col("c").desc(), F.col("tok").asc())
    top = freq.withColumn("rank", F.row_number().over(wr)).filter(
        F.col("rank") <= _ZIPF_TOP
    )
    pts = top.select(
        "shard",
        F.round(F.log(F.col("rank").cast("double")) * _ZIPF_SCALE)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")) * _ZIPF_SCALE)
        .cast("long")
        .alias("y"),
    )
    s = pts.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # Degenerate guards (r8 ADVICE): den = 0 only for a single-point
    # shard (ranks are distinct); deny = 0 when every top frequency is
    # equal (flat head).  Either way the fit is undefined — pin to NULL
    # on both engines rather than inherit engine-specific 0-division.
    dend = F.when(den != 0, den).otherwise(F.lit(None)).cast("double")
    # guard the FACTORS, multiply as doubles: den*deny as BIGINT would
    # overflow (each moment determinant reaches ~1e16 at sf1)
    denr2 = F.when(
        (den != 0) & (deny != 0), den.cast("double") * deny.cast("double")
    ).otherwise(F.lit(None))
    return s.select(
        "shard",
        F.col("n").alias("n_points"),
        (num.cast("double") / dend).alias("slope"),
        ((num.cast("double") * num.cast("double")) / denr2).alias("r2"),
    )


O_T_ZIPF = f"""
WITH tok AS (
  SELECT doc_id % 4 AS shard,
         unnest(CASE WHEN trim(text) = '' THEN []
                     ELSE string_split_regex(trim(lower(text)), '\\s+') END) AS tok
  FROM documents
), freq AS (
  SELECT shard, tok, count(*) AS c FROM tok GROUP BY 1, 2
), top AS (
  SELECT shard, c,
         row_number() OVER (PARTITION BY shard ORDER BY c DESC, tok ASC) AS rank
  FROM freq QUALIFY rank <= {_ZIPF_TOP}
), pts AS (
  SELECT shard,
         CAST(round(ln(rank) * {_ZIPF_SCALE}) AS BIGINT) AS x,
         CAST(round(ln(c) * {_ZIPF_SCALE}) AS BIGINT) AS y
  FROM top
), s AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pts GROUP BY shard
)
SELECT shard, n AS n_points,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(nullif(n * sxx - sx * sx, 0) AS DOUBLE) AS slope,
       (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
         / (CASE WHEN (n * sxx - sx * sx) != 0 AND (n * syy - sy * sy) != 0
                 THEN CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE) END) AS r2
FROM s
"""


# ---------------------------------------------------------------------------
# M6 dedup: SemDeDup auto-k with LSH-pruned assignment — the linear form
# ---------------------------------------------------------------------------

_SEMLSH_CELL = 24  # same target cell size as d_semantic_dedup_auto


def q_d_semantic_dedup_lshassign(spark: SparkSession, sf: str) -> DataFrame:
    """M6 dedup: SemDeDup with auto-k AND LSH-pruned centroid assignment
    — the configuration where BOTH cost terms are ~linear.  The round-8
    scaling sweep exposed that auto-k alone only moves the quadratic:
    fixed k=16 made the within-cell PAIR term O(n²/k) (17.7× at 10×
    data, r7); auto k=n/cell fixed pairs but made the exact ASSIGNMENT
    term O(n·k)=O(n²/cell) — measured 64.5× at 10× data (r8), worse.
    Here assignment scores each vector only against centroids sharing
    one of its 1+bits multi-probed sign-LSH codes (~(1+bits)·8
    candidates, bits ~ log k), with an exact fallback for probe misses —
    see ``operators/similarity.py::_assign_cells_lsh``.

    Oracle replay: k and bits are deterministic functions of n
    (greatest/least/ceil/log2 in SQL), the 16 seeded hyperplanes embed
    as double literals (repr round-trips each float64), and bucket bits
    come from the sign of the identical sequential-sum projection — so
    DuckDB reproduces the exact candidate sets, fallback set, and
    assignment."""
    from ..operators.similarity import semantic_dedup

    e = load_table(spark, sf, "embeddings")
    return semantic_dedup(
        e,
        n_clusters="auto",
        threshold=0.40,
        n_probe=2,
        target_cell_size=_SEMLSH_CELL,
        assign="lsh",
        dim=64,
    )


def _gen_semantic_lsh_oracle() -> str:
    from ..operators.similarity import (
        _ASSIGN_LSH_CENTS_PER_BUCKET,
        _ASSIGN_LSH_MAX_BITS,
        _ASSIGN_LSH_SEED,
        random_hyperplanes,
    )

    planes = random_hyperplanes(64, _ASSIGN_LSH_MAX_BITS, _ASSIGN_LSH_SEED)
    pl = (
        "["
        + ", ".join(
            "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes
        )
        + "]"
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
kk AS (SELECT greatest(16, count(*) // {_SEMLSH_CELL}) AS k FROM v),
bb AS (SELECT CAST(least({_ASSIGN_LSH_MAX_BITS}, greatest(1,
         ceil(log2(k / {float(_ASSIGN_LSH_CENTS_PER_BUCKET)})))) AS INTEGER) AS bits FROM kk),
pl AS (SELECT CAST({pl} AS DOUBLE[][]) AS planes),
bkt AS (
  SELECT vec_id, ev,
         list_sum(list_transform(range(bits), i ->
           CASE WHEN list_inner_product(ev, planes[CAST(i + 1 AS INTEGER)]) > 0
                THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END)) AS bucket
  FROM v, bb, pl
),
cents AS (SELECT vec_id AS centroid_id, ev AS cv, bucket AS cbkt
          FROM bkt WHERE vec_id < (SELECT k FROM kk)),
probes AS (
  SELECT vec_id, ev,
         unnest(list_prepend(bucket,
           list_transform(range(bits), i -> xor(bucket, CAST(1 AS BIGINT) << i)))) AS code
  FROM bkt, bb
),
cand AS (
  SELECT p.vec_id, p.ev, c.centroid_id, c.cv
  FROM probes p JOIN cents c ON c.cbkt = p.code
),
nocand AS (
  SELECT b.vec_id, b.ev, c.centroid_id, c.cv
  FROM bkt b CROSS JOIN cents c
  WHERE b.vec_id NOT IN (SELECT vec_id FROM cand)
),
allc AS (SELECT * FROM cand UNION ALL SELECT * FROM nocand),
asg AS (
  SELECT vec_id, ev, centroid_id, rn FROM (
    SELECT vec_id, ev, centroid_id,
           row_number() OVER (PARTITION BY vec_id
             ORDER BY round(list_inner_product(ev, cv) / (sqrt(list_inner_product(ev, ev)) * sqrt(list_inner_product(cv, cv))), 6) DESC,
                      centroid_id ASC) AS rn
    FROM allc) WHERE rn <= 2
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


O_D_SEMANTIC_DEDUP_LSHASSIGN = _gen_semantic_lsh_oracle()


REGISTRY = {
    "w34_survival_curve": (q_w34_survival_curve, O_W34_SURVIVAL),
    "p_ks_drift": (q_p_ks_drift, O_P_KS_DRIFT),
    "t_zipf_fit": (q_t_zipf_fit, O_T_ZIPF),
    "d_semantic_dedup_lshassign": (q_d_semantic_dedup_lshassign, O_D_SEMANTIC_DEDUP_LSHASSIGN),
}
