"""Round-4/5 extension catalog: histogramming (equi-width + equi-depth),
skew-salted / interval / fuzzy-blocked joins, canonical-doc selection,
corpus LM scoring, group-wise model fitting, exact heavy hitters, substring-window dedup, and stream-stream join batch twins.

Same contract as ``plans.catalog``: every query has a DuckDB oracle and
the pair is registered in ``catalog.QUERIES`` / ``catalog.ORACLES``.
Cross-engine determinism follows the catalog conventions (exact
decimal/integer arithmetic everywhere, a single IEEE division/cast at
the end; see catalog.py module docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.dedup import portable_hash60, portable_hash60_sql
from ..operators.materialize import materialize
from ..operators import text_analysis as TA
from ..sources.tables import load_table


def _dec(c) -> F.Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# A10: fixed-width histogram
# ---------------------------------------------------------------------------

_HIST_WIDTH = 25_000.0
_HIST_BINS = 20


def q_a10_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """A10: fixed-width histogram of order value per priority class — the
    distribution-profiling agg behind every data-quality dashboard.  The
    bin index is ``least(floor(x / width), n-1)`` computed identically in
    both engines: one IEEE division (deterministic) whose floor can only
    be boundary-exact when x is an exact bin multiple, where the division
    itself is exact.  One shuffle (the groupBy); counts and the exact
    decimal sum make the whole row hash-checkable."""
    o = load_table(spark, sf, "orders")
    bin_idx = F.least(
        F.floor(F.col("o_totalprice") / F.lit(_HIST_WIDTH)).cast("int"),
        F.lit(_HIST_BINS - 1),
    )
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"), bin_idx.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("bin_value"),
        )
        .withColumn("bin_lo", (F.col("bin").cast("double") * _HIST_WIDTH))
    )


O_A10_HISTOGRAM = f"""
SELECT o_orderpriority AS priority,
       least(CAST(floor(o_totalprice / {_HIST_WIDTH}) AS INTEGER), {_HIST_BINS - 1}) AS bin,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bin_value,
       CAST(least(CAST(floor(o_totalprice / {_HIST_WIDTH}) AS INTEGER), {_HIST_BINS - 1}) AS DOUBLE) * {_HIST_WIDTH} AS bin_lo
FROM orders GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# J10: manually salted skew join
# ---------------------------------------------------------------------------

_SALTS = 8


def q_j10_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """J10: large-large join under key skew, de-skewed by SALTING — the
    manual form of what AQE's skew-join split does, needed when AQE can't
    see the skew (streaming micro-batches, non-adaptive engines, or a
    build side too big to split).  The hot side (events: few users, many
    rows each) tags every row with ``salt = pmod(xxhash64(unique_id), S)``;
    the per-user stats side is exploded x``S``; the join key becomes
    ``(user_id, salt)``, spreading each hot user over S reducers.  The
    output is EXACTLY the unsalted join (every fact row matches exactly
    one replica), so the oracle is the plain join — salting is verified
    to be a pure physical rewrite.  Lifetime values stay exact decimal
    through both aggregations; one cast to double at the end."""
    ev = load_table(spark, sf, "events")
    user_stats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("user_events"),
        F.sum(_dec("value")).alias("user_value"),  # decimal(28,2), exact
    )
    salted_dim = user_stats.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(_SALTS)]))
    )
    fact = ev.withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(_SALTS)).cast("int")
    )
    joined = fact.join(salted_dim, ["user_id", "_salt"])
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("user_events").alias("sum_user_events"),
        F.sum("user_value").cast("double").alias("sum_user_value"),
    )


O_J10_SALTED = """
WITH us AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS user_events,
         sum(CAST(value AS DECIMAL(18,2))) AS user_value
  FROM events GROUP BY 1
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(u.user_events) AS BIGINT) AS sum_user_events,
       CAST(sum(u.user_value) AS DOUBLE) AS sum_user_value
FROM events e JOIN us u ON e.user_id = u.user_id
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# D: keep-best canonical selection over near-dup clusters
# ---------------------------------------------------------------------------

def q_d_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical-document selection: after clustering near-dups
    (``d_dedup_clusters``' pipeline), keep the HIGHEST-QUALITY doc per
    cluster instead of the arbitrary min-id — the keep decision real
    curation pipelines make (RefinedWeb keeps longest / highest-score).
    Winner = max ``quality_score`` (already bit-identical cross-engine),
    ties to min doc_id.  Cost over the cluster assignment: one window
    over components — partitioned by cluster id, so state is bounded by
    cluster size at any corpus scale.  The cluster assignment itself is
    the exact-dup-collapsed closure (r10,
    ``operators.dedup.ngram_cluster_assignments``): this query's output
    is per-doc, so the pair join runs at the distinct-text grain —
    bit-identical, and linear where the member-level form was
    replication² (240s -> 4.3s at sf1 on d_dedup_clusters, same
    pipeline)."""
    from ..operators.dedup import ngram_cluster_assignments

    d = load_table(spark, sf, "documents")
    comp = ngram_cluster_assignments(d, "doc_id", "text", k=3, threshold=0.5)
    scored = d.select("doc_id", TA.quality_score(F.col("text")).alias("quality")).join(
        comp, "doc_id"
    )
    w = W.partitionBy("component_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    return scored.select(
        "doc_id",
        "component_id",
        "quality",
        (F.row_number().over(w) == 1).alias("keep"),
    )


# cluster closure replayed exactly as O_D_CLUSTERS; quality exactly as
# O_T_QUALITY — both already hash-verified pipelines, composed.
O_D_KEEP_BEST = """
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
), q AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS w,
         CASE WHEN trim(lower(text)) = '' THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS wl,
         text
  FROM documents
), scored AS (
  SELECT doc_id,
         round((least(CAST(len(w) AS DOUBLE) / 50.0, 1.0)
              + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
                   ELSE CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0, 1.0))
              + least((CASE WHEN len(wl) = 0 THEN 0.0
                   ELSE CAST(len(list_filter(wl, x -> x IN ('the','and','of','to','in'))) AS DOUBLE) / len(wl) END) * 10.0, 1.0)) / 3.0, 4) AS quality
  FROM q
)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS component_id,
       s.quality,
       row_number() OVER (PARTITION BY coalesce(c.component, d.doc_id)
                          ORDER BY s.quality DESC, d.doc_id) = 1 AS keep
FROM documents d
LEFT JOIN comp c ON c.node = d.doc_id
JOIN scored s ON s.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# T: unigram language-model scoring (train on one split, score the other)
# ---------------------------------------------------------------------------

def q_t_unigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level unigram LM quality signal: token frequencies are
    counted on the TRAIN split (content-hash 80%, same arithmetic as
    ``p_hash_split``), then every held-out doc is scored by its mean
    Laplace-smoothed token probability — rare-token/OOV-heavy docs score
    low, the classic cheap fluency proxy (the perplexity-filter shape of
    CCNet/Gopher, with the log replaced by an EXACT rational mean so the
    result is bit-checkable across engines: sum((c_i+1)) and
    n*(T+V) are integers, one IEEE division at the end).

    Plan: tokenize+explode (scan), one shuffle for vocab counts, the
    1-row totals broadcast, vocab broadcast-joined onto held-out tokens
    (vocab outgrows broadcast at 100 TB -> flip to a shuffle join on
    tok; the aggregation shape is unchanged), one shuffle per-doc."""
    d = load_table(spark, sf, "documents")
    docs = d.select(
        "doc_id",
        F.lower(F.col("text")).alias("lt"),
        (portable_hash60(F.col("text")) % 10_000 < 8_000).alias("is_train"),
    )
    tok = docs.select("doc_id", "is_train", F.explode(TA.tokens(F.col("lt"))).alias("tok"))
    vocab = materialize(
        tok.filter("is_train").groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    )
    totals = vocab.agg(
        F.sum("c").cast("long").alias("T"), F.count(F.lit(1)).alias("V")
    )
    scored = (
        tok.filter(~F.col("is_train"))
        .join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
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
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.when(F.col("n_tokens").isNull() | (F.col("n_tokens") == 0), F.lit(0.0))
            .otherwise(
                F.col("num").cast("double")
                / (F.col("n_tokens").cast("long") * (F.col("T") + F.col("V"))).cast("double")
            )
            .alias("mean_laplace_p"),
        )
    )


O_T_UNIGRAM_LM = f"""
WITH docs AS (
  SELECT doc_id,
         CASE WHEN trim(lower(text)) = '' THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS w,
         {portable_hash60_sql('text')} % 10000 < 8000 AS is_train
  FROM documents
), tok AS (
  SELECT doc_id, is_train, unnest(w) AS tok FROM docs
), vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok WHERE is_train GROUP BY 1
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS T, CAST(count(*) AS BIGINT) AS V FROM vocab
), scored AS (
  SELECT t.doc_id,
         CAST(count(*) AS INTEGER) AS n_tokens,
         CAST(count(CASE WHEN v.c IS NULL THEN 1 END) AS INTEGER) AS n_oov,
         CAST(sum(coalesce(v.c, 0) + 1) AS BIGINT) AS num
  FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
  WHERE NOT t.is_train
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(s.n_tokens, 0) AS n_tokens,
       coalesce(s.n_oov, 0) AS n_oov,
       CASE WHEN s.n_tokens IS NULL OR s.n_tokens = 0 THEN 0.0
            ELSE CAST(s.num AS DOUBLE)
                 / CAST(CAST(s.n_tokens AS BIGINT) * (t.T + t.V) AS DOUBLE) END
         AS mean_laplace_p
FROM docs d LEFT JOIN scored s ON s.doc_id = d.doc_id CROSS JOIN tot t
WHERE NOT d.is_train
"""


# ---------------------------------------------------------------------------
# A11: group-wise linear regression via sufficient statistics
# ---------------------------------------------------------------------------

def q_a11_groupwise_linreg(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group OLS trend fit (value vs. time per event_type) computed
    the way it must be at 100 TB: NOT a per-group collect (an
    ``applyInPandas`` fit holds a whole group in one task — unbounded),
    but a distributed reduction to exact integer SUFFICIENT STATISTICS
    (n, Sx, Sy, Sxy, Sxx — one map-side-combined shuffle), then the
    closed form ``slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)`` on the
    tiny per-group row.  x = epoch-day (int), y = exact cents (int), so
    every sum is integer-exact and order-free; the final casts and two
    IEEE divisions are the only float ops — bit-identical in any IEEE
    engine.  (At extreme scale the bigint products need DECIMAL(38);
    same shape.)"""
    ev = load_table(spark, sf, "events")
    xy = ev.select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        (_dec("value") * 100).cast("long").alias("y"),
    )
    stats = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(den == 0, F.lit(None).cast("double")).otherwise(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / den.cast("double")
    )
    return stats.select(
        "event_type",
        "n",
        slope.alias("slope_cents_per_day"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(
            (
                F.col("sy").cast("double")
                - slope * F.col("sx").cast("double")
            )
            / F.col("n").cast("double")
        )
        .alias("intercept_cents"),
    )


O_A11_LINREG = """
WITH xy AS (
  SELECT event_type,
         CAST(datediff('day', DATE '1992-01-01', ts) AS BIGINT) AS x,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM events
), s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM xy GROUP BY 1
)
SELECT event_type, n,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) END
         AS slope_cents_per_day,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE (CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) END
         AS intercept_cents
FROM s
"""


# ---------------------------------------------------------------------------
# W15: cumulative distinct users (new vs returning growth curve)
# ---------------------------------------------------------------------------

def q_w15_cumulative_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """W15: daily new users, daily active users, and the RUNNING
    cumulative distinct-user count — the new-vs-returning growth curve.
    Cumulative distinct can't be windowed directly (distinct state isn't
    mergeable, the a9 lesson); instead each user is reduced to a
    first-seen day (one agg), days are aggregated to new-user counts
    (day-grain, tiny), and the running total is a broadcast inequality
    self-join over those day rows — the ``mint_surrogate_ids`` trick,
    keeping the catalog's zero-unpartitioned-window invariant: state is
    O(days^2) comparisons on aggregate-grain data, never a single-
    partition funnel over raw rows."""
    ev = load_table(spark, sf, "events")
    day = lambda c: F.date_format(F.date_trunc("DAY", c), "yyyy-MM-dd")  # noqa: E731
    first = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    daily_new = first.groupBy(day(F.col("first_ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    active = ev.groupBy(day(F.col("ts")).alias("day")).agg(
        F.count_distinct("user_id").alias("n_active_users")
    )
    a, b = active.select("day").alias("a"), daily_new.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.day") <= F.col("a.day"))
        .groupBy(F.col("a.day").alias("day"))
        .agg(F.sum("n_new_users").alias("cum_distinct_users"))
    )
    return (
        active.join(daily_new, "day", "left")
        .join(cum, "day")
        .select(
            "day",
            F.coalesce(F.col("n_new_users"), F.lit(0).cast("long")).alias("n_new_users"),
            "n_active_users",
            "cum_distinct_users",
        )
    )


O_W15_CUM_DISTINCT = """
WITH f AS (
  SELECT user_id, strftime(date_trunc('day', min(ts)), '%Y-%m-%d') AS day
  FROM events GROUP BY 1
), dn AS (
  SELECT day, CAST(count(*) AS BIGINT) AS n_new_users FROM f GROUP BY 1
), act AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users
  FROM events GROUP BY 1
)
SELECT a.day,
       CAST(coalesce(dn.n_new_users, 0) AS BIGINT) AS n_new_users,
       a.n_active_users,
       CAST(sum(coalesce(dn.n_new_users, 0))
            OVER (ORDER BY a.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_distinct_users
FROM act a LEFT JOIN dn ON dn.day = a.day
"""


# ---------------------------------------------------------------------------
# S2c: VARIANT semi-structured access (Spark 4)
# ---------------------------------------------------------------------------

def q_s2c_variant_extract(spark: SparkSession, sf: str) -> DataFrame:
    """S2c: the Spark-4 VARIANT path for semi-structured data —
    ``parse_json`` once into the shredded binary encoding, then typed
    ``try_variant_get`` accesses.  Versus s2b's ``get_json_object``
    (which re-scans the JSON STRING per extracted path), VARIANT parses
    once and serves every later path extraction from the binary form —
    the right shape when a 100 TB log table has many extracted fields
    per query.  ``try_`` semantics (malformed -> NULL, not job failure)
    is the production posture for dirty logs; the count of parse
    failures is surfaced as a column so data quality is observable, not
    silent."""
    ev = load_table(spark, sf, "events")
    # try_parse_json, not parse_json: the parse itself must also be
    # malformed->NULL, or one bad line kills the job and diverges from
    # the oracle's NULL-returning json_extract_string
    v = F.try_parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"), F.col("props").isNotNull().alias("has_props"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("has_props") & F.col("k").isNull(), 1)).alias(
                "n_unparsed"
            ),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


O_S2C_VARIANT = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(CASE WHEN props IS NOT NULL
                        AND try_cast(json_extract_string(props, '$.k') AS INTEGER) IS NULL
                  THEN 1 END) AS BIGINT) AS n_unparsed,
       CAST(sum(try_cast(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
       CAST(min(try_cast(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS k_min,
       CAST(max(try_cast(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS k_max
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# T: distributed BPE merge training
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3


def q_t_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich '16): learn the top
    ``_BPE_ROUNDS`` merges from the corpus word-frequency table — see
    ``operators/bpe.py`` for the scale design (corpus reduced once to
    vocab rows; per round one pair-count shuffle + a zero-shuffle
    higher-order-fold merge with the winning pair attached by 1-row
    broadcast, no ``collect()``).  The oracle replays the greedy
    non-overlapping merge with windowed island arithmetic, unrolled per
    round — the whole training loop is value-checked."""
    from ..operators.bpe import bpe_learn_merges, word_frequency_table

    d = load_table(spark, sf, "documents")
    return bpe_learn_merges(word_frequency_table(d), rounds=_BPE_ROUNDS)


def _bpe_oracle_ctes(rounds: int = _BPE_ROUNDS) -> str:
    sql = r"""
WITH w0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(CASE WHEN trim(lower(text)) = '' THEN []
                       ELSE string_split_regex(trim(lower(text)), '\s+') END) AS word
    FROM documents
  ) GROUP BY 1
), s0 AS (
  SELECT word, cnt,
         list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)) AS syms
  FROM w0
)"""
    for r in range(1, rounds + 1):
        p = r - 1
        sql += f""",
p{r} AS (
  SELECT l, r2, CAST(sum(cnt) AS BIGINT) AS pair_count FROM (
    SELECT syms[i] AS l, syms[i + 1] AS r2, cnt
    FROM s{p}, UNNEST(range(1, greatest(len(syms), 1))) AS t(i)
  ) GROUP BY 1, 2
), t{r} AS (
  SELECT l, r2, pair_count FROM p{r} ORDER BY pair_count DESC, l, r2 LIMIT 1
), e{r} AS (
  -- LEFT JOIN ON TRUE (not CROSS JOIN): an empty t{{r}} must be an
  -- identity round, not annihilate the word table (same guard as the
  -- Spark side)
  SELECT s.word, s.cnt, t.i AS i, s.syms[t.i] AS sym,
         coalesce(t.i < len(s.syms) AND s.syms[t.i] = tt.l AND s.syms[t.i + 1] = tt.r2,
                  FALSE) AS mt
  FROM s{p} s LEFT JOIN t{r} tt ON TRUE, UNNEST(range(1, len(s.syms) + 1)) AS t(i)
), g{r} AS (
  SELECT *, CAST(i AS BIGINT) - row_number() OVER (PARTITION BY word, mt ORDER BY i) AS grp
  FROM e{r}
), m{r} AS (
  SELECT *, mt AND ((i - min(i) OVER (PARTITION BY word, mt, grp)) % 2 = 0) AS do_merge
  FROM g{r}
), n{r} AS (
  SELECT word, cnt, i,
         CASE WHEN do_merge THEN sym || lead(sym) OVER (PARTITION BY word ORDER BY i)
              WHEN coalesce(lag(do_merge) OVER (PARTITION BY word ORDER BY i), FALSE) THEN NULL
              ELSE sym END AS nsym
  FROM m{r}
), s{r} AS (
  SELECT word, any_value(cnt) AS cnt,
         list(nsym ORDER BY i) FILTER (WHERE nsym IS NOT NULL) AS syms
  FROM n{r} GROUP BY word
)"""
    return sql


def _gen_bpe_train_oracle(rounds: int = _BPE_ROUNDS) -> str:
    parts = [
        f"SELECT {r} AS round, l AS merge_left, r2 AS merge_right, pair_count FROM t{r}"
        for r in range(1, rounds + 1)
    ]
    return _bpe_oracle_ctes(rounds) + "\n" + "\nUNION ALL ".join(parts)


def _gen_bpe_encode_oracle(rounds: int = _BPE_ROUNDS) -> str:
    return (
        _bpe_oracle_ctes(rounds)
        + rf""",
dw AS (
  SELECT doc_id,
         unnest(CASE WHEN trim(lower(text)) = '' THEN []
                     ELSE string_split_regex(trim(lower(text)), '\s+') END) AS word
  FROM documents
), enc AS (
  SELECT doc_id,
         CAST(sum(length(word)) AS BIGINT) AS n_chars_in_words,
         CAST(sum(len(s.syms)) AS BIGINT) AS n_bpe_tokens
  FROM dw JOIN s{rounds} s USING (word) GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(e.n_chars_in_words, 0) AS BIGINT) AS n_chars_in_words,
       CAST(coalesce(e.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
FROM documents d LEFT JOIN enc e ON e.doc_id = d.doc_id"""
    )


O_T_BPE_TRAIN = _gen_bpe_train_oracle()
O_T_BPE_ENCODE = _gen_bpe_encode_oracle()


def q_t_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """BPE train-and-ENCODE in one plan: the corpus is tokenized with
    the merges learned in the same lazily-composed job (no model-file
    round trip).  Encoding is a broadcast JOIN against the trained
    per-word symbol table, not a per-document re-fold — merges are
    word-internal, so the word-dict trick works twice (train on
    vocab-grain, encode by lookup).  Output per doc: characters in
    words vs. BPE token count — the compression the learned merges buy."""
    from ..operators.bpe import bpe_encode_corpus

    d = load_table(spark, sf, "documents")
    return bpe_encode_corpus(d, rounds=_BPE_ROUNDS)


# ---------------------------------------------------------------------------
# J11: interval-overlap join (bucketed)
# ---------------------------------------------------------------------------

_HOURS_ANCHOR = "1992-01-01"


def _hcell(ts_col: F.Column) -> F.Column:
    """Hour index of an NTZ timestamp, session-timezone-free: days since
    a fixed anchor * 24 + hour-of-day (no unix_timestamp, which would
    re-interpret NTZ in the session zone)."""
    return (
        F.datediff(ts_col.cast("date"), F.lit(_HOURS_ANCHOR).cast("date")) * 24
        + F.hour(ts_col)
    ).cast("long")


def q_j11_interval_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """J11: interval-overlap join — "which user sessions overlap which
    corpus-wide peak-traffic windows", the session x campaign / outage x
    deploy shape Spark has no native operator for.  Both interval sets
    are DERIVED in-plan: sessions by gaps-and-islands (w13's logic),
    peak windows as maximal runs of hours whose event count exceeds the
    global hourly mean (integer cross-multiplied compare — no float).

    Scale design (the j8b lesson generalized from points to intervals):
    instead of an inequality range join (broadcast-nested-loop), each
    interval explodes to the hour CELLS it covers and candidates come
    from a cell EQUI-join + pair dedup — shuffle-partitionable, AQE-
    splittable, never cartesian.  Peak windows are hour-aligned, so
    cell-range intersection is EXACTLY time intersection (no
    post-filter needed); candidate fan-out is bounded by
    interval-length / cell-width, the knob to set near the median
    interval length at real scale.

    r12 (guide §2.4 "remove shuffles outright" / §2.1 shared scans; the
    round's worst exchange count, 16, VERDICT r11 item #1): the r11
    before-plan evaluated the session gaps-and-islands subtree TWICE
    (once for the output rows, once for the cell explode) and the
    hourly aggregate FOUR times (tot + the ranked self-join's two
    aliases) — six full scans of events.  Now (a) the |hours|-grain
    ``hourly`` aggregate is materialized once and every peak derivation
    reads the barrier, and (b) the zero-overlap sessions are kept by a
    LEFT cell join + count(DISTINCT p_lo) (NULLs don't count) instead
    of a second session evaluation + left SMJ back — every session
    explodes to >=1 cell, so the count is still total.  Events are
    scanned twice (the two fundamental passes: per-user windows, hourly
    counts); everything downstream is hour- or session-grain, and the
    final aggregate reuses the window's hash(user_id) partitioning, so
    no session-grain exchange exists at all
    (plans/r12/j11_interval_overlap_{before,after}.txt)."""
    ev = load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = F.when(
        (F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES"))
        | F.lag("ts").over(w).isNull(),
        1,
    ).otherwise(0)
    sessions = (
        ev.withColumn("_new", new_s)
        .withColumn(
            "session_idx",
            F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("int"),
        )
        .groupBy("user_id", "session_idx")
        .agg(
            _hcell(F.min("ts")).alias("s_lo"),
            _hcell(F.max("ts")).alias("s_hi"),
        )
    )
    hourly = materialize(
        ev.groupBy(_hcell(F.col("ts")).alias("cell")).agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    tot = hourly.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("nh")
    )
    peak_hours = (
        hourly.crossJoin(F.broadcast(tot))
        .filter(F.col("n") * F.col("nh") > F.col("total"))  # n > total/nh, exact
        .select("cell")
    )
    # island rank without an unpartitioned window: peak hours are
    # aggregate-grain (<= hours in corpus), so rank = broadcast
    # inequality self-join over the cells (the mint_surrogate_ids trick)
    a, b = peak_hours.alias("a"), peak_hours.alias("b")
    ranked = (
        a.join(F.broadcast(b), F.col("b.cell") <= F.col("a.cell"))
        .groupBy(F.col("a.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("rk"))
    )
    peaks = (
        ranked.select("cell", (F.col("cell") - F.col("rk")).alias("grp"))
        .groupBy("grp")
        .agg(F.min("cell").alias("p_lo"), F.max("cell").alias("p_hi"))
        .select("p_lo", "p_hi")
    )
    s_cells = sessions.select(
        "user_id", "session_idx", F.explode(F.sequence("s_lo", "s_hi")).alias("cell")
    )
    p_cells = peaks.select("p_lo", F.explode(F.sequence("p_lo", "p_hi")).alias("cell"))
    # LEFT join keeps zero-overlap sessions (every session covers >=1
    # cell); count(DISTINCT p_lo) ignores the NULLs those rows carry —
    # identical to the old inner-join + distinct + left-join-back, with
    # the whole session side staying in ONE pipelined pass
    return (
        s_cells.join(F.broadcast(p_cells), "cell", "left")
        .groupBy("user_id", "session_idx")
        .agg(F.count_distinct(F.col("p_lo")).alias("n_peak_overlaps"))
    )


O_J11_INTERVAL_OVERLAP = f"""
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
), sessions AS (
  SELECT user_id, session_idx,
         CAST(datediff('day', DATE '{_HOURS_ANCHOR}', CAST(min(ts) AS DATE)) * 24
              + hour(min(ts)) AS BIGINT) AS s_lo,
         CAST(datediff('day', DATE '{_HOURS_ANCHOR}', CAST(max(ts) AS DATE)) * 24
              + hour(max(ts)) AS BIGINT) AS s_hi
  FROM s GROUP BY user_id, session_idx
), hourly AS (
  SELECT CAST(datediff('day', DATE '{_HOURS_ANCHOR}', CAST(ts AS DATE)) * 24
              + hour(ts) AS BIGINT) AS cell,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS nh FROM hourly
), peaks AS (
  SELECT min(cell) AS p_lo, max(cell) AS p_hi FROM (
    SELECT cell, cell - row_number() OVER (ORDER BY cell) AS grp
    FROM hourly CROSS JOIN tot WHERE n * nh > total
  ) GROUP BY grp
), matched AS (
  SELECT s.user_id, s.session_idx, CAST(count(*) AS BIGINT) AS n_peak_overlaps
  FROM sessions s JOIN peaks p ON s.s_lo <= p.p_hi AND s.s_hi >= p.p_lo
  GROUP BY 1, 2
)
SELECT se.user_id, se.session_idx,
       CAST(coalesce(m.n_peak_overlaps, 0) AS BIGINT) AS n_peak_overlaps
FROM sessions se LEFT JOIN matched m
  ON m.user_id = se.user_id AND m.session_idx = se.session_idx
"""


# ---------------------------------------------------------------------------
# A13: exact heavy hitters via Misra-Gries candidates (round 5)
# ---------------------------------------------------------------------------

_HH_K = 30


def q_a13_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """A13: exact frequent-items over the document token stream — every
    token with frequency > n/30, exact count and share.

    The algorithm is the two-stage Misra-Gries candidate + exact-recount
    pipeline (``operators/heavy_hitters.py``): per-task state is bounded
    at k counters in stage 1 and |candidates| counters in stage 2, so an
    open vocabulary (URLs, n-grams) can't blow up map-side aggregation
    state the way a plain ``groupBy(token)`` can.  The final answer is
    EXACT despite the sketchy intermediate — the candidate superset
    property makes the integer filter ``cnt*k > n`` close over it — so
    the oracle is plain GROUP BY/HAVING."""
    from ..operators.heavy_hitters import heavy_hitters_exact

    docs = load_table(spark, sf, "documents")
    tokens = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    return heavy_hitters_exact(tokens, "token", _HH_K)


O_A13_HEAVY_HITTERS = f"""
WITH t AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), tt AS (SELECT token FROM t WHERE token <> ''),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tt)
SELECT token, CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(*) AS BIGINT) / (SELECT n FROM n) AS share
FROM tt GROUP BY token
HAVING CAST(count(*) AS BIGINT) * {_HH_K} > (SELECT n FROM n)
"""


# ---------------------------------------------------------------------------
# D: substring-window dedup (round 5)
# ---------------------------------------------------------------------------

_SSD_WIN = 24
_SSD_STRIDE = 8


def q_d_substring_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Substring-level duplication profile (the sub-document complement
    of t_span_dedup's paragraph dedup — the shape of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", where
    duplicated SPANS inside otherwise-distinct documents are the
    target).  Fixed 24-char windows at stride 8 approximate the
    suffix-array scan distributably: per doc, the distinct window set;
    a window appearing in >= 2 distinct docs is a duplicated span; per
    doc emit window count, duplicated-window count, and the exact ratio.

    Scale shape: windows are hashed to 60-bit ints BEFORE the distinct
    (the shuffle carries 8-byte keys, not text); then one count per
    window-hash, one equi-join back, one per-doc agg — four bounded
    shuffles, never all-pairs, no driver collection.  ``dup_frac`` is
    int/int -> one IEEE division: bit-identical cross-engine."""
    docs = load_table(spark, sf, "documents")
    wins = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, greatest(length(text)-{_SSD_WIN - 1}, 1),"
                    f" {_SSD_STRIDE}), i -> substring(text, i, {_SSD_WIN}))"
                )
            ).alias("w"),
        )
        .select("doc_id", portable_hash60(F.col("w")).alias("wh"))
        .distinct()
    )
    shared = (
        wins.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("wh")
    )
    return (
        wins.join(shared.withColumn("_dup", F.lit(1)), "wh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            (F.col("n_dup_windows") / F.col("n_windows")).alias("dup_frac"),
        )
    )


O_D_SUBSTRING_DEDUP = f"""
WITH w AS (
  SELECT DISTINCT doc_id,
         {portable_hash60_sql(f"unnest(list_transform(generate_series(1, greatest(length(text)-{_SSD_WIN - 1}, 1), {_SSD_STRIDE}), i -> substr(text, i, {_SSD_WIN})))")} AS wh
  FROM documents
), shared AS (
  SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2
)
SELECT w.doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN s.wh IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_windows,
       CAST(sum(CASE WHEN s.wh IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         / CAST(count(*) AS BIGINT) AS dup_frac
FROM w LEFT JOIN shared s ON w.wh = s.wh
GROUP BY w.doc_id
"""


# ---------------------------------------------------------------------------
# J12: blocked fuzzy join (round 5)
# ---------------------------------------------------------------------------

_FUZZY_MAX_DIST = 2


def q_j12_fuzzy_blocked_join(spark: SparkSession, sf: str) -> DataFrame:
    """J12: record linkage by edit distance — the classic entity-
    resolution join (merge near-identical product/vendor names), done
    the only way it scales: a BLOCKED self-join.  Naive fuzzy join is
    all-pairs O(n²) with a per-pair O(|s|²) distance; blocking on
    (brand, name-length) makes it an equi-join whose pair count is the
    sum of squared block sizes, and Levenshtein runs only inside
    blocks.  (Same-length blocking is sound for distance<=2 only as a
    demonstration policy — production blocking would union a few length
    offsets; the POINT is the equi-join-then-verify shape.)

    Levenshtein is pure integer DP — identical in every engine — so the
    whole row is hash-checkable.

    Duplicate-density guard (the sf1 lesson, same as the LSH collapse):
    the edit distance depends only on the NAME PAIR, so the O(|s|²) DP
    runs once per DISTINCT (brand, name) pair inside the block, and
    matching name pairs expand to key pairs afterward via two equi-joins
    — on a corpus where every name has m copies this cuts Levenshtein
    calls m² while emitting the identical (inherently m²-sized) pair
    set.  Measured at sf1 (10 verbatim copies of every part name):
    367s -> the distance stage shrinks 100x."""
    p = load_table(spark, sf, "part").select("p_partkey", "p_name", "p_brand")
    names = p.select(F.col("p_brand").alias("brand"), "p_name").distinct()
    na, nb = names.alias("na"), names.alias("nb")
    name_pairs = (
        na.join(
            nb,
            (F.col("na.brand") == F.col("nb.brand"))
            & (F.length(F.col("na.p_name")) == F.length(F.col("nb.p_name")))
            & (F.col("na.p_name") < F.col("nb.p_name")),
        )
        .select(
            F.col("na.brand").alias("brand"),
            F.col("na.p_name").alias("n1"),
            F.col("nb.p_name").alias("n2"),
            F.levenshtein(F.col("na.p_name"), F.col("nb.p_name")).alias("dist"),
        )
        .filter(F.col("dist") <= _FUZZY_MAX_DIST)
    )
    k1 = p.select(
        F.col("p_brand").alias("brand"), F.col("p_name").alias("n1"),
        F.col("p_partkey").alias("k1"),
    )
    k2 = p.select(
        F.col("p_brand").alias("brand"), F.col("p_name").alias("n2"),
        F.col("p_partkey").alias("k2"),
    )
    first_is_a = F.col("k1") > F.col("k2")
    return (
        name_pairs.join(k1, ["brand", "n1"])
        .join(k2, ["brand", "n2"])
        .select(
            F.greatest("k1", "k2").alias("key_a"),
            F.least("k1", "k2").alias("key_b"),
            F.when(first_is_a, F.col("n1")).otherwise(F.col("n2")).alias("name_a"),
            F.when(first_is_a, F.col("n2")).otherwise(F.col("n1")).alias("name_b"),
            "dist",
        )
    )


O_J12_FUZZY = f"""
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand
 AND length(a.p_name) = length(b.p_name)
 AND b.p_partkey < a.p_partkey
WHERE a.p_name <> b.p_name
  AND levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
"""


def _deletion_variants(s) -> "F.Column":
    """All strings reachable from ``s`` by deleting up to 2 characters
    (FastSS/SymSpell signature set), as a distinct array — pure
    higher-order functions, zero UDFs.  |variants| = 1 + n + C(n,2):
    ~56 for a 10-char name."""
    n = F.length(s)
    one = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(s.substr(F.lit(1), i - 1), s.substr(i + 1, n - i)),
    )
    two = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda i: F.transform(
                F.sequence(i + 1, F.greatest(n, i + 1)),
                lambda j: F.concat(
                    s.substr(F.lit(1), i - 1),
                    s.substr(i + 1, j - i - 1),
                    s.substr(j + 1, n - j),
                ),
            ),
        )
    )
    # no length guards needed: Spark's substring yields "" for
    # non-positive lengths and sequence() descends harmlessly for n<2 —
    # any junk variant is only a candidate, and the exact-Levenshtein
    # verify removes every false positive
    return F.array_distinct(F.concat(F.array(s), one, two))


def q_j12b_deletion_join(spark: SparkSession, sf: str) -> DataFrame:
    """J12b: the PRODUCTION-complete fuzzy join — every same-brand part
    pair within Levenshtein distance 2, with NO length-equality
    blocking (j12's same-length policy is a demonstration that silently
    misses every insert/delete variant; this form misses nothing).

    Candidate generation is the FastSS/SymSpell deletion neighborhood
    (Bocek et al. 2007 "Fast Similarity Search in Large Dictionaries"):
    two strings within edit distance k share at least one common
    <=k-deletion variant, so candidates come from an EQUI-join on
    (brand, variant-hash) — lossless (no false negatives), never
    all-pairs, and the signature set (~1+n+C(n,2) per name) is built
    with zero-UDF higher-order functions.  Exact Levenshtein then
    removes false positives.  The duplicate-density lesson applies as
    in j12: signatures and the DP run once per DISTINCT (brand, name);
    key expansion afterward.

    The DuckDB oracle is the brute-force within-brand pair scan — at
    oracle scale that's fine, and hash-equality against it proves the
    deletion-neighborhood filter is genuinely lossless on real data."""
    p = load_table(spark, sf, "part").select("p_partkey", "p_name", "p_brand")
    names = p.select(F.col("p_brand").alias("brand"), "p_name").distinct()
    sigs = names.select(
        "brand",
        "p_name",
        F.explode(_deletion_variants(F.col("p_name"))).alias("var"),
    ).select("brand", "p_name", portable_hash60(F.col("var")).alias("sig"))
    sa, sb = sigs.alias("sa"), sigs.alias("sb")
    name_pairs = (
        sa.join(
            sb,
            (F.col("sa.brand") == F.col("sb.brand"))
            & (F.col("sa.sig") == F.col("sb.sig"))
            & (F.col("sa.p_name") < F.col("sb.p_name")),
        )
        .select(
            F.col("sa.brand").alias("brand"),
            F.col("sa.p_name").alias("n1"),
            F.col("sb.p_name").alias("n2"),
        )
        .dropDuplicates(["brand", "n1", "n2"])
        .withColumn("dist", F.levenshtein(F.col("n1"), F.col("n2")))
        .filter(F.col("dist") <= _FUZZY_MAX_DIST)
    )
    k1 = p.select(
        F.col("p_brand").alias("brand"), F.col("p_name").alias("n1"),
        F.col("p_partkey").alias("k1"),
    )
    k2 = p.select(
        F.col("p_brand").alias("brand"), F.col("p_name").alias("n2"),
        F.col("p_partkey").alias("k2"),
    )
    first_is_a = F.col("k1") > F.col("k2")
    return (
        name_pairs.join(k1, ["brand", "n1"])
        .join(k2, ["brand", "n2"])
        .select(
            F.greatest("k1", "k2").alias("key_a"),
            F.least("k1", "k2").alias("key_b"),
            F.when(first_is_a, F.col("n1")).otherwise(F.col("n2")).alias("name_a"),
            F.when(first_is_a, F.col("n2")).otherwise(F.col("n1")).alias("name_b"),
            "dist",
        )
    )


O_J12B_DELETION = f"""
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand
 AND b.p_partkey < a.p_partkey
WHERE a.p_name <> b.p_name
  AND levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
"""


# ---------------------------------------------------------------------------
# A12: equi-depth histogram (round 5)
# ---------------------------------------------------------------------------

_EQD_BUCKETS = 8


def q_a12_equidepth_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """A12: equi-DEPTH histogram of order value (a10 is equi-width) —
    the optimizer-statistics shape: 8 buckets holding ~equal row counts,
    boundaries at the exact octile percentiles.

    Scale shape: ONE exact-percentile aggregation produces the 7-value
    boundary row (percentile state is the value multiset — bounded here
    by the cent-value domain; unbounded domains would use a9's
    mergeable sketches), broadcast to every task; bucket assignment is
    then a pure map (count of boundaries below the value), and one
    groupBy(bucket) finishes.  No global sort, no ntile over an
    unpartitioned window — THE trap in naive equi-depth plans.

    Determinism: boundaries are interpolated in integer-CENT space at
    dyadic fractions i/8 (exact in IEEE under either interpolation
    formula — w12's lesson), bucket assignment compares exact doubles,
    min/max/count are integers, and the one division /100 at the end is
    correctly rounded.  Ties across a boundary all land on one side (>
    is strict), so ambiguous ntile tie-splitting never arises."""
    o = load_table(spark, sf, "orders")
    cents = (_dec("o_totalprice") * 100).cast("long").cast("double")
    fracs = [i / _EQD_BUCKETS for i in range(1, _EQD_BUCKETS)]
    bounds = o.agg(
        F.percentile(cents, F.array(*[F.lit(f) for f in fracs])).alias("_b")
    )
    bucket = F.aggregate(
        "_b",
        F.lit(0),
        lambda acc, b: acc + F.when(F.col("_cents") > b, 1).otherwise(0),
    ).alias("bucket")
    return (
        o.select(cents.alias("_cents"), _dec("o_totalprice").alias("_price"))
        .crossJoin(F.broadcast(bounds))
        .select("_cents", "_price", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.min("_cents") / 100).alias("lo"),
            (F.max("_cents") / 100).alias("hi"),
            F.sum("_price").cast("double").alias("bucket_value"),
        )
    )


O_A12_EQUIDEPTH = f"""
WITH c AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DOUBLE) AS cents,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
), b AS (
  SELECT quantile_cont(cents, {[i / _EQD_BUCKETS for i in range(1, _EQD_BUCKETS)]}) AS bnds
  FROM c
)
SELECT CAST(len(list_filter(b.bnds, x -> c.cents > x)) AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(c.cents) / 100 AS lo,
       max(c.cents) / 100 AS hi,
       CAST(sum(c.price) AS DOUBLE) AS bucket_value
FROM c CROSS JOIN b
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# S13: stream-stream LEFT OUTER join, batch twin (round 5)
# ---------------------------------------------------------------------------


def q_s13_stream_stream_left_outer(spark: SparkSession, sf: str) -> DataFrame:
    """S13: batch twin of the watermarked stream-stream LEFT OUTER join
    (s12's inner-join sibling): every purchase, matched to the same
    user's views in the preceding 30 minutes, with NULL view columns for
    organic (view-less) conversions.  Runs the SAME function body the
    streaming path uses (``how="left_outer"``); the streaming-vs-batch
    equivalence — including the watermark-delayed null emission — is
    pinned in tests/test_streaming.py."""
    from ..streaming.ops import stream_stream_view_purchase_join

    ev = load_table(spark, sf, "events")
    return stream_stream_view_purchase_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        how="left_outer",
    )


O_S13_LEFT_OUTER = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'view'
)
SELECT p.event_id AS purchase_id, p.user_id, v.ts AS view_ts, v.value AS view_value
FROM p LEFT JOIN v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 30 MINUTE
"""


REGISTRY = {
    "a10_histogram": (q_a10_histogram, O_A10_HISTOGRAM),
    "a12_equidepth_histogram": (q_a12_equidepth_histogram, O_A12_EQUIDEPTH),
    "a13_heavy_hitters": (q_a13_heavy_hitters, O_A13_HEAVY_HITTERS),
    "d_substring_dedup": (q_d_substring_dedup, O_D_SUBSTRING_DEDUP),
    "j12_fuzzy_blocked_join": (q_j12_fuzzy_blocked_join, O_J12_FUZZY),
    "j12b_deletion_join": (q_j12b_deletion_join, O_J12B_DELETION),
    "s13_stream_stream_left_outer": (q_s13_stream_stream_left_outer, O_S13_LEFT_OUTER),
    "j10_salted_join": (q_j10_salted_join, O_J10_SALTED),
    "d_keep_best": (q_d_keep_best, O_D_KEEP_BEST),
    "t_unigram_lm": (q_t_unigram_lm, O_T_UNIGRAM_LM),
    "a11_groupwise_linreg": (q_a11_groupwise_linreg, O_A11_LINREG),
    "w15_cumulative_distinct": (q_w15_cumulative_distinct, O_W15_CUM_DISTINCT),
    "t_bpe_train": (q_t_bpe_train, O_T_BPE_TRAIN),
    "j11_interval_overlap": (q_j11_interval_overlap, O_J11_INTERVAL_OVERLAP),
    "s2c_variant_extract": (q_s2c_variant_extract, O_S2C_VARIANT),
    "t_bpe_encode": (q_t_bpe_encode, O_T_BPE_ENCODE),
}
