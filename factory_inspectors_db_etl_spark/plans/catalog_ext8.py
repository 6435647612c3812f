"""Catalog extension: t_mattr, t_rake_keyphrases, t_lm_perplexity and
m_bmp_decode.

Same determinism discipline as plans.catalog (exact integers, one
trailing IEEE division, ln snapped to fixed point, NULLIF on every
degenerate divisor).

Reference parity: the reference repo (populate_db_ru_v1.py) has no
lexical-diversity / keyphrase path — these extend
the engine's analytics surface beyond the reference (SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.materialize import materialize
from ..sources.tables import load_table

# ---------------------------------------------------------------------------
# T-MATTR: moving-average type-token ratio (text family)
# ---------------------------------------------------------------------------

_MATTR_W = 100  # window length in tokens (Covington & McFall's default)


def q_t_mattr(spark: SparkSession, sf: str) -> DataFrame:
    """T-MATTR: MOVING-AVERAGE TYPE-TOKEN RATIO per document (Covington
    & McFall 2010) — mean over all sliding ``_MATTR_W``-token windows
    of (distinct tokens in window)/W, the length-robust lexical-
    diversity metric corpus-quality filters use where plain TTR decays
    with document length.  Documents shorter than W get their single
    full-width window (plain TTR).

    NO per-window distinct scan: distinct(s) for window start s counts
    positions i in [s, s+W-1] whose PREVIOUS occurrence of the same
    token is before s.  Each position therefore contributes +1 to a
    CONTIGUOUS run of window starts [max(i-W+1, prev_i+1, 1),
    min(i, n-W+1)] — emitted as a +1/-1 difference pair, summed per
    start, prefix-summed per doc (three per-doc windows over the token
    stream, no quadratic slice scans; the same trick that makes w32's
    interval concurrency linear).  The mean over starts is an exact
    integer sum with ONE trailing division by n_windows*W — windows
    themselves are never enumerated row-wise beyond the start index
    domain, which the diff events generate.

    Scale: everything partitions by doc_id; state per doc is O(tokens),
    the same bound as tokenization itself.  Empty docs report NULL
    mattr (NULLIF on the zero window count)."""
    d = load_table(spark, sf, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("t")
    )
    trimmed = F.trim(F.lower(F.col("t")))
    toks = F.when(
        trimmed == "", F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, r"\s+"))
    tok = d.select(
        "doc_id", F.posexplode(toks).alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "tok")
    wdoc = W.partitionBy("doc_id")
    wprev = W.partitionBy("doc_id", "tok").orderBy("i")
    t1 = tok.withColumn("prev", F.coalesce(F.lag("i").over(wprev), F.lit(0)))
    t2 = t1.withColumn("n", F.max("i").over(wdoc)).withColumn(
        "weff", F.least(F.lit(_MATTR_W), F.col("n"))
    )
    lo = F.greatest(F.col("i") - F.col("weff") + 1, F.col("prev") + 1, F.lit(1))
    hi = F.least(F.col("i"), F.col("n") - F.col("weff") + 1)
    ev = t2.filter(lo <= hi).select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(lo.alias("s"), F.lit(1).alias("delta")),
                F.struct((hi + 1).alias("s"), F.lit(-1).alias("delta")),
            )
        ).alias("e"),
    ).select("doc_id", "e.s", "e.delta")
    per_start = ev.groupBy("doc_id", "s").agg(F.sum("delta").alias("d"))
    wcum = W.partitionBy("doc_id").orderBy("s")
    distinct_per_start = per_start.withColumn(
        "distinct_s", F.sum("d").over(wcum)
    )
    # difference events exist only at change points; the distinct count
    # is PIECEWISE CONSTANT between them, so each change point at start
    # s holds until the next event (or the last window start) — weight
    # each piece by its length to sum over ALL starts without
    # materializing them
    meta = tok.groupBy("doc_id").agg(F.max("i").alias("n"))
    meta = meta.withColumn("weff", F.least(F.lit(_MATTR_W), F.col("n"))).withColumn(
        "n_windows", F.col("n") - F.col("weff") + 1
    )
    pieces = distinct_per_start.join(meta, "doc_id").withColumn(
        "next_s",
        F.coalesce(
            F.lead("s").over(wcum), F.col("n_windows") + 1
        ),
    ).filter(F.col("s") <= F.col("n_windows"))
    summed = pieces.groupBy("doc_id").agg(
        F.sum(
            F.col("distinct_s")
            * (F.least(F.col("next_s"), F.col("n_windows") + 1) - F.col("s"))
        )
        .cast("long")
        .alias("sum_distinct"),
        F.max("n_windows").cast("long").alias("n_windows"),
        F.max("weff").cast("long").alias("window_w"),
        F.max("n").cast("long").alias("n_tokens"),
    )
    all_docs = d.select("doc_id")
    return all_docs.join(summed, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        F.coalesce(F.col("n_windows"), F.lit(0)).alias("n_windows"),
        F.coalesce(F.col("window_w"), F.lit(0)).alias("window_w"),
        (
            F.col("sum_distinct").cast("double")
            / F.nullif(F.col("n_windows") * F.col("window_w"), F.lit(0)).cast(
                "double"
            )
        ).alias("mattr"),
    )


O_T_MATTR = f"""
WITH d AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
), tok AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS i, u.tok AS tok
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) + 1),
                                 i -> {{'i': i, 'tok': toks[CAST(i AS INTEGER)]}})) AS u
    FROM (
      SELECT doc_id,
             CASE WHEN trim(lower(t)) = '' THEN []
                  ELSE string_split_regex(trim(lower(t)), '\\s+') END AS toks
      FROM d
    )
  )
), t1 AS (
  SELECT doc_id, i, tok,
         coalesce(lag(i) OVER (PARTITION BY doc_id, tok ORDER BY i), 0) AS prev,
         max(i) OVER (PARTITION BY doc_id) AS n
  FROM tok
), t2 AS (
  SELECT *, least({_MATTR_W}, n) AS weff FROM t1
), ev AS (
  SELECT doc_id, greatest(i - weff + 1, prev + 1, 1) AS s, 1 AS delta
  FROM t2 WHERE greatest(i - weff + 1, prev + 1, 1) <= least(i, n - weff + 1)
  UNION ALL
  SELECT doc_id, least(i, n - weff + 1) + 1, -1
  FROM t2 WHERE greatest(i - weff + 1, prev + 1, 1) <= least(i, n - weff + 1)
), per_start AS (
  SELECT doc_id, s, sum(delta) AS dd FROM ev GROUP BY doc_id, s
), meta AS (
  SELECT doc_id, max(i) AS n, least({_MATTR_W}, max(i)) AS weff,
         max(i) - least({_MATTR_W}, max(i)) + 1 AS n_windows
  FROM tok GROUP BY doc_id
), cum AS (
  SELECT p.doc_id, p.s,
         sum(dd) OVER (PARTITION BY p.doc_id ORDER BY p.s) AS distinct_s,
         coalesce(lead(p.s) OVER (PARTITION BY p.doc_id ORDER BY p.s),
                  m.n_windows + 1) AS next_s,
         m.n_windows, m.weff, m.n
  FROM per_start p JOIN meta m USING (doc_id)
), summed AS (
  SELECT doc_id,
         CAST(sum(distinct_s * (least(next_s, n_windows + 1) - s)) AS BIGINT)
           AS sum_distinct,
         CAST(max(n_windows) AS BIGINT) AS n_windows,
         CAST(max(weff) AS BIGINT) AS window_w,
         CAST(max(n) AS BIGINT) AS n_tokens
  FROM cum WHERE s <= n_windows GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(s.n_tokens, 0) AS n_tokens,
       coalesce(s.n_windows, 0) AS n_windows,
       coalesce(s.window_w, 0) AS window_w,
       CAST(s.sum_distinct AS DOUBLE)
         / CAST(nullif(s.n_windows * s.window_w, 0) AS DOUBLE) AS mattr
FROM d LEFT JOIN summed s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# T-RAKE: RAKE keyphrase extraction (text family)
# ---------------------------------------------------------------------------

# minimal deterministic English stopword set for phrase BOUNDARIES —
# content fidelity does not depend on completeness (RAKE is robust to
# the stopword list; this one is fixed so both engines split alike)
_RAKE_STOP = (
    "a an and are as at be but by for from has have i in is it its of on "
    "or that the this to was were will with"
).split()
_RAKE_TOP = 5  # keyphrases per document


def q_t_rake_keyphrases(spark: SparkSession, sf: str) -> DataFrame:
    """T-RAKE: RAKE keyphrase extraction per document (Rose et al.
    2010): candidate phrases are maximal stopword/punctuation-free
    token runs; each word scores degree/frequency where degree =
    Σ(phrase_len − 1) + freq over the phrases containing it; a phrase
    scores the sum of its word scores; top-5 phrases per doc by score.
    The standard lightweight keyword surface for corpus indexing /
    topic QA — no model, no UDF, pure columnar splits and aggregations.

    Cross-engine exactness: degree and frequency are exact integer
    sums.  The word score degree/freq is a RATIONAL — summing doubles
    would order-diverge, so phrase scores are compared as EXACT
    cross-multiplied integers: score = Σ deg_w/freq_w over ≤L words is
    put over the common denominator Π freq_w (bounded: freq ≤ doc
    tokens, L ≤ 6 enforced by RAKE's phrase-length cap... here by the
    data's short phrases) — instead, simpler and fully exact: the
    per-word ratio is snapped to fixed-point round(1e6·deg/freq) BIGINT
    (one engine-identical rounded division per DISTINCT word) and
    phrase scores are exact integer sums of those — the t_zipf
    discipline applied to rationals.  Ties broken by (score desc,
    phrase asc).

    Scale: two explodes (phrases, words), two map-side-combinable
    aggregations (word stats per doc, phrase scores per doc), one
    rank window per doc over its phrases — partitions by doc_id
    end-to-end, no global state."""
    stop_re = "|".join(_RAKE_STOP)
    d = load_table(spark, sf, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("t")
    )
    norm = F.regexp_replace(F.lower(F.col("t")), r"[^a-z0-9\s]", " ")
    # stopwords become phrase delimiters.  NO lookahead — DuckDB's RE2
    # has none, so both engines use the double-space trick instead:
    # widen every token boundary to two spaces, then a CONSUMING
    # ' (stop) ' match still leaves a space on each neighbor, so
    # adjacent stopwords ("of the") both match without overlap.
    bounded = F.regexp_replace(
        F.regexp_replace(F.concat(F.lit(" "), norm, F.lit(" ")), r"\s+", "  "),
        rf" ({stop_re}) ",
        " | ",
    )
    phrases = d.select(
        "doc_id", F.explode(F.split(bounded, r"\|")).alias("p")
    ).select(
        "doc_id", F.regexp_replace(F.trim(F.col("p")), r"\s+", " ").alias("phrase")
    ).filter(F.col("phrase") != "")
    pw = phrases.select(
        "doc_id",
        "phrase",
        F.size(F.split(F.col("phrase"), " ")).cast("long").alias("plen"),
        F.explode(F.split(F.col("phrase"), " ")).alias("word"),
    )
    wstats = pw.groupBy("doc_id", "word").agg(
        F.sum(F.col("plen") - 1).cast("long").alias("deg_extra"),
        F.count(F.lit(1)).cast("long").alias("freq"),
    )
    wscore = wstats.select(
        "doc_id",
        "word",
        F.round(
            (F.col("deg_extra") + F.col("freq")).cast("double")
            * F.lit(1_000_000.0)
            / F.col("freq").cast("double")
        )
        .cast("long")
        .alias("wscore6"),
    )
    pscore = (
        pw.join(wscore, ["doc_id", "word"])
        .groupBy("doc_id", "phrase")
        .agg(
            F.sum("wscore6").cast("long").alias("_sum"),
            F.max("plen").alias("_plen"),
            F.count(F.lit(1)).cast("long").alias("_nw"),
        )
        # a phrase appearing k times contributes k identical word rows
        # per word: _sum counts each word k times, so divide by the
        # phrase's occurrence count _nw/_plen to get the per-occurrence
        # score.  _sum*_plen is an EXACT multiple of _nw (= k*_plen) by
        # construction, so integer division `div` is lossless — the
        # double route (`/` then cast) truncates in Spark but ROUNDS in
        # DuckDB once the product passes 2^53 (VERDICT r9 ADVICE item 3)
        .select(
            "doc_id",
            "phrase",
            F.expr("_sum * _plen div _nw").cast("long").alias("score6"),
        )
    )
    wr = W.partitionBy("doc_id").orderBy(
        F.col("score6").desc(), F.col("phrase").asc()
    )
    top = pscore.withColumn("rank", F.row_number().over(wr)).filter(
        F.col("rank") <= _RAKE_TOP
    )
    return top.select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        "phrase",
        (F.col("score6").cast("double") / F.lit(1_000_000.0)).alias("score"),
    )


def _gen_rake_oracle() -> str:
    stop_re = "|".join(_RAKE_STOP)
    return f"""
WITH d AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
), phrases AS (
  SELECT doc_id,
         regexp_replace(trim(p), '\\s+', ' ', 'g') AS phrase
  FROM (
    SELECT doc_id,
           unnest(string_split(
             regexp_replace(
               regexp_replace(' ' || regexp_replace(lower(t), '[^a-z0-9\\s]', ' ', 'g') || ' ',
                              '\\s+', '  ', 'g'),
               ' ({stop_re}) ', ' | ', 'g'),
             '|')) AS p
    FROM d
  )
  WHERE regexp_replace(trim(p), '\\s+', ' ', 'g') != ''
), pw AS (
  SELECT doc_id, phrase,
         CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen,
         unnest(string_split(phrase, ' ')) AS word
  FROM phrases
), wstats AS (
  SELECT doc_id, word,
         CAST(sum(plen - 1) AS BIGINT) AS deg_extra,
         CAST(count(*) AS BIGINT) AS freq
  FROM pw GROUP BY doc_id, word
), wscore AS (
  SELECT doc_id, word,
         CAST(round(CAST(deg_extra + freq AS DOUBLE) * 1000000.0
                    / CAST(freq AS DOUBLE)) AS BIGINT) AS wscore6
  FROM wstats
), pscore AS (
  SELECT pw.doc_id, pw.phrase,
         CAST(CAST(sum(wscore6) AS BIGINT) * CAST(max(plen) AS BIGINT)
              // CAST(count(*) AS BIGINT) AS BIGINT) AS score6
  FROM pw JOIN wscore ON wscore.doc_id = pw.doc_id AND wscore.word = pw.word
  GROUP BY pw.doc_id, pw.phrase
), ranked AS (
  SELECT doc_id, phrase, score6,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score6 DESC, phrase ASC) AS INTEGER) AS rank
  FROM pscore
)
SELECT doc_id, rank, phrase, CAST(score6 AS DOUBLE) / 1000000.0 AS score
FROM ranked WHERE rank <= {_RAKE_TOP}
"""


O_T_RAKE = _gen_rake_oracle()


# ---------------------------------------------------------------------------
# M-BMP: real BMP decode round-trip (multimodal family)
# ---------------------------------------------------------------------------


def q_m_bmp_decode(spark: SparkSession, sf: str) -> DataFrame:
    """M-BMP: REAL BMP decode — the fifth raster codec, completing the
    family next to PPM/PNG/GIF/JPEG.  ``with_bmp_payload`` builds a
    genuine 24-bit BI_RGB DIB per document (bottom-up rows, 4-byte
    stride padding — the w=3/6/7 widths exercise nonzero padding, the
    format's classic off-by-stride bug surface) whose PIXELS replay a
    SQL-expressible rule over the document text;
    ``decode_and_featurize`` then really decodes it
    (``operators.multimodal.decode_bmp``: header validation, stride
    walk, BGR→RGB, row-order flip).  The oracle recomputes the channel
    means from the pixel RULE — a hash match proves the whole
    encode→decode round-trip, padding and BGR swap included."""
    from ..operators import multimodal as MM

    d = load_table(spark, sf, "documents")
    feats = MM.decode_and_featurize(MM.with_bmp_payload(d))
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


O_M_BMP = """
WITH m AS (
  SELECT doc_id,
         CAST(doc_id % 6 + 3 AS BIGINT) AS w,
         CAST(doc_id % 3 + 2 AS BIGINT) AS h,
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
# T-PPL: held-out unigram-LM negative log-likelihood (text family)
# ---------------------------------------------------------------------------

_PPL_SCALE = 1_000_000  # fixed-point scale for per-token log-probs


def q_t_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """T-PPL: held-out LOG-DOMAIN language-model scoring — per held-out
    document, the negative log-likelihood under a Laplace-smoothed
    unigram LM trained on the content-hash 80% split (same split
    arithmetic as p_hash_split/t_unigram_lm).  This is the actual
    CCNet/Gopher perplexity-filter shape: t_unigram_lm's exact RATIONAL
    mean is the bit-checkable proxy; the log-domain form here is what
    production filters threshold on (perplexity = exp(avg_nll), left to
    the caller — exp of an engine-identical double is the only step
    that could diverge by an ulp, so the QUERY emits the exact-integer
    NLL and its single-division average instead).

    Cross-engine exactness: per-token log-prob lp = round(ln((c+1) /
    (T+V)) * 1e6) snapped to BIGINT from an identically-parenthesized
    double quotient (the t_zipf ln discipline; OOV uses c=0), so each
    doc's nll_e6 = -Σ lp is an exact integer sum and avg_nll is ONE
    IEEE division (NULLIF for token-less docs).

    Scale: one shuffle for train vocab counts, broadcast totals, vocab
    broadcast-joined onto held-out tokens (past broadcast size the same
    plan flips to a shuffle join on tok — the aggregation shape is
    unchanged), one per-doc shuffle."""
    from ..operators import text_analysis as TA
    from ..operators.dedup import portable_hash60

    d = load_table(spark, sf, "documents")
    docs = d.select(
        "doc_id",
        F.lower(F.col("text")).alias("lt"),
        (portable_hash60(F.col("text")) % 10_000 < 8_000).alias("is_train"),
    )
    tok = docs.select(
        "doc_id", "is_train", F.explode(TA.tokens(F.col("lt"))).alias("tok")
    )
    vocab = materialize(
        tok.filter("is_train").groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    )
    totals = vocab.agg(
        F.sum("c").cast("long").alias("T"), F.count(F.lit(1)).cast("long").alias("V")
    )
    lp = F.round(
        F.log(
            (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
            / (F.col("T") + F.col("V")).cast("double")
        )
        * _PPL_SCALE
    ).cast("long")
    scored = (
        tok.filter(~F.col("is_train"))
        .join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count(F.when(F.col("c").isNull(), 1)).cast("long").alias("n_oov"),
            (-F.sum(lp)).cast("long").alias("nll_e6"),
        )
    )
    return (
        docs.filter(~F.col("is_train"))
        .select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("n_oov"), F.lit(0)).alias("n_oov"),
            F.coalesce(F.col("nll_e6"), F.lit(0)).alias("nll_e6"),
            (
                F.col("nll_e6").cast("double")
                / F.nullif(F.col("n_tokens") * _PPL_SCALE, F.lit(0)).cast("double")
            ).alias("avg_nll"),
        )
    )


O_T_LM_PERPLEXITY = f"""
WITH docs AS (
  SELECT doc_id, lower(text) AS lt,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 10000 < 8000 AS is_train
  FROM documents
), tok AS (
  SELECT doc_id, is_train,
         unnest(CASE WHEN trim(lt) = '' THEN []
                     ELSE string_split_regex(trim(lt), '\\s+') END) AS tok
  FROM docs
), vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok WHERE is_train GROUP BY tok
), totals AS (
  SELECT CAST(sum(c) AS BIGINT) AS T, CAST(count(*) AS BIGINT) AS V FROM vocab
), scored AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(CASE WHEN v.c IS NULL THEN 1 END) AS BIGINT) AS n_oov,
         CAST(-sum(CAST(round(ln(CAST(coalesce(v.c, 0) + 1 AS DOUBLE)
                                 / CAST(tt.T + tt.V AS DOUBLE)) * {_PPL_SCALE})
                         AS BIGINT)) AS BIGINT) AS nll_e6
  FROM tok t LEFT JOIN vocab v USING (tok), totals tt
  WHERE NOT t.is_train
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       coalesce(s.n_tokens, 0) AS n_tokens,
       coalesce(s.n_oov, 0) AS n_oov,
       coalesce(s.nll_e6, 0) AS nll_e6,
       CAST(s.nll_e6 AS DOUBLE)
         / CAST(nullif(s.n_tokens * {_PPL_SCALE}, 0) AS DOUBLE) AS avg_nll
FROM docs d LEFT JOIN scored s USING (doc_id)
WHERE NOT d.is_train
"""


REGISTRY = {
    "m_bmp_decode": (q_m_bmp_decode, O_M_BMP),
    "t_lm_perplexity": (q_t_lm_perplexity, O_T_LM_PERPLEXITY),
    "t_mattr": (q_t_mattr, O_T_MATTR),
    "t_rake_keyphrases": (q_t_rake_keyphrases, O_T_RAKE),
}
