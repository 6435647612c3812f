"""Deterministic content-hash sampling & splitting (extension M6).

Training-data pipelines need samples and train/val/test splits that are

* reproducible — same corpus in, same split out, on any cluster size;
* stable under repartitioning — no dependence on row order or partition
  count (``rand()`` and ``df.sample`` have both);
* driftless — adding new documents never moves an EXISTING document to a
  different split (random re-draws reshuffle everything; a content hash
  never does);
* auditable — any engine can re-derive membership (the DuckDB oracles
  re-run the identical arithmetic via the portable md5-based hash).

Everything here is pure columnar expression work on top of
``portable_hash60`` — no UDFs, no shuffles except where a window is the
semantics (per-group top-k), scan-speed at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import portable_hash60


def hash_bucket(key: Column, buckets: int = 10_000, salt: str = "") -> Column:
    """Stable bucket in [0, buckets) from the content key.  ``salt``
    derives independent bucketings from the same key (e.g. one for the
    split, one for a downsample) — otherwise the two decisions correlate.
    """
    keyed = F.concat(F.lit(salt), key) if salt else key
    return portable_hash60(keyed) % F.lit(buckets)


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    buckets: int = 10_000,
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by cumulative hash-bucket ranges.

    ``fractions`` maps split name -> fraction; fractions must sum to 1.
    Boundaries are ``floor(cum_fraction * buckets)``, so membership is an
    integer comparison — exactly reproducible in the SQL oracle.
    """
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = hash_bucket(F.col(key_col), buckets, salt)
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        bound = int(cum * buckets)
        expr = F.when(bucket < bound, name) if expr is None else expr.when(bucket < bound, name)
    out = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out_col, out)


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    buckets: int = 10_000,
    salt: str = "",
) -> DataFrame:
    """Per-stratum sampling rates (e.g. keep 100% of rare languages, 10%
    of English) — the standard corpus-rebalancing move.  One scan, no
    shuffle: the rate lookup is a literal CASE ladder."""
    rate_expr = None
    for stratum, rate in rates.items():
        cond = F.col(strata_col) == stratum
        rate_expr = F.when(cond, rate) if rate_expr is None else rate_expr.when(cond, rate)
    rate_expr = F.lit(default_rate) if rate_expr is None else rate_expr.otherwise(default_rate)
    bucket = hash_bucket(F.col(key_col), buckets, salt)
    return df.filter(bucket < (rate_expr * buckets).cast("int"))


def mixture_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    target_weights: dict[str, float],
    buckets: int = 10_000,
    salt: str = "",
) -> DataFrame:
    """Downsample a corpus to a target source/domain MIXTURE (e.g. the
    published data-mixture weights of large LM training sets — Gopher,
    Rae et al. '21 table 2; The Pile, Gao et al. '20): the output's
    per-stratum proportions match ``target_weights`` as closely as
    downsampling alone can, maximizing total output size without ever
    upsampling.

    Unlike ``stratified_hash_sample`` the keep RATES are computed from
    the data: with ``n_s`` rows observed in stratum ``s`` and target
    weight ``w_s``, the largest feasible output is ``T = min_s(n_s /
    w_s)`` total rows, giving ``rate_s = w_s * T / n_s <= 1`` (the
    binding stratum keeps 100%).  Strata absent from ``target_weights``
    are dropped — weight 0 in the target mixture.  The converse — a
    TARGETED stratum with zero observed rows — cannot be satisfied by
    downsampling at all; it is excluded from the feasibility min (the
    other strata still mix correctly among themselves) rather than
    collapsing the whole output to empty.  Callers needing the strict
    reading (unattainable mixture = error) should assert observed
    stratum coverage up front.

    Plan at scale: one partial-aggregated count per stratum (tiny
    result), the feasible total as a 1-row aggregate cross-joined back,
    and a broadcast join of the per-stratum rate ladder onto the corpus
    — the corpus itself is scanned once and never shuffled.  Membership
    is the same portable-hash bucket test as every sampler here:
    deterministic, repartition-stable, driftless, re-derivable by the
    SQL oracle.
    """
    if not target_weights:
        raise ValueError("target_weights must be non-empty")
    if any(w <= 0 for w in target_weights.values()):
        # a zero/negative weight silently drains EVERY stratum (the
        # feasible-total min goes non-positive); zero-weight strata are
        # expressed by omitting them
        raise ValueError("every target weight must be > 0; omit a stratum to drop it")
    total_w = sum(target_weights.values())
    names = list(target_weights)
    wexpr = None
    for s in names:
        w_norm = target_weights[s] / total_w
        cond = F.col(stratum_col) == s
        wexpr = F.when(cond, w_norm) if wexpr is None else wexpr.when(cond, w_norm)
    in_mix = df.filter(F.col(stratum_col).isin(names))
    counts = (
        in_mix.groupBy(stratum_col)
        .agg(F.count(F.lit(1)).cast("double").alias("_n"))
        .withColumn("_w", wexpr)
    )
    feasible = counts.select(F.min(F.col("_n") / F.col("_w")).alias("_t"))
    rates = counts.crossJoin(F.broadcast(feasible)).select(
        stratum_col,
        F.least(F.lit(1.0), F.col("_w") * F.col("_t") / F.col("_n")).alias("_rate"),
    )
    bucket = hash_bucket(F.col(key_col), buckets, salt)
    # +1e-9 before floor: the binding stratum's rate is w*(n/w)/n, which
    # floating point may evaluate one ulp under 1.0 — without the epsilon
    # floor() would drop the top hash bucket (~1/buckets of the stratum),
    # breaking the "binding stratum keeps 100%" contract.  The oracle
    # applies the identical epsilon (same doubles, same result).
    return (
        in_mix.join(F.broadcast(rates), stratum_col)
        .filter(bucket < F.floor(F.col("_rate") * buckets + 1e-9).cast("long"))
        .drop("_rate")
    )


def pack_token_bins(
    df: DataFrame,
    key_col: str,
    size_col: str,
    budget: int,
    shards: int = 64,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Contiguous-fill packing of documents into fixed token budgets
    (the training-batch assembly pass): within each of ``shards`` hash
    shards, documents are ordered by content hash and greedily assigned
    to bins by cumulative size — bin boundaries at
    ``floor((cumsum - size) / budget)``.

    Sharding is the scale decision: a single global cumulative-sum
    window funnels the whole corpus through one task, so packing is done
    per hash shard (deterministic membership, ``shards``-way parallel,
    bounded per-task state).  Bins never span shards; the (shard, bin)
    pair is the global bin id.  Oversized single documents get a bin to
    themselves (contiguous fill never splits a document).

    ``tiebreak_col``: a UNIQUE column appended to the pack order.  The
    cumulative sum is only deterministic under a TOTAL order; when
    ``key_col`` is document CONTENT, byte-identical duplicates tie on
    (hash, content) and each engine breaks the tie its own way — found
    as an sf1-only hash mismatch on the 10x-replicated sweep corpus
    (unique texts at sf<=0.1 masked it).  Pass the row's id column
    whenever ``key_col`` values can repeat.
    """
    h = portable_hash60(F.col(key_col))
    shard = (h % F.lit(shards)).alias("shard")
    order = [h.asc(), F.col(key_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = (
        Window.partitionBy("shard")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn("shard", shard).withColumn(
        "_cum", F.sum(size_col).over(w)
    )
    bin_id = F.floor((F.col("_cum") - F.col(size_col)) / F.lit(budget)).cast("int")
    return out.withColumn("bin", bin_id).drop("_cum")


def hash_topk_per_group(
    df: DataFrame, group_cols: list[str], key_col: str, k: int
) -> DataFrame:
    """Uniform-without-replacement sample of ``k`` rows per group: the k
    smallest content hashes.  Deterministic, engine-independent, and —
    unlike ``rand()``-ordered row_number — identical on every rerun.

    One shuffle on the group key (the window's requirement); per-group
    state is O(1) streaming min-k at execution time.  Ties break on the
    key itself so the result is total-ordered even for duplicate hashes.
    """
    h = portable_hash60(F.col(key_col))
    w = Window.partitionBy(*group_cols).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_sample_rank", F.row_number().over(w))
        .filter(F.col("_sample_rank") <= k)
        .drop("_sample_rank")
    )
