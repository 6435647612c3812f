"""Session-configurable materialization barrier.

Several operators (MinHash/SimHash signatures, shingle streams, LSH
bucket tables, tf-idf term frequencies, iterative connected-components
rounds) must be computed EXACTLY ONCE and then re-read by a downstream
self-join or loop.  Spark's contract for that is a materialization
barrier; there are three implementations with different durability:

* ``local``    -- ``DataFrame.localCheckpoint``: blocks stored on
                  executor local disk/memory.  Fastest; does NOT survive
                  executor loss (a lost block fails the job, it cannot be
                  recomputed because the lineage was truncated).  Right
                  for local-mode and short-lived jobs.
* ``reliable`` -- ``DataFrame.checkpoint``: blocks written to the
                  cluster checkpoint directory (HDFS/object store, set
                  via ``SparkContext.setCheckpointDir``).  Survives
                  executor loss — the production choice for multi-hour
                  100 TB runs where losing one executor of a thousand is
                  routine, at the cost of a distributed-FS write.
* ``persist``  -- ``persist(StorageLevel.DISK_ONLY)`` + an eager count.
                  Keeps lineage (so lost blocks ARE recomputed — at the
                  price of re-running the upstream plan) but does NOT
                  truncate the logical plan, so it is unsuitable for the
                  iterative CC loop (plan doubles per round); offered for
                  one-shot barriers where recompute-on-loss is preferred
                  over checkpoint I/O.

The mode is read per-call from the session conf so a cluster deployment
flips ALL barriers with one setting and zero code changes:

    spark.conf.set("spark.graft.materialize.mode", "reliable")
    spark.sparkContext.setCheckpointDir("hdfs:///checkpoints/dedup")

(Default ``local`` — the round-3 behavior, byte-identical plans.)
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

MATERIALIZE_MODE_CONF = "spark.graft.materialize.mode"
_MODES = ("local", "reliable", "persist")


def materialize(df: DataFrame, eager: bool = True, iterative: bool = False) -> DataFrame:
    """Materialize ``df`` once, per the session's durability mode.

    ``eager=False`` defers the job to first use (only meaningful for the
    checkpoint-backed modes; ``persist`` ignores it — persist without an
    action is not a barrier at all, so the count always runs).

    ``iterative=True`` marks a per-round barrier inside a loop, where
    plan truncation is REQUIRED (without it the analyzed plan doubles per
    round); the ``persist`` mode — which materializes but keeps lineage —
    is mapped to ``local`` there rather than silently exploding the plan.
    """
    mode = df.sparkSession.conf.get(MATERIALIZE_MODE_CONF, "local")
    if iterative and mode == "persist":
        mode = "local"
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise RuntimeError(
                "materialize mode 'reliable' needs a checkpoint directory: "
                "call spark.sparkContext.setCheckpointDir('<durable fs path>') "
                "before running the operator"
            )
        return df.checkpoint(eager=eager)
    if mode == "persist":
        out = df.persist(StorageLevel.DISK_ONLY)
        out.count()
        return out
    raise ValueError(f"unknown {MATERIALIZE_MODE_CONF}={mode!r}; expected one of {_MODES}")


def materialize_counted(
    df: DataFrame, iterative: bool = False, **sums: Column | str
) -> tuple[DataFrame, int, dict[str, int]]:
    """``materialize(df, iterative=iterative)`` that also returns the
    barrier's exact row count and one ``sum`` per keyword (a column or
    column name; 0 over no rows).

    The figures are read through ``DataFrame.observe`` from the barrier's
    own job, so a loop that needs its round's size or convergence flag
    pays no second action for it.  A barrier that fails raises from the
    materialization before the observation is read."""
    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("_rows"),
        *[F.sum(c).alias(name) for name, c in sums.items()],
    )
    out = materialize(observed, iterative=iterative)
    got = obs.get
    return out, got["_rows"], {name: got[name] or 0 for name in sums}
