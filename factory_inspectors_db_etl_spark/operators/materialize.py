"""Session-configurable materialization barrier.

Several operators (MinHash/SimHash signatures, shingle streams, LSH
bucket tables, tf-idf term frequencies, iterative connected-components
rounds, the roster ETL's per-document pass) must be
computed EXACTLY ONCE and then re-read by a downstream self-join, loop
or writer.  Spark's contract for that is a materialization barrier; the
engine takes every one through this module, in one of two durability
modes:

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

Both modes run the barrier's job before returning and truncate the
plan, so a loop's per-round barrier keeps every round's plan the same
size.  The mode is read per call from the session conf, so a cluster
deployment flips ALL barriers with one setting and zero code changes:

    spark.conf.set("spark.graft.materialize.mode", "reliable")
    spark.sparkContext.setCheckpointDir("hdfs:///checkpoints/dedup")

(Default ``local``.)  Any other value raises ``ValueError``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

MATERIALIZE_MODE_CONF = "spark.graft.materialize.mode"
_MODES = ("local", "reliable")


def materialize(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once, per the session's durability mode.
    Eager: the barrier's job runs before the call returns."""
    mode = df.sparkSession.conf.get(MATERIALIZE_MODE_CONF, "local")
    if mode == "local":
        return df.localCheckpoint()
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise RuntimeError(
                "materialize mode 'reliable' needs a checkpoint directory: "
                "call spark.sparkContext.setCheckpointDir('<durable fs path>') "
                "before running the operator"
            )
        return df.checkpoint()
    raise ValueError(f"unknown {MATERIALIZE_MODE_CONF}={mode!r}; expected one of {_MODES}")


def materialize_counted(
    df: DataFrame, **sums: Column | str
) -> tuple[DataFrame, int, dict[str, int]]:
    """``materialize(df)`` that also returns the barrier's exact row
    count and one ``sum`` per keyword (a column or column name; 0 over
    no rows).

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
    out = materialize(observed)
    got = obs.get
    return out, got["_rows"], {name: got[name] or 0 for name in sums}
