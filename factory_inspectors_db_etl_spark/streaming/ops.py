"""Structured Streaming operators (SURVEY.md §2.9).

The reference is strictly batch — its only "incremental" pattern is a new
yearly roster file appearing on disk (populate_db_ru_v1.py:16-21).  That
pattern lives with the ETL: ``plans.inspectors_etl.stream_assignment_rows``
feeds the ``html_roster`` stream source through the batch build's own
per-document pass.  This module provides the general streaming operators:

* ``stream_events`` — parquet file-stream of the synthetic ``events``
  table (event-time ``ts``), the substrate for window/dedup/state ops;
* ``tumbling_counts`` / ``sliding_counts`` / ``session_counts`` —
  watermarked event-time window aggregations (late data beyond the
  watermark is dropped by the engine, not by hand-rolled logic);
* ``streaming_dedup`` — ``dropDuplicatesWithinWatermark`` keyed on
  event_id (at-least-once source -> effectively-once downstream);
* ``stateful_running_stats`` — ``applyInPandasWithState`` per-user
  running aggregate (the custom-stateful-operator shape), plus the
  ``transformWithStateInPandas`` form (``stateful_running_stats_tws``,
  RocksDB-backed state, pyspark >= 4.0);

Every op returns an unstarted streaming DataFrame; ``run_available_now``
executes it to a deterministic finite result (Trigger.AvailableNow ->
in-memory sink) so tests can equate streaming output with the batch
equivalent.  State stores are per-query temp dirs; watermark semantics in
AvailableNow mode process all available data, so batch-equality holds.

Scale posture: window/dedup state is bounded by (watermark horizon x key
cardinality).
"""

from __future__ import annotations

import tempfile
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.tables import load_table

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # TIMESTAMP(NANOS) read as long
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# same shape with a native timestamp ts, for testdata revisions that store
# TIMESTAMP(MICROS) (which the Spark parquet reader handles directly)
EVENTS_SCHEMA_TS = T.StructType(
    [f if f.name != "ts" else T.StructField("ts", T.TimestampType()) for f in EVENTS_SCHEMA.fields]
)


def _events_ts_is_nanos(spark: SparkSession, path: str, column: str = "ts") -> bool:
    """Pyarrow-free physical-unit sniff, mirroring the batch loader
    (``sources/tables.py``): under ``nanosAsLong`` a TIMESTAMP(NANOS)
    column surfaces as ``bigint`` in the batch-read schema.  One
    driver-side footer read, no data scanned — as cheap at 100 TB as at
    1 MB (readStream needs an explicit schema, so the unit must be known
    before the stream is built).  An unreadable footer raises loudly here
    instead of silently mis-routing to the MICROS branch.

    The ``nanosAsLong`` conf is needed only for the probe (and for the
    subsequent NANOS read path); when the column turns out to be MICROS
    the prior value is RESTORED so the probe cannot silently change how
    unrelated NANOS parquet reads behave later in the session."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    # try/finally so a failed probe (missing file, transient FS error)
    # cannot leave the session-wide conf flipped; the conf stays set only
    # on the successful NANOS path, where the caller's read needs it
    is_nanos = False
    try:
        is_nanos = dict(spark.read.parquet(path).dtypes).get(column) == "bigint"
    finally:
        if not is_nanos:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
    return is_nanos


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream the events table with event-time ``ts``.

    The generator has shipped ``ts`` as both TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS) across testdata revisions, so the physical unit is
    sniffed from the footer (mirroring the batch loader's dtype check in
    ``sources/tables.py``).  NANOS: Spark's parquet reader rejects it, so
    read nanos as long and rebuild a TIMESTAMP from epoch micros
    (``timestamp_micros`` — tz-independent).  MICROS: read TimestampType
    directly.  Watermarks reject TIMESTAMP_NTZ, so unlike the batch
    loader this column is tz-aware; with the engine's UTC session the two
    are value-identical."""
    # the file source wants a directory; select just the events file via
    # a glob filter so sibling tables in the sf dir are not picked up
    if _events_ts_is_nanos(spark, f"{sf_dir}/events.parquet"):
        raw = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return (
        spark.readStream.schema(EVENTS_SCHEMA_TS)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def tumbling_counts(events: DataFrame, width: str = "10 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling event-time window counts per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def sliding_counts(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding windows: each event lands in width/slide overlapping windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Session windows (gap-based) per user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def streaming_dedup(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Drop duplicate event_ids within the watermark horizon — bounded
    state, unlike a global dropDuplicates."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("vmax", T.DoubleType()),
    ]
)

_RUNNING_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)


def stateful_running_stats(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Custom stateful operator: per-user running (count, sum, max) via
    ``applyInPandasWithState``.  One state struct per user — the
    user-defined-state analog of the reference's process-global caches,
    here partitioned, fault-tolerant, and watermark-scoped."""

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            n, total, vmax = state.get
        else:
            n, total, vmax = 0, 0.0, float("-inf")
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            if len(pdf):
                vmax = max(vmax, float(pdf["value"].max()))
        state.update((n, total, vmax))
        yield pd.DataFrame(
            [{"user_id": user_id, "n_events": n, "total_value": total, "max_value": vmax}]
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_RUNNING_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_ms", T.LongType()),
        T.StructField("end_ms", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)

_SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.StringType()),
        T.StructField("session_end", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("closed_by", T.StringType()),
    ]
)


def stateful_sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sessionization with EVENT-TIME TIMEOUT — the canonical custom
    stateful operator (``applyInPandasWithState`` +
    ``GroupStateTimeout.EventTimeTimeout``): sessions that close because
    a later event arrives past the gap are emitted immediately
    (``closed_by='gap'``); a user's dangling last session is held in
    state and flushed by the timeout when the WATERMARK passes
    ``session_end + gap`` (``closed_by='timeout'``) — how unbounded
    streams avoid keeping every idle user's state forever.

    Gap semantics and the output formatting match batch w13
    (``q_w13_sessionize``) exactly; the streaming-vs-batch equivalence is
    pinned in tests/test_streaming.py.  State per user is one (start,
    end, count) struct — O(1) per key, watermark-expired; compare
    ``session_window`` (s10) for the built-in form and w13 for the batch
    twin.  Timestamps cross the Arrow boundary as epoch millis and are
    formatted driver-format-free (NTZ arithmetic only)."""
    gap_ms = gap_minutes * 60_000

    def fmt(ms: int) -> str:
        return pd.Timestamp(ms, unit="ms").strftime("%Y-%m-%d %H:%M:%S")

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_ms, end_ms, n = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_start": fmt(start_ms),
                        "session_end": fmt(end_ms),
                        "n_events": n,
                        "closed_by": "timeout",
                    }
                ]
            )
            return
        # interval-sweep merge, NOT an append-only walk: a later batch can
        # deliver an event that is within-watermark but EARLIER than the
        # stored session end (cross-batch reorder) — an append walk would
        # move end_ms backwards and emit end < start sessions.  Treating
        # the stored session as one more interval and sweep-merging the
        # sorted set is order-correct for any within-batch arrival order.
        # (Cross-batch caveat, documented: a session emitted by an
        # observed gap is final; an extreme straggler that batch-mode
        # would have merged into it starts a new session instead.)
        intervals = []
        if state.exists:
            s0, e0, n0 = state.get
            intervals.append((s0, e0, n0))
        for pdf in pdfs:
            intervals.extend(
                (t, t, 1)
                for t in (int(v.value // 1_000_000) for v in pd.to_datetime(pdf["ts"]))
            )
        intervals.sort()
        if not intervals:  # defensive: invoked with no rows and no state
            return
        merged = [intervals[0]]
        for s, e, k in intervals[1:]:
            ps, pe, pk = merged[-1]
            if s - pe <= gap_ms:
                merged[-1] = (ps, max(pe, e), pk + k)
            else:
                merged.append((s, e, k))
        closed = merged[:-1]
        start_ms, end_ms, n = merged[-1]
        state.update((start_ms, end_ms, n))
        # flush the open session when the watermark passes end + gap
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(end_ms + gap_ms, wm + 1))
        if closed:
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_start": fmt(s),
                        "session_end": fmt(e),
                        "n_events": k,
                        "closed_by": "gap",
                    }
                    for s, e, k in closed
                ]
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stateful_running_stats_tws(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Same per-user running (count, sum, max) via the newer
    ``transformWithStateInPandas`` API (SURVEY §2.9 names both stateful
    APIs; ``stateful_running_stats`` above is the ``applyInPandasWithState``
    form).  The two must agree row-for-row — pinned by
    tests/test_streaming.py.

    Differences that matter at scale: transformWithState keeps state in
    the RocksDB state store (required by the API — callers must set
    ``spark.sql.streaming.stateStore.providerClass`` to
    ``RocksDBStateStoreProvider``), which spills to disk instead of
    holding all user state on-heap, and supports per-key timers/TTL for
    state expiry — the right substrate when key cardinality x state size
    outgrows executor memory.  Requires pyspark >= 4.0 AND the
    ``protobuf`` package (the Python<->JVM state-server protocol is
    protobuf-based; the streaming runner crashes at init without it).
    Callers on older/leaner runtimes fall back to
    ``stateful_running_stats`` — same semantics, on-heap state."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState("stats", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            (user_id,) = key
            if self._stats.exists():
                n, total, vmax = self._stats.get()
            else:
                n, total, vmax = 0, 0.0, float("-inf")
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                if len(pdf):
                    vmax = max(vmax, float(pdf["value"].max()))
            self._stats.update((n, total, vmax))
            yield pd.DataFrame(
                [{"user_id": user_id, "n_events": n, "total_value": total, "max_value": vmax}]
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningStats(),
            outputStructType=_RUNNING_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def stream_stream_view_purchase_join(
    views: DataFrame,
    purchases: DataFrame,
    watermark: str = "10 minutes",
    horizon: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: each purchase matched to the
    same user's view events in the preceding ``horizon``.

    State-bounding contract (what makes this survive unbounded streams):
    BOTH sides carry watermarks, and the join condition bounds the
    event-time distance, so the engine evicts buffered rows once the
    watermark passes ``purchase_ts - horizon`` (views) /
    ``view_ts + horizon`` (purchases).  Without the time-range predicate
    the view buffer would grow forever.

    ``how="left_outer"`` keeps purchases with NO qualifying view (NULL
    view columns) — attribution's "organic conversion" rows.  In
    streaming, outer-null rows can only be EMITTED once the watermark
    passes the purchase's join horizon (the engine must be sure no
    matching view can still arrive), so the nulls trail the matched rows
    by up to watermark+horizon — that delay is the semantic price of
    outer joins on unbounded input, and exactly why both watermarks are
    mandatory for this mode.

    ``how="full_outer"`` additionally keeps views that converted nothing
    (NULL purchase columns) — the abandonment side of the funnel; the
    output ``user_id`` coalesces across sides (identical to ``p_user``
    in inner/left mode, where the purchase side is never null).

    ``how="left_semi"`` keeps each qualifying purchase ONCE with no view
    columns (the EXISTS form — "purchases preceded by any view"), which
    is cheaper state-wise than inner: the engine can drop a buffered
    purchase the moment one match is seen instead of holding it for
    every later match, and output volume is bounded by the purchase
    stream, never the match multiplicity."""
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")),
        how,
    )
    if how == "left_semi":
        return joined.select(
            "purchase_id",
            F.col("p_user").alias("user_id"),
            F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_time"),
        )
    return joined.select(
        "purchase_id",
        F.coalesce("p_user", "v_user").alias("user_id"),
        "view_ts",
        "view_value",
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame, key: str = "user_id") -> DataFrame:
    """Stream-static join: every micro-batch of the stream is joined to a
    STATIC batch dimension — the standard fact-enrichment pattern.  No
    watermark or join-state store is needed on either side (unlike
    stream-stream joins): the static side is simply re-planned per
    micro-batch, so a dim updated in place (e.g. by ``foreachBatch`` dim
    maintenance or a CDC merge) is picked up on the next trigger.

    The static side is explicitly broadcast: a broadcastable dim means
    the stream side never shuffles — per-batch latency stays flat as the
    stream scales.  A dim too big to broadcast makes this a per-batch
    shuffle join; at that size prefer pre-bucketing the dim on the key.
    Left join so facts without a dim row survive with NULLs (same
    contract as the batch ETL's J1)."""
    return events.join(F.broadcast(dim), key, "left")


def cdc_snapshot_upsert(
    snapshot_dir: str,
    key_cols: list[str],
    version_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
):
    """foreachBatch MERGE: returns the batch function for a streaming
    changelog writer — each micro-batch is applied to the parquet
    snapshot through ``operators.merge.apply_cdc`` (compaction +
    last-writer-wins upsert/delete), the streaming continuation of the
    batch ``j9`` merge and of the reference's per-file commit loop
    (``populate_db_ru_v1.py:765-769``).

    Snapshot replacement is a local-FS two-phase swap (write staging,
    swap directories) — atomic enough for a single writer; a cluster
    deployment replaces the body with MERGE INTO on a transactional
    table format (Delta/Iceberg), same apply_cdc semantics.  Sequential
    per-batch application equals one global apply as long as the
    version columns order consistently with batch arrival (exactly the
    at-least-once contract the version tiebreak exists for) —
    equivalence pinned in tests/test_streaming.py.

    Failure posture: first-batch detection is an explicit existence
    check, NEVER exception-swallowing — a transient read failure raises
    instead of silently replaying the batch against an empty base (which
    would publish a snapshot missing all prior history).  A crash
    between the two swap renames leaves the previous snapshot intact
    under ``._old_<batch_id>``; the next (retried) batch recovers it
    before applying.
    """
    import glob as _glob
    import os
    import shutil

    from ..operators.merge import apply_cdc

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base_cols = [c for c in batch_df.columns if c not in (op_col, *version_cols)]
        if not os.path.exists(snapshot_dir):
            # crash recovery: a death between the two renames leaves the
            # published snapshot as ._old_<id> — restore the newest one.
            # NUMERIC sort on the batch-id suffix: lexicographic would
            # rank ._old_9 above ._old_10, and combined with a silently
            # failed rmtree of an old dir could restore an ancient
            # snapshot and then delete the current one
            olds = sorted(
                _glob.glob(f"{snapshot_dir}._old_*"),
                key=lambda p: int(p.rsplit("._old_", 1)[1]),
            )
            if olds:
                os.rename(olds[-1], snapshot_dir)
        # stale staging/old dirs from a retried batch must not collide
        for stale in _glob.glob(f"{snapshot_dir}._staging_*") + _glob.glob(
            f"{snapshot_dir}._old_*"
        ):
            shutil.rmtree(stale, ignore_errors=True)
        if os.path.exists(snapshot_dir):
            base = spark.read.parquet(snapshot_dir)  # a read failure RAISES
        else:
            base = batch_df.select(*base_cols).limit(0)
        out = apply_cdc(base, batch_df, key_cols, version_cols, op_col, delete_op)
        staging = f"{snapshot_dir}._staging_{batch_id}"
        # the write reads the CURRENT snapshot while producing staging,
        # then the swap publishes it
        out.write.mode("overwrite").parquet(staging)
        old = f"{snapshot_dir}._old_{batch_id}"
        if os.path.exists(snapshot_dir):
            os.rename(snapshot_dir, old)
        os.rename(staging, snapshot_dir)
        shutil.rmtree(old, ignore_errors=True)

    return _apply


def run_available_now(stream: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Execute a streaming DataFrame to completion (Trigger.AvailableNow)
    into an in-memory table and return it as a batch DataFrame.

    The memory sink cannot recover a checkpoint, so each call is a fresh
    run; for incremental (resume-across-runs, exactly-once) ingestion use
    a file sink with a persistent checkpointLocation — see
    tests/test_streaming.py::test_html_roster_stream_datasource_incremental."""
    spark = stream.sparkSession
    with tempfile.TemporaryDirectory(prefix=f"ckpt_{name}_") as ckpt:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)
