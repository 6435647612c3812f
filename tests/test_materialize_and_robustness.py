"""Round-4 hardening: the session-configurable materialization barrier
(VERDICT.md r3 "Next round" #5) and the four ADVICE.md r3 robustness
fixes (conf restore on probe failure, loud empty-glob, incremental-dim
bucket passthrough, typed non-convergence fallback).
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.operators import dedup
from factory_inspectors_db_etl_spark.operators.dedup import (
    NonConvergenceError,
    connected_components,
)
from factory_inspectors_db_etl_spark.operators.dims import build_dim_incremental
from factory_inspectors_db_etl_spark.operators.materialize import (
    MATERIALIZE_MODE_CONF,
    materialize,
    materialize_counted,
)
from factory_inspectors_db_etl_spark.plans.catalog import QUERIES


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture
def _restore_mode(spark):
    yield
    spark.conf.unset(MATERIALIZE_MODE_CONF)


def test_materialize_reliable_mode_runs_minhash_green(spark, sf_dir, _restore_mode):
    """Flipping the session conf to the durable checkpoint mode re-runs a
    barrier-heavy query with identical results — the cluster-durability
    toggle the r3 verdict asked for, exercised end to end."""
    baseline = _rows(QUERIES["d_minhash_lsh"](spark, sf_dir))
    ckpt = tempfile.mkdtemp(prefix="graft_ckpt_")
    try:
        spark.sparkContext.setCheckpointDir(ckpt)
        spark.conf.set(MATERIALIZE_MODE_CONF, "reliable")
        assert _rows(QUERIES["d_minhash_lsh"](spark, sf_dir)) == baseline
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_materialize_reliable_without_checkpoint_dir_raises(spark, monkeypatch, _restore_mode):
    """The shared session may already hold a checkpoint directory from an
    earlier test, so the context reports none for this one."""
    monkeypatch.setattr(spark.sparkContext, "getCheckpointDir", lambda: None)
    spark.conf.set(MATERIALIZE_MODE_CONF, "reliable")
    with pytest.raises(RuntimeError, match="checkpoint directory"):
        materialize(spark.range(3).toDF("x"))


def test_materialize_unknown_mode_raises(spark, _restore_mode):
    """Only ``local`` and ``reliable`` exist; ``persist`` is gone too."""
    for mode in ("ramdisk", "persist"):
        spark.conf.set(MATERIALIZE_MODE_CONF, mode)
        with pytest.raises(ValueError, match=mode):
            materialize(spark.range(3).toDF("x"))


def test_roster_etl_barriers_follow_the_mode(spark, generated_roster, _restore_mode):
    """The roster ETL's per-document pass goes through the engine's
    barrier, so the session's durability mode reaches the warehouse
    build."""
    from factory_inspectors_db_etl_spark.plans.inspectors_etl import build_warehouse

    spark.conf.set(MATERIALIZE_MODE_CONF, "ramdisk")
    with pytest.raises(ValueError, match="ramdisk"):
        build_warehouse(spark, f"{generated_roster}/fabric1905.html")


# --- ADVICE.md r3 fixes -----------------------------------------------------


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_materialize_counted_exact_in_every_mode(spark, tmp_path, _restore_mode, mode):
    """The counted barrier returns the barrier's exact row count and
    named sums from its own job, in every durability mode, and 0 for the
    sums of an empty barrier."""
    if mode == "reliable":
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(MATERIALIZE_MODE_CONF, mode)
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("g")).agg(
        F.count(F.lit(1)).alias("c")
    )
    out, n, sums = materialize_counted(df, big=(F.col("c") > 142).cast("long"), total="c")
    assert n == 7 == out.count()
    assert sums == {"big": 6, "total": 1000}
    assert _rows(out) == _rows(df)
    _, n_empty, sums_empty = materialize_counted(df.filter(F.col("g") < 0), total="c")
    assert (n_empty, sums_empty) == (0, {"total": 0})


def test_materialize_counted_failing_barrier_raises(spark):
    """A barrier whose job fails raises from the materialization instead
    of blocking on an observation that never arrives."""
    from concurrent.futures import ThreadPoolExecutor

    boom = F.udf(lambda x: int("boom"), "long")
    failing = spark.range(10).select(boom("id").alias("b"))
    pool = ThreadPoolExecutor(1)
    try:
        fut = pool.submit(materialize_counted, failing)
        with pytest.raises(Exception, match="boom"):
            fut.result(timeout=180)
    finally:
        pool.shutdown(wait=False)


def test_nanos_probe_restores_conf_on_failure(spark):
    from factory_inspectors_db_etl_spark.sources.tables import read_events

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    with pytest.raises(Exception):
        read_events(spark, "/nonexistent/events.parquet")
    assert spark.conf.get(key, None) == before


def test_load_events_leaves_nanos_conf_unset_on_micros(spark, sf_dir):
    """The testdata's events ``ts`` is TIMESTAMP(MICROS): loading it
    writes nothing into the caller's session conf and still counts every
    row of the file."""
    import pyarrow.parquet as pq

    from factory_inspectors_db_etl_spark.sources.tables import load_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        unset = spark.conf.get(key, None)
        n = load_table(spark, sf_dir, "events").count()
        assert spark.conf.get(key, None) == unset
        assert n == pq.read_metadata(f"{sf_dir}/events.parquet").num_rows > 0
    finally:
        if before is not None:
            spark.conf.set(key, before)


def test_roster_source_empty_glob_raises(spark):
    """A typo'd roster path fails the build loudly instead of building an
    empty warehouse."""
    from pyspark.errors import AnalysisException

    from factory_inspectors_db_etl_spark.plans.inspectors_etl import build_warehouse

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        build_warehouse(spark, "/nonexistent/fabric*.html")


def test_roster_source_remote_scheme_raises():
    from factory_inspectors_db_etl_spark.sources.html_roster_source import (
        HtmlRosterSimpleStreamReader,
    )

    with pytest.raises(ValueError, match="local filesystem only"):
        HtmlRosterSimpleStreamReader({"path": "s3://bucket/fabric*.html"})


def test_build_dim_incremental_bucket_passthrough(spark):
    """The bucket param must change the phase-1 partitioning without
    changing the minted ids (order-preserving bucket contract)."""
    existing = spark.createDataFrame([("aa", 1)], "k string, id int")
    new = spark.createDataFrame([(k,) for k in ("zz", "ab", "ba", "bb", "az")], "k string")
    plain = build_dim_incremental(existing, new, ["k"], "id")
    bucketed = build_dim_incremental(
        existing, new, ["k"], "id", bucket=F.substring("k", 1, 1)
    )
    assert _rows(plain) == _rows(bucketed)
    # and the bucketed plan's windows partition by the coarse bucket, so
    # no full-cardinality B^2 count-join (ADVICE r3 item #3)
    plan = bucketed._jdf.queryExecution().optimizedPlan().toString()
    assert "substring" in plan.lower()


def test_connected_components_raises_typed_nonconvergence(spark):
    chain = spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a long, id_b long")
    with pytest.raises(NonConvergenceError):
        connected_components(chain, max_iters=3)


def test_assign_components_auto_falls_back_to_large_star(spark, monkeypatch):
    """A 40-node chain exceeds 6 min-label rounds; assign_components must
    fall back to large-star (whose own round budget a tight min-label one
    must not starve) and produce the exact components."""
    n = 40
    chain_edges = [(i, i + 1) for i in range(n - 1)]
    chain = spark.createDataFrame(chain_edges, "id_a long, id_b long")
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    monkeypatch.setattr(dedup, "_MIN_LABEL_ROUNDS", 6)
    with pytest.raises(NonConvergenceError):
        connected_components(chain, max_iters=dedup._MIN_LABEL_ROUNDS)
    out = dedup.assign_components(docs, chain, id_col="doc_id")
    got = {r["doc_id"]: r["component_id"] for r in out.collect()}
    assert got == {i: 0 for i in range(n)}


def test_materialize_reliable_survives_source_deletion(spark, tmp_path, _restore_mode):
    """Durability beyond the conf-flip rerun (VERDICT r4 item #7): after a
    RELIABLE checkpoint, the barrier output must be servable with the
    upstream source GONE — the local-mode analog of losing the executors
    that computed it (the checkpoint, not lineage or block memory, is the
    source of truth).  Also pins that real, non-empty block files landed
    in the checkpoint dir."""
    import os
    from pathlib import Path

    src = str(tmp_path / "src")
    spark.range(1000).select(
        F.col("id"), (F.col("id") * 3).alias("v")
    ).write.parquet(src)
    df = spark.read.parquet(src).filter(F.col("v") % 2 == 0)
    expect = _rows(df)

    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    spark.conf.set(MATERIALIZE_MODE_CONF, "reliable")
    m = materialize(df)

    # the checkpoint wrote real block files
    blocks = [p for p in Path(ckpt).rglob("*") if p.is_file() and p.name.startswith("part-")]
    assert blocks and all(os.path.getsize(p) > 0 for p in blocks)

    # source deleted -> lineage is unreplayable; only the checkpoint can serve
    shutil.rmtree(src)
    assert _rows(m) == expect
    # and a fresh scan of the dead source really is unreplayable (sanity:
    # the pass above wasn't some lingering file handle)
    with pytest.raises(Exception):
        spark.read.parquet(src).collect()
