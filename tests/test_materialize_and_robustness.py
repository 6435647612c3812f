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

from factory_inspectors_db_etl_spark.operators.dedup import (
    NonConvergenceError,
    assign_components,
    connected_components,
    connected_components_large_star,
)
from factory_inspectors_db_etl_spark.operators.dims import build_dim_incremental
from factory_inspectors_db_etl_spark.operators.materialize import (
    MATERIALIZE_MODE_CONF,
    materialize,
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


def test_materialize_persist_mode_matches(spark, sf_dir, _restore_mode):
    baseline = _rows(QUERIES["d_simhash"](spark, sf_dir))
    spark.conf.set(MATERIALIZE_MODE_CONF, "persist")
    assert _rows(QUERIES["d_simhash"](spark, sf_dir)) == baseline


def test_materialize_persist_mode_iterative_clusters(spark, sf_dir, _restore_mode):
    """persist mode maps to a plan-truncating barrier inside iterative
    loops (materialize(iterative=True)) — the CC query must stay green
    and convergent under every mode."""
    baseline = _rows(QUERIES["d_dedup_clusters"](spark, sf_dir))
    spark.conf.set(MATERIALIZE_MODE_CONF, "persist")
    assert _rows(QUERIES["d_dedup_clusters"](spark, sf_dir)) == baseline


def test_materialize_reliable_without_checkpoint_dir_raises(spark, _restore_mode):
    spark.conf.set(MATERIALIZE_MODE_CONF, "reliable")
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("session already has a checkpoint dir (ordering-dependent)")
    with pytest.raises(RuntimeError, match="checkpoint directory"):
        materialize(spark.range(3).toDF("x"))


def test_materialize_unknown_mode_raises(spark, _restore_mode):
    spark.conf.set(MATERIALIZE_MODE_CONF, "ramdisk")
    with pytest.raises(ValueError, match="ramdisk"):
        materialize(spark.range(3).toDF("x"))


# --- ADVICE.md r3 fixes -----------------------------------------------------


def test_nanos_probe_restores_conf_on_failure(spark):
    from factory_inspectors_db_etl_spark.streaming.ops import _events_ts_is_nanos

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    with pytest.raises(Exception):
        _events_ts_is_nanos(spark, "/nonexistent/events.parquet")
    assert spark.conf.get(key, None) == before


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


def test_assign_components_auto_falls_back_to_large_star(spark):
    """A 40-node chain exceeds 6 min-label rounds; auto must fall back to
    large-star (with a floor of 20 rounds — a tight min-label budget must
    not starve the fallback) and produce the exact components."""
    n = 40
    chain_edges = [(i, i + 1) for i in range(n - 1)]
    chain = spark.createDataFrame(chain_edges, "id_a long, id_b long")
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    out = assign_components(docs, chain, id_col="doc_id", max_iters=6, algorithm="auto")
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
