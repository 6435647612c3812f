"""Analytics pack over the warehouse (A2/A3/W7/O5 + date extension) and
the parquet round-trip (S4/S5): one warehouse build of the generated
roster shared module-wide.  Expected counts come from the generator's
ground truth or from DuckDB over the parquet the warehouse was written to.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.plans import inspectors_analytics as A
from factory_inspectors_db_etl_spark.plans.inspectors_etl import build_warehouse, write_warehouse


@pytest.fixture(scope="module")
def warehouse(spark, generated_roster):
    t = build_warehouse(spark, f"{generated_roster}/fabric*.html")
    t["assignments"] = t["assignments"].cache()
    return t


def _duckdb_year_rows(fact_dir: str, year: int) -> int:
    """Rows of one year in a written fact table, counted by DuckDB."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{fact_dir}/*/*.parquet', hive_partitioning = true)"
            f" WHERE year = {year}"
        ).fetchone()[0]
    finally:
        con.close()


def test_regional_rollup_grand_total(warehouse, generated_roster_truth):
    roll = A.regional_rollup(warehouse["assignments"])
    grand = roll.filter(
        "year IS NULL AND okrug_name IS NULL AND gubernia_name IS NULL"
    ).collect()
    assert len(grand) == 1
    assert grand[0]["n_assignments"] == generated_roster_truth["assignments"]
    # rollup grand total equals a direct aggregate
    direct = warehouse["assignments"].agg(F.sum("worker_count")).collect()[0][0]
    assert grand[0]["workers"] == direct


def test_career_trajectories_lag_semantics(warehouse):
    traj = A.career_trajectories(warehouse["assignments"])
    # first observation per inspector has no predecessor
    firsts = traj.filter("prev_year IS NULL").groupBy("inspector_id").count()
    per_inspector = traj.groupBy("inspector_id").count()
    assert firsts.count() == per_inspector.count()
    # a known multi-year career exists (some inspector spans years)
    assert traj.filter("moved_gubernia").count() > 0
    assert traj.filter("prev_year IS NOT NULL AND year < prev_year").count() == 0


def test_career_summary_span(warehouse):
    s = A.career_summary(warehouse["assignments"])
    r = s.agg(F.max("span_years"), F.max("n_gubernias")).collect()[0]
    assert r[0] >= 10  # someone served across the full 1901-1913 range
    assert r[1] >= 2
    assert s.filter("first_year > last_year").count() == 0


def test_education_distribution(warehouse):
    dist = A.education_distribution(warehouse["assignments"], warehouse["educations"])
    assert dist.count() > 0
    assert dist.filter("n_inspectors <= 0").count() == 0


def test_tenure_dates_typed(warehouse):
    d = A.tenure_dates(warehouse["assignments"])
    typed = d.filter("start_date IS NOT NULL")
    assert typed.count() > 0
    # the typed date carries the fact year and a valid month
    bad = typed.filter("year(start_date) != year").count()
    assert bad == 0
    # raw phrase "с 10 дек" style: day matches
    sample = typed.filter("start_date_raw LIKE '%10 дек%'").select("start_date").first()
    if sample:
        assert sample[0].day == 10 and sample[0].month == 12


def test_parse_raw_date_months(spark):
    """Every month token maps to its own month — in particular "март"
    must not be swallowed by its prefix "ма" (the May short form)."""
    cases = [
        ("с 5 янв", 1), ("с 5 января", 1), ("с 5 фев", 2), ("с 5 февраля", 2),
        ("с 5 март", 3), ("с 5 марта", 3), ("с 5 апр", 4), ("с 5 апреля", 4),
        ("с 5 мая", 5), ("с 5 ма", 5), ("с 5 июн", 6), ("с 5 июня", 6),
        ("с 5 июл", 7), ("с 5 июля", 7), ("с 5 авг", 8), ("с 5 августа", 8),
        ("с 5 сент", 9), ("с 5 сентября", 9), ("с 5 окт", 10), ("с 5 октября", 10),
        ("с 5 нояб", 11), ("с 5 ноября", 11), ("с 5 дек", 12), ("с 5 декабря", 12),
    ]
    df = spark.createDataFrame([(raw, 1905, want) for raw, want in cases], "raw string, year int, want int")
    parsed = df.select("raw", "want", A.parse_raw_date(F.col("raw"), F.col("year")).alias("d"))
    for r in parsed.collect():
        assert r["d"] is not None, r["raw"]
        assert r["d"].month == r["want"], f"{r['raw']} -> {r['d']}"
        assert r["d"].day == 5 and r["d"].year == 1905


def test_parse_raw_date_invalid_stays_null(spark):
    df = spark.createDataFrame(
        [("с 31 фев",), ("с 32 янв",), ("жалование",), ("",), (None,)],
        "raw string",
    )
    parsed = df.select(A.parse_raw_date(F.col("raw"), F.lit(1904)).alias("d"))
    assert parsed.filter("d IS NOT NULL").count() == 0


def test_top_mobile_inspectors(warehouse):
    top = A.top_mobile_inspectors(warehouse["assignments"], k=5).collect()
    assert len(top) == 5
    assert all(
        top[i]["n_gubernias"] >= top[i + 1]["n_gubernias"] for i in range(len(top) - 1)
    )


def test_warehouse_roundtrip_partition_pruning(spark, warehouse, generated_roster_truth, tmp_path):
    out = str(tmp_path / "wh")
    write_warehouse(warehouse, out)
    fact = spark.read.parquet(f"{out}/assignments")
    assert fact.count() == generated_roster_truth["assignments"]
    # year partition actually prunes: only one partition directory scanned
    pruned = fact.filter("year = 1905")
    n_1905 = _duckdb_year_rows(f"{out}/assignments", 1905)
    assert n_1905 > 0 and pruned.count() == n_1905
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(year" in plan or "year#" in plan


def test_warehouse_catalog_bootstrap(spark, warehouse, generated_roster_truth, tmp_path):
    from factory_inspectors_db_etl_spark.plans.inspectors_etl import (
        bootstrap_warehouse_catalog,
    )

    spark.sql("DROP DATABASE IF EXISTS wh_test CASCADE")
    bootstrap_warehouse_catalog(spark, warehouse, database="wh_test", location=str(tmp_path / "db"))
    tables = {t.name for t in spark.catalog.listTables("wh_test")}
    assert {"inspectors", "locations", "ranks", "professions", "educations",
            "assignments", "rejects"} <= tables
    # queryable via plain SQL, and the fact partition-prunes on year
    n_assignments = generated_roster_truth["assignments"]
    n = spark.sql("SELECT count(*) AS n FROM wh_test.assignments").collect()[0]["n"]
    assert n == n_assignments
    pruned = spark.sql("SELECT count(*) AS n FROM wh_test.assignments WHERE year = 1905")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(year" in plan or "year#" in plan
    n_1905 = _duckdb_year_rows(str(tmp_path / "db" / "assignments"), 1905)
    assert n_1905 > 0 and pruned.collect()[0]["n"] == n_1905
    # overwrite bootstrap is idempotent (the reference's DROP+CREATE)
    bootstrap_warehouse_catalog(spark, warehouse, database="wh_test", location=str(tmp_path / "db"))
    assert spark.sql("SELECT count(*) AS n FROM wh_test.assignments").collect()[0]["n"] == n_assignments


@pytest.mark.skip(
    reason="S5 documented substitution: the reference's PostgreSQL INSERT "
    "(populate_db_ru_v1.py:765-769) maps to df.write.jdbc; no JDBC endpoint "
    "exists in this environment, so the call shape is pinned but not executed"
)
def test_jdbc_sink_call_shape(spark, warehouse):
    """Sketch of the reference-parity relational sink: batch append of the
    fact table over JDBC.  Each task opens one connection and inserts its
    partition in ``batchsize``-row transactions — the reference's
    per-file-commit semantics at executor parallelism."""
    (
        warehouse["assignments"]
        .write.mode("append")
        .option("batchsize", 10_000)  # rows per INSERT batch per task
        .option("isolationLevel", "READ_COMMITTED")
        .jdbc(
            url="jdbc:postgresql://localhost:5432/factory_inspections",
            table="Assignments",
            properties={"user": "postgres", "driver": "org.postgresql.Driver"},
        )
    )
