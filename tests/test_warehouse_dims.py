"""The roster warehouse's dims: minted on the driver from one
grouping-sets aggregate, returned as local relations.

* the driver's natural-key order gives the ids Spark's
  ``row_number() OVER (ORDER BY ... ASC NULLS FIRST)`` gives, on keys
  chosen to separate byte, code-point and UTF-16 orders;
* ``build_warehouse`` runs at most three jobs (the barrier, the
  aggregate's map and result jobs), every dim is a ``LocalRelation``
  after optimization, and the seven tables keep their schemas.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from factory_inspectors_db_etl_spark.plans.inspectors_etl import build_warehouse, natural_key_order

# pre-reform Cyrillic, Latin/Cyrillic look-alikes, mixed case, NBSP, the
# empty string, a supplementary-plane character (UTF-16 sorts it before
# U+E000..U+FFFF, UTF-8 bytes and code points after) and its BMP
# neighbours
_ADVERSARIAL = [
    "і", "i", "ѣ", "е", "e", "ѳ", "ф", "ѵ", "и", "v", "а", "a", "с", "c", "о", "o", "р", "p",
    "Москва", "москва", "МОСКВА", "Mосква", "москва\xa0", "\xa0москва", "москва ", "",
    "губернія", "губерния", "губернiя", "\ue000", "\ufb01", "\uffef", "\U0001d538", "\U0001f600",
]
assert len(set(_ADVERSARIAL)) == len(_ADVERSARIAL)


def _spark_order(spark, keys: list[tuple], n_cols: int) -> list[tuple]:
    cols = [f"k{i}" for i in range(n_cols)]
    df = spark.createDataFrame(keys, ", ".join(f"{c} string" for c in cols))
    order = Window.orderBy(*[F.col(c).asc_nulls_first() for c in cols])
    ranked = df.withColumn("rn", F.row_number().over(order)).collect()
    return [tuple(r[c] for c in cols) for r in sorted(ranked, key=lambda r: r["rn"])]


def test_driver_minting_matches_spark_row_number(spark):
    single = [(k,) for k in [*_ADVERSARIAL, None]]
    assert natural_key_order(single) == _spark_order(spark, single, 1)

    # location keys (city_key, gubernia_std, okrug_std) with a null in
    # every component and every combination of components
    part = ["москва", "Москва", "mосква", "", "\xa0", "ѳеодосія", None]
    composite = list(itertools.product(part, ["губернія", "губернiя", None], ["округъ", "", None]))
    assert natural_key_order(composite) == _spark_order(spark, composite, 3)


# the seven tables' schemas as the window-based ETL produced them
_SCHEMAS = {
    "inspectors": "inspector_id int NOT NULL, full_name string, notes string",
    "locations": "location_id int NOT NULL, city_name string, gubernia_name string,"
    " okrug_name string, location_type string NOT NULL",
    "ranks": "rank_id int NOT NULL, abbreviation string, full_name_ru string, rank_type string",
    "professions": "profession_id int NOT NULL, abbreviation string, full_name_ru string",
    "educations": "education_id int NOT NULL, abbreviation string, full_name_ru string",
    "assignments": "assignment_id bigint, inspector_id int, year int, source_file string,"
    " okrug_name string, gubernia_name string, position_role string,"
    " uchastok_identifier string, uchastok_description string, inspector_location_id int,"
    " personnel_raw_string string, rank_id int, profession_id int, education_id int,"
    " start_date_raw string, end_date_raw string, is_acting boolean, is_vacancy boolean,"
    " assignment_notes string, establishments_count int, worker_count int, boiler_count int",
    "rejects": "source_file string, year int, row_idx int, segment_idx int,"
    " reject_reason string, payload string",
}
_DIMS = ("inspectors", "locations", "ranks", "professions", "educations")


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_build_warehouse_job_budget_local_dims_and_schemas(spark, generated_roster, arrow):
    """Three jobs at most, counted on the calling thread's job group plus
    any job that ran without a group (a helper thread's); dims need no
    job to read, with the session's Arrow conf on or off; schemas,
    nullability included, are unchanged."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    arrow_conf = "spark.sql.execution.arrow.pyspark.enabled"
    saved = spark.conf.get(arrow_conf)
    spark.conf.set(arrow_conf, arrow)
    group = f"build_warehouse_budget_arrow_{arrow}"
    sc.setJobGroup(group, "build_warehouse")
    try:
        tables = build_warehouse(spark, f"{generated_roster}/fabric19*.html")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(arrow_conf, saved)
    jobs = set(tracker.getJobIdsForGroup(group))
    jobs |= set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert 1 <= len(jobs) <= 3, sorted(jobs)

    for name in _DIMS:
        plan = tables[name]._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", (name, plan.toString())
    assert {name: df.schema for name, df in tables.items()} == {
        name: StructType.fromDDL(ddl) for name, ddl in _SCHEMAS.items()
    }
    # the ids are dense 1..n in every dim and in the fact
    for name, df in tables.items():
        if name != "rejects":
            id_col = df.columns[0]
            n, lo, hi = df.agg(F.countDistinct(id_col), F.min(id_col), F.max(id_col)).first()
            assert (lo, hi) == (1, n) and n == df.count(), name
