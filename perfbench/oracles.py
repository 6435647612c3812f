"""DuckDB reference results for the benchmark's correctness checks.

The analytics queries of ``plans/inspectors_analytics.py`` are restated
here in SQL over the warehouse parquet the build wrote; the registry
queries use the engine's own registered ``ORACLES``.  Results compare as
order-insensitive multisets of rows, floats rounded to 6 places.
"""

from __future__ import annotations

import duckdb

from factory_inspectors_db_etl_spark.plans.inspectors_analytics import MONTHS_RU


def _date_sql(raw: str) -> str:
    day = f"regexp_extract({raw}, '(\\d{{1,2}})', 1)"
    tok = f"regexp_extract({raw}, '\\d{{1,2}}\\s+([а-яё.]+)', 1)"
    # longest month keys first, so "март" wins over its prefix "ма"
    whens = " ".join(
        f"WHEN starts_with({tok}, '{k}') THEN {v}"
        for k, v in sorted(MONTHS_RU.items(), key=lambda kv: len(kv[0]), reverse=True)
    )
    month = f"(CASE {whens} ELSE NULL END)"
    max_day = (
        f"(CASE WHEN {month} = 2 THEN (CASE WHEN year % 4 = 0 AND (year % 100 != 0 OR year % 400 = 0)"
        f" THEN 29 ELSE 28 END) WHEN {month} IN (4, 6, 9, 11) THEN 30 ELSE 31 END)"
    )
    valid = (
        f"{day} != '' AND {month} IS NOT NULL AND TRY_CAST({day} AS INT) >= 1"
        f" AND TRY_CAST({day} AS INT) <= {max_day}"
    )
    return f"CASE WHEN {valid} THEN make_date(year, {month}, CAST({day} AS INT)) END"


ANALYTICS_SQL = {
    "regional_rollup": """
        SELECT year, okrug_name, gubernia_name,
               CAST(sum(establishments_count) AS BIGINT), CAST(sum(worker_count) AS BIGINT),
               CAST(sum(boiler_count) AS BIGINT), count(DISTINCT inspector_id), count(*)
        FROM a GROUP BY ROLLUP (year, okrug_name, gubernia_name)""",
    "career_trajectories": """
        SELECT inspector_id, year, gubernia_name, okrug_name, position_role, rank_id,
               inspector_location_id, assignment_id,
               lag(year) OVER w, lag(gubernia_name) OVER w, lag(position_role) OVER w,
               lag(rank_id) OVER w,
               CASE WHEN lag(gubernia_name) OVER w IS NULL THEN NULL
                    ELSE gubernia_name != lag(gubernia_name) OVER w END,
               CASE WHEN lag(rank_id) OVER w IS NULL THEN NULL
                    ELSE rank_id IS DISTINCT FROM lag(rank_id) OVER w END
        FROM a WHERE inspector_id IS NOT NULL
        WINDOW w AS (PARTITION BY inspector_id ORDER BY year, assignment_id)""",
    "career_summary": """
        SELECT inspector_id, min(year), max(year), max(year) - min(year),
               count(DISTINCT gubernia_name), count(DISTINCT position_role), count(*)
        FROM a WHERE inspector_id IS NOT NULL GROUP BY inspector_id""",
    "education_distribution": """
        SELECT year, e.full_name_ru, count(DISTINCT inspector_id)
        FROM a JOIN e USING (education_id) GROUP BY year, e.full_name_ru""",
    "tenure_dates": f"""
        SELECT assignment_id, year, start_date_raw, end_date_raw,
               {_date_sql('start_date_raw')}, {_date_sql('end_date_raw')}
        FROM a""",
    "top_mobile_inspectors": """
        SELECT inspector_id, min(year), max(year), max(year) - min(year),
               count(DISTINCT gubernia_name), count(DISTINCT position_role), count(*)
        FROM a WHERE inspector_id IS NOT NULL GROUP BY inspector_id
        ORDER BY count(DISTINCT gubernia_name) DESC, inspector_id LIMIT 10""",
}


def canonical(rows) -> list[tuple]:
    """Order-insensitive, type-tolerant form of a result set."""
    out = []
    for r in rows:
        out.append(tuple(round(x, 6) if isinstance(x, float) else x for x in r))
    return sorted(out, key=lambda t: tuple((v is None, str(type(v)), v if v is not None else 0) for v in t))


def analytics_reference(warehouse: str) -> dict[str, list[tuple]]:
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW a AS SELECT * FROM read_parquet('{warehouse}/assignments/*/*.parquet', hive_partitioning = true)"
        )
        con.execute(f"CREATE VIEW e AS SELECT * FROM read_parquet('{warehouse}/educations/*.parquet')")
        return {name: canonical(con.execute(sql).fetchall()) for name, sql in ANALYTICS_SQL.items()}
    finally:
        con.close()


def registry_reference(data_dir: str, names: list[str]) -> dict[str, list[tuple]]:
    from factory_inspectors_db_etl_spark.plans.catalog import ORACLES

    con = duckdb.connect()
    try:
        for t in ("lineitem", "orders", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        return {n: canonical(con.execute(ORACLES[n]).fetchall()) for n in names}
    finally:
        con.close()
