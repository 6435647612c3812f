"""The scalar text functions exist in two forms — plain-Python (used in
the parser UDF and at import time) and columnar (the JVM hot path).  The
contract (functions/text.py docstring): identical semantics.  This drives
one Spark job over a corpus-mined + adversarial string set and compares
elementwise.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from factory_inspectors_db_etl_spark.functions.text import (
    canonicalize_person_name,
    canonicalize_person_name_py,
    clean_number,
    clean_number_py,
    standardize_text,
    standardize_text_py,
)

ADVERSARIAL = [
    None, "", " ", "—", "-", ".", ",", "..", ". .", "с.", "г.", "СПб. и окрестности",
    "С.-Петербургъ", "с. петербургъ", "Нижній-Новгородъ", "Нахичевань н/д.",
    "инж. техн. Ивановъ", "д-ръ мед. Петровъ", "ѣіѳїѵ", "ъ", "ь", "словоъ",
    "словоь.", "а.", "а. б.", "а.б.", "И. О. Фамилія", "Фамилія И.О.",
    "уч. инж.-тех.", "Вакансія съ 10 дек.", "текстъ  съ   пробѣлами",
    "скобки (примѣчаніе) текстъ", "точка въ концѣ.", "запятая въ концѣ,",
    "1.503", "2.345.678", "12,345", "—142—", "  1 503  ", "\xa01.503\xa0",
]


_TD = re.compile(r"<td[^>]*>(.*?)</td>", re.DOTALL)


def _reference_cells() -> list[str]:
    out = []
    for year in (1901, 1905, 1913):
        with open(f"/root/reference/diplom/fabric{year}.html", encoding="utf-8") as f:
            cells = _TD.findall(f.read())
        out.extend(re.sub(r"<[^>]+>", "", c)[:80] for c in cells[::17][:120])
    return out


def _generated_cells(roster_dir: str) -> list[str]:
    """Every distinct cell text of the generated roster's three layout
    generations (1901, 1905, 1913)."""
    cells: set[str] = set()
    for year in (1901, 1905, 1913):
        with open(f"{roster_dir}/fabric{year}.html", encoding="utf-8") as f:
            cells.update(re.sub(r"<[^>]+>", "", c)[:80] for c in _TD.findall(f.read()))
    return sorted(cells)


@pytest.fixture(scope="module")
def corpus_strings(generated_roster):
    """A deterministic sample of real cell texts from three generations;
    without the reference corpus, the generated roster's cell texts (the
    inputs the ETL's per-document pass standardizes in Python)."""
    try:
        cells = _reference_cells()
    except FileNotFoundError:
        cells = _generated_cells(generated_roster)
    return ADVERSARIAL + cells


def _compare(spark, strings, column_fn, python_fn, cast=None):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)],
        T.StructType([T.StructField("i", T.IntegerType()), T.StructField("s", T.StringType())]),
    )
    got = {r["i"]: r["out"] for r in df.select("i", column_fn(F.col("s")).alias("out")).collect()}
    for i, s in enumerate(strings):
        want = python_fn(s)
        if cast and want is not None:
            want = cast(want)
        assert got[i] == want, f"mismatch on {s!r}: columnar={got[i]!r} python={want!r}"


def test_standardize_forms_agree(spark, corpus_strings):
    _compare(spark, corpus_strings, standardize_text, standardize_text_py)


def test_clean_number_forms_agree(spark, corpus_strings):
    _compare(spark, corpus_strings, clean_number, clean_number_py, cast=int)


def test_name_canonicalization_forms_agree(spark, corpus_strings):
    _compare(spark, corpus_strings, canonicalize_person_name, canonicalize_person_name_py)


def test_sql_surface_registration(spark, sf_dir):
    """The thin SQL surface: views + registered functions answer plain
    spark.sql, and the SQL functions agree with the columnar forms."""
    from pyspark.sql import functions as F

    from factory_inspectors_db_etl_spark.functions.text import standardize_text
    from factory_inspectors_db_etl_spark.sql_surface import register_sql_surface

    register_sql_surface(spark, sf_dir)
    got = spark.sql(
        "SELECT n_name, standardize_text(n_name) AS s, clean_number('1.503') AS n "
        "FROM nation ORDER BY n_name"
    ).collect()
    assert all(r["n"] == 1503 for r in got)
    want = {
        r["n_name"]: r["s"]
        for r in spark.table("nation").select(
            "n_name", standardize_text(F.col("n_name")).alias("s")
        ).collect()
    }
    assert {r["n_name"]: r["s"] for r in got} == want
    # the flagship parser UDF is SQL-reachable (U1 via SQL)
    parsed = spark.sql(
        "SELECT explode(parse_personnel('Иванов И. И.')) AS a"
    ).select("a.name").collect()
    assert len(parsed) == 1 and "иванов" in parsed[0]["name"]
