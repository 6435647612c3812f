"""Inspectors-ETL parity tests (SURVEY.md §5.2-5.4).

Layers:
  * pure-Python unit tests for the reader UDTF body and the personnel
    parser (fast, no Spark) — edge cases mined from the corpus;
  * property tests for F1/F2/F8 (standardize/clean_number/name canon);
  * one Spark golden test: full-corpus warehouse row counts pinned.

Reference contract: /root/reference/populate_db_ru_v1.py (see per-test
citations); goldens were produced by this implementation and
spot-checked against the reference's semantics.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from factory_inspectors_db_etl_spark.functions.personnel_parser import parse_personnel
from factory_inspectors_db_etl_spark.functions.text import (
    canonicalize_person_name_py,
    clean_number_py,
    standardize_text_py,
)
from factory_inspectors_db_etl_spark.sources.html_table import _emit_file_rows

CORPUS = "/root/reference/diplom"


def _file_rows(directory: str, year: int) -> list[dict]:
    with open(f"{directory}/fabric{year}.html", encoding="utf-8") as f:
        return list(_emit_file_rows(f"fabric{year}.html", year, f.read()))


def _rows(year: int) -> list[dict]:
    return _file_rows(CORPUS, year)


# ---------------------------------------------------------------------------
# Personnel parser (U1, populate_db_ru_v1.py:304-501)
# ---------------------------------------------------------------------------


def test_parse_simple_name_with_rank_and_prof():
    # fabric1906.html:2347
    out = parse_personnel("Инж.-тех. К. А. Д. Я. Сущевскій.")
    assert len(out) == 1
    a = out[0]
    assert a["name"] == "д. я. сущевский"
    assert a["rank_abbr"] == "к. а."
    assert a["prof_abbr"] == "инж.-тех"
    assert not a["is_vacancy"] and not a["is_acting"]


def test_parse_multi_period_cell_br_split():
    # fabric1905.html:117 — two periods in one cell; the month-only dates
    # ("По іюнь", no day digits) are NOT captured by the reference's date
    # regex, and the second segment becomes a vacancy.
    out = parse_personnel(
        "По іюнь 1905 г. Инж.-тех. Тит. С. В. П. Минкевичъ.<br> съ іюня—вакансія."
    )
    assert len(out) == 2
    assert out[0]["rank_abbr"] == "тит. с."
    assert out[0]["prof_abbr"] == "инж.-тех"
    assert out[1]["is_vacancy"] and out[1]["name"] == "вакансия"


def test_parse_vacancy_with_start_date():
    # fabric1901.html:81-style "Вакансія съ <day> <month>"
    out = parse_personnel("Вакансія съ 10 дек.")
    assert len(out) == 1
    a = out[0]
    assert a["is_vacancy"] and a["name"] == "вакансия"
    assert a["start_date_raw"] == "с 10 дек"


def test_parse_date_only_segment_infers_vacancy():
    # populate_db_ru_v1.py:460-466
    out = parse_personnel("съ 1 января")
    assert len(out) == 1
    assert out[0]["is_vacancy"]
    assert out[0]["name"] == "вакансия (предп. по датам)"
    assert out[0]["start_date_raw"] == "с 1 januar".replace("januar", "января")


def test_parse_acting_flag_and_death_note():
    out = parse_personnel("И. д. Инж.-мех. Н. А. Ивановъ (†)")
    a = out[0]
    assert a["is_acting"]
    assert a["prof_abbr"] == "инж.-мех"
    assert a["name"] == "н. а. иванов"
    assert "Умеръ (†)" in a["notes"]


def test_parse_senior_inspector_marker():
    # populate_db_ru_v1.py:351-359: bare marker -> special_role, no name
    out = parse_personnel("Старшій фабричный инспекторъ.")
    assert len(out) == 1
    assert out[0]["special_role"] == "старший инспектор"
    assert out[0]["name"] is None


def test_parse_longest_match_first_dictionary():
    # 'уч. инж.-тех.' must win over 'инж.-тех.' (populate_db_ru_v1.py:419)
    out = parse_personnel("Уч. инж.-тех. П. П. Петровъ")
    assert out[0]["prof_abbr"] == "уч. инж.-тех"
    assert out[0]["name"] == "п. п. петров"


def test_parse_empty_and_nodata_segments_skipped():
    assert parse_personnel("") == []
    assert parse_personnel(None) == []
    assert parse_personnel("—") == []
    assert parse_personnel("(нет данных)") == []
    out = parse_personnel("Ивановъ<br>—<br>")  # only the parseable part
    assert len(out) == 1 and out[0]["name"] == "иванов"


def test_parse_cross_reference_note():
    out = parse_personnel("П. П. Петровъ (см. выше)")
    assert "Ссылка: (см. выше)" in out[0]["notes"]


# ---------------------------------------------------------------------------
# Reader (U2/S2/S3/W3, populate_db_ru_v1.py:503-651)
# ---------------------------------------------------------------------------


def test_reader_rowspan_bleeds_across_gubernia_header(generated_roster):
    """fabric1906.html:2355: a rowspan=3 personnel cell spans a
    gubernia-header row; header rows do not consume the counter
    (populate_db_ru_v1.py:584 continues before :632), so the value lands
    on the next gubernia's first TWO data rows — the second one's own
    personnel cell is ignored.  The generator plants this at the end of
    a gubernia block: the row after the header lacks its personnel cell."""
    n = 0
    for year in (1901, 1905, 1906, 1913):
        rows = _file_rows(generated_roster, year)
        ncols = 4 if year == 1901 else 6
        for i, r in enumerate(rows[2:-1], start=2):
            if r["row_kind"] != "data" or rows[i - 1]["row_kind"] == "data":
                continue
            if r["n_raw_cells"] != ncols - 1:
                continue
            n += 1
            # the header between them is classified, not expanded
            assert rows[i - 1]["row_kind"] in ("gubernia_header", "header_1901")
            spanned = rows[i - 2]["personnel_html"]
            assert rows[i - 2]["row_kind"] == "data" and spanned
            assert r["personnel_html"] == spanned
            assert rows[i + 1]["n_raw_cells"] == ncols
            assert rows[i + 1]["personnel_html"] == spanned
    assert n >= 4


def test_reader_1901_four_column_layout_and_ascii_ditto(generated_roster, quirk_roster):
    for d in (generated_roster, quirk_roster):
        data = [r for r in _file_rows(d, 1901) if r["row_kind"] == "data"]
        assert data and all(r["est_raw"] is None for r in data)  # G1: no stat columns
    # fabric1901.html:62: ASCII '"' ditto in the location cell
    assert any(r["loc_raw"] == '"' for r in _file_rows(quirk_roster, 1901))


def test_reader_g2_six_column_layout(generated_roster):
    rows = _file_rows(generated_roster, 1905)
    data = [r for r in rows if r["row_kind"] == "data"]
    assert any(r["est_raw"] not in (None, "") for r in data)
    assert any(r["loc_raw"] == "»" for r in data)  # G2 ditto mark


def test_reader_thead_offset_quirk_skips_first_okrug_header(quirk_roster):
    """The reference indexes into the tbody row list but offsets by the
    thead row count (populate_db_ru_v1.py:530-551), so a G2 file with a
    ``<thead>`` loses its first tbody rows — here the column-number row,
    the first okrug header and its gubernia header.  Parity-pinned: the
    quirk roster's 1913 file is its 1906 body behind a ``<thead>``."""

    def body(rows):
        return [{k: v for k, v in r.items() if k not in ("source_file", "year", "row_idx")} for r in rows]

    plain, thead = _file_rows(quirk_roster, 1906), _file_rows(quirk_roster, 1913)
    assert plain[1]["okrug_header_std"] == "московский фабричный округ"
    assert body(thead) == body(plain[3:])
    first_okrug = next(r for r in thead if r["row_kind"] == "okrug_header")
    assert first_okrug["okrug_header_std"] == "владимирский фабричный округ"


def test_reader_row_counts_pinned():
    # golden: total emitted rows per generation representative
    assert len(_rows(1901)) == 371
    assert len(_rows(1905)) == 383
    assert len(_rows(1913)) == 399


@pytest.mark.parametrize("year", [1901, 1905, 1913])
def test_reader_row_idx_dense_and_ordered(generated_roster, year):
    rows = _file_rows(generated_roster, year)
    assert rows and [r["row_idx"] for r in rows] == list(range(len(rows)))


@pytest.mark.parametrize(
    "path, want",
    [
        ("fabric1905.html", ("fabric1905.html", 1905)),
        ("file:///data/diplom/fabric1913.html", ("fabric1913.html", 1913)),
        ("/data/fabric1905.html.bak", None),
        ("/data/old_fabric1905.html", None),
        ("/data/fabric1905.htm", None),
        ("/data/fabric190.html", None),
        ("/data/notes.html", None),
        ("", None),
        (None, None),
    ],
)
def test_roster_file_year(path, want):
    from factory_inspectors_db_etl_spark.sources.html_table import roster_file_year

    assert roster_file_year(path) == want


def test_build_skips_stray_files_beside_rosters(spark, generated_roster, tmp_path):
    """A backup or renamed copy of a roster in the input directory is not
    a roster: building over the directory equals building over the
    ``fabric*.html`` files alone."""
    import json
    import shutil

    from factory_inspectors_db_etl_spark.plans.inspectors_etl import build_warehouse

    def tables(path):
        return {
            name: sorted(json.dumps(r.asDict(), sort_keys=True, default=str) for r in df.collect())
            for name, df in build_warehouse(spark, path).items()
        }

    d = tmp_path / "rosters"
    shutil.copytree(generated_roster, d)
    shutil.copy(d / "fabric1905.html", d / "fabric1905.html.bak")
    shutil.copy(d / "fabric1905.html", d / "old_fabric1905.html")
    dirty = tables(str(d))
    assert dirty == tables(f"{generated_roster}/fabric*.html")
    assert len(dirty["assignments"]) > 0


# ---------------------------------------------------------------------------
# Role classification (F9, populate_db_ru_v1.py:683-698)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "desc, want",
    [
        # an exact ROLE_MAP key (after standardization): role only
        ("Окружный фабричный инспекторъ.", ("Окружный инспектор", None, None)),
        ("Старшій фабричный инспекторъ", ("Старший инспектор", None, None)),
        # "(должность не указана)" with no uchastok number: no description
        ("(должность не указана)", ("Должность не указана", None, None)),
        # a leading number wins over the not-specified marker
        ("3-й участокъ (должность не указана)",
         ("Инспектор участка", "3", "3-й участокъ (должность не указана)")),
        ("Вся губернія составляетъ одинъ участокъ",
         ("Инспектор участка", "Вся губернія", "Вся губернія составляетъ одинъ участокъ")),
        ("3-й участокъ", ("Инспектор участка", "3", "3-й участокъ")),
        ("12 уч.", ("Инспектор участка", "12", "12 уч.")),
        ("", ("Не определена", None, "")),
        (" ", ("Не определена", None, " ")),
        (None, ("Не определена", None, None)),
        # only ASCII spaces count as blank (Spark's trim) ...
        ("\xa0", ("Инспектор участка", None, "\xa0")),
        # ... and only ASCII digits number an uchastok (Java's \d)
        ("٣-й участокъ", ("Инспектор участка", None, "٣-й участокъ")),
        ("３-й участокъ", ("Инспектор участка", None, "３-й участокъ")),
    ],
)
def test_role_classification(desc, want):
    from factory_inspectors_db_etl_spark.plans.inspectors_etl import _classify_role

    assert _classify_role(desc) == want


# ---------------------------------------------------------------------------
# Property tests (F1/F2/F8, SURVEY.md §5.4)
# ---------------------------------------------------------------------------

_corpusish = st.text(
    alphabet="абвгдежзийклмнопрстуфхцчшщъыьэюяѣіѳABCdef .,-—()0123456789»†",
    max_size=60,
)


@given(_corpusish)
@settings(max_examples=200, deadline=None)
def test_standardize_converges_and_normalizes(s):
    # Strict idempotency is NOT a property of the reference: each call
    # strips ONE trailing punctuation/hard-sign per pass
    # (populate_db_ru_v1.py:64-65,81-88), so "ъъ" -> "ъ" -> None and
    # "x,." -> "x," -> "x" take multiple passes (hypothesis-discovered).
    # The true properties: repeated application converges to a fixed
    # point quickly, and every output is whitespace-normalized.
    seen = s
    for _ in range(6):
        nxt = standardize_text_py(seen)
        if nxt is not None:
            assert nxt == nxt.strip(), "output must be trimmed"
            assert "  " not in nxt, "no double spaces in output"
        if nxt == seen:
            return  # fixed point reached
        seen = nxt
    raise AssertionError(f"no fixed point within 6 iterations for {s!r}")


@given(st.one_of(st.none(), st.integers(), _corpusish))
@settings(max_examples=200, deadline=None)
def test_clean_number_total(v):
    out = clean_number_py(v)  # must never raise
    assert out is None or isinstance(out, (int, float))


@given(st.permutations(["а.", "б.", "в."]))
@settings(max_examples=20, deadline=None)
def test_name_canon_invariant_under_initial_order(perm):
    # populate_db_ru_v1.py:281 sorts initials -> permutations collide
    name = "Ивановъ " + " ".join(perm)
    assert canonicalize_person_name_py(name) == canonicalize_person_name_py("Ивановъ а. б. в.")


def test_name_canon_fused_initials_split():
    assert canonicalize_person_name_py("С.Н. Шевалевъ") == canonicalize_person_name_py(
        "Шевалевъ Н. С."
    )


# ---------------------------------------------------------------------------
# Spark goldens: single-file snapshot + full-corpus counts
# ---------------------------------------------------------------------------


def test_warehouse_1905_golden_snapshot(spark):
    """Value-level golden for the G2 representative file: dim contents and
    the first fact rows, natural-key-identified (SURVEY.md §5.2)."""
    from factory_inspectors_db_etl_spark.plans.inspectors_etl import build_warehouse

    t = build_warehouse(spark, f"{CORPUS}/fabric1905.html")
    assert {k: t[k].count() for k in t} == {
        "inspectors": 269, "locations": 131, "ranks": 12, "professions": 11,
        "educations": 2, "assignments": 351, "rejects": 1,
    }
    assert sorted(r["abbreviation"] for r in t["ranks"].collect()) == [
        "г. ск", "д. с. с.", "к. а.", "к. р.", "к. с.", "к. ск",
        "н. с.", "с. с.", "ст. с.", "т. с.", "тит. с.", "тт. с.",
    ]
    assert sorted(r["abbreviation"] for r in t["professions"].collect()) == [
        "воен. инж", "врач", "горн. инж", "д-р мед", "инж.", "инж.-мех",
        "инж.-тех", "инж.-хим", "кораб. инж", "мех.-стр", "тех.",
    ]
    first = [
        (r["assignment_id"], r["gubernia_name"], r["position_role"],
         r["uchastok_identifier"], r["worker_count"], r["is_vacancy"])
        for r in t["assignments"].orderBy("assignment_id").limit(4).collect()
    ]
    # row 3 is the vacancy segment of the multi-period cell at
    # fabric1905.html:117 (same uchastok, same stats, is_vacancy=true)
    assert first == [
        (1, "архангельская губерния", "Старший инспектор", None, None, False),
        (2, "архангельская губерния", "Инспектор участка", "1", 3738, False),
        (3, "архангельская губерния", "Инспектор участка", "1", 3738, True),
        (4, "архангельская губерния", "Инспектор участка", "2", 7245, False),
    ]


def test_warehouse_1901_golden_snapshot(spark):
    """G1 (4-column, ASCII-ditto) generation golden. The leading
    'Неизвестно' gubernias replicate the reference's thead-offset quirk
    (the file's first header rows are swallowed, so the first data rows
    carry no gubernia)."""
    from factory_inspectors_db_etl_spark.plans.inspectors_etl import build_warehouse

    t = build_warehouse(spark, f"{CORPUS}/fabric1901.html")
    assert {k: t[k].count() for k in t} == {
        "inspectors": 267, "locations": 178, "ranks": 14, "professions": 13,
        "educations": 2, "assignments": 354, "rejects": 0,
    }
    first = [
        (r["assignment_id"], r["gubernia_name"], r["position_role"], r["is_vacancy"])
        for r in t["assignments"].orderBy("assignment_id").limit(4).collect()
    ]
    assert first == [
        (1, "Неизвестно", "Инспектор участка", False),
        (2, "Неизвестно", "Инспектор участка", False),
        (3, "архангельская губерния", "Старший инспектор", False),
        (4, "архангельская губерния", "Должность не указана", True),
    ]


def test_warehouse_1913_golden_snapshot(spark):
    """G3 (dot-leader-polluted) generation golden: the richer 1913 markup
    still normalizes into the same star schema."""
    from factory_inspectors_db_etl_spark.plans.inspectors_etl import build_warehouse

    t = build_warehouse(spark, f"{CORPUS}/fabric1913.html")
    assert {k: t[k].count() for k in t} == {
        "inspectors": 298, "locations": 123, "ranks": 16, "professions": 18,
        "educations": 9, "assignments": 413, "rejects": 1,
    }
    assert sorted(r["abbreviation"] for r in t["ranks"].collect()) == [
        "губ. секр", "д. с. с.", "к. а.", "к. сов", "колл асс", "колл. асс",
        "колл. рег", "колл. секр", "колл. сов", "н. с.", "н. ч.",
        "надв. сов", "с с", "с. с.", "тит. с.", "тит. сов",
    ]


def test_warehouse_full_corpus_counts(spark):
    from factory_inspectors_db_etl_spark.plans.inspectors_etl import build_warehouse

    t = build_warehouse(spark, f"{CORPUS}/fabric*.html")
    fact = t["assignments"].cache()
    assert fact.count() == 4127
    per_year = {r["year"]: r["count"] for r in fact.groupBy("year").count().collect()}
    assert per_year == {
        1901: 354, 1902: 351, 1903: 383, 1904: 400, 1905: 351, 1906: 350,
        1907: 356, 1909: 383, 1910: 394, 1912: 392, 1913: 413,
    }
    assert t["inspectors"].count() == 734
    assert t["locations"].count() == 399
    assert t["ranks"].count() == 46
    assert t["professions"].count() == 26
    assert t["educations"].count() == 19
    # every fact row carries the year partition key + the FK columns
    missing_loc = fact.filter("inspector_location_id IS NULL").count()
    assert missing_loc == 0
    # P6 quarantine: the reference's warn-and-drop rows land in `rejects`
    rej = {r["reject_reason"]: r["count"] for r in t["rejects"].groupBy("reject_reason").count().collect()}
    assert rej == {"location_unresolvable": 6}
    fact.unpersist()


def test_refresh_year_partitions_dynamic_overwrite(spark, tmp_path):
    """Dynamic partition overwrite rewrites ONLY the year being
    refreshed: other years' parquet files (inode-identical) survive, the
    refreshed year's rows are replaced, and the conf is restored."""
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F

    from factory_inspectors_db_etl_spark.plans.inspectors_etl import (
        refresh_year_partitions,
    )

    wh = str(tmp_path / "wh")
    base = spark.createDataFrame(
        [(i, 1901 + (i % 3), f"insp{i}") for i in range(30)],
        "assignment_id int, year int, name string",
    )
    base.write.partitionBy("year").parquet(f"{wh}/assignments")
    before = {
        y: sorted(_glob.glob(f"{wh}/assignments/year={y}/*.parquet"))
        for y in (1901, 1902, 1903)
    }
    before_mtimes = {p: _os.stat(p).st_mtime_ns for p in before[1901] + before[1903]}

    fixed_1902 = spark.createDataFrame(
        [(100 + i, 1902, f"fixed{i}") for i in range(5)],
        "assignment_id int, year int, name string",
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    assert spark.conf.get(key, None) in (None, "STATIC", "static")
    refresh_year_partitions(spark, fixed_1902, wh)
    assert spark.conf.get(key, None) in (None, "STATIC", "static"), "conf leaked"

    got = spark.read.parquet(f"{wh}/assignments")
    assert got.filter(F.col("year") == 1902).count() == 5
    assert sorted(
        r.name for r in got.filter(F.col("year") == 1902).collect()
    ) == [f"fixed{i}" for i in range(5)]
    # untouched years: same rows AND same files (not rewritten)
    assert got.filter(F.col("year") != 1902).count() == 20
    for p, m in before_mtimes.items():
        assert _os.stat(p).st_mtime_ns == m, f"{p} was rewritten"


def test_observe_build_metrics_match_recompute(spark, generated_roster):
    """build_warehouse's observe() telemetry must equal a recomputed
    aggregate over the same parsed rows — and must cost zero extra jobs:
    parsed_assignment_rows runs exactly one job, its barrier, and the
    metrics ride it.  Runs on the 1905 file of the reference corpus, or
    of the generated roster when the corpus is absent."""
    from factory_inspectors_db_etl_spark.plans.inspectors_etl import (
        LAST_BUILD_METRICS,
        build_warehouse,
        parsed_assignment_rows,
    )

    path = f"{CORPUS if os.path.isdir(CORPUS) else generated_roster}/fabric1905.html"
    build_warehouse(spark, path)
    m = dict(LAST_BUILD_METRICS)
    sc = spark.sparkContext
    sc.setJobGroup("observe_barrier", "parsed_assignment_rows")
    try:
        a = parsed_assignment_rows(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("observe_barrier")) == 1
    assert dict(LAST_BUILD_METRICS) == m
    expect = a.selectExpr(
        "count(*) AS parsed_rows",
        "sum(CASE WHEN inspector_key IS NULL THEN 1 ELSE 0 END) AS rows_without_inspector",
        "sum(CASE WHEN city_key IS NULL THEN 1 ELSE 0 END) AS rows_without_city",
        "sum(CASE WHEN start_date_raw IS NOT NULL THEN 1 ELSE 0 END) AS rows_with_start_date",
    ).collect()[0].asDict()
    assert m == expect
    assert m["parsed_rows"] > 0
