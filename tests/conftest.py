from __future__ import annotations

import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from factory_inspectors_db_etl_spark.session import get_spark

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def gen_roster():
    """The benchmark's seeded roster generator, ``perfbench/gen_roster.py``."""
    spec = importlib.util.spec_from_file_location("_gen_roster", os.path.join(REPO, "perfbench", "gen_roster.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve their module by name
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def generated_roster(gen_roster, tmp_path_factory) -> str:
    """A generated roster (seed 1, scale 1): ``fabric{YYYY}.html`` for the
    generator's 11 years, every layout generation and reader quirk it
    knows, in a directory of its own."""
    d = str(tmp_path_factory.mktemp("generated_roster"))
    gen_roster.generate(d, 1, 1)
    return d


def _tr(*cells: str) -> str:
    return "<tr>" + "".join(f"<td>{c}</td>" for c in cells) + "</tr>"


def _heading(text: str, ncols: int, cls: str) -> str:
    return f'<tr class="{cls}"><td colspan="{ncols}">{text}</td></tr>'


def _doc(rows: list[str], thead: str = "") -> str:
    head = f"<thead>{thead}</thead>" if thead else ""
    return f"<html><body><table>{head}<tbody>" + "\n".join(rows) + "</tbody></table></body></html>"


_G2_TH = "<tr>" + "<th>x</th>" * 6 + "</tr>"
_G2 = [
    _tr("1", "2", "3", "4", "", "6"),
    _heading("Московскій фабричный округъ", 6, "okrug-header"),
    _heading("Московская губернія", 6, "gubernia-header"),
    _tr("Окружный фабричный инспекторъ", "—", "—", "—", "Москва", "Д. С. С. Инж.-тех. В. П. Ивановъ."),
    _tr("Старшій фабричный инспекторъ", "12", "1.503", "3", "»", "К. С. Л. М. Петровъ."),
    _tr("1-й участокъ", "5", "1\xa0234", "—", "Подольскъ", "  Т. С. Б. Ф. Сидоровъ.  "),
    _tr("2-й участокъ", "7", "2.345.678", "1", "»", "»"),
    _tr("3-й уч.", "1", "12,345", "0", "", "Старшій фабричный инспекторъ."),
    _tr("(должность не указана)", "", "", "", "Коломна", "Вакансія."),
    _tr("", "", "", "", "»", "съ 1 января"),
    _tr("Вся губернія составляетъ одинъ участокъ", "3", "44", "5", "Клинъ", "ъъ"),
    _tr("٣-й участокъ", "3", "44", "5", "»", "Инж.-мех. Р. Ш. Бѣлевъ (†).<br>съ 3 мая вакансія."),
    _tr("Кандидатъ на должность фабричнаго инспектора", "3", "44", "5", '"', "И. д. Горн. инж. П. В. Волковъ."),
    _tr("*) сноска", "", "", "", "", ""),
    _tr("1) Надзоръ за паровыми котлами въ губерніи возложенъ на окружного инспектора и прочее"),
    _tr("Примечание: что-то", "", "", "", "", ""),
    _tr("Длинный текстъ безъ цифръ который не является строкой данныхъ вообще"),
    _tr("Длинный текстъ съ цифрой 7 который не является строкой данныхъ вообще"),
    _heading("губернія", 6, "gubernia-header"),
    _tr("4-й участокъ", "1", "2", "3", "Тверь", "»"),
    _heading("Тверская губернія", 6, "gubernia-header"),
    _tr("1-й участокъ", "1", "2", "3", "»", "Старшій фабричный инспекторъ.<br>К. А. М. Б. Шиловъ."),
    _tr("Старшій фабричный инспекторъ", "1", "2", "3", "»", "Н. С. Ф. Р. Юрьевъ."),
    _tr("2-й участокъ", "1", "2", "3", "»", "Старшій инспекторъ."),
    _heading("Владимірскій фабричный округъ", 6, "okrug-header"),
    _heading("Московская губернія", 6, "gubernia-header"),
    _tr("5-й участокъ", "1", "2", "3", "Москва", "Старшій фабричный инспекторъ."),
    _tr("6-й участокъ", "1", "2", "3", "»", "(нет данных)<br>—<br>Вакансія съ 10 дек."),
    _heading("Московскій фабричный округъ", 6, "okrug-header"),
    _heading("Московская губернія", 6, "gubernia-header"),
    _tr("7-й участокъ", "1", "2", "3", "Москва", "Старшій фабричный инспекторъ (см. выше)."),
    _tr("8-й участокъ", "1", "2", "3", "»", "Старшій фабричный инспекторъ."),
    _tr("9-й участокъ", "—", "—", "—", "Серпуховъ", "Неим. чина В. Л. Ромовъ, канд. унив."),
    _tr("10", "—", "—", "—", "»",
        "Инж.-тех. <b>С. В.</b> В. Ф. Даровъ<br/>съ 5 марта по 1 іюня вакансія; съ 1 іюня Ф. П. Кураевъ"),
    _tr("11-й участокъ", "—", "—", "—", "»"),
]
_G1 = [
    "<tr>" + "<th>x</th>" * 4 + "</tr>",
    _tr("1", "2", "", "4"),
    _tr("", "1-й участокъ", "", "В. П. Ивановъ."),
    _tr("Архангельская губернія", "Старшій фабричный инспекторъ", "Архангельскъ", "К. С. Л. М. Петровъ."),
    _tr("", "1-й участокъ", '"', "Старшій фабричный инспекторъ."),
    _tr("Закаспійская область", "2-й участокъ", "Асхабадъ", "Т. С. Б. Ф. Сидоровъ."),
    _tr("", "(должность не указана)", "»", "Вакансія."),
    _heading("С.-Петербургскій фабричный округа", 4, "section-header"),
    _heading("Приморская область", 4, "section-header"),
    _tr("Область Войска Донского", "3-й участокъ", "Новочеркасскъ", "»"),
    _tr("", "4-й участокъ", "»", "Старшій фабричный инспекторъ."),
    _heading("Нѣчто", 4, "section-header"),
    _tr("", "", "»", "В. Ш. Лавровъ"),
    _tr("Войско Донское съ областью", "5-й участокъ", "Черкасскъ", "ъъъ<br>Ф. Р. Юрьевъ"),
    _tr("", "Старшій фабричный инспекторъ", "»", "М. Б. Шиловъ"),
    _tr("", "6-й участокъ", "»", "»"),
    _tr("", "7-й участокъ", "»", "Старшій фабричный инспекторъ"),
    _tr("*) Донская областью сноска", "8-й участокъ", "»", "»"),
    _tr("", "9-й участокъ", "»", "»<br>x"),
]


@pytest.fixture(scope="session")
def quirk_roster(tmp_path_factory) -> str:
    """Four hand-written roster documents for the branches the generator
    never takes: note rows of every kind, exact-role descriptions,
    "(должность не указана)", the whole-gubernia uchastok, non-ASCII
    digits, 1901 area rows and an ASCII location ditto, a name that fails
    to canonicalize, senior markers with and without a carried senior,
    repeated (okrug, gubernia) pairs, the thead-offset quirk (1913 is the
    1906 body behind a ``<thead>``) and a file the pass skips."""
    d = tmp_path_factory.mktemp("quirk_roster")
    (d / "fabric1906.html").write_text(_doc([_G2_TH, *_G2]), encoding="utf-8")
    (d / "fabric1901.html").write_text(_doc(_G1), encoding="utf-8")
    (d / "fabric1913.html").write_text(_doc(_G2, thead=_G2_TH), encoding="utf-8")
    (d / "notes.html").write_text(_doc([_G2_TH, *_G2]), encoding="utf-8")
    return str(d)
