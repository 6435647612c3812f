"""HTML roster table parser (SURVEY.md §2.1 S2/S3, §2.10 U2).

``_emit_file_rows`` parses the first ``<table>`` of one yearly roster
document with the stdlib ``html.parser`` (bs4 is not available in this
environment) and emits one row per ``<tr>`` with a stable in-document
``row_idx``.  Its one production caller is the ETL's per-document pass
(``plans.inspectors_etl._file_assignment_rows``), which reads whole-file
``(path, content)`` rows from ``read_roster_files`` in batch and from the
``html_roster`` stream source in streaming; ``roster_file_year`` decides
which of those files are rosters.

Row-selection and rowspan semantics replicate the reference loader
byte-for-byte (populate_db_ru_v1.py:503-651), including its quirks:

* the first ``len(thead)`` rows OF THE TBODY are skipped (the reference
  counts thead rows but indexes into the tbody row list, :530-551) — so
  each file's first okrug header (and for G2 files the first data row)
  never reaches the data loop;
* header rows are classified BEFORE cell expansion and do not consume
  rowspan counters (:584 continues before :632 decrements), so a data-cell
  rowspan spanning a gubernia header bleeds past it (fabric1906.html:2355);
* short rows are padded with "" to the per-generation schema width;
* the personnel cell keeps inner HTML (``<br>`` intact, entities decoded);
  other cells get bs4-``get_text(strip=True)`` semantics (each text
  fragment stripped, empties dropped, joined with "").

Scale posture: one file = one parse task; per-file state is bounded by
rows-per-document.  Parallelism = number of files, which is the natural
unit of ordering for document corpora (SURVEY.md §4).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import standardize_text_py

# ---------------------------------------------------------------------------
# Minimal DOM for <table> extraction (stdlib only)
# ---------------------------------------------------------------------------


class _Cell:
    __slots__ = ("tag", "attrs", "text_parts", "inner_parts")

    def __init__(self, tag: str, attrs: dict[str, str]):
        self.tag = tag
        self.attrs = attrs
        self.text_parts: list[str] = []
        self.inner_parts: list[str] = []

    def text_stripped(self) -> str:
        # bs4 get_text(strip=True): strip each fragment, drop empties, join ""
        return "".join(t.strip() for t in self.text_parts if t.strip())

    def inner_html(self) -> str:
        return "".join(self.inner_parts)


class _Row:
    __slots__ = ("classes", "cells", "section")

    def __init__(self, classes: list[str], section: str):
        self.classes = classes
        self.section = section  # 'thead' | 'tbody' | 'table'
        self.cells: list[_Cell] = []

    def tds(self) -> list[_Cell]:
        return [c for c in self.cells if c.tag == "td"]

    def ths(self) -> list[_Cell]:
        return [c for c in self.cells if c.tag == "th"]


# the full HTML void-element set: these never have end tags, so they must
# not contribute to cell nesting depth (a lone <img> or <hr> inside a cell
# would otherwise leave the cell "open" and swallow the rest of the row —
# bs4/lxml, which the reference uses, tolerate them)
_VOID_ELEMENTS = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input",
     "link", "meta", "source", "track", "wbr"}
)


class _TableParser(HTMLParser):
    """Collects direct-child rows/cells of the first <table> in the doc,
    with lxml-grade tolerance for malformed historical HTML: void
    elements don't nest, a sibling <td>/<th>/<tr> start tag implicitly
    closes an unclosed cell/row, and nested <table> markup inside a cell
    is preserved verbatim in the cell's inner HTML."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.rows: list[_Row] = []
        self.thead_row_count = 0
        self._table_depth = 0
        self._done = False
        self._section = "table"
        self._row: _Row | None = None
        self._cell: _Cell | None = None
        self._cell_depth = 0

    def _close_cell(self) -> None:
        if self._cell is not None and self._row is not None:
            self._row.cells.append(self._cell)
        self._cell = None
        self._cell_depth = 0

    def _close_row(self) -> None:
        self._close_cell()
        if self._row is not None:
            self.rows.append(self._row)
        self._row = None

    def handle_starttag(self, tag, attrs):
        if self._done:
            return
        if tag == "table":
            if self._cell is not None:
                # nested table inside a cell: keep its markup in the inner
                # HTML and track depth so its </table> closes IT, not us
                self._cell.inner_parts.append(self.get_starttag_text() or "<table>")
                self._cell_depth += 1
                self._table_depth += 1
                return
            self._table_depth += 1
            return
        if self._table_depth == 0:
            return
        if self._cell is not None and self._cell_depth == 0 and tag in ("td", "th", "tr"):
            # malformed sibling start while a cell is open: implicit close
            # (what lxml's parser does), then fall through to normal handling
            if tag == "tr":
                self._close_row()
            else:
                self._close_cell()
        elif self._cell is not None:
            # nested markup inside a cell: keep the raw start tag so the
            # personnel parser sees what decode_contents would produce
            self._cell.inner_parts.append(self.get_starttag_text() or f"<{tag}>")
            if tag not in _VOID_ELEMENTS:
                self._cell_depth += 1
            return
        if tag in ("thead", "tbody"):
            self._section = tag
        elif tag == "tr":
            if self._row is not None:
                self._close_row()  # implicit </tr>
            ad = dict(attrs)
            classes = (ad.get("class") or "").split()
            self._row = _Row(classes, self._section)
            if self._section == "thead":
                self.thead_row_count += 1
        elif tag in ("td", "th") and self._row is not None:
            self._cell = _Cell(tag, dict(attrs))
            self._cell_depth = 0

    def handle_startendtag(self, tag, attrs):
        if self._cell is not None:
            self._cell.inner_parts.append(self.get_starttag_text() or f"<{tag}/>")

    def handle_endtag(self, tag):
        if self._done or self._table_depth == 0:
            return
        if tag == "table":
            if self._cell is not None and self._table_depth > 1:
                # closing a nested table inside a cell
                self._table_depth -= 1
                self._cell_depth = max(0, self._cell_depth - 1)
                self._cell.inner_parts.append("</table>")
                return
            self._table_depth -= 1
            if self._table_depth == 0:
                self._done = True
            return
        if self._cell is not None and tag in ("td", "th") and self._cell_depth == 0:
            self._close_cell()
            return
        if self._cell is not None:
            if tag not in _VOID_ELEMENTS:
                self._cell_depth = max(0, self._cell_depth - 1)
                self._cell.inner_parts.append(f"</{tag}>")
            return
        if tag == "tr" and self._row is not None:
            self._close_row()
        elif tag in ("thead", "tbody"):
            self._section = "table"

    def handle_data(self, data):
        if self._cell is not None:
            self._cell.text_parts.append(data)
            self._cell.inner_parts.append(data)


def parse_first_table(html_text: str) -> tuple[list[_Row], int]:
    p = _TableParser()
    p.feed(html_text)
    # reference: tbody rows if tbody exists else direct table rows (:516-517)
    tbody_rows = [r for r in p.rows if r.section == "tbody"]
    rows = tbody_rows if tbody_rows else [r for r in p.rows if r.section == "table"]
    return rows, p.thead_row_count


# ---------------------------------------------------------------------------
# Reader rows
# ---------------------------------------------------------------------------

READER_SCHEMA = T.StructType(
    [
        T.StructField("source_file", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("row_idx", T.IntegerType()),
        T.StructField("row_kind", T.StringType()),  # okrug_header|gubernia_header|header_1901|data
        T.StructField("okrug_header_std", T.StringType()),
        T.StructField("gubernia_header_std", T.StringType()),
        T.StructField("cell0_raw", T.StringType()),
        T.StructField("desc_raw", T.StringType()),
        T.StructField("est_raw", T.StringType()),
        T.StructField("workers_raw", T.StringType()),
        T.StructField("boilers_raw", T.StringType()),
        T.StructField("loc_raw", T.StringType()),
        T.StructField("personnel_html", T.StringType()),
        T.StructField("n_raw_cells", T.IntegerType()),
    ]
)

# matched against the whole base name: "fabric1905.html.bak" and
# "old_fabric1905.html" are not rosters (the reference opens only names
# from its own config list)
_YEAR_RE = re.compile(r"fabric(\d{4})\.html")


def _classify_header(row: _Row, year: int) -> tuple[str | None, str | None, str | None]:
    """Replicates populate_db_ru_v1.py:556-583.  Returns
    (row_kind or None, okrug_std, gubernia_std)."""
    tds = row.tds()
    first_text = tds[0].text_stripped() if tds else ""
    header_text = re.sub(r"\[\*.*?\]", "", first_text).strip()
    std = standardize_text_py(header_text)
    classes = row.classes
    single_colspan = len(tds) == 1 and tds[0].attrs.get("colspan") is not None

    if (
        "okrug-header" in classes
        or "district-header" in classes
        or (std and ("округъ" in std or "округа" in std) and single_colspan)
    ):
        return "okrug_header", std or "Неизвестно", None
    if (
        "gubernia-header" in classes
        or "oblast-header" in classes
        or (std and ("губернія" in std or "область" in std) and single_colspan)
    ):
        gub = None
        if std:
            gub = (
                std.replace("губернія", "").replace("область", "").replace("губ.", "").strip().rstrip(".")
            )
        # empty extraction -> header row but gubernia unchanged (:573)
        return "gubernia_header", None, gub or None
    if year == 1901 and "section-header" in classes:
        if std and "округъ" in std:
            return "okrug_header", std, None
        if std and "губернія" in std:
            gub = std.replace("губернія", "").strip().rstrip(".")
            return "gubernia_header", None, gub or None
        return "header_1901", None, None
    return None, None, None


def _emit_file_rows(source_file: str, year: int, html_text: str) -> Iterator[dict]:
    rows, thead_count = parse_first_table(html_text)
    if not rows:
        return

    # start-row computation (:528-551): indexes into the tbody row list but
    # offsets by the THEAD row count — reference quirk kept verbatim.
    offset = 0
    for i, row in enumerate(rows):
        if i < thead_count:
            continue
        if row.ths():
            offset = i + 1 - thead_count
            continue
        tds = row.tds()
        if tds:
            single_colspan = len(tds) == 1 and tds[0].attrs.get("colspan") is not None
            special = single_colspan or any(
                c in row.classes
                for c in ["section-header", "district-header", "governorate-header", "okrug-header", "oblast-header"]
            )
            if special:
                offset = i + 1 - thead_count
                continue
        break
    start = thead_count + offset

    expected = 4 if year == 1901 else 6
    if year == 1901:
        desc_i, loc_i, pers_i, stat_i = 1, 2, 3, -1
    else:
        desc_i, loc_i, pers_i, stat_i = 0, 4, 5, 1

    span_pers_content: str | None = None
    span_pers_n = 0
    span_loc_text: str | None = None
    span_loc_n = 0

    for row_idx, row in enumerate(rows[start:]):
        kind, okrug_std, gub_std = _classify_header(row, year)
        if kind is not None:
            # header rows bypass expansion: rowspan counters NOT decremented
            yield {
                "source_file": source_file,
                "year": year,
                "row_idx": row_idx,
                "row_kind": kind,
                "okrug_header_std": okrug_std,
                "gubernia_header_std": gub_std,
                "cell0_raw": None,
                "desc_raw": None,
                "est_raw": None,
                "workers_raw": None,
                "boilers_raw": None,
                "loc_raw": None,
                "personnel_html": None,
                "n_raw_cells": len(row.tds()),
            }
            continue

        raw_cells = row.tds()
        effective: list[str] = []
        consumed = 0
        for col in range(expected):
            content: str | None = None
            use_raw = True
            if col == pers_i and span_pers_n > 0 and span_pers_content is not None:
                content, use_raw = span_pers_content, False
            elif col == loc_i and span_loc_n > 0 and span_loc_text is not None:
                content, use_raw = span_loc_text, False
            if use_raw:
                if consumed < len(raw_cells):
                    cell = raw_cells[consumed]
                    content = cell.inner_html() if col == pers_i else cell.text_stripped()
                    rs = cell.attrs.get("rowspan")
                    if rs:
                        try:
                            n = int(rs)
                            if n > 1:
                                if col == pers_i:
                                    span_pers_content, span_pers_n = content, n
                                elif col == loc_i:
                                    span_loc_text, span_loc_n = content, n
                        except ValueError:
                            pass
                    consumed += 1
                else:
                    content = ""
            effective.append(content if content is not None else "")

        if span_pers_n > 0:
            span_pers_n -= 1
        if span_loc_n > 0:
            span_loc_n -= 1
        if span_pers_n == 0:
            span_pers_content = None
        if span_loc_n == 0:
            span_loc_text = None

        yield {
            "source_file": source_file,
            "year": year,
            "row_idx": row_idx,
            "row_kind": "data",
            "okrug_header_std": None,
            "gubernia_header_std": None,
            "cell0_raw": effective[0],
            "desc_raw": effective[desc_i],
            "est_raw": effective[stat_i] if stat_i >= 0 else None,
            "workers_raw": effective[stat_i + 1] if stat_i >= 0 else None,
            "boilers_raw": effective[stat_i + 2] if stat_i >= 0 else None,
            "loc_raw": effective[loc_i],
            "personnel_html": effective[pers_i],
            "n_raw_cells": len(raw_cells),
        }


def roster_file_year(path: str | None) -> tuple[str, int] | None:
    """(base name, year) of a ``fabric{YYYY}.html`` path; None for any
    other file, which the pass skips (:507 warn-and-skip)."""
    base = (path or "").rsplit("/", 1)[-1]
    m = _YEAR_RE.fullmatch(base)
    return (base, int(m.group(1))) if m else None


def read_roster_files(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Whole-file ``(path, content)`` rows, one per file: the batch input
    of the ETL's per-document pass."""
    return spark.read.text(paths, wholetext=True).select(
        F.input_file_name().alias("path"), F.col("value").alias("content")
    )


def read_roster_rows(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Read yearly roster HTML file(s) into one row per <tr> (B1 schema of
    FIXTURES.md), with the reference's exact row-selection semantics.

    The ETL does not call this: it is kept only for the benchmark's
    personnel-parser probe (``perfbench/workloads.py``), until the next
    benchmark change moves that probe onto the per-document pass."""
    columns = [f.name for f in READER_SCHEMA.fields]

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                named = roster_file_year(path)
                if named is not None:
                    out.extend(_emit_file_rows(*named, content))
            yield pd.DataFrame(out, columns=columns)

    return read_roster_files(spark, paths).mapInPandas(parse, READER_SCHEMA)
