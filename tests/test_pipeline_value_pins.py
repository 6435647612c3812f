"""End-to-end pipeline VALUE pins (VERDICT r4 item #4): the two bench
compositions — the document-warehouse ETL and the corpus training-set
build — were bench-only; their components are individually verified, but
a composition bug (wrong join key between stages, a dropped filter, a
stage wired to the wrong input) could hide behind green components.

Each pin is a golden row count + an order-insensitive sha256 over the
natural-key-sorted canonicalized rows.  If a pin breaks and the diff is
an INTENDED semantic change, re-derive the constant with the printed
value; an unexplained break is a composition regression.
"""

from __future__ import annotations

import hashlib
import math
import os

import pytest

CORPUS = "/root/reference/diplom"
CORPUS = os.environ.get("SPARK_GRAFT_CORPUS", CORPUS)
SF = "/root/testdata/sf0.001"


def _canon_cell(x) -> str:
    if x is None:
        return "NULL"
    if isinstance(x, float):
        return "NULL" if math.isnan(x) else repr(x)
    if isinstance(x, list):
        return "[" + ",".join(_canon_cell(v) for v in x) + "]"
    return str(x)


def _value_hash(df) -> tuple[int, str]:
    rows = sorted("\x1f".join(_canon_cell(c) for c in r) for r in df.collect())
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode("utf-8"))
        h.update(b"\x1e")
    return len(rows), h.hexdigest()[:16]


@pytest.mark.skipif(
    not os.path.isdir(CORPUS), reason=f"reference corpus {CORPUS} absent (set SPARK_GRAFT_CORPUS)"
)
def test_etl_warehouse_build_value_pin(spark):
    from factory_inspectors_db_etl_spark.plans.inspectors_etl import build_warehouse

    tables = build_warehouse(spark, f"{CORPUS}/fabric*.html")
    got = {name: _value_hash(df) for name, df in sorted(tables.items())}
    assert got == {
        "assignments": (4127, "1333b21feaeec2b1"),
        "educations": (19, "4fcc2e996a1caee7"),
        "inspectors": (734, "5fff3b742f34b79e"),
        "locations": (399, "7cd2dc60f3aac4b8"),
        "professions": (26, "930c01d751c1a0e9"),
        "ranks": (46, "bcf06daa013eb50f"),
        "rejects": (6, "6f35a005e94d1bef"),
    }, f"warehouse composition drifted: {got}"


def test_corpus_pipeline_build_value_pin(spark):
    from factory_inspectors_db_etl_spark.plans.corpus_pipeline import build_training_set

    parts = build_training_set(spark, SF)
    got = {
        "kept": _value_hash(parts["kept"].select("doc_id", "component_id", "quality")),
        "splits": _value_hash(parts["splits"].select("doc_id", "split")),
        "packed_train": _value_hash(
            parts["packed_train"].select("shard", "bin", "doc_id")
        ),
        "components": _value_hash(parts["components"].select("doc_id", "component_id")),
    }
    assert got == {
        "kept": (371, "8d00dbf1256809e0"),
        "splits": (371, "f6f191563742a3a0"),
        "packed_train": (359, "b285329fb8074854"),
        "components": (500, "c1771f5c8976bdb9"),
    }, f"corpus pipeline composition drifted: {got}"
