"""HTML roster reader, Spark-4 native Python UDTF arm (U2, third form).

The roster corpus already has two native reader forms: the
``mapInPandas`` batch reader (``html_table.read_roster_rows``) and the
Python Data Source (``html_roster_source``).  This module adds the form
Spark-4 users reach for first when a function maps one input row to
many output rows: a registered **Python UDTF** invoked as a LATERAL
table function —

    SELECT r.* FROM files f, LATERAL roster_rows_udtf(f.path, f.content) r

All three forms share ``html_table._emit_file_rows`` (single source of
truth for the reference's row-selection semantics — see that module's
docstring for the populate_db_ru_v1.py:503-651 parity notes), so the
row sets are identical by construction and pinned identical by
``tests/test_html_udtf.py``.

Arrow note: the UDTF is registered with ``useArrow=True`` when the
session supports it (Spark 4's arrow-optimized UDTF path batches rows
through Arrow exactly like mapInPandas); the plain-pickle path is the
automatic fallback, with identical semantics.

Scale posture: identical to the batch reader — one file parses in one
task, parallelism = number of files; the UDTF adds no shuffle (LATERAL
over a projected scan).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from .html_table import READER_SCHEMA, _emit_file_rows, read_roster_files, roster_file_year

_FIELD_NAMES = [f.name for f in READER_SCHEMA.fields]


class RosterRowsUDTF:
    """One (path, content) input row -> one output row per roster <tr>."""

    def eval(self, path: str, content: str):  # noqa: D102 — UDTF contract
        named = roster_file_year(path)
        if named is None:
            return  # same warn-and-skip contract as the batch reader
        for row in _emit_file_rows(*named, content or ""):
            yield tuple(row[name] for name in _FIELD_NAMES)


def register_roster_udtf(spark: SparkSession, name: str = "roster_rows_udtf") -> str:
    """Register the UDTF (arrow-optimized where supported) and return its
    SQL name.  Idempotent: re-registration replaces the function."""
    from pyspark.sql.functions import udtf

    try:
        fn = udtf(RosterRowsUDTF, returnType=READER_SCHEMA, useArrow=True)
    except TypeError:  # older signature without useArrow
        fn = udtf(RosterRowsUDTF, returnType=READER_SCHEMA)
    spark.udtf.register(name, fn)
    return name


def read_roster_rows_udtf(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """UDTF-form twin of ``html_table.read_roster_rows``: same schema,
    same rows, driven through a LATERAL table-function call."""
    name = register_roster_udtf(spark)
    raw = read_roster_files(spark, paths)
    # Deterministic digest, not builtin hash() (salted per process via
    # PYTHONHASHSEED, and collidable mod 1e8): stable view names across
    # runs, and distinct path args never replace each other's view.
    view = f"_roster_files_{hashlib.md5(str(paths).encode('utf-8')).hexdigest()[:16]}"
    raw.createOrReplaceTempView(view)
    return spark.sql(f"SELECT r.* FROM {view} f, LATERAL {name}(f.path, f.content) r")
