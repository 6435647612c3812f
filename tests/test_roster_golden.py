"""Value-level goldens for the roster ETL that need no external corpus.

``build_warehouse`` runs over two inputs and all seven tables are
collected and digested:

* ``perfbench/gen_roster.generate(dir, seed, 1)`` for seeds 1 and 2 —
  11 yearly files with every layout generation and reader quirk the
  generator knows;
* the ``quirk_roster`` fixture (``tests/conftest.py``) — four
  hand-written documents for the branches the generator never takes:
  note rows of every kind, exact-role descriptions, "(должность не
  указана)", the whole-gubernia uchastok, non-ASCII digits, 1901 area
  rows in the first cell, a name that fails to canonicalize (an
  ``inspector_unparsed`` reject), senior markers with and without a
  carried senior, repeated (okrug, gubernia) pairs, the thead-offset
  quirk and a file the pass skips.

How the digests were produced: at commit b22c5ca (the window-based ETL
with three checkpoint barriers) ``_digest`` below was applied to each
table built from these exact inputs — every row rendered as one JSON
object with sorted keys and ``default=str``, the lines sorted, joined
with newlines and sha256-hashed.  The digests pin surrogate ids, notes
(including the senior-inspector fallback suffix), roles, uchastok
fields, stats, natural keys and the rejects quarantine, so any rewrite
of the ETL must reproduce the old tables byte for byte.
"""

from __future__ import annotations

import hashlib
import json

import pytest


def _digest(df) -> tuple[int, str]:
    lines = sorted(
        json.dumps(r.asDict(), sort_keys=True, ensure_ascii=False, default=str) for r in df.collect()
    )
    return len(lines), hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


GOLDEN = {
    1: {
        "inspectors": (58, "6567c9c3bedb6def87e0793f34fd9c3be0bb079e7b3009081008bbe759b51ed6"),
        "locations": (46, "1c2f76fd016ec6875721c4d12f0f692094c04d014d6afcd1bb1554335a19cc05"),
        "ranks": (7, "e192bf33006cb34e39807d5278ef7a51479e812e69d4d8037110dd5ec76fc941"),
        "professions": (5, "b9a983974525e057c63270a0788020608a3c5f1ed4ac059aeea182216db9c446"),
        "educations": (2, "955fd4df02b2584a5ed00791c2c1bc5550784de04115e2205c0f28882fe2b3ff"),
        "assignments": (582, "a859385c917deb494915397c206f9210287bc195127287fba5a662f5b0f9790f"),
        "rejects": (11, "70c12646a90107980e31219d1abb3c52b6256d0722f68df30050798f021e0cbe"),
    },
    2: {
        "inspectors": (59, "0d1ca289c50a816ffb864af7ade6225d30ab22d6f74157af1f0f032873c7b43a"),
        "locations": (49, "6027419d18459104c7d053cd1db31fc606e5388f4d8e3702824ebec5e2595aa0"),
        "ranks": (7, "e192bf33006cb34e39807d5278ef7a51479e812e69d4d8037110dd5ec76fc941"),
        "professions": (5, "b9a983974525e057c63270a0788020608a3c5f1ed4ac059aeea182216db9c446"),
        "educations": (2, "955fd4df02b2584a5ed00791c2c1bc5550784de04115e2205c0f28882fe2b3ff"),
        "assignments": (550, "d2685248cb4ce8a2f28cb56eb0e901c93a55bb2878d76e3cb4851a0cfceef4ee"),
        "rejects": (11, "70c12646a90107980e31219d1abb3c52b6256d0722f68df30050798f021e0cbe"),
    },
}
QUIRKS_GOLDEN = {
    "inspectors": (11, "e857fdc7582c2a659b6a174cf12da32a87ce86919184d02919fc3f7f02d41b19"),
    "locations": (18, "5109e55d0158f4d4d880438b37f0457f129c74303b99b42da006a24c9ccbec60"),
    "ranks": (5, "2b606e00015967cdd66fbb70c586c7ccae7977a61e8311b2973fce49a2d31d9c"),
    "professions": (3, "f7b8b0d878226c9b5f312e15285260f4979fab30c9aa9170ef5defd3901b0736"),
    "educations": (1, "bc3191a9db33f8cc1fc4b386b27ff9e9f5aa696435d5812c4c5359ba6092f88e"),
    "assignments": (52, "03a71aea64b2e60e8b64eae56c9229c3faf41a5cc7a5d9740fd2cd2dfa56eedf"),
    "rejects": (4, "b46a2e53851f4b5b99561b0bebcdaf0b16675f4d4e0fd1c13b0eae7e0f321b08"),
}


def _build_digests(spark, d) -> dict:
    from factory_inspectors_db_etl_spark.plans.inspectors_etl import build_warehouse

    return {name: _digest(df) for name, df in build_warehouse(spark, f"{d}/fabric*.html").items()}


@pytest.mark.parametrize("seed", sorted(GOLDEN))
def test_generated_roster_tables_match_golden(spark, tmp_path, gen_roster, seed):
    gen_roster.generate(str(tmp_path), seed, 1)
    assert _build_digests(spark, tmp_path) == GOLDEN[seed]


def test_quirk_roster_tables_match_golden(spark, quirk_roster):
    assert _build_digests(spark, quirk_roster) == QUIRKS_GOLDEN
