"""Scalar text functions (SURVEY.md §2.3 F1-F8).

``standardize_text`` and ``clean_number`` exist in two forms with
identical semantics:

* ``*_py``  -- plain-Python, used at import time to pre-standardize the
  reference dictionaries (mirroring populate_db_ru_v1.py:92-158) and inside
  the per-document roster pass where per-row Python already runs.
* column form -- pure ``pyspark.sql.functions`` expression chain (the hot
  path: JVM-side, whole-stage-codegen, no UDF).

The name canonicalization runs only inside the per-document pass, so it
has only the Python form.

Behavioral contract follows the reference's ``standardize_text``
(populate_db_ru_v1.py:38-89), ``clean_number`` (:253-262) and the
inspector-name canonicalization (:264-287); a property test asserts the two
forms agree on corpus-like inputs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# -- F1 standardize_text ----------------------------------------------------

# Fixed place-name / abbreviation unifications (populate_db_ru_v1.py:44-56).
PLACE_REPLACEMENTS: list[tuple[str, str]] = [
    ("с.-петербургъ", "с.-петербург"),
    ("с.-петербургь", "с.-петербург"),
    ("с. петербургъ", "с.-петербург"),
    ("с. петербург", "с.-петербург"),
    ("спб.", "с.-петербург"),
    ("нижній-новгородъ", "нижній-новгород"),
    ("нижній новгородъ", "нижній-новгород"),
    ("нахичевань н/д.", "нахичевань-на-дону"),
    ("нахичевань н/д", "нахичевань-на-дону"),
    ("в.-волочокъ", "вышній-волочек"),
    ("вышн.-волочокъ", "вышній-волочек"),
    ("иваново-вознесенскь", "иваново-вознесенск"),
    ("инж.-гех", "инж.-тех"),
]

# Pre-reform orthography char map (populate_db_ru_v1.py:58).
OLD_CHARS = "ѣіѳїѵ"
NEW_CHARS = "еифии"

# Abbreviation unifications applied after char mapping (populate_db_ru_v1.py:68-73).
ABBREV_REPLACEMENTS: list[tuple[str, str]] = [
    ("инж. техн.", "инж.-техн."),
    ("инж. тех.", "инж.-тех."),
    ("инж. мех.", "инж.-мех."),
    ("д-ръ мед.", "д-р мед"),
    ("д-ръ мед", "д-р мед"),
]

# Words whose trailing dot is meaningful and must not be stripped
# (populate_db_ru_v1.py:85).
DOT_KEEP_LITERALS = ["с.", "г.", "д.", "у.", "м."]

_TRAILING_HARD_SIGN = re.compile(r"ъ(?=\s|$|[.,;:!?])")
_TRAILING_SOFT_SIGN = re.compile(r"ь(?=\s|$|[.,;:!?])")
_DOUBLE_DOT = re.compile(r"\s*\.\s*\.(?!\s*[а-яё])")
_SPACE_DOT = re.compile(r"\s*\.(?=\s|$)")
_COMMA_SPACING = re.compile(r"\s*,\s*")
_MULTI_SPACE = re.compile(r"\s+")
_KEEP_DOT_INITIAL = re.compile(r"\b[а-яё]\.$")
_KEEP_DOT_TWO_INITIALS = re.compile(r"\b[а-яё]\.\s*[а-яё]\.$")
_KEEP_DOT_SHORT_ABBREV = re.compile(r"^[а-яё]{1,3}\.$")


def standardize_text_py(text: str | None) -> str | None:
    """Python form of F1 (contract: populate_db_ru_v1.py:38-89)."""
    if text is None:
        return None
    s = str(text).strip()
    if not s:
        return None
    s = s.lower()
    for old, new in PLACE_REPLACEMENTS:
        s = s.replace(old, new)
    s = s.translate(str.maketrans(OLD_CHARS, NEW_CHARS))
    s = _TRAILING_HARD_SIGN.sub("", s)
    s = _TRAILING_SOFT_SIGN.sub("", s)
    for old, new in ABBREV_REPLACEMENTS:
        s = s.replace(old, new)
    s = _DOUBLE_DOT.sub(".", s)
    s = _SPACE_DOT.sub(".", s)
    s = _COMMA_SPACING.sub(", ", s)
    s = _MULTI_SPACE.sub(" ", s).strip()
    if s.endswith(".") or s.endswith(","):
        keep = (
            _KEEP_DOT_INITIAL.search(s)
            or _KEEP_DOT_TWO_INITIALS.search(s)
            or _KEEP_DOT_SHORT_ABBREV.fullmatch(s)
            or s in DOT_KEEP_LITERALS
        )
        if not keep:
            s = s[:-1].strip()
    return s if s else None


def standardize_text(col: Column) -> Column:
    """Columnar form of F1 — same chain as ``standardize_text_py``.

    Java regex supports the lookarounds used by the reference, so every
    step stays a built-in expression (lower/replace/translate/
    regexp_replace/when) with no UDF.

    Every ``\\s`` is used in ``(?U)`` (UNICODE_CHARACTER_CLASS) mode and
    trims are regex-based: Python's ``str.strip()``/``\\s`` treat NBSP
    (U+00A0) etc. as whitespace, Java's defaults do not — without this the
    two forms diverge on NBSP-padded cells (caught by
    tests/test_text_forms_agree.py).
    """

    def utrim(c: Column) -> Column:
        return F.regexp_replace(c, r"(?U)^\s+|\s+$", "")

    s = F.lower(utrim(col))
    for old, new in PLACE_REPLACEMENTS:
        s = F.replace(s, F.lit(old), F.lit(new))
    s = F.translate(s, OLD_CHARS, NEW_CHARS)
    s = F.regexp_replace(s, r"(?U)ъ(?=\s|$|[.,;:!?])", "")
    s = F.regexp_replace(s, r"(?U)ь(?=\s|$|[.,;:!?])", "")
    for old, new in ABBREV_REPLACEMENTS:
        s = F.replace(s, F.lit(old), F.lit(new))
    s = F.regexp_replace(s, r"(?U)\s*\.\s*\.(?!\s*[а-яё])", ".")
    s = F.regexp_replace(s, r"(?U)\s*\.(?=\s|$)", ".")
    s = F.regexp_replace(s, r"(?U)\s*,\s*", ", ")
    s = utrim(F.regexp_replace(s, r"(?U)\s+", " "))
    ends_dot = s.rlike(r"[.,]$")
    keep = (
        s.rlike(r"\b[а-яё]\.$")
        | s.rlike(r"(?U)\b[а-яё]\.\s*[а-яё]\.$")
        | s.rlike(r"^[а-яё]{1,3}\.$")
        | s.isin(DOT_KEEP_LITERALS)
    )
    stripped = utrim(F.regexp_replace(s, r"[.,]$", ""))
    s = F.when(ends_dot & ~keep, stripped).otherwise(s)
    return F.when(s == "", F.lit(None).cast("string")).otherwise(s)


# -- F2 clean_number --------------------------------------------------------

def clean_number_py(num_str: str | None) -> int | None:
    """Python form of F2 (contract: populate_db_ru_v1.py:253-262)."""
    if num_str is None:
        return None
    if isinstance(num_str, (int, float)):
        return num_str
    t = str(num_str).strip()
    if t in ("—", "-", ""):
        return None
    c = re.sub(r"[.,](?=\d{3})", "", t.replace("\xa0", ""))
    c = re.sub(r"[^\d]", "", c)
    return int(c) if c else None


def clean_number(col: Column) -> Column:
    """Columnar form of F2: dash->NULL, strip NBSP + thousands
    separators (``[.,]`` before 3 digits), keep digits, cast int."""
    t = F.trim(F.replace(col, F.lit("\xa0"), F.lit("")))
    c = F.regexp_replace(t, r"[.,](?=\d{3})", "")
    c = F.regexp_replace(c, r"[^0-9]", "")
    return (
        F.when(t.isin("—", "-", ""), F.lit(None))
        .when(c == "", F.lit(None))
        .otherwise(c)
        .cast("int")
    )


# -- F8 personal-name canonicalization --------------------------------------

def canonicalize_person_name_py(name: str | None) -> str | None:
    """Python form: tokenize standardized name, split fused initials,
    sort initials, emit "surname и.о." (contract: populate_db_ru_v1.py:264-287)."""
    std = standardize_text_py(name)
    if not std:
        return None
    initials: list[str] = []
    surname_parts: list[str] = []
    for part in std.split():
        if re.fullmatch(r"[а-яё]\.", part):
            initials.append(part)
        elif re.fullmatch(r"[а-яё]\.[а-яё]\.", part):
            initials.extend([part[:2], part[2:]])
        elif part.endswith(".") and len(part) == 2 and part[0].isalpha():
            initials.append(part)
        elif part.endswith("."):
            surname_parts.append(part)
        else:
            surname_parts.append(part)
    surname = " ".join(surname_parts)
    init_str = "".join(i + "." for i in sorted(i.replace(".", "") for i in initials))
    if surname and init_str:
        return f"{surname} {init_str}"
    return surname or init_str or None
