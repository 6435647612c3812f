"""End-to-end inspectors ETL (SURVEY.md §3 EP1/EP2), Spark-first.

The reference's engine is a sequential per-file loop with mutable state
(populate_db_ru_v1.py:520-681).  Here that loop runs as ONE Arrow pass
per document: a ``mapInPandas`` over whole-file ``(path, content)`` rows
parses the table (U2), carries the loop state in Python and emits
assignment-grain rows plus the location rejects, which one
``localCheckpoint`` barrier materializes.  After the barrier the plan is
columnar: dim builds (J2) each materialized once, broadcast FK joins
(J1/J3), fact assembly (W6).  ``stream_assignment_rows`` runs the same
pass over the files the ``html_roster`` stream source emits.

Per-document state (reset per file, bounded by rows-per-document):
  current okrug / gubernia                -> set by header markers and 1901
                                             area rows (W4)
  last location city                      -> resolves the city ditto (W1)
  last qualifying assignment              -> resolves the personnel ditto;
                                             every header marker clears it (W2)
  senior inspector per (okrug, gubernia)  -> carried to senior-marker
                                             segments (J6), else the
                                             "ID не найден" note suffix
  assignment counter                      -> per-file fact ordinal (W6)
  rowspan counters                        -> inside the reader (W3)
  dim caches                              -> build_dim + broadcast joins (J2/J1)

Documented divergences from the reference (SURVEY.md §7):
  * surrogate ids are ordered by natural key (dims) / by (file, row_idx,
    segment_idx) (fact), not insertion order;
  * the senior-inspector DB-fallback's rank/prof/edu re-enrichment across
    header epochs (populate_db_ru_v1.py:738-740) is not replicated — on this
    corpus the fallback never fires with differing values because a gubernia
    appears exactly once per file.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.dictionaries import KNOWN_EDUCATIONS, KNOWN_PROFESSIONS, KNOWN_RANKS, ROLE_MAP_STD
from ..functions.personnel_parser import SENIOR_ROLE, parse_personnel
from ..functions.text import canonicalize_person_name_py, clean_number, standardize_text_py
from ..operators.dims import build_dim, mint_surrogate_ids
from ..sources.html_roster_source import HtmlRosterDataSource

# ``read_roster_rows`` is not used by the fused pass (it reads whole files)
# but stays importable here: benchmark tooling wraps it by this name
from ..sources.html_table import (  # noqa: F401
    _emit_file_rows,
    read_roster_files,
    read_roster_rows,
    roster_file_year,
)

UNKNOWN = "Неизвестно"

# observe()-collected telemetry from the most recent parsed_assignment_rows
# barrier (parsed_rows, rows_without_inspector, rows_without_city,
# rows_with_start_date) — populated by the barrier's own job, no extra pass
LAST_BUILD_METRICS: dict[str, int] = {}

# profession keys that are also education keys are rejected from Professions
# and rerouted to Educations (J5, populate_db_ru_v1.py:215-218,761-762)
_PROF_EDU_OVERLAP = frozenset(KNOWN_PROFESSIONS) & frozenset(KNOWN_EDUCATIONS)

_SENIOR_POSITION = "Старший инспектор"
_SENIOR_NOT_FOUND = "; Обслуж. ст.инсп.(ID не найден)"
_VSYA = "вся губернія составляетъ одинъ участокъ"
_NOT_SPECIFIED = "(должность не указана)"
_UCH_NUM_RE = re.compile(r"[0-9]+")


def _classify_role(desc_raw: str | None) -> tuple[str, str | None, str | None]:
    """F9 role classification (populate_db_ru_v1.py:683-698): returns
    (position_role, uchastok_identifier, uchastok_description).

    "Blank" means empty after stripping ASCII spaces only, and the
    uchastok number is the leading run of ASCII digits: Spark ``trim`` and
    Java ``\\d`` semantics, which the warehouse goldens pin."""
    role_exact = ROLE_MAP_STD.get(standardize_text_py(desc_raw))
    if role_exact is not None:
        return role_exact, None, None
    if desc_raw is None:
        return "Не определена", None, None
    has_desc = desc_raw.strip(" ") != ""
    m = _UCH_NUM_RE.match(desc_raw)
    lower = desc_raw.lower()
    has_vsya = _VSYA in lower
    uch_id = m.group(0) if m else ("Вся губернія" if has_vsya else None)
    if has_desc and m is None and not has_vsya and _NOT_SPECIFIED in lower:
        return "Должность не указана", uch_id, None
    return ("Инспектор участка" if has_desc else "Не определена"), uch_id, desc_raw


_NOTE_PREFIX_RE = re.compile(r"[*)]|1\)")
_NOTE_MARKERS = ("примечание:", "въ пензенской губерніи:", "въ черноморской губ.")
_NOTE_DIGITS_RE = re.compile(r"[05-9]")


def _is_note_row(cell0_raw: str | None, n_raw_cells: int) -> bool:
    """P4 footnote/note-row predicate (populate_db_ru_v1.py:646-650)."""
    first = cell0_raw or ""
    lower = first.lower()
    return bool(
        _NOTE_PREFIX_RE.match(first)
        or any(k in lower for k in _NOTE_MARKERS)
        or (
            n_raw_cells == 1
            and not _NOTE_DIGITS_RE.search(first)
            and len(first) > 30
            and "участокъ" not in lower
            and "инспекторъ" not in lower
        )
    )


def _is_qualifying(a: dict) -> bool:
    """A named, non-vacancy, non-marker assignment: what a later personnel
    ditto "»" in the same header epoch repeats."""
    return a["name"] is not None and not a["is_vacancy"] and a["special_role"] is None


def _area_1901(r: dict) -> str | None:
    """1901 files name the gubernia in the first cell of a data row; such
    a row sets the gubernia and opens a header epoch."""
    cell0_std = standardize_text_py(r["cell0_raw"])
    if cell0_std is None or ("губернія" not in cell0_std and "область" not in cell0_std):
        return None
    return cell0_std.replace("губернія", "").replace("область", "").strip(" ")


def _file_assignment_rows(source_file: str, year: int, html_text: str) -> Iterator[dict]:
    """The reference's per-file loop over one document: reader rows in,
    assignment-grain rows out in document order, plus the rows the
    reference warn-and-drops as reject rows (``reject_reason`` set)."""
    okrug = gubernia = city = ditto = None
    ordinal = 0
    seniors: dict[tuple[str, str], str] = {}
    for r in _emit_file_rows(source_file, year, html_text):
        kind = r["row_kind"]
        # -- W4 header markers; each one opens a new ditto epoch -------------
        if kind == "okrug_header":
            okrug, marker = r["okrug_header_std"], UNKNOWN
        elif kind == "gubernia_header":
            marker = r["gubernia_header_std"]
        else:
            marker = _area_1901(r) if kind == "data" and year == 1901 else None
        if marker is not None:
            gubernia, ditto = marker, None
        # -- P4 note rows ----------------------------------------------------
        if kind != "data" or _is_note_row(r["cell0_raw"], r["n_raw_cells"]):
            continue

        # -- W1 location ditto; no city and no previous -> quarantine (:680)
        loc_std = standardize_text_py(r["loc_raw"])
        if loc_std is not None and loc_std != "»":
            city = loc_std
        personnel = r["personnel_html"]
        if city is None:
            yield {
                "source_file": source_file,
                "year": year,
                "row_idx": r["row_idx"],
                "reject_reason": "location_unresolvable",
                "personnel_raw_string": personnel if personnel is not None else r["desc_raw"],
            }
            continue

        # -- U1 parse + W2 personnel ditto within the epoch ------------------
        if standardize_text_py(personnel) == "»":
            assignments = [ditto] if ditto is not None else []
        else:
            assignments = parse_personnel(personnel)
            qualifying = [a for a in assignments if _is_qualifying(a)]
            if qualifying:
                ditto = qualifying[-1]

        okrug_name = okrug if okrug is not None else UNKNOWN
        gubernia_name = gubernia if gubernia is not None else UNKNOWN
        role, uch_id, uch_desc = _classify_role(r["desc_raw"])
        row = {
            "source_file": source_file,
            "year": year,
            "row_idx": r["row_idx"],
            "okrug_name": okrug_name,
            "gubernia_name": gubernia_name,
            "city_std": city,
            "est_raw": r["est_raw"],
            "workers_raw": r["workers_raw"],
            "boilers_raw": r["boilers_raw"],
            "position_role": role,
            "uchastok_identifier": uch_id,
            "uchastok_description": uch_desc,
            # ASCII spaces only: the stored raw string keeps NBSP padding
            "personnel_raw_string": personnel.strip(" ") if personnel is not None else None,
            "city_key": city.strip(" .,:;"),
            "gubernia_std": standardize_text_py(gubernia_name),
            "okrug_std": standardize_text_py(okrug_name),
        }
        # -- explode; F8 inspector key; J6 senior carry per (okrug, gubernia)
        area_key = (okrug_name, gubernia_name)
        for seg, a in enumerate(assignments):
            name, vacancy, special = a["name"], a["is_vacancy"], a["special_role"]
            key = canonicalize_person_name_py(name) if name is not None and not vacancy else None
            notes = a["notes"]
            if special == SENIOR_ROLE:
                key = seniors.get(area_key)
                if key is None:
                    notes = (notes or "") + _SENIOR_NOT_FOUND
            elif role == _SENIOR_POSITION and not vacancy and special is None and key is not None:
                seniors[area_key] = key
            # a named inspector whose name fails to canonicalize (:748)
            reject = key is None and not vacancy and special is None and name is not None
            if not reject:
                ordinal += 1
            prof = a["prof_abbr"]
            prof_is_edu = prof in _PROF_EDU_OVERLAP
            yield {
                **row,
                **a,
                "segment_idx": seg,
                "reject_reason": "inspector_unparsed" if reject else None,
                "notes": notes.lstrip("; ") if notes is not None else None,
                "inspector_key": key,
                "education_key": prof if prof_is_edu else a["edu_abbr"],
                "profession_key": None if prof_is_edu else prof,
                "global_order": year * 10_000_000 + r["row_idx"] * 1000 + seg,
                "file_ordinal": None if reject else ordinal,
            }


# the pass's output: one row per assignment or reject; reject rows carry
# their quarantine payload in personnel_raw_string
_PASS_DDL = (
    "source_file string, year int, row_idx int, segment_idx int, reject_reason string,"
    " okrug_name string, gubernia_name string, city_std string, est_raw string,"
    " workers_raw string, boilers_raw string, position_role string,"
    " uchastok_identifier string, uchastok_description string,"
    " personnel_raw_string string, name string, rank_abbr string, prof_abbr string,"
    " edu_abbr string, start_date_raw string, end_date_raw string, is_vacancy boolean,"
    " is_acting boolean, notes string, special_role string, inspector_key string,"
    " education_key string, profession_key string, city_key string,"
    " gubernia_std string, okrug_std string, global_order bigint, file_ordinal int"
)
_PASS_COLUMNS = [field.split()[0] for field in _PASS_DDL.split(",")]


def _assignment_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (path, content) batches -> the pass's rows."""
    for pdf in batches:
        out: list[dict] = []
        for path, content in zip(pdf["path"], pdf["content"]):
            named = roster_file_year(path)
            if named is not None:
                out.extend(_file_assignment_rows(*named, content))
        yield pd.DataFrame(out, columns=_PASS_COLUMNS)


def _pass_rows(files: DataFrame) -> DataFrame:
    """Whole-file ``(path, content)`` rows -> the pass's rows, the three
    stats cleaned to numbers: batch and stream run exactly this."""
    rows = files.mapInPandas(_assignment_batches, _PASS_DDL)
    stats = {
        "est_raw": "establishments_count",
        "workers_raw": "worker_count",
        "boilers_raw": "boiler_count",
    }
    return rows.select(
        *[F.col(c) for c in _PASS_COLUMNS if c not in stats],
        *[clean_number(F.col(raw)).alias(out) for raw, out in stats.items()],
    )


def stream_assignment_rows(spark: SparkSession, dir_glob: str) -> DataFrame:
    """Streaming form of the pass, for the reference's one incremental
    pattern, a new yearly file (populate_db_ru_v1.py:16-21): the
    ``html_roster`` source tails ``dir_glob`` (a glob, or a directory of
    ``*.html``) and each new or rewritten roster file runs through the
    same per-document pass as ``parsed_assignment_rows``, exactly once
    per file version (see ``HtmlRosterSimpleStreamReader``).  Returns an
    unstarted streaming DataFrame of the pass's rows before any barrier,
    rejects included (``reject_reason`` set)."""
    spark.dataSource.register(HtmlRosterDataSource)
    return _pass_rows(spark.readStream.format("html_roster").load(dir_glob))


def parsed_assignment_rows(
    spark: SparkSession, paths: str | list[str], return_rejects: bool = False
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Reader through exploded, dim-key-annotated assignment rows (one row
    per assignment, pre-dim-join; ``file_ordinal`` is the row's 1-based
    position among its file's assignments).

    With ``return_rejects=True`` also returns the quarantine DataFrame
    (P6): rows/assignments the reference warn-and-drops
    (populate_db_ru_v1.py:718-719,748-749) routed to a sink with a reason
    column instead of vanishing into logs.

    Eager: the call runs a Spark job before returning, with or without
    ``return_rejects`` — the per-document pass (one task per input split
    of whole files, no shuffle) materialized by one ``localCheckpoint``.
    The barrier keeps the Python pass single-run for every consumer (five
    dims, the fact, the rejects) and truncates the plan they analyze; the
    ``etl_quality`` observation rides its job into ``LAST_BUILD_METRICS``.
    Where executor loss must be survivable, a reliable ``checkpoint()``
    has the same semantics."""
    rows = _pass_rows(read_roster_files(spark, paths))
    kept = F.col("reject_reason").isNull()

    def kept_with(cond: Column) -> Column:
        return F.sum(F.when(kept & cond, 1).otherwise(0))

    obs = Observation("etl_quality")
    rows = rows.observe(
        obs,
        F.count(F.when(kept, 1)).alias("parsed_rows"),
        kept_with(F.col("inspector_key").isNull()).alias("rows_without_inspector"),
        kept_with(F.col("city_key").isNull()).alias("rows_without_city"),
        kept_with(F.col("start_date_raw").isNotNull()).alias("rows_with_start_date"),
    ).localCheckpoint()
    LAST_BUILD_METRICS.clear()
    LAST_BUILD_METRICS.update(obs.get)

    a = rows.filter(kept).drop("reject_reason")
    if not return_rejects:
        return a
    rejects = rows.filter(~kept).select(
        "source_file",
        "year",
        "row_idx",
        "segment_idx",
        "reject_reason",
        F.col("personnel_raw_string").alias("payload"),
    )
    return a, rejects


def _sql_str(s: str) -> str:
    """Escape a python string as a Spark SQL single-quoted literal body."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def _lookup_full_name(key_col: str, dictionary: dict[str, str]) -> Column:
    """FullName_RU lookup with the reference's ±trailing-dot fallback
    (populate_db_ru_v1.py:186-192).

    Rendered as ONE ``F.expr`` CASE string instead of a chain of
    ``F.when`` calls: each Column method is a py4j roundtrip (~1ms), and
    the three dictionary ladders alone cost ~3.2s of plan-build time in
    that form (profiled); a single parsed SQL string is one roundtrip.
    WHEN order is the reverse of dict order, matching the original
    later-entry-wraps-earlier nesting (conditions are mutually exclusive
    per unique keys, so precedence is moot — preserved for fidelity).
    """
    items = [(k, v) for k, v in dictionary.items() if k]
    if not items:
        return F.lit(None).cast("string")
    main = " ".join(
        f"WHEN {key_col} = '{_sql_str(k)}' THEN '{_sql_str(v)}'" for k, v in reversed(items)
    )
    # ±one-trailing-dot fallback, exactly as the reference probes key[:-1]
    # and key+'.'
    fb = []
    for k, v in reversed(items):
        if k.endswith("."):
            fb.append(
                f"WHEN regexp_replace({key_col}, '\\\\.$', '') = '{_sql_str(k[:-1])}'"
                f" THEN '{_sql_str(v)}'"
            )
        else:
            fb.append(
                f"WHEN concat({key_col}, '.') = '{_sql_str(k + '.')}'"
                f" THEN '{_sql_str(v)}'"
            )
    return F.expr(
        f"coalesce(CASE {main} ELSE CAST(NULL AS STRING) END, "
        f"CASE {' '.join(fb)} ELSE CAST(NULL AS STRING) END)"
    )


def _concurrently(fn: Callable[[str, DataFrame], object], items: dict[str, DataFrame]) -> dict:
    """``{name: fn(name, df)}``, the calls submitted from a local
    thread pool so their Spark jobs run concurrently under the scheduler
    (overlapping per-job scheduling and commit latency; with sequential
    calls the cluster idles between small jobs).  The first error
    re-raises."""
    with ThreadPoolExecutor(max_workers=len(items)) as pool:
        return dict(zip(items, pool.map(fn, items.keys(), items.values())))


def build_warehouse(spark: SparkSession, paths: str | list[str]) -> dict[str, DataFrame]:
    """Full star schema from roster HTML files (FIXTURES.md B3), plus the
    ``rejects`` quarantine table (P6).

    Eager: before returning, the call runs the ``parsed_assignment_rows``
    barrier job and then materializes each of the five dims exactly once
    (``localCheckpoint``, the five concurrently).  A dim's write and the
    fact's broadcast join then read the same blocks instead of each
    re-deriving the dim.  The fact and the rejects stay lazy: columnar
    plans over the checkpointed blocks, run by whoever writes them."""
    a, rejects = parsed_assignment_rows(spark, paths, return_rejects=True)

    # bucket = first letter of the name: order-preserving (a string sorts
    # after every string with a smaller first char), so phase-1 windows
    # parallelize over ~30 letter groups instead of one per distinct name
    inspectors = build_dim(
        a.filter(F.col("inspector_key").isNotNull()).select(
            F.col("inspector_key").alias("full_name")
        ),
        ["full_name"],
        "inspector_id",
        bucket=F.substring(F.col("full_name"), 1, 1),
    ).select("inspector_id", "full_name", F.lit(None).cast("string").alias("notes"))

    locations = (
        a.groupBy("city_key", "gubernia_std", "okrug_std")
        .agg(F.min_by("city_std", "global_order").alias("city_name"))
        .withColumn("location_type", F.lit("Город"))
    )
    locations = mint_surrogate_ids(
        locations, ["city_key", "gubernia_std", "okrug_std"], "location_id"
    ).select(
        "location_id", "city_name", "city_key",
        F.col("gubernia_std").alias("gubernia_name"),
        F.col("okrug_std").alias("okrug_name"),
        "location_type",
    )

    def _abbr_dim(key_col: str, id_col: str, dictionary: dict[str, str]) -> DataFrame:
        dim = build_dim(
            a.filter(F.col(key_col).isNotNull()).select(F.col(key_col).alias("abbreviation")),
            ["abbreviation"],
            id_col,
        )
        return dim.select(
            id_col, "abbreviation", _lookup_full_name("abbreviation", dictionary).alias("full_name_ru")
        )

    dims = _concurrently(
        lambda _, dim: dim.localCheckpoint(),
        {
            "inspectors": inspectors,
            "locations": locations,
            "ranks": _abbr_dim("rank_abbr", "rank_id", KNOWN_RANKS).withColumn(
                "rank_type", F.lit(None).cast("string")
            ),
            "professions": _abbr_dim("profession_key", "profession_id", KNOWN_PROFESSIONS),
            "educations": _abbr_dim("education_key", "education_id", KNOWN_EDUCATIONS),
        },
    )

    fact = (
        a.join(
            F.broadcast(
                dims["inspectors"].select(F.col("full_name").alias("inspector_key"), "inspector_id")
            ),
            on="inspector_key",
            how="left",
        )
        .join(
            F.broadcast(
                dims["locations"].select(
                    "location_id",
                    "city_key",
                    F.col("gubernia_name").alias("gubernia_std"),
                    F.col("okrug_name").alias("okrug_std"),
                )
            ),
            on=["city_key", "gubernia_std", "okrug_std"],
            how="left",
        )
        .join(
            F.broadcast(dims["ranks"].select(F.col("abbreviation").alias("rank_abbr"), "rank_id")),
            on="rank_abbr",
            how="left",
        )
        .join(
            F.broadcast(
                dims["professions"].select(
                    F.col("abbreviation").alias("profession_key"), "profession_id"
                )
            ),
            on="profession_key",
            how="left",
        )
        .join(
            F.broadcast(
                dims["educations"].select(
                    F.col("abbreviation").alias("education_key"), "education_id"
                )
            ),
            on="education_key",
            how="left",
        )
    )
    # W6 surrogate ids, two-phase: the pass's per-file ordinal + broadcast
    # cumulative offsets ordered by year — identical ids to a global
    # row_number over global_order (files are disjoint year ranges)
    # without a window or a single-partition funnel.  Offsets = rows in
    # all earlier-year files, via a broadcast inequality self-join over
    # the per-file counts (no cumsum window — see
    # operators.dims.mint_surrogate_ids for the pattern rationale)
    counts = a.groupBy("source_file").agg(
        F.count(F.lit(1)).alias("_n"), F.min("year").alias("_yr")
    )
    cb = counts.select(
        F.col("source_file").alias("_sf2"), F.col("_yr").alias("_yr2"), F.col("_n").alias("_n2")
    )
    # tie-break on source_file so two files sharing a year would get
    # DISJOINT id ranges.  Today the fabric(\d{4}).html name contract
    # makes a tie impossible (one file per year by construction); the
    # tie-break is defense-in-depth for future multi-file-per-year
    # sources, where a year-only inequality would collide ids
    earlier = (F.col("_yr2") < F.col("_yr")) | (
        (F.col("_yr2") == F.col("_yr")) & (F.col("_sf2") < F.col("source_file"))
    )
    offsets = (
        counts.join(F.broadcast(cb), earlier, "left")
        .groupBy("source_file")
        .agg(F.coalesce(F.sum("_n2"), F.lit(0)).alias("_off"))
    )
    fact = fact.join(F.broadcast(offsets), "source_file").select(
        (F.col("file_ordinal") + F.col("_off")).cast("long").alias("assignment_id"),
        "inspector_id",
        "year",
        "source_file",
        "okrug_name",
        "gubernia_name",
        "position_role",
        "uchastok_identifier",
        "uchastok_description",
        F.col("location_id").alias("inspector_location_id"),
        "personnel_raw_string",
        "rank_id",
        "profession_id",
        "education_id",
        "start_date_raw",
        "end_date_raw",
        "is_acting",
        "is_vacancy",
        F.col("notes").alias("assignment_notes"),
        "establishments_count",
        "worker_count",
        "boiler_count",
    )

    return {
        **dims,
        "locations": dims["locations"].drop("city_key"),
        "assignments": fact,
        "rejects": rejects,
    }


def write_warehouse(tables: dict[str, DataFrame], out_dir: str) -> None:
    """S4/S5 sink: parquet star schema, fact partitioned by year (the
    reference's year index -> partition pruning).

    DOCUMENTED SUBSTITUTION (S5): the reference's sink is a PostgreSQL
    row-at-a-time parameterized INSERT with a per-file commit
    (populate_db_ru_v1.py:765-769).  The Spark-native batch equivalent
    is ``df.write.jdbc(url, table, mode="append", properties=...)`` —
    each task opens one connection and batch-inserts its partition
    (``batchsize`` option), which is the same append-with-txn-batching
    semantics at executor parallelism.  This repo standardizes on
    parquet / ``saveAsTable`` instead because (a) no JDBC database
    exists in the test environment, and (b) at the 100 TB design point a
    relational sink is the bottleneck — the warehouse IS the engine's
    storage.  The JDBC form is sketched (and its call shape pinned) in
    tests/test_inspectors_analytics.py::test_jdbc_sink_call_shape, kept
    skip-marked until a reachable JDBC endpoint exists.

    The table writes are independent jobs over already-checkpointed
    inputs, so they run concurrently (each write still parallelizes
    across its own tasks).
    """

    def _write(name: str, df: DataFrame) -> None:
        writer = df.write.mode("overwrite")
        if name == "assignments":
            writer = writer.partitionBy("year")
        writer.parquet(f"{out_dir}/{name}")

    _concurrently(_write, tables)


def bootstrap_warehouse_catalog(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    database: str = "inspectors_wh",
    location: str | None = None,
) -> None:
    """S4 DDL bootstrap, Spark-catalog form (reference: SQL_SCHEMA at
    populate_db_ru_v1.py:160-169 — DROP TABLE CASCADE, CREATE TABLE,
    CREATE INDEX on year/inspector/location/gubernia/okrug).

    The Spark-idiomatic equivalents: ``CREATE DATABASE`` + overwrite
    ``saveAsTable`` (the DROP+CREATE), with the fact table PARTITIONED BY
    year — ``idx_assignments_year`` becomes partition pruning on the year
    directory tree.  The remaining btree indexes map to parquet min/max
    data skipping: the fact is sorted within each year partition on
    (inspector_id, inspector_location_id) so row-group stats prune
    point lookups on those keys.  After this, every table is queryable
    as ``{database}.{name}`` from plain ``spark.sql``.
    """
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}{loc}")
    for name, df in tables.items():
        # the reference's DROP TABLE IF EXISTS ... CASCADE; also guards
        # against a catalog entry pointing at a since-moved location
        spark.sql(f"DROP TABLE IF EXISTS {database}.{name}")
        writer = df.write.mode("overwrite").format("parquet")
        if name == "assignments":
            # repartition by the write-partition key so each task owns
            # whole years (no small-file explosion from every task
            # writing every year), then sort for min/max stat pruning
            df = df.repartition("year").sortWithinPartitions(
                "inspector_id", "inspector_location_id"
            )
            writer = df.write.mode("overwrite").format("parquet").partitionBy("year")
        writer.saveAsTable(f"{database}.{name}")


def refresh_year_partitions(
    spark: SparkSession, assignments: DataFrame, warehouse_dir: str
) -> None:
    """Incremental fact maintenance: overwrite ONLY the year partitions
    present in ``assignments``, leaving every other year's files
    untouched — the corrected-roster-reprocessing case (the reference
    reruns the whole per-file loop; here one year's rows re-land under
    their partition directory and nothing else is rewritten).

    Mechanics: ``partitionOverwriteMode=dynamic`` scopes
    ``mode("overwrite")`` to the partitions the job writes instead of
    truncating the table root (STATIC, the default, would delete all
    years first).  The mode is passed as a per-write
    ``DataFrameWriter.option`` (supported since Spark 2.4), NOT by
    mutating session conf: a session-wide flip — even briefly, with a
    restore — would leak dynamic mode into any concurrent overwrite on
    another thread of the same session.  At 100 TB this is the
    difference between rewriting one partition and rewriting the
    table."""
    (
        assignments.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year")
        .parquet(f"{warehouse_dir}/assignments")
    )
