"""End-to-end inspectors ETL (SURVEY.md §3 EP1/EP2), Spark-first.

The reference's sequential per-file loop with mutable state becomes a pure
DAG: reader UDTF (U2) -> columnar classification/fills (P2-P6, W1-W4, F1-F9)
-> personnel-parser UDF + explode (U1/F4) -> as-of window (J6) -> dim builds
(J2) -> broadcast FK joins (J1/J3) -> fact assembly (W6).

State-to-window mapping (all per-file, ordered by the reader's row_idx):
  current_okrug / current_gubernia     -> forward-fill of header markers (W4)
  last_location_city_std               -> forward-fill of non-ditto cities (W1)
  last_assigned_personnel_for_ditto    -> forward-fill of last qualifying
                                          assignment struct, reset per header
                                          epoch (W2)
  current_senior_inspector_id          -> as-of fill over (file,okrug,gub) (J6)
  rowspan counters                     -> handled inside the reader (W3)
  dim caches                           -> build_dim + broadcast joins (J2/J1)

Documented divergences from the reference (SURVEY.md §7):
  * surrogate ids are ordered by natural key (dims) / by (file, row_idx,
    segment_idx) (fact), not insertion order;
  * the senior-inspector DB-fallback's rank/prof/edu re-enrichment across
    header epochs (populate_db_ru_v1.py:738-740) is not replicated — on this
    corpus the fallback never fires with differing values because a gubernia
    appears exactly once per file.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.dictionaries import KNOWN_EDUCATIONS, KNOWN_PROFESSIONS, KNOWN_RANKS, ROLE_MAP_STD
from ..functions.personnel_parser import parse_personnel_udf
from ..functions.text import canonicalize_person_name, clean_number, standardize_text
from ..operators.dims import build_dim, mint_surrogate_ids
from ..operators.fill import forward_fill_expr
from ..sources.html_table import read_roster_rows

UNKNOWN = "Неизвестно"

# observe()-collected telemetry from the most recent build_warehouse run
# (parsed_rows, rows_without_inspector, rows_without_city,
# rows_with_start_date) — populated by the barrier's own job, no extra pass
LAST_BUILD_METRICS: dict[str, int] = {}

# profession keys that are also education keys are rejected from Professions
# and rerouted to Educations (J5, populate_db_ru_v1.py:215-218,761-762)
_PROF_EDU_OVERLAP = sorted(set(KNOWN_PROFESSIONS) & set(KNOWN_EDUCATIONS))


def _role_columns(df: DataFrame) -> DataFrame:
    """F9 role classification (populate_db_ru_v1.py:683-698).

    ``desc_std`` is materialized once (its own projection) rather than
    inlined per ``when`` branch — inlining the F1 chain 7x blows the
    whole-stage-codegen method-size limit and forces interpreted fallback.
    """
    df = df.withColumn("desc_std", standardize_text(F.col("desc_raw")))
    desc_std = F.col("desc_std")
    role_exact: Column = F.lit(None).cast("string")
    for key, val in ROLE_MAP_STD.items():
        role_exact = F.when(desc_std == key, F.lit(val)).otherwise(role_exact)
    has_desc = F.trim(F.col("desc_raw")) != ""
    uch_num = F.regexp_extract(
        F.col("desc_raw"), r"^(\d+)\s*(?:-?й|-?ый|-? участокъ|-? участокь|-? уч\.)?", 1
    )
    desc_lower = F.lower(F.col("desc_raw"))
    has_vsya = desc_lower.contains("вся губернія составляетъ одинъ участокъ")
    not_specified = (
        has_desc & (uch_num == "") & ~has_vsya & desc_lower.contains("(должность не указана)")
    )
    role = (
        F.when(role_exact.isNotNull(), role_exact)
        .when(not_specified, F.lit("Должность не указана"))
        .when(has_desc, F.lit("Инспектор участка"))
        .otherwise(F.lit("Не определена"))
    )
    uch_id = (
        F.when(role_exact.isNotNull(), F.lit(None).cast("string"))
        .when(uch_num != "", uch_num)
        .when(has_vsya, F.lit("Вся губернія"))
        .otherwise(F.lit(None).cast("string"))
    )
    uch_desc = F.when(
        role_exact.isNotNull() | not_specified, F.lit(None).cast("string")
    ).otherwise(F.col("desc_raw"))
    return (
        df.withColumn("position_role", role)
        .withColumn("uchastok_identifier", uch_id)
        .withColumn("uchastok_description", uch_desc)
        .drop("desc_std")
    )


def _note_row_filter(df: DataFrame) -> Column:
    """P4 footnote/note-row predicate (populate_db_ru_v1.py:646-650);
    True = keep."""
    first = F.coalesce(F.col("cell0_raw"), F.lit(""))
    lower = F.lower(first)
    is_note = (
        first.rlike(r"^[*)]")
        | first.rlike(r"^1\)")
        | lower.contains("примечание:")
        | lower.contains("въ пензенской губерніи:")
        | lower.contains("въ черноморской губ.")
        | (
            (F.col("n_raw_cells") == 1)
            & ~first.rlike("[05-9]")
            & (F.length(first) > 30)
            & ~lower.contains("участокъ")
            & ~lower.contains("инспекторъ")
        )
    )
    return ~is_note


def parsed_assignment_rows(
    spark: SparkSession, paths: str | list[str], return_rejects: bool = False
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Reader through exploded, dim-key-annotated assignment rows (one row
    per assignment, pre-dim-join).

    With ``return_rejects=True`` also returns the quarantine DataFrame
    (P6): rows/assignments the reference warn-and-drops
    (populate_db_ru_v1.py:718-719,748-749) routed to a sink with a reason
    column instead of vanishing into logs.

    Eager: the call runs the reader (the HTML-tokenizer UDTF) as a Spark
    job through its ``localCheckpoint`` barrier before returning, with
    or without ``return_rejects``."""
    # ``cell0_std`` computed once in its own projection (codegen size; see
    # _role_columns docstring).
    # Checkpoint the reader output: the HTML-tokenizer UDTF (U2) is the
    # expensive Python island at the root of EVERY downstream branch (the
    # assignment rows, both reject branches) — without the barrier each
    # branch of the rejects union replayed the full file parse (measured:
    # the rejects table write alone cost ~100s of re-parsing; with the
    # barriers here and in build_warehouse it is seconds).
    # localCheckpoint (not persist): it ALSO truncates the logical plan,
    # so every later withColumn/join doesn't re-analyze the whole upstream
    # tree — eager analysis of the growing plan cost ~75ms per withColumn
    # and ~450ms per join of pure driver time (profiled).  Net effect:
    # build_warehouse() now spends its time EXECUTING the two Python
    # islands once (eager checkpoint), analysis overhead collapses, and
    # the downstream table writes dropped from 13.6/5.0/2.5s to
    # ~1.2/1.5/1.9s (full-corpus warehouse bench 45.6s -> ~15s).  On a
    # multi-tenant cluster where executor loss must be survivable, swap
    # for reliable checkpoint() or persist(MEMORY_AND_DISK_2); semantics
    # are identical.
    rows = read_roster_rows(spark, paths).withColumn(
        "cell0_std", standardize_text(F.col("cell0_raw"))
    ).localCheckpoint()

    per_file = W.partitionBy("source_file").orderBy("row_idx")

    # -- W4 header propagation + reset epochs --------------------------------
    std_cell0 = F.col("cell0_std")
    area_1901 = (
        (F.col("year") == 1901)
        & (F.col("row_kind") == "data")
        & std_cell0.isNotNull()
        & (std_cell0.contains("губернія") | std_cell0.contains("область"))
    )
    area_gub = F.trim(
        F.replace(F.replace(std_cell0, F.lit("губернія"), F.lit("")), F.lit("область"), F.lit(""))
    )
    okrug_marker = F.when(F.col("row_kind") == "okrug_header", F.col("okrug_header_std"))
    gub_marker = (
        F.when(F.col("row_kind") == "okrug_header", F.lit(UNKNOWN))
        .when(
            (F.col("row_kind") == "gubernia_header") & F.col("gubernia_header_std").isNotNull(),
            F.col("gubernia_header_std"),
        )
        .when(area_1901, area_gub)
    )
    reset_marker = (
        (F.col("row_kind") == "okrug_header")
        | ((F.col("row_kind") == "gubernia_header") & F.col("gubernia_header_std").isNotNull())
        | area_1901
    )
    rows = (
        rows.withColumn(
            "okrug_name",
            F.coalesce(forward_fill_expr(okrug_marker, ["source_file"], ["row_idx"]), F.lit(UNKNOWN)),
        )
        .withColumn(
            "gubernia_name",
            F.coalesce(forward_fill_expr(gub_marker, ["source_file"], ["row_idx"]), F.lit(UNKNOWN)),
        )
        .withColumn(
            "header_epoch",
            F.sum(F.when(reset_marker, 1).otherwise(0)).over(
                per_file.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
    )

    # -- data rows, note filter (P4) ----------------------------------------
    data = rows.filter(F.col("row_kind") == "data").filter(_note_row_filter(rows))

    # -- W1 location ditto fill ---------------------------------------------
    data = data.withColumn("loc_std", standardize_text(F.col("loc_raw")))
    loc_std = F.col("loc_std")
    loc_marker = F.when(loc_std.isNotNull() & (loc_std != "»"), loc_std)
    data = data.withColumn(
        "city_std", forward_fill_expr(loc_marker, ["source_file"], ["row_idx"])
    )
    # no city and no previous -> quarantine (:680)
    rejects_city = data.filter(F.col("city_std").isNull()).select(
        "source_file",
        "year",
        "row_idx",
        F.lit(None).cast("int").alias("segment_idx"),
        F.lit("location_unresolvable").alias("reject_reason"),
        F.coalesce(F.col("personnel_html"), F.col("desc_raw")).alias("payload"),
    )
    data = data.filter(F.col("city_std").isNotNull())

    # -- F2 stats, F9 roles --------------------------------------------------
    data = (
        data.withColumn("establishments_count", clean_number(F.col("est_raw")))
        .withColumn("worker_count", clean_number(F.col("workers_raw")))
        .withColumn("boiler_count", clean_number(F.col("boilers_raw")))
    )
    data = _role_columns(data)

    # -- U1 parse + W2 personnel ditto --------------------------------------
    data = data.withColumn(
        "is_pers_ditto",
        standardize_text(F.trim(F.col("personnel_html"))) == F.lit("»"),
    )
    data = data.withColumn(
        "parsed",
        F.when(F.col("is_pers_ditto"), F.lit(None)).otherwise(
            parse_personnel_udf(F.col("personnel_html"))
        ),
    ).localCheckpoint()
    # second barrier: the personnel-parser UDF (U1) output feeds the
    # assignment explode AND the inspector-reject branch; the checkpoint
    # keeps the parser single-run across the whole warehouse build and
    # resets the analyzed-plan size before the window-heavy tail
    qualifying = F.filter(
        F.col("parsed"),
        lambda a: a["name"].isNotNull() & ~a["is_vacancy"] & a["special_role"].isNull(),
    )
    last_qual = F.when(F.size(qualifying) > 0, F.element_at(qualifying, -1))
    data = data.withColumn(
        "ditto_source",
        forward_fill_expr(last_qual, ["source_file", "header_epoch"], ["row_idx"]),
    )
    data = data.withColumn(
        "assignments",
        F.when(
            F.col("is_pers_ditto"),
            F.when(F.col("ditto_source").isNotNull(), F.array(F.col("ditto_source"))).otherwise(
                F.array().cast("array<struct<name:string,rank_abbr:string,prof_abbr:string,"
                               "edu_abbr:string,start_date_raw:string,end_date_raw:string,"
                               "is_vacancy:boolean,is_acting:boolean,notes:string,special_role:string>>")
            ),
        ).otherwise(F.col("parsed")),
    )

    # -- explode to assignment grain ----------------------------------------
    a = data.select(
        "source_file",
        "year",
        "row_idx",
        "okrug_name",
        "gubernia_name",
        "header_epoch",
        "city_std",
        "establishments_count",
        "worker_count",
        "boiler_count",
        "position_role",
        "uchastok_identifier",
        "uchastok_description",
        F.trim(F.col("personnel_html")).alias("personnel_raw_string"),
        F.posexplode("assignments").alias("segment_idx", "a"),
    ).select("*", "a.*").drop("a")

    # -- inspector natural key (F8) + J6 senior as-of ------------------------
    canon = canonicalize_person_name(F.col("name"))
    a = a.withColumn(
        "inspector_key",
        F.when(~F.col("is_vacancy") & F.col("name").isNotNull(), canon),
    )
    senior_cond = (
        (F.col("position_role") == "Старший инспектор")
        & ~F.col("is_vacancy")
        & F.col("special_role").isNull()
        & F.col("inspector_key").isNotNull()
    )
    senior_w = (
        W.partitionBy("source_file", "okrug_name", "gubernia_name")
        .orderBy("row_idx", "segment_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    senior_carry = F.last(
        F.when(senior_cond, F.col("inspector_key")), ignorenulls=True
    ).over(senior_w)
    is_special = F.col("special_role") == F.lit("старший инспектор")
    a = a.withColumn(
        "inspector_key",
        F.when(is_special, senior_carry).otherwise(F.col("inspector_key")),
    ).withColumn(
        "notes",
        F.when(
            is_special & senior_carry.isNull(),
            F.ltrim(
                F.concat(
                    F.coalesce(F.col("notes"), F.lit("")),
                    F.lit("; Обслуж. ст.инсп.(ID не найден)"),
                ),
            ),
        ).otherwise(F.col("notes")),
    )
    # lstrip("; ") semantics on the appended-note branch
    a = a.withColumn("notes", F.regexp_replace(F.col("notes"), r"^[; ]+", ""))

    # -- J5 profession/education disambiguation ------------------------------
    # (computed BEFORE the r12 barrier below so the checkpoint stores the
    # finished columns once for all ~12 consumers; reject rows get them
    # too — harmless, they are filtered right after)
    prof_is_edu = F.col("prof_abbr").isin(_PROF_EDU_OVERLAP) if _PROF_EDU_OVERLAP else F.lit(False)
    a = a.withColumn(
        "education_key", F.when(prof_is_edu, F.col("prof_abbr")).otherwise(F.col("edu_abbr"))
    ).withColumn("profession_key", F.when(prof_is_edu, F.lit(None)).otherwise(F.col("prof_abbr")))

    # location natural-key components (:221-224)
    a = (
        a.withColumn("city_key", F.expr("btrim(city_std, ' .,:;')"))
        .withColumn("gubernia_std", standardize_text(F.col("gubernia_name")))
        .withColumn("okrug_std", standardize_text(F.col("okrug_name")))
        .withColumn(
            "global_order",
            F.col("year").cast("long") * 10_000_000
            + F.col("row_idx").cast("long") * 1000
            + F.col("segment_idx"),
        )
    )

    # r12 third barrier (guide §2.1 shared computation; the round's ETL
    # stage profile): BOTH consumers of the exploded/senior-windowed
    # stream — the assignment rows AND the inspector-reject quarantine —
    # split right after this point, and without a barrier here the
    # rejects table write re-ran the posexplode + senior-carry window +
    # name canonicalization from the parsed checkpoint a second time
    # (profiled: the rejects write alone cost ~2.8 s of the ~9.7 s full
    # warehouse build+write, nearly all of it this recompute; with the
    # barrier it is 0.33 s).  This barrier REPLACES the one
    # build_warehouse used to own (same stream, same grain — moved
    # before the split so both branches share it); the observe() metrics
    # pass there rides a noop sink over these blocks instead of a second
    # serialization.
    a = a.localCheckpoint()

    # assignments whose named inspector failed to canonicalize (:748):
    # quarantine, not log-and-forget
    _insp_reject = (
        F.col("inspector_key").isNull()
        & ~F.col("is_vacancy")
        & F.col("special_role").isNull()
        & F.col("name").isNotNull()
    )
    rejects_inspector = a.filter(_insp_reject).select(
        "source_file",
        "year",
        "row_idx",
        "segment_idx",
        F.lit("inspector_unparsed").alias("reject_reason"),
        F.col("personnel_raw_string").alias("payload"),
    )
    a = a.filter(~_insp_reject)

    if return_rejects:
        return a, rejects_city.unionByName(rejects_inspector)
    return a


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


def build_warehouse(spark: SparkSession, paths: str | list[str]) -> dict[str, DataFrame]:
    """Full star schema from roster HTML files (FIXTURES.md B3), plus the
    ``rejects`` quarantine table (P6).

    The parsed assignment rows are the materialization point: five
    dims, the fact (whose plan embeds all five dim subtrees), and the
    rejects union all re-derive them, so without a barrier the HTML
    parse + personnel UDF would run once PER CONSUMER (~12x on a full
    warehouse write).  As of r12 the barrier LIVES INSIDE
    ``parsed_assignment_rows`` (pre-reject-split, so the rejects write
    shares it — see the stage-profile note there); ``a`` here is a
    columnar filter over those checkpoint blocks, which also keeps the
    analyzed plan flat for every consumer."""
    a, rejects = parsed_assignment_rows(spark, paths, return_rejects=True)
    # Build telemetry via the observe() API: metrics ride ONE cheap
    # noop-sink pass over the checkpointed assignment rows (columnar
    # aggregates accumulate task-side), which is how a production
    # pipeline gets its row-count / null-rate gates without paying a
    # real second pass over the raw corpus.  (Pre-r12 the observe rode
    # a SECOND localCheckpoint of ``a`` — profiling showed that
    # re-serializing the multi-KB personnel payload into new blocks
    # cost more than the scan it saved; the noop action runs the same
    # observe node without storing anything.)  Collected into
    # LAST_BUILD_METRICS after the action; pinned equal to a recomputed
    # aggregate in tests/test_inspectors_etl.py.
    obs = Observation("etl_quality")
    observed = a.observe(
        obs,
        F.count(F.lit(1)).alias("parsed_rows"),
        F.sum(F.when(F.col("inspector_key").isNull(), 1).otherwise(0)).alias(
            "rows_without_inspector"
        ),
        F.sum(F.when(F.col("city_key").isNull(), 1).otherwise(0)).alias(
            "rows_without_city"
        ),
        F.sum(F.when(F.col("start_date_raw").isNotNull(), 1).otherwise(0)).alias(
            "rows_with_start_date"
        ),
    )
    # the metrics pass is its own action; downstream consumers keep the
    # un-observed plan (an Observation binds to its first action)
    observed.write.mode("overwrite").format("noop").save()
    LAST_BUILD_METRICS.clear()
    LAST_BUILD_METRICS.update(obs.get)

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
    ).withColumn("notes", F.lit(None).cast("string"))

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
        return dim.withColumn("full_name_ru", _lookup_full_name("abbreviation", dictionary))

    ranks = _abbr_dim("rank_abbr", "rank_id", KNOWN_RANKS).withColumn(
        "rank_type", F.lit(None).cast("string")
    )
    professions = _abbr_dim("profession_key", "profession_id", KNOWN_PROFESSIONS)
    educations = _abbr_dim("education_key", "education_id", KNOWN_EDUCATIONS)

    fact = (
        a.join(
            F.broadcast(inspectors.select(F.col("full_name").alias("inspector_key"), "inspector_id")),
            on="inspector_key",
            how="left",
        )
        .join(
            F.broadcast(
                locations.select(
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
            F.broadcast(ranks.select(F.col("abbreviation").alias("rank_abbr"), "rank_id")),
            on="rank_abbr",
            how="left",
        )
        .join(
            F.broadcast(
                professions.select(F.col("abbreviation").alias("profession_key"), "profession_id")
            ),
            on="profession_key",
            how="left",
        )
        .join(
            F.broadcast(
                educations.select(F.col("abbreviation").alias("education_key"), "education_id")
            ),
            on="education_key",
            how="left",
        )
    )
    # W6 surrogate ids, two-phase: per-file row_number (parallel windows,
    # bounded by rows-per-document) + broadcast cumulative offsets ordered
    # by year — identical ids to a global row_number over global_order
    # (files are disjoint year ranges) without the single-partition funnel.
    local = fact.withColumn(
        "_rn",
        F.row_number().over(W.partitionBy("source_file").orderBy("global_order")),
    )
    # offsets = rows in all earlier-year files, via a broadcast inequality
    # self-join over the 13-row per-file counts (no cumsum window — see
    # operators.dims.mint_surrogate_ids for the pattern rationale)
    counts = fact.groupBy("source_file").agg(
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
    fact = local.join(F.broadcast(offsets), "source_file").withColumn(
        "assignment_id", (F.col("_rn") + F.col("_off")).cast("long")
    ).select(
        "assignment_id",
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
        F.col("is_acting").alias("is_acting"),
        F.col("is_vacancy").alias("is_vacancy"),
        F.col("notes").alias("assignment_notes"),
        "establishments_count",
        "worker_count",
        "boiler_count",
    )

    return {
        "inspectors": inspectors.select("inspector_id", "full_name", "notes"),
        "locations": locations.select(
            "location_id", "city_name", "gubernia_name", "okrug_name", "location_type"
        ),
        "ranks": ranks.select("rank_id", "abbreviation", "full_name_ru", "rank_type"),
        "professions": professions.select("profession_id", "abbreviation", "full_name_ru"),
        "educations": educations.select("education_id", "abbreviation", "full_name_ru"),
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
    inputs, so they are submitted from a driver-side thread pool and run
    concurrently under Spark's scheduler — this overlaps per-write
    task-scheduling and commit latency (each write still parallelizes
    across its own tasks; with one sequential write the cluster idles
    between the small dim jobs).
    """
    from concurrent.futures import ThreadPoolExecutor

    def _write(item: tuple[str, DataFrame]) -> None:
        name, df = item
        writer = df.write.mode("overwrite")
        if name == "assignments":
            writer = writer.partitionBy("year")
        writer.parquet(f"{out_dir}/{name}")

    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        # list() drains the iterator so the first write error re-raises
        list(pool.map(_write, tables.items()))


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
