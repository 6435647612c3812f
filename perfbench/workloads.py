"""The benchmark's two closed-loop workloads (one client, one op at a time).

``roster``    the paper's pipeline and its read side.  One op rebuilds the
              star-schema warehouse from the generated yearly roster HTML
              (``build_warehouse`` + ``write_warehouse`` into a fresh
              directory) and then runs the six ``inspectors_analytics``
              queries over the parquet it just wrote.
``operators`` the heavy operator families.  One op is a pass over the
              corpus-curation build (``build_training_set``, its three
              benchmark outputs to the noop sink) and four registry
              queries (graph loops, set similarity, semantic dedup).

Each workload owns its inputs (generated from the seed), its op, its
correctness check and the spans it records when traced.
"""

from __future__ import annotations

import glob
import os
import time

import duckdb

import gen_roster
import gen_tables
import oracles
from factory_inspectors_db_etl_spark.functions import personnel_parser
from factory_inspectors_db_etl_spark.plans import corpus_pipeline, inspectors_analytics, inspectors_etl
from factory_inspectors_db_etl_spark.plans.catalog import QUERIES
from factory_inspectors_db_etl_spark.session import get_spark
from factory_inspectors_db_etl_spark.sources.html_table import read_roster_rows

ROSTER_SCALE = 2  # ~1.1k assignments over 11 files (gen_roster.generate)
CORPUS_DOCS = 2000
REGISTRY_SF = 0.01  # ~60k lineitem rows
# left out to fit the run budget: g3_label_propagation (the broadcast vote
# loop of g1), g5_wcc (the min-label loop the corpus build's connected
# components already run), d_setsim_prefix_join (a shingle pair join like
# the corpus build's) and sim_ivf_topk_kmeans (~8-10 s cold)
REGISTRY = [
    "g1_pagerank",
    "g8_kcore",
    "d_semantic_dedup_lshassign",
]
ANALYTICS = [
    "regional_rollup",
    "career_trajectories",
    "career_summary",
    "education_distribution",
    "tenure_dates",
    "top_mobile_inspectors",
]


def _checkpoint(df):
    return df.localCheckpoint()


class Workload:
    """Common set-up: (re)start the engine's session, generate the inputs
    into a fresh directory, and run a light probe over them."""

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.session_s: list[float] = []
        self.results: list[tuple] = []  # (op name, output) for the checks
        self.counts: dict[str, list[float]] = {}

    def setup(self, i: int) -> None:
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_s.append(time.perf_counter() - t0)
        self.generate(os.path.join(self.work, f"in{i}"))

    def probes(self) -> None:
        """Layer probes run once after the timed phase of a traced run."""

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(value)

    def span(self, name: str):
        return self.tracer.span(self.spark, name)


class Roster(Workload):
    name = "roster"

    def generate(self, d: str) -> None:
        self.truth = gen_roster.generate(d, self.seed, ROSTER_SCALE)
        self.paths = sorted(glob.glob(os.path.join(d, "fabric*.html")))
        self.spark.read.text(self.paths, wholetext=True).write.format("noop").mode("overwrite").save()

    def warm(self) -> None:
        # the first build in a JVM is 2x a warm one (code generation and
        # JIT); it is checked like every op but not timed
        self.op(-1)

    def op(self, i: int) -> tuple[float, int]:
        spark, out = self.spark, os.path.join(self.work, f"wh{i + 1}")
        t0 = time.perf_counter()
        with self.span("etl.build_warehouse"):
            tables = inspectors_etl.build_warehouse(spark, self.paths)
        with self.span("etl.write_warehouse"):
            inspectors_etl.write_warehouse(tables, out)
        a = spark.read.parquet(f"{out}/assignments")
        e = spark.read.parquet(f"{out}/educations")
        got = {}
        for q in ANALYTICS:
            fn = getattr(inspectors_analytics, q)
            with self.span(f"analytics.{q}"):
                got[q] = (fn(a, e) if q == "education_distribution" else fn(a)).collect()
        latency = time.perf_counter() - t0
        self.results.append((out, got))
        return latency, self.truth["assignments"]

    def traced_scope(self, stack) -> None:
        """Spans inside ``build_warehouse``: the assignment-rows stage and,
        within it, the roster reader (forced at its boundary so the
        reader's work runs in its own span)."""
        t = self.tracer

        def force_reader(df):
            df = df.localCheckpoint()
            self.count("sources.reader_rows", df.count())
            return df

        stack.enter_context(t.patched(self.spark, inspectors_etl, "parsed_assignment_rows",
                                      "etl.parsed_assignment_rows"))
        stack.enter_context(t.patched(self.spark, inspectors_etl, "read_roster_rows",
                                      "sources.read_roster_rows", force_reader))

    def probes(self) -> None:
        """The personnel parser, through its Spark UDF and in pure Python,
        over the personnel cells of the roster."""
        from pyspark.sql import functions as F

        rows = read_roster_rows(self.spark, self.paths).filter(
            (F.col("row_kind") == "data") & F.col("personnel_html").isNotNull()
        ).select("personnel_html").localCheckpoint()
        cells = [r.personnel_html for r in rows.collect()]
        self.count("functions.personnel_cells", len(cells))
        with self.span("functions.parse_personnel_udf"):
            rows.select(personnel_parser.parse_personnel_udf("personnel_html")).write.format(
                "noop"
            ).mode("overwrite").save()
        with self.span("functions.parse_personnel_py"):
            for c in cells:
                personnel_parser.parse_personnel(c)

    def check(self) -> list[list[str]]:
        """Per op: warehouse counts equal the generator's ground truth and
        each analytics result equals DuckDB's over the same parquet."""
        report = []
        t = self.truth
        for out, got in self.results:
            problems: list[str] = []
            report.append(problems)
            con = duckdb.connect()
            try:
                fact = f"read_parquet('{out}/assignments/*/*.parquet')"
                n = {tb: con.execute(f"SELECT count(*) FROM read_parquet('{out}/{tb}/*.parquet')").fetchone()[0]
                     for tb in ("inspectors", "locations", "rejects")}
                n_fact, n_vac, workers = con.execute(
                    f"SELECT count(*), count(*) FILTER (WHERE is_vacancy), CAST(sum(worker_count) AS BIGINT) FROM {fact}"
                ).fetchone()
            finally:
                con.close()
            want = (t["assignments"], t["vacancies"], t["workers_sum"], t["inspectors"], t["locations"], t["rejects"])
            have = (n_fact, n_vac, workers, n["inspectors"], n["locations"], n["rejects"])
            if have != want:
                problems.append(f"{out}: counts {have} != truth {want}")
            ref = oracles.analytics_reference(out)
            for q in ANALYTICS:
                if oracles.canonical(got[q]) != ref[q]:
                    problems.append(f"{out}: analytics.{q} differs from DuckDB")
            self.count("etl.fact_rows", n_fact)
            self.count("etl.reject_ratio", n["rejects"] / (n_fact + n["rejects"]))
        return report


class Operators(Workload):
    name = "operators"

    def generate(self, d: str) -> None:
        self.corpus_dir = os.path.join(d, "corpus")
        self.reg_dir = os.path.join(d, "registry")
        self.plant = gen_tables.corpus(self.corpus_dir, self.seed, CORPUS_DOCS)
        self.rows = gen_tables.registry_tables(self.reg_dir, self.seed, REGISTRY_SF)
        for path in glob.glob(os.path.join(d, "*", "*.parquet")):
            self.spark.read.parquet(path).schema  # footers readable

    def warm(self) -> None:
        # registry oracles on the generated instance (DuckDB, < 1 s each
        # at this size; the graph-CTE oracles are minutes at sf0.1)
        self.reference = oracles.registry_reference(self.reg_dir, REGISTRY)
        # a cold pass is ~2x a warm one and varies far more between runs;
        # it is checked like every op but not timed.  (A pass over a
        # smaller instance is not enough: adaptive execution plans other
        # joins for other sizes, so the timed pass would compile anew.)
        self.op(-1)

    def input_rows(self, name: str) -> int:
        if name == "corpus":
            return CORPUS_DOCS
        if name.startswith("g"):
            return self.rows["lineitem"]
        return self.rows["embeddings"]

    def op(self, i: int) -> tuple[float, int]:
        """One pass: the corpus build, then each registry query once.  The
        pass is the op: single steps run cold-ish and differ 5x in length,
        so a median over steps would jump between step types."""
        latency = rows = 0
        for name in ["corpus"] + REGISTRY:
            t, r = self.step(name)
            latency, rows = latency + t, rows + r
        return latency, rows

    def step(self, name: str) -> tuple[float, int]:
        spark = self.spark
        t0 = time.perf_counter()
        if name == "corpus":
            with self.span("corpus.build_training_set"):
                out = corpus_pipeline.build_training_set(spark, self.corpus_dir)
            with self.span("corpus.write_outputs"):
                for k in corpus_pipeline.BENCH_OUTPUTS:
                    out[k].write.format("noop").mode("overwrite").save()
            latency = time.perf_counter() - t0
            kept = [r.doc_id for r in out["kept"].select("doc_id").collect()]
            splits = [(r.doc_id, r.split) for r in out["splits"].select("doc_id", "split").collect()]
            n_packed = out["packed_train"].count()
            self.results.append((name, (kept, splits, n_packed)))
            self.count("corpus.kept_ratio", len(kept) / CORPUS_DOCS)
        else:
            with self.span(f"registry.{name}"):
                rows = QUERIES[name](spark, self.reg_dir).collect()
            latency = time.perf_counter() - t0
            self.results.append((name, rows))
        return latency, self.input_rows(name)

    def traced_scope(self, stack) -> None:
        """Spans for the dedup and sampling operators the corpus build
        composes; lazily returned DataFrames are checkpointed at the
        boundary so each operator's work runs inside its span."""
        t, m = self.tracer, corpus_pipeline

        def force_pairs(df):
            df = df.localCheckpoint()
            self.count("dedup.pairs", df.count())
            return df

        for attr, name, force in (
            ("exact_dedup", "dedup.exact_dedup", _checkpoint),
            ("ngram_jaccard_pairs", "dedup.ngram_jaccard_pairs", force_pairs),
            ("assign_components", "dedup.connected_components", None),
            ("hash_split", "sampling.hash_split", _checkpoint),
            ("pack_token_bins", "sampling.pack_token_bins", _checkpoint),
        ):
            stack.enter_context(t.patched(self.spark, m, attr, name, force))

    def check(self) -> list[list[str]]:
        """Corpus: kept = one doc per planted cluster + every good
        singleton, no junk; the splits partition kept; packing covers the
        train split.  Registry: equal to the registered DuckDB oracle."""
        report = []
        groups = self.plant["doc_group"]
        for name, got in self.results:
            problems: list[str] = []
            report.append(problems)
            if name == "corpus":
                kept, splits, n_packed = got
                g = [groups[d] for d in kept]
                if len(set(g)) != len(g) or -1 in g or len(g) != self.plant["groups"]:
                    problems.append(f"corpus: kept {len(kept)} docs, planted groups {self.plant['groups']}")
                if sorted(d for d, _ in splits) != sorted(kept):
                    problems.append("corpus: splits do not partition kept")
                if n_packed != sum(1 for _, s in splits if s == "train"):
                    problems.append("corpus: packed_train does not cover the train split")
            elif oracles.canonical(got) != self.reference[name]:
                problems.append(f"registry.{name} differs from its oracle")
        return report


WORKLOADS = {w.name: w for w in (Roster, Operators)}
