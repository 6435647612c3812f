"""The benchmark's own tests: deterministic inputs, ground truth that holds
on the engine, the event-log parser, and metric names that match
BENCHMARK.json.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import glob
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen_roster  # noqa: E402
import gen_tables  # noqa: E402
import layertrace  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _same_tree(a: str, b: str) -> bool:
    files = sorted(os.path.relpath(p, a) for p in glob.glob(f"{a}/**/*", recursive=True) if os.path.isfile(p))
    other = sorted(os.path.relpath(p, b) for p in glob.glob(f"{b}/**/*", recursive=True) if os.path.isfile(p))
    return files == other and all(filecmp.cmp(f"{a}/{f}", f"{b}/{f}", shallow=False) for f in files)


def _inputs(d: str, seed: int) -> None:
    gen_roster.generate(f"{d}/roster", seed, 1)
    gen_tables.corpus(f"{d}/corpus", seed, 400)
    gen_tables.registry_tables(f"{d}/registry", seed, 0.001)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _inputs(str(tmp_path / "a"), 7)
    _inputs(str(tmp_path / "b"), 7)
    _inputs(str(tmp_path / "c"), 8)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_roster_covers_every_layout_and_quirk(tmp_path):
    gen_roster.generate(str(tmp_path), 3, 2)
    html = {int(p[-9:-5]): open(p, encoding="utf-8").read() for p in glob.glob(f"{tmp_path}/fabric*.html")}
    assert sorted(html) == gen_roster.YEARS
    assert "section-header" in html[1901] and "gubernia-header" not in html[1901]
    assert "gubernia-header" in html[1905] and "dotted-line" not in html[1905]
    assert "dotted-line" in html[1913]
    everything = "".join(html.values())
    for needle in ('rowspan="3"', 'rowspan="2"', "»", "&quot;", "вакансія", "И. д.", "<br>",
                   "Старшій фабричный инспекторъ.", "1) Надзоръ", "(Нет данных)", "—", "(†)"):
        assert needle in everything, needle
    assert re.search(r"<td>\d\.\d{3}</td>", everything), "thousands separator"


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from factory_inspectors_db_etl_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()


@pytest.mark.parametrize("seed", [1, 2])
def test_roster_ground_truth_holds_on_the_engine(spark, tmp_path, seed):
    import workloads

    wl = workloads.Roster(str(tmp_path), seed, layertrace.Tracer(False))
    wl.spark = spark
    wl.truth = gen_roster.generate(str(tmp_path / "in"), seed, 1)
    wl.paths = sorted(glob.glob(f"{tmp_path}/in/fabric*.html"))
    wl.op(0)
    assert wl.check() == [[]]


def test_corpus_plant_holds_on_the_engine(spark, tmp_path):
    import workloads

    wl = workloads.Operators(str(tmp_path), 5, layertrace.Tracer(False))
    wl.spark = spark
    wl.corpus_dir = str(tmp_path / "corpus")
    wl.plant = gen_tables.corpus(wl.corpus_dir, 5, 600)
    wl.results.append(("corpus", _corpus_outputs(spark, wl.corpus_dir)))
    assert wl.check() == [[]]
    kept, _, _ = wl.results[0][1]
    assert len(kept) == wl.plant["groups"] < 600


def _corpus_outputs(spark, corpus_dir):
    from factory_inspectors_db_etl_spark.plans.corpus_pipeline import build_training_set

    out = build_training_set(spark, corpus_dir)
    kept = [r.doc_id for r in out["kept"].select("doc_id").collect()]
    splits = [(r.doc_id, r.split) for r in out["splits"].select("doc_id", "split").collect()]
    return kept, splits, out["packed_train"].count()


def test_event_log_tasks_are_attributed_by_job_group(tmp_path):
    spans = [
        {"gid": "etl.build_warehouse|1", "group": "etl", "start": 100.0, "end": 200.0},
        {"gid": "etl.write_warehouse|2", "group": "etl", "start": 200.0, "end": 300.0},
    ]
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 150000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "etl.build_warehouse|1"}},
        # no job group (launched from an engine thread): attributed by time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 250000, "Stage IDs": [1],
         "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 999000, "Stage IDs": [2],
         "Properties": {}},
    ]
    for stage in (0, 1, 2):
        events.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": 1500, "JVM GC Time": 100, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 20}}})
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (app / "appstatus_local-1").write_text("")
    m = layertrace.event_log_metrics(str(tmp_path), spans)
    assert m["etl"] == {"jobs": 2, "tasks": 2, "task_s": 3.0, "gc_s": 0.2, "shuffle_read_bytes": 20,
                        "shuffle_write_bytes": 40, "spill_bytes": 0}
    assert m["registry"] == {}


def test_metric_names_match_benchmark_json(tmp_path):
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == run.END_TO_END
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    wl = workloads.Roster(str(tmp_path), 1, layertrace.Tracer(True))
    emitted = run.layer_metrics(wl, wl.tracer, [], str(tmp_path))
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {k: u for k, (_, u) in emitted.items()}
    names = [m["name"] for m in bench["workloads"] + bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert all(UNIT.match(m["unit"]) for m in bench["end_to_end"] + bench["per_layer"])
    assert all(m["better"] in ("higher", "lower") for m in bench["end_to_end"] + bench["per_layer"])
