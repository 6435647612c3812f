"""Isolated-profile bench: the regression gate bench.py cannot be.

One shared-session bench (bench.py) measures everything cheaply, but
its per-query numbers ride the JVM session lottery — measured ±2-4x on
identical code across sessions (VERDICT r6), which hides real 1.5x
regressions.  This script profiles the HEAVIEST queries each in a
FRESH JVM (subprocess): fixed warm-up (once at the smallest sibling SF,
once at the bench SF), then 3 timed runs, reporting the min — the
steady-state cost with no cross-query interference, no shared-session
GC/JIT noise.

Usage:
    python scripts/bench_isolated.py                 # top-20 + pipelines
    python scripts/bench_isolated.py --top 5         # quicker sweep
    python scripts/bench_isolated.py --only g5_wcc   # one family
    python scripts/bench_isolated.py --one <name> <sf_dir>   # internal

Writes BENCH_ISOLATED.json at the repo root and compares against the
previous committed copy: any family slower than REGRESSION_FACTOR x its
previous isolated min is reported loudly and the exit code is 1.  Run
once per round; the committed file is the round-over-round baseline.

Selection: the top ``--top`` entries of bench_detail.json (the full
shared-session sweep) plus the two end-to-end pipeline builds — the
families where a regression matters and where session noise is largest.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REGRESSION_FACTOR = 1.5


def _carryover(previous: dict, name: str) -> dict:
    """Baseline fields (min/runs) from the previous round's entry, kept
    alive through an errored round so the regression gate retains its
    reference point.  Gate fields (ratio_vs_prev) are deliberately NOT
    carried — a stale ratio must not re-trip this round's gate."""
    return {k: v for k, v in previous.get(name, {}).items() if k in ("min", "runs")}
PIPELINES = ("etl_warehouse_build", "corpus_pipeline_build")

# Always profiled regardless of their shared-session rank (VERDICT r10
# item #2): the scaling sweep's watch rows need a fresh-JVM floor before
# any warm-session delta on them is believable — g7/j24 had second-decade
# ratios over the guideline with NO isolated baseline to judge the sf0.1
# side against.
MUST_INCLUDE = ("g7_degree_assortativity", "j24_interp_join")


def _run_one(name: str, sf_dir: str) -> None:
    """Child-process entry: fresh JVM, warm, 3 timed runs, one JSON line."""
    from factory_inspectors_db_etl_spark.session import get_spark

    # data_dir engages the r9 data-proportional shuffle-partition sizing
    # (no-op at sf<=0.1 on 32 cores; see session.py)
    spark = get_spark(f"bench-iso-{name}", data_dir=sf_dir)
    spark.range(1000).selectExpr("sum(id)").collect()
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir

    if name == "etl_warehouse_build":
        import shutil
        import tempfile

        from bench import roster_corpus
        from factory_inspectors_db_etl_spark.plans.inspectors_etl import (
            build_warehouse,
            write_warehouse,
        )

        corpus = roster_corpus()
        # single-file warm (UDF worker spin-up), then one untimed
        # full-corpus build (whole-plan codegen), then 3 timed runs
        build_warehouse(spark, f"{corpus}/fabric1901.html")[
            "assignments"
        ].write.mode("overwrite").format("noop").save()
        runs = []
        for i in range(4):
            out = tempfile.mkdtemp(prefix="bench_iso_wh_")
            try:
                t0 = time.time()
                write_warehouse(
                    build_warehouse(spark, f"{corpus}/fabric*.html"), out
                )
                if i > 0:
                    runs.append(time.time() - t0)
            finally:
                shutil.rmtree(out, ignore_errors=True)
    elif name == "corpus_pipeline_build":
        from factory_inspectors_db_etl_spark.plans.corpus_pipeline import (
            BENCH_OUTPUTS,
            build_training_set,
        )

        build_training_set(spark, warm_dir)["packed_train"].write.mode(
            "overwrite"
        ).format("noop").save()
        runs = []
        for _ in range(3):
            t0 = time.time()
            built = build_training_set(spark, sf_dir)
            for key in BENCH_OUTPUTS:  # pinned scope — see corpus_pipeline
                built[key].write.mode("overwrite").format("noop").save()
            runs.append(time.time() - t0)
    else:
        from factory_inspectors_db_etl_spark.plans.catalog import QUERIES

        fn = QUERIES[name]
        fn(spark, warm_dir).write.mode("overwrite").format("noop").save()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()  # full-SF warm
        runs = []
        for _ in range(3):
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(time.time() - t0)
    print(
        "BENCH_ISO "
        + json.dumps({"name": name, "runs": [round(r, 3) for r in runs], "min": round(min(runs), 3)})
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--one", nargs=2, metavar=("NAME", "SF_DIR"))
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--only", help="comma-separated family names")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--out",
        default="BENCH_ISOLATED.json",
        help="output JSON (repo-relative); non-default SF runs MUST use a "
        "separate file (e.g. BENCH_ISOLATED_SF1.json) so the sf0.1 floor "
        "baseline is never polluted with other-scale numbers (r12, VERDICT "
        "r11 item #7)",
    )
    args = ap.parse_args()

    if args.one:
        _run_one(args.one[0], args.one[1])
        return 0

    detail_path = os.path.join(REPO, "bench_detail.json")
    with open(detail_path) as f:
        shared = json.load(f)["queries"]
    if args.only:
        names = args.only.split(",")
    else:
        ranked = sorted(shared, key=lambda n: -shared[n])
        names = [n for n in ranked if n not in PIPELINES][: args.top]
        names += [n for n in MUST_INCLUDE if n not in names]
        names += list(PIPELINES)

    out_path = os.path.join(REPO, args.out)
    previous = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            previous = json.load(f).get("families", {})

    # MERGE semantics: families not measured in this invocation keep
    # their previous entry verbatim — a targeted `--only X` rerun must
    # refresh X without clobbering the other 21 baselines (a round-7
    # `--only corpus_pipeline_build` rerun silently reduced the
    # committed baseline file to one family before this fix)
    families: dict[str, dict] = {
        k: dict(v) for k, v in previous.items() if isinstance(v, dict)
    }
    measured: set[str] = set()

    def _flush() -> None:
        # incremental write: a crash or timeout mid-sweep must not lose
        # the families already measured.  Regressions/failures are judged
        # over THIS run's measurements only — carried-over baselines keep
        # their historical ratio fields but must not re-trip the gate.
        regressions = {
            n: f
            for n, f in families.items()
            if n in measured and f.get("ratio_vs_prev", 0) > REGRESSION_FACTOR
        }
        failures = sorted(
            n for n, f in families.items() if n in measured and "error" in f
        )
        result = {
            "sf_dir": args.sf_dir,
            "timing": "fresh JVM per family; warm sf0.001 + warm full-SF; min of 3 timed runs",
            "regression_factor": REGRESSION_FACTOR,
            "families": families,
            "regressions": sorted(regressions),
            "failures": failures,
        }
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)

    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--one", name, args.sf_dir]
        print(f"== {name} (fresh JVM)", flush=True)
        try:
            proc = subprocess.run(
                cmd, capture_output=True, text=True, cwd=REPO, timeout=1800
            )
        except subprocess.TimeoutExpired:
            # a hung family is exactly what this gate exists to catch —
            # record it and keep sweeping
            print("   TIMEOUT after 1800s", flush=True)
            # ADVICE r7: carry the previous baseline (min/runs) through a
            # failed round — otherwise one flaky failure erases the
            # baseline and a real regression passes silently next round.
            families[name] = {**_carryover(previous, name), "error": "timeout 1800s"}
            measured.add(name)
            _flush()
            continue
        rec = None
        for line in proc.stdout.splitlines():
            if line.startswith("BENCH_ISO "):
                rec = json.loads(line[len("BENCH_ISO "):])
        if rec is None:
            print(f"   FAILED rc={proc.returncode}\n{proc.stderr[-2000:]}", flush=True)
            families[name] = {
                **_carryover(previous, name),
                "error": f"rc={proc.returncode}",
            }
            measured.add(name)
            _flush()
            continue
        families[name] = {"runs": rec["runs"], "min": rec["min"]}
        measured.add(name)
        prev = previous.get(name, {}).get("min")
        note = ""
        if prev:
            ratio = rec["min"] / prev if prev else float("nan")
            families[name]["prev_min"] = prev
            families[name]["ratio_vs_prev"] = round(ratio, 3)
            note = f"  (prev {prev}s, x{ratio:.2f})"
        print(f"   min {rec['min']}s  runs {rec['runs']}{note}", flush=True)
        _flush()

    _flush()
    regressions = {
        n: f
        for n, f in families.items()
        if n in measured and f.get("ratio_vs_prev", 0) > REGRESSION_FACTOR
    }
    failures = sorted(n for n, f in families.items() if n in measured and "error" in f)
    print(
        json.dumps(
            {
                "isolated_families": len(families),
                "regressions": sorted(regressions),
                "failures": failures,
            }
        )
    )
    for n, f in regressions.items():
        print(
            f"REGRESSION: {n} isolated min {f['min']}s is "
            f"x{f['ratio_vs_prev']} vs previous {f['prev_min']}s",
            file=sys.stderr,
        )
    for n in failures:
        # a family that cannot even run is a worse regression than a slow
        # one — it must fail the gate, not silently drop out of the file
        print(f"FAILURE: {n} did not produce a measurement "
              f"({families[n]['error']})", file=sys.stderr)
    return 1 if (regressions or failures) else 0


if __name__ == "__main__":
    raise SystemExit(main())
