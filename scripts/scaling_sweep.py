"""Scaling-exponent sweep (VERDICT r6 item #7): measure sf0.1 -> sf1
wall-clock ratios for the heaviest query families and compare each
against its declared complexity.

A 10x data scale-up should cost ~10x for linear operators (ratio <= ~12
with constant factors), ~10x·log for sort/graph-round families, and
anything beyond its declared exponent is a round-8 work item.  Each
(family, sf) pair runs in a FRESH JVM (no shared-session JIT/GC
interference), warmed once at sf0.001, min of 2 timed runs.  sf1 runs
get a 24g driver heap (the 0.75g/core production proxy pinned in the
verify notes — a 1g-heap OOM at sf1 is an environment artifact).

Usage:
    python scripts/scaling_sweep.py                  # default 8 families
    python scripts/scaling_sweep.py --only g5_wcc
    python scripts/scaling_sweep.py --one <name> <sf_dir>   # internal
    python scripts/scaling_sweep.py --decade2 --only a,b    # sf1 -> sf10

--decade2 (VERDICT r9 item #4) measures the SECOND decade, sf1 -> sf10
(~2.4 GB parquet; generate with
``python scripts/gen_sf.py .scratch/sf1 .scratch/sf10 10``): quadratic
residue that hides inside constant factors at 10x shows at 100x.  Runs
get a 48g heap and write ``sf10`` + ``ratio_sf10_sf1`` rows into the
same per-family records.

Writes SCALING_SWEEP.json at the repo root.  `etl_warehouse_build` is
deliberately NOT here: its corpus (13 yearly rosters) is fixed and does
not scale with sf — `corpus_pipeline_build` is the sf-dependent
end-to-end entry.
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

# family -> declared complexity note (what the ratio is judged against)
FAMILIES = {
    "g5_wcc": "O(E log^2 n) — rounds x 2 hash shuffles; ratio may exceed 10x by the extra log factor",
    "g1b_pagerank_shuffle": "O(E * iters), fixed 5 iterations — expect ~linear",
    "g3b_label_prop_shuffle": "O(E * iters), fixed 4 label-propagation rounds in shuffle-join mode — expect ~linear (the r12 row VERDICT r11 item #6 asked for; runs under the same iterative clamp as g1b)",
    "j11_interval_overlap": "sessions + hourly cells + cell equi-join, fan-out bounded by interval-length/cell — expect ~linear (r12 shared-scan rewrite)",
    "j19_fifo_allocation": "O(n + matches) cell equi-join — expect ~linear",
    "sim_ivf_topk_kmeans": "O(n*k*iters) training + bucketed probe — expect ~linear in n",
    "d_semantic_dedup_multiprobe": "O(n^2 * n_probe / k) within-cell pairs at FIXED k=16 — the known-quadratic form, kept for oracle determinism; d_semantic_dedup_auto is the scale path",
    "d_semantic_dedup_auto": "auto k fixes the PAIR term (n * cell * n_probe) but the EXACT assignment term O(n*k)=O(n^2/cell) is now the quadratic one — MEASURED 64.5x at 10x (r8 finding); kept in the sweep as the documented anti-pattern, d_semantic_dedup_lshassign is the linear form",
    "d_semantic_dedup_lshassign": "auto k + LSH-pruned assignment: ~(1+bits)*8 centroid candidates per vector (bits ~ log k) + n*cell*n_probe pairs — both terms ~n log n, expect ~linear",
    "d_setsim_prefix_join": "posting-list candidates + exact-dup collapse — expect ~linear after collapse",
    "g7_degree_assortativity": "edge build is sum over orders of (parts/order)^2 with bounded parts/order — expect ~linear in orders; moment agg is one reduce",
    "g8_kcore": "g7's edge build + peel rounds to the observed fixpoint, at most 6 (degree agg + 2 alive joins each, per-round materialize) — expect ~linear in edges",
    "g4_khop_bfs": "O(E * hops), 3 hops — expect ~linear in E",
    "corpus_pipeline_build": "composition of linear stages — expect ~linear",
    "g9_link_prediction": "candidate volume n*cap^2 with the deg<=64 hub cap — expect ~linear in edges once capped; TakeOrdered top-k, no global sort",
    "j24_interp_join": "probe-side broadcast hash equi-join on month buckets; reference curve O(days) — expect ~linear in probes",
    "a27_bottomk_distinct": "distinct-(group,hash) shuffle + rank window over distinct hashes — expect ~linear in rows",
    "g10_neighbor_jaccard": "degree-ordered triangle enumeration (sum outdeg^2 = O(E^1.5), hub-skew-proof — the r10 rewrite of the raw sum deg^2 wedge join) + 3x|triangles| explode + pair agg — expect ~linear on the replicated stress graph (disjoint subgraphs)",
    "t_mattr": "difference-array sliding distinct: +1/-1 events per token, three per-doc windows — expect ~linear in tokens",
    "t_rake_keyphrases": "two explodes + two map-side-combinable aggs + per-doc rank window — expect ~linear in tokens",
    "t_lm_perplexity": "one vocab-count shuffle + broadcast LM join + per-doc agg — expect ~linear in tokens",
    "d_minhash_lsh": "shingle -> minhash -> banded bucket equi-join with exact-dup collapse; the replicated stress corpus is the collapse guard's worst case (100 verbatim copies/text at sf10) — expect ~linear, quadratic without the guard",
    "d_dedup_clusters": "pair gen (collapse-guarded) + min-label closure, rounds = cluster diameter (large-star fallback on long chains) — expect ~linear",
    "m_jpeg_decode": "Arrow-batched mapInPandas real JPEG decode per doc — the Python-UDF scale path; expect ~linear in docs",
    "d_keep_best": "exact-dup-collapsed closure (ngram_cluster_assignments) + quality score + one per-cluster window — expect ~flat in replication like d_dedup_clusters",
}


def _run_one(name: str, sf_dir: str) -> None:
    from factory_inspectors_db_etl_spark.session import get_spark

    # data_dir engages the data-proportional shuffle-partition sizing
    # (session.py::_auto_shuffle_partitions) — the sweep measures the
    # DEFAULT config, and since r9 the default sizes partitions from
    # the input (g4's 13x-at-10x finding, VERDICT r8 item #6)
    spark = get_spark(f"scale-{name}", data_dir=sf_dir)
    spark.range(1000).selectExpr("sum(id)").collect()
    warm_dir = "/root/testdata/sf0.001"

    if name == "corpus_pipeline_build":
        from factory_inspectors_db_etl_spark.plans.corpus_pipeline import (
            BENCH_OUTPUTS,
            build_training_set,
        )

        def run(d):
            built = build_training_set(spark, d)
            for key in BENCH_OUTPUTS:  # pinned scope — see corpus_pipeline
                built[key].write.mode("overwrite").format("noop").save()
    else:
        from factory_inspectors_db_etl_spark.plans.catalog import (
            PYTEST_ONLY_QUERIES,
            QUERIES,
        )

        # the pytest-only quadratic baselines stay sweepable
        lookup = {**QUERIES, **PYTEST_ONLY_QUERIES}

        def run(d):
            lookup[name](spark, d).write.mode("overwrite").format("noop").save()

    run(warm_dir)
    runs = []
    for _ in range(2):
        t0 = time.time()
        run(sf_dir)
        runs.append(time.time() - t0)
    print("SCALE_ONE " + json.dumps({"name": name, "runs": [round(r, 3) for r in runs]}))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--one", nargs=2, metavar=("NAME", "SF_DIR"))
    ap.add_argument("--only", help="comma-separated family names")
    ap.add_argument("--sf-small", default="/root/testdata/sf0.1")
    ap.add_argument("--sf-big", default=os.path.join(REPO, ".scratch", "sf1"))
    ap.add_argument("--sf-xbig", default=os.path.join(REPO, ".scratch", "sf10"))
    ap.add_argument(
        "--decade2",
        action="store_true",
        help="measure sf1 -> sf10 instead of sf0.1 -> sf1",
    )
    args = ap.parse_args()

    if args.one:
        _run_one(args.one[0], args.one[1])
        return 0

    names = args.only.split(",") if args.only else list(FAMILIES)
    out_path = os.path.join(REPO, "SCALING_SWEEP.json")
    results = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            results = json.load(f).get("families", {})

    pairs = (
        (("sf1", args.sf_big, "24g"), ("sf10", args.sf_xbig, "48g"))
        if args.decade2
        else (("sf0.1", args.sf_small, "16g"), ("sf1", args.sf_big, "24g"))
    )
    lo_key, hi_key = pairs[0][0], pairs[1][0]
    ratio_key = "ratio_sf10_sf1" if args.decade2 else "ratio_10x"
    for name in names:
        rec = {"complexity": FAMILIES.get(name, "?")}
        if args.decade2:
            # decade-2 rows EXTEND the committed sf0.1->sf1 record — but
            # the FRESH complexity string must win over the committed
            # one, or a decade-2 re-run would silently restore a stale
            # description a plan rewrite just corrected (ADVICE r10)
            rec.update(results.get(name, {}))
            rec["complexity"] = FAMILIES.get(name, "?")
        for key, sf_dir, heap in pairs:
            env = dict(os.environ, SPARK_DRIVER_MEMORY=heap)
            cmd = [sys.executable, os.path.abspath(__file__), "--one", name, sf_dir]
            print(f"== {name} @ {key} (fresh JVM, {heap})", flush=True)
            try:
                proc = subprocess.run(
                    cmd, capture_output=True, text=True, cwd=REPO, env=env, timeout=3600
                )
            except subprocess.TimeoutExpired:
                # a family that cannot finish at this SF is the sweep's
                # loudest possible finding — record it, keep sweeping
                print("   TIMEOUT after 3600s", flush=True)
                rec[key] = {"error": "timeout 3600s"}
                continue
            got = None
            for line in proc.stdout.splitlines():
                if line.startswith("SCALE_ONE "):
                    got = json.loads(line[len("SCALE_ONE "):])
            if got is None:
                print(f"   FAILED rc={proc.returncode}\n{proc.stderr[-2000:]}", flush=True)
                rec[key] = {"error": f"rc={proc.returncode}"}
                continue
            rec[key] = {"runs": got["runs"], "min": min(got["runs"])}
            print(f"   min {min(got['runs'])}s  runs {got['runs']}", flush=True)
        if "min" in rec.get(lo_key, {}) and "min" in rec.get(hi_key, {}):
            rec[ratio_key] = round(rec[hi_key]["min"] / rec[lo_key]["min"], 2)
            print(f"   RATIO {hi_key}/{lo_key} = {rec[ratio_key]}x", flush=True)
        results[name] = rec
        # incremental write: a crash/timeout later in the sweep must not
        # lose the families already measured
        with open(out_path, "w") as f:
            json.dump(
                {"note": "10x data; fresh JVM per (family, sf); min of 2", "families": results},
                f,
                indent=1,
            )

    with open(out_path, "w") as f:
        json.dump({"note": "10x data; fresh JVM per (family, sf); min of 2", "families": results}, f, indent=1)
    print(json.dumps({n: results[n].get("ratio_10x") for n in results}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
