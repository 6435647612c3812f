"""Benchmark launcher: one closed-loop client on one workload.

    python3 perfbench/run.py --workload roster --seed 1 --seconds 30 --trace 0

Run from the repository root.  The launcher pins the environment before
Spark starts (cores = nproc, driver heap below physical RAM, Spark local
and temp dirs inside ``.perfbench/`` under the working directory, the
repository root on the Python workers' path, no console progress bar;
with ``--trace 1`` also Spark's event log), sets up five times (session
start + input generation + probe; ``setup_s`` is their median), warms
up, runs ops back to back (at least one) until the next would overrun
``--seconds``, checks every op's output, and prints one JSON result as
its last stdout line.  It exits 1 if any output is wrong and 2 if the
engine cannot be imported.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}


def pin_environment(work: str, trace: bool) -> None:
    """Everything Spark reads at JVM launch; must run before pyspark is
    imported (tempfile caches TMPDIR on first use)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(2, int(phys_gb / 6)))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=f"{heap_gb}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # the heap is committed and touched up front, so peak RSS does not
        # swing with how far GC happened to grow it; no hsperfdata under
        # /tmp; JVM temp files stay in the work dir
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap_gb}g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled every 0.2 s.  Each process
    counts its proportional set size, so the pages forked Python workers
    share with their daemon count once, not once per worker."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        total_kb = 0
        for p in _descendants(os.getpid()):
            try:
                with open(f"/proc/{p}/smaps_rollup", encoding="ascii") as f:
                    total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                pass
        return total_kb * 1024

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            self.peak = max(self.peak, self._sample())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait until every
    process this run started has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(_descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for p in _descendants(os.getpid())[1:]:
        with contextlib.suppress(OSError):
            os.kill(p, 9)


def provenance(spark, seed: int) -> dict:
    import pyspark

    sha = "unknown"
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head, encoding="ascii") as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(ref_path):
                with open(ref_path, encoding="ascii") as f:
                    ref = f.read().strip()
        sha = ref
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "git_sha": sha,
        "seed": seed,
    }


def layer_metrics(wl, tracer, ops: list[tuple[float, int]], log_dir: str) -> dict[str, tuple[float, str]]:
    import layertrace
    import workloads

    def med(xs) -> float:
        return statistics.median(xs) if xs else 0.0

    out: dict[str, tuple[float, str]] = {"session.get_spark_s": (med(wl.session_s), "s")}
    span_s = [
        "sources.read_roster_rows", "functions.parse_personnel_udf", "functions.parse_personnel_py",
        "etl.parsed_assignment_rows", "etl.build_warehouse", "etl.write_warehouse",
        *(f"analytics.{q}" for q in workloads.ANALYTICS),
        "dedup.exact_dedup", "dedup.ngram_jaccard_pairs", "dedup.connected_components",
        "corpus.build_training_set", "corpus.write_outputs",
        "sampling.hash_split", "sampling.pack_token_bins",
        *(f"registry.{q}" for q in workloads.REGISTRY),
    ]
    for name in span_s:
        out[f"{name}_s"] = (med(tracer.durations(name)), "s")
    for q in workloads.REGISTRY:
        out[f"registry.{q}_jobs"] = (med([s["jobs"] for s in tracer.spans if s["name"] == f"registry.{q}"]), "count")
    out["dedup.cc_jobs"] = (med([s["jobs"] for s in tracer.spans if s["name"] == "dedup.connected_components"]), "count")
    for name, unit in (
        ("sources.reader_rows", "rows"), ("functions.personnel_cells", "count"), ("etl.fact_rows", "rows"),
        ("etl.reject_ratio", "ratio"), ("dedup.pairs", "count"), ("corpus.kept_ratio", "ratio"),
    ):
        out[name] = (med(wl.counts.get(name, [])), unit)
    groups = layertrace.event_log_metrics(log_dir, tracer.spans)
    for g in layertrace.GROUPS:
        n_ops = len({s["op"] for s in tracer.spans if s["group"] == g}) or 1
        for metric, unit in layertrace.GROUP_METRICS:
            out[f"{g}.{metric}"] = (groups[g].get(metric, 0.0) / n_ops, unit)
    # share of each op's wall time inside the layer spans (top-level spans'
    # durations = the sum of every span's self time)
    cover = [
        sum(s["dur"] for s in tracer.spans if s["op"] == i and s["parent"] is None) / t
        for i, (t, _) in enumerate(ops)
        if t == t
    ]
    out["trace.op_p50_s"] = (med([t for t, _ in ops if t == t]), "s")
    out["trace.self_coverage"] = (med(cover), "ratio")
    return out


def self_time_table(tracer) -> list[str]:
    selfs = tracer.self_times()
    rows: dict[str, list[tuple[float, float]]] = {}
    for s in tracer.spans:
        rows.setdefault(s["name"], []).append((s["dur"], selfs[s["gid"]]))
    lines = ["span                                  p50_s    self_p50_s"]
    for name, v in rows.items():
        lines.append(
            f"{name:36s} {statistics.median(d for d, _ in v):8.3f} {statistics.median(x for _, x in v):10.3f}"
        )
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(os.getcwd(), ".perfbench", f"{args.workload}-{os.getpid()}")
    pin_environment(work, bool(args.trace))
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def run(args, work: str) -> int:
    sys.path[:0] = [HERE, ROOT]
    try:
        import workloads
        from layertrace import Tracer
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    tracer = Tracer(False)  # set-up and warm-up stay out of the trace
    wl = workloads.WORKLOADS[args.workload](work, args.seed, tracer)
    ops: list[tuple[float, int]] = []
    errors: list[str] = []
    try:
        with RssSampler() as rss, contextlib.ExitStack() as scope:
            setup_s = []
            for i in range(SETUPS):
                t0 = time.perf_counter()
                wl.setup(i)
                setup_s.append(time.perf_counter() - t0)
            phases = {"setup": sum(setup_s)}
            t0 = time.perf_counter()
            wl.warm()
            phases["warm"] = time.perf_counter() - t0
            tracer.enabled = bool(args.trace)
            if args.trace:
                wl.traced_scope(scope)
            # ops back to back, at least one, while the next fits in --seconds
            elapsed = 0.0
            while True:
                tracer.op = len(ops)
                t0 = time.perf_counter()
                try:
                    ops.append(wl.op(len(ops)))
                except Exception as exc:  # noqa: BLE001 — a failed op is counted, the loop goes on
                    errors.append(f"op {len(ops)}: {type(exc).__name__}: {exc}")
                    ops.append((float("nan"), 0))
                op_s = time.perf_counter() - t0
                elapsed += op_s
                if elapsed + op_s > args.seconds:
                    break
            phases["timed"] = elapsed
            tracer.op = -1
            scope.close()
            t0 = time.perf_counter()
            if args.trace:
                wl.probes()
            info = provenance(wl.spark, args.seed)
            report = wl.check()
            phases["check"] = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        stop_spark()
    phases["stop"] = time.perf_counter() - t0
    failed_ops = sum(1 for p in report if p) + len(errors)
    for msg in errors + [m for p in report for m in p]:
        print(f"perfbench: FAIL {msg}", file=sys.stderr)

    good = [(t, r) for t, r in ops if t == t]
    lat = [t for t, _ in good]
    total = sum(lat) or float("nan")
    if args.trace:
        for line in self_time_table(tracer):
            print(line)
        metrics = layer_metrics(wl, tracer, ops, os.path.join(work, "eventlog"))
    else:
        values = {
            "setup_s": statistics.median(setup_s),
            "op_p50_s": statistics.median(lat) if lat else float("nan"),
            "ops_per_s": len(lat) / total,
            "rows_per_s": sum(r for _, r in good) / total,
            "peak_rss_mb": rss.peak / 2**20,
        }
        metrics = {k: (values[k], unit) for k, unit in END_TO_END.items()}
    info["setups_s"] = [round(s, 3) for s in setup_s]
    info["op_s"] = [round(t, 3) for t in lat]
    info["phases_s"] = {k: round(v, 2) for k, v in phases.items()}
    print("provenance " + json.dumps(info, sort_keys=True))
    attempted = len(report) + len(errors)
    result = {
        "correct": failed_ops == 0,
        "attempted": attempted,
        "failed": failed_ops,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed_ops == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
