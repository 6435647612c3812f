"""Layer tracing for the benchmark.

Spans are recorded from the benchmark's own code, around calls into the
public function of each engine module.  A span names its layer group
(``sources``, ``etl``, ...), opens a Spark job group named after itself,
and keeps start/end wall times, so Spark's event log attributes every
task to the layer that caused it.  Engine code that launches jobs from
its own threads (``write_warehouse`` writes tables from a thread pool)
leaves them without a job group; those jobs are attributed to the
innermost span open when they were submitted.

A layer's self time is its span minus the child spans inside it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

GROUPS = ("sources", "functions", "etl", "analytics", "dedup", "corpus", "registry")
GROUP_METRICS = (
    ("task_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("gc_s", "s"),
    ("tasks", "count"),
    ("jobs", "count"),
)


class Tracer:
    """Records spans; a disabled tracer records nothing and sets no job
    group, so untraced runs execute exactly the engine's own calls."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self.op = -1  # index of the op being traced; -1 = probe

    @contextlib.contextmanager
    def span(self, spark, name: str):
        if not self.enabled:
            yield None
            return
        sc = spark.sparkContext
        self._seq += 1
        rec = {
            "name": name,
            "group": name.split(".", 1)[0],
            "gid": f"{name}|{self._seq}",
            "op": self.op,
            "parent": self._stack[-1]["gid"] if self._stack else None,
            "start": time.time(),
        }
        self._stack.append(rec)
        sc.setJobGroup(rec["gid"], name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = time.time()
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(rec["gid"]))
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["gid"], self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    @contextlib.contextmanager
    def patched(self, spark, module, attr: str, name: str, force=None):
        """Route ``module.attr`` through a span for the scope (no-op when
        disabled).  Engine modules look their imports up at call time, so
        patching the consuming module's attribute is enough.
        ``force(result)`` runs inside the span for functions that return a
        lazy DataFrame, so the layer's work executes where it is caused."""
        if not self.enabled:
            yield
            return
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(spark, name):
                out = orig(*args, **kwargs)
                return force(out) if force is not None else out

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    # -- summaries ----------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["dur"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Self time per span id: duration minus the children's."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"]:
                child[s["parent"]] += s["dur"]
        return {s["gid"]: s["dur"] - child[s["gid"]] for s in self.spans}


def _innermost(spans: list[dict], t_ms: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] * 1000 <= t_ms <= s["end"] * 1000:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def _app_events(path: str):
    """Events of one application: a plain log file, or the v2 layout (a
    directory of ``events_<n>_*`` parts next to an ``appstatus`` marker)."""
    if os.path.isfile(path):
        parts = [path]
    else:
        parts = sorted(
            glob.glob(os.path.join(path, "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    for part in parts:
        with open(part, encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def event_log_metrics(log_dir: str, spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per layer group: task time, shuffle bytes, spill, GC, tasks and jobs
    from ``SparkListenerTaskEnd`` records, grouped by the job group of the
    task's job.  Each entry of ``log_dir`` is one SparkContext (stage
    ids restart per context)."""
    by_gid = {s["gid"]: s for s in spans}
    out: dict[str, dict[str, float]] = {g: defaultdict(float) for g in GROUPS}
    for app in sorted(glob.glob(f"{log_dir}/*")):
        stage_group: dict[int, str] = {}
        for ev in _app_events(app):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                span = by_gid.get(gid) if gid else _innermost(spans, ev.get("Submission Time", 0))
                if span is None or span["group"] not in out:
                    continue
                out[span["group"]]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, span["group"])
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                g = out[group]
                g["tasks"] += 1
                g["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                rd = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return {g: dict(v) for g, v in out.items()}
