"""In-memory spans and Spark event-log folding.

A span wraps one call into a public function of the program. With tracing
on, each span also tags the Spark jobs it starts (``setJobGroup(span id)``),
so the event log written during the run can be folded back into the span
that caused each job. Stages are attributed to a program module by the
Python call site Spark records for their job (``collect at
.../esop_spark/operators/dedup.py:812``).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import time
from contextlib import contextmanager


class Tracer:
    """Records spans (name, start, end, parent, op). Given a SparkContext it
    also tags each span's Spark jobs with the span id; timing is always
    recorded, since the workloads derive their end-to-end figures from the
    same spans."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            "wall_ms": time.time() * 1e3,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["wall_end_ms"] = time.time() * 1e3
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]


@contextmanager
def instrumented(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Wrap ``module.fn`` for each (module, fn, span name) so that calls made
    by the program itself (e.g. ``pipelines.backup`` calling
    ``manifest_json.write_manifests``) open a span. Restores the originals
    on exit."""
    saved = []
    for mod, fn_name, span_name in targets:
        orig = getattr(mod, fn_name)

        def wrapper(*a, __orig=orig, __name=span_name, **kw):
            with tracer.span(__name):
                return __orig(*a, **kw)

        saved.append((mod, fn_name, orig))
        setattr(mod, fn_name, functools.wraps(orig)(wrapper))
    try:
        yield
    finally:
        for mod, fn_name, orig in reversed(saved):
            setattr(mod, fn_name, orig)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id → its duration minus the part covered by its direct
    children (children of one span never overlap: one client thread)."""
    kids: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# -- event log ------------------------------------------------------------

_MODULE_RE = re.compile(r"esop_spark/((?:\w+/)*\w+)\.py")


def module_of(callsite: str) -> str | None:
    """``collect at /x/esop_spark/operators/dedup.py:12`` → ``operators.dedup``."""
    m = _MODULE_RE.search(callsite or "")
    return m.group(1).replace("/", ".") if m else None


def eventlog_files(log_dir: str) -> list[str]:
    """The event-log files under ``log_dir``: a plain file per application,
    or a rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` parts."""
    out = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            parts = glob.glob(os.path.join(p, "events_*"))
            out += sorted(parts, key=lambda q: int(os.path.basename(q).split("_")[1]))
        elif not p.endswith(".crc"):
            out.append(p)
    return out


def _stage_record() -> dict:
    return {"tasks": 0, "cpu_ns": 0, "gc_ms": 0, "wait_ms": 0, "shuffle_write": 0,
            "spill": 0, "input": 0, "output": 0, "name": "", "span_ms": 0}


def parse_eventlog(paths: list[str]) -> tuple[dict, dict]:
    """Read uncompressed JSON-lines event logs → (jobs, stages).

    jobs[id] = {group, module, stages, submit_ms}; stages[id] = task sums
    (tasks, CPU, GC, time outside executor run time, shuffle written,
    spill, input read, output written) plus the stage's name and submit-to-completion
    time."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "module": module_of(props.get("callSite.short", "")),
                        "stages": list(e.get("Stage IDs", [])),
                        "submit_ms": e.get("Submission Time", 0),
                    }
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(e["Stage ID"], _stage_record())
                    m = e.get("Task Metrics") or {}
                    info = e.get("Task Info") or {}
                    st["tasks"] += 1
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["wait_ms"] += max(0, info.get("Finish Time", 0) - info.get(
                        "Launch Time", 0) - m.get("Executor Run Time", 0))
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    st["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st["output"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _stage_record())
                    st["name"] = info.get("Stage Name", "")
                    st["span_ms"] = info.get("Completion Time", 0) - info.get(
                        "Submission Time", 0)
    return jobs, stages


def job_totals(job_ids, jobs: dict, stages: dict) -> dict:
    """Sum stage figures over a set of jobs (a stage shared by two jobs,
    e.g. a reused shuffle, is counted once)."""
    seen, tot = set(), _stage_record()
    tot.pop("name")
    tot["jobs"] = 0
    for jid in job_ids:
        tot["jobs"] += 1
        for sid in jobs[jid]["stages"]:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            for k, v in stages[sid].items():
                if k != "name":
                    tot[k] += v
    return tot


def jobs_between(jobs: dict, start_ms: float, end_ms: float) -> set[int]:
    """Jobs submitted within a wall-clock window: how the jobs of a
    streaming query are found, since its micro-batches run on threads that
    do not carry the span's job group."""
    return {jid for jid, j in jobs.items() if start_ms <= j.get("submit_ms", 0) <= end_ms}


def fold_into_spans(spans: list[dict], jobs: dict) -> dict[str, list[int]]:
    """Span id → ids of the jobs its calls started, including the jobs of
    its descendants."""
    by_group: dict[str, list[int]] = {}
    for jid, j in jobs.items():
        by_group.setdefault(j["group"], []).append(jid)
    total = {s["id"]: list(by_group.get(s["id"], [])) for s in spans}
    for s in sorted(spans, key=lambda s: -int(s["id"][1:])):
        if s["parent"] is not None:
            total[s["parent"]] += total[s["id"]]
    return total
