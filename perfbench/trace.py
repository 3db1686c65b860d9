"""Spans around every engine call, and Spark jobs/tasks attributed to them.

A span is recorded in memory for each public engine call the benchmark
makes (name, start, end, parent, request id). In a traced run the Spark
event log is parsed afterwards and each job goes to the innermost span
whose interval contains the job's submission time; its tasks follow it
through their stage ids. With one client thread this is exact, and it
also catches jobs that engine helper threads submit.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# counters reported for every engine-call span, as the median per call
COUNTERS = (
    "wall_s", "jobs", "tasks", "job_s", "driver_s", "executor_cpu_s",
    "gc_s", "shuffle_write_bytes", "input_bytes", "spill_bytes",
)
COUNTER_UNITS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "job_s": "s",
    "driver_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_write_bytes": "B", "input_bytes": "B", "spill_bytes": "B",
}
# span name -> extra per-call values the span reports (name -> unit)
SPANS = {
    "segments.write_index": {"meta_s": "s", "sample_s": "s", "slices_s": "s", "dict_cat_s": "s"},
    "ingest.apply_ingest_batch": {},
    "deletes.delete_docs": {},
    "bm25_segments.topk_segments": {"scan_frac": "ratio"},
    "bm25_segments.topk_segments_multi": {"scan_frac": "ratio"},
    "phrase.phrase_topk_indexed": {},
    "boolean.boolean_topk_query": {},
    "phrase.positional_topk_indexed_multi": {},
    "boolean.boolean_topk_multi": {},
    "multifield.bm25f_topk_multi": {},
}
SESSION_SPAN = "session.get_spark"
WARMUP = "warmup"  # request id of calls made only to warm caches


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0
    parent: int | None = None
    request: str = ""
    extra: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Always on: the untraced run uses the same
    spans for its end-to-end timings; only the Spark event log (and so the
    job/task attribution) is reserved for the traced run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: str = ""):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent, request=request or (
            self.spans[parent].request if parent is not None else ""))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": i, "name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "request": s.request,
                     "self_s": selfs[i], **s.extra}
                    for i, s in enumerate(self.spans)
                ],
                f,
            )


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Duration minus the part of the interval covered by child spans."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        clipped = [(max(lo, s.start), min(hi, s.end)) for lo, hi in kids.get(i, [])]
        out.append((s.end - s.start) - _union_length([c for c in clipped if c[1] > c[0]]))
    return out


def read_event_log(root: str) -> list[dict]:
    """All events under an event-log directory: plain files and Spark 4's
    rolling `eventlog_v2_*/events_<n>_*` layout, in file order. The log
    must be written with spark.eventLog.compress=false."""
    paths = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.startswith(".") or fn.endswith(".crc") or fn.startswith("appstatus"):
                continue
            paths.append(os.path.join(dirpath, fn))

    def order(p: str):
        base = os.path.basename(p)
        parts = base.split("_")
        idx = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(p), idx, base)

    events = []
    for p in sorted(paths, key=order):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def attribute(spans: list[Span], events: list[dict]) -> dict[int, dict]:
    """span index -> summed counters of the jobs/tasks attributed to it.
    A job belongs to the innermost span (latest start) whose [start, end]
    contains its submission time; tasks follow their stage's job."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {"submit": e["Submission Time"] / 1000.0, "end": None}
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0

    def owner(t: float) -> int | None:
        best = None
        for i, s in enumerate(spans):
            if s.start <= t <= s.end and (best is None or s.start >= spans[best].start):
                best = i
        return best

    out: dict[int, dict] = {}

    def acc(i: int) -> dict:
        return out.setdefault(i, {c: 0.0 for c in COUNTERS if c not in ("wall_s", "driver_s")}
                              | {"_job_intervals": []})

    job_span: dict[int, int] = {}
    for jid, j in jobs.items():
        i = owner(j["submit"])
        if i is None:
            continue
        job_span[jid] = i
        a = acc(i)
        a["jobs"] += 1
        end = j["end"] if j["end"] is not None else spans[i].end
        a["_job_intervals"].append((max(j["submit"], spans[i].start), min(end, spans[i].end)))
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(e.get("Stage ID"))
        if jid not in job_span:
            continue
        a = acc(job_span[jid])
        m = e.get("Task Metrics") or {}
        a["tasks"] += 1
        a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        a["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for i, a in out.items():
        a["job_s"] = _union_length([iv for iv in a.pop("_job_intervals") if iv[1] > iv[0]])
    return out


def per_layer(spans: list[Span], attributed: dict[int, dict]) -> dict[str, float]:
    """`<layer>.<function>.<counter>` -> median per call over every call of
    that span except warm-up calls. A span the workload never calls
    reports 0."""
    calls: dict[str, list[dict]] = {name: [] for name in SPANS}
    session_walls = []
    for i, s in enumerate(spans):
        if s.name == SESSION_SPAN:
            session_walls.append(s.end - s.start)
        if s.name not in SPANS or s.request == WARMUP:
            continue
        wall = s.end - s.start
        a = attributed.get(i, {})
        row = {c: float(a.get(c, 0.0)) for c in COUNTERS}
        row["wall_s"] = wall
        row["driver_s"] = wall - row["job_s"]
        for key in SPANS[s.name]:
            row[key] = float(s.extra.get(key, 0.0))
        if "scan_frac" in SPANS[s.name]:
            store = s.extra.get("store_bytes", 0)
            row["scan_frac"] = row["input_bytes"] / store if store else 0.0
        calls[s.name].append(row)
    out = {f"{SESSION_SPAN}.wall_s": statistics.median(session_walls) if session_walls else 0.0}
    for name, rows in calls.items():
        for key in (*COUNTERS, *SPANS[name]):
            out[f"{name}.{key}"] = statistics.median(r[key] for r in rows) if rows else 0.0
    return out


def per_layer_units() -> dict[str, str]:
    units = {f"{SESSION_SPAN}.wall_s": "s"}
    for name, extra in SPANS.items():
        for key in COUNTERS:
            units[f"{name}.{key}"] = COUNTER_UNITS[key]
        for key, unit in extra.items():
            units[f"{name}.{key}"] = unit
    return units
