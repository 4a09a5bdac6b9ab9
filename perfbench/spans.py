"""Spans, Spark event-log parsing and per-layer rollups.

A span is a named interval around one call into an engine layer (or a
benchmark phase). Spans nest; each Spark job is attributed to the
innermost span open when it was submitted, through the
``perfbench.span`` local property the tracer sets on the SparkContext.
Spans stay in memory and are written out once, at exit.

The event-log parse follows the JobStart/JobEnd/TaskEnd handling of
``scripts/profile_queries.py`` and adds stages, executor run/CPU/GC/
deserialize time, shuffle, spill, input bytes and scan time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"

#: Plan-node scope names that mean a stage runs Python workers.
_PYTHON_SCOPES = ("Python", "Arrow", "Pandas")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float  # epoch seconds
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans; when ``sc`` is given, tags Spark jobs with the
    innermost open span's id. A disabled tracer records nothing."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, parent, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s.sid)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self._tag(self._stack[-1].sid if self._stack else None)

    def _tag(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, None if sid is None else str(sid))

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": s.sid,
                            "name": s.name,
                            "parent": s.parent,
                            "t0": s.t0,
                            "t1": s.t1,
                            **s.attrs,
                        }
                    )
                    + "\n"
                )


def check_nesting(spans: list[Span]) -> list[str]:
    """Every span is closed, lies inside its parent, and its parent
    was opened before it."""
    problems = []
    for s in spans:
        if s.t1 < s.t0:
            problems.append(f"span {s.sid} {s.name} ends before it starts")
        if s.parent is None:
            continue
        p = spans[s.parent]
        if p.sid >= s.sid:
            problems.append(f"span {s.sid} {s.name} opened before its parent")
        if s.t0 < p.t0 or s.t1 > p.t1:
            problems.append(f"span {s.sid} {s.name} outside parent {p.name}")
    return problems


# --- event log ---------------------------------------------------------


@dataclass
class Job:
    jid: int
    span: int | None
    t0: float  # epoch seconds
    t1: float = 0.0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    #: stage id -> {"job", "python", "tasks", counters...}
    stages: dict[int, dict] = field(default_factory=dict)
    #: rdd id -> first job whose stages list it
    rdd_job: dict[int, int] = field(default_factory=dict)
    #: rdd id -> peak stored bytes (memory + disk) over its block updates
    rdd_peak: dict[int, int] = field(default_factory=dict)


_COUNTERS = (
    "tasks",
    "run_ms",
    "cpu_ns",
    "gc_ms",
    "deser_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "fetch_wait_ms",
    "spill_disk_bytes",
    "input_bytes",
    "scan_ms",
)


def event_files(evdir: str, app_id: str) -> list[str]:
    files: list[str] = []
    for hit in glob.glob(os.path.join(evdir, f"*{app_id}*")):
        if os.path.isdir(hit):
            files.extend(
                p
                for p in sorted(glob.glob(os.path.join(hit, "*")))
                if os.path.isfile(p) and "appstatus" not in p
            )
        else:
            files.append(hit)
    return files


def _is_python_stage(info: dict) -> bool:
    for rdd in info.get("RDD Info", []):
        if rdd.get("Name") == "PythonRDD":
            return True
        scope = json.loads(rdd.get("Scope") or "{}").get("name", "")
        if any(m in scope for m in _PYTHON_SCOPES):
            return True
    return False


def parse_event_log(files: list[str]) -> EventLog:
    log = EventLog()
    rdd_blocks: dict[int, dict[str, int]] = {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    span = ev.get("Properties", {}).get(SPAN_PROP)
                    job = Job(
                        jid,
                        int(span) if span not in (None, "") else None,
                        ev["Submission Time"] / 1000.0,
                    )
                    log.jobs[jid] = job
                    for info in ev.get("Stage Infos", []):
                        sid = info["Stage ID"]
                        for rdd in info.get("RDD Info", []):
                            log.rdd_job.setdefault(rdd["RDD ID"], jid)
                        # a stage listed again by a later job is a
                        # skipped re-use: it stays with its first job
                        log.stages.setdefault(
                            sid,
                            {
                                "job": jid,
                                "python": _is_python_stage(info),
                                "ran": False,
                                **{c: 0 for c in _COUNTERS},
                            },
                        )
                elif et == "SparkListenerJobEnd":
                    job = log.jobs.get(ev["Job ID"])
                    if job is not None:
                        job.t1 = ev["Completion Time"] / 1000.0
                elif et == "SparkListenerStageCompleted":
                    st = log.stages.get(ev["Stage Info"]["Stage ID"])
                    if st is not None:
                        st["ran"] = "Submission Time" in ev["Stage Info"]
                elif et == "SparkListenerTaskEnd":
                    st = log.stages.get(ev["Stage ID"])
                    if st is None:
                        continue
                    _add_task(st, ev)
                elif et == "SparkListenerBlockUpdated":
                    upd = ev.get("Block Updated Info", {})
                    bid = upd.get("Block ID", "")
                    if bid.startswith("rdd_"):
                        rdd = int(bid.split("_")[1])
                        blocks = rdd_blocks.setdefault(rdd, {})
                        blocks[bid] = upd.get("Memory Size", 0) + upd.get(
                            "Disk Size", 0
                        )
                        log.rdd_peak[rdd] = max(
                            log.rdd_peak.get(rdd, 0), sum(blocks.values())
                        )
    return log


def _add_task(st: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    st["tasks"] += 1
    st["run_ms"] += m.get("Executor Run Time", 0)
    st["cpu_ns"] += m.get("Executor CPU Time", 0)
    st["gc_ms"] += m.get("JVM GC Time", 0)
    st["deser_ms"] += m.get("Executor Deserialize Time", 0)
    sr = m.get("Shuffle Read Metrics", {})
    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    st["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    st["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    )
    st["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
    st["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    for acc in ev.get("Task Info", {}).get("Accumulables", []):
        if acc.get("Name") == "scan time":
            try:
                st["scan_ms"] += int(acc.get("Update", 0))
            except (TypeError, ValueError):
                pass


# --- rollups -----------------------------------------------------------


def descendants(spans: list[Span], root: int) -> set[int]:
    """``root`` and every span below it."""
    out = {root}
    for s in spans:  # parents precede children
        if s.parent in out:
            out.add(s.sid)
    return out


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclass
class Rollup:
    wall_s: float
    jobs: int
    stages: int
    python_stages: int
    counters: dict
    job_wall_s: float
    cached_bytes: int

    @property
    def driver_self_s(self) -> float:
        """Span wall minus the union of its Spark jobs' intervals."""
        return max(0.0, self.wall_s - self.job_wall_s)


def rollup(log: EventLog, spans: list[Span], roots: list[int]) -> Rollup:
    """Inclusive totals of the spans ``roots`` and their descendants."""
    ids: set[int] = set()
    for r in roots:
        ids |= descendants(spans, r)
    jobs = [j for j in log.jobs.values() if j.span in ids]
    job_ids = {j.jid for j in jobs}
    ran = [
        st for st in log.stages.values() if st["ran"] and st["job"] in job_ids
    ]
    counters = {c: sum(st[c] for st in ran) for c in _COUNTERS}
    return Rollup(
        wall_s=sum(spans[r].wall for r in roots),
        jobs=len(jobs),
        stages=len(ran),
        python_stages=sum(1 for st in ran if st["python"]),
        counters=counters,
        job_wall_s=_union_len([(j.t0, j.t1) for j in jobs if j.t1]),
        cached_bytes=sum(
            peak
            for rdd, peak in log.rdd_peak.items()
            if log.rdd_job.get(rdd) in job_ids
        ),
    )
