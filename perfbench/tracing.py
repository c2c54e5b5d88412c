"""Traced-run tooling: spans around engine calls, and Spark event-log parsing.

Spans are recorded from the benchmark's side only: :class:`Tracer` wraps the
engine's public calls, and the module-level helpers they call, where the
caller looks them up (``solrutils_spark.query.engine.topk_rows``, not
``solrutils_spark.query.wand.topk_rows``). Spans stay in memory and are
written out when the run ends. A span's self time is its duration minus the
time its child spans cover; spans of one operation share an ``op`` id.

:func:`parse_event_log` reads the JSON-lines event log Spark writes with
``spark.eventLog.enabled`` and returns jobs with their stages and summed task
metrics, keyed by job group (the benchmark sets one per operation) and job
description (``build_index`` labels its four phases).
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: int = -1
    attrs: dict = field(default_factory=dict)
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    """Patches module attributes with span-recording wrappers.

    ``targets`` maps a span name to ``(owner, attribute)``; ``owner`` is a
    module or class. ``hooks`` maps a span name to ``f(span, args, result)``
    that adds counts to the span's attributes.
    """

    def __init__(self, targets: dict[str, tuple[object, str]], hooks=None):
        self.spans: list[Span] = []
        self.op = -1
        self._stack: list[int] = []
        self._targets = targets
        self._hooks = hooks or {}
        self._orig = {name: getattr(owner, attr)
                      for name, (owner, attr) in targets.items()}
        self._wrapped = {name: self._wrap(name, fn) for name, fn in self._orig.items()}
        self.enabled = False

    def _wrap(self, name: str, fn):
        hook = self._hooks.get(name)

        def traced(*args, **kwargs):
            span = self.open(name)
            try:
                out = fn(*args, **kwargs)
                if hook is not None:
                    hook(span, args, out)
                return out
            finally:
                self.close()

        traced.__wrapped__ = fn
        return traced

    def open(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self.op))
        self._stack.append(len(self.spans) - 1)
        return self.spans[-1]

    def close(self) -> None:
        idx = self._stack.pop()
        span = self.spans[idx]
        span.end = time.perf_counter()
        if span.parent >= 0:
            self.spans[span.parent].child_s += span.dur

    def enable(self) -> None:
        for name, (owner, attr) in self._targets.items():
            setattr(owner, attr, self._wrapped[name])
        self.enabled = True

    def disable(self) -> None:
        for name, (owner, attr) in self._targets.items():
            setattr(owner, attr, self._orig[name])
        self.enabled = False

    def self_times(self, ops: set[int] | None = None) -> dict[str, float]:
        """Σ self seconds per span name (restricted to ``ops`` if given)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if ops is None or s.op in ops:
                out[s.name] += s.self_s
        return dict(out)

    def attr_sum(self, name: str, key: str, ops: set[int] | None = None) -> float:
        return sum(s.attrs.get(key, 0) for s in self.spans
                   if s.name == name and (ops is None or s.op in ops))

    def count(self, name: str, ops: set[int] | None = None) -> int:
        return sum(1 for s in self.spans
                   if s.name == name and (ops is None or s.op in ops))

    def dump(self, path: Path) -> None:
        rows = [[s.name, round(s.start, 6), round(s.end, 6), s.parent, s.op,
                 s.attrs] for s in self.spans]
        path.write_text(json.dumps(
            {"fields": ["name", "start", "end", "parent", "op", "attrs"],
             "spans": rows}))


# -- Spark event log ---------------------------------------------------------

PYTHON_GROUP_NODES = ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                      "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow")
SCAN_NODES = ("InMemoryTableScan", "Scan parquet", "FileSourceScan", "BatchScan")


@dataclass
class Stage:
    id: int
    name: str
    tasks: int = 0
    wall_s: float = 0.0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    failed: int = 0
    nodes: set = field(default_factory=set)

    @property
    def python(self) -> bool:
        return any(n.startswith(PYTHON_GROUP_NODES) for n in self.nodes)

    @property
    def scan(self) -> bool:
        return any(n.startswith(SCAN_NODES) for n in self.nodes)


@dataclass
class Job:
    id: int
    group: str | None
    description: str | None
    call_site: str
    start_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return max(0, self.end_ms - self.start_ms) / 1000.0


def _plan_metric_nodes(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        out[int(m["accumulatorId"])] = info.get("nodeName", "")
    for child in info.get("children", []):
        _plan_metric_nodes(child, out)


def _log_files(log_dir: Path) -> list[Path]:
    """Event files in write order: a flat log, or the ``eventlog_v2_*``
    directory of ``events_<n>_<app>`` parts Spark 4 writes."""
    def part(p: Path) -> int:
        bits = p.name.split("_")
        return int(bits[1]) if len(bits) > 1 and bits[1].isdigit() else 0

    return sorted((p for p in log_dir.rglob("*")
                   if p.is_file() and p.stat().st_size
                   and not p.name.startswith((".", "appstatus"))),
                  key=lambda p: (str(p.parent), part(p)))


def parse_event_log(log_dir: Path) -> tuple[list[Job], dict[int, Stage]]:
    """All jobs (with stage ids) and stages (with summed task metrics)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    acc_node: dict[int, str] = {}
    stage_accs: dict[int, set[int]] = defaultdict(set)
    for path in _log_files(Path(log_dir)):
        with path.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SQLExecutionStart") or kind.endswith(
                        "SQLAdaptiveExecutionUpdate"):
                    _plan_metric_nodes(ev.get("sparkPlanInfo", {}), acc_node)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], props.get("spark.jobGroup.id"),
                        props.get("spark.job.description"),
                        props.get("callSite.short", ""), ev["Submission Time"],
                        stage_ids=list(ev.get("Stage IDs", [])))
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], ""))
                    st.name = info.get("Stage Name", "")
                    if "Submission Time" in info and "Completion Time" in info:
                        st.wall_s = (info["Completion Time"] - info["Submission Time"]) / 1000
                    for acc in info.get("Accumulables", []):
                        stage_accs[st.id].add(int(acc["ID"]))
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"], ""))
                    st.tasks += 1
                    tinfo = ev.get("Task Info", {})
                    st.failed += bool(tinfo.get("Failed"))
                    for acc in tinfo.get("Accumulables", []):
                        stage_accs[st.id].add(int(acc["ID"]))
                    m = ev.get("Task Metrics") or {}
                    st.run_s += m.get("Executor Run Time", 0) / 1000
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    sr = m.get("Shuffle Read Metrics", {})
                    st.shuffle_read += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
                    st.shuffle_write += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    st.spill += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
    for sid, accs in stage_accs.items():
        if sid in stages:
            stages[sid].nodes = {acc_node[a] for a in accs if a in acc_node}
    return sorted(jobs.values(), key=lambda j: j.id), stages


def job_totals(jobs: list[Job], stages: dict[int, Stage]) -> dict[str, float]:
    """Summed Spark work of ``jobs``; a stage shared by jobs counts once and
    a stage skipped by a job (reused shuffle output) never ran for it."""
    seen: set[int] = set()
    tot = defaultdict(float)
    tot["jobs"] = len(jobs)
    for j in jobs:
        for sid in j.stage_ids:
            st = stages.get(sid)
            if st is None or sid in seen or st.tasks == 0:
                continue
            seen.add(sid)
            tot["stages"] += 1
            tot["tasks"] += st.tasks
            tot["task_run_s"] += st.run_s
            tot["task_cpu_s"] += st.cpu_s
            tot["shuffle_read_bytes"] += st.shuffle_read
            tot["shuffle_write_bytes"] += st.shuffle_write
            tot["spill_bytes"] += st.spill
            tot["failed_tasks"] += st.failed
            if st.python:
                tot["python_stage_s"] += st.wall_s
            if st.scan:
                tot["scan_stage_s"] += st.wall_s
    tot["wall_s"] = sum(j.wall_s for j in jobs)
    return dict(tot)


def call_site_kind(call_site: str) -> str:
    """Which part of a Layer-B request a job served, by its ``callSite.short``
    (``<action> at <file>:<line>``)."""
    action, _, where = call_site.partition(" at ")
    if "facets.py" in where:
        return "facets"
    if action == "count" or "matching_count" in where:
        return "numfound"
    if action == "collect" and "executor.py" in where:
        return "hits"
    return "other"
