"""Spans recorded around the benchmark's calls into the engine, and the
per-layer metrics they yield once joined with Spark's event log.

Every span of one query execution shares the query's run-wide id. Each
child span tags the Spark jobs it launches with ``SparkContext.setJobGroup``
(``<query id>.<layer>``), so every job, stage and task in the event log
attaches to the span that launched it. Spans stay in memory and are written
out when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    qid: str
    parent: str | None
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for one run. ``enabled=False`` records nothing and
    tags no jobs, so untraced passes run exactly as a user would."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._next = 0

    def new_query(self, name: str) -> str:
        self._next += 1
        return f"q{self._next}-{name}"

    @contextmanager
    def span(self, name: str, qid: str, parent: str | None = None) -> Iterator[Span]:
        """Time the block as span ``name`` of query ``qid``; a child span
        (one with a ``parent``) also tags the Spark jobs the block starts."""
        tag = self.enabled and parent is not None
        if tag:
            self.sc.setJobGroup(f"{qid}.{name}", name)
        s = Span(name, qid, parent, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            if self.enabled:
                self.spans.append(s)
            if tag:
                self.sc.setJobGroup("untraced", "untraced")


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (stopped) application's uncompressed event log."""
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def _scan_size_accumulators(plan: dict, out: set[int]) -> None:
    """Ids of the "size of files read" metric of every file scan in a SQL
    plan tree (the bytes of the files the scan selects)."""
    for metric in plan.get("metrics", []):
        if metric["name"] == "size of files read":
            out.add(metric["accumulatorId"])
    for child in plan.get("children", []):
        _scan_size_accumulators(child, out)


def layer_metrics(spans: list[Span], events: list[dict], cores: int) -> dict:
    """Per-layer totals over the traced spans. Returns a dict of
    ``<module>.<metric>`` -> value plus ``per_query`` details."""
    groups = {f"{s.qid}.{s.name}": s for s in spans if s.parent is not None}
    queries = {s.qid: s for s in spans if s.parent is None}
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    exec_group: dict[int, str] = {}
    aqe_updates: dict[int, int] = {}
    scan_size_ids: set[int] = set()
    driver_updates: list[tuple[int, int, int]] = []  # (execution, accumulator, value)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = _group(e.get("Properties"))
            if g in groups:
                jobs[e["Job ID"]] = {"group": g, "submit": e["Submission Time"] / 1000.0}
                eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
                if eid is not None:
                    exec_group[int(eid)] = g
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            g = _group(e.get("Properties"))
            if g in groups:
                stage_group[e["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in stage_group:
                stages[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_group:
            tasks.setdefault(e["Stage ID"], []).append(e)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            aqe_updates[e["executionId"]] = aqe_updates.get(e["executionId"], 0) + 1
            _scan_size_accumulators(e["sparkPlanInfo"], scan_size_ids)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            _scan_size_accumulators(e["sparkPlanInfo"], scan_size_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.extend((e["executionId"], a, v) for a, v in e["accumUpdates"])

    per_q: dict[str, dict] = {
        qid: {
            "query": s.attrs.get("query"),
            "wall_s": s.dur,
            "children": {},
            "jobs": {},
            "stages": 0,
            "single_task_stages": 0,
            "tasks": 0,
        }
        for qid, s in queries.items()
    }
    for g, s in groups.items():
        per_q[s.qid]["children"][s.name] = per_q[s.qid]["children"].get(s.name, 0.0) + s.dur
    for j in jobs.values():
        s = groups[j["group"]]
        per_q[s.qid]["jobs"][s.name] = per_q[s.qid]["jobs"].get(s.name, 0) + 1

    m = {
        "plans.build_jobs": 0,
        "exec.jobs": 0,
        "exec.stages": len(stages),
        "exec.single_task_stages": 0,
        "exec.tasks": 0,
        "exec.launch_wait_s": 0.0,
        "exec.task_run_s": 0.0,
        "exec.task_cpu_s": 0.0,
        "exec.gc_s": 0.0,
        "exec.task_skew": 1.0,
        "sources.input_rows": 0,
        "shuffle.write_bytes": 0,
        "shuffle.read_bytes": 0,
        "shuffle.fetch_wait_s": 0.0,
        "shuffle.spill_bytes": 0,
        "catalyst.aqe_updates": sum(n for eid, n in aqe_updates.items() if eid in exec_group),
        "sources.input_bytes": sum(
            v for eid, a, v in driver_updates if a in scan_size_ids and eid in exec_group
        ),
    }
    for j in jobs.values():
        layer = groups[j["group"]].name
        if layer == "plans.build":
            m["plans.build_jobs"] += 1
        elif layer in ("exec.action", "sinks.write"):
            m["exec.jobs"] += 1
    for sid, info in stages.items():
        ts = tasks.get(sid, [])
        q = per_q[groups[stage_group[sid]].qid]
        q["stages"] += 1
        q["tasks"] += len(ts)
        m["exec.tasks"] += len(ts)
        if info["Number of Tasks"] == 1:
            m["exec.single_task_stages"] += 1
            q["single_task_stages"] += 1
        if ts:
            first_launch = min(t["Task Info"]["Launch Time"] for t in ts)
            m["exec.launch_wait_s"] += max(0, first_launch - info["Submission Time"]) / 1000.0
        runs = []
        for t in ts:
            tm = t.get("Task Metrics") or {}
            runs.append(tm.get("Executor Run Time", 0))
            m["exec.task_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            m["exec.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            m["sources.input_rows"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
            sw = tm.get("Shuffle Write Metrics") or {}
            m["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["shuffle.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        if len(runs) >= 2:
            m["exec.task_skew"] = max(m["exec.task_skew"], max(runs) / max(1.0, statistics.median(runs)))

    # collect: from the action's last job end to the action's return.
    collect_s = 0.0
    for g, s in groups.items():
        if s.name != "exec.action":
            continue
        ends = [j["end"] for j in jobs.values() if j["group"] == g and "end" in j]
        tail = s.end - max(ends) if ends else 0.0
        tail = min(max(0.0, tail), s.dur)
        collect_s += tail
        per_q[s.qid]["children"]["collect"] = tail
    m["collect.driver_s"] = collect_s

    def total(layer: str) -> float:
        return sum(s.dur for s in groups.values() if s.name == layer)

    m["plans.build_s"] = total("plans.build")
    m["catalyst.plan_s"] = total("catalyst.plan")
    m["exec.action_s"] = total("exec.action") - collect_s
    m["sinks.write_s"] = total("sinks.write")
    query_s = sum(s.dur for s in queries.values())
    children_s = sum(s.dur for s in groups.values())
    m["trace.unaccounted_frac"] = (query_s - children_s) / query_s if query_s else 0.0
    m["exec.busy_frac"] = m["exec.task_run_s"] / (query_s * cores) if query_s else 0.0
    return {"metrics": m, "per_query": list(per_q.values())}


def spans_json(spans: list[Span]) -> list[dict]:
    return [asdict(s) for s in spans]
