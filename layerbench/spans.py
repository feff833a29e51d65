"""Spans around layer calls, and a reader for Spark's JSON event log.

Only the traced run uses this module. Spans are kept in memory and written
out once, when the benchmark ends. The event log reader sums task metrics by
job group; the benchmark labels each layer's jobs with ``setJobGroup``.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records (name, start, end, parent, run id) spans; labels Spark jobs."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """``group`` also labels the Spark jobs started inside the span."""
        parent = self._stack[-1] if self._stack else None
        if group is not None:
            self.sc.setJobGroup(group, group)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({"name": name, "start": start, "end": end, "parent": parent, "run": self.run_id})
            if group is not None:
                self.sc.setJobGroup("bench", "bench")

    @property
    def current(self) -> str | None:
        return self._stack[-1] if self._stack else None

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def top_level_sum(self, run: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None and s["run"] == run)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part covered by its direct children."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == s["name"] and c["run"] == s["run"])
            out[s["name"]] += (s["end"] - s["start"]) - kids
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f, indent=1)


def _acc(task_end: dict, name: str) -> float:
    for a in task_end.get("Task Info", {}).get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


class GroupStats:
    """Task metrics summed over one job group."""

    def __init__(self):
        self.jobs = 0
        self.tasks = 0
        self.task_failures = 0
        self.run_s = 0.0
        self.cpu_s = 0.0
        self.gc_s = 0.0
        self.shuffle_write_bytes = 0
        self.fetch_wait_s = 0.0
        self.bytes_read = 0
        self.python_stages: set[int] = set()
        # records fed to each task of a stage that ran Python code
        self.python_task_records: dict[int, list[int]] = defaultdict(list)
        # shuffle stages run in this group that feed one of its Python stages
        self.python_exchange_stages: set[int] = set()
        self.python_exchange_bytes = 0
        # SQL execution id -> [first job submitted, last job completed (ms), jobs],
        # in the order the executions started
        self.executions: dict[str, list] = {}

    def first_execution(self) -> tuple[float, int]:
        """(seconds from the first job's submission to the last job's end,
        jobs) of the first SQL execution run in this group."""
        if not self.executions:
            return 0.0, 0
        start, end, jobs = next(iter(self.executions.values()))
        return (end - start) / 1e3, jobs


def read_event_log(path: str, stream_run_ids: dict[str, str] | None = None) -> dict[str, GroupStats]:
    """Sum task metrics by job group. Jobs of a streaming query carry the
    query's run id as group; ``stream_run_ids`` maps those to a label."""
    stream_run_ids = stream_run_ids or {}
    stage_group: dict[int, str] = {}
    parents: dict[int, list[int]] = {}
    stage_bytes: dict[int, int] = defaultdict(int)
    job_execution: dict[int, list] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or "bench"
                group = stream_run_ids.get(group, group)
                groups[group].jobs += 1
                ex = groups[group].executions.setdefault(props.get("spark.sql.execution.id"), [ev["Submission Time"], 0, 0])
                ex[2] += 1
                job_execution[ev["Job ID"]] = ex
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
                for info in ev.get("Stage Infos", []):
                    parents.setdefault(info["Stage ID"], info.get("Parent IDs", []))
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_execution:
                ex = job_execution[ev["Job ID"]]
                ex[1] = max(ex[1], ev["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev.get("Stage ID"), "bench")]
                g.tasks += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    g.task_failures += 1
                m = ev.get("Task Metrics") or {}
                g.run_s += m.get("Executor Run Time", 0) / 1e3
                g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                g.gc_s += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                written = sw.get("Shuffle Bytes Written", 0)
                g.shuffle_write_bytes += written
                stage_bytes[ev["Stage ID"]] += written
                sr = m.get("Shuffle Read Metrics") or {}
                g.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
                inp = m.get("Input Metrics") or {}
                g.bytes_read += inp.get("Bytes Read", 0)
                if _acc(ev, "data sent to Python workers") > 0:
                    g.python_stages.add(ev["Stage ID"])
                    g.python_task_records[ev["Stage ID"]].append(
                        int(sr.get("Total Records Read", 0)) + int(inp.get("Records Read", 0))
                    )
    for name, g in groups.items():
        todo = [p for sid in g.python_stages for p in parents.get(sid, [])]
        seen: set[int] = set()
        while todo:
            sid = todo.pop()
            if sid not in seen:
                seen.add(sid)
                todo.extend(parents.get(sid, []))
        g.python_exchange_stages = {sid for sid in seen if stage_bytes[sid] and stage_group.get(sid) == name}
        g.python_exchange_bytes = sum(stage_bytes[sid] for sid in g.python_exchange_stages)
    return dict(groups)


def partition_skew(records: list[int]) -> float:
    """max / median input rows over the tasks of one stage."""
    if not records:
        return 0.0
    ordered = sorted(records)
    mid = len(ordered) // 2
    median = ordered[mid] if len(ordered) % 2 else (ordered[mid - 1] + ordered[mid]) / 2
    return ordered[-1] / median if median else float(ordered[-1] > 0)
