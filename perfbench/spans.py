"""Spans and Spark job counters for the traced benchmark run.

Every call the benchmark makes into an engine module runs inside a span.
A span with a ``layer`` also owns a Spark job group, so the jobs and
stages Spark ran for that call can be attributed to it afterwards
through the UI's REST API (``/api/v1/applications/<id>/jobs`` and
``/stages``).  Spans are kept in memory and written out once, at the end
of the run.  Nothing in the engine is modified: the benchmark's own
code opens the spans around its calls, and ``wrap`` swaps a module
attribute for a timing wrapper for the duration of the traced run.
"""

from __future__ import annotations

import calendar
import contextlib
import itertools
import json
import time
import urllib.request
from dataclasses import dataclass, field

_JOB_GROUP = "spark.jobGroup.id"


def _epoch(ts: str | None) -> float | None:
    """Spark REST timestamps look like ``2026-01-01T10:00:00.123GMT``."""
    if not ts:
        return None
    base, _, rest = ts.partition(".")
    ms = int(rest[:3]) if rest[:3].isdigit() else 0
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + ms / 1000


@dataclass
class Span:
    name: str
    layer: str | None
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    sid: int = 0
    counters: dict = field(default_factory=dict)


class Tracer:
    """Collects spans; ``enabled=False`` makes every method a cheap no-op
    so the untraced run shares the same code path."""

    def __init__(self, spark=None, workload: str = "", enabled: bool = False):
        self.enabled = enabled
        self.workload = workload
        self.sc = spark.sparkContext if (enabled and spark is not None) else None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None, op: str | None = None):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, op, parent, time.time(), sid=sid)
        prev_group = None
        if layer is not None and self.sc is not None:
            sp.group = f"pb-{sid}"
            prev_group = self.sc.getLocalProperty(_JOB_GROUP)
            self.sc.setJobGroup(sp.group, f"{layer}:{name}")
        self._stack.append(sid)
        self.spans.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sp.group is not None:
                if prev_group is None:
                    self.sc.setLocalProperty(_JOB_GROUP, None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setLocalProperty(_JOB_GROUP, prev_group)

    def wrap(self, module, attr: str, name: str, layer: str) -> None:
        """Replace ``module.attr`` with a wrapper that runs it in a span."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name, layer):
                return orig(*args, **kwargs)

        self._patched.append((module, attr, orig))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- Spark REST harvest ----------------------------------------------
    def _get(self, what: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{what}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.loads(resp.read())

    def harvest(self) -> None:
        """Pull job and stage records for every job group seen so far.
        The UI's listener is asynchronous, so wait until no job of ours
        is still running and the job list has stopped growing."""
        if not self.enabled or self.sc is None:
            return
        last = -1
        for _ in range(50):
            jobs = [j for j in self._get("jobs") if j.get("jobGroup", "").startswith("pb-")]
            running = any(j.get("status") == "RUNNING" for j in jobs)
            if not running and len(jobs) == last:
                break
            last = len(jobs)
            time.sleep(0.1)
        for j in jobs:
            self.jobs[j["jobId"]] = j
        for s in self._get("stages"):
            self.stages[(s["stageId"], s["attemptId"])] = s

    def group_stats(self, group: str) -> dict:
        """Spark counters of one span's job group."""
        jobs = [j for j in self.jobs.values() if j.get("jobGroup") == group]
        stage_ids = {sid for j in jobs for sid in j.get("stageIds", ())}
        out = {"jobs": len(jobs), "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_mb": 0.0, "intervals": []}
        for (sid, _), s in self.stages.items():
            if sid not in stage_ids or s.get("status") == "SKIPPED":
                continue
            out["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
            out["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            out["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            out["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
        for j in jobs:
            a, b = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
            if a is not None and b is not None:
                out["intervals"].append((a, b))
        return out

    def span_stats(self, sp: Span) -> dict:
        """Counters of a span and all its descendants, plus the part of
        its wall time during which none of its jobs was running."""
        ids = {sp.sid}
        for other in self.spans:  # spans are appended in start order
            if other.parent in ids:
                ids.add(other.sid)
        agg = {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_mb": 0.0}
        intervals: list[tuple[float, float]] = []
        for other in self.spans:
            if other.sid in ids and other.group is not None:
                st = self.group_stats(other.group)
                intervals += st.pop("intervals")
                for k in agg:
                    agg[k] += st[k]
        busy = 0.0
        cur_a = cur_b = None
        for a, b in sorted(intervals):
            a, b = max(a, sp.start), min(b, sp.end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        agg["driver_only_s"] = max(0.0, (sp.end - sp.start) - busy)
        return agg

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "id": sp.sid, "name": sp.name, "layer": sp.layer,
                    "op": sp.op, "parent": sp.parent, "start": sp.start,
                    "end": sp.end, "workload": self.workload,
                    "job_group": sp.group, **sp.counters,
                }) + "\n")
