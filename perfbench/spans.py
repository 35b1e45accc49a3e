"""In-memory spans, Spark job/task counts and py4j call counts.

A `Tracer` records one span per call into a package layer: name,
start, end, parent span, request id, and (when enabled) the Spark
jobs, completed tasks and failed tasks run under the span's own job
group plus the py4j round trips made inside it. A disabled tracer
records nothing and touches neither Spark nor py4j, so untraced runs
measure the program alone.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile that has at least
    ten samples beyond it: the 11th-largest sample. With ten samples or
    fewer no percentile qualifies and the maximum is returned as p100."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return 100.0, s[-1]
    return 100.0 * (n - 10) / n, s[n - 11]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span id: its duration minus the part of its interval that its
    child spans cover (children may overlap each other)."""
    children: dict[int, list[dict]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(sp["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], sp["start"]), min(c["end"], sp["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[sp["id"]] = (sp["end"] - sp["start"]) - covered
    return out


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.spans: list[dict] = []
        self.request: int | None = None
        self.py4j_calls = 0
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._counting = False
        self._sc = spark.sparkContext if spark is not None else None
        self._client = self._sc._gateway._gateway_client if self._sc is not None else None
        self._send = self._client.send_command if self._client is not None else None
        self.enabled = enabled

    @property
    def enabled(self) -> bool:
        return self._enabled

    @enabled.setter
    def enabled(self, on: bool) -> None:
        """Counting py4j calls wraps the gateway client's send only while
        the tracer is enabled."""
        self._enabled = on
        if self._client is not None:
            self._client.send_command = self._counted_send if on else self._send

    def _counted_send(self, *args, **kwargs):
        if self._counting:
            self.py4j_calls += 1
        return self._send(*args, **kwargs)

    @contextmanager
    def span(self, name: str, **attrs):
        """Yields the span record (or None when disabled); callers may
        add attributes to it."""
        if not self.enabled:
            yield None
            return
        t_book = time.perf_counter()
        self._counting = False
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "request": self.request, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self._sc is not None:
            self._sc.setJobGroup(f"perfbench-{rec['id']}", name)
        calls0 = self.py4j_calls
        self._counting = True
        self.bookkeeping_s += time.perf_counter() - t_book
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._counting = False
            rec["py4j_calls"] = self.py4j_calls - calls0
            self._stack.pop()
            self._finish(rec)
            if self._stack:
                self._counting = True
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def _finish(self, rec: dict) -> None:
        rec.update(jobs=0, tasks=0, failed_tasks=0)
        if self._sc is None:
            return
        sc = self._sc
        # the status store is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        for job_id in st.getJobIdsForGroup(f"perfbench-{rec['id']}"):
            info = st.getJobInfo(job_id)
            rec["jobs"] += 1
            for stage_id in info.stageIds if info else ():
                si = st.getStageInfo(stage_id)
                if si is not None:
                    rec["tasks"] += si.numCompletedTasks
                    rec["failed_tasks"] += si.numFailedTasks
        if self._stack:
            sc.setJobGroup(f"perfbench-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def inclusive(self, rec: dict, key: str) -> int:
        """A count summed over the span and all its descendants (each
        span's job group holds only the jobs run directly under it)."""
        total = rec[key]
        for sp in self.spans:
            if sp["parent"] == rec["id"]:
                total += self.inclusive(sp, key)
        return total

    def named(self, name: str) -> list[dict]:
        return [sp for sp in self.spans if sp["name"] == name]
