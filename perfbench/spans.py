"""Spans recorded from the benchmark's own files, plus readings of Spark's
in-process status store per op job group.

Nothing here reaches into ``osmdatapy_spark``: spans wrap the benchmark's
calls into a layer's public functions, Spark jobs are read back from the
status store after an op, and py4j round trips are counted on the gateway
client of the benchmark's own session.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans ``[name, start, end, parent, op]``; written out once
    at the end of the run.  Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent][4]
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int) -> None:
        """A span observed after the fact (a Spark job), clipped to its parent."""
        p = self.spans[parent]
        start, end = max(start, p[1]), min(end, p[2])
        if end > start:
            self.spans.append([name, start, end, parent, p[4]])

    def last(self, name: str) -> int:
        for i in range(len(self.spans) - 1, -1, -1):
            if self.spans[i][0] == name:
                return i
        raise KeyError(name)

    def self_times(self) -> list[float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s[3] is not None:
                kids.setdefault(s[3], []).append((s[1], s[2]))
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(i, [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append((s[2] - s[1]) - covered)
        return out

    def by_name(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds."""
        agg: dict[str, dict] = {}
        for s, st in zip(self.spans, self.self_times()):
            a = agg.setdefault(s[0], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            a["count"] += 1
            a["total_s"] += s[2] - s[1]
            a["self_s"] += st
        return agg

    def accounting_error(self) -> float:
        """Largest |sum of self times - op wall| / op wall over root spans;
        0 when every moment of every op is charged to exactly one span."""
        st = self.self_times()
        per_op: dict[int, float] = {}
        for s, t in zip(self.spans, st):
            if s[4] is not None:
                per_op[s[4]] = per_op.get(s[4], 0.0) + t
        worst = 0.0
        for s in self.spans:
            if s[3] is None and s[4] is not None:
                wall = s[2] - s[1]
                worst = max(worst, abs(per_op[s[4]] - wall) / wall)
        return worst

    def dump(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["name", "start", "end", "parent", "op", "self_s"],
                    "spans": [s + [t] for s, t in zip(self.spans, st)],
                },
                f,
            )


class Py4jCounter:
    """Counts the py4j commands this process's gateway client sends inside
    the ``with`` block and appends the count to ``into``."""

    def __init__(self, spark, into: list) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.into = into
        self.count = 0

    def __enter__(self) -> "Py4jCounter":
        orig = self.client.send_command

        def counted(*a, **kw):
            self.count += 1
            return orig(*a, **kw)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        del self.client.send_command  # the instance attribute shadowed the method
        self.into.append(self.count)


class StatusStore:
    """Per job group readings from Spark's in-process ``AppStatusStore``
    (the store behind the UI and the status tracker; it is populated with
    the UI off)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self.quantiles = gw.new_array(gw.jvm.double, 2)
        self.quantiles[0] = 0.5
        self.quantiles[1] = 1.0

    def group(self, group: str) -> dict:
        """Jobs, stages, tasks and their metrics for one job group, with the
        jobs' wall intervals (epoch seconds) for span attribution."""
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "gc_s": 0.0, "task_p50_ms": [], "task_max_ms": [], "intervals": [],
        }
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            ids = job.stageIds()
            for k in range(ids.size()):
                sd = self.store.lastStageAttempt(ids.apply(k))
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                summ = self.store.taskSummary(sd.stageId(), sd.attemptId(), self.quantiles)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    out["task_p50_ms"].append(rt.apply(0))
                    out["task_max_ms"].append(rt.apply(1))
        return out


def merge_intervals(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]
