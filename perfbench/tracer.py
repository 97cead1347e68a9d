"""Spans around the benchmark's calls into each layer, with the Spark work
each call caused read from the outside.

Before a traced call the span sets a Spark job group of its own; after
the call it drains the listener bus and reads that group's jobs and
stages from Spark's status store (works with ``spark.ui.enabled=false``).
Spans stay in memory and are written to one JSON file when the run ends.
With tracing off every span is a no-op, so untraced runs pay nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "input_bytes",
    "executor_run_ms",
    "driver_gap_ms",
    "failures",
)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = 0
        self._sc = None
        self.phase = "setup"  # "run" once the traced loop starts
        self.cost_s = 0.0  # time spent setting job groups and reading counters

    def attach(self, spark) -> None:
        """Start reading counters from ``spark``'s status store."""
        if self.enabled:
            self._sc = spark.sparkContext
            self._store = self._sc._jsc.sc().statusStore()
            self._bus = self._sc._jsc.sc().listenerBus()
            jvm = self._sc._jvm
            self._no_status = jvm.java.util.ArrayList()
            self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)

    @contextmanager
    def span(self, name: str, op: bool = False, job_group: bool = True):
        if not self.enabled:
            yield None
            return
        if op:
            self._op += 1
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self._op,
            "phase": self.phase,
            "parent": self._stack[-1] if self._stack else None,
            "children": [],
        }
        if rec["parent"] is not None:
            self.spans[rec["parent"]]["children"].append(idx)
        self.spans.append(rec)
        group = f"pb-{idx}" if job_group and self._sc is not None else None
        if group:
            c0 = time.perf_counter()
            rec["group"] = group
            self._sc.setJobGroup(group, name, False)
            self.cost_s += time.perf_counter() - c0
        self._stack.append(idx)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_ms"] = (time.perf_counter() - t0) * 1000.0
            rec["end"] = rec["start"] + rec["wall_ms"] / 1000.0
            self._stack.pop()
            if group:
                c0 = time.perf_counter()
                self._restore_group()
                rec.update(self._counters(group, rec["start"], rec["end"]))
                self.cost_s += time.perf_counter() - c0
            self._roll_up(rec)

    def _restore_group(self) -> None:
        for i in reversed(self._stack):
            if "group" in self.spans[i]:
                self._sc.setJobGroup(self.spans[i]["group"], self.spans[i]["name"], False)
                return
        self._sc.setLocalProperty("spark.jobGroup.id", None)

    def _counters(self, group: str, start: float, end: float) -> dict:
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0)
        intervals = []
        stage_ids = set()
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            out["jobs"] += 1
            if str(job.status()) == "FAILED":
                out["failures"] += 1
            sub = job.submissionTime()
            done = job.completionTime()
            if sub.isDefined():
                s = sub.get().getTime() / 1000.0
                e = done.get().getTime() / 1000.0 if done.isDefined() else end
                intervals.append((max(s, start), min(e, end)))
            ids = job.stageIds()
            for i in range(ids.size()):
                stage_ids.add(ids.apply(i))
        for sid in stage_ids:
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.numCompleteTasks() + st.numFailedTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failures"] += st.numFailedTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["input_bytes"] += st.inputBytes()
                out["executor_run_ms"] += st.executorRunTime()
        out["intervals"] = intervals
        return out

    def _roll_up(self, rec: dict) -> None:
        """A span's counters include its children's; its self time is its
        wall time minus the time its children covered."""
        kids = [self.spans[i] for i in rec["children"]]
        rec["self_ms"] = max(0.0, rec["wall_ms"] - sum(k["wall_ms"] for k in kids))
        if self._sc is None:  # before the session exists: wall time only
            return
        for c in COUNTERS:
            rec[c] = rec.get(c, 0) + sum(k.get(c, 0) for k in kids)
        intervals = rec.get("intervals", []) + [
            iv for k in kids for iv in k.get("intervals", [])
        ]
        rec["intervals"] = intervals
        # the part of the span's wall time when none of its jobs ran
        covered, last = 0.0, rec["start"]
        for s, e in sorted(intervals):
            s = max(s, last)
            if e > s:
                covered += e - s
                last = e
        rec["driver_gap_ms"] = max(0.0, rec["end"] - rec["start"] - covered) * 1000.0

    def by_name(self, name: str, phase: str = "run") -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["phase"] == phase]

    def setup_s(self, name: str) -> float:
        """Wall seconds of the set-up span ``name``."""
        return sum(s["wall_ms"] for s in self.by_name(name, "setup")) / 1000.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _run_spans(tracer: Tracer, names) -> list[dict]:
    return [s for s in tracer.spans if s["name"] in names and s["phase"] == "run"]


def calls_median_ms(tracer: Tracer, *names: str) -> float:
    """Median wall ms of the timed-loop spans with one of ``names`` (0 if
    none ran)."""
    xs = sorted(s["wall_ms"] for s in _run_spans(tracer, names))
    if not xs:
        return 0.0
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def per_call(tracer: Tracer, counter: str, *names: str) -> float:
    """Mean of ``counter`` per timed-loop span with one of ``names`` (0 if
    none ran)."""
    xs = [s[counter] for s in _run_spans(tracer, names)]
    return sum(xs) / len(xs) if xs else 0.0


def total(tracer: Tracer, counter: str, *names: str) -> float:
    return sum(s[counter] for s in _run_spans(tracer, names))
