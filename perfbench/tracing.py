"""Spans recorded from the benchmark side, attributed through Spark's
event log.

Each span records name, start, end, parent and operation id, and sets a
Spark job group, so every job the engine launches inside it is tagged
with the span. Jobs launched from engine-internal threads carry no group;
they go to the innermost span open at their submission time (one client
thread issues operations, so that span is unique). The event log is
switched on by launch-time confs only (see run.py) and is read after the
session stops.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans; a disabled tracer records nothing and never
    touches the Spark context."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name,
             "parent": parent["id"] if parent else None,
             "op": op if op is not None else (parent or {}).get("op"),
             "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"span-{s['id']}", name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            for c in self.children(cur):
                out.add(c["id"])
                todo.append(c["id"])
        return out

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its child spans cover."""
        s = self.spans[sid]
        iv = sorted((c["start"], c["end"]) for c in self.children(sid))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s["end"] - s["start"]) - covered


def _acc(stage_info: dict, name: str) -> float:
    for a in stage_info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return float(a.get("Value", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


_M = "internal.metrics."


def _stage_record(si: dict) -> dict:
    """One SparkListenerStageCompleted "Stage Info" as a flat record."""
    scopes = set()
    for r in si.get("RDD Info", []):
        try:
            scopes.add(json.loads(r.get("Scope") or "{}").get("name", ""))
        except ValueError:
            pass
    return {
        "id": si["Stage ID"],
        "start": si["Submission Time"] / 1000.0,
        "end": si["Completion Time"] / 1000.0,
        "tasks": si["Number of Tasks"],
        "run_s": _acc(si, _M + "executorRunTime") / 1000.0,
        "py_run_s": _acc(si, "time to run Python workers") / 1000.0,
        "input_bytes": _acc(si, _M + "input.bytesRead"),
        "shuffle_read": (_acc(si, _M + "shuffle.read.localBytesRead")
                         + _acc(si, _M + "shuffle.read.remoteBytesRead")),
        "shuffle_write": _acc(si, _M + "shuffle.write.bytesWritten"),
        "shuffle_records": _acc(si, _M + "shuffle.write.recordsWritten"),
        "scopes": scopes}


class EventLog:
    """Jobs, stages and task times parsed from Spark's JSON event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        task_times: dict[int, list[float]] = {}
        for path in sorted(glob.glob(f"{log_dir}/*")):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    e = json.loads(line)
                    ev = e.get("Event")
                    if ev == "SparkListenerJobStart":
                        props = e.get("Properties") or {}
                        self.jobs[e["Job ID"]] = {
                            "id": e["Job ID"],
                            "submit": e["Submission Time"] / 1000.0,
                            "stage_ids": e.get("Stage IDs", []),
                            "group": props.get("spark.jobGroup.id")}
                    elif ev == "SparkListenerStageCompleted":
                        st = _stage_record(e["Stage Info"])
                        self.stages[st["id"]] = st
                    elif ev == "SparkListenerTaskEnd":
                        ti = e["Task Info"]
                        task_times.setdefault(e["Stage ID"], []).append(
                            (ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
        for sid, st in self.stages.items():
            st["task_s"] = task_times.get(sid, [])
        for j in self.jobs.values():
            j["stages"] = [self.stages[s] for s in j["stage_ids"]
                           if s in self.stages]

    def assign(self, tracer: Tracer) -> dict[int, list[dict]]:
        """span id -> jobs launched directly inside it."""
        by_span: dict[int, list[dict]] = {}
        for j in self.jobs.values():
            sid = None
            g = j["group"] or ""
            if g.startswith("span-"):
                sid = int(g[5:])
            else:
                open_ = [s for s in tracer.spans
                         if s["start"] <= j["submit"] <= (s["end"] or 0)]
                if open_:
                    sid = max(open_, key=lambda s: s["start"])["id"]
            if sid is not None:
                by_span.setdefault(sid, []).append(j)
        return by_span


def span_jobs(tracer: Tracer, by_span: dict, sid: int) -> list[dict]:
    out = list(by_span.get(sid, []))
    for d in tracer.descendants(sid):
        out.extend(by_span.get(d, []))
    return out


def attribute(span: dict, jobs: list[dict]) -> dict[str, float]:
    """Split one operation's wall time into driver time before the first
    stage, stage time (input-reading stages vs shuffle-reading stages),
    driver time between stages, and driver time after the last stage.
    Where stages overlap, a moment counts once, for the earliest-started
    stage, so the parts add up to the wall time exactly."""
    t0, t1 = span["start"], span["end"]
    ivs = []
    for j in jobs:
        for st in j["stages"]:
            a, b = max(st["start"], t0), min(st["end"], t1)
            if b > a:
                kind = "shuffle" if st["shuffle_read"] > 0 else "input"
                ivs.append((a, b, kind))
    out = {"wall_s": t1 - t0, "driver_pre_s": 0.0, "input_stages_s": 0.0,
           "shuffle_stages_s": 0.0, "between_stages_s": 0.0,
           "driver_post_s": 0.0}
    if not ivs:
        out["driver_pre_s"] = t1 - t0
        return out
    first = min(a for a, _, _ in ivs)
    last = max(b for _, b, _ in ivs)
    out["driver_pre_s"] = first - t0
    out["driver_post_s"] = t1 - last
    cuts = sorted({first, last, *[a for a, _, _ in ivs],
                   *[b for _, b, _ in ivs]})
    for a, b in zip(cuts, cuts[1:]):
        active = [iv for iv in ivs if iv[0] <= a and iv[1] >= b]
        if active:
            kind = min(active)[2]
            out[f"{kind}_stages_s"] += b - a
        else:
            out["between_stages_s"] += b - a
    return out


def op_counters(tracer: Tracer, by_span: dict, op_spans: list[dict]) -> dict:
    """Per-operation Spark counters averaged over `op_spans`."""
    n = max(1, len(op_spans))
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "input": 0.0, "shuffle": 0.0,
           "run_s": 0.0, "py_run_s": 0.0, "outside": 0.0}
    for s in op_spans:
        jobs = span_jobs(tracer, by_span, s["id"])
        tot["jobs"] += len(jobs)
        for j in jobs:
            for st in j["stages"]:
                tot["stages"] += 1
                tot["tasks"] += st["tasks"]
                tot["input"] += st["input_bytes"]
                tot["shuffle"] += st["shuffle_read"] + st["shuffle_write"]
                tot["run_s"] += st["run_s"]
                tot["py_run_s"] += st["py_run_s"]
        a = attribute(s, jobs)
        tot["outside"] += (a["driver_pre_s"] + a["between_stages_s"]
                           + a["driver_post_s"])
    return {
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.stages_per_op": tot["stages"] / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.input_bytes_per_op": tot["input"] / n,
        "spark.shuffle_bytes_per_op": tot["shuffle"] / n,
        "spark.executor_s_per_op": tot["run_s"] / n,
        "spark.python_worker_s_per_op": tot["py_run_s"] / n,
        "spark.outside_stage_s": tot["outside"] / n,
    }


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
