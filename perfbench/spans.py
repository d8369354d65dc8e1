"""Spans around calls into the engine, and the Spark work each span caused.

A span records name, start, end, parent and unit id, and is kept in
memory until the run ends. Each span runs its jobs under its own Spark
job group, so the event log (written uncompressed, because Spark's
default zstd codec has no Python reader here) attributes every job,
stage and task to the innermost open span. py4j calls are counted by
wrapping ``ClientServerConnection.send_command``. With tracing off,
``span`` only yields and nothing is wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

from py4j.clientserver import ClientServerConnection

#: Task-metric sums every span reports, with the event-log field they
#: come from and the factor to their unit.
_TASK_SUMS = {
    "exec_run_s": (("Executor Run Time",), 1e-3),
    "exec_cpu_s": (("Executor CPU Time",), 1e-9),
    "gc_s": (("JVM GC Time",), 1e-3),
    "input_bytes": (("Input Metrics", "Bytes Read"), 1),
    "shuffle_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    "output_bytes": (("Output Metrics", "Bytes Written"), 1),
}


def spark_conf(event_dir: str) -> dict[str, str]:
    """Session settings that make Spark write the event log we read."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": event_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._sc = None
        self._own_calls = False

    # -- recording -------------------------------------------------------

    def install(self, spark) -> None:
        """Start counting py4j calls made through ``spark``'s gateway."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        send = ClientServerConnection.send_command

        def counting(conn, command):
            if not self._own_calls:
                self.py4j_calls += 1
            return send(conn, command)

        ClientServerConnection.send_command = counting
        self._set_group(None)

    def _set_group(self, span_id: int | None) -> None:
        self._own_calls = True
        try:
            gid = "perfbench-idle" if span_id is None else f"perfbench-{span_id}"
            self._sc.setJobGroup(gid, gid)
        finally:
            self._own_calls = False

    @contextlib.contextmanager
    def span(self, name: str, unit: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "unit": unit, "parent": parent, **attrs}
        # a call of some kind made inside another call of the same kind
        # must not count twice towards that kind's time
        kind = attrs.get("kind")
        rec["outermost"] = not any(self.spans[i].get("kind") == kind for i in self._stack)
        self.spans.append(rec)
        self._set_group(sid)
        self._stack.append(sid)
        calls0 = self.py4j_calls
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py4j_calls"] = self.py4j_calls - calls0
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, module, attr: str, name, **attrs) -> None:
        """Replace ``module.attr`` with a function that runs the original
        inside a span called ``name``, or ``name(*args)`` if callable."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args) if callable(name) else name
            with self.span(label, unit=self._current_unit(), **attrs):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def _current_unit(self):
        return self.spans[self._stack[-1]]["unit"] if self._stack else None

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def descendants(self, span_id: int) -> list[dict]:
        out, todo = [], [span_id]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k["id"] for k in kids]
        return out

    # -- attribution -----------------------------------------------------

    def attribute(self, event_dir: str) -> None:
        """Add each span's Spark work (its own jobs and its descendants')
        from the event log. Call after the session has stopped, which
        flushes and closes the log."""
        if not self.enabled:
            return
        log = EventLog(event_dir)
        for rec in self.spans:
            groups = {f"perfbench-{s['id']}" for s in [rec] + self.descendants(rec["id"])}
            rec.update(log.totals(groups, rec["start"], rec["end"]))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class EventLog:
    """Jobs, stages and tasks of one uncompressed Spark event log, keyed
    by job group."""

    def __init__(self, event_dir: str) -> None:
        paths = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {event_dir}, found {paths}")
        self.jobs: list[dict] = []
        self.stages: dict[tuple[int, int], dict] = {}
        stage_group: dict[int, str] = {}
        self.tasks: list[tuple[int, dict]] = []
        job_by_id: dict[int, dict] = {}
        with open(paths[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                    job_by_id[ev["Job ID"]] = job
                    self.jobs.append(job)
                elif kind == "SparkListenerJobEnd":
                    job_by_id[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_group[info["Stage ID"]] = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    self.stages[(sid, info.get("Stage Attempt ID", 0))] = {
                        "group": stage_group.get(sid),
                        "tasks": info["Number of Tasks"],
                        "seconds": (info["Completion Time"] - info["Submission Time"]) / 1000.0,
                        "csv": any("csv" in (r.get("Name") or "").lower()
                                   or "csv" in (r.get("Scope") or "").lower()
                                   for r in info.get("RDD Info", [])),
                    }
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
        self._stage_group = stage_group

    def totals(self, groups: set[str], start: float, end: float) -> dict:
        jobs = [j for j in self.jobs if j["group"] in groups]
        stages = [s for s in self.stages.values() if s["group"] in groups]
        csv_stages = {sid for (sid, _), s in self.stages.items() if s["group"] in groups and s["csv"]}
        out = {k: 0.0 for k in _TASK_SUMS}
        out["tasks"] = 0
        out["csv_input_bytes"] = 0.0
        for stage_id, metrics in self.tasks:
            if self._stage_group.get(stage_id) not in groups:
                continue
            out["tasks"] += 1
            for key, (fields, scale) in _TASK_SUMS.items():
                v = metrics
                for f in fields:
                    v = v.get(f, 0) if isinstance(v, dict) else 0
                out[key] += float(v) * scale
            if stage_id in csv_stages:
                out["csv_input_bytes"] += float(
                    (metrics.get("Input Metrics") or {}).get("Bytes Read", 0)
                )
        out["jobs"] = len(jobs)
        out["stages"] = len(stages)
        out["single_task_stage_s"] = sum(s["seconds"] for s in stages if s["tasks"] == 1)
        covered, cursor = 0.0, start
        for j in sorted(jobs, key=lambda j: j["start"]):
            lo, hi = max(j["start"], cursor), min(j["end"] or end, end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out["driver_self_s"] = max(0.0, (end - start) - covered)
        return out
