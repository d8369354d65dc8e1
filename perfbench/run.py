"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each workload is a closed loop: one
driver thread calls into the engine and issues the next call only when
the previous one has returned. A run generates its inputs from
``--seed``, starts a Spark session on ``local[nproc]``, builds its base
state, runs a fixed number of discarded warm-up units and then
``--seconds`` worth of measured units (a fixed count per workload, so
every run of a workload performs the same operation sequence), checks
every unit's outputs outside the timed interval, and prints one JSON
result as its last line of stdout. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics from
spans, py4j counts and the Spark event log (see NOTES.md).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from aiports_data_warehouse_etl_spark.session import get_spark  # noqa: E402

import etl_nightly  # noqa: E402
import txlog_dml  # noqa: E402
from spans import Tracer, spark_conf  # noqa: E402

WORKLOADS = {"etl_nightly": etl_nightly, "txlog_dml": txlog_dml}

#: Fixed driver heap (the JVM default of 1 GB is too small for some
#: plans, and the default depends on the host).
DRIVER_MEMORY = "4g"

#: Layer metrics read from the event log and py4j counts, per scope.
SPAN_KEYS = [
    "py4j_calls", "driver_self_s", "jobs", "stages", "tasks", "exec_run_s",
    "exec_cpu_s", "gc_s", "single_task_stage_s", "input_bytes",
    "shuffle_bytes", "output_bytes",
]
STEP_KEYS = ["wall_s", *SPAN_KEYS, "scan_passes", "files_added", "files_removed"]
#: Time inside wrapped engine calls, by the kind the wrapper gave them.
KIND_KEYS = {"plan": "plan_build_s", "merge": "merge_s", "validation": "validation_s"}


class CheckFailed(Exception):
    """An output of the engine differs from what the inputs imply."""


class Harness:
    """What every workload shares: session, unit loop, tidying, noise
    diagnostics, spans and the result line."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = Tracer(trace)
        self.ncpu = len(os.sched_getaffinity(0))
        self.gen_s = 0.0
        self.spark = None
        self.session_start_s = None
        self.setup_s = None
        self.units: list[dict] = []
        self.final_ok = True
        self.layer_end: dict[str, float] = {}
        self.trace_extra: dict[str, float] = {}
        self.spin_base = min(bench._spin_once() for _ in range(5))

    def measured_units(self, nominal_unit_s: float) -> int:
        """Units measured per run: enough to cover ``--seconds`` at the
        workload's nominal unit time on a 4-core host, and at least two.
        The count depends on ``--seconds`` alone, so every run of a
        workload performs the same sequence."""
        return max(2, math.ceil(self.seconds / nominal_unit_s))

    @contextlib.contextmanager
    def generating(self):
        """Input generation, which setup_s excludes."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.gen_s += time.perf_counter() - t0

    def start_spark(self):
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
            "spark.ui.enabled": "false",
        }
        if self.tracer.enabled:
            conf.update(spark_conf(os.path.join(self.work, "events")))
            os.makedirs(os.path.join(self.work, "events"))
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.ncpu}]",
            shuffle_partitions=self.ncpu,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        self.tracer.install(self.spark)
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and wait for its JVM (and the Python workers
        it forked) to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=120)
            SparkContext._gateway = None
            SparkContext._jvm = None

    @staticmethod
    def check(cond: bool, what: str) -> None:
        if not cond:
            raise CheckFailed(what)

    def tidy(self) -> None:
        """Between units, outside every timed interval."""
        os.sync()
        self.spark._jvm.java.lang.System.gc()
        gc.collect()

    def unit(self, fn, measured: bool) -> None:
        """Run one unit. ``fn(index, rec)`` runs the unit's steps and its
        checks and raises on a failure; the run continues either way."""
        if measured and self.setup_s is None:
            self.setup_s = time.perf_counter() - T0 - self.gen_s
        idx = len(self.units)
        rec = {"index": idx, "measured": measured, "steps": {}, "ok": False}
        self.tidy()
        spin = bench._spin_once() / self.spin_base
        busy0, own0 = bench._cpu_busy_seconds(), bench._descendant_cpu_seconds()
        t0 = time.perf_counter()
        with self.tracer.span("unit", unit=idx) as span:
            try:
                fn(idx, rec)
                rec["ok"] = True
            except Exception:  # a failed unit is counted, not fatal
                traceback.print_exc()
        wall = time.perf_counter() - t0
        busy1, own1 = bench._cpu_busy_seconds(), bench._descendant_cpu_seconds()
        ext = None
        if None not in (busy0, busy1, own0, own1):
            ext = max(0.0, (busy1 - busy0) - (own1 - own0)) / max(wall * self.ncpu, 1e-9)
        rec["noise"] = {"spin_ratio": spin, "ext_frac": ext}
        rec["span"] = span["id"] if span else None
        self.units.append(rec)

    @contextlib.contextmanager
    def step(self, rec: dict, name: str, **attrs):
        """One timed step of a unit; its wall time lands in
        ``rec["steps"][name]``."""
        with self.tracer.span(name, unit=rec["index"], step=True, **attrs) as span:
            t0 = time.perf_counter()
            yield
            rec["steps"][name] = {"wall_s": time.perf_counter() - t0,
                                  "span": span["id"] if span else None}

    # -- results -----------------------------------------------------------

    def _good(self) -> list[dict]:
        """Measured units that passed; if none did, those whose steps all
        ran, so a run whose checks fail still reports (correct: false)."""
        measured = [u for u in self.units if u["measured"]]
        good = [u for u in measured if u["ok"]]
        full = max((len(u["steps"]) for u in measured), default=0)
        return good or [u for u in measured if full and len(u["steps"]) == full]

    def end_to_end(self, incremental_step: str) -> dict:
        good = self._good()
        unit_s = [sum(s["wall_s"] for s in u["steps"].values()) for u in good]
        inc_s = [u["steps"][incremental_step]["wall_s"] for u in good]
        return {
            "setup_s": {"value": self.setup_s, "unit": "s"},
            "unit_s": {"value": statistics.median(unit_s), "unit": "s"},
            "incremental_s": {"value": statistics.median(inc_s), "unit": "s"},
        }

    def step_metrics(self, step: dict) -> tuple[dict, dict]:
        """Layer metrics of one step, and the seconds spent in each
        wrapped engine call inside it."""
        span = self.tracer.spans[step["span"]]
        out = {k: float(span[k]) for k in SPAN_KEYS}
        out["wall_s"] = step["wall_s"]
        scanned = span["csv_input_bytes"] if span.get("scan") == "csv" else span["input_bytes"]
        out["scan_passes"] = scanned / span["source_bytes"]
        out["files_added"] = float(step.get("files_added", 0))
        out["files_removed"] = float(step.get("files_removed", 0))
        out.update({key: 0.0 for key in KIND_KEYS.values()})
        calls: dict[str, float] = {}
        for s in self.tracer.descendants(span["id"]):
            seconds = s["end"] - s["start"]
            calls[s["name"]] = calls.get(s["name"], 0.0) + seconds
            if s.get("kind") and s["outermost"]:
                out[KIND_KEYS[s["kind"]]] += seconds
        return out, calls

    def per_layer(self, incremental_step: str) -> tuple[dict, dict]:
        """Medians over measured units of the per-layer metrics, for the
        whole unit (the sum of its steps) and for its incremental step;
        plus the same per step name, with the time in each wrapped call,
        for the trace summary."""
        per_unit, per_inc, per_step, per_call = [], [], {}, {}
        for u in self._good():
            steps = {}
            for name, s in u["steps"].items():
                steps[name], calls = self.step_metrics(s)
                per_step.setdefault(name, []).append(steps[name])
                for call, seconds in calls.items():
                    per_call.setdefault(name, {}).setdefault(call, []).append(seconds)
            per_unit.append({k: sum(m[k] for m in steps.values()) for k in steps[incremental_step]})
            per_inc.append(steps[incremental_step])
        metrics = {}
        for scope, rows in (("unit", per_unit), ("incremental", per_inc)):
            for k in STEP_KEYS:
                metrics[f"{scope}.{k}"] = statistics.median(r[k] for r in rows)
        for k in ("plan_build_s", "merge_s"):
            metrics[k] = statistics.median(r[k] for r in per_unit)
        metrics["session.start_s"] = self.session_start_s
        metrics.update(self.layer_end)
        summary = {
            name: {
                **{k: statistics.median(r[k] for r in rows) for k in rows[0]},
                "calls": {c: statistics.median(v) for c, v in per_call.get(name, {}).items()},
            }
            for name, rows in per_step.items()
        }
        return metrics, summary

    def noise_summary(self) -> dict:
        spins = [u["noise"]["spin_ratio"] for u in self.units if u["measured"]]
        exts = [u["noise"]["ext_frac"] for u in self.units
                if u["measured"] and u["noise"]["ext_frac"] is not None]
        return {
            "spin_ratio_max": max(spins) if spins else None,
            "spin_ratio_median": statistics.median(spins) if spins else None,
            "ext_frac_max": max(exts) if exts else None,
            "ext_frac_median": statistics.median(exts) if exts else None,
        }


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("scan_passes"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # executor-side Python workers import the package from the checkout,
    # and every temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        d for d in [ROOT, os.environ.get("PYTHONPATH")] if d
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    wl = WORKLOADS[args.workload]
    h = Harness(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        wl.run(h)
        e2e = h.end_to_end(wl.INCREMENTAL_STEP)
        h.stop_spark()
        h.tracer.attribute(os.path.join(work, "events"))
        if args.trace:
            layers, steps = h.per_layer(wl.INCREMENTAL_STEP)
            for k, v in e2e.items():
                layers[f"traced.{k}"] = v["value"]
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
            trace_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
            h.tracer.dump(trace_path)
            print(json.dumps({"steps": steps, "extra": h.trace_extra, "spans": trace_path}))
        else:
            metrics = e2e
    finally:
        h.stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(h.units)
    failed = sum(not u["ok"] for u in h.units)
    for m in metrics.values():
        if not math.isfinite(m["value"]):
            raise ValueError(f"non-finite metric: {metrics}")
    print(json.dumps({"noise": h.noise_summary(), "units": [
        {"measured": u["measured"], "ok": u["ok"],
         **{k: round(s["wall_s"], 4) for k, s in u["steps"].items()}} for u in h.units
    ]}))
    print(json.dumps({
        "correct": failed == 0 and h.final_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
