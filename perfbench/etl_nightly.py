"""Workload ``etl_nightly``: the paper's star-schema pipeline.

One unit is two ``plans.run_pipeline(mode="strict", date_cap=None,
write=True)`` runs, each followed by collecting every validation
report: a cold build into an empty curated directory, then an
incremental re-run after one new day (the latest date) is added to the
raw flights. Every unit rebuilds into a fresh directory, so all units
do identical work. It uses no txlog.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

from aiports_data_warehouse_etl_spark.operators import validation
from aiports_data_warehouse_etl_spark.plans import pipeline
from aiports_data_warehouse_etl_spark.plans import run_pipeline

import gen

#: BTS-shaped flight rows over BASE_DAYS days plus one new day. Per-job
#: overhead dominates a unit's cost (on a 4-core host a steady unit took
#: about 17 s at 15k rows and 21 s at 30k), so the row count is kept
#: small enough for a whole run to fit the benchmark's time budget.
FLIGHT_ROWS = 15_000
BASE_DAYS = 20
#: The first cold build of a process takes about twice as long as later
#: ones (class loading, code generation, JIT); the incremental re-run
#: after it is already near its steady cost. So the one warm-up unit is
#: a cold build alone, which keeps a run within the time budget.
WARMUP_UNITS = 1
NOMINAL_UNIT_S = 16.0
INCREMENTAL_STEP = "incremental"

_PLAN_CALLS = ["read_csv"] + [n for n in dir(pipeline) if n.startswith("build_")]


def _parquet_files(root: str) -> set[str]:
    out = set()
    for d, _, names in os.walk(root):
        out.update(os.path.join(d, n) for n in names if n.endswith(".parquet"))
    return out


def _pipeline_step(h, spark, rec, name, inp, flights, source_bytes, out, expected, new_rows):
    before = _parquet_files(out)
    with h.step(rec, name, scan="csv", source_bytes=source_bytes):
        res = run_pipeline(
            spark,
            airports_csv=inp.airports_csv,
            carriers_csv=inp.carriers_csv,
            flights_csv=flights,
            out_root=out,
            mode="strict",
            date_cap=None,
            write=True,
        )
        with h.tracer.span("validation.collect", unit=rec["index"], kind="validation"):
            reports = {t: df.collect() for t, df in res.reports.items()}
    after = _parquet_files(out)
    rec["steps"][name]["files_added"] = len(after - before)
    rec["steps"][name]["files_removed"] = len(before - after)

    failing = [(t, r.rule_name) for t, rows in reports.items() for r in rows if not r.passed]
    h.check(not failing, f"{name}: failed data-quality rules {failing}")
    # row counts from the parquet footers, read without Spark
    want = {**expected, "fact_flights_new": new_rows}
    counts = {
        t: sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(f"{out}/{t}.parquet"))
        for t in want
    }
    h.check(counts == want, f"{name}: curated row counts {counts} != {want}")
    return len(after)


def run(h) -> None:
    with h.generating():
        inp = gen.write_reference_csvs(
            os.path.join(h.work, "raw"), h.seed, FLIGHT_ROWS, BASE_DAYS
        )
    spark = h.start_spark()
    # split run_pipeline into spans by wrapping the names it imports
    for name in _PLAN_CALLS:
        h.tracer.wrap(pipeline, name, f"plan.{name}", kind="plan")
    h.tracer.wrap(
        pipeline, "delta_merge",
        lambda spark, df, target, delta: "merge." + os.path.basename(target).split(".")[0],
        kind="merge",
    )
    h.tracer.wrap(validation, "validate", "validation.validate", kind="validation")

    def unit(idx: int, rec: dict) -> None:
        out = os.path.join(h.work, f"curated-{idx}")
        try:
            _pipeline_step(h, spark, rec, "cold", inp, inp.flights_base,
                           inp.flights_csv_bytes, out, inp.cold_counts, inp.base_rows)
            if idx < WARMUP_UNITS:
                return
            h.tidy()
            live = _pipeline_step(
                h, spark, rec, "incremental", inp, inp.flights_incremental,
                inp.flights_csv_bytes + inp.new_day_csv_bytes, out,
                inp.incremental_counts, inp.new_rows,
            )
            h.layer_end["live_files_end"] = live
        finally:
            shutil.rmtree(out, ignore_errors=True)

    total = WARMUP_UNITS + h.measured_units(NOMINAL_UNIT_S)
    for i in range(total):
        h.unit(unit, measured=i >= WARMUP_UNITS)
