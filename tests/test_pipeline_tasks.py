"""``run_pipeline`` as concurrent per-table tasks, on inline CSVs of a
few rows each (no reference data needed): curated tables and ``_new``
twins against the builders' direct output, determinism across runs,
job-free reports, task failures, a pinned job count, the
``delta_merge`` first-load guard, the fingerprint skip of unchanged
lookup tables, and a re-run that compiles no generated class."""

from __future__ import annotations

import contextlib
import csv
import os
import sys
import threading
from collections import Counter
from dataclasses import dataclass

import pytest

from aiports_data_warehouse_etl_spark import schemas
from aiports_data_warehouse_etl_spark.operators import validation as V
from aiports_data_warehouse_etl_spark.operators.dims import (
    build_dim_air_carriers,
    build_dim_airports,
    build_dim_cancelations,
    build_dim_date,
    build_dim_delays,
    build_dim_time,
)
from aiports_data_warehouse_etl_spark.operators.fact import build_fact_flights
from aiports_data_warehouse_etl_spark.operators.merge import delta_merge
from aiports_data_warehouse_etl_spark.plans import pipeline, run_pipeline
from aiports_data_warehouse_etl_spark.sources.io import read_csv

TABLES = [
    "dim_airports", "dim_air_carriers", "dim_time", "dim_date",
    "dim_cancelations", "dim_delays", "fact_flights",
]

#: Jobs of one cold ``run_pipeline`` on the inline fixture, reports
#: included (measured: 46 on ``local[4]``). One more evaluation of any
#: table adds at least one job.
COLD_RUN_MAX_JOBS = 46

AIRPORTS = [
    ("AAA", "A City, AK: A Field"),
    ("BBB", "B City, NY: B Intl"),
    ("CCC", "C City, Mexico: C Muni"),
    ("DDD", "D City, CA: D Regional"),
]
CARRIERS = [(19031, "Alpha Air Lines: AA"), (19032, "Beta Air Lines, Inc.: BB")]


def _flight(i, fl_date, origin, dest, arr_time=1435.0, arr_delay=-5.0,
            cancelled=0.0, code=None, actual=None, carrier_delay=None):
    return (
        fl_date, 19031 + (i % 2), f"N{i}", 100 + i,
        1, 1, 1, origin, 2, 2, 2, dest,
        900, 905.0, 5.0, 5.0, arr_time, arr_delay, max(arr_delay or 0.0, 0.0),
        cancelled, code, 100.0, actual,
        carrier_delay, None, None, None, None, "",
    )


BASE_FLIGHTS = [
    _flight(0, "2018-08-01", "AAA", "BBB", arr_delay=75.0, carrier_delay=1.0),
    _flight(1, "2018-08-01", "BBB", "AAA"),
    _flight(2, "2018-08-02", "AAA", "CCC", arr_time=None, carrier_delay=3.0),
    _flight(3, "2018-08-02", "CCC", "AAA", cancelled=1.0, code="B"),
    _flight(4, "2018-08-03", "BBB", "DDD", actual=130.0),
    _flight(5, "2018-08-03", "DDD", "CCC", actual=130.0),  # duplicate delay row
]
#: One new day that sorts after every base day, so existing keys hold.
NEW_DAY_FLIGHTS = [
    _flight(6, "2018-08-04", "CCC", "BBB", carrier_delay=9.0),
    _flight(7, "2018-08-04", "AAA", "DDD", cancelled=1.0, code="A"),
]


@dataclass
class Inputs:
    airports: str
    carriers: str
    flights_base: str
    flights_incremental: str


def _write_csv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


def _names(schema):
    return [f.name for f in schema.fields]


def _write_inputs(root, airports=AIRPORTS) -> Inputs:
    root = str(root)
    _write_csv(f"{root}/airports.csv", _names(schemas.AIRPORTS_RAW), airports)
    _write_csv(f"{root}/carriers.csv", _names(schemas.AIR_CARRIERS_RAW), CARRIERS)
    header = _names(schemas.FLIGHTS_RAW)
    _write_csv(f"{root}/base/flights_base.csv", header, BASE_FLIGHTS)
    _write_csv(f"{root}/incremental/flights_base.csv", header, BASE_FLIGHTS)
    _write_csv(f"{root}/incremental/flights_new_day.csv", header, NEW_DAY_FLIGHTS)
    return Inputs(
        f"{root}/airports.csv", f"{root}/carriers.csv",
        f"{root}/base", f"{root}/incremental",
    )


def _run(spark, inputs: Inputs, flights: str, out: str, write: bool = True):
    return run_pipeline(
        spark,
        airports_csv=inputs.airports,
        carriers_csv=inputs.carriers,
        flights_csv=flights,
        out_root=out,
        mode="strict",
        date_cap=None,
        write=write,
    )


def _direct_build(spark, inputs: Inputs, flights: str) -> dict:
    """Every curated table straight from the builders, serially and
    lazily, without ``run_pipeline``."""
    flights_raw = read_csv(spark, flights, schemas.FLIGHTS_RAW)
    airports = build_dim_airports(read_csv(spark, inputs.airports, schemas.AIRPORTS_RAW))
    dates = build_dim_date(flights_raw, cap=None, strict=True)
    return {
        "dim_airports": airports,
        "dim_air_carriers": build_dim_air_carriers(
            read_csv(spark, inputs.carriers, schemas.AIR_CARRIERS_RAW)
        ),
        "dim_time": build_dim_time(spark),
        "dim_date": dates,
        "dim_cancelations": build_dim_cancelations(flights_raw),
        "dim_delays": build_dim_delays(flights_raw),
        "fact_flights": build_fact_flights(flights_raw, airports, dates, mode="strict"),
    }


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _stored(spark, out: str) -> dict:
    """Rows and columns of every curated table and ``_new`` twin."""
    return {
        name: (df.columns, _rows(df))
        for name in TABLES + [f"{t}_new" for t in TABLES]
        for df in [spark.read.parquet(f"{out}/{name}.parquet")]
    }


@contextlib.contextmanager
def _job_group(spark, group: str):
    """Run the body under job group ``group``; yields a list that holds
    the group's job ids once the body has finished."""
    sc = spark.sparkContext
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _pool_threads() -> list[threading.Thread]:
    return [t for t in threading.enumerate() if t.name.startswith("run_pipeline")]


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    return _write_inputs(tmp_path_factory.mktemp("pipeline_raw"))


@pytest.fixture(scope="module")
def runs(spark, inputs, tmp_path_factory):
    """Two cold-then-incremental runs into separate directories; the
    stored tables after each step, and the results of the first."""
    out = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)  # interleave the task threads finely
    try:
        for i in range(2):
            root = str(tmp_path_factory.mktemp(f"pipeline_out{i}"))
            cold = _run(spark, inputs, inputs.flights_base, root)
            cold_stored = _stored(spark, root)
            incremental = _run(spark, inputs, inputs.flights_incremental, root)
            out.append({
                "cold": cold_stored,
                "incremental": _stored(spark, root),
                "results": (cold, incremental),
            })
    finally:
        sys.setswitchinterval(interval)
    return out


def test_cold_run_equals_direct_build(spark, inputs, runs):
    stored = runs[0]["cold"]
    cold_result = runs[0]["results"][0]
    for name, df in _direct_build(spark, inputs, inputs.flights_base).items():
        want = (df.columns, _rows(df))
        assert stored[name] == want, name
        assert stored[f"{name}_new"] == want, name
        assert (cold_result.tables[name].columns, _rows(cold_result.tables[name])) == want


def test_incremental_run_appends_only_new_rows(spark, inputs, runs):
    stored = runs[0]["incremental"]
    inc_result = runs[0]["results"][1]
    cold = _direct_build(spark, inputs, inputs.flights_base)
    new = _direct_build(spark, inputs, inputs.flights_incremental)
    for name in TABLES:
        delta = _rows(new[name].exceptAll(cold[name]))
        assert stored[f"{name}_new"] == (new[name].columns, delta), name
        assert stored[name] == (new[name].columns, _rows(cold[name]) + delta), name
        assert _rows(inc_result.tables[name]) == _rows(new[name]), name
    # the fixture exercises a real delta: one new date, its two flights,
    # a new cancellation code; the input-independent dims stay put
    assert sum(stored["dim_date_new"][1].values()) == 1
    assert sum(stored["fact_flights_new"][1].values()) == len(NEW_DAY_FLIGHTS)
    assert sum(stored["dim_cancelations_new"][1].values()) == 1
    assert sum(stored["dim_time_new"][1].values()) == 0


def test_runs_into_separate_directories_are_identical(runs):
    a, b = runs
    assert a["cold"] == b["cold"]
    assert a["incremental"] == b["incremental"]


def test_reports_launch_no_job_and_keep_exact_counts(spark, tmp_path):
    planted = _write_inputs(tmp_path / "raw", AIRPORTS + [("ABCD", "E City, TX: E Field")])
    res = _run(spark, planted, planted.flights_base, str(tmp_path / "out"), write=False)
    assert set(res.reports) == set(TABLES) - {"dim_cancelations"}

    with _job_group(spark, "pipeline-report-collect") as jobs:
        got = {name: sorted(map(tuple, df.collect())) for name, df in res.reports.items()}
    assert jobs == []

    direct = _direct_build(spark, planted, planted.flights_base)
    for name, rows in got.items():
        want = V.validate(direct[name], pipeline.RULES[name]()).collect()
        assert rows == sorted((r.rule_name, r.violations, r.passed) for r in want), name
        assert res.reports[name].columns == ["rule_name", "violations", "passed"]
    airports = {r[0]: r for r in got["dim_airports"]}
    assert airports["airport_code_format"] == ("airport_code_format", 1, False)
    assert all(r[2] for n, r in airports.items() if n != "airport_code_format")


class _Boom(RuntimeError):
    pass


def test_failing_merge_is_reraised_and_no_thread_survives(spark, inputs, tmp_path, monkeypatch):
    real = pipeline.delta_merge

    def merge(spark, df, target, delta):
        if os.path.basename(target) == "dim_date.parquet":
            raise _Boom(target)
        return real(spark, df, target, delta)

    monkeypatch.setattr(pipeline, "delta_merge", merge)
    with pytest.raises(_Boom):
        _run(spark, inputs, inputs.flights_base, str(tmp_path / "out"))
    assert _pool_threads() == []


def test_failing_upstream_build_fails_the_fact_task(spark, inputs, tmp_path, monkeypatch):
    def boom(*args, **kwargs):
        raise _Boom("dim_airports")

    monkeypatch.setattr(pipeline, "build_dim_airports", boom)
    with pytest.raises(_Boom):
        _run(spark, inputs, inputs.flights_base, str(tmp_path / "out"), write=False)
    assert _pool_threads() == []


def test_cold_run_job_count_is_pinned(spark, inputs, tmp_path):
    with _job_group(spark, "pipeline-cold-run") as jobs:
        _run(spark, inputs, inputs.flights_base, str(tmp_path / "out"))
    assert 0 < len(jobs) <= COLD_RUN_MAX_JOBS


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            with open(os.path.join(d, n), "rb") as fh:
                out[os.path.join(d, n)] = fh.read()
    return out


def test_delta_merge_never_overwrites_an_unreadable_target(spark, tmp_path):
    target, twin = str(tmp_path / "t.parquet"), str(tmp_path / "t_new.parquet")
    spark.range(100).coalesce(1).write.parquet(target)
    (part,) = [p for p in _files(target) if p.endswith(".parquet")]
    with open(part, "r+b") as fh:  # clobber the footer and its magic
        fh.seek(-16, os.SEEK_END)
        fh.write(b"\0" * 16)
    before = _files(target)

    with pytest.raises(Exception):
        delta_merge(spark, spark.range(1), target, twin)
    assert _files(target) == before


LOOKUPS = ["dim_airports", "dim_air_carriers", "dim_time"]


def _spy_merges(monkeypatch) -> list[str]:
    """Names of the tables ``run_pipeline`` delta-merges from now on,
    i.e. the tables that take the full path."""
    merged = []
    real = pipeline.delta_merge

    def merge(spark, df, target, delta):
        merged.append(os.path.basename(target).split(".")[0])
        return real(spark, df, target, delta)

    monkeypatch.setattr(pipeline, "delta_merge", merge)
    return merged


def _fingerprint_file(out: str, name: str) -> str:
    return f"{out}/{name}.parquet/{pipeline.FINGERPRINT_FILE}"


def _outcome(spark, out: str, res) -> dict:
    """Targets, twins, reports and ``tables`` of the lookup tables."""
    return {
        name: (
            [(df.columns, _rows(df)) for df in (
                spark.read.parquet(f"{out}/{name}.parquet"),
                spark.read.parquet(f"{out}/{name}_new.parquet"),
                res.tables[name],
            )],
            sorted(map(tuple, res.reports[name].collect())),
        )
        for name in LOOKUPS
    }


def test_rerun_with_unchanged_lookups_skips_them(spark, inputs, tmp_path, monkeypatch):
    skipped, full = str(tmp_path / "skipped"), str(tmp_path / "full")
    _run(spark, inputs, None, skipped)
    _run(spark, inputs, None, full)
    for name in LOOKUPS:
        os.remove(_fingerprint_file(full, name))
    merged = _spy_merges(monkeypatch)

    with _job_group(spark, "pipeline-skip-rerun") as jobs:
        res = _run(spark, inputs, None, skipped)
    assert merged == []
    assert len(jobs) <= len(LOOKUPS)  # one empty-twin write per table

    want = _outcome(spark, full, _run(spark, inputs, None, full))
    assert sorted(merged) == sorted(LOOKUPS)
    got = _outcome(spark, skipped, res)
    assert got == want
    for name in LOOKUPS:
        (target, twin, table), _ = got[name]
        assert twin == (target[0], Counter()), name
        assert table == target, name


def test_edited_airports_row_rebuilds_only_dim_airports(spark, tmp_path, monkeypatch):
    inputs = _write_inputs(tmp_path / "raw")
    out = str(tmp_path / "out")
    _run(spark, inputs, inputs.flights_base, out)
    edited = [(c, d.replace("B Intl", "B International Airport")) for c, d in AIRPORTS]
    _write_csv(inputs.airports, _names(schemas.AIRPORTS_RAW), edited)
    merged = _spy_merges(monkeypatch)
    flights_derived = set(TABLES) - set(LOOKUPS)

    res = _run(spark, inputs, inputs.flights_incremental, out)
    assert set(merged) == flights_derived | {"dim_airports"}
    # the target keeps the old row beside the edited one
    names = [r.name for r in spark.read.parquet(f"{out}/dim_airports.parquet").collect()]
    assert sorted(n for n in names if n.startswith("B ")) == ["B International Airport", "B Intl"]
    direct = _direct_build(spark, inputs, inputs.flights_incremental)
    assert _rows(res.tables["fact_flights"]) == _rows(direct["fact_flights"])

    # unchanged again: dim_airports skips, and the fact still joins the
    # builder's rows, not the two-row target
    merged.clear()
    res = _run(spark, inputs, inputs.flights_incremental, out)
    assert set(merged) == flights_derived
    assert _rows(res.tables["dim_airports"]) == _rows(direct["dim_airports"])
    assert _rows(res.tables["fact_flights"]) == _rows(direct["fact_flights"])


@pytest.mark.parametrize("change", ["missing_sidecar", "rule_set", "builder_version"])
def test_fingerprint_miss_forces_full_path(spark, inputs, tmp_path, monkeypatch, change):
    out = str(tmp_path / "out")
    _run(spark, inputs, None, out)
    if change == "missing_sidecar":
        os.remove(_fingerprint_file(out, "dim_air_carriers"))
        want = ["dim_air_carriers"]
    elif change == "rule_set":
        monkeypatch.setitem(pipeline.RULES, "dim_time", lambda: V.dim_time_rules()[:-1])
        want = ["dim_time"]
    else:
        monkeypatch.setattr(pipeline, "BUILDER_VERSION", pipeline.BUILDER_VERSION + 1)
        want = LOOKUPS
    merged = _spy_merges(monkeypatch)
    res = _run(spark, inputs, None, out)
    assert sorted(merged) == sorted(want)
    # the stored report follows the rule set in force
    rules = {r.rule_name for r in res.reports["dim_time"].collect()}
    assert rules == {r.name for r in pipeline.RULES["dim_time"]()}
    merged.clear()
    _run(spark, inputs, None, out)
    assert merged == []


def _compiled_classes(spark) -> int:
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_steady_state_run_compiles_no_generated_class(spark, inputs, tmp_path):
    def cold_then_incremental(out):
        _run(spark, inputs, inputs.flights_base, out)
        _run(spark, inputs, inputs.flights_incremental, out)

    cold_then_incremental(str(tmp_path / "warm"))
    before = _compiled_classes(spark)
    cold_then_incremental(str(tmp_path / "steady"))
    assert _compiled_classes(spark) == before
