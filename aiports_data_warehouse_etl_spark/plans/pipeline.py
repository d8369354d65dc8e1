"""End-to-end ETL driver (SURVEY.md §3).

The reference's Airflow DAG (`dags/extract_and_tranform.py:702-729`)
runs one task per curated table, wired by data dependency: independent
transforms run side by side and the fact task waits on its upstream
dimensions (`:727`). ``run_pipeline`` keeps that shape on one driver:
one thread per curated table, all sharing the session.

Each task builds its table's lazy plan and materializes it exactly once
with ``localCheckpoint``. Everything after that reads the checkpoint,
not the sources: the validation report (one aggregation, returned as a
local ``VALUES`` relation, so collecting it launches no job), the
delta merge, and the fact task, which waits on the checkpointed
``dim_airports`` and ``dim_date``. No XCom and no pickling: only
checkpoint blocks, shuffles and sinks cross executors.

A re-run pays only for what changed. ``dim_airports``,
``dim_air_carriers`` and ``dim_time`` are functions of one lookup CSV
(or of nothing), the builder code and ``mode``. After each lands, a
``_fingerprint.json`` sidecar in its target directory records a hash
of that metadata with the table's schema and report rows. A later run
whose hash matches skips the checkpoint, report job and anti-join: the
target already holds the builder's output, so the anti-join would be
empty. It writes an empty ``_new`` twin and publishes the lazy builder
plan, never the target, which may still hold rows of older inputs.
"""

from __future__ import annotations

import hashlib
import json
from concurrent.futures import Future, ThreadPoolExecutor, as_completed
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from aiports_data_warehouse_etl_spark import schemas
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
from aiports_data_warehouse_etl_spark.operators import validation as V
from aiports_data_warehouse_etl_spark.sources.io import (
    hadoop_path,
    read_csv,
    write_parquet,
)
from aiports_data_warehouse_etl_spark.sources.registry import TableRegistry

#: Validation rule set per curated table (dim_cancelations has none).
RULES = {
    "dim_airports": V.dim_airports_rules,
    "dim_air_carriers": V.dim_air_carriers_rules,
    "dim_time": V.dim_time_rules,
    "dim_date": V.dim_date_rules,
    "dim_delays": V.dim_delays_rules,
    "fact_flights": V.fact_flights_rules,
}


#: Bump when a fingerprinted table's builder or the parsing of its
#: input changes: every stored fingerprint then misses once.
BUILDER_VERSION = 1
#: Sidecar in each fingerprinted target directory. The leading ``_``
#: hides it from parquet readers.
FINGERPRINT_FILE = "_fingerprint.json"


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame]
    reports: dict[str, DataFrame]


def _report_rows(table: DataFrame, rules: list) -> list[list]:
    """``V.validate`` collected once: [rule_name, violations, passed]
    per rule."""
    return [list(r) for r in V.validate(table, rules).collect()]


def _values_report(spark: SparkSession, rows: list[list]) -> DataFrame:
    """Report rows as a ``VALUES`` relation; collecting it runs no job."""
    values = ", ".join(f"('{name}', {n}L, {passed})" for name, n, passed in rows)
    return spark.sql(
        f"SELECT * FROM VALUES {values} AS t(rule_name, violations, passed)"
    )


def _fingerprint(spark: SparkSession, csv_path: str | None, mode: str, rules: list) -> str:
    """Hash of what a lookup table's build depends on, from metadata
    only: (path, length, mtime) of every file under ``csv_path``, the
    builder version, ``mode`` and the rule set's text. Taken before the
    build reads its input, so an edit racing the build changes the next
    run's hash."""
    files = []
    if csv_path is not None:
        fs, hpath = hadoop_path(spark, csv_path)
        for match in fs.globStatus(hpath) or []:
            it = fs.listFiles(match.getPath(), True)
            while it.hasNext():
                st = it.next()
                files.append([st.getPath().toString(), st.getLen(), st.getModificationTime()])
    key = json.dumps([BUILDER_VERSION, mode, repr(rules), sorted(files)])
    return hashlib.sha256(key.encode()).hexdigest()


def _read_fingerprint(fs, sidecar) -> dict | None:
    """The sidecar's record, or ``None`` if it is missing or unreadable."""
    if not fs.exists(sidecar):
        return None
    stream = fs.open(sidecar)
    try:
        text = bytes(stream.readAllBytes()).decode()
    finally:
        stream.close()
    try:
        return json.loads(text)
    except ValueError:
        return None


def _write_fingerprint(fs, sidecar, record: dict) -> None:
    out = fs.create(sidecar, True)
    try:
        out.write(json.dumps(record).encode())
    finally:
        out.close()


def _empty_frame(spark: SparkSession, schema_json: str) -> DataFrame:
    """An empty local relation of ``schema_json``, built in the JVM
    (no Python rows to serialize, no Python worker)."""
    jspark = spark._jsparkSession
    jdf = jspark.createDataFrame(
        spark.sparkContext._jvm.java.util.ArrayList(), jspark.parseDataType(schema_json)
    )
    return DataFrame(jdf, spark)


def run_pipeline(
    spark: SparkSession,
    airports_csv: str,
    carriers_csv: str,
    flights_csv: str | None,
    out_root: str,
    mode: str = "strict",
    date_cap: int | None = 10,
    write: bool = True,
) -> PipelineResult:
    """Build every curated table; optionally delta-merge to ``out_root``.

    ``flights_csv=None`` builds only the input-independent /
    lookup-only tables (airports, carriers, time). ``tables`` holds each
    table's checkpoint, or, for a lookup table skipped because its
    fingerprint matched, its lazy builder plan. The first exception
    raised by a table's task is re-raised here, after every task has
    stopped.
    """
    registry = TableRegistry(spark, out_root)

    airports_raw = read_csv(spark, airports_csv, schemas.AIRPORTS_RAW)
    carriers_raw = read_csv(spark, carriers_csv, schemas.AIR_CARRIERS_RAW)
    # the input of each fingerprinted table (see _fingerprint)
    lookups = {"dim_airports": airports_csv, "dim_air_carriers": carriers_csv, "dim_time": None}
    builders = {
        "dim_airports": lambda: build_dim_airports(airports_raw),
        "dim_air_carriers": lambda: build_dim_air_carriers(carriers_raw),
        "dim_time": lambda: build_dim_time(spark),
    }
    if flights_csv is not None:
        flights_raw = read_csv(spark, flights_csv, schemas.FLIGHTS_RAW)
        builders.update(
            dim_date=lambda: build_dim_date(
                flights_raw, cap=date_cap, strict=(mode == "strict")
            ),
            dim_cancelations=lambda: build_dim_cancelations(flights_raw),
            dim_delays=lambda: build_dim_delays(flights_raw),
            fact_flights=lambda: build_fact_flights(
                flights_raw,
                checkpoints["dim_airports"].result(),
                checkpoints["dim_date"].result(),
                mode=mode,
            ),
        )
    # each table's checkpoint, published before its report and merge run
    checkpoints: dict[str, Future] = {name: Future() for name in builders}
    reports: dict[str, DataFrame] = {}

    def task(name: str) -> None:
        target, twin = registry.path(name), registry.delta_path(name)
        fingerprint = stored = None
        try:
            rules = RULES[name]() if name in RULES else None
            if write and name in lookups:
                fingerprint = _fingerprint(spark, lookups[name], mode, rules)
                fs, sidecar = hadoop_path(spark, f"{target}/{FINGERPRINT_FILE}")
                stored = _read_fingerprint(fs, sidecar)
            skip = stored is not None and stored.get("fingerprint") == fingerprint
            table = builders[name]()
            if not skip:
                table = table.localCheckpoint()
        except BaseException as exc:
            checkpoints[name].set_exception(exc)
            raise
        checkpoints[name].set_result(table)
        if skip:
            reports[name] = _values_report(spark, stored["report"])
            write_parquet(_empty_frame(spark, stored["schema"]), twin)
            return
        if rules is not None:
            rows = _report_rows(table, rules)
            reports[name] = _values_report(spark, rows)
        if write:
            if fingerprint is not None:
                fs.delete(sidecar, False)
            delta_merge(spark, table, target, twin)
            if fingerprint is not None:
                _write_fingerprint(fs, sidecar, {
                    "fingerprint": fingerprint,
                    "schema": table.schema.json(),
                    "report": rows,
                })

    # one thread per table, since the fact task blocks on two others
    with ThreadPoolExecutor(len(builders), thread_name_prefix="run_pipeline") as pool:
        # one wrapper per task: each thread gets its own copy of the
        # caller's job group, tags and other local properties
        futures = [
            pool.submit(inheritable_thread_target(spark)(task), name)
            for name in builders
        ]
        for future in as_completed(futures):
            future.result()

    return PipelineResult(
        tables={name: checkpoints[name].result() for name in builders},
        reports={name: reports[name] for name in builders if name in RULES},
    )
