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
"""

from __future__ import annotations

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
from aiports_data_warehouse_etl_spark.sources.io import read_csv
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


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame]
    reports: dict[str, DataFrame]


def _local_report(table: DataFrame, rules: list) -> DataFrame:
    """``V.validate`` collected once and returned as a ``VALUES``
    relation: (rule_name, violations, passed), one row per rule."""
    rows = V.validate(table, rules).collect()
    values = ", ".join(f"('{r.rule_name}', {r.violations}L, {r.passed})" for r in rows)
    return table.sparkSession.sql(
        f"SELECT * FROM VALUES {values} AS t(rule_name, violations, passed)"
    )


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
    table's checkpoint. The first exception raised by a table's task is
    re-raised here, after every task has stopped.
    """
    registry = TableRegistry(spark, out_root)

    airports_raw = read_csv(spark, airports_csv, schemas.AIRPORTS_RAW)
    carriers_raw = read_csv(spark, carriers_csv, schemas.AIR_CARRIERS_RAW)
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
        try:
            table = builders[name]().localCheckpoint()
        except BaseException as exc:
            checkpoints[name].set_exception(exc)
            raise
        checkpoints[name].set_result(table)
        if name in RULES:
            reports[name] = _local_report(table, RULES[name]())
        if write:
            delta_merge(spark, table, registry.path(name), registry.delta_path(name))

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
