"""Per-action wall-clock attribution for one registry query.

Monkeypatches the DataFrame action surface (collect / count / toPandas /
DataFrameWriter.save+parquet+orc+csv+json / RDD.collect) with timing
wrappers that record (duration, calling app frame), runs the query the
bench way (fn(spark, sf_dir).count()), and prints a table of every
Spark action with its wall time and call site — the measurement §1 of
the optimization guide asks for on latency-bound queries, where the
question is "how many sequential jobs, and which line pays for each"
rather than "which stage is slow". Each action also shows how many
generated classes Janino compiled during it (Spark's
``CodegenMetrics.METRIC_COMPILATION_TIME`` count, JVM-wide, so executor
compiles count too in local mode), and each rep its total: the compile
layer, without a profiler.

Usage: python tools/profile_query.py <query_name> [sf_dir] [reps]
"""
from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aiports_data_warehouse_etl_spark.queries import QUERIES  # noqa: E402
from aiports_data_warehouse_etl_spark.session import get_spark  # noqa: E402

ACTIONS: list[tuple[float, str, str, int]] = []
_DEPTH = 0  # suppress nested re-entry (collect inside collect)


def _compiled() -> int:
    """Generated classes compiled in this JVM so far."""
    from pyspark import SparkContext

    metrics = SparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _site() -> str:
    """Innermost repo frame that is not this module."""
    repo = "/aiports_data_warehouse_etl_spark/"
    frames = traceback.extract_stack()
    best = ""
    for fr in frames:
        if "profile_query" in fr.filename:
            continue
        if repo in fr.filename or fr.filename.endswith("queries.py"):
            best = f"{fr.filename.split('/')[-1]}:{fr.lineno} {fr.name}"
    return best or "<driver>"


def _wrap(cls, name):
    orig = getattr(cls, name)

    def timed(self, *a, **kw):
        global _DEPTH
        if _DEPTH:
            return orig(self, *a, **kw)
        _DEPTH += 1
        compiled = _compiled()
        t0 = time.perf_counter()
        try:
            return orig(self, *a, **kw)
        finally:
            dur = time.perf_counter() - t0
            _DEPTH -= 1
            ACTIONS.append(
                (dur, f"{cls.__name__}.{name}", _site(), _compiled() - compiled)
            )

    setattr(cls, name, timed)


def main() -> None:
    # Spark 4: pyspark.sql.DataFrame is the dispatcher base; the
    # classic implementation overrides the action methods, so the
    # wrap must land on the classic class to see any calls.
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pre-4.0
        from pyspark.sql import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    for m in ("collect", "count", "toPandas", "head", "take"):
        _wrap(DataFrame, m)
    for m in ("save", "parquet", "orc", "csv", "json"):
        _wrap(DataFrameWriter, m)

    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    spark = get_spark(
        app_name="profile",
        extra_conf={"spark.driver.memory": "32g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["s1_scan_project"].fn(spark, sf_dir).count()  # warm

    for rep in range(reps):
        ACTIONS.clear()
        compiled = _compiled()
        t0 = time.perf_counter()
        QUERIES[name].fn(spark, sf_dir).count()
        total = time.perf_counter() - t0
        compiled = _compiled() - compiled
        spark.catalog.clearCache()
        print(f"\n=== {name} rep {rep}: {total:.3f}s total, "
              f"{len(ACTIONS)} actions, "
              f"{sum(a[0] for a in ACTIONS):.3f}s in actions, "
              f"{compiled} classes compiled ===")
        for dur, kind, site, n in ACTIONS:
            print(f"  {dur:7.3f}s  {n:4d} compiled  {kind:28s}  {site}")


if __name__ == "__main__":
    main()
