"""SparkSession factory.

Scale posture: these defaults are tuned so the same logical plans that
pass correctness on ``local[32]`` survive a 1000-executor / 100 TB
deployment — AQE owns runtime re-planning (partition coalescing, skew
splitting, broadcast conversion), shuffle partitioning is explicit, and
timestamps are pinned to UTC so results are cluster-timezone-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for correctness-at-scale, not just local speed.
DEFAULT_CONF = {
    # AQE: coalesce tiny post-shuffle partitions, split skewed ones,
    # convert sort-merge joins to broadcast when runtime stats allow.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dim tables here are tiny (≤ tens of MB even at 100 TB fact scale);
    # a generous threshold keeps FK-lookup joins broadcast, shuffle-free.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Runtime semi-join reduction: when a shuffle join's build side is
    # selective, inject a Bloom filter and probe it on the fact side
    # BEFORE the shuffle (off by default upstream). Default size
    # thresholds keep it inert at test scale; at 100 TB it prunes most
    # fact rows at the scan. Pinned by
    # tests/test_plan_shapes.py::test_runtime_bloom_filter_join_reduction.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Arrow for any pandas interchange (Pandas UDFs, toPandas in tests).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic wall-clock semantics across clusters.
    "spark.sql.session.timeZone": "UTC",
    # 128 MB input splits: good parquet scan parallelism at any scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Quieter, faster local runs; harmless on a cluster.
    "spark.ui.showConsoleProgress": "false",
    # Generated-class cache (static: read once per JVM). A cold plus an
    # incremental run_pipeline needs 145 classes (115 cold, 30 more
    # incremental; measured with CodegenMetrics on the perfbench
    # etl_nightly inputs), over the default of 100, so every run
    # Janino-compiled about 100 classes again. At 1000 a steady-state
    # run compiles none.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "aiports-dwh-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a real cluster pass ``None`` and submit via spark-submit, in which
    case the cluster manager's master wins.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
