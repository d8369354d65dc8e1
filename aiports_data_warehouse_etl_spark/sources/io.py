"""Scans and sinks (SURVEY.md §2.1, S1-S7).

Reference behavior: bare ``pd.read_csv`` with inferred schema
(`dags/extract_and_tranform.py:45,51,58`) and ``df.to_csv`` sinks
(`:338-350`). Here every scan takes an explicit schema (inference only
as a debug fallback) and curated storage is parquet — columnar at rest,
so Catalyst gets predicate pushdown + column pruning + partition
pruning for free at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    **options,
) -> DataFrame:
    """CSV scan (S1-S3). Explicit schema by default; ``schema=None``
    falls back to inference (debug only — never in production plans).
    """
    reader = spark.read.option("header", header)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (S4). Schema comes from the footer — already typed."""
    return spark.read.parquet(path)


def par_floor(df: DataFrame) -> DataFrame:
    """Parallelism floor for a COMPUTE-BOUND stage (r12, optimization
    guide §2.5): single-file fixture tables scan as ONE task, so a
    heavy narrow stage right after the scan runs on one core of the
    cluster. Round-robin up to cluster parallelism, only when the
    input has fewer partitions — a no-op on any real multi-file table
    (at 100 TB the scan has thousands of splits), so nothing is tuned
    to local mode. Apply ONLY where per-ROW work dominates
    (ABBA-measured per site); stages whose cost is per-TASK init
    (model load, codebook build) get slower from N× init and keep
    the scan layout.

    Caller constraint (ADVICE r12 #1): pass a SCAN-ADJACENT input
    (a raw/cached table scan plus narrow projections/filters). The
    partition probe below goes through ``df.rdd``, which forces
    physical planning — with AQE, an input containing an upstream
    EXCHANGE would materialize that whole shuffle stage as jobs at
    plan-build time. Every current call site is scan-adjacent; keep
    it that way or derive the count from the un-executed plan first.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    return df.repartition(par) if df.rdd.getNumPartitions() < par else df


# Per-application cache of testdata scans: the 186-query contract
# sweep reads the same ten immutable parquet tables hundreds of times;
# persisting each once (spillable MEMORY_AND_DISK) removes the repeated
# scan + ts-normalization work from every query after the first. Keyed
# by applicationId so a fresh session never sees another app's plans.
# Disable with SPARK_GRAFT_NO_TD_CACHE=1 for A/B scan measurements.
_TD_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def read_testdata(
    spark: SparkSession, sf_dir: str, table: str, cache: bool | None = None
) -> DataFrame:
    """Scan one driver testdata table (TESTDATA.md).

    ``events.ts`` has shipped as TIMESTAMP(NANOS) (which Spark's parquet
    reader rejects unless nanos are read as long) and, in newer testdata
    generations, as TIMESTAMP_NTZ micros. Normalize every variant to
    TimestampType: the session timezone is pinned to UTC (session.py),
    so the NTZ→LTZ cast is value-preserving and matches DuckDB's naive
    reading of the same file. Nanos are rebuilt with exact integer
    division (a double divide would lose precision above 2^53 ns).

    Results are cached per (application, sf_dir, table) as a persisted
    DataFrame — the testdata is immutable, so every contract query
    shares one in-memory columnar copy instead of re-scanning parquet.
    """
    import os

    if cache is None:
        cache = os.environ.get("SPARK_GRAFT_NO_TD_CACHE", "") != "1"
    key = (spark.sparkContext.applicationId, sf_dir, table)
    if cache and key in _TD_CACHE:
        hit = _TD_CACHE[key]
        try:
            # a clearCache() elsewhere (bench hygiene) evicts the
            # blocks but leaves this handle uncached — re-mark it so
            # the next action rebuilds once instead of every scan
            # recomputing silently
            if not hit.storageLevel.useMemory and not hit.storageLevel.useDisk:
                from pyspark import StorageLevel

                hit.persist(StorageLevel.MEMORY_AND_DISK)
        except Exception:
            pass
        return hit

    path = f"{sf_dir}/{table}.parquet"
    if table != "events":
        df = spark.read.parquet(path)
    else:
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    # NOTE (r12): a GLOBAL parallelism floor here (repartition every
    # cached table to defaultParallelism) was implemented and ABBA-
    # measured — net NEUTRAL-to-negative at sf0.1. It wins where
    # per-row work dominates (mm_decode_features 2.2×, cms 1.5×) but
    # loses where per-TASK init dominates (RAKE, PQ: 32 Python-worker
    # inits cost more than the parallelism buys) and perturbs some
    # relational plans. The floor therefore lives at the specific
    # compute-bound call sites (queries._par_floor), not here.
    if cache:
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        # marker: downstream operators (e.g. the dedup family's shingle
        # builder) may attach derived persisted tables to this object —
        # safe because the cached instance is stable for the app's life
        df._sg_cacheable = True
        _TD_CACHE[key] = df
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink (S5). ``partition_by`` enables partition pruning for
    downstream scans — at 100 TB the fact table partitions by date key.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
) -> None:
    """JDBC sink (S6) — the reference's intended Azure SQL load
    (`test_connection.py:7-12`). Driver jar availability is deployment
    config; semantics are plain ``df.write.jdbc``.
    """
    df.write.jdbc(url=url, table=table, mode=mode, properties=properties or {})


def list_catalog_tables(spark: SparkSession) -> DataFrame:
    """Catalog metadata scan (S7) — `SHOW TABLES` equivalent of the
    reference's INFORMATION_SCHEMA probe (`test_connection.py:16-21`).
    """
    return spark.sql("SHOW TABLES")


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (hash-partitioned at rest).

    Two tables bucketed identically on their join key co-locate: the
    join needs NO shuffle (no Exchange in the plan) — at 100 TB this is
    the difference between a network-bound and a scan-bound fact-fact
    join. ``sort_cols`` additionally pre-sorts within buckets, turning
    sort-merge joins scan-only.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~``target_file_mb``. Returns the new file count.

    The 100 TB housekeeping operator — streaming/incremental appends
    accumulate thousands of tiny files, and scan-task scheduling
    overhead grows linearly with file count. Sizing is estimated from
    the current on-disk footprint; writes go to a staging dir first so
    a failed compaction never destroys the source.
    """
    import glob
    import os
    import shutil

    data_files = [
        f for f in glob.glob(f"{path}/*.parquet") if os.path.isfile(f)
    ]
    total_bytes = sum(os.path.getsize(f) for f in data_files)
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))

    df = spark.read.parquet(path)
    staging = f"{path}.__compacting"
    df.repartition(n_files).write.mode("overwrite").parquet(staging)
    # atomic-ish swap (rename within one filesystem)
    backup = f"{path}.__pre_compact"
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
    return len([f for f in glob.glob(f"{path}/*.parquet") if os.path.isfile(f)])


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan. Spark ships a native vectorized ORC reader with the
    same pushdown surface as parquet (predicate pushdown, column
    pruning, min/max stripe skipping) — interchange format for Hive
    warehouses the reference's Azure SQL sink would be fed from."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink — same layout discipline as ``write_parquet``."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    **options,
) -> DataFrame:
    """JSON-lines scan. Explicit schema by default — schema inference
    on JSON costs a FULL extra pass over the data (at 100 TB that is
    the whole corpus read twice) and silently widens types. Malformed
    rows land in ``_corrupt_record`` under the default PERMISSIVE mode
    instead of failing the job; pass mode='FAILFAST' to invert."""
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink — the interchange format of LLM training-data
    pipelines (one doc per line, gzip-splittable when uncompressed)."""
    df.write.mode(mode).json(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: T.StructType | None = None,
    **options,
) -> DataFrame:
    """XML scan (Spark 4 native data source, the former spark-xml
    package folded into core). Explicit schema for the same reason as
    JSON: inference is an extra full pass. Row boundaries come from
    ``row_tag``; files split at tag boundaries so large XML stays
    parallel-readable."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str,
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """XML sink — one element per row under ``root_tag``. Numeric
    values serialize via shortest-roundtrip formatting, so a
    schema-directed read returns bit-identical doubles."""
    df.write.mode(mode).format("xml").option("rootTag", root_tag).option(
        "rowTag", row_tag
    ).save(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    partition_by: list[str] | None = None,
) -> None:
    """CSV sink (S5 — the reference's curated output format,
    `dags/extract_and_tranform.py:338-350`). Values with delimiters or
    newlines are quoted/escaped by Spark's writer, so the roundtrip is
    lossless for string columns as long as the reader is given the
    same quote options (the `read_csv` defaults)."""
    w = df.write.mode(mode).option("header", header)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.csv(path)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-partitioned, sorted parquet layout for data skipping.

    ``repartitionByRange(sort_cols)`` gives each output file a DISJOINT
    key range, and ``sortWithinPartitions`` keeps every parquet row
    group's min/max stats tight on the sort key. A point or range
    filter on that key then prunes whole files (Spark compares
    pushed-down predicates against footer stats) and, within a file,
    whole row groups — the poor man's z-order, and the single biggest
    scan-cost lever at 100 TB after partition pruning: a selective
    filter reads O(matching ranges), not O(corpus).
    """
    out = df.repartitionByRange(*sort_cols) if n_files is None else df.repartitionByRange(n_files, *sort_cols)
    out.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Two-dimensional clustering layout: range-partition + sort on the
    Morton z-value of (x_col, y_col) so every output file covers a
    small RECTANGLE of the key space and footer min/max stats are
    tight on BOTH columns — a selective filter on either one prunes
    most files, where a single-column sorted layout only skips on its
    sort key (see functions/zorder.py). Same write cost as
    ``write_sorted_parquet``: one range shuffle, no UDFs."""
    from aiports_data_warehouse_etl_spark.functions.zorder import morton_interleave

    z = morton_interleave(F.col(x_col), F.col(y_col))
    out = df.withColumn("__z", z)
    out = (
        out.repartitionByRange("__z")
        if n_files is None
        else out.repartitionByRange(n_files, "__z")
    )
    out.sortWithinPartitions("__z").drop("__z").write.mode(mode).parquet(path)
