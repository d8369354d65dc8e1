"""Incremental delta merge (SURVEY.md §2.7 M1 + §2.3 J4).

The reference re-implements this seven times, once per table
(`dags/extract_and_tranform.py:333-499`), with an inverted emptiness
condition and a discarded append (§2.11 items 4-5). This is the single
generic implementation of the *intended* semantics:

    first load : (target path absent) write full table; delta twin = full table
    otherwise  : delta = new rows NOT already in target (whole-row
                 anti-join, null-safe), write delta twin, append delta

The anti-join mirrors pandas tuple-set membership (`help_func.py:5-9`),
where NaN == NaN inside a tuple — hence null-safe ``<=>`` equality on
every column, not plain ``=``.

Scale: left-anti with the EXISTING side broadcast when small; when both
sides are huge it becomes a shuffled sort-merge anti-join on all
columns — still one shuffle, no driver collect. Delta twin written
before the append so the downstream dataset-triggered load
(`Load.py:17`) sees exactly the new rows.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aiports_data_warehouse_etl_spark.sources.io import (
    hadoop_path,
    read_parquet,
    write_parquet,
)


def anti_join_all_columns(new: DataFrame, existing: DataFrame) -> DataFrame:
    """Rows of ``new`` with no null-safe whole-row match in ``existing``."""
    cond = functools.reduce(
        operator.and_,
        [new[c].eqNullSafe(existing[c]) for c in new.columns],
    )
    return new.join(existing, cond, "left_anti")


def delta_merge(
    spark: SparkSession,
    new_df: DataFrame,
    target_path: str,
    delta_path: str,
) -> DataFrame:
    """Append-only SCD-0 merge keyed on the whole row; returns the delta.

    Only a missing ``target_path`` is a first load. Any other failure to
    read the target (a corrupt footer, a permission error) propagates,
    leaving the target as it was.
    """
    fs, hpath = hadoop_path(spark, target_path)
    if not fs.exists(hpath):
        write_parquet(new_df, target_path, mode="overwrite")
        write_parquet(new_df, delta_path, mode="overwrite")
        return new_df

    # footer inference, so a target whose schema drifted fails loudly
    existing = read_parquet(spark, target_path)
    delta = anti_join_all_columns(new_df, existing)
    # Materialize the delta before touching its own input path.
    write_parquet(delta, delta_path, mode="overwrite")
    # the schema just written is known: no footer-inference job
    delta_back = spark.read.schema(delta.schema).parquet(delta_path)
    write_parquet(delta_back, target_path, mode="append")
    return delta_back


def keyed_upsert(new_df: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """SCD-1 upsert: rows from ``new_df`` replace same-key rows in
    ``existing``; unmatched existing rows survive.

    One anti-join + one union — the 100 TB-friendly form of MERGE INTO
    when the table format has no transactional merge. Null-safe on the
    key columns.
    """
    cond = functools.reduce(
        operator.and_,
        [existing[k].eqNullSafe(new_df[k]) for k in keys],
    )
    survivors = existing.join(new_df, cond, "left_anti")
    return survivors.unionByName(new_df)


def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    keys: list[str],
    as_of: str,
    tracked: list[str] | None = None,
) -> DataFrame:
    """SCD-2 merge: apply ``updates`` to a history-tracked dimension.

    ``current`` carries (business key(s), tracked attributes,
    valid_from, valid_to, is_current); ``updates`` carries key(s) +
    attributes effective at date ``as_of`` (ISO string). Semantics:

    - closed history rows (is_current = false) pass through untouched;
    - a current row whose key has an update with ANY tracked-attribute
      change is EXPIRED (valid_to = as_of, is_current = false) and a
      new current row (valid_from = as_of, valid_to = null) is added;
    - no-op updates (identical tracked attributes) change nothing;
    - brand-new keys insert as current rows effective ``as_of``.

    Plan: ONE null-safe full-outer equi-join of current-rows × updates,
    then a per-row case expansion (array-of-structs explode) emits the
    right output rows for each MERGE branch — untouched, expired +
    re-insert, or brand-new insert. Both inputs are scanned exactly
    once (the classic filter-per-branch decomposition re-plans the
    join for every branch plus an anti-join for inserts — 6 scans of
    each input before the union), so it runs on raw parquet at any
    scale (swap in Delta/Iceberg MERGE where the table format provides
    it). Null-safe attribute comparison via ``eqNullSafe``.
    """
    tracked = tracked or [
        c
        for c in updates.columns
        if c not in keys
    ]
    as_of_lit = F.lit(as_of).cast("date")

    cur = current.filter(F.col("is_current"))
    closed = current.filter(~F.col("is_current"))

    upd = updates.select(
        *[F.col(k).alias(f"__u_{k}") for k in keys],
        *[F.col(c).alias(f"__u_{c}") for c in tracked],
    )
    key_cond = functools.reduce(
        operator.and_, [cur[k].eqNullSafe(F.col(f"__u_{k}")) for k in keys]
    )
    changed_cond = functools.reduce(
        operator.or_,
        [~F.col(c).eqNullSafe(F.col(f"__u_{c}")) for c in tracked],
    )
    joined = cur.join(upd, key_cond, "full_outer")

    # side markers: cur rows all carry is_current=true (filtered
    # above), so a null means the row came from the updates side; a
    # null update business key means no update matched (same
    # assumption as a MERGE ON clause: business keys are non-null)
    has_cur = F.col("is_current").isNotNull()
    has_upd = F.col(f"__u_{keys[0]}").isNotNull()

    def _from_upd(c: str):
        if c == "valid_from":
            return as_of_lit
        if c == "valid_to":
            return F.lit(None).cast("date")
        if c == "is_current":
            return F.lit(True)
        return F.col(f"__u_{c}")

    keep = F.struct(*[F.col(c).alias(c) for c in current.columns])
    expire = F.struct(
        *[
            (
                as_of_lit
                if c == "valid_to"
                else F.lit(False) if c == "is_current" else F.col(c)
            ).alias(c)
            for c in current.columns
        ]
    )
    insert = F.struct(*[_from_upd(c).alias(c) for c in current.columns])

    cases = (
        F.when(~has_cur, F.array(insert))
        .when(has_upd & changed_cond, F.array(expire, insert))
        .otherwise(F.array(keep))
    )
    merged = joined.select(F.explode(cases).alias("__r")).select("__r.*")
    return closed.unionByName(merged)
