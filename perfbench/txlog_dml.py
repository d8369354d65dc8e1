"""Workload ``txlog_dml``: a DML mix on one transaction-log table with an
incremental aggregate view over it.

The base state is a 1M-row ``TxLogTable`` in 64 files of contiguous key
ranges, and an ``IncrementalAggView`` with sum/min/max of ``v`` over 100
groups. One unit is one cycle: ``append`` (10k new keys),
``merge_upsert`` (5k keys), ``delete_where_dv`` (1k rows),
``update_where`` (1k rows), a pruned ``read(prune=...)`` + count over a
10k-key window, and the view's ``refresh``. Merge, delete and update
each hit a base file no earlier op of the run touched, so every seed
runs the same op sequence on the same table shape. A NumPy model of the
table checks the read counts, and the table and the view at the end.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from aiports_data_warehouse_etl_spark.sources.txlog import TxLogTable
from aiports_data_warehouse_etl_spark.streaming.matview import IncrementalAggView

import gen

BASE_ROWS = 1_000_000
BASE_FILES = 64
GROUPS = 100
READ_SPAN = 10_000
MERGE_BUMP = 20_000
#: Op latencies keep falling for the first cycles of a process (JIT
#: warm-up); the first cycles are discarded and every run measures the
#: same number of cycles.
WARMUP_UNITS = 2
NOMINAL_UNIT_S = 4.7
INCREMENTAL_STEP = "refresh"
OPS = ["append", "merge", "delete", "update", "read", "refresh"]


def _v(seed: int, k):
    """Value of key ``k`` as first written; same formula in NumPy and SQL."""
    return (k * 7919 + seed) % 10007


def _rows(spark, seed: int, lo: int, hi: int, parts: int = 1, bump: int = 0):
    k = F.col("id")
    return spark.range(lo, hi, 1, parts).select(
        k.alias("k"),
        (k % GROUPS).cast("int").alias("g"),
        (_v(seed, k) + F.lit(bump)).alias("v"),
    )


#: The first 2 * GROUPS keys of the last base file, which no DML window
#: touches, hold every group's min and max. No delete then ever hits a
#: stored bound, so every refresh takes the same (no-rescan) path
#: whatever the seed's windows are.
SENTINEL_KEY = (BASE_FILES - 1) * (BASE_ROWS // BASE_FILES)
SENTINEL_MIN, SENTINEL_MAX = -1, 10 ** 6


def _base_rows(spark, seed: int):
    k = F.col("k")
    low = (k >= SENTINEL_KEY) & (k < SENTINEL_KEY + GROUPS)
    high = (k >= SENTINEL_KEY + GROUPS) & (k < SENTINEL_KEY + 2 * GROUPS)
    return _rows(spark, seed, 0, BASE_ROWS, BASE_FILES).withColumn(
        "v",
        F.when(low, F.lit(SENTINEL_MIN)).when(high, F.lit(SENTINEL_MAX)).otherwise(F.col("v")),
    )


class Model:
    """Expected live keys and values of the table."""

    def __init__(self, seed: int, capacity: int) -> None:
        keys = np.arange(capacity, dtype=np.int64)
        self.v = _v(seed, keys)
        self.v[SENTINEL_KEY: SENTINEL_KEY + GROUPS] = SENTINEL_MIN
        self.v[SENTINEL_KEY + GROUPS: SENTINEL_KEY + 2 * GROUPS] = SENTINEL_MAX
        self.alive = keys < BASE_ROWS

    def count(self) -> int:
        return int(self.alive.sum())

    def total(self) -> int:
        return int(self.v[self.alive].sum())


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(root) for n in names if n.endswith(".parquet")
    )


def run(h) -> None:
    seed = h.seed
    measured = h.measured_units(NOMINAL_UNIT_S)
    cycles = WARMUP_UNITS + measured
    file_rows = BASE_ROWS // BASE_FILES
    with h.generating():
        windows = gen.txlog_windows(seed, cycles, BASE_FILES, file_rows, READ_SPAN)
        model = Model(seed, BASE_ROWS + cycles * gen.APPEND_ROWS)

    spark = h.start_spark()
    h.tracer.wrap(TxLogTable, "read", "plan.read", kind="plan")
    h.tracer.wrap(TxLogTable, "merge_upsert", "merge.merge_upsert", kind="merge")
    table = TxLogTable(spark, os.path.join(h.work, "table"))
    view = IncrementalAggView(
        spark, table, os.path.join(h.work, "view"), ["g"], ["v"], ["v"], ["v"]
    )
    with h.tracer.span("base"):
        table.append(_base_rows(spark, seed))
        view.refresh()
    base_bytes = _dir_bytes(table.path)
    state = {"next_key": BASE_ROWS}

    def cycle(idx: int, rec: dict) -> None:
        w = windows[idx]
        lo = state["next_key"]
        state["next_key"] += gen.APPEND_ROWS
        m, d, u, r = w["merge"], w["delete"], w["update"], w["read"]
        # the model takes the cycle's effects first; the ops below must match
        model.alive[lo: lo + gen.APPEND_ROWS] = True
        model.alive[m: m + gen.MERGE_KEYS] = True
        model.v[m: m + gen.MERGE_KEYS] = _v(seed, np.arange(m, m + gen.MERGE_KEYS)) + MERGE_BUMP
        model.alive[d: d + gen.DML_ROWS] = False
        model.v[u: u + gen.DML_ROWS] += 1
        want_read = int(model.alive[r: r + READ_SPAN].sum())

        versions = {}
        src_v0, view_v0 = table.latest_version(), view.view.latest_version()
        ops = {
            "append": lambda: table.append(_rows(spark, seed, lo, lo + gen.APPEND_ROWS)),
            "merge": lambda: table.merge_upsert(
                _rows(spark, seed, m, m + gen.MERGE_KEYS, bump=MERGE_BUMP), ["k"]),
            "delete": lambda: table.delete_where_dv(f"k >= {d} AND k < {d + gen.DML_ROWS}"),
            "update": lambda: table.update_where(
                f"k >= {u} AND k < {u + gen.DML_ROWS}", {"v": "v + 1"}),
            "read": lambda: table.read(prune={"k": (r, r + READ_SPAN - 1)})
                                 .filter((F.col("k") >= r) & (F.col("k") < r + READ_SPAN))
                                 .count(),
            "refresh": view.refresh,
        }
        got_read = None
        for name in OPS:
            with h.step(rec, name, source_bytes=base_bytes):
                out = ops[name]()
            if name == "read":
                got_read = out
            target = view.view if name == "refresh" else table
            versions[name] = target.latest_version()
        h.check(got_read == want_read, f"read counted {got_read} rows, want {want_read}")

        src_hist = {c["version"]: c for c in table.history()}
        view_hist = {c["version"]: c for c in view.view.history()}
        prev = {"src": src_v0, "view": view_v0}
        for name in OPS:
            side, hist = ("view", view_hist) if name == "refresh" else ("src", src_hist)
            new = range(prev[side] + 1, versions[name] + 1)
            rec["steps"][name]["files_added"] = sum(hist[v]["added"] for v in new)
            rec["steps"][name]["files_removed"] = sum(hist[v]["removed"] for v in new)
            prev[side] = versions[name]

    for i in range(cycles):
        h.unit(cycle, measured=i >= WARMUP_UNITS)

    # end state: the table against the model, the view against a fresh
    # aggregate of the table
    h.tidy()
    live = table.read()
    got = live.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).first()
    ok = (got["n"], got["s"]) == (model.count(), model.total())
    fresh = sorted(
        tuple(r) for r in live.groupBy("g").agg(
            F.count(F.lit(1)).cast("long"), F.sum("v"), F.min("v"), F.max("v")
        ).collect()
    )
    cols = ["g", "n_rows", "sum_v", "min_v", "max_v"]
    stored = sorted(tuple(r) for r in view.read().select(*cols).collect())
    ok = ok and fresh == stored
    if not ok:
        print(f"txlog_dml end-state mismatch: table {tuple(got)} vs model "
              f"{(model.count(), model.total())}; view equal: {fresh == stored}")
    h.final_ok = ok
    hist = table.history()
    h.layer_end["live_files_end"] = sum(c["added"] - c["removed"] for c in hist)
    h.trace_extra["versions_end"] = len(hist)
