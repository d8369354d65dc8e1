"""Transaction-log table format: atomic commits, snapshot isolation,
time travel, copy-on-write delete, compaction, vacuum, optimistic
concurrency (sources/txlog.py).

The reference's loads overwrite whole directories mid-read
(`dags/Load.py:17`); these tests pin the log-structured fix."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from aiports_data_warehouse_etl_spark.sources.txlog import (
    ConstraintViolation,
    TxConflict,
    TxLogTable,
    _version_path,
)


@pytest.fixture()
def tbl(spark, tmp_path):
    return TxLogTable(spark, str(tmp_path / "t"), checkpoint_every=4)


def _orders(spark, sf="/root/testdata/sf0.001"):
    return spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )


def test_append_and_snapshot_read(spark, tbl):
    o = _orders(spark)
    lo = o.filter("o_orderkey % 2 = 0")
    hi = o.filter("o_orderkey % 2 = 1")
    assert tbl.append(lo) == 0
    assert tbl.append(hi) == 1
    got = tbl.read()
    assert got.count() == o.count()
    assert got.schema == o.schema
    # version 0 still reads as only the first half (time travel)
    assert tbl.read(version=0).count() == lo.count()


def test_overwrite_replaces_contents(spark, tbl):
    o = _orders(spark)
    tbl.append(o)
    tbl.overwrite(o.limit(10))
    assert tbl.read().count() == 10
    assert tbl.read(version=0).count() == o.count()


def test_delete_where_is_copy_on_write(spark, tbl):
    o = _orders(spark)
    # two commits -> at least two file sets; delete hits only one half
    tbl.append(o.filter("o_orderkey < 1000").repartition(2))
    tbl.append(o.filter("o_orderkey >= 1000").repartition(2))
    before = tbl._snapshot()["files"]
    v = tbl.delete_where("o_orderkey < 500")
    after = tbl._snapshot()["files"]
    surviving_original = set(before) & set(after)
    # the >=1000 files contain no matching rows and carry over untouched
    assert surviving_original, "untouched files must carry over by reference"
    got = tbl.read()
    assert got.filter("o_orderkey < 500").count() == 0
    expect = o.filter("o_orderkey >= 500").count()
    assert got.count() == expect
    # time travel still sees the deleted rows
    assert tbl.read(version=v - 1).count() == o.count()


def test_delete_where_no_match_is_noop(spark, tbl):
    o = _orders(spark)
    v0 = tbl.append(o)
    assert tbl.delete_where("o_orderkey < 0") == v0
    assert tbl.latest_version() == v0


def test_compact_reduces_files_preserves_rows(spark, tbl):
    o = _orders(spark)
    tbl.append(o.repartition(8))
    tbl.append(o.repartition(8))
    before = tbl._snapshot()
    n_before = len(before["files"])
    total = tbl.read().count()
    chk = tbl.read().agg(F.sum("o_totalprice").alias("s")).collect()[0]["s"]
    tbl.compact(target_file_bytes=1 << 30)
    after = tbl._snapshot()
    assert len(after["files"]) < n_before
    assert tbl.read().count() == total
    chk2 = tbl.read().agg(F.sum("o_totalprice").alias("s")).collect()[0]["s"]
    assert abs(chk - chk2) < 1e-6


def test_schema_evolution_across_appends(spark, tbl):
    """Appends written before and after a column was added read back
    under the union schema, missing values null (additive evolution)."""
    o = _orders(spark)
    tbl.append(o.limit(10))
    evolved = o.limit(5).withColumn("channel", F.lit("web"))
    tbl.append(evolved)
    got = tbl.read()
    assert "channel" in got.columns
    assert got.count() == 15
    assert got.filter(F.col("channel").isNull()).count() == 10


def test_sorted_compaction_clusters_stats(spark, tbl):
    """compact(sort_by=...) leaves files with DISJOINT o_orderkey
    ranges, so log-side pruning can answer a point lookup from one
    file."""
    o = _orders(spark)
    tbl.append(o.repartition(4))  # key ranges smeared across files
    tbl.append(o.repartition(4).withColumn(
        "o_orderkey", F.col("o_orderkey") + 100000))
    tbl.compact(target_file_bytes=40 * 1024, sort_by=["o_orderkey"])
    snap = tbl._snapshot()
    ranges = sorted(
        (st["min"]["o_orderkey"], st["max"]["o_orderkey"])
        for st in snap["files"].values()
        if "o_orderkey" in st["min"]
    )
    assert len(ranges) >= 2, "expected multiple compacted files"
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping ranges {ranges}"
    # a point lookup now prunes to a single file
    probed = tbl.read(prune={"o_orderkey": (1, 1)})
    files = probed.select(
        F.input_file_name().alias("f")).distinct().count()
    assert files == 1
    assert tbl.read().count() == 2 * o.count()


def test_append_rebases_past_commit_race(spark, tbl):
    o = _orders(spark)
    tbl.append(o.limit(5))
    # another writer takes the next version number out from under us
    with open(_version_path(tbl.path, 1), "w") as fh:
        json.dump({"op": "append", "add": [], "ts": 0}, fh)
    v = tbl.append(o.limit(3))  # first try collides, rebase lands at 2
    assert v == 2
    assert tbl.read().count() == 8


def test_read_modify_write_conflict_raises(spark, tbl):
    """A writer whose table advances between snapshot-resolve and
    commit must raise, never silently clobber the interleaved commit.
    The race is injected at the staging step — exactly where a slow
    overwrite spends its time in production."""
    o = _orders(spark)
    tbl.append(o.limit(20))
    racer = TxLogTable(spark, tbl.path)
    real_stage = tbl._stage

    def stage_then_lose_race(df):
        adds = real_stage(df)
        racer.append(o.limit(5))  # interleaved commit wins the version
        return adds

    tbl._stage = stage_then_lose_race
    with pytest.raises(TxConflict):
        tbl.overwrite(o.limit(2))
    tbl._stage = real_stage
    # the interleaved append survived untouched
    assert tbl.read().count() == 25


def test_checkpoint_bounds_log_replay(spark, tbl):
    o = _orders(spark).limit(50)
    for i in range(6):  # checkpoint_every=4 -> checkpoint at v4
        tbl.append(o.filter(f"o_orderkey % 6 = {i}"))
    cps = [
        f for f in os.listdir(os.path.join(tbl.path, "_txlog"))
        if f.endswith(".checkpoint.json")
    ]
    assert cps, "expected a checkpoint file"
    # snapshot after checkpoint equals full replay
    assert tbl.read().count() == o.count()


def test_stats_pruning_skips_files(spark, tbl):
    o = _orders(spark)
    tbl.append(o.filter("o_orderkey < 1000"))
    tbl.append(o.filter("o_orderkey >= 1000"))
    snap = tbl._snapshot()
    pruned = tbl.read(prune={"o_orderkey": (0, 10)})
    # only the low file(s) should survive pruning
    full_files = len(snap["files"])
    pruned_files = len(
        {r["f"] for r in pruned.select(
            F.input_file_name().alias("f")).distinct().collect()}
    )
    assert pruned_files < full_files
    # pruning is an optimization, never a filter: superset of matches
    assert pruned.filter("o_orderkey <= 10").count() == \
        o.filter("o_orderkey <= 10").count()


def test_vacuum_removes_only_unreferenced(spark, tbl):
    o = _orders(spark)
    tbl.append(o)
    tbl.overwrite(o.limit(10))
    expect = tbl.read().count()
    deleted = tbl.vacuum(retain_versions=0, grace_seconds=0)
    assert deleted, "the overwritten files should be vacuumed"
    assert tbl.read().count() == expect
    for rel in deleted:
        assert not os.path.exists(os.path.join(tbl.path, rel))


def test_append_batch_txn_is_idempotent(spark, tbl):
    o = _orders(spark).limit(30)
    v = tbl.append_batch_txn(o, "loader", 0)
    assert v == 0
    # a foreachBatch replay of the same (app, batch) is a no-op
    assert tbl.append_batch_txn(o, "loader", 0) is None
    assert tbl.read().count() == 30
    # a different app reusing the batch id is a distinct transaction
    assert tbl.append_batch_txn(o, "backfill", 0) == 1
    assert tbl.read().count() == 60


def test_stream_into_txlog_restart_no_duplicates(spark, tmp_path):
    """AvailableNow stream → txlog sink; a restart with new source
    files appends ONLY the new batch, and replays never double-land."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    t = TxLogTable(spark, str(tmp_path / "t"))
    o = _orders(spark)
    o.filter("o_orderkey < 40").coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = t.write_stream(stream, ckpt, txn_app="loader")
    q.awaitTermination(120)
    first = t.read().count()
    assert first == 40
    # restart with more source data: only the delta lands
    o.filter("o_orderkey >= 1000 AND o_orderkey < 1025").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = t.write_stream(stream2, ckpt, txn_app="loader")
    q2.awaitTermination(120)
    assert t.read().count() == first + 25
    # every commit carries its transaction marker
    assert t.txn_seen("loader", 0)


def test_incremental_aggregate_txlog_exactly_once(spark, tmp_path, sf_small):
    """Continuous aggregate maintained in a txlog table: final state
    equals the batch ground truth, a restart appends only the delta,
    and a replayed batch id is a committed-transaction no-op."""
    import pandas as pd
    from pyspark.sql import functions as F2

    from aiports_data_warehouse_etl_spark.streaming.events import (
        incremental_aggregate_txlog,
    )
    from aiports_data_warehouse_etl_spark.sources.txlog import TxLogTable

    ev = spark.read.parquet(f"{sf_small}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    tpath = str(tmp_path / "agg")
    ev.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)

    q = incremental_aggregate_txlog(spark, src, tpath, ckpt)
    q.awaitTermination(120)
    t = TxLogTable(spark, tpath)

    def as_dict(df):
        return {
            r["event_type"]: (r["n_events"], round(r["sum_value"], 6))
            for r in df.collect()
        }

    truth1 = as_dict(
        ev.filter("event_id % 2 = 0")
        .groupBy("event_type")
        .agg(
            F2.count(F2.lit(1)).cast("long").alias("n_events"),
            F2.sum("value").alias("sum_value"),
        )
    )
    assert as_dict(t.read()) == truth1

    # restart with the retained checkpoint: only the new half merges
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    q2 = incremental_aggregate_txlog(spark, src, tpath, ckpt)
    q2.awaitTermination(120)
    truth_all = as_dict(
        ev.groupBy("event_type").agg(
            F2.count(F2.lit(1)).cast("long").alias("n_events"),
            F2.sum("value").alias("sum_value"),
        )
    )
    assert as_dict(t.read()) == truth_all

    # a replay of an already-committed batch id is a no-op — even with
    # different (garbage) content, the txn marker wins
    garbage = spark.createDataFrame(
        pd.DataFrame(
            {"event_type": ["x"], "n_events": [999], "sum_value": [0.0]}
        )
    )
    assert t.overwrite_batch_txn(garbage, "agg_maint", 0) is None
    assert as_dict(t.read()) == truth_all


def test_model_based_random_op_sequences(spark, tmp_path):
    """Model-based check: a seeded random sequence of append /
    delete-where / overwrite / compact / vacuum ops must leave the
    txlog table equal to a plain in-memory set model after EVERY op,
    and time travel must reproduce each recorded historical state."""
    import random

    o_rows = [
        (int(r["o_orderkey"]), float(r["o_totalprice"]))
        for r in _orders(spark).limit(120).collect()
    ]

    for seed in (11, 47):
        rng = random.Random(seed)
        t = TxLogTable(spark, str(tmp_path / f"m{seed}"), checkpoint_every=3)
        model: dict[int, float] = {}
        history: list[tuple[int, dict[int, float]]] = []

        def df_of(rows):
            return spark.createDataFrame(
                [(k, v) for k, v in rows], "o_orderkey long, o_totalprice double"
            )

        def table_state():
            return {
                int(r["o_orderkey"]): float(r["o_totalprice"])
                for r in t.read().collect()
            }

        for step in range(10):
            op = rng.choice(
                ["append", "append", "delete", "overwrite", "compact", "vacuum"]
            )
            if op == "append":
                picks = rng.sample(o_rows, rng.randint(1, 20))
                fresh = [(k + step * 1000000, v) for k, v in picks]
                t.append(df_of(fresh))
                model.update(dict(fresh))
            elif op == "delete" and model:
                cut = rng.choice(sorted(model))
                t.delete_where(f"o_orderkey < {cut}")
                model = {k: v for k, v in model.items() if not k < cut}
            elif op == "overwrite":
                picks = rng.sample(o_rows, rng.randint(1, 10))
                t.overwrite(df_of(picks))
                model = dict(picks)
            elif op == "compact":
                t.compact(target_file_bytes=1 << 30)
            elif op == "vacuum":
                t.vacuum(retain_versions=0, grace_seconds=0)
                # vacuum trims time-travel history; drop stale entries
                history = [
                    (v, s) for v, s in history if v == t.latest_version()
                ]
            if t.latest_version() >= 0:
                assert table_state() == model, f"seed {seed} step {step} {op}"
                history.append((t.latest_version(), dict(model)))

        # time travel reproduces every retained recorded state
        for version, state in history:
            got = {
                int(r["o_orderkey"]): float(r["o_totalprice"])
                for r in t.read(version=version).collect()
            }
            assert got == state, f"time travel to v{version}"


def test_history_surfaces_lineage(spark, tbl):
    o = _orders(spark)
    tbl.append(o.limit(5))
    tbl.overwrite(o.limit(3))
    hist = tbl.history()
    assert [h["op"] for h in hist] == ["append", "overwrite"]
    assert hist[1]["removed"] >= 1


def test_concurrent_appends_from_threads(spark, tmp_path):
    """REAL concurrent writers: two threads blind-append interleaved
    batches; optimistic commits rebase through the races, nothing is
    lost, and the log stays a contiguous version chain."""
    from concurrent.futures import ThreadPoolExecutor

    t = TxLogTable(spark, str(tmp_path / "conc"))
    o = _orders(spark)

    def writer(offset: int) -> int:
        n = 0
        for i in range(4):
            lo = offset + i * 10
            n += t.append(
                o.filter(f"o_orderkey >= {lo} AND o_orderkey < {lo + 10}")
            ) >= 0
        return n

    with ThreadPoolExecutor(max_workers=2) as ex:
        futs = [ex.submit(writer, 0), ex.submit(writer, 200)]
        assert [f.result() for f in futs] == [4, 4]

    assert t.latest_version() == 7  # 8 commits, contiguous 0..7
    expect = o.filter(
        "(o_orderkey >= 0 AND o_orderkey < 40)"
        " OR (o_orderkey >= 200 AND o_orderkey < 240)"
    ).count()
    assert t.read().count() == expect
    assert [h["op"] for h in t.history()] == ["append"] * 8


def test_log_stats_match_actual_rows(spark, tbl):
    """Metadata integrity: the per-file row counts recorded in the
    commit log (parquet footers at commit time) must sum to the actual
    readable row count at EVERY version — the invariant that makes
    log-side count(*) answerable without touching data files."""
    o = _orders(spark)
    tbl.append(o.filter("o_orderkey % 2 = 0").repartition(3))
    tbl.append(o.filter("o_orderkey % 2 = 1").repartition(2))
    tbl.delete_where("o_orderkey < 300")
    for v in range(tbl.latest_version() + 1):
        snap = tbl._snapshot(v)
        meta_rows = sum(st["rows"] for st in snap["files"].values())
        assert meta_rows == tbl.read(version=v).count(), f"version {v}"
        # the public metadata-only count API serves the same number
        assert tbl.count_rows(version=v) == meta_rows


def test_changes_feed_is_net_exact(spark, tbl):
    """The file-diff change feed between two versions nets out to
    exactly the table diff: applying (inserts minus deletes) to the
    old snapshot reproduces the new one, across appends, a COW
    delete, and a compact (which must NOT appear in the feed)."""
    o = _orders(spark)
    tbl.append(o.filter("o_orderkey < 100"))            # v0
    tbl.append(o.filter("o_orderkey >= 100 AND o_orderkey < 160"))  # v1
    tbl.delete_where("o_orderkey % 7 = 0")              # v2 (COW)
    # layout only; may legitimately be a committed rewrite OR a no-op
    # (r11: COW rewrites repack to O(rewritten-bytes) files, so the
    # delete above can leave a single tight file with nothing to pack)
    v_last = tbl.compact(target_file_bytes=1 << 30)

    ch = tbl.changes(0, v_last)

    def keys(df):
        return {r["o_orderkey"] for r in df.select("o_orderkey").collect()}

    old = keys(tbl.read(version=0))
    new = keys(tbl.read(version=v_last))
    # replay the feed per key in version order; within one commit a
    # COW-carried key has BOTH a delete (old file) and an insert
    # (rewritten file) and survives — insert wins ties
    last: dict[int, tuple[int, int]] = {}  # key -> (version, is_insert)
    for r in ch.select(
        "o_orderkey", "_change_type", "_commit_version"
    ).collect():
        k = r["o_orderkey"]
        mark = (r["_commit_version"], 1 if r["_change_type"] == "insert" else 0)
        if k not in last or mark > last[k]:
            last[k] = mark
    replayed = {k for k in old if k not in last}
    replayed |= {k for k, (_, ins_wins) in last.items() if ins_wins}
    assert replayed == new
    # compact (whether it committed as v3 or no-opped) contributed
    # nothing to the feed: only the append and the COW delete appear
    versions = {r["_commit_version"] for r in
                ch.select("_commit_version").distinct().collect()}
    assert versions <= {1, 2}


def test_change_feed_dv_then_cow_folds(spark, tbl):
    """ADVICE r4 (high): a row deleted by a deletion vector emits
    'delete' exactly ONCE — at the delete_dv commit — even when a
    later copy-on-write rewrite removes the DV-carrying file. Before
    the fix, changes() read removed files RAW, so DV-deleted rows
    re-emitted a second 'delete' and the signed fold went negative."""
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "id int, k int"
    )
    tbl.append(df.coalesce(1))           # v0: one file holds all rows
    tbl.delete_where_dv("id IN (2, 5)")  # v1: DV on that file
    tbl.delete_where("id >= 9")          # v2: COW removes the DV-carrying file
    ch = tbl.changes(-1, tbl.latest_version())
    net = {
        r["id"]: r["net"]
        for r in ch.groupBy("id")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("net")
        )
        .collect()
    }
    live = {r.id for r in tbl.read().collect()}
    assert all(n in (0, 1) for n in net.values()), f"negative fold: {net}"
    assert {i for i, n in net.items() if n == 1} == live
    # exactly one delete each for the DV-deleted rows
    assert (
        ch.filter("id IN (2, 5) AND _change_type = 'delete'").count() == 2
    )
    # same contract when the rewrite is an OVERWRITE: fresh table,
    # DV delete, then overwrite-all (removes the DV-carrying file)
    t2 = TxLogTable(spark, tbl.path + "_ow")
    t2.append(df.coalesce(1))
    t2.delete_where_dv("id = 0")
    t2.overwrite(spark.createDataFrame([(100, 0)], "id int, k int"))
    ch2 = t2.changes(-1, t2.latest_version())
    assert (
        ch2.filter("id = 0 AND _change_type = 'delete'").count() == 1
    )
    net2 = {
        r["id"]: r["net"]
        for r in ch2.groupBy("id")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("net")
        )
        .collect()
    }
    assert {i for i, n in net2.items() if n == 1} == {100}


def test_changes_keyed_update_detection(spark, tbl):
    """changes_keyed (Delta-CDF shape): same-key delete+insert within
    a commit pairs into update_preimage/update_postimage, identical
    rows (the copy-on-write carry) are suppressed, one-sided keys
    stay insert/delete — across MERGE, COW delete, DV delete, and
    overwrite commits — and duplicate keys on a side raise."""
    df = spark.createDataFrame(
        [(i, chr(97 + i % 3), float(i * 10)) for i in range(8)],
        "id int, s string, p double",
    )
    tbl.append(df.coalesce(1))                               # v0
    src = spark.createDataFrame(
        [(2, "x", 999.0), (50, "new", 500.0)], "id int, s string, p double"
    )
    tbl.merge_upsert(src, keys=["id"])                       # v1
    tbl.delete_where_dv("id = 5")                            # v2
    tbl.delete_where("id = 7")                               # v3 (COW)
    feed = tbl.changes_keyed(0, tbl.latest_version(), ["id"])
    rows = {
        (r.id, r._change_type, r._commit_version, r.p)
        for r in feed.collect()
    }
    assert (2, "update_preimage", 1, 20.0) in rows
    assert (2, "update_postimage", 1, 999.0) in rows
    assert (50, "insert", 1, 500.0) in rows
    assert (5, "delete", 2, 50.0) in rows
    assert (7, "delete", 3, 70.0) in rows
    # nothing else: every carried row suppressed (v1 rewrote the whole
    # file; ids 0,1,3,4,6 carried identically; v3's rewrite carried
    # the survivors)
    assert len(rows) == 5, sorted(rows)

    # replaying the keyed feed over snapshot v0 reproduces the head:
    # last-writer-wins per key on (postimage|insert) minus deletes
    import pyspark.sql.functions as SF

    last = {}
    for r in sorted(
        feed.collect(), key=lambda r: (r._commit_version,)
    ):
        if r._change_type in ("insert", "update_postimage"):
            last[r.id] = (r.s, r.p)
        elif r._change_type == "delete":
            last[r.id] = None
    base = {r.id: (r.s, r.p) for r in tbl.read(version=0).collect()}
    base.update({k: v for k, v in last.items()})
    replayed = {k: v for k, v in base.items() if v is not None}
    head = {r.id: (r.s, r.p) for r in tbl.read().collect()}
    assert replayed == head

    # duplicate keys on one side must raise loudly
    tbl.append(
        spark.createDataFrame(
            [(100, "d1", 1.0), (100, "d2", 2.0)], "id int, s string, p double"
        ).coalesce(1)
    )
    with pytest.raises(ValueError, match="duplicate key"):
        tbl.changes_keyed(
            tbl.latest_version() - 1, tbl.latest_version(), ["id"]
        ).collect()
    # the raw (unkeyed) feed still serves duplicate-key tables
    assert (
        tbl.changes(
            tbl.latest_version() - 1, tbl.latest_version()
        ).count()
        == 2
    )


def test_changes_after_vacuum_is_loud(spark, tbl):
    """A vacuumed retention window must make the change feed RAISE,
    never return a silently incomplete feed."""
    o = _orders(spark)
    tbl.append(o.limit(20))
    tbl.overwrite(o.limit(5))
    tbl.vacuum(retain_versions=0, grace_seconds=0)  # reclaims v0's overwritten files
    with pytest.raises(ValueError, match="vacuumed"):
        tbl.changes(0, 1).count()


def test_delete_where_keeps_null_predicate_rows(spark, tbl):
    """SQL DELETE semantics: only predicate-TRUE rows go; rows where
    the predicate evaluates NULL (NULL in the column) must survive a
    copy-on-write rewrite (ADVICE r2: filter(~pred) also dropped
    NULL-pred rows from every rewritten file)."""
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5), (4, None), (5, 10)],
        "id int, qty int",
    ).coalesce(1)
    tbl.append(df)
    tbl.delete_where("qty = 10")
    got = {r.id for r in tbl.read().collect()}
    assert got == {2, 3, 4}, "NULL-qty rows 2 and 4 must survive"


def test_delete_where_preserves_evolved_schema(spark, tbl):
    """A copy-on-write rewrite after additive schema evolution must
    carry the union schema — without mergeSchema the rewrite can
    infer the pre-evolution schema and silently drop the new column
    from surviving rows."""
    tbl.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
        .coalesce(1)
    )
    tbl.append(
        spark.createDataFrame(
            [(3, "c", 7.5), (4, "d", 2.5)], "id int, s string, score double"
        ).coalesce(1)
    )
    tbl.delete_where("id = 3")
    got = tbl.read()
    assert "score" in got.columns
    rows = {r.id: r.score for r in got.collect()}
    assert rows == {1: None, 2: None, 4: 2.5}


def test_vacuum_grace_skips_young_unreferenced_files(spark, tbl):
    """The concurrent-writer guard: an unreferenced file younger than
    the grace window (e.g. staged by an in-flight writer between
    _stage() and _try_commit()) must NOT be vacuumed."""
    o = _orders(spark)
    tbl.append(o.limit(20))
    tbl.overwrite(o.limit(5))  # v0's files now unreferenced but young
    assert tbl.vacuum(retain_versions=0) == []
    deleted = tbl.vacuum(retain_versions=0, grace_seconds=0)
    assert deleted, "zero grace reclaims the unreferenced files"


def test_file_stats_partial_rowgroup_stats_are_dropped(spark, tmp_path):
    """If any row group lacks usable min/max for a column, the file
    must carry NO stats for that column — a partial range under-covers
    and read(prune=...) would skip files with matching rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aiports_data_warehouse_etl_spark.sources.txlog import _file_stats

    t = pa.table({"k": [1, 2, 3, 4], "s": ["a", "b", "c", "d"]})
    p = str(tmp_path / "nostats.parquet")
    pq.write_table(t, p, write_statistics=False, row_group_size=2)
    st = _file_stats(p)
    assert st["rows"] == 4
    assert st["min"] == {} and st["max"] == {}

    # sanity: with stats present the ranges come through
    p2 = str(tmp_path / "stats.parquet")
    pq.write_table(t, p2, write_statistics=True, row_group_size=2)
    st2 = _file_stats(p2)
    assert st2["min"]["k"] == 1 and st2["max"]["k"] == 4


def test_merge_upsert_updates_inserts_and_carries_files(spark, tbl):
    """MERGE: matched keys replaced, new keys inserted, files without
    matches carried over by reference (not rewritten)."""
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "id int, s string, val double",
    )
    tbl.append(base.filter("id <= 2").coalesce(1))
    tbl.append(base.filter("id >= 3").coalesce(1))
    before = dict(tbl._snapshot()["files"])
    src = spark.createDataFrame(
        [(2, "B", 99.0), (5, "e", 50.0)], "id int, s string, val double"
    )
    v = tbl.merge_upsert(src, keys=["id"])
    got = {r.id: (r.s, r.val) for r in tbl.read().collect()}
    assert got == {
        1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0),
        4: ("d", 40.0), 5: ("e", 50.0),
    }
    after = tbl._snapshot()["files"]
    carried = set(before) & set(after)
    # the id>=3 file had no matched key -> still referenced verbatim
    assert carried, "untouched file must carry over by reference"
    # time travel: pre-merge snapshot unchanged
    assert {r.id for r in tbl.read(version=v - 1).collect()} == {1, 2, 3, 4}


def test_merge_upsert_on_empty_table_is_append(spark, tbl):
    src = spark.createDataFrame([(1, "x")], "id int, s string")
    tbl.merge_upsert(src, keys=["id"])
    assert tbl.read().count() == 1


@pytest.mark.parametrize("verb", ["merge_upsert", "merge"])
def test_first_merge_into_empty_table_skips_key_ranges(spark, tbl, monkeypatch, verb):
    """An empty target has no file to prune, so the first merge runs
    no min/max key-range aggregate; duplicate source keys and CHECK
    violations still fail."""
    def key_ranges(*args, **kwargs):
        raise AssertionError("key-range aggregate on an empty table")

    monkeypatch.setattr(TxLogTable, "_merge_preflight", key_ranges)
    monkeypatch.setattr(TxLogTable, "_key_candidates", key_ranges)
    tbl.add_check("id_positive", "id > 0")

    def run(rows):
        src = spark.createDataFrame(rows, "id int, s string")
        if verb == "merge_upsert":
            return tbl.merge_upsert(src, keys=["id"])
        return tbl.merge(src, keys=["id"], update_set={"s": "s.s"})

    with pytest.raises(ValueError, match="multiple rows for key"):
        run([(1, "x"), (1, "y"), (2, "z")])
    with pytest.raises(ConstraintViolation):
        run([(0, "x")])
    assert not tbl._snapshot()["files"]
    run([(1, "x"), (2, "z")])
    assert sorted(map(tuple, tbl.read().collect())) == [(1, "x"), (2, "z")]


def test_driver_side_listing_is_thread_safe(spark, tmp_path):
    """Threads sharing a session each read a table of more than 32
    files; each read raises and restores the session's listing
    threshold, which must end where it started."""
    import threading

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    path = str(tmp_path / "wide")
    TxLogTable(spark, path).append(spark.range(400).repartition(40))
    before = spark.conf.get(key, "32")
    assert len(TxLogTable(spark, path)._snapshot()["files"]) > 32
    sums, errors = [], []

    def reader():
        try:
            for _ in range(3):
                # a fresh instance per read: no read memo, so every
                # read lists the table's files
                row = TxLogTable(spark, path).read().agg(F.count("id"), F.sum("id")).first()
                sums.append(tuple(row))
        except BaseException as exc:  # surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=reader) for _ in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    assert sums == [(400, sum(range(400)))] * 12
    assert spark.conf.get(key, "32") == before


def test_merge_upsert_additive_schema_evolution(spark, tbl):
    tbl.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
        .coalesce(1)
    )
    src = spark.createDataFrame(
        [(2, "B", 7.5), (3, "c", 1.5)], "id int, s string, score double"
    )
    tbl.merge_upsert(src, keys=["id"])
    got = {r.id: (r.s, r.score) for r in tbl.read().collect()}
    assert got == {1: ("a", None), 2: ("B", 7.5), 3: ("c", 1.5)}


def test_merge_upsert_rejects_duplicate_source_keys(spark, tbl):
    """MERGE multi-match contract (ADVICE r4): duplicate keys in the
    source raise instead of silently inserting duplicate rows."""
    import pytest

    tbl.append(spark.createDataFrame([(1, "a")], "id int, s string"))
    dup_src = spark.createDataFrame(
        [(2, "x"), (2, "y")], "id int, s string"
    )
    with pytest.raises(ValueError, match="multiple rows for key"):
        tbl.merge_upsert(dup_src, keys=["id"])
    # table unchanged
    assert tbl.read().count() == 1


def test_vacuum_honors_staging_marker_despite_past_mtime(spark, tbl):
    """Staging-token manifest protocol (VERDICT r3 #7): a staged-but-
    uncommitted file must survive vacuum even when its mtime is set
    far into the past (simulating an object-store writer whose clock
    disagrees with the vacuum host) — the live intent marker, not the
    data file's mtime, is the in-flight signal."""
    import os

    tbl.append(spark.createDataFrame([(1, "a")], "id int, s string"))
    # stage without committing — a concurrent writer mid-flight
    adds, _schema = tbl._stage(
        spark.createDataFrame([(2, "b")], "id int, s string")
    )
    staged_abs = [os.path.join(tbl.path, a["path"]) for a in adds]
    token = adds[0]["path"].split(os.sep)[1]
    assert os.path.exists(tbl._marker_path(token))
    # clock-skew simulation: mtime 10 years in the past
    past = 1.0e9
    for p in staged_abs:
        os.utime(p, (past, past))
    deleted = tbl.vacuum(grace_seconds=0.0)
    assert deleted == [], f"vacuum deleted in-flight files: {deleted}"
    for p in staged_abs:
        assert os.path.exists(p)
    # the writer's commit can still land on the staged files
    v = tbl.latest_version() + 1
    assert tbl._try_commit(
        v, {"op": "append", "add": adds, "schema": _schema}
    )
    assert tbl.read().count() == 2
    # marker is gone after the commit; vacuum reaps nothing live
    assert not os.path.exists(tbl._marker_path(token))


def test_zorder_append_prunes_both_dims(spark, tbl, sf_small):
    """append(zorder_by=(x, y)): each staged file covers a small
    rectangle of the key space, so read(prune=...) skips files for a
    narrow range on EITHER column — where single-column clustering
    only prunes its own sort key — and the surviving rows are
    identical to the unclustered read."""
    from aiports_data_warehouse_etl_spark.sources.txlog import TxLogTable

    # a 256x256 uniform grid: comparable bit-widths on both dims (the
    # layout's sweet spot — quantize asymmetric domains first, as the
    # append docstring says)
    grid = spark.range(64 * 1024).selectExpr(
        "CAST(id % 256 AS INT) AS x",
        "CAST(pmod(xxhash64(id), 256) AS INT) AS y",
        "CAST(id AS DOUBLE) AS v",
    )
    tbl.append(grid, zorder_by=("x", "y"), cluster_partitions=16)
    n_files = len(tbl._snapshot()["files"])
    assert n_files >= 8
    for col in ("x", "y"):
        pruned = tbl.read(prune={col: (0, 31)})  # 1/8 of the domain
        kept = len(pruned.inputFiles())
        assert kept < n_files, f"{col}: kept {kept}/{n_files}"
        full = tbl.read().filter(F.col(col).between(0, 31)).count()
        assert pruned.filter(F.col(col).between(0, 31)).count() == full
    # cluster_by and zorder_by are mutually exclusive
    t2 = TxLogTable(spark, tbl.path + "_x")
    with pytest.raises(ValueError, match="cluster_by OR zorder_by"):
        t2.append(grid, cluster_by=["x"], zorder_by=("x", "y"))


def test_zorder_append_three_dims_prunes_each(spark, tbl):
    """append(zorder_by=) with THREE columns (the generated per-bit
    gather, functions/zorder.py morton_n_col): every staged file
    covers a small box of the (x, y, w) space, so a narrow band on
    ANY of the three columns skips files, and the surviving rows
    equal the unclustered filter. Also pins the generated SQL against
    a bit-by-bit Python reference through DuckDB — the exact string
    the oracle would run."""
    import duckdb

    from aiports_data_warehouse_etl_spark.functions.zorder import (
        morton_n_sql,
    )

    # cross-engine identity of the generated expression
    sql = morton_n_sql(["a", "b", "c"])
    got = duckdb.sql(
        "SELECT " + sql + " FROM (SELECT range % 7 a, range % 11 b,"
        " range % 13 c FROM range(200))"
    ).fetchall()

    def ref(vals, n=3, bits=16):
        z = 0
        for i, v in enumerate(vals):
            for b in range(bits):
                z |= ((v >> b) & 1) << (b * n + i)
        return z

    assert [r[0] for r in got] == [
        ref([i % 7, i % 11, i % 13]) for i in range(200)
    ]

    grid = spark.range(64 * 1024).selectExpr(
        "CAST(pmod(xxhash64(id), 64) AS INT) AS x",
        "CAST(pmod(xxhash64(id + 1), 64) AS INT) AS y",
        "CAST(pmod(xxhash64(id + 2), 64) AS INT) AS w",
        "id AS v",
    )
    tbl.append(grid, zorder_by=("x", "y", "w"), cluster_partitions=27)
    n_files = len(tbl._snapshot()["files"])
    assert n_files >= 16
    for col in ("x", "y", "w"):
        pruned = tbl.read(prune={col: (0, 7)})  # 1/8 of each domain
        kept = len(pruned.inputFiles())
        assert kept < n_files, f"{col}: kept {kept}/{n_files}"
        full = tbl.read().filter(F.col(col).between(0, 7)).count()
        assert pruned.filter(F.col(col).between(0, 7)).count() == full


def test_compact_zorder_reclusters_unclustered_appends(spark, tbl):
    """compact(zorder_by=): data that arrived UNCLUSTERED (many small
    shuffled appends — the streaming-ingest shape) is rewritten onto
    the Morton layout in place, after which read(prune=...) skips
    files on BOTH dimensions; before compaction neither dimension
    prunes anything. Row content is identical before/after — layout
    surgery only."""
    import pytest

    grid = spark.range(32 * 1024).selectExpr(
        "CAST(pmod(xxhash64(id), 256) AS INT) AS x",
        "CAST(pmod(xxhash64(id + 1000000), 256) AS INT) AS y",
        "id AS v",
    )
    for i in range(4):  # 4 shuffled appends -> key-space-spanning files
        tbl.append(grid.filter(F.col("v") % 4 == i).repartition(3))
    before = len(tbl._snapshot()["files"])
    assert before >= 12
    for col in ("x", "y"):
        assert len(tbl.read(prune={col: (0, 31)}).inputFiles()) == before
    checksum = tbl.read().agg(F.sum("v"), F.count("*")).collect()[0]
    tbl.compact(target_file_bytes=64 * 1024, zorder_by=("x", "y"))
    after = len(tbl._snapshot()["files"])
    for col in ("x", "y"):
        kept = len(tbl.read(prune={col: (0, 31)}).inputFiles())
        assert kept < after, f"{col}: kept {kept}/{after}"
    assert tbl.read().agg(F.sum("v"), F.count("*")).collect()[0] == checksum
    with pytest.raises(ValueError, match="sort_by OR zorder_by"):
        tbl.compact(sort_by=["x"], zorder_by=("x", "y"))


def test_bloom_index_prunes_and_stays_correct(spark, tbl, sf_small):
    """Bloom-filter file index: point-lookup reads skip files whose
    filter proves absence while returning exactly the same rows as
    the unpruned read; an absent key skips every file; files without
    filters are conservatively kept."""
    o = spark.read.parquet(f"{sf_small}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tbl.append(o.repartition(8))
    tbl.add_bloom_index("o_custkey", fpp=0.01)
    n_files = len(tbl._snapshot()["files"])
    probes = [
        r["o_custkey"]
        for r in o.select("o_custkey").distinct().limit(5).collect()
    ]
    for p in probes:
        full = {
            tuple(r)
            for r in tbl.read().filter(F.col("o_custkey") == p).collect()
        }
        pr = tbl.read(prune_eq={"o_custkey": p})
        got = {
            tuple(r) for r in pr.filter(F.col("o_custkey") == p).collect()
        }
        assert got == full, f"probe {p} lost rows"
    # at least one probe skips something (8 hash-spread files, each
    # holding ~1/8 of orders; a customer has ~1.5 orders)
    kept_counts = [
        len(tbl.read(prune_eq={"o_custkey": p}).inputFiles())
        for p in probes
    ]
    assert min(kept_counts) < n_files, kept_counts
    # absent key: every filter rejects
    assert tbl.read(prune_eq={"o_custkey": -12345}).count() == 0
    # unindexed column: prune_eq is a no-op, not an error
    assert (
        tbl.read(prune_eq={"o_orderkey": 1}).count() == tbl.read().count()
    )


def test_bloom_index_auto_maintained_on_writes(spark, tbl):
    """After add_bloom_index, every write path keeps the index
    complete with no caller changes: appends, COW rewrites (which
    also drop the removed file's stale filter), and compaction all
    produce filters for their new files."""
    df = spark.createDataFrame(
        [(i, i % 50, float(i)) for i in range(400)],
        "id int, cust int, val double",
    )
    tbl.append(df.filter("id < 200").repartition(2))
    tbl.add_bloom_index("cust")
    tbl.append(df.filter("id >= 200").repartition(2))   # auto
    snap = tbl._snapshot()
    assert set(snap["blooms"]["cust"]) == set(snap["files"])
    tbl.delete_where("id % 10 = 3")                      # COW rewrite
    snap = tbl._snapshot()
    assert set(snap["blooms"]["cust"]) == set(snap["files"])
    tbl.compact(target_file_bytes=1 << 30)               # full rewrite
    snap = tbl._snapshot()
    assert set(snap["blooms"]["cust"]) == set(snap["files"])
    # and the maintained filters still answer probes correctly
    full = tbl.read().filter("cust = 7").count()
    assert (
        tbl.read(prune_eq={"cust": 7}).filter("cust = 7").count() == full
    )
    assert tbl.read(prune_eq={"cust": 10**9}).count() == 0


def test_bloom_index_string_column_and_drop(spark, tbl):
    """Bloom filters hash ANY orderable type through the JVM's
    xxhash64 — string probes prune exactly like ints, all-NULL files
    reject every probe, add on a missing column raises, and
    drop_bloom_index unregisters (later writes skip the filter job,
    prune_eq degrades to a no-op)."""
    import pytest

    df = spark.createDataFrame(
        [(i, f"user_{i % 37}") for i in range(200)] + [(900, None)],
        "id int, uname string",
    )
    tbl.append(df.repartition(4))
    with pytest.raises(ValueError, match="no column"):
        tbl.add_bloom_index("nope")
    tbl.add_bloom_index("uname")
    full = tbl.read().filter(F.col("uname") == "user_5").count()
    pr = tbl.read(prune_eq={"uname": "user_5"})
    assert pr.filter(F.col("uname") == "user_5").count() == full
    assert tbl.read(prune_eq={"uname": "no_such_user"}).count() == 0
    # NULL probe: conservative keep-everything, not a crash
    assert tbl.read(prune_eq={"uname": None}).count() == tbl.read().count()
    tbl.drop_bloom_index("uname")
    snap = tbl._snapshot()
    assert "uname" not in snap["bloom_cols"]
    assert "uname" not in snap["blooms"]
    tbl.append(
        spark.createDataFrame([(1000, "user_x")], "id int, uname string")
    )
    assert "blooms" not in tbl._read_commit(tbl.latest_version())
    # prune_eq is now a no-op
    assert (
        tbl.read(prune_eq={"uname": "no_such_user"}).count()
        == tbl.read().count()
    )
    with pytest.raises(ValueError, match="no index"):
        tbl.drop_bloom_index("uname")


def test_bloom_index_survives_checkpoint(spark, tbl):
    """Bloom state rides checkpoints: a fresh table handle resolving
    from a checkpointed snapshot (checkpoint_every=4 in the fixture)
    still has the filters and registration."""
    from aiports_data_warehouse_etl_spark.sources.txlog import TxLogTable

    df = spark.createDataFrame(
        [(i, i % 20) for i in range(100)], "id int, cust int"
    )
    tbl.append(df.coalesce(1))
    tbl.add_bloom_index("cust")
    for j in range(4):  # push past a checkpoint boundary
        tbl.append(
            spark.createDataFrame(
                [(1000 + j, 99)], "id int, cust int"
            ).coalesce(1)
        )
    fresh = TxLogTable(spark, tbl.path)
    snap = fresh._snapshot()
    assert "cust" in snap["bloom_cols"]
    assert set(snap["blooms"]["cust"]) == set(snap["files"])
    assert fresh.read(prune_eq={"cust": -5}).count() == 0
    assert (
        fresh.read(prune_eq={"cust": 99}).filter("cust = 99").count() == 4
    )


def test_vacuum_rechecks_staging_before_delete(spark, tbl, monkeypatch):
    """ADVICE r4: a writer whose marker lands BETWEEN vacuum's staging
    sweep and its data listing was previously protected only by the
    mtime grace window — the per-token re-check must keep its files
    safe even at grace_seconds=0 with an arbitrarily old mtime."""
    import os
    import time as _time

    from aiports_data_warehouse_etl_spark.sources import txlog as txmod

    tbl.append(spark.createDataFrame([(1, "a")], "id int, s string"))
    staging = os.path.join(tbl.path, "_staging")
    os.makedirs(staging, exist_ok=True)
    token = "racewritertoken"
    sub = os.path.join(tbl.path, "data", token)
    os.makedirs(sub)
    fpath = os.path.join(sub, "part-race.parquet")
    with open(fpath, "wb") as fh:
        fh.write(b"notyetcommitted")
    old = _time.time() - 10_000
    os.utime(fpath, (old, old))
    marker = os.path.join(staging, token)

    real_listdir = os.listdir

    def racy_listdir(p):
        res = real_listdir(p)
        if os.path.abspath(str(p)) == os.path.abspath(staging):
            # the writer's marker lands just AFTER the staging sweep
            with open(marker, "w"):
                pass
        return res

    monkeypatch.setattr(txmod.os, "listdir", racy_listdir)
    deleted = tbl.vacuum(grace_seconds=0.0)
    assert not any(token in rel for rel in deleted), deleted
    assert os.path.exists(fpath), "in-flight file deleted despite marker"


def test_vacuum_committed_tokens_from_checkpoint_ledger(spark, tbl):
    """ADVICE r4: vacuum's committed-token set must resolve from the
    checkpoint token ledger + commits after it — O(commits since
    checkpoint) — and equal the full-history scan exactly."""
    import os

    for i in range(6):  # checkpoint_every=4 → ledger at v4 (fixture)
        tbl.append(
            spark.createDataFrame([(i, "x")], "id int, s string")
        )
    import json as _json

    from aiports_data_warehouse_etl_spark.sources.txlog import (
        _checkpoint_path,
    )

    cp = _checkpoint_path(tbl.path, 4)
    assert os.path.exists(cp)
    with open(cp) as fh:
        state = _json.load(fh)
    assert "tokens" in state and len(state["tokens"]) == 5  # v0..v4
    full = set()
    for v in range(tbl.latest_version() + 1):
        c = tbl._read_commit(v)
        for add in c.get("add", []):
            full.add(add["path"].split(os.sep)[1])
        if c.get("dv_file"):
            full.add(c["dv_file"].split(os.sep)[1])
    assert tbl._committed_tokens(tbl.latest_version()) == full
    # and the resolution reads only commits AFTER the newest ledger
    reads = []
    orig = type(tbl)._read_commit

    def spying(self, v):
        reads.append(v)
        return orig(self, v)

    import unittest.mock as um

    with um.patch.object(type(tbl), "_read_commit", spying):
        got = tbl._committed_tokens(tbl.latest_version())
    assert got == full
    assert min(reads) == 5, f"ledger ignored, read commits {sorted(reads)}"


def test_vacuum_reaps_abandoned_staging(spark, tbl):
    """A marker (and its files) older than abandoned_seconds is a
    crashed writer: collected. A committed token's stale marker is
    reaped without touching data."""
    import os

    tbl.append(spark.createDataFrame([(1, "a")], "id int, s string"))
    adds, _schema = tbl._stage(
        spark.createDataFrame([(9, "z")], "id int, s string")
    )
    token = adds[0]["path"].split(os.sep)[1]
    past = 1.0e9
    os.utime(tbl._marker_path(token), (past, past))
    for a in adds:
        os.utime(os.path.join(tbl.path, a["path"]), (past, past))
    deleted = tbl.vacuum(grace_seconds=0.0)
    assert sorted(deleted) == sorted(a["path"] for a in adds)
    assert not os.path.exists(tbl._marker_path(token))
    assert tbl.read().count() == 1


def test_clustered_append_prunes_files(spark, tbl, sf_small):
    """append(cluster_by=...) + read(prune=...) is the
    liquid-clustering contract: range-clustered files carry
    near-disjoint stats, so a narrow range read SKIPS most files
    (here: >= half), while an unclustered copy of the same data skips
    none-to-few — and the surviving rows are identical either way."""
    from aiports_data_warehouse_etl_spark.sources.txlog import (
        TxLogTable,
        _stats_may_match,
    )

    li = spark.read.parquet(f"{sf_small}/lineitem.parquet").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    tbl.append(li, cluster_by=["l_shipdate"], cluster_partitions=8)
    prune = {"l_shipdate": ("1995-03-01", "1995-06-01")}
    files = tbl._snapshot()["files"]
    kept = [r for r, st in files.items() if _stats_may_match(st, prune)]
    assert len(files) >= 4
    assert len(kept) <= len(files) // 2, (
        f"clustered table kept {len(kept)}/{len(files)} files for a "
        "3-month slice — clustering is not producing disjoint stats"
    )
    # row-level result identical to an unpruned filter
    lo, hi = "1995-03-01", "1995-06-01"
    pruned = tbl.read(prune=prune).filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    full = tbl.read().filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    assert pruned.count() == full.count()
    assert pruned.exceptAll(full).count() == 0


def test_deletion_vector_delete_and_read(spark, tbl):
    """Merge-on-read delete: delete_where_dv commits only a deletion
    vector (no data file rewritten — the live file set is unchanged),
    reads apply it exactly, count_rows stays metadata-exact, and SQL
    NULL semantics hold (predicate-NULL rows survive)."""
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0), (4, "d", 40.0)],
        "id int, s string, val double",
    )
    tbl.append(df.coalesce(2))
    files_before = set(tbl._snapshot()["files"])
    v = tbl.delete_where_dv("s = 'b' OR val > 35")
    snap = tbl._snapshot()
    assert set(snap["files"]) == files_before, "DV delete rewrote data files"
    assert snap["dvs"], "no deletion vector recorded"
    got = {r.id for r in tbl.read().collect()}
    assert got == {1, 3}  # 2 and 4 deleted; NULL-predicate row 3 survives
    assert tbl.count_rows() == 2
    # time travel: pre-delete snapshot unaffected
    assert tbl.read(version=v - 1).count() == 4


def test_deletion_vector_stacks_and_cow_interop(spark, tbl):
    """Stacked DVs and DV+copy-on-write interop: a second DV delete
    only addresses still-live rows; a later COW delete_where applies
    existing DVs when it rewrites (no resurrection)."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id int, val double"
    )
    tbl.append(df.coalesce(2))
    tbl.delete_where_dv("id % 5 = 0")          # deletes 0,5,10,15
    tbl.delete_where_dv("id < 4")              # deletes 1,2,3 (0 already gone)
    assert tbl.count_rows() == 13
    assert {r.id for r in tbl.read().collect()} == (
        set(range(20)) - {0, 5, 10, 15} - {1, 2, 3}
    )
    # COW delete rewrites files -> must apply DVs, not resurrect
    tbl.delete_where("id >= 16")
    got = {r.id for r in tbl.read().collect()}
    assert got == {4, 6, 7, 8, 9, 11, 12, 13, 14}
    assert tbl.count_rows() == len(got)


def test_deletion_vector_compact_applies_and_drops(spark, tbl):
    """compact() is the merge-on-read maintenance op: it physically
    applies DVs into rewritten files and the DV mapping dies with the
    removed files; the dropped DV file becomes vacuumable garbage."""
    import os

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id int, val double"
    )
    tbl.append(df.coalesce(2))
    tbl.delete_where_dv("id = 7")
    dv_files = {
        e["file"]
        for entries in tbl._snapshot()["dvs"].values()
        for e in entries
    }
    assert dv_files
    tbl.compact(target_file_bytes=1 << 30)
    snap = tbl._snapshot()
    assert snap["dvs"] == {}, "compaction must drop applied DVs"
    assert {r.id for r in tbl.read().collect()} == set(range(10)) - {7}
    deleted = tbl.vacuum(grace_seconds=0.0)
    assert any(rel in dv_files for rel in deleted), (
        "applied DV file should be vacuumable"
    )


def test_deletion_vector_change_feed_and_merge(spark, tbl):
    """The change feed reconstructs DV-deleted rows exactly; a
    merge_upsert after a DV delete neither resurrects deleted rows
    nor rewrites them as survivors."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, s string"
    )
    tbl.append(df.coalesce(1))
    v0 = tbl.latest_version()
    v1 = tbl.delete_where_dv("id = 2")
    ch = tbl.changes(v0, v1)
    rows = [(r.id, r.s, r._change_type) for r in ch.collect()]
    assert rows == [(2, "b", "delete")]
    src = spark.createDataFrame([(3, "C"), (9, "z")], "id int, s string")
    tbl.merge_upsert(src, keys=["id"])
    got = {r.id: r.s for r in tbl.read().collect()}
    assert got == {1: "a", 3: "C", 9: "z"}


def test_txlog_change_feed_streaming_source(spark, tbl, tmp_path):
    """The txlog_cdf streaming source (Python Data Source API) drains
    the commit log as row-level CDC: inserts from appends, deletes
    from a deletion-vector commit, offsets = versions — and the
    drained feed equals the batch changes() result exactly."""
    from aiports_data_warehouse_etl_spark.sources.txlog_stream import (
        register_txlog_cdf,
    )

    tbl.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
        .coalesce(1)
    )
    tbl.append(
        spark.createDataFrame([(3, "c")], "id int, s string").coalesce(1)
    )
    tbl.delete_where_dv("id = 2")

    register_txlog_cdf(spark)
    out_dir = str(tmp_path / "cdf_out")

    def drain() -> None:
        # availableNow with a SimpleDataSourceStreamReader drains the
        # driver-prefetched batch; repeated runs on the SAME
        # checkpoint resume from the committed offset — which also
        # pins the offset-recovery contract (durable foreachBatch
        # sink: the memory sink cannot recover from a checkpoint)
        q = (
            spark.readStream.format("txlog_cdf")
            .option("path", tbl.path)
            .option("versions_per_batch", 2)
            .load()
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", str(tmp_path / "cdf_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    drain()
    drain()
    streamed = {
        (r.id, r.s, r._change_type, r._commit_version)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r.id, r.s, r._change_type, r._commit_version)
        for r in tbl.changes(-1, tbl.latest_version()).collect()
    }
    assert streamed == batch
    assert (2, "b", "delete", 2) in streamed
    assert len(streamed) == 4  # 3 inserts + 1 delete


def test_txlog_cdf_partition_parallel(spark, tbl, tmp_path):
    """The r5 port to the partition-planning DataSourceStreamReader:
    one micro-batch over commits touching N data files must fan out
    to N executor-side read tasks (one InputPartition per file), not
    a single driver-side decode — the 100 TB change-feed shape
    (VERDICT r4 next-round #2)."""
    from aiports_data_warehouse_etl_spark.sources.txlog_stream import (
        _TxLogCDFReader,
        register_txlog_cdf,
    )

    tbl.append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(30)], "id int, val double"
        ).repartition(3)
    )
    tbl.append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(30, 60)], "id int, val double"
        ).repartition(2)
    )
    # the planner fans one partition per data file
    reader = _TxLogCDFReader({"path": tbl.path})
    parts = reader.partitions({"v": -1}, {"v": tbl.latest_version()})
    assert len(parts) == 5
    assert {p.kind for p in parts} == {"insert"}

    # and a real drain observes >1 task partition in the micro-batch
    register_txlog_cdf(spark)
    seen: dict[str, int] = {}

    def grab(df, _bid):
        seen["parts"] = (
            df.select(F.spark_partition_id()).distinct().count()
        )
        seen["rows"] = df.count()

    q = (
        spark.readStream.format("txlog_cdf")
        .option("path", tbl.path)
        .load()
        .writeStream.foreachBatch(grab)
        .option("checkpointLocation", str(tmp_path / "pp_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    assert seen["rows"] == 60
    assert seen["parts"] == 5


def test_txlog_cdf_compact_only_batch_is_empty(spark, tbl, tmp_path):
    """A micro-batch whose only commits are pure-layout (compact)
    plans ZERO partitions — the stream must advance its offset past
    it without emitting rows or erroring, and keep streaming after."""
    from aiports_data_warehouse_etl_spark.sources.txlog_stream import (
        register_txlog_cdf,
    )

    register_txlog_cdf(spark)
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("txlog_cdf")
            .option("path", tbl.path)
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    tbl.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
        .coalesce(1)
    )
    drain()
    tbl.compact(target_file_bytes=1 << 30)
    drain()  # compact-only batch: zero partitions, no rows
    assert spark.read.parquet(out).count() == 2
    tbl.append(
        spark.createDataFrame([(3, "c")], "id int, s string").coalesce(1)
    )
    drain()
    assert spark.read.parquet(out).count() == 3


def test_txlog_cdf_additive_schema_evolution(spark, tbl, tmp_path):
    """Additive schema evolution through the change-feed stream: the
    declared stream schema is the table's NEWEST schema; rows from
    files written before a column existed arrive with that column
    NULL-filled (the mergeSchema contract, executor-side via Arrow
    null arrays), and wider rows carry their values."""
    from aiports_data_warehouse_etl_spark.sources.txlog_stream import (
        register_txlog_cdf,
    )

    tbl.append(
        spark.createDataFrame([(1, "a")], "id int, s string").coalesce(1)
    )
    tbl.append(
        spark.createDataFrame(
            [(2, "b", 9.5)], "id int, s string, score double"
        ).coalesce(1)
    )
    register_txlog_cdf(spark)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("txlog_cdf")
        .option("path", tbl.path)
        .load()
        .writeStream.foreachBatch(
            lambda df, _b: df.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r.id, r.s, r.score, r._change_type)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(1, "a", None, "insert"), (2, "b", 9.5, "insert")}


def test_txlog_cdf_stream_across_restore(spark, tbl, tmp_path):
    """Streaming twin of test_restore_rolls_back_as_new_commit: the
    drained stream across a RESTORE commit equals the batch changes()
    feed exactly — re-added files' rows arrive as inserts MINUS the
    rows their restored deletion vectors address, and the fold is
    net-exact to the restored table."""
    from aiports_data_warehouse_etl_spark.sources.txlog_stream import (
        register_txlog_cdf,
    )

    tbl.append(
        spark.createDataFrame(
            [(i, i % 3) for i in range(12)], "id int, k int"
        ).coalesce(1)
    )                                   # v0
    tbl.delete_where_dv("id IN (2, 5)")  # v1: DV on v0's file
    tbl.delete_where("id >= 9")          # v2: COW rewrite
    tbl.restore(1)                       # v3: back to v1 (DVs too)

    register_txlog_cdf(spark)
    out_dir = str(tmp_path / "restore_out")
    q = (
        spark.readStream.format("txlog_cdf")
        .option("path", tbl.path)
        .load()
        .writeStream.foreachBatch(
            lambda df, _bid: df.write.mode("append").parquet(out_dir)
        )
        .option("checkpointLocation", str(tmp_path / "restore_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    streamed = spark.read.parquet(out_dir)
    batch = tbl.changes(-1, tbl.latest_version())
    s = {
        (r.id, r.k, r._change_type, r._commit_version)
        for r in streamed.collect()
    }
    b = {
        (r.id, r.k, r._change_type, r._commit_version)
        for r in batch.collect()
    }
    assert s == b
    # the restore's insert side excludes DV-deleted rows 2 and 5
    assert (
        streamed.filter(
            "id IN (2, 5) AND _change_type = 'insert' AND _commit_version = 3"
        ).count()
        == 0
    )
    # fold the stream: survivors == restored table
    last: dict[int, tuple[int, int]] = {}
    for r in streamed.collect():
        mark = (r._commit_version, 1 if r._change_type == "insert" else 0)
        if r.id not in last or mark > last[r.id]:
            last[r.id] = mark
    survivors = {k for k, (_, ins) in last.items() if ins}
    assert survivors == {
        r.id for r in tbl.read().select("id").collect()
    }


def test_txlog_cdf_stream_dv_then_cow(spark, tbl, tmp_path):
    """Streaming twin of test_change_feed_dv_then_cow_folds (ADVICE
    r4 medium): a DV-deleted row must not re-emit 'delete' when a
    later COW rewrite removes the DV-carrying file — the drained feed
    equals the (fixed) batch changes() exactly and folds net-exact."""
    from aiports_data_warehouse_etl_spark.sources.txlog_stream import (
        register_txlog_cdf,
    )

    tbl.append(
        spark.createDataFrame(
            [(i, i % 3) for i in range(12)], "id int, k int"
        ).coalesce(1)
    )
    tbl.delete_where_dv("id IN (2, 5)")
    tbl.delete_where("id >= 9")  # COW removes the DV-carrying file

    register_txlog_cdf(spark)
    out_dir = str(tmp_path / "dvcow_out")
    q = (
        spark.readStream.format("txlog_cdf")
        .option("path", tbl.path)
        .load()
        .writeStream.foreachBatch(
            lambda df, _bid: df.write.mode("append").parquet(out_dir)
        )
        .option("checkpointLocation", str(tmp_path / "dvcow_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    streamed = spark.read.parquet(out_dir)
    batch = tbl.changes(-1, tbl.latest_version())
    s = {
        (r.id, r.k, r._change_type, r._commit_version)
        for r in streamed.collect()
    }
    b = {
        (r.id, r.k, r._change_type, r._commit_version)
        for r in batch.collect()
    }
    assert s == b
    # exactly one delete per DV-deleted row, and the fold is net-exact
    assert (
        streamed.filter("id IN (2, 5) AND _change_type = 'delete'").count()
        == 2
    )
    net = {
        r["id"]: r["net"]
        for r in streamed.groupBy("id")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("net")
        )
        .collect()
    }
    live = {r.id for r in tbl.read().collect()}
    assert {i for i, n in net.items() if n == 1} == live
    assert all(n in (0, 1) for n in net.values())


def test_check_constraint_rejects_bad_append(spark, tbl):
    """Write-time CHECK constraints: a registered check rejects a
    violating append atomically (no partial data lands), passes a
    clean one, honors ANSI NULL-passes semantics, and is enforced on
    MERGE sources; drop_check lifts it. Validation is one extra
    aggregation regardless of check count."""
    import pytest

    from aiports_data_warehouse_etl_spark.sources.txlog import (
        ConstraintViolation,
    )

    tbl.append(
        spark.createDataFrame([(1, 10.0)], "id int, val double")
    )
    tbl.add_check("val_positive", "val > 0")
    tbl.add_check("id_not_null", "id IS NOT NULL")
    with pytest.raises(ConstraintViolation, match="val_positive"):
        tbl.append(
            spark.createDataFrame([(2, -5.0)], "id int, val double")
        )
    assert tbl.read().count() == 1  # nothing landed
    # NULL predicate passes (ANSI CHECK)
    tbl.append(
        spark.createDataFrame([(3, None)], "id int, val double")
    )
    # MERGE source validated too
    with pytest.raises(ConstraintViolation, match="val_positive"):
        tbl.merge_upsert(
            spark.createDataFrame([(1, -1.0)], "id int, val double"),
            keys=["id"],
        )
    tbl.drop_check("val_positive")
    tbl.append(spark.createDataFrame([(4, -2.0)], "id int, val double"))
    assert {r.id for r in tbl.read().collect()} == {1, 3, 4}


def test_check_constraint_refuses_registration_over_bad_data(spark, tbl):
    """add_check validates the EXISTING table first — registering a
    constraint the current data already violates must raise."""
    import pytest

    from aiports_data_warehouse_etl_spark.sources.txlog import (
        ConstraintViolation,
    )

    tbl.append(
        spark.createDataFrame([(1, -3.0)], "id int, val double")
    )
    with pytest.raises(ConstraintViolation, match="val_positive"):
        tbl.add_check("val_positive", "val > 0")
    assert tbl._snapshot()["constraints"] == {}


def test_incremental_matview_delta_apply(spark, tbl, tmp_path):
    """Incremental materialized view: each refresh folds ONLY the
    source commits since the last applied version (+insert/−delete,
    DV deletes included) into the stored aggregate — and after every
    refresh the view equals the full re-aggregation of the current
    source snapshot. Replayed refreshes are committed no-ops; the
    last-applied version recovers from the view's own log."""
    from aiports_data_warehouse_etl_spark.streaming.matview import (
        IncrementalAggView,
    )

    mv = IncrementalAggView(
        spark, tbl, str(tmp_path / "view"),
        group_cols=["k"], sum_cols=["val"],
    )

    def expect():
        return {
            (r.k, r.n, round(r.s, 6))
            for r in tbl.read()
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("s"))
            .collect()
        }

    def got():
        return {
            (r.k, r.n_rows, round(r.sum_val, 6))
            for r in mv.read().collect()
        }

    tbl.append(
        spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", 10.0)], "k string, val double"
        )
    )
    assert mv.refresh() is not None
    assert got() == expect()

    v_before = mv.last_applied_version()
    tbl.append(
        spark.createDataFrame(
            [("b", 5.0), ("c", 7.0)], "k string, val double"
        )
    )
    tbl.delete_where_dv("k = 'a' AND val = 2.0")
    assert mv.refresh() is not None
    assert mv.last_applied_version() > v_before
    assert got() == expect()

    # a group whose rows all vanish leaves the view
    tbl.delete_where_dv("k = 'c'")
    mv.refresh()
    assert got() == expect()
    assert "c" not in {r.k for r in mv.read().collect()}

    # idempotence: nothing new -> None, view unchanged
    before = got()
    assert mv.refresh() is None
    assert got() == before


def test_incremental_matview_across_restore(spark, tbl, tmp_path):
    """A RESTORE on the source table folds through the incremental
    view like any other commit: the restore's net-exact change feed
    (deletes of rolled-back files, DV-filtered re-inserts) lands as
    one delta-apply and the view equals the re-aggregation of the
    restored snapshot — the view never needs a rebuild after a
    rollback."""
    from aiports_data_warehouse_etl_spark.streaming.matview import (
        IncrementalAggView,
    )

    mv = IncrementalAggView(
        spark, tbl, str(tmp_path / "view"),
        group_cols=["k"], sum_cols=["val"],
    )

    def expect():
        return {
            (r.k, r.n, round(r.s, 6))
            for r in tbl.read()
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("s"))
            .collect()
        }

    def got():
        return {
            (r.k, r.n_rows, round(r.sum_val, 6))
            for r in mv.read().collect()
        }

    tbl.append(
        spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", 10.0), ("c", 4.0)],
            "k string, val double",
        ).coalesce(1)
    )                                    # v0
    tbl.delete_where_dv("k = 'a' AND val = 2.0")  # v1 (DV)
    mv.refresh()
    assert got() == expect()
    tbl.append(
        spark.createDataFrame([("d", 9.0)], "k string, val double")
    )                                    # v2
    tbl.delete_where("k = 'c'")          # v3 (COW)
    mv.refresh()
    assert got() == expect()
    tbl.restore(1)                       # v4: back to a=1, b=10, c=4
    mv.refresh()
    assert got() == expect()
    assert {r.k for r in mv.read().collect()} == {"a", "b", "c"}
    # the DV-deleted row stayed dead through the restore
    assert got() == {("a", 1, 1.0), ("b", 1, 10.0), ("c", 1, 4.0)}


def test_incremental_matview_minmax(spark, tbl, tmp_path):
    """min/max view maintenance (VERDICT r4 next-round #3): inserts
    fold bound-tightening only (no source access); a delete that ties
    or beats a stored bound triggers a rescan bounded to the affected
    groups; a delete strictly inside the bounds folds without
    rescanning. After every refresh the view equals the full
    re-aggregation — including bounds — and replay is a no-op."""
    from aiports_data_warehouse_etl_spark.streaming.matview import (
        IncrementalAggView,
    )

    mv = IncrementalAggView(
        spark, tbl, str(tmp_path / "view"),
        group_cols=["k"], sum_cols=["val"],
        min_cols=["val"], max_cols=["val"],
    )

    def expect():
        return {
            (r.k, r.n, round(r.s, 6), r.lo, r.hi)
            for r in tbl.read()
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("val").alias("s"),
                F.min("val").alias("lo"),
                F.max("val").alias("hi"),
            )
            .collect()
        }

    def got():
        return {
            (r.k, r.n_rows, round(r.sum_val, 6), r.min_val, r.max_val)
            for r in mv.read().collect()
        }

    tbl.append(
        spark.createDataFrame(
            [("a", 1.0), ("a", 5.0), ("b", 10.0), ("b", 20.0)],
            "k string, val double",
        )
    )
    mv.refresh()
    assert got() == expect()

    # insert-only delta: bounds tighten by pure fold
    tbl.append(
        spark.createDataFrame(
            [("a", 0.5), ("b", 15.0), ("c", 7.0)], "k string, val double"
        )
    )
    mv.refresh()
    assert got() == expect()

    # delete strictly INSIDE a's bounds (5.0 with min 0.5 / max 5.0 —
    # 5.0 IS the max, so max rescans; add a mid value first to get a
    # true interior delete for the fast path)
    tbl.append(
        spark.createDataFrame([("a", 3.0)], "k string, val double")
    )
    mv.refresh()
    tbl.delete_where_dv("k = 'a' AND val = 3.0")  # interior: no bound hit
    mv.refresh()
    assert got() == expect()

    # delete the stored MIN of 'a' (DV) and the stored MAX of 'b'
    # (copy-on-write) — both bounds must recover from the rescan
    tbl.delete_where_dv("k = 'a' AND val = 0.5")
    mv.refresh()
    assert got() == expect()
    tbl.delete_where("k = 'b' AND val = 20.0")
    mv.refresh()
    assert got() == expect()

    # group vanishes entirely
    tbl.delete_where("k = 'c'")
    mv.refresh()
    assert got() == expect()
    assert "c" not in {r.k for r in mv.read().collect()}

    # idempotent replay
    before = got()
    assert mv.refresh() is None
    assert got() == before


def test_matview_minmax_interior_delete_skips_rescan(spark, tbl, tmp_path):
    """The fast-path claim is structural, not just behavioral: a
    delete strictly inside every stored bound must plan NO source
    rescan (the affected-groups frame is empty), while a bound-hitting
    delete must rescan ONLY the groups it touched."""
    from aiports_data_warehouse_etl_spark.streaming.matview import (
        IncrementalAggView,
    )

    mv = IncrementalAggView(
        spark, tbl, str(tmp_path / "view"),
        group_cols=["k"], sum_cols=[], min_cols=["val"], max_cols=["val"],
    )
    tbl.append(
        spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), ("a", 5.0), ("b", 1.0), ("b", 9.0)],
            "k string, val double",
        )
    )
    mv.refresh()

    captured: list = []
    orig_read = type(tbl).read

    def spying_read(self, *a, **kw):
        df = orig_read(self, *a, **kw)
        captured.append(df)
        return df

    # interior delete: a keeps min 1.0 / max 5.0
    tbl.delete_where_dv("k = 'a' AND val = 3.0")
    import unittest.mock as um

    with um.patch.object(type(tbl), "read", spying_read):
        mv.refresh()
    # the refresh read the source only for changes()/rescan plumbing;
    # assert the rescan semi-join found zero affected groups by
    # checking the view still matches and no 'b' bounds moved
    assert {
        (r.k, r.min_val, r.max_val) for r in mv.read().collect()
    } == {("a", 1.0, 5.0), ("b", 1.0, 9.0)}

    # bound-hitting delete on 'a' only: 'b' must be untouched by the
    # rescan (checked via the affected-group frame cardinality)
    tbl.delete_where_dv("k = 'a' AND val = 1.0")
    last = mv.last_applied_version()
    cur = tbl.latest_version()
    merged = mv._merged_agg(tbl.changes(last, cur), True, with_hi=False)
    hit = merged.filter(F.col("__rescan"))
    assert [r.k for r in hit.select("k").collect()] == ["a"]
    mv.refresh()
    assert {
        (r.k, r.min_val, r.max_val) for r in mv.read().collect()
    } == {("a", 5.0, 5.0), ("b", 1.0, 9.0)}


def _minmax_view(spark, tbl, path):
    """A count/sum/min/max view of ``val`` per ``k``, built over
    a: 1, 3, 5, 7 and b: 10."""
    from aiports_data_warehouse_etl_spark.streaming.matview import (
        IncrementalAggView,
    )

    mv = IncrementalAggView(
        spark, tbl, path,
        group_cols=["k"], sum_cols=["val"],
        min_cols=["val"], max_cols=["val"],
    )
    tbl.append(
        spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), ("a", 5.0), ("a", 7.0), ("b", 10.0)],
            "k string, val double",
        )
    )
    mv.refresh()
    return mv


def _fresh_minmax(tbl):
    """The state a refreshed ``_minmax_view`` must equal: a fresh
    aggregate of the table."""
    return {
        (r.k, r.n, round(r.s, 6), r.lo, r.hi)
        for r in tbl.read().groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").alias("s"),
            F.min("val").alias("lo"),
            F.max("val").alias("hi"),
        ).collect()
    }


def _stored_minmax(mv):
    return {
        (r.k, r.n_rows, round(r.sum_val, 6), r.min_val, r.max_val)
        for r in mv.read().collect()
    }


def _spy_pins(monkeypatch):
    """Record, per ``_finish`` call, whether the merged aggregate it
    commits was pinned (a local checkpoint reads as a ``LogicalRDD``)."""
    from aiports_data_warehouse_etl_spark.streaming.matview import (
        IncrementalAggView,
    )

    pins: list[bool] = []
    orig_finish = IncrementalAggView._finish

    def spy_finish(self, merged, cur, rescan):
        plan = merged._jdf.queryExecution().logical()
        pins.append(plan.getClass().getSimpleName() == "LogicalRDD")
        return orig_finish(self, merged, cur, rescan)

    monkeypatch.setattr(IncrementalAggView, "_finish", spy_finish)
    return pins


def test_matview_delete_refresh_pins_large_slices(
    spark, tbl, tmp_path, monkeypatch
):
    """A delete refresh of a min/max view reads the merged aggregate
    twice (the flag probe and the commit), so it is evaluated once,
    into a local checkpoint released afterwards. After a multi-commit
    slice with a copy-on-write delete, and after deletion-vector
    deletes, bound-hitting or not, the refresh is pinned, the view
    equals a fresh count/sum/min/max aggregate and no persisted RDD
    outlives the refresh."""
    mv = _minmax_view(spark, tbl, str(tmp_path / "view"))
    jsc = spark.sparkContext._jsc.sc()
    pins = _spy_pins(monkeypatch)

    def refresh_and_check():
        pins.clear()
        cached = jsc.getPersistentRDDs().size()
        assert mv.refresh() is not None
        assert pins == [True]
        assert jsc.getPersistentRDDs().size() == cached
        assert _stored_minmax(mv) == _fresh_minmax(tbl)

    # several appends plus a copy-on-write delete of a's max
    for k, v in [("b", 20.0), ("c", 4.0), ("a", 0.5), ("c", 8.0)]:
        tbl.append(spark.createDataFrame([(k, v)], "k string, val double"))
    tbl.delete_where("k = 'a' AND val = 7.0")
    refresh_and_check()
    # a DV delete strictly inside a's bounds (0.5 .. 5.0)
    tbl.delete_where_dv("k = 'a' AND val = 3.0")
    refresh_and_check()
    # a DV delete of b's max
    tbl.delete_where_dv("k = 'b' AND val = 20.0")
    refresh_and_check()


def test_matview_delete_refresh_pin_threshold(
    spark, tbl, tmp_path, monkeypatch
):
    """The pin decision takes no byte threshold: it comes from the
    commit log alone. The smallest delete slice (one DV-deleted row)
    of a min/max view is pinned; an append-only slice, and any slice
    of a view without min/max, is not (the commit is the fold's only
    reader). Every branch produces the fresh aggregate."""
    from aiports_data_warehouse_etl_spark.streaming.matview import (
        IncrementalAggView,
    )

    mv = _minmax_view(spark, tbl, str(tmp_path / "view"))
    sums = IncrementalAggView(
        spark, tbl, str(tmp_path / "sums"),
        group_cols=["k"], sum_cols=["val"],
    )
    sums.refresh()  # initial build: no _finish call
    pins = _spy_pins(monkeypatch)

    def expect_sums():
        return {
            (k, n, s) for k, n, s, _lo, _hi in _fresh_minmax(tbl)
        }

    def got_sums():
        return {
            (r.k, r.n_rows, round(r.sum_val, 6))
            for r in sums.read().collect()
        }

    tbl.delete_where_dv("k = 'a' AND val = 5.0")
    assert mv.refresh() is not None
    assert sums.refresh() is not None
    assert pins == [True, False]
    assert _stored_minmax(mv) == _fresh_minmax(tbl)
    assert got_sums() == expect_sums()

    pins.clear()
    tbl.append(spark.createDataFrame([("a", 9.0)], "k string, val double"))
    assert mv.refresh() is not None
    assert sums.refresh() is not None
    assert pins == [False, False]
    assert _stored_minmax(mv) == _fresh_minmax(tbl)
    assert got_sums() == expect_sums()


def test_matview_refresh_reads_source_only_for_flagged_groups(
    spark, tbl, tmp_path, monkeypatch
):
    """The bounded rescan is planned only when a group is flagged: an
    interior delete's refresh never calls ``read`` on the source (the
    view's own read is the fold's), a bound-hitting delete's refresh
    calls it exactly once."""
    mv = _minmax_view(spark, tbl, str(tmp_path / "view"))
    reads: list[str] = []
    orig_read = TxLogTable.read

    def spying_read(self, *a, **kw):
        reads.append(self.path)
        return orig_read(self, *a, **kw)

    monkeypatch.setattr(TxLogTable, "read", spying_read)
    tbl.delete_where_dv("k = 'a' AND val = 3.0")
    mv.refresh()
    assert mv.view.path in reads
    assert reads.count(tbl.path) == 0
    reads.clear()
    tbl.delete_where_dv("k = 'a' AND val = 7.0")
    mv.refresh()
    assert reads.count(tbl.path) == 1
    monkeypatch.undo()
    assert _stored_minmax(mv) == _fresh_minmax(tbl)


def test_matview_interior_delete_refresh_job_count(spark, tbl, tmp_path):
    """A delete refresh that flags no group runs the fold once (its
    checkpoint also observes the flag) and the view commit: 4 jobs on
    this fixture, with no source read."""
    import uuid

    mv = _minmax_view(spark, tbl, str(tmp_path / "view"))
    tbl.delete_where_dv("k = 'a' AND val = 3.0")
    sc = spark.sparkContext
    gid = f"matview-refresh-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "matview refresh")
    try:
        assert mv.refresh() is not None
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(gid)) == 4
    assert _stored_minmax(mv) == _fresh_minmax(tbl)


def test_matview_refresh_releases_its_checkpoint(
    spark, tbl, tmp_path, monkeypatch
):
    """No persisted RDD outlives a refresh on any exit: a commit lost
    to a second refresher (TxConflict), a no-op refresh, a streaming
    batch, and a streaming batch already folded out of band."""
    from aiports_data_warehouse_etl_spark.streaming.matview import (
        IncrementalAggView,
    )

    view_path = str(tmp_path / "view")
    mv = _minmax_view(spark, tbl, view_path)
    rival = IncrementalAggView(
        spark, tbl, view_path,
        group_cols=["k"], sum_cols=["val"],
        min_cols=["val"], max_cols=["val"],
    )
    jsc = spark.sparkContext._jsc.sc()
    cached = jsc.getPersistentRDDs().size()
    raced: list[int] = []
    orig_overwrite = TxLogTable._overwrite

    def racing_overwrite(self, *a, **kw):
        if self.path == mv.view.path and not raced:
            raced.append(1)
            # a second refresher folds one more source commit and
            # commits first, so this commit's base is stale
            tbl.append(
                spark.createDataFrame([("c", 2.0)], "k string, val double")
            )
            rival.refresh()
        return orig_overwrite(self, *a, **kw)

    monkeypatch.setattr(TxLogTable, "_overwrite", racing_overwrite)
    tbl.delete_where_dv("k = 'a' AND val = 7.0")
    with pytest.raises(TxConflict):
        mv.refresh()
    monkeypatch.undo()
    assert raced
    assert jsc.getPersistentRDDs().size() == cached
    assert mv.refresh() is None  # the rival's commit landed
    assert jsc.getPersistentRDDs().size() == cached
    assert _stored_minmax(mv) == _fresh_minmax(tbl)

    ckpt = str(tmp_path / "mv_ckpt")

    def drain():
        q = mv.maintain_streaming(ckpt)
        assert q.awaitTermination(180)
        assert jsc.getPersistentRDDs().size() == cached
        assert _stored_minmax(mv) == _fresh_minmax(tbl)

    tbl.delete_where_dv("k = 'a' AND val = 1.0")
    drain()
    tbl.append(spark.createDataFrame([("b", 4.0)], "k string, val double"))
    mv.refresh()
    drain()  # the batch holds only commits the view already folded


def test_matview_streaming_maintenance(spark, tbl, tmp_path):
    """maintain_streaming: the view follows the txlog_cdf stream —
    each micro-batch delta-applies with its end version as the txn
    id. Draining twice on the same checkpoint is a no-op (replay
    safety), an out-of-band batch refresh between drains does NOT
    double-apply (version-granular overlap filter), and after every
    drain the view equals the full re-aggregation."""
    from aiports_data_warehouse_etl_spark.streaming.matview import (
        IncrementalAggView,
    )

    mv = IncrementalAggView(
        spark, tbl, str(tmp_path / "view"),
        group_cols=["k"], sum_cols=["val"],
        min_cols=["val"], max_cols=["val"],
    )
    ckpt = str(tmp_path / "mv_ckpt")

    def drain():
        q = mv.maintain_streaming(ckpt)
        assert q.awaitTermination(180)

    def expect():
        return {
            (r.k, r.n, round(r.s, 6), r.lo, r.hi)
            for r in tbl.read()
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("val").alias("s"),
                F.min("val").alias("lo"),
                F.max("val").alias("hi"),
            )
            .collect()
        }

    def got():
        return {
            (r.k, r.n_rows, round(r.sum_val, 6), r.min_val, r.max_val)
            for r in mv.read().collect()
        }

    tbl.append(
        spark.createDataFrame(
            [("a", 1.0), ("a", 4.0), ("b", 10.0)], "k string, val double"
        )
    )
    drain()
    assert got() == expect()
    v_after_first = mv.last_applied_version()

    # replay on the same checkpoint: committed no-op
    drain()
    assert mv.last_applied_version() == v_after_first
    assert got() == expect()

    # more commits, including a bound-hitting DV delete
    tbl.append(
        spark.createDataFrame([("b", 3.0), ("c", 7.0)], "k string, val double")
    )
    tbl.delete_where_dv("k = 'a' AND val = 4.0")
    drain()
    assert got() == expect()

    # out-of-band BATCH refresh, then a stream drain over commits the
    # batch already folded: the overlap filter must not double-apply
    tbl.append(spark.createDataFrame([("a", 9.0)], "k string, val double"))
    mv.refresh()
    assert got() == expect()
    tbl.append(spark.createDataFrame([("c", 2.0)], "k string, val double"))
    drain()
    assert got() == expect()


def test_matview_distinct_view(spark, tbl, tmp_path):
    """IncrementalDistinctView: exact COUNT(DISTINCT value) per group
    via the multiplicity table — folds exactly under inserts AND
    deletes with no rescan (a value's multiplicity hitting zero is
    the distinct-decrement signal), matching the full re-aggregation
    after every refresh."""
    from aiports_data_warehouse_etl_spark.streaming.matview import (
        IncrementalDistinctView,
    )

    dv = IncrementalDistinctView(
        spark, tbl, str(tmp_path / "dview"),
        group_cols=["k"], value_col="u",
    )

    def expect():
        return {
            (r.k, r.d, r.n)
            for r in tbl.read()
            .groupBy("k")
            .agg(
                F.countDistinct("u").cast("long").alias("d"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .collect()
        }

    def got():
        return {
            (r.k, r.n_distinct_u, r.n_rows)
            for r in dv.read().collect()
        }

    tbl.append(
        spark.createDataFrame(
            [("a", 1), ("a", 1), ("a", 2), ("b", 5)], "k string, u int"
        )
    )
    dv.refresh()
    assert got() == expect()

    # delete ONE of the two (a,1) rows: multiplicity 2→1, distinct
    # count must NOT drop
    tbl.append(spark.createDataFrame([("b", 6), ("b", 6)], "k string, u int"))
    dv.refresh()
    before = got()
    assert ("a", 2, 3) in before and ("b", 2, 3) in before
    # COW delete of exactly one duplicate row is awkward by predicate;
    # use a DV delete of one (b,6) via a unique rowid-free trick:
    # delete both then re-insert one — the fold must land exactly
    tbl.delete_where_dv("k = 'b' AND u = 6")
    tbl.append(spark.createDataFrame([("b", 6)], "k string, u int"))
    dv.refresh()
    assert got() == expect()
    # multiplicity to zero: distinct count drops
    tbl.delete_where("k = 'a' AND u = 2")
    dv.refresh()
    assert got() == expect()
    assert ("a", 1, 2) in got()
    # replay no-op
    before = got()
    assert dv.refresh() is None
    assert got() == before


def test_time_travel_as_of_timestamp(spark, tbl):
    """read(as_of_ts=) resolves the newest commit at-or-before the
    given timestamp — the timestamp flavor of time travel, exact at
    commit boundaries."""
    import pytest

    tbl.append(spark.createDataFrame([(1,)], "id int"))
    ts1 = int(tbl._read_commit(0)["ts"])
    tbl.append(spark.createDataFrame([(2,)], "id int"))
    ts2 = int(tbl._read_commit(1)["ts"])
    assert tbl.read(as_of_ts=ts1).count() == 1
    assert tbl.read(as_of_ts=ts2 - 1).count() == 1  # just before commit 2
    assert tbl.read(as_of_ts=ts2).count() == 2
    assert tbl.version_as_of(ts2 + 10**9) == 1  # future ts -> latest
    with pytest.raises(ValueError, match="no commit at or before"):
        tbl.read(as_of_ts=ts1 - 1)
    with pytest.raises(ValueError, match="not both"):
        tbl.read(version=0, as_of_ts=ts1)


def test_restore_rolls_back_as_new_commit(spark, tbl):
    """restore(v): the table state flips back to version v — through
    a DV delete, a later append, AND a COW rewrite — as a NEW
    auditable commit with zero data copy. The restored version's
    deletion vectors come back with it; the change feed across the
    restore stays net-exact; restoring to the current state is a
    no-op (no new commit)."""
    o = _orders(spark)
    tbl.append(o.filter("o_orderkey < 100"))                 # v0
    tbl.delete_where_dv("o_orderkey % 7 = 0")                # v1 (DV)
    tbl.append(o.filter("o_orderkey >= 100 AND o_orderkey < 160"))  # v2
    tbl.delete_where("o_orderkey % 5 = 0")                   # v3 (COW)

    def keys(df):
        return {r["o_orderkey"] for r in df.select("o_orderkey").collect()}

    want = keys(tbl.read(version=1))
    assert tbl.restore(1) == 4
    assert keys(tbl.read()) == want
    # DV rows stay dead after the restore (v1's DVs came back)
    assert not {k for k in keys(tbl.read()) if k % 7 == 0 and k < 100}
    # restore is a commit, not history surgery: v3 still readable
    assert keys(tbl.read(version=3)) != want
    # feed across the restore folds net-exactly to the restored state
    ch = tbl.changes(0, 4)
    last: dict[int, tuple[int, int]] = {}
    for r in ch.select(
        "o_orderkey", "_change_type", "_commit_version"
    ).collect():
        mark = (
            r["_commit_version"],
            1 if r["_change_type"] == "insert" else 0,
        )
        k = r["o_orderkey"]
        if k not in last or mark > last[k]:
            last[k] = mark
    replayed = {k for k, (_, ins) in last.items() if ins}
    assert replayed == want
    # restoring to where we already are: no new commit
    assert tbl.restore(4) == 4
    assert tbl.latest_version() == 4
    with pytest.raises(ValueError, match="not in"):
        tbl.restore(99)


def test_shallow_clone_zero_copy_and_materialize(spark, tbl, tmp_path):
    """SHALLOW CLONE: one metadata commit makes an independent table
    referencing the source's files (+DVs, +CHECK constraints) by
    absolute path — zero bytes copied; source and clone then evolve
    separately. Row-addressed mutations refuse until materialize()
    localizes the files, after which everything works and the source
    can vacuum freely."""
    import os

    o = _orders(spark)
    tbl.append(o.filter("o_orderkey < 100"))
    tbl.add_check("key_pos", "o_orderkey >= 0")
    tbl.delete_where_dv("o_orderkey % 7 = 0")

    def keys(t, **kw):
        return {
            r["o_orderkey"]
            for r in t.read(**kw).select("o_orderkey").collect()
        }

    want = keys(tbl)
    clone = tbl.shallow_clone(str(tmp_path / "clone"))
    # zero copy: the clone owns no data files yet
    assert not os.path.isdir(os.path.join(clone.path, "data"))
    assert keys(clone) == want
    assert clone.count_rows() == len(want)  # metadata count incl. DVs

    # independence both ways
    tbl.append(o.filter("o_orderkey >= 100 AND o_orderkey < 120"))
    assert keys(clone) == want
    clone.append(
        spark.createDataFrame([(999999, 1, 1.0, "O")], tbl.read().schema)
    )
    assert keys(tbl) != keys(clone)
    assert 999999 in keys(clone) and 999999 not in keys(tbl)
    # inherited CHECK constraint enforces on the clone
    from aiports_data_warehouse_etl_spark.sources.txlog import (
        ConstraintViolation,
    )

    with pytest.raises(ConstraintViolation):
        clone.append(
            spark.createDataFrame([(-5, 1, 1.0, "O")], tbl.read().schema)
        )
    # the clone's change feed folds its birth commit DV-exactly
    ch = clone.changes(-1, clone.latest_version())
    ins = {
        r["o_orderkey"]
        for r in ch.filter("_change_type = 'insert'").collect()
    }
    assert ins == want | {999999}

    # row-addressed mutations refuse while refs are external
    with pytest.raises(ValueError, match="materialize"):
        clone.delete_where("o_orderkey = 2")
    with pytest.raises(ValueError, match="materialize"):
        clone.delete_where_dv("o_orderkey = 2")
    with pytest.raises(ValueError, match="materialize"):
        clone.merge_upsert(clone.read().limit(1), keys=["o_orderkey"])

    # materialize: refs localize, content identical, mutations work
    before = keys(clone)
    clone.materialize()
    assert not any(
        os.path.isabs(rel) for rel in clone._snapshot()["files"]
    )
    assert keys(clone) == before
    clone.delete_where("o_orderkey = 999999")
    assert keys(clone) == want
    # the cord is cut: source vacuum can't break the clone
    tbl.vacuum(grace_seconds=0)
    assert keys(clone) == want


def test_protocol_versioning_gates_reads_and_writes(spark, tbl):
    """Delta-style protocol floors: a committed min_writer above what
    this engine supports makes every write path refuse LOUDLY (read
    still fine); a min_reader above support refuses reads; floors
    never lower; the floor survives checkpoint replay."""
    from aiports_data_warehouse_etl_spark.sources.txlog import TxLogTable

    df = spark.createDataFrame([(1, "a")], "id int, s string")
    tbl.append(df)
    # upgrading to the supported level changes nothing observable
    tbl.upgrade_protocol(2, 2)
    tbl.append(df)
    assert tbl.read().count() == 2
    with pytest.raises(ValueError, match="never lowers"):
        tbl.upgrade_protocol(1, 1)
    # writer floor above support: writes refuse, reads keep working
    tbl.upgrade_protocol(2, 99)
    with pytest.raises(ValueError, match="writer protocol"):
        tbl.append(df)
    with pytest.raises(ValueError, match="writer protocol"):
        tbl.delete_where("id = 1")
    assert tbl.read().count() == 2
    assert [r.op for r in tbl.describe_history().collect()].count(
        "set_protocol"
    ) == 2

    # reader floor above support: reads refuse (fresh table; survives
    # a checkpoint boundary — checkpoint_every=4 on the tbl fixture)
    t2 = TxLogTable(spark, tbl.path + "_r", checkpoint_every=4)
    t2.append(df)
    t2.upgrade_protocol(99, 2)
    for _ in range(5):  # cross a checkpoint write
        t2.append(df)
    with pytest.raises(ValueError, match="reader protocol"):
        t2.read()


def test_history_describes_every_commit(spark, tbl):
    """history(): one metadata-only row per commit — op sequence,
    added row counts from commit stats, restore target, strictly
    monotone timestamps."""
    o = _orders(spark)
    tbl.append(o.filter("o_orderkey < 100"))
    tbl.delete_where_dv("o_orderkey % 7 = 0")
    tbl.compact(target_file_bytes=1 << 30)
    tbl.restore(1)
    h = tbl.describe_history().orderBy("version").collect()
    assert [r.op for r in h] == ["append", "delete_dv", "compact", "restore"]
    assert h[0].rows_added == tbl.read(version=0).count()
    assert h[3].restore_of == 1 and h[0].restore_of is None
    ts = [r.ts_ns for r in h]
    assert ts == sorted(set(ts))


def test_restore_preserves_table_policy(spark, tbl):
    """RESTORE rolls back DATA, not POLICY: a protocol floor and a
    CHECK constraint registered after the restore point survive the
    rollback — governance is monotone even when data isn't."""
    df = spark.createDataFrame([(5,)], "id int")
    tbl.append(df)                         # v0
    tbl.add_check("id_pos", "id > 0")      # v1 (policy)
    tbl.upgrade_protocol(2, 2)             # v2 (policy)
    tbl.append(spark.createDataFrame([(7,)], "id int"))  # v3
    tbl.restore(0)                         # v4: data back to just {5}
    assert {r.id for r in tbl.read().collect()} == {5}
    snap = tbl._snapshot()
    assert snap["protocol"] == {"min_reader": 2, "min_writer": 2}
    assert "id_pos" in snap["constraints"]
    from aiports_data_warehouse_etl_spark.sources.txlog import (
        ConstraintViolation,
    )

    with pytest.raises(ConstraintViolation):
        tbl.append(spark.createDataFrame([(-1,)], "id int"))


def test_restore_reverts_metadata_only_history(spark, tbl):
    """A rename moves no bytes, so restoring across ONE metadata-only
    commit leaves the file set identical — the no-op short-circuit
    must still commit, reverting the logical schema (regression: the
    files-and-DVs-only comparison returned 'already at the restored
    state' and left the renamed schema in place; found by the
    model-based restore op on the shrunk sequence append → rename →
    restore(0)). Restoring again IS then a true no-op."""
    tbl.append(spark.createDataFrame([(1, 10)], "id long, v0 long"))  # v0
    tbl.rename_column("v0", "v1")                                     # v1
    assert tbl.restore(0) == 2
    assert tbl.read().columns == ["id", "v0"]
    assert [r["id"] for r in tbl.read().collect()] == [1]
    assert tbl.restore(0) == 2  # no new commit: state truly identical
    assert tbl.latest_version() == 2


def test_restore_raises_after_vacuum_reclaims_point(spark, tbl):
    """A restore point whose files vacuum already reclaimed must fail
    LOUDLY, never produce a partial table."""
    o = _orders(spark)
    tbl.append(o.filter("o_orderkey < 50"))     # v0
    tbl.overwrite(o.filter("o_orderkey >= 50 AND o_orderkey < 90"))  # v1
    tbl.vacuum(grace_seconds=0)                 # reclaims v0's files
    with pytest.raises(ValueError, match="vacuumed"):
        tbl.restore(0)


def test_commit_ts_strictly_monotone_under_frozen_clock(
    spark, tbl, monkeypatch
):
    """_try_commit clamps each stamp to predecessor+1 ns, so the ts
    chain is STRICTLY increasing even when the wall clock freezes (or
    steps backwards) — the invariant version_as_of's binary search
    depends on."""
    import time as _time

    frozen = _time.time_ns()
    monkeypatch.setattr(
        "aiports_data_warehouse_etl_spark.sources.txlog.time.time_ns",
        lambda: frozen,
    )
    df = spark.createDataFrame([(1,)], "id int")
    for _ in range(4):
        tbl.append(df)
    stamps = [int(tbl._read_commit(v)["ts"]) for v in range(4)]
    assert stamps == sorted(set(stamps)), f"not strictly monotone: {stamps}"
    assert stamps[1:] == [stamps[0] + 1, stamps[0] + 2, stamps[0] + 3]


def test_version_as_of_binary_search_matches_linear_scan(spark, tbl):
    """version_as_of over a 13-commit chain (spanning a checkpoint
    boundary): the O(log n) binary search must agree with the
    definitional linear scan at every stamp, between stamps, and
    beyond both ends."""
    df = spark.createDataFrame([(1,)], "id int")
    for _ in range(13):
        tbl.append(df)
    stamps = [int(tbl._read_commit(v)["ts"]) for v in range(13)]

    def linear(ts):
        return max(v for v in range(13) if stamps[v] <= ts)

    probes = (
        [s for s in stamps]
        + [s - 1 for s in stamps[1:]]
        + [s + 1 for s in stamps]
        + [stamps[-1] + 10**9]
    )
    for ts in probes:
        assert tbl.version_as_of(ts) == linear(ts), ts


# -- conditional MERGE (update-set / delete-clause / insert-condition) --


def test_merge_conditional_update_delete_insert(spark, tbl):
    o = _orders(spark)
    base = o.filter("o_orderkey < 2000")
    tbl.append(base)
    src = (
        o.filter("o_orderkey >= 1000 AND o_orderkey < 3000")
        .withColumn("o_totalprice", F.col("o_totalprice") + 100)
    )
    tbl.merge(
        src,
        keys=["o_orderkey"],
        update_set={"o_totalprice": "s.o_totalprice"},
        update_condition="s.o_totalprice > t.o_totalprice + 50",
        delete_condition="t.o_orderkey % 7 = 0",
        insert_condition="s.o_orderkey % 2 = 0",
    )
    got = {r["o_orderkey"]: r for r in tbl.read().collect()}
    src_rows = {r["o_orderkey"]: r for r in src.collect()}
    expect = {}
    for r in base.collect():
        k = r["o_orderkey"]
        s = src_rows.get(k)
        if s is not None and k % 7 == 0:
            continue  # matched-delete fires first
        if s is not None and s["o_totalprice"] > r["o_totalprice"] + 50:
            expect[k] = s["o_totalprice"]
        else:
            expect[k] = r["o_totalprice"]
    for k, s in src_rows.items():
        if k >= 2000 and k % 2 == 0:
            expect[k] = s["o_totalprice"]
    assert set(got) == set(expect)
    for k, price in expect.items():
        assert abs(got[k]["o_totalprice"] - price) < 1e-9, k


def test_merge_rewrites_only_changed_files(spark, tbl):
    o = _orders(spark)
    tbl.append(o.filter("o_orderkey % 4 = 0").repartition(2))
    tbl.append(o.filter("o_orderkey % 4 = 2").repartition(2))
    before = set(tbl._snapshot()["files"])
    # source matches only keys ≡0 (mod 4); the ≡2 files must carry over
    src = o.filter("o_orderkey % 20 = 0").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    tbl.merge(
        src,
        keys=["o_orderkey"],
        update_set={"o_totalprice": "s.o_totalprice"},
        insert=False,
    )
    after = set(tbl._snapshot()["files"])
    commit = tbl._read_commit(tbl.latest_version())
    mod2_files = {
        f for f in before if f not in commit.get("remove", [])
    }
    assert mod2_files & after == mod2_files  # carried by reference
    # and a merge whose conditions never fire is a NO-OP commit-wise
    v = tbl.latest_version()
    out = tbl.merge(
        src.limit(5),
        keys=["o_orderkey"],
        update_set={"o_totalprice": "s.o_totalprice"},
        update_condition="1 = 0",
        insert=False,
    )
    assert out == v and tbl.latest_version() == v


def test_merge_change_feed_stays_net_exact(spark, tbl):
    o = _orders(spark)
    tbl.append(o.filter("o_orderkey < 1500").repartition(2))
    v0 = tbl.latest_version()
    src = o.filter("o_orderkey >= 1000 AND o_orderkey < 2500").withColumn(
        "o_totalprice", F.lit(0.0)
    )
    v1 = tbl.merge(
        src,
        keys=["o_orderkey"],
        update_set={"o_totalprice": "s.o_totalprice"},
        delete_condition="t.o_orderkey % 11 = 0",
    )
    feed = tbl.changes(v0, v1)
    ins = feed.filter("_change_type = 'insert'").drop(
        "_change_type", "_commit_version"
    )
    dels = feed.filter("_change_type = 'delete'").drop(
        "_change_type", "_commit_version"
    )
    # fold the feed onto the v0 snapshot == the v1 snapshot
    folded = (
        tbl.read(version=v0)
        .exceptAll(dels)
        .unionByName(ins)
        .groupBy("o_orderkey")
        .agg(F.sum("o_totalprice").alias("p"))
    )
    now = tbl.read().groupBy("o_orderkey").agg(
        F.sum("o_totalprice").alias("p")
    )
    assert folded.exceptAll(now).count() == 0
    assert now.exceptAll(folded).count() == 0


def test_merge_respects_deletion_vectors(spark, tbl):
    o = _orders(spark)
    tbl.append(o.filter("o_orderkey < 1000"))
    tbl.delete_where_dv("o_orderkey % 5 = 0")
    alive_before = {r["o_orderkey"] for r in tbl.read().collect()}
    src = o.filter("o_orderkey % 10 = 0 AND o_orderkey < 2000").withColumn(
        "o_totalprice", F.lit(1.5)
    )
    tbl.merge(
        src,
        keys=["o_orderkey"],
        update_set={"o_totalprice": "s.o_totalprice"},
    )
    got = {r["o_orderkey"]: r["o_totalprice"] for r in tbl.read().collect()}
    # DV-deleted keys (%5==0 under 1000) were NOT update targets; their
    # source rows see no match and re-enter as INSERTS — every source
    # key must land at 1.5 either way (update or re-insert)
    src_keys = {r["o_orderkey"] for r in src.collect()}
    assert src_keys, "fixture regression: empty merge source"
    for k in src_keys:
        assert got.get(k) == 1.5, k
    assert set(got) >= alive_before


def test_merge_refuses_dup_keys_and_key_assignment(spark, tbl):
    o = _orders(spark)
    tbl.append(o.limit(100))
    dup = o.limit(1).unionByName(o.limit(1))
    with pytest.raises(ValueError, match="multiple rows"):
        tbl.merge(dup, keys=["o_orderkey"],
                  update_set={"o_totalprice": "s.o_totalprice"})
    with pytest.raises(ValueError, match="key column"):
        tbl.merge(o.limit(5), keys=["o_orderkey"],
                  update_set={"o_orderkey": "s.o_orderkey"})


# -- UPDATE (copy-on-write and merge-on-read) and replace_where -------


def test_update_where_cow_semantics(spark, tbl):
    """UPDATE rewrites ONLY files containing a predicate-TRUE row;
    untouched files carry over by reference. Values double where
    matched, everything else (and every row count) is unchanged, and
    time travel still reads the pre-update values."""
    o = _orders(spark)
    tbl.append(o.filter("o_orderkey < 1000").repartition(2))
    tbl.append(o.filter("o_orderkey >= 1000").repartition(2))
    before = set(tbl._snapshot()["files"])
    v = tbl.update_where(
        "o_orderkey < 500", {"o_totalprice": "o_totalprice * 2"}
    )
    after = set(tbl._snapshot()["files"])
    assert before & after, "untouched files must carry over by reference"
    got = tbl.read()
    assert got.count() == o.count()
    assert got.schema == o.schema
    exp = (
        o.filter("o_orderkey < 500")
        .agg(F.sum(F.col("o_totalprice") * 2))
        .collect()[0][0]
        + o.filter("o_orderkey >= 500")
        .agg(F.sum("o_totalprice"))
        .collect()[0][0]
    )
    tot = got.agg(F.sum("o_totalprice")).collect()[0][0]
    assert tot == pytest.approx(exp)
    old = (
        tbl.read(version=v - 1).agg(F.sum("o_totalprice")).collect()[0][0]
    )
    assert old == pytest.approx(
        o.agg(F.sum("o_totalprice")).collect()[0][0]
    )


def test_update_where_simultaneous_assignment_and_null_predicate(
    spark, tbl
):
    """SET a = b, b = a swaps (assignments see the PRE-update row),
    and rows where the predicate evaluates NULL are NOT updated (SQL
    UPDATE semantics)."""
    df = spark.createDataFrame(
        [(1, 10, None), (2, 20, 5.0), (3, 30, 50.0)],
        "a long, b long, v double",
    )
    tbl.append(df)
    # predicate: v > 10 is TRUE for v=50, FALSE for v=5, NULL for v=NULL
    tbl.update_where("v > 10", {"a": "b", "b": "a"})
    rows = {r["v"]: (r["a"], r["b"]) for r in tbl.read().collect()}
    assert rows[50.0] == (30, 3), "swap must read pre-update values"
    assert rows[5.0] == (2, 20), "predicate-FALSE row untouched"
    assert rows[None] == (1, 10), "predicate-NULL row untouched"


def test_update_where_casts_back_to_column_type(spark, tbl):
    df = spark.createDataFrame([(1,), (2,)], "id long")
    tbl.append(df)
    tbl.update_where("id = 2", {"id": "id * 2.5"})
    got = tbl.read()
    assert dict(got.dtypes)["id"] == "bigint", "schema must not drift"
    assert {r["id"] for r in got.collect()} == {1, 5}


def test_update_where_guards(spark, tbl):
    o = _orders(spark)
    tbl.append(o.limit(50))
    with pytest.raises(ValueError, match="unknown column"):
        tbl.update_where("o_orderkey = 1", {"nope": "1"})
    with pytest.raises(ValueError, match="empty SET"):
        tbl.update_where("o_orderkey = 1", {})
    v = tbl.latest_version()
    assert tbl.update_where("o_orderkey < 0", {"o_custkey": "0"}) == v


def test_update_where_respects_check_constraints(spark, tbl):
    from aiports_data_warehouse_etl_spark.sources.txlog import (
        ConstraintViolation,
    )

    o = _orders(spark)
    tbl.append(o.limit(50))
    tbl.add_check("pos_price", "o_totalprice > 0")
    with pytest.raises(ConstraintViolation, match="pos_price"):
        tbl.update_where("o_orderkey % 2 = 0", {"o_totalprice": "-1.0"})
    # refused update left no commit behind
    assert tbl._read_commit(tbl.latest_version())["op"] == "set_constraint"


def test_update_where_mor_is_o_changed_rows(spark, tbl):
    """MoR UPDATE: one commit = one DV + small files holding ONLY the
    updated copies; zero data files rewritten; metadata count stays
    exact; compact later applies the DV physically."""
    o = _orders(spark)
    tbl.append(o.repartition(4))
    n_upd = o.filter("o_orderkey % 7 = 0").count()
    v = tbl.update_where_mor(
        "o_orderkey % 7 = 0",
        {"o_orderstatus": "'U'", "o_totalprice": "o_totalprice + 1"},
    )
    c = tbl._read_commit(v)
    assert c["op"] == "update_mor" and not c.get("remove")
    assert sum(a["stats"]["rows"] for a in c["add"]) == n_upd
    got = tbl.read()
    assert got.count() == o.count()
    assert tbl.count_rows() == o.count()
    assert got.filter("o_orderstatus = 'U'").count() == n_upd
    exp = (
        o.agg(F.sum("o_totalprice")).collect()[0][0] + n_upd
    )
    assert got.agg(F.sum("o_totalprice")).collect()[0][0] == pytest.approx(
        exp
    )
    tbl.compact(target_file_bytes=1 << 30)
    assert not tbl._snapshot()["dvs"], "compact must apply + drop DVs"
    assert tbl.read().filter("o_orderstatus = 'U'").count() == n_upd
    assert tbl.read().count() == o.count()


def test_update_mor_change_feed_net_exact(spark, tbl):
    """The change feed emits a MoR update as delete(old row) +
    insert(new row), net-exact, and a LATER copy-on-write rewrite of
    the DV-carrying file does not re-emit the old versions."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    )
    tbl.append(df.coalesce(1))
    v1 = tbl.update_where_mor("id < 10", {"v": "v + 1000"})
    ch1 = tbl.changes(v1 - 1, v1)
    dels = ch1.filter("_change_type = 'delete'")
    ins = ch1.filter("_change_type = 'insert'")
    assert dels.count() == 10 and ins.count() == 10
    assert dels.agg(F.sum("v")).collect()[0][0] == pytest.approx(45.0)
    assert ins.agg(F.sum("v")).collect()[0][0] == pytest.approx(10045.0)
    # COW delete now removes the DV-carrying file
    tbl.delete_where("id >= 95")
    ch = tbl.changes(-1, tbl.latest_version())
    net = {
        r["id"]: r["net"]
        for r in ch.groupBy("id")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("net")
        )
        .collect()
    }
    live = {r.id for r in tbl.read().collect()}
    assert all(n in (0, 1) for n in net.values()), f"negative fold: {net}"
    assert {i for i, n in net.items() if n == 1} == live


def test_update_mor_streaming_cdf_matches_batch(spark, tbl, tmp_path):
    """The partition-planning streaming CDF source folds an update_mor
    commit identically to TxLogTable.changes()."""
    from aiports_data_warehouse_etl_spark.sources.txlog_stream import (
        register_txlog_cdf,
    )

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "id long, v double"
    )
    tbl.append(df.coalesce(1))
    tbl.update_where_mor("id % 5 = 0", {"v": "v * -1"})
    register_txlog_cdf(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (
        spark.readStream.format("txlog_cdf")
        .option("path", tbl.path)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = spark.read.parquet(out)
    batch = tbl.changes(-1, tbl.latest_version())
    assert got.count() == batch.count()
    g = got.groupBy("_change_type").count().collect()
    b = batch.groupBy("_change_type").count().collect()
    assert {(r[0], r[1]) for r in g} == {(r[0], r[1]) for r in b}


def test_replace_where_slice_reload(spark, tbl):
    """replace_where: idempotent predicate-scoped overwrite. The
    replaced slice takes the new rows, other slices carry over by
    reference, and re-running the same reload is a fixpoint."""
    o = _orders(spark)
    tbl.append(o.filter("o_orderkey < 1000").repartition(2))
    tbl.append(o.filter("o_orderkey >= 1000").repartition(2))
    before = set(tbl._snapshot()["files"])
    slice_new = o.filter("o_orderkey < 500").withColumn(
        "o_totalprice", F.lit(1.0)
    )
    tbl.replace_where(slice_new, "o_orderkey < 500")
    after = set(tbl._snapshot()["files"])
    assert before & after, "untouched files must carry over by reference"
    got = tbl.read()
    assert got.count() == o.count()
    assert (
        got.filter("o_orderkey < 500 AND o_totalprice <> 1.0").count() == 0
    )
    assert got.filter("o_orderkey >= 500").agg(
        F.sum("o_totalprice")
    ).collect()[0][0] == pytest.approx(
        o.filter("o_orderkey >= 500").agg(F.sum("o_totalprice")).collect()[
            0
        ][0]
    )
    # fixpoint
    tbl.replace_where(slice_new, "o_orderkey < 500")
    assert tbl.read().count() == o.count()
    assert (
        tbl.read().filter("o_orderkey < 500").count()
        == o.filter("o_orderkey < 500").count()
    )


def test_replace_where_refuses_stray_rows(spark, tbl):
    o = _orders(spark)
    tbl.append(o.limit(100))
    with pytest.raises(ValueError, match="outside the slice"):
        tbl.replace_where(
            o.filter("o_orderkey >= 500"), "o_orderkey < 500"
        )
    # first write on an empty table degrades to append (still guarded)
    t2 = TxLogTable(spark, tbl.path + "_e")
    v = t2.replace_where(o.filter("o_orderkey < 500"), "o_orderkey < 500")
    assert v == 0
    assert t2.read().count() == o.filter("o_orderkey < 500").count()


def test_replace_where_concurrent_append_into_slice_conflicts(spark, tbl):
    """A concurrent blind append whose rows land INSIDE the replaced
    slice must raise TxConflict (Delta: ConcurrentAppendException) —
    rebasing over it would break the 'table becomes exactly df for
    the slice' idempotent-reload contract. Appends OUTSIDE the slice
    still rebase freely (ADVICE r6 #5)."""
    df = spark.createDataFrame(
        [(i, "A" if i < 5 else "B") for i in range(10)],
        "id long, g string",
    )
    tbl.append(df)
    other = TxLogTable(spark, tbl.path)
    orig = tbl._try_commit
    injected = []

    def racy_inside(version, commit):
        if not injected and commit.get("op") == "replace_where":
            injected.append(1)
            other.append(
                spark.createDataFrame([(100, "A")], "id long, g string")
            )
        return orig(version, commit)

    tbl._try_commit = racy_inside
    with pytest.raises(TxConflict, match="inside the replaced slice"):
        tbl.replace_where(
            spark.createDataFrame([(50, "A")], "id long, g string"),
            "g = 'A'",
        )
    tbl._try_commit = orig
    assert injected
    # retry-from-read sees the appended row and replaces it too
    injected2 = []

    def racy_outside(version, commit):
        if not injected2 and commit.get("op") == "replace_where":
            injected2.append(1)
            other.append(
                spark.createDataFrame([(200, "B")], "id long, g string")
            )
        return orig(version, commit)

    tbl._try_commit = racy_outside
    tbl.replace_where(
        spark.createDataFrame([(51, "A")], "id long, g string"),
        "g = 'A'",
    )
    tbl._try_commit = orig
    assert injected2
    got = {r["id"] for r in tbl.read().collect()}
    assert got == {5, 6, 7, 8, 9, 51, 200}, got


def test_append_refuses_rebase_over_policy_commit(spark, tbl):
    """A staged append must NOT blindly rebase over a concurrent
    schema/policy commit: the staged file carries pre-rename physical
    names and was validated against the pre-commit policy. Delta
    raises MetadataChangedException; we raise TxConflict (ADVICE r6
    #2). Pure-data interveners (DML) still rebase."""
    tbl.append(spark.createDataFrame([(1, 1.0)], "id long, v double"))
    other = TxLogTable(spark, tbl.path)
    orig_stage = tbl._stage

    def stage_then_rename(df):
        out = orig_stage(df)
        other.rename_column("v", "val")
        return out

    tbl._stage = stage_then_rename
    with pytest.raises(TxConflict, match="rename_column"):
        tbl.append(spark.createDataFrame([(2, 2.0)], "id long, v double"))
    tbl._stage = orig_stage
    assert tbl.read().columns == ["id", "val"]
    assert tbl.read().count() == 1, "conflicted append must not land"

    def stage_then_check(df):
        out = orig_stage(df)
        other.add_check("v_cap", "val < 100")
        return out

    tbl._stage = stage_then_check
    with pytest.raises(TxConflict, match="set_constraint"):
        tbl.append(
            spark.createDataFrame([(3, 3.0)], "id long, val double")
        )
    tbl._stage = orig_stage

    def stage_then_delete(df):
        out = orig_stage(df)
        other.delete_where("id = 1")
        return out

    tbl._stage = stage_then_delete
    tbl.append(spark.createDataFrame([(4, 4.0)], "id long, val double"))
    tbl._stage = orig_stage
    got = {r["id"] for r in tbl.read().collect()}
    assert got == {4}, "DML intervener rebases; conflicted appends gone"


def test_rename_and_drop_refuse_identity_column(spark, tbl):
    """Renaming or dropping a column registered GENERATED ALWAYS AS
    IDENTITY is refused (the identity registry is keyed by name —
    ADVICE r6 #3); drop the identity policy first, then rename."""
    tbl.append(spark.createDataFrame([], "uid long, v double"))
    tbl.add_identity_column("uid")
    with pytest.raises(ValueError, match="IDENTITY"):
        tbl.rename_column("uid", "uid2")
    with pytest.raises(ValueError, match="IDENTITY"):
        tbl.drop_column("uid")
    tbl.drop_identity_column("uid")
    tbl.rename_column("uid", "uid2")
    assert tbl.read().columns == ["uid2", "v"]


# -- native streaming sink (Python Data Source write API) -------------


def _sink_stream(spark, ingest, table, ckpt):
    from aiports_data_warehouse_etl_spark.sources.txlog_sink import (
        register_txlog_sink,
    )

    register_txlog_sink(spark)
    src = (
        spark.readStream.schema("id long, v double").parquet(ingest)
    )
    return (
        src.writeStream.format("txlog")
        .option("path", table)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def test_txlog_native_sink_exactly_once(spark, tmp_path):
    """The native Arrow streaming sink lands each micro-batch as ONE
    atomic txn-marked commit; a restart with no new input replays
    nothing; a restart with new files appends exactly the delta."""
    ingest = str(tmp_path / "in")
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    )
    df.filter("id < 60").repartition(3).write.parquet(ingest)

    _sink_stream(spark, ingest, table, ckpt).awaitTermination(120)
    t = TxLogTable(spark, table)
    assert t.read().count() == 60
    assert t.count_rows() == 60  # metadata count agrees
    c = t._read_commit(t.latest_version())
    assert c["op"] == "append" and "txn_id" in c

    # restart, no new input: nothing re-lands
    _sink_stream(spark, ingest, table, ckpt).awaitTermination(120)
    assert t.read().count() == 60

    # new files arrive: exactly the delta appends
    df.filter("id >= 60").repartition(2).write.mode("append").parquet(
        ingest
    )
    _sink_stream(spark, ingest, table, ckpt).awaitTermination(120)
    got = t.read()
    assert got.count() == 100
    assert got.agg(F.sum("id")).collect()[0][0] == sum(range(100))
    # no staged garbage left behind
    staging = os.path.join(table, "_staging")
    assert not os.path.exists(staging) or not os.listdir(staging)


def test_txlog_native_sink_replayed_batch_is_noop(spark, tmp_path):
    """Crash-between-sink-commit-and-offset-checkpoint simulation:
    wiping the Spark checkpoint forces the SAME input to replay as a
    new run; the txn marker makes the replay a no-op per batch only
    if the app id is pinned. With the default app id (derived from
    the table path) the replay IS suppressed because batch ids
    restart at 0 and the marker matches."""
    ingest = str(tmp_path / "in")
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame(
        [(i, float(i)) for i in range(30)], "id long, v double"
    ).coalesce(1).write.parquet(ingest)

    _sink_stream(spark, ingest, table, ckpt).awaitTermination(120)
    t = TxLogTable(spark, table)
    assert t.read().count() == 30
    v_after = t.latest_version()

    # wipe ONLY the Spark checkpoint: the rerun replays batch 0 with
    # the same rows; the sink's (app, 0) marker suppresses the commit
    import shutil as _sh

    _sh.rmtree(ckpt)
    _sink_stream(spark, ingest, table, str(tmp_path / "ck2")).awaitTermination(120)
    assert t.read().count() == 30, "replayed batch must be a no-op"
    assert t.latest_version() == v_after
    staging = os.path.join(table, "_staging")
    assert not os.path.exists(staging) or not os.listdir(staging)


def test_txlog_native_sink_refuses_rename_during_stream(spark, tmp_path):
    """The sink's write schema freezes at stream start; a rename/drop
    epoch bump during the stream's lifetime must fail the batch for a
    restart (Delta's schema-change-stops-the-stream), otherwise every
    later staged file lands stale physical names under the new epoch."""
    import pyarrow as pa

    from aiports_data_warehouse_etl_spark.sources.txlog_sink import (
        _TxLogStreamWriter,
    )

    path = str(tmp_path / "t")
    t = TxLogTable(spark, path)
    t.append(spark.createDataFrame([(1, 1.0)], "id long, v double"))
    w = _TxLogStreamWriter({"path": path}, t.read().schema)
    t.rename_column("v", "val")
    msg = w.write(
        iter([pa.RecordBatch.from_pydict({"id": [2], "v": [2.0]})])
    )
    with pytest.raises(TxConflict, match="restart the stream"):
        w.commit([msg], 0)
    assert t.read().count() == 1, "failed batch must leave no rows"
    # a NEW stream (fresh writer, post-rename schema) proceeds
    w2 = _TxLogStreamWriter({"path": path}, t.read().schema)
    msg2 = w2.write(
        iter([pa.RecordBatch.from_pydict({"id": [3], "val": [3.0]})])
    )
    w2.commit([msg2], 0)
    assert t.read().count() == 2


def test_txlog_native_sink_refuses_policy_race(spark, tmp_path, monkeypatch):
    """A CHECK constraint landing between the sink batch's policy
    snapshot and its commit must conflict the batch (the staged file
    was validated against the pre-constraint policy — ADVICE r6 #2's
    sink wiring), with the stage reclaimed."""
    import pyarrow as pa

    from aiports_data_warehouse_etl_spark.sources.txlog_sink import (
        _TxLogStreamWriter,
    )

    path = str(tmp_path / "t")
    t = TxLogTable(spark, path)
    t.append(spark.createDataFrame([(1, 1.0)], "id long, v double"))
    w = _TxLogStreamWriter({"path": path}, t.read().schema)
    msg = w.write(
        iter([pa.RecordBatch.from_pydict({"id": [2], "v": [2.0]})])
    )
    orig = TxLogTable._try_commit
    state = {"done": False}

    def racy(self, version, commit):
        if (
            not state["done"]
            and commit.get("op") == "append"
            and self.spark is None  # the sink's own metadata handle
        ):
            state["done"] = True
            t.add_check("v_pos", "v > 0")  # takes this commit's slot
        return orig(self, version, commit)

    monkeypatch.setattr(TxLogTable, "_try_commit", racy)
    with pytest.raises(TxConflict, match="set_constraint"):
        w.commit([msg], 0)
    monkeypatch.undo()
    assert state["done"]
    assert t.read().count() == 1, "conflicted batch must leave no rows"
    staging = os.path.join(path, "_staging")
    assert not os.path.exists(staging) or not os.listdir(staging)


def test_txlog_native_sink_validates_constraints(spark, tmp_path):
    from aiports_data_warehouse_etl_spark.sources.txlog import (
        ConstraintViolation,
    )

    ingest = str(tmp_path / "in")
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    t = TxLogTable(spark, table)
    t.append(
        spark.createDataFrame([(1, 1.0)], "id long, v double")
    )
    t.add_check("v_pos", "v > 0")
    spark.createDataFrame(
        [(2, -5.0)], "id long, v double"
    ).coalesce(1).write.parquet(ingest)
    q = _sink_stream(spark, ingest, table, ckpt)
    with pytest.raises(Exception) as ei:
        q.awaitTermination(120)
    assert "v_pos" in str(ei.value)
    assert t.read().count() == 1, "violating batch must leave no rows"
    staging = os.path.join(table, "_staging")
    assert not os.path.exists(staging) or not os.listdir(staging)


# -- SQL DML frontend (sources/txsql.py) --------------------------------


@pytest.fixture()
def txsql(spark, tbl):
    from aiports_data_warehouse_etl_spark.sources.txsql import TxSql

    df = spark.createDataFrame(
        [(i, float(i), "A" if i % 2 == 0 else "B") for i in range(100)],
        "id long, v double, g string",
    )
    tbl.append(df)
    tx = TxSql(spark)
    tx.register("t", tbl)
    return tx


def test_txsql_update_delete_select(spark, txsql, tbl):
    v = txsql.sql("UPDATE t SET v = v + 1000 WHERE id < 10")
    assert v == 1
    txsql.sql("DELETE FROM t WHERE id >= 90;")
    got = txsql.sql("SELECT count(*) AS n, sum(v) AS s FROM t").collect()[0]
    assert got["n"] == 90
    assert got["s"] == pytest.approx(sum(range(90)) + 10 * 1000)
    # time travel through the SQL surface
    old = txsql.sql(
        "SELECT count(*) AS n FROM t FOR VERSION AS OF 0"
    ).collect()[0]
    assert old["n"] == 100


def test_txsql_update_simultaneous_and_quoted_commas(spark, txsql, tbl):
    """SET list splitting respects parens and string literals; the
    swap semantics come from update_where underneath."""
    txsql.sql(
        "UPDATE t SET v = id + 0.0, g = concat(g, ',x') "
        "WHERE id IN (1, 2)"
    )
    rows = {
        r["id"]: (r["v"], r["g"])
        for r in tbl.read().filter("id <= 2").collect()
    }
    assert rows[1] == (1.0, "B,x") and rows[2] == (2.0, "A,x")
    assert rows[0][1] in ("A", "B")  # untouched


def test_txsql_insert_values_and_select(spark, txsql, tbl):
    txsql.sql("INSERT INTO t VALUES (1000, 1.5, 'Z'), (1001, 2.5, 'Z')")
    assert tbl.read().filter("g = 'Z'").count() == 2
    # INSERT INTO ... SELECT re-reading the same table through SQL
    txsql.sql(
        "INSERT INTO t SELECT id + 2000 AS id, v, 'Y' AS g FROM t "
        "WHERE g = 'Z'"
    )
    assert tbl.read().filter("g = 'Y'").count() == 2
    got = {
        r["id"] for r in tbl.read().filter("g = 'Y'").collect()
    }
    assert got == {3000, 3001}


def test_txsql_merge_full_statement(spark, txsql, tbl):
    spark.createDataFrame(
        [(5, 500.0, "A"), (6, 600.0, "A"), (999, 9.0, "N")],
        "id long, v double, g string",
    ).createOrReplaceTempView("updates")
    txsql.sql(
        "MERGE INTO t AS t USING updates AS s ON t.id = s.id "
        "WHEN MATCHED AND t.id = 6 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT"
    )
    got = {r["id"]: r["v"] for r in tbl.read().collect()}
    assert got[5] == 500.0, "matched row updates"
    assert 6 not in got, "delete clause fires first"
    assert got[999] == 9.0, "not-matched row inserts"
    assert len(got) == 100  # 100 - 1 delete + 1 insert


def test_txsql_merge_refuses_delete_after_update(spark, txsql, tbl):
    """ANSI/Delta fire MATCHED clauses in WRITTEN order; the engine
    always evaluates DELETE first — so a DELETE clause written AFTER
    an UPDATE clause is refused loudly rather than silently deleting
    rows the written order says to update (ADVICE r6 #4)."""
    spark.createDataFrame(
        [(5, 500.0, "A")], "id long, v double, g string"
    ).createOrReplaceTempView("upd_order")
    with pytest.raises(ValueError, match="BEFORE the UPDATE"):
        txsql.sql(
            "MERGE INTO t AS t USING upd_order AS s ON t.id = s.id "
            "WHEN MATCHED AND t.v < 10 THEN UPDATE SET v = s.v "
            "WHEN MATCHED AND t.v >= 10 THEN DELETE"
        )
    # written delete-first matches engine evaluation order: accepted
    txsql.sql(
        "MERGE INTO t AS t USING upd_order AS s ON t.id = s.id "
        "WHEN MATCHED AND t.v >= 1000 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    assert tbl.read().filter("id = 5").collect()[0]["v"] == 500.0


def test_txsql_merge_subquery_source_and_conditions(spark, txsql, tbl):
    txsql.sql(
        "MERGE INTO t USING "
        "(SELECT id, v * 10 AS v, g FROM t WHERE id < 4) AS s "
        "ON t.id = s.id "
        "WHEN MATCHED AND t.id % 2 = 1 THEN UPDATE SET v = s.v"
    )
    got = {r["id"]: r["v"] for r in tbl.read().filter("id < 4").collect()}
    assert got == {0: 0.0, 1: 10.0, 2: 2.0, 3: 30.0}


def test_txsql_loud_refusals(spark, txsql):
    with pytest.raises(ValueError, match="unsupported statement"):
        txsql.sql("DROP TABLE t")
    with pytest.raises(ValueError, match="unknown table"):
        txsql.sql("DELETE FROM nope WHERE 1 = 1")
    with pytest.raises(ValueError, match="expected 'DELETE"):
        txsql.sql("DELETE FROM t")  # unbounded delete must be explicit
    with pytest.raises(ValueError, match="conjunction"):
        txsql.sql(
            "MERGE INTO t USING t AS s ON t.id > s.id "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(ValueError, match="expected 'UPDATE"):
        txsql.sql("UPDATE t SET WHERE id = 1")
    with pytest.raises(ValueError, match="cannot parse SET"):
        txsql.sql("UPDATE t SET v + 1 WHERE id = 1")


def test_txsql_maintenance_statements(spark, txsql, tbl, tmp_path):
    """OPTIMIZE / VACUUM / DESCRIBE HISTORY / RESTORE / CREATE TABLE
    AS SELECT route to the table-format maintenance surface."""
    # fragment the table (UPDATE + a second small APPEND — r11: COW
    # rewrites repack to O(rewritten-bytes) files, so the UPDATE alone
    # no longer fragments), then OPTIMIZE bin-packs it
    txsql.sql("UPDATE t SET v = v + 1 WHERE id % 2 = 0")
    tbl.append(
        spark.createDataFrame(
            [(100 + i, 0.0, "A") for i in range(4)],
            "id long, v double, g string",
        )
    )
    n_files_before = len(tbl._snapshot()["files"])
    assert n_files_before >= 2
    txsql.sql("OPTIMIZE t")
    assert len(tbl._snapshot()["files"]) < n_files_before
    total = tbl.read().count()
    assert total == 104
    # DESCRIBE HISTORY is a DataFrame over the commit log
    h = txsql.sql("DESCRIBE HISTORY t")
    assert h.filter("op = 'compact'").count() == 1
    # RESTORE rolls back to the pre-update snapshot
    txsql.sql("RESTORE t TO VERSION AS OF 0")
    assert tbl.read().agg(F.sum("v")).collect()[0][0] == pytest.approx(
        sum(range(100))
    )
    # CREATE TABLE AS SELECT seeds + registers a new table
    txsql.sql(
        f"CREATE TABLE t2 PATH '{tmp_path / 'u'}' AS "
        "SELECT id, v FROM t WHERE id < 10"
    )
    assert txsql.sql("SELECT count(*) AS n FROM t2").collect()[0]["n"] == 10
    # VACUUM runs (the 600 s safety grace window keeps just-written
    # files, so the reclaim list is empty here — the grace behavior
    # itself is pinned by test_vacuum_*)
    gone = txsql.sql("VACUUM t")
    assert isinstance(gone, list)
    assert tbl.read().count() == 100


# -- optimistic conflict resolution (write-serializable rebase) --------


def test_write_serializable_rebase_and_conflict(spark, tbl):
    """Delta conflict matrix: an UPDATE computed on an older snapshot
    lands over a concurrent blind append by REBASING (file sets are
    disjoint); the concurrently appended rows survive untouched even
    where they match the predicate (write-serializable, not
    serializable); a concurrent REWRITE still raises TxConflict."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "id long, v double"
    )
    tbl.append(df)  # v0
    other = TxLogTable(spark, tbl.path)
    late = spark.createDataFrame(
        [(1, -1.0), (100, -1.0)], "id long, v double"
    )
    orig = tbl._try_commit
    injected = []

    def racy(version, commit):
        if not injected and commit.get("op") == "update":
            injected.append(1)
            assert other.append(late) == version  # steals the slot
        return orig(version, commit)

    tbl._try_commit = racy
    v = tbl.update_where("id < 5", {"v": "v + 1000"})
    assert injected and v == 2
    assert tbl._read_commit(v).get("rebased_onto") == 1
    got = {(r["id"], r["v"]) for r in tbl.read().collect()}
    assert (1, 1001.0) in got, "snapshot row updated"
    assert (1, -1.0) in got, "concurrent insert untouched by rebase"
    assert (100, -1.0) in got
    assert tbl.read().count() == 42

    # concurrent rewrite: refuse loudly, never rebase
    def racy2(version, commit):
        if len(injected) == 1 and commit.get("op") == "delete":
            injected.append(2)
            other.delete_where("id = 7")
        return orig(version, commit)

    tbl._try_commit = racy2
    with pytest.raises(TxConflict, match="only blind appends"):
        tbl.delete_where("id < 5")
    tbl._try_commit = orig
    assert tbl.read().filter("id = 7").count() == 0  # other's delete held


def test_rebase_preserves_concurrent_schema_evolution(spark, tbl):
    """A rebased commit must never narrow an additive schema
    evolution that landed concurrently: the intervening append's
    wider schema wins, and the rebased MERGE's own (older) schema
    record is dropped."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, v double"
    )
    tbl.append(df)
    other = TxLogTable(spark, tbl.path)
    wide = spark.createDataFrame(
        [(100, 1.0, "x")], "id long, v double, extra string"
    )
    orig = tbl._try_commit
    injected = []

    def racy(version, commit):
        if not injected and commit.get("op") == "merge":
            injected.append(1)
            other.append(wide)
        return orig(version, commit)

    tbl._try_commit = racy
    src = spark.createDataFrame([(3, 333.0)], "id long, v double")
    tbl.merge(src, keys=["id"], update_set={"v": "s.v"})
    tbl._try_commit = orig
    assert injected
    snap_schema = tbl._snapshot()["schema"]
    assert "extra" in snap_schema, "rebase must not narrow the schema"
    got = tbl.read()
    assert "extra" in got.columns
    assert got.filter("id = 3").collect()[0]["v"] == 333.0
    assert got.filter("id = 100").count() == 1


# -- generated columns --------------------------------------------------


def test_generated_column_compute_validate_and_update(spark, tbl):
    """Writers that omit a generated column get it computed; writers
    that supply it get it validated; UPDATE refuses direct assignment
    and recomputes after SET, so the generated value can never go
    stale."""
    from aiports_data_warehouse_etl_spark.sources.txlog import (
        ConstraintViolation,
    )

    tbl.append(
        spark.createDataFrame(
            [(1, 10.0, 20.0)], "id long, v double, v2 double"
        )
    )
    tbl.add_generated_column("v2", "v * 2")
    # absent -> computed
    tbl.append(spark.createDataFrame([(2, 5.0)], "id long, v double"))
    got = {r["id"]: r["v2"] for r in tbl.read().collect()}
    assert got == {1: 20.0, 2: 10.0}
    # supplied-but-wrong -> rejected
    with pytest.raises(ConstraintViolation, match="GENERATED"):
        tbl.append(
            spark.createDataFrame(
                [(3, 1.0, 999.0)], "id long, v double, v2 double"
            )
        )
    # supplied-and-right -> accepted
    tbl.append(
        spark.createDataFrame(
            [(4, 3.0, 6.0)], "id long, v double, v2 double"
        )
    )
    # UPDATE of the base column recomputes the generated one
    with pytest.raises(ValueError, match="GENERATED"):
        tbl.update_where("id = 2", {"v2": "0.0"})
    tbl.update_where("id = 2", {"v": "v + 100"})
    row = tbl.read().filter("id = 2").collect()[0]
    assert row["v"] == 105.0 and row["v2"] == 210.0
    # MoR UPDATE path recomputes too
    tbl.update_where_mor("id = 4", {"v": "v * 10"})
    row = tbl.read().filter("id = 4").collect()[0]
    assert row["v"] == 30.0 and row["v2"] == 60.0


def test_generated_column_merge_and_registration_rules(spark, tbl):
    from aiports_data_warehouse_etl_spark.sources.txlog import (
        ConstraintViolation,
    )

    tbl.append(
        spark.createDataFrame(
            [(1, 10.0, 20.0), (2, 1.0, 2.0)],
            "id long, v double, v2 double",
        )
    )
    # registering a lie is refused; registering truth is accepted
    with pytest.raises(ConstraintViolation):
        tbl.add_generated_column("v2", "v * 3")
    with pytest.raises(ValueError, match="does not exist"):
        tbl.add_generated_column("nope", "v * 2")
    tbl.add_generated_column("v2", "v * 2")
    # MERGE: source omits v2 -> computed for inserts; update SET of a
    # generated column refused; update of v recomputes v2
    with pytest.raises(ValueError, match="GENERATED"):
        tbl.merge(
            spark.createDataFrame([(1, 0.0)], "id long, v double"),
            keys=["id"],
            update_set={"v2": "s.v"},
        )
    tbl.merge(
        spark.createDataFrame(
            [(1, 50.0), (9, 9.0)], "id long, v double"
        ),
        keys=["id"],
        update_set={"v": "s.v"},
    )
    got = {r["id"]: (r["v"], r["v2"]) for r in tbl.read().collect()}
    assert got[1] == (50.0, 100.0), "merge update recomputes"
    assert got[9] == (9.0, 18.0), "merge insert computes"
    assert got[2] == (1.0, 2.0)
    # survives checkpointed replay (checkpoint_every=4 in the fixture)
    t2 = TxLogTable(spark, tbl.path)
    assert t2._snapshot()["generated"] == {"v2": "v * 2"}
    tbl.drop_generated_column("v2")
    assert tbl._snapshot()["generated"] == {}


def test_generated_column_native_sink_validates(spark, tmp_path):
    table = str(tmp_path / "t")
    t = TxLogTable(spark, table)
    t.append(
        spark.createDataFrame([(1, 2.0, 4.0)], "id long, v double, v2 double")
    )
    t.add_generated_column("v2", "v * 2")
    ok_dir = str(tmp_path / "ok")
    spark.createDataFrame(
        [(2, 3.0, 6.0)], "id long, v double, v2 double"
    ).coalesce(1).write.parquet(ok_dir)
    q = _sink_stream_wide(spark, ok_dir, table, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    assert t.read().count() == 2
    bad_dir = str(tmp_path / "bad")
    spark.createDataFrame(
        [(3, 3.0, 999.0)], "id long, v double, v2 double"
    ).coalesce(1).write.parquet(bad_dir)
    q = _sink_stream_wide(spark, bad_dir, table, str(tmp_path / "ck2"))
    with pytest.raises(Exception) as ei:
        q.awaitTermination(120)
    assert "__generated_v2" in str(ei.value)
    assert t.read().count() == 2


def _sink_stream_wide(spark, ingest, table, ckpt):
    from aiports_data_warehouse_etl_spark.sources.txlog_sink import (
        register_txlog_sink,
    )

    register_txlog_sink(spark)
    return (
        spark.readStream.schema("id long, v double, v2 double")
        .parquet(ingest)
        .writeStream.format("txlog")
        .option("path", table)
        # each independent query needs its own txn app id — batch ids
        # restart at 0 per checkpoint, and the marker dedup would
        # otherwise swallow a DIFFERENT query's batch 0
        .option("txn_app", f"test:{ckpt}")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def test_txsql_changes_table_valued(spark, txsql, tbl):
    """CHANGES(t, v0, v1) in a SELECT exposes the change feed as a
    table-valued source through the SQL surface."""
    txsql.sql("UPDATE t SET v = v + 1000 WHERE id < 3")
    out = txsql.sql(
        "SELECT _change_type, count(*) AS n FROM CHANGES(t, 0, 1) "
        "WHERE id < 3 GROUP BY _change_type ORDER BY _change_type"
    ).collect()
    got = {r["_change_type"]: r["n"] for r in out}
    assert got == {"delete": 3, "insert": 3}


def test_write_stream_upsert_folds_changelog(spark, tbl, tmp_path):
    """A changelog stream upserts into its current-state table; a
    restart with no new input replays nothing (upsert idempotence)."""
    tbl.append(
        spark.createDataFrame(
            [(i, 0.0) for i in range(10)], "id long, v double"
        )
    )
    ingest = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame(
        [(3, 33.0), (4, 44.0), (100, 1.0)], "id long, v double"
    ).coalesce(1).write.parquet(ingest)
    src = spark.readStream.schema("id long, v double").parquet(ingest)
    tbl.write_stream_upsert(src, ckpt, keys=["id"]).awaitTermination(120)
    got = {r["id"]: r["v"] for r in tbl.read().collect()}
    assert got[3] == 33.0 and got[4] == 44.0 and got[100] == 1.0
    assert len(got) == 11
    # restart, no new files: nothing re-merges
    v = tbl.latest_version()
    src2 = spark.readStream.schema("id long, v double").parquet(ingest)
    tbl.write_stream_upsert(src2, ckpt, keys=["id"]).awaitTermination(120)
    assert tbl.latest_version() == v
    assert tbl.read().count() == 11


# -- RENAME COLUMN (metadata-only column mapping) -----------------------


def test_rename_column_metadata_only(spark, tbl):
    """RENAME COLUMN rewrites no data files: pre-rename files keep
    their physical names on disk, the snapshot read resolves both
    epochs into one logical view, and time travel before the rename
    still shows the old name."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "id long, val double"
    )
    tbl.append(df.repartition(2))  # v0: epoch-0 files
    files_before = set(tbl._snapshot()["files"])
    v = tbl.rename_column("val", "amount")
    assert set(tbl._snapshot()["files"]) == files_before, "no rewrites"
    got = tbl.read()
    assert got.columns == ["id", "amount"]
    assert got.agg(F.sum("amount")).collect()[0][0] == sum(range(50))
    # post-rename append writes the NEW physical name; both unify
    tbl.append(
        spark.createDataFrame([(100, 1.5)], "id long, amount double")
    )
    got = tbl.read()
    assert got.count() == 51
    assert got.filter("amount = 1.5").collect()[0]["id"] == 100
    # time travel: the pre-rename version still reads as 'val'
    assert tbl.read(version=v - 1).columns == ["id", "val"]


def test_rename_column_dml_pruning_and_compact_upgrade(spark, tbl):
    """DML predicates on the NEW name reach pre-rename files; stats
    pruning translates the logical prune column to each file's
    physical name; compact() upgrades old files to current names,
    unblocking add_bloom_index."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, val double"
    )
    tbl.append(df, cluster_by=["id"], cluster_partitions=4)
    tbl.rename_column("val", "amount")
    # UPDATE through the new name touches old-epoch files
    tbl.update_where("amount < 10", {"amount": "amount + 1000"})
    got = tbl.read()
    assert got.filter("amount >= 1000").count() == 10
    # prune on the RENAMED clustered column... prune key is logical
    pruned = tbl.read(prune={"id": (90, 95)})
    assert pruned.filter("id BETWEEN 90 AND 95").count() == 6
    # bloom on a column whose old files carry the old physical name
    with pytest.raises(ValueError, match="compact"):
        tbl.add_bloom_index("amount")
    tbl.compact(target_file_bytes=1 << 30)
    tbl.add_bloom_index("amount")  # post-compact: all files current
    assert tbl.read().count() == 100


def test_rename_column_rename_of_clustered_prune_col(spark, tbl):
    """Pruning on a column that was ITSELF renamed: the logical name
    translates per-file to the old physical name, so stats pruning
    still skips files."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "k long, v double"
    )
    tbl.append(df, cluster_by=["k"], cluster_partitions=5)
    n_files = len(tbl._snapshot()["files"])
    tbl.rename_column("k", "key")
    snap = tbl._snapshot()
    rn, fe = snap["renames"], snap["file_epoch"]
    # metadata-level check: the prune translation keeps only a strict
    # subset of files for a narrow range on the renamed column
    from aiports_data_warehouse_etl_spark.sources.txlog import (
        _physical_name,
        _stats_may_match,
    )

    kept = [
        rel
        for rel, st in snap["files"].items()
        if _stats_may_match(
            st,
            {_physical_name("key", int(fe[rel]), rn): (0, 100)},
        )
    ]
    assert 0 < len(kept) < n_files, "translated prune must skip files"
    got = tbl.read(prune={"key": (0, 100)})
    assert got.filter("key <= 100").count() == 101


def test_rename_column_guards(spark, tbl):
    df = spark.createDataFrame([(1, 2.0)], "id long, val double")
    tbl.append(df)
    with pytest.raises(ValueError, match="no column"):
        tbl.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        tbl.rename_column("val", "id")
    tbl.add_check("val_pos", "val > 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        tbl.rename_column("val", "amount")
    tbl.drop_check("val_pos")
    tbl.add_bloom_index("val")
    with pytest.raises(ValueError, match="bloom"):
        tbl.rename_column("val", "amount")
    tbl.drop_bloom_index("val")
    tbl.rename_column("val", "amount")
    assert tbl.read().columns == ["id", "amount"]


def test_rename_column_change_feed_lifts_to_final_names(spark, tbl):
    """A feed crossing the rename emits everything under the names at
    to_version, so a signed fold cancels exactly."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, val double"
    )
    tbl.append(df.coalesce(1))           # v0
    tbl.delete_where("id >= 18")          # v1 (pre-rename rewrite)
    tbl.rename_column("val", "amount")    # v2
    tbl.update_where("id < 3", {"amount": "amount + 100"})  # v3
    ch = tbl.changes(-1, tbl.latest_version())
    assert "amount" in ch.columns and "val" not in ch.columns
    net = {
        r["id"]: r["net"]
        for r in ch.groupBy("id")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("net")
        )
        .collect()
    }
    live = {r["id"] for r in tbl.read().collect()}
    assert all(n in (0, 1) for n in net.values()), f"negative: {net}"
    assert {i for i, n in net.items() if n == 1} == live
    s = ch.filter("_change_type = 'insert'").agg(
        F.sum("amount")
    ).collect()[0][0]
    assert s is not None  # values actually landed under 'amount'


def test_rename_column_streaming_cdf(spark, tbl, tmp_path):
    """The streaming CDF source applies per-file rename chains (a
    pre-rename file emits under the declared post-rename schema), and
    a rename landing AFTER the stream started fails loudly."""
    from aiports_data_warehouse_etl_spark.sources.txlog_stream import (
        register_txlog_cdf,
    )

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(30)], "id long, val double"
    )
    tbl.append(df.coalesce(1))
    tbl.rename_column("val", "amount")
    tbl.append(
        spark.createDataFrame([(100, 5.0)], "id long, amount double")
    )
    register_txlog_cdf(spark)
    out = str(tmp_path / "out")
    (
        spark.readStream.format("txlog_cdf")
        .option("path", tbl.path)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = spark.read.parquet(out)
    assert "amount" in got.columns
    assert got.count() == 31
    assert got.agg(F.sum("amount")).collect()[0][0] == pytest.approx(
        sum(range(30)) + 5.0
    )
    # mid-stream rename: new reader constructed BEFORE the rename
    # must refuse the commit
    from aiports_data_warehouse_etl_spark.sources.txlog_stream import (
        _TxLogCDFReader,
    )

    reader = _TxLogCDFReader({"path": tbl.path})
    tbl.rename_column("amount", "price")
    with pytest.raises(ValueError, match="restart the streaming query"):
        reader.partitions(
            {"v": -1}, {"v": tbl.latest_version()}
        )


def test_rename_column_clone_and_restore(spark, tbl, tmp_path):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, val double"
    )
    tbl.append(df)                       # v0 (epoch 0)
    v_pre = tbl.latest_version()
    tbl.rename_column("val", "amount")   # v1
    tbl.append(
        spark.createDataFrame([(50, 5.0)], "id long, amount double")
    )                                    # v2 (epoch 1)
    # clone carries the mapping + per-file epochs
    c = tbl.shallow_clone(str(tmp_path / "c"))
    got = c.read()
    assert got.columns == ["id", "amount"] and got.count() == 11
    # restore to the pre-rename version reverts schema AND mapping
    tbl.restore(v_pre)
    got = tbl.read()
    assert got.columns == ["id", "val"] and got.count() == 10
    # and a post-restore re-rename works from the reverted state
    tbl.rename_column("val", "price")
    assert tbl.read().columns == ["id", "price"]


def test_txsql_alter_rename(spark, txsql, tbl):
    txsql.sql("ALTER TABLE t RENAME COLUMN v TO score")
    got = txsql.sql(
        "SELECT round(sum(score), 1) AS s FROM t"
    ).collect()[0]["s"]
    assert got == float(sum(range(100)))
    with pytest.raises(ValueError, match="supported ALTER forms"):
        txsql.sql("ALTER TABLE t ADD COLUMN x INT")


def test_drop_column_metadata_only_and_readd(spark, tbl):
    """DROP COLUMN rewrites nothing; the name frees immediately for a
    fresh additive column, and old files' buried values can never
    resurface under it; time travel before the drop still reads it;
    compact purges the tombstone physically."""
    df = spark.createDataFrame(
        [(i, float(i), f"s{i}") for i in range(20)],
        "id long, v double, tag string",
    )
    tbl.append(df.repartition(2))
    files_before = set(tbl._snapshot()["files"])
    v = tbl.drop_column("tag")
    assert set(tbl._snapshot()["files"]) == files_before, "no rewrites"
    got = tbl.read()
    assert got.columns == ["id", "v"]
    # time travel: pre-drop version still has the column
    assert tbl.read(version=v - 1).columns == ["id", "v", "tag"]
    # re-add the SAME name additively: old buried values stay buried
    tbl.append(
        spark.createDataFrame(
            [(100, 1.0, "NEW")], "id long, v double, tag string"
        )
    )
    got = tbl.read()
    tags = {r["tag"] for r in got.collect()}
    assert tags == {None, "NEW"}, f"buried values resurfaced: {tags}"
    assert got.count() == 21
    # compact purges the tombstone from the physical files
    tbl.compact(target_file_bytes=1 << 30)
    import pyarrow.parquet as pq

    snap = tbl._snapshot()
    for rel in snap["files"]:
        cols = pq.ParquetFile(
            os.path.join(tbl.path, rel)
        ).schema_arrow.names
        assert not any(c.startswith("__dropped_") for c in cols)
    assert tbl.read().count() == 21


def test_drop_column_feed_and_sql(spark, txsql, tbl):
    """The change feed never emits tombstone columns, and the SQL
    frontend routes ALTER TABLE ... DROP COLUMN."""
    txsql.sql("ALTER TABLE t DROP COLUMN g")
    assert tbl.read().columns == ["id", "v"]
    txsql.sql("UPDATE t SET v = v + 1 WHERE id < 5")
    ch = tbl.changes(-1, tbl.latest_version())
    assert not [c for c in ch.columns if c.startswith("__dropped_")]
    assert "g" not in ch.columns  # lifted into the tombstone, excluded
    net = {
        r["id"]: r["net"]
        for r in ch.groupBy("id")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("net")
        )
        .collect()
    }
    assert all(n in (0, 1) for n in net.values())


# -- identity columns (GENERATED ALWAYS AS IDENTITY) --------------------


def test_identity_assignment_unique_and_guarded(spark, tbl):
    """Appends omitting the identity column get globally-unique ids
    (disjoint reserved ranges across commits); supplying the column
    or SETting it is refused (ALWAYS)."""
    empty = spark.createDataFrame([], "uid long, v double")
    tbl.append(empty)
    tbl.add_identity_column("uid", start=10, step=2)
    tbl.append(spark.createDataFrame([(float(i),) for i in range(40)], "v double"))
    tbl.append(spark.createDataFrame([(float(i),) for i in range(25)], "v double"))
    got = tbl.read()
    ids = [r["uid"] for r in got.select("uid").collect()]
    assert len(ids) == 65 and len(set(ids)) == 65, "ids must be unique"
    assert min(ids) == 10 and all((i - 10) % 2 == 0 for i in ids)
    assert max(ids) == 10 + 2 * 64  # dense: no crash-gaps in this run
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS IDENTITY"):
        tbl.append(
            spark.createDataFrame([(999, 1.0)], "uid long, v double")
        )
    with pytest.raises(ValueError, match="IDENTITY"):
        tbl.update_where("v = 0.0", {"uid": "0"})
    # policy survives checkpointed replay (checkpoint_every=4)
    t2 = TxLogTable(spark, tbl.path)
    assert "uid" in t2._snapshot()["identity"]


def test_identity_concurrent_reservations_disjoint(spark, tbl):
    """A reservation race retries from a fresh high-water mark: two
    writers interleaving never share ids, and a reservation commit
    landing mid-DML does NOT conflict DML rebases (pure metadata)."""
    tbl.append(spark.createDataFrame([], "uid long, v double"))
    tbl.add_identity_column("uid")
    other = TxLogTable(spark, tbl.path)
    orig = tbl._try_commit
    injected = []

    def racy(version, commit):
        if not injected and commit.get("op") == "reserve_identity":
            injected.append(1)
            # the other writer reserves + appends first
            other.append(
                spark.createDataFrame([(9.0,), (8.0,)], "v double")
            )
        return orig(version, commit)

    tbl._try_commit = racy
    tbl.append(spark.createDataFrame([(1.0,), (2.0,)], "v double"))
    tbl._try_commit = orig
    assert injected
    ids = [r["uid"] for r in tbl.read().collect()]
    assert len(ids) == 4 and len(set(ids)) == 4, f"id collision: {ids}"
    # reserve commits are rebase-transparent for DML
    tbl.delete_where("v = 9.0")
    assert tbl.read().count() == 3


def test_identity_race_between_snapshot_and_commit(spark, tbl):
    """The reservation commit must target the version of the SNAPSHOT
    the high-water mark was read from. A concurrent reservation that
    lands after this writer's snapshot but before its commit must
    force a retry — committing at a re-read latest_version()+1 would
    succeed with a stale 'from' and hand both writers the same id
    range (ADVICE r6 #1: the window the older test never hit, because
    it injected only after the commit version was already computed)."""
    tbl.append(spark.createDataFrame([], "uid long, v double"))
    tbl.add_identity_column("uid")
    other = TxLogTable(spark, tbl.path)
    orig_snap = tbl._snapshot
    injected = []

    def racy_snapshot(version=None):
        snap = orig_snap(version)
        if not injected and version is None:
            injected.append(1)
            # the other writer's reservation lands INSIDE the window
            other._reserve_identity("uid", 5)
        return snap

    tbl._snapshot = racy_snapshot
    first, step = tbl._reserve_identity("uid", 3)
    tbl._snapshot = orig_snap
    assert injected
    other_first = 1  # other reserved [1, 1+5) before ours committed
    ours = set(range(first, first + 3 * step, step))
    theirs = set(range(other_first, other_first + 5 * step, step))
    assert not ours & theirs, f"overlapping id ranges: {ours & theirs}"
    assert first == 6, f"stale high-water mark survived: from={first}"


def test_identity_seeds_from_existing_and_merge_inserts(spark, tbl):
    df = spark.createDataFrame(
        [(1, 1.0), (7, 2.0)], "uid long, v double"
    )
    tbl.append(df)
    tbl.add_identity_column("uid", start=1, step=1)
    # seeded past the existing max
    src = spark.createDataFrame([(3.0,), (4.0,)], "v double")
    with pytest.raises(ValueError, match="IDENTITY"):
        tbl.merge_upsert(
            spark.createDataFrame([(5.0,)], "v double"), keys=["v"]
        )
    tbl.merge(src, keys=["v"], update_set=None, insert=True)
    got = {r["uid"]: r["v"] for r in tbl.read().collect()}
    assert got[1] == 1.0 and got[7] == 2.0, "existing ids untouched"
    new_ids = sorted(set(got) - {1, 7})
    assert new_ids == [8, 9], f"seed must start past max: {new_ids}"
    # rows keep their ids through an UPDATE of another column
    id_of_3 = {r["v"]: r["uid"] for r in tbl.read().collect()}[3.0]
    tbl.update_where("v = 3.0", {"v": "v + 100"})
    got = {r["v"]: r["uid"] for r in tbl.read().collect()}
    assert got[103.0] == id_of_3, "row keeps its id through UPDATE"


def test_identity_native_sink_refuses(spark, tbl, tmp_path):
    tbl.append(spark.createDataFrame([], "uid long, v double"))
    tbl.add_identity_column("uid")
    ingest = str(tmp_path / "in")
    spark.createDataFrame([(1.0,)], "v double").write.parquet(ingest)
    from aiports_data_warehouse_etl_spark.sources.txlog_sink import (
        register_txlog_sink,
    )

    register_txlog_sink(spark)
    q = (
        spark.readStream.schema("v double")
        .parquet(ingest)
        .writeStream.format("txlog")
        .option("path", tbl.path)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception) as ei:
        q.awaitTermination(120)
    assert "IDENTITY" in str(ei.value)
    assert tbl.read().count() == 0


def test_txsql_ddl_constraint_generated_identity(spark, txsql, tbl):
    """The SQL frontend routes the full DDL surface: CHECK
    constraints, generated columns, identity columns."""
    from aiports_data_warehouse_etl_spark.sources.txlog import (
        ConstraintViolation,
    )

    txsql.sql("ALTER TABLE t ADD CONSTRAINT v_small CHECK (v < 1000)")
    with pytest.raises(ConstraintViolation, match="v_small"):
        txsql.sql("INSERT INTO t VALUES (500, 5000.0, 'X')")
    txsql.sql("ALTER TABLE t DROP CONSTRAINT v_small")
    txsql.sql("INSERT INTO t VALUES (500, 5000.0, 'X')")
    assert tbl.read().count() == 101
    # generated column over the existing data (register truth)
    txsql.sql(
        "ALTER TABLE t ALTER COLUMN v SET GENERATED AS (v * 1.0)"
    )
    assert tbl._snapshot()["generated"] == {"v": "v * 1.0"}
    tbl.drop_generated_column("v")
    # identity on a fresh table through SQL end-to-end
    txsql.sql(
        f"CREATE TABLE t3 PATH '{tbl.path}_t3' AS "
        "SELECT CAST(NULL AS LONG) AS uid, v FROM t WHERE 1 = 0"
    )
    txsql.sql(
        "ALTER TABLE t3 ALTER COLUMN uid SET IDENTITY (START 5 STEP 5)"
    )
    txsql.sql("INSERT INTO t3 SELECT v FROM t WHERE id < 10")
    ids = sorted(
        r["uid"] for r in txsql.sql("SELECT uid FROM t3").collect()
    )
    assert ids == list(range(5, 55, 5))


# -- conflict-path staging reclaim + log-tmp vacuum (ADVICE r7) --------


def _staged_tokens(tbl):
    data_root = os.path.join(tbl.path, "data")
    staging = os.path.join(tbl.path, "_staging")
    committed = tbl._committed_tokens(tbl.latest_version())
    orphans = (
        {d for d in os.listdir(data_root) if d not in committed}
        if os.path.isdir(data_root)
        else set()
    )
    markers = set(os.listdir(staging)) if os.path.isdir(staging) else set()
    return orphans, markers - committed


_ROWS = "id long, v double, g string"


def _rows(spark, *ids):
    return spark.createDataFrame(
        [(i, float(i), "A" if i < 20 else "B") for i in ids], _ROWS
    )


def _after_first_stage(monkeypatch, tbl, action):
    """Run ``action`` once, right after the write's first ``_stage``."""
    orig, fired = tbl._stage, []

    def stage(df):
        out = orig(df)
        if not fired:
            fired.append(action())
        return out

    monkeypatch.setattr(tbl, "_stage", stage)


def _race_delete(spark, tbl, monkeypatch):
    """A second instance lands a delete between stage and commit."""
    other = TxLogTable(spark, tbl.path)
    _after_first_stage(
        monkeypatch, tbl, lambda: other.delete_where("id = 39")
    )
    return lambda row: row[0] != 39  # the rows the racer leaves


def _race_rename(spark, tbl, monkeypatch):
    """A policy commit (rename) lands between stage and commit."""
    other = TxLogTable(spark, tbl.path)
    _after_first_stage(
        monkeypatch, tbl, lambda: other.rename_column("v", "v2")
    )
    return lambda row: True


def _lose_races(spark, tbl, monkeypatch):
    monkeypatch.setattr(tbl, "_try_commit", lambda v, c: False)
    return lambda row: True


def _no_race(spark, tbl, monkeypatch):
    return lambda row: True


#: case -> (arrange the failure, the write, expected error, message)
_RECLAIM_CASES = {
    "delete_where": (
        _race_delete, lambda sp, t: t.delete_where("id < 5"),
        TxConflict, "conflicting concurrent commit",
    ),
    "delete_where_dv": (
        _race_delete, lambda sp, t: t.delete_where_dv("id < 5"),
        TxConflict, "conflicting concurrent commit",
    ),
    "update_where": (
        _race_delete,
        lambda sp, t: t.update_where("id < 5", {"v": "v + 1"}),
        TxConflict, "conflicting concurrent commit",
    ),
    "update_where_mor": (
        _race_delete,
        lambda sp, t: t.update_where_mor("id < 5", {"v": "v + 1"}),
        TxConflict, "conflicting concurrent commit",
    ),
    "merge_upsert": (
        _race_delete,
        lambda sp, t: t.merge_upsert(_rows(sp, 1, 99), keys=["id"]),
        TxConflict, "conflicting concurrent commit",
    ),
    "merge": (
        _race_delete,
        lambda sp, t: t.merge(
            _rows(sp, 1).withColumn("v", F.lit(-1.0)), keys=["id"],
            update_set={"v": "s.v"},
        ),
        TxConflict, "conflicting concurrent commit",
    ),
    "replace_where": (
        _race_delete,
        lambda sp, t: t.replace_where(_rows(sp, 3), "g = 'A'"),
        TxConflict, "conflicting concurrent commit",
    ),
    "compact": (
        _race_delete, lambda sp, t: t.compact(),
        TxConflict, "conflicting concurrent commit",
    ),
    "overwrite": (
        _race_delete, lambda sp, t: t.overwrite(_rows(sp, 7)),
        TxConflict, "advanced past base snapshot",
    ),
    # ADVICE r13 #2: the staged DV must not leak when the SET
    # expression fails to resolve after the DV stage
    "update_where_mor_bad_set": (
        _no_race,
        lambda sp, t: t.update_where_mor(
            "id < 5", {"v": "no_such_col + 1"}
        ),
        AnalysisException, "no_such_col",
    ),
    # append exhausting its commit retries
    "append_lost_races": (
        _lose_races,
        lambda sp, t: t.append(_rows(sp, 50), max_retries=2),
        TxConflict, "lost 2 commit races",
    ),
    # concurrent rename since the append's policy snapshot
    "append_policy_conflict": (
        _race_rename, lambda sp, t: t.append(_rows(sp, 50)),
        TxConflict, "schema/policy",
    ),
    "append_batch_txn_lost_races": (
        _lose_races,
        lambda sp, t: t.append_batch_txn(
            _rows(sp, 50), "app", 1, max_retries=2
        ),
        TxConflict, "lost 2 commit races",
    ),
}


@pytest.mark.parametrize("case", sorted(_RECLAIM_CASES))
def test_staging_write_reclaims(spark, tbl, monkeypatch, case):
    """Every staging write that raises — a commit race it may not
    rebase over, exhausted retries, a bad expression after a stage —
    removes its staged data dirs AND ``_staging`` markers before it
    returns (the writer knows the stage is dead; nothing waits for
    vacuum's abandoned_seconds), and the table shows no trace of it."""
    arrange, write, exc, match = _RECLAIM_CASES[case]
    tbl.append(_rows(spark, *range(20)))
    tbl.append(_rows(spark, *range(20, 40)))
    pre = {tuple(r) for r in tbl.read().collect()}
    survives = arrange(spark, tbl, monkeypatch)
    with pytest.raises(exc, match=match):
        write(spark, tbl)
    monkeypatch.undo()
    orphans, markers = _staged_tokens(tbl)
    assert orphans == set(), f"staged data leaked: {orphans}"
    assert markers == set(), f"staging markers leaked: {markers}"
    got = {tuple(r) for r in tbl.read().collect()}
    assert got == {r for r in pre if survives(r)}


def test_vacuum_reaps_orphaned_log_tmp(spark, tbl):
    """A writer crashing between tmp-create and link/remove leaves
    <version>.json.tmp.<uuid> in _txlog/ — readers ignore it, but
    only vacuum can collect it (older than abandoned_seconds); a
    FRESH tmp (possibly an in-flight commit) must survive."""
    tbl.append(_orders(spark).limit(5))
    log_dir = os.path.join(tbl.path, "_txlog")
    old = os.path.join(log_dir, "00000000000000000009.json.tmp.dead")
    new = os.path.join(log_dir, "00000000000000000009.json.tmp.live")
    for p in (old, new):
        with open(p, "w") as fh:
            fh.write("{}")
    import time as _time

    back = _time.time() - 8 * 24 * 3600
    os.utime(old, (back, back))
    tbl.vacuum(grace_seconds=0.0)
    assert not os.path.exists(old), "abandoned log tmp not reaped"
    assert os.path.exists(new), "fresh (possibly in-flight) tmp reaped"
    os.remove(new)

def test_commit_surfaces_vacuum_reaped_tmp_as_txconflict(spark, tbl, monkeypatch):
    """ADVICE r8 #2: a writer stalled past abandoned_seconds between
    tmp-create and os.link gets its tmp reaped by a concurrent vacuum;
    os.link must surface that as a LOUD TxConflict, and the finally
    cleanup must not mask it with a second FileNotFoundError."""
    import aiports_data_warehouse_etl_spark.sources.txlog as txmod

    tbl.append(_orders(spark).limit(5))
    real_link = os.link

    def reaping_link(src, dst, **kw):
        if "/_txlog/" in src and ".tmp." in src:
            os.remove(src)  # simulate vacuum reaping the stalled tmp
        return real_link(src, dst, **kw)

    monkeypatch.setattr(txmod.os, "link", reaping_link)
    with pytest.raises(TxConflict, match="reaped by vacuum"):
        tbl.append(_orders(spark).limit(3))
    monkeypatch.undo()
    # the table is untouched and a fresh writer proceeds normally
    assert tbl.read().count() == 5
    tbl.append(_orders(spark).limit(3))
    assert tbl.read().count() == 8


# ---------------------------------------------------------------------------
# Data-skipping DML (r11): candidate discovery from footer stats
# ---------------------------------------------------------------------------

def test_ranges_from_predicate_extraction(spark):
    from aiports_data_warehouse_etl_spark.sources.txlog import (
        _ranges_from_predicate,
    )

    r = _ranges_from_predicate(spark, "a >= 5 AND a < 10 AND b = 'x'")
    assert r == {"a": (5, 10), "b": ("x", "x")}
    # flipped operand order
    assert _ranges_from_predicate(spark, "5 > a") == {"a": (None, 5)}
    # OR / arithmetic / BETWEEN / timestamp literals contribute nothing
    assert _ranges_from_predicate(spark, "a < 5 OR b = 1") == {}
    assert _ranges_from_predicate(spark, "id % 2 = 0") == {}
    assert _ranges_from_predicate(spark, "a BETWEEN 1 AND 9") == {}
    assert _ranges_from_predicate(
        spark, "ts < TIMESTAMP '2024-01-01'"
    ) == {}
    # understood conjuncts survive an opaque sibling
    assert _ranges_from_predicate(spark, "a < 5 AND id % 2 = 0") == {
        "a": (None, 5)
    }
    # unparseable input degrades to no-info, never raises
    assert _ranges_from_predicate(spark, "NOT A PREDICATE !!") == {}


def test_dml_candidate_pruning_skips_files(spark, tbl):
    """A slice DELETE on a key-clustered table must discover its hit
    files from the log's min/max stats WITHOUT opening the others
    (the r11 data-skipping path): candidates are a strict subset,
    the commit rewrites only the matching file, and an unprunable
    predicate degrades to the full scan."""
    o = _orders(spark)
    tbl.append(o.filter("o_orderkey < 100").coalesce(1))    # file A
    tbl.append(o.filter("o_orderkey >= 100").coalesce(1))   # file B
    base = tbl._snapshot()
    assert len(base["files"]) == 2
    cand = tbl._predicate_candidates(base, "o_orderkey < 50")
    assert len(cand) == 1
    # unprunable shapes keep every file (sound fallback)
    assert tbl._predicate_candidates(base, "o_orderkey % 2 = 0") == sorted(
        base["files"]
    )
    n_before = tbl.read().count()
    n_hit = tbl.read().filter("o_orderkey < 50").count()
    v = tbl.delete_where("o_orderkey < 50")
    c = tbl._read_commit(v)
    assert len(c["remove"]) == 1  # only file A rewrote
    assert tbl.read().count() == n_before - n_hit
    assert tbl.read().filter("o_orderkey < 50").count() == 0


def test_dml_pruned_to_zero_candidates_is_noop(spark, tbl):
    """A predicate whose range misses every file entirely must no-op
    without opening anything — including the empty-frame path in
    _read_with_dvs when candidates prune to zero."""
    o = _orders(spark)
    tbl.append(o.coalesce(1))
    v0 = tbl.latest_version()
    assert tbl.delete_where("o_orderkey > 900000000") == v0
    assert tbl.update_where("o_orderkey > 900000000",
                            {"o_totalprice": "o_totalprice + 1"}) == v0
    assert tbl.read().count() == o.count()


def test_merge_key_candidates_prune(spark, tbl):
    """merge_upsert discovers hit files from the SOURCE's key range:
    a delta confined to one clustered file's range rewrites exactly
    that file; keys outside every file insert without rewrites."""
    from pyspark.sql import functions as F

    o = _orders(spark)
    tbl.append(o.filter("o_orderkey < 100").coalesce(1))    # file A
    tbl.append(o.filter("o_orderkey >= 100").coalesce(1))   # file B
    base = tbl._snapshot()
    src = o.filter("o_orderkey < 20").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    cand = tbl._key_candidates(base, src, ["o_orderkey"])
    assert len(cand) == 1
    n = tbl.read().count()
    v = tbl.merge_upsert(src, keys=["o_orderkey"])
    c = tbl._read_commit(v)
    assert len(c["remove"]) == 1
    assert tbl.read().count() == n  # pure update, no inserts
    doubled = tbl.read().filter("o_orderkey < 20").agg(
        F.sum("o_totalprice")
    ).collect()[0][0]
    want = o.filter("o_orderkey < 20").agg(
        F.sum(F.col("o_totalprice") * 2)
    ).collect()[0][0]
    assert abs(doubled - want) < 1e-6
    # insert-only merge outside every file's range: zero rewrites
    ins = o.filter("o_orderkey < 5").withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    v2 = tbl.merge_upsert(ins, keys=["o_orderkey"])
    c2 = tbl._read_commit(v2)
    assert len(c2["remove"]) == 0
    assert tbl.read().count() == n + ins.count()


def test_merge_bloom_refines_scattered_candidates(spark, tbl):
    """Range pruning is blind to scattered keys (overlapping file
    ranges), but with a bloom index on the merge key the discovery
    drops files whose filter proves every source key absent: a merge
    of even keys against an even-file/odd-file layout rewrites ONLY
    the even file, and the refined candidate list is exact."""
    from pyspark.sql import functions as F

    o = _orders(spark)
    evens = o.filter("o_orderkey % 2 = 0 AND o_orderkey < 100")
    odds = o.filter("o_orderkey % 2 = 1 AND o_orderkey < 100")
    tbl.append(evens.coalesce(1))   # file A: keys 0,2,..,98
    tbl.append(odds.coalesce(1))    # file B: keys 1,3,..,99
    tbl.add_bloom_index("o_orderkey", fpp=0.001)
    base = tbl._snapshot()
    src = o.filter("o_orderkey IN (2, 4, 6)").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    # range alone keeps both files (both spans cover [2, 6])
    rn, fe = base["renames"], base["file_epoch"]
    from aiports_data_warehouse_etl_spark.sources.txlog import (
        _stats_may_match,
    )
    range_kept = [
        rel for rel, st in base["files"].items()
        if _stats_may_match(st, {"o_orderkey": (2, 6)})
    ]
    assert len(range_kept) == 2
    # bloom refinement drops the odd file
    cand = tbl._key_candidates(base, src, ["o_orderkey"])
    assert len(cand) == 1
    n = tbl.read().count()
    v = tbl.merge_upsert(src, keys=["o_orderkey"])
    c = tbl._read_commit(v)
    assert len(c["remove"]) == 1
    assert tbl.read().count() == n
    got = {
        r.o_orderkey: r.o_totalprice
        for r in tbl.read().filter("o_orderkey IN (2, 4, 6)").collect()
    }
    want = {
        r.o_orderkey: r.o_totalprice * 2
        for r in o.filter("o_orderkey IN (2, 4, 6)").collect()
    }
    assert got == want


def test_dml_pruning_survives_column_rename(spark, tbl):
    """Data-skipping discovery must translate the predicate's LOGICAL
    column to each file's PHYSICAL footer name (pre-rename files
    carry the old name in their stats): after RENAME COLUMN, a slice
    DELETE on the new name still prunes to the one matching file and
    deletes the right rows."""
    o = _orders(spark)
    tbl.append(o.filter("o_orderkey < 100").coalesce(1))
    tbl.append(o.filter("o_orderkey >= 100").coalesce(1))
    tbl.rename_column("o_orderkey", "okey")
    base = tbl._snapshot()
    cand = tbl._predicate_candidates(base, "okey < 50")
    assert len(cand) == 1
    n = tbl.read().count()
    hits = tbl.read().filter("okey < 50").count()
    v = tbl.delete_where("okey < 50")
    assert len(tbl._read_commit(v)["remove"]) == 1
    assert tbl.read().count() == n - hits
    assert tbl.read().filter("okey < 50").count() == 0


def test_predicate_candidates_always_cover_true_hits(spark, tbl):
    """Soundness sweep: across a grammar of predicates (prunable,
    partially prunable, and unprunable shapes), the candidate list
    must be a SUPERSET of the files that actually contain a
    predicate-TRUE row — data skipping may keep extra files, never
    drop a hit."""
    from pyspark.sql import functions as F

    o = _orders(spark)
    tbl.append(o.filter("o_orderkey < 60").coalesce(1))
    tbl.append(o.filter("o_orderkey >= 60 AND o_orderkey < 120").coalesce(1))
    tbl.append(o.filter("o_orderkey >= 120").coalesce(2))
    base = tbl._snapshot()
    live = tbl._read_with_dvs(
        sorted(base["files"]), base["dvs"], keep_lineage=True, snap=base
    )
    predicates = [
        "o_orderkey < 10",
        "o_orderkey <= 60",
        "o_orderkey > 115",
        "o_orderkey >= 60 AND o_orderkey < 70",
        "o_orderkey = 130",
        "130 = o_orderkey",
        "o_orderkey = 59 OR o_orderkey = 121",       # unprunable
        "o_orderkey % 7 = 0",                        # unprunable
        "o_totalprice > 0 AND o_orderkey < 30",
        "o_orderstatus = 'F' AND o_orderkey >= 100",
        "o_orderkey BETWEEN 10 AND 20",              # unprunable shape
        "NOT (o_orderkey < 100)",                    # unprunable
        "o_orderkey < 10 AND o_orderkey > 50",       # empty range
        "o_orderkey > 100000000",                    # beyond every file
    ]
    for pred in predicates:
        cand = set(tbl._predicate_candidates(base, pred))
        true_hits = {
            r["__file_rel"]
            for r in live.filter(F.expr(pred))
            .select("__file_rel")
            .distinct()
            .collect()
        }
        assert true_hits <= cand, (pred, sorted(true_hits - cand))


def test_bloom_sidecar_externalized(spark, tmp_path):
    """r12: bloom bitmaps ride immutable _bloom/ sidecar files — the
    commit JSON (and checkpoints) carry only {m, k, ref, key} per
    file, so the log stays O(metadata) at any file count. Pins: no
    'bits' key anywhere in committed JSON, probes resolve through the
    sidecar (point-lookup pruning still works), clones carry
    absolute sidecar refs, and vacuum reaps an orphaned sidecar while
    keeping referenced ones."""
    import glob
    import json as _json
    import os

    from aiports_data_warehouse_etl_spark.sources.txlog import TxLogTable

    t = TxLogTable(spark, str(tmp_path / "t"))
    df = spark.range(1000).selectExpr("id AS k", "id % 7 AS v")
    t.append(df.repartition(4))
    t.add_bloom_index("k")
    t.append(
        spark.range(1000, 2000).selectExpr("id AS k", "id % 7 AS v")
        .repartition(2)
    )

    # 1. no bitmap payload in any commit JSON; refs present
    for p in glob.glob(str(tmp_path / "t" / "_txlog" / "*.json")):
        with open(p) as fh:
            txt = fh.read()
        assert '"bits"' not in txt, os.path.basename(p)
    snap = t._snapshot()
    filters = snap["blooms"]["k"]
    assert set(filters) == set(snap["files"])
    assert all("ref" in f and "bits" not in f for f in filters.values())
    sidecars = set(os.listdir(tmp_path / "t" / "_bloom"))
    assert sidecars  # payloads exist on disk

    # 2. probes resolve through the sidecar: an absent key prunes
    # every file, a present key keeps its file's rows readable
    assert t.read(prune_eq={"k": 999999}).count() == 0
    assert t.read(prune_eq={"k": 1500}).filter("k = 1500").count() == 1

    # 3. clone refs absolutize and keep probing
    c = t.shallow_clone(str(tmp_path / "c"))
    cf = c._snapshot()["blooms"]["k"]
    assert all(os.path.isabs(f["ref"]) for f in cf.values())
    assert c.read(prune_eq={"k": 999999}).count() == 0

    # 4. vacuum: an orphan sidecar is reaped, referenced ones survive
    orphan = tmp_path / "t" / "_bloom" / "deadbeef.json"
    orphan.write_text(_json.dumps({"k|nope": "AA=="}))
    os.utime(orphan, (1, 1))  # ancient — outside any grace window
    t.vacuum(grace_seconds=0.0)
    assert not orphan.exists()
    assert set(os.listdir(tmp_path / "t" / "_bloom")) == sidecars
    # probes still work after vacuum
    assert t.read(prune_eq={"k": 999999}).count() == 0


def test_bloom_fp_accumulation_bail(spark, tmp_path):
    """r12 (found by the scale_demos bloom probe): refining MERGE
    candidates with K probe keys keeps a file with probability
    1-(1-fpp)^K even when every key is absent — at K=2000, fpp=0.01
    that is ~100%, so the probe is pure waste. The engine now skips
    the bloom pass when the expected false-keep rate exceeds 50%
    (result unchanged: candidates stay a sound superset); a
    point-ish absent delta still prunes to ~nothing."""
    from aiports_data_warehouse_etl_spark.sources.txlog import TxLogTable

    t = TxLogTable(spark, str(tmp_path / "t"))
    # gapped keyspace: even keys only
    t.append(
        spark.range(20000).selectExpr("id * 2 AS k", "id % 5 AS v")
        .repartition(8),
        cluster_by=["k"],
        cluster_partitions=8,
    )
    t.add_bloom_index("k", fpp=0.001)
    base = t._snapshot()
    nf = len(base["files"])

    # point-ish absent delta (odd, in-range): bloom prunes everything
    pointish = spark.createDataFrame(
        [(i * 2500 + 1,) for i in range(16)], "k long"
    )
    assert len(t._key_candidates(base, pointish, ["k"])) == 0

    # 2000-key absent delta: expected false-keep ~100% — the bail
    # keeps the full (range-pruned) candidate list, a sound superset
    wide = spark.createDataFrame(
        [(i * 20 + 1,) for i in range(2000)], "k long"
    )
    assert len(t._key_candidates(base, wide, ["k"])) == nf


def test_string_stats_truncated_and_sound(spark, tmp_path):
    """r12: string min/max stats store at most _STAT_STR_MAX+1 chars
    (min: prefix; max: prefix-SUCCESSOR) — a documents-style table no
    longer embeds two full texts per file per commit. Soundness: the
    truncated bounds must never skip a file that contains a matching
    row, including probes sharing the max's 32-char prefix."""
    from aiports_data_warehouse_etl_spark.sources.txlog import (
        _STAT_STR_MAX,
        TxLogTable,
        _stat_trunc_max,
        _stat_trunc_min,
    )

    long_a = "a" * 100
    long_z = "z" * 40 + "tail"
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, long_a), (2, long_z), (3, "mid")], "id long, txt string"
        ).coalesce(1)
    )
    st = next(iter(t._snapshot()["files"].values()))
    assert len(st["min"]["txt"]) <= _STAT_STR_MAX + 1
    assert len(st["max"]["txt"]) <= _STAT_STR_MAX + 1
    # bounds bracket the true values
    assert st["min"]["txt"] <= long_a
    assert st["max"]["txt"] >= long_z

    # range probes that MUST keep the file (true rows inside):
    for lo, hi in [
        (long_a, long_a),            # exact long min
        (long_z, long_z),            # exact long max (prefix-successor)
        ("z" * 40, "z" * 50),        # straddles the truncated max
        ("mid", "mid"),
    ]:
        assert t.read(prune={"txt": (lo, hi)}).filter(
            (F.col("txt") >= lo) & (F.col("txt") <= hi)
        ).count() >= 1
    # a range provably outside still prunes to zero files (must sit
    # ABOVE the prefix-successor bound, not merely above the true max
    # — between those two the truncated stat legitimately can't skip)
    assert t.read(prune={"txt": ("~~~", None)}).count() == 0

    # unit edges: successor of an all-max-codepoint prefix is None
    assert _stat_trunc_max("\U0010FFFF" * 40) is None
    assert _stat_trunc_min("b" * 100) == "b" * _STAT_STR_MAX
    s = _stat_trunc_max("b" * 100)
    assert len(s) <= _STAT_STR_MAX and s > "b" * 100


# -- the log module (sources/txlog_log.py) on tables built by the verbs --


def _resolved_state(state: dict) -> dict:
    """``state`` with write-schema ids resolved to schemas: a
    checkpoint renumbers the ids, the schemas they stand for stay."""
    out = {
        k: v for k, v in state.items() if k not in ("schemas", "file_schema")
    }
    out["file_schema"] = {
        rel: None if sid is None else state["schemas"][sid]
        for rel, sid in state["file_schema"].items()
    }
    return out


def test_txlog_log_fold_equals_snapshot_at_every_version(spark, tbl):
    from aiports_data_warehouse_etl_spark.sources import txlog_log

    tbl.append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(40)], "id int, v double"
        ).repartition(2)
    )                                                 # v0
    tbl.delete_where_dv("id % 7 = 0")                 # v1
    tbl.update_where_mor("id % 5 = 1", {"v": "v + 100"})  # v2
    tbl.compact()                                     # v3
    tbl.rename_column("v", "w")                       # v4: checkpoint
    tbl.restore(2)                                    # v5
    assert tbl.latest_version() == 5
    state = txlog_log.empty_state()
    for v in range(6):
        txlog_log.replay(state, txlog_log.read_commit(tbl.path, v))
        assert _resolved_state(state) == _resolved_state(tbl._snapshot(v)), v
    assert state["renames"] == [] and state["dvs"]


def test_checkpoint_without_later_layout_keys_still_opens(spark, tmp_path):
    """A checkpoint from before deletion vectors, per-file write
    schemas, the protocol floor and the token ledger existed lacks
    those keys: the table must read the same rows, resolve the same
    committed tokens and vacuum no live file."""
    from aiports_data_warehouse_etl_spark.sources import txlog_log

    path = str(tmp_path / "t")
    t = TxLogTable(spark, path, checkpoint_every=4)

    def rows(lo, hi, col="v"):
        return spark.createDataFrame(
            [(i, float(i)) for i in range(lo, hi)], f"id int, {col} double"
        ).repartition(2)

    t.append(rows(0, 20))                 # v0
    t.rename_column("v", "w")             # v1
    t.add_bloom_index("id")               # v2
    t.append(rows(20, 30, "w"))           # v3 (bloom filters ride it)
    t.append(rows(30, 40, "w"))           # v4: checkpoint
    t.delete_where_dv("id % 7 = 0")       # v5
    t.delete_where("id = 1")              # v6: a rewrite leaves dead files
    cp = txlog_log.checkpoint_path(path, 4)
    with open(cp) as fh:
        state = json.load(fh)
    assert state["renames"] and state["blooms"]["id"]
    for key in ("dvs", "schemas", "file_schema", "protocol", "tokens"):
        del state[key]
    with open(cp, "w") as fh:
        json.dump(state, fh)
    expected = sorted(t.read().collect())

    fresh = TxLogTable(spark, path)
    assert sorted(fresh.read().collect()) == expected
    assert fresh.read().columns == ["id", "w"]
    full = set()
    for v in range(fresh.latest_version() + 1):
        c = fresh._read_commit(v)
        full.update(a["path"].split(os.sep)[1] for a in c.get("add", []))
        if c.get("dv_file"):
            full.add(c["dv_file"].split(os.sep)[1])
    assert fresh._committed_tokens(fresh.latest_version()) == full
    snap = fresh._snapshot()
    live = set(snap["files"]) | {
        e["file"] for entries in snap["dvs"].values() for e in entries
    }
    deleted = fresh.vacuum(grace_seconds=0.0)
    assert deleted and not live & set(deleted)
    assert all(os.path.exists(os.path.join(path, rel)) for rel in live)
    assert sorted(TxLogTable(spark, path).read().collect()) == expected


def _signed(rows) -> dict:
    """Net multiset of (change-feed) rows: +1 per insert, -1 per
    delete, keyed by the data columns; zero counts dropped."""
    net: dict = {}
    for r in rows:
        d = r.asDict()
        sign = 1 if d.pop("_change_type") == "insert" else -1
        d.pop("_commit_version")
        key = tuple(sorted(d.items()))
        net[key] = net.get(key, 0) + sign
    return {k: n for k, n in net.items() if n}


def _diff(tbl, v0: int, v1: int) -> dict:
    """read(version=v1) minus read(version=v0) as a signed multiset."""
    net: dict = {}
    for sign, v in ((1, v1), (-1, v0)):
        if v < 0:
            continue
        for r in tbl.read(version=v).collect():
            key = tuple(sorted(r.asDict().items()))
            net[key] = net.get(key, 0) + sign
    return {k: n for k, n in net.items() if n}


def _dv_only_restores(spark, tbl) -> None:
    """v0: 12 rows in one file; v1: a DV deletes ids 9-11; v2:
    restore(0) drops the DV, v3: restore(1) brings it back. Neither
    restore adds or removes a file."""
    tbl.append(
        spark.createDataFrame(
            [(i, i % 3) for i in range(12)], "id int, k int"
        ).coalesce(1)
    )
    tbl.delete_where_dv("id >= 9")
    assert tbl.restore(0) == 2
    assert tbl.restore(1) == 3
    assert tbl.read(version=2).count() == 12
    assert tbl.read(version=3).count() == 9


def test_changes_across_dv_only_restore(spark, tbl):
    """A restore that changes only deletion vectors changes rows: the
    feed deletes the file's rows under the old DVs and re-inserts them
    under the new ones, so each restore nets to exactly the rows the
    DV hides or shows, and every fold equals the table state."""
    _dv_only_restores(spark, tbl)
    back = {(("id", i), ("k", i % 3)): 1 for i in (9, 10, 11)}
    assert _signed(tbl.changes(1, 2).collect()) == back
    assert _signed(tbl.changes(2, 3).collect()) == {
        k: -n for k, n in back.items()
    }
    for v0, v1 in ((-1, 2), (-1, 3), (0, 2), (1, 3)):
        assert _signed(tbl.changes(v0, v1).collect()) == _diff(tbl, v0, v1)


def test_txlog_cdf_stream_across_dv_only_restore(spark, tbl, tmp_path):
    """The streaming twin: the drained txlog_cdf stream across both
    DV-only restores equals changes() row for row and folds to the
    restored table."""
    from aiports_data_warehouse_etl_spark.sources.txlog_stream import (
        register_txlog_cdf,
    )

    _dv_only_restores(spark, tbl)
    register_txlog_cdf(spark)
    out_dir = str(tmp_path / "out")
    q = (
        spark.readStream.format("txlog_cdf")
        .option("path", tbl.path)
        .load()
        .writeStream.foreachBatch(
            lambda df, _bid: df.write.mode("append").parquet(out_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    streamed = spark.read.parquet(out_dir).collect()
    batch = tbl.changes(-1, tbl.latest_version()).collect()
    assert sorted(tuple(r) for r in streamed) == sorted(
        tuple(r) for r in batch
    )
    assert _signed(streamed) == _diff(tbl, -1, 3)
    assert {
        r.id for r in streamed
        if r._commit_version == 2 and r._change_type == "insert"
    } == set(range(12))


def test_matview_across_dv_only_restore(spark, tbl, tmp_path):
    """A count/sum/min/max view refreshed across a restore that drops
    a deletion vector, and one that brings it back, equals a fresh
    aggregate of the source each time."""
    mv = _minmax_view(spark, tbl, str(tmp_path / "view"))
    tbl.delete_where_dv("val >= 5")   # v1: hits a's max, empties b
    assert mv.refresh() is not None
    assert _stored_minmax(mv) == _fresh_minmax(tbl)
    for version in (0, 1):            # drop the DV, then bring it back
        tbl.restore(version)
        assert mv.refresh() is not None
        assert _stored_minmax(mv) == _fresh_minmax(tbl)
    assert {r.k for r in mv.read().collect()} == {"a"}


def test_change_feed_batch_and_stream_agree_on_every_op(
    spark, tbl, tmp_path
):
    """One history with every op kind. For each window (v0, v1] the
    txlog_cdf stream's planner and executor give the same multiset of
    rows as changes(v0, v1), and the fold of each equals read(v1)
    minus read(v0). The whole history also drains through a real
    streaming query."""
    from aiports_data_warehouse_etl_spark.sources.txlog_stream import (
        _TxLogCDFReader,
        register_txlog_cdf,
    )

    def rows(ids, bump=0.0):
        return spark.createDataFrame(
            [(i, i % 3, float(i) + bump) for i in ids],
            "id int, k int, v double",
        )

    ops = [
        lambda: tbl.append(rows(range(20)).coalesce(2)),
        lambda: tbl.append(rows(range(20, 30)).coalesce(1)),
        lambda: tbl.delete_where("id < 3"),
        lambda: tbl.delete_where_dv("id IN (5, 6, 21)"),
        lambda: tbl.update_where("id = 7", {"v": "v + 100"}),
        lambda: tbl.update_where_mor("id IN (8, 22)", {"v": "v * -1"}),
        lambda: tbl.merge_upsert(rows([9, 40], bump=0.5), ["id"]),
        lambda: tbl.merge(
            rows([10, 11, 41], bump=0.25), keys=["id"],
            update_set={"v": "s.v"}, delete_condition="s.id = 11",
        ),
        lambda: tbl.replace_where(
            rows([25, 26], bump=9.0), "id >= 25 AND id < 28"
        ),
        lambda: tbl.compact(),
        lambda: tbl.restore(5),
        lambda: tbl.overwrite(rows([50, 51]).coalesce(1)),
        lambda: tbl.restore(10),
    ]
    for want_v, op in enumerate(ops):
        op()
        assert tbl.latest_version() == want_v
    assert tbl._read_commit(9)["op"] == "compact"
    last = tbl.latest_version()

    reader = _TxLogCDFReader({"path": tbl.path})

    def streamed(v0, v1):
        out = []
        for part in reader.partitions({"v": v0}, {"v": v1}):
            for batch in reader.read(part):
                out.extend(tuple(r.values()) for r in batch.to_pylist())
        return sorted(out)

    windows = [(-1, last), (-1, 4), (2, 6), (4, 9), (8, 10), (9, last)]
    for v0, v1 in windows:
        feed = tbl.changes(v0, v1).collect()
        assert streamed(v0, v1) == sorted(tuple(r) for r in feed), (v0, v1)
        assert _signed(feed) == _diff(tbl, v0, v1), (v0, v1)

    register_txlog_cdf(spark)
    out_dir = str(tmp_path / "out")
    q = (
        spark.readStream.format("txlog_cdf")
        .option("path", tbl.path)
        .load()
        .writeStream.foreachBatch(
            lambda df, _bid: df.write.mode("append").parquet(out_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    drained = spark.read.parquet(out_dir).collect()
    assert sorted(tuple(r) for r in drained) == streamed(-1, last)
