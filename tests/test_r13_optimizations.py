"""Pins for the r13 optimization round's operator-internal changes.

1. txlog instance memos (commit / snapshot / read-plan): hits must be
   version-correct — a NEW commit (even from another instance of the
   same table) must be visible immediately; memoized snapshots are
   read-only shared state.
2. delete_where_dv / update_where_mor single-pass hit accounting:
   ``dv_targets`` is now derived from the staged DV parquet on the
   driver (no separate distributed count job); counts must equal the
   old groupBy's, and a no-hit call must commit nothing and leave no
   staged garbage behind.
3. MERGE preflight: the uniqueness check and the key-range aggregate
   ride ONE source job; the dup verdict must match groupBy semantics
   exactly (including NULL keys, which count_distinct alone would
   miscount).
4. matview union-aggregate merge: the single-aggregation refresh must
   equal a pure-Python model of count / sum / min / max per group
   across insert-only, DV-delete and bound-hitting-delete slices.
5. Checkpoint schema-ledger compaction (ADVICE r12 #3): checkpoints
   keep only write-schemas that live files reference, remapped; the
   replay resumes correctly from a compacted checkpoint.
"""
from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from aiports_data_warehouse_etl_spark.sources.txlog import TxLogTable


def _job_count(spark) -> int:
    # unique job group (ADVICE r12 #4): count only jobs this test's
    # measured section launches, not lingering session activity
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup())


# -- 1. memos ---------------------------------------------------------


def test_snapshot_memo_sees_new_commits_immediately(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.append(spark.range(10))
    s0 = t._snapshot()
    assert t._snapshot() is s0  # memo hit at the same head
    # a second instance (concurrent writer) advances the table
    other = TxLogTable(spark, str(tmp_path / "t"))
    other.append(spark.range(10, 20))
    s1 = t._snapshot()  # same instance must see the new head
    assert s1["version"] == s0["version"] + 1
    assert len(s1["files"]) > len(s0["files"])
    assert t.read().count() == 20


def test_read_plan_memo_is_version_scoped(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.append(spark.range(5))
    r0 = t.read()
    assert t.read() is r0  # same version → same analyzed plan
    t.append(spark.range(5, 9))
    r1 = t.read()
    assert r1 is not r0
    assert r0.count() == 5 and r1.count() == 9
    # pruned reads never come from the memo
    assert t.read(prune={"id": (0, 1)}) is not r1


def test_no_unlisted_env_knob():
    """The engine reads exactly these SPARK_GRAFT_* env vars. A new
    A/B knob must be argued for in review (and listed here); a
    superseded path goes with its knob."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "aiports_data_warehouse_etl_spark"
    )
    found = {
        name
        for path in pkg.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_[A-Z_]+", path.read_text())
    }
    assert found == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_LIST_MAX",
        "SPARK_GRAFT_NO_TD_CACHE",
    }


# -- 2. DV single-pass ------------------------------------------------


def test_dv_targets_match_actual_per_file_counts(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.append(spark.range(100).withColumn("v", F.col("id") * 1.0).repartition(4))
    t.delete_where_dv("id % 3 = 0")
    c = t._read_commit(t.latest_version())
    assert c["op"] == "delete_dv"
    # ground truth: count the DV file's rows per target distributed
    dv = spark.read.parquet(os.path.join(t.path, c["dv_file"]))
    truth = {
        r["file_rel"]: r["n"]
        for r in dv.groupBy("file_rel").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert c["dv_targets"] == truth
    assert sum(truth.values()) == 34
    assert t.read().count() == 66
    assert t.count_rows() == 66


def test_dv_delete_no_hits_commits_nothing(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.append(spark.range(10))
    v = t.latest_version()
    assert t.delete_where_dv("id > 1000") == v
    assert t.latest_version() == v
    # the empty staged probe file was reclaimed, and no marker lingers
    data_dir = os.path.join(t.path, "data")
    tokens = set(os.listdir(data_dir))
    snap = t._snapshot()
    live_tokens = {rel.split(os.sep)[1] for rel in snap["files"]}
    assert tokens == live_tokens, "no-hit DV delete left staged garbage"
    staging = os.path.join(t.path, "_staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []


def test_update_mor_no_hits_commits_nothing(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.append(spark.range(10).withColumn("v", F.lit(1.0)))
    v = t.latest_version()
    assert t.update_where_mor("id > 1000", {"v": "v + 1"}) == v
    assert t.latest_version() == v
    data_dir = os.path.join(t.path, "data")
    snap = t._snapshot()
    live_tokens = {rel.split(os.sep)[1] for rel in snap["files"]}
    assert set(os.listdir(data_dir)) == live_tokens


def test_update_mor_counts_still_exact(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.append(spark.range(60).withColumn("v", F.col("id") * 1.0).repartition(3))
    t.update_where_mor("id % 4 = 1", {"v": "v + 100"})
    c = t._read_commit(t.latest_version())
    assert c["op"] == "update_mor"
    assert sum(c["dv_targets"].values()) == 15
    assert t.count_rows() == 60 == t.read().count()
    assert t.read().filter("v >= 100").count() == 15


# -- 3. merge preflight ----------------------------------------------


def test_merge_preflight_one_job_and_dup_verdict(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.append(spark.range(20).withColumn("v", F.lit(1.0)))
    dup = spark.createDataFrame(
        [(1, 2.0), (1, 3.0)], "id long, v double"
    )
    with pytest.raises(ValueError, match="multiple rows for key"):
        t.merge_upsert(dup, keys=["id"])
    # a single NULL-keyed row is NOT a duplicate (groupBy semantics;
    # a bare count_distinct would drop the NULL and miscount)
    one_null = spark.createDataFrame([(None, 9.0)], "id long, v double")
    t.merge_upsert(one_null, keys=["id"])
    assert t.read().filter("id IS NULL").count() == 1
    # two NULL-keyed rows ARE duplicates (NULLs group together)
    two_null = spark.createDataFrame(
        [(None, 1.0), (None, 2.0)], "id long, v double"
    )
    with pytest.raises(ValueError, match="multiple rows"):
        t.merge_upsert(two_null, keys=["id"])


def test_merge_upsert_result_unchanged(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.append(
        spark.range(50).withColumn("v", F.col("id") * 1.0).repartition(2)
    )
    src = (
        spark.range(40, 60)
        .withColumn("v", F.lit(-1.0))
    )
    t.merge_upsert(src, keys=["id"])
    got = {(r.id, r.v) for r in t.read().collect()}
    want = {(i, float(i)) for i in range(40)} | {
        (i, -1.0) for i in range(40, 60)
    }
    assert got == want


# -- 4. matview union-aggregate == a pure-Python model ----------------


def _model_view(rows: list[tuple[str, float]]) -> set:
    """count / sum / min / max of ``v`` per group ``k`` — the view an
    incremental refresh must always equal."""
    agg: dict = {}
    for k, v in rows:
        n, s, lo, hi = agg.get(k, (0, 0.0, v, v))
        agg[k] = (n + 1, s + v, min(lo, v), max(hi, v))
    return {
        (k, n, round(s, 9), lo, hi) for k, (n, s, lo, hi) in agg.items()
    }


def test_matview_refresh_matches_python_model(spark, tmp_path):
    from aiports_data_warehouse_etl_spark.streaming.matview import (
        IncrementalAggView,
    )

    t = TxLogTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark,
        t,
        str(tmp_path / "view"),
        group_cols=["k"],
        sum_cols=["v"],
        min_cols=["v"],
        max_cols=["v"],
    )
    live = [(f"k{i % 3}", float(i)) for i in range(30)]

    def refresh_and_check() -> None:
        mv.refresh()
        got = {
            (r.k, r.n_rows, round(r.sum_v, 9), r.min_v, r.max_v)
            for r in mv.read().collect()
        }
        assert got == _model_view(live) and got

    t.append(spark.createDataFrame(live, "k string, v double"))
    refresh_and_check()                    # initial build
    new = [("k0", -5.0), ("k3", 7.0)]
    t.append(spark.createDataFrame(new, "k string, v double"))
    live += new
    refresh_and_check()                    # insert-only fold
    t.delete_where_dv("v >= 27.0")         # DV delete hits max bounds
    live = [r for r in live if r[1] < 27.0]
    refresh_and_check()                    # DV-delete fold + rescan
    t.delete_where("k = 'k0' AND v = -5.0")  # COW delete hits a min
    live.remove(("k0", -5.0))
    refresh_and_check()                    # bound-hitting delete


# -- 5. checkpoint ledger compaction -----------------------------------


def test_checkpoint_compacts_schema_ledger(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"), checkpoint_every=4)
    df = spark.range(30).withColumn("v", F.col("id") * 1.0)
    t.append(df)                          # v0
    t.delete_where("id % 5 = 0")          # rewrite (schema variant)
    t.update_where("id % 7 = 1", {"v": "v + 1"})  # rewrite
    t.compact()                           # may no-op at tiny scale
    import glob as _glob
    import json as _json

    # drive commits until a checkpoint lands (op→version mapping is
    # environment-dependent: compact can no-op on a 1-file table)
    for i in range(8):
        if _glob.glob(os.path.join(t.path, "_txlog", "*.checkpoint.json")):
            break
        t.append(spark.range(30 + i, 31 + i).withColumn("v", F.lit(0.0)))
    cps = sorted(
        _glob.glob(os.path.join(t.path, "_txlog", "*.checkpoint.json"))
    )
    assert cps, "no checkpoint written"
    with open(cps[-1]) as fh:
        cp = _json.load(fh)
    live_sids = {s for s in cp["file_schema"].values() if s is not None}
    assert live_sids == set(range(len(cp["schemas"]))), (
        "checkpoint must keep exactly the referenced schemas, remapped"
    )
    # a fresh instance replaying FROM the compacted checkpoint reads
    # identically and stays on the explicit-schema fast path
    t2 = TxLogTable(spark, str(tmp_path / "t"))
    snap = t2._snapshot()
    assert all(s is not None for s in snap["file_schema"].values())
    assert t2.read().count() == t.read().count()


def test_checkpoint_interval_unchanged_by_memo(spark, tmp_path):
    # the memoized snapshot must not short-circuit checkpoint writes
    t = TxLogTable(spark, str(tmp_path / "t"), checkpoint_every=3)
    for i in range(4):
        t.append(spark.range(i * 5, i * 5 + 5))
    cp = os.path.join(t.path, "_txlog", f"{3:020d}.checkpoint.json")
    assert os.path.exists(cp)
    assert t.read().count() == 20


# -- 6. PQ trainer/encode matmul-identity kernel ------------------------


def test_pq_matmul_kernel_bit_identical(spark, sf_small):
    """The r13 assign kernel (matmul identity, shared with
    _lloyd_assign) must train bit-identical codebooks and emit
    identical codes to the r12 broadcast-cube arithmetic on the
    fixture corpus — sim_pq_topk is deterministic end-to-end and its
    result must not move."""
    import numpy as np

    from aiports_data_warehouse_etl_spark.operators import similarity as S
    from aiports_data_warehouse_etl_spark.sources.io import read_testdata

    emb = read_testdata(spark, sf_small, "embeddings", cache=False)
    base = S._as_double(emb, "embedding", "vec_id")
    X = np.stack(base.select("v").limit(4096).toPandas()["v"].to_numpy())
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    m, n_codes, seed, iters = 8, 64, 42, 8
    ds = X.shape[1] // m
    new = S.pq_train_codebooks(X, m, n_codes, seed, iters)

    rng = np.random.RandomState(seed)
    n_eff = min(n_codes, len(X))
    old = np.empty((m, n_eff, ds))
    for j in range(m):
        Xj = X[:, j * ds : (j + 1) * ds]
        C = Xj[rng.choice(len(Xj), size=n_eff, replace=False)].copy()
        for _ in range(iters):
            assign = (
                ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
            )
            for c in range(n_eff):
                pts = Xj[assign == c]
                if len(pts):
                    C[c] = pts.mean(0)
        old[j] = C
    assert np.array_equal(new, old)
    # encode kernel: identity argmin == cube argmin with these books
    for j in range(m):
        cube = (
            ((X[:, None, j * ds : (j + 1) * ds] - new[j][None, :, :]) ** 2)
            .sum(-1)
            .argmin(1)
        )
        ident = S._lloyd_assign(X[:, j * ds : (j + 1) * ds], new[j])
        assert np.array_equal(cube, ident)


# -- 7. driver-side listing for explicit-path reads ---------------------


def test_many_file_read_constructs_with_zero_jobs(spark, tmp_path):
    """Above 32 explicit paths Spark's default launches a distributed
    LISTING job at plan construction; the txlog reader stats its
    known leaf files driver-side instead (r13) — read() construction
    must stay zero-job even on a many-file snapshot."""
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.append(
        spark.range(400).withColumn("v", F.col("id") * 1.0).repartition(40)
    )
    snap = t._snapshot()
    assert len(snap["files"]) == 40
    import uuid as _uuid

    gid = f"r13-list-{_uuid.uuid4().hex}"
    spark.sparkContext.setJobGroup(gid, "probe")
    r = t.read()
    spark.sparkContext.setJobGroup(None, None)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(gid)
    assert len(jobs) == 0, "many-file read construction launched a job"
    assert r.count() == 400
    # the threshold override must be restored afterwards
    assert (
        spark.conf.get(
            "spark.sql.sources.parallelPartitionDiscovery.threshold"
        )
        == "32"
    )
