"""The txlog log module (sources/txlog_log.py) without a SparkSession:
the replay fold per op kind, the copy discipline that keeps memoized
commits intact, durable checkpoint writes, and the seam itself (the
module imports no Spark and is the one place that names log files)."""

from __future__ import annotations

import copy
import json
import os
import pathlib
import subprocess
import sys

import pytest

from aiports_data_warehouse_etl_spark.sources import txlog_log
from aiports_data_warehouse_etl_spark.sources.txlog import TxLogTable

REPO = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = REPO / "aiports_data_warehouse_etl_spark"

A, B, C = "data/a/p0.parquet", "data/b/p0.parquet", "data/c/p0.parquet"
DV = "data/d/dv.parquet"


def _add(path: str, rows: int = 3) -> dict:
    return {
        "path": path,
        "stats": {"rows": rows, "bytes": 100, "min": {"id": 0},
                  "max": {"id": rows}},
    }


def _filter(ref: str) -> dict:
    return {"m": 64, "k": 3, "ref": ref}


def _fold(*commits) -> dict:
    state = txlog_log.empty_state()
    for c in commits:
        txlog_log.replay(state, c)
    return state


APPEND_AB = {"op": "append", "add": [_add(A), _add(B, 5)], "schema": "S1"}

CASES = {
    "append_then_rewrite": (
        [APPEND_AB,
         {"op": "update", "remove": [A], "add": [_add(C, 2)],
          "add_schema": "S2", "schema": "S_base"}],
        {"version": 1, "schema": "S_base",
         "files": {B: _add(B, 5)["stats"], C: _add(C, 2)["stats"]},
         "file_epoch": {B: 0, C: 0},
         "schemas": ["S1", "S2"], "file_schema": {B: 0, C: 1}},
    ),
    "merge_schema_is_not_a_write_schema": (
        [{"op": "merge", "add": [_add(A)], "schema": "S_base"}],
        {"schemas": [], "file_schema": {A: None}},
    ),
    "dv_targets_fold_and_die_with_their_file": (
        [APPEND_AB,
         {"op": "delete_dv", "dv_file": DV, "dv_targets": {A: 2}},
         {"op": "update_mor", "dv_file": "data/e/dv.parquet",
          "dv_targets": {A: 1, B: 1}, "add": [_add(C, 2)],
          "add_schema": "S1"},
         {"op": "compact", "remove": [A], "add": [_add("data/f/p.parquet")],
          "add_schema": "S1"}],
        {"dvs": {B: [{"file": "data/e/dv.parquet", "rows": 1}]}},
    ),
    "restore_replaces_dvs_and_renames": (
        [APPEND_AB,
         {"op": "rename_column", "old": "v", "new": "w", "schema": "S2"},
         {"op": "delete_dv", "dv_file": DV, "dv_targets": {B: 1}},
         {"op": "restore", "restore_of": 0, "add": [_add(C)],
          "remove": [A], "schema": "S1", "renames": [],
          "epochs": {C: 0}, "dvs": {C: [{"file": "data/x/dv.parquet",
                                         "rows": 1}]},
          "file_schemas": {C: "S0"}}],
        {"schema": "S1", "renames": [],
         "dvs": {C: [{"file": "data/x/dv.parquet", "rows": 1}]},
         "file_epoch": {B: 0, C: 0}, "schemas": ["S1", "S0"],
         "file_schema": {B: 0, C: 1}},
    ),
    "clone_takes_the_source_policy": (
        [{"op": "clone", "add": [_add("/src/data/a/p0.parquet")],
          "schema": "S1", "dvs": {}, "constraints": {"pos": "id > 0"},
          "bloom_cols": {"id": {"fpp": 0.01}}, "generated": {"g": "id*2"},
          "identity": {"k": {"step": 1, "next": 9}},
          "renames": [["v", "w"]], "epochs": {"/src/data/a/p0.parquet": 0},
          "file_schemas": {"/src/data/a/p0.parquet": "S0"},
          "blooms": {"id": {"/src/data/a/p0.parquet": _filter("/src/b")}}}],
        {"constraints": {"pos": "id > 0"}, "bloom_cols": {"id": {"fpp": 0.01}},
         "generated": {"g": "id*2"}, "identity": {"k": {"step": 1, "next": 9}},
         "renames": [["v", "w"]], "file_epoch": {"/src/data/a/p0.parquet": 0},
         "schemas": ["S0"], "file_schema": {"/src/data/a/p0.parquet": 0},
         "blooms": {"id": {"/src/data/a/p0.parquet": _filter("/src/b")}}},
    ),
    "rename_moves_the_epoch_of_later_files": (
        [{"op": "append", "add": [_add(A)], "schema": "S1"},
         {"op": "rename_column", "old": "v", "new": "w", "schema": "S2"},
         {"op": "append", "add": [_add(B)], "schema": "S2"}],
        {"schema": "S2", "renames": [["v", "w"]], "file_epoch": {A: 0, B: 1}},
    ),
    "bloom_index_lifecycle": (
        [APPEND_AB,
         {"op": "bloom_index", "col": "id", "fpp": 0.01,
          "filters": {A: _filter("_bloom/a"), B: _filter("_bloom/b")}},
         {"op": "append", "add": [_add(C)], "schema": "S1",
          "blooms": {"id": {C: _filter("_bloom/c")}}},
         {"op": "delete", "remove": [A]}],
        {"bloom_cols": {"id": {"fpp": 0.01}},
         "blooms": {"id": {B: _filter("_bloom/b"), C: _filter("_bloom/c")}}},
    ),
    "drop_bloom_index": (
        [APPEND_AB,
         {"op": "bloom_index", "col": "id", "fpp": 0.01,
          "filters": {A: _filter("_bloom/a")}},
         {"op": "drop_bloom_index", "col": "id"}],
        {"bloom_cols": {}, "blooms": {}},
    ),
    "identity_reservations_only_move_up": (
        [{"op": "set_identity", "name": "k", "step": "2", "next": "10"},
         {"op": "reserve_identity", "name": "k", "from": 10, "upto": 20},
         {"op": "reserve_identity", "name": "k", "from": 10, "upto": 14},
         {"op": "set_identity", "name": "j", "step": 1, "next": 1},
         {"op": "drop_identity", "name": "j"},
         {"op": "reserve_identity", "name": "j", "from": 1, "upto": 5}],
        {"identity": {"k": {"step": 2, "next": 20}}},
    ),
    "constraints_and_generated": (
        [{"op": "set_constraint", "name": "pos", "check": "id > 0"},
         {"op": "set_constraint", "name": "gone", "check": "id < 9"},
         {"op": "drop_constraint", "name": "gone"},
         {"op": "set_generated", "name": "g", "expr": "id * 2"},
         {"op": "set_generated", "name": "h", "expr": "id * 3"},
         {"op": "drop_generated", "name": "h"}],
        {"constraints": {"pos": "id > 0"}, "generated": {"g": "id * 2"}},
    ),
    "set_protocol": (
        [{"op": "set_protocol", "min_reader": "2", "min_writer": 3}],
        {"protocol": {"min_reader": 2, "min_writer": 3}},
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_replay_per_op_kind(name):
    commits, expected = CASES[name]
    state = _fold(*copy.deepcopy(commits))
    assert state["version"] == len(commits) - 1
    for key, value in expected.items():
        assert state[key] == value, key


def test_replay_copies_what_it_takes_from_a_commit():
    commits = [
        {"op": "clone", "add": [_add(A)], "schema": "S1",
         "dvs": {A: [{"file": DV, "rows": 1}]},
         "identity": {"k": {"step": 1, "next": 5}}, "renames": [["v", "w"]],
         "epochs": {A: 1}, "blooms": {"id": {A: _filter("_bloom/a")}}},
        {"op": "bloom_index", "col": "x", "fpp": 0.01,
         "filters": {A: _filter("_bloom/x")}},
    ]
    pristine = copy.deepcopy(commits)
    state = _fold(*commits)
    state["files"][A]["rows"] = 999
    state["files"][A]["min"]["id"] = -1
    state["dvs"][A][0]["rows"] = 999
    state["identity"]["k"]["next"] = 999
    state["renames"][0][1] = "zzz"
    state["blooms"]["id"][A]["m"] = 1
    state["blooms"]["x"][A]["k"] = 99
    assert commits == pristine


def _table_with_commits(tmp_path, n: int, **kw) -> TxLogTable:
    """A table built from hand-written commits on the Spark-free
    commit path (``TxLogTable(None, ...)``, as the streaming sink
    uses it): each commit appends one 3-row file."""
    t = TxLogTable(None, str(tmp_path / "t"), **kw)
    for v in range(n):
        assert t._try_commit(
            v, {"op": "append", "add": [_add(f"data/t{v}/p0.parquet")],
                "schema": "S1"},
        )
    return t


def test_snapshot_does_not_alias_memoized_commits(tmp_path):
    t = _table_with_commits(tmp_path, 2)
    rel = "data/t0/p0.parquet"
    on_disk = copy.deepcopy(t._read_commit(0))
    t._snapshot(0)["files"][rel]["rows"] = 999
    assert t._read_commit(0) == on_disk
    assert t.count_rows(1) == 6


def test_checkpoint_tmp_is_fsynced_before_publish(tmp_path, monkeypatch):
    t = _table_with_commits(tmp_path, 2, checkpoint_every=2)
    fd_path: dict[int, str] = {}
    events: list[tuple] = []
    real_open, real_fsync, real_replace = os.open, os.fsync, os.replace

    def spy_open(path, flags, *a, **kw):
        fd = real_open(path, flags, *a, **kw)
        fd_path[fd] = os.fspath(path)
        return fd

    def spy_fsync(fd):
        events.append(("fsync", fd_path.get(fd)))
        return real_fsync(fd)

    def spy_replace(src, dst, **kw):
        events.append(("replace", os.fspath(src), os.fspath(dst)))
        return real_replace(src, dst, **kw)

    monkeypatch.setattr(os, "open", spy_open)
    monkeypatch.setattr(os, "fsync", spy_fsync)
    monkeypatch.setattr(os, "replace", spy_replace)
    assert t._try_commit(
        2, {"op": "append", "add": [_add("data/t2/p0.parquet")],
            "schema": "S1"},
    )
    monkeypatch.undo()
    cp = txlog_log.checkpoint_path(t.path, 2)
    publish = [e for e in events if e[0] == "replace" and e[2] == cp]
    assert len(publish) == 1, events
    tmp = publish[0][1]
    assert ("fsync", tmp) in events[: events.index(publish[0])], events
    assert not os.path.exists(tmp)
    with open(cp) as fh:
        saved = json.load(fh)
    assert len(saved["files"]) == 3 and len(saved["tokens"]) == 3
    # the checkpoint folds to the same state as the full log
    fresh = TxLogTable(None, t.path)
    assert fresh._snapshot(2) == _fold(*[t._read_commit(v) for v in range(3)])


def test_log_directory_is_fsynced_after_each_publish(tmp_path, monkeypatch):
    """A commit's link and a checkpoint's rename each publish a name in
    the log directory; only an fsync of the directory itself makes
    that entry survive a power loss, so one follows each publish."""
    t = _table_with_commits(tmp_path, 2, checkpoint_every=2)
    log_dir = os.path.dirname(txlog_log.version_path(t.path, 0))
    fd_path: dict[int, str] = {}
    events: list[tuple] = []
    real_open, real_fsync = os.open, os.fsync
    real_link, real_replace = os.link, os.replace

    def spy_open(path, flags, *a, **kw):
        fd = real_open(path, flags, *a, **kw)
        fd_path[fd] = os.fspath(path)
        return fd

    def spy_fsync(fd):
        events.append(("fsync", fd_path.get(fd)))
        return real_fsync(fd)

    def spy_link(src, dst, **kw):
        events.append(("publish", os.fspath(dst)))
        return real_link(src, dst, **kw)

    def spy_replace(src, dst, **kw):
        events.append(("publish", os.fspath(dst)))
        return real_replace(src, dst, **kw)

    monkeypatch.setattr(os, "open", spy_open)
    monkeypatch.setattr(os, "fsync", spy_fsync)
    monkeypatch.setattr(os, "link", spy_link)
    monkeypatch.setattr(os, "replace", spy_replace)
    assert t._try_commit(
        2, {"op": "append", "add": [_add("data/t2/p0.parquet")],
            "schema": "S1"},
    )
    monkeypatch.undo()
    seen = [e for e in events if e[0] == "publish" or e[1] == log_dir]
    assert seen == [
        ("publish", txlog_log.version_path(t.path, 2)),
        ("fsync", log_dir),
        ("publish", txlog_log.checkpoint_path(t.path, 2)),
        ("fsync", log_dir),
    ], events


def test_latest_version_of_a_missing_log(tmp_path):
    assert txlog_log.latest_version(str(tmp_path / "nothing")) == -1
    assert txlog_log.state_at(str(tmp_path / "nothing"), -1) == (
        txlog_log.empty_state()
    )


def test_log_module_imports_no_spark():
    probe = (
        "import sys, aiports_data_warehouse_etl_spark.sources.txlog_log; "
        "print(sorted(m for m in sys.modules "
        "if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=REPO, capture_output=True,
        text=True, timeout=60, check=True,
    )
    assert out.stdout.strip() == "[]", out.stdout


def test_only_the_log_module_names_log_files():
    owner = PACKAGE / "sources" / "txlog_log.py"
    literals = ('"_txlog"', "'_txlog'", ".checkpoint.json")
    offenders = [
        (str(p.relative_to(REPO)), lit)
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != owner
        for lit in literals
        if lit in p.read_text()
    ]
    assert offenders == []
    owned = owner.read_text()
    assert '"_txlog"' in owned and ".checkpoint.json" in owned
