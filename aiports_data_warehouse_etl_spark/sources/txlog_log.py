"""The on-disk log of a txlog table and the fold that turns it into
table state. Imports neither pyspark nor Spark: everything here is
file names, small JSON files and dict arithmetic, so it is testable
without a session and usable from a Python worker that has none.

Layout under a table root::

    _txlog/<v>.json             commit v: one JSON object, created
                                atomically (``put_if_absent``)
    _txlog/<v>.checkpoint.json  full table state at v plus the
                                cumulative staged-token ledger
    _txlog/<name>.tmp.<uuid>    a write in flight (or abandoned)
    _staging/<token>            intent marker of an in-flight write
    data/<token>/...            the data files that write staged

``<v>`` is the version zero-padded to 20 digits. Every commit is a
dict with an ``op`` and optional action keys (``add``, ``remove``,
``dv_targets``/``dv_file``, ``schema``, ``blooms``, ...); ``replay``
is the one rule that folds a commit into table state.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid

LOG_DIR = "_txlog"
STAGING_DIR = "_staging"
_VERSION_WIDTH = 20
_COMMIT_SUFFIX = ".json"
_CHECKPOINT_SUFFIX = ".checkpoint.json"


# -- paths and reads ----------------------------------------------------


def version_path(root: str, version: int) -> str:
    return os.path.join(
        root, LOG_DIR, f"{version:0{_VERSION_WIDTH}d}{_COMMIT_SUFFIX}"
    )


def checkpoint_path(root: str, version: int) -> str:
    return os.path.join(
        root, LOG_DIR, f"{version:0{_VERSION_WIDTH}d}{_CHECKPOINT_SUFFIX}"
    )


def latest_version(root: str) -> int:
    """Highest committed version; -1 for an empty table or a missing
    log directory."""
    log_dir = os.path.join(root, LOG_DIR)
    if not os.path.isdir(log_dir):
        return -1
    best = -1
    for name in os.listdir(log_dir):
        if name.endswith(_COMMIT_SUFFIX) and not name.endswith(
            _CHECKPOINT_SUFFIX
        ):
            best = max(best, int(name.split(".")[0]))
    return best


def read_commit(root: str, version: int) -> dict:
    with open(version_path(root, version)) as fh:
        return json.load(fh)


def newest_checkpoint(root: str, upto: int) -> dict | None:
    """The newest checkpoint at or below ``upto`` as its raw JSON
    object, with ``version`` set to its version; ``None`` when there
    is none. Older layouts lack some keys: ``empty_state`` fills
    them."""
    for v in range(upto, -1, -1):
        path = checkpoint_path(root, v)
        if os.path.exists(path):
            with open(path) as fh:
                return {**json.load(fh), "version": v}
    return None


# -- writes -------------------------------------------------------------


def _synced_tmp(path: str, payload: bytes) -> str:
    """Write ``payload`` to a fresh tmp file beside ``path`` and fsync
    it, so whatever name it is published under never shows partial
    content, even after a crash."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    try:
        os.write(fd, payload)
        os.fsync(fd)
    finally:
        os.close(fd)
    return tmp


def _sync_dir(path: str) -> None:
    """Fsync the directory holding ``path``, so a name just published
    there (link or rename) survives a power loss: fsyncing the file
    makes its content durable, not its directory entry."""
    fd = os.open(os.path.dirname(path), os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def put_if_absent(path: str, payload: bytes) -> bool:
    """Create ``path`` holding ``payload`` unless it exists: False when
    another writer holds the name. The full payload is written and
    fsynced to a tmp file first, then hard-linked into place: link(2)
    fails with EEXIST like O_CREAT|O_EXCL, but the name appears only
    with its complete content (an object store's conditional put is
    content-atomic the same way). The log directory is fsynced after
    the link, so a commit reported as landed survives a power loss.
    Raises ``FileNotFoundError`` when the tmp file vanished before the
    link: a vacuum reaped it because this writer stalled past the
    abandoned-file horizon."""
    tmp = _synced_tmp(path, payload)
    try:
        os.link(tmp, path)
    except FileExistsError:
        return False
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
    _sync_dir(path)
    return True


def write_checkpoint(root: str, state: dict, tokens: set[str]) -> None:
    """Publish ``state`` (at ``state["version"]``) as a checkpoint,
    with the cumulative staged-token ledger so ``vacuum`` resolves
    committed tokens in O(commits since checkpoint). Same durable tmp
    as a commit, renamed over any earlier copy (every writer of one
    version's checkpoint writes the same content), then the log
    directory is fsynced like a commit's.

    The write-schema ledger is compacted on the way out: replay only
    ever appends to ``schemas``, so one-off variants linger after
    their files are gone. Only ids a live file references are kept
    and renumbered; ids are internal to one state, so replay resumes
    from the compacted list with identical results."""
    used = sorted(
        {sid for sid in state["file_schema"].values() if sid is not None}
    )
    remap = {sid: i for i, sid in enumerate(used)}
    cp = {k: v for k, v in state.items() if k != "version"}
    cp["schemas"] = [state["schemas"][sid] for sid in used]
    cp["file_schema"] = {
        rel: (remap[sid] if sid is not None else None)
        for rel, sid in state["file_schema"].items()
    }
    cp["tokens"] = sorted(tokens)
    path = checkpoint_path(root, state["version"])
    payload = json.dumps(cp, sort_keys=True).encode()
    os.replace(_synced_tmp(path, payload), path)
    _sync_dir(path)


def reap_abandoned_tmps(root: str, before: float) -> None:
    """Remove log tmp files last modified at or before ``before``
    (epoch seconds). A tmp lives for one write and publish only, so
    one that old was left by a writer that crashed in between."""
    log_dir = os.path.join(root, LOG_DIR)
    if not os.path.isdir(log_dir):
        return
    for name in sorted(os.listdir(log_dir)):
        if ".tmp." not in name:
            continue
        tmp = os.path.join(log_dir, name)
        try:
            if os.path.getmtime(tmp) <= before:
                os.remove(tmp)
        except OSError:
            pass  # raced with the writer or a parallel vacuum


# -- staging markers ----------------------------------------------------


def marker_path(root: str, token: str) -> str:
    return os.path.join(root, STAGING_DIR, token)


def write_marker(root: str, token: str) -> None:
    """Land the ``_staging/<token>`` intent marker, BEFORE any of the
    token's data is written (the protocol ``vacuum`` relies on)."""
    os.makedirs(os.path.join(root, STAGING_DIR), exist_ok=True)
    with open(marker_path(root, token), "w") as fh:
        json.dump({"token": token, "ts": time.time_ns()}, fh)


def reclaim_tokens(root: str, tokens) -> None:
    """Remove staged tokens: their ``data/<token>`` dirs and markers."""
    for token in tokens:
        shutil.rmtree(os.path.join(root, "data", token), ignore_errors=True)
        with contextlib.suppress(OSError):
            os.remove(marker_path(root, token))


def staged_tokens(commit: dict) -> set[str]:
    """Staging tokens a commit references: those of its added files
    and its deletion-vector file. Absolute paths (a shallow clone's
    references into another table) have none."""
    rels = [a["path"] for a in commit.get("add", [])]
    if commit.get("dv_file"):
        rels.append(commit["dv_file"])
    return {r.split(os.sep)[1] for r in rels if not os.path.isabs(r)}


# -- state --------------------------------------------------------------


def empty_state(checkpoint: dict | None = None) -> dict:
    """Table state before any commit, overlaid with a loaded
    checkpoint (``newest_checkpoint``) when one is given. Keys an
    older checkpoint layout lacks keep their empty value here: files
    of a checkpoint without per-file write schemas read through the
    mergeSchema fallback, never a guessed schema. The token ledger is
    not table state and is dropped."""
    state = {
        "version": -1,
        "schema": None,
        "files": {},
        "dvs": {},
        "constraints": {},
        "bloom_cols": {},
        "blooms": {},
        "generated": {},
        "identity": {},
        "renames": [],
        "file_epoch": {},
        "schemas": [],
        "file_schema": {},
        "protocol": {"min_reader": 1, "min_writer": 1},
    }
    if checkpoint is not None:
        state.update(checkpoint)
        state.pop("tokens", None)
    return state


def add_write_schema(commit: dict) -> dict[str, str | None]:
    """Schema JSON each added file of ``commit`` was written with, or
    ``None`` where the log does not know it (logs that predate
    per-file write schemas): the reader then falls back to
    mergeSchema. A per-file ``file_schemas`` entry wins (restore and
    clone re-adds, replace_where's two staged sets). Otherwise all of
    a commit's staged files share one schema: ``add_schema``, or
    ``schema`` for append and overwrite, whose commit schema IS the
    staged one (merge-family commits record the base schema there,
    which may differ from the staged files in nullability). Restore
    and clone re-add files written across many commits, so no
    commit-wide schema holds for them."""
    op = commit.get("op")
    common = (
        None
        if op in ("restore", "clone")
        else commit.get("add_schema")
        or (commit.get("schema") if op in ("append", "overwrite") else None)
    )
    per_file = commit.get("file_schemas", {})
    return {
        a["path"]: per_file.get(a["path"]) or common
        for a in commit.get("add", [])
    }


def file_schemas(state: dict, rels) -> dict[str, str | None]:
    """Write schema JSON of each file in ``rels`` under ``state``,
    ``None`` where the log does not know it."""
    sid = state["file_schema"]
    return {
        rel: None if sid.get(rel) is None else state["schemas"][sid[rel]]
        for rel in rels
    }


def _copy_stats(stats: dict) -> dict:
    return {k: dict(v) if isinstance(v, dict) else v for k, v in stats.items()}


def _copy_filters(filters: dict) -> dict:
    return {rel: dict(f) for rel, f in filters.items()}


def _copy_dvs(dvs: dict) -> dict:
    return {rel: [dict(e) for e in entries] for rel, entries in dvs.items()}


def _set_constraint(state: dict, c: dict) -> None:
    state["constraints"][c["name"]] = c["check"]


def _drop_constraint(state: dict, c: dict) -> None:
    state["constraints"].pop(c["name"], None)


def _set_generated(state: dict, c: dict) -> None:
    state["generated"][c["name"]] = c["expr"]


def _drop_generated(state: dict, c: dict) -> None:
    state["generated"].pop(c["name"], None)


def _set_identity(state: dict, c: dict) -> None:
    state["identity"][c["name"]] = {
        "step": int(c["step"]), "next": int(c["next"])
    }


def _drop_identity(state: dict, c: dict) -> None:
    state["identity"].pop(c["name"], None)


def _reserve_identity(state: dict, c: dict) -> None:
    ident = state["identity"].get(c["name"])
    if ident is not None:
        ident["next"] = max(int(ident["next"]), int(c["upto"]))


def _rename_column(state: dict, c: dict) -> None:
    state["renames"] = state["renames"] + [[c["old"], c["new"]]]


def _set_protocol(state: dict, c: dict) -> None:
    state["protocol"] = {
        "min_reader": int(c["min_reader"]),
        "min_writer": int(c["min_writer"]),
    }


def _restore(state: dict, c: dict) -> None:
    # A restore carries the complete DV mapping and rename list of
    # its target version: replacement, not fold. DVs added since the
    # restore point die and re-added files get theirs back; a restore
    # to a pre-rename version reverts the logical schema, so the
    # mapping reverts with it (the commit's "epochs" index into it).
    state["dvs"] = _copy_dvs(c["dvs"])
    if "renames" in c:
        state["renames"] = [list(r) for r in c["renames"]]


def _clone(state: dict, c: dict) -> None:
    _restore(state, c)
    # a clone also inherits the source's table policy
    state["constraints"] = dict(c.get("constraints", {}))
    state["bloom_cols"] = dict(c.get("bloom_cols", {}))
    state["generated"] = dict(c.get("generated", {}))
    state["identity"] = {k: dict(v) for k, v in c.get("identity", {}).items()}


def _bloom_index(state: dict, c: dict) -> None:
    state["bloom_cols"][c["col"]] = {"fpp": c["fpp"]}
    state["blooms"].setdefault(c["col"], {}).update(
        _copy_filters(c["filters"])
    )


def _drop_bloom_index(state: dict, c: dict) -> None:
    state["bloom_cols"].pop(c["col"], None)
    state["blooms"].pop(c["col"], None)


#: op effects applied BEFORE the commit's file actions: an added
#: file's default rename epoch is the rename count after its commit's
#: own metadata change
_BEFORE_FILES = {
    "set_constraint": _set_constraint,
    "drop_constraint": _drop_constraint,
    "set_generated": _set_generated,
    "drop_generated": _drop_generated,
    "set_identity": _set_identity,
    "drop_identity": _drop_identity,
    "reserve_identity": _reserve_identity,
    "rename_column": _rename_column,
}
#: op effects applied AFTER the file actions: they replace what the
#: file actions folded (restore/clone DVs and renames) or register an
#: index whose filters the commit carries
_AFTER_FILES = {
    "set_protocol": _set_protocol,
    "restore": _restore,
    "clone": _clone,
    "bloom_index": _bloom_index,
    "drop_bloom_index": _drop_bloom_index,
}


def replay(state: dict, commit: dict) -> dict:
    """Fold the next commit into ``state`` in place and return it.
    Touches no file. Everything taken from ``commit`` is copied, so a
    caller that mutates the state never alters the commit object (a
    memoized commit stays what is on disk).

    Order within one commit: schema; the op's metadata change;
    removes (a removed file takes its epoch, write schema, deletion
    vectors and bloom filters with it: the rewrite already applied
    or re-derives them); adds (stats, rename epoch, write schema);
    the commit's deletion vector; restore/clone/protocol/bloom-index
    replacements; then the per-file bloom filters the commit carries."""
    op = commit.get("op")
    state["version"] += 1
    if commit.get("schema"):
        state["schema"] = commit["schema"]
    if op in _BEFORE_FILES:
        _BEFORE_FILES[op](state, commit)
    for rel in commit.get("remove", []):
        state["files"].pop(rel, None)
        state["file_epoch"].pop(rel, None)
        state["file_schema"].pop(rel, None)
        state["dvs"].pop(rel, None)
        for filt in state["blooms"].values():
            filt.pop(rel, None)
    schemas = state["schemas"]
    epochs = commit.get("epochs", {})
    for rel, sch in add_write_schema(commit).items():
        if sch and sch not in schemas:
            schemas.append(sch)
        state["file_schema"][rel] = schemas.index(sch) if sch else None
    for add in commit.get("add", []):
        rel = add["path"]
        state["files"][rel] = _copy_stats(add["stats"])
        # which renames had already happened when the file was
        # written, i.e. its physical column names; restore and clone
        # re-adds carry theirs, as their files predate the head
        state["file_epoch"][rel] = epochs.get(rel, len(state["renames"]))
    # any commit may carry a deletion vector (delete_dv, update_mor)
    for rel, n in commit.get("dv_targets", {}).items():
        state["dvs"].setdefault(rel, []).append(
            {"file": commit["dv_file"], "rows": int(n)}
        )
    if op in _AFTER_FILES:
        _AFTER_FILES[op](state, commit)
    # per-file filters of auto-maintained bloom indexes
    for col, filt in commit.get("blooms", {}).items():
        state["blooms"].setdefault(col, {}).update(_copy_filters(filt))
    return state


def state_at(root: str, version: int, read=None) -> dict:
    """Table state at ``version``: the newest checkpoint at or below
    it, then ``replay`` of every later commit, so the cost is
    O(commits since checkpoint). ``read(v)`` returns commit ``v``
    (default: read from disk)."""
    read = read or (lambda v: read_commit(root, v))
    state = empty_state(newest_checkpoint(root, version))
    for v in range(state["version"] + 1, version + 1):
        replay(state, read(v))
    return state
