"""Transaction-log table format: ACID-ish parquet tables on a plain
filesystem — append / overwrite / delete-where / compact with atomic
commits, snapshot-isolated reads, time travel, and vacuum.

The reference's warehouse loads (`dags/Load.py:17`, first-load-or-delta
merge ×7) overwrite whole directories: a reader that lists the target
mid-load sees half a table. This module gives the curated layer the
modern fix, built only on public log-structured-table ideas (the
Delta-Lake/Iceberg model): data files are immutable parquet, table
state is an ordered JSON action log, and a commit is ONE atomic
create of `_txlog/<version>.json` (fully-written tmp file hard-linked
into place, so the claim AND the content are atomic together) —
readers resolve a version and only ever see complete commits.

Scale design (100 TB):
- Data files never rewrite on append; delete-where is copy-on-write of
  ONLY the files that actually contain matching rows (found with
  `input_file_name()`, a distributed scan, not driver logic).
- Snapshot resolution reads the JSON log, not the filesystem: no
  O(files) directory listing on the read path. A checkpoint (full
  live-file list) lands every `checkpoint_every` commits, so log
  replay is O(commits since checkpoint).
- Per-file min/max column stats ride in the log (from parquet footers
  at commit time) so readers can prune files before Spark ever opens
  them — the same skip-index idea as `write_sorted_parquet`.
- Concurrency is optimistic: the version-file create either wins or
  raises `FileExistsError`; appends rebase and retry automatically,
  read-modify-write ops (overwrite/delete/compact) raise `TxConflict`
  when the table moved under them.

Single-JVM local mode uses POSIX `link(2)` EEXIST atomicity (content
written and fsync'd before the name appears); on an object store the
same protocol runs on a putIfAbsent / DynamoDB-style log-commit
primitive (content-atomic by construction) — the log format is
transport-agnostic.

The on-disk format (log, checkpoint and staging-marker files) and the
fold of commits into table state live in `txlog_log.py`, which needs
no Spark; this module is the Spark side: staging data, the DML verbs,
reads and vacuum.
"""

from __future__ import annotations

import contextlib
import copy
import json
import re
import os
import threading
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aiports_data_warehouse_etl_spark.sources import txlog_log
# the log's file names, under the names the tests import
from aiports_data_warehouse_etl_spark.sources.txlog_log import (  # noqa: F401
    checkpoint_path as _checkpoint_path,
    version_path as _version_path,
)


class TxConflict(RuntimeError):
    """A read-modify-write commit lost the race: the table advanced
    past the snapshot the operation was computed from."""


class ConstraintViolation(ValueError):
    """A write would insert rows that fail a CHECK constraint."""


_BLOOM_DIR = "_bloom"  # bloom-bitmap sidecar files (see _externalize_blooms)
#: Serializes ``_driver_side_listing``'s set and restore of a
#: session-global conf, so threads sharing a session cannot leave it
#: raised.
_LISTING_CONF_LOCK = threading.Lock()

#: Commit ops a STAGED BLIND APPEND may rebase over: none of these
#: change the column-naming epoch, the write policy (CHECK /
#: generated / identity), or the protocol, so a file staged and
#: validated against an older policy snapshot is still truthful on
#: the newer one. Everything else — rename/drop epoch bumps, new
#: constraints or generated/identity registrations, protocol bumps,
#: overwrite/restore/clone — invalidates either the staged file's
#: physical column names or its pre-stage validation, and must
#: surface as TxConflict so the writer re-validates from fresh state
#: (Delta raises MetadataChangedException here; ADVICE r6 #2).
#: Default-deny: ops not in this set conflict.
_APPEND_REBASE_SAFE = frozenset({
    "append", "reserve_identity", "compact", "delete", "delete_dv",
    "update", "update_mor", "merge", "replace_where", "materialize",
    "bloom_index", "drop_bloom_index", "drop_constraint",
    "drop_generated", "drop_identity",
})


def _rebase_over_blind_appends(ivs: list[tuple[int, dict]]) -> str | None:
    """Rebase rule of the read-modify-write verbs (DML, ``compact``):
    only BLIND APPENDS (pure add — no remove, no deletion vector) and
    identity reservations may land between the base snapshot and the
    commit. Returns the conflict reason, ``None`` when all are safe."""
    for i, c in ivs:
        if c.get("op") == "reserve_identity":
            continue  # pure metadata: touches no files
        if c.get("op") != "append" or c.get("remove") or c.get("dv_targets"):
            return (
                f"conflicting concurrent commit {i} (op={c.get('op')!r}) "
                "— only blind appends rebase; retry from a fresh snapshot"
            )
    return None


def _rebase_over_policy_safe(ivs: list[tuple[int, dict]]) -> str | None:
    """Rebase rule of the staged blind appends (``append``,
    ``append_batch_txn``, the native streaming sink): every commit
    since the policy snapshot must be in ``_APPEND_REBASE_SAFE``."""
    for i, c in ivs:
        if c.get("op") not in _APPEND_REBASE_SAFE:
            return (
                f"concurrent schema/policy commit v{i}:{c.get('op')} "
                "since the policy snapshot — re-read and retry"
            )
    return None


class _Staging:
    """The one owner of a write's staged files. Every ``TxLogTable``
    write — and the native streaming sink (``txlog_sink.py``) — stages
    through it and commits through ``_commit_or_rebase``::

        with _Staging(self) as st:
            adds, schema = st.stage(df)
            return self._commit_or_rebase(base, commit, op, rule, stage=st)

    ``_stage_and_commit`` wraps exactly this for one-frame writes.

    **Reclaim guarantee.** When the ``with`` block exits — by a landed
    commit, a no-op return, or ANY exception (``TxConflict``,
    ``ConstraintViolation``, ``AnalysisException``, ...) — every token
    staged through it is either referenced by the commit this write
    landed, or removed: its ``data/<token>`` dir and its
    ``_staging/<token>`` marker. A commit attempt that raised is
    checked against its version file first, so files a landed commit
    references are never removed. ``vacuum``'s marker protocol is
    therefore only for writers that die without unwinding (crash,
    kill)."""

    def __init__(self, table: "TxLogTable") -> None:
        self.table = table
        self.tokens: set[str] = set()
        #: version of the latest commit attempt that did not lose the
        #: race (it landed, or raised before the outcome was known)
        self.trying: int | None = None

    def stage(self, df: DataFrame) -> tuple[list[dict], str]:
        adds, schema = self.table._stage(df)
        self.adopt(txlog_log.staged_tokens({"add": adds}))
        return adds, schema

    def adopt(self, tokens) -> None:
        """Take ownership of tokens staged elsewhere (sink tasks)."""
        self.tokens.update(tokens)

    def __enter__(self) -> "_Staging":
        return self

    def __exit__(self, *exc) -> None:
        keep: set[str] = set()
        if self.trying is not None:
            with contextlib.suppress(OSError, ValueError):
                keep = txlog_log.staged_tokens(
                    self.table._read_commit(self.trying)
                )
        txlog_log.reclaim_tokens(self.table.path, self.tokens - keep)


#: Max stored length for STRING min/max stats (Delta's dataSkipping
#: NumIndexedCols-era convention): a documents-style table would
#: otherwise embed two full document texts PER FILE PER COMMIT (the
#: lexicographic min/max of a text column are whole documents) — at
#: 10⁵ files that is GBs of log for stats nobody ranges over at full
#: length. Truncation keeps bounds SOUND: a prefix is ≤ its string
#: (valid lower bound); the max side takes the prefix's SUCCESSOR
#: (last incrementable code point bumped, tail dropped), which is ≥
#: every string sharing the prefix — or drops the bound entirely
#: when no successor exists, degrading to "cannot skip", never to a
#: wrong skip.
_STAT_STR_MAX = 32


def _stat_trunc_min(s: str) -> str:
    return s if len(s) <= _STAT_STR_MAX else s[:_STAT_STR_MAX]


def _stat_trunc_max(s: str) -> str | None:
    if len(s) <= _STAT_STR_MAX:
        return s
    p = s[:_STAT_STR_MAX]
    for i in range(len(p) - 1, -1, -1):
        c = ord(p[i])
        if c < 0x10FFFF:
            nc = c + 1
            if 0xD800 <= nc <= 0xDFFF:
                nc = 0xE000  # never emit a lone surrogate
            return p[:i] + chr(nc)
    return None  # every code point is U+10FFFF — unbounded above


def _file_stats(abs_path: str) -> dict:
    """Per-file row count + min/max column stats from the parquet
    footer (pyarrow) — commit-time metadata, so the read path can
    prune files without opening them. String bounds longer than
    ``_STAT_STR_MAX`` are truncated (min: prefix; max:
    prefix-successor, or dropped when none exists)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    mins: dict = {}
    maxs: dict = {}
    # a column may only carry file-level stats if EVERY row group has
    # usable min/max for it — a partial range under-covers the data
    # and read(prune=...) would silently skip a file with matching
    # rows (the same "cannot skip safely" rule as _stats_may_match)
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        grp = md.row_group(rg)
        for ci in range(grp.num_columns):
            col = grp.column(ci)
            name = col.path_in_schema
            st = col.statistics
            if st is None or not st.has_min_max:
                bad.add(name)
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    bad.add(name)
                    continue
            if not isinstance(lo, (int, float, str)):
                lo, hi = str(lo), str(hi)
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
    for name in bad:
        mins.pop(name, None)
        maxs.pop(name, None)
    for name, lo in list(mins.items()):
        if isinstance(lo, str):
            mins[name] = _stat_trunc_min(lo)
    for name, hi in list(maxs.items()):
        if isinstance(hi, str):
            t = _stat_trunc_max(hi)
            if t is None:
                maxs.pop(name)
            else:
                maxs[name] = t
    return {"rows": md.num_rows, "bytes": os.path.getsize(abs_path),
            "min": mins, "max": maxs}


def _physical_name(col: str, epoch: int, renames: list) -> str:
    """Physical column name inside a data file written at rename-epoch
    ``epoch`` for the LOGICAL name ``col`` (renames[epoch:] had not yet
    happened when the file was written — walk them backwards)."""
    cur = col
    for old, new in reversed(renames[epoch:]):
        if cur == new:
            cur = old
    return cur


class TxLogTable:
    """One log-structured table rooted at ``path``."""

    # Protocol versions this engine build understands (Delta-style):
    # 1 = base format (files + stats), 2 = deletion vectors / blooms /
    # restore / z-order — everything this module writes today. A table
    # whose committed min_reader/min_writer exceeds these is refused
    # loudly instead of being misread or half-written.
    SUPPORTED_READER = 2
    SUPPORTED_WRITER = 2

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        checkpoint_every: int = 10,
    ) -> None:
        self.spark = spark
        self.path = path
        self.checkpoint_every = checkpoint_every
        #: memoized bloom sidecar payloads (abs path -> {key: bits});
        #: sidecars are immutable once a commit references them, so
        #: the cache never needs invalidation within an instance
        self._bloom_sidecars: dict[str, dict] = {}
        # r13 driver-latency memos (guide §5 — the driver should do
        # almost no repeated work): a committed version's JSON is
        # immutable (atomic create, never rewritten), so commits,
        # resolved snapshots, and the prune-free read() plan at a
        # version can all be derived once per instance. Keyed by
        # version and scoped to THIS instance (a table re-created at
        # the same path is a new instance), so concurrent writers are
        # seen the moment latest_version() returns a new head. All
        # consumers treat these as read-only; the change planner
        # (change_plan) folds a copy and memoizes where it ends, and
        # txlog_log.replay copies what it takes from a commit.
        self._commit_memo: dict[int, dict] = {}
        self._snap_memo: dict[int, dict] = {}
        self._read_memo: dict[int, DataFrame] = {}
        os.makedirs(os.path.join(path, txlog_log.LOG_DIR), exist_ok=True)

    # -- log plumbing ---------------------------------------------------

    def latest_version(self) -> int:
        """Highest committed version, -1 for an empty table."""
        return txlog_log.latest_version(self.path)

    def _read_commit(self, version: int) -> dict:
        c = self._commit_memo.get(version)
        if c is None:
            c = txlog_log.read_commit(self.path, version)
            self._commit_memo[version] = c
        return c

    def _snapshot(self, version: int | None = None) -> dict:
        """Table state at ``version`` (default: latest), folded by
        ``txlog_log.state_at`` from the newest checkpoint ≤ version:
        {"version", "schema", "files": {rel_path: stats}, "dvs", ...}
        (the keys of ``txlog_log.empty_state``)."""
        head = self.latest_version() if version is None else version
        if head < 0:
            return txlog_log.empty_state()
        memo_hit = self._snap_memo.get(head)
        if memo_hit is not None:
            return memo_hit
        return self._memo_snapshot(
            txlog_log.state_at(self.path, head, self._read_commit)
        )

    def _memo_snapshot(self, state: dict) -> dict:
        # bounded: vacuum/time-travel sweeps walk many versions — keep
        # the newest handful, which is what refresh/commit loops
        # re-resolve
        if len(self._snap_memo) >= 32:
            self._snap_memo.pop(next(iter(self._snap_memo)))
        self._snap_memo[state["version"]] = state
        return state

    def _maintain_blooms(self, commit: dict) -> None:
        """Bloom auto-maintenance: when the table has registered bloom
        columns, a commit that adds data files gets per-file filters
        computed here (from the already-staged parquet) and embedded
        in the commit — so appends, rewrites, MERGE and compaction
        keep the index complete with no caller changes. A commit that
        already carries ``blooms`` (restore, clone) keeps them.

        ``self.spark`` is None on the native streaming sink's commit
        path (Python worker, no JVM handle): no filters there — a
        file absent from a bloom index is conservatively KEPT by
        read(prune_eq=...), so correctness is unaffected; the next
        add_bloom_index/compact back-fills."""
        if not commit.get("add") or "blooms" in commit or not self.spark:
            return
        try:
            bloom_cols = self._snapshot()["bloom_cols"]
        except (OSError, ValueError):
            return
        add_stats = {a["path"]: a["stats"] for a in commit["add"]}
        add_sch = txlog_log.add_write_schema(commit)
        blooms: dict = {}
        for col, params in bloom_cols.items():
            filt = self._build_blooms(
                add_stats, col, float(params["fpp"]), sch_of=add_sch
            )
            if filt:
                blooms[col] = filt
        if blooms:
            commit["blooms"] = self._externalize_blooms(blooms)

    def _try_commit(self, version: int, commit: dict) -> bool:
        """ONE atomic create — the whole concurrency story. Returns
        False when another writer took this version number. Pure log
        I/O: every Spark-side part of the commit is already in
        ``commit``."""
        # Writer protocol gate (Delta-style versioning): a table
        # whose min_writer exceeds what this code supports must be
        # REFUSED, never half-written — the forward-compat contract
        # that lets old and new engine versions share one table. The
        # upgrade commit itself passes (it is checked against the
        # protocol BEFORE it) — after it lands, refusal kicks in.
        if version > 0:
            try:
                proto = self._snapshot(version - 1)["protocol"]
            except (OSError, ValueError, KeyError):
                proto = {"min_writer": 1}
            if int(proto["min_writer"]) > self.SUPPORTED_WRITER:
                raise ValueError(
                    f"txlog table {self.path} requires writer protocol "
                    f">= {proto['min_writer']}; this engine supports "
                    f"{self.SUPPORTED_WRITER} — upgrade the engine, "
                    "not the table"
                )
        # Commit timestamps are STRICTLY monotone by construction
        # (Delta-style clamp: never below predecessor+1 ns, one small
        # predecessor read — v-1 always exists before anyone targets
        # v). This is what lets version_as_of binary-search the log
        # instead of scanning it, and keeps AS-OF semantics sane when
        # a writer's wall clock steps backwards.
        commit["ts"] = time.time_ns()
        if version > 0:
            try:
                prev_ts = int(self._read_commit(version - 1)["ts"])
                commit["ts"] = max(commit["ts"], prev_ts + 1)
            except (OSError, ValueError, KeyError):
                pass  # unreadable predecessor: raw clock stamp
        payload = json.dumps(commit, sort_keys=True).encode()
        try:
            if not txlog_log.put_if_absent(
                txlog_log.version_path(self.path, version), payload
            ):
                return False
        except FileNotFoundError:
            # A concurrent vacuum(abandoned_seconds=...) reaped our
            # tmp file between create and link — only possible when
            # this writer stalled longer than the caller's abandonment
            # horizon. Surface it LOUDLY as a conflict (the state read
            # is that stale too), never as a bare FileNotFoundError
            # (ADVICE r8 #2). No staged-file reclaim needed: any
            # parquet this writer staged was created BEFORE the tmp,
            # so it is older than the same abandonment horizon and the
            # same vacuum reaps it.
            raise TxConflict(
                f"commit v{version}: staging file reaped by vacuum "
                f"(writer exceeded the abandoned-file horizon); "
                f"re-read table state and retry"
            ) from None
        if version > 0 and version % self.checkpoint_every == 0:
            txlog_log.write_checkpoint(
                self.path, self._snapshot(version),
                self._committed_tokens(version),
            )
        # commit landed: the staged files are now log-referenced, so
        # their intent markers are done (best-effort — vacuum also
        # reaps markers whose token appears in the log)
        for token in txlog_log.staged_tokens(commit):
            with contextlib.suppress(OSError):
                os.remove(self._marker_path(token))
        return True

    # -- staging --------------------------------------------------------

    def _stage_and_commit(
        self,
        df: DataFrame,
        base_version: int,
        commit: dict,
        op: str,
        rebase,
        *,
        schema_keys: tuple[str, ...] = ("add_schema",),
        max_retries: int = 20,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """The body of every write that stages ONE frame: stage ``df``
        (``_Staging``) and commit ``commit`` plus the staged adds, their
        write schema under ``schema_keys`` and the optional ``txn``
        marker (``_commit_or_rebase``)."""
        with _Staging(self) as st:
            adds, schema = st.stage(df)
            commit = {**commit, "add": adds}
            commit.update(dict.fromkeys(schema_keys, schema))
            if txn is not None:
                commit["txn_app"], commit["txn_id"] = txn
            return self._commit_or_rebase(
                base_version, commit, op, rebase,
                stage=st, max_retries=max_retries, txn=txn,
            )

    def _commit_or_rebase(
        self,
        base_version: int,
        commit: dict,
        op: str,
        rebase,
        *,
        stage: _Staging | None = None,
        max_retries: int = 20,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """The ONE commit loop of every write. The op computed its
        file-level read/write sets against ``base_version``; when the
        version it targets is already taken, the intervening commits
        decide. A commit carrying the same ``txn`` (app, id) means
        another attempt of this write already landed: return ``None``.
        Otherwise ``rebase`` (``ivs`` → conflict reason or ``None``)
        says whether the op's sets are still valid on the newer
        snapshot — ``_rebase_over_blind_appends`` for DML/compact
        (Delta's write-serializable matrix), ``_rebase_over_policy_safe``
        for staged appends, a predicate probe for ``replace_where`` —
        and the commit REBASES onto the new head; ``rebase=None``
        never rebases (overwrite, restore, materialize, the metadata
        commits). A conflict raises ``TxConflict`` for the caller's
        retry-from-read.

        Semantics note (the standard lakehouse default): a rebased
        DELETE/UPDATE does not see rows a concurrent append inserted
        after its snapshot — they survive untouched even where they
        match the predicate. The commit records ``rebased_onto`` so
        the audit log shows which snapshot it actually landed on; a
        rewrite drops its own ``schema`` when an intervening append
        evolved the table's (the newer write wins — a rebase must
        never silently narrow an additive evolution), while an
        append's schema is its files' write schema and stays."""
        # the write's Spark work ends here, once: every retry below
        # re-commits the same staged files with the same filters
        self._maintain_blooms(commit)
        st = stage or _Staging(self)
        v = base_version + 1
        for _ in range(max_retries):
            st.trying = v
            if self._try_commit(v, commit):
                return v
            st.trying = None
            latest = self.latest_version()
            ivs = [(i, self._read_commit(i)) for i in range(v, latest + 1)]
            if txn is not None and any(
                (c.get("txn_app"), c.get("txn_id")) == txn for _, c in ivs
            ):
                return None  # another attempt of the same write won
            why = (
                rebase(ivs)
                if rebase is not None
                else f"table advanced past base snapshot v{base_version}"
            )
            if why is not None:
                raise TxConflict(f"{op}: {why}")
            if commit["op"] != "append" and any(
                c.get("schema") for _, c in ivs
            ):
                commit.pop("schema", None)
            commit["rebased_onto"] = latest
            v = latest + 1
        raise TxConflict(f"{op} lost {max_retries} commit races")

    def _marker_path(self, token: str) -> str:
        return txlog_log.marker_path(self.path, token)

    def _rewrite_width(self, hit_rel: list[str], base: dict) -> int:
        """File count for a copy-on-write REWRITE: proportional to the
        rewritten bytes (⌈hit bytes / 128 MB⌉, min 1), read off the
        log's per-file stats — no extra job. Without this, every COW
        rewrite staged with the plan's incidental partitioning (scan
        splits + the source side's shuffle partitions), so rewriting
        ONE file emitted shuffle-partition-count files: measured at
        the 10× demo probe (tools/scale_demos.py, r11), a 2,000-key
        merge against a 1.5M-row clustered table rewrote 1 file and
        added 17, fragmenting the clustered layout so badly that the
        NEXT slice operation rewrote all 17. With the width applied,
        a merge touching k files stages ~k files — the O(k) rewrite
        discipline SCALE.md promises, kept under composition. The
        caller applies ``coalesce(width)`` (narrow — scan splits
        mirror the hit files, so this merges the source side's
        shuffle partitions in without re-shuffling the rewrite)."""
        est = sum(
            int(base["files"][r].get("bytes", 0)) for r in hit_rel
        )
        return max(1, -(-est // (128 * 1024 * 1024)))

    def _merge_width(
        self, hit_rel: list[str], base: dict, src: DataFrame
    ) -> int:
        """Rewrite width for MERGE paths: hit-file bytes PLUS a plan-
        stats estimate of the source volume (ADVICE r11). A merge is
        the one COW path whose staged output can be much BIGGER than
        its hit files — an insert-heavy merge touching one small file
        would otherwise coalesce the entire source union through ~1
        write task, serializing the write and emitting oversized
        files. Catalyst's optimized-plan ``sizeInBytes`` is free (no
        job) and only ever errs conservative here: ``coalesce(n)``
        never RAISES the partition count, so an overestimate (e.g.
        the unestimable-source default) just makes the coalesce a
        no-op and the stage keeps its natural parallelism, while the
        common cases (parquet scans, local relations) estimate from
        real bytes and preserve the O(changed-bytes) file discipline."""
        try:
            src_est = int(
                src._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
                .toString()
            )
        except Exception:
            src_est = 0
        hit_est = sum(
            int(base["files"][r].get("bytes", 0)) for r in hit_rel
        )
        return max(1, -(-(hit_est + src_est) // (128 * 1024 * 1024)))

    def _skippable_cols(self, base: dict) -> set[str]:
        """Columns whose TABLE type is atomic numeric/string — the only
        ones whose extracted bounds compare in like types against the
        int/float/str footer stats (a timestamp column's stats are
        stringified datetimes; a string bound against them could skip
        wrongly on format differences)."""
        ok = {
            "byte", "short", "integer", "long", "float", "double",
            "string",
        }
        try:
            fields = json.loads(base["schema"])["fields"]
        except (TypeError, ValueError, KeyError):
            return set()
        return {
            f["name"]
            for f in fields
            if isinstance(f.get("type"), str) and f["type"] in ok
        }

    def _merge_preflight(
        self, src: DataFrame, keys: list[str], use: list[str], op: str
    ) -> dict:
        """ONE source pass for the MERGE preconditions (r13, guide
        §1.2 — fix the number of passes first): the multi-match
        uniqueness check (`_require_unique_keys`) and the per-key
        min/max ranges `_key_candidates` prunes with used to be two
        separate jobs over the same source; they ride one aggregate
        here. ``count_distinct(struct(keys))`` counts NULL keys the
        way groupBy does (struct fields null-safe-equal), so the
        dup verdict is identical. On the rare failure path the
        original groupBy probe re-runs purely to name the offending
        key in the error."""
        aggs: list = [
            F.count(F.lit(1)).alias("__n"),
            F.count_distinct(F.struct(*keys)).alias("__nk"),
        ]
        for k in use:
            aggs += [F.min(k).alias(f"__lo_{k}"), F.max(k).alias(f"__hi_{k}")]
        row = src.agg(*aggs).first()
        if int(row["__n"] or 0) != int(row["__nk"] or 0):
            self._require_unique_keys(src, keys, op)  # names the key
            raise ValueError(
                f"{op}: source has multiple rows for at least one key"
            )  # unreachable backstop (the probe above raises)
        return row.asDict()

    def _key_candidates(
        self,
        base: dict,
        src: DataFrame,
        keys: list[str],
        pre: dict | None = None,
    ) -> list[str]:
        """Files that MAY contain a source merge key, from footer
        stats + ONE min/max aggregate over the source (r11 — the MERGE
        twin of `_predicate_candidates`): a file whose [min, max] on
        every key column misses the source's key range cannot hold a
        matched row, so the hit-discovery semi-join scans O(files
        overlapping the delta) instead of O(table). On a key-clustered
        table (append cluster_by / compact sort_by) a narrow delta
        touches a handful of files at any table size. The aggregate is
        over the DELTA (small by the merge contract — the same side
        `_require_unique_keys` already passes over); multi-key merges
        prune on each key's global range independently (superset,
        sound). Empty/all-NULL bounds or non-atomic key types degrade
        to the full file list."""
        ok = self._skippable_cols(base)
        use = [k for k in keys if k in ok]
        if not use:
            return sorted(base["files"])
        if pre is not None and all(
            f"__lo_{k}" in pre and f"__hi_{k}" in pre for k in use
        ):
            row = pre  # ranges already computed by _merge_preflight
        else:
            aggs: list = []
            for k in use:
                aggs += [
                    F.min(k).alias(f"__lo_{k}"),
                    F.max(k).alias(f"__hi_{k}"),
                ]
            row = src.agg(*aggs).first()
        rng: dict[str, tuple] = {}
        for k in use:
            lo, hi = row[f"__lo_{k}"], row[f"__hi_{k}"]
            if lo is None or hi is None:
                return sorted(base["files"])
            if isinstance(lo, (int, float, str)) and isinstance(
                hi, (int, float, str)
            ):
                rng[k] = (lo, hi)
        if not rng:
            return sorted(base["files"])
        rn = base["renames"]
        fe = base["file_epoch"]
        cand = sorted(
            rel
            for rel, st in base["files"].items()
            if _stats_may_match(
                st,
                {
                    _physical_name(k, int(fe.get(rel, len(rn))), rn): r
                    for k, r in rng.items()
                },
            )
        )
        for k in use:
            if len(cand) <= 1:
                break
            cand = self._bloom_refine_candidates(base, src, k, cand)
        return cand

    #: distinct-key cap for bloom-assisted merge discovery — above
    #: this the delta is no longer "point-ish" and range pruning is
    #: the right tool; below it the probe cost (one small collect +
    #: one JVM hash job + numpy bit tests) is microseconds per file.
    _BLOOM_MERGE_KEY_CAP = 2048

    def _bloom_refine_candidates(
        self, base: dict, src: DataFrame, key: str, cand: list[str]
    ) -> list[str]:
        """Refine merge candidates with the per-file BLOOM index on
        ``key`` (r11): range pruning is blind to SCATTERED deltas — a
        uniform key sample's [min, max] spans every file — but that is
        exactly the shape bloom file indexes exist for
        (``add_bloom_index``; Delta's bloom-assisted MERGE). A file is
        kept iff its filter may contain AT LEAST ONE distinct source
        key (vectorized: one JVM xxhash64 job for all (value, seed)
        pairs — never reimplement the hash driver-side — then numpy
        bit tests per file). Files without a filter, deltas above
        ``_BLOOM_MERGE_KEY_CAP`` distinct keys, NULL keys, or any
        probe failure keep the candidate list unchanged — the result
        is always a superset of the true hit files."""
        filt_by_rel = base.get("blooms", {}).get(key, {})
        if not any(rel in filt_by_rel for rel in cand):
            return cand
        cap = self._BLOOM_MERGE_KEY_CAP
        try:
            vals = [
                r[0]
                for r in src.select(key).distinct().limit(cap + 1).collect()
            ]
        except Exception:
            return cand
        if not vals or len(vals) > cap or any(v is None for v in vals):
            return cand
        # FP-accumulation bail (r12 — found by the scale_demos bloom
        # probe): a file is kept iff ANY of the K probe keys may be
        # present, so its expected keep probability is 1-(1-fpp)^K
        # even when every key is absent. At the default fpp=0.01 a
        # 2,000-key delta keeps ~100% of files — the whole probe is
        # wasted work. An optimally-sized filter's per-key fpp ≈ 2^-k;
        # when the expected false-keep rate exceeds 50% the index
        # cannot meaningfully prune, so skip the probe (the result is
        # unchanged — `cand` is already a sound superset). Pruning at
        # scale therefore belongs to point-ish deltas: K ≲ ln(2)/fpp
        # (~70 keys at fpp=0.01, ~700 at 0.001).
        k_min = min(
            int(filt_by_rel[r]["k"]) for r in cand if r in filt_by_rel
        )
        if (1.0 - 2.0 ** -k_min) ** len(vals) < 0.5:
            return cand
        import numpy as np

        k_max = max(int(filt_by_rel[r]["k"]) for r in cand if r in filt_by_rel)
        try:
            st = T.StructType.fromJson(json.loads(base["schema"]))
            probe_df = self.spark.createDataFrame(
                [(v,) for v in vals],
                T.StructType([T.StructField("v", st[key].dataType)]),
            )
            rows = probe_df.select(
                *[
                    F.xxhash64(F.col("v"), F.lit(s).cast("int")).alias(
                        f"h{s}"
                    )
                    for s in range(k_max)
                ]
            ).collect()
        except Exception:
            return cand
        H = np.array(
            [[int(r[f"h{s}"]) for s in range(k_max)] for r in rows],
            dtype=np.int64,
        )
        out = []
        for rel in cand:
            f = filt_by_rel.get(rel)
            raw = self._bloom_bits(f) if f is not None else None
            if raw is None:
                out.append(rel)  # unindexed/lost filter — keep
                continue
            bits = np.frombuffer(raw, dtype=np.uint8)
            m, k = int(f["m"]), int(f["k"])
            p = H[:, :k] % m  # numpy % matches Python pmod for m > 0
            if bool(((bits[p >> 3] >> (p & 7)) & 1).all(axis=1).any()):
                out.append(rel)
        return out

    def _predicate_candidates(self, base: dict, predicate: str) -> list[str]:
        """Files that MAY contain a predicate-TRUE row, from footer
        stats alone (data-skipping DML, r11): the candidate-discovery
        scan of delete/update/replace used to read EVERY live file to
        find the matched ones — O(table) per DML on a 100 TB table no
        matter how selective the predicate. Range constraints are
        extracted from the predicate with Spark's own parser
        (`_ranges_from_predicate` — sound: unknown shapes contribute
        nothing) and checked against the same per-file min/max stats
        `read(prune=...)` uses, rename-aware. On a key-clustered
        table a slice DML now opens O(slice files); the measured demo
        probe's replace_where scans 1-2 files instead of 60 at the
        100× rehearsal. Unprunable predicates degrade to the full
        file list — exactly the pre-r11 behavior."""
        files = base["files"]
        rng = _ranges_from_predicate(self.spark, predicate)
        rng = {
            c: r for c, r in rng.items()
            if c in self._skippable_cols(base)
        }
        if not rng:
            return sorted(files)
        rn = base["renames"]
        fe = base["file_epoch"]
        return sorted(
            rel
            for rel, st in files.items()
            if _stats_may_match(
                st,
                {
                    _physical_name(c, int(fe.get(rel, len(rn))), rn): r
                    for c, r in rng.items()
                },
            )
        )

    def _stage(self, df: DataFrame) -> tuple[list[dict], str]:
        """Write ``df``'s parquet files into a fresh ``data/<token>``
        dir and return their add-actions. Files are invisible until a
        commit references them — never a torn table. Writes call this
        through ``_Staging.stage``, whose reclaim guarantee removes
        the token when the write does not land it (see ``_Staging``);
        a ``_stage`` that raises removes its own token.

        BEFORE any data is written, an intent marker lands in
        ``_staging/<token>`` — the concurrent-writer protocol vacuum
        relies on (VERDICT r3 #7): an unreferenced data file whose
        token has a live marker is in-flight, not garbage, REGARDLESS
        of the data file's mtime (object-store writers don't share a
        clock with the vacuum host; mtimes are advisory there). The
        marker is removed when the commit referencing the token lands
        (or reaped by vacuum once the token shows up in the log)."""
        token = uuid.uuid4().hex
        txlog_log.write_marker(self.path, token)
        rel_dir = os.path.join("data", token)
        abs_dir = os.path.join(self.path, rel_dir)
        adds = []
        try:
            df.write.mode("errorifexists").parquet(abs_dir)
            for name in sorted(os.listdir(abs_dir)):
                if not name.endswith(".parquet"):
                    continue
                rel = os.path.join(rel_dir, name)
                adds.append(
                    {"path": rel, "stats": _file_stats(os.path.join(self.path, rel))}
                )
        except BaseException:
            txlog_log.reclaim_tokens(self.path, [token])
            raise
        return adds, df.schema.json()

    # -- write operations ----------------------------------------------

    def append(
        self,
        df: DataFrame,
        max_retries: int = 20,
        cluster_by: list[str] | None = None,
        cluster_partitions: int | None = None,
        zorder_by: tuple[str, ...] | None = None,
    ) -> int:
        """Blind append: stages once, then rebases onto whatever the
        latest version is until the commit lands (appends always
        commute).

        ``cluster_by`` range-partitions + sorts the batch on those
        columns BEFORE staging, so each staged file carries tight,
        near-disjoint min/max footer stats on the clustered key —
        ``read(prune=...)`` then skips whole files exactly the way
        hive-style partition pruning would, without the
        directory-layout rigidity (and ``compact(sort_by=...)`` can
        re-cluster incrementally later — the liquid-clustering
        story: clustering is a property of FILES + LOG STATS, not of
        a frozen directory scheme).

        ``zorder_by=(x, y)`` clusters on the Morton z-value of TWO
        columns instead (functions/zorder.py): each staged file then
        covers a small rectangle of the (x, y) space and its footer
        stats are tight on BOTH columns, so ``read(prune=...)`` skips
        files for a selective filter on EITHER — the Delta
        OPTIMIZE-ZORDER layout as a property of the commit log. Same
        write cost as ``cluster_by`` (one range shuffle); columns
        must be non-negative ints < 2^16 (the 16-bit interleave —
        quantize wider domains first). Three or more columns use the
        generated per-bit gather (functions/zorder.py morton_n_col)
        with bits-per-column shrunk to fit one 64-bit lane."""
        pol = self._snapshot()
        df = self._apply_write_policy(df, pol, "append")
        if cluster_by and zorder_by:
            raise ValueError("append: pass cluster_by OR zorder_by")
        if zorder_by:
            from aiports_data_warehouse_etl_spark.functions.zorder import (
                morton_interleave,
                morton_n_col,
            )

            if len(zorder_by) == 2:
                x, y = zorder_by
                zcol = morton_interleave(F.col(x), F.col(y))
            else:  # 3+ dims: generated per-bit gather expression
                zcol = morton_n_col(list(zorder_by))
            df = df.withColumn("__z", zcol)
            args = (
                [cluster_partitions] if cluster_partitions else []
            ) + ["__z"]
            df = (
                df.repartitionByRange(*args)
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        if cluster_by:
            # explicit partition count: AQE happily coalesces a tiny
            # range shuffle into ONE partition, which collapses the
            # clustering into a single file and defeats pruning
            args = ([cluster_partitions] if cluster_partitions else []) + list(
                cluster_by
            )
            df = df.repartitionByRange(*args).sortWithinPartitions(
                *cluster_by
            )
        # a rebase is only legal over interveners that change no
        # policy/epoch — a concurrent rename/constraint/identity/
        # protocol commit since the policy snapshot means the staged
        # file or its validation is stale (ADVICE r6 #2)
        return self._stage_and_commit(
            df, pol["version"], {"op": "append"}, "append",
            _rebase_over_policy_safe, schema_keys=("schema",),
            max_retries=max_retries,
        )

    def _apply_write_policy(
        self, df: DataFrame, snap: dict, op: str
    ) -> DataFrame:
        """The table policy every row-adding write applies before it
        stages: IDENTITY ids, GENERATED columns, CHECK validation."""
        df = self._assign_identity(df, snap["identity"], op)
        df = self._apply_generated(df, snap["generated"], op)
        self._validate_constraints(df, snap["constraints"])
        return df

    # -- CHECK constraints ---------------------------------------------

    def _validate_constraints(
        self, df: DataFrame, checks: dict[str, str] | None = None
    ) -> None:
        """Reject incoming rows that FAIL any registered CHECK — ANSI
        semantics: a predicate that evaluates NULL passes; only
        boolean FALSE violates. ONE aggregation pass regardless of
        constraint count (conditional counts — same single-scan
        discipline as operators/validation.py)."""
        if checks is None:
            checks = self._snapshot()["constraints"]
        if not checks:
            return
        counts = df.agg(
            *[
                F.sum(
                    F.when(~F.coalesce(F.expr(sql), F.lit(True)), 1).otherwise(0)
                ).alias(name)
                for name, sql in sorted(checks.items())
            ]
        ).collect()[0]
        bad = {
            name: int(counts[name] or 0)
            for name in checks
            if (counts[name] or 0) > 0
        }
        if bad:
            detail = ", ".join(
                f"{name} ({n} rows violate: {checks[name]!r})"
                for name, n in sorted(bad.items())
            )
            raise ConstraintViolation(
                f"write rejected by CHECK constraints: {detail}"
            )

    def add_check(self, name: str, check_sql: str) -> int:
        """Register a table-level CHECK constraint (a boolean SQL
        expression over the row). The EXISTING table must satisfy it
        (one validation scan — refuse to register a lie); every
        subsequent row-adding write (append / streaming append /
        overwrite / MERGE source) is validated in one extra
        aggregation before staging, so bad data is rejected BEFORE it
        ever becomes a committed file — the warehouse-grade
        write-time contract the reference's post-hoc validation
        queries (V1–V6) cannot give."""
        base = self._snapshot()
        if base["version"] >= 0 and base["files"]:
            self._validate_constraints(self.read(), {name: check_sql})
        commit = {"op": "set_constraint", "name": name, "check": check_sql}
        return self._commit_or_rebase(
            base["version"], commit, "add_check", None
        )

    def drop_check(self, name: str) -> int:
        return self._commit_or_rebase(
            self.latest_version(),
            {"op": "drop_constraint", "name": name}, "drop_check", None,
        )

    # -- generated columns ----------------------------------------------

    def add_generated_column(self, name: str, expr_sql: str) -> int:
        """Declare ``name`` as a GENERATED column: ``name = expr_sql``
        (a SQL expression over the other columns of the row) holds on
        every row, forever. Writers that omit the column get it
        COMPUTED; writers that supply it get it VALIDATED (one
        conditional-count pass, same discipline as CHECK constraints);
        UPDATE/MERGE refuse direct assignment and RECOMPUTE the column
        after applying their SET (so updating a referenced base column
        can never leave the generated value stale). On a non-empty
        table the column must already exist and already satisfy the
        expression (refuse to register a lie — same rule as
        ``add_check``)."""
        base = self._snapshot()
        if base["version"] >= 0 and base["files"]:
            schema_cols = [
                f.name
                for f in T.StructType.fromJson(
                    json.loads(base["schema"])
                ).fields
            ]
            if name not in schema_cols:
                raise ValueError(
                    f"add_generated_column: column {name!r} does not "
                    "exist on the non-empty table — backfill it first "
                    "(old files would read NULL and violate generation)"
                )
            self._apply_generated(
                self.read(), {name: expr_sql}, "add_generated_column"
            )
        commit = {"op": "set_generated", "name": name, "expr": expr_sql}
        return self._commit_or_rebase(
            base["version"], commit, "add_generated_column", None
        )

    def drop_generated_column(self, name: str) -> int:
        return self._commit_or_rebase(
            self.latest_version(), {"op": "drop_generated", "name": name},
            "drop_generated_column", None,
        )

    # -- identity columns (GENERATED ALWAYS AS IDENTITY) ------------------

    def add_identity_column(
        self, name: str, start: int = 1, step: int = 1
    ) -> int:
        """Declare ``name`` as GENERATED ALWAYS AS IDENTITY: every
        row-adding write that OMITS the column gets globally-unique
        ids assigned from a log-based sequence allocator; writes that
        SUPPLY it are refused (the ALWAYS contract — uniqueness can't
        be guaranteed for caller-chosen values without a global
        check). Allocation protocol: before staging, the writer lands
        a tiny metadata-only ``reserve_identity`` commit claiming
        [next, next + n·step) — reservation is serialized by the
        commit log itself, so concurrent writers get DISJOINT ranges
        with no coordination service and no re-staging on races; a
        crash between reserve and append just leaves a gap (sequences
        have gaps). On a table with existing rows the sequence seeds
        from max(existing) + step so new ids never collide."""
        if step == 0:
            raise ValueError("add_identity_column: step must be nonzero")
        base = self._snapshot()
        if base["schema"] is None:
            raise ValueError(
                "add_identity_column: table has no schema yet"
            )
        schema = T.StructType.fromJson(json.loads(base["schema"]))
        if name not in schema.fieldNames():
            raise ValueError(
                f"add_identity_column: no column {name!r} (declare the "
                "schema first — e.g. append the table's empty frame)"
            )
        nxt = int(start)
        if base["files"]:
            mx = (
                self.read().agg(F.max(name).cast("long")).collect()[0][0]
            )
            if mx is not None:
                nxt = int(mx) + int(step)
        commit = {
            "op": "set_identity",
            "name": name,
            "step": int(step),
            "next": nxt,
        }
        return self._commit_or_rebase(
            base["version"], commit, "add_identity_column", None
        )

    def drop_identity_column(self, name: str) -> int:
        return self._commit_or_rebase(
            self.latest_version(), {"op": "drop_identity", "name": name},
            "drop_identity_column", None,
        )

    def _reserve_identity(
        self, name: str, n: int, max_retries: int = 50
    ) -> tuple[int, int]:
        """Claim the next ``n`` sequence values: returns (first, step).
        One atomic metadata commit; a lost race re-reads and retries
        (reservations always commute — the log serializes them).

        The commit MUST target the same snapshot the high-water mark
        was read from: committing at ``latest_version()+1`` re-read
        after the snapshot would let a reservation that landed in
        between go unseen — this writer would claim a later log slot
        with a stale ``from`` and both writers would hand out the same
        id range (ADVICE r6 #1)."""
        for attempt in range(max_retries):
            if attempt:
                # deterministic linear backoff (capped): under N-writer
                # contention a tight loop makes every writer replay a
                # snapshot per lost race; a few ms of spacing lets the
                # winner's commit land and cuts the retry storm
                time.sleep(min(0.002 * attempt, 0.05))
            snap = self._snapshot()
            ident = snap["identity"][name]
            hw, step = int(ident["next"]), int(ident["step"])
            commit = {
                "op": "reserve_identity",
                "name": name,
                "from": hw,
                "upto": hw + n * step,
            }
            if self._try_commit(snap["version"] + 1, commit):
                return hw, step
        raise TxConflict(
            f"_reserve_identity({name}): lost {max_retries} races"
        )

    def _assign_identity(
        self, df: DataFrame, identity: dict, op: str
    ) -> DataFrame:
        """Assign reserved ids to every identity column absent from
        ``df``; refuse supplied ones (ALWAYS). Numbering is
        partition-local row_number + broadcast per-partition offsets —
        NO extra shuffle, no global window; the id a row gets is
        arbitrary within the batch (identity promises uniqueness, not
        order)."""
        if not identity:
            return df
        supplied = sorted(set(identity) & set(df.columns))
        if supplied:
            raise ValueError(
                f"{op}: column(s) {supplied} are GENERATED ALWAYS AS "
                "IDENTITY — the engine assigns them; drop them from "
                "the incoming frame"
            )
        stamped = (
            df.withColumn("__pid", F.spark_partition_id())
            .localCheckpoint()
        )
        counts = stamped.groupBy("__pid").count().collect()
        total = int(sum(r["count"] for r in counts))
        if total == 0:
            out = stamped.drop("__pid")
            for name in sorted(identity):
                out = out.withColumn(name, F.lit(None).cast("long"))
            return out.limit(0)
        w = Window.partitionBy("__pid").orderBy(
            F.monotonically_increasing_id()
        )
        out = stamped
        seq = None
        for name in sorted(identity):
            first, step = self._reserve_identity(name, total)
            if seq is None:
                offsets, running = [], 0
                for r in sorted(counts, key=lambda r: r["__pid"]):
                    offsets.append((int(r["__pid"]), running))
                    running += int(r["count"])
                values = ", ".join(
                    f"({p}, {o}L)" for p, o in offsets
                )
                off = self.spark.sql(
                    f"SELECT * FROM VALUES {values} AS t(__pid, __off)"
                )
                out = out.join(F.broadcast(off), "__pid").withColumn(
                    "__seq",
                    (F.row_number().over(w) - 1 + F.col("__off")).cast(
                        "long"
                    ),
                )
                seq = F.col("__seq")
            out = out.withColumn(
                name,
                (F.lit(first) + F.lit(step) * seq).cast("long"),
            )
        return out.drop("__pid", "__off", "__seq")

    # -- column rename (metadata-only, Delta column-mapping shape) -------

    def rename_column(self, old: str, new: str) -> int:
        """RENAME COLUMN without rewriting a single data file: the
        commit records the (old, new) mapping and the updated logical
        schema; every reader resolves a file's PHYSICAL names through
        the rename epochs recorded per file (``_read_with_dvs``), so
        files written before and after the rename union into one
        logical view. ``compact()`` naturally upgrades old files to
        the current names as it rewrites them.

        Refused loudly when the old name is load-bearing elsewhere:
        a bloom file index (its filters are keyed by the physical
        name — drop and re-add the index after the rename) or a CHECK
        constraint / GENERATED column whose SQL mentions the column
        (their expressions are stored strings; rename would silently
        break them — drop and re-register with the new name)."""
        base = self._snapshot()
        if base["schema"] is None:
            raise ValueError("rename_column: table has no schema yet")
        schema = T.StructType.fromJson(json.loads(base["schema"]))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(
                f"rename_column: no column {old!r} (have {names})"
            )
        if new in names:
            raise ValueError(
                f"rename_column: column {new!r} already exists"
            )
        if old in base["bloom_cols"]:
            raise ValueError(
                f"rename_column: {old!r} has a bloom file index keyed "
                "by the physical name — drop_bloom_index first, "
                "re-add on the new name after"
            )
        if old in base["identity"]:
            # the identity registry is keyed by column NAME: renaming
            # or dropping underneath it would leave every later append
            # injecting fresh ids under the old (gone) name — silently
            # resurrecting a dropped column (ADVICE r6 #3)
            raise ValueError(
                f"rename_column: {old!r} is GENERATED ALWAYS AS "
                "IDENTITY — drop_identity_column first, re-add on "
                "the new name after"
            )
        word = re.compile(rf"\b{re.escape(old)}\b")
        for kind, exprs in (
            ("CHECK constraint", base["constraints"]),
            ("GENERATED column", base["generated"]),
        ):
            hits = sorted(
                n for n, sql in exprs.items() if word.search(sql)
            )
            if hits:
                raise ValueError(
                    f"rename_column: {old!r} is referenced by "
                    f"{kind}(s) {hits} — drop and re-register them "
                    "with the new name"
                )
        if new.startswith("__dropped_"):
            # DROP COLUMN path: the logical schema loses the field
            fields = [f for f in schema.fields if f.name != old]
        else:
            fields = [
                T.StructField(
                    new if f.name == old else f.name,
                    f.dataType,
                    f.nullable,
                )
                for f in schema.fields
            ]
        commit = {
            "op": "rename_column",
            "old": old,
            "new": new,
            "schema": T.StructType(fields).json(),
            "base_version": base["version"],
        }
        return self._commit_or_rebase(
            base["version"], commit, "rename_column", None
        )

    def drop_column(self, name: str) -> int:
        """DROP COLUMN without rewriting a single data file: recorded
        as a rename to a reserved TOMBSTONE name
        (``__dropped_<version>_<name>``) that every reader excludes
        from the logical view — the epoch machinery built for
        ``rename_column`` does all the work. Old files keep the
        physical values until their next rewrite (compact/DML) purges
        them; the name is immediately free for a fresh additive
        column, and old files' buried values can never resurface
        under it (their physical name walked into the tombstone).
        Same refusal guards as rename: bloom-indexed or
        constraint/generated-referenced columns must be un-registered
        first. Time travel before the drop still reads the column."""
        base = self._snapshot()
        tomb = f"__dropped_{base['version'] + 1}_{name}"
        return self.rename_column(name, tomb)

    def _apply_generated(
        self, df: DataFrame, generated: dict[str, str] | None, op: str
    ) -> DataFrame:
        """Compute absent generated columns; validate supplied ones
        (one conditional-count aggregation for ALL of them — ANSI
        null-safe equality, so NULL == NULL passes)."""
        if not generated:
            return df
        present = {
            n: e for n, e in generated.items() if n in df.columns
        }
        for n, e in sorted(generated.items()):
            if n not in df.columns:
                df = df.withColumn(n, F.expr(e))
        if not present:
            return df
        counts = df.agg(
            *[
                F.sum(
                    F.when(
                        ~F.col(n).eqNullSafe(F.expr(e)), 1
                    ).otherwise(0)
                ).alias(n)
                for n, e in sorted(present.items())
            ]
        ).collect()[0]
        bad = {
            n: int(counts[n] or 0)
            for n in present
            if (counts[n] or 0) > 0
        }
        if bad:
            detail = ", ".join(
                f"{n} ({c} rows where {n} <> {present[n]!r})"
                for n, c in sorted(bad.items())
            )
            raise ConstraintViolation(
                f"{op}: supplied values contradict GENERATED "
                f"column(s): {detail}"
            )
        return df

    def _regen(
        self, df: DataFrame, generated: dict[str, str] | None
    ) -> DataFrame:
        """Recompute every generated column from the (possibly just
        updated) row — a total function of the row, so untouched rows
        are unchanged by construction."""
        for n, e in sorted((generated or {}).items()):
            if n in df.columns:
                df = df.withColumn(n, F.expr(e))
        return df

    def txn_seen(self, txn_app: str, txn_id: int) -> bool:
        """True when an (app, id) transaction marker is already in the
        log. Backward scan — the newest commits are the likely hits;
        at scale the checkpoint would carry a per-app high-water map,
        the protocol is unchanged."""
        for v in range(self.latest_version(), -1, -1):
            c = self._read_commit(v)
            if c.get("txn_app") == txn_app and c.get("txn_id") == txn_id:
                return True
        return False

    def append_batch_txn(
        self, df: DataFrame, txn_app: str, txn_id: int, max_retries: int = 20
    ) -> int | None:
        """Idempotent append for streaming sinks: the commit carries an
        (app, batch-id) transaction marker, and a marker already in the
        log makes the call a NO-OP — so a foreachBatch replay after a
        crash-between-write-and-checkpoint lands the batch exactly
        once (the classic at-least-once hole in plain parquet appends,
        e.g. `streaming/events.py:incremental_load_stream`). The
        guarantee is the standard one: a replayed batch id must carry
        the same rows, which Structured Streaming's checkpointed
        offsets ensure while the checkpoint is retained."""
        # policy snapshot FIRST: commits after it reach the commit
        # loop's txn check, so none can slip between the two reads
        pol = self._snapshot()
        if self.txn_seen(txn_app, txn_id):
            return None
        return self._stage_and_commit(
            self._apply_write_policy(df, pol, "append_batch_txn"),
            pol["version"], {"op": "append"}, "append_batch_txn",
            _rebase_over_policy_safe, schema_keys=("schema",),
            max_retries=max_retries, txn=(txn_app, txn_id),
        )

    def overwrite_batch_txn(
        self, df: DataFrame, txn_app: str, txn_id: int
    ) -> int | None:
        """Idempotent read-modify-write for streaming view maintenance
        (foreachBatch upsert of a continuous aggregate): the overwrite
        commit carries the (app, batch-id) marker, so a replayed batch
        neither double-applies nor clobbers — it's a NO-OP. Unlike
        appends the operation does not commute, so a lost commit race
        raises TxConflict for the caller's retry-from-read."""
        base = self._snapshot()
        if self.txn_seen(txn_app, txn_id):
            return None
        return self._overwrite(
            df, base, "overwrite_batch_txn", (txn_app, txn_id)
        )

    def write_stream(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        txn_app: str | None = None,
        available_now: bool = True,
    ):
        """Streaming sink: every micro-batch becomes one atomic,
        idempotent log commit (`append_batch_txn`), so readers never
        see a torn batch and restarts never double-append. Returns the
        started StreamingQuery."""
        app = txn_app or f"txlog:{self.path}"

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            self.append_batch_txn(batch_df, app, int(batch_id))

        writer = (
            stream_df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def write_stream_upsert(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        keys: list[str],
        available_now: bool = True,
    ):
        """Streaming UPSERT sink: each micro-batch MERGEs into the
        table by key (``merge_upsert`` — matched rows replaced,
        unmatched inserted). Needs NO transaction marker for
        exactly-once EFFECTS: upsert is idempotent by definition — a
        replayed batch re-merges the same rows to the same result
        (the contract is the usual one: a replayed batch id carries
        the same rows, which Structured Streaming's checkpointed
        offsets guarantee). Batches must be key-unique
        (``merge_upsert`` enforces loudly); pre-aggregate in the
        stream if the source can repeat keys within one batch. This
        is the streaming view-maintenance shape: a changelog stream
        folds into its current-state table."""

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.take(1):
                self.merge_upsert(batch_df, keys)

        writer = (
            stream_df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def overwrite(self, df: DataFrame) -> int:
        """Replace the table contents in one commit (remove every live
        file + add the staged ones). Conflicts with any concurrent
        commit — the caller asked for 'the table becomes exactly df',
        which is undefined if the base moved."""
        return self._overwrite(df, self._snapshot(), "overwrite")

    def _overwrite(
        self,
        df: DataFrame,
        base: dict,
        op: str,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        commit = {
            "op": "overwrite",
            "remove": sorted(base["files"]),
            "base_version": base["version"],
        }
        return self._stage_and_commit(
            self._apply_write_policy(df, base, op), base["version"],
            commit, op, None, schema_keys=("schema",), txn=txn,
        )

    # -- deletion vectors ----------------------------------------------

    _REL_EXTRACT = r"(data/[^/]+/[^/]+)$"

    @contextlib.contextmanager
    def _driver_side_listing(self, n_paths: int):
        """Raise the parallel-partition-discovery threshold around an
        explicit-path parquet construction (r13, guide §5 — the
        driver should not launch jobs for work it can do locally).

        The txlog reader always passes EXPLICIT leaf-file paths the
        log already knows exist (no directory discovery); above 32
        paths Spark's default nevertheless launches a distributed
        listing JOB just to stat them — measured 3.2 s vs 0.27 s
        driver-side at 1,000 files. Bounded: beyond
        ``SPARK_GRAFT_DRIVER_LIST_MAX`` (default 16384) paths the
        distributed listing is kept (sequential driver stats on a
        high-latency object store would lose at that scale). The conf
        is session-global, so the raise is held under
        ``_LISTING_CONF_LOCK``: other raising readers wait for it."""
        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        cap = int(os.environ.get("SPARK_GRAFT_DRIVER_LIST_MAX", "16384"))
        if n_paths <= 32 or n_paths > cap:
            yield
            return
        with _LISTING_CONF_LOCK:
            old = self.spark.conf.get(key, "32")
            self.spark.conf.set(key, str(n_paths))
            try:
                yield
            finally:
                self.spark.conf.set(key, old)

    def _read_with_dvs(
        self,
        rel_files: list[str],
        dvs: dict,
        keep_lineage: bool = False,
        *,
        snap: dict,
    ) -> DataFrame:
        """Read the given data files with their deletion vectors
        applied (anti-join on (file, row position) — AQE broadcasts
        the DV side when it is small, the common case). With
        ``keep_lineage`` the ``__file_rel`` / ``__row_index`` columns
        survive for callers that need row addresses (the DV writer
        itself, COW hit detection). Lineage comes from the
        ``_metadata`` hidden columns, captured ON THE SCAN before any
        join (input_file_name() is single-source only).

        ``snap`` is the table state the files are read under. Files
        written before a RENAME COLUMN (per its per-file rename
        epochs) are scanned in per-epoch groups, renamed to the
        CURRENT logical names on the scan, and unioned by name — a
        rename is metadata-only, no file rewrites. The common case
        (no renames, or every file current) stays the single
        multi-path scan.

        Schema fast path (r12, guide §1/§6 — no job for what the log
        already knows): when every file in an epoch group shares one
        KNOWN write schema (the state's per-file ledger), that schema
        is given to the reader explicitly — the mergeSchema
        footer-merge JOB (one distributed pass over every
        file's footer, per read) disappears, and so does the driver's
        blocking wait on it. Groups containing any unknown-schema
        file (pre-r12 logs, restore re-adds) or mixed schemas
        (additive evolution) keep the mergeSchema read — the fast
        path narrows to the cases where it is provably identical
        (missing columns null-fill the same way under an explicit
        schema as under mergeSchema; pinned by
        test_schema_evolution_across_appends)."""
        renames = snap["renames"]
        epochs = snap["file_epoch"]
        sch_of = txlog_log.file_schemas(snap, rel_files)
        if not rel_files:
            # data-skipping DML can prune EVERY candidate file (r11:
            # _predicate_candidates) — the caller's "no hits → no-op"
            # path still needs a correctly-shaped empty frame
            if not snap["schema"]:
                raise ValueError(
                    "_read_with_dvs: empty file list without a snapshot "
                    "schema to shape the empty result"
                )
            fields = [
                f
                for f in T.StructType.fromJson(
                    json.loads(snap["schema"])
                ).fields
                if not f.name.startswith("__dropped_")
            ]
            if keep_lineage:
                fields += [
                    T.StructField("__file_rel", T.StringType()),
                    T.StructField("__row_index", T.LongType()),
                ]
            return self.spark.createDataFrame([], T.StructType(fields))
        n_rn = len(renames)
        groups: dict[int, list[str]] = {}
        for rel in sorted(rel_files):
            groups.setdefault(
                min(int(epochs.get(rel, n_rn)), n_rn), []
            ).append(rel)
        need_lineage = keep_lineage or any(
            dvs.get(rel) for rel in rel_files
        )
        frames = []
        for ep in sorted(groups):
            grp_sch = {sch_of.get(rel) for rel in groups[ep]}
            if len(grp_sch) == 1 and None not in grp_sch:
                reader = self.spark.read.schema(
                    T.StructType.fromJson(json.loads(next(iter(grp_sch))))
                )
            else:
                reader = self.spark.read.option("mergeSchema", "true")
            with self._driver_side_listing(len(groups[ep])):
                f = reader.parquet(
                    *[os.path.join(self.path, rel) for rel in groups[ep]]
                )
            if need_lineage:
                # capture on THE SCAN, before any rename/union
                f = f.select(
                    *f.columns,
                    F.regexp_extract(
                        F.col("_metadata.file_path"), self._REL_EXTRACT, 1
                    ).alias("__file_rel"),
                    F.col("_metadata.row_index").alias("__row_index"),
                )
            for old, new in renames[ep:]:
                f = f.withColumnRenamed(old, new)
            frames.append(f)
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f, allowMissingColumns=True)
        relevant = sorted(
            {
                e["file"]
                for rel in rel_files
                for e in dvs.get(rel, [])
            }
        )
        # DROP COLUMN tombstones (a drop is a rename to
        # __dropped_<v>_<name> — see drop_column) never reach the
        # logical view; the physical values purge naturally on the
        # next rewrite of their file
        data_cols = [
            c
            for c in df.columns
            if c not in ("__file_rel", "__row_index")
            and not c.startswith("__dropped_")
        ]
        if keep_lineage:
            df = df.select(*data_cols, "__file_rel", "__row_index")
        if relevant:
            # DV files have one fixed schema by construction (the
            # delete_where_dv / update_mor staging writes exactly
            # these two columns) — say so, skip the footer read
            with self._driver_side_listing(len(relevant)):
                dv_scan = self.spark.read.schema(
                    "file_rel string, row_index bigint"
                ).parquet(
                    *[os.path.join(self.path, r) for r in relevant]
                )
            dv = (
                dv_scan
                .select(
                    F.col("file_rel").alias("__file_rel"),
                    F.col("row_index").alias("__row_index"),
                )
                .distinct()
            )
            df = df.join(dv, ["__file_rel", "__row_index"], "left_anti")
        return df if keep_lineage else df.select(*data_cols)

    def _dv_counts(self, adds: list[dict]) -> dict[str, int]:
        """Per-target-file deleted-row counts, read from the staged
        deletion-vector parquet itself (r13, guide §1.2 — fewer
        passes): the DV stage-write already passes over every hit
        row, so deriving ``dv_targets`` from its output removes the
        separate distributed count job (and its extra scan of the
        candidate files) that used to precede it. Driver-side pyarrow,
        batched: decodes only the ``file_rel`` column, O(deleted rows)
        dictionary-decode against the O(candidate-file bytes) scan it
        replaces."""
        import pyarrow.compute as pa_c
        import pyarrow.parquet as pa_pq

        counts: dict[str, int] = {}
        for a in adds:
            pf = pa_pq.ParquetFile(os.path.join(self.path, a["path"]))
            for batch in pf.iter_batches(
                columns=["file_rel"], batch_size=1 << 20
            ):
                for ent in pa_c.value_counts(batch.column(0)).to_pylist():
                    counts[ent["values"]] = (
                        counts.get(ent["values"], 0) + int(ent["counts"])
                    )
        return counts

    def _stage_dv(
        self, st: _Staging, hits: DataFrame
    ) -> tuple[str, dict[str, int]] | None:
        """Stage the deletion vector addressing ``hits`` (a filtered
        lineage scan) and return ``(dv_file, dv_targets)``, or ``None``
        when nothing matched (the empty stage is reclaimed by ``st``).
        ONE pass: the per-file counts come from the staged parquet on
        the driver (``_dv_counts``), not a second distributed scan."""
        adds, _ = st.stage(
            hits.select(
                F.col("__file_rel").alias("file_rel"),
                F.col("__row_index").alias("row_index"),
            ).coalesce(1)
        )
        per_file = self._dv_counts(adds)
        if not per_file:
            return None
        return adds[0]["path"], {
            k: int(v) for k, v in sorted(per_file.items())
        }

    def _lineage_read(self, base: dict, files: list[str]) -> DataFrame:
        """DV-aware read of ``files`` at snapshot ``base`` that keeps
        the ``__file_rel`` / ``__row_index`` row addresses."""
        return self._read_with_dvs(
            files, base["dvs"], keep_lineage=True, snap=base
        )

    @staticmethod
    def _data_cols(df: DataFrame) -> list[str]:
        """``df``'s columns minus the lineage row addresses."""
        return [c for c in df.columns if c not in ("__file_rel", "__row_index")]

    @staticmethod
    def _hit_files(rows: DataFrame) -> list[str]:
        """Sorted distinct ``__file_rel`` of filtered lineage rows —
        the files a copy-on-write op must rewrite (one job)."""
        return sorted(
            r["__file_rel"]
            for r in rows.select("__file_rel").distinct().collect()
        )

    def delete_where_dv(self, predicate: str) -> int:
        """MERGE-ON-READ delete: instead of rewriting every file that
        contains a matching row (``delete_where``'s copy-on-write),
        record the (file, row position) addresses of the deleted rows
        in a DELETION VECTOR file and commit only that — O(deleted
        rows) write cost instead of O(bytes of touched files). At
        100 TB a delete of 1000 rows scattered across 1000 multi-GB
        files costs kilobytes, not terabytes. Readers anti-join the
        DV on the ``_metadata`` row address (``_read_with_dvs``);
        ``compact`` physically applies and drops DVs (the standard
        merge-on-read maintenance contract); ``count_rows`` subtracts
        DV cardinalities so metadata counts stay exact. Same SQL
        DELETE NULL semantics as ``delete_where``: only
        predicate-TRUE rows are deleted."""
        base = self._snapshot()
        if base["version"] < 0 or not base["files"]:
            return base["version"]
        self._refuse_external_refs(base, "delete_where_dv")
        live = self._lineage_read(base, self._predicate_candidates(base, predicate))
        with _Staging(self) as st:
            dv = self._stage_dv(st, live.filter(F.expr(predicate)))
            if dv is None:
                return base["version"]
            commit = {
                "op": "delete_dv",
                "dv_file": dv[0],
                "dv_targets": dv[1],
                "base_version": base["version"],
            }
            return self._commit_or_rebase(
                base["version"], commit, "delete_where_dv",
                _rebase_over_blind_appends, stage=st,
            )

    def delete_where(self, predicate: str) -> int:
        """Copy-on-write delete: ONLY files that actually contain a
        matching row are rewritten (found distributed, via
        ``input_file_name()``); untouched files carry over by
        reference. Commits remove(matched) + add(rewritten)."""
        base = self._snapshot()
        if base["version"] < 0 or not base["files"]:
            return base["version"]
        self._refuse_external_refs(base, "delete_where")
        # DV-aware lineage scan: rows already deleted by a deletion
        # vector must neither count as hits nor survive into rewrites
        df = self._lineage_read(base, self._predicate_candidates(base, predicate))
        hit_rel = self._hit_files(df.filter(F.expr(predicate)))
        if not hit_rel:
            return base["version"]
        # SQL DELETE semantics: remove only rows where the predicate is
        # TRUE — rows where it evaluates NULL (e.g. `col = 5` on a NULL
        # col) must SURVIVE, so the keep-filter is NOT(pred) OR ISNULL
        pred = F.expr(predicate)
        data_cols = self._data_cols(df)
        survivors = (
            self._lineage_read(base, hit_rel)
            .filter(~pred | pred.isNull())
            .select(*data_cols)
        )
        commit = {
            "op": "delete",
            "predicate": predicate,
            "remove": hit_rel,
            "base_version": base["version"],
        }
        return self._stage_and_commit(
            survivors.coalesce(self._rewrite_width(hit_rel, base)),
            base["version"], commit, "delete_where",
            _rebase_over_blind_appends,
        )

    def _require_unique_keys(
        self, src: DataFrame, keys: list[str], op: str
    ) -> None:
        """Enforce the MERGE multi-match contract loudly (ADVICE r3):
        duplicate source keys would silently insert duplicate rows
        where Delta/standard MERGE raises. One short-circuiting job
        (limit(1) after the HAVING-style filter), source-sized only."""
        dup = (
            src.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            key_vals = {k: dup[0][k] for k in keys}
            raise ValueError(
                f"{op}: source has multiple rows for key "
                f"{key_vals} — MERGE requires at most one source row "
                "per key (pre-aggregate or dedupe the source)"
            )

    def merge_upsert(self, source: DataFrame, keys: list[str]) -> int:
        """MERGE (whole-row upsert) by key: target rows whose key
        matches a source row are REPLACED by that source row, source
        rows with new keys are INSERTED. Copy-on-write like
        delete_where: only files that actually contain a matched key
        are rewritten (found distributed via ``input_file_name``);
        untouched files carry over by reference, and the new/updated
        rows land in the staged files of the same atomic commit.

        Caller contract: ``source`` has at most one row per key (the
        standard MERGE multi-match restriction). Schema evolution is
        additive: a source with extra columns widens the table via
        the commit's recorded union schema (mergeSchema on read).
        """
        base = self._snapshot()
        self._refuse_external_refs(base, "merge_upsert")
        missing_ident = sorted(set(base["identity"]) - set(source.columns))
        if missing_ident:
            raise ValueError(
                "merge_upsert: whole-row upsert needs every column, but "
                f"{missing_ident} are GENERATED ALWAYS AS IDENTITY and "
                "absent from the source — use merge() (its NOT MATCHED "
                "INSERT assigns ids; matched rows keep theirs)"
            )
        src = self._apply_generated(
            source, base["generated"], "merge_upsert"
        )
        if base["version"] < 0 or not base["files"]:
            # nothing to prune: the duplicate-key check alone, no
            # key-range aggregate (append runs the CHECK pass)
            self._require_unique_keys(src, keys, "merge_upsert")
            return self.append(src)
        pre = self._merge_preflight(
            src,
            keys,
            [k for k in keys if k in self._skippable_cols(base)],
            "merge_upsert",
        )
        self._validate_constraints(src, base["constraints"])
        # DV-aware lineage scan (rows deleted by a deletion vector are
        # not merge targets and must not survive into rewrites); the
        # lineage columns come from _metadata ON the scan, before the
        # semi-join brings in the source relation
        tgt = self._lineage_read(
            base, self._key_candidates(base, src, keys, pre=pre)
        )
        src_keys = src.select(*keys).distinct()
        hit_rel = self._hit_files(
            tgt.select("__file_rel", *keys).join(
                F.broadcast(src_keys), keys, "left_semi"
            )
        )
        survivors = None
        if hit_rel:
            data_cols = self._data_cols(tgt)
            survivors = (
                self._lineage_read(base, hit_rel)
                .select(*data_cols)
                .join(F.broadcast(src_keys), keys, "left_anti")
            )
        new_data = (
            src
            if survivors is None
            else survivors.unionByName(src, allowMissingColumns=True)
        )
        if hit_rel:
            new_data = new_data.coalesce(
                self._merge_width(hit_rel, base, src)
            )
        commit = {
            "op": "merge",
            "keys": list(keys),
            "remove": hit_rel,
            "base_version": base["version"],
        }
        return self._stage_and_commit(
            new_data, base["version"], commit, "merge_upsert",
            _rebase_over_blind_appends,
            schema_keys=("add_schema", "schema"),
        )

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        *,
        update_set: dict[str, str] | None = None,
        update_condition: str | None = None,
        delete_condition: str | None = None,
        insert: bool = True,
        insert_condition: str | None = None,
    ) -> int:
        """Full conditional MERGE INTO (the Delta/ANSI shape on top of
        the same copy-on-write machinery as ``merge_upsert``):

        - ``WHEN MATCHED AND delete_condition THEN DELETE`` — evaluated
          FIRST (fixed clause order, documented rather than caller-
          chosen; matches putting the narrower DELETE clause before the
          catch-all UPDATE, Delta's recommended ordering).
        - ``WHEN MATCHED [AND update_condition] THEN UPDATE SET`` —
          ``update_set`` maps target column -> SQL expression; the
          expressions (and both conditions) may reference ``t.<col>``
          (target row) and ``s.<col>`` (source row). Updated values are
          cast back to the target column's type so the table schema is
          stable across merges. Key columns cannot be assigned.
        - ``WHEN NOT MATCHED [AND insert_condition] THEN INSERT`` —
          source rows with no target key match become new rows
          (``insert=False`` turns the clause off; the condition sees
          ``s.<col>``). Source columns are cast to the target schema;
          target columns missing from the source insert as NULL.

        Scale shape (identical to ``merge_upsert``): ONE DV-aware
        lineage scan finds the files that contain a row the merge will
        actually CHANGE (delete-hit or update-hit — a file whose
        matched rows all fail their conditions is NOT rewritten);
        only those files rewrite, everything else carries over by
        reference in the same atomic commit. The change feed and keyed
        CDC read the resulting remove+add diff with no special cases.

        No schema evolution on this path — conditional merge targets a
        FIXED table schema (use ``merge_upsert`` for additive widening).
        """
        if update_set is None and delete_condition is None and not insert:
            raise ValueError("merge: no WHEN clause given — nothing to do")
        bad_assign = sorted(set(update_set or {}) & set(keys))
        if bad_assign:
            raise ValueError(
                f"merge: update_set assigns key column(s) {bad_assign} — "
                "reassigning merge keys is refused (delete+insert instead)"
            )
        base = self._snapshot()
        self._refuse_external_refs(base, "merge")
        if set(base["identity"]) & set(source.columns):
            raise ValueError(
                "merge: the source supplies GENERATED ALWAYS AS "
                "IDENTITY column(s) — drop them (matched rows keep "
                "their ids; NOT MATCHED inserts get fresh ones)"
            )
        source = self._apply_generated(source, base["generated"], "merge")

        def _cond(sql: str | None, default: bool) -> Column:
            # NULL-valued MERGE conditions never fire their clause
            if sql is None:
                return F.lit(default)
            return F.coalesce(F.expr(sql), F.lit(False))

        if base["version"] < 0 or not base["files"]:
            # nothing to prune: the duplicate-key check alone, no
            # key-range aggregate
            self._require_unique_keys(source, keys, "merge")
            if not insert:
                return base["version"]
            new_rows = source.alias("s").filter(_cond(insert_condition, True))
            if not new_rows.take(1):
                return base["version"]
            return self.append(new_rows)

        pre = self._merge_preflight(
            source,
            keys,
            [k for k in keys if k in self._skippable_cols(base)],
            "merge",
        )
        tgt = self._lineage_read(
            base, self._key_candidates(base, source, keys, pre=pre)
        )
        data_cols = self._data_cols(tgt)
        if update_set is not None:
            self._check_set_clause(update_set, data_cols, base, "merge")
        tgt_types = dict(tgt.dtypes)
        join_on = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys]
        src = source.withColumn("__s_hit", F.lit(1)).alias("s")
        joined = tgt.alias("t").join(src, join_on, "left")
        matched = F.col("s.__s_hit").isNotNull()
        del_fires = matched & _cond(delete_condition, False) if (
            delete_condition is not None
        ) else F.lit(False)
        upd_fires = (
            matched & ~del_fires & _cond(update_condition, True)
            if update_set is not None
            else F.lit(False)
        )
        # Files that contain at least one row the merge CHANGES
        hit_rel = self._hit_files(joined.filter(del_fires | upd_fires))
        survivors = None
        if hit_rel:
            hit = (
                self._lineage_read(base, hit_rel)
                .alias("t")
                .join(src, join_on, "left")
            )
            survivors = hit.filter(~del_fires).select(
                *[
                    F.when(
                        upd_fires,
                        F.expr(update_set[c]).cast(tgt_types[c]),
                    )
                    .otherwise(F.col(f"t.{c}"))
                    .alias(c)
                    if update_set is not None and c in update_set
                    else F.col(f"t.{c}").alias(c)
                    for c in data_cols
                ]
            )
            survivors = self._regen(survivors, base["generated"])
        inserts = None
        if insert:
            # DV-aware key set over ALL CANDIDATE files (tgt is the
            # _key_candidates-pruned scan): by the pruning invariant a
            # non-candidate file provably contains no source key, so
            # anti-joining the candidate keys alone is equivalent to
            # anti-joining the whole table. A key deleted by a
            # deletion vector is absent, so its source row
            # legitimately re-inserts.
            tgt_keys = tgt.select(*keys).distinct()
            inserts = (
                src.join(tgt_keys, keys, "left_anti")
                .filter(_cond(insert_condition, True))
                .select(
                    *[
                        (
                            F.col(c).cast(tgt_types[c])
                            if c in source.columns
                            else F.lit(None).cast(tgt_types[c])
                        ).alias(c)
                        for c in data_cols
                        if c not in base["identity"]
                    ]
                )
            )
            if base["identity"]:
                # NOT MATCHED inserts get freshly reserved ids; the
                # matched/survivor rows keep theirs untouched
                inserts = self._assign_identity(
                    inserts, base["identity"], "merge"
                ).select(*data_cols)
        if survivors is not None and inserts is not None:
            new_data = survivors.unionByName(inserts)
        else:
            new_data = survivors if survivors is not None else inserts
        if new_data is None or (not hit_rel and not new_data.take(1)):
            return base["version"]  # no-op: nothing changed
        self._validate_constraints(new_data, base["constraints"])
        if hit_rel:
            # Source volume counts toward the width only when this
            # merge actually inserts (update/delete-only merges stage
            # nothing but survivor rows — hit bytes bound them).
            width = (
                self._merge_width(hit_rel, base, src)
                if inserts is not None
                else self._rewrite_width(hit_rel, base)
            )
            new_data = new_data.coalesce(width)
        commit = {
            "op": "merge",
            "keys": list(keys),
            "remove": hit_rel,
            "schema": base["schema"],
            "base_version": base["version"],
        }
        return self._stage_and_commit(
            new_data, base["version"], commit, "merge",
            _rebase_over_blind_appends,
        )

    @staticmethod
    def _check_set_clause(
        set_exprs: dict[str, str], data_cols: list[str], base: dict, op: str
    ) -> None:
        """The UPDATE/MERGE SET guard: refuse an empty clause, unknown
        columns, and assignments to GENERATED columns (they recompute
        from their expression after the update) or IDENTITY columns."""
        if not set_exprs:
            raise ValueError(f"{op}: empty SET clause")
        unknown = sorted(set(set_exprs) - set(data_cols))
        if unknown:
            raise ValueError(
                f"{op}: SET targets unknown column(s) {unknown}"
            )
        bad = sorted(set(set_exprs) & set(base["generated"]))
        if bad:
            raise ValueError(
                f"{op}: cannot assign GENERATED column(s) {bad} — "
                "they recompute from their expression after the update"
            )
        bad = sorted(set(set_exprs) & set(base["identity"]))
        if bad:
            raise ValueError(f"{op}: cannot assign IDENTITY column(s) {bad}")

    @staticmethod
    def _apply_set(
        set_exprs: dict[str, str],
        data_cols: list[str],
        tgt_types: dict[str, str],
        fires: Column,
    ) -> list[Column]:
        """The UPDATE projection: assigned columns take their SET
        expression where ``fires``, else carry. ALL expressions read
        the PRE-update row (one select = simultaneous assignment, so
        ``SET a = b, b = a`` swaps), and results cast back to the
        column's declared type so the table schema never drifts."""
        return [
            (
                F.when(fires, F.expr(set_exprs[c]).cast(tgt_types[c]))
                .otherwise(F.col(c))
                .alias(c)
                if c in set_exprs
                else F.col(c)
            )
            for c in data_cols
        ]

    def update_where(
        self, predicate: str, set_exprs: dict[str, str]
    ) -> int:
        """Copy-on-write ``UPDATE t SET col = expr WHERE predicate``.

        ONLY files that contain a predicate-TRUE row are rewritten
        (one DV-aware lineage scan finds them, exactly like
        ``delete_where``); untouched files carry over by reference in
        the same atomic commit. SQL UPDATE semantics throughout: rows
        where the predicate evaluates NULL are NOT updated, every
        assignment sees the pre-update row, and assigned values cast
        back to the column's declared type. CHECK constraints are
        re-validated on the rewritten rows (an UPDATE may not smuggle
        a violating value past ``add_check``). Cost is O(bytes of
        touched files) — ``update_where_mor`` is the O(changed rows)
        merge-on-read twin for scattered updates on huge tables."""
        base = self._snapshot()
        if base["version"] < 0 or not base["files"]:
            return base["version"]
        self._refuse_external_refs(base, "update_where")
        df = self._lineage_read(base, self._predicate_candidates(base, predicate))
        data_cols = self._data_cols(df)
        self._check_set_clause(set_exprs, data_cols, base, "update_where")
        hit_rel = self._hit_files(df.filter(F.expr(predicate)))
        if not hit_rel:
            return base["version"]
        fires = F.coalesce(F.expr(predicate), F.lit(False))
        tgt_types = dict(df.dtypes)
        rewritten = self._lineage_read(base, hit_rel).select(
            *self._apply_set(set_exprs, data_cols, tgt_types, fires)
        )
        rewritten = self._regen(rewritten, base["generated"])
        self._validate_constraints(rewritten, base["constraints"])
        commit = {
            "op": "update",
            "predicate": predicate,
            "set": dict(sorted(set_exprs.items())),
            "remove": hit_rel,
            "base_version": base["version"],
        }
        return self._stage_and_commit(
            rewritten.coalesce(self._rewrite_width(hit_rel, base)),
            base["version"], commit, "update_where",
            _rebase_over_blind_appends,
        )

    def update_where_mor(
        self, predicate: str, set_exprs: dict[str, str]
    ) -> int:
        """MERGE-ON-READ UPDATE: ONE commit records a deletion vector
        addressing the OLD versions of the matched rows AND appends
        small files holding their UPDATED copies — O(changed rows)
        write cost instead of O(bytes of touched files). At 100 TB an
        update of 1000 rows scattered across 1000 multi-GB files costs
        kilobytes, exactly like ``delete_where_dv``; ``compact``
        later applies the DVs physically and re-packs the small
        update files (the standard MoR maintenance contract). Readers
        need no new machinery: the snapshot fold applies any commit's
        ``dv_targets``, and the change feed emits the DV-addressed
        rows as 'delete' plus the added files as 'insert' — a
        net-exact row-level update record. Same SQL UPDATE semantics
        as ``update_where`` (NULL predicate rows untouched,
        simultaneous assignment, type-stable casts)."""
        base = self._snapshot()
        if base["version"] < 0 or not base["files"]:
            return base["version"]
        self._refuse_external_refs(base, "update_where_mor")
        live = self._lineage_read(base, self._predicate_candidates(base, predicate))
        data_cols = self._data_cols(live)
        self._check_set_clause(set_exprs, data_cols, base, "update_where_mor")
        hits = live.filter(F.expr(predicate))
        with _Staging(self) as st:
            # hit discovery IS the DV stage-write (_stage_dv)
            dv = self._stage_dv(st, hits)
            if dv is None:
                return base["version"]
            tgt_types = dict(live.dtypes)
            updated = self._regen(
                hits.select(
                    *self._apply_set(
                        set_exprs, data_cols, tgt_types, F.lit(True)
                    )
                ),
                base["generated"],
            )
            self._validate_constraints(updated, base["constraints"])
            adds, add_schema = st.stage(updated)
            commit = {
                "op": "update_mor",
                "predicate": predicate,
                "set": dict(sorted(set_exprs.items())),
                "dv_file": dv[0],
                "dv_targets": dv[1],
                "add": adds,
                "add_schema": add_schema,
                "base_version": base["version"],
            }
            return self._commit_or_rebase(
                base["version"], commit, "update_where_mor",
                _rebase_over_blind_appends, stage=st,
            )

    def replace_where(self, df: DataFrame, predicate: str) -> int:
        """Atomic predicate-scoped overwrite (Delta's ``replaceWhere``
        — the dynamic-partition-overwrite generalization): delete
        every row matching ``predicate`` and insert ``df``, in ONE
        commit. Every incoming row must satisfy the predicate (loud
        refusal otherwise — one limit(1) probe) — that containment is
        what makes the op an idempotent slice reload: re-running a
        backfill for `date = X` replaces exactly the X slice however
        many times it runs, and can never clobber a neighboring
        slice. Copy-on-write discipline as everywhere: only files
        containing a matched row rewrite (keeping their
        predicate-FALSE/NULL survivors); untouched files carry over
        by reference."""
        base = self._snapshot()
        self._refuse_external_refs(base, "replace_where")
        df = self._apply_write_policy(df, base, "replace_where")
        pred = F.expr(predicate)
        stray = df.filter(~pred | pred.isNull()).limit(1).collect()
        if stray:
            raise ValueError(
                "replace_where: incoming rows must all satisfy the "
                f"predicate {predicate!r} — found a row outside the "
                f"slice: {stray[0].asDict()}"
            )
        if base["version"] < 0 or not base["files"]:
            return self.append(df)
        live = self._lineage_read(base, self._predicate_candidates(base, predicate))
        hit_rel = self._hit_files(live.filter(pred))
        data_cols = self._data_cols(live)

        def appends_outside_slice(ivs: list[tuple[int, dict]]) -> str | None:
            # a rebase over a concurrent blind append is only sound if
            # the appended rows lie OUTSIDE the replaced slice —
            # rebasing over an append INTO the slice would break the
            # "table becomes exactly df for the slice" idempotent-
            # reload contract (Delta raises ConcurrentAppendException
            # when concurrently added files match replaceWhere; ADVICE
            # r6 #5). So the intervening appends' files are probed
            # against the predicate (one limit(1) scan of just those
            # files); a hit — or anything unprovable (schema drift,
            # unreadable) — conflicts.
            why = _rebase_over_blind_appends(ivs)
            new_rel = sorted(
                {a["path"] for _, c in ivs for a in c.get("add", [])}
            )
            if why is not None or not new_rel:
                return why
            paths = [
                r if os.path.isabs(r) else os.path.join(self.path, r)
                for r in new_rel
            ]
            try:
                appended_hit = bool(
                    self.spark.read.parquet(*paths)
                    .filter(pred)
                    .limit(1)
                    .collect()
                )
            except Exception:
                appended_hit = True  # can't prove disjoint
            if appended_hit:
                return (
                    "concurrent append added rows inside the replaced "
                    f"slice {predicate!r} — retry from a fresh snapshot"
                )
            return None

        adds: list[dict] = []
        file_schemas: dict[str, str] = {}
        with _Staging(self) as st:
            if hit_rel:
                survivors = (
                    self._lineage_read(base, hit_rel)
                    .filter(~pred | pred.isNull())
                    .select(*data_cols)
                )
                s_adds, s_schema = st.stage(
                    survivors.coalesce(self._rewrite_width(hit_rel, base))
                )
                adds.extend(s_adds)
                file_schemas.update({a["path"]: s_schema for a in s_adds})
            n_adds, schema = st.stage(df)
            adds.extend(n_adds)
            file_schemas.update({a["path"]: schema for a in n_adds})
            commit = {
                "op": "replace_where",
                "predicate": predicate,
                "add": adds,
                "remove": hit_rel,
                "schema": schema,
                "file_schemas": file_schemas,
                "base_version": base["version"],
            }
            return self._commit_or_rebase(
                base["version"], commit, "replace_where",
                appends_outside_slice, stage=st,
            )

    def compact(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        sort_by: list[str] | None = None,
        zorder_by: tuple[str, ...] | None = None,
    ) -> int:
        """Bin-pack small files: rewrite every live file smaller than
        the target into ceil(total/target) files. Identical rows before
        and after — pure layout surgery, same commit protocol.

        ``sort_by`` additionally range-partitions + sorts the rewrite
        on those columns, so the compacted files carry DISJOINT
        min/max stats — the log-side `read(prune=...)` skip and
        parquet's own row-group pruning both become effective on the
        clustered key (the write_sorted_parquet idea applied to
        maintenance instead of initial load). ``zorder_by=(x, y)``
        instead lays the rewrite out on the Morton interleave of two
        columns (see ``append``) — the OPTIMIZE-ZORDER maintenance
        path: data appended unclustered (streaming ingest, small
        deltas) gets RE-clustered in place, because the layout is a
        property of files + log stats, never of directory names."""
        if sort_by and zorder_by:
            raise ValueError("compact: pass sort_by OR zorder_by")
        base = self._snapshot()
        # rewrite candidates: small files (bin-packing) plus any file
        # carrying a deletion vector — compaction is merge-on-read
        # maintenance, physically applying DVs and dropping them from
        # the log (their mapping dies with the removed file)
        small = sorted(
            rel for rel, st in base["files"].items()
            if st["bytes"] < target_file_bytes or rel in base["dvs"]
        )
        if len(small) < 2 and not any(rel in base["dvs"] for rel in small):
            return base["version"]
        total = sum(base["files"][rel]["bytes"] for rel in small)
        n_out = max(1, -(-total // target_file_bytes))
        packed = self._read_with_dvs(small, base["dvs"], snap=base)
        if zorder_by:
            from aiports_data_warehouse_etl_spark.functions.zorder import (
                morton_interleave,
                morton_n_col,
            )

            if len(zorder_by) == 2:
                zcol = morton_interleave(
                    F.col(zorder_by[0]), F.col(zorder_by[1])
                )
            else:
                zcol = morton_n_col(list(zorder_by))
            packed = (
                packed.withColumn("__z", zcol)
                .repartitionByRange(int(n_out), "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif sort_by:
            packed = packed.repartitionByRange(
                int(n_out), *sort_by
            ).sortWithinPartitions(*sort_by)
        else:
            packed = packed.repartition(int(n_out))
        commit = {
            "op": "compact",
            "remove": small,
            "base_version": base["version"],
        }
        return self._stage_and_commit(
            packed, base["version"], commit, "compact",
            _rebase_over_blind_appends,
        )

    # -- read path ------------------------------------------------------

    def version_as_of(self, ts_ns: int) -> int:
        """Newest version whose commit timestamp is ≤ ``ts_ns``
        (nanoseconds since epoch — the log's ``ts`` unit). Commit
        stamps are strictly monotone by construction (``_try_commit``
        clamps to predecessor+1 ns), so this is an O(log commits)
        binary search over small commit files — resolution stays
        cheap on a table with a million commits. Raises when the
        table has no commit that old."""
        lo, hi = 0, self.latest_version()
        if int(self._read_commit(lo)["ts"]) > ts_ns:
            raise ValueError(
                f"txlog table {self.path}: no commit at or before ts {ts_ns}"
            )
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if int(self._read_commit(mid)["ts"]) <= ts_ns:
                lo = mid
            else:
                hi = mid - 1
        return lo

    def restore(self, version: int) -> int:
        """RESTORE the table to an earlier version as a NEW commit
        (Delta RESTORE semantics): the head moves FORWARD, history is
        preserved, the rollback itself is auditable, and readers flip
        atomically. Zero data copy — the commit re-adds the old
        version's file list (files stay on disk until vacuum) and
        removes files added since; the restored version's deletion
        vectors come back with it (DVs added since die). CHECK
        constraints and bloom-index REGISTRATIONS are table policy,
        not data, and keep their current state; re-added files
        re-attach their old bloom filters for still-registered
        columns. Raises when vacuum already reclaimed the restore
        point's files, and TxConflict when the table advances during
        the commit (standard read-modify-write protocol)."""
        base = self._snapshot()
        if not 0 <= version <= base["version"]:
            raise ValueError(
                f"restore: version {version} not in [0, {base['version']}]"
            )
        old = self._snapshot(version)
        needed = list(old["files"]) + [
            e["file"] for entries in old["dvs"].values() for e in entries
        ]
        gone = [
            rel
            for rel in needed
            if not os.path.exists(os.path.join(self.path, rel))
        ]
        if gone:
            raise ValueError(
                f"restore: version {version}'s files were vacuumed "
                f"({len(gone)} missing, e.g. {gone[0]}) — the restore "
                "point is past the retention window"
            )
        adds = [
            {"path": rel, "stats": st}
            for rel, st in old["files"].items()
            if rel not in base["files"]
        ]
        removes = [rel for rel in base["files"] if rel not in old["files"]]
        if (
            not adds
            and not removes
            and old["dvs"] == base["dvs"]
            # metadata-only history (rename epochs, schema evolution)
            # must restore even when the FILE set is identical — a
            # rename relocates no bytes, so a files-and-DVs-only
            # comparison mistakes "same files, different schema" for
            # "already at the restored state" (caught by the
            # model-based restore op: append → rename → restore(0))
            and old["renames"] == base["renames"]
            and old["schema"] == base["schema"]
        ):
            return base["version"]  # already at the restored state
        re_added = {a["path"] for a in adds}
        blooms = {}
        for col in base["bloom_cols"]:
            filt = {
                rel: f
                for rel, f in old["blooms"].get(col, {}).items()
                if rel in re_added
            }
            if filt:
                blooms[col] = filt
        commit = {
            "op": "restore",
            "restore_of": version,
            "add": adds,
            "remove": removes,
            "schema": old["schema"],
            "renames": old["renames"],
            "epochs": {
                a["path"]: int(
                    old["file_epoch"].get(a["path"], len(old["renames"]))
                )
                for a in adds
            },
            "dvs": old["dvs"],
            # per-file write schemas travel with the re-adds (the
            # files were written across many commits — no single
            # commit-wide schema is sound for them)
            "file_schemas": {
                rel: sch
                for rel, sch in txlog_log.file_schemas(old, re_added).items()
                if sch is not None
            },
            # present (possibly empty) so no filters are recomputed
            # for files whose restored blooms we already carry
            "blooms": blooms,
            "base_version": base["version"],
        }
        return self._commit_or_rebase(base["version"], commit, "restore", None)

    def shallow_clone(self, dest_path: str) -> "TxLogTable":
        """Zero-copy CLONE (Delta SHALLOW CLONE): a new table whose
        first commit references the source's CURRENT data files (and
        deletion vectors, bloom filters, CHECK constraints) by
        ABSOLUTE path — no bytes move. The clone is an independent
        table from that instant: appends land under the clone's own
        root, the source never sees them, and source commits after
        the clone don't leak in (snapshot semantics across tables).
        The dev/test-branch primitive for a 100 TB warehouse — a full
        environment in one metadata commit.

        Contract: row-ADDRESSED mutations (delete_where,
        delete_where_dv, merge_upsert) refuse while external refs
        remain — row addresses are root-relative and cannot address
        another table's files — run ``materialize()`` first (appends
        and reads are unrestricted). A vacuum on the SOURCE can
        reclaim files the clone still references (same caveat as
        Delta); materialize to cut the cord."""
        snap = self._snapshot()
        if snap["schema"] is None:
            raise ValueError(f"txlog table {self.path} has no commits")
        clone = TxLogTable(
            self.spark, dest_path, checkpoint_every=self.checkpoint_every
        )
        if clone.latest_version() >= 0:
            raise ValueError(f"clone destination {dest_path} is not empty")

        def _abs(rel: str) -> str:
            return rel if os.path.isabs(rel) else os.path.join(self.path, rel)

        commit = {
            "op": "clone",
            "source": self.path,
            "source_version": snap["version"],
            "add": [
                {"path": _abs(rel), "stats": st}
                for rel, st in snap["files"].items()
            ],
            "schema": snap["schema"],
            "dvs": {
                _abs(rel): [
                    {"file": _abs(e["file"]), "rows": e["rows"]}
                    for e in entries
                ]
                for rel, entries in snap["dvs"].items()
            },
            "constraints": dict(snap["constraints"]),
            "bloom_cols": dict(snap["bloom_cols"]),
            "generated": dict(snap["generated"]),
            "identity": {k: dict(v) for k, v in snap["identity"].items()},
            "renames": [list(r) for r in snap["renames"]],
            "epochs": {
                _abs(rel): int(
                    snap["file_epoch"].get(rel, len(snap["renames"]))
                )
                for rel in snap["files"]
            },
            "file_schemas": {
                _abs(rel): sch
                for rel, sch in txlog_log.file_schemas(
                    snap, snap["files"]
                ).items()
                if sch is not None
            },
            # sidecar refs absolutize like file paths: the clone has
            # no _bloom/ dir of its own until it writes one (a later
            # materialize/append re-externalizes under the clone root)
            "blooms": {
                col: {
                    _abs(rel): (
                        {**f, "ref": _abs(f["ref"])} if "ref" in f else f
                    )
                    for rel, f in filt.items()
                }
                for col, filt in snap["blooms"].items()
            },
        }
        if not clone._try_commit(0, commit):
            raise TxConflict(f"clone destination {dest_path} raced")
        return clone

    def materialize(self, max_retries: int = 5) -> int:
        """Rewrite every EXTERNAL (absolute-path) file reference into
        files under this table's own root, applying their deletion
        vectors — cuts a shallow clone's dependency on its source
        (source vacuums can no longer break it) and re-enables
        row-addressed mutations. No-op when nothing is external."""
        for _ in range(max_retries):
            base = self._snapshot()
            ext = sorted(
                rel for rel in base["files"] if os.path.isabs(rel)
            )
            if not ext:
                return base["version"]
            commit = {
                "op": "materialize",
                "remove": ext,
                "base_version": base["version"],
            }
            with contextlib.suppress(TxConflict):  # retry from a re-read
                return self._stage_and_commit(
                    self._read_with_dvs(ext, base["dvs"], snap=base),
                    base["version"], commit, "materialize", None,
                )
        raise TxConflict(f"materialize of {self.path} kept losing races")

    def _refuse_external_refs(self, snap: dict, op: str) -> None:
        """Row-ADDRESSED mutations need root-relative file addresses
        (_REL_EXTRACT on _metadata.file_path); a shallow clone's
        external refs cannot be addressed that way — refuse loudly."""
        if any(os.path.isabs(rel) for rel in snap["files"]):
            raise ValueError(
                f"{op} on {self.path}: table holds external file refs "
                "(shallow clone) — run materialize() first"
            )

    def upgrade_protocol(self, min_reader: int, min_writer: int) -> int:
        """Raise the table's protocol floor (Delta-style versioning):
        after this commit, any engine whose SUPPORTED_READER /
        SUPPORTED_WRITER is below the floor refuses the table loudly
        instead of misreading a feature it doesn't know (deletion
        vectors read as raw rows, restore commits folded wrong, ...).
        Monotone only — a floor never lowers, because files written
        under the higher protocol are already on disk. The governance
        primitive for rolling engine upgrades across a fleet that
        shares 100 TB tables: upgrade readers first, then writers,
        then commit the floor."""
        base = self._snapshot()
        cur = base["protocol"]
        if min_reader < int(cur["min_reader"]) or min_writer < int(
            cur["min_writer"]
        ):
            raise ValueError(
                f"protocol floor never lowers: current {cur}, "
                f"requested ({min_reader}, {min_writer})"
            )
        if (min_reader, min_writer) == (
            int(cur["min_reader"]),
            int(cur["min_writer"]),
        ):
            return base["version"]
        commit = {
            "op": "set_protocol",
            "min_reader": int(min_reader),
            "min_writer": int(min_writer),
            "base_version": base["version"],
        }
        return self._commit_or_rebase(
            base["version"], commit, "upgrade_protocol", None
        )

    def describe_history(self) -> DataFrame:
        """DESCRIBE HISTORY: one row per commit, computed from log
        metadata only — never a data scan (the DataFrame twin of the
        ``history()`` lineage list). The audit surface for "who
        changed what when": operation, commit timestamp (ns, strictly
        monotone), files/rows added, files removed, and the restore
        target for RESTORE commits. O(commits) small JSON reads, the
        irreducible cost of enumerating history (bounded in practice
        by vacuum/retention policy)."""
        rows = []
        for v in range(self.latest_version() + 1):
            c = self._read_commit(v)
            rows.append(
                (
                    v,
                    int(c["ts"]),
                    str(c.get("op", "unknown")),
                    len(c.get("add", [])),
                    sum(
                        int(a["stats"]["rows"]) for a in c.get("add", [])
                    ),
                    len(c.get("remove", [])),
                    c.get("restore_of"),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version long, ts_ns long, op string, n_files_added int, "
            "rows_added long, n_files_removed int, restore_of long",
        )

    # -- bloom-filter file index ----------------------------------------

    @staticmethod
    def _bloom_params(n_rows: int, fpp: float) -> tuple[int, int]:
        """Textbook sizing: m = -n·ln(p)/ln²2 bits (byte-rounded,
        floor 64), k = (m/n)·ln2 hashes."""
        import math

        n = max(1, int(n_rows))
        m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
        m = (m + 7) // 8 * 8
        k = max(1, round(m / n * math.log(2)))
        return m, k

    def _build_blooms(
        self,
        rel_stats: dict[str, dict],
        col: str,
        fpp: float,
        sch_of: dict | None = None,
    ) -> dict[str, dict]:
        """Per-file Bloom filters over ``col`` for the given files —
        ONE distributed job regardless of file count: hash every
        (value, seed) pair to its bit position with the JVM's own
        xxhash64 (so probes can reproduce positions exactly), collect
        the DISTINCT positions per file (bounded by m bits, never by
        row count), and pack bitmaps on the driver. Files sized by
        their own row count from the commit stats. NULLs never enter
        a filter (equality probes on NULL are meaningless in SQL)."""
        import base64

        rels = sorted(rel_stats)
        if not rels:
            return {}
        params = [
            (rel, *self._bloom_params(rel_stats[rel].get("rows", 1), fpp))
            for rel in rels
        ]
        pdf = self.spark.createDataFrame(
            params, "__rel string, __m long, __k int"
        )
        # one known write schema across every file → say so and skip
        # the mergeSchema footer job (see _read_with_dvs)
        _schs = (
            {sch_of.get(r) for r in rels} if sch_of is not None else {None}
        )
        if len(_schs) == 1 and None not in _schs:
            reader = self.spark.read.schema(
                T.StructType.fromJson(json.loads(next(iter(_schs))))
            )
        else:
            reader = self.spark.read.option("mergeSchema", "true")
        df = (
            reader
            .parquet(*[os.path.join(self.path, r) for r in rels])
            .select(
                F.regexp_extract(
                    F.col("_metadata.file_path"), self._REL_EXTRACT, 1
                ).alias("__rel"),
                F.col(col).alias("__v"),
            )
            .filter(F.col("__v").isNotNull())
        )
        rows = (
            df.join(F.broadcast(pdf), "__rel")
            .select(
                "__rel",
                F.explode(
                    F.expr(
                        "transform(sequence(0, __k - 1), "
                        "s -> pmod(xxhash64(__v, s), __m))"
                    )
                ).alias("__p"),
            )
            .distinct()
            .groupBy("__rel")
            .agg(F.collect_list("__p").alias("__ps"))
            .collect()
        )
        by_rel = {r["__rel"]: r["__ps"] for r in rows}
        out: dict[str, dict] = {}
        for rel, m, k in params:
            bits = bytearray(m // 8)
            for p in by_rel.get(rel, []):
                p = int(p)
                bits[p >> 3] |= 1 << (p & 7)
            out[rel] = {
                "m": m,
                "k": k,
                "bits": base64.b64encode(bytes(bits)).decode(),
            }
        return out

    def _externalize_blooms(self, blooms: dict) -> dict:
        """Move bloom BITMAPS out of the commit JSON into one
        immutable sidecar file under ``_bloom/`` (r12): the commit —
        and every snapshot/checkpoint replaying it — keeps only the
        per-file metadata ``{m, k, ref, key}``, where ``ref`` is the
        sidecar path and ``key`` the filter's entry in it. At 100 TB
        a table has ~10⁵ files × ~KB bitmaps; inlined, EVERY commit
        touching the index (and every checkpoint) re-serializes MBs
        of base64 — sidecars make commit JSON O(metadata) and load
        bitmap payloads lazily, only on the probe paths
        (``_bloom_bits``), memoized per instance. Input shape
        ``{col: {rel: filt}}``; filters already externalized (no
        ``bits``) pass through untouched, so restore/rebase re-commit
        refs without rewriting payloads. A production multi-engine
        rollout would bump the reader protocol with this change; this
        repo is the table format's only engine, and the read path
        still accepts legacy inline-``bits`` filters."""
        payload: dict[str, str] = {}
        out: dict = {}
        ref = os.path.join(_BLOOM_DIR, f"{uuid.uuid4().hex}.json")
        for col, filt_by_rel in blooms.items():
            out[col] = {}
            for rel, filt in filt_by_rel.items():
                if "bits" not in filt:
                    out[col][rel] = filt  # already a sidecar ref
                    continue
                key = f"{col}|{rel}"
                payload[key] = filt["bits"]
                slim = {k_: v for k_, v in filt.items() if k_ != "bits"}
                slim["ref"] = ref
                slim["key"] = key
                out[col][rel] = slim
        if payload:
            abs_ref = os.path.join(self.path, ref)
            os.makedirs(os.path.dirname(abs_ref), exist_ok=True)
            tmp = abs_ref + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as fh:
                json.dump(payload, fh)
            os.replace(tmp, abs_ref)
        return out

    def _bloom_bits(self, filt: dict) -> bytes | None:
        """Resolve a filter's bitmap: inline ``bits`` (legacy tables)
        or the ``_bloom/`` sidecar it references, loaded once per
        sidecar per instance. ``None`` when the sidecar is gone (e.g.
        vacuumed past a restore point) — callers must then KEEP the
        file conservatively, the same degradation as a missing
        filter."""
        import base64

        if "bits" in filt:
            return base64.b64decode(filt["bits"])
        ref = filt["ref"]
        path = ref if os.path.isabs(ref) else os.path.join(self.path, ref)
        payload = self._bloom_sidecars.get(path)
        if payload is None:
            try:
                with open(path) as fh:
                    payload = json.load(fh)
            except (OSError, ValueError):
                return None
            self._bloom_sidecars[path] = payload
        bits = payload.get(filt.get("key"))
        return base64.b64decode(bits) if bits is not None else None

    def add_bloom_index(self, col: str, fpp: float = 0.01) -> int:
        """Register a BLOOM-FILTER FILE INDEX on ``col``: per-file
        bitmaps land in the log for every current file, and from this
        commit on every write path (append, COW rewrite, MERGE,
        compact) auto-computes filters for its new files before its
        first commit attempt — the index never goes stale. Point-lookup
        reads (``read(prune_eq={col: v})``) then skip files whose
        filter proves absence, which is the lever min/max stats can't
        provide for HIGH-CARDINALITY UNCLUSTERED columns (a uniform
        key's min/max spans every file; its bloom hits ~fpp of them).
        Bitmap PAYLOADS ride immutable ``_bloom/`` sidecar files (r12,
        ``_externalize_blooms``) — commits and checkpoints carry only
        {m, k, ref, key} per file, so the log stays O(metadata) at any
        file count and probes load bitmaps lazily."""
        base = self._snapshot()
        if base["schema"] is not None:
            schema = T.StructType.fromJson(json.loads(base["schema"]))
            if col not in schema.fieldNames():
                raise ValueError(f"add_bloom_index: no column {col!r}")
        rn = base["renames"]
        stale = [
            rel
            for rel in base["files"]
            if _physical_name(
                col, int(base["file_epoch"].get(rel, len(rn))), rn
            )
            != col
        ]
        if stale:
            raise ValueError(
                f"add_bloom_index: {len(stale)} live file(s) carry a "
                f"pre-rename physical name for {col!r} — compact() "
                "first so every file stores the current name"
            )
        filters = self._externalize_blooms(
            {col: self._build_blooms(
                base["files"], col, fpp,
                sch_of=txlog_log.file_schemas(base, base["files"]),
            )}
        ).get(col, {})
        commit = {
            "op": "bloom_index",
            "col": col,
            "fpp": fpp,
            "filters": filters,
            "base_version": base["version"],
        }
        return self._commit_or_rebase(
            base["version"], commit, "add_bloom_index", None
        )

    def drop_bloom_index(self, col: str) -> int:
        """Unregister the bloom index on ``col``: existing bitmaps
        leave the snapshot state and subsequent writes stop paying
        the filter-build job. Dropping a non-indexed column is a
        loud error (mirrors drop_check)."""
        base = self._snapshot()
        if col not in base["bloom_cols"]:
            raise ValueError(f"drop_bloom_index: no index on {col!r}")
        commit = {"op": "drop_bloom_index", "col": col,
                  "base_version": base["version"]}
        return self._commit_or_rebase(
            base["version"], commit, "drop_bloom_index", None
        )

    def _bloom_may_contain(
        self, filt: dict, positions_raw: list[int]
    ) -> bool:
        """Probe one file's bitmap with precomputed raw xxhash64
        values (seed s at index s); pmod per this file's m."""
        bits = self._bloom_bits(filt)
        if bits is None:
            return True  # sidecar gone — keep conservatively
        m, k = int(filt["m"]), int(filt["k"])
        for s in range(k):
            p = positions_raw[s] % m  # python % == pmod for m > 0
            if not (bits[p >> 3] >> (p & 7)) & 1:
                return False
        return True

    def _bloom_probe_hashes(
        self, col: str, value, schema_json: str, k_max: int
    ) -> list[int]:
        """Raw xxhash64(value, seed) for seed 0..k_max-1, computed BY
        THE JVM on a 1-row frame so the bit positions match the build
        job exactly (never reimplement xxhash64 driver-side)."""
        st = T.StructType.fromJson(json.loads(schema_json))
        dt = st[col].dataType
        lit = F.lit(value).cast(dt)
        row = (
            self.spark.range(1)
            .select(
                *[
                    F.xxhash64(lit, F.lit(s).cast("int")).alias(f"h{s}")
                    for s in range(k_max)
                ]
            )
            .collect()[0]
        )
        return [int(row[f"h{s}"]) for s in range(k_max)]

    def read(
        self,
        version: int | None = None,
        prune: dict[str, tuple] | None = None,
        prune_eq: dict[str, object] | None = None,
        as_of_ts: int | None = None,
    ) -> DataFrame:
        """Snapshot read (time travel via ``version`` or a commit
        timestamp via ``as_of_ts`` ns — mutually exclusive). ``prune``
        maps column → (lo, hi): files whose footer stats cannot
        intersect the range are dropped BEFORE Spark opens them —
        log-side data skipping on top of parquet's own row-group
        pruning. ``prune_eq`` maps column → value: files whose BLOOM
        FILTER (``add_bloom_index``) proves the value absent are
        skipped; files without a filter are conservatively kept. Both
        prunes are metadata-only hints — the caller still applies its
        own row filter (a bloom passes ~fpp false positives)."""
        if as_of_ts is not None:
            if version is not None:
                raise ValueError("pass either version or as_of_ts, not both")
            version = self.version_as_of(as_of_ts)
        snap = self._snapshot(version)
        # prune-free reads at a version are a pure function of the
        # immutable log — reuse the constructed (analyzed) DataFrame
        # instead of paying plan construction + analysis py4j round
        # trips per read (r13, guide §5 driver latency; the matview
        # refresh and the tlog demos re-read the same version
        # repeatedly). Plans are immutable; no data is cached.
        memo_key = snap["version"] if not prune and not prune_eq else None
        if memo_key is not None:
            hit = self._read_memo.get(memo_key)
            if hit is not None:
                return hit
        if int(snap["protocol"]["min_reader"]) > self.SUPPORTED_READER:
            raise ValueError(
                f"txlog table {self.path} requires reader protocol "
                f">= {snap['protocol']['min_reader']}; this engine "
                f"supports {self.SUPPORTED_READER} — upgrade the "
                "engine, not the table"
            )
        files = snap["files"]
        if prune:
            # translate each logical prune column to the file's
            # PHYSICAL name (pre-rename files carry old names in
            # their footer stats)
            rn = snap["renames"]
            fe = snap["file_epoch"]
            files = {
                rel: st
                for rel, st in files.items()
                if _stats_may_match(
                    st,
                    {
                        _physical_name(
                            c, int(fe.get(rel, len(rn))), rn
                        ): rng
                        for c, rng in prune.items()
                    },
                )
            }
        if prune_eq:
            for col, value in prune_eq.items():
                filt_by_rel = snap["blooms"].get(col, {})
                if not filt_by_rel or value is None:
                    continue  # unindexed column / NULL probe: keep all
                k_max = max(int(f["k"]) for f in filt_by_rel.values())
                hashes = self._bloom_probe_hashes(
                    col, value, snap["schema"], k_max
                )
                files = {
                    rel: st
                    for rel, st in files.items()
                    if rel not in filt_by_rel
                    or self._bloom_may_contain(filt_by_rel[rel], hashes)
                }
        if not files:
            if snap["schema"] is None:
                raise ValueError(f"txlog table {self.path} has no commits")
            empty_schema = T.StructType.fromJson(json.loads(snap["schema"]))
            return self.spark.createDataFrame([], empty_schema)
        # mergeSchema: snapshots may span appends written before and
        # after a column was added — the union schema (missing columns
        # null) is the additive-evolution contract. Deletion vectors
        # (merge-on-read deletes) are applied inside _read_with_dvs.
        out = self._read_with_dvs(sorted(files), snap["dvs"], snap=snap)
        if memo_key is not None:
            if len(self._read_memo) >= 8:
                self._read_memo.pop(next(iter(self._read_memo)))
            self._read_memo[memo_key] = out
        return out

    def change_plan(self, from_version: int, to_version: int):
        """``txlog_log.change_plan`` of (from_version, to_version] over
        a copy of the memoized snapshot and commits. Once exhausted,
        its fold is memoized as the snapshot at ``to_version``."""
        state = copy.deepcopy(self._snapshot(from_version))
        yield from txlog_log.change_plan(
            self.path, state, from_version, to_version,
            read=self._read_commit,
        )
        if state["version"] >= 0 and state["version"] not in self._snap_memo:
            self._memo_snapshot(state)

    def changes(self, from_version: int, to_version: int) -> DataFrame:
        """File-diff change feed: every row inserted or deleted between
        two versions, tagged ``_change_type`` ('insert'/'delete') and
        ``_commit_version``."""
        return self.feed(
            self.change_plan(from_version, to_version), to_version
        )

    def feed(self, plan, to_version: int) -> DataFrame:
        """The change feed of ``plan`` (``change_plan`` sides ending at
        ``to_version``) under the column names active there: one frame
        per side. Removed files remain readable until vacuum, so the
        deleted rows themselves come back, not just their count.
        Copy-on-write rewrites surface as (delete old file's rows,
        insert rewritten file's rows): net-exact, though carried rows
        appear on both sides (the classic file-level CDC shape). A
        ``dv_delete`` side is the data rows its deletion vector
        addresses, found by a semi-join on the row address; the other
        sides read their files under the side's deletion vectors, so
        the fold of the feed equals the table state (pinned by
        test_change_feed_dv_then_cow_folds)."""

        def tag(frame: DataFrame, kind: str, v: int) -> DataFrame:
            # one projection in SQL text: 8 py4j calls per frame,
            # against 19 for two withColumn calls and 30 for one
            # withColumns, whose dict becomes two JVM lists
            return frame.selectExpr(
                "*",
                f"'{kind}' AS _change_type",
                f"CAST({int(v)} AS BIGINT) AS _commit_version",
            )

        frames = []
        for side in plan:
            if side.kind == "dv_delete":
                data = self._read_with_dvs(
                    side.rels, {}, keep_lineage=True, snap=side.state
                )
                dv = self.spark.read.schema(
                    "file_rel string, row_index bigint"
                ).parquet(os.path.join(self.path, side.dv_file)).select(
                    F.col("file_rel").alias("__file_rel"),
                    F.col("row_index").alias("__row_index"),
                )
                rows = data.join(
                    dv, ["__file_rel", "__row_index"], "left_semi"
                ).select(*self._data_cols(data))
            else:
                rows = self._read_with_dvs(
                    side.rels, side.state["dvs"], snap=side.state
                )
            kind = "insert" if side.kind == "insert" else "delete"
            frames.append(
                (tag(rows, kind, side.version), len(side.state["renames"]))
            )
        snap = self._snapshot(to_version)
        if not frames:
            if snap["schema"] is None:
                raise ValueError(f"txlog table {self.path} has no commits")
            schema = T.StructType.fromJson(json.loads(snap["schema"]))
            schema = schema.add("_change_type", T.StringType()).add(
                "_commit_version", T.LongType()
            )
            return self.spark.createDataFrame([], schema)
        # Emit the WHOLE feed under the logical names active at
        # to_version: frames emitted before a rename are renamed
        # forward so a fold over the feed cancels exactly. (A feed
        # crossing a RESTORE that reverts renames keeps commit-time
        # names for the reverted span — the restore replaced the
        # mapping wholesale, so no forward chain exists.)
        final_rn = snap["renames"]
        lifted = []
        for f, k in frames:
            for old_c, new_c in final_rn[min(k, len(final_rn)):]:
                f = f.withColumnRenamed(old_c, new_c)
            lifted.append(f)
        out = lifted[0]
        for f in lifted[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out.select(
            *[c for c in out.columns if not c.startswith("__dropped_")]
        )

    def changes_keyed(
        self,
        from_version: int,
        to_version: int,
        key_cols: list[str],
    ) -> DataFrame:
        """Row-level CDC with UPDATE detection — the Delta-CDF shape.

        Within each commit, a delete-side row and an insert-side row
        sharing the same key become an ``update_preimage`` /
        ``update_postimage`` pair; keys on only one side stay
        ``delete`` / ``insert``; and rows IDENTICAL on both sides —
        the copy-on-write carry, i.e. most rows of every rewritten
        file — are SUPPRESSED entirely, so the feed contains exactly
        the rows that changed. This is what downstream consumers
        (CDC-to-warehouse apply, cache invalidation, audit diffs)
        actually want from a MERGE/UPDATE-heavy table, and it shrinks
        the feed from O(rewritten bytes) to O(changed rows).

        Contract: ``key_cols`` must be unique per side within each
        commit (the merge_upsert restriction) — validated with one
        aggregation over the feed; raises ``ValueError`` on
        duplicates. Inherits DV-exactness, vacuum loudness, and the
        net-exact fold from :meth:`changes` (an update pair nets to
        the same −pre/+post as the raw delete+insert it replaces;
        carried rows net to zero on both sides)."""
        feed = self.changes(from_version, to_version)
        meta = ("_change_type", "_commit_version")
        data_cols = [c for c in feed.columns if c not in meta]
        missing = [k for k in key_cols if k not in data_cols]
        if missing:
            raise ValueError(f"changes_keyed: key cols not in table: {missing}")
        nonkey = [c for c in data_cols if c not in key_cols]
        dup = (
            feed.groupBy("_commit_version", "_change_type", *key_cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            kv = {k: dup[0][k] for k in key_cols}
            raise ValueError(
                "changes_keyed: duplicate key on one side of commit "
                f"{dup[0]['_commit_version']} ({dup[0]['_change_type']}): "
                f"{kv} — update pairing requires unique keys per side"
            )
        payload = (
            F.struct(*nonkey) if nonkey else F.lit(1)
        )
        d = feed.filter(F.col("_change_type") == "delete").select(
            "_commit_version", *key_cols, payload.alias("__pre")
        )
        i = feed.filter(F.col("_change_type") == "insert").select(
            "_commit_version", *key_cols, payload.alias("__post")
        )
        j = d.join(i, ["_commit_version", *key_cols], "full_outer")

        def _tag(side: str, ct: str):
            return F.struct(
                F.col(side).alias("row"), F.lit(ct).alias("ct")
            )

        arr = (
            F.when(
                F.col("__pre").isNull(), F.array(_tag("__post", "insert"))
            )
            .when(
                F.col("__post").isNull(), F.array(_tag("__pre", "delete"))
            )
            .otherwise(
                F.array(
                    _tag("__pre", "update_preimage"),
                    _tag("__post", "update_postimage"),
                )
            )
        )
        carried = F.col("__pre").eqNullSafe(F.col("__post"))
        out = (
            j.withColumn("__same", carried)
            .select(
                "_commit_version", *key_cols, "__same",
                F.explode(arr).alias("__e"),
            )
            # the copy-on-write carry: identical on both sides → gone
            .filter(~(F.col("__same") & F.col("__e.ct").startswith("update")))
        )
        row_cols = [
            F.col(f"__e.row.{c}").alias(c) for c in nonkey
        ]
        return out.select(
            *key_cols,
            *row_cols,
            F.col("__e.ct").alias("_change_type"),
            "_commit_version",
        ).select(*data_cols, "_change_type", "_commit_version")

    def count_rows(self, version: int | None = None) -> int:
        """``count(*)`` answered from LOG METADATA alone — the sum of
        the per-file row counts recorded at commit time. No Spark job,
        no data file opened: O(live files) dict arithmetic, which is
        how a query engine should serve bare counts on a 100 TB table
        (the invariant `meta rows == actual rows` is test-pinned at
        every version). Deletion-vector cardinalities (recorded at
        commit time) are subtracted, so merge-on-read deletes keep
        metadata counts exact."""
        snap = self._snapshot(version)
        total = sum(st["rows"] for st in snap["files"].values())
        deleted = sum(
            e["rows"] for entries in snap["dvs"].values() for e in entries
        )
        return total - deleted

    def history(self) -> list[dict]:
        """Commit log, oldest first: version/op/file deltas — the
        lineage surface (reference S8) for the curated layer."""
        out = []
        for v in range(self.latest_version() + 1):
            c = self._read_commit(v)
            out.append(
                {
                    "version": v,
                    "op": c["op"],
                    "added": len(c.get("add", [])),
                    "removed": len(c.get("remove", [])),
                    "ts": c["ts"],
                }
            )
        return out

    def _committed_tokens(self, upto: int) -> set[str]:
        """Staging tokens referenced by any commit ≤ ``upto``,
        resolved from the newest TOKEN-BEARING checkpoint then folded
        forward — O(commits since checkpoint) small-file reads, not
        O(total history) (ADVICE r4). Checkpoints written before the
        token ledger existed fall back to one full scan; the next
        checkpoint write repairs them."""
        cp = txlog_log.newest_checkpoint(self.path, upto)
        # the newest checkpoint decides (its ledger is cumulative)
        if cp is not None and "tokens" in cp:
            tokens, start = set(cp["tokens"]), cp["version"] + 1
        else:
            tokens, start = set(), 0
        for v in range(start, upto + 1):
            tokens |= txlog_log.staged_tokens(self._read_commit(v))
        return tokens

    def vacuum(
        self,
        retain_versions: int = 0,
        grace_seconds: float = 600.0,
        abandoned_seconds: float = 7 * 24 * 3600.0,
    ) -> list[str]:
        """Delete data files referenced by NO version ≥ (latest -
        retain_versions). With the default every non-current file goes —
        time travel window shrinks accordingly; callers pick retention.
        Returns the deleted relative paths.

        Concurrent-writer protocol, strongest guard first:

        1. **Staging-token manifests** (VERDICT r3 #7): ``_stage``
           writes an intent marker in ``_staging/<token>`` BEFORE any
           data; the marker disappears when the commit referencing
           the token lands, and a write that unwinds without landing
           removes marker and data itself (``_Staging``'s reclaim
           guarantee). An unreferenced file whose token has a
           live marker is in-flight and is NEVER deleted — even if
           its mtime lies arbitrarily in the past (object-store
           writers don't share the vacuum host's clock). The marker
           is re-checked immediately before touching each
           unreferenced token directory, so a writer whose marker
           lands between the staging sweep and the data listing is
           also safe (ADVICE r4) — marker-first writers never need
           the grace window. Markers whose token already appears in
           the log are stale and get reaped here. A marker older than ``abandoned_seconds``
           (vacuum-host clock vs MARKER mtime — one file, written by
           this host's filesystem on create, so skew exposure is one
           metadata write, not every data file) marks a crashed
           writer: its marker and files are collected.
        2. ``grace_seconds`` mtime window — belt-and-braces for
           legacy tables written before markers existed. Only set 0
           when no concurrent writers can exist.
        """
        floor = max(self.latest_version() - retain_versions, 0)
        keep: set[str] = set()
        for v in range(floor, self.latest_version() + 1):
            snap = self._snapshot(v)
            keep.update(snap["files"])
            # deletion-vector files are live as long as any retained
            # snapshot's read path needs them
            keep.update(
                e["file"] for entries in snap["dvs"].values() for e in entries
            )
        now = time.time()
        # -- staging markers: reap committed/abandoned, honor live --
        in_flight: set[str] = set()
        staging_root = os.path.join(self.path, txlog_log.STAGING_DIR)
        committed_tokens: set[str] = set()
        if os.path.isdir(staging_root):
            committed_tokens = self._committed_tokens(self.latest_version())
            for token in sorted(os.listdir(staging_root)):
                marker = os.path.join(staging_root, token)
                if token in committed_tokens:
                    try:
                        os.remove(marker)  # stale: commit landed
                    except OSError:
                        pass
                    continue
                try:
                    marker_age = now - os.path.getmtime(marker)
                except OSError:
                    continue  # reaped by a parallel vacuum
                if marker_age >= abandoned_seconds:
                    try:
                        os.remove(marker)  # crashed writer: collect
                    except OSError:
                        pass
                else:
                    in_flight.add(token)
        # -- orphaned log tmp files (ADVICE r7): a writer crashing
        # between creating a tmp file and publishing it leaves the tmp
        # forever — readers ignore it, but nothing else deletes it
        txlog_log.reap_abandoned_tmps(self.path, now - abandoned_seconds)
        # -- bloom sidecars (r12): a sidecar is live while ANY retained
        # snapshot's filters reference it. Unreferenced ones (failed
        # commits, dropped indexes, vacuumed history) are reaped under
        # the same mtime grace window that protects a writer whose
        # sidecar landed but whose commit hasn't yet.
        live_refs: set[str] = set()
        for v in range(floor, self.latest_version() + 1):
            for filt_by_rel in self._snapshot(v)["blooms"].values():
                for f in filt_by_rel.values():
                    if "ref" in f:
                        r = f["ref"]
                        live_refs.add(
                            r
                            if os.path.isabs(r)
                            else os.path.join(self.path, r)
                        )
        bloom_root = os.path.join(self.path, _BLOOM_DIR)
        if os.path.isdir(bloom_root):
            for name in sorted(os.listdir(bloom_root)):
                abs_path = os.path.join(bloom_root, name)
                if abs_path in live_refs:
                    continue
                try:
                    if now - os.path.getmtime(abs_path) >= grace_seconds:
                        os.remove(abs_path)
                except OSError:
                    pass  # raced with a writer or parallel vacuum
        deleted = []
        data_root = os.path.join(self.path, "data")
        if not os.path.isdir(data_root):
            return deleted
        for sub in sorted(os.listdir(data_root)):
            if sub in in_flight:
                continue  # live writer intent — mtime is irrelevant
            # close the staging↔data listing race (ADVICE r4): a
            # writer whose marker landed AFTER the staging sweep above
            # (markers are written before any data) would otherwise be
            # protected only by the mtime grace window — re-check for
            # a live marker immediately before touching this token dir
            if sub not in committed_tokens and os.path.exists(
                os.path.join(staging_root, sub)
            ):
                continue
            subdir = os.path.join(data_root, sub)
            for name in sorted(os.listdir(subdir)):
                rel = os.path.join("data", sub, name)
                if rel in keep or not name.endswith(".parquet"):
                    continue
                abs_path = os.path.join(subdir, name)
                try:
                    age = now - os.path.getmtime(abs_path)
                except OSError:
                    continue  # already gone (parallel vacuum)
                if age < grace_seconds:
                    continue
                os.remove(abs_path)
                deleted.append(rel)
            if not os.listdir(subdir):
                os.rmdir(subdir)
        return deleted


def _strip_scheme(uri: str) -> str:
    if uri.startswith("file:"):
        uri = uri[5:]
        while uri.startswith("//"):
            uri = uri[1:]
    return uri


def _stats_may_match(st: dict, prune: dict[str, tuple]) -> bool:
    for col, (lo, hi) in prune.items():
        # each bound prunes independently (r12): a column whose max
        # stat was dropped by string truncation still skips on its
        # min, and vice versa — a missing side just can't prove
        # anything
        fmin = st.get("min", {}).get(col)
        fmax = st.get("max", {}).get(col)
        try:
            if fmin is not None and hi is not None and fmin > hi:
                return False
            if fmax is not None and lo is not None and fmax < lo:
                return False
        except TypeError:
            continue  # stat/bound type mismatch — cannot skip safely
    return True


#: SQL literal types whose Python values compare soundly against the
#: int/float/str footer stats `_file_stats` records. Timestamps/dates
#: are excluded on purpose: their literals parse to epoch integers
#: while their stats are stringified datetimes — incomparable.
_RANGE_LITERAL_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double", "string",
}

_CMP_OPS = {
    "EqualTo": "eq",
    "LessThan": "lt",
    "LessThanOrEqual": "le",
    "GreaterThan": "gt",
    "GreaterThanOrEqual": "ge",
}
_FLIP = {"lt": "gt", "le": "ge", "gt": "lt", "ge": "le", "eq": "eq"}


def _ranges_from_predicate(spark, predicate: str) -> dict[str, tuple]:
    """Extract sound file-skipping ranges {col: (lo, hi)} from a DML
    predicate — the data-skipping half of Delta's DML: a file whose
    footer [min, max] cannot satisfy a top-level conjunct cannot
    contain a predicate-TRUE row, so the candidate-discovery scan
    skips it without opening it.

    The predicate is parsed with SPARK'S OWN SQL PARSER (no regex
    guessing) and only shapes that are provably range-convertible are
    used: a conjunction (AND-tree) of ``col <op> literal`` /
    ``literal <op> col`` comparisons with numeric or string literals.
    Everything else — OR, NOT, IN, arithmetic on the column, UDFs,
    BETWEEN (parses to a function), timestamp literals — contributes
    NO range (that conjunct is simply ignored), so the result is
    always a superset of the matching files. ``< v`` is widened to
    ``<= v`` (one extra boundary file at most, never a miss). Bounds
    ride per-column intersection when a column appears in several
    conjuncts. Returns {} when nothing is extractable — callers then
    scan every file, exactly the pre-r11 behavior."""
    try:
        root = (
            spark._jsparkSession.sessionState()
            .sqlParser()
            .parseExpression(predicate)
        )
    except Exception:
        return {}
    conjuncts = []
    stack = [root]
    while stack:
        n = stack.pop()
        if n.getClass().getSimpleName() == "And":
            ch = n.children()
            stack.append(ch.apply(0))
            stack.append(ch.apply(1))
        else:
            conjuncts.append(n)
    out: dict[str, tuple] = {}
    for n in conjuncts:
        op = _CMP_OPS.get(n.getClass().getSimpleName())
        if op is None:
            continue
        ch = n.children()
        left, right = ch.apply(0), ch.apply(1)
        lc = left.getClass().getSimpleName()
        rc = right.getClass().getSimpleName()
        if lc == "UnresolvedAttribute" and rc == "Literal":
            attr, lit = left, right
        elif rc == "UnresolvedAttribute" and lc == "Literal":
            attr, lit, op = right, left, _FLIP[op]
        else:
            continue
        try:
            if lit.dataType().simpleString() not in _RANGE_LITERAL_TYPES:
                continue
            val = lit.value()
            col = attr.name()
        except Exception:
            continue
        if val is None:
            continue
        if not isinstance(val, (int, float)):
            val = str(val)  # py4j UTF8String → Python str
        lo2 = val if op in ("eq", "gt", "ge") else None
        hi2 = val if op in ("eq", "lt", "le") else None
        lo, hi = out.get(col, (None, None))
        try:
            if lo2 is not None:
                lo = lo2 if lo is None else max(lo, lo2)
            if hi2 is not None:
                hi = hi2 if hi is None else min(hi, hi2)
        except TypeError:
            # mixed-type bounds on one column (e.g. int vs string
            # literals) — drop the column, cannot intersect soundly
            out.pop(col, None)
            continue
        out[col] = (lo, hi)
    return out
