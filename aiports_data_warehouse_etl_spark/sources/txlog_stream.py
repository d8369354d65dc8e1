"""Streaming CHANGE-FEED source over a transaction-log table — the
Spark 4 Python Data Source streaming API with the txlog commit log as
the offset space.

``spark.readStream.format("txlog_cdf").option("path", <table>)``
emits every row inserted or deleted by each commit, tagged
``_change_type`` ('insert'/'delete') and ``_commit_version`` — the
streaming twin of ``TxLogTable.changes()`` — so downstream pipelines
(micro-batch ETL into a warehouse, incremental index maintenance,
cache invalidation) consume the curated layer INCREMENTALLY instead
of rescanning snapshots. This is the Load.py dataset-trigger analogue
(reference `dags/Load.py:17`) upgraded to row-level CDC.

Offset design: an offset is simply the last-consumed log VERSION.
Commits are immutable and totally ordered, so ``partitions(v0, v1)``
(Spark's replay path when a batch must be reconstructed after a
failure before its offset committed) re-plans exactly the commits in
(v0, v1] and reproduces the lost batch byte-for-byte — exactly-once
composes with any idempotent or transactional sink. Data files
referenced by old commits stay readable until vacuum; a replay past
the retention window raises loudly rather than returning a silent
hole.

Reader mechanics (the r4→r5 port): this is the partition-planning
``DataSourceStreamReader``. The DRIVER only reads the JSON commit log
— it plans ONE InputPartition PER DATA FILE touched by the batch's
commits, and the parquet decode runs ON THE EXECUTORS as pyarrow →
Arrow RecordBatches (zero per-row Python). Per-trigger volume is no
longer driver-bounded: a batch over N files fans out to N parallel
tasks, which is the shape a 100 TB change feed needs. The
``versions_per_batch`` option (default 10) remains as admission
control — after the first trigger (which admits everything available,
matching Spark's restart semantics where the true start offset lives
in the checkpoint, not the reader), the high-water mark advances by
at most that many commits per trigger.

Commit handling mirrors ``TxLogTable.changes()``: compact commits are
pure layout (skipped); copy-on-write rewrites surface as
delete(old file rows) + insert(new file rows); ``delete_dv`` commits
emit exactly the rows their deletion vector addresses (row-position
take inside each target file). Deletion-vector interplay (ADVICE r4):
a row a DV already deleted was emitted as 'delete' at the delete_dv
commit — when a later rewrite removes the DV-carrying file, the
planner attaches the DVs active at v-1 to the delete partition and
the executor EXCLUDES those row positions, so the feed never
double-deletes and the signed fold stays net-exact.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from aiports_data_warehouse_etl_spark.sources import txlog_log


def _head_schema(path: str) -> tuple[str, list]:
    """(schema JSON, renames) of the table at its latest version."""
    snap = txlog_log.state_at(path, txlog_log.latest_version(path))
    if snap["schema"] is None:
        raise ValueError(f"txlog table {path} has no schema-bearing commits")
    return snap["schema"], snap["renames"]


def _dv_files(state: dict, rel: str) -> list[str]:
    return [e["file"] for e in state["dvs"].get(rel, [])]


class _CDFPartition(InputPartition):
    """One executor task = one data file of one commit.

    kind='insert'  → emit every row of ``rel`` as 'insert'
    kind='delete'  → emit rows of ``rel`` as 'delete', EXCLUDING row
                     positions addressed by ``dv_rels`` (the deletion
                     vectors active at v-1 — those rows already
                     emitted 'delete' at their delete_dv commit)
    kind='dv_delete' → emit ONLY the rows of ``rel`` addressed by the
                     single DV file in ``dv_rels`` as 'delete'
    """

    def __init__(
        self,
        kind: str,
        rel: str,
        version: int,
        dv_rels: list,
        chain: list | None = None,
    ):
        self.kind = kind
        self.rel = rel
        self.version = version
        self.dv_rels = dv_rels
        # renames to apply on read: the file predates these RENAME
        # COLUMN commits, so its physical names walk forward through
        # the chain to the stream's declared (logical) schema
        self.chain = chain or []


class _TxLogCDFReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.per_batch = int(options.get("versions_per_batch", 10))
        # start AFTER this version (default: from the beginning)
        self.start = int(options.get("start_version", -1))
        self.schema_json, self.renames = _head_schema(self.path)
        self._hwm: int | None = None  # newest offset handed to Spark

    # -- offsets (driver) ------------------------------------------------

    def initialOffset(self) -> dict:
        return {"v": self.start}

    def latestOffset(self) -> dict:
        latest = txlog_log.latest_version(self.path)
        if self._hwm is None:
            # first trigger of this reader instance: the true start
            # offset lives in Spark's checkpoint (we never see it
            # here), so admit everything available — partitions()
            # still plans only (start, end]; subsequent triggers pace
            # by versions_per_batch
            self._hwm = latest
        else:
            self._hwm = min(self._hwm + self.per_batch, latest)
        return {"v": self._hwm}

    # -- planning (driver: JSON log only, no data files opened) ----------

    def _require(self, rel: str, v0: int, v1: int) -> None:
        if not os.path.exists(os.path.join(self.path, rel)):
            raise ValueError(
                f"txlog_cdf: {rel} was vacuumed — the change feed "
                f"({v0}, {v1}] cannot be reconstructed past the "
                "retention window"
            )

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        v0, v1 = int(start["v"]), int(end["v"])
        # keep pacing monotone across replays/restarts
        self._hwm = v1 if self._hwm is None else max(self._hwm, v1)
        # table state BEFORE the commit being planned (at v-1), folded
        # forward once each commit's delete side is planned. Every
        # emitted file walks its physical names forward to the
        # stream's DECLARED schema (fixed at reader construction); a
        # rename landing MID-STREAM changes the logical schema and
        # must fail the query loudly (the standard streaming
        # schema-change contract: restart picks it up)
        state = txlog_log.state_at(self.path, v0)
        target_rn = self.renames

        def chain_for(rel: str) -> list:
            rn = state["renames"]
            ep = min(
                int(state["file_epoch"].get(rel, len(rn))), len(target_rn)
            )
            return [list(r) for r in target_rn[ep:]]

        parts: list[InputPartition] = []
        for v in range(v0 + 1, v1 + 1):
            c = txlog_log.read_commit(self.path, v)
            op = c.get("op")
            if op == "rename_column":
                rn = state["renames"]
                if not (
                    len(rn) < len(target_rn)
                    and list(target_rn[len(rn)]) == [c["old"], c["new"]]
                ):
                    raise ValueError(
                        f"txlog_cdf: commit {v} renamed column "
                        f"{c['old']!r} -> {c['new']!r} after this stream "
                        "started — the declared schema is stale; restart "
                        "the streaming query to pick up the new schema"
                    )
            elif op != "compact":  # compact is pure layout: no rows change
                if c.get("dv_targets"):
                    # MoR commit (delete_dv, update_mor): the
                    # DV-addressed rows emit as 'delete'; update_mor's
                    # added files take the insert side below
                    self._require(c["dv_file"], v0, v1)
                    for rel in sorted(c["dv_targets"]):
                        self._require(rel, v0, v1)
                        parts.append(
                            _CDFPartition(
                                "dv_delete", rel, v, [c["dv_file"]],
                                chain=chain_for(rel),
                            )
                        )
                for rel in sorted(c.get("remove", [])):
                    excl = _dv_files(state, rel)
                    for p in [rel, *excl]:
                        self._require(p, v0, v1)
                    parts.append(
                        _CDFPartition(
                            "delete", rel, v, excl, chain=chain_for(rel)
                        )
                    )
            txlog_log.replay(state, c)
            if op == "compact":
                continue
            # inserts plan under the state AFTER the commit: a
            # RESTORE's re-added files come back with their restored
            # DVs, whose rows the insert side must exclude
            for add in c.get("add", []):
                excl = _dv_files(state, add["path"])
                for p in [add["path"], *excl]:
                    self._require(p, v0, v1)
                parts.append(
                    _CDFPartition(
                        "insert", add["path"], v, excl,
                        chain=chain_for(add["path"]),
                    )
                )
        return parts

    # -- decode (EXECUTORS: pyarrow → Arrow RecordBatches) ---------------

    def read(self, partition: _CDFPartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql import types as T
        from pyspark.sql.pandas.types import to_arrow_schema

        abs_path = os.path.join(self.path, partition.rel)
        if not os.path.exists(abs_path):
            raise ValueError(
                f"txlog_cdf: {partition.rel} was vacuumed — the change "
                "feed cannot be reconstructed past the retention window"
            )
        tbl = pq.read_table(abs_path)
        if partition.kind == "dv_delete":
            idx = self._dv_indices(partition.dv_rels, partition.rel)
            tbl = tbl.take(sorted(idx))
        elif partition.kind in ("delete", "insert") and partition.dv_rels:
            # delete: suppress rows a DV already deleted earlier;
            # insert (restore): suppress rows the restored DVs address
            excl = self._dv_indices(partition.dv_rels, partition.rel)
            tbl = tbl.take([i for i in range(tbl.num_rows) if i not in excl])
        ctype = "insert" if partition.kind == "insert" else "delete"
        if getattr(partition, "chain", None):
            # walk pre-rename physical names forward to the declared
            # logical schema (metadata-only RENAME COLUMN support)
            names = list(tbl.column_names)
            for old_c, new_c in partition.chain:
                names = [new_c if n == old_c else n for n in names]
            tbl = tbl.rename_columns(names)

        # schema-align to the declared stream schema: reorder, cast,
        # null-fill missing columns (the mergeSchema additive-evolution
        # contract), then tag — all columnar, zero per-row Python
        st = T.StructType.fromJson(json.loads(self.schema_json))
        target = to_arrow_schema(st)
        n = tbl.num_rows
        arrays, names = [], []
        for field in target:
            if field.name in tbl.column_names:
                arrays.append(
                    tbl.column(field.name).combine_chunks().cast(field.type)
                )
            else:
                arrays.append(pa.nulls(n, field.type))
            names.append(field.name)
        arrays.append(pa.array([ctype] * n, pa.string()))
        names.append("_change_type")
        arrays.append(pa.array([partition.version] * n, pa.int64()))
        names.append("_commit_version")
        out = pa.table(arrays, names=names)
        yield from out.combine_chunks().to_batches()

    def _dv_indices(self, dv_rels: list[str], rel: str) -> set[int]:
        """Row positions of ``rel`` addressed by the given DV files."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        idx: set[int] = set()
        for dv_rel in dv_rels:
            dv_abs = os.path.join(self.path, dv_rel)
            if not os.path.exists(dv_abs):
                raise ValueError(
                    f"txlog_cdf: {dv_rel} was vacuumed — the change "
                    "feed cannot be reconstructed past the retention "
                    "window"
                )
            t = pq.read_table(dv_abs, columns=["file_rel", "row_index"])
            hits = t.filter(pc.equal(t.column("file_rel"), rel))
            idx.update(int(i) for i in hits.column("row_index").to_pylist())
        return idx

    def commit(self, end: dict) -> None:
        # offsets are just log versions; nothing to clean up
        pass


class TxLogChangeFeedSource(DataSource):
    """``spark.readStream.format("txlog_cdf").option("path", ...)``."""

    @classmethod
    def name(cls) -> str:
        return "txlog_cdf"

    def schema(self) -> str:
        from pyspark.sql import types as T

        schema_json, _ = _head_schema(self.options["path"])
        st = T.StructType.fromJson(json.loads(schema_json))
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in st.fields
        )
        return f"{cols}, _change_type string, _commit_version bigint"

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _TxLogCDFReader(self.options)


def register_txlog_cdf(spark) -> None:
    """Idempotent registration of the change-feed source."""
    spark.dataSource.register(TxLogChangeFeedSource)
