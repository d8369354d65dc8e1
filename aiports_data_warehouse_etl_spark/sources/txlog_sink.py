"""Native exactly-once streaming SINK for the transaction-log table
(Spark 4 Python Data Source write API):

    df.writeStream.format("txlog") \\
      .option("path", "/warehouse/events_t") \\
      .option("checkpointLocation", ckpt).start()

The foreachBatch sink (``TxLogTable.write_stream``) routes every
micro-batch through a SECOND Spark action on the driver's batch
DataFrame. This sink is the one-pass, executor-parallel path: each
write task streams its partition's Arrow record batches STRAIGHT into
a staged parquet file (the same marker-first staging protocol as
``TxLogTable._stage``, so vacuum can never reap an in-flight file),
and the driver's ``commit()`` folds every task's add-action into ONE
atomic log commit carrying an (app, batchId) transaction marker. The
commit adopts every task's token into ``txlog._Staging`` and lands
through ``TxLogTable._commit_or_rebase``, so a batch that does not
land leaves no staged file behind (the guarantee is stated once, on
``_Staging``).

Identity contract (the Delta ``txnAppId`` rule): the idempotence key
is ``(txn_app, batchId)`` and batch ids restart at 0 per checkpoint —
so EACH INDEPENDENT QUERY writing the same table must set its own
``.option("txn_app", ...)``; the default (derived from the table
path) is only safe for a single logical stream per table. A second
query left on the default would have its batch 0 silently swallowed
by the first query's marker.

Exactly-once story, same contract as ``append_batch_txn``:
- a replayed batch (crash between sink commit and Spark's offset
  checkpoint) finds its marker already in the log → the commit is a
  no-op and the re-staged files are reclaimed;
- a failed batch never commits — ``commit()`` unwinding, ``abort()``,
  and (for a driver that died first) vacuum reclaim the staged files;
- CHECK constraints are validated on the STAGED files before the
  commit lands, so the write-time contract holds on this path too
  (a violating micro-batch leaves no trace but the reclaimed stage).

At 100 TB this is the shape that matters: N executor tasks write N
parquet files with zero driver involvement in the data path; the
driver touches only JSON metadata + one bounded validation scan.

Reference parity: the reference's loads append/overwrite raw CSVs
with no atomicity (`dags/Load.py:17-23`); this sink is the
log-structured, exactly-once replacement for its streaming twin.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from aiports_data_warehouse_etl_spark.sources.txlog_log import (
    reclaim_tokens,
    write_marker,
)


@dataclass
class _TxLogCommitMessage(WriterCommitMessage):
    """One task's staged output: add-actions + its staging token."""

    adds: list = field(default_factory=list)
    token: str | None = None


class _TxLogStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, options: dict, schema) -> None:
        self.path = options["path"]
        self.app = options.get("txn_app", f"txlog_sink:{self.path}")
        self.schema_json = schema.json()
        # The sink's write schema is frozen at STREAM START, so a
        # rename/drop epoch bump landing any time during the stream's
        # life makes every later staged file carry stale physical
        # names. The per-commit policy inspection below only sees the
        # window since its own snapshot; this start marker lets each
        # commit scan (incrementally) for rename commits since stream
        # start and fail the stream for a restart — Delta's
        # schema-change-stops-the-stream behavior.
        from aiports_data_warehouse_etl_spark.sources.txlog import (
            TxLogTable,
        )

        self._rename_checked_upto = TxLogTable(
            None, self.path
        ).latest_version()

    # -- executors: Arrow batches -> one staged parquet file per task --

    def write(self, iterator) -> _TxLogCommitMessage:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from aiports_data_warehouse_etl_spark.sources.txlog import _file_stats

        batches = [b for b in iterator if b.num_rows > 0]
        if not batches:
            return _TxLogCommitMessage()  # empty task: nothing staged
        token = uuid.uuid4().hex
        write_marker(self.path, token)  # BEFORE data (vacuum protocol)
        rel_dir = os.path.join("data", token)
        abs_dir = os.path.join(self.path, rel_dir)
        os.makedirs(abs_dir)
        rel = os.path.join(rel_dir, "part-00000.parquet")
        abs_path = os.path.join(self.path, rel)
        pq.write_table(pa.Table.from_batches(batches), abs_path)
        return _TxLogCommitMessage(
            adds=[{"path": rel, "stats": _file_stats(abs_path)}],
            token=token,
        )

    # -- driver: fold task stages into ONE idempotent commit -----------

    @staticmethod
    def _tokens(messages) -> list[str]:
        return [m.token for m in messages if m is not None and m.token]

    def _validate_staged(self, adds: list[dict], constraints: dict) -> None:
        """CHECK validation WITHOUT a SparkSession: the Python
        streaming write API runs ``commit()`` in a plain Python worker
        on the driver host (no JVM handle), so the staged files are
        validated with an in-process DuckDB scan instead — same ANSI
        semantics as ``TxLogTable._validate_constraints`` (NULL
        passes, only FALSE violates), one aggregation pass for all
        constraints. Constraint SQL must therefore be ANSI-portable;
        a dialect mismatch raises loudly (fail-shut, never
        fail-open)."""
        import duckdb

        from aiports_data_warehouse_etl_spark.sources.txlog import (
            ConstraintViolation,
        )

        files = [os.path.join(self.path, a["path"]) for a in adds]
        exprs = ", ".join(
            f"sum(CASE WHEN NOT coalesce(({sql}), TRUE) THEN 1 ELSE 0 "
            f'END) AS "{name}"'
            for name, sql in sorted(constraints.items())
        )
        row = duckdb.connect().execute(
            f"SELECT {exprs} FROM read_parquet(?)", [files]
        ).fetchone()
        bad = {
            name: int(n or 0)
            for name, n in zip(sorted(constraints), row)
            if (n or 0) > 0
        }
        if bad:
            detail = ", ".join(
                f"{name} ({n} rows violate: {constraints[name]!r})"
                for name, n in sorted(bad.items())
            )
            raise ConstraintViolation(
                f"write rejected by CHECK constraints: {detail}"
            )

    def commit(self, messages, batchId: int) -> None:
        from aiports_data_warehouse_etl_spark.sources.txlog import (
            TxConflict,
            TxLogTable,
            _rebase_over_policy_safe,
            _Staging,
        )

        adds = [a for m in messages if m is not None for a in m.adds]
        if not adds:
            return  # empty micro-batch: nothing to commit or replay
        # spark=None: every operation on this path (txn scan, snapshot
        # fold, atomic commit) is pure JSON metadata — no data read
        t = TxLogTable(None, self.path)
        with _Staging(t) as st:
            st.adopt(self._tokens(messages))
            snap = t._snapshot()
            if t.txn_seen(self.app, int(batchId)):
                # replayed batch: the original commit already holds
                # these rows — no-op (the stage is reclaimed)
                return
            # rename/drop since STREAM START (not just since this
            # batch's snapshot): staged files carry the stream-start
            # physical names, so any epoch bump in the stream's
            # lifetime means this and every later batch would land
            # stale names under the new epoch. Incremental scan — each
            # commit only reads the log suffix it hasn't inspected yet.
            for i in range(self._rename_checked_upto + 1, snap["version"] + 1):
                if t._read_commit(i).get("op") == "rename_column":
                    raise TxConflict(
                        f"txlog sink: column rename/drop at table version "
                        f"{i} during the stream's lifetime — the sink's "
                        "write schema is stale; restart the stream"
                    )
            self._rename_checked_upto = snap["version"]
            if snap.get("identity"):
                # id assignment needs reservation + a Spark job; the
                # sink's commit worker has neither — fail shut, point
                # at the foreachBatch sink (append_batch_txn)
                raise ValueError(
                    "txlog sink: table has GENERATED ALWAYS AS IDENTITY "
                    f"column(s) {sorted(snap['identity'])} — use "
                    "TxLogTable.write_stream (foreachBatch) for identity "
                    "tables; this sink cannot assign ids"
                )
            checks = dict(snap["constraints"])
            for name, expr in snap.get("generated", {}).items():
                # generated columns validate as equality CHECKs here;
                # the sink cannot COMPUTE them post-staging (files are
                # immutable), so a stream that omits the column is
                # refused by the scan erroring on the missing name —
                # fail-shut
                checks[f"__generated_{name}"] = (
                    f"{name} IS NOT DISTINCT FROM ({expr})"
                )
            if checks:
                self._validate_staged(adds, checks)
            commit = {
                "op": "append",
                "add": adds,
                "schema": self.schema_json,
                "txn_app": self.app,
                "txn_id": int(batchId),
            }
            # same rebase discipline as TxLogTable.append: a concurrent
            # rename/constraint/identity/protocol commit since the
            # policy snapshot invalidates this batch's staged file or
            # its validation — fail shut, the stream restarts the
            # batch against fresh state (ADVICE r6 #2)
            t._commit_or_rebase(
                snap["version"], commit, "txlog sink",
                _rebase_over_policy_safe, stage=st,
                txn=(self.app, int(batchId)),
            )

    def abort(self, messages, batchId: int) -> None:
        reclaim_tokens(self.path, self._tokens(messages))


class TxLogSinkSource(DataSource):
    """``df.writeStream.format("txlog").option("path", ...)``."""

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def streamWriter(self, schema, overwrite: bool):
        if overwrite:
            raise ValueError(
                "txlog sink supports append mode only (use "
                "TxLogTable.overwrite_batch_txn for read-modify-write "
                "view maintenance)"
            )
        return _TxLogStreamWriter(self.options, schema)


def register_txlog_sink(spark) -> None:
    """Idempotent registration of the streaming sink."""
    spark.dataSource.register(TxLogSinkSource)
