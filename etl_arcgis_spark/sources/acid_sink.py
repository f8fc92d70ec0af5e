"""Streaming SINK into the snapshot-manifest ACID table via Spark 4's
Python DataSource WRITER API — the writer-side twin of the acid_cdf
stream reader: ``df.writeStream.format("acid_sink").option("root", ...)``.

Exactly-once without foreachBatch: executors stage each micro-batch's
partitions as parquet under ``.stream-stage-<batch>/`` and the DRIVER
commit publishes ONE snapshot per batch through acid._commit, the
commit loop every other writer runs, recording the batch id in
the manifest (``stream_sinks: {sink_id: last_batch}``). A replayed
batch (restart from checkpoint) finds its id already committed and
becomes a NO-OP — the idempotence contract Delta's transactional sink
implements with txn app versions. ``abort`` discards the staged files;
nothing uncommitted is ever visible (stage dirs are dot-prefixed, and
the vacuum grace window reaps orphans from crashed batches).

Semantics: transactional APPEND per micro-batch (event-log, duplicate
keys allowed — acid.append's contract). Keyed upsert sinks remain
``streaming.pipelines.acid_upsert_sink`` (foreachBatch over merge);
CHECK constraints are enforced by the table's write APIs, not here —
the commit hook runs driver-side without a SparkSession, so constraint
validation belongs to an audit step (WAP) or the foreachBatch sinks.

Reference: dfpc-coe/etl-arcgis task.ts:155-361 (the SQS-triggered
micro-batch writer this generalizes transactionally).
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    WriterCommitMessage,
)

from .. import acid


@dataclass
class _StagedFile(WriterCommitMessage):
    rel_path: str
    rows: int


class AcidStreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict, schema) -> None:
        self.root = options["root"]
        # The sink id is the idempotence ledger key (Delta's txnAppId):
        # two INDEPENDENT queries appending to the same table must never
        # share one, or the query with the lower/equal batchId sees its
        # batches classified as replays — staged files deleted, data
        # silently dropped (ADVICE r10). So no shared 'default': an
        # explicit sinkId wins; otherwise derive a per-query id from the
        # checkpoint location (distinct queries are required by Spark to
        # use distinct checkpoints, and the id must stay STABLE across
        # restarts of the same query — which the streaming queryId is
        # not); with neither option present, refuse.
        sink_id = options.get("sinkid", options.get("sinkId"))
        if not sink_id:
            ckpt = options.get(
                "checkpointlocation", options.get("checkpointLocation")
            )
            if ckpt:
                import hashlib

                sink_id = "ckpt-" + hashlib.sha256(
                    ckpt.rstrip("/").encode()
                ).hexdigest()[:16]
            else:
                raise ValueError(
                    "acid_sink needs .option('sinkId', <stable unique id>) "
                    "(or a checkpointLocation to derive one): a shared "
                    "default ledger key would silently drop batches when "
                    "two queries append to the same table"
                )
        self.sink_id = sink_id
        self.schema = schema

    # -- executor side -------------------------------------------------
    def write(self, iterator):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        rows = [r.asDict() for r in iterator]
        if not rows:
            return _StagedFile(rel_path="", rows=0)
        arrow_schema = to_arrow_schema(self.schema)
        table = pa.Table.from_pylist(rows, schema=arrow_schema)
        stage_dir = os.path.join(self.root, ".stream-stage")
        os.makedirs(stage_dir, exist_ok=True)
        rel = os.path.join(".stream-stage", f"{uuid.uuid4().hex}.parquet")
        pq.write_table(table, os.path.join(self.root, rel))
        return _StagedFile(rel_path=rel, rows=len(rows))

    # -- driver side ---------------------------------------------------
    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        """Publish the batch's staged files as one snapshot through
        acid._commit, which plans again on the winner's snapshot after
        a lost publish race. A batch the ledger already holds (a
        checkpoint replay) commits nothing."""
        staged = [m for m in messages if m is not None and m.rows > 0]

        def plan(base_v: int, man: dict) -> dict | None:
            sinks = dict(man.get("stream_sinks") or {})
            last = sinks.get(self.sink_id)
            if last is not None and int(last) >= batchId:
                # exactly-once: drop the re-staged files, publish nothing
                for m in staged:
                    try:
                        os.remove(os.path.join(self.root, m.rel_path))
                    except FileNotFoundError:
                        pass
                return None
            new_seq = acid._next_seq(man, base_v)
            entries = []
            for m in staged:
                final_rel = os.path.join("data", os.path.basename(m.rel_path))
                final = os.path.join(self.root, final_rel)
                os.makedirs(os.path.dirname(final), exist_ok=True)
                os.replace(os.path.join(self.root, m.rel_path), final)
                m.rel_path = final_rel  # a later attempt finds it moved
                e = acid._file_entry(final, self.root, man.get("key"))
                e["seq"] = new_seq
                entries.append(e)
            sinks[self.sink_id] = batchId
            return {
                "files": man["files"] + entries,
                "rows": man.get("rows", 0) + sum(m.rows for m in staged),
                "last_seq": new_seq,
                "stream_sinks": sinks,
                "stream_batch": batchId,
            }

        acid._commit(self.root, "stream_append", plan)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        for m in messages or []:
            if m is not None and getattr(m, "rel_path", ""):
                try:
                    os.remove(os.path.join(self.root, m.rel_path))
                except FileNotFoundError:
                    pass
        stage_dir = os.path.join(self.root, ".stream-stage")
        if os.path.isdir(stage_dir) and not os.listdir(stage_dir):
            shutil.rmtree(stage_dir, ignore_errors=True)


class AcidSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "acid_sink"

    def streamWriter(self, schema, overwrite: bool):  # noqa: N802
        if overwrite:
            raise ValueError("acid_sink is append-only (transactional)")
        return AcidStreamWriter(self.options, schema)


def register(spark) -> None:
    spark.dataSource.register(AcidSinkDataSource)
