"""Streaming pipeline builders — the reference's two dataflows as
Structured Streaming (SURVEY.md §3.1/§3.2), plus the stateful-operator
surface (C36-C38).

The reference is a scheduled puller (incoming, task.ts:393-458) and an
SQS-triggered micro-batch pusher (outgoing, task.ts:155-361). Spark's
generalization: ``readStream`` sources, watermarked event-time state,
and ``foreachBatch`` sinks. Everything here takes/returns DataFrames so
batch and streaming share the transformation code (the t2-checked batch
queries use the same expressions).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from ..helpers import r4

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of events (the scheduled-pull generalization:
    each new file is a page/batch of features, ≅ task.ts:418 pagination
    events). ``ts`` is a µs-precision timestamp (tables.py read
    policy); ``ts_t`` aliases it for the watermark/window expressions."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(path)
        .withColumn("ts_t", F.col("ts"))
    )


def windowed_counts(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """C33+C36: watermarked tumbling aggregate (append-able)."""
    return (
        stream.withWatermark("ts_t", watermark)
        .groupBy(F.window("ts_t", "1 hour").alias("w"), "event_type")
        # r4 (not F.round): must match the batch twin bit-for-bit for
        # the streaming==batch parity assertion
        .agg(F.count(F.lit(1)).alias("n"), r4(F.sum("value")).alias("val_sum"))
        .select(F.unix_millis("w.start").alias("w_start_ms"), "event_type", "n", "val_sum")
    )


def streaming_dedup(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """C37: keyed dedup within the watermark — the streaming twin of
    dedup_key_last_write (first write wins inside the state window;
    state for keys older than the watermark is dropped, which is what
    bounds memory at scale)."""
    return stream.withWatermark("ts_t", watermark).dropDuplicates(["user_id", "event_id"])


def streaming_dedup_within_watermark(
    stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """C37 variant: ``dropDuplicatesWithinWatermark`` — dedup by key
    where duplicate deliveries may carry *different* event times (the
    at-least-once redelivery reality of the reference's SQS feed,
    task.ts:155: a retried record is re-stamped). Plain dropDuplicates
    keys state on the exact (key, ts) row; this keeps only the key and
    GUARANTEES dedup for duplicates arriving within the watermark delay
    of the first sighting, while still evicting state afterwards — so a
    re-delivery far outside the watermark is emitted again (bounded
    state means bounded memory, not forever-exactly-once)."""
    return stream.withWatermark("ts_t", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_id"]
    )


# ---- custom stateful operator: per-user session accumulator ----------

_SESSION_STATE_SCHEMA = "start_us long, last_us long, n long, val double"
_SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start_ms bigint, n bigint, val_sum double"
)
_GAP_US = 600_000_000  # 10 minutes


def _sessionize(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState body: fold each user's events into open
    sessions, emitting a row whenever a gap >= 10 min closes one.

    This is the hand-rolled equivalent of ``session_window`` — the
    pattern to copy for operators Spark has no built-in for (the
    reference's ephemeral per-flow store, task.ts:42-46, is exactly
    this: keyed state surviving across micro-batches).
    """
    (user_id,) = key
    if state.hasTimedOut:
        if state.exists:
            start_us, _last, n, val = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start_ms": [start_us // 1000],
                    "n": [n],
                    "val_sum": [round(val, 4)],
                }
            )
        return

    if state.exists:
        start_us, last_us, n, val = state.get
    else:
        start_us = last_us = -1
        n = 0
        val = 0.0

    out = []
    us_all: list[int] = []
    for pdf in batches:
        pdf = pdf.sort_values("us")
        for us, v in zip(pdf["us"], pdf["value"]):
            us = int(us)
            us_all.append(us)
            if start_us < 0:
                start_us, last_us, n, val = us, us, 1, float(v)
            elif us - last_us >= _GAP_US:
                out.append((user_id, start_us // 1000, n, round(val, 4)))
                start_us, last_us, n, val = us, us, 1, float(v)
            else:
                # max(): a late event (us < last_us, still within the
                # watermark) must not shrink the session's gap horizon —
                # session_window semantics extend, never rewind
                last_us, n, val = max(last_us, us), n + 1, val + float(v)
    state.update((start_us, last_us, n, val))
    if us_all:
        state.setTimeoutTimestamp(max(us_all) // 1000 + _GAP_US // 1000)
    if out:
        yield pd.DataFrame(out, columns=["user_id", "session_start_ms", "n", "val_sum"])


def stateful_sessionize(stream: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """C35 as a *custom stateful operator* (applyInPandasWithState):
    per-user session windows with a 10-minute gap, state keyed by user,
    event-time timeout closing idle sessions. Demonstrates the escape
    hatch for stateful semantics Spark lacks natively."""
    ev = stream.withColumn("us", F.unix_micros("ts")).withWatermark("ts_t", watermark)
    return (
        ev.select("user_id", "us", "value", "ts_t")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _latest_per_key(df: DataFrame, key: str) -> DataFrame:
    """The last write per ``key`` — newest event time ``us`` (epoch
    micros), then highest event id — as the upserted (key, us,
    event_id, value) row."""
    w = Window.partitionBy(key).orderBy(F.desc("us"), F.desc("event_id"))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(key, "us", "event_id", "value")
    )


def upsert_sink(stream: DataFrame, target_dir: str) -> Any:
    """C38/A13: foreachBatch micro-batch MERGE into a keyed parquet
    target — last write (by event time, then event id) wins, mirroring
    the reference's query-then-add-or-update loop (task.ts:267-349) as
    a fully set-based per-batch operation.

    Per batch: rank-1 the batch per key, union with the current target
    state, rank-1 again (one shuffle on the key), write the merged
    state to a staging directory and rename it into place. The swap is
    two renames (retire current, promote stage), NOT one atomic op: a
    crash between them leaves no ``current``. :func:`recover_upsert_state`
    runs at every merge entry and heals that window — it promotes the
    newest complete ``_stage_`` dir (strictly newer state: the merged
    batch was fully written before the swap began), else the newest
    ``_retired_`` dir — so accumulated keyed state is never discarded.
    Nothing is ever collected to the driver, so both the batch and the
    accumulated keyed state are unbounded. On a lakehouse table format
    the same merge is ``MERGE INTO`` (row-level update); plain parquet
    needs rewrite-and-swap.
    """
    cur_dir = os.path.join(target_dir, "current")

    def merge(batch_df: DataFrame, epoch: int) -> None:
        import shutil

        spark = batch_df.sparkSession
        recover_upsert_state(target_dir)
        latest = _latest_per_key(
            batch_df.withColumn("us", F.unix_micros("ts")), "user_id"
        )
        if os.path.isdir(cur_dir):
            latest = _latest_per_key(
                spark.read.parquet(cur_dir).unionByName(latest), "user_id"
            )
        stage = os.path.join(target_dir, f"_stage_{epoch}")
        latest.write.mode("overwrite").parquet(stage)  # materializes BEFORE swap
        retired = os.path.join(target_dir, f"_retired_{epoch}")
        if os.path.isdir(cur_dir):
            os.rename(cur_dir, retired)
        os.rename(stage, cur_dir)
        shutil.rmtree(retired, ignore_errors=True)

    return stream.writeStream.foreachBatch(merge)


def recover_upsert_state(target_dir: str) -> str | None:
    """Heal :func:`upsert_sink`'s two-rename swap window.

    If ``{target_dir}/current`` is missing but a ``_stage_{epoch}`` or
    ``_retired_{epoch}`` sibling exists, promote the best candidate to
    ``current``: the newest *complete* stage (has Spark's ``_SUCCESS``
    marker — it holds the already-merged state, strictly newer than any
    retired dir), else the newest retired dir (the pre-crash state; the
    interrupted batch replays from the stream's checkpoint). Leftover
    stage/retired dirs are swept either way. Returns the directory that
    was promoted, or None if no recovery was needed/possible."""
    import glob
    import shutil

    cur_dir = os.path.join(target_dir, "current")

    def _by_epoch(prefix: str) -> list[str]:
        out = []
        for d in glob.glob(os.path.join(target_dir, prefix + "*")):
            if not os.path.isdir(d):
                continue
            try:
                out.append((int(os.path.basename(d)[len(prefix):]), d))
            except ValueError:
                continue
        return [d for _ep, d in sorted(out, reverse=True)]

    promoted: str | None = None
    if not os.path.isdir(cur_dir):
        complete_stages = [
            d for d in _by_epoch("_stage_")
            if os.path.isfile(os.path.join(d, "_SUCCESS"))
        ]
        for d in complete_stages + _by_epoch("_retired_"):
            os.rename(d, cur_dir)
            promoted = d
            break
    for prefix in ("_stage_", "_retired_"):
        for d in _by_epoch(prefix):
            shutil.rmtree(d, ignore_errors=True)
    return promoted


def stream_stream_click_purchase_join(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each purchase joined to same-user clicks in
    the preceding ``within`` interval. Both sides carry watermarks so
    Spark can bound the join state (clicks older than the interval +
    watermark are evicted) — the canonical attribution shape.

    ``how='leftOuter'`` keeps unattributed purchases: the null-padded
    row for a purchase with no click is emitted only once the watermark
    has passed its match horizon (purchase_ts, the interval end) and
    state is cleaned up — Spark cannot know earlier that no click will
    arrive. Outer stream-stream joins REQUIRE the watermark + time
    bound; without them the unmatched side could never be finalized.
    """
    c = (
        clicks.withWatermark("ts_t", within)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts_t").alias("click_ts"),
        )
    )
    p = purchases.withWatermark("ts_t", within).select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts_t").alias("purchase_ts")
    )
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {within}"))
    )
    return p.join(c, cond, how).select(
        "user_id", "purchase_id", "click_id",
        F.unix_millis("purchase_ts").alias("purchase_ms"),
        F.unix_millis("click_ts").alias("click_ms"),
    )


def stream_static_enrich(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: join each micro-batch against a static
    (batch) dimension — the streaming form of the reference's
    attribute-enrichment step (ESRI layer metadata applied per feature,
    task.ts:471-520), and the standard pattern for joining a live event
    stream to slowly-changing reference data.

    Semantics: stateless — each micro-batch joins the CURRENT snapshot
    of the static side, no watermark needed; left join keeps stream
    rows whose key is missing from the dimension (nulls, quarantine
    downstream per A18).

    Scale: the static side is dim-sized -> broadcast into every task;
    the stream side never shuffles, so enrichment adds zero stateful
    operators and zero exchanges to the streaming plan."""
    d = F.broadcast(dim.select(
        F.col("user_id").alias("d_user_id"), "segment", "tier"
    ))
    return (
        stream.join(d, stream["user_id"] == d["d_user_id"], "left")
        .drop("d_user_id")
        .select(
            "event_id", "user_id", "event_type", "value",
            F.coalesce("segment", F.lit("unknown")).alias("segment"),
            F.coalesce("tier", F.lit(0)).alias("tier"),
        )
    )


def incremental_materialize(
    stream: DataFrame, out_dir: str, checkpoint_dir: str, partition_by: str = "event_type"
) -> Any:
    """Incremental materialization: the continuous-ingest half of a
    lakehouse table — each micro-batch appends into a Hive-partitioned
    parquet lake, with the streaming checkpoint making file-source
    input effectively-once. Pair with
    ``sources.maintenance.compact_parquet`` on a schedule: ingest
    writes many small per-batch files (exactly the reference's
    per-SQS-batch write pattern, task.ts:155-361), compaction restores
    scan efficiency — together they are the minimal ACID-free
    lakehouse loop.

    Scale: partitioning by a low-cardinality routing column gives
    planning-time partition pruning to every downstream reader (the
    test_plans partition-pruning property); per-batch files stay
    small and compaction is the corrective, not a bigger write path.
    Returns the DataStreamWriter (caller picks the trigger)."""
    return (
        stream.writeStream.format("parquet")
        .partitionBy(partition_by)
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )


# ---- transformWithStateInPandas: the Spark 4 arbitrary-state API ------

_TWS_STATE_SCHEMA = "start_us long, last_us long, n long, val double"


class SessionProcessor(StatefulProcessor):
    """Spark 4 ``transformWithStateInPandas`` sessionizer — the same
    per-user 10-minute-gap session fold as :func:`_sessionize`, ported
    to the arbitrary-state StatefulProcessor API (SPARK-46815). What
    the new API buys over applyInPandasWithState at 100 TB:

    - typed state *variables* (value/list/map) instead of one opaque
      tuple — the state store tracks them independently, so adding a
      variable doesn't rewrite the whole row;
    - first-class timers (``registerTimer``) instead of one implicit
      timeout per key — a key can hold several horizons;
    - state TTL and initial-state bootstrap hooks (``ttlDurationMs``,
      ``handleInitialState``) for state-store hygiene on unbounded key
      spaces — the reference's ephemeral per-flow store (task.ts:42-46)
      with an eviction policy.

    Semantics are identical to the applyInPandasWithState twin; the
    parity test asserts the two emit the same closed sessions.
    """

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._state = handle.getValueState("session", _TWS_STATE_SCHEMA)

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues: Any
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if self._state.exists():
            start_us, last_us, n, val = self._state.get()
        else:
            start_us = last_us = -1
            n = 0
            val = 0.0
        out = []
        hi = -1
        for pdf in rows:
            pdf = pdf.sort_values("us")
            for us, v in zip(pdf["us"], pdf["value"]):
                us = int(us)
                hi = max(hi, us)
                if start_us < 0:
                    start_us, last_us, n, val = us, us, 1, float(v)
                elif us - last_us >= _GAP_US:
                    out.append((user_id, start_us // 1000, n, round(val, 4)))
                    start_us, last_us, n, val = us, us, 1, float(v)
                else:
                    # extend-never-rewind, as in _sessionize
                    last_us, n, val = max(last_us, us), n + 1, val + float(v)
        self._state.update((start_us, last_us, n, val))
        if hi >= 0:
            # one live timer per key: re-arm at the newest gap horizon
            for t in self._handle.listTimers():
                self._handle.deleteTimer(t)
            self._handle.registerTimer(hi // 1000 + _GAP_US // 1000)
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "session_start_ms", "n", "val_sum"]
            )

    def handleExpiredTimer(
        self, key: Any, timerValues: Any, expiredTimerInfo: Any
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if self._state.exists():
            start_us, _last_us, n, val = self._state.get()
            self._state.clear()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start_ms": [start_us // 1000],
                    "n": [n],
                    "val_sum": [round(val, 4)],
                }
            )

    def close(self) -> None:
        pass


def stateful_sessionize_tws(stream: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """C35 on the Spark 4 ``transformWithStateInPandas`` API — see
    :class:`SessionProcessor`. Same inputs/outputs as
    :func:`stateful_sessionize`."""
    ev = stream.withColumn("us", F.unix_micros("ts")).withWatermark("ts_t", watermark)
    return (
        ev.select("user_id", "us", "value", "ts_t")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionProcessor(),
            outputStructType=_SESSION_OUT_SCHEMA,
            outputMode="append",
            timeMode="eventTime",
        )
    )


def acid_upsert_sink(stream: DataFrame, table_root: str, key: str = "user_id") -> Any:
    """:func:`upsert_sink` on the snapshot-manifest ACID table
    (etl_arcgis_spark/acid.py) instead of rename-and-swap parquet —
    the lakehouse spelling of the reference's keyed upsert
    (task.ts:267-349): each micro-batch rank-1s itself per key and
    MERGEs transactionally. The swap-crash recovery machinery the
    plain-parquet sink needs (recover_upsert_state) disappears
    entirely: the manifest publish is a single atomic hard-link, so
    there is no window where no current state exists, replayed batches
    re-merge idempotently (last write per key wins either way), and a
    crashed commit leaves only vacuum-able orphans.

    The epoch id is recorded in the commit history, giving the sink a
    queryable audit trail (acid.history) the reference's HTTP submit
    never had.
    """
    from .. import acid

    def merge(batch_df: DataFrame, epoch: int) -> None:
        spark = batch_df.sparkSession
        latest = _latest_per_key(
            batch_df.withColumn("us", F.unix_micros("ts")), key
        )
        if acid.current_version(table_root) is None:
            acid.create(spark, table_root, latest, key=key)
        else:
            acid.merge(spark, table_root, latest)

    return stream.writeStream.foreachBatch(merge)


def acid_upsert_sink_mor(
    stream: DataFrame, table_root: str, key: str = "user_id"
) -> Any:
    """:func:`acid_upsert_sink`, MERGE-ON-READ (Iceberg v2 equality
    deletes): each micro-batch rank-1s itself per key and commits via
    acid.upsert_mor — ONE equality-delete file tombstoning the batch's
    keys in existing files plus the batch appended as new data files,
    in a single atomic publish. Nothing is rewritten, so per-batch
    write cost is O(batch), not O(files the keys touch) — the shape a
    100 TB streaming CDC ingest actually uses, with compact_deletes()
    folding the accumulated overlay away in maintenance windows instead
    of on the ingest hot path. Visible state is parity-identical to the
    copy-on-write sink (tested); replayed batches re-upsert
    idempotently (same keys tombstone again, last write per key wins).

    Reference parity: the same keyed upsert as task.ts:267-349, with
    the query-by-key leg replaced by the equality tombstone — the
    writer never needs to locate the old rows at all."""
    from .. import acid

    def upsert(batch_df: DataFrame, epoch: int) -> None:
        spark = batch_df.sparkSession
        latest = _latest_per_key(
            batch_df.withColumn("us", F.unix_micros("ts")), key
        )
        if acid.current_version(table_root) is None:
            acid.create(spark, table_root, latest, key=key)
        else:
            acid.upsert_mor(spark, table_root, latest)

    return stream.writeStream.foreachBatch(upsert)


def acid_wap_sink(
    stream: DataFrame,
    table_root: str,
    expectation: str,
    quarantine_dir: str,
    key: str = "user_id",
) -> Any:
    """Streaming Write-Audit-Publish with an EXPECTATION — the Delta
    Live Tables pattern on the snapshot-manifest table: every
    micro-batch is MERGEd as a *staged* snapshot (acid.merge
    staged=True, invisible to readers), the staged table is audited
    against ``expectation`` (a SQL predicate every row of the
    WOULD-BE table must satisfy), and only a clean audit publishes.
    A failing batch is aborted — readers never glimpse it — and the
    offending batch lands in ``quarantine_dir`` with its epoch and
    violation count for replay (the dead-letter discipline of
    operators/quarantine.py, lifted to the transaction boundary;
    reference parity: task.ts can only refuse a whole HTTP submit).

    The audit validates the POST-merge table, not the batch: an
    expectation like ``balance >= 0`` can pass on the delta yet fail
    on the merged state, which is exactly what WAP exists to catch.

    Scale: the stage is the same file-pruned copy-on-write merge; the
    audit is one filtered count over the staged snapshot (stats-pruned
    like any read); publish is an atomic hard-link. A conflict with a
    concurrent writer surfaces as CommitConflict at publish. The batch
    then re-stages AND re-audits on the new snapshot, because the
    audit judged the old one; this is why the sink keeps its own loop
    instead of acid._commit's replan, bounded by the same
    acid._COMMIT_ATTEMPTS. Exactly-once visibility holds."""
    from .. import acid

    def stage_audit_publish(batch_df: DataFrame, epoch: int) -> None:
        spark = batch_df.sparkSession
        latest = _latest_per_key(
            batch_df.withColumn("us", F.unix_micros("ts")), key
        )
        if acid.current_version(table_root) is None:
            # The FIRST batch is audited too: the would-be table after
            # create() IS the batch itself (empty target), so auditing
            # the batch is exactly the post-merge audit every later
            # batch gets. Skipping it would publish a violating first
            # batch to all readers — the one hole in audit-every-batch.
            bad = latest.filter(f"NOT ({expectation})").count()
            if bad:
                (
                    latest.withColumn("epoch", F.lit(epoch))
                    .withColumn("violations", F.lit(bad))
                    .write.mode("append")
                    .parquet(quarantine_dir)
                )
                return
            acid.create(spark, table_root, latest, key=key)
            return
        for _ in range(acid._COMMIT_ATTEMPTS):  # re-stage on publish conflicts
            token = acid.merge(spark, table_root, latest, staged=True)
            bad = (
                acid.read_staged(spark, table_root, token)
                .filter(f"NOT ({expectation})")
                .count()
            )
            if bad:
                acid.abort_staged(table_root, token)
                (
                    latest.withColumn("epoch", F.lit(epoch))
                    .withColumn("violations", F.lit(bad))
                    .write.mode("append")
                    .parquet(quarantine_dir)
                )
                return
            try:
                acid.publish_staged(table_root, token)
                return
            except acid.CommitConflict:
                acid.abort_staged(table_root, token)
                continue
        raise acid.CommitConflict(
            f"wap sink lost {acid._COMMIT_ATTEMPTS} races at {table_root}"
        )

    return stream.writeStream.foreachBatch(stage_audit_publish)
