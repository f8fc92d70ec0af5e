"""Tests for the arcgis_sim Python Data Source (A1/A5/A17/A19)."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from etl_arcgis_spark.sources.arcgis_sim import TokenBroker, register


@pytest.fixture(scope="module")
def layer_file(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("layer") / "layer.jsonl"
    with open(path, "w") as fh:
        for oid in range(250):
            fh.write(
                json.dumps(
                    {
                        "oid": oid,
                        "callsign": f"unit-{oid % 7}",
                        "speed": float(oid % 50),
                        "active": oid % 2 == 0,
                    }
                )
                + "\n"
            )
    register(spark)
    return str(path)


def test_schema_inference(spark, layer_file):
    df = spark.read.format("arcgis_sim").option("path", layer_file).load()
    assert df.schema.simpleString() == (
        "struct<oid:bigint,callsign:string,speed:double,active:boolean>"
    )


def test_paged_partitions(spark, layer_file):
    df = (
        spark.read.format("arcgis_sim")
        .option("path", layer_file)
        .option("pageSize", 100)
        .load()
    )
    # 250 rows / 100 page -> 3 page partitions, read in parallel
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 250


def test_filter_pushdown(spark, layer_file):
    df = (
        spark.read.format("arcgis_sim_pushdown")
        .option("path", layer_file)
        .load()
        .filter((F.col("speed") > 40) & (F.col("callsign") == "unit-3"))
    )
    rows = df.collect()
    assert all(r["oid"] % 50 > 40 for r in rows)
    assert all(r["callsign"] == "unit-3" for r in rows)
    assert len(rows) == len([o for o in range(250) if o % 50 > 40 and o % 7 == 3])
    # both predicates were absorbed by the source: no Filter node
    # survives above the python BatchScan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan arcgis_sim" in plan and "+- Filter" not in plan and "Filter (" not in plan


def test_unsupported_filter_stays_in_spark(spark, layer_file):
    # an expression the simulated server's grammar can't evaluate must
    # remain as a Spark-side Filter above the scan (pushFilters yields
    # it back), and results stay correct
    df = (
        spark.read.format("arcgis_sim_pushdown")
        .option("path", layer_file)
        .load()
        .filter((F.col("speed") * 2 > 80) & (F.col("oid") < 100))
    )
    rows = df.collect()
    assert len(rows) == len([o for o in range(100) if (o % 50) * 2 > 80])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Filter " in plan  # the arithmetic predicate stayed Spark-side


def test_append_writer_chunks(spark, layer_file, tmp_path):
    out = tmp_path / "sink"
    df = spark.read.format("arcgis_sim").option("path", layer_file).option("pageSize", 100).load()
    df.write.format("arcgis_sim").option("path", str(out)).mode("append").save()
    chunks = sorted(out.glob("chunk-*.jsonl"))
    assert len(chunks) >= 1
    n = sum(1 for c in chunks for _ in open(c))
    assert n == 250


def test_token_broker_ttl_cache(monkeypatch):
    broker = TokenBroker(ttl_s=100.0, margin_s=300.0)
    t0 = time.time()
    now = [t0]
    monkeypatch.setattr(time, "time", lambda: now[0])
    tok1 = broker.token()
    assert broker.mint_count == 1
    # within ttl-margin: cached — but ttl(100) < margin(300) means every
    # call refreshes; use a realistic broker instead
    broker = TokenBroker(ttl_s=3600.0, margin_s=300.0)
    tok1 = broker.token()
    now[0] = t0 + 1000  # well inside expiry-margin
    assert broker.token() == tok1 and broker.mint_count == 1
    now[0] = t0 + 3600 - 200  # inside the 5-minute refresh margin
    tok2 = broker.token()
    assert tok2 != tok1 and broker.mint_count == 2


@pytest.mark.parametrize("fmt", ["arcgis_sim", "arcgis_http"])
def test_union_two_scans_same_relation(spark, layer_file, fmt):
    """Regression: one query scanning the same relation twice with
    different filters (union branches) must return both branches' rows.

    With pushdown enabled this silently breaks on Spark 4.1.2 — the two
    BatchScans are deduplicated even though their Python-side pushed
    filters differ — which is exactly why neither the default
    ``arcgis_sim`` format nor ``arcgis_http`` implements pushFilters."""
    srv = None
    if fmt == "arcgis_http":
        from etl_arcgis_spark.sources import arcgis_http

        arcgis_http.register(spark)
        srv = arcgis_http.SimFeatureServer(layer_file)
        reader = spark.read.format(fmt).option("url", srv.start())
    else:
        reader = spark.read.format(fmt).option("path", layer_file)
    try:
        df = reader.load()
        u = df.filter(F.col("callsign") == "unit-1").unionByName(
            df.filter(F.col("callsign") == "unit-2")
        )
        got = sorted(r["oid"] for r in u.collect())
    finally:
        if srv is not None:
            srv.stop()
    want = sorted(o for o in range(250) if o % 7 in (1, 2))
    assert got == want


def test_top_features_strategy_prereduces_and_composes_exactly(spark, layer_file):
    """A2 (queryTopFeatures / TOP_FEATURES_ITER): the topFilter option
    pushes a PAGE-LOCAL group limit into the scan. Contract: the scan
    output is a superset of the global top-k per group (every global
    winner is page-locally a winner), strictly smaller than the full
    layer, and the query-layer window over it reproduces the exact
    global top-k."""
    from pyspark.sql import Window

    k = 3
    full = spark.read.format("arcgis_sim").option("path", layer_file).load()
    pre = (
        spark.read.format("arcgis_sim")
        .option("path", layer_file)
        .option("pageSize", 100)
        .option("topGroup", "callsign")
        .option("topOrder", "speed")
        .option("topCount", k)
        .load()
    )
    w = Window.partitionBy("callsign").orderBy(F.desc("speed"), F.desc("oid"))

    def topk(df):
        return {
            (r["callsign"], r["oid"])
            for r in df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .collect()
        }

    pre_rows = pre.collect()
    assert len(pre_rows) < full.count()  # the scan really pre-reduced
    got, want = topk(pre), topk(full)
    assert got == want  # superset contract -> exact composition
    pre_keys = {(r["callsign"], r["oid"]) for r in pre_rows}
    assert want <= pre_keys  # every global winner survived the scan


def test_streaming_scheduled_pull_matches_batch(spark, layer_file, tmp_path):
    """The reference's incoming flow is a cron-scheduled incremental
    pull (task.ts:50-51). Model each scheduled wake as one availableNow
    run over a shared checkpoint: every run resumes from the committed
    byte offset and pulls what the prefetcher has paged; across wakes
    the union must equal the batch scan exactly — no row lost, none
    duplicated."""
    out = []

    def sink(batch_df, epoch):
        out.append(batch_df.collect())

    for _wake in range(12):  # scheduled wakes; breaks when drained
        q = (
            spark.readStream.format("arcgis_sim")
            .option("path", layer_file)
            .option("pageSize", 100)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if sum(len(rows) for rows in out) >= 250:
            break
    streamed = sorted(tuple(r) for rows in out for r in rows)
    batch = sorted(
        tuple(r)
        for r in spark.read.format("arcgis_sim")
        .option("path", layer_file)
        .load()
        .collect()
    )
    assert len(streamed) == 250
    assert streamed == batch


def test_stream_reader_page_budget_and_replay(layer_file):
    """Direct reader-API check of the scheduled-pull semantics: each
    read() pull advances at most pageSize*pagesPerBatch rows, offsets
    are monotone bytes, and readBetweenOffsets replays a committed
    range bit-identically (crash recovery)."""
    from pyspark.sql.types import StructType

    from etl_arcgis_spark.sources.arcgis_sim import ArcGISSimStreamReader

    schema = StructType.fromDDL(
        "oid bigint, callsign string, speed double, active boolean"
    )
    rdr = ArcGISSimStreamReader(schema, {"path": layer_file, "pagesize": "100"})
    off0 = rdr.initialOffset()
    assert off0 == {"byte": 0}
    pulls, offsets, cur = [], [off0], off0
    while True:
        it, nxt = rdr.read(cur)
        rows = list(it)
        if not rows:
            assert nxt == cur  # idle pull: offset must not move
            break
        pulls.append(rows)
        offsets.append(nxt)
        cur = nxt
    assert [len(p) for p in pulls] == [100, 100, 50]  # page budget per pull
    # replay of the middle committed range is bit-identical
    replay = list(rdr.readBetweenOffsets(offsets[1], offsets[2]))
    assert replay == pulls[1]
    # full-range replay equals the concatenated pulls
    assert list(rdr.readBetweenOffsets(offsets[0], offsets[-1])) == [
        r for p in pulls for r in p
    ]


def test_nested_json_fields_serialize_as_strings(spark, tmp_path):
    """A JSONL layer with nested values (lists/objects) must scan: the
    schema inference maps them to StringType and the read path
    re-serializes them (deterministic key order), instead of handing
    Spark a raw Python dict that fails type conversion."""
    import json as _json

    path = tmp_path / "nested.jsonl"
    rows = [
        {"fid": 1, "name": "a", "geom": {"type": "Point", "xy": [1.0, 2.0]}, "tags": ["x", "y"]},
        {"fid": 2, "name": "b", "geom": None, "tags": []},
        {"fid": 3, "name": "c", "geom": {"xy": [3.0, 4.0], "type": "Point"}, "tags": None},
    ]
    with open(path, "w") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")
    register(spark)
    got = {
        r["fid"]: (r["geom"], r["tags"])
        for r in spark.read.format("arcgis_sim").option("path", str(path)).load().collect()
    }
    assert len(got) == 3
    # nested objects arrive as canonical JSON strings, null stays null
    assert _json.loads(got[1][0]) == {"type": "Point", "xy": [1.0, 2.0]}
    assert got[1][1] == '["x","y"]'
    assert got[2] == (None, "[]")
    # key order canonicalized (sort_keys): rows 1 and 3 serialize with
    # the same key order even though the source JSON differs
    assert got[3][0] == '{"type":"Point","xy":[3.0,4.0]}'


def test_stream_writer_end_to_end_and_idempotent_replay(spark, layer_file, tmp_path):
    """A17 streaming sink: a micro-batch stream lands every row exactly
    once in batch-stamped JSONL chunks, and a replayed commit of the
    same epoch (checkpoint recovery) is a no-op that also cleans up the
    duplicate attempt files."""
    import os

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    spark.read.format("arcgis_sim").option("path", layer_file).option(
        "pageSize", 100
    ).load().write.mode("overwrite").parquet(str(src_dir))
    schema = spark.read.parquet(str(src_dir)).schema

    out = tmp_path / "stream_sink"
    q = (
        spark.readStream.schema(schema)
        .parquet(str(src_dir))
        .writeStream.format("arcgis_sim")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    chunks = sorted(out.glob("chunk-*.jsonl"))
    assert chunks, "no committed chunks"
    n = sum(1 for c in chunks for _ in open(c))
    assert n == 250
    markers = sorted(out.glob("_committed_*"))
    assert len(markers) >= 1

    # replay the committed epoch: a leftover attempt file must be
    # swallowed, no new chunk appears, counts unchanged
    from etl_arcgis_spark.sources.arcgis_sim import ArcGISSimStreamWriter, ChunkCommit

    w = ArcGISSimStreamWriter(schema, {"path": str(out)})
    stale = out / ".tmp-replayed-attempt"
    stale.write_text('{"oid": 999}\n')
    batch_id = int(markers[0].name.rsplit("_", 1)[1])
    w.commit([ChunkCommit(path=str(stale), rows=1, partition=0)], batch_id)
    assert not os.path.exists(stale)
    assert sorted(out.glob("chunk-*.jsonl")) == chunks
    assert sum(1 for c in chunks for _ in open(c)) == 250


def test_stream_writer_checkpoint_restart_no_duplicates(spark, layer_file, tmp_path):
    """Restarting the sink query on the same checkpoint must ingest
    only files that arrived since the last run — old epochs are not
    re-emitted, new rows land exactly once."""
    src_dir = tmp_path / "src2"
    src_dir.mkdir()
    base = spark.read.format("arcgis_sim").option("path", layer_file).option(
        "pageSize", 100
    ).load()
    base.write.mode("overwrite").parquet(str(src_dir))
    schema = spark.read.parquet(str(src_dir)).schema
    out = tmp_path / "sink2"
    ckpt = str(tmp_path / "ckpt2")

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src_dir))
            .writeStream.format("arcgis_sim")
            .option("path", str(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = sum(1 for c in out.glob("chunk-*.jsonl") for _ in open(c))
    assert n1 == 250
    run_once()  # no new data: no new rows
    assert sum(1 for c in out.glob("chunk-*.jsonl") for _ in open(c)) == 250
    # 40 new rows arrive as a new file; restart ingests exactly those
    base.limit(40).write.mode("append").parquet(str(src_dir))
    run_once()
    assert sum(1 for c in out.glob("chunk-*.jsonl") for _ in open(c)) == 290


def test_stream_writer_crash_replay_removes_orphan_chunks(tmp_path):
    """Round-3 ADVICE: a crash mid-promotion (some chunks renamed, no
    marker yet) followed by a replay with FEWER partitions must not
    leave the dead attempt's extra chunk as a duplicate orphan — the
    no-marker commit path deletes every chunk-<batchId>-* leftover
    before promoting, and the marker write is atomic."""
    from pyspark.sql.types import LongType, StructField, StructType

    from etl_arcgis_spark.sources.arcgis_sim import (
        ArcGISSimStreamWriter,
        ChunkCommit,
    )

    out = tmp_path / "sink"
    out.mkdir()
    schema = StructType([StructField("oid", LongType())])
    w = ArcGISSimStreamWriter(schema, {"path": str(out)})

    # dead first attempt: partitions 0 and 1 already promoted, crash
    # happened before the marker was written
    (out / "chunk-000007-00000.jsonl").write_text('{"oid": 1}\n')
    (out / "chunk-000007-00001.jsonl").write_text('{"oid": 2}\n')
    # plus an orphaned attempt file from a lost speculative task
    (out / ".tmp-dead-attempt").write_text('{"oid": 3}\n')

    # replay produces only ONE partition this time
    attempt = out / ".tmp-replay-0"
    attempt.write_text('{"oid": 1}\n{"oid": 2}\n')
    w.commit([ChunkCommit(path=str(attempt), rows=2, partition=0)], 7)

    chunks = sorted(p.name for p in out.glob("chunk-*.jsonl"))
    assert chunks == ["chunk-000007-00000.jsonl"], chunks
    assert (out / "_committed_7").read_text() == "2"
    assert not list(out.glob(".tmp-*")), "stale attempt files not swept"
    assert not list(out.glob("_committed_7.tmp"))


def test_batch_writer_commit_sweeps_lost_attempt_tmp(tmp_path):
    """The batch sink's commit also sweeps .tmp-* files left by losing
    task retries (abort only runs on whole-job failure)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from etl_arcgis_spark.sources.arcgis_sim import ArcGISSimWriter, ChunkCommit

    out = tmp_path / "bsink"
    out.mkdir()
    schema = StructType([StructField("oid", LongType())])
    w = ArcGISSimWriter(schema, {"path": str(out)})
    (out / ".tmp-lost-retry").write_text('{"oid": 9}\n')
    winner = out / ".tmp-winner"
    winner.write_text('{"oid": 1}\n')
    w.commit([ChunkCommit(path=str(winner), rows=1, partition=0)])
    assert (out / "chunk-00000.jsonl").exists()
    assert not list(out.glob(".tmp-*"))
