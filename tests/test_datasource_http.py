"""Socket-backed twin of test_datasource (VERDICT r9 #3): the
``arcgis_http`` data source driven against SimFeatureServer over real
loopback HTTP — pagination windows, schema inference, server-side
where, token TTL expiry/refresh, the un-awaited-auth quirk class
(task.ts:380-386), mid-page 5xx retry, and the addFeatures sink."""

from __future__ import annotations

import json
import time
import urllib.error

import pytest
from pyspark.sql import functions as F

from etl_arcgis_spark.sources.arcgis_http import (

    HttpTokenBroker,
    SimFeatureServer,
    _fetch_with_retry,
    _parse_where,
    register,
)


# Slow tier (optimization r13, VERDICT r12 order #2): heavyweight
# subprocess/streaming/property suite — excluded from the default
# pytest run (pytest.ini), executed with `-m slow`.
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def layer_file(tmp_path_factory):
    path = tmp_path_factory.mktemp("hlayer") / "layer.jsonl"
    with open(path, "w") as fh:
        for oid in range(250):
            fh.write(
                json.dumps(
                    {
                        "oid": oid,
                        "callsign": f"unit-{oid % 7}",
                        "speed": float(oid % 50),
                    }
                )
                + "\n"
            )
    return str(path)


@pytest.fixture()
def server(layer_file):
    srv = SimFeatureServer(layer_file)
    url = srv.start()
    yield srv, url
    srv.stop()


def _reader(spark, url, **opts):
    r = spark.read.format("arcgis_http").option("url", url)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_schema_inference_over_socket(spark, server):
    """A5 twin: field metadata fetched from /layer?f=json."""
    srv, url = server
    register(spark)
    df = _reader(spark, url)
    assert df.schema.simpleString() == (
        "struct<oid:bigint,callsign:string,speed:double>"
    )
    assert any(p == "/layer" for (_, p, _) in srv.request_log)


def test_paged_scan_parity_and_windows(spark, server):
    """A1 twin: 250 rows at pageSize 100 -> 3 resultOffset windows
    requested over the socket, full-row parity with the source file."""
    srv, url = server
    register(spark)
    df = _reader(spark, url, pagesize=100)
    assert df.rdd.getNumPartitions() == 3
    rows = df.collect()
    assert len(rows) == 250
    assert sorted(r.oid for r in rows) == list(range(250))
    offsets = sorted(
        int(q["resultOffset"])
        for (_, p, q) in srv.request_log
        if p == "/layer/query" and "resultOffset" in q
    )
    assert offsets == [0, 100, 200]
    # count-only planning request went out exactly once
    counts = [
        q for (_, p, q) in srv.request_log
        if p == "/layer/query" and q.get("returnCountOnly") == "true"
    ]
    assert len(counts) == 1


def test_where_pushdown_server_side(spark, server):
    """A3 twin: the ``where`` option travels as a SQL-92 where the
    SERVER evaluates — page planning sees the pruned count."""
    srv, url = server
    register(spark)
    df = _reader(
        spark, url, pagesize=100, where="speed > 40 AND callsign = 'unit-3'"
    )
    rows = df.collect()
    assert rows
    assert all(r.speed > 40 and r.callsign == "unit-3" for r in rows)
    wheres = {
        q.get("where")
        for (_, p, q) in srv.request_log
        if p == "/layer/query"
    }
    assert any("speed > 40" in (w or "") for w in wheres)
    assert any("callsign = 'unit-3'" in (w or "") for w in wheres)
    # pruned count -> a single page partition
    assert df.rdd.getNumPartitions() == 1


def test_user_where_option_composes_with_pushdown(spark, server):
    srv, url = server
    register(spark)
    df = _reader(spark, url, where="oid < 10").filter(F.col("speed") >= 5)
    assert sorted(r.oid for r in df.collect()) == [5, 6, 7, 8, 9]


def test_token_ttl_refresh_and_expiry(layer_file):
    """A19 twin over sockets: a broker with a TTL shorter than the
    5-minute margin re-mints per call; the server 401s a token it has
    expired and the client re-mints once and succeeds (the CLOSED form
    of the un-awaited-auth race, task.ts:380-386)."""
    srv = SimFeatureServer(layer_file, token_ttl_s=1.0)
    url = srv.start()
    try:
        broker = HttpTokenBroker(url)  # margin 300s >> ttl 1s
        t1 = broker.token()
        t2 = broker.token()
        assert t1 != t2  # inside the margin -> honest re-mint each time
        # now simulate the quirk: a client HOLDING a token it still
        # believes valid fires a query after the server revoked it —
        # server 401s (ArcGIS code 498), _fetch_with_retry re-mints
        # once and retries
        hold = HttpTokenBroker(url, margin_s=0.0)
        hold.token()
        time.sleep(1.2)  # past the 1 s TTL: expired server-side,
        # but margin 0 means the CLIENT still trusts it... unless the
        # client-side expiry stamp already lapsed too; revoke to be sure
        srv.revoke_tokens()
        hold._expires_ms = (time.time() + 3600) * 1000  # client trusts it
        mints_before = srv.mint_count
        res = _fetch_with_retry(
            hold, url + "/layer/query",
            {"where": "1=1", "returnCountOnly": "true"},
        )
        assert res["count"] == 250
        assert srv.mint_count == mints_before + 1  # exactly one re-mint
        codes = [
            p for (_, p, q) in srv.request_log if p == "/layer/query"
        ]
        assert len(codes) >= 2  # the 401'd attempt plus the retry
    finally:
        srv.stop()


def test_auth_awaited_before_query(spark, server):
    """The reference fires auth without awaiting (task.ts:380) so a
    query can precede token arrival; this client must ALWAYS have
    minted before its first /layer/query hits the socket."""
    srv, url = server
    register(spark)
    _reader(spark, url, pagesize=100).count()
    first_query = next(
        i for i, (_, p, _) in enumerate(srv.request_log)
        if p == "/layer/query"
    )
    assert any(
        p == "/api/esri" for (_, p, _) in srv.request_log[:first_query]
    )


def test_mid_page_5xx_retries(spark, server):
    """Transient 503s on query windows are retried with backoff; the
    scan still returns every row exactly once."""
    srv, url = server
    register(spark)
    srv.fail_next_queries = 2
    df = _reader(spark, url, pagesize=100)
    assert df.count() == 250
    n_queries = sum(
        1 for (_, p, _) in srv.request_log if p == "/layer/query"
    )
    # 1 count + 3 pages + 2 retried failures
    assert n_queries >= 6


def test_5xx_exhaustion_raises(layer_file):
    srv = SimFeatureServer(layer_file)
    url = srv.start()
    try:
        srv.fail_next_queries = 10
        broker = HttpTokenBroker(url)
        with pytest.raises(urllib.error.HTTPError):
            _fetch_with_retry(
                broker, url + "/layer/query",
                {"where": "1=1", "returnCountOnly": "true"},
                retries=2, backoff_s=0.01,
            )
    finally:
        srv.stop()


def test_add_features_sink(spark, server):
    """A17 twin: DataFrame -> chunked POST /layer/addFeatures."""
    srv, url = server
    register(spark)
    df = spark.createDataFrame(
        [(i, f"c-{i}", float(i)) for i in range(37)],
        "oid LONG, callsign STRING, speed DOUBLE",
    ).coalesce(2)
    (
        df.write.format("arcgis_http")
        .option("url", url)
        .option("chunksize", 10)
        .mode("append")
        .save()
    )
    assert sorted(r["oid"] for r in srv.submitted) == list(range(37))
    n_posts = sum(
        1 for (m, p, _) in srv.request_log
        if p == "/layer/addFeatures" and m == "POST"
    )
    assert n_posts >= 4  # 37 rows / chunk 10 across 2 tasks


def test_where_parser_subset():
    pred = _parse_where("speed >= 10 AND callsign = 'unit-1' AND oid IN (1, 8, 15)")
    assert pred({"speed": 10, "callsign": "unit-1", "oid": 8})
    assert not pred({"speed": 9, "callsign": "unit-1", "oid": 8})
    assert not pred({"speed": 10, "callsign": "unit-2", "oid": 8})
    assert _parse_where("x IS NOT NULL")({"x": 0})
    assert not _parse_where("x IS NOT NULL")({})
    assert _parse_where("s = 'it''s'")({"s": "it's"})
    with pytest.raises(ValueError):
        _parse_where("oid = 1 OR oid = 2")  # OR not in the pushed subset
    with pytest.raises(ValueError):
        _parse_where("1=1; DROP TABLE x")


# ---------------------------------------------------------------------------
# C227: streaming tail — the scheduled incoming pull (task.ts:50-51)
# as a Structured Streaming source with a monotone-id high-water-mark
# offset: incremental batches, exactly-once replay.


def test_stream_tail_incremental_batches(spark, server, tmp_path):
    srv, url = server
    register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("arcgis_http")
            .option("url", url)
            .option("idcol", "oid")
            .option("startafter", -1)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = spark.read.parquet(out).agg(
        F.count("*").alias("n"), F.max("oid").alias("mx")
    ).collect()[0]
    assert got["n"] == 250 and got["mx"] == 249

    # new features arrive server-side; resuming from the checkpoint
    # fetches ONLY them (offset = id high-water mark)
    with srv._lock:
        srv.records.extend(
            {"oid": 250 + i, "callsign": "new", "speed": 1.0} for i in range(5)
        )
    run_once()
    got2 = spark.read.parquet(out).agg(
        F.count("*").alias("n"), F.max("oid").alias("mx")
    ).collect()[0]
    assert got2["n"] == 255 and got2["mx"] == 254
    # the incremental where actually reached the server
    wheres = [
        p.get("where") for m, path, p in srv.request_log if "query" in path
    ]
    assert any(w and "oid > 249" in w for w in wheres), wheres[-5:]
