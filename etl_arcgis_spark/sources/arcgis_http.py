"""``arcgis_http`` — the socket-backed twin of ``arcgis_sim``
(VERDICT r9 #3): the same FeatureServer connector surface driven over
REAL loopback HTTP instead of a local file, so pagination windows,
token TTL expiry/refresh, and mid-page 5xx retry are exercised through
sockets the way the reference runs them.

Reference behaviors modeled (all public, dfpc-coe/etl-arcgis):

* **Token broker** (task.ts:92-135): ``POST /api/esri`` with
  {url, username, password} answers {"auth": {token, expires,
  referer}}; the client refreshes when the token is within the margin
  of expiry. The reference's comment says "expires in under 5 minutes"
  but its arithmetic (`+new Date() + 1000 * 5`, task.ts:107) yields 5
  SECONDS — we implement the stated intent (300 s margin), not the bug.
* **Un-awaited auth quirk** (task.ts:380-386): the reference calls
  ``this.auth(...)`` WITHOUT awaiting it inside ``dumper()``, so a
  scan can fire carrying the stale ephemeral token while the refresh
  is still in flight — a latent race its serial Lambda cadence hides.
  This client AWAITS auth before every request and additionally
  handles the server-side consequence (401/invalid-token) by
  re-minting once and retrying, so the quirk class is closed rather
  than reproduced.
* **Paged scan** (task.ts:418 ``dumper.fetch()``; esri-dump ITER):
  ``GET <layer>/query`` with resultOffset/resultRecordCount windows
  and a server-side SQL-92 ``where`` (task.ts:406-408). Where the
  reference pages serially, each window here is a Spark
  InputPartition — pages read in parallel, each with its own retry.
* **Batch submit** (task.ts:455-457): ``POST <layer>/addFeatures``
  with feature-attribute chunks.

The in-package ``SimFeatureServer`` is a loopback http.server standing
in for ArcGIS Enterprise: token issue/expiry enforcement (ArcGIS's
invalid-token error, surfaced as HTTP 401 carrying the ArcGIS error
code 498), metadata endpoint for schema inference, windowed query with
where evaluation, fault injection (fail the next N queries with 503),
and a request log the tests assert pagination/auth sequencing against.
"""

from __future__ import annotations

import json
import math
import re
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql.datasource import (
    SimpleDataSourceStreamReader,
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FORMAT_NAME = "arcgis_http"

_ESRI_TYPE = {
    "esriFieldTypeOID": LongType(),
    "esriFieldTypeInteger": LongType(),
    "esriFieldTypeDouble": DoubleType(),
    "esriFieldTypeString": StringType(),
    "esriFieldTypeBoolean": BooleanType(),
}
_PY_ESRI = {
    bool: "esriFieldTypeBoolean",
    int: "esriFieldTypeInteger",
    float: "esriFieldTypeDouble",
    str: "esriFieldTypeString",
}


# --------------------------------------------------------------------------
# server side — the loopback FeatureServer stand-in
# --------------------------------------------------------------------------

_WHERE_TOKEN = re.compile(
    r"\s*(?:(?P<ident>[A-Za-z_][A-Za-z0-9_]*)|(?P<num>-?\d+(?:\.\d+)?)"
    r"|(?P<str>'(?:[^']|'')*')|(?P<op><=|>=|<>|=|<|>|\(|\)|,))"
)


def _parse_where(where: str):
    """Parse the SQL-92 subset a ``where`` may use — conjunctions of
    ``col OP literal``, ``col IN (...)``, ``col IS NOT NULL`` — into a
    row predicate. Raises ValueError on anything else (the server
    rejects the request like ArcGIS would a malformed where)."""
    toks: list[tuple[str, object]] = []
    i = 0
    while i < len(where):
        if where[i].isspace():
            i += 1
            continue
        m = _WHERE_TOKEN.match(where, i)
        if not m:
            raise ValueError(f"bad where at {where[i:]!r}")
        if m.lastgroup == "ident":
            toks.append(("ident", m.group("ident")))
        elif m.lastgroup == "num":
            n = m.group("num")
            toks.append(("lit", float(n) if "." in n else int(n)))
        elif m.lastgroup == "str":
            toks.append(("lit", m.group("str")[1:-1].replace("''", "'")))
        else:
            toks.append(("op", m.group("op")))
        i = m.end()

    pos = 0

    def peek(k=0):
        return toks[pos + k] if pos + k < len(toks) else (None, None)

    def take(kind=None, val=None):
        nonlocal pos
        t = peek()
        if (kind and t[0] != kind) or (val is not None and t[1] != val):
            raise ValueError(f"where parse error near token {t}")
        pos += 1
        return t

    OPS = {
        "=": lambda a, b: a is not None and a == b,
        "<>": lambda a, b: a is not None and a != b,
        "<": lambda a, b: a is not None and a < b,
        ">": lambda a, b: a is not None and a > b,
        "<=": lambda a, b: a is not None and a <= b,
        ">=": lambda a, b: a is not None and a >= b,
    }

    def term():
        _, name = take("ident")
        t = peek()
        if t == ("ident", "IS"):
            take(); take("ident", "NOT"); take("ident", "NULL")
            return lambda rec: rec.get(name) is not None
        if t == ("ident", "IN"):
            take(); take("op", "(")
            vals = []
            while True:
                vals.append(take("lit")[1])
                if peek() == ("op", ","):
                    take()
                else:
                    break
            take("op", ")")
            vs = set(vals)
            return lambda rec: rec.get(name) in vs
        _, op = take("op")
        if op not in OPS:
            raise ValueError(f"unsupported operator {op!r}")
        _, lit = take("lit")
        fn = OPS[op]
        return lambda rec: fn(rec.get(name), lit)

    preds = [term()]
    while peek() == ("ident", "AND"):
        take()
        preds.append(term())
    if pos != len(toks):
        raise ValueError(f"trailing where tokens {toks[pos:]}")
    return lambda rec: all(p(rec) for p in preds)


class SimFeatureServer:
    """Loopback FeatureServer: JSONL-file-backed layer behind real HTTP.

    Test hooks: ``request_log`` (method, path, params dicts, in arrival
    order), ``fail_next_queries`` (next N /query requests answer 503 —
    the mid-page transient the reference's serial fetch would die on),
    ``submitted`` (rows received by addFeatures), ``mint_count``.
    """

    def __init__(self, jsonl_path: str, token_ttl_s: float = 3600.0):
        self.records = []
        with open(jsonl_path) as fh:
            for line in fh:
                if line.strip():
                    self.records.append(json.loads(line))
        self.token_ttl_s = token_ttl_s
        self.tokens: dict[str, float] = {}  # token -> expiry epoch s
        self.mint_count = 0
        self.fail_next_queries = 0
        self.request_log: list[tuple[str, str, dict]] = []
        self.submitted: list[dict] = []
        self._lock = threading.Lock()
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def revoke_tokens(self) -> None:
        """Server-side revocation (portal restart / credential rotation):
        clients holding tokens they still believe valid get the ArcGIS
        invalid-token answer on their next request."""
        with self._lock:
            self.tokens.clear()

    # -- lifecycle ----------------------------------------------------
    def start(self) -> str:
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, code: int, obj: dict) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _params(self) -> dict:
                q = urllib.parse.urlparse(self.path).query
                return {k: v[0] for k, v in urllib.parse.parse_qs(q).items()}

            def do_GET(self):
                server._handle(self, "GET")

            def do_POST(self):
                server._handle(self, "POST")

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return f"http://127.0.0.1:{self._httpd.server_port}"

    def stop(self) -> None:
        if self._httpd:
            self._httpd.shutdown()
            self._httpd.server_close()

    # -- request routing ------------------------------------------------
    def _handle(self, h, method: str) -> None:
        path = urllib.parse.urlparse(h.path).path
        params = h._params()
        if method == "POST":
            n = int(h.headers.get("Content-Length", 0))
            raw = h.rfile.read(n) if n else b"{}"
            try:
                body = json.loads(raw)
            except ValueError:
                body = {}
            params = {**params, **({"__body": body} if body else {})}
        with self._lock:
            self.request_log.append((method, path, params))
        if path == "/api/esri" and method == "POST":
            return self._auth(h)
        if path == "/layer" and params.get("f") == "json":
            return self._metadata(h)
        if path == "/layer/query":
            return self._query(h, params)
        if path == "/layer/addFeatures" and method == "POST":
            return self._add_features(h, params)
        h._send(404, {"error": {"code": 404, "message": f"no route {path}"}})

    def _auth(self, h) -> None:
        with self._lock:
            self.mint_count += 1
            tok = f"tok-{self.mint_count}"
            exp = time.time() + self.token_ttl_s
            self.tokens[tok] = exp
        # ArcGIS brokers answer epoch MILLISECONDS (task.ts:107 compares
        # against +new Date())
        h._send(200, {"auth": {"token": tok, "expires": int(exp * 1000),
                               "referer": "http://127.0.0.1"}})

    def _check_token(self, h, params) -> bool:
        tok = params.get("token")
        with self._lock:
            exp = self.tokens.get(tok or "")
        if exp is None or exp < time.time():
            # ArcGIS signals invalid token as error code 498; surface it
            # on a real 401 status so plain HTTP clients see the failure
            h._send(401, {"error": {"code": 498, "message": "Invalid token"}})
            return False
        return True

    def _metadata(self, h) -> None:
        fields = []
        if self.records:
            for k, v in self.records[0].items():
                fields.append(
                    {"name": k, "type": _PY_ESRI.get(type(v),
                                                     "esriFieldTypeString")}
                )
        h._send(200, {
            "fields": fields,
            "objectIdField": fields[0]["name"] if fields else None,
            "maxRecordCount": 1000,
        })

    def _query(self, h, params) -> None:
        if not self._check_token(h, params):
            return
        with self._lock:
            if self.fail_next_queries > 0:
                self.fail_next_queries -= 1
                h._send(503, {"error": {"code": 503,
                                        "message": "Service unavailable"}})
                return
        recs = self.records
        where = params.get("where")
        if where and where != "1=1":
            try:
                pred = _parse_where(where)
            except ValueError as e:
                h._send(400, {"error": {"code": 400, "message": str(e)}})
                return
            recs = [r for r in recs if pred(r)]
        if params.get("returnCountOnly") == "true":
            h._send(200, {"count": len(recs)})
            return
        off = int(params.get("resultOffset", 0))
        cnt = int(params.get("resultRecordCount", len(recs)))
        page = recs[off:off + cnt]
        h._send(200, {
            "features": [{"attributes": r} for r in page],
            "exceededTransferLimit": off + cnt < len(recs),
        })

    def _add_features(self, h, params) -> None:
        if not self._check_token(h, params):
            return
        feats = (params.get("__body") or {}).get("features", [])
        with self._lock:
            self.submitted.extend(f.get("attributes", {}) for f in feats)
        h._send(200, {"addResults": [{"success": True} for _ in feats]})


# --------------------------------------------------------------------------
# client side — the Spark data source
# --------------------------------------------------------------------------


def _http_json(url: str, body: dict | None = None, timeout: float = 10.0):
    req = urllib.request.Request(
        url,
        data=json.dumps(body).encode() if body is not None else None,
        headers={"Content-Type": "application/json"} if body is not None else {},
        method="POST" if body is not None else "GET",
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read())


class HttpTokenBroker:
    """Client half of task.ts:92-135: POST /api/esri, cache the token,
    re-mint when within ``margin_s`` of expiry (the honest five
    minutes, not the reference's accidental five seconds)."""

    def __init__(self, base_url: str, margin_s: float = 300.0):
        self.base_url = base_url
        self.margin_s = margin_s
        self._token: str | None = None
        self._expires_ms = 0.0

    def token(self, force: bool = False) -> str:
        now_ms = time.time() * 1000
        if (
            force
            or self._token is None
            or now_ms + self.margin_s * 1000 >= self._expires_ms
        ):
            res = _http_json(
                self.base_url + "/api/esri",
                {"url": self.base_url, "username": "svc", "password": "x"},
            )
            self._token = str(res["auth"]["token"])
            self._expires_ms = float(res["auth"]["expires"])
        return self._token


def _fetch_with_retry(
    broker: HttpTokenBroker,
    url: str,
    params: dict,
    retries: int = 3,
    backoff_s: float = 0.05,
):
    """GET with (a) awaited auth before EVERY attempt — closing the
    task.ts:380 un-awaited-auth race, (b) one re-mint on 401/invalid
    token, (c) bounded exponential backoff on 5xx — the transient the
    reference's bare fetch (task.ts:418) would surface as a failed run."""
    attempt = 0
    reminted = False
    while True:
        q = dict(params)
        q["token"] = broker.token()
        full = url + "?" + urllib.parse.urlencode(q)
        try:
            return _http_json(full)
        except urllib.error.HTTPError as e:
            if e.code == 401 and not reminted:
                reminted = True  # stale token: re-mint once, retry now
                broker.token(force=True)
                continue
            if 500 <= e.code < 600 and attempt < retries:
                time.sleep(backoff_s * (2 ** attempt))
                attempt += 1
                continue
            raise


@dataclass
class HttpPagePartition(InputPartition):
    offset: int
    count: int


class ArcGISHttpReader(DataSourceReader):
    """Paged HTTP scan: plan time asks returnCountOnly for the layer
    cardinality under the ``where`` option (the server prunes, we plan
    fewer pages), then one InputPartition per resultOffset window
    (esri-dump ITER, task.ts:418, parallelized).

    The ``where`` option is the one server-side filter — the reference's
    ARCGIS_QUERY (task.ts:406-408). Spark's filters stay Catalyst's: the
    reader implements no pushFilters, because Spark 4.1 deduplicates
    two scans of one relation whose Python-side pushed filters differ
    (a union of two filtered branches would return one branch twice),
    the hazard ArcGISSimReader documents."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = options
        self.url = options["url"].rstrip("/")
        self.page_size = int(options.get("pagesize", 1000))
        self.where = options.get("where") or "1=1"

    def partitions(self) -> list[HttpPagePartition]:
        broker = HttpTokenBroker(self.url)
        res = _fetch_with_retry(
            broker, self.url + "/layer/query",
            {"where": self.where, "returnCountOnly": "true"},
        )
        n = int(res["count"])
        pages = max(1, math.ceil(n / self.page_size))
        return [
            HttpPagePartition(i * self.page_size, self.page_size)
            for i in range(pages)
        ]

    def read(self, partition: HttpPagePartition):
        broker = HttpTokenBroker(self.url)
        res = _fetch_with_retry(
            broker, self.url + "/layer/query",
            {
                "where": self.where,
                "resultOffset": partition.offset,
                "resultRecordCount": partition.count,
                "f": "json",
            },
        )
        names = [f.name for f in self.schema.fields]
        for feat in res.get("features", []):
            attrs = feat.get("attributes", {})
            yield tuple(attrs.get(n) for n in names)


@dataclass
class HttpChunkCommit(WriterCommitMessage):
    rows: int


class ArcGISHttpWriter(DataSourceWriter):
    """Chunked addFeatures submit (task.ts:455-457): each task posts
    its rows in ``chunksize`` batches. At-least-once like the
    reference's raw HTTP submit — the JSONL sink in arcgis_sim carries
    the idempotent exactly-once variant."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.url = options["url"].rstrip("/")
        self.chunk = int(options.get("chunksize", 500))

    def write(self, iterator) -> HttpChunkCommit:
        broker = HttpTokenBroker(self.url)
        names = [f.name for f in self.schema.fields]
        buf: list[dict] = []
        n = 0

        def flush():
            nonlocal buf
            if not buf:
                return
            q = urllib.parse.urlencode({"token": broker.token()})
            _http_json(
                self.url + "/layer/addFeatures?" + q,
                {"features": [{"attributes": r} for r in buf]},
            )
            buf = []

        for row in iterator:
            buf.append(dict(zip(names, row)))
            n += 1
            if len(buf) >= self.chunk:
                flush()
        flush()
        return HttpChunkCommit(n)

    def commit(self, messages) -> None:
        pass

    def abort(self, messages) -> None:
        pass


class ArcGISHttpStreamReader(SimpleDataSourceStreamReader):
    """Incremental STREAMING tail of a FeatureServer layer — the
    reference's scheduled incoming pull (task.ts:50-51 ``Schedule``)
    turned into a real Structured Streaming source: the offset is the
    high-water mark of a monotone id column (``idcol``, default
    ``objectid`` — the append-only id an edit-tracked layer exposes),
    each micro-batch fetches ``idcol > last`` through the SAME
    token-broker + bounded-retry client as the batch reader, and
    ``readBetweenOffsets`` re-derives a committed batch from the
    half-open id interval — exactly-once replay after restart, the
    property the reference's fire-and-forget schedule cannot offer.

    Driver-side paging (SimpleDataSourceStreamReader's contract);
    per-batch volume is the NEW features only, so the poll is
    incremental where task.ts re-scans the layer every run."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self.schema = schema
        self.url = options["url"].rstrip("/")
        self.idcol = options.get("idcol", "objectid")
        self.page = int(options.get("pagesize", 1000))
        self.start_after = int(options.get("startafter", -1))
        self._broker = HttpTokenBroker(self.url)

    def initialOffset(self) -> dict:  # noqa: N802
        return {"last": self.start_after}

    def _fetch_range(self, lo: int, hi: int | None) -> list[tuple]:
        where = f"{self.idcol} > {lo}"
        if hi is not None:
            where += f" AND {self.idcol} <= {hi}"
        names = [f.name for f in self.schema.fields]
        rows: list[tuple] = []
        off = 0
        while True:
            res = _fetch_with_retry(
                self._broker, self.url + "/layer/query",
                {
                    "where": where,
                    "resultOffset": off,
                    "resultRecordCount": self.page,
                    "f": "json",
                },
            )
            feats = res.get("features", [])
            rows.extend(
                tuple(f.get("attributes", {}).get(n) for n in names)
                for f in feats
            )
            if not res.get("exceededTransferLimit") or not feats:
                return rows
            off += self.page

    def read(self, start: dict):
        lo = int(start["last"])
        rows = self._fetch_range(lo, None)
        idx = [f.name for f in self.schema.fields].index(self.idcol)
        # High-water mark over COERCED id values only: a feature with a
        # missing/null id attribute would make max()/int() raise and
        # kill the stream — and since the watermark could then never
        # advance past it, the same null row would be refetched every
        # batch. Fail fast with the offending idcol named instead.
        ids = []
        for r in rows:
            v = r[idx]
            if v is None:
                raise ValueError(
                    f"feature with null/missing id attribute {self.idcol!r}"
                    " — the incremental tail cannot checkpoint past it;"
                    " fix the layer or choose a non-null idcol"
                )
            ids.append(int(v))
        hi = max(ids, default=lo)
        return iter(rows), {"last": int(hi)}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._fetch_range(int(start["last"]), int(end["last"])))


class ArcGISHttpDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        """A5 over sockets: layer field metadata -> Spark schema
        (dumper.schema(), task.ts:57-82)."""
        url = self.options["url"].rstrip("/")
        meta = _http_json(url + "/layer?f=json")
        return StructType([
            StructField(
                f["name"], _ESRI_TYPE.get(f["type"], StringType())
            )
            for f in meta.get("fields", [])
        ])

    def reader(self, schema: StructType) -> ArcGISHttpReader:
        return ArcGISHttpReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> ArcGISHttpWriter:
        return ArcGISHttpWriter(schema, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> ArcGISHttpStreamReader:  # noqa: N802
        return ArcGISHttpStreamReader(schema, dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(ArcGISHttpDataSource)
