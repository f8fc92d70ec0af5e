"""The two workloads. Each one generates its inputs from the seed,
prepares the engine state it needs, and defines one *cycle*: its main
operations, and on feature_sync the point lookups that run beside
them. Only main operations feed the pass and throughput metrics; lookup
latency is stamped (``lookup_p50_s``/``lookup_p90_s``) and traced.
Every operation returns a check that runs after its timed region; the
final check compares the end state against an independent model.

- ``olap_headline``: the eight headline registry queries (the list in
  ``bench.py``) over the sf0.1 fixtures, one after another. Checked
  against each query's DuckDB oracle.
- ``feature_sync``: both dataflows of the paper, one after the other in
  each main operation. Incoming: a paged ``arcgis_sim_pushdown`` scan
  with a pushed ``priority <= 3`` filter, the ``geojson`` chain, and the
  chunked ``arcgis_sim`` sink; checked against a pure-Python model of the
  flow. Outgoing: ``acid.merge`` of one 5k-row micro-batch into the
  600k-row sf0.1 lineitem table; checked against an in-memory model of
  the applied batches. Four ``acid.read_point`` lookups follow each
  operation.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_arcgis_spark import acid, registry, tables
from etl_arcgis_spark import geojson as G
from etl_arcgis_spark.sources import arcgis_sim

from . import gen
from .tracing import TracedPushdownSource, TracedSinkSource

# The headline query list of bench.py, copied rather than imported.
HEADLINE = [
    "agg_groupby_stats",
    "join_star_multiway",
    "window_rank_topk_per_group",
    "window_running_sum",
    "stream_tumbling_window_agg",
    "agg_count_distinct_exact",
    "sim_cosine_topk_pairs",
    "text_tokenize_wordcount",
]


@dataclass
class Op:
    """One operation of a cycle. ``prep`` runs untimed before ``run``;
    ``run(op_id)`` is the timed region and returns an info dict whose
    optional ``check`` callable runs untimed afterwards and returns a
    problem string or None."""

    kind: str
    run: Callable[[str], dict]
    main: bool = True
    prep: Callable[[], None] | None = None


@dataclass
class Ctx:
    spark: Any
    tracer: Any
    root: str  # the repository checkout
    work: str  # this run's scratch directory
    seed: int
    traced: bool = False  # switched on for the traced measurement phase


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


class Workload:
    name = ""
    warm_cycles = 1
    min_main = 4  # main operations per measured phase, whatever the clock says

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = np.random.default_rng(ctx.seed + 1)

    def span(self, name: str):
        return self.ctx.tracer.span(name)

    def materialize_plan(self, df) -> None:
        """Traced runs force the physical plan as its own span; the
        action then plans its write command again."""
        if self.ctx.traced:
            with self.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()

    def prepare(self) -> None: ...

    def cycle(self) -> list[Op]: ...

    def first_cycle(self) -> list[Op]:
        return self.cycle()

    def final_check(self, ops: list[dict]) -> list[str]: ...

    def amplification(self, ops: list[dict]) -> tuple[float, float, float, float]:
        """(rows_in, rows_out, bytes_written, bytes_in) over ``ops``."""
        return (sum(o["info"].get("rows_in", 0) for o in ops),
                sum(o["info"].get("rows_out", 0) for o in ops),
                sum(o["info"].get("bytes_out", 0) + o["spark"]["shuffle_write_bytes"] for o in ops),
                sum(o["info"].get("bytes_in", 0) for o in ops))

    def space_amp(self) -> float: ...

    def layer_metrics(self, traced_ops: list[dict]) -> dict[str, float]:
        return {}


# --- olap_headline -----------------------------------------------------------


class OlapHeadline(Workload):
    name = "olap_headline"
    # Query times fall by a third or more over the four cycles after the
    # checked one (JIT compilation), then by a few percent a cycle. Four
    # measured cycles or more, whatever the clock says.
    warm_cycles = 4
    min_main = 4 * len(HEADLINE)

    def prepare(self) -> None:
        self.fx = os.path.join(self.ctx.work, "sf0.1")
        rows = gen.fixtures(self.ctx.root, self.fx, self.ctx.seed)
        registry.load_all()
        self.check = gen.load_tool(self.ctx.root, "check")
        self.con = self.check.duck_con(self.fx)
        self.rows_in, self.bytes_in = {}, {}
        for q in HEADLINE:
            used = [t for t in tables.TABLE_NAMES if re.search(rf"\b{t}\b", registry.ORACLES[q])]
            self.rows_in[q] = sum(rows[t] for t in used)
            self.bytes_in[q] = sum(os.path.getsize(os.path.join(self.fx, f"{t}.parquet")) for t in used)
        self.rows_out: dict[str, int] = {}
        self.wrong: set[str] = set()

    def cycle(self) -> list[Op]:
        return [Op(f"query:{q}", lambda op, q=q: self.query(q)) for q in HEADLINE]

    def first_cycle(self) -> list[Op]:
        """The first cycle collects every query result and checks it."""
        return [Op(f"query:{q}", lambda op, q=q: self.query(q, verify=True)) for q in HEADLINE]

    def query(self, q: str, verify: bool = False) -> dict:
        with self.span("operators.build"):
            df = registry.QUERIES[q](self.spark, self.fx)
        self.materialize_plan(df)
        with self.span("spark.exec"):
            if verify:
                got = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        info = {"query": q, "rows_in": self.rows_in[q], "bytes_in": self.bytes_in[q],
                "rows_out": self.rows_out.get(q, 0)}
        if verify:
            def check() -> str | None:
                self.rows_out[q] = len(got)
                odf = self.oracle(q)
                hard = [p for p in self.check.compare(got, odf) if not p.startswith("dtype note")]
                if hard:
                    self.wrong.add(q)
                    return f"{q} differs from its DuckDB oracle: {hard}"
                return None

            info["check"] = check
        return info

    def oracle(self, q: str):
        if q != "sim_cosine_topk_pairs":
            return self.con.execute(registry.ORACLES[q]).df()
        # Its DuckDB oracle joins all 2M vector pairs dimension by
        # dimension (~16 s on 4 cores); this evaluates the same SQL
        # exactly in float64: top 20 of round(cos, 4) over id_a < id_b,
        # ordered by cosine desc, id_a, id_b.
        t = pq.read_table(os.path.join(self.fx, "embeddings.parquet"))
        ids = t.column("vec_id").to_numpy()
        e = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
        norm = np.sqrt((e * e).sum(axis=1))
        a, b = np.triu_indices(len(ids), k=1)
        cos = np.round((e @ e.T)[a, b] / (norm[a] * norm[b]), 4)
        keep = cos >= np.partition(cos, -20)[-20]
        a, b, cos = ids[a[keep]], ids[b[keep]], cos[keep]
        top = np.lexsort((b, a, -cos))[:20]
        return pd.DataFrame({"id_a": a[top], "id_b": b[top], "cosine": cos[top]})

    def final_check(self, ops: list[dict]) -> list[str]:
        # a query whose checked result was wrong fails every time it ran
        for o in ops:
            if o["info"].get("query") in self.wrong:
                o["ok"] = False
        return sorted(self.wrong)

    def space_amp(self) -> float:
        # read-only fixtures: every byte on disk is referenced
        return _dir_bytes(self.fx) / sum(
            os.path.getsize(os.path.join(self.fx, f"{t}.parquet")) for t in tables.TABLE_NAMES)


# --- feature_sync: the Incoming flow ---------------------------------------------

_R = 6378137.0


def _merc(pt: list[float]) -> list[float]:
    return [_R * math.radians(pt[0]), _R * math.log(math.tan(math.pi / 4 + math.radians(pt[1]) / 2))]


def _area2(ring: list[list[float]]) -> float:
    n = len(ring)
    return sum(ring[i][0] * ring[(i + 1) % n][1] - ring[(i + 1) % n][0] * ring[i][1]
               for i in range(n))


def _esri_model(kind: str, coords) -> dict:
    """The Esri geometry one single-part feature should land as:
    reprojected to Web Mercator, outer rings clockwise, holes not."""
    if kind == "Point":
        x, y = _merc(coords)
        return {"x": x, "y": y}
    if kind == "LineString":
        return {"paths": [[_merc(p) for p in coords]]}
    rings = []
    for i, ring in enumerate(coords):
        proj = [_merc(p) for p in ring]
        wrong = _area2(proj) > 0 if i == 0 else _area2(proj) < 0
        rings.append(proj[::-1] if wrong else proj)
    return {"rings": rings}


def _close(a, b) -> bool:
    if isinstance(a, list):
        return isinstance(b, list) and len(a) == len(b) and all(map(_close, a, b))
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


class IncomingFlow(Workload):
    """Pull a layer through the pushdown reader and the geojson chain into
    the chunked sink. One part of ``feature_sync``."""

    n_features = 6_000
    page_size = 1_500
    layer_id = 7

    def prepare(self) -> None:
        self.layer = os.path.join(self.ctx.work, "layer.jsonl")
        self.sink = os.path.join(self.ctx.work, "sink")
        self.records = gen.layer(self.layer, self.ctx.seed, self.n_features)
        self.layer_bytes = os.path.getsize(self.layer)
        self.expected: dict[str, tuple[str, dict]] = {}
        for rec in self.records:
            if rec["priority"] > 3:
                continue
            kind, coords = rec["geom_type"], json.loads(rec["coords_json"])
            fid = f"layer-{self.layer_id}-{rec['fid']}"
            if kind.startswith("Multi"):
                for i, part in enumerate(coords):
                    self.expected[f"{fid}-{i}"] = (kind[5:], part)
            else:
                self.expected[fid] = (kind, coords)
        arcgis_sim.register(self.spark)
        self.spark.dataSource.register(TracedPushdownSource)
        self.spark.dataSource.register(TracedSinkSource)

    def reader(self, op: str):
        r = self.spark.read.format(
            "perfbench_arcgis_sim_pushdown" if self.ctx.traced else "arcgis_sim_pushdown")
        if self.ctx.traced:
            r = r.option("benchOp", op).option("benchSpool", self.ctx.tracer.spool)
        return r.option("path", self.layer).option("pageSize", self.page_size).load()

    def pull(self, op: str) -> dict:
        t_start = time.time()
        with self.span("arcgis_sim.scan"):
            # The pushdown reader is safe only when a query scans it once
            # (ArcGISSimReader docstring); explode_multi unions two
            # branches of its input, so the filtered scan is pinned first.
            raw = self.reader(op).filter(F.col("priority") <= 3).localCheckpoint()
        with self.span("geojson.build"):
            feats = raw.withColumnRenamed("fid", "id").withColumn(
                "properties", F.create_map(F.lit("callsign"), F.col("callsign"),
                                           F.lit("remarks"), F.col("remarks")))
            inc = G.explode_multi(G.nest_metadata(G.rewrite_id(G.parse_geometry(feats), self.layer_id)))
            routed = G.route_by_geom_type(inc).filter(F.col("route").isNotNull())
            shipped = G.to_esri_json(G.orient_rings_esri(G.reproject_web_mercator(routed)))
            shipped = shipped.select("id", "route", "esri_json")
        self.materialize_plan(shipped)
        with self.span("spark.exec"):
            w = shipped.write.format("perfbench_arcgis_sim" if self.ctx.traced else "arcgis_sim")
            if self.ctx.traced:
                w = w.option("benchOp", op).option("benchSpool", self.ctx.tracer.spool)
            w.option("path", self.sink).mode("append").save()
        info: dict = {"rows_in": self.n_features, "bytes_in": self.layer_bytes}

        def check() -> str | None:
            chunks = glob.glob(os.path.join(self.sink, "chunk-*.jsonl"))
            fresh = [c for c in chunks if os.path.getmtime(c) >= t_start]
            info["bytes_out"] = self.live_bytes = sum(os.path.getsize(c) for c in fresh)
            landed = 0
            for c in chunks:
                with open(c, "rb") as fh:
                    landed += fh.read().count(b"\n")
            info["rows_out"] = landed
            if landed != len(self.expected):
                return f"pull landed {landed} features, expected {len(self.expected)}"
            return None

        info["check"] = check
        return info

    def landed(self) -> dict[str, dict]:
        out = {}
        for c in sorted(glob.glob(os.path.join(self.sink, "chunk-*.jsonl"))):
            with open(c) as fh:
                for line in fh:
                    rec = json.loads(line)
                    out[rec["id"]] = rec
        return out

    def final_check(self, ops: list[dict]) -> list[str]:
        got = self.landed()
        problems = []
        if set(got) != set(self.expected):
            problems.append(f"landed ids differ: {len(set(got) ^ set(self.expected))} ids")
        routes = {"Point": "points", "LineString": "lines", "Polygon": "polys"}
        sample = sorted(self.expected)
        for i in self.rng.choice(len(sample), min(300, len(sample)), replace=False):
            fid = sample[int(i)]
            kind, coords = self.expected[fid]
            rec = got.get(fid)
            if rec is None:
                continue
            esri = json.loads(rec["esri_json"])
            want = _esri_model(kind, coords)
            if rec["route"] != routes[kind] or not all(_close(want[k], esri.get(k)) for k in want):
                problems.append(f"{fid}: landed {rec} != model {want}")
                break
        if problems:
            [o for o in ops if o["main"]][-1]["ok"] = False
        return problems

    def disk_bytes(self) -> int:
        return _dir_bytes(self.sink)

    def layer_metrics(self, syncs: list[dict]) -> dict[str, float]:
        # the last pull's landed geometry: one vertex per innermost [x, y]
        # pair, one per point
        vertices = sum(len(re.findall(r"\[-?\d", r["esri_json"])) + ('"x"' in r["esri_json"])
                       for r in self.landed().values())
        returned = sum(w.get("rows_returned", 0) for o in syncs for w in o["worker"])
        scanned = sum(w.get("rows_scanned", 0) for o in syncs for w in o["worker"])
        landed = sum(o["info"]["pull"].get("rows_out", 0) for o in syncs)
        return {"geojson.vertices": float(vertices),
                "geojson.explode_ratio": landed / returned,
                "arcgis_sim.pushdown_yield": returned / scanned}  # the pulls' where filter


# --- feature_sync: the Outgoing flow ---------------------------------------------


class OutgoingFlow(Workload):
    """Keyed upsert of micro-batches into an ``acid`` table, and point
    reads of it. One part of ``feature_sync``."""

    def prepare(self) -> None:
        self.root = os.path.join(self.ctx.work, "acid")
        self.batches = os.path.join(self.ctx.work, "batches")
        os.makedirs(self.batches)
        fx = os.path.join(self.ctx.work, "sf0.1")
        gen.fixtures(self.ctx.root, fx, self.ctx.seed)
        self.feed = gen.UpsertFeed(self.ctx.seed, os.path.join(fx, "lineitem.parquet"))
        base = self.feed.base(os.path.join(self.ctx.work, "base.parquet"))
        cap = base.num_rows + 200 * self.feed.batch_rows
        self.cols = [c for c in base.column_names if c != "fid"]
        self.model = {}
        for c in self.cols:
            arr = base.column(c).to_numpy()
            if arr.dtype.kind == "M":
                arr = arr.astype("datetime64[us]").astype(np.int64)
            col = np.zeros(cap, dtype=arr.dtype)
            col[: arr.size] = arr
            self.model[c] = col
        self.n_rows = base.num_rows
        src = self.spark.read.parquet(os.path.join(self.ctx.work, "base.parquet"))
        acid.create(self.spark, self.root, src.repartitionByRange(8, "fid"), key="fid")
        self.merges = 0
        self.last = None

    def next_batch(self) -> None:
        path = os.path.join(self.batches, f"b-{self.merges:05d}.parquet")
        self.batch = self.feed.batch(path)
        self.batch_path = path

    def _manifest(self, v: int) -> dict:
        with open(os.path.join(self.root, f"_v{v}.manifest.json")) as fh:
            return json.load(fh)

    def merge(self, op: str) -> dict:
        """Commit the prepared batch. Its Spark jobs run in their own job
        group, ``<op>.acid``, so they can be told from the pull's."""
        group = f"{op}.acid"
        self.spark.sparkContext.setJobGroup(group, group)
        before = acid.current_version(self.root)
        with self.span("source.build"):
            src = self.spark.read.parquet(self.batch_path)
        with self.span("acid.merge"):
            v = acid.merge(self.spark, self.root, src)
        # every batch row is one feature committed
        info: dict = {"rows_in": self.batch.num_rows, "rows_out": self.batch.num_rows,
                      "bytes_in": os.path.getsize(self.batch_path), "job_groups": [group]}

        def check() -> str | None:
            fids = self.batch.column("fid").to_numpy()
            for c in self.cols:
                arr = self.batch.column(c).to_numpy()
                if arr.dtype.kind == "M":
                    arr = arr.astype("datetime64[us]").astype(np.int64)
                self.model[c][fids] = arr
            self.n_rows = max(self.n_rows, int(fids.max()) + 1)
            self.merges += 1
            old, new = self._manifest(before), self._manifest(v)
            old_paths = {f["path"] for f in old["files"]}
            fresh = [f for f in new["files"] if f["path"] not in old_paths]
            info.update(
                jobs=len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group)),
                rows_rewritten=sum(f.get("rows", 0) for f in fresh),
                bytes_out=sum(f["bytes"] for f in fresh)
                + os.path.getsize(os.path.join(self.root, f"_v{v}.manifest.json")),
                files_rewritten=new.get("rewrote_files", 0),
                files_carried=new.get("carried_files", 0),
                files_live=len(new["files"]))
            self.last = fids
            if new["rows"] != self.n_rows:
                return f"v{v} holds {new['rows']} rows, model {self.n_rows}"
            return None

        info["check"] = check
        return info

    def lookup_key(self, i: int) -> int:
        """The key the ``i``-th lookup after a commit reads: one the last
        batch updated, one it inserted, a uniform one, a recent one."""
        if i == 0:
            return int(self.last[0])  # updated by the last batch
        if i == 1:
            return int(self.last[-1])  # inserted by the last batch
        if i == 2:
            return int(self.rng.integers(0, self.n_rows))
        return int(max(0, self.n_rows - 1 - int(self.rng.exponential(self.feed.recency))))

    def lookup(self, i: int) -> dict:
        k = self.lookup_key(i)
        with self.span("acid.read_point"):
            df = acid.read_point(self.spark, self.root, k)
        with self.span("spark.exec"):
            got = df.collect()
        info: dict = {}

        def check() -> str | None:
            if self.ctx.traced:
                info["files_opened"] = len(df.inputFiles())
            if len(got) != 1:
                return f"read_point({k}): {len(got)} rows"
            r = got[0].asDict()
            for c in ("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag"):
                if r[c] != self.model[c][k]:
                    return f"read_point({k}).{c} = {r[c]!r}, model {self.model[c][k]!r}"
            return None

        info["check"] = check
        return info

    def final_check(self, ops: list[dict]) -> list[str]:
        snap = acid.read(self.spark, self.root).toPandas().sort_values("fid")
        problems = []
        if len(snap) != self.n_rows or not np.array_equal(snap["fid"].to_numpy(), np.arange(self.n_rows)):
            problems.append(f"snapshot has {len(snap)} rows / ids, model {self.n_rows}")
        else:
            for c in self.cols:
                got = snap[c].to_numpy()
                if got.dtype.kind == "M":
                    got = got.astype("datetime64[us]").astype(np.int64)
                if got.dtype.kind == "O":
                    got = got.astype(str)
                if not np.array_equal(got, self.model[c][: self.n_rows]):
                    problems.append(f"snapshot column {c} differs from the model")
        if problems:
            [o for o in ops if o["main"]][-1]["ok"] = False
        return problems

    def disk_bytes(self) -> int:
        return _dir_bytes(self.root)

    def live_bytes(self) -> int:
        v = acid.current_version(self.root)
        return sum(f["bytes"] for f in self._manifest(v)["files"]) + os.path.getsize(
            os.path.join(self.root, f"_v{v}.manifest.json"))

    def layer_metrics(self, syncs: list[dict], lookups: list[dict]) -> dict[str, float]:
        merges = [o["info"]["merge"] for o in syncs]
        n = len(merges)
        v = acid.current_version(self.root)
        rows_in = sum(m["rows_in"] for m in merges)
        rewritten = sum(m.get("rows_rewritten", 0) for m in merges)
        return {
            "acid.merge_jobs": sum(m.get("jobs", 0) for m in merges) / n,
            "acid.files_rewritten": sum(m.get("files_rewritten", 0) for m in merges) / n,
            "acid.files_carried": sum(m.get("files_carried", 0) for m in merges) / n,
            "acid.rewrite_yield": rows_in / rewritten if rewritten else 0.0,
            "acid.bytes_written": sum(m.get("bytes_out", 0) for m in merges) / n,
            "acid.files_live": float(len(self._manifest(v)["files"])),
            "acid.manifest_bytes": float(os.path.getsize(os.path.join(self.root, f"_v{v}.manifest.json"))),
            "acid.point_files_opened": sum(o["info"].get("files_opened", 0) for o in lookups)
            / max(len(lookups), 1),
        }


# --- feature_sync -------------------------------------------------------------


class FeatureSync(Workload):
    """One layer kept in sync both ways. Each main operation pulls the
    layer into the sink (Incoming), then commits one micro-batch to the
    table (Outgoing); four read_point lookups follow each commit."""

    name = "feature_sync"
    warm_cycles = 1  # the second sync is still a tenth slower than the fourth
    min_main = 3
    space_at_sync = 3  # space_amp is read after this many syncs; every run reaches it

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.incoming, self.outgoing = IncomingFlow(ctx), OutgoingFlow(ctx)
        self.space = None

    def prepare(self) -> None:
        self.incoming.prepare()
        self.outgoing.prepare()

    def cycle(self) -> list[Op]:
        return [Op("sync", self.sync, prep=self.outgoing.next_batch)] + [
            Op("lookup", lambda op, i=i: self.outgoing.lookup(i), main=False) for i in range(4)]

    def sync(self, op: str) -> dict:
        pulled = self.incoming.pull(op)
        merged = self.outgoing.merge(op)
        info = {"pull": pulled, "merge": merged, "job_groups": merged["job_groups"]}

        def check() -> str | None:
            problems = [p for p in (pulled.pop("check")(), merged.pop("check")()) if p]
            for k in ("rows_in", "rows_out", "bytes_in", "bytes_out"):
                info[k] = pulled.get(k, 0) + merged.get(k, 0)
            if self.outgoing.merges == self.space_at_sync:
                self.space = self.space_amp_now()
            return "; ".join(problems) or None

        info["check"] = check
        return info

    def final_check(self, ops: list[dict]) -> list[str]:
        return self.incoming.final_check(ops) + self.outgoing.final_check(ops)

    def space_amp_now(self) -> float:
        """Bytes on disk of sink and table per byte their current state
        references: the latest pull's chunks, the table's live files and
        manifest."""
        return (self.incoming.disk_bytes() + self.outgoing.disk_bytes()) / (
            self.incoming.live_bytes + self.outgoing.live_bytes())

    def space_amp(self) -> float:
        return self.space if self.space is not None else self.space_amp_now()

    def layer_metrics(self, traced_ops: list[dict]) -> dict[str, float]:
        syncs = [o for o in traced_ops if o["main"]]
        lookups = [o for o in traced_ops if not o["main"]]
        return self.incoming.layer_metrics(syncs) | self.outgoing.layer_metrics(syncs, lookups)


WORKLOADS = {w.name: w for w in (OlapHeadline, FeatureSync)}
