"""Seeded input generators. Every input the benchmark feeds the engine is
written here as a file; the engine only ever reads those files.

- ``fixtures``: the star-schema tables at sf0.1, written by the
  repository's own fixture generator (``tools/make_sf1.py`` at scale 1:
  the schemas, dtypes, row counts and value domains of the engine's test
  fixtures, FIXTURES.md).
- ``layer``: a GeoJSON feature layer as JSONL, one feature per line, the
  record shape the ``arcgis_sim`` connector pages.
- ``UpsertFeed``: the sf0.1 lineitem table keyed by a generated feature
  id, and a stream of 5k-row micro-batches (half updates drawn with a
  recency skew, half inserts).

The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def load_tool(root: str, name: str):
    """Import ``tools/<name>.py`` of the checkout by path, leaving
    ``sys.path`` as it was."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.path[:] = saved
    return mod


def fixtures(root: str, out: str, seed: int) -> dict[str, int]:
    """Write the sf0.1 tables as ``<out>/<table>.parquet``; return the
    row count of each."""
    make_sf1 = load_tool(root, "make_sf1")
    # The tool copies the two fixed dimension tables from ``SRC``.
    dims = out + "-dims"
    os.makedirs(dims, exist_ok=True)
    pq.write_table(pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
                   os.path.join(dims, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(dims, "nation.parquet"))
    make_sf1.SRC = dims
    with contextlib.redirect_stdout(io.StringIO()):
        make_sf1.gen(out, scale=1.0, seed=seed)
    return {f[: -len(".parquet")]: pq.ParquetFile(os.path.join(out, f)).metadata.num_rows
            for f in os.listdir(out)}


# --- feature layer -----------------------------------------------------

GEOM_TYPES = ["Point", "LineString", "Polygon", "MultiPoint", "MultiLineString", "MultiPolygon"]
GEOM_P = [0.40, 0.20, 0.20, 0.07, 0.07, 0.06]
CALLSIGNS = ["HAWK", "EAGLE", "RAVEN", "OWL", "KITE", "FALCON", "HERON", "SWIFT"]


def _vertex(rng: np.random.Generator, lon: float, lat: float, spread: float) -> list[float]:
    return [round(min(max(lon + rng.uniform(-spread, spread), -179.9), 179.9), 6),
            round(min(max(lat + rng.uniform(-spread, spread), -79.9), 79.9), 6)]


def _ring(rng: np.random.Generator, lon: float, lat: float, r: float) -> list[list[float]]:
    """A closed ring around (lon, lat), randomly clockwise or not."""
    k = int(rng.integers(4, 13))
    step = (1 if rng.random() < 0.5 else -1) * 2 * math.pi / k
    pts = [[round(lon + r * math.cos(i * step), 6), round(lat + r * math.sin(i * step), 6)]
           for i in range(k)]
    return pts + [pts[0]]


def _geometry(rng: np.random.Generator, kind: str):
    lon, lat = float(rng.uniform(-170, 170)), float(rng.uniform(-75, 75))
    if kind == "Point":
        return _vertex(rng, lon, lat, 0.0)
    if kind == "LineString":
        return [_vertex(rng, lon, lat, 0.5) for _ in range(int(rng.integers(2, 17)))]
    if kind == "Polygon":
        rings = [_ring(rng, lon, lat, 0.5)]
        if rng.random() < 0.3:  # a hole
            rings.append(_ring(rng, lon, lat, 0.1))
        return rings
    parts = int(rng.integers(2, 5))
    base = kind[len("Multi"):]
    return [_geometry_at(rng, base, lon + 2 * i, lat) for i in range(parts)]


def _geometry_at(rng: np.random.Generator, kind: str, lon: float, lat: float):
    if kind == "Point":
        return _vertex(rng, lon, lat, 0.5)
    if kind == "LineString":
        return [_vertex(rng, lon, lat, 0.5) for _ in range(int(rng.integers(2, 9)))]
    return [_ring(rng, lon, lat, 0.5)]


def layer(path: str, seed: int, n: int) -> list[dict]:
    """Write an ``n``-feature layer as JSONL; return the records. Field
    ``priority`` is uniform on 1..5, so ``priority <= 3`` keeps ~60%."""
    rng = np.random.default_rng(seed)
    kinds = rng.choice(len(GEOM_TYPES), n, p=GEOM_P)
    records = []
    for oid in range(n):
        kind = GEOM_TYPES[kinds[oid]]
        records.append({
            "objectid": oid,
            "fid": f"u{seed % 1000:03d}-{oid:07d}",
            "callsign": CALLSIGNS[int(rng.integers(0, len(CALLSIGNS)))],
            "remarks": f"unit {int(rng.integers(0, 10_000))}",
            "priority": int(rng.integers(1, 6)),
            "geom_type": kind,
            "coords_json": json.dumps(_geometry(rng, kind), separators=(",", ":")),
        })
    with open(path, "w") as fh:
        for rec in records:
            fh.write(json.dumps(rec, separators=(",", ":")) + "\n")
    return records


# --- keyed upsert feed ---------------------------------------------------


class UpsertFeed:
    """The sf0.1 lineitem table keyed by a feature id, plus its seeded
    micro-batch stream.

    Feature ids ``fid`` are 0..n-1 in lineitem's row order; each batch
    inserts the next ``batch_rows / 2`` ids and updates as many existing
    ids drawn with an exponential recency skew (mean age ``recency``
    ids), the way a track feed re-sends live units. A batch row carries
    the values of a lineitem row drawn at random."""

    def __init__(self, seed: int, lineitem_path: str, batch_rows: int = 5_000,
                 recency: int = 5_000):
        self.rng = np.random.default_rng(seed)
        self.lineitem = pq.read_table(lineitem_path)
        self.batch_rows = batch_rows
        self.recency = recency
        self.next_id = 0

    def base(self, path: str) -> pa.Table:
        n = self.lineitem.num_rows
        table = self.lineitem.add_column(0, "fid", pa.array(np.arange(n, dtype=np.int64)))
        self.next_id = n
        pq.write_table(table, path)
        return table

    def batch(self, path: str) -> pa.Table:
        rng = self.rng
        half = self.batch_rows // 2
        ages = np.floor(rng.exponential(self.recency, 4 * half)).astype(np.int64)
        upd = np.unique(np.clip(self.next_id - 1 - ages, 0, None))
        upd = rng.permutation(upd)[:half]
        ins = np.arange(self.next_id, self.next_id + half, dtype=np.int64)
        self.next_id += half
        fids = np.concatenate([upd, ins])
        rows = self.lineitem.take(rng.integers(0, self.lineitem.num_rows, fids.size))
        table = rows.add_column(0, "fid", pa.array(fids))
        pq.write_table(table, path)
        return table
