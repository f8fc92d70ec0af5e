"""Streaming Change-Data-Feed SOURCE over the snapshot-manifest ACID
table — ``spark.readStream.format("acid_cdf").option("root", ...)``.

The offset IS the table version: each micro-batch emits the row-level
changes (insert / delete / update_preimage / update_postimage, per
acid.table_changes semantics) for every snapshot committed since the
last checkpointed version. This is the CDC tail consumer Delta exposes
as ``readChangeFeed`` — here built on Spark 4's Python
SimpleDataSourceStreamReader, with the manifest list as the
replayable offset log:

- ``initialOffset`` = the table's CURRENT version at stream start (a
  new stream tails forward, like Kafka ``latest``; pass
  ``startingVersion`` to begin earlier — 1 replays all history);
- ``read`` advances to the latest committed version, emitting each
  version's file-delta diff;
- ``readBetweenOffsets`` re-derives a committed range bit-identically
  from the immutable manifests + data files (exactly-once replay after
  crash, provided vacuum retains the range — the same retention
  contract as acid.table_changes).

The per-batch diff runs DRIVER-SIDE over pyarrow rows: a simple stream
reader executes outside the Spark session, and a commit's file delta
is bounded by the files that merge touched, not the table (file-level
copy-on-write) — the same reason acid.table_changes scales. What to
diff for each version (file delta, new delete entries, their targets)
comes from acid._change_plan, the plan table_changes diffs from too;
the schema is the one table_changes outputs. For bulk historical
backfill, use the distributed acid.table_changes and start the stream
at the backfill's end version.

Reference: dfpc-coe/etl-arcgis task.ts:50-51 (the scheduled pull this
replaces with an exact incremental feed) + task.ts:235-350 (the upsert
whose effects the feed re-derives row-level).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from typing import Any

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .. import acid, tables

FORMAT_NAME = "acid_cdf"

Row = dict[str, Any]


def _table_schema(root: str) -> StructType:
    """The schema acid.table_changes gives the current snapshot: the
    manifest's logical ``schema`` plus ``_change_type`` and an integer
    ``_commit_version``. A manifest that predates ``schema`` falls back
    to the union of its files' footer schemas (first type wins), with a
    string partition column. Every field is nullable: a column added by
    schema evolution is null in older rows."""
    man = acid._snapshot(root)[1]
    if man.get("schema"):
        data = StructType.fromJson(json.loads(man["schema"])).fields
    else:
        seen: dict[str, StructField] = {}
        for f in man["files"]:
            path = os.path.join(root, f["path"])
            for fld in tables.parquet_schema(path).fields:
                seen.setdefault(fld.name, fld)
        pcol = man.get("partition_by")
        if pcol is not None:
            seen.setdefault(pcol, StructField(pcol, StringType()))
        data = list(seen.values())
    return StructType(
        [StructField(f.name, f.dataType) for f in data]
        + [
            StructField("_change_type", StringType()),
            StructField("_commit_version", IntegerType()),
        ]
    )


class _NaN:
    """The one NaN: eqNullSafe (and Spark's join keys) treat NaN as
    equal to NaN, Python's float NaN is unequal to itself."""


_NAN = _NaN()


def _cmp(value: Any) -> Any:
    """``value`` as Spark's null-safe equality compares it: None equals
    only None, NaN equals NaN, and an integer equals itself whether or
    not its column holds nulls (values stay native, never str)."""
    return _NAN if isinstance(value, float) and value != value else value


def _key(row: Row, cols: list[str]) -> tuple:
    return tuple(_cmp(row.get(c)) for c in cols)


def _pair(
    after: list[Row], before: list[Row], key: str, cols: list[str], v: int
) -> Iterator[tuple[Row, str]]:
    """acid._pair_changes on driver-side rows: a key only in ``after``
    is an 'insert', only in ``before`` a 'delete', in both with any
    column differing an 'update_preimage' + 'update_postimage' pair; a
    row identical on both sides is no change. A NULL key joins nothing
    (the equi-join's rule), so its row emits nothing. A key duplicated
    on one side and present on the other has no row-level diff and
    raises — table_changes' contract."""
    a: dict[Any, list[Row]] = {}
    b: dict[Any, list[Row]] = {}
    for side, rows in ((a, after), (b, before)):
        for r in rows:
            if r.get(key) is not None:
                side.setdefault(_cmp(r[key]), []).append(r)
    for name, mine, other in (("added", a, b), ("removed", b, a)):
        for k, rs in mine.items():
            if len(rs) > 1 and k in other:
                raise ValueError(
                    f"CDF stream at v{v}: merge key {rs[0][key]!r} is "
                    f"duplicated in the {name} files and present on "
                    "the other side of the delta — the CDF source "
                    "requires key-unique diffs (no duplicate-key "
                    "append() for keys later rewritten)"
                )
    for k, rs in a.items():
        if k not in b:
            yield from ((r, "insert") for r in rs)
    for k, rs in b.items():
        if k not in a:
            yield from ((r, "delete") for r in rs)
    for k in a.keys() & b.keys():
        post, pre = a[k][0], b[k][0]
        if _key(post, cols) != _key(pre, cols):
            yield pre, "update_preimage"
            yield post, "update_postimage"


class AcidCdfStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self.names = [f.name for f in schema.fields]
        self.cols = [
            n for n in self.names if n not in ("_change_type", "_commit_version")
        ]
        self.types = {f.name: f.dataType for f in schema.fields}
        self.root = options["root"]
        start = options.get("startingversion")
        self._starting = int(start) if start is not None else None

    # -- offsets ----------------------------------------------------

    def initialOffset(self) -> dict:
        if self._starting is not None:
            return {"version": self._starting - 1}
        v = acid.current_version(self.root)
        return {"version": v if v is not None else 0}

    # -- reading ----------------------------------------------------

    def _load(self, paths: list[str], man: dict[str, Any] | None) -> list[Row]:
        """Rows of data files as read under manifest ``man``, with the
        delete overlay of ``man`` applied — the driver-side twin of
        acid._read_paths. Columns take LOGICAL names (a file's
        rename aliases map them to its physical names); a column the
        file lacks reads as None; a Hive directory ``<col>=<val>``
        supplies its column, typed as the schema types it. Each row
        carries (__file, __pos), its identity for positional deletes."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        if not paths:
            return []
        aliases = {
            os.path.basename(f["path"]): f.get("aliases") or {}
            for f in man["files"]
        }
        rows: list[Row] = []
        for p in paths:
            full = os.path.join(self.root, p)
            bn = os.path.basename(full)
            t = pq.read_table(full)
            al = aliases.get(bn, {})
            cols = {
                c: t.column(al.get(c, c)).to_pylist()
                for c in self.cols
                if al.get(c, c) in t.column_names
            }
            part = os.path.basename(os.path.dirname(full))
            pcol, _, raw = part.partition("=")
            if raw and pcol in self.types:
                val = acid._decode_hive_value(raw)
                if val is not None:
                    arrow_t = to_arrow_type(self.types[pcol])
                    val = pa.array([val]).cast(arrow_t).to_pylist()[0]
                cols[pcol] = [val] * t.num_rows
            for i in range(t.num_rows):
                r = {c: vals[i] for c, vals in cols.items()}
                r["__file"], r["__pos"] = bn, i
                rows.append(r)
        dels = man.get("deletes") or []
        if not dels:
            return rows
        seq_of = {
            os.path.basename(f["path"]): int(f.get("seq", 0))
            for f in man["files"]
        }
        return [
            r for r, hit in zip(rows, self._matches(rows, dels, seq_of))
            if not hit
        ]

    def _matches(
        self,
        rows: list[Row],
        entries: list[dict[str, Any]],
        seq_of: dict[str, int] | None = None,
    ) -> list[bool]:
        """Per row, whether some delete entry matches it — the one
        matcher behind the overlay and the new-entry pre-images, with
        acid._read_paths' rules: a positional entry matches its
        (file, pos) pairs; an equality entry matches rows whose
        ``cols`` null-safely equal one of its key tuples. Given
        ``seq_of`` (the overlay), an equality entry matches only rows
        from files with a lower data sequence number, so a same-commit
        re-insert (upsert_mor) survives its own tombstone."""
        import pyarrow.parquet as pq

        hit = [False] * len(rows)
        for e in entries:
            keys = pq.read_table(os.path.join(self.root, e["path"])).to_pylist()
            if e.get("kind") == "equality":
                cols = list(e["cols"])
                keyset = {_key(k, cols) for k in keys}
                seq = int(e.get("seq", 0))

                def match(r: Row) -> bool:
                    return _key(r, cols) in keyset and (
                        seq_of is None or seq_of.get(r["__file"], 0) < seq
                    )
            else:
                pairs = {(k["dfile"], k["dpos"]) for k in keys}

                def match(r: Row) -> bool:
                    return (r["__file"], r["__pos"]) in pairs

            hit = [h or match(r) for h, r in zip(hit, rows)]
        return hit

    def _diff_version(self, v: int) -> Iterator[tuple]:
        """Change tuples for snapshot v, as acid.table_changes derives
        them from the same plan: added files under the child's overlay
        against removed files under the parent's, and the rows the NEW
        delete entries match (read under the parent's overlay) as
        deletes — or, for update_mor, paired with the re-inserts."""
        plan = acid._change_plan(self.root, v)
        after = self._load(plan.added, plan.child)
        before = self._load(plan.removed, plan.parent)
        deleted: list[Row] = []
        if plan.new_deletes:
            cand = self._load(plan.targets(plan.new_deletes), plan.pre_overlay)
            deleted = [
                r for r, hit in zip(cand, self._matches(cand, plan.new_deletes))
                if hit
            ]
        if plan.child.get("operation") == "update_mor":
            before, deleted = before + deleted, []
        changes = [*_pair(after, before, plan.key, self.cols, v)]
        changes += [(r, "delete") for r in deleted]
        for r, change_type in changes:
            yield (*(r.get(c) for c in self.cols), change_type, v)

    def _range_rows(self, start_v: int, end_v: int):
        for v in range(start_v + 1, end_v + 1):
            yield from self._diff_version(v)

    def read(self, start: dict):
        latest = acid.current_version(self.root)
        start_v = start["version"]
        if latest is None or latest <= start_v:
            return iter([]), start
        # materialized: the engine's prefetch cache copy.copy()s this
        # iterator (a generator is not copyable); a commit's delta is
        # bounded by the files it touched, so the list is too
        return iter(list(self._range_rows(start_v, latest))), {"version": latest}

    def readBetweenOffsets(self, start: dict, end: dict):
        yield from self._range_rows(start["version"], end["version"])


class AcidCdfDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        return _table_schema(self.options["root"])

    def simpleStreamReader(self, schema: StructType) -> AcidCdfStreamReader:  # noqa: N802
        return AcidCdfStreamReader(schema, dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(AcidCdfDataSource)
