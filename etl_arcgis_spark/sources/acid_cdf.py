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

The per-batch diff runs DRIVER-SIDE in pyarrow/pandas: a simple stream
reader executes outside the Spark session, and a commit's file delta
is bounded by the files that merge touched, not the table (file-level
copy-on-write) — the same reason acid.table_changes scales. For bulk
historical backfill, use the distributed acid.table_changes and start
the stream at the backfill's end version.

Reference: dfpc-coe/etl-arcgis task.ts:50-51 (the scheduled pull this
replaces with an exact incremental feed) + task.ts:235-350 (the upsert
whose effects the feed re-derives row-level).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .. import acid

FORMAT_NAME = "acid_cdf"

_PA_TO_SPARK = {
    "int8": IntegerType(),
    "int16": IntegerType(),
    "int32": IntegerType(),
    "int64": LongType(),
    "float": FloatType(),
    "float32": FloatType(),
    "double": DoubleType(),
    "float64": DoubleType(),
    "string": StringType(),
    "large_string": StringType(),
    "bool": BooleanType(),
}


def _table_schema(root: str) -> StructType:
    """Union of the current snapshot's file schemas (widest wins), via
    parquet footers only — no Spark job."""
    import pyarrow.parquet as pq

    man = acid._snapshot(root)[1]
    fields: dict[str, Any] = {}
    for f in man["files"]:
        sch = pq.ParquetFile(os.path.join(root, f["path"])).schema_arrow
        for fld in sch:
            if fld.name not in fields:
                fields[fld.name] = fld.type
    pcol = man.get("partition_by")
    if pcol is not None and pcol not in fields:
        fields[pcol] = "string"  # partition col lives in the dir name
    out = []
    for name, typ in fields.items():
        s = str(typ)
        if s.startswith("timestamp"):
            out.append(StructField(name, TimestampType()))
        else:
            out.append(StructField(name, _PA_TO_SPARK.get(s, StringType())))
    out.append(StructField("_change_type", StringType()))
    out.append(StructField("_commit_version", LongType()))
    return StructType(out)


class AcidCdfStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self.names = [f.name for f in schema.fields]
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

    def _load(self, paths: list[str], pcol: str | None, man=None):
        """Read data files into one pandas frame, reattaching the
        partition value from the Hive dir name when partitioned, plus
        (__file, __pos) row identity for the merge-on-read overlay.
        Applies the manifest's per-file column-RENAME aliases
        (physical -> logical) so pre-rename files surface logical
        names — the pandas twin of acid._read_paths' alias groups."""
        import pandas as pd
        import pyarrow.parquet as pq

        aliases_of = {}
        if man is not None:
            aliases_of = {
                os.path.basename(f["path"]): f.get("aliases") or {}
                for f in man.get("files", [])
            }
        frames = []
        for p in paths:
            full = os.path.join(self.root, p)
            df = pq.read_table(full).to_pandas()
            al = aliases_of.get(os.path.basename(full), {})
            if al:
                df = df.rename(
                    columns={phys: logical for logical, phys in al.items()}
                )
            if pcol is not None and pcol not in df.columns:
                part_dir = os.path.basename(os.path.dirname(full))
                if "=" in part_dir:
                    df[pcol] = part_dir.split("=", 1)[1]
            df["__file"] = os.path.basename(full)
            df["__pos"] = range(len(df))
            frames.append(df)
        if not frames:
            return pd.DataFrame()
        return pd.concat(frames, ignore_index=True)

    def _overlay(self, df, man):
        """Apply a manifest's merge-on-read delete overlay to a loaded
        frame — BOTH kinds, same semantics as acid._read_paths:
        positional entries anti-match (__file, __pos); equality entries
        null-safe-match their key columns, guarded by the data sequence
        number (rows from files at/after the entry's seq survive)."""
        import pandas as pd
        import pyarrow.parquet as pq

        dels = (man or {}).get("deletes") or []
        if not dels or df is None or len(df) == 0:
            return df
        pos = [e for e in dels if e.get("kind", "positional") == "positional"]
        eq = [e for e in dels if e.get("kind") == "equality"]
        if pos:
            pairs = set()
            for e in pos:
                t = pq.read_table(os.path.join(self.root, e["path"])).to_pandas()
                pairs.update(zip(t["dfile"], t["dpos"]))
            keep = [
                (f, p) not in pairs
                for f, p in zip(df["__file"], df["__pos"])
            ]
            df = df[pd.Series(keep, index=df.index)]
        if eq and len(df):
            seq_of = {
                os.path.basename(f["path"]): int(f.get("seq", 0))
                for f in man["files"]
            }
            fseq = df["__file"].map(lambda bn: seq_of.get(bn, 0))
            for e in eq:
                cols = list(e["cols"])
                kt = pq.read_table(
                    os.path.join(self.root, e["path"])
                ).to_pandas()
                # Native-value tuples with explicit null tagging — NOT
                # str-coerced: stringification would false-match values
                # that render identically but differ natively (and an
                # actual string equal to a null sentinel). A (is_null,
                # value) tuple mirrors Spark's eqNullSafe: Python's
                # numeric equality (int 5 == float 5.0, equal hashes)
                # absorbs pandas' int->float widening after schema
                # evolution, while strings never equal numbers.
                def _kt(row):
                    return tuple(
                        (True, None) if pd.isna(v) else (False, v)
                        for v in row
                    )

                keyset = set(map(_kt, kt[cols].values))
                match = pd.Series(
                    [_kt(r) in keyset for r in df[cols].values],
                    index=df.index,
                )
                drop = match & (fseq < int(e.get("seq", 0)))
                df = df[~drop]
                fseq = fseq[~drop]
        return df

    def _diff_version(self, v: int):
        """Yield change tuples for snapshot v vs v-1 — file-delta diff
        plus the merge-on-read delete-entry diff, same semantics as
        acid.table_changes: removed files read under the PARENT
        manifest's overlay (a compaction that resolves the overlay must
        emit nothing), added files under the child's (upsert_mor's own
        appends survive their same-commit tombstone via the seq
        guard), and NEW delete entries emit their matched pre-image
        rows as 'delete' events."""
        import pandas as pd

        man = acid._read_manifest(self.root, v)
        key = man["key"]
        pcol = man.get("partition_by")
        man_prev = None if v == 1 else acid._read_manifest(self.root, v - 1)
        prev = (
            set()
            if man_prev is None
            else {f["path"] for f in man_prev["files"]}
        )
        cur = {f["path"] for f in man["files"]}
        after = self._overlay(self._load(sorted(cur - prev), pcol, man), man)
        before = self._overlay(
            self._load(sorted(prev - cur), pcol, man_prev or man),
            man_prev or man
        )
        data_cols = [
            n for n in self.names if n not in ("_change_type", "_commit_version")
        ]
        for df in (after, before):
            for c in data_cols:
                if len(df) and c not in df.columns:
                    df[c] = None

        def emit(frame, ctype):
            for row in frame.itertuples(index=False):
                d = dict(zip(frame.columns, row))
                yield tuple(
                    [
                        None if (isinstance(d.get(n), float) and pd.isna(d.get(n)))
                        else d.get(n)
                        for n in data_cols
                    ]
                    + [ctype, v]
                )

        # merge-on-read delete-entry diff: entries ADDED by v emit
        # their matched pre-image rows (read under the parent overlay;
        # targets name only files that existed pre-commit)
        mor_pre = None
        prev_del = {
            e["path"]
            for e in ((man_prev or {}).get("deletes") or [])
        }
        new_dels = [
            e for e in man.get("deletes") or [] if e["path"] not in prev_del
        ]
        if new_dels:
            import pyarrow.parquet as pq

            man_pre = dict(man)
            man_pre["deletes"] = [
                e for e in man.get("deletes") or [] if e["path"] in prev_del
            ]
            tgt = set()
            for e in new_dels:
                tgt.update((e.get("targets") or {}).keys())
            tgt_paths = sorted(
                f["path"]
                for f in man["files"]
                if os.path.basename(f["path"]) in tgt
            )
            pre = self._overlay(self._load(tgt_paths, pcol, man_pre), man_pre)
            if pre is not None and len(pre):
                for c in data_cols:
                    if c not in pre.columns:
                        pre[c] = None
                hit = pd.Series(False, index=pre.index)
                for e in new_dels:
                    if e.get("kind") == "equality":
                        cols = list(e["cols"])
                        kt = pq.read_table(
                            os.path.join(self.root, e["path"])
                        ).to_pandas()

                        # native (is_null, value) tuples — same
                        # eqNullSafe-mirror as _overlay, no str coercion
                        def _kt2(row):
                            return tuple(
                                (True, None) if pd.isna(x) else (False, x)
                                for x in row
                            )

                        keyset = set(map(_kt2, kt[cols].values))
                        hit |= pd.Series(
                            [_kt2(r) in keyset for r in pre[cols].values],
                            index=pre.index,
                        )
                    else:
                        t = pq.read_table(
                            os.path.join(self.root, e["path"])
                        ).to_pandas()
                        pairs = set(zip(t["dfile"], t["dpos"]))
                        hit |= pd.Series(
                            [
                                (f, p) in pairs
                                for f, p in zip(pre["__file"], pre["__pos"])
                            ],
                            index=pre.index,
                        )
                if man.get("operation") == "update_mor":
                    mor_pre = pre[hit]
                else:
                    yield from emit(pre[hit], "delete")

        if man.get("operation") == "update_mor":
            # pair the equality-delete pre-images with the same-key
            # re-inserts into update_pre/postimage rows — the stream
            # must match acid.table_changes' Delta-CDF convention
            # (update_where_mor forbids SET on the key, so the pairing
            # is total; identical pairs are not changes and drop).
            pre_f = (
                mor_pre[data_cols]
                if mor_pre is not None and len(mor_pre)
                else pd.DataFrame(columns=data_cols)
            )
            ins_f = after[data_cols] if len(after) else pd.DataFrame(columns=data_cols)
            m = ins_f.merge(
                pre_f, on=key, how="outer", suffixes=("__a", "__b"),
                indicator=True,
            )
            val_cols = [c for c in data_cols if c != key]
            for row in m.itertuples(index=False):
                d = dict(zip(m.columns, row))
                a_row = {key: d[key], **{c: d[f"{c}__a"] for c in val_cols}}
                b_row = {key: d[key], **{c: d[f"{c}__b"] for c in val_cols}}

                def _tup(r, ctype):
                    return tuple(
                        [
                            None
                            if (isinstance(r.get(n), float) and pd.isna(r.get(n)))
                            else r.get(n)
                            for n in data_cols
                        ]
                        + [ctype, v]
                    )

                if d["_merge"] == "left_only":
                    yield _tup(a_row, "insert")
                elif d["_merge"] == "right_only":
                    yield _tup(b_row, "delete")
                else:
                    same = all(
                        (pd.isna(a_row[c]) and pd.isna(b_row[c]))
                        or (
                            not pd.isna(a_row[c])
                            and not pd.isna(b_row[c])
                            and a_row[c] == b_row[c]
                        )
                        for c in val_cols
                    )
                    if not same:
                        yield _tup(b_row, "update_preimage")
                        yield _tup(a_row, "update_postimage")
            return

        if len(after) == 0 and len(before) == 0:
            return
        if len(before) == 0:
            yield from emit(after, "insert")
            return
        if len(after) == 0:
            yield from emit(before, "delete")
            return
        a = after.set_index(key)
        b = before.set_index(key)
        # Same contract as acid.table_changes: a key duplicated in a
        # delta is fine while it stays on one side (each row is its
        # own insert/delete), but duplicated AND present on the other
        # side has no row-level diff — the .loc alignment below would
        # multiply images or raise a cryptic pandas reindex error
        # mid-stream. Fail with the contract instead.
        both = set(a.index) & set(b.index)
        for side, idx in (("added", a.index), ("removed", b.index)):
            bad = sorted(k for k in set(idx[idx.duplicated()]) if k in both)
            if bad:
                raise ValueError(
                    f"CDF stream at v{v}: merge key {bad[0]!r} is "
                    f"duplicated in the {side} files and present on "
                    "the other side of the delta — the CDF source "
                    "requires key-unique diffs (no duplicate-key "
                    "append() for keys later rewritten)"
                )
        a_keys, b_keys = set(a.index), set(b.index)
        yield from emit(a.loc[sorted(a_keys - b_keys)].reset_index(), "insert")
        yield from emit(b.loc[sorted(b_keys - a_keys)].reset_index(), "delete")
        common = sorted(a_keys & b_keys)
        if common:
            av = a.loc[common, [c for c in data_cols if c != key and c in a.columns]]
            bv = b.loc[common, [c for c in data_cols if c != key and c in b.columns]]
            bv = bv.reindex(columns=av.columns)
            neq = ~(
                (av.fillna("\x00NULL").astype(str) == bv.fillna("\x00NULL").astype(str))
                .all(axis=1)
            )
            changed = [k for k, flag in zip(common, neq) if flag]
            if changed:
                yield from emit(b.loc[changed].reset_index(), "update_preimage")
                yield from emit(a.loc[changed].reset_index(), "update_postimage")

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
