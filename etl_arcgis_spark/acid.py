"""Snapshot-manifest table format — transactional MERGE without a
table-format dependency.

The reference's upsert (task.ts:235-350: addFeatures/updateFeatures
split by key existence) is, in production Spark, `MERGE INTO` on a
table format whose core mechanics are: immutable data files + an
ATOMIC manifest commit that flips readers from snapshot N to N+1
(Iceberg's design, reduced to its essentials). No Delta/Iceberg jar
ships in this sandbox, so this module implements those essentials
directly over parquet — ~snapshot isolation, optimistic concurrency,
time travel, and vacuum — and the engine's MERGE runs against it.

Layout under a table root:

    data/<uuid>.parquet        immutable data files
    _v<N>.manifest.json        snapshot N: list of data files + meta
    (no pointer file: the current snapshot is the highest N whose
     manifest parses — a half-written manifest can't exist because
     manifests are published with an atomic hard-link)

Commit protocol (the part that makes it ACID):
  1. write data files into data/ (invisible: no manifest references
     them yet — a crash here leaves only orphans for vacuum);
  2. write the manifest to a tmp name, fsync;
  3. PUBLISH with ``os.link(tmp, _v<N>)`` — atomic, and it FAILS with
     EEXIST if another writer already committed N: optimistic
     concurrency.

Every write to an existing table runs one loop, _commit: take the
current snapshot, plan the write on top of it, publish it as the next
version. A writer that loses the publish race plans again on the
winner's snapshot, _COMMIT_ATTEMPTS attempts in all (merge() keeps its
``max_retries``), then raises CommitConflict. Four commits raise on
the first conflict instead, because planning again cannot repair it:
create() and clone() write v1 of a new table (a v1 already there means
the table exists); publish_staged() promotes a manifest audited
against its parent, which a replan would publish unaudited (re-stage
and re-audit, as streaming.pipelines.acid_wap_sink does); fast_forward()
is valid only while main still sits at the branch's fork point.

Readers never lock: they list manifests, pick the highest (or a
requested version - time travel), and read exactly its file list —
snapshot isolation by immutability.

Scale: merge() is FILE-LEVEL copy-on-write — manifest entries carry
per-file key-range stats and row counts (read from parquet footers, no
Spark job), and only files with at least one source key inside their
range are rewritten; everything else carries forward path-identical.
A merge reads its source once before the write: one aggregate checks
the keys, finds the files to rewrite and collects the partitions the
source writes. It streams the touched files past a broadcast batch,
with no shuffle. merge(), delete_where(), update_where(),
compact_deletes() and compact() all rewrite their touched files
through one pair of helpers, _read_touched and _write_touched; the
latter's docstring states the key-chunk layout they leave, and
compact() folds key-adjacent files of fewer than _CHUNK_ROWS rows
into it. Nothing is counted after a merge's write: its ``rows`` is
the sum of its files' footer counts. Files of at most _BLOOM_BITS
rows also carry a key Bloom sidecar for read_point(); bigger files
get none, as a saturated filter skips nothing. read_key_range(),
read_where() and read_point() prune files by the same stats, through
one rule (_prune). The commit protocol is IDENTICAL at any scale,
which is the point.

Reference: dfpc-coe/etl-arcgis task.ts:235-350 (the keyed upsert this
makes transactional).
"""

from __future__ import annotations

import collections
import glob
import json
import os
import re
import shutil
import uuid
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from etl_arcgis_spark.helpers import sql_ident, sql_string

_MANIFEST_RE = re.compile(r"_v(\d+)\.manifest\.json$")


class CommitConflict(Exception):
    """Another writer published this snapshot version first."""


class ConstraintViolation(Exception):
    """A CHECK constraint rejected rows a write would have committed
    (or, for add_constraint, rows already in the table)."""


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, f"_v{version}.manifest.json")


def _list_versions(root: str) -> list[int]:
    out = []
    for p in glob.glob(os.path.join(root, "_v*.manifest.json")):
        m = _MANIFEST_RE.search(p)
        if not m:
            continue
        try:  # a manifest is only real if it parses (hard-link publish
            # makes partial writes impossible, but be defensive)
            with open(p) as fh:
                json.load(fh)
        except (OSError, ValueError):
            continue
        out.append(int(m.group(1)))
    return sorted(out)


def current_version(root: str) -> int | None:
    vs = _list_versions(root)
    return vs[-1] if vs else None


def _read_manifest(root: str, version: int) -> dict[str, Any]:
    with open(_manifest_path(root, version)) as fh:
        return json.load(fh)


def _snapshot(root: str, version: int | None = None) -> tuple[int, dict[str, Any]]:
    """(version, manifest) of snapshot ``version``, the current one by
    default — the one place a missing table or an expired snapshot is
    reported."""
    v = version if version is not None else current_version(root)
    if v is None:
        raise FileNotFoundError(f"no snapshot at {root}")
    try:
        return v, _read_manifest(root, v)
    except FileNotFoundError:
        raise FileNotFoundError(f"snapshot v{v} not retained at {root}") from None


# The TABLE STATE every commit inherits from its base snapshot unless it
# changes it. Everything else in a manifest (predicate, row/file counts
# of the commit, ...) describes one commit only and never carries.
_TABLE_STATE = (
    "key", "schema", "files", "rows", "partition_by", "deletes",
    "last_seq", "constraints", "stream_sinks",
)


def _next_manifest(
    base: dict[str, Any], base_v: int, operation: str, **changes: Any
) -> dict[str, Any]:
    """The manifest of a commit on top of snapshot ``base_v``: the base's
    table state with ``changes`` applied, plus the commit's version,
    parent, operation and its own stats (the other ``changes``). A
    table-state key changed to None is dropped (compaction resolving
    ``deletes``, de-partitioning). Every commit path builds its manifest
    here, so none can shed the constraints or the stream-sink ledger."""
    man = {k: base[k] for k in _TABLE_STATE if k in base}
    man.update(changes)
    for k in _TABLE_STATE:
        if k in man and man[k] is None:
            del man[k]
    man.update(version=base_v + 1, parent=base_v, operation=operation)
    return man


def _col_stats(path: str) -> dict[str, list[Any]]:
    """Per-file [min, max] of every primitive column, read from the
    parquet footer (no Spark job) — Iceberg's lower_bounds /
    upper_bounds. The merge key's entry drives copy-on-write pruning;
    every other column's entry serves read_where() file skipping."""
    out: dict[str, list[Any]] = {}
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        for i in range(md.num_columns):
            name = md.schema.column(i).name
            if "." in name:  # nested field paths: skip
                continue
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if ok and lo is not None and _json_safe(lo) and _json_safe(hi):
                out[name] = [lo, hi]
    except Exception:  # noqa: BLE001 — stats are an optimization only
        return {}
    return out


def _json_safe(v: Any) -> bool:
    return isinstance(v, (int, float, str, bool))


_BLOOM_BITS = 1024  # 128 bytes/file/column
_BLOOM_K = 3
# Hash-scheme version stamped next to every stored bloom. v2 hashes a
# type-canonical encoding (numerics normalized through float) so a
# double column's stored 5.0 and a lookup with int 5 hash identically —
# the repr()-based v1 scheme hashed them differently, producing a FALSE
# NEGATIVE (file skipped, matching rows silently dropped). read_point
# trusts a sidecar only when its recorded version matches.
# v3: non-float-representable numerics (huge ints, high-precision
# Decimals) canonicalize through a scale-normalized Decimal string —
# v2 repr()'d them, so equal Decimals with different SCALE (a
# DECIMAL(38,20) column reads back Decimal('5.10000000000000000000');
# a probe passes Decimal('5.1')) hashed differently: the same
# false-negative class the v2 scheme existed to kill (ADVICE r6 #2).
_BLOOM_VERSION = 3


def _bloom_canonical(value: Any) -> str:
    """Type-canonical encoding hashed into the bloom. Numerics (int,
    float, Decimal) that compare equal MUST encode identically — the
    parquet column may be double-typed while the lookup passes a
    Python int (or vice versa), and a bloom false negative silently
    drops rows. Normalize every numeric through its float value when
    that round-trips exactly; a non-float-representable numeric (int
    >2^53, high-precision Decimal) encodes via a scale-normalized
    Decimal string so equal values with different scale/exponent
    spellings hash identically (bloom_v 3)."""
    if isinstance(value, bool):
        return f"bool:{value!r}"
    import decimal

    if isinstance(value, (int, float, decimal.Decimal)):
        try:
            f = float(value)
        except (OverflowError, ValueError):
            # numeric beyond float range (~1.8e308): same normalized-
            # Decimal encoding as the lossy branch below, so an int
            # 10**400 and Decimal('1E+400') still hash identically
            # (ADVICE r8 — the repr fallback here broke the v3
            # equal->equal invariant for huge finite Decimals, a latent
            # false-negative class). Signaling-NaN Decimals
            # (ValueError) keep their repr — NaN matches nothing.
            if isinstance(value, int):
                return f"num:{decimal.Decimal(value).normalize()}"
            if isinstance(value, decimal.Decimal) and value.is_finite():
                return f"num:{value.normalize()}"
            return f"num:{value!r}"
        if f == value:
            # collapse the IEEE signed zero: -0.0 == 0 must hash like 0
            # (a double column storing -0.0 probed with int 0 would
            # otherwise be the false-negative class all over again —
            # caught by the Hypothesis property test)
            return f"num:{(f + 0.0)!r}"
        # lossy float (huge int / high-precision Decimal): encode via a
        # SCALE-NORMALIZED Decimal string so that equal values with
        # different textual forms (Decimal('5.1') vs the
        # Decimal('5.10000000000000000000') a DECIMAL(38,20) column
        # reads back; int 10**30 vs Decimal('1E+30')) hash identically.
        # normalize() is a pure function of the VALUE under a fixed
        # context, so equal -> equal always holds; context rounding of
        # >prec-digit inputs can only merge unequal values (a bloom
        # false POSITIVE — one wasted file read, never a dropped row).
        if isinstance(value, decimal.Decimal):
            if value.is_finite():
                return f"num:{value.normalize()}"
            return f"num:{value!r}"  # NaN never equals anything anyway
        return f"num:{decimal.Decimal(value).normalize()}"  # huge int
    return f"{type(value).__name__}:{value!r}"


def _bloom_positions(value: Any) -> list[int]:
    import hashlib

    h = hashlib.md5(_bloom_canonical(value).encode()).hexdigest()
    return [
        int(h[i * 8 : (i + 1) * 8], 16) % _BLOOM_BITS for i in range(_BLOOM_K)
    ]


def _bloom_of_column(path: str, col: str) -> str | None:
    """Base64 Bloom filter of a column's distinct values, read back
    from the just-written parquet file (pyarrow, single column, no
    Spark job) — the per-file point-lookup index Iceberg/Delta attach
    for high-cardinality keys, where [min, max] ranges are too loose
    to skip anything (e.g. uuid-ish keys interleaved across files).

    _file_entry calls it only for files of at most ``_BLOOM_BITS``
    footer rows: past one key per bit, a share of at least 1 - e^-3 of
    the bits is set, so a k=3 filter passes at least (1 - e^-3)^3 = 86%
    of absent probes. It could not skip the file, and reading the key
    column to build it would cost a driver-side scan per file. Readers
    treat a missing sidecar as "may contain"."""
    try:
        import base64

        import pyarrow.parquet as pq

        vals = pq.read_table(path, columns=[col]).column(0).unique().drop_null()
        bits = bytearray(_BLOOM_BITS // 8)
        for v in vals.to_pylist():
            for pos in _bloom_positions(v):
                bits[pos // 8] |= 1 << (pos % 8)
        return base64.b64encode(bytes(bits)).decode()
    except Exception:  # noqa: BLE001 — index is an optimization only
        return None


def _bloom_may_contain(b64: str, value: Any) -> bool:
    import base64

    bits = base64.b64decode(b64)
    return all(
        bits[pos // 8] & (1 << (pos % 8)) for pos in _bloom_positions(value)
    )


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# Partition-value ENCODING version stamped on file entries (like
# bloom_v). v2 = logical values: the Hive dir string is %-unescaped and
# the NULL sentinel becomes None before it is recorded. Pre-r6
# manifests (no stamp) hold RAW escaped dir strings ('%3A',
# '__HIVE_DEFAULT_PARTITION__') — and after the r6 decode fix a LOGICAL
# value may itself legitimately contain '%3A', so an unstamped entry's
# encoding is undecidable after the fact. Readers therefore never PRUNE
# on an unstamped partition value: the file stays a candidate and the
# exact residual filter (or key-range stats) decides — conservative,
# never wrong. Entries migrate to stamped logical values whenever a
# merge/compaction rewrites the file (ADVICE r6 #3).
_PART_VERSION = 2


def _decode_hive_value(raw: str) -> str | None:
    """Decode the ``<val>`` half of a Hive-style ``<col>=<val>``
    directory name into the logical partition value Spark wrote.
    Spark %-escapes filesystem-hostile characters (':' -> '%3A',
    ' ' -> '%20', ... — ExternalCatalogUtils.escapePathName) and spells
    NULL as ``__HIVE_DEFAULT_PARTITION__``; recording the RAW directory
    string in the manifest made merge()/read_partition() compare
    escaped text against ``str(source value)``, silently mis-pruning
    any partition value containing an escaped character (e.g. a
    timestamp's colons) and treating NULL partitions as the literal
    sentinel string."""
    if raw == _HIVE_NULL:
        return None
    import urllib.parse

    return urllib.parse.unquote(raw)


def _file_entry(final: str, root: str, key: str | None) -> dict[str, Any]:
    entry: dict[str, Any] = {
        "path": os.path.relpath(final, root),
        "bytes": os.path.getsize(final),
    }
    # the footer row count is what every writer's manifest `rows` sums
    import pyarrow.parquet as pq

    entry["rows"] = pq.ParquetFile(final).metadata.num_rows
    stats = _col_stats(final)
    if stats:
        entry["col_stats"] = stats
    if key is not None and key in stats:
        entry["key_range"] = stats[key]
    if key is not None and entry["rows"] <= _BLOOM_BITS:
        bloom = _bloom_of_column(final, key)
        if bloom is not None:
            entry["key_bloom"] = bloom
            entry["bloom_v"] = _BLOOM_VERSION
    return entry


def _next_seq(man: dict[str, Any], base_v: int) -> int:
    """Next table-level DATA SEQUENCE NUMBER (Iceberg v2): a monotone
    counter independent of snapshot version, carried in the manifest as
    ``last_seq``. Equality deletes apply only to data files with a
    STRICTLY LOWER sequence number, so a row re-inserted after (or by
    the same commit as) an equality delete survives it. Version numbers
    can't serve: clone/restore reset or reorder them while the seq
    counter must stay monotone over the table's whole write history.
    Pre-upgrade manifests lack last_seq — anchor at the version, and
    their unstamped file entries read as seq 0 (oldest: every equality
    delete applies to them, which is correct — they predate all)."""
    return max(int(man.get("last_seq", 0)), base_v) + 1


# rows per file of a copy-on-write rewrite (see _write_touched): a
# rewritten file splits into key chunks this size, so a point read
# opens one small file and the next rewrite touches only the chunks it hits
_CHUNK_ROWS = 16_384


def _write_data_files(
    df: DataFrame,
    root: str,
    key: str | None = None,
    partition_by: str | None = None,
    seq: int | None = None,
) -> list[dict[str, Any]]:
    """Write df as new immutable parquet files; return file entries
    (with per-file key min/max stats when ``key`` is given)."""
    return _write_files(df.write, root, key, partition_by, seq)


def _write_files(
    writer: DataFrameWriter,
    root: str,
    key: str | None,
    partition_by: str | None,
    seq: int | None,
) -> list[dict[str, Any]]:
    """_write_data_files through ``writer`` (which may carry write
    options). Files are invisible until a manifest references them.
    ``seq`` stamps the entries' data sequence number (see _next_seq).

    With ``partition_by``, files land under Hive-style
    ``data/<col>=<val>/`` directories and each entry records its
    partition value — the manifest-level unit of partition pruning
    (Iceberg partition summaries, reduced to one identity-transform
    column). Readers recover the partition column from the directory
    via Spark's basePath mechanism."""
    data_dir = os.path.join(root, "data")
    os.makedirs(data_dir, exist_ok=True)
    staging = os.path.join(root, f".stage-{uuid.uuid4().hex}")
    entries = []
    writer = writer.mode("overwrite")
    if partition_by is None:
        writer.parquet(staging)
        for part in sorted(glob.glob(os.path.join(staging, "part-*.parquet"))):
            final = os.path.join(data_dir, f"{uuid.uuid4().hex}.parquet")
            os.replace(part, final)
            e = _file_entry(final, root, key)
            if seq is not None:
                e["seq"] = seq
            entries.append(e)
    else:
        writer.partitionBy(partition_by).parquet(staging)
        for pdir in sorted(glob.glob(os.path.join(staging, f"{partition_by}=*"))):
            pname = os.path.basename(pdir)  # "<col>=<val>", val escaped
            pval = _decode_hive_value(pname.split("=", 1)[1])
            dest_dir = os.path.join(data_dir, pname)
            os.makedirs(dest_dir, exist_ok=True)
            for part in sorted(glob.glob(os.path.join(pdir, "part-*.parquet"))):
                final = os.path.join(dest_dir, f"{uuid.uuid4().hex}.parquet")
                os.replace(part, final)
                e = _file_entry(final, root, key)
                e["partition"] = pval
                e["part_v"] = _PART_VERSION  # logical-value encoding stamp
                e["spec"] = partition_by  # the layout col this file is nested under
                if seq is not None:
                    e["seq"] = seq
                entries.append(e)
    shutil.rmtree(staging, ignore_errors=True)  # _SUCCESS/.crc leftovers
    return entries


def _publish(root: str, version: int, manifest: dict[str, Any]) -> None:
    import time as _time

    # commit wall-clock stamp (Delta/Iceberg commit info): the basis of
    # timestamp time travel (version_as_of). Set HERE so every writer —
    # including publish_staged() and fast_forward(), which re-publish a
    # stored manifest — gets a fresh stamp.
    manifest["committed_at"] = _time.time()
    tmp = os.path.join(root, f".manifest-{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    final = _manifest_path(root, version)
    try:
        os.link(tmp, final)  # atomic publish; EEXIST = lost the race
    except FileExistsError as e:
        raise CommitConflict(f"snapshot v{version} already committed") from e
    finally:
        os.remove(tmp)


# Attempts a writer makes before a lost publish race becomes its
# CommitConflict (see _commit).
_COMMIT_ATTEMPTS = 3

# A write's plan on top of snapshot (base_v, manifest): the manifest
# changes for _next_manifest, or None when there is nothing to commit.
_Plan = Callable[[int, dict[str, Any]], "dict[str, Any] | None"]


def _commit(
    root: str,
    operation: str,
    plan: _Plan,
    attempts: int = _COMMIT_ATTEMPTS,
    publish: Callable[[str, int, dict[str, Any]], None] | None = None,
) -> int:
    """The optimistic commit loop of every write to an existing table.
    Each attempt takes the current snapshot ``base_v``, calls
    ``plan(base_v, manifest)`` (None: a no-op, return ``base_v``),
    builds the manifest of ``operation`` from the changes and publishes
    it as ``base_v + 1``. A lost publish race starts the next attempt
    on the winner's snapshot; the lost attempt's data files are
    orphans for vacuum. ``publish`` stands in for _publish when the
    write stages its manifest instead (merge(staged=True))."""
    publish = publish or _publish
    for _ in range(attempts):
        base_v, man = _snapshot(root)
        changes = plan(base_v, man)
        if changes is None:
            return base_v
        try:
            publish(root, base_v + 1, _next_manifest(man, base_v, operation, **changes))
        except CommitConflict:
            continue
        return base_v + 1
    raise CommitConflict(f"{operation} lost {attempts} commit races at {root}")


def _write_json(path: str, obj: Any) -> None:
    """Write ``obj`` as JSON to ``path`` atomically (tmp, fsync, rename)."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def _check_reserved_cols(df: DataFrame, what: str) -> None:
    """``__mor_file``/``__mor_pos`` are projected as hidden row-identity
    metadata by _read_paths; a user table already carrying either name
    would produce a duplicate-column DataFrame on MoR reads and the
    post-overlay drop() would remove BOTH copies, corrupting reads.
    Rejected at every ingest point (Delta reserves ``_change_type`` and
    friends the same way)."""
    bad = [
        c for c in df.columns if c.startswith("__mor_") or c.startswith("__eq_")
    ]
    if bad:
        raise ValueError(
            f"{what} uses reserved column name(s) {bad}: the '__mor_' "
            "and '__eq_' prefixes are reserved for merge-on-read "
            "row-identity / equality-delete metadata"
        )


def _enforce_constraints(df: DataFrame, man: dict[str, Any], what: str) -> None:
    """Delta-style CHECK enforcement on the rows a write is about to
    commit: a row violates a constraint only when the predicate is
    FALSE — NULL/UNKNOWN passes (SQL CHECK semantics). One counting
    job over all constraints; any violation aborts the write before a
    file lands in the manifest."""
    cons = man.get("constraints") or {}
    if not cons:
        return
    names = sorted(cons)
    counts = df.agg(
        *[
            F.sum(
                F.when(~F.coalesce(F.expr(f"({cons[n]})"), F.lit(True)), 1)
                .otherwise(0)
            ).alias(f"c{i}")
            for i, n in enumerate(names)
        ]
    ).collect()[0]
    bad = {n: int(counts[f"c{i}"] or 0) for i, n in enumerate(names)}
    bad = {n: c for n, c in bad.items() if c}
    if bad:
        detail = "; ".join(
            f"{n!r} CHECK ({cons[n]}) violated by {c} row(s)"
            for n, c in bad.items()
        )
        raise ConstraintViolation(f"{what}: {detail}")


def add_constraint(
    spark: SparkSession, root: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT <name> CHECK (<expr>) (Delta
    constraints): validates the EXISTING table first (a constraint
    that current data violates is rejected with the violation count),
    then publishes a metadata-only commit. From that snapshot on,
    every write path (append, merge, upsert_mor, update_where[_mor])
    enforces the predicate on the rows it writes and aborts the
    commit on violation; delete/compact/zorder commits cannot
    introduce rows and carry the constraint set forward untouched
    (_next_manifest carries it as table state)."""

    def plan(base_v: int, man: dict[str, Any]) -> dict[str, Any]:
        cons = dict(man.get("constraints") or {})
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists: {cons[name]}")
        _enforce_constraints(
            read(spark, root, base_v), {"constraints": {name: expr}},
            f"add_constraint({name!r}) on existing data",
        )
        return {"constraints": {**cons, name: expr}}

    return _commit(root, "add_constraint", plan)


def drop_constraint(root: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT — metadata-only commit."""

    def plan(base_v: int, man: dict[str, Any]) -> dict[str, Any]:
        cons = dict(man.get("constraints") or {})
        if name not in cons:
            raise ValueError(f"no constraint named {name!r} (have {sorted(cons)})")
        del cons[name]
        return {"constraints": cons}

    return _commit(root, "drop_constraint", plan)


def list_constraints(root: str) -> dict[str, str]:
    """The CHECK constraints in force at the current snapshot."""
    return dict(_snapshot(root)[1].get("constraints") or {})


def rename_column(spark: SparkSession, root: str, old: str, new: str) -> int:
    """ALTER TABLE RENAME COLUMN — METADATA-ONLY, the Iceberg
    field-ID capability (Delta name-mapping): no data file rewrites.
    Every existing file entry gains/updates an ``aliases`` map
    {logical: physical}; _read_paths groups files by alias signature,
    reads each group under its physical schema and restores logical
    names, so snapshots MIX pre- and post-rename files transparently.
    New writes use the new name; compaction/merge rewrites migrate
    the physical layout lazily (rewritten files drop their aliases).

    Restrictions (each with a clear error): the partition column
    (its name is load-bearing in directory paths — repartition via
    evolve_partition_spec instead), a column referenced by a CHECK
    constraint (constraint SQL is text; textual rewriting is not
    attempted), and name collisions. Renaming the MERGE KEY is
    allowed — per-file key ranges store values, not names, so
    pruning stays valid. Per-column stats recorded under the old
    physical name stop matching the logical name: read_where's
    pruning is a may-contain filter, so a stats MISS is conservative
    (scan, don't skip) — correctness holds, the file just stops
    being skippable until a rewrite refreshes its stats."""

    def plan(base_v: int, man: dict[str, Any]) -> dict[str, Any]:
        schema = _table_schema(spark, root, base_v, man)
        names = schema.fieldNames()
        if old not in names:
            raise ValueError(f"no column {old!r} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if man.get("partition_by") == old:
            raise ValueError(
                f"cannot rename partition column {old!r}: its name is "
                "load-bearing in data paths; use evolve_partition_spec"
            )
        for cname, expr in (man.get("constraints") or {}).items():
            if re.search(rf"\b{re.escape(old)}\b", expr):
                raise ValueError(
                    f"column {old!r} is referenced by CHECK constraint "
                    f"{cname!r} ({expr}); drop the constraint first"
                )
        new_schema = StructType(
            [
                StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        files2 = []
        for f in man["files"]:
            e = dict(f)
            al = dict(e.get("aliases") or {})
            # chain renames: if `old` is itself a logical alias of an even
            # older physical name, re-key it; else map new -> old physical
            al[new] = al.pop(old) if old in al else old
            e["aliases"] = al
            files2.append(e)
        return {
            "key": new if man["key"] == old else man["key"],
            "schema": new_schema.json(),
            "files": files2,
            "renamed": {"from": old, "to": new},
        }

    return _commit(root, "rename_column", plan)


def create(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    key: str,
    partition_by: str | None = None,
) -> int:
    """Create the table at snapshot v1. ``partition_by`` (optional, a
    string-typed column) makes the table Hive-partitioned: data files
    nest under ``data/<col>=<val>/``, the manifest records each file's
    partition value, and merge()/read_partition() prune whole
    partitions before key-range stats even apply — the two-tier scan
    planning (partition summary, then file stats) that makes a 100 TB
    date/category-partitioned table affordable to update.

    A create that loses the race for v1 raises CommitConflict instead
    of retrying: the table it would create now exists."""
    _check_reserved_cols(df, "create()")
    os.makedirs(root, exist_ok=True)
    if current_version(root) is not None:
        raise ValueError(f"table already exists at {root}")
    files = _write_data_files(df, root, key=key, partition_by=partition_by, seq=1)
    man: dict[str, Any] = {
        "version": 1, "key": key, "operation": "create", "files": files,
        "rows": sum(f["rows"] for f in files), "schema": df.schema.json(),
        "last_seq": 1,
    }
    if partition_by is not None:
        man["partition_by"] = partition_by
    _publish(root, 1, man)
    return 1


def read(spark: SparkSession, root: str, version: int | None = None) -> DataFrame:
    """Read a snapshot (latest by default; pass version for time
    travel). Snapshot isolation: the file list is fixed at manifest
    read time; later commits add new files this reader never sees."""
    v, man = _snapshot(root, version)
    paths = [f["path"] for f in man["files"]]
    if not paths:
        # an empty TABLE is legitimate state (e.g. delete-all): the
        # manifest carries the schema so readers still get a typed
        # empty relation; only pre-r5 manifests lack it
        if "schema" in man:
            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(man["schema"]))
            )
        raise FileNotFoundError(f"snapshot v{v} is empty")
    # mergeSchema: schema evolution leaves older files physically
    # narrower; missing columns read as null (parquet union semantics)
    return _read_paths(spark, root, man, paths)


def _file_spec(f: dict[str, Any], table_pcol: str | None) -> str | None:
    """The partition column a file's path is physically nested under.
    Files written since spec-stamping carry it explicitly; legacy
    entries default to the manifest's table-level spec when they have
    a partition value (pre-evolution tables were single-spec)."""
    if "spec" in f:
        return f["spec"]
    return table_pcol if f.get("partition") is not None else None


def _read_paths(
    spark: SparkSession,
    root: str,
    man: dict[str, Any],
    paths: list[str],
    with_meta: bool = False,
) -> DataFrame:
    """Read an explicit list of manifest paths (relative to ``root``)
    under this table's layout(s). Partition-spec EVOLUTION means one
    snapshot can mix layouts (Iceberg: each file belongs to the spec it
    was written under), so
    the read groups files by their per-file spec: each group's
    basePath pass recovers ITS directory column, and the groups
    union by name — a column that is layout in one spec is plain data
    in the others, so every row ends up fully populated.

    MERGE-ON-READ deletes (Iceberg v2, BOTH delete-file kinds): when
    the manifest carries ``deletes`` entries, every read applies them
    here — the single chokepoint all reader entry points (read,
    read_partition, read_key_range, read_point, CDF, the CoW rewrite
    scans) route through.

    - POSITIONAL entries (no ``kind``, the default): left-anti join on
      (file basename, row position). Basenames are writer-generated
      uuid4 hex, so the pair is a sound row identity with NO uri
      normalization; row positions come from the parquet reader's
      ``_metadata.row_index``.
    - EQUALITY entries (``kind: "equality"``, Iceberg v2 equality
      delete files — the kind streaming CDC writers emit): a broadcast
      left-anti join on the entry's ``cols`` with NULL-SAFE equality
      (the Iceberg spec matches null to null), guarded by the data
      SEQUENCE NUMBER — the delete applies only to rows from files with
      ``seq`` strictly below the entry's, so a row re-inserted by the
      same or a later commit (upsert_mor) survives its own tombstone.
      Equality files are small by contract (keys, not row positions);
      compact_deletes folds them away when read amplification grows —
      at 100 TB each entry is one broadcast anti-join, same as
      Iceberg's own reader.

    ``with_meta=True`` keeps the (__mor_file, __mor_pos) columns in
    the output — the position-capture path of delete_where_mor."""
    def _layout_of(p: str) -> tuple[str | None, str | None]:
        # a file's physical layout is readable from its own path — the
        # parent dir is <col>=<val> iff the file is Hive-partitioned
        # (column names cannot contain '='; data file basenames are
        # uuids). Returns (partition column, basePath for recovery).
        # Path-shape detection (not root-relative) keeps this correct
        # for EXTERNAL entries too: a shallow clone references the
        # source table's files outside this root, and table_changes
        # passes removed files from the parent snapshot.
        d = os.path.dirname(os.path.normpath(p))
        last = os.path.basename(d)
        if "=" in last:
            return last.split("=", 1)[0], os.path.dirname(d)
        return None, None

    # COLUMN-RENAME MAPPING (Iceberg field-ID analogue): a file written
    # before a rename_column() commit physically stores the OLD name;
    # its manifest entry carries aliases {logical: physical}. Reading
    # such a file with the pinned (logical) schema would by-name-miss
    # the column and silently null it — so files group ALSO by their
    # alias signature, each aliased group reads under its PHYSICAL
    # schema, and the logical names are restored post-read.
    aliases_of = {
        os.path.basename(f["path"]): f.get("aliases") or {}
        for f in man.get("files", [])
    }

    def _alias_sig(p: str) -> tuple[tuple[str, str], ...]:
        return tuple(sorted(aliases_of.get(os.path.basename(p), {}).items()))

    groups: dict[
        tuple[str | None, str | None, tuple[tuple[str, str], ...]], list[str]
    ] = {}
    for rel in paths:
        p = os.path.join(root, rel)
        spec, base = _layout_of(p)
        groups.setdefault((spec, base, _alias_sig(p)), []).append(p)
    # Pin the read schema from the manifest whenever it carries one:
    # an explicit schema (a) replaces footer-merging (mergeSchema) with
    # by-name resolution — older, physically narrower files read their
    # missing columns as null — and (b) disables partition-column TYPE
    # INFERENCE, which would otherwise re-type a string partition value
    # like '007' to int 7 (changing dtype AND value) and choke on
    # values Spark cannot cast back. Directory values still unescape
    # ('%3A' -> ':') and __HIVE_DEFAULT_PARTITION__ still reads as
    # NULL — that is the path parser, not inference.
    pinned = None
    if man.get("schema"):
        pinned = StructType.fromJson(json.loads(man["schema"]))
    all_dels = man.get("deletes") or []
    dels = [e for e in all_dels if e.get("kind", "positional") == "positional"]
    eq_dels = [e for e in all_dels if e.get("kind") == "equality"]
    dfs = []
    for spec, base, sig in sorted(groups, key=str):
        al = dict(sig)  # logical -> physical for THIS group
        reader = spark.read
        if pinned is not None:
            if al:
                phys = StructType(
                    [
                        StructField(al.get(f.name, f.name), f.dataType, f.nullable)
                        for f in pinned.fields
                    ]
                )
                reader = reader.schema(phys)
            else:
                reader = reader.schema(pinned)
        else:  # legacy manifest without a schema: footer merging
            reader = reader.option("mergeSchema", "true")
        if spec is not None:
            reader = reader.option("basePath", base)
        df = reader.parquet(*groups[(spec, base, sig)])
        if al and pinned is not None:
            # SIMULTANEOUS physical->logical restore: sequential
            # withColumnRenamed collides when one alias's physical
            # name equals another's logical name (a rename SWAP —
            # a->c then b->a leaves physical (a, b) for logical
            # (c, a); renaming b->a first would duplicate 'a')
            df = df.select(
                *[
                    F.col(al.get(f.name, f.name)).alias(f.name)
                    for f in pinned.fields
                ]
            )
        if dels or eq_dels or with_meta:
            # hidden metadata cols must be projected per group, BEFORE
            # the unionByName (union output carries no hidden columns)
            df = df.select(
                "*",
                F.col("_metadata.file_name").alias("__mor_file"),
                F.col("_metadata.row_index").alias("__mor_pos"),
            )
        dfs.append(df)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    if dels:
        dl = spark.read.schema("dfile STRING, dpos BIGINT").parquet(
            *[os.path.join(root, e["path"]) for e in dels]
        )
        out = out.join(
            dl,
            (F.col("__mor_file") == dl.dfile)
            & (F.col("__mor_pos") == dl.dpos),
            "left_anti",
        )
    if eq_dels:
        # per-row data sequence number from the manifest's per-file
        # stamps (missing = 0: pre-upgrade files predate every equality
        # delete). A tiny broadcast dim, O(|files|) driver rows.
        sdf = spark.createDataFrame(
            [
                (os.path.basename(f["path"]), int(f.get("seq", 0)))
                for f in man["files"]
            ],
            "__mor_sq_file STRING, __mor_seq BIGINT",
        )
        out = out.join(
            F.broadcast(sdf), out["__mor_file"] == sdf["__mor_sq_file"], "left"
        ).drop("__mor_sq_file")
        for e in eq_dels:
            cols = list(e["cols"])
            kdf = (
                spark.read.parquet(os.path.join(root, e["path"]))
                .select(*[F.col(c).alias(f"__eq_{c}") for c in cols])
            )
            cond = F.col("__mor_seq") < F.lit(int(e.get("seq", 0)))
            for c in cols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
            out = out.join(F.broadcast(kdf), cond, "left_anti")
        out = out.drop("__mor_seq")
    if (dels or eq_dels or with_meta) and not with_meta:
        out = out.drop("__mor_file", "__mor_pos")
    return out


def read_partition(
    spark: SparkSession,
    root: str,
    values: list[str | None],
    version: int | None = None,
) -> DataFrame:
    """Manifest-level PARTITION PRUNING: open only files whose recorded
    partition value is in ``values`` — no directory listing, no footer
    reads for skipped partitions (tier 1 of the two-tier scan plan;
    read_key_range is tier 2). ``values`` holds LOGICAL values — the
    str() of what was written (manifest entries are unescaped from the
    Hive dir names, so ':' and friends compare literally), with None
    selecting the NULL partition."""
    v, man = _snapshot(root, version)
    pcol = man.get("partition_by")
    if pcol is None:
        raise ValueError(f"table at {root} is not partitioned")
    vals = set(values)
    # manifest pruning applies to files laid out under the CURRENT
    # spec whose partition value carries the logical-encoding stamp
    # (part_v); files from an older spec (partition evolution) OR with
    # an unstamped (possibly raw-escaped, pre-r6) partition value may
    # hold rows of any current-partition value, so they read fully
    # with an exact residual filter — still no directory listing, and
    # the old files migrate to the new layout/encoding as merges/
    # compactions rewrite them
    def _trusted(f: dict[str, Any]) -> bool:
        return _file_spec(f, pcol) == pcol and f.get("part_v") == _PART_VERSION

    same = [f for f in man["files"] if _trusted(f) and f.get("partition") in vals]
    other = [f for f in man["files"] if not _trusted(f)]
    parts = []
    if same:
        parts.append(_read_paths(spark, root, man, [f["path"] for f in same]))
    if other:
        nonnull = [x for x in vals if x is not None]
        resid = (
            F.col(pcol).cast("string").isin(*nonnull)
            if nonnull
            else F.lit(False)
        )
        if None in vals:  # isin() never matches NULL; spell it out
            resid = resid | F.col(pcol).isNull()
        parts.append(
            _read_paths(spark, root, man, [f["path"] for f in other]).filter(resid)
        )
    if not parts:
        return read(spark, root, v).filter(F.lit(False))
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _pad(df: DataFrame, schema: Any) -> DataFrame:
    """``df`` with exactly ``schema``'s columns, in order: a column
    none of the read files carries (schema evolution) reads as typed
    nulls."""
    for fld in schema.fields:
        if fld.name not in df.columns:
            df = df.withColumn(fld.name, F.lit(None).cast(fld.dataType))
    return df.select(*[fld.name for fld in schema.fields])


def _table_schema(
    spark: SparkSession, root: str, base_v: int, man: dict[str, Any]
) -> StructType:
    """Snapshot ``base_v``'s table schema: the manifest's, or what its
    files read back as when the manifest predates the recorded schema."""
    if man.get("schema"):
        return StructType.fromJson(json.loads(man["schema"]))
    return read(spark, root, base_v).schema


def _write_schema(table: StructType, df: DataFrame) -> StructType:
    """The table schema after a write of ``df``: ``table``'s columns,
    then the ones only ``df`` carries (schema evolution). A table
    column ``df`` lacks stays; its new rows read it as null."""
    return StructType(
        list(table.fields)
        + [f for f in df.schema.fields if f.name not in table.fieldNames()]
    )


def _check_full_width(table: StructType, source: DataFrame, what: str) -> None:
    """A keyed upsert replaces whole rows (MERGE UPDATE SET *), so its
    source must carry every table column: a narrower one would null
    out the missing columns of every row it replaces."""
    narrow = [c for c in table.fieldNames() if c not in source.columns]
    if narrow:
        raise ValueError(
            f"{what} source is missing table column(s) {narrow}; "
            "MERGE UPDATE SET * requires a full-width source"
        )


def _read_kept(
    spark: SparkSession,
    root: str,
    v: int,
    man: dict[str, Any],
    keep: list[dict[str, Any]],
) -> DataFrame:
    """The shared tail of the stats-pruned readers: read the file
    entries pruning kept (an empty typed frame when none survive),
    aligned to the full table schema — a pruned set that happens to
    contain no post-evolution file would otherwise silently lack the
    evolved column (reads must be schema-stable regardless of which
    files the stats hit). The caller applies the exact residual
    filter."""
    if not keep:
        return read(spark, root, v).filter(F.lit(False))
    df = _read_paths(spark, root, man, [f["path"] for f in keep])
    return _pad(df, read(spark, root, v).schema)


def _prune(
    man: dict[str, Any], col: str, lo: Any, hi: Any
) -> list[dict[str, Any]]:
    """The files of ``man`` that may hold a ``col`` value in [lo, hi],
    by their manifest stats — the one file-skipping rule of
    read_key_range, read_where and read_point. A file without stats
    for ``col`` stays (conservative, never wrong); the caller applies
    the exact residual filter."""
    keep = []
    for f in man["files"]:
        # RENAME safety: a file's col_stats are keyed by its PHYSICAL
        # column names. Translate the logical column through the
        # file's alias map — otherwise a rename SWAP (a->c then b->a)
        # would match logical 'a' against stats describing the OLD
        # physical 'a' (now logical 'c') and prune WRONG FILES. A
        # physical name with no stats reads conservatively as before.
        al = f.get("aliases") or {}
        phys = al.get(col, col)
        if phys == col and col in al.values():
            # physical `col` on this file belongs to a DIFFERENT
            # logical column (it was renamed away): its stats must
            # not answer for the current logical `col`
            st = None
        else:
            st = f.get("col_stats", {}).get(phys)
        if st is None and col == man["key"]:
            st = f.get("key_range")
        if (
            st is None
            and _file_spec(f, man.get("partition_by")) == col
            and f.get("part_v") == _PART_VERSION
        ):
            # ``col`` is this file's LAYOUT column: it never appears in
            # the parquet data (hence no col_stats), but the manifest's
            # decoded directory value is exact [v, v] stats — IF the
            # entry carries the logical-encoding stamp; an unstamped
            # (pre-r6) value may be raw-escaped, so those files read
            # conservatively. A NULL partition means every row has col
            # IS NULL — no row can satisfy a BETWEEN, skip the file
            # outright. String bounds only (dir values are strings;
            # comparing one to a numeric bound would be a type pun, so
            # those read conservatively).
            pv = f.get("partition")
            if pv is None:
                continue
            if isinstance(lo, str) and isinstance(hi, str):
                st = [pv, pv]
        if st is None or not (st[1] < lo or st[0] > hi):
            keep.append(f)
    return keep


def read_key_range(
    spark: SparkSession, root: str, lo: Any, hi: Any, version: int | None = None
) -> DataFrame:
    """Stats-pruned read: open ONLY data files whose manifest key range
    intersects [lo, hi], then apply the exact residual filter — the
    manifest-level file skipping that stacks on top of parquet's own
    row-group pruning (two pruning tiers, same as Iceberg scan
    planning). Files without stats are read conservatively."""
    v, man = _snapshot(root, version)
    key = man["key"]
    return _read_kept(spark, root, v, man, _prune(man, key, lo, hi)).filter(
        (F.col(key) >= lo) & (F.col(key) <= hi)
    )


def read_where(
    spark: SparkSession,
    root: str,
    col: str,
    lo: Any,
    hi: Any,
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned read on ANY primitive column (not just the merge
    key): open only files whose manifest-recorded [min, max] for
    ``col`` intersects [lo, hi], then apply the exact residual filter.
    This is full Iceberg-style scan planning — partition pruning
    (read_partition) above it, parquet row-group pruning below it.
    Files without stats for the column read conservatively."""
    v, man = _snapshot(root, version)
    return _read_kept(spark, root, v, man, _prune(man, col, lo, hi)).filter(
        (F.col(col) >= lo) & (F.col(col) <= hi)
    )


def read_point(
    spark: SparkSession, root: str, value: Any, version: int | None = None
) -> DataFrame:
    """Point lookup on the merge key through BOTH per-file indexes:
    key_range (misses when files partition the key space) AND the
    Bloom sidecar (misses when ranges are loose — interleaved keys) —
    a file is opened only if range-possible AND bloom-positive. Bloom
    false positives cost one extra file read; false negatives cannot
    happen (every written key sets its bits, and numerics hash through
    a type-canonical encoding so a double-typed column probed with an
    equal int hashes to the same bits — see _bloom_canonical). A
    sidecar from an older hash scheme (no ``bloom_v`` stamp) is
    ignored rather than trusted: skipping on a stale-scheme negative
    would be the silent-row-drop bug the stamp exists to prevent."""
    v, man = _snapshot(root, version)
    key = man["key"]
    keep = [
        f
        for f in _prune(man, key, value, value)
        if f.get("key_bloom") is None
        or f.get("bloom_v") != _BLOOM_VERSION
        or _bloom_may_contain(f["key_bloom"], value)
    ]
    return _read_kept(spark, root, v, man, keep).filter(F.col(key) == value)


@dataclass
class _SourceScan:
    """What one aggregate over a write's source answers before any
    file is written (see _scan_source)."""

    rows: int
    hit: set[int]  # indices of the ``files`` a source key falls inside
    parts: set[str | None] | None  # source partition values, NULL kept


def _range_hits(k: str, ranged: list[tuple[int, dict[str, Any]]]) -> str:
    """SQL for the per-row array of the indices ``i`` of the ``(i, file
    entry)`` pairs whose recorded [min, max] key range holds the SQL
    key ``k``. The ranges enter the plan as ONE escaped JSON string
    literal parsed by from_json (constant-folded once), not one column
    expression or py4j call per file. The range type is inferred from
    the recorded values the way a Python row would be (bool, bigint,
    double, string), so ``k`` compares under Spark's usual coercion."""
    vals = [v for _, f in ranged for v in f["key_range"]]
    if all(isinstance(v, bool) for v in vals):
        typ = "boolean"
    elif all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
        typ = "bigint"
    elif all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals):
        typ = "double"
    else:
        typ = "string"
    ranges = sql_string(json.dumps([
        {"i": i, "lo": f["key_range"][0], "hi": f["key_range"][1]}
        for i, f in ranged
    ]))
    return (
        f"transform(filter(from_json({ranges}, 'array<struct<i:int,lo:{typ},hi:{typ}>>'),"
        f" _rng -> {k} >= _rng.lo AND {k} <= _rng.hi), _rng -> _rng.i)"
    )


def _scan_source(
    source: DataFrame,
    key: str,
    what: str,
    files: list[dict[str, Any]] | None = None,
    pcol: str | None = None,
    unique: bool = True,
) -> _SourceScan:
    """MERGE INTO's source preconditions and write planning, answered
    by ONE aggregate over the source before any file is written:

    - the merge key is non-null (a NULL key can never match, so every
      merge would insert it again; an appended NULL key is dropped by
      both change feeds) and, with
      ``unique``, unique (duplicate source keys would multiply matched
      target rows; SQL MERGE errors on multiple matches);
    - which of ``files`` hold a source key inside their recorded key
      range (entries without a range are never hits — callers treat
      them as touched);
    - with ``pcol``, the set of the source's partition values, NULL
      included (None; non-NULL values as ``str``).

    The aggregate is SQL text, one py4j call for all of it.
    Violations raise ValueError."""
    k = sql_ident(key)
    aggs = ["count(1) AS n", f"count({k}) AS n_nonnull"]
    if unique:
        aggs.append(f"count(DISTINCT {k}) AS n_distinct")
    ranged = [(i, f) for i, f in enumerate(files or []) if "key_range" in f]
    if ranged:
        aggs.append(f"flatten(collect_set({_range_hits(k, ranged)})) AS hits")
    if pcol is not None:
        p = sql_ident(pcol)
        aggs += [f"collect_set({p}) AS parts", f"max({p} IS NULL) AS part_null"]
    chk = source.selectExpr(*aggs).collect()[0]
    if chk["n"] != chk["n_nonnull"]:
        raise ValueError(
            f"{what} source has {chk['n'] - chk['n_nonnull']} NULL "
            f"{key!r} key(s); the merge key must be non-null"
        )
    if unique and chk["n_nonnull"] != chk["n_distinct"]:
        raise ValueError(
            f"{what} source has duplicate {key!r} keys "
            f"({chk['n_nonnull']} rows, {chk['n_distinct']} distinct); "
            "MERGE requires unique source keys — dedupe first "
            "(e.g. operators/dedup.dedup_key_last_write)"
        )
    parts = None
    if pcol is not None:
        parts = {str(v) for v in chk["parts"]}
        if chk["part_null"]:
            parts.add(None)
    hit = set(chk["hits"]) if ranged else set()
    return _SourceScan(rows=int(chk["n"]), hit=hit, parts=parts)


def _segments(
    files: list[dict[str, Any]], touched: list[dict[str, Any]]
) -> list[list[dict[str, Any]]]:
    """``touched`` (a sublist of ``files``) cut into the units a rewrite
    writes one task each: runs of files adjacent in key order (no
    carried file's range starts between them) of at most _CHUNK_ROWS
    rows in all, or one bigger file alone. Sorted in its task and cut
    into chunks, a segment lands in files whose key ranges overlap no
    other segment's and no carried file's, and small neighbours compact
    into one chunk. Files without a key range (a key type whose footer
    stats are not recorded, see _json_safe) follow the same rule in
    manifest order, the only order they have."""
    hit = {id(f) for f in touched}
    ranged = sorted(
        (f for f in files if "key_range" in f), key=lambda f: f["key_range"][0]
    )
    segs: list[list[dict[str, Any]]] = []
    for run in (ranged, [f for f in files if "key_range" not in f]):
        rows = None  # None: the next touched file starts a segment
        for f in run:
            if id(f) not in hit:
                rows = None  # a carried file ends the run
                continue
            n = f.get("rows", 0)
            if rows is None or rows + n > _CHUNK_ROWS:
                segs.append([])
                rows = 0
            segs[-1].append(f)
            rows += n
    return segs


def _read_touched(
    spark: SparkSession,
    root: str,
    base_v: int,
    man: dict[str, Any],
    touched: list[dict[str, Any]],
) -> DataFrame:
    """The read half of every copy-on-write rewrite (merge, delete_where,
    update_where, compact_deletes, compact): the ``touched`` entries of
    snapshot ``base_v`` (manifest ``man``), one scan per _segments segment.
    Several files share one task (coalesce: no shuffle); a single file
    keeps its scan's splits, each a contiguous key range already. A
    typed empty frame when nothing is touched. The caller transforms
    the rows and hands them to _write_touched."""
    if not touched:
        return read(spark, root, base_v).limit(0)
    target = None
    for seg in _segments(man["files"], touched):
        d = _read_paths(spark, root, man, [f["path"] for f in seg])
        d = d.coalesce(1) if len(seg) > 1 else d
        target = d if target is None else target.unionByName(
            d, allowMissingColumns=True
        )
    return target


def _write_touched(
    df: DataFrame, root: str, man: dict[str, Any], seq: int
) -> list[dict[str, Any]]:
    """The write half of every copy-on-write rewrite (the writers
    _read_touched lists): ``df`` (rows from _read_touched's segments,
    plus any rows of its own) sorted by (partition column, key) within
    each task and written in files of at most _CHUNK_ROWS rows, stamped
    ``seq``; returns the file entries.

    This is the table's rewrite layout. Each segment's task writes
    contiguous key chunks inside the segment's own key span, where no
    carried file's range starts, so on a table whose ranges are
    disjoint the chunks overlap no other live file and a point read of
    a rewritten key opens one file. Rows a
    writer adds in tasks of their own (merge's inserts) are chunks of
    their own; new keys above every range overlap nothing either. The
    partition column leads the sort, so the writer's own partition
    sort keeps the key order inside each partition. A frame that
    crossed a shuffle (a merge whose source is too large to broadcast)
    comes back in that shuffle's hash layout instead.

    A union whose children each report a single partition is zipped
    into one task (spark.sql.unionOutputPartitioning); it is off for
    this write, so each coalesced segment keeps its task."""
    pcol = man.get("partition_by")
    key = man["key"]
    df = df.sortWithinPartitions(*([pcol] if pcol is not None else []), key)
    conf = df.sparkSession.conf
    zipped = conf.get("spark.sql.unionOutputPartitioning")
    conf.set("spark.sql.unionOutputPartitioning", "false")
    try:
        return _write_files(
            df.write.option("maxRecordsPerFile", _CHUNK_ROWS), root, key, pcol, seq
        )
    finally:
        conf.set("spark.sql.unionOutputPartitioning", zipped)


def merge(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    max_retries: int = 3,
    delete_condition: str | None = None,
    update_condition: str | None = None,
    staged: bool = False,
) -> int | str:
    """MERGE INTO (upsert): source rows replace target rows with the
    same key; unmatched source rows insert. Returns the new version —
    or, with ``staged=True``, a Write-Audit-Publish token: the full
    merge runs and its would-be manifest lands in ``.audit-<token>``,
    INVISIBLE to every reader, until publish_staged() promotes it
    atomically (or abort_staged() discards it). Audit the staged
    snapshot with read_staged() first — the Iceberg WAP pattern.

    File-level copy-on-write with stats pruning: a data file is
    REWRITTEN only if at least one source key falls inside its
    manifest-recorded key range; every other file carries its entry
    forward UNCHANGED into the new manifest (same path, no IO). A
    source key inside some file's range always marks that file touched,
    so untouched files can never contain a matched row — brand-new keys
    outside every range insert via the merged relation. Matched keys
    take the ENTIRE source row (standard MERGE ``UPDATE SET *``
    semantics, the transactional spelling of operators/joins.py
    join_upsert_merge / task.ts:235-350). This is the shape that makes
    MERGE affordable at 100 TB: rewrite cost scales with the files the
    keys actually hit, not the table.

    The rewrite moves no target row through a shuffle. The touched
    files are read by _read_touched, one task per segment of
    key-adjacent files. The post-image is two branches over them:
      - touched LEFT OUTER JOIN source: a micro-batch under
        ``spark.sql.autoBroadcastJoinThreshold`` is broadcast, so the
        target rows stream through their segment's task in file order;
      - source LEFT ANTI JOIN the touched keys: the inserts.
    Both go through the same delete filter and CASE WHEN projection
    (the insert branch reads ``t.*`` as NULL from an empty target).
    _write_touched writes the union; its docstring states the key-chunk
    layout that leaves. A source too large to broadcast plans both
    joins as sort-merge joins, with no hint and no second code path:
    target rows then cross a shuffle.

    A merge that loses the publish race to a concurrent commit plans
    again on the winner's snapshot (_commit), ``max_retries`` attempts
    in all — optimistic concurrency, no locks held. A staged merge
    cannot lose a race; its publish_staged() can, and raises.

    The source is read ONCE before the write: one aggregate
    (_scan_source) checks the MERGE INTO preconditions — the merge key
    must be non-null (a NULL key can never match, so every merge would
    insert it again) and unique
    (duplicate source keys would multiply matched target rows; SQL
    MERGE errors on multiple matches); violations raise ValueError
    before any file is written — and, in the same pass, finds the files
    whose key range holds a source key and the source's partition
    values. After the write nothing is recomputed: the manifest's
    ``rows`` sums the new files' footer row counts and the carried
    files' recorded ones.

    Conditional clauses (the full MERGE matrix, SQL spelling —
    predicates over ``s.*``/``t.*``):
      - ``delete_condition``: WHEN MATCHED AND <cond> THEN DELETE —
        the CDC tombstone apply (operators/timeseries.cdc_merge_apply
        is the relational twin). A matched-and-condition row vanishes;
        an UNMATCHED source row satisfying the condition inserts
        nothing (a tombstone for an absent key is a no-op).
      - ``update_condition``: WHEN MATCHED AND <cond> THEN UPDATE
        (otherwise the matched target row is KEPT unchanged instead of
        replaced). Default None = unconditional UPDATE SET *.
    Unmatched source rows insert unless they satisfy
    ``delete_condition``. Note: control columns in the source (the
    ``op`` flag, priorities) persist into the table through schema
    evolution like any other source column — project them away
    (``source.drop("op")``... after using them is not possible since
    conditions evaluate inside the join; instead carry them and drop
    via a follow-up column projection, or accept them as lineage
    columns, the Delta CDC-apply convention)."""
    _check_reserved_cols(source, "merge() source")

    def plan(base_v: int, man: dict[str, Any]) -> dict[str, Any]:
        key = man["key"]
        pcol = man.get("partition_by")
        if pcol is not None and pcol not in source.columns:
            raise ValueError(
                f"merge source must carry partition column {pcol!r}"
            )
        _check_full_width(_table_schema(spark, root, base_v, man), source, "merge")
        scan = _scan_source(source, key, "merge", man["files"], pcol)
        # a file is rewritten iff it may hold a source key: first its
        # partition, then its key range. Partition values are logical
        # (None stays None: manifest partition entries are decoded from
        # the Hive dir names). A file's partition value is trusted only
        # if its layout spec IS the current spec AND the value carries
        # the logical-encoding stamp (part_v); files from an older spec
        # (partition evolution) or with unstamped (possibly raw-escaped,
        # pre-r6) values stay candidates for key-range pruning —
        # conservative, never wrong. Entries without a key range are
        # conservatively touched.
        touched, untouched = [], []
        for i, f in enumerate(man["files"]):
            in_part = (
                pcol is None
                or _file_spec(f, pcol) != pcol
                or f.get("part_v") != _PART_VERSION
                or f.get("partition") in scan.parts
            )
            in_range = "key_range" not in f or i in scan.hit
            (touched if in_part and in_range else untouched).append(f)
        target = _read_touched(spark, root, base_v, man, touched)
        src = source.alias("s")
        on = F.col(f"t.{key}") == F.col(f"s.{key}")
        # two branches that move no target row (see the docstring); the
        # inserts meet an empty target, so both read the same t.* / s.*
        carried = target.alias("t").join(src, on, "left_outer")
        inserts = src.join(
            target.select(key).alias("k"),
            F.col(f"s.{key}") == F.col(f"k.{key}"),
            "left_anti",
        ).join(target.limit(0).alias("t"), on, "left_outer")
        # schema evolution: source-only columns append to the table
        # schema; rows from unmatched target (and from files this merge
        # does not rewrite) read them as null via mergeSchema
        new_cols = [c for c in source.columns if c not in target.columns]
        cols = target.columns
        # the post-image projection is SQL text, one py4j call for all
        # columns (Column builders cost several calls per column)
        matched = f"s.{sql_ident(key)} IS NOT NULL"
        take_source = matched
        if update_condition is not None:
            # matched but condition false: keep the TARGET row
            take_source = (
                f"{matched} AND (t.{sql_ident(key)} IS NULL OR ({update_condition}))"
            )
        post = [
            *[
                f"CASE WHEN {take_source} THEN s.{sql_ident(c)} "
                f"ELSE t.{sql_ident(c)} END AS {sql_ident(c)}"
                for c in cols
            ],
            *[
                f"CASE WHEN {take_source} THEN s.{sql_ident(c)} END AS {sql_ident(c)}"
                for c in new_cols
            ],
        ]
        branches = []
        for joined in (carried, inserts):
            if delete_condition is not None:
                # matched + delete-cond -> drop; unmatched tombstone -> no-op
                joined = joined.filter(
                    f"NOT ({matched} AND coalesce(({delete_condition}), false))"
                )
            branches.append(joined.selectExpr(*post))
        merged = branches[0].unionByName(branches[1])
        # CHECK constraints gate the post-image actually being written
        # (carried files were validated by their own writing commit)
        _enforce_constraints(merged, man, "merge()")
        new_seq = _next_seq(man, base_v)
        new_files = _write_touched(merged, root, man, new_seq)
        # untouched entries' recorded row counts do not know about a
        # merge-on-read overlay — subtract the per-file deleted counts
        # so the manifest `rows` stays exact; the overlay itself carries
        # forward (stale entries for rewritten files are no-ops:
        # basenames are fresh uuids)
        mor_del = _mor_deleted_counts(man)
        return {
            "schema": merged.schema.json(),
            "files": untouched + new_files,
            "rows": sum(f["rows"] for f in new_files)
            + sum(
                f.get("rows", 0) - mor_del.get(os.path.basename(f["path"]), 0)
                for f in untouched
            ),
            "rewrote_files": len(touched),
            "carried_files": len(untouched),
            "last_seq": new_seq,
        }

    if not staged:
        return _commit(root, "merge", plan, max_retries)
    token = uuid.uuid4().hex
    _commit(
        root, "merge", plan, max_retries,
        publish=lambda _root, _v, man: _write_json(_audit_path(root, token), man),
    )
    return token


def append(spark: SparkSession, root: str, df: DataFrame) -> int:
    """Append-only commit (the reference's INSERT mode, task.ts:455-457
    / A14, made transactional): write new files, carry EVERY existing
    file forward path-identical — no join, no rewrite, key duplicates
    allowed by design (event-log semantics; use merge() for keyed
    upsert). NULL keys are not: both change feeds pair rows by key and
    would drop them, so a NULL key raises ValueError before any file is
    written. The cheapest possible commit: cost = new data only."""
    _check_reserved_cols(df, "append()")

    def plan(base_v: int, man: dict[str, Any]) -> dict[str, Any]:
        pcol = man.get("partition_by")
        if pcol is not None and pcol not in df.columns:
            raise ValueError(f"append must carry partition column {pcol!r}")
        _scan_source(df, man["key"], "append", unique=False)
        _enforce_constraints(df, man, "append()")
        schema = _write_schema(_table_schema(spark, root, base_v, man), df)
        new_seq = _next_seq(man, base_v)
        new_files = _write_data_files(
            _pad(df, schema), root, key=man["key"], partition_by=pcol, seq=new_seq
        )
        return {
            "schema": schema.json(),
            "files": man["files"] + new_files,
            "rows": man.get("rows", 0) + sum(f["rows"] for f in new_files),
            "last_seq": new_seq,
        }

    return _commit(root, "append", plan)


def restore(spark: SparkSession, root: str, version: int) -> int:
    """RESTORE (Delta's ROLLBACK): publish a NEW snapshot whose file
    list is exactly snapshot ``version``'s — history moves forward
    (the bad commits stay queryable via time travel until vacuum), the
    data files are shared, no data IO at all. The operational undo for
    a bad merge/delete.

    Only the old snapshot's DATA comes back (key, schema, files, rows,
    partition spec, delete overlay). Governance stays CURRENT: the
    live CHECK constraints and stream-sink ledger carry from the
    current snapshot like in any other commit, and the seq counter
    never goes backwards (the next equality delete must still outrank
    every file ever written)."""

    def plan(base_v: int, cur: dict[str, Any]) -> dict[str, Any] | None:
        if version == base_v:
            return None
        _, old = _snapshot(root, version)
        data = ("key", "schema", "files", "rows", "partition_by", "deletes")
        return {
            **{k: old.get(k) for k in data},
            "last_seq": max(
                int(old.get("last_seq", version)),
                int(cur.get("last_seq", base_v)),
            ),
            "restored_from": version,
        }

    return _commit(root, "restore", plan)


def _hit_file_split(
    spark: SparkSession,
    root: str,
    man: dict[str, Any],
    predicate: str,
) -> tuple[list[dict[str, Any]], list[dict[str, Any]], int]:
    """One scan's per-file predicate match counts, resolved back to
    manifest entries: (touched, untouched, n_matched_rows).

    Paths compare as os.path.realpath on BOTH sides: input_file_name()
    URIs resolve through symlinks to absolute paths, so a relative (or
    symlinked) ``root`` joined with the manifest-relative path must be
    realpath'd too — the r6 spelling normpath'd the manifest side only,
    and a relative root made the sets disjoint: touched=[] while
    n_matched stayed nonzero, a silent no-op DELETE/UPDATE that still
    decremented the published row metadata (ADVICE r6 #1). Any hit URI
    that resolves to no manifest entry now raises instead of silently
    dropping the file from the rewrite set."""
    # Hit files identified by the parquet reader's own _metadata
    # basename (via _read_paths with_meta) rather than
    # input_file_name(): basenames are writer-generated uuids, so the
    # match is path-scheme/symlink/escaping-independent (the whole
    # ADVICE r6 #1 class by construction), and — unlike
    # input_file_name(), which Spark refuses over multi-source plans —
    # it survives the merge-on-read anti-join (so match counts are
    # post-overlay, never re-counting already-deleted rows).
    if not man["files"]:
        return [], [], 0
    df = _read_paths(
        spark, root, man, [f["path"] for f in man["files"]], with_meta=True
    )
    hits = (
        df.filter(predicate)
        .groupBy(F.col("__mor_file").alias("_file"))
        .count()
        .collect()
    )
    by_base = {os.path.basename(f["path"]): f["path"] for f in man["files"]}
    hit_base = {r["_file"] for r in hits}
    unknown = hit_base - by_base.keys()
    if unknown:
        raise RuntimeError(
            f"predicate scan hit file(s) outside the manifest at {root}: "
            f"{sorted(unknown)[:3]} — basename mismatch would silently "
            "no-op the rewrite"
        )
    hit_paths = {by_base[b] for b in hit_base}
    touched = [f for f in man["files"] if f["path"] in hit_paths]
    untouched = [f for f in man["files"] if f["path"] not in hit_paths]
    return touched, untouched, sum(r["count"] for r in hits)


def delete_where(spark: SparkSession, root: str, predicate: str) -> int:
    """Transactional DELETE, file-pruned copy-on-write: one scan finds
    which data files actually CONTAIN matching rows (per-file match
    counts keyed by the reader's ``_metadata.file_name`` — |files|
    driver rows, see _hit_file_split); only those files are rewritten
    without their matches (_read_touched/_write_touched), every other
    file carries into the new snapshot path-identical. Delta/Iceberg
    DELETE shape: deleting one partition/day from a 100 TB table
    rewrites that slice's files, never the table (the pre-r6 spelling
    rewrote every file on every delete). Smaller file deltas also keep
    CDF diffs delta-sized.

    SQL DELETE semantics on NULLs: a row is deleted iff the predicate
    is TRUE; rows where it evaluates NULL/UNKNOWN survive (the pre-r6
    ``NOT (pred)`` spelling silently deleted them)."""

    def plan(base_v: int, man: dict[str, Any]) -> dict[str, Any]:
        touched, new_files, deleted_rows = _hit_file_split(
            spark, root, man, predicate
        )
        new_seq = _next_seq(man, base_v)
        if touched:
            remaining = _read_touched(spark, root, base_v, man, touched).filter(
                f"NOT ({predicate}) OR ({predicate}) IS NULL"
            )
            new_files += _write_touched(remaining, root, man, new_seq)
        return {
            "files": new_files,
            "rows": max(0, int(man.get("rows", 0)) - int(deleted_rows)),
            "predicate": predicate,
            "last_seq": new_seq,
        }

    return _commit(root, "delete", plan)


def version_as_of(root: str, ts: float) -> int:
    """Timestamp time travel (Delta's ``TIMESTAMP AS OF``): the latest
    snapshot committed at or before the given unix time. Commit stamps
    are written by _publish; manifests published before stamping
    existed (pre-upgrade tables) fall back to the manifest file's
    mtime — the publish hard-link's own timestamp, the same signal
    Delta uses for commits without commitInfo. A table whose first
    commit is after ``ts`` has no as-of state and raises."""
    best = None
    for v in _list_versions(root):
        c = _read_manifest(root, v).get("committed_at")
        if c is None:
            try:
                c = os.path.getmtime(_manifest_path(root, v))
            except OSError:
                continue
        if c <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"table at {root} has no snapshot committed at or before {ts}"
        )
    return best


def read_as_of(spark: SparkSession, root: str, ts: float) -> DataFrame:
    """read() at the snapshot current as of unix time ``ts``."""
    return read(spark, root, version_as_of(root, ts))


def clone(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    version: int | None = None,
) -> int:
    """SHALLOW CLONE (Delta's CLONE, Iceberg snapshot-ref flavor): a
    new table whose v1 manifest references the SOURCE's current data
    (and merge-on-read delete) files by relative path — zero data IO,
    instant fork. Copy-on-write then diverges naturally: a merge or
    delete on the clone rewrites only its touched files INTO THE
    CLONE's data dir, the rest keep pointing at the source. Reads
    handle external entries because layout detection is path-shape
    based (_read_paths), and clone-side vacuum only sweeps the clone's
    own data dir, never the source's.

    Delta's documented shallow-clone hazard applies identically: a
    VACUUM on the SOURCE that expires files the clone still references
    breaks the clone. Compact (or fully rewrite) the clone to make it
    self-contained before retiring source snapshots.

    Like create(), a clone that loses the race for v1 raises
    CommitConflict instead of retrying."""
    src_v, man = _snapshot(src_root, version)
    if current_version(dst_root) is not None:
        raise ValueError(f"table already exists at {dst_root}")
    os.makedirs(dst_root, exist_ok=True)

    def _rel(rel_to_src: str) -> str:
        return os.path.relpath(
            os.path.join(os.path.abspath(src_root), rel_to_src),
            os.path.abspath(dst_root),
        )

    # the source's table state (constraints and the stream-sink ledger
    # included, as Delta's CLONE copies table properties) with every
    # file path rewritten to reach the source's files from the clone
    new_man = _next_manifest(
        man, 0, "clone",
        schema=man.get("schema") or read(spark, src_root, src_v).schema.json(),
        files=[{**f, "path": _rel(f["path"])} for f in man["files"]],
        deletes=[{**e, "path": _rel(e["path"])} for e in man.get("deletes") or []]
        or None,
        # carry the SOURCE's seq counter: cloned file entries keep their
        # original seqs, so the clone's own next seq must outrank them
        # (version numbers restart at 1 here — exactly why seq != version)
        last_seq=int(man.get("last_seq", src_v)),
        cloned_from=os.path.abspath(src_root),
        cloned_version=src_v,
    )
    del new_man["parent"]  # v1 of a new table: no parent snapshot
    _publish(dst_root, 1, new_man)
    return 1


def _mor_deleted_counts(man: dict) -> dict:
    """basename -> rows removed by merge-on-read delete entries. Used
    by writers that carry untouched file entries forward to keep the
    manifest `rows` metadata exact (a file entry's recorded row count
    does not know about the overlay)."""
    out: dict[str, int] = {}
    for e in man.get("deletes") or []:
        for bn, c in (e.get("targets") or {}).items():
            out[bn] = out.get(bn, 0) + int(c)
    return out


def _write_delete_file(df: DataFrame, root: str) -> tuple[str, int] | None:
    """Write ``df`` as one parquet delete file under ``deletes/``; return
    (its root-relative path, its row count), or None when ``df`` has no
    rows (nothing to commit). The file is invisible until a manifest's
    ``deletes`` entry references it."""
    import pyarrow.parquet as pq

    staging = os.path.join(root, f".stage-{uuid.uuid4().hex}")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    del_dir = os.path.join(root, "deletes")
    os.makedirs(del_dir, exist_ok=True)
    out = None
    for part in sorted(glob.glob(os.path.join(staging, "part-*.parquet"))):
        rows = pq.ParquetFile(part).metadata.num_rows
        if rows:
            final = os.path.join(del_dir, f"{uuid.uuid4().hex}.parquet")
            os.replace(part, final)
            out = (os.path.relpath(final, root), int(rows))
            break  # coalesce(1): at most one non-empty part
    # only the part was moved out; _SUCCESS/.crc/zero-row parts would
    # otherwise accumulate under root forever (vacuum also sweeps aged
    # .stage-* dirs as crash orphans)
    shutil.rmtree(staging, ignore_errors=True)
    return out


def delete_where_mor(spark: SparkSession, root: str, predicate: str) -> int:
    """Transactional DELETE, MERGE-ON-READ (Iceberg v2 positional
    deletes): instead of rewriting the touched data files (the
    delete_where copy-on-write path), commit a small parquet DELETE
    FILE of (file basename, row position) pairs; every data file
    carries into the new snapshot path-identical and every reader
    applies the overlay as an anti-join (_read_paths). The write cost
    is proportional to the DELETED ROWS, not the touched files — the
    shape Iceberg/Delta deletion vectors use for frequent small
    deletes (GDPR erasure trickle, event retractions) where CoW write
    amplification dominates. compact_deletes() folds the overlay back
    into plain files when read amplification grows.

    Same SQL DELETE semantics as delete_where: rows delete iff the
    predicate is TRUE (NULL/UNKNOWN survive); positions are captured
    AFTER applying any existing overlay, so re-deleting an
    already-deleted row can never double-count."""

    def plan(base_v: int, man: dict[str, Any]) -> dict[str, Any]:
        entries = list(man.get("deletes") or [])
        n = 0
        if man["files"]:
            hits = (
                _read_paths(
                    spark, root, man, [f["path"] for f in man["files"]],
                    with_meta=True,
                )
                .filter(f"({predicate})")
                .select(
                    F.col("__mor_file").alias("dfile"),
                    F.col("__mor_pos").alias("dpos"),
                )
            )
            written = _write_delete_file(hits, root)
            if written is not None:
                import pyarrow.parquet as pq

                path, n = written
                tbl = pq.read_table(os.path.join(root, path), columns=["dfile"])
                targets = collections.Counter(tbl.column(0).to_pylist())
                entries.append({"path": path, "rows": n, "targets": dict(targets)})
        return {
            "rows": max(0, int(man.get("rows", 0)) - n),
            "predicate": predicate,
            "deletes": entries,
            "deleted_rows": n,
        }

    return _commit(root, "delete_mor", plan)


def _eq_delete_entry(
    spark: SparkSession,
    root: str,
    man: dict[str, Any],
    keys: DataFrame,
    seq: int,
) -> tuple[dict[str, Any], int]:
    """Write one Iceberg-v2 EQUALITY DELETE FILE (distinct key tuples,
    parquet under deletes/) and return (manifest entry, matched rows in
    the current snapshot). The matched-row count costs one read-side
    scan — Iceberg itself skips it and lets row counts go approximate;
    we pay the scan (NOT a rewrite — write amplification stays zero) to
    keep the manifest ``rows`` metadata and CDF accounting exact, and
    to record per-file ``targets`` so compact_deletes rewrites only
    affected files."""
    cols = list(keys.columns)
    if not cols:
        raise ValueError("equality delete needs at least one column")
    if man.get("schema"):
        schema_cols = {
            f.name for f in StructType.fromJson(json.loads(man["schema"])).fields
        }
        missing = [c for c in cols if c not in schema_cols]
        if missing:
            raise ValueError(
                f"equality-delete column(s) {missing} not in table schema"
            )
    kdist = keys.distinct()
    # per-file matched counts under the CURRENT overlay, one scan
    targets: dict[str, int] = {}
    n = 0
    if man["files"]:
        cur = _read_paths(
            spark, root, man, [f["path"] for f in man["files"]], with_meta=True
        )
        kren = kdist.select(*[F.col(c).alias(f"__eq_{c}") for c in cols])
        cond = None
        for c in cols:
            t = F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
            cond = t if cond is None else cond & t
        hit_counts = (
            cur.join(F.broadcast(kren), cond, "semi")
            .groupBy("__mor_file")
            .count()
            .collect()
        )
        targets = {r["__mor_file"]: int(r["count"]) for r in hit_counts}
        n = sum(targets.values())
    # write the key tuples (small by contract: keys, not positions)
    written = _write_delete_file(kdist, root)
    if written is None:  # zero key tuples: no entry to commit
        return {}, 0
    path, n_keys = written
    entry = {
        "path": path, "kind": "equality", "cols": cols, "rows": n_keys,
        "seq": int(seq), "targets": targets,
    }
    return entry, n


def delete_eq(spark: SparkSession, root: str, keys: DataFrame) -> int:
    """Transactional DELETE BY KEY, merge-on-read with an Iceberg-v2
    EQUALITY DELETE file: every row whose ``keys.columns`` values
    null-safely equal some key tuple is deleted — no data file is read
    back or rewritten beyond one counting scan, and the delete file
    stores KEY TUPLES, not row positions, so the writer never needs to
    know where the rows live. This is the delete-file kind streaming
    CDC writers emit (delete_where_mor's positional files require the
    writer to locate each row first; an equality file is writable
    straight from the CDC key stream).

    The SEQUENCE-NUMBER rule makes re-inserts sound: the entry stamps
    the commit's data sequence number and applies only to data files
    with a strictly lower stamp, so appending the key again later (or
    in the same commit — upsert_mor) is visible despite the tombstone.

    Cites the reference's keyed-delete leg of the upsert protocol
    (task.ts:235-350, query-by-key then act); the lakehouse form of A13
    for high-churn keys. Overlay resolution: compact_deletes()."""
    _check_reserved_cols(keys, "delete_eq() keys")

    def plan(base_v: int, man: dict[str, Any]) -> dict[str, Any]:
        new_seq = _next_seq(man, base_v)
        entry, n = _eq_delete_entry(spark, root, man, keys, new_seq)
        return {
            "rows": max(0, int(man.get("rows", 0)) - n),
            "deletes": list(man.get("deletes") or []) + ([entry] if entry else []),
            "deleted_rows": n,
            "eq_cols": list(keys.columns),
            "last_seq": new_seq,
        }

    return _commit(root, "delete_eq", plan)


def upsert_mor(spark: SparkSession, root: str, source: DataFrame) -> int:
    """MERGE-ON-READ UPSERT in ONE commit (the Iceberg v2 CDC write
    pattern): an equality-delete file tombstones the source's keys in
    all EXISTING data files, and the source rows append as new data
    files stamped with the SAME sequence number — which the equality
    delete, applying only to strictly-lower stamps, leaves alone. Old
    versions of the keys die, new versions live, and NOTHING is
    rewritten: write cost = new data + one small key file, versus
    merge()'s copy-on-write rewrite of every file a key touches. This
    is the lakehouse spelling a 100 TB streaming CDC ingest actually
    uses (merge-on-read amortizes the rewrite into compact_deletes
    maintenance windows).

    Same source preconditions as merge(): non-null, unique merge keys.
    Same visible result as merge(spark, root, source) — parity-tested —
    but CDF surfaces it as delete + insert rows (the Iceberg changelog
    convention for equality-delete upserts) rather than Delta's
    update_pre/postimage pairs."""
    _check_reserved_cols(source, "upsert_mor() source")

    def plan(base_v: int, man: dict[str, Any]) -> dict[str, Any]:
        key = man["key"]
        n_source = _scan_source(source, key, "upsert_mor").rows
        pcol = man.get("partition_by")
        if pcol is not None and pcol not in source.columns:
            raise ValueError(f"upsert_mor must carry partition column {pcol!r}")
        table = _table_schema(spark, root, base_v, man)
        _check_full_width(table, source, "upsert_mor")
        _enforce_constraints(source, man, "upsert_mor()")
        new_seq = _next_seq(man, base_v)
        entry, n_del = _eq_delete_entry(
            spark, root, man, source.select(key), new_seq
        )
        new_files = _write_data_files(
            source, root, key=key, partition_by=pcol, seq=new_seq
        )
        entries = list(man.get("deletes") or []) + ([entry] if entry else [])
        return {
            # schema evolution like merge(): source-only columns append;
            # old files read them as null through the pinned schema
            "schema": _write_schema(table, source).json(),
            "files": man["files"] + new_files,
            "rows": max(0, int(man.get("rows", 0)) - n_del) + n_source,
            "deletes": entries or None,
            "matched_rows": n_del,
            "inserted_rows": n_source,
            "last_seq": new_seq,
        }

    return _commit(root, "upsert_mor", plan)


def compact_deletes(spark: SparkSession, root: str) -> int:
    """Fold the merge-on-read delete overlay back into plain data
    files (Iceberg's rewrite_position_delete_files + data-file
    rewrite, reduced to one maintenance op): rewrite ONLY the data
    files some delete entry targets (_read_touched/_write_touched;
    reads apply the overlay, so the rewrite materializes the surviving
    rows), carry every untargeted file path-identical, and publish a
    snapshot with no ``deletes``.
    Read amplification returns to zero; the overlay parquet files age
    out via vacuum once their referencing manifests expire."""

    def plan(base_v: int, man: dict[str, Any]) -> dict[str, Any] | None:
        entries = man.get("deletes") or []
        if not entries:
            return None  # idempotent no-op
        targeted = {bn for e in entries for bn in e.get("targets") or {}}
        touched = [
            f for f in man["files"] if os.path.basename(f["path"]) in targeted
        ]
        new_files = [
            f for f in man["files"] if os.path.basename(f["path"]) not in targeted
        ]
        new_seq = _next_seq(man, base_v)
        if touched:
            survivors = _read_touched(spark, root, base_v, man, touched)
            new_files += _write_touched(survivors, root, man, new_seq)
        return {
            "files": new_files,
            "deletes": None,
            "resolved_delete_files": len(entries),
            "last_seq": new_seq,
        }

    return _commit(root, "compact_deletes", plan)


def update_where(
    spark: SparkSession,
    root: str,
    predicate: str,
    set_exprs: dict[str, str],
) -> int:
    """Transactional predicate UPDATE (Delta's ``UPDATE t SET ... WHERE
    ...``), file-pruned copy-on-write like delete_where: one scan finds
    the files containing matching rows; only those rewrite
    (_read_touched/_write_touched), with each SET column replaced by
    ``CASE WHEN pred THEN expr ELSE old END``;
    every other file carries path-identical. The keyed path for upserts
    stays merge() — this is the maintenance shape (backfills, GDPR
    redaction, unit fixes) where the filter, not a key set, names the
    rows. Rows where the predicate is NULL/UNKNOWN are NOT updated
    (SQL UPDATE semantics). SET targets must be existing columns —
    schema evolution stays merge()'s job, so carried-file rows never
    silently lack an updated column."""

    def plan(base_v: int, man: dict[str, Any]) -> dict[str, Any]:
        pcol = man.get("partition_by")
        _check_set_targets(spark, root, base_v, man, set_exprs, "update_where")
        if pcol is not None and pcol in set_exprs:
            raise ValueError(
                f"update_where cannot SET the partition column {pcol!r} — "
                "rows would need to move between partitions; use merge()"
            )
        touched, new_files, n_updated = _hit_file_split(
            spark, root, man, predicate
        )
        new_seq = _next_seq(man, base_v)
        if touched:
            updated = _apply_set(
                _read_touched(spark, root, base_v, man, touched),
                predicate, set_exprs, "update_where",
            )
            _enforce_constraints(updated, man, "update_where()")
            new_files += _write_touched(updated, root, man, new_seq)
        return {
            "files": new_files,
            "predicate": predicate,
            "updated_rows": int(n_updated),
            "last_seq": new_seq,
        }

    return _commit(root, "update", plan)


def _check_set_targets(
    spark: SparkSession,
    root: str,
    base_v: int,
    man: dict[str, Any],
    set_exprs: dict[str, str],
    what: str,
) -> None:
    """Reject SET targets that are not table columns (see update_where)."""
    cols = _table_schema(spark, root, base_v, man).fieldNames()
    bad = [c for c in set_exprs if c not in cols]
    if bad:
        raise ValueError(
            f"{what} SET targets {bad} are not table columns "
            f"{cols}; add columns via merge() schema evolution first"
        )


def _apply_set(
    df: DataFrame, predicate: str, set_exprs: dict[str, str], what: str
) -> DataFrame:
    """``df`` with SQL UPDATE's SET applied to the rows ``predicate``
    matches (NULL/UNKNOWN rows stay as they are).

    SQL UPDATE evaluates the predicate AND every SET expression against
    the OLD row: stage the flag and all new values first, then swap —
    sequential withColumn would leak one SET's new value into the next
    SET's (or the predicate's) inputs."""
    order = df.columns
    updated = df.withColumn("__upd", F.expr(f"({predicate})"))
    for c, expr in set_exprs.items():
        dt = updated.schema[c].dataType.simpleString()
        # The raw SET expression is guarded under the predicate
        # (ADVICE r7): SQL UPDATE only evaluates SET expressions on
        # predicate-matched rows, so an expression that is only safe
        # there (e.g. 100 / x under predicate x <> 0, or
        # element_at/assert_true) must not run — and possibly throw —
        # on non-matched rows sharing the file. CASE WHEN evaluates
        # branches lazily per-row, so unmatched rows never touch it.
        updated = updated.withColumn(
            f"__raw_{c}",
            F.when(F.col("__upd"), F.expr(f"({expr})")),
        ).withColumn(
            f"__new_{c}",
            F.when(
                F.col("__upd"),
                F.expr(f"try_cast(__raw_{c} AS {dt})"),
            ).otherwise(F.col(c)),
        )
    # cast-integrity gate (ADVICE r6 #4): the SET expression must
    # cast to the column's existing dtype. A plain cast either
    # NULLs malformed input silently (non-ANSI — silent corruption
    # in a GDPR/backfill maintenance API) or throws an opaque
    # mid-job SparkNumberFormatException (ANSI). try_cast makes
    # failure observable in BOTH modes, then one agg over the
    # rows counts matched rows whose raw SET value is non-null but
    # whose cast result is null; any such row fails the whole
    # UPDATE with a clean error before a file is written.
    viol = updated.agg(
        *[
            F.sum(
                F.when(
                    F.coalesce(F.col("__upd"), F.lit(False))
                    & F.col(f"__raw_{c}").isNotNull()
                    & F.col(f"__new_{c}").isNull(),
                    1,
                ).otherwise(0)
            ).alias(c)
            for c in set_exprs
        ]
    ).collect()[0]
    bad_casts = {c: int(viol[c]) for c in set_exprs if viol[c]}
    if bad_casts:
        tgt_types = {
            c: updated.schema[c].dataType.simpleString()
            for c in bad_casts
        }
        raise ValueError(
            f"{what} SET expression(s) do not cast to the "
            f"column type: {bad_casts} matched row(s) would be "
            f"silently NULLed (targets {tgt_types}); fix the "
            "expression or cast explicitly"
        )
    return updated.select(
        *[
            (F.col(f"__new_{c}").alias(c) if c in set_exprs else F.col(c))
            for c in order
        ]
    )


def update_where_mor(
    spark: SparkSession,
    root: str,
    predicate: str,
    set_exprs: dict[str, str],
) -> int:
    """Predicate UPDATE, merge-on-read (VERDICT r9 #8 — the MoR twin of
    :func:`update_where`): the matched rows' KEYS go into one
    Iceberg-v2 equality-delete file and their updated versions append
    as new data files stamped with the SAME sequence number (the
    :func:`upsert_mor` protocol) — nothing is rewritten, write
    cost = matched rows + one key file, versus CoW's rewrite of every
    file the predicate touches. Same visible result as
    ``update_where(root, predicate, set_exprs)`` — parity-tested —
    with two deliberate semantic differences:

    * requires the matched keys to be UNIQUE table-wide: the equality
      tombstone kills every row carrying a matched key, so a duplicate
      key shared with an unmatched row would silently delete that row.
      Detected with one semi-join count and rejected (use the CoW
      spelling for duplicate-key tables).
    * MAY SET the partition column: rows re-insert as new files, so
      they can move between partitions (CoW rewrites in place and
      rejects this).

    SQL UPDATE semantics otherwise match CoW: predicate NULL/UNKNOWN
    rows untouched, SET expressions evaluate against the OLD row and
    only on matched rows, try_cast integrity gate fails the commit if
    a SET value won't cast to the column type. CDF surfaces the commit
    as update_preimage/postimage pairs like Delta (table_changes pairs
    the equality-delete pre-images with the same-key re-inserts)."""

    def plan(base_v: int, man: dict[str, Any]) -> dict[str, Any]:
        key = man["key"]
        _check_set_targets(spark, root, base_v, man, set_exprs, "update_where_mor")
        if key in set_exprs:
            raise ValueError(
                f"update_where_mor cannot SET the merge key {key!r} — the "
                "equality tombstone and the CDF pre/post pairing are keyed "
                "on it; use merge() or the CoW update_where"
            )
        new_seq = _next_seq(man, base_v)
        entries = list(man.get("deletes") or [])
        new_files: list[dict[str, Any]] = []
        cur = read(spark, root, base_v)
        matched = cur.filter(F.expr(f"({predicate})")).cache()
        try:
            # no match: parity with CoW, still publish a (no-op) snapshot
            n_matched = matched.count()
            if n_matched:
                # duplicate-key hazard gate: the equality tombstone deletes
                # by KEY, so every row sharing a matched key must itself be
                # matched — otherwise MoR would delete rows CoW would keep.
                n_sharing = (
                    cur.join(matched.select(key).distinct(), key, "semi").count()
                )
                if n_sharing != n_matched:
                    raise ValueError(
                        f"update_where_mor: {n_sharing - n_matched} unmatched "
                        f"row(s) share a merge key with matched rows — the "
                        "equality tombstone would delete them; this table "
                        "needs the copy-on-write update_where"
                    )
                # every row here matched, but the guarded SET spelling keeps
                # SET expressions off any row a future refactor lets through
                updated = _apply_set(
                    matched, predicate, set_exprs, "update_where_mor"
                )
                _enforce_constraints(updated, man, "update_where_mor()")
                entry, _ = _eq_delete_entry(
                    spark, root, man, matched.select(key), new_seq
                )
                if entry:
                    entries.append(entry)
                new_files = _write_data_files(
                    updated, root, key=key,
                    partition_by=man.get("partition_by"), seq=new_seq,
                )
        finally:
            matched.unpersist()
        return {
            "files": man["files"] + new_files,
            "deletes": entries or None,
            "predicate": predicate,
            "updated_rows": int(n_matched),
            "last_seq": new_seq,
        }

    return _commit(root, "update_mor", plan)


def vacuum(
    root: str, keep_versions: int = 2, grace_seconds: float = 3600.0
) -> list[str]:
    """Remove data files referenced ONLY by expired snapshots, plus
    crash orphans (files no manifest ever referenced — a writer died
    between step 1 and 3 of the commit protocol). Keeps the newest
    ``keep_versions`` snapshots readable for time travel. Returns the
    deleted paths.

    ``grace_seconds`` (Delta's retention-check idea, mtime-based): an
    unreferenced path younger than the grace window is SKIPPED, because
    a file an in-flight writer wrote between commit steps 1 and 3 is
    indistinguishable from a crash orphan — without the window, a
    vacuum racing a writer deletes files the about-to-publish manifest
    references, corrupting the new snapshot. Real crash orphans age
    past the window and get collected by the next vacuum. Pass 0 ONLY
    when no writer can be in flight (exclusive maintenance)."""
    import time

    cutoff = time.time() - grace_seconds

    def _young(path: str) -> bool:
        try:
            return os.path.getmtime(path) > cutoff
        except OSError:
            return True  # disappeared/unstattable: leave it alone

    versions = _list_versions(root)
    keep = set(versions[-keep_versions:]) if versions else set()
    # named refs (branches/tags) pin their snapshots: a tagged version
    # or a branch fork point stays retained and its files stay live,
    # whatever keep_versions says
    refs = list_refs(root)
    keep.update(
        v for v in (int(t["version"]) for t in refs["tags"].values())
        if v in set(versions)
    )
    keep.update(
        v for v in (int(b["created_from"]) for b in refs["branches"].values())
        if v in set(versions)
    )
    live: set[str] = set()
    for v in keep:
        kept_man = _read_manifest(root, v)
        for f in kept_man["files"]:
            live.add(os.path.normpath(os.path.join(root, f["path"])))
        for e in kept_man.get("deletes") or []:
            live.add(os.path.normpath(os.path.join(root, e["path"])))
    # every live BRANCH workspace pins the main files its manifests
    # still reference (the documented shallow-clone hazard, solved
    # in-house because branches live inside the table root)
    for bname in refs["branches"]:
        broot = branch_root(root, bname)
        for bv in _list_versions(broot):
            try:
                bman = _read_manifest(broot, bv)
            except (OSError, ValueError):
                continue
            for f in list(bman["files"]) + list(bman.get("deletes") or []):
                live.add(os.path.normpath(os.path.join(broot, f["path"])))
    # staged (Write-Audit-Publish) snapshots count as live until
    # explicitly published or aborted — an audit may outlast any grace
    # window, so its files must never age out from under it
    for apath in glob.glob(os.path.join(root, ".audit-*.json")):
        try:
            with open(apath) as fh:
                aman = json.load(fh)
            for f in aman["files"]:
                live.add(os.path.normpath(os.path.join(root, f["path"])))
            for e in aman.get("deletes") or []:
                live.add(os.path.normpath(os.path.join(root, e["path"])))
        except (OSError, ValueError, KeyError):
            continue  # mid-write or corrupt: leave its files to the grace rule
    deleted = []
    for p in glob.glob(
        os.path.join(root, "data", "**", "*.parquet"), recursive=True
    ) + glob.glob(os.path.join(root, "deletes", "*.parquet")):
        if os.path.normpath(p) not in live and not _young(p):
            os.remove(p)
            deleted.append(p)
    for v in versions:
        if v not in keep:
            os.remove(_manifest_path(root, v))
    for tmp in glob.glob(os.path.join(root, ".manifest-*.tmp")) + glob.glob(
        os.path.join(root, ".stage-*")
    ):
        if _young(tmp):
            continue
        try:
            if os.path.isdir(tmp):
                # rmtree, not glob("*")+rmdir: Spark leaves DOTFILES
                # (.part-*.crc, ._SUCCESS.crc) the glob misses, which
                # made rmdir fail and the stage dir immortal
                shutil.rmtree(tmp)
            else:
                os.remove(tmp)
            deleted.append(tmp)
        except OSError:
            pass
    return deleted


def history(root: str) -> list[dict[str, Any]]:
    """Commit log: one row per retained snapshot."""
    return [
        {
            k: m[k]
            for k in ("version", "operation", "rows", "parent")
            if k in (m := _read_manifest(root, v))
        }
        for v in _list_versions(root)
    ]


def evolve_partition_spec(
    spark: SparkSession, root: str, new_partition_by: str | None
) -> int:
    """Iceberg-style PARTITION SPEC EVOLUTION: change the table's
    layout column METADATA-ONLY — no data rewrite. Existing files keep
    the spec they were written under (stamped per file, like Iceberg's
    per-manifest spec id); new merges/compactions write under the new
    spec, so the layout migrates lazily as files are rewritten anyway.
    Readers handle mixed layouts transparently (_read_paths groups by
    per-file spec); partition pruning trusts a file's partition value
    only under the current spec and falls back to exact residual
    filters / key-range stats for older-spec files — conservative,
    never wrong.

    ``new_partition_by`` must be an existing string-typed data column
    (it IS data in every old file, which is what makes the lazy
    migration sound), or None to de-partition."""

    def plan(base_v: int, man: dict[str, Any]) -> dict[str, Any] | None:
        old_pcol = man.get("partition_by")
        if new_partition_by == old_pcol:
            return None
        if (
            new_partition_by is not None
            and new_partition_by not in read(spark, root, base_v).columns
        ):
            raise ValueError(
                f"partition column {new_partition_by!r} not in table schema"
            )
        return {
            # pin each file's legacy default spec
            "files": [{**f, "spec": _file_spec(f, old_pcol)} for f in man["files"]],
            "partition_by": new_partition_by,
            "previous_partition_by": old_pcol,
        }

    return _commit(root, "evolve-spec", plan)


def _audit_path(root: str, token: str) -> str:
    return os.path.join(root, f".audit-{token}.json")


def read_staged(spark: SparkSession, root: str, token: str) -> DataFrame:
    """Read a staged (unpublished) snapshot by WAP token — the AUDIT
    step: run data-quality checks against exactly what publish would
    make visible, while every other reader still sees the current
    version."""
    with open(_audit_path(root, token)) as fh:
        man = json.load(fh)
    return _read_paths(spark, root, man, [f["path"] for f in man["files"]])


def publish_staged(root: str, token: str) -> int:
    """PUBLISH: atomically promote a staged snapshot. Optimistic —
    raises CommitConflict if any commit landed after the stage was
    written, and never plans again itself: the audit validated this
    manifest on its parent, so a replan on the newer snapshot would
    publish rows no audit saw. Re-stage and re-audit instead
    (streaming.pipelines.acid_wap_sink does). On success the audit
    file is consumed."""
    apath = _audit_path(root, token)
    with open(apath) as fh:
        man = json.load(fh)
    cur = current_version(root)
    if cur != man["parent"]:
        raise CommitConflict(
            f"staged snapshot audited against v{man['parent']} but table is at v{cur}"
        )
    man["version"] = man["parent"] + 1
    _publish(root, man["version"], man)
    os.remove(apath)
    return man["version"]


def abort_staged(root: str, token: str) -> None:
    """ABORT: discard a staged snapshot that failed its audit. The
    staged data files become unreferenced and age out through
    vacuum()'s normal orphan collection."""
    os.remove(_audit_path(root, token))


# --------------------------------------------------------------------------
# Named refs — branches & tags (Iceberg refs; VERDICT r9 #4)
#
# A TAG is an immutable named pointer into the main snapshot history.
# A BRANCH is a divergent writable lineage: implemented as a shallow
# clone living INSIDE the table at ``<root>/.refs/branches/<name>`` —
# the clone's relative-path file references mean zero data IO at fork,
# and because a branch root IS a table root, EVERY existing operation
# (append, merge, delete_where[_mor], delete_eq, upsert_mor,
# update_where[_mor], compaction, CDF, time travel) works on a branch
# unchanged. ``fast_forward`` publishes the branch's commits onto main
# atomically (Iceberg's fast-forward publish), re-homing branch-local
# data files into the main pool via hardlinks so dropping the branch
# afterwards never strands main.
# --------------------------------------------------------------------------

_REFS_FILE = "_refs.json"


def _refs_path(root: str) -> str:
    return os.path.join(root, _REFS_FILE)


def list_refs(root: str) -> dict[str, Any]:
    """{"branches": {name: {"created_from": v, "created_at": ts}},
    "tags": {name: {"version": v, "created_at": ts}}}"""
    try:
        with open(_refs_path(root)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {"branches": {}, "tags": {}}


def _check_ref_name(name: str) -> None:
    if not name or not all(c.isalnum() or c in "._-" for c in name):
        raise ValueError(
            f"ref name {name!r} must be non-empty [A-Za-z0-9._-]"
        )


def branch_root(root: str, name: str) -> str:
    _check_ref_name(name)
    return os.path.join(root, ".refs", "branches", name)


def create_branch(
    spark: SparkSession, root: str, name: str, version: int | None = None
) -> int:
    """Fork a writable branch from a (default: current) main snapshot.
    Returns the fork-point main version. Zero data IO — the branch's
    v1 manifest references main's files by relative path."""
    _check_ref_name(name)
    refs = list_refs(root)
    if name in refs["branches"] or name in refs["tags"]:
        raise ValueError(f"ref {name!r} already exists")
    v = _snapshot(root, version)[0]
    clone(spark, root, branch_root(root, name), version=v)
    import time as _time

    refs["branches"][name] = {
        "created_from": int(v), "created_at": _time.time(),
    }
    _write_json(_refs_path(root), refs)
    return int(v)


def create_tag(root: str, name: str, version: int | None = None) -> int:
    """Pin an immutable named tag to a (default: current) snapshot.
    Tagged snapshots never expire (expire_snapshots / vacuum keep
    them); re-creating an existing tag raises — tags don't move."""
    _check_ref_name(name)
    refs = list_refs(root)
    if name in refs["tags"] or name in refs["branches"]:
        raise ValueError(f"ref {name!r} already exists (tags are immutable)")
    v = _snapshot(root, version)[0]
    import time as _time

    refs["tags"][name] = {"version": int(v), "created_at": _time.time()}
    _write_json(_refs_path(root), refs)
    return int(v)


def drop_ref(root: str, name: str) -> None:
    """Remove a branch (and its workspace — branch-local files main
    never adopted become garbage immediately) or a tag (its snapshot
    merely becomes expirable again)."""
    refs = list_refs(root)
    if name in refs["branches"]:
        del refs["branches"][name]
        _write_json(_refs_path(root), refs)
        shutil.rmtree(branch_root(root, name), ignore_errors=True)
    elif name in refs["tags"]:
        del refs["tags"][name]
        _write_json(_refs_path(root), refs)
    else:
        raise KeyError(f"no ref {name!r}")


def read_branch(
    spark: SparkSession, root: str, name: str, version: int | None = None
) -> DataFrame:
    refs = list_refs(root)
    if name not in refs["branches"]:
        raise KeyError(f"no branch {name!r}")
    return read(spark, branch_root(root, name), version)


def read_tag(spark: SparkSession, root: str, name: str) -> DataFrame:
    refs = list_refs(root)
    if name not in refs["tags"]:
        raise KeyError(f"no tag {name!r}")
    return read(spark, root, refs["tags"][name]["version"])


def fast_forward(spark: SparkSession, root: str, name: str) -> int:
    """Publish a branch's commits onto main — Iceberg's fast-forward:
    valid only while main still sits at the branch's fork point (any
    main commit since forking makes the publish a MERGE, which this
    deliberately is not — rebase by re-branching). Each branch commit
    becomes a main commit with the same operation metadata; branch-
    local data/delete files are HARDLINKED into main's pool (same
    uuid basenames, so per-file ``targets`` maps stay valid) and the
    published manifests reference the main-local copies — dropping the
    branch afterwards cannot strand main. The branch ref survives,
    re-based onto the new head (Iceberg keeps the branch too).

    Returns the new main head version. CDF across the publish works
    because each branch commit keeps its own file delta and delete
    entries (table_changes sees them as ordinary main commits). A main
    commit since the fork, or one racing the publish, raises
    CommitConflict: it is never retried, because on a moved main the
    publish is no longer a fast-forward."""
    refs = list_refs(root)
    if name not in refs["branches"]:
        raise KeyError(f"no branch {name!r}")
    fork_v = int(refs["branches"][name]["created_from"])
    main_v = current_version(root)
    if main_v != fork_v:
        raise CommitConflict(
            f"branch {name!r} forked at v{fork_v} but main is at "
            f"v{main_v} — not a fast-forward; re-branch and replay"
        )
    broot = branch_root(root, name)
    bvs = _list_versions(broot)
    abs_root = os.path.abspath(root)
    abs_broot = os.path.abspath(broot)

    def _rehome(entry: dict[str, Any]) -> dict[str, Any]:
        e = dict(entry)
        ap = os.path.normpath(os.path.join(abs_broot, e["path"]))
        if ap.startswith(abs_broot + os.sep):
            # branch-local file: hardlink into main's matching dir
            rel = os.path.relpath(ap, abs_broot)  # data/... or deletes/...
            dst = os.path.join(abs_root, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(ap, dst)
            except FileExistsError:
                pass  # retried publish: same uuid content, keep it
            e["path"] = rel
        else:
            # already a main file — re-relativize against main root
            e["path"] = os.path.relpath(ap, abs_root)
        return e

    head = main_v
    for bv in bvs:
        if bv == 1:
            continue  # the clone commit is the fork point itself
        man = _read_manifest(broot, bv)
        head += 1
        man["version"] = head
        man["parent"] = head - 1
        man["files"] = [_rehome(f) for f in man["files"]]
        if man.get("deletes"):
            man["deletes"] = [_rehome(e) for e in man["deletes"]]
        man.pop("cloned_from", None)
        man.pop("cloned_version", None)
        man["published_from_branch"] = name
        _publish(root, head, man)
    refs = list_refs(root)
    refs["branches"][name]["created_from"] = int(head)
    _write_json(_refs_path(root), refs)
    return head


def expire_snapshots(
    root: str,
    keep_last: int | None = None,
    keep_since: float | None = None,
) -> list[int]:
    """Policy-driven snapshot EXPIRATION (Iceberg expire_snapshots),
    distinct from vacuum's grace-window file GC: removes old MANIFESTS
    so their versions stop being time-travel targets. A snapshot
    expires only if EVERY given policy agrees (Iceberg's
    retain-last AND older-than composition):

    * ``keep_last=N``  — the newest N snapshots always survive
    * ``keep_since=ts`` — snapshots committed at/after ``ts`` survive

    NEVER expired, regardless of policy: the current head, tagged
    snapshots, and every branch's fork point (a branch's relative file
    references resolve through it — expiring it would orphan the
    branch's view of history). Returns the expired version numbers;
    run vacuum() afterwards to collect the data files only expired
    snapshots referenced."""
    if keep_last is None and keep_since is None:
        raise ValueError("expire_snapshots needs keep_last or keep_since")
    if keep_last is not None and keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = _list_versions(root)
    if not versions:
        return []
    head = versions[-1]
    refs = list_refs(root)
    protected = {head}
    protected.update(int(t["version"]) for t in refs["tags"].values())
    protected.update(
        int(b["created_from"]) for b in refs["branches"].values()
    )
    newest = set(versions[-keep_last:]) if keep_last is not None else set()
    expired = []
    for v in versions:
        if v in protected or v in newest:
            continue
        if keep_since is not None:
            try:
                if _read_manifest(root, v).get("committed_at", 0) >= keep_since:
                    continue
            except (OSError, ValueError):
                pass
        os.remove(_manifest_path(root, v))
        expired.append(v)
    return expired


def compact(spark: SparkSession, root: str) -> int:
    """OPTIMIZE: fold small data files into the table's rewrite layout
    under the same snapshot protocol — a metadata-only change to
    readers (same rows, operation='compact' in history). Small files
    are the tax every merge-heavy table pays; compaction amortizes it
    back out.

    A file is small when its footer holds fewer than _CHUNK_ROWS rows.
    The small files are cut by _segments, as any rewrite's touched
    files are, and each segment of two or more files is rewritten
    through _read_touched/_write_touched: sorted by key in one task
    and written in chunks of at most _CHUNK_ROWS rows, so the result
    keeps the disjoint key ranges a merge leaves. A file with no rows
    is dropped. Every other file carries forward path-identical; when
    nothing packs or drops, nothing is published. Rewritten files take
    the NEW sequence number: a carried equality-delete entry (lower
    seq) no longer applies to them, which is correct, because the
    rewrite read already applied the overlay.

    At 100 TB this is the nightly maintenance job: each segment is an
    independent task, and nothing blocks concurrent readers (they hold
    older manifests) or writers: a compaction that loses the publish
    race to a writer plans again on the writer's snapshot (_commit),
    so it never drops that commit's files. A crash mid-compaction
    leaves only vacuum-able orphans."""

    def plan(base_v: int, man: dict[str, Any]) -> dict[str, Any] | None:
        # a file with no rows (an empty write task leaves one) carries no
        # key range, so no segment would take it: it is simply dropped
        empty = [f for f in man["files"] if f.get("rows") == 0]
        small = [f for f in man["files"] if 0 < f.get("rows", 0) < _CHUNK_ROWS]
        packed = [
            f for seg in _segments(man["files"], small) if len(seg) > 1 for f in seg
        ]
        if not packed and not empty:
            return None  # nothing to do
        gone = {id(f) for f in packed + empty}
        carried = [f for f in man["files"] if id(f) not in gone]
        new_seq = _next_seq(man, base_v)
        new_files = (
            _write_touched(
                _read_touched(spark, root, base_v, man, packed), root, man, new_seq
            )
            if packed
            else []
        )
        return {
            "schema": _table_schema(spark, root, base_v, man).json(),
            "files": carried + new_files,
            # visible rows are invariant under compaction; with a
            # merge-on-read overlay the carried entries' recorded counts
            # overstate, so trust the running total instead of recounting
            "rows": man.get("rows", 0)
            if man.get("deletes")
            else sum(f.get("rows", 0) for f in carried + new_files),
            "compacted_files": len(gone),
            "produced_files": len(new_files),
            "last_seq": new_seq,
        }

    return _commit(root, "compact", plan)


def compact_zorder(
    spark: SparkSession,
    root: str,
    cols: tuple[str, str],
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """OPTIMIZE ZORDER BY (a, b): recluster the table's data files
    along the Morton (Z-order) interleave of two integer columns, so
    every rewritten file covers a RECTANGLE-ish region of the (a, b)
    plane and its manifest col_stats become tight on BOTH columns at
    once — after which read_where() prunes files for a predicate on
    EITHER dimension (the multi-dimensional layout Delta/Iceberg's
    OPTIMIZE ZORDER computes; etl_zorder_key is the same interleave
    as a query). Plain compact() sorts by the single table key, which
    leaves the second dimension scattered across every file.

    Unlike compact() (which folds key-adjacent small files into key
    chunks), z-ordering is a RECLUSTER: all files (per partition value,
    on partitioned tables) pool into one range-shuffle by zkey into
    ceil(total_bytes/target) output files. Same snapshot protocol —
    readers on older manifests never block, a crash leaves vacuum-able
    orphans, and a lost publish race reclusters the writer's snapshot.

    At 100 TB: one range shuffle per maintenance window over the
    partitions selected for rewrite; every selective rectangle query
    afterwards opens O(perimeter) files instead of O(table). The
    16+16-bit interleave caps useful distinct cells at 65k per axis —
    file-level (not row-level) locality, which is all manifest
    pruning can use."""
    a, b = cols
    zterms = " + ".join(
        [f"((({a} & 65535) >> {i} & 1) * {1 << (2 * i)})" for i in range(16)]
        + [f"((({b} & 65535) >> {i} & 1) * {1 << (2 * i + 1)})" for i in range(16)]
    )

    def plan(base_v: int, man: dict[str, Any]) -> dict[str, Any]:
        key = man["key"]
        pcol = man.get("partition_by")
        for c in (a, b):
            if c == pcol:
                raise ValueError(f"cannot z-order by partition column {c!r}")
        table_schema = read(spark, root, base_v).schema
        for c in (a, b):
            if c not in table_schema.fieldNames():
                raise ValueError(f"z-order column {c!r} not in table schema")
        # pool files per (spec, partition) value (z-order never crosses
        # partitions; an older spec's files pool separately and land back
        # under the CURRENT spec — reclustering migrates the layout)
        pools: dict[Any, list[dict[str, Any]]] = {}
        for f in man["files"]:
            pools.setdefault((_file_spec(f, pcol), f.get("partition")), []).append(f)
        new_files: list[dict[str, Any]] = []
        new_seq = _next_seq(man, base_v)
        for _pval, pool in sorted(pools.items(), key=lambda kv: str(kv[0])):
            total = sum(f["bytes"] for f in pool)
            pool_rows = sum(f.get("rows", 0) for f in pool)
            # clamp by row count: a degenerate byte target must not schedule
            # more range partitions than there are rows to spread
            n_out = max(1, min(-(-total // target_file_bytes), max(pool_rows, 1)))
            df = (
                _pad(
                    _read_paths(spark, root, man, [f["path"] for f in pool]),
                    table_schema,
                )
                .withColumn("__zkey", F.expr(zterms).cast("bigint"))
                .repartitionByRange(n_out, F.col("__zkey"))
                .sortWithinPartitions("__zkey")
                .drop("__zkey")
            )
            # a pool is one partition value; partition_by=pcol keeps the
            # Hive data/<col>=<val>/ layout basePath recovery relies on
            new_files.extend(
                _write_data_files(
                    df, root, key=key, partition_by=pcol, seq=new_seq
                )
            )
        # every file is rewritten through the read overlay: deletes resolve
        return {
            "schema": table_schema.json(),
            "files": new_files,
            "rows": sum(f.get("rows", 0) for f in new_files),
            "deletes": None,
            "zorder_by": [a, b],
            "compacted_files": len(man["files"]),
            "produced_files": len(new_files),
            "last_seq": new_seq,
        }

    return _commit(root, "zorder", plan)


@dataclass(frozen=True)
class _ChangePlan:
    """What snapshot ``version`` changed against its parent, as plain
    manifest data — the one per-version plan both change feeds diff
    from: table_changes in Spark and the acid_cdf stream on driver-side
    rows. File-level copy-on-write puts every rewritten row in the file
    delta (``added`` / ``removed``, relative paths); merge-on-read puts
    every deleted row behind a delete entry the version ADDED
    (``new_deletes``), whose pre-images read from the ``targets`` files
    under ``pre_overlay``: the child manifest with only the parent's
    delete entries, so rows deleted earlier cannot reappear."""

    version: int
    key: str
    child: dict[str, Any]
    parent: dict[str, Any] | None
    added: list[str]
    removed: list[str]
    new_deletes: list[dict[str, Any]]
    pre_overlay: dict[str, Any]

    def targets(self, entries: list[dict[str, Any]]) -> list[str]:
        """The child's files ``entries`` target. Targets are recorded at
        commit time, so they name only files that existed before it —
        a commit's own new files (upsert_mor) are never among them."""
        bns = {bn for e in entries for bn in e.get("targets") or {}}
        return [
            f["path"] for f in self.child["files"]
            if os.path.basename(f["path"]) in bns
        ]


def _change_plan(root: str, version: int) -> _ChangePlan:
    """The :class:`_ChangePlan` of ``version`` (v1 diffs against an
    implicit empty snapshot). The change feed's retention contract is
    checked here: both manifests must still be retained (pre-vacuum),
    the constraint Delta CDF's retention imposes."""
    mans = []
    for v in range(max(version - 1, 1), version + 1):
        try:
            mans.append(_read_manifest(root, v))
        except FileNotFoundError:
            raise FileNotFoundError(
                f"snapshot v{v} not retained (vacuumed?) — the change "
                f"feed of v{version} needs its manifest and its parent's"
            ) from None
    child = mans[-1]
    parent = mans[0] if version > 1 else None
    prev = {f["path"] for f in parent["files"]} if parent else set()
    cur = {f["path"] for f in child["files"]}
    prev_dels = {e["path"] for e in (parent or {}).get("deletes") or []}
    dels = child.get("deletes") or []
    return _ChangePlan(
        version=version,
        key=child["key"],
        child=child,
        parent=parent,
        added=sorted(cur - prev),
        removed=sorted(prev - cur),
        new_deletes=[e for e in dels if e["path"] not in prev_dels],
        pre_overlay={
            **child, "deletes": [e for e in dels if e["path"] in prev_dels]
        },
    )


def _pair_changes(
    after: DataFrame, before: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """Row-level changes between two row sets of one version, with a
    ``_change_type`` column: a key only in ``after`` is an 'insert',
    only in ``before`` a 'delete', in both with any column differing
    (one null-safe struct compare) an 'update_preimage' +
    'update_postimage' pair; a row identical on both sides is no
    change. One full outer join on ``key`` — a NULL key joins nothing,
    so its row emits nothing."""
    val_cols = [c for c in cols if c != key]
    j = after.alias("a").join(
        before.alias("b"), F.col(f"a.{key}") == F.col(f"b.{key}"), "full_outer"
    )
    a_key, b_key = F.col(f"a.{key}"), F.col(f"b.{key}")
    same = F.struct(*[F.col(f"a.{c}") for c in val_cols]).eqNullSafe(
        F.struct(*[F.col(f"b.{c}") for c in val_cols])
    )
    changed = a_key.isNotNull() & b_key.isNotNull() & ~same

    def _side(cond: Any, side: str, change_type: str) -> DataFrame:
        return j.filter(cond).select(
            *[F.col(f"{side}.{c}").alias(c) for c in cols],
            F.lit(change_type).alias("_change_type"),
        )

    return (
        _side(a_key.isNotNull() & b_key.isNull(), "a", "insert")
        .unionByName(_side(a_key.isNull() & b_key.isNotNull(), "b", "delete"))
        .unionByName(_side(changed, "b", "update_preimage"))
        .unionByName(_side(changed, "a", "update_postimage"))
    )


def table_changes(
    spark: SparkSession, root: str, v_from: int, v_to: int | None = None
) -> DataFrame:
    """Row-level CHANGE DATA FEED between two snapshots — Delta CDF /
    Iceberg changelog semantics computed LAZILY from retained
    snapshots, no change log written at commit time. For every version
    v in (v_from, v_to]: rows keyed into files ADDED by v are diffed
    against rows keyed into files REMOVED by v (file-level
    copy-on-write means every row-level change lives in that file
    delta):

      key only in added files            -> 'insert'
      key only in removed files          -> 'delete'
      key in both, any column differs    -> 'update_preimage' +
                                            'update_postimage'
      key in both, row identical         -> carried row inside a
                                            rewritten file: NOT a
                                            change, emitted as nothing

    Appends `_change_type` and `_commit_version` columns to the table
    schema. Requires the manifests in (v_from, v_to] and their parent
    file sets to still be retained (pre-vacuum) — same constraint as
    Delta CDF's retention. Requires KEY-UNIQUE tables: append() admits
    duplicate merge keys, but a duplicated key inside a file delta has
    no well-defined row-level diff — detected and rejected with a
    ValueError rather than multiplying pre/postimages.

    Scale: per version, the diff reads ONLY the added/removed file
    delta (merge rewrites scale with touched files, so the diff does
    too — never the table), joins on the merge key, and compares rows
    with one null-safe struct equality; downstream incremental
    consumers get exactly-the-changes without re-scanning snapshots.
    """
    if v_to is None:
        v_to = current_version(root) or 0
    if v_from >= v_to:
        raise ValueError(f"empty change range ({v_from}, {v_to}]")
    # v_from=0 means "since before the table existed": v1 (create)
    # diffs against an implicit empty snapshot
    plans = [_change_plan(root, v) for v in range(v_from + 1, v_to + 1)]
    full = read(spark, root, v_to).schema  # widest schema in range
    cols = full.fieldNames()

    def _read_files(paths: list[str], side_man: dict[str, Any] | None) -> DataFrame:
        if not paths:
            return _pad(read(spark, root, v_to).limit(0), full)
        return _pad(_read_paths(spark, root, side_man, paths), full)

    out: DataFrame | None = None
    for plan in plans:
        v, key = plan.version, plan.key
        # added files read under the CHILD manifest's overlay; REMOVED
        # files are the parent snapshot's rows, so they must read under
        # the PARENT manifest's overlay. Reading the pre-image under the
        # child is wrong exactly when the child RESOLVED the overlay
        # (compact_deletes / zorder publish with no `deletes` key):
        # rows already deleted by an earlier delete_where_mor would
        # reappear in `before`, and a maintenance commit — which, like
        # Delta CDF under OPTIMIZE, must emit NO changes — would emit
        # phantom 'delete' events re-exposing erased row content.
        after = _read_files(plan.added, plan.child)
        before = _read_files(plan.removed, plan.parent)
        # append() deliberately admits duplicate merge keys, and a
        # duplicated key that lives on only ONE side of the diff is
        # still well-defined (each row is its own insert/delete). What
        # has NO row-level diff is a key duplicated in a delta AND
        # present on the other side: the full_outer join would multiply
        # pre/postimages, emitting phantom changes. Fail fast with the
        # contract instead of returning a silently-wrong feed.
        for side, df_side, df_other in (
            ("added", after, before),
            ("removed", before, after),
        ):
            dup = (
                df_side.groupBy(key)
                .count()
                .filter(F.col("count") > 1)
                .select(key)
                .join(df_other.select(key), key, "semi")
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"CDF diff at v{v}: merge key {dup[0][0]!r} is "
                    f"duplicated in the {side} files and present on "
                    "the other side of the delta — no well-defined "
                    "row-level diff exists (append() with duplicate "
                    "keys breaks CDF for later rewrites of those "
                    "keys; dedupe with dedup_key_last_write first)"
                )
        # MERGE-ON-READ deletes: a delete_mor commit changes no data
        # files (the file diff above is empty), so surface its delta
        # from the DELETE-ENTRY diff instead — the pre-image rows are
        # read from v's data files under the PARENT overlay (so rows
        # already deleted earlier can't reappear), semi-joined against
        # the entries v added.
        pre_images: list[DataFrame] = []

        def _pre_image(entries: list[dict[str, Any]]) -> DataFrame | None:
            tgt = plan.targets(entries)
            if not tgt:
                return None
            return _read_paths(
                spark, root, plan.pre_overlay, tgt, with_meta=True
            )

        pos_new = [
            e for e in plan.new_deletes
            if e.get("kind", "positional") == "positional"
        ]
        eq_new = [e for e in plan.new_deletes if e.get("kind") == "equality"]
        pre_img = _pre_image(pos_new)
        if pre_img is not None:
            dl_new = spark.read.schema("dfile STRING, dpos BIGINT").parquet(
                *[os.path.join(root, e["path"]) for e in pos_new]
            )
            pre_images.append(
                pre_img.join(
                    dl_new,
                    (pre_img["__mor_file"] == dl_new.dfile)
                    & (pre_img["__mor_pos"] == dl_new.dpos),
                    "semi",
                )
            )
        for e in eq_new:  # one semi-join per new equality file
            pre_img = _pre_image([e])
            if pre_img is None:
                continue
            cols_e = list(e["cols"])
            kdf = (
                spark.read.parquet(os.path.join(root, e["path"]))
                .select(*[F.col(c).alias(f"__eq_{c}") for c in cols_e])
            )
            cond = None
            for c in cols_e:
                t = F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
                cond = t if cond is None else cond & t
            pre_images.append(pre_img.join(F.broadcast(kdf), cond, "semi"))
        mor_deleted = None
        for hit in pre_images:
            hit = _pad(hit.drop("__mor_file", "__mor_pos"), full)
            mor_deleted = hit if mor_deleted is None else mor_deleted.unionByName(hit)
        if mor_deleted is not None and plan.child.get("operation") == "update_mor":
            # A predicate UPDATE spelled merge-on-read lands as an
            # equality tombstone + same-seq re-insert: delete and insert
            # rows on the SAME keys. Delta CDF's convention for UPDATE
            # is pre/postimage pairs, so the tombstoned pre-images pair
            # with the re-inserts like a copy-on-write file diff
            # (update_where_mor forbids SET on the key, so the pairing
            # is total; a SET that computed the old value is no change).
            before, mor_deleted = before.unionByName(mor_deleted), None
        delta = _pair_changes(after, before, key, cols)
        if mor_deleted is not None:
            delta = delta.unionByName(
                mor_deleted.withColumn("_change_type", F.lit("delete"))
            )
        delta = delta.withColumn("_commit_version", F.lit(v))
        out = delta if out is None else out.unionByName(delta)
    return out


def files_table(spark: SparkSession, root: str, version: int | None = None) -> DataFrame:
    """Iceberg's ``.files`` metadata table: one row per file in a
    snapshot — data files AND merge-on-read delete files, distinguished
    by ``content`` (DATA / POSITION_DELETES / EQUALITY_DELETES, the
    Iceberg three-way breakdown) — so maintenance planning (what would
    compact/zorder touch? how much delete-overlay read amplification
    has accumulated? which partitions fragment?) is itself a query
    instead of manifest spelunking. ``seq`` is the data sequence number
    (0 for pre-upgrade entries); for delete files ``rows`` is the
    number of delete records (positions / key tuples). Reads ONLY the
    manifest plus one os.stat per delete file: no data IO,
    O(|files|) driver rows."""
    man = _snapshot(root, version)[1]
    rows = []
    for f in man["files"]:
        # a missing key_range is SQL NULL, not the string 'None' —
        # maintenance queries filter `key_min IS NULL`, and 'None'
        # would both dodge that filter and sort as a real value
        kr = f.get("key_range") or [None, None]
        rows.append(
            (
                f["path"],
                "DATA",
                int(f.get("bytes", 0)),
                int(f.get("rows", 0)),
                str(f.get("partition")) if f.get("partition") is not None else None,
                str(kr[0]) if kr[0] is not None else None,
                str(kr[1]) if kr[1] is not None else None,
                int(f.get("seq", 0)),
            )
        )
    for e in man.get("deletes") or []:
        try:
            nbytes = os.path.getsize(os.path.join(root, e["path"]))
        except OSError:
            nbytes = 0
        rows.append(
            (
                e["path"],
                "EQUALITY_DELETES"
                if e.get("kind") == "equality"
                else "POSITION_DELETES",
                nbytes,
                int(e.get("rows", 0)),
                None,
                None,
                None,
                int(e.get("seq", 0)),
            )
        )
    return spark.createDataFrame(
        rows,
        "path string, content string, bytes long, rows long, "
        "partition string, key_min string, key_max string, seq long",
    )


def snapshots_table(spark: SparkSession, root: str) -> DataFrame:
    """Iceberg's ``.snapshots`` / Delta's DESCRIBE HISTORY as a
    DataFrame: one row per retained snapshot with operation, row
    count, parent, and file count — the commit log queryable with the
    same engine that writes it."""
    rows = []
    for v in _list_versions(root):
        m = _read_manifest(root, v)
        rows.append(
            (
                int(m["version"]),
                # same NULL discipline as files_table: absent metadata
                # is SQL NULL, never the string 'None'
                str(m["operation"]) if m.get("operation") is not None else None,
                int(m.get("rows", 0)),
                int(m["parent"]) if m.get("parent") is not None else None,
                len(m.get("files", [])),
            )
        )
    return spark.createDataFrame(
        rows, "version long, operation string, rows long, parent long, n_files long"
    )
