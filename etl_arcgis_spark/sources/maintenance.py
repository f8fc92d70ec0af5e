"""Table maintenance — the operational half of a parquet lake.

The reference connector writes whatever batch size SQS hands it
(task.ts:155-361), which at warehouse scale produces the classic
small-files problem: millions of KB-sized parquet files whose open/
footer-parse overhead dwarfs the scan. These utilities are the
compaction pass a 100 TB pipeline schedules after ingest.

Scale design:
- target partition count is computed from ACTUAL on-disk bytes, not
  row counts — the write side of maxPartitionBytes reasoning;
- compaction is one job: scan (vectorized, whole files) ->
  round-robin repartition -> write. No driver-side file juggling;
- writes go to a fresh directory + rename-swap contract (same
  tmp->commit discipline as the arcgis_sim sink) so readers never see
  a half-compacted table; the two-rename window is crash-healed by
  recover_swap on next entry.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

from ..tables import parquet_parts


def dir_bytes(path: str) -> int:
    """Total size of the parquet data files under path (driver-side
    listing — metadata only, no data read)."""
    return sum(os.path.getsize(p) for p in parquet_parts(path))


def plan_target_files(path: str, target_file_mb: int = 128) -> int:
    """File count that lands compacted files near target_file_mb.
    Parquet compresses roughly the same before/after compaction, so
    on-disk bytes are the honest size signal."""
    return max(1, math.ceil(dir_bytes(path) / (target_file_mb * 1024 * 1024)))


def compact_parquet(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_file_mb: int = 128,
    sort_within_by: list[str] | None = None,
) -> DataFrame:
    """Rewrite a many-small-files parquet directory as ~target-sized
    files. Optionally sort WITHIN each output file (sortWithinPartitions
    — no global sort, no extra shuffle beyond the repartition) so
    min/max column statistics become selective again after compaction:
    row-group pruning is only as good as the data layout.

    The swap is two renames (retire old, promote stage) — NOT a single
    atomic op. A crash between them leaves no out_dir; the next call
    (or :func:`recover_swap` directly) heals it by promoting the staged
    or retired sibling, so readers lose at most the window between the
    renames, never the table.

    Returns the compacted DataFrame (re-read from out_dir)."""
    import shutil

    recover_swap(out_dir)
    n = plan_target_files(in_dir, target_file_mb)
    df = spark.read.parquet(in_dir)
    out = df.repartition(n)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    # write to a staging sibling, then rename into place — a concurrent
    # reader of out_dir sees either the old table or the new one, never
    # a half-written directory (the swap window is healed on next entry)
    stage = out_dir.rstrip("/") + "._staging"
    shutil.rmtree(stage, ignore_errors=True)
    out.write.mode("overwrite").parquet(stage)
    retired = out_dir.rstrip("/") + "._retired"
    shutil.rmtree(retired, ignore_errors=True)
    if os.path.isdir(out_dir):
        os.rename(out_dir, retired)
    os.rename(stage, out_dir)
    shutil.rmtree(retired, ignore_errors=True)
    return spark.read.parquet(out_dir)


def recover_swap(out_dir: str) -> str | None:
    """Heal :func:`compact_parquet`'s two-rename swap window: if
    ``out_dir`` is missing but its ``._staging`` (complete, with a
    ``_SUCCESS`` marker) or ``._retired`` sibling exists, promote it —
    staging preferred (it is the newly compacted copy of the same rows).
    Sweeps leftover siblings. Returns the promoted path, or None."""
    import shutil

    stage = out_dir.rstrip("/") + "._staging"
    retired = out_dir.rstrip("/") + "._retired"
    promoted: str | None = None
    if not os.path.isdir(out_dir):
        candidates = []
        if os.path.isdir(stage) and os.path.isfile(os.path.join(stage, "_SUCCESS")):
            candidates.append(stage)
        if os.path.isdir(retired):
            candidates.append(retired)
        if candidates:
            os.rename(candidates[0], out_dir)
            promoted = candidates[0]
    for d in (stage, retired):
        shutil.rmtree(d, ignore_errors=True)
    return promoted


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    bucket_key: str,
    n_buckets: int,
    sort_by: list[str] | None = None,
) -> None:
    """Persist a relation bucketed (hash-clustered) on its join key.

    THE durable co-location pattern for 100 TB fact-to-fact joins: two
    tables bucketed on the same key with the same bucket count join
    with ZERO exchange — every bucket pair is joined locally, and with
    ``sort_by`` on the key the sort-merge join skips its sort too. This
    is what replaces the reference's per-feature HTTP lookup loop
    (task.ts:267-284) when both sides are warehouse tables: co-locate
    once at write time, join for free forever after.

    Spark persists bucket metadata in the catalog (saveAsTable — the
    path-only writer cannot record bucketing).
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_key)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.format("parquet").saveAsTable(table_name)
