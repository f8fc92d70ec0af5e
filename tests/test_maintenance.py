"""Compaction utility: small-files pass preserves data, hits the
target file count, and restores stats locality when asked to sort."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from etl_arcgis_spark.sources.maintenance import (
    compact_parquet,
    dir_bytes,
    plan_target_files,
)
from etl_arcgis_spark.tables import input_bytes, parquet_schema, row_count, table

SF_DIR = "/root/testdata/sf0.001"


def _parquet_files(d: str) -> list[str]:
    return glob.glob(f"{d}/*.parquet")


def test_compaction_preserves_rows_and_reduces_files(spark, tmp_path):
    src = str(tmp_path / "shattered")
    ev = table(spark, SF_DIR, "events")
    ev.repartition(40).write.parquet(src)  # simulate micro-batch litter
    assert len(_parquet_files(src)) == 40

    out = str(tmp_path / "compacted")
    got = compact_parquet(spark, src, out, target_file_mb=128)
    assert len(_parquet_files(out)) == plan_target_files(src, 128) == 1
    # content identical: same multiset of event_ids and value checksum
    a = ev.agg(F.count("*"), F.sum("event_id"), F.round(F.sum("value"), 2)).collect()
    b = got.agg(F.count("*"), F.sum("event_id"), F.round(F.sum("value"), 2)).collect()
    assert a == b


def test_compaction_sort_within_restores_rowgroup_locality(spark, tmp_path):
    src = str(tmp_path / "shattered")
    ev = table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    ev.repartition(16).write.parquet(src)

    out = str(tmp_path / "sorted")
    got = compact_parquet(
        spark, src, out, target_file_mb=1, sort_within_by=["user_id"]
    )
    # each output file is internally sorted by user_id
    for f in _parquet_files(out):
        part = spark.read.parquet(f).select("user_id").collect()
        vals = [r["user_id"] for r in part]
        assert vals == sorted(vals)
    assert got.count() == ev.count()


def test_recover_swap_promotes_staging_then_sweeps(tmp_path):
    """Crash between compact_parquet's two renames: the complete
    ._staging sibling is promoted to out_dir; leftovers swept."""
    import os

    from etl_arcgis_spark.sources.maintenance import recover_swap

    out = str(tmp_path / "tbl")
    os.makedirs(out + "._staging")
    open(out + "._staging/_SUCCESS", "w").close()
    os.makedirs(out + "._retired")
    promoted = recover_swap(out)
    assert promoted == out + "._staging"
    assert os.path.isfile(os.path.join(out, "_SUCCESS"))
    assert not os.path.exists(out + "._retired")


def test_recover_swap_incomplete_staging_uses_retired(tmp_path):
    import os

    from etl_arcgis_spark.sources.maintenance import recover_swap

    out = str(tmp_path / "tbl")
    os.makedirs(out + "._staging")  # no _SUCCESS: crashed mid-write
    os.makedirs(out + "._retired")
    open(out + "._retired/old.parquet", "w").close()
    promoted = recover_swap(out)
    assert promoted == out + "._retired"
    assert os.path.isfile(os.path.join(out, "old.parquet"))
    assert not os.path.exists(out + "._staging")


def test_size_hints_list_partitioned_dirs(spark, tmp_path):
    """One part-file lister serves every size hint: over a Spark-written
    partitionBy directory, row_count and input_bytes see the files under
    the partition subdirectories (not 0), input_bytes agrees with
    dir_bytes, and parquet_schema refuses the layout rather than return
    a schema without the partition column."""
    ev = table(spark, SF_DIR, "events").select("event_id", "event_type", "value")
    path = str(tmp_path / "ev.parquet")
    ev.write.partitionBy("event_type").parquet(path)
    assert row_count(str(tmp_path), "ev") == ev.count()
    assert input_bytes(str(tmp_path), "ev") == dir_bytes(path) > 0
    with pytest.raises(ValueError, match="partition"):
        parquet_schema(path)
