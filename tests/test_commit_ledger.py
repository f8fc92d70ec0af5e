"""The acid_sink exactly-once ledger (``stream_sinks`` in the manifest)
is table state: every commit carries it forward, so a replayed stream
batch stays a no-op whichever other writer committed in between.

Default tier on purpose — the test_acid*.py suites all run under
``-m slow``, and this is the one guard on the carry-forward rule."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_arcgis_spark import acid
from etl_arcgis_spark.sources.acid_sink import AcidStreamWriter, _StagedFile

SCHEMA = "id INT, x INT, v STRING"

WRITERS = {
    "append": lambda spark, root: acid.append(
        spark, root, spark.createDataFrame([(20, 20, "a")], SCHEMA)
    ),
    "merge": lambda spark, root: acid.merge(
        spark, root, spark.createDataFrame([(1, 99, "m")], SCHEMA)
    ),
    "delete_where": lambda spark, root: acid.delete_where(spark, root, "id = 2"),
    "update_where": lambda spark, root: acid.update_where(
        spark, root, "id = 1", {"x": "x + 1"}
    ),
    "compact": lambda spark, root: acid.compact(spark, root),
    "fast_forward": lambda spark, root: (
        acid.create_branch(spark, root, "b"),
        acid.append(
            spark, acid.branch_root(root, "b"),
            spark.createDataFrame([(20, 20, "a")], SCHEMA),
        ),
        acid.fast_forward(spark, root, "b"),
    ),
}


def _stage(root: str, name: str, ids: list[int]) -> list[_StagedFile]:
    """One staged parquet file, as an executor-side write leaves it."""
    os.makedirs(os.path.join(root, ".stream-stage"), exist_ok=True)
    rel = os.path.join(".stream-stage", f"{name}.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array(ids, pa.int32()),
                "x": pa.array(ids, pa.int32()),
                "v": [f"s{i}" for i in ids],
            }
        ),
        os.path.join(root, rel),
    )
    return [_StagedFile(rel_path=rel, rows=len(ids))]


@pytest.mark.parametrize("writer", list(WRITERS))
def test_replayed_stream_batch_is_noop_after_any_commit(spark, tmp_path, writer):
    root = str(tmp_path / "t")
    seed = spark.createDataFrame(
        [(0, 0, "seed"), (1, 1, "one"), (2, 2, "two")], SCHEMA
    )
    acid.create(spark, root, seed.repartition(2), key="id")
    sink = AcidStreamWriter({"root": root, "sinkid": "q1"}, None)
    sink.commit(_stage(root, "b3", [7]), batchId=3)
    v_sink = acid.current_version(root)

    WRITERS[writer](spark, root)
    v = acid.current_version(root)
    assert v == v_sink + 1, f"{writer} published no commit"
    rows = acid.read(spark, root).count()

    sink.commit(_stage(root, "b3-replay", [7]), batchId=3)
    assert acid.current_version(root) == v
    assert acid.read(spark, root).count() == rows
