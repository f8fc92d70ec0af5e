"""The acid_cdf stream reader and acid.table_changes are one change feed:
for every commit kind, the reader's rows and schema equal table_changes'
over the same range.

Default tier on purpose — the streaming parity tests in the
test_acid*.py suites run under ``-m slow``. The reader is driven
directly through ``readBetweenOffsets`` (no streaming query), so the
test exercises the diff itself, not the micro-batch machinery."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from etl_arcgis_spark import acid
from etl_arcgis_spark.sources.acid_cdf import AcidCdfDataSource

SCHEMA = "id INT, n BIGINT, s STRING, d DATE, amt DECIMAL(10,2), x BIGINT"


def _row(i, n, s, x):
    return (i, n, s, dt.date(2024, 1, i), Decimal(f"{i}.50"), x)


ROWS = [
    _row(1, None, "a", 10), _row(2, 5, "b", 20), _row(3, 7, "c", 30),
    _row(4, 13, "d", 40), _row(5, 9, "e", 50), _row(6, 11, "f", 60),
]


def _commits(spark):
    """(name, commit) in order, after the create of ROWS[:2]."""
    wide = SCHEMA.replace(" x BIGINT", " amount BIGINT")
    return [
        # one file per commit: ids 1-2 stay alone in the NULL row's file
        ("append", lambda root: acid.append(
            spark, root, spark.createDataFrame(ROWS[2:], SCHEMA).coalesce(1)
        )),
        # changes the NULL row (n: NULL -> 7) and carries id 2, which
        # shares its file, unchanged: the pre-image side's BIGINT holds
        # a NULL, the post-image side's does not
        ("merge", lambda root: acid.merge(spark, root, spark.createDataFrame(
            [_row(1, 7, "a", 10), _row(2, 5, "b", 20)], SCHEMA
        ))),
        ("update_where", lambda root: acid.update_where(
            spark, root, "id = 3", {"s": "'C'"}
        )),
        ("delete_where", lambda root: acid.delete_where(spark, root, "id = 5")),
        ("rename_column", lambda root: acid.rename_column(
            spark, root, "x", "amount"
        )),
        ("update_where_renamed", lambda root: acid.update_where(
            spark, root, "id = 2", {"amount": "amount + 5"}
        )),
        ("delete_where_mor", lambda root: acid.delete_where_mor(
            spark, root, "id = 6"
        )),
        ("upsert_mor", lambda root: acid.upsert_mor(
            spark, root, spark.createDataFrame(
                [(4, 44, "D", dt.date(2024, 2, 4), Decimal("4.75"), 41),
                 (8, None, "h", dt.date(2024, 2, 8), Decimal("8.00"), 80)],
                wide,
            ),
        )),
        ("update_where_mor", lambda root: acid.update_where_mor(
            spark, root, "id = 1", {"amt": "amt + 1"}
        )),
        ("compact_deletes", lambda root: acid.compact_deletes(spark, root)),
        ("compact", lambda root: acid.compact(spark, root)),
    ]


def _sorted(rows):
    return sorted(rows, key=repr)


def test_stream_reader_matches_table_changes(spark, tmp_path):
    root = str(tmp_path / "cdf")
    acid.create(
        spark, root, spark.createDataFrame(ROWS[:2], SCHEMA).coalesce(1), key="id"
    )
    _assert_parity(spark, root, 0, 1, "create")
    for name, commit in _commits(spark):
        commit(root)
        v = acid.current_version(root)
        _assert_parity(spark, root, v - 1, v, name)
    _assert_parity(spark, root, 0, v, "whole history")


def _assert_parity(spark, root, lo, hi, what):
    # the reader of a stream started now: its schema is the snapshot's
    source = AcidCdfDataSource({"root": root})
    schema = source.schema()
    want = acid.table_changes(spark, root, lo, hi)
    assert [(f.name, f.dataType) for f in schema.fields] == [
        (f.name, f.dataType) for f in want.schema.fields
    ], what
    got = source.simpleStreamReader(schema).readBetweenOffsets(
        {"version": lo}, {"version": hi}
    )
    assert _sorted(got) == _sorted(tuple(r) for r in want.collect()), (
        f"{what}: ({lo}, {hi}]"
    )
