"""Every ACID writer commits through one optimistic loop (acid._commit):
a writer that loses the publish race to a concurrent commit plans again
on the winner's snapshot and lands one version later, with both
commits' effects; when every attempt loses, it raises CommitConflict
naming the operation.

The race is staged by patching acid._publish: before the writer's
publish goes through, a competing one-row append commits the very
version the writer is about to publish."""

from __future__ import annotations

import re

import pytest

from etl_arcgis_spark import acid

SCHEMA = "id INT, v STRING"
BASE = {1: "a", 2: "b", 3: "c", 4: "d"}
RIVAL = (99, "z")


@pytest.fixture
def tbl(spark, tmp_path):
    root = str(tmp_path / "t")
    acid.create(spark, root, spark.createDataFrame(list(BASE.items()), SCHEMA), key="id")
    return root


def _race(monkeypatch, spark, root, every=False):
    """Patch acid._publish so that a rival append commits at the same
    version just before the writer's publish: before the first publish,
    or with ``every``, before each one."""
    real = acid._publish
    state = {"armed": True, "rival": False}

    def racing(r, version, man):
        if r == root and state["armed"] and not state["rival"]:
            state["armed"], state["rival"] = every, True
            try:
                acid.append(spark, root, spark.createDataFrame([RIVAL], SCHEMA))
            finally:
                state["rival"] = False
        return real(r, version, man)

    monkeypatch.setattr(acid, "_publish", racing)


def _df(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


# writer -> (call, manifest operation, table contents it leaves, rival aside)
CASES = {
    "append": (
        lambda s, r: acid.append(s, r, _df(s, [(5, "e")])),
        "append", {**BASE, 5: "e"},
    ),
    "delete_where": (
        lambda s, r: acid.delete_where(s, r, "id = 2"),
        "delete", {k: v for k, v in BASE.items() if k != 2},
    ),
    "delete_where_mor": (
        lambda s, r: acid.delete_where_mor(s, r, "id = 2"),
        "delete_mor", {k: v for k, v in BASE.items() if k != 2},
    ),
    "delete_eq": (
        lambda s, r: acid.delete_eq(s, r, _df(s, [(2,)], "id INT")),
        "delete_eq", {k: v for k, v in BASE.items() if k != 2},
    ),
    "update_where": (
        lambda s, r: acid.update_where(s, r, "id = 2", {"v": "'X'"}),
        "update", {**BASE, 2: "X"},
    ),
    "update_where_mor": (
        lambda s, r: acid.update_where_mor(s, r, "id = 2", {"v": "'X'"}),
        "update_mor", {**BASE, 2: "X"},
    ),
    "upsert_mor": (
        lambda s, r: acid.upsert_mor(s, r, _df(s, [(2, "X")])),
        "upsert_mor", {**BASE, 2: "X"},
    ),
    "merge": (
        lambda s, r: acid.merge(s, r, _df(s, [(2, "X")])),
        "merge", {**BASE, 2: "X"},
    ),
    "compact": (
        lambda s, r: acid.compact(s, r),
        "compact", BASE,
    ),
    "add_constraint": (
        lambda s, r: acid.add_constraint(s, r, "pos", "id > 0"),
        "add_constraint", BASE,
    ),
}


@pytest.mark.parametrize("writer", sorted(CASES))
def test_writer_lands_on_top_of_a_rival_commit(spark, tbl, monkeypatch, writer):
    write, operation, expect = CASES[writer]
    base = acid.current_version(tbl)
    _race(monkeypatch, spark, tbl)
    assert write(spark, tbl) == base + 2
    got = sorted((r.id, r.v) for r in acid.read(spark, tbl).collect())
    assert got == sorted({**expect, RIVAL[0]: RIVAL[1]}.items())
    hist = acid.history(tbl)
    assert [h["version"] for h in hist] == [base, base + 1, base + 2]
    assert [h.get("parent") for h in hist] == [None, base, base + 1]
    assert [h["operation"] for h in hist] == ["create", "append", operation]
    if writer == "compact":  # the replan packed the rival's file too
        assert len(acid._snapshot(tbl)[1]["files"]) == 1
    if writer == "add_constraint":
        assert acid.list_constraints(tbl) == {"pos": "id > 0"}


def test_every_attempt_lost_raises_naming_the_operation(spark, tbl, monkeypatch):
    _race(monkeypatch, spark, tbl, every=True)
    attempts = acid._COMMIT_ATTEMPTS
    with pytest.raises(
        acid.CommitConflict,
        match=rf"^delete lost {attempts} commit races at {re.escape(tbl)}$",
    ):
        acid.delete_where(spark, tbl, "id = 2")
    # only the rivals landed, one per lost attempt
    hist = acid.history(tbl)
    assert [h["operation"] for h in hist] == ["create"] + ["append"] * attempts
    got = sorted((r.id, r.v) for r in acid.read(spark, tbl).collect())
    assert got == sorted(BASE.items()) + [RIVAL] * attempts
