"""A keyed merge reads its source once and counts nothing after the
write; it moves no target row through a shuffle and rewrites its files
as disjoint key chunks, and compact() folds small files into the same
layout; its conditional clauses match a dict model;
blooms are written only where they can prune; append() rejects NULL
merge keys and keeps the table's columns; merge() rejects a source
narrower than the table.

Default tier on purpose — the test_acid*.py suites all run under
``-m slow``, and these are the guards on the merge's Spark job count,
its manifest counts and the bloom rule."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_arcgis_spark import acid
from perfbench.tracing import SparkCounters

# Spark jobs one merge runs on the shape below: the source aggregate's
# three, the two broadcasts (the batch, the touched keys) and the write.
# Measured 6 (13 when the source was scanned three times and the join
# recounted after the write).
MERGE_JOB_BUDGET = 6


def _table(spark, root, n=40_000, files=8):
    """``files`` range-partitioned files of ``n // files`` keys each."""
    src = spark.range(n).select(
        F.col("id").alias("fid"),
        (F.col("id") * 3).alias("x"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
    )
    acid.create(spark, root, src.repartitionByRange(files, "fid"), key="fid")


def _batch(path, updates, inserts):
    """A micro-batch parquet file: ``updates`` existing keys with new
    values, then ``inserts`` new keys."""
    fid = list(updates) + list(inserts)
    pq.write_table(
        pa.table({
            "fid": pa.array(fid, pa.int64()),
            "x": pa.array([-k for k in fid], pa.int64()),
            "v": [f"b{k}" for k in fid],
        }),
        path,
    )
    return path


def test_merge_stays_within_job_budget(spark, tmp_path):
    root = str(tmp_path / "t")
    _table(spark, root)
    assert len(acid._snapshot(root)[1]["files"]) >= 8
    path = _batch(
        str(tmp_path / "b.parquet"),
        range(0, 12_000, 7),  # keys in the first three files
        range(40_000, 40_500),
    )
    src = spark.read.parquet(path)
    counters = SparkCounters(spark)
    before = counters.begin("merge-job-budget")
    try:
        acid.merge(spark, root, src)
    finally:
        jobs = counters.end("merge-job-budget", before)["jobs"]
    assert jobs <= MERGE_JOB_BUDGET, f"merge ran {jobs:.0f} Spark jobs"


def _disjoint(files):
    """Whether the files' recorded key ranges are pairwise disjoint."""
    rs = sorted(f["key_range"] for f in files)
    return all(a[1] < b[0] for a, b in zip(rs, rs[1:]))


def test_merge_shuffles_less_than_its_batch(spark, tmp_path):
    """The touched target rows stream past the broadcast batch: the
    merge's jobs shuffle fewer bytes than the batch file holds (only the
    source aggregate exchanges anything)."""
    root = str(tmp_path / "t")
    _table(spark, root)
    path = _batch(
        str(tmp_path / "b.parquet"), range(0, 12_000, 7), range(40_000, 40_500)
    )
    counters = SparkCounters(spark)
    before = counters.begin("merge-shuffle")
    try:
        acid.merge(spark, root, spark.read.parquet(path))
    finally:
        shuffled = counters.end("merge-shuffle", before)["shuffle_write_bytes"]
    assert shuffled < os.path.getsize(path), f"merge shuffled {shuffled:.0f} bytes"


def test_recency_merges_keep_key_ranges_disjoint(spark, tmp_path):
    """Ten micro-batches of recency-skewed updates plus tail inserts
    into a range-clustered table: every commit leaves the live files'
    key ranges pairwise disjoint, and a point read of a key the last
    batch updated opens one file."""
    root = str(tmp_path / "t")
    _table(spark, root)
    rng = np.random.default_rng(0)
    n = 40_000
    for i in range(10):
        ages = rng.exponential(2_000, 500).astype(np.int64)
        upd = np.unique(np.clip(n - 1 - ages, 0, None)).tolist()
        path = _batch(str(tmp_path / f"b{i}.parquet"), upd, range(n, n + 500))
        n += 500
        v = acid.merge(spark, root, spark.read.parquet(path))
        files = acid._read_manifest(root, v)["files"]
        assert _disjoint(files), f"merge {i}: {sorted(f['key_range'] for f in files)}"
    got = acid.read_point(spark, root, upd[-1])
    assert len(got.inputFiles()) == 1
    assert [r.v for r in got.collect()] == [f"b{upd[-1]}"]


def test_partitioned_merge_chunks_are_disjoint_per_partition(spark, tmp_path):
    """On a partitioned table the post-image is sorted by (partition,
    key), so the new files of each partition hold disjoint key ranges."""
    root = str(tmp_path / "p")
    df = spark.range(60_000).select(
        F.col("id").alias("fid"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("p"),
    )
    acid.create(spark, root, df.repartitionByRange(4, "fid"), key="fid", partition_by="p")
    old = {f["path"] for f in acid._read_manifest(root, 1)["files"]}
    keys = range(20_000, 62_000, 3)
    path = str(tmp_path / "b.parquet")
    pq.write_table(
        pa.table({
            "fid": pa.array(keys, pa.int64()),
            "v": [f"u{k}" for k in keys],
            "p": ["a" if k % 2 == 0 else "b" for k in keys],
        }),
        path,
    )
    v = acid.merge(spark, root, spark.read.parquet(path))
    new = [f for f in acid._read_manifest(root, v)["files"] if f["path"] not in old]
    for part in ("a", "b"):
        mine = [f for f in new if f["partition"] == part]
        assert len(mine) > 1 and _disjoint(mine), sorted(f["key_range"] for f in mine)
    got = {r.fid: (r.v, r.p) for r in acid.read(spark, root).collect()}
    assert len(got) == len(set(range(60_000)) | set(keys))
    assert got[20_000] == ("u20000", "a") and got[20_001] == ("v20001", "b")


@pytest.mark.parametrize(
    "writer", ["delete_where", "update_where", "delete_where_mor+compact_deletes"]
)
def test_predicate_rewrites_keep_key_ranges_disjoint(spark, tmp_path, writer):
    """The other copy-on-write writers rewrite their touched files the
    way merge does: a predicate that hits every other file of a 40-file
    range-clustered table leaves the live files' key ranges pairwise
    disjoint, a point read opens one file, and the table matches a dict
    model."""
    root = str(tmp_path / "t")
    _table(spark, root, files=40)
    model = {k: (3 * k, f"v{k}") for k in range(40_000)}
    pred = "fid % 2000 = 7"
    hit = [k for k in model if k % 2000 == 7]
    if writer == "update_where":
        acid.update_where(spark, root, pred, {"x": "x + 1"})
        model.update({k: (3 * k + 1, f"v{k}") for k in hit})
    else:
        if writer == "delete_where":
            acid.delete_where(spark, root, pred)
        else:
            acid.delete_where_mor(spark, root, pred)
            acid.compact_deletes(spark, root)
        for k in hit:
            del model[k]
    files = acid._snapshot(root)[1]["files"]
    assert _disjoint(files), sorted(f["key_range"] for f in files)
    opened = len(acid.read_point(spark, root, 4007).inputFiles())
    # a deleted key may also be skipped by its chunk's bloom
    assert opened == 1 if writer == "update_where" else opened <= 1, opened
    got = {r.fid: (r.x, r.v) for r in acid.read(spark, root).collect()}
    assert got == model


def test_compact_leaves_full_chunks_in_place(spark, tmp_path):
    """Files of at least _CHUNK_ROWS rows are not small: compacting a
    table of two 20,000-row files publishes nothing and leaves every
    file where it was."""
    root = str(tmp_path / "t")
    _table(spark, root, files=2)
    files = acid._read_manifest(root, 1)["files"]
    assert len(files) == 2 and all(f["rows"] >= acid._CHUNK_ROWS for f in files)
    assert acid.compact(spark, root) == 1
    assert acid.current_version(root) == 1
    assert acid._snapshot(root)[1]["files"] == files


def test_compact_folds_small_files_into_disjoint_chunks(spark, tmp_path):
    """Three narrow merges fragment a 40-file range-clustered table;
    compact() rewrites the small files as key chunks of at most
    _CHUNK_ROWS rows with pairwise disjoint ranges. A point read then
    opens one file, the table matches a dict model, and the next
    one-key merge rewrites one chunk, not the table."""
    root = str(tmp_path / "t")
    _table(spark, root, files=40)
    model = {k: (3 * k, f"v{k}") for k in range(40_000)}
    batches = [
        ([5, 7_005, 21_005], [40_000]),
        ([12_003, 33_333], [40_001, 40_002]),
        ([1, 39_999], []),
    ]
    for i, (upd, ins) in enumerate(batches):
        path = _batch(str(tmp_path / f"b{i}.parquet"), upd, ins)
        acid.merge(spark, root, spark.read.parquet(path))
        model.update({k: (-k, f"b{k}") for k in upd + ins})
    before = acid._snapshot(root)[1]["files"]
    v = acid.compact(spark, root)
    man = acid._read_manifest(root, v)
    files = man["files"]
    assert man["operation"] == "compact" and len(files) < len(before)
    assert man["rows"] == len(model)
    assert all(f["rows"] <= acid._CHUNK_ROWS for f in files), [f["rows"] for f in files]
    assert _disjoint(files), sorted(f["key_range"] for f in files)
    got = acid.read_point(spark, root, 21_005)
    assert len(got.inputFiles()) == 1
    assert [r.v for r in got.collect()] == ["b21005"]
    assert {r.fid: (r.x, r.v) for r in acid.read(spark, root).collect()} == model
    path = _batch(str(tmp_path / "one.parquet"), [20_500], [])
    v = acid.merge(spark, root, spark.read.parquet(path))
    live = {f["path"] for f in acid._read_manifest(root, v)["files"]}
    rewritten = sum(f["rows"] for f in files if f["path"] not in live)
    assert 0 < rewritten <= acid._CHUNK_ROWS, rewritten


def test_compact_packs_files_without_key_ranges(spark, tmp_path):
    """A DECIMAL key records no key_range (its footer stats are not
    JSON-safe), so its small files pack in manifest order into runs
    of at most _CHUNK_ROWS rows: fewer files, the same rows."""
    root = str(tmp_path / "t")
    src = spark.range(20_000).select(
        F.col("id").cast("decimal(12,2)").alias("fid"), (F.col("id") * 3).alias("x")
    )
    acid.create(spark, root, src.repartitionByRange(20, "fid"), key="fid")
    before = acid._read_manifest(root, 1)["files"]
    assert len(before) == 20 and not any("key_range" in f for f in before)
    rows = sorted(map(tuple, acid.read(spark, root).collect()))
    v = acid.compact(spark, root)
    man = acid._read_manifest(root, v)
    assert len(man["files"]) < len(before) and man["rows"] == 20_000
    assert all(f["rows"] <= acid._CHUNK_ROWS for f in man["files"])
    assert sorted(map(tuple, acid.read(spark, root).collect())) == rows


def _model_merge(state, rows, delete, update):
    """MERGE INTO over a dict ``{id: {column: value}}``: ``rows`` are
    source dicts, ``delete``/``update`` predicates over (source row,
    target row or None)."""
    out = {k: dict(r) for k, r in state.items()}
    for s in rows:
        t = state.get(s["id"])
        if delete(s, t):
            out.pop(s["id"], None)  # matched: drop; absent key: no-op
        elif t is None or update(s, t):
            out[s["id"]] = dict(s)
        else:
            out[s["id"]] = {**t, **{c: None for c in s if c not in t}}
    cols = {c for r in out.values() for c in r}
    return {k: {c: r.get(c) for c in cols} for k, r in out.items()}


@pytest.mark.parametrize("broadcast", [True, False], ids=["broadcast", "sort_merge"])
def test_conditional_merge_matches_dict_model(spark, tmp_path, broadcast):
    """The conditional MERGE clauses against a dict model, with the
    batch broadcast and with every join planned as a sort-merge join
    (the large-source plan): a false update condition keeps the target
    row, the delete condition drops a matched row and ignores a
    tombstone for an absent key, a source-only column reads NULL on
    carried rows, and a batch that touches no file still inserts."""
    root = str(tmp_path / "t")
    rows = [(i, f"v{i}") for i in range(100)]
    acid.create(
        spark, root,
        spark.createDataFrame(rows, "id INT, v STRING").repartitionByRange(4, "id"),
        key="id",
    )
    state = {i: {"id": i, "v": v} for i, v in rows}
    batches = [
        # (rows, touches a file)
        ([(1, "A", "U", 1), (2, "B", "U", 0), (3, None, "D", 1),
          (60, "X", "U", 5), (500, None, "D", 1), (200, "N", "U", 0)], True),
        ([(1000, "P", "U", 0), (1001, None, "D", 0), (1002, "Q", "U", 2)], False),
    ]
    conf = spark.conf
    threshold = conf.get("spark.sql.autoBroadcastJoinThreshold")
    if not broadcast:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for i, (batch, touches) in enumerate(batches):
            # a parquet batch carries a size estimate, so it can broadcast
            path = str(tmp_path / f"b{i}.parquet")
            spark.createDataFrame(
                batch, "id INT, v STRING, op STRING, prio INT"
            ).write.parquet(path)
            src = spark.read.parquet(path)
            v = acid.merge(
                spark, root, src,
                delete_condition="s.op = 'D'", update_condition="s.prio > 0",
            )
            state = _model_merge(
                state,
                [dict(zip(("id", "v", "op", "prio"), r)) for r in batch],
                delete=lambda s, t: s["op"] == "D",
                update=lambda s, t: s["prio"] > 0,
            )
            man = acid._read_manifest(root, v)
            assert (man["rewrote_files"] > 0) == touches
            got = {r["id"]: r.asDict() for r in acid.read(spark, root).collect()}
            assert got == state
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_merge_manifest_counts(spark, tmp_path):
    """rows / rewrote_files / carried_files of a merge, now summed from
    file footers, equal what the recounting merge recorded."""
    root = str(tmp_path / "t")
    _table(spark, root)
    path = _batch(
        str(tmp_path / "b.parquet"), range(0, 12_000, 7), range(40_000, 40_500)
    )
    v = acid.merge(spark, root, spark.read.parquet(path))
    man = acid._read_manifest(root, v)
    assert (man["rows"], man["rewrote_files"], man["carried_files"]) == (40_500, 3, 5)
    assert man["rows"] == acid.read(spark, root).count()
    # a pure insert above every range rewrites nothing
    live = len(man["files"])
    path = _batch(str(tmp_path / "c.parquet"), [], range(50_000, 50_010))
    v = acid.merge(spark, root, spark.read.parquet(path))
    man = acid._read_manifest(root, v)
    assert (man["rows"], man["rewrote_files"], man["carried_files"]) == (40_510, 0, live)


def test_partitioned_merge_manifest_counts(spark, tmp_path):
    """Partition pruning from the same source aggregate, NULL partition
    included: only files in partitions the source writes AND whose key
    range holds a source key are rewritten."""
    root = str(tmp_path / "p")
    df = spark.createDataFrame(
        [(i, f"v{i}", ["a", "b", None][i % 3]) for i in range(60)],
        "id INT, v STRING, p STRING",
    )
    acid.create(spark, root, df.repartition(2), key="id", partition_by="p")
    files = len(acid._snapshot(root)[1]["files"])
    src = spark.createDataFrame(
        [(2, "X", None), (5, "Y", None), (100, "Z", "a")],
        "id INT, v STRING, p STRING",
    )
    v = acid.merge(spark, root, src)
    man = acid._read_manifest(root, v)
    assert man["rows"] == 61 == acid.read(spark, root).count()
    # NULL partition: its files hold ids 2 and 5; partition a: id 100 is
    # above every range; partition b is not written by the source
    null_files = [f for f in acid._read_manifest(root, 1)["files"] if f["partition"] is None]
    assert man["rewrote_files"] == len(null_files)
    assert man["carried_files"] == files - len(null_files)
    got = {r.id: (r.v, r.p) for r in acid.read(spark, root).collect()}
    assert got[2] == ("X", None) and got[5] == ("Y", None) and got[100] == ("Z", "a")


def test_no_bloom_past_one_key_per_bit(spark, tmp_path, monkeypatch):
    """A file with more rows than the bloom has bits gets no key_bloom
    (it could not skip the file), and its key column is never read to
    build one; read_point still finds its rows. A small file of the
    same table keeps its bloom."""
    root = str(tmp_path / "t")
    scanned = []
    real = acid._bloom_of_column

    def spy(path, col):
        scanned.append(os.path.basename(path))
        return real(path, col)

    monkeypatch.setattr(acid, "_bloom_of_column", spy)
    n_big = acid._BLOOM_BITS + 200
    big = spark.range(n_big).select(
        F.col("id").alias("fid"), F.concat(F.lit("v"), F.col("id").cast("string")).alias("v")
    )
    acid.create(spark, root, big.coalesce(1), key="fid")
    small = spark.range(n_big, n_big + 50).select(
        F.col("id").alias("fid"), F.concat(F.lit("v"), F.col("id").cast("string")).alias("v")
    )
    v = acid.append(spark, root, small.coalesce(1))
    big_f, small_f = acid._read_manifest(root, v)["files"]
    assert big_f["rows"] == n_big and "key_bloom" not in big_f
    assert small_f["rows"] == 50 and small_f["bloom_v"] == acid._BLOOM_VERSION
    assert scanned == [os.path.basename(small_f["path"])]
    for k in (0, 517, n_big - 1, n_big + 7):
        assert [r.v for r in acid.read_point(spark, root, k).collect()] == [f"v{k}"]


def test_append_rejects_null_merge_keys(spark, tmp_path):
    """A NULL key would be dropped by both change feeds: append()
    raises before any file is written."""
    root = str(tmp_path / "t")
    schema = "id INT, v STRING"
    acid.create(spark, root, spark.createDataFrame([(1, "a")], schema), key="id")
    data = os.path.join(root, "data")
    before = sorted(os.listdir(data))
    with pytest.raises(ValueError, match="NULL"):
        acid.append(spark, root, spark.createDataFrame([(2, "b"), (None, "c")], schema))
    assert acid.current_version(root) == 1
    assert sorted(os.listdir(data)) == before
    # duplicate keys stay allowed (event-log semantics)
    v = acid.append(spark, root, spark.createDataFrame([(1, "b"), (1, "c")], schema))
    assert acid._read_manifest(root, v)["rows"] == 3 == acid.read(spark, root).count()


def test_narrow_append_keeps_the_table_columns(spark, tmp_path):
    """An append lacking a table column commits the table's schema, not
    the frame's: the column stays, and the appended rows read it as
    null."""
    root = str(tmp_path / "t")
    acid.create(
        spark, root,
        spark.createDataFrame([(1, "a", 10)], "id INT, v STRING, w INT"), key="id",
    )
    v = acid.append(spark, root, spark.createDataFrame([(2, "b")], "id INT, v STRING"))
    df = acid.read(spark, root, v)
    assert df.columns == ["id", "v", "w"]
    assert sorted(map(tuple, df.collect())) == [(1, "a", 10), (2, "b", None)]


def test_narrow_merge_source_is_rejected(spark, tmp_path):
    """MERGE replaces whole rows, so a source lacking a table column
    raises the same full-width ValueError as upsert_mor, before any
    Spark job."""
    root = str(tmp_path / "t")
    acid.create(
        spark, root,
        spark.createDataFrame([(1, "a", 10)], "id INT, v STRING, w INT"), key="id",
    )
    src = spark.createDataFrame([(1, "b")], "id INT, v STRING")
    with pytest.raises(ValueError, match=r"missing table column\(s\) \['w'\].*full-width"):
        acid.merge(spark, root, src)
    assert acid.current_version(root) == 1


def test_string_keys_with_quote_and_backslash_find_their_files(spark, tmp_path):
    """The source aggregate carries the files' key ranges as one SQL
    string literal. Keys holding ``'`` and ``\\`` must survive the
    escaping: a range literal the parser rejects fails the merge, and
    one that from_json cannot read finds no file, so every update would
    land as a duplicate insert."""
    root = str(tmp_path / "t")
    keys = [f"k\\{i:04d}'q" for i in range(400)]
    src = spark.createDataFrame([(k, 0) for k in keys], "fid string, x bigint")
    acid.create(spark, root, src.repartitionByRange(4, "fid"), key="fid")
    files = acid._snapshot(root)[1]["files"]
    assert len(files) == 4
    assert all("\\" in f["key_range"][0] and "'" in f["key_range"][1] for f in files)
    batch = spark.createDataFrame(
        [(k, 1) for k in keys[250:260]] + [("new'\\", 1)], "fid string, x bigint"
    )
    want = {
        i for i, f in enumerate(files)
        if any(f["key_range"][0] <= k <= f["key_range"][1] for k in keys[250:260])
    }
    assert want and acid._scan_source(batch, "fid", "merge", files).hit == want
    acid.merge(spark, root, batch)
    got = {r["fid"]: r["x"] for r in acid.read(spark, root).collect()}
    assert len(got) == 401 and acid.read(spark, root).count() == 401
    assert {k for k, x in got.items() if x == 1} == set(keys[250:260]) | {"new'\\"}
