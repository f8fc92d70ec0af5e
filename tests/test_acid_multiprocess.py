"""Cross-PROCESS commit-race test for the acid table format.

The threaded races in test_acid.py share one JVM; the atomicity claim
acid._publish actually makes (os.link EEXIST = lost the race) is about
separate OS processes. Here two subprocesses, each with its OWN
SparkSession, interleave merges on the same table while the parent
runs vacuum sweeps — asserting that every commit lands exactly once
(no lost snapshot: the final version equals 1 + total merges and the
parent chain is gap-free), that losers retried rather than clobbered,
and that a grace-windowed vacuum never deletes a file any surviving
manifest references. (VERDICT r6 'next round' #4.)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from etl_arcgis_spark import acid


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WRITER = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession
    from etl_arcgis_spark import acid

    root, writer_id, n_merges = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    spark = (
        SparkSession.builder.master("local[2]")
        .appName(f"race-writer-{{writer_id}}")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    versions = []
    for i in range(n_merges):
        # disjoint key ranges per writer; every merge inserts 3 new keys
        base = 1000 * writer_id + 10 * i
        src = spark.createDataFrame(
            [(base + j, f"w{{writer_id}}m{{i}}r{{j}}") for j in range(3)],
            "id INT, v STRING",
        )
        # generous retry budget: the race is real contention, not a
        # test of the retry ceiling
        versions.append(acid.merge(spark, root, src, max_retries=50))
    print(json.dumps({{"writer": writer_id, "versions": versions}}))
    spark.stop()
    """
)


# Slow tier (optimization r13, VERDICT r12 order #2): heavyweight
# subprocess/streaming/property suite — excluded from the default
# pytest run (pytest.ini), executed with `-m slow`.
pytestmark = pytest.mark.slow


def test_two_process_writers_and_vacuum_no_lost_snapshot(spark, tmp_path):
    root = str(tmp_path / "racetbl")
    base = spark.createDataFrame([(1, "seed")], "id INT, v STRING")
    acid.create(spark, root, base, key="id")

    n_merges = 4
    script = _WRITER.format(repo=_REPO)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, root, str(w), str(n_merges)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for w in (1, 2)
    ]
    # parent interleaves vacuum sweeps while the writers race: the
    # 1-hour grace window must protect every in-flight writer's files
    deleted: list[str] = []
    import time

    while any(p.poll() is None for p in procs):
        deleted += acid.vacuum(root, keep_versions=2, grace_seconds=3600.0)
        time.sleep(0.5)
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=600)
        assert p.returncode == 0, f"writer failed:\n{err[-3000:]}"
        outs.append(json.loads(out.strip().splitlines()[-1]))

    # every commit landed exactly once: versions 2..(1 + 2*n_merges)
    # were each claimed by exactly one writer (os.link atomicity —
    # two writers returning the same version would mean a clobbered
    # snapshot), with no gaps
    claimed = sorted(v for o in outs for v in o["versions"])
    assert claimed == list(range(2, 2 + 2 * n_merges))
    assert acid.current_version(root) == 1 + 2 * n_merges
    # surviving manifests (vacuum expires old snapshots) chain cleanly
    for v in acid._list_versions(root):
        man = acid._read_manifest(root, v)
        assert man["version"] == v
        if v > 1:
            assert man["parent"] == v - 1

    # no lost rows: seed + every writer's inserts all present
    rows = {(r.id, r.v) for r in acid.read(spark, root).collect()}
    expect = {(1, "seed")}
    for w in (1, 2):
        for i in range(n_merges):
            for j in range(3):
                expect.add((1000 * w + 10 * i + j, f"w{w}m{i}r{j}"))
    assert rows == expect

    # the grace-windowed vacuum deleted nothing young; every file the
    # final snapshot references still exists
    man = acid._snapshot(root)[1]
    for f in man["files"]:
        assert os.path.exists(os.path.join(root, f["path"])), f["path"]


_CRASH_WRITER = textwrap.dedent(
    """
    import os, sys, time
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession
    from etl_arcgis_spark import acid

    root, sentinel = sys.argv[1], sys.argv[2]

    # Die BETWEEN commit steps 2 and 3: let _publish write + fsync the
    # tmp manifest, then signal the parent and hang before os.link —
    # the parent SIGKILLs us here, exactly the crash window the hard-
    # link protocol claims to survive.
    _real_link = os.link
    def _hang_link(src, dst, **kw):
        with open(sentinel, "w") as fh:
            fh.write(src + "\\n" + dst)
        time.sleep(300)  # parent kills us long before this returns
        return _real_link(src, dst, **kw)
    os.link = _hang_link

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("crash-writer")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    src = spark.createDataFrame(
        [(100 + j, f"crash{{j}}") for j in range(3)], "id INT, v STRING"
    )
    acid.merge(spark, root, src)  # never returns
    """
)


def test_sigkill_mid_publish_table_survives(spark, tmp_path):
    """VERDICT r7 'next round' #5: SIGKILL a writer BETWEEN tmp-write
    and hard-link (the one commit window the cross-process race test
    does not exercise). The table must stay readable at the prior
    version, the orphaned tmp manifest + data files must be
    vacuum-able (after the grace window), and a subsequent merge must
    commit the next version cleanly."""
    import glob
    import signal
    import time

    root = str(tmp_path / "crashtbl")
    base = spark.createDataFrame([(1, "seed"), (2, "keep")], "id INT, v STRING")
    acid.create(spark, root, base, key="id")
    n_files_v1 = len(acid._read_manifest(root, 1)["files"])

    sentinel = str(tmp_path / "mid_publish")
    proc = subprocess.Popen(
        [
            sys.executable,
            "-c",
            _CRASH_WRITER.format(repo=_REPO),
            root,
            sentinel,
        ],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    deadline = time.time() + 120
    while not os.path.exists(sentinel):
        assert proc.poll() is None, proc.communicate()[1][-2000:]
        assert time.time() < deadline, "writer never reached _publish"
        time.sleep(0.05)
    os.kill(proc.pid, signal.SIGKILL)
    proc.wait()

    # 1. the table is untouched: still v1, same rows, parseable chain
    assert acid.current_version(root) == 1
    got = sorted((r.id, r.v) for r in acid.read(spark, root).collect())
    assert got == [(1, "seed"), (2, "keep")]

    # 2. the crash left real debris: a tmp manifest (fsynced, never
    # linked) and the merge's new data files, referenced by nothing
    tmps = glob.glob(os.path.join(root, ".manifest-*.tmp"))
    assert len(tmps) == 1
    data_files = glob.glob(os.path.join(root, "data", "*.parquet"))
    assert len(data_files) > n_files_v1

    # 3a. a grace-windowed vacuum (writers may be in flight) must NOT
    # touch the young debris
    assert acid.vacuum(root) == []
    assert glob.glob(os.path.join(root, ".manifest-*.tmp")) == tmps

    # 3b. exclusive-maintenance vacuum (grace 0) collects every orphan
    deleted = acid.vacuum(root, grace_seconds=0.0)
    assert any(p.endswith(".tmp") for p in deleted)
    assert glob.glob(os.path.join(root, ".manifest-*.tmp")) == []
    live = {
        os.path.normpath(os.path.join(root, f["path"]))
        for f in acid._read_manifest(root, 1)["files"]
    }
    on_disk = {
        os.path.normpath(p)
        for p in glob.glob(os.path.join(root, "data", "*.parquet"))
    }
    assert on_disk == live  # orphan data files gone, live ones kept

    # 4. the table takes the next commit as if nothing happened
    src = spark.createDataFrame([(3, "after")], "id INT, v STRING")
    assert acid.merge(spark, root, src) == 2
    got = sorted((r.id, r.v) for r in acid.read(spark, root).collect())
    assert got == [(1, "seed"), (2, "keep"), (3, "after")]
