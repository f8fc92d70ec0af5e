"""Measurement plumbing: spans, Spark status-store counters, process
memory, and traced wrappers of the ``arcgis_sim`` connector.

Spans are recorded only in a traced run. Each carries a name, start,
end, parent span and operation id, is kept in memory, and is written
out when the run ends. Connector spans are emitted by the Python
workers that run the connector; they append JSON lines to a spool
directory, and the driver adopts them into the operation whose span
encloses them. ``time.perf_counter`` is CLOCK_MONOTONIC on Linux, so
driver and worker timestamps share one clock.

Spark counters are read from the status stores per job group, which
work with the UI disabled; they are read after every operation, outside
its timed region, in traced and untraced runs alike.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from etl_arcgis_spark.sources.arcgis_sim import (
    ArcGISSimDataSource,
    ArcGISSimPushdownDataSource,
    ArcGISSimPushReader,
    ArcGISSimWriter,
)

# Physical plan nodes that run Python workers: UDF evaluation, pandas and
# Arrow maps, and scans of the Python data sources of this engine.
PYTHON_NODES = re.compile(
    r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|"
    r"FlatMapCoGroupsInPandas|FlatMapGroupsInArrow|AggregateInPandas|WindowInPandas|"
    r"BatchScan \w*arcgis_sim\w*)\b"
)


class Tracer:
    """In-memory span recorder; every method is a no-op when disabled."""

    def __init__(self, enabled: bool, spool: str):
        self.enabled = enabled
        self.spool = spool
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._spool_seen: dict[str, int] = {}
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def adopt_worker_spans(self, op: str) -> list[dict]:
        """Move the spool's new worker spans of ``op`` under the innermost
        driver span of ``op`` that encloses each one's start."""
        if not self.enabled:
            return []
        new = []
        for path in sorted(glob.glob(os.path.join(self.spool, "spans-*.jsonl"))):
            with open(path) as fh:
                fh.seek(self._spool_seen.get(path, 0))
                chunk = fh.read()
            complete = chunk[: chunk.rfind("\n") + 1]
            self._spool_seen[path] = self._spool_seen.get(path, 0) + len(complete)
            new += [json.loads(line) for line in complete.splitlines() if line]
        mine = [s for s in self.spans if s["op"] == op]
        adopted = []
        for w in new:
            if w.get("op") != op:
                continue
            enclosing = [s for s in mine if s["start"] <= w["start"] <= s["end"]]
            parent = min(enclosing, key=lambda s: s["end"] - s["start"]) if enclosing else None
            w.update(id=len(self.spans), parent=parent["id"] if parent else None)
            self.spans.append(w)
            adopted.append(w)
        return adopted

    def self_times(self, op: str) -> dict[str, float]:
        """Seconds of each span name in ``op`` not covered by its children."""
        mine = [s for s in self.spans if s["op"] == op]
        out: dict[str, float] = {}
        for s in mine:
            kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in mine if c["parent"] == s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - _union(kids)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total


# --- Spark status stores ---------------------------------------------------

SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "input_bytes", "output_bytes", "sql_executions", "python_plan_nodes")


class SparkCounters:
    """Per-job-group totals from the SparkContext and SQL status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.tracker = self.sc.statusTracker()

    def executions(self) -> int:
        return int(self.sql_store.executionsCount())

    def begin(self, group: str) -> int:
        self.sc.setJobGroup(group, group)
        return self.executions()

    def end(self, group: str, executions_before: int, subgroups=()) -> dict[str, float]:
        """Totals of the jobs of ``group`` and of the ``subgroups`` the
        operation switched to, and of the SQL executions since ``begin``."""
        self.sc.setJobGroup(None, None)  # type: ignore[arg-type]
        self.bus.waitUntilEmpty()
        c = dict.fromkeys(SPARK_COUNTERS, 0.0)
        jobs = [j for g in (group, *subgroups) for j in self.tracker.getJobIdsForGroup(g)]
        for jid in jobs:
            c["jobs"] += 1
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.diskBytesSpilled()
                c["input_bytes"] += st.inputBytes()
                c["output_bytes"] += st.outputBytes()
        n = self.executions() - executions_before
        c["sql_executions"] = n
        if n > 0:
            it = self.sql_store.executionsList(executions_before, n).iterator()
            while it.hasNext():
                tree = it.next().physicalPlanDescription().split("\n\n(")[0]  # not the node details
                c["python_plan_nodes"] += len(PYTHON_NODES.findall(tree))
        return c


# --- process memory ----------------------------------------------------------


class PeakRss:
    """Peak resident memory of a process tree, sampled: the largest sum
    seen of the JVM's kernel-tracked high-water mark (VmHWM) and the
    resident memory (VmRSS) of the Python workers alive at that sample.
    Workers that were replaced never count twice."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.peak_kb = 0

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
        total = 0
        todo = [self.root]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            field = "VmHWM:" if pid == self.root else "VmRSS:"
            try:
                with open(f"/proc/{pid}/status") as fh:
                    total += next((int(l.split()[1]) for l in fh if l.startswith(field)), 0)
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    def mb(self) -> float:
        return self.peak_kb / 1024.0


# --- traced connector wrappers -------------------------------------------------
# Registered only in a traced run. The classes live in this importable
# module so Spark's Python workers load them by reference.


def _emit(options: dict, name: str, start: float, **counts) -> None:
    rec = {"name": name, "op": options.get("benchop"), "start": start,
           "end": time.perf_counter(), "pid": os.getpid(), **counts}
    with open(os.path.join(options["benchspool"], f"spans-{os.getpid()}.jsonl"), "a") as fh:
        fh.write(json.dumps(rec) + "\n")


class TracedPushReader(ArcGISSimPushReader):
    def partitions(self):
        t0 = time.perf_counter()
        parts = super().partitions()
        _emit(self.options, "arcgis_sim.partitions", t0, pages=len(parts))
        return parts

    def read(self, partition):
        t0 = time.perf_counter()
        returned = 0
        for row in super().read(partition):
            returned += 1
            yield row
        with open(self.path, "rb") as fh:
            fh.seek(partition.byte_start)
            scanned = fh.read(partition.byte_end - partition.byte_start).count(b"\n")
        _emit(self.options, "arcgis_sim.read", t0, rows_scanned=scanned, rows_returned=returned)


class TracedWriter(ArcGISSimWriter):
    def __init__(self, schema, options: dict):
        super().__init__(schema, options)
        self.options = options

    def write(self, iterator):
        t0 = time.perf_counter()
        msg = super().write(iterator)
        _emit(self.options, "arcgis_sim.sink_write", t0, sink_bytes=os.path.getsize(msg.path))
        return msg

    def commit(self, messages) -> None:
        t0 = time.perf_counter()
        super().commit(messages)
        _emit(self.options, "arcgis_sim.sink_commit", t0, sink_chunks=len(messages))


class TracedPushdownSource(ArcGISSimPushdownDataSource):
    @classmethod
    def name(cls) -> str:
        return "perfbench_arcgis_sim_pushdown"

    def reader(self, schema):
        return TracedPushReader(schema, dict(self.options))


class TracedSinkSource(ArcGISSimDataSource):
    @classmethod
    def name(cls) -> str:
        return "perfbench_arcgis_sim"

    def writer(self, schema, overwrite: bool):
        return TracedWriter(schema, dict(self.options))
