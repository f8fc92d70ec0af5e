"""Repository benchmark: seeded workloads against the public API of
``etl_arcgis_spark``, with their outputs checked.

    python3 perfbench/run.py --workload olap_headline --seed 1 --seconds 12 --trace 0

Run it from the repository root. It builds the engine's default session
(``session.get_session()``, ``SPARK_GRAFT_CPUS`` = the cores this process
may use) and drives it from one client, one operation at a time (closed
loop). It reads and writes nothing outside the checkout: scratch files
(inputs, sinks, tables, Spark's local dirs and warehouse) live under
``.perfbench_work/`` and are removed at exit; traced runs leave their
spans in ``.perfbench_out/``. Both are ignored by git.

A run: generate the inputs; set up the session; prepare the workload;
run its first cycle (its first operation is cold, stamped as
``first_op_s``) and warm-up cycles; measure
whole cycles for ``--seconds``; check the end state against a model.
With ``--trace 1`` the measured cycles alternate between untraced and
traced, and only the per-layer metrics are printed. The last stdout
line is the JSON result; the line before it stamps the session
configuration, host load and the figures below that are not metrics.

End-to-end metrics (``--trace 0``), over the measured cycles. Every
workload reports each of them, so each is defined for both; a main
operation is one query (olap_headline) or one pull-to-sink plus merge
commit (feature_sync):
  setup_s         get_session() (JVM launch included) until a first job ran
  pass_s          the sum of the median latencies of each kind of main
                  operation: the 8 headline queries one after another;
                  one sync
  features_per_s  features delivered per second of main-operation time
                  (query result rows; sink features landed plus batch
                  features committed)
  rows_per_s      source rows consumed per second of main-operation time
                  (table rows scanned; layer features paged plus batch
                  rows merged)
  write_amp       bytes written to storage (output files, manifests and
                  shuffle files) per byte of source data
  space_amp       bytes on disk per byte the current state references
Stamped only, since on a shared 4-core virtual machine they spread from
run to run by more than a bound may allow: ``first_op_s`` (one cold
operation per run); ``op_p50_s`` and ``op_p90_s``, the main-operation
latency (on olap_headline a mix of eight queries, on feature_sync three
samples); ``lookup_p50_s`` and ``lookup_p90_s``, feature_sync's
read_point lookups, jobs of ~0.2 s; and
``peak_rss_mb``, the peak resident memory of the JVM plus its Python
workers, which follows the JVM's heap sizing. A p90 falls back to the
highest percentile with at least 10 samples above it.
The share of failed or wrong operations is the result line's
``failed`` / ``attempted`` and is stamped as ``failed_op_ratio``.
Per-layer metrics (``--trace 1``) are per traced cycle:
self seconds of each layer's spans, Spark status-store counts, connector
and table counts; ratios are taken over totals. ``process.peak_rss_mb`` is
sampled like ``peak_rss_mb``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HARD_STOP_S = 110.0  # no new cycle starts after this much time


def percentile(values: list[float], q: float) -> float:
    """Linearly interpolated percentile, lowered until at least 10
    samples lie above it (never below the median)."""
    v = sorted(values)
    q = max(0.5, min(q, 1.0 - 10.0 / len(v)))
    pos = q * (len(v) - 1)
    lo = int(pos)
    return v[lo] + (v[min(lo + 1, len(v) - 1)] - v[lo]) * (pos - lo)


class Runner:
    def __init__(self, wl, counters, rss, tracer):
        self.wl, self.counters, self.rss, self.tracer = wl, counters, rss, tracer
        self.records: list[dict] = []
        self.harness_s = 0.0  # untimed work around the operations

    def run(self, op, phase: str) -> dict:
        t_in = time.perf_counter()
        if op.prep:
            op.prep()
        op_id = f"{len(self.records):04d}-{op.kind}"
        self.tracer.op = op_id
        before = self.counters.begin(op_id)
        info, err = {}, None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                info = op.run(op_id) or {}
        except Exception as e:  # noqa: BLE001 - a failed operation is counted
            err = f"{type(e).__name__}: {e}"[:400]
        wall = time.perf_counter() - t0
        spark = self.counters.end(op_id, before, info.get("job_groups", ()))
        check = info.pop("check", None)
        if err is None and check is not None:
            err = check()
        rec = {"id": op_id, "kind": op.kind, "main": op.main, "phase": phase, "wall": wall,
               "ok": err is None, "err": err, "info": info, "spark": spark,
               "worker": self.tracer.adopt_worker_spans(op_id)}
        self.records.append(rec)
        self.rss.sample()
        if err:
            print(f"FAILED {op_id}: {err}", file=sys.stderr)
        self.harness_s += time.perf_counter() - t_in - wall
        return rec

    def cycles(self, phases: tuple[str, ...], seconds: float, min_main: int,
               t_start: float) -> None:
        """Run whole cycles, taking ``phases`` ("plain", "traced") in turn,
        until ``seconds`` have passed and each phase has run ``min_main``
        main operations. Alternating gives both phases the same warm-up."""
        deadline = time.perf_counter() + seconds
        mains = dict.fromkeys(phases, 0)
        i = 0
        while (time.perf_counter() < deadline or min(mains.values()) < min_main) \
                and time.perf_counter() - t_start < HARD_STOP_S:
            phase = phases[i % len(phases)]
            i += 1
            self.tracer.enabled = self.wl.ctx.traced = phase == "traced"
            for op in self.wl.cycle():
                mains[phase] += self.run(op, phase)["main"]
        self.tracer.enabled = self.wl.ctx.traced = False


def e2e_metrics(wl, runner: Runner, setup_s: float) -> tuple[dict[str, float], dict[str, float]]:
    """(metrics, stamped figures) of the untraced measured cycles."""
    recs = [r for r in runner.records if r["phase"] == "plain"]
    mains = [r for r in recs if r["main"]]
    lookups = [r["wall"] for r in recs if not r["main"]]
    walls = [r["wall"] for r in mains]
    by_kind: dict[str, list[float]] = {}
    for r in mains:
        by_kind.setdefault(r["kind"], []).append(r["wall"])
    rows_in, rows_out, bytes_written, bytes_in = wl.amplification(mains)
    busy = sum(walls)
    metrics = {
        "setup_s": setup_s,
        "pass_s": sum(statistics.median(w) for w in by_kind.values()),
        "features_per_s": rows_out / busy,
        "rows_per_s": rows_in / busy,
        "write_amp": bytes_written / bytes_in,
        "space_amp": wl.space_amp(),
    }
    stamped = {
        "first_op_s": runner.records[0]["wall"],
        "op_p50_s": statistics.median(walls),
        "op_p90_s": percentile(walls, 0.9),
        "peak_rss_mb": runner.rss.mb(),
        "n_main": len(walls), "n_lookup": len(lookups),
    }
    if lookups:
        stamped.update(lookup_p50_s=statistics.median(lookups),
                       lookup_p90_s=percentile(lookups, 0.9))
    return metrics, stamped


SPAN_METRICS = {
    "operators.build_s": "operators.build",
    "spark.plan_s": "spark.plan",
    "spark.exec_s": "spark.exec",
    "arcgis_sim.partitions_s": "arcgis_sim.partitions",
    "arcgis_sim.page_read_s": "arcgis_sim.read",
    "geojson.build_s": "geojson.build",
    "acid.merge_s": "acid.merge",
    "acid.read_point_s": "acid.read_point",
}
WORKER_COUNTS = {
    "arcgis_sim.pages": "pages",
    "arcgis_sim.rows_scanned": "rows_scanned",
    "arcgis_sim.rows_returned": "rows_returned",
    "arcgis_sim.sink_bytes": "sink_bytes",
    "arcgis_sim.sink_chunks": "sink_chunks",
}


def layer_metrics(wl, runner: Runner, tracer, session_start_s: float) -> dict[str, float]:
    traced = [r for r in runner.records if r["phase"] == "traced"]
    plain = [r["wall"] for r in runner.records if r["phase"] == "plain" and r["main"]]
    per_cycle = sum(op.main for op in wl.cycle())
    n = max(1, sum(r["main"] for r in traced) / per_cycle)  # cycles
    selfs: dict[str, float] = {}
    coverage = []
    for r in traced:
        st = tracer.self_times(r["id"])
        for name, s in st.items():
            selfs[name] = selfs.get(name, 0.0) + s
        root = next(s for s in tracer.spans if s["op"] == r["id"] and s["name"] == "op")
        coverage.append(1.0 - st["op"] / (root["end"] - root["start"]))
    m = {"session.start_s": session_start_s, "process.peak_rss_mb": runner.rss.mb()}
    m.update({k: selfs.get(span, 0.0) / n for k, span in SPAN_METRICS.items()})
    for c in traced[0]["spark"]:
        m[f"spark.{c}"] = sum(r["spark"][c] for r in traced) / n
    workers = [w for r in traced for w in r["worker"]]
    for k, field in WORKER_COUNTS.items():
        m[k] = sum(w.get(field, 0) for w in workers) / n
    m.update(wl.layer_metrics(traced))
    m["trace.overhead_ratio"] = statistics.median(
        [r["wall"] for r in traced if r["main"]]) / statistics.median(plain)
    m["trace.coverage"] = min(coverage)
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(root, "etl_arcgis_spark"))
            and os.path.isfile(os.path.join(root, "tools", "check.py"))
            and os.path.isfile(spec_path)):
        print("run from the repository root: etl_arcgis_spark/, tools/check.py and "
              "BENCHMARK.json are required", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # Scratch space stays under the checkout, so a run touches nothing
    # outside it; Spark's Python workers import the package (and this
    # benchmark's traced connector) from the root through PYTHONPATH.
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    for d in ("tmp", "spark-local", "spool"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.chdir(work)  # spark-warehouse/ and derby.log land here
    sys.path[0] = root  # not perfbench/, whose module names are generic
    loadavg_pre = os.getloadavg()

    from pyspark import SparkContext

    from etl_arcgis_spark.session import get_session

    from perfbench.tracing import PeakRss, SparkCounters, Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_session()
        t1 = time.perf_counter()
        spark.range(1).count()
        setup_s = time.perf_counter() - t0
        session_start_s = t1 - t0

        tracer = Tracer(False, os.path.join(work, "spool"))
        ctx = Ctx(spark, tracer, root, work, args.seed)
        wl = WORKLOADS[args.workload](ctx)
        marks = {"setup": time.perf_counter() - t_start}
        wl.prepare()
        marks["prepare"] = time.perf_counter() - t_start
        runner = Runner(wl, SparkCounters(spark), PeakRss(SparkContext._gateway.proc.pid), tracer)

        first = wl.first_cycle()
        runner.run(first[0], "first")
        for op in first[1:]:
            runner.run(op, "warm")
        for _ in range(wl.warm_cycles):
            for op in wl.cycle():
                runner.run(op, "warm")
        marks["warm"] = time.perf_counter() - t_start
        if args.trace:
            runner.cycles(("plain", "traced"), args.seconds, max(2, wl.min_main // 2), t_start)
        else:
            runner.cycles(("plain",), args.seconds, wl.min_main, t_start)
        marks["measure"] = time.perf_counter() - t_start
        problems = wl.final_check(runner.records)
        marks["check"] = time.perf_counter() - t_start
        if args.trace:
            metrics, stamped = layer_metrics(wl, runner, tracer, session_start_s), {}
            names = spec["per_layer"]
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics, stamped = e2e_metrics(wl, runner, setup_s)
            names = spec["end_to_end"]
        conf = {k: spark.conf.get(k) for k in (
            "spark.master", "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
            "spark.driver.memory")}
    finally:
        gateway = SparkContext._gateway
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)

    loadavg_post = os.getloadavg()
    recs = runner.records
    failed = [r for r in recs if not r["ok"]]
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "session": conf, "nproc": nproc,
        "loadavg_pre": [round(x, 2) for x in loadavg_pre],
        "loadavg_post": [round(x, 2) for x in loadavg_post],
        "load_suspect": loadavg_pre[0] > max(2.0, nproc / 8.0),
        "setup_s": round(setup_s, 4), "session_start_s": round(session_start_s, 4),
        **{k: round(v, 4) for k, v in stamped.items()},
        "harness_s": round(runner.harness_s, 2),
        "failed_op_ratio": len(failed) / len(recs),
        "elapsed_after": {k: round(v, 2) for k, v in marks.items()},
        "samples": {p: sum(1 for r in recs if r["phase"] == p) for p in
                    ("first", "warm", "plain", "traced")},
        "main_walls_s": [round(r["wall"], 3) for r in recs if r["main"]],
        "problems": problems[:5], "failures": [r["err"] for r in failed][:5],
        "wall_s": round(time.perf_counter() - t_start, 2),
    }
    print(json.dumps({"stamp": stamp}))
    result = {
        "correct": not failed and not problems,
        "attempted": len(recs),
        "failed": len(failed),
        # a layer the workload bypasses reports 0
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in names},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - no result line on a broken run
        traceback.print_exc()
        sys.exit(1)
