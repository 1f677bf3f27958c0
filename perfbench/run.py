"""KG-construction benchmark for graphene_spark.

    python3 perfbench/run.py --workload build --seed 1 --seconds 5 --trace 0

Run from the repository root.  Builds seeded inputs, runs the workload's
timed operation through the package's public entry points at local[n]
(n <= 4 and <= the cores this process may use), checks every output, and
prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes a separate
traced run that reports the per-layer metrics (tracing.py) and writes its
spans to .bench_build/perfbench/traces/.  Exit code 1 when a correctness
check failed, 2 when the benchmark could not run at all.  See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
import uuid

SETUP_REPS = 3
HERE = os.path.dirname(os.path.abspath(__file__))
PER_LAYER = [
    "session.start_s",
    "extract.busy_s", "extract.turns", "extract.rows_out", "extract.error_turns",
    "extract.native_scan",
    "linking.busy_s", "linking.rows_in", "linking.linked", "linking.dangling",
    "linking.link_yield", "linking.jobs",
    "blocking.busy_s", "blocking.norms_in", "blocking.candidate_pairs",
    "blocking.matches", "blocking.verify_yield",
    "canonicalize.busy_s", "canonicalize.entities", "canonicalize.components",
    "graph.nodes_busy_s", "graph.edges_busy_s", "graph.node_candidates", "graph.nodes",
    "graph.edges", "graph.dangling_edges",
    "pipeline.recompute_s", "pipeline.jobs", "pipeline.tasks",
    "materialize.busy_s", "materialize.merge_s", "materialize.jobs",
    "materialize.rows_offered", "materialize.rows_inserted", "materialize.insert_yield",
    "materialize.buckets_run", "materialize.files", "materialize.bytes",
    "postprocess.busy_s", "postprocess.same_as", "postprocess.ancestor",
    "streaming.batches", "streaming.batch_busy_s", "streaming.source_reads_per_batch",
    "job.busy_s", "memory.peak_rss_mb", "trace.overhead_s", "trace.stage_s",
]


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_yield", "_per_batch", "_frac")):
        return "ratio"
    if name.endswith(".bytes"):
        return "bytes"
    if name.endswith(".native_scan"):
        return "flag"
    return "count"


def tail(values: list[float]) -> tuple[float, str, int]:
    """Highest percentile with at least ten samples beyond it; the maximum
    when there are too few samples for that percentile to reach the median."""
    xs = sorted(values)
    n = len(xs)
    if n >= 20:
        k = n - 10  # 1-based rank of the value with ten samples above it
        return xs[k - 1], f"p{100 * k / n:g}", n
    return xs[-1], "max", n


class RssSampler:
    """Peak summed RSS of this process and every descendant (the JVM and
    its Python workers), read from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    data = f.read()
            except OSError:
                continue
            ppid = int(data[data.rindex(b")") + 2:].split()[1])
            kids.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
            todo.extend(kids.get(pid, []))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def weather(root: str) -> dict:
    """Co-tenant diagnostics: load average, a single-thread CPU spin, and the
    machine's CPU ticks (total and stolen by the hypervisor, from /proc/stat),
    whose difference over the run gives the share of CPU time stolen."""
    sys.path.insert(0, os.path.join(root, "scripts"))
    try:
        import bench_weather

        spin = round(bench_weather.cpu_spin_ms(), 2)
    except ImportError:
        spin = None
    finally:
        sys.path.pop(0)
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    steal = ticks[7] if len(ticks) > 7 else 0
    return {"loadavg": load, "cpu_spin_ms": spin, "cpu_ticks": sum(ticks),
            "steal_ticks": steal, "ts": round(time.time(), 3)}


def isolate(run_dir: str, n_cores: int) -> None:
    """Point every scratch location of Spark, the JVM and the package (the
    shipped zip, the native scanner build) inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class Session:
    """Creates, re-creates and finally shuts down the SparkSession and the
    JVM it runs in."""

    def __init__(self, run_dir: str, n_cores: int):
        self.run_dir = run_dir
        self.n_cores = n_cores
        self.spark = None

    def start(self):
        from graphene_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.n_cores}]",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — the JVM must not outlive the run
                proc.kill()
                proc.wait(timeout=30)


def run(args, root: str) -> tuple[dict, dict]:
    import workloads

    n_cores = max(1, min(4, len(os.sched_getaffinity(0))))
    run_id = uuid.uuid4().hex[:10]
    base = os.path.join(root, ".bench_build", "perfbench")
    run_dir = os.path.join(base, f"{args.workload}-s{args.seed}-{run_id}")
    os.makedirs(run_dir)
    isolate(run_dir, n_cores)
    details: dict = {"workload": args.workload, "seed": args.seed, "cores": n_cores,
                     "run_id": run_id, "weather_before": weather(root)}
    wl = workloads.WORKLOADS[args.workload](run_dir, args.seed)
    session = Session(run_dir, n_cores)
    with contextlib.ExitStack() as cleanup:
        # run in reverse order, each even when an earlier one raised
        cleanup.callback(shutil.rmtree, run_dir, ignore_errors=True)
        cleanup.callback(session.shutdown)
        cleanup.callback(wl.close)
        t0 = time.perf_counter()
        wl.inputs()
        details["inputs_s"] = time.perf_counter() - t0

        setup, starts = [], []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            spark = session.start()
            starts.append(time.perf_counter() - t0)
            wl.prepare(spark)
            setup.append(time.perf_counter() - t0)
        details["setup_reps_s"] = setup
        t0 = time.perf_counter()
        wl.start(spark)
        details["start_s"] = time.perf_counter() - t0
        # the traced run always warms up, so that its reference and traced
        # operations are both warm and compare
        warm_fails = []
        if args.trace or not wl.cold:
            t0 = time.perf_counter()
            warm_fails = wl.warm_up(spark)
            details["warm_up_s"] = time.perf_counter() - t0

        if args.trace:
            metrics, fails, ops = traced(spark, wl, args, run_id, details, base)
            metrics["session.start_s"] = statistics.median(starts)
        else:
            metrics, fails, ops = untraced(spark, wl, args, details)
            metrics["setup_s"] = statistics.median(setup)
        fails = warm_fails + fails
    details["weather_after"] = after = weather(root)
    before = details["weather_before"]
    details["steal_frac"] = (after["steal_ticks"] - before["steal_ticks"]) / max(
        after["cpu_ticks"] - before["cpu_ticks"], 1)
    details["failures"] = fails
    failed = min(len(fails), ops)
    out = {
        "correct": not fails,
        "attempted": ops,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k) if args.trace else E2E_UNITS[k]}
                    for k, v in metrics.items()},
    }
    return out, details


E2E_UNITS = {
    "setup_s": "s", "turns_per_s": "1/s", "batch_p50_s": "s", "batch_tail_s": "s",
    "triple_precision": "ratio", "triple_recall": "ratio", "ok_frac": "ratio",
    "stored_bytes_per_triple": "B",
}


def untraced(spark, wl, args, details):
    ops, records, fails, stats = 0, [], [], []
    while True:
        ops += 1
        try:
            rec = wl.op(spark)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            fails.append(f"{wl.name}: operation raised\n{traceback.format_exc()}")
            break
        records.append(rec)
        if wl.check_each:
            f, s = wl.check(spark)
            fails += f
            stats.append(s)
        if sum(r["seconds"] for r in records) >= args.seconds or wl.exhausted():
            break
    if records and not wl.check_each:
        f, s = wl.check(spark)
        fails += f
        stats.append(s)
    if not records:
        raise RuntimeError("no operation completed:\n" + "\n".join(fails))
    batches = [b for r in records for b in r["batches"]]
    tail_v, tail_p, n = tail(batches)
    details.update(ops=records, checks=stats, batch_tail_percentile=tail_p, batch_samples=n)
    if wl.stream_progress():
        details["stream_progress"] = [
            {"batchId": p["batchId"], "numInputRows": p["numInputRows"],
             "durationMs": p["durationMs"]} for p in wl.stream_progress()
        ]
    metrics = {
        "turns_per_s": sum(r["turns"] for r in records) / sum(r["seconds"] for r in records),
        "batch_p50_s": statistics.median(batches),
        "batch_tail_s": tail_v,
        "triple_precision": min(s["precision"] for s in stats),
        "triple_recall": min(s["recall"] for s in stats),
        "ok_frac": 1.0 - min(len(fails), ops) / ops,
        "stored_bytes_per_triple": statistics.median(s["bytes_per_triple"] for s in stats),
    }
    return metrics, fails, ops


def traced(spark, wl, args, run_id, details, base):
    """After the warm-up: one untraced operation (the reference wall time,
    job and task counts), then the same operation traced (per-layer self
    times).  Both are warm, so their difference is the tracing overhead."""
    import tracing
    from graphene_spark import native_scan

    fails = []
    sc = spark.sparkContext
    groups = [f"perfbench-{run_id}-untraced", *wl.job_groups()]
    before = tracing.job_ids(sc, groups)
    sc.setJobGroup(groups[0], "untraced operation")
    with RssSampler() as rss:
        ref = wl.op(spark)
    sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = tracing.job_ids(sc, groups) - before
    f, _ = wl.check(spark)
    fails += f

    tracer = tracing.Tracer(spark, run_id)
    undo = tracing.instrument(tracer)
    try:
        with tracer.span("operation", "operation"):
            rec = wl.op(spark)
    finally:
        tracing.restore(undo)
    f, stats = wl.check(spark)
    fails += f
    tracer.release()

    c = tracer.counters.get
    self_t = tracer.layer_self()
    layers = ("extract", "linking", "blocking", "canonicalize", "graph", "pipeline",
              "materialize", "postprocess", "job")
    m = {k: 0.0 for k in PER_LAYER}
    for layer in ("extract", "linking", "blocking", "canonicalize", "materialize",
                  "postprocess", "job"):
        m[f"{layer}.busy_s"] = self_t.get(layer, 0.0)
    for k, v in tracer.counters.items():
        m[k] = float(v)
    m["extract.native_scan"] = float(
        native_scan.scanner_for(tuple(sorted(set(wl.aliases)))) is not None)
    m["linking.link_yield"] = c("linking.linked", 0) / max(c("linking.rows_in", 0), 1)
    m["linking.jobs"] = float(tracer.layer_sum("linking", "jobs"))
    m["blocking.verify_yield"] = c("blocking.matches", 0) / max(c("blocking.candidate_pairs", 0), 1)
    m["graph.nodes_busy_s"] = tracer.named_self("graph.build_nodes")
    m["graph.edges_busy_s"] = tracer.named_self("graph.build_edges")
    m["pipeline.recompute_s"] = ref["seconds"] - sum(self_t.get(x, 0.0) for x in layers)
    m["pipeline.jobs"], m["pipeline.tasks"] = len(jobs), tracing.completed_tasks(sc, jobs)
    m["materialize.merge_s"] = tracer.named_self("materialize.merge_insert_absent")
    m["materialize.jobs"] = float(tracer.layer_sum("materialize", "jobs"))
    m["materialize.insert_yield"] = (
        c("materialize.rows_inserted", 0) / max(c("materialize.rows_offered", 0), 1))
    if wl.merges:
        m["materialize.files"], m["materialize.bytes"] = float(stats["files"]), float(stats["bytes"])
    prog = wl.stream_progress()
    if prog:
        turns = dict(wl.batch_turns)
        m["streaming.batches"] = float(len(prog))
        m["streaming.batch_busy_s"] = statistics.median(
            (p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)) / 1000
            for p in prog)
        m["streaming.source_reads_per_batch"] = statistics.median(
            p["numInputRows"] / turns[p["batchId"]] for p in prog)
    m["memory.peak_rss_mb"] = rss.peak / 2**20
    m["trace.overhead_s"] = rec["seconds"] - ref["seconds"]
    m["trace.stage_s"] = self_t.get(tracing.STAGE, 0.0)
    m = {k: float(v) for k, v in m.items()}

    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    trace_path = os.path.join(base, "traces", f"{wl.name}-s{args.seed}-{run_id}.json")
    with open(trace_path, "w") as f:
        json.dump({"run_id": run_id, "workload": wl.name, "seed": args.seed,
                   "untraced_s": ref["seconds"], "traced_s": rec["seconds"],
                   "layer_self_s": self_t, "spans": tracer.spans,
                   "metrics": m}, f, indent=1)
    details.update(untraced_s=ref["seconds"], traced_s=rec["seconds"],
                   layer_self_s=self_t, trace_file=os.path.relpath(trace_path))
    return m, fails, 2


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops the stream, the JVM and its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "graphene_spark", "__init__.py")):
        print("perfbench: no graphene_spark package under the current directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        out, details = run(args, root)
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        return 2
    print(json.dumps({"details": details}, default=str))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
