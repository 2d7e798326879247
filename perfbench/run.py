#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload image_assign --seed 1 --seconds 12 --trace 0

Run from the repository root. The run generates (or reuses) the seed's inputs
under perfbench/.work/, starts the engine's Spark session on local[<cores>],
runs the job cold once, then repeats it for --seconds (at least four
times) and checks every output. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones. With --trace 1 Spark's event log is on, untraced and
traced runs alternate, and the metrics are the per-layer ones folded from the
event log, plus the tracing overhead. A human-readable summary and the path
of the full record (spans, per-run times, input generation time) go to
standard error.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

from spans import Tracer, fold_event_log, sql_metric  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

WORKLOAD_NAMES = ("image_assign", "corpus_dedup")
# The discarded cold run pays for codegen, Python worker spawn and the first
# JIT compiles; it is part of set-up. Timed runs repeat for --seconds but
# never fewer than MIN_RUNS (with tracing, one whole A-B-B-A cycle).
COLD_RUNS = 1
MIN_RUNS = 4
DRIVER_MEM = "2g"

END_TO_END = {
    "throughput_rows_s": "rows/s",
    "job_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

# Per-layer metrics, named <layer>.<metric>. Stage and task figures come
# from the jobs that ran under the layer's spans; the rest are counts read
# from named plan nodes or from the inputs.
STAGE_METRICS = {
    "call_s": "s", "action_s": "s", "task_s": "s", "cpu_s": "s",
    "sched_wait_s": "s", "stages": "count", "shuffle_write_mb": "MB",
    "fetch_wait_s": "s", "spill_mb": "MB", "python_in_mb": "MB",
    "python_out_mb": "MB",
}
STAGE_LAYERS = ("sources.checkpoint", "pipeline", "cover_join", "knn", "dedupe")
LAYER_SPECIFIC = {
    "session.call_s": "s",
    "sources.scan.call_s": "s",
    "sources.scan.bytes_read": "bytes",
    "sources.scan.rows_read": "count",
    "sources.checkpoint.bytes_written": "bytes",
    "sources.checkpoint.files": "count",
    "cover_join.cover_cells": "count",
    "cover_join.broadcast_mb": "MB",
    "cover_join.probe_rows": "count",
    "cover_join.assigned_rows": "count",
    "knn.jobs": "count",
    "dedupe.lsh.candidate_pairs": "count",
    "dedupe.lsh.pairs": "count",
    "dedupe.ngram.gram_rows": "count",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{m}": u for layer in STAGE_LAYERS for m, u in STAGE_METRICS.items()}
    units.update(LAYER_SPECIFIC)
    return units


# -- host ---------------------------------------------------------------------

def _descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        children[int(stat.rsplit(")", 1)[1].split()[1])].append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (the forked Python workers and their daemon) divided among
    them, so a sum over processes counts each page once. The kernel walks
    the process's page tables to compute it: about 2 ms for a Python
    worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _rss_bytes(pid: int) -> int:
    """Resident set size from the kernel's counters: constant time."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class PeakMemory:
    """Peak summed resident memory of this process's descendants — the
    driver JVM and its Python workers — sampled from /proc every 250 ms.

    The JVM shares no pages with the other processes, so its RSS is read
    from the kernel's counters. Its PSS would need a walk of the page tables
    of its 2.7 GB, 50–90 ms under the JVM's memory-map lock, and sampling
    that every 100 ms cost the benchmark about a third of a core and stalled
    the JVM it measured. The forked Python workers share pages with their
    daemon, so they are summed by PSS."""

    def __init__(self, interval: float = 0.25):
        self.interval, self.peak = interval, 0
        self.peak_jvm = self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            jvm = python = 0
            for pid in _descendants(me):
                if _is_jvm(pid):
                    jvm += _rss_bytes(pid)
                else:
                    python += _pss_bytes(pid)
            self.peak = max(self.peak, jvm + python)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_python = max(self.peak_python, python)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def host_probe() -> float:
    """Median seconds of three passes of a fixed single-threaded kernel: a
    Python loop and a sort of 4 * 10^6 floats. It does the same work on every
    run, so it shows how fast the host was at the time; it is recorded next
    to the timings, not reported as a metric."""
    import numpy as np

    data = np.random.default_rng(0).random(4_000_000)
    times = []
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for k in range(2_000_000):
            x += k * k
        np.sort(data)
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def cpu_counters() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants, with the
    children they have reaped (the Python workers' daemon reaps its
    workers)."""
    total = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def host_facts() -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem = {line.split(":")[0]: int(line.split()[1]) for line in f}
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_available_gb": round(mem["MemAvailable"] / 2**20, 1),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "python": sys.version.split()[0],
    }


# -- Spark lifecycle ----------------------------------------------------------

def configure_env(eventlog_dir: str | None) -> None:
    """Public configuration for the engine's session, set before its JVM
    starts: everything the run writes stays under perfbench/.work/."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    conf = {"spark.ui.showConsoleProgress": "false"}
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # a fixed, pre-touched heap: G1 resizing the heap and touching new pages
    # at run-dependent moments would make peak memory jump between runs.
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    args = ["--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData"]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = _descendants(os.getpid())
        for pid in left:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        if left:
            time.sleep(1)


# -- the run ------------------------------------------------------------------

def one_run(wl, spark, tracer, d, facts, work, run_id, traced) -> dict:
    wl.reset(work)
    tracer.run_id = run_id if traced else None
    steal0, ticks0 = cpu_counters()
    t0 = time.perf_counter()
    try:
        with tracer.span("run", wl.name):
            result = wl.run(spark, tracer, d, facts, work)
        wall = time.perf_counter() - t0
        problems = wl.check(result, facts)
    except Exception as exc:  # a failed run is counted, not fatal
        wall = time.perf_counter() - t0
        traceback.print_exc()
        result, problems = None, [f"raised {exc!r}"]
    finally:
        tracer.run_id = None
    steal1, ticks1 = cpu_counters()
    spark.catalog.clearCache()
    for p in problems:
        print(f"[{wl.name} {run_id}] check failed: {p}", file=sys.stderr)
    return {"run": run_id, "traced": traced, "wall_s": wall, "result": result,
            "problems": problems, "steal_frac": (steal1 - steal0) / max(1, ticks1 - ticks0)}


def timed_runs(wl, spark, tracer, d, facts, work, seconds, trace) -> list[dict]:
    """Closed loop for `seconds`, at least MIN_RUNS runs. With tracing,
    untraced and traced runs alternate in A-B-B-A order and the loop ends
    on a whole cycle, so that warm-up still going on during the window does
    not favour either kind."""
    runs: list[dict] = []
    deadline = time.perf_counter() + seconds

    def enough() -> bool:
        if trace:
            return len(runs) >= 4 and not len(runs) % 4 and time.perf_counter() >= deadline
        return len(runs) >= MIN_RUNS and time.perf_counter() >= deadline

    while not enough():
        traced = bool(trace) and len(runs) % 4 in (1, 2)
        runs.append(one_run(wl, spark, tracer, d, facts, work, f"r{len(runs)}", traced))
    return runs


def fastest_wall(runs) -> float:
    """Wall time of the fastest run. Noise on a shared host is one-sided:
    other tenants' load (CPU steal, memory bandwidth) only adds time, in
    bursts of seconds to minutes, and the first timed runs are still warming
    up. The fastest run is the best estimate of the job's own cost once
    warm; see README.md for the measured spreads."""
    return min(r["wall_s"] for r in runs)


def layer_metrics(spans, folded, runs) -> dict[str, float]:
    """Median over the traced runs of each per-layer metric."""

    def scan_node(r):
        return r["node"].startswith("Scan parquet")

    def write_node(r):
        return "InsertIntoHadoopFsRelationCommand" in r["node"]

    def cover_broadcast(r):
        return r["node"] == "BroadcastExchange" and any("__full" in c for c in r["children"])

    def cover_join_node(r):
        return "Join" in r["node"] and "__cell" in r["desc"] and "__full" in r["desc"]

    def location_udf(r):
        return r["node"] == "ArrowEvalPython" and "loc_udf" in r["desc"]

    def band_join(r):
        return "Join" in r["node"] and "band" in r["desc"] and "id_a" in r["desc"]

    def gram_kernel(r):
        return r["node"] == "MapInArrow" and "gram_kernel" in r["desc"]

    rows = "number of output rows"
    per_run = []
    for run in runs:
        rs = [s for s in spans if s["run"] == run["run"]]
        result = run["result"] or {}
        ids = {layer: [s["id"] for s in rs if s["layer"] == layer]
               for layer in STAGE_LAYERS + ("sources.scan",)}
        every = [s["id"] for s in rs]
        v = {}
        for layer in STAGE_LAYERS + ("sources.scan",):
            ls = [s for s in rs if s["layer"] == layer]
            v[f"{layer}.call_s"] = sum(s["end"] - s["start"] for s in ls if s["kind"] == "call")
            if layer == "sources.scan":
                continue
            v[f"{layer}.action_s"] = sum(s["end"] - s["start"] for s in ls if s["kind"] == "action")
            for m in STAGE_METRICS:
                if m not in ("call_s", "action_s"):
                    v[f"{layer}.{m}"] = sum(folded["groups"][g][m] for g in ids[layer])
        # scans run inside whichever span's job reads them
        v["sources.scan.bytes_read"] = sql_metric(folded, every, scan_node, "size of files read")
        v["sources.scan.rows_read"] = sql_metric(folded, every, scan_node, rows)
        ck = ids["sources.checkpoint"]
        v["sources.checkpoint.bytes_written"] = sql_metric(folded, ck, write_node, "written output")
        v["sources.checkpoint.files"] = sql_metric(folded, ck, write_node, "number of written files")
        cj = ids["cover_join"]
        v["cover_join.cover_cells"] = sql_metric(folded, cj, cover_broadcast, rows)
        v["cover_join.broadcast_mb"] = sql_metric(folded, cj, cover_broadcast, "data size") / 1e6
        v["cover_join.probe_rows"] = sql_metric(folded, cj, location_udf, rows)
        v["cover_join.assigned_rows"] = sql_metric(folded, cj, cover_join_node, rows)
        v["knn.jobs"] = sum(folded["groups"][g]["jobs"] for g in ids["knn"])
        v["dedupe.lsh.candidate_pairs"] = sql_metric(folded, ids["dedupe"], band_join, rows)
        v["dedupe.lsh.pairs"] = result.get("lsh_pairs", 0)
        v["dedupe.ngram.gram_rows"] = sql_metric(folded, ids["dedupe"], gram_kernel, rows)
        per_run.append(v)
    return {k: statistics.median(r[k] for r in per_run) for k in per_run[0]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-test runs a tiny one)")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    eventlog_dir = None
    if args.trace:
        eventlog_dir = os.path.join(WORK, "eventlog", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(eventlog_dir, ignore_errors=True)
    configure_env(eventlog_dir)

    # the engine is imported here: a checkout without it fails at this line
    from building2osm_spark.session import get_spark
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.scale)
    t = time.perf_counter()
    d, facts = wl.ensure_inputs(os.path.join(WORK, "inputs"), args.seed)
    gen_s = time.perf_counter() - t
    work = os.path.join(WORK, "run", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)

    t = time.perf_counter()
    spark = get_spark(app=f"perfbench-{args.workload}", cores=len(os.sched_getaffinity(0)))
    session_s = time.perf_counter() - t
    tracer = Tracer(spark.sparkContext if args.trace else None)

    cold = [one_run(wl, spark, tracer, d, facts, work, f"cold{i}", False)
            for i in range(COLD_RUNS)]
    setup_s = time.perf_counter() - T_START - gen_s

    probe_before = host_probe()
    steal0, ticks0 = cpu_counters()
    cpu0 = tree_cpu_s()
    with contextlib.ExitStack() as patches, PeakMemory() as mem:
        if args.trace:
            from building2osm_spark.plans import pipeline
            from building2osm_spark.sources.checkpoint import SnapshotStore

            patches.enter_context(tracer.patched(pipeline, "assign_points_to_polygons", "cover_join"))
            patches.enter_context(tracer.patched(pipeline, "knn_join", "knn"))
            patches.enter_context(tracer.patched(SnapshotStore, "incremental_commit", "sources.checkpoint"))
        runs = timed_runs(wl, spark, tracer, d, facts, work, args.seconds, args.trace)
    cpu_per_run = (tree_cpu_s() - cpu0) / len(runs)
    steal1, ticks1 = cpu_counters()
    host_window = {
        "probe_s": [probe_before, host_probe()],
        "steal_frac": (steal1 - steal0) / max(1, ticks1 - ticks0),
        "cpu_s_per_run": cpu_per_run,
    }
    stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)

    all_runs = cold + runs
    failed = sum(1 for r in all_runs if r["problems"])
    job_s = fastest_wall([r for r in runs if not r["traced"]])
    record = {
        "args": vars(args), "host": host_facts(), "facts": facts, "gen_s": gen_s,
        "session_s": session_s, "setup_s": setup_s, "job_s": job_s,
        "failed_frac": failed / len(all_runs), "host_window": host_window,
        "peak_jvm_mb": mem.peak_jvm / 1e6, "peak_python_workers_mb": mem.peak_python / 1e6,
        "runs": [{k: r[k] for k in ("run", "traced", "wall_s", "steal_frac", "problems")}
                 for r in all_runs],
    }
    if not args.trace:
        metrics = {
            "throughput_rows_s": facts["rows"] / job_s, "job_s": job_s,
            "setup_s": setup_s, "peak_rss_mb": mem.peak / 1e6,
        }
        units = END_TO_END
    else:
        traced = [r for r in runs if r["traced"]]
        (log,) = glob.glob(os.path.join(eventlog_dir, "*"))
        folded = fold_event_log(log)
        shutil.rmtree(eventlog_dir, ignore_errors=True)
        metrics = layer_metrics(tracer.spans, folded, traced)
        metrics["session.call_s"] = session_s
        # means, not the fastest run: A-B-B-A cancels a linear warm-up trend
        # only in the means, while the fastest untraced run is nearly
        # always the last one of the cycle
        untraced_mean = statistics.fmean(r["wall_s"] for r in runs if not r["traced"])
        traced_mean = statistics.fmean(r["wall_s"] for r in traced)
        metrics["trace.overhead_s"] = traced_mean - untraced_mean
        record.update(spans=tracer.spans, traced_mean_s=traced_mean,
                      untraced_mean_s=untraced_mean)
        units = per_layer_units()
    record["metrics"] = metrics

    path = os.path.join(WORK, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                        f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for name in units:
        print(f"{args.workload} {name} = {metrics[name]:.6g} {units[name]}", file=sys.stderr)
    print(f"{args.workload} host: probe {host_window['probe_s'][0]:.3f}/"
          f"{host_window['probe_s'][1]:.3f} s before/after the window, steal "
          f"{host_window['steal_frac']:.3f}, CPU {cpu_per_run:.2f} s per run", file=sys.stderr)
    print(f"{args.workload} failed_frac = {record['failed_frac']:.6g} "
          f"({failed}/{len(all_runs)} runs); record: {path}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(all_runs), "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": units[name]} for name in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
