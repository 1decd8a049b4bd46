"""The repository benchmark: one command, two workloads, checked outputs.

Usage (from the repository root)::

    python3 perfbench/run.py --workload crawl-to-rank --seed 1 --seconds 10 --trace 0

``--trace 0`` prints every end-to-end metric; ``--trace 1`` runs the same
workload with Spark's event log on, tags every layer call with a job
group, and prints the per-layer table instead.  The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Workloads, metrics and their reasons are in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
SPARK_LAYERS = (
    "plans.context",
    "plans.build_edges",
    "plans.pagerank",
    "plans.components",
    "plans.labelprop",
    "plans.triangles",
    "plans.salsa",
    "operators.secondary",
    "operators.socialproof",
)
ITERATIVE = ("plans.pagerank", "plans.components", "plans.labelprop")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of this process tree (driver JVM + Python
    workers), sampled every second."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.wait(1.0):
            kb = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, kb)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024.0


def tail(samples: list[float]) -> tuple[float, str]:
    """Highest of p90/p99/p99.9 with at least ten samples beyond it;
    the maximum when there are too few samples for any of them."""
    xs = sorted(samples)
    n = len(xs)
    for p in (99.9, 99.0, 90.0):
        if n * (100.0 - p) / 100.0 >= 10:
            return xs[min(n - 1, int(n * p / 100.0))], f"p{p:g} of n={n}"
    return xs[-1], f"max of n={n}"


def box_profile(spark) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "loadavg": os.getloadavg(),
    }


def control_probe(spark) -> float:
    """A fixed aggregate job; its wall before and after the run shows
    whether the box changed speed during the measurement."""
    t0 = time.perf_counter()
    (
        spark.range(0, 3_000_000, 1, CORES)
        .selectExpr("id % 1009 AS k", "id * 7 AS v")
        .groupBy("k")
        .sum("v")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for every child
    process (JVM, Python daemon and workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:  # already stopped
        return
    spark.stop()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "graphjet_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "mirror_check.py")
    ):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    # Private scratch for everything Spark, the JVM and Python spill:
    # removed on exit, success or not.
    work = os.path.join(ROOT, ".perfbench-work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # The engine defaults are the thing measured: drop overrides, and
    # let Python workers import the engine from the checkout.
    for var in list(os.environ):
        if var.startswith("SPARK_GRAFT_") or var == "SPARK_LOCAL_DIRS":
            del os.environ[var]
    os.environ["PYTHONPATH"] = ROOT
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)
    try:
        return _run(args, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run(args, work: str, tmp: str) -> int:
    import workloads

    kinds = {w.name: w for w in (workloads.CrawlToRank, workloads.RecMix)}
    if args.workload not in kinds:
        print(f"unknown workload {args.workload!r}; one of {sorted(kinds)}",
              file=sys.stderr)
        return 2
    from graphjet_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        # uncompressed: the default zstd codec needs the Python
        # zstandard module to read back, which is not installed
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        }
    rss = RssSampler()
    rss.start()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        return _measure(args, spark, kinds[args.workload], session_s, rss, log_dir)
    finally:
        stop_spark(spark)
        rss.stop()


def _measure(args, spark, kind, session_s, rss, log_dir) -> int:
    import tracefold

    work = os.path.dirname(log_dir)
    ctx = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    ctx["box"] = box_profile(spark)

    tracer = tracefold.Tracer(spark.sparkContext, tag_jobs=bool(args.trace))
    w = kind(spark, tracer, os.path.join(work, "data"), args.seed)
    t0 = time.perf_counter()
    w.setup()
    setup_s = session_s + time.perf_counter() - t0
    n_setup_spans = len(tracer.spans)
    control_probe(spark)  # compiles the probe's own code
    ctx["probe_before_s"] = control_probe(spark)

    ops: list[tuple[str, float]] = []
    passes: list[float] = []
    errors: list[str] = []
    deadline = time.perf_counter() + args.seconds
    while True:
        t1 = time.perf_counter()
        try:
            ops += w.run_pass()
        except Exception as exc:  # a failed operation ends the run
            errors.append(f"{type(exc).__name__}: {str(exc)[:300]}")
            break
        passes.append(time.perf_counter() - t1)
        if time.perf_counter() >= deadline:
            break
    ctx["probe_after_s"] = control_probe(spark)

    try:
        fails = errors or w.check()
    except Exception as exc:  # a crashing check is a failed check
        fails = [f"check: {type(exc).__name__}: {str(exc)[:300]}"]
    finally:
        w.close()
    attempted = max(1, len(ops) + len(errors))
    failed = min(attempted, len(fails))
    ctx["failures"] = fails

    ctx["passes"] = passes
    ctx["ops"] = [(k, round(v, 4)) for k, v in ops]
    if not args.trace:
        lat = w.latencies(ops, passes) or [0.0]
        tail_v, ctx["latency_tail"] = tail(lat)
        ctx["peak_rss_mb"] = rss.peak_kb / 1024.0
        metrics = {
            "setup_s": (setup_s, "s"),
            "rate_per_s": (w.rate(ops, passes) if passes else 0.0, "1/s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "latency_tail_s": (tail_v, "s"),
        }
    else:
        stop_spark(spark)  # closes the event log
        table, span_jobs = tracefold.fold(
            tracefold.read_event_log(log_dir), tracer.spans, CORES
        )
        # a timed call that launched no Spark job was answered from a
        # memo somewhere: it measured nothing, so it counts as failed
        idle = [s.layer for s in tracer.spans[n_setup_spans:]
                if not span_jobs.get(s.group, (0, 0))[1]]
        fails += [f"{layer}: timed call launched no Spark job" for layer in idle]
        failed = min(attempted, len(fails))
        metrics = {}
        for layer in SPARK_LAYERS:
            row = table.get(layer, {})
            for m, unit in tracefold.LAYER_METRICS.items():
                metrics[f"{layer}.{m}"] = (row.get(m, 0.0), unit)
        for layer in ITERATIVE:
            row = table.get(layer, {})
            steps = row.get("supersteps", 0)
            metrics[f"{layer}.jobs_per_superstep"] = (
                row["jobs"] / steps if steps else 0.0, "jobs/step")
        be = table.get("plans.build_edges", {})
        overhead = [lat - span_jobs[g][0] for g, lat in w.requests if g in span_jobs]
        metrics |= {
            "plans.build_edges.rows_out": (w.rows_out, "rows"),
            "plans.build_edges.python_share": (
                1.0 - be["task_cpu_s"] / be["task_run_s"]
                if be.get("task_run_s") else 0.0, "ratio"),
            "serve.http_overhead_s": (
                statistics.median(overhead) if overhead else 0.0, "s"),
            "sources.committer.wall_s": (sum(tracer.walls("sources.committer")), "s"),
            "sources.committer.output_mb": (w.output_mb, "MB"),
        }
        metrics["session.start_s"] = (session_s, "s")
        metrics["process.peak_rss_mb"] = (rss.peak_kb / 1024.0, "MB")
        metrics["trace.run_s"] = (statistics.median(passes) if passes else 0.0, "s")

    for name, (value, unit) in metrics.items():
        print(f"{name:42s} {value:14.6f} {unit}")
    print(json.dumps({"context": ctx}, default=str))
    print(json.dumps({
        "correct": not fails,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main(sys.argv[1:]))
