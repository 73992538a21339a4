"""The repository benchmark: one command, three workloads, one JSON line.

    python3 perfbench/run.py --workload backfill_serve --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates its inputs from ``--seed``
(gen.py), drives the engine only through its public API in one process
on ``local[nproc]``, checks every result against DuckDB outside the
timed regions (oracle.py), and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics from a separate traced run (spans.py). The line before it is a
``{"context": ...}`` object: run facts that are not gated (nproc,
loadavg, generation time, percentile labels and sample counts, and each
workload's named timings). ``--selftest`` checks the generator and the
checks themselves. METRICS.md maps every metric to its workload.

All scratch data (Spark local dirs, checkpoints, topics, tables) lives in
a per-run directory under ``.perfbench_run/`` in the working directory,
removed at exit; traced runs leave their spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "open_source_financial_time_series_data_pipeline_architecture_spark"
WORKLOADS = ("backfill_serve", "stream_ingest", "cagg_maintain")

END_TO_END = {  # name -> unit; every --trace 0 run reports each one
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_share": "share",
    "throughput_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "op2_p50_ms": "ms",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def pin_environment(tmp: str) -> dict:
    """Environment for the engine, set before pyspark is imported."""
    cpus = nproc()
    driver_mb = min(2048, mem_total_mb() // 4)
    for d in ("local", "t"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        TMPDIR=os.path.join(tmp, "t"),
        # every JVM, spark-submit's launcher included: no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 't')}",
        PYSPARK_PYTHON=sys.executable,
        TZ="UTC",
    )
    time.tzset()
    return {"nproc": cpus, "driver_mem_mb": driver_mb}


class Run:
    """State of one benchmark run: session, scratch dir, tracer, tallies."""

    def __init__(self, args, tmp: str):
        import numpy as np

        from spans import NullTracer, Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.tmp = tmp
        self.rng = np.random.default_rng(args.seed)
        self.tr = Tracer() if args.trace else NullTracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.check_s = 0.0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.context: dict = {}
        self.plan_metrics = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def start_session(self, cores: int | None = None) -> float:
        """Start the engine's session; returns seconds to first action."""
        from importlib import import_module

        session = import_module(f"{PKG}.session")
        t0 = time.perf_counter()
        with self.tr.span("session.start"):
            spark = session.get_spark(
                "perfbench",
                master=f"local[{cores}]" if cores else None,
                extra_conf={
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.streaming.numRecentProgressUpdates": "1000",
                },
            )
            spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with self.tr.span("session.first_action"):
            spark.range(1).count()
        t2 = time.perf_counter()
        self.spark = spark
        self.layer["session.start_s"] = t1 - t0
        self.layer["session.first_action_s"] = t2 - t1
        if self.tr.enabled:
            from spans import PlanMetrics

            self.plan_metrics = PlanMetrics(spark)
        return t2 - t0

    def op(self, fn, *a, **kw):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, name: str, fn, ops: int = 1) -> bool:
        """Run a correctness check outside the timed region. A failing
        check marks ``ops`` operations as wrong (failed)."""
        t0 = time.perf_counter()
        try:
            ok = bool(fn())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        self.check_s += time.perf_counter() - t0
        self.checks[name] = ok
        if not ok:
            print(f"check failed: {name}", file=sys.stderr)
            self.failed += ops
        return ok

    def record_jvm_stats(self) -> None:
        """Record the session JVM's GC time and peak heap and the peak RSS
        of this process plus the JVM (once; later calls keep the first)."""
        if "peak_rss_mb" in self.e2e:
            return
        stats = self.jvm_stats()
        self.e2e["peak_rss_mb"] = stats["peak_rss_mb"]
        self.layer["jvm.gc_s"] = stats["gc_s"]
        self.layer["jvm.heap_peak_mb"] = stats["heap_peak_mb"]

    def jvm_stats(self) -> dict:
        """JVM GC seconds, peak heap MB and peak RSS (JVM + this process)."""
        import resource

        jvm = self.spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        gcs = mf.getGarbageCollectorMXBeans()
        gc_ms = sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))
        pools = mf.getMemoryPoolMXBeans()
        heap_peak = 0
        for i in range(pools.size()):
            p = pools.get(i)
            if str(p.getType()) == "Heap memory":
                heap_peak += p.getPeakUsage().getUsed()
        py_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm_rss_mb = 0.0
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_rss_mb = int(line.split()[1]) / 1024.0
        return {"gc_s": gc_ms / 1000.0, "heap_peak_mb": heap_peak / 2**20,
                "peak_rss_mb": py_rss_mb + jvm_rss_mb}

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None


RUN_DEADLINE_S = 170  # a run must end within 180 s


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_DEADLINE_S} s")


def run_workload(args) -> dict:
    tmp = os.path.join(os.getcwd(), ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    load_before = loadavg()
    env = pin_environment(tmp)
    run = Run(args, tmp)
    t_start = time.perf_counter()
    try:
        import workloads

        getattr(workloads, args.workload)(run)
        run.record_jvm_stats()
        if run.tr.enabled:
            os.makedirs(os.path.join(os.getcwd(), ".perfbench_out"), exist_ok=True)
            run.tr.dump(
                os.path.join(os.getcwd(), ".perfbench_out",
                             f"trace-{args.workload}-{args.seed}.json"),
                {"layer_metrics": run.layer, "context": run.context},
            )
    finally:
        run.stop()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    run.e2e["ok_share"] = 1.0 - run.failed / max(run.attempted, 1)
    run.context.update(env)
    run.context.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        loadavg_before=load_before, loadavg_after=loadavg(),
        run_wall_s=time.perf_counter() - t_start, check_s=run.check_s, checks=run.checks,
    )
    if args.trace:
        from workloads import LAYER_UNITS

        metrics = {n: {"value": float(run.layer.get(n, 0.0)), "unit": u}
                   for n, u in LAYER_UNITS.items()}
    else:
        metrics = {n: {"value": float(run.e2e[n]), "unit": u} for n, u in END_TO_END.items()}
    correct = bool(run.checks) and all(run.checks.values())
    return {
        "context": run.context,
        "result": {"correct": correct, "attempted": max(run.attempted, 1),
                   "failed": run.failed, "metrics": metrics},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"engine package {PKG} not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    if args.selftest:
        import selftest

        return selftest.main()
    if args.workload is None:
        ap.error("--workload is required")
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(RUN_DEADLINE_S)
    out = run_workload(args)
    signal.alarm(0)
    print(json.dumps({"context": out["context"]}, default=float))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
