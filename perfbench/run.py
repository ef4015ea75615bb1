"""Lakehouse benchmark: one workload per invocation, in a fresh process.

    python3 perfbench/run.py --workload daily_pipeline --seed 1 --seconds 5 --trace 0

Run from the root of a source tree that holds the
``weather_bigquery_lakehouse_spark`` package. Spark runs as ``local[nproc]``
through ``SPARK_GRAFT_CPUS``; every other program setting keeps its default.
Scratch data, Spark's local directory and its event log live under
``.perfbench_work/`` in that root and are removed at the end.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). Per-operation failure
reasons go to standard error. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PKG = "weather_bigquery_lakehouse_spark"


def _process_age() -> float:
    """Seconds since this process started (Linux /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _proc_cpu(pid: int) -> float:
    """CPU seconds of process ``pid``, all its threads and its waited-for
    children (for the JVM: the launcher ``spark-submit`` ran first)."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")


class Clock:
    """Wall and CPU time of each timed operation.

    CPU time is this Python process's plus the Spark JVM's, over all
    threads. An operation is charged the Python CPU inside its call and the
    JVM CPU from its start to the start of the next timed call (or
    ``close``): background work it leaves to the JVM (JIT compilation, GC,
    cleanup) is its own, while the output checks between calls, which run
    in Python, are not charged.
    """

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._open = None  # (record, JVM CPU at its start) of the last call

    def jvm_cpu(self) -> float:
        return _proc_cpu(self.jvm_pid)

    def time(self, fn, *args):
        """Run ``fn(*args)``; return its result and the call's record
        ``{"wall": s, "cpu": s}``. ``cpu`` is complete once the next
        ``time`` or ``close`` has run."""
        j0 = self.jvm_cpu()
        self.close(j0)
        p0, t0 = time.process_time(), time.perf_counter()
        out = fn(*args)
        rec = {"wall": time.perf_counter() - t0, "cpu": time.process_time() - p0}
        self._open = (rec, j0)
        return out, rec

    def close(self, jvm_now: float | None = None) -> None:
        if self._open is not None:
            rec, j0 = self._open
            rec["cpu"] += (self.jvm_cpu() if jvm_now is None else jvm_now) - j0
            self._open = None


class Run:
    """One invocation: arguments, scratch paths, timing and tracing hooks."""

    def __init__(self, args, work: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work = work
        self.event_dir = os.path.join(work, "eventlog")
        self.setup_s = self.setup_wall_s = 0.0
        self._t_start = None
        self.clock = None

    def session(self):
        from weather_bigquery_lakehouse_spark.session import build_session

        extra = None
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        spark = build_session(extra_conf=extra)
        self.clock = Clock(spark.sparkContext._gateway.proc.pid)
        return spark

    def tracer(self, spark):
        if not self.trace:
            return None
        from spans import Tracer

        return Tracer(spark)

    def start_timed(self) -> None:
        """Set-up ends here. ``setup_s`` is the CPU time spent so far by
        this process, its waited-for children and the JVM; the wall time
        goes to stderr."""
        self._t_start = time.perf_counter()
        self.setup_wall_s = _process_age()
        kids = resource.getrusage(resource.RUSAGE_CHILDREN)
        self.setup_s = (time.process_time() + kids.ru_utime + kids.ru_stime
                        + self.clock.jvm_cpu())
        self.log(f"setup: {self.setup_s:.2f} cpu-s, {self.setup_wall_s:.2f} s wall")

    def timed_elapsed(self) -> float:
        return time.perf_counter() - self._t_start

    def end_round(self) -> None:
        print(f"round done at {self.timed_elapsed():.1f}s", file=sys.stderr, flush=True)

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    def log_traced(self, metrics: dict) -> None:
        """A traced run reports per-layer metrics; its end-to-end figures
        go to stderr, to measure the tracing overhead."""
        self.log("end-to-end under tracing: " + json.dumps({k: v for k, (v, _) in metrics.items()}))

    def retained_mem_mb(self, spark) -> float:
        """Python resident set plus the JVM heap still in use after full
        GCs. Python's cycle collector runs first, so JVM objects held only
        by unreachable Python proxies are released; blocks of unreferenced
        frames are freed by Spark's cleaner only after a JVM GC has found
        them, so GC runs (at least three times) until two readings a second
        apart agree within 1%."""
        gc.collect()
        jvm = spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        heaps = []
        for _ in range(10):
            jvm.java.lang.System.gc()
            heaps.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
            if len(heaps) > 2 and abs(heaps[-1] - heaps[-2]) < 0.01 * heaps[-2]:
                break
            time.sleep(1.0)
        with open("/proc/self/status") as fh:
            rss = next(int(line.split()[1]) for line in fh if line.startswith("VmRSS:")) / 1024
        self.log(f"memory: python rss {rss:.1f} MB, jvm heap after gc "
                 + ", ".join(f"{h:.1f}" for h in heaps) + " MB")
        return rss + heaps[-1]

    def finish_trace(self, spark, tracer) -> dict:
        """Stop Spark, parse and delete its event log; per-group figures."""
        from spans import parse_event_log

        tracer.unwrap_all()
        spark.stop()
        logs = glob.glob(os.path.join(self.event_dir, "*"))
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        groups = parse_event_log(logs[0])
        shutil.rmtree(self.event_dir)
        return groups



def _stop_spark() -> None:
    """Stop Spark and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    from workloads import WORKLOADS, per_layer_names, unit_of

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"no {PKG}/ package under {root}; run from the source tree root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # keep the JVM's temp files inside the checkout as well
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.chdir(work)  # spark-warehouse/ and derby files land in the scratch dir
    run = Run(args, work)
    try:
        metrics, attempted, failed, correct = WORKLOADS[args.workload](run)
    finally:
        _stop_spark()
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if args.trace:
        metrics = {**{n: (0.0, unit_of(n)) for n in per_layer_names()}, **metrics}
    out = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
