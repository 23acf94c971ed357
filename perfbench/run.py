"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S --trace 0

Run from the repository root.  One process drives one workload as a
closed loop with one client: the next operation starts when the previous
one (and its correctness check) has finished.  The library is imported
from the checkout this file sits in, never from an installed copy; when
it is missing the run exits non-zero without printing a result.

Output: a detail line (JSON: sample counts, tail percentiles, the input
checksum, every failed check) and, as the LAST line, the result
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones and writes the
spans to ``.perfbench_work/trace-<workload>-<seed>.json``.

``--workload all`` runs every workload in its own process and ends with
one combined line whose metric names are ``<workload>.<metric>``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from spans import SparkCounters, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("events_filter_read", "events_partitioned_write",
             "corpus_prepare")


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, int]:
    """Highest whole percentile with at least ten samples above it.

    Returns ``(value, percentile)``.  Below 21 samples no percentile at or
    above the median has ten samples beyond it; the median is reported
    and the percentile says so (50).
    """
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return statistics.median(xs), 50
    for p in range(99, 49, -1):
        k = -(-p * n // 100) - 1          # nearest-rank index
        if n - 1 - k >= 10:
            return xs[k], p
    return statistics.median(xs), 50


def timing_summary(values_s: list[float]) -> dict:
    ms = [v * 1000.0 for v in values_s]
    t, p = tail(ms)
    return {"p50_ms": statistics.median(ms), "tail_ms": t,
            "tail_percentile": p, "samples": len(ms)}


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this process's maximum RSS."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# one workload run
# ---------------------------------------------------------------------------


class Bench:
    """State of one run: session, tracer, samples and failed checks."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool, work: str, scale: float = 1.0):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.scale = scale
        self.cores = cores()
        self.tracer = Tracer(traced)
        self.setup: dict[str, float] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.detail: dict = {}
        self.spark = None
        self.counters = None

    # -- session ----------------------------------------------------------

    def start_session(self) -> None:
        from data_toolz_spark import get_spark

        n = self.cores
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        conf = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        with self.tracer.span("get_spark"):
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                                   shuffle_partitions=n, extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(1).count()
            self.setup["session"] = time.perf_counter() - t0
        if self.traced:
            self.counters = SparkCounters(self.spark)

    def stop(self) -> None:
        """Stop the session, then the driver JVM, and wait for it to end."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()          # the JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- checks and groups --------------------------------------------------

    def check(self, ok: bool, what: str) -> bool:
        """Record ``what`` as a failed check unless ``ok``."""
        if not ok:
            self.failures.append(what)
        return ok

    def count(self, ok: bool) -> None:
        """Count one attempted operation, failed unless ``ok``."""
        self.attempted += 1
        self.failed += not ok

    def group(self, name: str | None) -> None:
        """Tag the jobs that follow with ``name`` (traced run only)."""
        if self.traced:
            if name is None:
                self.spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", None)
            else:
                self.spark.sparkContext.setJobGroup(name, name)

    def repeat_setup(self, fn, reps: int = 3):
        """Run the input set-up ``reps`` times; keep the last result and
        the median duration (the set-up share of ``setup_s``)."""
        times, out = [], None
        for _ in range(reps):
            t0 = time.perf_counter()
            with self.tracer.span("input_generation"):
                out = fn()
            times.append(time.perf_counter() - t0)
        self.setup["inputs"] = statistics.median(times)
        self.detail["input_setup_s"] = times
        return out

    def setup_s(self) -> float:
        return sum(self.setup.values())


def _run_one(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import data_toolz_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the library from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    here = os.path.dirname(os.path.abspath(data_toolz_spark.__file__))
    if os.path.dirname(here) != ROOT:
        print(f"perfbench: library resolved outside the checkout: {here}",
              file=sys.stderr)
        return 2

    import workloads

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # every temporary file of this process and its JVM stays in the
    # checkout
    tmp = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = tmp
    tempfile.tempdir = tmp
    bench = Bench(args.workload, args.seed, float(args.seconds),
                  bool(args.trace), work, args.scale)
    try:
        bench.start_session()
        metrics = workloads.RUNNERS[args.workload](bench)
        if bench.traced:
            trace_path = os.path.join(
                WORK, f"trace-{args.workload}-{args.seed}.json")
            bench.tracer.write(trace_path)
            bench.detail["trace_file"] = os.path.relpath(trace_path, ROOT)
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    failed = bench.failed
    attempted = max(1, bench.attempted)
    bench.detail.update({"workload": args.workload, "seed": args.seed,
                         "failed_checks": bench.failures,
                         "ops_failed_ratio": failed / attempted})
    print(json.dumps(bench.detail, sort_keys=True, default=float))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _run_all(args) -> int:
    combined, attempted, failed = {}, 0, 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            return proc.returncode or 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        attempted += res["attempted"]
        failed += res["failed"]
        for key, val in res["metrics"].items():
            combined[f"{name}.{key}"] = val
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": combined}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size and warm-up factor (tests use tiny "
                    "values; measured runs keep 1)")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return _run_all(args)
    return _run_one(args)


if __name__ == "__main__":
    sys.exit(main())
