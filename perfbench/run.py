"""goose-spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload listing_grids --seed 7 \\
        --seconds 10 --trace 0

Run from the root of a checkout. The workload's inputs are generated
from the seed into ``.perfbench_work/`` in the checkout, the public API
is driven from this single process on Spark ``local[4]``, every output
is checked against the generator's expectations, and the last line of
standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics, with
``--trace 1`` the per-layer metrics (``BENCHMARK.json`` names them and
``perfbench/README.md`` says what each should move). A run whose
outputs do not match prints ``correct: false`` with no metrics and
exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time


def _process_start() -> float:
    """``time.perf_counter()`` at the moment this process was created,
    so set-up time includes interpreter start and imports. Falls back
    to now where ``/proc`` is missing."""
    now = time.perf_counter()
    try:
        with open("/proc/self/stat") as fh:
            # field 22, start time in clock ticks since boot; the
            # command name (field 2) may hold spaces, so split after it
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        age = (time.clock_gettime(time.CLOCK_BOOTTIME)
               - ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError, AttributeError):
        return now
    return now - max(0.0, age)


T_START = _process_start()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
MIN_PASSES = 3
# one scan task per input file (each file "costs" more than a split),
# so the scheduler balances heavy documents across cores
OPEN_COST = 1 << 30


def _session(work: str):
    """A Spark session whose scratch space stays inside ``work``. JVM
    options apply to the first session of the process only."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    return (SparkSession.builder.master(f"local[{CORES}]")
            .appName("perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "3g")
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            .config("spark.local.dir", os.path.join(work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(4 * CORES))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.files.openCostInBytes", str(OPEN_COST))
            .getOrCreate())


class Run:
    """State of one benchmark run: work directory, sessions, timings."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.spark = None
        self.collector = None
        self.setup_s = 0.0
        self.gen_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup(self, workload) -> None:
        """The set-up a user of the program waits for: interpreter start
        and imports, the JVM and SparkContext, ``ship_package``, rule
        compile and an untimed warm pass, timed from process start less
        input generation. It is done once: a cold set-up takes several
        times longer than a timed pass, so repeating it would not fit a
        run."""
        from goose_parser_spark.deploy import ship_package
        from collect import SparkCollector, log

        self.spark = _session(self.work)
        self.spark.sparkContext.setLogLevel("ERROR")
        ship_package(self.spark)
        workload.compile()
        self.collector = SparkCollector(self.spark)
        with self.collector.group("warm"):
            workload.warm()
        self.setup_s = time.perf_counter() - T_START - self.gen_s
        log(f"set-up: {self.setup_s:.3f} s")

    def timed_passes(self, workload, proc) -> list[dict]:
        """Main passes until ``--seconds`` have been measured (at least
        ``MIN_PASSES``); each pass is its own job group."""
        from collect import log
        passes = []
        began = time.perf_counter()
        while (len(passes) < MIN_PASSES
               or time.perf_counter() - began < self.args.seconds):
            i = len(passes)
            cpu0 = proc.cpu_s()
            t0 = time.perf_counter()
            with self.collector.group(f"pass-{i}"):
                info = workload.main_pass(i)
            wall = time.perf_counter() - t0
            passes.append({"wall": wall, "cpu": proc.cpu_s() - cpu0,
                           "info": info, "group": f"pass-{i}"})
            log(f"pass {i}: {wall:.3f} s wall, {passes[-1]['cpu']:.2f} s cpu")
        return passes


def end_to_end(setup_s: float, passes: list[dict], docs: int,
               error_rows: int, worker_rss_mb: float) -> dict:
    """The set-up time, medians over the timed passes of one run, the
    error share of the output and the Python workers' peak RSS."""
    med = statistics.median
    return {
        "docs_per_s": {"value": docs / med(x["wall"] for x in passes),
                       "unit": "docs/s"},
        "cpu_ms_per_doc": {"value": 1e3 * med(x["cpu"] for x in passes) / docs,
                           "unit": "ms"},
        "doc_error_share": {"value": error_rows / docs, "unit": "ratio"},
        "worker_peak_rss_mb": {"value": worker_rss_mb, "unit": "MiB"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def _shutdown(run: Run) -> None:
    """Stop Spark, then the JVM (it exits when its stdin closes), and
    wait for it; stopping the context already stopped the Python
    daemon and its workers."""
    from pyspark import SparkContext

    if run.spark is not None:
        run.spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # outside a full checkout the program is missing: fail here,
    # before any input is generated or any result is printed
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import goose_parser_spark  # noqa: F401
    from collect import ProcTree, log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; "
                f"choose from {sorted(WORKLOADS)}")
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.chdir(ROOT)

    run = Run(args, work)
    workload = WORKLOADS[args.workload](run)
    try:
        t0 = time.perf_counter()
        workload.generate()
        run.gen_s = time.perf_counter() - t0
        log(f"generated {workload.docs} docs in {run.gen_s:.2f} s")
        run.setup(workload)
        proc = ProcTree()
        passes = run.timed_passes(workload, proc)
        worker_rss_mb = proc.worker_hwm_mb()
        failures = workload.verify(passes)
        log(f"verified: {len(failures)} failures")
        result = {"correct": not failures,
                  "attempted": workload.attempted(len(passes)),
                  "failed": len(failures), "metrics": {}}
        if failures:
            for f in failures[:10]:
                print(f"MISMATCH {f}", file=sys.stderr)
        elif args.trace:
            spans = os.path.join(base, f"{args.workload}.spans.jsonl")
            result["metrics"] = workload.layer_metrics(passes, spans)
            log("per-layer metrics done")
        else:
            result["metrics"] = end_to_end(run.setup_s, passes, workload.docs,
                                           workload.errors, worker_rss_mb)
    finally:
        _shutdown(run)
        shutil.rmtree(work, ignore_errors=True)
    log("done")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
