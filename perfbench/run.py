"""Repository benchmark: the engine's batch ETL and query paths, called
through their public entry points from outside the package.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_cycles --seed 1 --seconds 10 --trace 0

Workloads (perfbench/README.md says why each exists):

* ``etl_cycles``  -- repeated bronze landings, each followed by
  ``plans.etl.build_etl_pipeline(...).run()``.
* ``queries``     -- passes over registry queries
  (``queries.QUERIES[name](spark, dir)`` executed to the noop sink).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps every call
in a span read from Spark's status store and prints the per-layer metrics.
The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  The lines before it are a
readable report: every metric with its unit, ``failed_share``, the host
calibration probe, a traced run's own end-to-end figures (their difference
to an untraced run's is the tracing overhead) and any failed output check.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# Import the benchmark as ``perfbench.*`` and the engine from the repository
# root; the script's own directory must not shadow either.
sys.path[0] = str(ROOT)
PACKAGE = ROOT / "cryptocurrency_data_pipeline_spark"

#: Workloads in BENCHMARK.json; every one reports the same metric names.
WORKLOADS = ("etl_cycles", "queries")

#: End-to-end metrics (printed with --trace 0) and their units.
END_TO_END = {
    "setup_s": "s",
    "p50_s": "s",
}

#: Per-layer metrics of the driver on every workload: the JVM's collector
#: time and peak used heap over the timed phase, and the run's peak RSS.
#: The peak RSS is not an end-to-end metric: with the program's own heap
#: settings it varied by 0.30 of its median (interquartile range) across
#: ten seeds of one workload, more than any bound allows.
DRIVER_METRICS = {"jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "driver.peak_rss_mb": "MB"}


def _module(workload: str):
    from perfbench import etl, queries

    return {"etl_cycles": etl, "queries": queries}[workload]


def per_layer_units() -> dict[str, str]:
    """Per-layer metric names and units.  A traced run prints all of them,
    whichever workload it runs: a layer the workload does not touch reads 0."""
    from perfbench.spans import span_units

    units = {}
    for name in WORKLOADS:
        mod = _module(name)
        units.update(span_units(mod.SPAN_KINDS))
        units.update(mod.METRICS)
    units.update(DRIVER_METRICS)
    return units


def _environment(work: Path) -> None:
    """Run environment for the driver, its JVM and its Python workers.

    Everything a run writes stays under ``work`` (inside the checkout)."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    # Python workers import the package by name: without the repository
    # root on their path the pandas-UDF queries fail with ModuleNotFoundError.
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # Every JVM the run starts (the launcher and the driver): temp files
    # under ``work`` and no /tmp/hsperfdata entry.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"


def _session_conf(work: Path) -> dict[str, str]:
    return {"spark.sql.warehouse.dir": str(work / "warehouse")}


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


@dataclass
class Run:
    """State shared between the harness and one workload."""

    seed: int
    seconds: float
    trace: bool
    work: Path
    spark: object = None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    end_to_end: dict[str, float] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)
    notes: dict[str, object] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        """One output check: an attempted operation that failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def bring_up(run: Run) -> float:
    """Launch the JVM and start the session (``get_spark`` plus one trivial
    job); returns the time it took."""
    from cryptocurrency_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    run.spark = get_spark("perfbench", extra_conf=_session_conf(run.work))
    run.spark.sparkContext.setLogLevel("ERROR")
    run.spark.range(1000).selectExpr("sum(id)").collect()
    took = time.perf_counter() - t0
    run.notes["bring_up_s"] = round(took, 3)
    return took


class JvmMemory:
    """Collector time and peak used heap of the driver JVM since ``start``."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.collectors = list(mf.getGarbageCollectorMXBeans())
        self.heap_pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]

    def _gc_ms(self) -> int:
        return sum(max(0, c.getCollectionTime()) for c in self.collectors)

    def start(self) -> None:
        for p in self.heap_pools:
            p.resetPeakUsage()
        self.gc0 = self._gc_ms()

    def read(self) -> dict[str, float]:
        # The pools peak at different moments, so the sum bounds the peak
        # of their total from above.
        peak = sum(p.getPeakUsage().getUsed() for p in self.heap_pools)
        return {"jvm.gc_s": (self._gc_ms() - self.gc0) / 1e3, "jvm.heap_peak_mb": peak / 2**20}


def _stop(spark) -> None:
    """Stop the session, then the JVM (and with it the Python workers it
    forked), and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=120)


def _report(workload: str, run: Run, metrics: dict[str, dict]) -> None:
    print(f"workload {workload}  seed {run.seed}  seconds {run.seconds:g}  trace {int(run.trace)}")
    for name, m in metrics.items():
        print(f"  {name:<38} {m['value']:>14.6g} {m['unit']}")
    share = run.failed / run.attempted if run.attempted else 1.0
    print(f"  {'failed_share':<38} {share:>14.6g} ratio ({run.failed} of {run.attempted})")
    for k, v in run.notes.items():
        print(f"  note {k}: {v}")
    for p in run.problems:
        print(f"  FAILED CHECK: {p}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not PACKAGE.is_dir() or not (ROOT / "bench.py").is_file():
        print(f"error: {ROOT} holds no engine package to benchmark", file=sys.stderr)
        return 2

    # A terminated run still stops its JVM and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    _environment(work)
    run = Run(args.seed, args.seconds, bool(args.trace), work)
    workload = None
    try:
        from bench import _calibration_sec

        workload = _module(args.workload).Workload(run)
        workload.generate()  # inputs: untimed, not part of setup_s
        setup_s = bring_up(run)
        t0 = time.perf_counter()
        workload.warm_up()
        setup_s += time.perf_counter() - t0
        # Host-speed probe right before and after the timed phase: a loaded
        # host shows in the report instead of passing for a regression.
        run.notes["calibration_start_s"] = _calibration_sec(run.spark)
        jvm = JvmMemory(run.spark)
        jvm.start()
        workload.measure()
        if run.trace:
            run.per_layer.update(jvm.read())
            jvm_pid = run.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            run.per_layer["driver.peak_rss_mb"] = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb(os.getpid())
        run.notes["calibration_end_s"] = _calibration_sec(run.spark)
        workload.check()
        run.end_to_end["setup_s"] = setup_s
    finally:
        try:
            if workload is not None:
                workload.close()  # before the session stops
            if run.spark is not None:
                _stop(run.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                work.parent.rmdir()  # only when no other run is using it

    if run.trace:
        for k in END_TO_END:
            run.notes[f"traced {k}"] = round(run.end_to_end[k], 3)
        metrics = {k: {"value": run.per_layer.get(k, 0.0), "unit": u} for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": run.end_to_end[k], "unit": u} for k, u in END_TO_END.items()}
    _report(args.workload, run, metrics)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
