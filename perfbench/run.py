"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. It builds its inputs from ``--seed``
inside a private scratch directory under ``.perfbench_tmp/`` (removed
at exit), drives the engine through its public entry points for about
``--seconds`` seconds, checks every output it produced, and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics of a traced run. The line
before it (``{"info": ...}``) records the host, the set-up breakdown and
every figure under the names NOTES.md uses. It exits non-zero without a
result when the engine package is not beside ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "batch_processing_new_spark"

# name -> unit; mirrors BENCHMARK.json (perfbench/test_perfbench.py checks)
END_TO_END = {
    "setup_s": "s",
    "op_total_s": "s",
}
PER_LAYER_BASE = {
    "session.start_s": "s",
    "registry.construct_s": "s",
    "registry.construct_share": "ratio",
    "readers.load_table_s": "s",
    "readers.load_table_calls": "count",
    "readers.fan_out_s": "s",
    "readers.fan_out_calls": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.local_checkpoints": "count",
    "spark.exec_s": "s",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy_share": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "readers.read_csv_s": "s",
    "readers.row_id_s": "s",
    "writers.write_single_csv_s": "s",
    "pipeline.run_s": "s",
    "pipeline.report_s": "s",
    "enrich.rows": "count",
    "enrich.attempts": "count",
    "enrich.retries": "count",
    "enrich.sentinel_rows": "count",
    "enrich.input_partitions": "count",
    "enrich.run_s": "s",
    "enrich.call_p50_ms": "ms",
    "enrich.call_p99_ms": "ms",
    "enrich.inflight_mean": "count",
    "host.canary_s": "s",
    "host.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.attributed_share": "ratio",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.analytics import QUERIES

    return PER_LAYER_BASE | {f"query.{q}_s": "s" for q in QUERIES}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """One benchmark run: arguments, scratch space, session and tallies."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = nproc()
        base = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        # private per run: the engine names its shipped package zip only
        # by PID under the temp dir, and PIDs wrap within minutes
        self.tmp = tempfile.mkdtemp(prefix=f"{self.workload}-s{self.seed}-", dir=base)
        self.spark = None
        self.session_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.errors: list[str] = []
        self.checked = 0
        self.jvm_dead = False
        self.info: dict = {}

    def start_session(self):
        """Start the engine's session (timed); scratch dirs stay private."""
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        # every JVM would otherwise write its hsperfdata file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        tempfile.tempdir = None  # re-read TMPDIR on next use
        from batch_processing_new_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            },
        )
        self.session_s = time.perf_counter() - t0
        return self.spark

    # -- failure accounting ----------------------------------------------
    def jvm_alive(self) -> bool:
        try:
            self.spark.sparkContext._jvm.System.currentTimeMillis()
            return True
        except Exception:  # noqa: BLE001 — any py4j error means no JVM
            return False

    def op_failed(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")
        if not self.jvm_alive():
            self.jvm_dead = True

    def check(self, what: str, problem: str | None) -> bool:
        """Record one output check; a mismatch is a failed operation."""
        self.checked += 1
        if problem is None:
            return True
        self.failed += 1
        self.mismatches.append(f"{what}: {problem}")
        return False

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers it
        owns) to exit before the scratch directory goes."""
        if self.spark is not None:
            from pyspark import SparkContext

            proc = getattr(SparkContext._gateway, "proc", None)
            if not self.jvm_dead:
                try:
                    self.spark.stop()
                except Exception:  # noqa: BLE001 — a dying JVM must not crash the report
                    pass
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.tmp, ignore_errors=True)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def host_info(run: Run) -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    info = {
        "nproc": run.cores,
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }
    if run.spark is not None and not run.jvm_dead:
        sc = run.spark.sparkContext
        info["java"] = sc._jvm.System.getProperty("java.version")
        info["master"] = sc.master
        info["driver_memory"] = sc.getConf().get("spark.driver.memory", "")
    return info


def main(argv: list[str] | None = None) -> int:
    from perfbench import analytics, enrichment

    workloads = {
        "analytics_sf0.01": analytics.run,
        "enrich_batch": enrichment.run_batch,
        "enrich_service": enrichment.run_service,
    }
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench.procmem import PeakRss

    run = Run(args)
    steal0, total0 = cpu_jiffies()
    try:
        with PeakRss() as mem:
            try:
                metrics = workloads[args.workload](run)
            except Exception as exc:  # noqa: BLE001
                if run.spark is None or run.jvm_alive():
                    raise  # a set-up or benchmark fault: no result
                # the JVM died outside a counted operation: report it
                run.attempted += 1
                run.op_failed("workload", exc)
                metrics = {}
        metrics["host.peak_rss_mb"] = mem.peak_mb
        run.info["host"] = host_info(run)
        steal1, total1 = cpu_jiffies()
        # CPU time the hypervisor gave to other guests during the run
        run.info["host"]["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
        run.info["host"]["peak_rss_mb"] = mem.peak_mb
    finally:
        run.close()

    wanted = per_layer_units() if run.trace else END_TO_END
    # a workload outside BENCHMARK.json may report figures of its own
    extra = set(metrics) - set(END_TO_END) - set(per_layer_units())
    run.info.update(
        workload=run.workload,
        seed=run.seed,
        seconds=run.seconds,
        trace=run.trace,
        checked_outputs=run.checked,
        mismatches=run.mismatches,
        errors=run.errors[:20],
        jvm_dead=run.jvm_dead,
    )
    # inf (a failed request's latency) would not be valid JSON
    print(json.dumps({"info": run.info}, default=str).replace("Infinity", '"inf"'))
    result = {
        "correct": not run.mismatches and run.checked > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            # a layer the workload does not touch reads 0
            name: {"value": metrics.get(name, 0 if run.trace else None), "unit": unit}
            for name, unit in wanted.items()
        }
        | {name: {"value": metrics[name], "unit": "s"} for name in sorted(extra)},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found beside perfbench/", file=sys.stderr)
        sys.exit(2)
    sys.path[0] = ROOT  # import perfbench.* and the engine from the root
    sys.exit(main())
