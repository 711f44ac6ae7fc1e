"""The repository's benchmark.

Usage, from the repository root:

    python3 perfbench/run.py --workload etl_50k --seed 1 --seconds 10 --trace 0

One process, one Spark session at ``local[<cpus>]``, one client in a
closed loop: each operation waits for the previous one, and starts with
no cached frame left by an earlier one. A run sets up (session plus
inputs), times a cold pass, then warm passes until ``--seconds`` have
passed since the first warm pass began and the workload's
``min_warm_passes`` are done. The output of every operation of every
pass is reduced to a summary outside the operation's timing, and all
summaries are checked after the timed passes.
``setup_s`` runs from process start until the session is up and the
inputs are generated. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics of the chosen workload.
``--trace 1`` traces every workload (so that every per-layer metric is
reported, whichever workload is named): each workload, and the layers
no workload times, makes one pass whose calls into the package are
spans (spans.py). A workload's tracing overhead is the time the tracer
itself spent around its spans, which is what the traced pass's wall
adds to an untraced one. A traced run also runs the job-attribution
self-test.

Every file the run writes goes under ``.perfbench_work/`` in the
checkout (warehouse, TSV, TMPDIR, SPARK_LOCAL_DIRS) and is removed at
exit.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_integration_openfoodfacts_spark"


def log(msg: str) -> None:
    print(msg, flush=True)


def isolate(work_dir: str) -> None:
    """Point every temporary location of the run into ``work_dir`` and let
    Python workers import the package from the checkout."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # JVM options of spark-submit's launcher; start_session passes the
    # same ones to the driver JVM. No perf-data file in the system /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # A 2g heap, not the session's 8g default: with 8g the driver's peak
    # RSS follows the garbage collector's timing more than the work. On
    # 4 vCPUs jvm_peak_rss_mb spread (IQR over median) 0.27 on
    # ledger_sf0.01 and 0.16 on etl_50k over five seeds with 8g, against
    # 0.11 and 0.12 over ten seeds with 2g; the bound is 0.25.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    sys.path[:0] = [HERE, ROOT]


def start_session(work_dir: str):
    from data_integration_openfoodfacts_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": os.environ["SPARK_LAUNCHER_OPTS"],
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest nearest rank with at least ten
    samples beyond it, but never below the median: with 22 samples or
    fewer that is the (upper) median."""
    ordered = sorted(samples)
    n = len(ordered)
    rank = max(n - 10, n // 2 + 1)
    return 100 * rank / n, ordered[rank - 1]


class Runner:
    """Runs operations of one workload, one at a time, and counts failed
    ones. Keeps every operation's output for the check after the timed
    passes, reduced to its summary. With a status store, every call is
    a span."""

    def __init__(self, spark, workload, store=None) -> None:
        self.spark = spark
        self.workload = workload
        self.store = store
        self.attempted = 0
        self.failed = 0
        self.outputs: list[tuple[str, object]] = []
        self.spans: dict = {}  # span -> SpanStats, when traced
        self.op_walls: dict[str, float] = {}  # of the latest pass, for the log

    def run_op(self, op) -> float:
        if op.fresh:
            self.spark.catalog.clearCache()
        # start every operation from collected Python and JVM heaps
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.store is None:
                out = op.call()
            else:
                from spans import SpanStats

                stats = self.spans.setdefault(op.span, SpanStats())
                out, span = self.store.measure(op.call)
                stats.add(span)
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            dt = time.perf_counter() - t0
            self.failed += 1
            log(f"FAIL {op.name}: raised\n{traceback.format_exc()}")
        else:
            dt = time.perf_counter() - t0
            if out is not None:
                self.summarize(op.name, out)
        self.op_walls[op.name] = round(dt, 3)
        return dt

    def summarize(self, name: str, out) -> None:
        try:
            self.outputs.append((name, self.workload.summarize(self.spark, out)))
        except Exception:  # noqa: BLE001 — counted as a wrong output
            self.failed += 1
            log(f"FAIL {name}: summarizing the output raised\n{traceback.format_exc()}")

    def timed_pass(self, ops, latencies: list[float] | None = None) -> float:
        """Run one pass; return its wall, the sum of its operations'."""
        self.op_walls = {}
        walls = [self.run_op(op) for op in ops]
        if latencies is not None:
            latencies.extend(walls)
        return sum(walls)

    def check(self) -> bool:
        """Check every output kept so far; count each wrong one as failed."""
        try:
            problems = self.workload.check(self.spark, self.outputs)
        except Exception:  # noqa: BLE001
            log(f"FAIL check raised\n{traceback.format_exc()}")
            self.failed += 1
            return False
        for name, problem in problems:
            log(f"FAIL {name}: {problem}")
        self.failed += len(problems)
        return not problems


def untraced_run(spark, workload, args, setup_s: float):
    rng = random.Random(args.seed)
    runner = Runner(spark, workload)
    cold = runner.timed_pass(workload.pass_ops(spark, rng))
    log(f"cold pass {cold:.3f}s {runner.op_walls}")
    warm, latencies = [], []
    t0 = time.perf_counter()
    while len(warm) < workload.min_warm_passes or time.perf_counter() - t0 < args.seconds:
        wall = runner.timed_pass(workload.pass_ops(spark, rng), latencies)
        warm.append(wall)
        log(f"warm pass {wall:.3f}s {runner.op_walls}")
    runner.check()
    tail_pct, tail_s = tail(latencies)
    log(f"op_tail_s is p{tail_pct:.0f} of n={len(latencies)} warm operations")
    log(f"op_fail_frac {runner.failed / runner.attempted:.4f} "
        f"({runner.failed} of {runner.attempted})")
    metrics = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (cold, "s"),
        "pass_wall_s": (statistics.median(warm), "s"),
        "op_p50_s": (statistics.median(latencies), "s"),
        "op_tail_s": (tail_s, "s"),
        "jvm_peak_rss_mb": (jvm_peak_rss_mb(spark), "MB"),
    }
    return runner, metrics


def traced_run(spark, args, work_dir: str):
    """Trace every workload, and the layers no workload times; return the
    per-layer metrics. Each makes one traced pass, with no warm-up: the
    ETL's spans are the first CSV parse and UDF start of the process."""
    from spans import COUNTER_UNITS, StatusStore, self_test
    from workloads import TRACED

    store = StatusStore(spark)
    rng = random.Random(args.seed)
    metrics: dict[str, tuple[float, str]] = {}
    raw: dict[str, object] = {}
    attempted = failed = 0

    test = self_test(spark, store)
    raw["self_test"] = test
    attempted += 1
    if test["window_jobs"] != test["expected_jobs"]:
        log(f"FAIL self-test: {test}")
        failed += 1

    for workload_cls in TRACED:
        workload = workload_cls(work_dir)
        workload.setup(spark, args.seed)
        runner = Runner(spark, workload, store)
        sc = spark.sparkContext
        for op in workload.trace_ops(spark, rng):
            # each call under its own job group, to set the group's job
            # count beside the window's in the raw record
            sc.setJobGroup(op.name, op.name)
            try:
                before = runner.spans.get(op.span)
                jobs_before = before.jobs if before else 0
                runner.run_op(op)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            raw[op.name] = {
                "span": op.span, "wall_s": runner.op_walls[op.name],
                "jobs": runner.spans[op.span].jobs - jobs_before,
                "group_jobs": store.group_job_count(op.name),
            }
        runner.check()
        attempted += runner.attempted
        failed += runner.failed
        for span, stats in runner.spans.items():
            for counter, value in stats.counters().items():
                metrics[f"{span}.{counter}"] = (value, COUNTER_UNITS[counter])
            raw[span] = {**stats.counters(), "failed_tasks": stats.failed_tasks}
        metrics[f"{workload.name}.failed_tasks"] = (
            sum(s.failed_tasks for s in runner.spans.values()), "count"
        )
        metrics[f"{workload.name}.tracing_overhead_s"] = (
            sum(s.trace_s for s in runner.spans.values()), "s"
        )
        if "sources.sinks" in runner.spans:
            metrics["sources.sinks.output_mb"] = (
                runner.spans["sources.sinks"].output_mb, "MB"
            )
    log("trace record " + json.dumps(raw, sort_keys=True))
    return attempted, failed, metrics


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE}/ not found in {ROOT}", file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    isolate(work_dir)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spark = None
    try:
        spark = start_session(work_dir)
        if args.trace:
            attempted, failed, metrics = traced_run(spark, args, work_dir)
        else:
            workload = WORKLOADS[args.workload](work_dir)
            workload.setup(spark, args.seed)
            setup_s = time.time() - PROCESS_START
            log(f"setup {setup_s:.3f}s")
            runner, metrics = untraced_run(spark, workload, args, setup_s)
            attempted, failed = runner.attempted, runner.failed
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
