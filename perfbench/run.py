"""Benchmark of the trip pipeline and the declared-query tiers.

Usage (from the repository root):

    python3 perfbench/run.py --workload trip_backfill --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``trip_pipeline``: after a warm-up drain, three backfill units (a
  seeded trip set is produced as event files, drained by one
  ``availableNow`` pipeline in the throughput configuration, and a KPI
  document is written per pickup date), then a live feed lasting
  ``--seconds`` (an open-loop generator lands start/end file pairs every
  0.25 s, ~1k events/s, into a running pipeline on the default trigger).
- ``queries``: one closed-loop client runs a fixed set of JVM-only and
  Python/Arrow declared queries at sf0.1, whole passes until
  ``--seconds`` have been measured.

End-to-end metrics (``--trace 0``), defined for every workload:

- ``setup_s``: process start to the start of measurement: session start,
  input generation and warm-up (the query workload's warm-up is its
  oracle check).
- ``total_s``: median wall time of one unit of input, from its first byte
  to its last output: produce → last KPI document of a backfill unit, or
  one pass over the query set.
- ``rate_per_s``: backfill events drained per second of drain, or query
  executions per second.
- ``latency_p50_s`` / ``latency_p90_s``: per live trip, from when its
  later file was due to land to the commit of the micro-batch that stored
  it Completed; for queries, across the query set, each query's median
  time from builder call to the end of a ``noop`` write.

``--trace 1`` runs the same workload with every other unit traced and
prints the per-layer metrics instead, including ``trace.overhead_pct``
(traced against untraced units of the same run).  A per-layer metric
that a workload does not exercise reads 0.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it holds run
details (cores, heap, steal, sample counts).  The exit code is non-zero
when an output check fails.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import layers as L  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "real_time_trip_processing_project_spark"

WORKLOADS = ("trip_pipeline", "queries")

END_TO_END = {"setup_s": "s", "total_s": "s", "rate_per_s": "1/s",
              "latency_p50_s": "s", "latency_p90_s": "s"}


class Ctx:
    """What a workload needs: the session, its inputs' seed, the measured
    window and a work directory inside the checkout."""

    def __init__(self, args, spark, work: str, cores: int, layers) -> None:
        self.spark, self.seed, self.seconds = spark, args.seed, args.seconds
        self.trace = bool(args.trace)
        self.work, self.root, self.cores, self.layers = work, ROOT, cores, layers
        self.key_groups = 4 * cores
        self._n = 0
        self.setup_s = None
        self.measure_s = None
        self.timeline: dict[str, float] = {}

    def note(self, event: str) -> None:
        """Record when a set-up step finished, in seconds since start."""
        self.timeline[event] = round(time.perf_counter() - T_PROCESS, 3)

    def fresh_dir(self, name: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{name}-{self._n:03d}")
        os.makedirs(path)
        return path

    def begin_measure(self) -> None:
        self._t0 = time.perf_counter()
        self.setup_s = self._t0 - T_PROCESS
        self._cpu0 = L.cpu_times()

    def elapsed(self) -> float:
        return time.perf_counter() - self._t0

    def end_measure(self) -> None:
        self.measure_s = self.elapsed()
        self.layers.put("box.steal_pct", L.steal_pct(self._cpu0, L.cpu_times()))


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    import queries

    names = {
        "session.start_s": "s", "producer.write_s": "s", "producer.files": "count",
        "jobs.batches": "count", "jobs.rows_per_batch": "count", "jobs.trigger_ms": "ms",
        "jobs.add_batch_ms": "ms", "jobs.query_planning_ms": "ms", "jobs.latest_offset_ms": "ms",
        "jobs.get_batch_ms": "ms", "jobs.commit_ms": "ms", "jobs.source_s": "s",
        "correlator.batch_s": "s", "correlator.state_rows": "count", "correlator.state_mb_max": "MB",
        "correlator.state_update_ms": "ms", "correlator.state_commit_ms": "ms",
        "sinks.append_calls": "count", "sinks.append_ms": "ms", "sinks.store_files": "count",
        "sinks.store_mb": "MB", "sinks.current_trips_s": "s", "kpi.job_s": "s", "kpi.docs": "count",
        "live.batches": "count", "live.rows_per_batch": "count", "live.batch_ms": "ms",
        "live.generator_late_ms": "ms", "live.max_backlog_files": "count",
        "plans.build_s": "s", "plans.build_jobs": "count", "plans.run_s": "s",
        "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
        "python.boot_ms": "ms", "python.init_ms": "ms", "python.run_ms": "ms",
        "python.arrow_in_mb": "MB", "python.arrow_out_mb": "MB",
        "engine.task_cpu_s": "s", "engine.task_run_s": "s", "engine.gc_s": "s",
        "engine.shuffle_read_mb": "MB", "engine.shuffle_write_mb": "MB", "engine.spill_mb": "MB",
        "engine.tasks": "count", "engine.jobs": "count",
        "box.cores": "count", "box.steal_pct": "%",
        "trace.overhead_pct": "%", "trace.accumulator_errors": "count",
    }
    for q in queries.QUERIES:
        names[f"q.{q}.s"] = "s"
    return names


def heap_mb() -> int:
    """Engine heap: a quarter of the box's RAM, at most 4 GiB."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return int(min(4096, ram // 4))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE} not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb()}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # Python workers import the package (the correlator's functions)
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path[:0] = [ROOT, HERE]
    log_path = os.path.join(work, "engine.log")
    saved_stderr = os.dup(2)
    log = open(log_path, "w")
    os.dup2(log.fileno(), 2)  # engine logs stay out of the result stream
    try:
        result = run(args, cores, work)
    except Exception:
        traceback.print_exc()
        result = None
    finally:
        if "pyspark" in sys.modules:
            _stop()
        sys.stderr.flush()
        os.dup2(saved_stderr, 2)
        log.close()
    with open(log_path, errors="replace") as fh:
        text = fh.read()
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run still uses it
    if result is None:
        sys.stderr.write(text[-6000:])
        return 1
    detail, out = result
    if args.trace:  # each one drops a task's SQL metrics
        out["metrics"]["trace.accumulator_errors"] = {
            "value": text.count("Failed to update accumulator"), "unit": "count"}
    for p in detail["problems"]:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps(detail))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def _stop() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run(args, cores: int, work: str):
    import queries
    import trips
    from real_time_trip_processing_project_spark.session import get_spark

    lay = L.Layers()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", cpus=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    lay.put("session.start_s", time.perf_counter() - t0)
    lay.put("box.cores", cores)
    ctx = Ctx(args, spark, work, cores, lay)
    ctx.timeline["imported"] = round(t0 - T_PROCESS, 3)
    ctx.note("session")
    if args.workload == "trip_pipeline":
        res = trips.pipeline(ctx)
    else:
        res = queries.run(ctx)

    e2e = {**res["metrics"], "setup_s": ctx.setup_s}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "measured_s": ctx.measure_s, "cores_requested": cores, "cores_actual": os.cpu_count(),
        "heap": os.environ["SPARK_GRAFT_DRIVER_MEM"], "steal_pct": lay.values.get("box.steal_pct"),
        "end_to_end": e2e, "timeline": ctx.timeline, "problems": res["problems"], "warnings": res.get("warnings", []),
        **res["detail"],
    }
    if args.trace:
        values = lay.per_unit()
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u}
                   for n, u in per_layer_names().items()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END.items()}
    out = {"correct": not res["problems"], "attempted": int(res["attempted"]),
           "failed": int(res["failed"]), "metrics": metrics}
    return detail, out


if __name__ == "__main__":
    sys.exit(main())
