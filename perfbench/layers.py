"""Per-layer probes, read from outside the program.

Everything here observes the engine through public surfaces: wall-clock
spans around calls into a layer's public functions, Structured
Streaming's ``recentProgress`` records, Catalyst's phase tracker and
Spark's status stores (job/stage metrics and SQL metrics, which are
kept even with the UI off).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

#: SQL metrics of the Python worker layer (Spark 4.1), by output name.
PYTHON_SQL_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.arrow_in_mb",
    "data returned from Python workers": "python.arrow_out_mb",
}

_UNIT = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
         "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6, "GiB": 1024**3 / 1e6}


class Layers:
    """Per-layer values: sums over traced units of work, reported per
    unit, plus whole-run values reported as they are."""

    def __init__(self) -> None:
        self.sums: dict[str, float] = defaultdict(float)
        self.values: dict[str, float] = {}
        self.units = 0

    def add(self, name: str, value: float) -> None:
        self.sums[name] += value

    def put(self, name: str, value: float) -> None:
        self.values[name] = value

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.sums[name] += time.perf_counter() - t0

    def per_unit(self) -> dict[str, float]:
        n = max(self.units, 1)
        return {**{k: v / n for k, v in self.sums.items()}, **self.values}


@contextmanager
def wrapped(module, attr: str, layers: Layers, time_key: str, count_key: str):
    """Replace ``module.attr`` with a timing wrapper for the duration of
    the block; callers that look the attribute up at call time see it."""
    orig = getattr(module, attr)

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return orig(*args, **kwargs)
        finally:
            layers.add(time_key, (time.perf_counter() - t0) * 1e3)
            layers.add(count_key, 1)

    setattr(module, attr, timed)
    try:
        yield
    finally:
        setattr(module, attr, orig)


def cpu_times() -> list[int] | None:
    """Aggregate ``cpu`` jiffies from /proc/stat (None off Linux)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_pct(before: list[int] | None, after: list[int] | None) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    if not before or not after:
        return 0.0
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1)


def progress(query) -> list[dict]:
    """Parsed ``StreamingQuery.recentProgress`` records."""
    return [json.loads(p.json) for p in query.recentProgress]


def progress_end(p: dict) -> float:
    """Epoch seconds at which a micro-batch's trigger finished."""
    start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + p["durationMs"]["triggerExecution"] / 1e3


def add_progress(layers: Layers, progs: list[dict]) -> None:
    """Source, trigger-loop and state-store layers from progress records."""
    data = [p for p in progs if p.get("numInputRows")]
    layers.add("jobs.batches", len(data))
    layers.add("jobs.rows_per_batch", sum(p["numInputRows"] for p in data) / max(len(data), 1))
    for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                      ("queryPlanning", "query_planning_ms"), ("latestOffset", "latest_offset_ms"),
                      ("getBatch", "get_batch_ms"), ("commitOffsets", "commit_ms")):
        layers.add("jobs." + name, sum(p["durationMs"].get(key, 0) for p in progs))
    ops = [op for p in progs for op in p.get("stateOperators", [])]
    if ops:
        layers.add("correlator.state_rows", progs[-1]["stateOperators"][0]["numRowsTotal"]
                   if progs[-1].get("stateOperators") else 0)
        layers.add("correlator.state_mb_max", max(op["memoryUsedBytes"] for op in ops) / 1e6)
        layers.add("correlator.state_update_ms", sum(op.get("allUpdatesTimeMs", 0) for op in ops))
        layers.add("correlator.state_commit_ms", sum(op.get("commitTimeMs", 0) for op in ops))


def dir_stats(path: str) -> tuple[int, float]:
    """(data files, MB) under ``path``, ignoring checksum and marker files."""
    files, size = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size / 1e6


class EngineMarks:
    """Job, stage and SQL-execution watermarks of the status stores, so
    the work of one unit can be summed after it finishes."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.job, self.stage, self.execution = self._marks()

    def _stages(self):
        empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        return self.store.stageList(None, False, False, empty, None)

    def _marks(self) -> tuple[int, int, int]:
        job = max([-1, *self._all_job_ids()])
        stages = self._stages()
        it = stages.iterator()
        stage = -1
        while it.hasNext():
            stage = max(stage, it.next().stageId())
        execs = self.sql.executionsList()
        execution = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
        return job, stage, execution

    def _all_job_ids(self) -> list[int]:
        it = self.store.jobsList(None).iterator()
        ids = []
        while it.hasNext():
            ids.append(it.next().jobId())
        return ids

    def collect(self, layers: Layers) -> None:
        """Add the engine and Python-worker work done since the marks."""
        layers.add("engine.jobs", sum(1 for j in self._all_job_ids() if j > self.job))
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= self.stage:
                continue
            layers.add("engine.tasks", s.numTasks())
            layers.add("engine.task_run_s", s.executorRunTime() / 1e3)
            layers.add("engine.task_cpu_s", s.executorCpuTime() / 1e9)
            layers.add("engine.gc_s", s.jvmGcTime() / 1e3)
            layers.add("engine.shuffle_read_mb", s.shuffleReadBytes() / 1e6)
            layers.add("engine.shuffle_write_mb", s.shuffleWriteBytes() / 1e6)
            layers.add("engine.spill_mb", (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6)
        execs = self.sql.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.executionId() <= self.execution:
                break
            add_python_metrics(layers, e.metrics().toString(),
                               self.sql.executionMetrics(e.executionId()).toString())


_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),\w+\)")


def add_python_metrics(layers: Layers, plan_metrics: str, values: str) -> None:
    """Sum the Python-worker SQL metrics of one execution, given the
    string forms of its plan-metric list and accumulator-value map."""
    for name, acc in _PLAN_METRIC.findall(plan_metrics):
        key = PYTHON_SQL_METRICS.get(name)
        if key is None:
            continue
        m = re.search(rf"(?:\(|, ){acc} -> (.*?)(?=, \d+ -> |\)$)", values, re.S)
        if m:
            layers.add(key, parse_metric(m.group(1)))


def parse_metric(text: str) -> float:
    """A formatted SQL metric total in ms (timings) or MB (sizes)."""
    total = text.split("\n", 1)[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]+)", total)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 0.0)


def catalyst_phases(layers: Layers, df) -> None:
    """Analysis, optimisation and planning time of ``df``'s plan.

    The noop write plans a copy of the query, so ``df``'s own execution
    is planned here, after the timed run."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            layers.add(f"catalyst.{phase}_ms", opt.get().durationMs())
