"""The ``trip_pipeline`` workload: the paper's pipeline, first as a
backlog drain (throughput and the daily KPI documents), then as a live
open-loop feed (latency).

It drives the program only through its public entry points: the producer
writes the event files, ``jobs.start_trip_pipeline`` correlates them into
the trip store, and ``jobs.daily_kpi_job`` writes the KPI documents.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import statistics
import threading
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import layers as L
import tripgen
from real_time_trip_processing_project_spark.sources import producer, sinks
from real_time_trip_processing_project_spark.streaming import correlator, jobs

#: Trips per backfill unit; 64 files per stream drain in two
#: ``drain_mode`` triggers of 32 files each.
BACKFILL_TRIPS = 8_000
BACKFILL_FILES = 64
WARMUP_TRIPS = 2_000
WARMUP_FILES = 32

#: Open-loop schedule: 125 trips land every 0.25 s, i.e. ~1k events/s.
#: Ticks well under the ~1 s micro-batch keep arrivals close to uniform,
#: so latency percentiles do not hinge on how ticks align with batches.
#: At this rate fixed per-batch cost dominates a batch, and the default
#: trigger's feedback (a longer batch gathers more rows for the next one)
#: amplifies run-to-run noise less than at 2k events/s.
TICK_S = 0.25
TRIPS_PER_TICK = 125
LIVE_WARMUP_TICKS = 8

#: Backfill units per run (their median is reported); traced runs use
#: four, ordered untraced, traced, traced, untraced.
BACKFILL_UNITS = 3
GRACE_S = 30.0


def _pipeline_dirs(ctx) -> dict[str, str]:
    root = ctx.fresh_dir("pipe")
    return {n: os.path.join(root, n) for n in ("start", "end", "store", "orphans", "ckpt", "kpi")}


def _dates(ts: tripgen.TripSet) -> list[str]:
    return sorted({e["pickup_datetime"][:10] for e in ts.starts})


def _read_docs(kpi_root: str) -> dict[str, dict]:
    docs = {}
    for path in glob.glob(os.path.join(kpi_root, "*", "*.json")):
        with open(path) as fh:
            doc = json.load(fh)
        docs[doc["date"]] = doc["metrics"]
    return docs


def _completed_batches(store: str) -> dict[str, int]:
    """trip_id → first micro-batch that stored it Completed
    (``updated_at`` is ``batch_id * 10 + rank`` microseconds)."""
    t = pq.read_table(store, columns=["trip_id", "status", "updated_at"])
    us = t.column("updated_at").cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
    df = pd.DataFrame({"trip_id": t.column("trip_id").to_numpy(zero_copy_only=False),
                       "status": t.column("status").to_numpy(zero_copy_only=False), "batch": us // 10})
    done = df[df["status"] == "Completed"]
    return done.groupby("trip_id")["batch"].min().to_dict()


def _layer_probes(ctx, d: dict[str, str], progs: list[dict]) -> None:
    """Isolated source, correlator and store-read probes of one traced
    unit, run after it so its timing is untouched."""
    spark, lay = ctx.spark, ctx.layers
    L.add_progress(lay, progs)
    with lay.span("jobs.source_s"):
        tagged = jobs.tagged_union_batch(spark, d["start"], d["end"])
        tagged.write.format("noop").mode("overwrite").save()
    with lay.span("correlator.batch_s"):
        correlator.correlate_batch(tagged).write.format("noop").mode("overwrite").save()
    with lay.span("sinks.current_trips_s"):
        sinks.current_trips(spark, d["store"]).write.format("noop").mode("overwrite").save()
    files, mb = L.dir_stats(d["store"])
    lay.add("sinks.store_files", files)
    lay.add("sinks.store_mb", mb)


def _backfill_unit(ctx, ts: tripgen.TripSet, traced: bool, n_files: int = BACKFILL_FILES) -> dict:
    """Produce → drain → daily KPIs for one generated trip set."""
    d = _pipeline_dirs(ctx)
    lay = ctx.layers
    marks = L.EngineMarks(ctx.spark) if traced else None
    starts, ends = tripgen.wire(ts.starts), tripgen.wire(ts.ends)
    t0 = time.perf_counter()
    paths = producer.write_stream_files(starts, d["start"], n_files=n_files)
    paths += producer.write_stream_files(ends, d["end"], n_files=n_files)
    t_prod = time.perf_counter()
    wrap = (L.wrapped(sinks, "append_trip_batch", lay, "sinks.append_ms", "sinks.append_calls")
            if traced else contextlib.nullcontext())
    with wrap:
        pq_ = jobs.start_trip_pipeline(
            ctx.spark, d["start"], d["end"], d["store"], d["orphans"], d["ckpt"],
            available_now=True, key_groups=ctx.key_groups, drain_mode=True,
        )
        pq_.await_termination()
    t_drain = time.perf_counter()
    docs = [jobs.daily_kpi_job(ctx.spark, d["store"], day, d["kpi"]) for day in _dates(ts)]
    t_kpi = time.perf_counter()

    if traced:
        marks.collect(lay)
        lay.add("producer.write_s", t_prod - t0)
        lay.add("producer.files", len(paths))
        lay.add("kpi.job_s", t_kpi - t_drain)
        lay.add("kpi.docs", sum(p is not None for p in docs))
        _layer_probes(ctx, d, L.progress(pq_.main))
        lay.units += 1
    return {"total_s": t_kpi - t0, "drain_s": t_drain - t_prod,
            "docs": _read_docs(d["kpi"]), "traced": traced}


def _backfill_phase(ctx, ts: tripgen.TripSet, oracle: dict) -> dict:
    """Backfill units of the same seeded trip set, each into fresh
    directories."""
    n_units = 4 if ctx.trace else BACKFILL_UNITS
    units = [_backfill_unit(ctx, ts, traced=ctx.trace and i in (1, 2)) for i in range(n_units)]
    failed, problems = 0, []
    for u in units:
        missing, bad = tripgen.kpi_mismatches(u["docs"], oracle)
        failed += missing
        problems += bad
    if ctx.trace:
        plain = [u["total_s"] for u in units if not u["traced"]]
        traced = [u["total_s"] for u in units if u["traced"]]
        ctx.layers.put("trace.overhead_pct", 100.0 * (statistics.median(traced) / statistics.median(plain) - 1))
    return {
        "total_s": statistics.median(u["total_s"] for u in units),
        "rate_per_s": statistics.median(ts.n_events / u["drain_s"] for u in units),
        "attempted": len(ts.completed_ids) * len(units),
        "failed": failed,
        "problems": problems,
        "detail": {"backfill_unit_s": [round(u["total_s"], 3) for u in units],
                   "backfill_events_per_unit": ts.n_events},
    }


def pipeline(ctx) -> dict:
    """Set up, then a backfill phase (throughput, KPI documents) and a
    live phase (latency) whose feed lasts ``ctx.seconds``."""
    warm = tripgen.generate(ctx.seed + 1, WARMUP_TRIPS, WARMUP_TRIPS / WARMUP_FILES)
    ts = tripgen.generate(ctx.seed, BACKFILL_TRIPS, BACKFILL_TRIPS / BACKFILL_FILES)
    oracle = tripgen.kpi_oracle(ts)
    live_ticks = LIVE_WARMUP_TICKS + math.ceil(ctx.seconds / TICK_S)
    live_ts = tripgen.generate(ctx.seed + 2, live_ticks * TRIPS_PER_TICK, TRIPS_PER_TICK)
    ctx.note("inputs")
    _backfill_unit(ctx, warm, traced=False, n_files=WARMUP_FILES)
    ctx.note("warm_up")
    ctx.begin_measure()
    bf = _backfill_phase(ctx, ts, oracle)
    ctx.note("backfill")
    lv = _live_phase(ctx, live_ts)
    ctx.end_measure()
    return {
        "metrics": {"total_s": bf["total_s"], "rate_per_s": bf["rate_per_s"],
                    "latency_p50_s": lv["latency_p50_s"], "latency_p90_s": lv["latency_p90_s"]},
        "attempted": bf["attempted"] + lv["attempted"],
        "failed": bf["failed"] + lv["failed"],
        "problems": bf["problems"] + lv["problems"],
        "warnings": lv["warnings"],
        "detail": {**bf["detail"], **lv["detail"]},
    }


def _by_tick(events: list[dict]) -> dict[int, list[dict]]:
    ticks: dict[int, list[dict]] = {}
    for e in events:
        ticks.setdefault(int(e["slot"]), []).append({k: v for k, v in e.items() if k != "slot"})
    return ticks


def _first_tick(events: list[dict]) -> dict[str, int]:
    first: dict[str, int] = {}
    for e in events:
        first.setdefault(e["trip_id"], int(e["slot"]))
    return first


class _Lander(threading.Thread):
    """Open-loop generator: lands tick ``k``'s start and end files at
    ``t0 + k * TICK_S`` whatever the pipeline is doing.  Each file is
    written into a staging directory on the same filesystem and renamed
    into the stream directory, so the file source never lists a
    half-written file."""

    def __init__(self, d: dict[str, str], starts, ends, n_ticks: int, t0: float, stage: str):
        super().__init__(daemon=True)
        self.d, self.starts, self.ends, self.n_ticks = d, starts, ends, n_ticks
        self.t0, self.stage = t0, stage
        self.late_s: list[float] = []
        self.rows_landed: list[int] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            total = 0
            for k in range(self.n_ticks):
                due = self.t0 + k * TICK_S
                time.sleep(max(0.0, due - time.time()))
                for kind, events in (("start", self.starts.get(k, [])), ("end", self.ends.get(k, []))):
                    if not events:
                        continue
                    staged = producer.write_stream_files(events, self.stage, n_files=1, prefix=f"{kind}-{k:05d}")
                    for p in staged:
                        os.rename(p, os.path.join(self.d[kind], os.path.basename(p)))
                    total += len(events)
                self.late_s.append(time.time() - due)
                self.rows_landed.append(total)
        except BaseException as exc:  # surfaced by the main thread
            self.error = exc


def _live_phase(ctx, ts: tripgen.TripSet) -> dict:
    """Open-loop feed of ``ts`` into a running pipeline; the first
    ``LIVE_WARMUP_TICKS`` ticks are warm-up.  Per-trip latency runs from
    the due time of the trip's later file to the commit that stored it
    Completed."""
    spark, lay = ctx.spark, ctx.layers
    starts, ends = _by_tick(ts.starts), _by_tick(ts.ends)
    n_ticks = max(max(starts), max(ends)) + 1
    s_tick, e_tick = _first_tick(ts.starts), _first_tick(ts.ends)
    measured = {t for t in ts.completed_ids if s_tick[t] >= LIVE_WARMUP_TICKS}

    d = _pipeline_dirs(ctx)
    for k in ("start", "end"):
        os.makedirs(d[k])
    stage = ctx.fresh_dir("staging")
    pq_ = jobs.start_trip_pipeline(
        spark, d["start"], d["end"], d["store"], d["orphans"], d["ckpt"], key_groups=ctx.key_groups,
    )
    try:
        t0 = time.time() + 0.5
        lander = _Lander(d, starts, ends, n_ticks, t0, stage)
        lander.start()
        t_measure = t0 + LIVE_WARMUP_TICKS * TICK_S
        lander.join()
        if lander.error is not None:
            raise lander.error
        drained = _await_rows(pq_.main, lander)
    finally:
        pq_.stop()

    progs = L.progress(pq_.main)
    ends_at = {p["batchId"]: L.progress_end(p) for p in progs}
    stored = _completed_batches(d["store"])
    lat = {}
    for t in measured:
        b = stored.get(t)
        if b is not None and b in ends_at:
            lat[t] = ends_at[b] - (t0 + max(s_tick[t], e_tick[t]) * TICK_S)
    late_ticks = {k for k, s in enumerate(lander.late_s) if s > TICK_S}
    failed_ids = {t for t in measured if t not in lat or s_tick[t] in late_ticks or e_tick[t] in late_ticks}
    current = {r["trip_id"] for r in sinks.current_trips(spark, d["store"])
               .filter("status = 'Completed'").select("trip_id").collect()}
    problems, warnings = [], []
    if late_ticks:
        warnings.append(f"generator fell more than one tick behind on ticks {sorted(late_ticks)}")
    if not drained:
        warnings.append(f"pipeline did not drain within {GRACE_S} s of the last tick")
    extra = current - ts.completed_ids
    if extra:
        problems.append(f"{len(extra)} trips Completed that never completed, e.g. {sorted(extra)[:3]}")
    missing = measured - current
    if missing:
        problems.append(f"{len(missing)} completed trips never reached current_trips, e.g. {sorted(missing)[:3]}")
    failed_ids |= missing
    vals = list(lat.values())
    if not vals:
        raise RuntimeError("no measured trip reached the store")
    last_commit = max(ends_at[stored[t]] for t in lat)
    n_events = sum(len(starts.get(k, [])) + len(ends.get(k, [])) for k in range(LIVE_WARMUP_TICKS, n_ticks))
    backlog = _max_backlog(lander, progs)

    live_batches = [p for p in progs if p.get("numInputRows") and L.progress_end(p) >= t_measure]
    lay.put("live.batches", len(live_batches))
    lay.put("live.rows_per_batch", statistics.median(p["numInputRows"] for p in live_batches))
    lay.put("live.batch_ms", statistics.median(p["durationMs"]["triggerExecution"] for p in live_batches))
    lay.put("live.generator_late_ms", 1e3 * max(lander.late_s))
    lay.put("live.max_backlog_files", backlog)
    return {
        "latency_p50_s": float(np.percentile(vals, 50)),
        "latency_p90_s": float(np.percentile(vals, 90)),
        "attempted": len(measured),
        "failed": len(failed_ids),
        "problems": problems,
        "warnings": warnings,
        "detail": {"live_ticks": n_ticks, "tick_s": TICK_S, "trips_per_tick": TRIPS_PER_TICK,
                   "live_drain_s": last_commit - t_measure, "live_events": n_events,
                   "latency_samples": len(vals), "live_batches": len(live_batches),
                   "generator_late_ms_max": round(1e3 * max(lander.late_s), 1),
                   "max_backlog_files": backlog},
    }


def _await_rows(query, lander: _Lander) -> bool:
    """Wait until the query has read every landed row (or the grace
    period ends); True when it drained."""
    want = lander.rows_landed[-1]
    deadline = time.time() + GRACE_S
    while time.time() < deadline:
        if sum(p.get("numInputRows", 0) for p in L.progress(query)) >= want:
            return True
        time.sleep(0.1)
    return False


def _max_backlog(lander: _Lander, progs: list[dict]) -> int:
    """Most stream files landed but not yet committed at any landing.

    Files are consumed in landing order, so tick ``k`` is committed by
    the first batch whose cumulative input reaches its cumulative rows."""
    cum, done_at = 0, []
    for p in sorted(progs, key=lambda p: p["batchId"]):
        cum += p.get("numInputRows", 0)
        done_at.append((cum, L.progress_end(p)))
    committed = []
    for rows in lander.rows_landed:
        committed.append(next((t for c, t in done_at if c >= rows), math.inf))
    landed = [lander.t0 + k * TICK_S + s for k, s in enumerate(lander.late_s)]
    return max(2 * sum(1 for j in range(k + 1) if committed[j] > landed[k]) for k in range(len(landed)))
