"""The ``queries`` workload: one closed-loop client over a fixed set of
declared queries at sf0.1, from both the JVM-only and the Python/Arrow
tier.

Each execution is timed from calling the query builder to the end of a
``noop`` write, so driver-side jobs the builder runs eagerly are inside
the timing.  Outputs are checked once per query before the timed
window, against the query's DuckDB oracle (``testing.compare_query``),
or for a non-zero row count where the query has no oracle.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time

import numpy as np

import layers as L
from real_time_trip_processing_project_spark import testing

#: The Python/Arrow training tier (operators.similarity, operators.curation,
#: functions.text): Python task time dominates JVM CPU here.
CORPUS_QUERIES = ["sim_cosine_topk", "curation_span_corruption", "text_fingerprint"]

#: JVM-only declared queries: Catalyst planning, JVM operators and
#: builder-side eager jobs, no Python workers and no streaming.
SQL_QUERIES = [
    "trip_daily_kpis", "multiway_join_agg", "windowed_event_agg", "percentiles", "asof_join_events",
    "range_join_errors_before_purchase", "tpch_q1_pricing_summary", "tpch_q21_waiting_supplier",
]

#: Run order of one pass.  The set is sized so that its cold check plus
#: two warm passes fit a ~55 s run; see CHANGES.md for what was left out.
QUERIES = CORPUS_QUERIES + SQL_QUERIES

SCALE_FACTOR = 0.1


def _fixture(root: str, out_dir: str, seed: int) -> None:
    """The declared queries' parquet fixture, from the repository's local generator."""
    spec = importlib.util.spec_from_file_location(
        "gen_fixture", os.path.join(root, "tools", "gen_fixture.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.print = lambda *a, **k: None  # keep stdout for the result
    gen.generate(SCALE_FACTOR, out_dir, seed=seed)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _traced_execution(ctx, i: int, name: str, fn, sf_dir: str) -> float:
    """One execution with build/run split, job counts and Catalyst phases."""
    sc, lay = ctx.spark.sparkContext, ctx.layers
    sc.setJobGroup(f"build-{i}", name)
    t0 = time.perf_counter()
    df = fn(ctx.spark, sf_dir)
    t1 = time.perf_counter()
    sc.setJobGroup(f"run-{i}", name)
    _noop(df)
    t2 = time.perf_counter()
    lay.add("plans.build_s", t1 - t0)
    lay.add("plans.run_s", t2 - t1)
    lay.add("plans.build_jobs", len(sc.statusTracker().getJobIdsForGroup(f"build-{i}")))
    L.catalyst_phases(lay, df)
    return t2 - t0


def run(ctx, names: list[str] = QUERIES) -> dict:
    import __spark_entry__ as entry

    spark, lay = ctx.spark, ctx.layers
    sf_dir = ctx.fresh_dir("sf")
    _fixture(ctx.root, sf_dir, ctx.seed)
    ctx.note("inputs")
    fns, oracles = entry.queries(), entry.oracle_sql()
    con = testing.duckdb_conn(sf_dir)
    problems = []
    check_failed = 0
    for name in names:  # correctness check, which also warms every query up
        df = fns[name](spark, sf_dir)
        if name in oracles:
            r = testing.compare_query(name, df, oracles[name], con)
            if not r.ok:
                check_failed += 1
                problems.append(f"{name}: {r.detail}"[:300])
        elif df.count() == 0:
            check_failed += 1
            problems.append(f"{name}: no rows")
        spark.catalog.clearCache()
    con.close()
    ctx.note("checked")

    ctx.begin_measure()
    passes: list[dict] = []
    failed = 0
    while not passes or ctx.elapsed() < ctx.seconds or (ctx.trace and len(passes) < 4):
        traced = ctx.trace and len(passes) % 4 in (1, 2)  # ABBA cancels warm-up drift
        marks = L.EngineMarks(spark) if traced else None
        times: dict[str, float] = {}
        for i, name in enumerate(names):
            try:
                if traced:
                    times[name] = _traced_execution(ctx, i, name, fns[name], sf_dir)
                else:
                    t0 = time.perf_counter()
                    _noop(fns[name](spark, sf_dir))
                    times[name] = time.perf_counter() - t0
            except Exception as exc:  # a failed execution is counted, the client goes on
                failed += 1
                problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            finally:
                spark.catalog.clearCache()
        if traced:
            spark.sparkContext.setJobGroup("idle", "")
            marks.collect(lay)
            lay.units += 1
        passes.append({"times": times, "traced": traced})
    ctx.end_measure()

    per_exec = [t for p in passes for t in p["times"].values()]
    pass_s = [sum(p["times"].values()) for p in passes]
    # each query's median over the passes: percentiles across the set then
    # interpolate between two stable per-query values, not between the
    # extremes of neighbouring queries' samples
    per_query = {n: statistics.median(p["times"][n] for p in passes if n in p["times"])
                 for n in names if any(n in p["times"] for p in passes)}
    for name, t in per_query.items():
        lay.put(f"q.{name}.s", t)
    if ctx.trace:
        plain = [s for s, p in zip(pass_s, passes) if not p["traced"]]
        traced = [s for s, p in zip(pass_s, passes) if p["traced"]]
        lay.put("trace.overhead_pct", 100.0 * (statistics.median(traced) / statistics.median(plain) - 1))
    return {
        "metrics": {
            "total_s": statistics.median(pass_s),
            "rate_per_s": len(per_exec) / sum(pass_s),
            "latency_p50_s": float(np.percentile(list(per_query.values()), 50)),
            "latency_p90_s": float(np.percentile(list(per_query.values()), 90)),
        },
        "attempted": len(per_exec) + failed + len(names),
        "failed": failed + check_failed,
        "problems": problems,
        "detail": {"passes": len(passes), "executions": len(per_exec), "sf": SCALE_FACTOR,
                   "query_s": {n: round(t, 4) for n, t in per_query.items()}},
    }
