"""Workload ``catalog_sf0.01``: the 31 headline (``bench=True``) catalog
queries over tables generated from the seed.

Set-up generates the tables (perfbench/catalog_data.py) and runs the
check pass, which is also the warm-up: every query's result is collected
and compared with its DuckDB oracle under the ``frames_match`` rule of
tests/test_oracle_parity.py. The measured passes then run the queries one
after another, each written to the ``noop`` sink after ``clearCache()``,
until ``--seconds`` have passed (at least one pass); the pass with the
median wall time is reported.
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import catalog_data
import harness

SF = 0.01
SETUP_REPS = 3
SPARK_THREADS = 3  # the check pass's Spark queries
ORACLE_THREADS = 2  # DuckDB oracles, alongside the Spark queries
ORACLE_DUCKDB_THREADS = 2


def _queries():
    from dionysus_rb_spark.plans import all_queries

    return {n: q for n, q in sorted(all_queries().items()) if q.bench}


def _oracle_rule():
    sys.path.insert(0, os.path.join(harness.ROOT, "tests"))
    from test_oracle_parity import _duck, frames_match

    return _duck, frames_match


def _check(spark, sf_dir: str, qs) -> tuple[dict[str, bool], dict[str, float]]:
    """Collect every query and compare it with its DuckDB oracle. The
    Spark queries run on a few threads, and the oracles on a pool of their
    own at the same time: this pass is set-up, not measured. Returns the
    verdict per query and when each side finished."""
    duck, frames_match = _oracle_rule()
    t0 = time.perf_counter()

    def timed(fn, *args):
        out = fn(*args)
        return out, time.perf_counter() - t0

    def oracle(sql: str):
        con = duck(sf_dir)
        try:
            con.execute(f"SET threads={ORACLE_DUCKDB_THREADS}")
            return con.execute(sql).df()
        finally:
            con.close()

    with ThreadPoolExecutor(ORACLE_THREADS) as duck_pool, ThreadPoolExecutor(
        SPARK_THREADS
    ) as spark_pool:
        want = {
            n: duck_pool.submit(timed, oracle, q.oracle) for n, q in qs.items() if q.oracle
        }
        got = {
            n: spark_pool.submit(timed, lambda q=q: q.fn(spark, sf_dir).toPandas())
            for n, q in qs.items()
        }
        got = {n: f.result() for n, f in got.items()}
        want = {n: f.result() for n, f in want.items()}
    verdict = {n: n not in want or bool(frames_match(got[n][0], want[n][0])) for n in qs}
    finished = {
        "spark_s": max(t for _, t in got.values()),
        "oracles_s": max((t for _, t in want.values()), default=0.0),
    }
    return verdict, finished


def _timed_pass(spark, sf_dir: str, qs, split: bool, tag: str) -> dict[str, dict]:
    """One pass over the queries. With ``split`` each query's time is
    broken into construction (the ``fn`` call), planning (Catalyst,
    forced on the returned frame) and the action; its jobs run in job
    group ``pb:<tag>:<query>``."""
    out = {}
    sc = spark.sparkContext
    for name, qd in qs.items():
        if split:
            sc.setJobGroup(f"pb:{tag}:{name}", name)
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = qd.fn(spark, sf_dir)
        t1 = time.perf_counter()
        if split:
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        out[name] = {"s": t3 - t0, "construct_s": t1 - t0, "plan_s": t2 - t1, "action_s": t3 - t2}
    if split:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out


def _setup(session, seed: int, reps: int) -> dict:
    """Generate the tables ``reps`` times (the last copy is used), then
    run the check pass."""
    qs = _queries()
    gen_times = []
    for rep in range(reps):
        sf_dir = os.path.join(harness.WORK, f"sf_{rep}")
        t0 = time.perf_counter()
        catalog_data.generate(sf_dir, seed, SF)
        gen_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    verdict, finished = _check(session.spark, sf_dir, qs)
    failed = sorted(n for n, ok in verdict.items() if not ok)
    return {
        "qs": qs,
        "sf_dir": sf_dir,
        "generate_reps_s": gen_times,
        "check_s": time.perf_counter() - t0,
        "check_finished_s": finished,
        "attempted": len(qs),
        "failed": len(failed),
        "mismatched_queries": failed,
    }


def _measure(spark, setup: dict, seconds: float, split: bool, tag: str) -> dict:
    """Timed passes for ``seconds`` (at least one); the median pass."""
    qs, sf_dir = setup["qs"], setup["sf_dir"]
    passes = []
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        passes.append(_timed_pass(spark, sf_dir, qs, split, f"{tag}{len(passes)}"))
    totals = [sum(q["s"] for q in p.values()) for p in passes]
    mid = sorted(range(len(passes)), key=lambda i: totals[i])[(len(passes) - 1) // 2]
    per_query = [q["s"] for q in passes[mid].values()]
    return {
        "e2e": {
            "throughput_per_s": len(qs) / totals[mid],
            "latency_ms_p50": harness.quantile(per_query, 0.5) * 1e3,
            "latency_ms_p99": harness.quantile(per_query, 0.99) * 1e3,
            "total_s": totals[mid],
        },
        "chosen": passes[mid],
        "pass_tag": f"{tag}{mid}",
        "pass_totals_s": totals,
    }


def measure(session, seed, seconds, session_start_s, corrupt):
    setup = _setup(session, seed, SETUP_REPS)
    r = _measure(session.spark, setup, seconds, split=False, tag="m")
    metrics = {
        "throughput_per_s": r["e2e"]["throughput_per_s"],
        "setup_s": session_start_s + harness.median(setup["generate_reps_s"]) + setup["check_s"],
        "peak_rss_mb": harness.peak_rss_mb(session.jvm_pid()),
    }
    detail = {
        "sf": SF,
        **r["e2e"],
        "pass_totals_s": r["pass_totals_s"],
        "mismatched_queries": setup["mismatched_queries"],
        "setup_parts_s": {
            "session_start": session_start_s,
            "generate_reps": setup["generate_reps_s"],
            "check_pass": setup["check_s"],
            "check_pass_sides_finished": setup["check_finished_s"],
        },
    }
    return {
        "attempted": setup["attempted"],
        "failed": setup["failed"],
        "correct": setup["failed"] == 0,
        "metrics": metrics,
        "detail": detail,
    }


def trace(session, seed, seconds, session_start_s):
    """One set-up and check pass, untraced passes, then traced ones (event
    log on, per-query split) on a restarted SparkContext of the same JVM."""
    import eventlog

    setup = _setup(session, seed, 1)
    a = _measure(session.spark, setup, seconds, split=False, tag="u")
    session.restart(session.cores, trace=True)
    b = _measure(session.spark, setup, seconds, split=True, tag="t")
    app = session.app_id
    session.restart(session.cores, trace=False)  # completes the event log
    ev = eventlog.read(session.event_dir, app, eventlog.group_label("pb"))

    chosen, tag = b["chosen"], b["pass_tag"]
    usage = eventlog.Usage()
    for name in chosen:
        usage.add(ev.get(f"{tag}:{name}"))
    metrics = {
        "plans.construct_s": sum(q["construct_s"] for q in chosen.values()),
        "plans.plan_s": sum(q["plan_s"] for q in chosen.values()),
        "plans.action_s": sum(q["action_s"] for q in chosen.values()),
        "plans.jobs": float(usage.jobs),
        **{f"plans.{n}.s": q["s"] for n, q in chosen.items()},
        "spark.task_s": usage.task_s,
        "spark.gc_s": usage.gc_s,
        "spark.shuffle_write_bytes": float(usage.shuffle_write_bytes),
        "spark.spill_bytes": float(usage.spill_bytes),
        "spark.jobs": float(usage.jobs),
        "trace.untraced_total_s": a["e2e"]["total_s"],
        "trace.traced_total_s": b["e2e"]["total_s"],
        "trace.overhead_s": b["e2e"]["total_s"] - a["e2e"]["total_s"],
    }
    detail = {
        "per_query": {
            n: {**q, "jobs": ev.get(f"{tag}:{n}").jobs, "task_s": ev.get(f"{tag}:{n}").task_s}
            for n, q in chosen.items()
        },
        "untraced_pass_totals_s": a["pass_totals_s"],
        "traced_pass_totals_s": b["pass_totals_s"],
        "mismatched_queries": setup["mismatched_queries"],
        "check_s": setup["check_s"],
        "failed_or_speculative_attempts": ev.total.failed_or_speculative_attempts,
    }
    return {
        "attempted": setup["attempted"],
        "failed": setup["failed"],
        "correct": setup["failed"] == 0,
        "metrics": metrics,
        "detail": detail,
    }
