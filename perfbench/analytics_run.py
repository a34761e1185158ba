"""Runs the analytics_sf0.01 workload: one untimed warm pass (counted
in set-up), then timed passes. Each query call materialises its result
with ``toPandas()``; after the timed passes, outside every timing, every
collected result is compared with the query's DuckDB oracle, as kept
in ``perfbench/oracles/``."""

from __future__ import annotations

import datetime as dt
import time
from collections import defaultdict

from perfbench import analytics, metrics, stats
from perfbench.trace import GroupStats, fold_event_log

# Timed passes at the least, whatever --seconds says; the metrics are
# medians over them. A pass takes 6-10 s and its cost still falls from
# one pass to the next after the warm pass, so one or two passes are
# too noisy to gate.
MIN_PASSES = 3


def run(sess, args, t_start: float) -> dict:
    from mie_spark.queries import QUERIES, _load_all

    _load_all()
    spark = sess.spark
    sf = str(sess.work / "sf0.01")
    analytics.write_corpus(args.seed, sf)
    written = time.perf_counter()
    for q in analytics.QUERIES:  # untimed warm pass, counted in set-up
        _collect(QUERIES[q], spark, sf)  # a failing query fails again below
    setup_s = time.perf_counter() - t_start

    traced = bool(args.trace)
    times: dict[str, list[float]] = defaultdict(list)
    call_cpu_ms: list[tuple[float, float]] = []  # CPU ms of each call, all and app (run.Session.cpu)
    app_ms: dict[str, list[float]] = defaultdict(list)  # query -> app CPU ms of its calls
    results: list[tuple[str, object]] = []  # (query, pandas frame or why it failed)
    # (job group, query, start, end, wall ms): the queries-layer span of each call
    spans: list[tuple[str, str, float, float, float]] = []
    pass_s: list[float] = []
    pass_cpu_s: list[float] = []
    pass_app_s: list[float] = []
    t0 = time.perf_counter()
    while len(pass_s) < MIN_PASSES or time.perf_counter() - t0 < args.seconds:
        p0, cpu, app = time.perf_counter(), 0.0, 0.0
        for q in analytics.QUERIES:
            group = f"perfbench-{len(spans)}"
            if traced:
                spark.sparkContext.setJobGroup(group, q)
            c0, ts = sess.cpu(), time.perf_counter()
            w0 = time.time()
            results.append((q, _collect(QUERIES[q], spark, sf)))
            w1 = time.time()
            times[q].append((time.perf_counter() - ts) * 1000.0)
            c1 = sess.cpu()
            call_cpu_ms.append(((c1[0] - c0[0]) * 1000.0, (c1[1] - c0[1]) * 1000.0))
            app_ms[q].append(call_cpu_ms[-1][1])
            cpu += c1[0] - c0[0]
            app += c1[1] - c0[1]
            spans.append((group, q, w0, w1, times[q][-1]))
        pass_s.append(time.perf_counter() - p0)
        pass_cpu_s.append(cpu)
        pass_app_s.append(app)
    if traced:
        spark.sparkContext.setJobGroup("perfbench-idle", "idle")
    peak = sess.peak_rss_mb()

    expected = analytics.oracle_frames(sf, {q: analytics.oracle_sql(q) for q in analytics.QUERIES})
    failures = []
    for q, got in results:
        reason = got if isinstance(got, str) else analytics.compare(got, expected[q])
        if reason:
            failures.append(f"{q}: {reason}")
    attempted = len(results)

    fam = {f: [ms for q in qs for ms in times[q]] for f, qs in analytics.FAMILIES.items()}
    all_ms = [ms for q in analytics.QUERIES for ms in times[q]]
    e2e = {
        "setup_s": setup_s,
        "session_s": stats.median(pass_s),
        "session_cpu_s": stats.median(pass_cpu_s),
        "session_app_cpu_s": stats.median(pass_app_s),
        "call_app_cpu_geomean_ms": stats.geomean([stats.median(app_ms[q]) for q in analytics.QUERIES]),
        "call_p50_ms": stats.median(all_ms),
        "query_geomean_ms": stats.geomean([stats.median(times[q]) for q in analytics.QUERIES]),
        **{f"{f}_p50_ms": stats.median(fam[f]) for f in metrics.TOOLS},
        "driver_peak_rss_mb": sum(peak),
    }
    report = metrics.report(e2e, peak, all_ms, len(failures), attempted)
    for q in analytics.QUERIES:
        report[f"query_ms.{q}"] = {"value": stats.median(times[q]), "unit": "ms"}

    if traced:
        sess.stop()
        groups, progress = fold_event_log(sess.event_log_lines())
        out = metrics.complete_per_layer(per_layer(groups, progress, spans))
    else:
        out = {n: report[n] for n, _ in metrics.END_TO_END}
    prov = {
        "corpus": "seeded, sf0.01 row counts (lineitem 60000)",
        "materialisation": "toPandas()",
        "setup_phases_s": {
            "spark_start": sess.ready - t_start,
            "write_corpus": written - sess.ready,
            "warm_pass": t0 - written,
        },
        "queries": list(analytics.QUERIES),
        "passes": len(pass_s),
        "call_mix": {f: len(qs) for f, qs in analytics.FAMILIES.items()},
    }
    return {
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "calls_ms": [[q, ms, *cpu] for (_, q, _, _, ms), cpu in zip(spans, call_cpu_ms)],
        "metrics": out,
        "report": report,
        "provenance": prov,
    }


def _collect(query, spark, sf: str):
    """The query's result as a pandas frame, or why it could not run."""
    try:
        return query(spark, sf).toPandas()
    except Exception as exc:  # noqa: BLE001 — a query that raises is a failed call
        return f"{type(exc).__name__}: {str(exc)[:300]}"


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def per_layer(groups: dict, progress: list[dict], spans: list) -> dict[str, float]:
    """Medians over the timed query calls, per query and per call class.
    Each query call is one span of the ``queries`` layer; its Spark side
    comes from its job group."""
    out: dict[str, float] = {}
    by_q: dict[str, list] = defaultdict(list)
    for group, q, start, end, wall_ms in spans:
        by_q[q].append((groups.get(group, GroupStats()), start, end, wall_ms))
    out["accounting.unattributed_ms"] = stats.median(
        [wall_ms - (end - start) * 1000.0 for _, _, start, end, wall_ms in spans]
    )
    for q, runs in by_q.items():
        out[f"query.s.{q}"] = stats.median([end - start for _, start, end, _ in runs])
        out[f"query.jobs.{q}"] = stats.median([g.jobs for g, *_ in runs])
    for q in metrics.STREAMING:
        batches, state = [], []
        for _, start, end, _ in by_q[q]:
            evs = [p for p in progress if start <= _epoch(p["timestamp"]) <= end]
            batches.append(len(evs))
            last = evs[-1].get("stateOperators") or [] if evs else []
            state.append(sum(op.get("numRowsTotal", 0) for op in last))
        out[f"streaming.batches.{q}"] = stats.median(batches)
        out[f"streaming.state_rows.{q}"] = stats.median(state)
    for cls, qs in analytics.FAMILIES.items():
        runs = [r for q in qs for r in by_q[q]]
        out[f"spark.jobs.{cls}"] = stats.median([g.jobs for g, *_ in runs])
        out[f"spark.tasks.{cls}"] = stats.median([g.tasks for g, *_ in runs])
        out[f"spark.executor_run_ms.{cls}"] = stats.median([g.executor_run_ms for g, *_ in runs])
        out[f"spark.no_task_ms.{cls}"] = stats.median([w - g.task_busy_ms for g, _, _, w in runs])
        out[f"spark.shuffle_bytes.{cls}"] = stats.median([g.shuffle_bytes for g, *_ in runs])
        out[f"spark.input_bytes.{cls}"] = stats.median([g.input_bytes for g, *_ in runs])
    return out
