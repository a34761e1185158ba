"""The metric names BENCHMARK.json declares, in one place.

End-to-end metrics are defined on every workload (README.md says what
each one means on each). Per-layer metrics a workload does not touch
are reported as 0: the analytics pass makes no MCP call and the MCP
session runs no registry query.
"""

from __future__ import annotations

from perfbench import stats
from perfbench.analytics import QUERIES

# every end-to-end metric a run reports, with its unit
UNITS = {
    "setup_s": "s",
    "session_s": "s",
    "session_cpu_s": "s",
    "session_app_cpu_s": "s",
    "call_app_cpu_geomean_ms": "ms",
    "call_p50_ms": "ms",
    "query_geomean_ms": "ms",
    "semantic_p50_ms": "ms",
    "exact_p50_ms": "ms",
    "graph_p50_ms": "ms",
    "store_p50_ms": "ms",
    "status_p50_ms": "ms",
    "driver_peak_rss_mb": "MB",
}
# The gated ones, BENCHMARK.json's end_to_end in its order: set-up time
# and the typical app CPU time of a call (run.Session.cpu). Wall-clock
# latencies move with the load other guests put on the host far more
# than CPU time does, so they are report-only (README.md, Run-to-run
# spread).
GATED = ("setup_s", "call_app_cpu_geomean_ms")
END_TO_END = tuple((n, UNITS[n]) for n in GATED)
# a call class: an MCP tool on agent_session, the query family doing the
# same kind of work on analytics_sf0.01 (analytics.FAMILIES)
TOOLS = ("store", "semantic", "exact", "graph", "status")
STREAMING = tuple(q for q in QUERIES if q.startswith("st_"))


def per_layer() -> list[tuple[str, str]]:
    out = [
        ("mcp.framing_ms", "ms"),
        ("tools.self_ms", "ms"),
        ("embedding.ms", "ms"),
        ("embedding.texts", "count"),
        ("storage.bytes_written_per_user_byte", "ratio"),
        ("storage.files_per_commit", "count"),
        ("accounting.unattributed_ms", "ms"),
    ]
    for t in TOOLS:
        out += [
            (f"client.self_ms.{t}", "ms"),
            (f"storage.table_ms.{t}", "ms"),
            (f"storage.commits.{t}", "count"),
            (f"storage.upsert_ms.{t}", "ms"),
            (f"spark.jobs.{t}", "count"),
            (f"spark.tasks.{t}", "count"),
            (f"spark.executor_run_ms.{t}", "ms"),
            (f"spark.no_task_ms.{t}", "ms"),
            (f"spark.shuffle_bytes.{t}", "bytes"),
            (f"spark.input_bytes.{t}", "bytes"),
        ]
    for q in QUERIES:
        out += [(f"query.s.{q}", "s"), (f"query.jobs.{q}", "count")]
    for q in STREAMING:
        out += [(f"streaming.batches.{q}", "count"), (f"streaming.state_rows.{q}", "count")]
    return out


def complete_per_layer(measured: dict[str, float]) -> dict[str, dict]:
    """Every declared per-layer metric, 0 where the workload has none."""
    unknown = set(measured) - {n for n, _ in per_layer()}
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {n: {"value": float(measured.get(n, 0.0)), "unit": u} for n, u in per_layer()}


def report(e2e: dict[str, float], peak: tuple[float, float], call_ms: list[float],
           failed: int, attempted: int) -> dict[str, dict]:
    """The report line's metrics both workloads share: every end-to-end
    metric, the RSS split, the tail latency when the run has enough
    calls, and the failed share."""
    out = {n: {"value": e2e[n], "unit": u} for n, u in UNITS.items()}
    out["python_peak_rss_mb"] = {"value": peak[0], "unit": "MB"}
    out["jvm_peak_rss_mb"] = {"value": peak[1], "unit": "MB"}
    t = stats.tail(call_ms)
    if t:
        out["call_tail_ms"] = {"value": t[1], "unit": "ms", "percentile": t[0]}
    out["failed_ratio"] = {"value": failed / attempted, "unit": "ratio"}
    return out
