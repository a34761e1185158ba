"""Runs the agent_session workload (see agent.py for what it sends)."""

from __future__ import annotations

import inspect
import json
import os
import time
from collections import defaultdict

from perfbench import agent, metrics, stats
from perfbench.trace import GroupStats, Tracer, fold_event_log, layer_self_ms, self_times

# call kind -> the <tool> its latency counts under
TOOL_OF_KIND = {
    "store": "store",
    "semantic": "semantic",
    "semantic_repeat": "semantic",
    "exact": "exact",
    "graph": "graph",
    "status": "status",
    "update": "update",
    "list": "list",
}
QUERY_KINDS = ("semantic", "semantic_repeat", "exact", "graph")
# Untimed warm-up, counted in set-up: cycle 0's store and semantic
# query, the calls whose first run costs most over a later one. A cold
# semantic query takes about 1.25x the app CPU of a warm one (and 1.8x
# the time); a cold exact or graph query about 1.05x, too little to pay
# for in a run budget that has no room for a whole warm-up cycle.
WARM_KINDS = ("store", "semantic")


def inodes(path: str) -> dict[int, int]:
    """inode -> size of every file under path. Snapshots share unchanged
    files by hard link, so disk usage counts each inode once."""
    out = {}
    for root, _, names in os.walk(path):
        for f in names:
            st = os.stat(os.path.join(root, f))
            out[st.st_ino] = st.st_size
    return out


def seed_frames(spark, rows: dict[str, list[dict]]) -> dict:
    """The seed rows as one DataFrame per table, built from pandas so
    that the 768-float vectors need no per-value conversion in Python."""
    import pandas as pd
    from mie_spark.schemas import table_schema

    out = {}
    for table, table_rows in rows.items():
        schema = table_schema(table)
        cols = [f.name for f in schema]
        pdf = pd.DataFrame([[r.get(c) for c in cols] for r in table_rows], columns=cols)
        out[table] = spark.createDataFrame(pdf, schema)
    return out


def instrument(tracer: Tracer) -> None:
    """Spans around each layer's public entry points."""
    from mie_spark import embedding
    from mie_spark.api import client, mcp, tools
    from mie_spark.storage import MieStore

    tracer.wrap(mcp.McpStdioServer, "handle", "mcp")
    for fn in ("analyze", "store", "bulk_store", "query", "update", "list_nodes",
               "conflicts", "export", "status"):
        tracer.wrap(tools, fn, "tools")
    for name, fn in list(vars(client.MieClient).items()):
        if not name.startswith("_") and inspect.isfunction(fn):
            tracer.wrap(client.MieClient, name, "client")
    tracer.wrap(embedding.MockEmbeddingProvider, "embed", "embedding", lambda a, k: len(a[1]))
    tracer.wrap(embedding.MockEmbeddingProvider, "embed_query", "embedding", lambda a, k: 1)
    for fn in ("table", "meta_get", "meta_touch"):
        tracer.wrap(MieStore, fn, "storage")
    for fn in ("upsert_rows", "atomic_upsert_rows"):
        tracer.wrap(MieStore, fn, "storage", lambda a, k: 1)  # one commit each


def run(sess, args, t_start: float) -> dict:
    from mie_spark.api.client import MieClient
    from mie_spark.api.mcp import McpStdioServer

    spark = sess.spark
    store_dir = str(sess.work / "store")
    rows, m = agent.seed_store(args.seed)
    client = MieClient(spark, path=store_dir, embedding_dim=agent.model.EMBED_DIM)
    client.store.atomic_upsert_dfs(seed_frames(spark, rows))
    seeded = time.perf_counter()
    server = McpStdioServer(client)
    failures: list[str] = []
    init = server.handle({"jsonrpc": "2.0", "id": 0, "method": "initialize", "params": {}})
    listed = server.handle({"jsonrpc": "2.0", "id": 0, "method": "tools/list"})
    if "result" not in init or len(listed["result"]["tools"]) != 9:
        failures.append("handshake: initialize / tools/list")
    script = agent.Script(args.seed, m)
    calls: list[tuple[int, str, float]] = []  # (call id, kind, ms) of the timed calls
    warm_ms: list[tuple[int, str, float]] = []  # the same for the warm-up calls
    attempted = 0
    tracer = None
    cpu_ms: dict[int, tuple[float, float]] = {}  # call id -> CPU ms, all and app (run.Session.cpu)

    def cycle(c: int, kinds=agent.CYCLE) -> tuple[float, float, float]:
        """Send cycle c's calls of the given kinds one at a time and check
        each response; returns their summed call time, CPU time and app
        CPU time, in seconds."""
        nonlocal attempted
        spent = cpu = app = 0.0
        for call in script.cycle(c):
            if call.kind not in kinds:
                continue
            attempted += 1
            rid = attempted
            if tracer:
                tracer.call_id = rid
                spark.sparkContext.setJobGroup(f"perfbench-{rid}", f"{call.tool} {call.kind}")
            c0, ts = sess.cpu(), time.perf_counter()
            resp = server.handle(call.request(rid))
            ms = (time.perf_counter() - ts) * 1000.0
            c1 = sess.cpu()
            cpu_ms[rid] = ((c1[0] - c0[0]) * 1000.0, (c1[1] - c0[1]) * 1000.0)
            spent += ms / 1000.0
            cpu += c1[0] - c0[0]
            app += c1[1] - c0[1]
            (calls if c > 0 else warm_ms).append((rid, call.kind, ms))
            try:
                res = resp["result"]
                if res.get("isError"):
                    reason = res["content"][0]["text"]
                else:
                    reason = script.apply_and_check(call, json.loads(res["content"][0]["text"]))
            except (KeyError, IndexError, TypeError, ValueError) as exc:  # malformed response
                reason = f"{type(exc).__name__}: {exc}"
            if reason:
                failures.append(f"call {rid} {call.kind}: {reason}"[:500])
        return spent, cpu, app

    warm_s, _, _ = cycle(0, WARM_KINDS)
    setup_s = time.perf_counter() - t_start

    if args.trace:
        tracer = Tracer()
        instrument(tracer)
        before, user0 = inodes(store_dir), m.user_bytes
    cycle_s: list[float] = []
    cycle_cpu_s: list[float] = []
    cycle_app_s: list[float] = []
    t0 = time.perf_counter()
    while not cycle_s or time.perf_counter() - t0 < args.seconds:
        spent, cpu, app = cycle(1 + len(cycle_s))
        cycle_s.append(spent)
        cycle_cpu_s.append(cpu)
        cycle_app_s.append(app)
    peak = sess.peak_rss_mb()
    after = inodes(store_dir)

    all_ms = [ms for _, _, ms in calls]
    by_tool: dict[str, list[float]] = defaultdict(list)
    for _, kind, ms in calls:
        by_tool[TOOL_OF_KIND[kind]].append(ms)
    e2e = {
        "setup_s": setup_s,
        "session_s": stats.median(cycle_s),
        "session_cpu_s": stats.median(cycle_cpu_s),
        "session_app_cpu_s": stats.median(cycle_app_s),
        "call_app_cpu_geomean_ms": stats.geomean([
            stats.median([cpu_ms[rid][1] for rid, k, _ in calls if k == kind]) for kind in agent.CYCLE
        ]),
        "call_p50_ms": stats.median(all_ms),
        "query_geomean_ms": stats.geomean([ms for _, k, ms in calls if k in QUERY_KINDS]),
        **{f"{t}_p50_ms": stats.median(by_tool[t]) for t in metrics.TOOLS},
        "driver_peak_rss_mb": sum(peak),
    }
    report = metrics.report(e2e, peak, all_ms, len(failures), attempted)
    for tool in ("update", "list"):
        report[f"{tool}_p50_ms"] = {"value": stats.median(by_tool[tool]), "unit": "ms"}
    report["space_amp"] = {"value": sum(after.values()) / m.user_bytes, "unit": "ratio"}

    if tracer:
        tracer.unwrap_all()
        sess.stop()
        groups, _ = fold_event_log(sess.event_log_lines())
        new = [size for ino, size in after.items() if ino not in before]
        out = metrics.complete_per_layer(per_layer(
            tracer, groups, calls, written=(sum(new), len(new)), user_bytes=m.user_bytes - user0,
        ))
    else:
        out = {n: report[n] for n, _ in metrics.END_TO_END}
    return {
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "calls_ms": [[kind, ms, *cpu_ms[rid]] for rid, kind, ms in calls],
        "metrics": out,
        "report": report,
        "provenance": {
            "store_nodes": sum(agent.NODE_COUNTS.values()),
            "store_rows_seeded": sum(len(v) for v in rows.values()),
            "embedding_dim": agent.model.EMBED_DIM,
            "materialisation": "MCP tools/call result, decoded",
            "setup_phases_s": {
                "spark_start": sess.ready - t_start,
                "seed_store": seeded - sess.ready,
                "warm_up": warm_s,
                "warm_up_calls_ms": [[kind, ms] for _, kind, ms in warm_ms],
            },
            "warm_up": list(WARM_KINDS),
            "cycles": len(cycle_s),
            "call_mix": {k: sum(1 for _, kk, _ in calls if kk == k) for k in agent.CYCLE},
        },
    }


def per_layer(tracer: Tracer, groups: dict, calls: list, written: tuple[int, int],
              user_bytes: int) -> dict[str, float]:
    """Medians over the calls of each tool; the session totals for the
    storage ratios (``written`` is the bytes and count of files the
    session created)."""
    spans = tracer.spans
    selfs = layer_self_ms(spans)
    per_call: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s, self_s in zip(spans, self_times(spans)):
        c = per_call[s.call_id]
        if s.layer == "storage":
            c[f"storage.{s.name}_ms"] += self_s * 1000.0
            c["commits"] += s.items
        if s.layer == "embedding":
            c["texts"] += s.items
    wall = {rid: ms for rid, _, ms in calls}
    group = {rid: groups.get(f"perfbench-{rid}", GroupStats()) for rid in wall}
    out: dict[str, float] = {}
    all_ids = list(wall)
    out["mcp.framing_ms"] = stats.median([selfs[r]["mcp"] for r in all_ids])
    out["tools.self_ms"] = stats.median([selfs[r]["tools"] for r in all_ids])
    embedding = [r for r in all_ids if per_call[r]["texts"]]
    out["embedding.ms"] = stats.median([selfs[r]["embedding"] for r in embedding])
    out["embedding.texts"] = stats.median([per_call[r]["texts"] for r in embedding])
    commits = sum(per_call[r]["commits"] for r in all_ids)
    out["storage.bytes_written_per_user_byte"] = written[0] / user_bytes
    out["storage.files_per_commit"] = written[1] / commits
    # what the layers' self times do not cover: the benchmark's own
    # time between its clock reads and the outermost span
    out["accounting.unattributed_ms"] = stats.median(
        [wall[r] - sum(selfs[r].values()) for r in all_ids]
    )
    for tool in metrics.TOOLS:
        ids = [rid for rid, kind, _ in calls if TOOL_OF_KIND[kind] == tool]
        pc = [per_call[r] for r in ids]
        out[f"client.self_ms.{tool}"] = stats.median([selfs[r]["client"] for r in ids])
        out[f"storage.table_ms.{tool}"] = stats.median([c["storage.table_ms"] for c in pc])
        out[f"storage.commits.{tool}"] = stats.median([c["commits"] for c in pc])
        out[f"storage.upsert_ms.{tool}"] = stats.median(
            [c["storage.upsert_rows_ms"] + c["storage.atomic_upsert_rows_ms"] for c in pc]
        )
        out[f"spark.jobs.{tool}"] = stats.median([group[r].jobs for r in ids])
        out[f"spark.tasks.{tool}"] = stats.median([group[r].tasks for r in ids])
        out[f"spark.executor_run_ms.{tool}"] = stats.median([group[r].executor_run_ms for r in ids])
        out[f"spark.no_task_ms.{tool}"] = stats.median([wall[r] - group[r].task_busy_ms for r in ids])
        out[f"spark.shuffle_bytes.{tool}"] = stats.median([group[r].shuffle_bytes for r in ids])
        out[f"spark.input_bytes.{tool}"] = stats.median([group[r].input_bytes for r in ids])
    return out
