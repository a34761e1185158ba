import os

from perfbench import trace
from perfbench.trace import Span, Tracer


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span("handle", "mcp", 0.0, 10.0, None, 1),       # 10 - (2 + 6) = 2
        Span("query", "tools", 1.0, 3.0, 0, 1),          # 2 - 0.5 = 1.5
        Span("table", "storage", 1.5, 2.0, 1, 1),        # 0.5
        Span("semantic_search", "client", 3.0, 9.0, 0, 1),  # 6 - (1 + 2) = 3
        Span("table", "storage", 4.0, 5.0, 3, 1),        # 1
        Span("meta_touch", "storage", 6.0, 8.0, 3, 1),   # 2 - 1.5 = 0.5
        Span("upsert_rows", "storage", 6.25, 7.75, 5, 1),  # 1.5
    ]
    got = trace.self_times(spans)
    assert got == [2.0, 1.5, 0.5, 3.0, 1.0, 0.5, 1.5]
    # self times partition the root span
    assert abs(sum(got) - 10.0) < 1e-12
    by_layer = trace.layer_self_ms(spans)[1]
    assert by_layer == {"mcp": 2000.0, "tools": 1500.0, "storage": 3500.0, "client": 3000.0}


def test_tracer_records_nesting_and_restores_wrapped_functions():
    class Store:
        def table(self):
            return "t"

    class Client:
        def __init__(self):
            self.store = Store()

        def search(self):
            return self.store.table() + "!"

    original = Client.search
    t = Tracer()
    t.wrap(Client, "search", "client")
    t.wrap(Store, "table", "storage")
    t.call_id = 5
    assert Client().search() == "t!"
    assert [(s.name, s.layer, s.parent, s.call_id) for s in t.spans] == [
        ("search", "client", None, 5),
        ("table", "storage", 0, 5),
    ]
    assert all(s.end >= s.start for s in t.spans)
    t.unwrap_all()
    assert Client.search is original


def test_union_of_intervals():
    assert trace.union_ms([]) == 0.0
    assert trace.union_ms([(0, 10), (5, 15), (20, 30)]) == 25.0
    assert trace.union_ms([(0, 10), (2, 3)]) == 10.0


def test_fold_event_log_fixture():
    path = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_tiny.jsonl")
    with open(path) as fh:
        groups, progress = trace.fold_event_log(fh)
    assert sorted(groups) == ["perfbench-1", "perfbench-2"]
    g1, g2 = groups["perfbench-1"], groups["perfbench-2"]
    # the fixture's expected totals, read off the file by hand
    assert (g1.jobs, g1.tasks) == (EXPECTED["perfbench-1"]["jobs"], EXPECTED["perfbench-1"]["tasks"])
    assert (g2.jobs, g2.tasks) == (EXPECTED["perfbench-2"]["jobs"], EXPECTED["perfbench-2"]["tasks"])
    for name, g in groups.items():
        e = EXPECTED[name]
        assert g.executor_run_ms == e["executor_run_ms"]
        assert g.input_bytes == e["input_bytes"]
        assert g.shuffle_bytes == e["shuffle_bytes"]
        assert g.task_busy_ms == e["task_busy_ms"]
    assert [p["batchId"] for p in progress] == EXPECTED_BATCHES


# Recorded on local[2]: group 1 ran a grouped count, group 2 a small
# aggregation, two parquet writes and a four-batch streaming query; one
# job ran under a job group that is not the benchmark's. Totals below
# were summed from the fixture with plain loops when it was recorded.
EXPECTED = {
    "perfbench-1": {"jobs": 2, "tasks": 3, "executor_run_ms": 735, "input_bytes": 0,
                    "shuffle_bytes": 118, "task_busy_ms": 586.0},
    "perfbench-2": {"jobs": 4, "tasks": 7, "executor_run_ms": 5057, "input_bytes": 0,
                    "shuffle_bytes": 266, "task_busy_ms": 2754.0},
}
EXPECTED_BATCHES = [0, 1, 2, 3]
