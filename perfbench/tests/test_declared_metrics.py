"""BENCHMARK.json declares exactly the metrics the runs print."""

import json
import re
from pathlib import Path

from perfbench import metrics

SPEC = Path(__file__).resolve().parents[2] / "BENCHMARK.json"
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_benchmark_json_matches_the_metric_module():
    spec = json.loads(SPEC.read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(metrics.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == metrics.per_layer()
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    names = [m["name"] for k in ("end_to_end", "per_layer", "workloads") for m in spec[k]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert len(spec["per_layer"]) <= 128
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])


def test_complete_per_layer_fills_untouched_layers_with_zero():
    out = metrics.complete_per_layer({"mcp.framing_ms": 0.2})
    assert [n for n in out] == [n for n, _ in metrics.per_layer()]
    assert out["mcp.framing_ms"]["value"] == 0.2
    assert out["query.s.g_pagerank"] == {"value": 0.0, "unit": "s"}
