"""Run the benchmark on several seeds and record every run plus the
median, quartiles and spread (IQR / median) of each metric.

    python3 perfbench/record.py --workload agent_session --seeds 1-10 \
        --seconds 10 --trace 0 --out perfbench/results/agent_session.untraced.json

Runs are sequential, one benchmark process at a time, from the
repository root. The output file is rewritten after every run, so an
interrupted recording keeps the runs it finished.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(runs: list[dict]) -> dict:
    """Median, quartiles and spread of every metric the runs report:
    the report line's full set on untraced runs (the gated end-to-end
    metrics and the report-only ones), the per-layer set on traced runs."""
    from perfbench import stats

    def metrics(run: dict) -> dict:
        return run["report"].get("metrics_all") if run["trace"] == "0" else run["result"]["metrics"]

    out = {}
    for n in dict.fromkeys(n for r in runs for n in metrics(r)):
        vals = [metrics(r)[n]["value"] for r in runs if n in metrics(r)]
        unit = next(metrics(r)[n]["unit"] for r in runs if n in metrics(r))
        entry = {"unit": unit, "median": statistics.median(vals), "runs": len(vals)}
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
            entry.update(q1=q1, q3=q3, spread=stats.spread(vals))
        out[n] = entry
    return out


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,7")
    p.add_argument("--seconds", required=True)
    p.add_argument("--trace", default="0")
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    runs: list[dict] = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        runs.append({"seed": seed, "trace": args.trace, "wall_s": wall, "report": json.loads(lines[-2]),
                     "result": json.loads(lines[-1])})
        record = {
            "workload": args.workload,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": {"nproc": len(os.sched_getaffinity(0)), "cpu": _cpu_model()},
            "summary": summarise(runs),
            "runs": runs,
        }
        Path(args.out).write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
        r = runs[-1]["result"]
        print(f"seed {seed}: {wall:.1f}s failed {r['failed']}/{r['attempted']}", flush=True)
    return 0


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return "unknown"


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main(sys.argv[1:]))
