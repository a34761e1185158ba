"""mie-spark benchmark: one closed-loop client in one process.

    python3 perfbench/run.py --workload agent_session --seed 1 --seconds 5 --trace 0

Workloads:
  agent_session     a scripted MCP session (McpStdioServer.handle,
                    in-process) against a persisted ~1k-node store
  analytics_sf0.01  timed passes over 7 registry queries on a seeded
                    sf0.01-shaped corpus, each result collected with
                    toPandas()

Run from the repository root. The last stdout line is the result JSON
({"correct", "attempted", "failed", "metrics"}); the line before it is a
report with every measured metric and the run's provenance. With
``--trace 1`` the metrics are the per-layer breakdown instead (see
perfbench/README.md). Exit status is non-zero, with no result line,
when the program under test cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shlex
import signal
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("agent_session", "analytics_sf0.01")
# JVM threads whose CPU time app CPU leaves out: the JIT compilers, the
# garbage collector's threads and the VM thread its pauses run on. How
# much they do depends on how long the JVM has run and on when the heap
# fills, more than on the call being measured.
VM_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM Thread")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> tuple[int, int]:
    """(nproc, N for local[N]): at most 4 cores, never more than nproc."""
    n = len(os.sched_getaffinity(0))
    return n, min(n, 4)


class Session:
    """The SparkSession from the program's own factory, with its
    scratch space and (traced runs) its event log inside ``work``."""

    def __init__(self, work: Path, trace: bool):
        self.work = work
        self.event_dir = work / "eventlog"
        self.nproc, self.n = cores()
        self.master = f"local[{self.n}]"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        }
        if trace:
            self.event_dir.mkdir(parents=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        ) + " pyspark-shell"
        # keep every scratch file the program makes inside the checkout
        (work / "tmp").mkdir()
        os.environ["TMPDIR"] = str(work / "tmp")
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
        # no JVM perf-data file in the system temp dir; JIT compiler
        # threads that live as long as the JVM, so that app CPU can
        # subtract all of their time (an idle one would otherwise exit and
        # take its count with it)
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
                        "-XX:-UseDynamicNumberOfCompilerThreads") if p
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(self.n)
        # executors' Python workers import the program from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        )
        from mie_spark.session import get_spark

        self.spark = get_spark("perfbench", self.master)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        self.stopped = False
        self.ready = time.perf_counter()  # Spark is up

    def peak_rss_mb(self) -> tuple[float, float]:
        """Peak RSS of this Python driver and of its JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        with open(f"/proc/{self.jvm.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return py_kb / 1024.0, jvm_kb / 1024.0

    def cpu(self) -> tuple[float, float]:
        """(all, app): CPU seconds used so far by this process and every
        process under it (the JVM, its Python workers, and any they
        reaped), and the part of that not spent in the JVM's JIT compiler
        and garbage-collector threads. Time spent waiting for a CPU is in
        neither."""
        me, tick = os.getpid(), os.sysconf("SC_CLK_TCK")
        procs = {}  # pid -> (ppid, CPU ticks of it and its reaped children)
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                f = _stat(f"/proc/{pid}/stat")
                if f:
                    procs[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]))
        total, todo, seen = 0, [me], set()
        while todo:
            pid = todo.pop()
            if pid in seen or pid not in procs:
                continue
            seen.add(pid)
            total += procs[pid][1]
            todo.extend(p for p, (ppid, _) in procs.items() if ppid == pid)
        vm = 0
        base = f"/proc/{self.jvm.pid}/task"
        for tid in os.listdir(base):
            with contextlib.suppress(OSError):
                with open(f"{base}/{tid}/comm") as fh:
                    name = fh.read()
                if name.startswith(VM_THREADS):
                    f = _stat(f"{base}/{tid}/stat")
                    vm += int(f[11]) + int(f[12]) if f else 0
        return total / tick, (total - vm) / tick

    def event_log_lines(self) -> list[str]:
        files = [p for p in self.event_dir.iterdir() if p.is_file()]
        lines: list[str] = []
        for p in files:
            lines.extend(p.read_text().splitlines())
        return lines

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its workers) to exit."""
        from pyspark import SparkContext

        if self.stopped:
            return
        self.stopped = True
        try:
            self.spark.stop()
        except Exception:  # noqa: BLE001 — still shut the JVM down below
            pass
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — the JVM may already be gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.jvm.stdin:
            self.jvm.stdin.close()  # the gateway exits on stdin EOF
        try:
            self.jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()


def _stat(path: str) -> list[str] | None:
    """The fields of a /proc stat file after the command name, or None
    when the process or thread has ended."""
    try:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def cpu_times() -> list[int]:
    """The aggregate cpu line of /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def provenance(sess: Session, args: argparse.Namespace, cpu0: list[int]) -> dict:
    delta = [b - a for a, b in zip(cpu0, cpu_times())]
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "nproc": sess.nproc,
        "master": sess.master,
        "loadavg_1m": os.getloadavg()[0],
        # share of CPU time the hypervisor gave to other guests during the run
        "cpu_steal_share": delta[7] / max(1, sum(delta)),
        "client": "one process, one closed-loop client",
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "mie_spark" / "__init__.py").is_file():
        print(f"perfbench: no mie_spark package under {ROOT}", file=sys.stderr)
        return 2
    try:
        import mie_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    sess = None
    cpu0 = cpu_times()
    try:
        sess = Session(work, bool(args.trace))
        if args.workload == "agent_session":
            from perfbench.agent_run import run
        else:
            from perfbench.analytics_run import run
        result = run(sess, args, T_START)
        result["provenance"] = {**provenance(sess, args, cpu0), **result["provenance"]}
    finally:
        try:
            if sess is not None:
                sess.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                work.parent.rmdir()  # the last run out removes the scratch root
    report = {
        "provenance": result["provenance"],
        "failures": result["failures"][:20],
        "metrics_all": result["report"],
        "calls_ms": result["calls_ms"],
    }
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main(sys.argv[1:]))
