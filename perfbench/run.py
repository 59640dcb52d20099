"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_extract --seed 1 \\
        --seconds 10 --trace 0

Runs one workload of BENCHMARK.json in a child process (perfbench/
workloads.py) with every file it writes kept inside a scratch directory
of the checkout, polls the peak RSS of the child's whole process tree
(Python driver, Spark JVM, Python workers), stops that tree, and prints
one JSON line last: correct, attempted, failed and the metrics named in
BENCHMARK.json (end_to_end with --trace 0, per_layer with --trace 1).
Exits 1 when a check fails or the run breaks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
RUN_TIMEOUT_S = 170
POLL_S = 0.2
DRIVER_MEM = "1g"


def _procs() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, start time, resident pages) of every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we listed it
        out[int(name)] = (int(fields[1]), fields[19], int(fields[21]))
    return out


def _tree(root: int, procs) -> list[int]:
    """``root`` and its descendants. The Spark Python daemon moves itself
    and its workers into a process group of their own, so the tree is
    followed by parent pid, not by process group."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class ProcessTree:
    """Polls a child's process tree: peak summed RSS, and every process
    seen (pid and start time) so that all of them can be stopped."""

    def __init__(self, root: int):
        self.root, self.peak, self.seen = root, 0, set()

    def poll(self) -> None:
        procs = _procs()
        pids = _tree(self.root, procs)
        self.seen.update((pid, procs[pid][1]) for pid in pids)
        rss = sum(procs[pid][2] for pid in pids)
        self.peak = max(self.peak, rss * os.sysconf("SC_PAGE_SIZE"))

    def alive(self) -> list[int]:
        procs = _procs()
        return [pid for pid, start in self.seen
                if pid in procs and procs[pid][1] == start]

    def stop(self) -> None:
        """SIGTERM, then SIGKILL, every process seen; wait until gone."""
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in self.alive():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10.0
            while self.alive() and time.monotonic() < deadline:
                time.sleep(0.1)
            if not self.alive():
                return


def _env(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = ["--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{log_dir}",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", "spark.eventLog.compress=false"]
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_SUBMIT_ARGS=" ".join(conf + ["pyspark-shell"]),
    )
    return env


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "pdf_parser_spark")):
        print("pdf_parser_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.workloads",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--work", work, "--out", out],
            cwd=work, env=_env(work, bool(args.trace)),
            stdout=sys.stderr, start_new_session=True)
        tree, deadline = ProcessTree(proc.pid), time.monotonic() + RUN_TIMEOUT_S
        try:
            while proc.poll() is None and time.monotonic() < deadline:
                tree.poll()
                time.sleep(POLL_S)
        finally:
            if proc.poll() is None:
                print("run timed out", file=sys.stderr)
            tree.stop()
            proc.wait()
        if proc.returncode != 0 or not os.path.exists(out):
            print(f"workload exited with {proc.returncode}", file=sys.stderr)
            return 1
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run still uses it

    values = dict(result["metrics"], peak_rss_mb=tree.peak / 2**20)
    unknown = set(values) - {m["name"] for m in spec["end_to_end"]
                             + spec["per_layer"]}
    missing = set() if args.trace else {m["name"] for m in wanted} - set(
        values)
    if unknown or missing:
        print(f"metrics not in BENCHMARK.json: {sorted(unknown)}; "
              f"end-to-end metrics not measured: {sorted(missing)}",
              file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": values.get(m["name"], 0),
                           "unit": m["unit"]} for m in wanted}
    # One line of context (steal seconds next to every timed sample).
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "samples": result["samples"]}))
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
