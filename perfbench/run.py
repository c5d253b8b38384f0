"""Benchmark entry point for the indexer.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 30 --trace 0

Runs one workload in a fresh child process whose Spark session, spine
and resplit caches, stream checkpoint, sink and local dirs all live in
a new directory under ``perfbench/_runs`` (deleted afterwards), so no
run reads anything an earlier run built. Deployment settings are
passed explicitly: ``SPARK_GRAFT_CPUS`` is the number of usable cores
(``--cores`` overrides it, e.g. ``--cores 1`` for a single-core
baseline) and the driver heap is ``DRIVER_MEM``, which fits a 15 GB
machine shared with other work, where the program's 16g default would
not.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, and the spans and per-layer counts are also kept
in ``perfbench/_out/<workload>-<seed>-trace.json``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
CHILD_TIMEOUT_S = 165.0


def _benchmark_spec() -> dict:
    """Workload and metric names and units, from BENCHMARK.json at the
    repo root. Every traced run prints every per-layer metric; a layer
    a workload never calls reads 0 there."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (the Spark JVM and its Python
    workers are grandchildren of the workload process)."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = parents.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between processes (the
    Python workers are forked from one daemon) are split among them, so
    the tree's sum counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak summed proportional resident memory of a process tree,
    sampled every 0.2 s."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid = pid
        self.peak_kb = 0
        self.peak_parts: list[int] = []
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(0.2):
            parts = [_pss_kb(p) for p in (self.pid, *_children(self.pid))]
            if sum(parts) > self.peak_kb:
                self.peak_kb = sum(parts)
                self.peak_parts = sorted(parts, reverse=True)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Orphaned descendants are reparented to this process instead of
    to init: when the workload process exits, the Spark JVM it leaves
    shutting down and the Python worker daemon (which puts itself in
    its own process group) stay in reach of ``_end_tree``."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _end_tree() -> None:
    """Kill every descendant and reap each until none is left."""
    while True:
        for p in _children(os.getpid()):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def main() -> int:
    bench = _benchmark_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=bench["workloads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()
    # a terminated benchmark still runs its clean-up: the workload's
    # process tree is killed and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    if args.seconds < 1 or args.cores < 1:
        ap.error("--seconds and --cores must be positive")
    _become_subreaper()

    # the program is built from the checkout itself; without it there
    # is nothing to measure
    if not os.path.isfile(os.path.join(ROOT, "blockchain_indexer_spark", "__init__.py")):
        print("perfbench: blockchain_indexer_spark not found next to perfbench/", file=sys.stderr)
        return 2

    run_dir = os.path.join(HERE, "_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=str(args.cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CACHE_DIR=os.path.join(run_dir, "table_cache"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark_local"),
        PYSPARK_PYTHON=sys.executable,
        # keep the JVM's and Python's temporary files inside the run
        TMPDIR=os.path.join(run_dir, "tmp"),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    )
    os.makedirs(env["TMPDIR"])
    spec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "run_dir": run_dir,
    }
    log_path = os.path.join(run_dir, "worker.log")
    result_path = os.path.join(run_dir, "result.json")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(spec)],
                cwd=run_dir,
                env=env,
                stdout=log,
                stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            sampler = RssSampler(proc.pid)
            sampler.start()
            try:
                code = proc.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                # a second SIGTERM must not cut the clean-up short
                signal.signal(signal.SIGTERM, signal.SIG_IGN)
                sampler.stop()
                _end_tree()
        if code != 0 or not os.path.isfile(result_path):
            with open(log_path, errors="replace") as f:
                tail = f.readlines()[-40:]
            sys.stderr.write("".join(tail))
            why = "timed out" if code is None else f"exited with {code}"
            print(f"perfbench: workload {args.workload} {why}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
        if args.trace:
            os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
            shutil.copy(
                os.path.join(run_dir, "trace.json"),
                os.path.join(HERE, "_out", f"{args.workload}-{args.seed}-trace.json"),
            )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for line in res.get("info", []):
        print(line)
    # peak memory follows when the JVM chooses to grow its heap, which
    # swings it by a fifth between identical runs; it is reported, but
    # is no bounded end-to-end metric
    peak_rss_mb = sampler.peak_kb / 1024.0
    print(
        f"peak_rss_mb={peak_rss_mb:.1f} MB (driver JVM + Python workers; per process "
        + " ".join(f"{kb / 1024:.0f}" for kb in sampler.peak_parts)
        + ")"
    )
    print(f"failed_frac={res['failed'] / max(1, res['attempted']):.4f} ({res['failed']} of {res['attempted']})")
    if args.trace:
        layers = {k: v for k, (v, _) in res["layers"].items()}
        layers["traced.peak_rss_mb"] = peak_rss_mb
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in bench["per_layer"].items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in bench["end_to_end"].items()}
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
