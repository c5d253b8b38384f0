"""One workload run inside the isolated environment run.py prepares.

Writes ``result.json`` (and ``trace.json`` when traced) into the run
directory and exits 0; any exception exits non-zero.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer  # noqa: E402


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of p99.9/p99/p95/p90/p75/p50
    with at least ten samples beyond it; the maximum (p100) when there
    are too few samples for any of them."""
    n = len(values)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100.0) >= 10:
            return p, percentile(values, p)
    return 100.0, max(values)


def start_session(spec: dict, event_log_dir: str | None):
    """The program's own session factory with the deployment settings
    from the environment; tracing adds only the event log."""
    from blockchain_indexer_spark.session import get_spark

    extra = None
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
        }
    spark = get_spark(f"perfbench-{spec['workload']}", extra_conf=extra)
    spark.range(1).count()  # the JVM's first job, paid on every start
    return spark


def compare_frames(name: str, got, want) -> list[str]:
    """Order-insensitive exact comparison (the repo's correctness gate
    comparator)."""
    from tools.check_correctness import compare

    return [f"{name}: {p}" for p in compare(name, got, want)]


def main() -> int:
    spec = json.loads(sys.argv[1])
    run_dir = spec["run_dir"]
    t_start = time.monotonic()
    event_log_dir = os.path.join(run_dir, "eventlog") if spec["trace"] else None
    spark = start_session(spec, event_log_dir)
    tracer = Tracer(spark.sparkContext, enabled=spec["trace"])
    if spec["workload"] == "live_tail":
        from live import run
    else:
        from corpus import run
    res = run(spark, spec, tracer, t_start)
    problems = res.pop("problems")
    for p in problems[:20]:
        print("CHECK FAILED:", p, flush=True)
    res["correct"] = not problems
    if spec["trace"]:
        layers = res["layers"]
        spark.stop()  # flushes the event log
        from spans import engine_layers, event_log_counts

        per_group, jobs, stage_times = event_log_counts(event_log_dir)
        layers.update(res.pop("round_counts")(jobs, stage_times))
        layers.update(engine_layers(per_group, res.pop("engine_layers")))
        tracer.write(os.path.join(run_dir, "trace.json"), layers)
    else:
        res.pop("round_counts", None)
        res.pop("engine_layers", None)
        spark.stop()
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
