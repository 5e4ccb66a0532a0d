"""Benchmark of chapterhousedb_spark: one command, three workloads.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 10 --trace 0

Workloads: interactive_sql, result_paging, batch_pipeline (see README.md
beside this file). Run from the repository root; the program under test
is imported from the checkout this file sits in. Input tables are
generated once under `.perfbench_work/` in the checkout; each run keeps
its temporary files under `.perfbench_work/run-<pid>/` and removes them
when it ends.

Output: the workload's named figures, one per line, then as the last
line one JSON object {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics; with --trace 1
the per-layer metrics of a traced run (its end-to-end figures are
printed above the JSON line; `overhead.py` compares them with untraced
runs of the same seeds to give the tracing overhead). The exit code is
non-zero when any operation failed or any result check found a
mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR = os.path.join(ROOT, ".perfbench_work")

E2E_UNITS = {
    "setup_s": "s",
    "ready_p50_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "ops_per_s": "1/s",
}


def _workloads():
    import batch
    import interactive
    import paging

    return {
        "interactive_sql": interactive.run,
        "result_paging": paging.run,
        "batch_pipeline": batch.run,
    }


def _process_age() -> float:
    """Seconds since this process started (Linux /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive_sql", "result_paging", "batch_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(1, ROOT)
    try:
        import chapterhousedb_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program under test is not importable: {exc}", file=sys.stderr)
        return 2

    import datagen
    import harness

    t0 = time.perf_counter()
    data_dir = datagen.ensure_data(WORK_DIR)
    datagen_s = time.perf_counter() - t0
    run_dir = harness.RunDir(WORK_DIR)
    stack = None
    try:
        stack = harness.start_stack(run_dir, data_dir)
        # process start until the first query is answered over the
        # socket; generating the benchmark's input tables is not set-up
        setup_s = _process_age() - datagen_s
        outcome = _workloads()[args.workload](stack, args.seed, args.seconds, args.trace == 1)
    finally:
        try:
            if stack is not None:
                stack.close()
        finally:  # the JVM and the run's files go even if closing failed
            harness.stop_jvm()
            run_dir.remove()

    log = outcome.log
    e2e = {"setup_s": setup_s, **outcome.e2e}
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    lines = {name: (v, E2E_UNITS[name]) for name, v in e2e.items()}
    lines.update(outcome.report)
    lines["ops_attempted"] = (log.attempted, "count")
    lines["ops_failed"] = (log.failed, "count")
    lines["failed_ratio"] = (log.failed / max(1, log.attempted), "ratio")
    for name, (value, unit) in lines.items():
        print(f"  {name:<44} {value} {unit}")
    for why in log.failures:
        print(f"  FAILED: {why}")
    if args.trace:
        from tracing import LAYER_UNITS

        metrics = {k: {"value": outcome.layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    correct = log.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
