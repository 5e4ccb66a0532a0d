"""Tracing overhead: untraced against traced runs of the same seeds.

    python3 perfbench/overhead.py --workload interactive_sql --seeds 1,2,3

Runs `run.py` once with `--trace 0` and once with `--trace 1` per seed,
each in its own process, alternating which runs first (a host that
drifts over the set then favours neither), and prints for every
end-to-end metric the median of the untraced runs, the median of the
traced runs and the overhead: traced median over untraced median,
minus one.
A traced run prints its end-to-end figures above its JSON line, which
is where they are read from. Run from the repository root; a full set
takes about two run walls per seed.
"""

from __future__ import annotations

import argparse
import os
import statistics
import subprocess
import sys

from run import E2E_UNITS

HERE = os.path.dirname(os.path.abspath(__file__))


def e2e_figures(workload: str, seed: int, seconds: float, trace: int) -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True,
    )
    if proc.returncode != 0:
        sys.exit(f"run.py --seed {seed} --trace {trace} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    figures = {}
    for line in proc.stdout.splitlines():
        parts = line.split()
        if len(parts) == 3 and parts[0] in E2E_UNITS:
            figures[parts[0]] = float(parts[1])
    return figures


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    runs: dict[int, list[dict[str, float]]] = {0: [], 1: []}
    for i, seed in enumerate(map(int, args.seeds.split(","))):
        for trace in (i % 2, 1 - i % 2):
            runs[trace].append(e2e_figures(args.workload, seed, args.seconds, trace))
    print(f"tracing overhead on {args.workload}, seeds {args.seeds}")
    print(f"  {'metric':<14} {'untraced':>12} {'traced':>12} {'overhead':>9}")
    for name, unit in E2E_UNITS.items():
        plain = statistics.median(r[name] for r in runs[0])
        traced = statistics.median(r[name] for r in runs[1])
        print(f"  {name:<14} {plain:>12.4f} {traced:>12.4f} {traced / plain - 1:>+9.1%}  {unit}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
