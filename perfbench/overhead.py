"""Tracing overhead: traced minus untraced end-to-end numbers.

    python3 perfbench/overhead.py --workload query --seeds 1 2 3 --seconds 15

Runs each seed once untraced and once traced (alternating which goes
first), reads the end-to-end rows of both metric tables and prints, per
metric, the median of (traced - untraced) / untraced over the seeds.
"""

from __future__ import annotations

import argparse
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
E2E = ("setup_s", "ops_per_s", "p50_ms")


def table(workload: str, seed: int, seconds: float, trace: int) -> dict[str, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
                         text=True, check=True).stdout
    rows = {}
    for line in out.splitlines():
        parts = line.split()
        if len(parts) == 3 and parts[0] in E2E:
            rows[parts[0]] = float(parts[1])
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=15)
    args = ap.parse_args()
    deltas: dict[str, list[float]] = {m: [] for m in E2E}
    for i, seed in enumerate(args.seeds):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        runs = {t: table(args.workload, seed, args.seconds, t) for t in order}
        for m in E2E:
            deltas[m].append((runs[1][m] - runs[0][m]) / runs[0][m])
            print(f"seed {seed} {m}: untraced {runs[0][m]:.6g} traced {runs[1][m]:.6g}")
    for m, d in deltas.items():
        print(f"{args.workload} {m}: traced vs untraced {100 * statistics.median(d):+.1f}% "
              f"(median of {len(d)} seeds)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
