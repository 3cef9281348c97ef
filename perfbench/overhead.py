"""Tracing overhead: one untraced and one traced run of a workload on the
same seed, with their end-to-end numbers side by side.

    python3 perfbench/overhead.py --workload curation --seed 1 --seconds 8

Each run is a separate ``run.py`` process; the table reads the result
files both write under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(os.path.dirname(HERE), ".perfbench", "results")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", default="8")
    args = p.parse_args()
    report = {}
    for trace in (0, 1):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", args.seconds, "--trace", str(trace)]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        with open(os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{trace}.json")) as f:
            report[trace] = json.load(f)["report"]
    print(f"{'metric':24s} {'untraced':>12s} {'traced':>12s} {'diff':>9s}")
    for name, (off, unit) in report[0].items():
        on = report[1][name][0]
        diff = f"{(on - off) / off:+.1%}" if off else "n/a"
        print(f"{name:24s} {off:12.4f} {on:12.4f} {diff:>9s} {unit}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
