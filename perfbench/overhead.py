"""Tracing overhead: traced minus untraced, per end-to-end metric and figure.

    python3 perfbench/overhead.py --workload ingest --seed 5 --seconds 10 [--pairs 1]

Runs ``run.py`` untraced and traced, alternately, ``--pairs`` times with the
same seed, and prints one JSON line holding, per end-to-end metric and
reported figure, the median untraced and traced values and their difference
(absolute and as a share of the untraced value).  The traced run reports
these figures in its report line; its compared metrics are the per-layer
ones.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def report(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    report = json.loads(out[-2])
    return {**report["end_to_end"], **report["extras"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--pairs", type=int, default=1)
    args = ap.parse_args()
    runs = {0: [], 1: []}
    for i in range(args.pairs):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(report(args.workload, args.seed, args.seconds, trace))
    out = {}
    for name, (_, unit) in runs[0][0].items():
        plain = statistics.median(r[name][0] for r in runs[0])
        traced = statistics.median(r[name][0] for r in runs[1])
        out[name] = {"unit": unit, "untraced": plain, "traced": traced, "overhead": traced - plain,
                     "overhead_share": (traced - plain) / plain if plain else None}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "pairs": args.pairs, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
