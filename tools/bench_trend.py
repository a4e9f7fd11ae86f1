"""Per-query bench gate: compare two ``bench.py`` lines by their counters.

Usage:
    python tools/bench_trend.py BASE.json CUR.json

Each input holds one ``bench.py`` output line.  ``counters`` gives every
query's Spark job and stage counts over its warm repeats (see bench.py);
they are fixed for a fixed plan, so a rise is a plan change, not host
noise.

Exit 1 when any query's jobs or stages rose from BASE to CUR.  Wall time
never fails the gate on its own: a query more than ``THRESHOLD`` x slower
(at ``MIN_SECONDS`` or more) with unchanged counters is listed for
re-timing in one window.  Exit 2 when the lines cannot be compared: either
side lacks ``counters`` (every line older than the counter gate, the
``BENCH_r*.json`` files included), ``cpus`` or ``sf`` differ, or either
side ran fewer than two repeats (a first repeat carries one-time jobs).
``peak_rss_mb`` (peak resident memory of the sweep) is printed for both
sides, ``-`` where a line lacks it, and never gated on.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

THRESHOLD = 1.5
MIN_SECONDS = 0.3


def refusal(base: dict, cur: dict) -> str | None:
    """Why the two lines cannot be compared, or None."""
    for side, run in (("BASE", base), ("CUR", cur)):
        if "counters" not in run:
            return f"{side} has no per-query counters"
        if run.get("repeats", 0) < 2:
            return f"{side} ran repeats={run.get('repeats')}; counters need at least 2"
    for key in ("cpus", "sf"):
        if base.get(key) != cur.get(key):
            return f"{key} differs: BASE {base.get(key)}, CUR {cur.get(key)}"
    return None


def compare(base: dict, cur: dict) -> dict[str, list]:
    bc, cc = base["counters"], cur["counters"]
    bq, cq = base["queries"], cur["queries"]
    both = sorted(bc.keys() & cc.keys())
    return {
        "rose": [(q, bc[q], cc[q]) for q in both
                 if cc[q][0] > bc[q][0] or cc[q][1] > bc[q][1]],
        "slower": [(q, bq[q], cq[q]) for q in sorted(bq.keys() & cq.keys())
                   if cq[q] >= MIN_SECONDS and cq[q] > THRESHOLD * bq[q]
                   and bc.get(q) == cc.get(q)],
        "added": sorted(cq.keys() - bq.keys()),
        "removed": sorted(bq.keys() - cq.keys()),
    }


def main() -> None:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    base, cur = (json.loads(Path(p).read_text()) for p in sys.argv[1:])
    why = refusal(base, cur)
    if why:
        print(f"bench_trend: cannot compare: {why}", file=sys.stderr)
        sys.exit(2)
    cmp = compare(base, cur)
    print(f"{len(cur['counters'])} queries with counters in CUR")
    print("peak_rss_mb: BASE {} -> CUR {}".format(
        *(run.get("peak_rss_mb", "-") for run in (base, cur))))
    sections = {
        "COUNTERS ROSE, [jobs, stages]": [f"{q}: {b} -> {c}" for q, b, c in cmp["rose"]],
        "slower, counters unchanged: re-time in one window": [
            f"{q}: {b:.3f}s -> {c:.3f}s" for q, b, c in cmp["slower"]],
        "added": cmp["added"],
        "removed": cmp["removed"],
    }
    for title, lines in sections.items():
        if lines:
            print(f"{title} ({len(lines)}):")
            for line in lines:
                print(f"  {line}")
    sys.exit(1 if cmp["rose"] else 0)


if __name__ == "__main__":
    main()
