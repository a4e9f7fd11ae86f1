"""Driver-check staleness audit: rounds since each registry entry last held
a driver slot and passed the external DuckDB gate.

Usage: python tools/staleness.py [CURRENT_ROUND]

CURRENT_ROUND defaults to the highest NN among the CORRECTNESS_rNN.json
files present.  Ranks every entry by rounds-since-last-check (oldest-green
first: a green from many rounds ago predates refactors of the machinery
under it) and prints the ranked list plus the histogram COVERAGE.md cites.

Entries currently ON the driver surface count as checked in CURRENT_ROUND
(they face the oracle when the round's sweep lands).  The staleness budget:
no entry older than STALENESS_BUDGET rounds at the end of a round.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_kafka_consumer_cassandra_output_spark.plans import all_specs  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: max rounds an entry may go without facing the external oracle
STALENESS_BUDGET = 10


def entry_is_green(v) -> bool:
    """Per-entry green predicate of a CORRECTNESS sweep row (ADVICE r13: a
    red/errored sweep row must NOT count as a fresh check).  hash_match is
    None only for the rows-only oracle=None entries, where rows_match is the
    strongest gate.

    Two recording shapes exist for rows-only entries:

    - the local parity harness records ``rows_match: true, err: null``
      (it still counts rows against the Spark re-run);
    - the DRIVER records ``err: 'no_oracle'`` with every *_match field
      None and only ``spark_rows`` populated (first observed when
      ``msg_detail_encrypted`` took a driver slot in r14; the r14 judge
      adjudicated that shape as the contract's allowed rows-only green).

    Both count as green; any other ``err`` value stays red.
    """
    if not isinstance(v, dict):
        return False
    if v.get("err") == "no_oracle":
        # Driver-side rows-only shape: the query RAN (spark_rows is a
        # real count); there is simply no DuckDB oracle by design.
        # bool is an int subclass: {'spark_rows': true} must NOT count
        # as a real row count (ADVICE r15).
        rows = v.get("spark_rows")
        return isinstance(rows, int) and not isinstance(rows, bool) and rows >= 0
    return (
        bool(v.get("rows_match"))
        and v.get("schema_match") is not False
        and (v.get("hash_match") or v.get("hash_match") is None)
        and not v.get("err")
    )


def latest_round() -> int:
    """Highest NN among the CORRECTNESS_rNN.json files under ROOT (0 if none)."""
    rounds = [
        int(m.group(1))
        for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path)))
    ]
    return max(rounds, default=0)


def last_checked(current_round: int) -> dict[str, int]:
    """Entry name -> round of its most recent driver check (current driver
    entries count as ``current_round``)."""
    specs = all_specs()
    last: dict[str, int] = {}
    for r in range(1, current_round + 1):
        path = os.path.join(ROOT, f"CORRECTNESS_r{r:02d}.json")
        if not os.path.exists(path):
            continue
        for name, v in json.load(open(path)).items():
            # only a GREEN sweep row counts as a check (ADVICE r13: a
            # red/errored entry must not evade re-promotion for a budget)
            if name in specs and entry_is_green(v):
                last[name] = r
    for name, spec in specs.items():
        if spec.driver:
            last[name] = current_round
    return last


def main() -> None:
    current = int(sys.argv[1]) if len(sys.argv) > 1 else latest_round()
    specs = all_specs()
    last = last_checked(current)
    never = sorted(n for n in specs if n not in last)
    ranked = sorted(
        ((current - r, n, r) for n, r in last.items()), reverse=True
    )
    hist: dict[int, int] = {}
    for age, _, _ in ranked:
        hist[age] = hist.get(age, 0) + 1
    print(f"registry {len(specs)}; never driver-checked: {len(never)}")
    if never:
        print("  " + " ".join(never))
    print("staleness histogram (rounds since last check):",
          dict(sorted(hist.items())))
    over = [(a, n, r) for a, n, r in ranked if a > STALENESS_BUDGET]
    print(f"over budget (> {STALENESS_BUDGET} rounds): {len(over)}")
    print(f"\noldest-first (top 40 of {len(ranked)}):")
    for age, name, r in ranked[:40]:
        flag = " <-- OVER BUDGET" if age > STALENESS_BUDGET else ""
        print(f"  {age:3d}  {name}  (last r{r}){flag}")


if __name__ == "__main__":
    main()
