"""Check, or re-record, the reference digest of every pinned query.

    python3 perfbench/pin.py            # compare all 144 queries with digests.json
    python3 perfbench/pin.py --record   # rewrite digests.json from this tree

Runs each query of ``queries.MESSAGE_QUERIES`` and ``queries.CURATION_QUERIES``
once on the generated query tables, in one ``local[4]`` session, and prints
one JSON line: the mismatches and each query's wall time.  Takes a few
minutes; exits 1 on any mismatch or failure.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import data  # noqa: E402
import harness  # noqa: E402
import queries  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--record", action="store_true", help="rewrite digests.json")
    args = ap.parse_args()
    if not harness.program_available():
        print("pin.py: the package under test is not in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(harness.ROOT, ".perfbench_work", f"pin-{os.getpid()}")
    harness.prepare(work)
    tables = os.path.join(work, "tables")
    data.write_query_tables(tables)
    spark = harness.start_session(work)
    try:
        from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

        specs = all_specs()
        got, errors, secs = {}, [], {}
        for name in queries.MESSAGE_QUERIES + queries.CURATION_QUERIES:
            t0 = time.perf_counter()
            try:
                got[name] = checks.df_digest(specs[name].builder(spark, tables))
            except Exception as e:  # report every failing query, keep going
                errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            secs[name] = round(time.perf_counter() - t0, 3)
        if args.record and not errors:
            with open(checks.DIGESTS_PATH, "w") as f:
                json.dump(got, f, indent=1, sort_keys=True)
                f.write("\n")
        elif not args.record:
            pinned = checks.load_digests()
            errors += [e for n in got if (e := checks.digest_error(n, got[n], pinned))]
    finally:
        harness.stop_session(spark)
        harness.remove_tree(work)
    print(json.dumps({"errors": errors, "seconds": secs}))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
