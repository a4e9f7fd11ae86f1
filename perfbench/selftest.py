"""Self-test of the benchmark's own generators and checkers.

    python3 perfbench/selftest.py           # all checks (about a minute)
    python3 perfbench/selftest.py --quick   # skip the one that starts Spark

Shows that:

1. the generators are byte-identical for one seed and differ across seeds;
2. the ingest checker accepts an exact sink and flags a sink missing one
   row and a round committed twice;
3. a digest mismatch is detected, and a query-mix run against one altered
   pinned digest counts that query's cold and last warm operation as failed
   (``error_rate`` above 0).

Prints ``selftest: ok`` and exits 0, or names the failed check and exits 1.
"""

from __future__ import annotations

import argparse
import filecmp
import os
import shutil
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import data  # noqa: E402
import harness  # noqa: E402
import queries  # noqa: E402


def check_generators(tmp: str) -> None:
    dirs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = dirs[tag] = os.path.join(tmp, f"gen-{tag}")
        os.makedirs(d)
        gen = data.IngestGenerator(seed, msgs_per_round=2000, files_per_round=2)
        for r in range(2):
            gen.write_round(r, d)
        data.write_query_tables(os.path.join(d, "tables"), seed=seed)
    for sub in ("", "tables"):
        a, b, c = (os.path.join(dirs[t], sub) for t in "abc")
        names = sorted(f for f in os.listdir(a) if f.endswith(".parquet"))
        match, mismatch, _ = filecmp.cmpfiles(a, b, names, shallow=False)
        if mismatch or len(match) != len(names):
            raise AssertionError(f"same seed, different bytes: {mismatch}")
        _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
        if not differ:
            raise AssertionError("different seeds gave identical files")


def _write_sink(out_root: str, r: int, exp, drop_one: bool = False) -> None:
    ids = sorted(exp.stanza)[1:] if drop_one else sorted(exp.stanza)
    detail = os.path.join(out_root, "message_history", f"_batch_id={r}")
    summary = os.path.join(out_root, "message_history_summary", f"_batch_id={r}")
    os.makedirs(detail)
    os.makedirs(summary)
    pq.write_table(pa.table({"message_id": ids, "stanza": [exp.stanza[m] for m in ids]}),
                   os.path.join(detail, "part-0.parquet"))
    rows = sorted(exp.summary, key=repr)
    pq.write_table(pa.table({"username": [u for u, _, _ in rows], "jid": [j for _, j, _ in rows],
                             "date_partition": [d for _, _, d in rows]}),
                   os.path.join(summary, "part-0.parquet"))


def check_ingest_checker(tmp: str) -> None:
    gen = data.IngestGenerator(11, msgs_per_round=3000, files_per_round=1)
    exp = [gen.expected_round(r) for r in range(2)]
    if not all(0 < len(e.stanza) < e.generated for e in exp):
        raise AssertionError("generator produced no O9 drops")

    good = os.path.join(tmp, "good")
    checker = checks.IngestChecker(good, 11)
    for r in range(2):
        _write_sink(good, r, exp[r])
        if errs := checker.check_round(r, exp[r]):
            raise AssertionError(f"exact sink rejected: {errs}")
    if errs := checker.check_sinks():
        raise AssertionError(f"exact sinks rejected: {errs}")

    missing = os.path.join(tmp, "missing")
    checker = checks.IngestChecker(missing, 11)
    _write_sink(missing, 0, exp[0], drop_one=True)
    if not checker.check_round(0, exp[0]) or not checker.check_sinks():
        raise AssertionError("a sink missing one row passed")

    twice = os.path.join(tmp, "twice")
    checker = checks.IngestChecker(twice, 11)
    for r in range(2):
        _write_sink(twice, r, exp[r])
        checker.check_round(r, exp[r])
    for table in ("message_history", "message_history_summary"):  # round 1 committed again
        shutil.copytree(os.path.join(twice, table, "_batch_id=1"), os.path.join(twice, table, "_batch_id=2"))
    if not checker.check_sinks():
        raise AssertionError("a round committed twice passed")


def check_digests(tmp: str, quick: bool) -> None:
    pinned = checks.load_digests()
    missing = [n for n in queries.MESSAGE_QUERIES + queries.CURATION_QUERIES if n not in pinned]
    if missing:
        raise AssertionError(f"queries without a pinned digest: {missing}")
    name = queries.MESSAGE_TIMED[0]
    altered = dict(pinned)
    altered[name] = dict(pinned[name], sha256="0" * 64)
    if checks.digest_error(name, pinned[name], pinned) or not checks.digest_error(name, pinned[name], altered):
        raise AssertionError("digest comparison is wrong")
    if quick:
        return
    import run as bench

    run = bench.Run("message_queries", 1, 0, False, os.path.join(tmp, "run"))
    try:
        run.start()
        run.run_queries(queries.MESSAGE_TIMED, altered)
    finally:
        run.close()
    # The altered query's output is checked twice, after the cold pass and
    # after the last warm pass, and fails both times.
    error_rate = run.extras()["error_rate"][0]
    if run.failed != 2 or not error_rate > 0:
        raise AssertionError(f"altered digest not counted: failed {run.failed}, errors {run.errors}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--quick", action="store_true", help="skip the check that runs Spark")
    args = ap.parse_args()
    if not harness.program_available():
        print("selftest.py: the package under test is not in this checkout", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(harness.ROOT, ".perfbench_work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(harness.ROOT, ".perfbench_work")) as tmp:
        for check in (check_generators, check_ingest_checker):
            check(tmp)
        check_digests(tmp, args.quick)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
