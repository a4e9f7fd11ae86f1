"""Benchmark harness: every registered query timed at one scale factor.

Prints exactly ONE JSON line on stdout:

    {"metric": "total_query_seconds", "value": <sum>, "unit": "sec",
     "queries": {"<name>": <sec>, ...},
     "counters": {"<name>": [<jobs>, <stages>], ...},
     "shared_stage_seconds": <sec>, "shared_stages": {"<stage>": <sec>, ...},
     "pre_sweep_load": <1-min load>, "peak_rss_mb": <MiB>,
     "sf": <sf>, "cpus": <n>,
     "n_queries": <n>, "n_registered": <n>, "repeats": <n>,
     "failures": {"<name>": "<error>", ...}}     # only when a query failed

Configuration (env):
    SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[...] core count (default: os.cpu_count())
    SPARK_GRAFT_BENCH_QUERIES  comma-separated subset (default: all)
    SPARK_GRAFT_BENCH_REPEATS  timed runs per query, min reported (default 3)

Timing methodology: each query's DataFrame is fully materialized via the
``noop`` sink (forces every column expression to execute, unlike ``count()``
which lets Catalyst prune projections), after one untimed warm-up of the
whole session (JVM/codegen warm-up on the smallest query).  Each query is
timed ``REPEATS`` times and the MIN is reported: in a 60-query single-JVM
sweep, GC and codegen-cache pressure from earlier queries can inflate one
later query 1.5-2x run-to-run (observed), and min-of-N measures the
query's cost rather than the sweep's interference.  All Spark logs go to
stderr; stdout carries only the JSON line.

Counters: ``counters[name]`` is ``[jobs, stages]`` for one repeat: the
Spark jobs started while the query built and ran (eager build-time jobs
and ``materialize_many``'s pool included, since no builder sets a job
group) and the stages each of those jobs scheduled, skipped ones
included, summed over the jobs.  The summed form is fixed by each job's
lineage; a count of distinct stage ids is not, because whether two jobs
share a stage id depends on whether the first job's stage was still
registered when the second one started.  The first repeat also carries
one-time jobs (file listing, ``session_memo`` shared-stage builds), so the
recorded value is the smallest pair over the later repeats: AQE picks a
join's build side from whichever input finishes first, and when both are
small that choice can add a broadcast job in some repeats (observed on
``emb_ann_ivf``), while a plan change shows in every repeat.
``tools/bench_trend.py`` gates on these counts.  ``pre_sweep_load`` is the
1-minute load average read before the Spark session exists: a record of
the window, not a gate.  ``peak_rss_mb`` is the peak resident memory
(``VmHWM``) of this process plus its driver JVM at the end of the sweep,
as ``perfbench`` defines it; also a record, not a gate.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_kafka_consumer_cassandra_output_spark.materialize import (  # noqa: E402
    SESSION_MEMO_BUILD_SECONDS,
)
from flink_kafka_consumer_cassandra_output_spark.plans import all_specs  # noqa: E402
from flink_kafka_consumer_cassandra_output_spark.session import local_session  # noqa: E402
from perfbench.harness import peak_rss_mb  # noqa: E402

#: Untimed warm-up query: tiny, never session_memo-backed, so cold-JVM
#: cost can't leak into the shared-stage billing (a memo-consumer warm-up
#: would trigger the one-time shared builds while the JVM is coldest).
WARMUP_QUERY = "q6_forecast_revenue"


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def materialize(df) -> None:
    """Force full execution of every column; returns nothing."""
    df.write.format("noop").mode("overwrite").save()


def _job_ids(spark) -> set[int]:
    """Ids of the ungrouped jobs the status store holds, read after the
    listener bus has delivered every event already posted (job starts are
    recorded asynchronously)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _counters(spark, jobs: set[int]) -> list[int]:
    """[jobs, stages scheduled by those jobs, summed per job]."""
    tracker = spark.sparkContext.statusTracker()
    infos = [tracker.getJobInfo(j) for j in jobs]
    return [len(jobs), sum(len(i.stageIds) for i in infos if i is not None)]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    # 3, not 2: the container shows multi-second CPU-steal stalls (the same
    # untouched query measured 0.9s and 7.9s across two sweeps); min-of-3
    # keeps one stalled repeat from poisoning a query's number.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    pre_sweep_load = os.getloadavg()[0]
    spark = local_session(cores=cpus)
    specs = all_specs()
    names = sorted(specs)
    if only:
        names = [n for n in names if n in set(only.split(","))]

    try:
        warm = WARMUP_QUERY if WARMUP_QUERY in specs else names[0]
        materialize(specs[warm].builder(spark, sf_dir))
    except Exception:
        pass

    timings: dict[str, float] = {}
    counters: dict[str, list[int]] = {}
    failures: dict[str, str] = {}
    for name in names:
        best = err = None
        seen = []
        for rep in range(repeats):
            # Shared-stage (session_memo) builds triggered inside this repeat
            # are billed under shared_stage_seconds, NOT under this query:
            # subtract the repeat's own memo-build delta from its timing, so
            # repeats=1 does not bill the build twice.
            before = _job_ids(spark)
            m0 = sum(SESSION_MEMO_BUILD_SECONDS.values())
            t0 = time.perf_counter()
            try:
                materialize(specs[name].builder(spark, sf_dir))
            except Exception as e:  # keep any completed repeat's timing
                err = f"{type(e).__name__}: {e}"[:200]
                continue
            dt = time.perf_counter() - t0
            dt -= sum(SESSION_MEMO_BUILD_SECONDS.values()) - m0
            best = dt if best is None else min(best, dt)
            if rep > 0 or repeats == 1:
                seen.append(_counters(spark, _job_ids(spark) - before))
        if seen:
            counters[name] = min(seen)
        if best is not None:
            timings[name] = round(best, 3)
        else:
            failures[name] = err or "no successful repeat"

    # Shared stages (session_memo) build ONCE per sweep; their cost lands
    # in the first consumer's first repeat, which min-of-N then drops.
    # Bill it explicitly so memoization can't silently deflate the total.
    shared = round(sum(SESSION_MEMO_BUILD_SECONDS.values()), 3)
    out = {
        "metric": "total_query_seconds",
        "value": round(sum(timings.values()) + shared, 3),
        "unit": "sec",
        "queries": timings,
        "counters": counters,
        "shared_stage_seconds": shared,
        "shared_stages": {
            k: round(v, 3) for k, v in sorted(SESSION_MEMO_BUILD_SECONDS.items())
        },
        "pre_sweep_load": round(pre_sweep_load, 2),
        "peak_rss_mb": round(peak_rss_mb(spark), 1),
        "sf": _sf_from_dir(sf_dir),
        "cpus": cpus,
        "n_queries": len(timings),
        "n_registered": len(names),
        "repeats": repeats,
    }
    if failures:
        out["failures"] = failures
    print(json.dumps(out))
    spark.stop()
    # A query that throws must not read as a speedup: the headline sum only
    # covers successes, so a failing run exits nonzero (consumers that only
    # parse the JSON still see n_queries < n_registered).
    if failures:
        print(f"bench: {len(failures)}/{len(names)} queries FAILED: "
              f"{sorted(failures)}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
