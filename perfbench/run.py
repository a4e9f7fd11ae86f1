"""The repository benchmark: one client, closed loop, ``local[4]``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads:

- ``ingest``: a seeded generator appends rounds of ``events`` parquet files;
  ``streaming.pipeline.run_dual_sink_stream`` drains each round from one
  checkpoint into the detail and summary sinks.  An operation runs from
  the round's last file being written until the drain returns.
- ``message_queries`` / ``curation_queries``: a cold pass, then warm
  passes, over a fixed subset of the pinned query lists (``queries.py``)
  in a seed-shuffled order.  An operation is one builder call plus the
  ``noop``-sink action that materializes its result.

Each run times one cold pass (or round), then warm passes (rounds) for
``--seconds`` -- at least five warm passes, or six warm rounds after three
settling ones -- and, outside the timed region, checks every round's
output, or the outputs of the cold pass and of the last warm pass
(``checks.py``).  Stdout ends
with two lines: a report (host record, every metric and reported figure by
name and unit, sample counts, each operation's latency, errors), then the
result object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs with the
Spark event log, job groups and spans on, reports the per-layer metrics,
and writes its spans to ``.perfbench_out/``.  See README.md for the
definitions.

The run exits 2, printing no result, when the checkout lacks the package
under test.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import queries  # noqa: E402
from checks import load_digests  # noqa: E402
from tracing import EventLog, Tracer, Window, union_seconds  # noqa: E402

WORKLOADS = ("ingest", "message_queries", "curation_queries")

#: The compared metrics.  Throughput is reported beside them
#: (``Run.extras``): with one client in a closed loop it only restates the
#: warm latency.
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_latency_s": "s",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "session.start_s": "s",
    "plans.import_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.cpu_s": "s",
    "plans.gc_s": "s",
    "plans.shuffle_bytes": "B",
    "plans.spill_bytes": "B",
    "plans.codegen_classes": "count",
    "plans.codegen_ms": "ms",
    "materialize.eager_jobs": "count",
    "materialize.eager_s": "s",
    "materialize.shared_build_s": "s",
    "operators.python_rows": "count",
    "operators.python_s": "s",
    "sources.scan_bytes": "B",
    "sources.scan_s": "s",
    "functions.crypto_s": "s",
    "streaming.start_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.input_rows": "count",
    "streaming.files_written": "count",
    "streaming.bytes_written": "B",
}

MSGS_PER_ROUND = 10000
FILES_PER_ROUND = 4
#: Floors on the warm phase, whatever ``--seconds`` says.  A pass over the
#: curation mix takes about 3 s, and its time moves by 10-25 % from pass to
#: pass with the host's speed; five passes give each query a median steady
#: enough for the run-to-run bound.
MIN_WARM_PASSES = 5
MIN_WARM_ROUNDS = 6
#: Ingest rounds after the cold one that are run and checked but not timed
#: as warm: the JVM is still compiling the stream's code paths, and the
#: round latency falls by about a third over them.
SETTLE_ROUNDS = 3
OP_TIMEOUT_S = 120


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dir_usage(root: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``root``."""
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.tracer = Tracer(traced)
        self.ops: list[dict] = []
        self.errors: list[str] = []
        self.setup: dict = {}
        self.attempted = self.failed = 0

    # -- setup -------------------------------------------------------------

    def start(self) -> None:
        harness.prepare(self.work)
        tr = self.tracer
        with tr.span("session.local_session", "session"):
            t0 = time.perf_counter()
            self.spark = harness.start_session(self.work, event_log=tr.enabled)
            t1 = time.perf_counter()
        with tr.span("plans.all_specs", "plans"):
            from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

            self.specs = all_specs()
            t2 = time.perf_counter()
        self.setup = {"setup_s": harness.process_age_s(), "session.start_s": t1 - t0,
                      "plans.import_s": t2 - t1}
        tr.attach(self.spark)

    # -- query mixes -------------------------------------------------------

    def run_queries(self, names: tuple[str, ...], pinned: dict) -> None:
        from data import write_query_tables

        tables = os.path.join(self.work, "tables")
        write_query_tables(tables)
        rng = random.Random(self.seed)
        order = list(names)
        rng.shuffle(order)
        self.check_outputs({name: self.query_op(name, tables, cold=True) for name in order}, pinned)
        deadline = time.perf_counter() + self.seconds
        passes = 0
        while passes < MIN_WARM_PASSES or time.perf_counter() < deadline:  # whole passes
            rng.shuffle(order)
            last = {name: self.query_op(name, tables, cold=False) for name in order}
            passes += 1
        self.check_outputs(last, pinned)

    def check_outputs(self, frames: dict, pinned: dict) -> None:
        """Compare each result of one pass with its pinned digest, outside
        any timing; a mismatch counts its operation as failed."""
        from checks import df_digest, digest_error

        for name, df in frames.items():
            if df is None:
                continue  # already counted as failed
            try:
                err = digest_error(name, df_digest(df), pinned)
            except Exception as e:
                err = f"{name}: digest failed: {type(e).__name__}: {e}"
            if err:
                self.failed += 1
                self.errors.append(err)

    def query_op(self, name: str, tables: str, cold: bool):
        from flink_kafka_consumer_cassandra_output_spark.materialize import SESSION_MEMO_BUILD_SECONDS

        tr = self.tracer
        self.attempted += 1
        i = self.attempted  # names this operation's job groups
        op = {"name": name, "kind": name, "cold": cold, "warm": not cold}
        memo0 = dict(SESSION_MEMO_BUILD_SECONDS)
        cg0 = tr.codegen()
        df = None
        with tr.span(name, "bench"):
            w0, t0 = time.time(), time.perf_counter()
            try:
                tr.job_group(f"op{i}:build")
                with tr.span("build", "plans") as build_span:
                    df = self.specs[name].builder(self.spark, tables)
                w1, t1 = time.time(), time.perf_counter()
                tr.job_group(f"op{i}:exec")
                with tr.span("exec", "plans"):
                    df.write.format("noop").mode("overwrite").save()
                w2, t2 = time.time(), time.perf_counter()
            except Exception as e:  # a failed operation is counted, the loop goes on
                self.failed += 1
                self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                df = None
            finally:
                tr.clear_job_group()
        if df is None:
            return None
        cg1 = tr.codegen()
        op.update(latency=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1,
                  windows=[(f"op{i}:build", w0, w1), (f"op{i}:exec", w1, w2)],
                  codegen_classes=cg1[0] - cg0[0], codegen_ms=cg1[1] - cg0[1],
                  shared={k: v - memo0.get(k, 0.0) for k, v in SESSION_MEMO_BUILD_SECONDS.items()
                          if v != memo0.get(k, 0.0)},
                  build_span=build_span.id if build_span else None)
        self.ops.append(op)
        return df

    # -- ingest ------------------------------------------------------------

    def run_ingest(self) -> None:
        from checks import IngestChecker
        from data import IngestGenerator

        input_dir = os.path.join(self.work, "input")
        self.out_root = os.path.join(self.work, "sinks")
        ckpt = os.path.join(self.work, "checkpoint")
        os.makedirs(input_dir)
        gen = IngestGenerator(self.seed, MSGS_PER_ROUND, FILES_PER_ROUND)
        checker = IngestChecker(self.out_root, self.seed)
        deadline = math.inf
        r = 0
        while r <= SETTLE_ROUNDS + MIN_WARM_ROUNDS or time.perf_counter() < deadline:
            gen.write_round(r, input_dir)
            ok = self.ingest_op(r, input_dir, ckpt)
            errors = checker.check_round(r, gen.expected_round(r))
            if ok and errors:
                self.failed += 1
            self.errors += errors
            if self.tracer.enabled and ok:
                self.crypto_probe(r, input_dir)
            if r == SETTLE_ROUNDS:  # the warm phase starts after the settling rounds
                deadline = time.perf_counter() + self.seconds
            r += 1
        self.attempted += 1  # the final audit of both sinks
        final = checker.check_sinks() + checker.check_decrypt(self.spark)
        if final:
            self.failed += 1
            self.errors += final
        self.messages = r * MSGS_PER_ROUND
        self.stored_bytes = _dir_usage(self.out_root)[1]

    def ingest_op(self, r: int, input_dir: str, ckpt: str) -> bool:
        from flink_kafka_consumer_cassandra_output_spark.streaming.pipeline import run_dual_sink_stream

        tr = self.tracer
        self.attempted += 1
        before = _dir_usage(self.out_root) if tr.enabled else (0, 0)
        cg0 = tr.codegen()
        with tr.span(f"round{r}", "bench"):
            w0, t0 = time.time(), time.perf_counter()
            with tr.span("stream-start", "streaming"):
                q = run_dual_sink_stream(self.spark, input_dir, self.out_root, ckpt)
            t1 = time.perf_counter()
            with tr.span("drain", "streaming"):
                done = q.awaitTermination(OP_TIMEOUT_S)
            w2, t2 = time.time(), time.perf_counter()
        if not done:
            q.stop()
        exc = q.exception()
        if not done or exc is not None:
            self.failed += 1
            self.errors.append(f"round {r}: {'timeout' if not done else exc}")
            return False
        after = _dir_usage(self.out_root) if tr.enabled else (0, 0)
        dur: dict[str, float] = {}
        rows = 0
        for p in q.recentProgress:
            rows += p.numInputRows
            for k, v in p.durationMs.items():
                dur[k] = dur.get(k, 0) + v
        self.ops.append({"name": f"round{r}", "kind": "round", "cold": r == 0,
                         "warm": r > SETTLE_ROUNDS, "latency": t2 - t0,
                         "start_s": t1 - t0,
                         "windows": [(f"round{r}", w0, w2)], "progress_ms": dur, "input_rows": rows,
                         "files_written": after[0] - before[0], "bytes_written": after[1] - before[1]})
        cg1 = tr.codegen()
        self.ops[-1].update(codegen_classes=cg1[0] - cg0[0], codegen_ms=cg1[1] - cg0[1])
        return True

    def crypto_probe(self, r: int, input_dir: str) -> None:
        """Traced runs only: AES cost on this round's batch, as the noop time
        of ``detail_table(encrypt=True)`` minus ``encrypt=False``."""
        from flink_kafka_consumer_cassandra_output_spark.operators import message_pipeline as mp
        from flink_kafka_consumer_cassandra_output_spark.streaming.pipeline import EVENTS_STREAM_SCHEMA

        files = sorted(os.path.join(input_dir, f) for f in os.listdir(input_dir)
                       if f.startswith(f"round{r:05d}-"))
        msgs = mp.messages_from_events_df(self.spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(*files))
        secs = {}
        for encrypt in (True, False):
            with self.tracer.span(f"detail_table(encrypt={encrypt})", "functions"):
                t0 = time.perf_counter()
                mp.detail_table(msgs, encrypt=encrypt).write.format("noop").mode("overwrite").save()
                secs[encrypt] = time.perf_counter() - t0
        self.ops[-1]["crypto_s"] = secs[True] - secs[False]

    # -- results -----------------------------------------------------------

    def end_to_end(self) -> dict:
        return {
            "setup_s": self.setup["setup_s"],
            "cold_s": sum(o["latency"] for o in self.ops if o["cold"]),
            "warm_latency_s": self.warm_typical(),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def warm_typical(self) -> float:
        """Geometric mean, over operation kinds (each query; the ingest
        round), of each kind's median warm latency: the typical operation of
        the mix, steady against one slow pass and against the mix's spread
        of per-query costs."""
        by_kind: dict[str, list[float]] = {}
        for o in self.ops:
            if o["warm"]:
                by_kind.setdefault(o["kind"], []).append(o["latency"])
        return statistics.geometric_mean([_median(v) for v in by_kind.values()]) if by_kind else 0.0

    def extras(self) -> dict:
        """Workload-specific figures, reported beside the compared metrics."""
        warm = [o["latency"] for o in self.ops if o["warm"]]
        out = {"warm_samples": [len(warm), "count"], "latency_p50_s": [_median(warm), "s"],
               "error_rate": [self.failed / max(self.attempted, 1), "ratio"]}
        if len(warm) >= 100:  # at least ten samples beyond p90
            out["latency_p90_s"] = [statistics.quantiles(warm, n=10)[-1], "s"]
        if self.workload == "ingest":
            out["msgs_per_s"] = [MSGS_PER_ROUND * len(warm) / sum(warm) if warm else 0.0, "msg/s"]
            out["stored_bytes_per_msg"] = [self.stored_bytes / self.messages, "B"]
        else:
            out["queries_per_min"] = [60.0 * len(warm) / sum(warm) if warm else 0.0, "q/min"]
        return out

    def per_layer(self, log: EventLog | None) -> dict:
        warm = [o for o in self.ops if o["warm"]]
        cold = [o for o in self.ops if o["cold"]]
        m = {k: 0.0 for k in PER_LAYER}
        m["session.start_s"] = self.setup["session.start_s"]
        m["plans.import_s"] = self.setup["plans.import_s"]
        m["plans.codegen_classes"] = sum(o.get("codegen_classes", 0) for o in cold)
        m["plans.codegen_ms"] = sum(o.get("codegen_ms", 0.0) for o in cold)
        m["materialize.shared_build_s"] = sum(v for o in self.ops for v in o.get("shared", {}).values())
        windows = {key: Window(key, a, b) for o in self.ops for key, a, b in o["windows"]}
        if log is not None:
            log.attribute(list(windows.values()))
        n = max(len(warm), 1)

        def per_op(name: str, phase: int | None = None) -> float:
            """Mean over warm operations of a counter, in one phase window
            (0 build, 1 exec) or in all of the operation's windows."""
            return sum(windows[key].counters.get(name, 0)
                       for o in warm for j, (key, _, _) in enumerate(o["windows"])
                       if phase is None or j == phase) / n

        if self.workload == "ingest":
            for k, dk in (("add_batch_ms", "addBatch"), ("query_planning_ms", "queryPlanning"),
                          ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets"),
                          ("latest_offset_ms", "latestOffset")):
                m[f"streaming.{k}"] = sum(o["progress_ms"].get(dk, 0) for o in warm) / n
            for k in ("start_s", "input_rows", "files_written", "bytes_written"):
                m[f"streaming.{k}"] = sum(o[k] for o in warm) / n
            m["functions.crypto_s"] = _median([o["crypto_s"] for o in warm if "crypto_s" in o])
            m["sources.scan_bytes"] = per_op("scan_bytes")
            m["sources.scan_s"] = per_op("scan_s")
            return m
        m["plans.build_s"] = sum(o["build_s"] for o in warm) / n
        m["plans.exec_s"] = sum(o["exec_s"] for o in warm) / n
        m["materialize.eager_jobs"] = per_op("jobs", 0)
        m["materialize.eager_s"] = sum(
            union_seconds([(a, b) for _, a, b in windows[o["windows"][0][0]].jobs]) for o in warm) / n
        for k in ("jobs", "stages", "tasks", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes"):
            m[f"plans.{k}"] = per_op(k, 1)
        for k in ("python_rows", "python_s"):
            m[f"operators.{k}"] = per_op(k)
        m["sources.scan_bytes"] = per_op("scan_bytes")
        m["sources.scan_s"] = per_op("scan_s")
        if log is not None:  # eager jobs as materialize spans under their build span
            for o in self.ops:
                for jid, a, b in windows[o["windows"][0][0]].jobs:
                    self.tracer.add_span(f"job{jid}", "materialize", o["build_span"], a, b)
        return m

    def finish(self) -> None:
        self.peak_rss_mb = harness.peak_rss_mb(self.spark)
        self.close()


    def close(self) -> None:
        """Stop Spark and its JVM if this run started them."""
        spark, self.spark = getattr(self, "spark", None), None
        if spark is not None:
            harness.stop_session(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not harness.program_available():
        print("run.py: the package under test is not in this checkout", file=sys.stderr)
        return 2
    load1 = os.getloadavg()[0]
    work = os.path.join(harness.ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        with run.tracer.span(args.workload, "bench"):
            run.start()
            if args.workload == "ingest":
                run.run_ingest()
            else:
                run.run_queries(queries.MESSAGE_TIMED if args.workload == "message_queries"
                                else queries.CURATION_TIMED, load_digests())
            run.finish()
        e2e = run.end_to_end()
        log = None
        if args.trace:
            logs = os.listdir(os.path.join(work, "eventlog"))
            log = EventLog(os.path.join(work, "eventlog", logs[0]))
        layers = run.per_layer(log) if args.trace else None
    finally:
        run.close()
        harness.remove_tree(work)
    host = harness.host_record(args.seed, load1)
    metrics = layers if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    report = {"workload": args.workload, "trace": args.trace, "host": host,
              "end_to_end": {k: [v, END_TO_END[k]] for k, v in e2e.items()},
              "extras": run.extras(),
              "ops": [[o["name"], round(o["latency"], 4)] for o in run.ops], "errors": run.errors[:20]}
    if args.trace:
        out_dir = os.path.join(harness.ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        run.tracer.write(path, {"report": report, "per_layer": layers, "ops": [
            {k: v for k, v in o.items() if k != "windows"} for o in run.ops]})
        report["trace_file"] = os.path.relpath(path, harness.ROOT)
    print(json.dumps(report))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
