"""SPARK_GRAFT_STAGING_DIR: the cluster-mode materialization backend
(parquet staging tables instead of localCheckpoint) must produce
RESULT-IDENTICAL frames -- the documented equivalence is executable, not
prose.  Exercised on the two pipelines that materialize the most
(prefix-filter join inside, funnel with two staged intermediates)."""

from __future__ import annotations

import os

import pytest

from flink_kafka_consumer_cassandra_output_spark.materialize import STAGING_ENV
from flink_kafka_consumer_cassandra_output_spark.plans import all_specs


@pytest.mark.parametrize(
    "name",
    [
        "doc_near_dup_jaccard",
        "doc_curation_funnel",
        # the ITERATIVE pipeline: every connected-components round now
        # routes through materialize(), so cluster staging mode covers
        # the one loop that would otherwise keep hardcoded localCheckpoint
        "doc_dedup_clusters",
        # r12: the distributed range prefix machinery double-materializes
        # (input + pinned pid labels -- operators/ordered.py); staging mode
        # must reproduce the SAME ranks even though each materialize is a
        # parquet write+readback instead of a checkpoint
        "orders_abc_classification",
        "doc_lm_rarity",
        # r18: doc_dsir_importance left this list -- the rowwise scorer
        # removed the shared bigram explode (one consumer now, the model
        # pass), so the builder materializes nothing in ANY mode and a
        # staged run would write no stage table; cross-mode equality for
        # it is vacuous.  tests/test_curation_truth.py and the
        # stream==batch gate in tests/test_streaming.py pin its values.
    ],
)
def test_staging_tables_match_local_checkpoint(spark, sf_dir, tmp_path, name):
    spec = all_specs()[name]
    local = {tuple(r) for r in spec.builder(spark, sf_dir).collect()}
    os.environ[STAGING_ENV] = str(tmp_path / "staging")
    try:
        staged = {tuple(r) for r in spec.builder(spark, sf_dir).collect()}
    finally:
        os.environ.pop(STAGING_ENV, None)
    assert staged == local
    # the staging dir was actually used, and every stage table landed
    # under the application-id subdir -- the reclamation contract
    # (cleanup_staging / an app-id janitor) depends on the scoping
    app_dirs = list((tmp_path / "staging").iterdir())
    assert app_dirs, "staging mode did not write any stage table"
    assert [d.name for d in app_dirs] == [spark.sparkContext.applicationId]
    assert list(app_dirs[0].iterdir()), "app dir holds no stage tables"


def test_cleanup_staging_removes_only_this_apps_dir(spark, sf_dir, tmp_path):
    from flink_kafka_consumer_cassandra_output_spark.materialize import (
        cleanup_staging,
    )

    os.environ[STAGING_ENV] = str(tmp_path / "staging")
    try:
        all_specs()["doc_near_dup_jaccard"].builder(spark, sf_dir).collect()
        app_dir = tmp_path / "staging" / spark.sparkContext.applicationId
        assert app_dir.is_dir() and list(app_dir.iterdir()), (
            "staged pipeline left no app dir to reclaim"
        )
        other = tmp_path / "staging" / "application_someone_else"
        other.mkdir()
        (other / "stage-keep").mkdir()
        cleanup_staging(spark)
        assert not app_dir.exists(), "cleanup_staging left this app's dir"
        left = {d.name for d in (tmp_path / "staging").iterdir()}
        assert left == {"application_someone_else"}, left
    finally:
        os.environ.pop(STAGING_ENV, None)


def test_iterative_staging_reclaims_dead_rounds(spark, tmp_path):
    """The CC loop's per-round drop_stage keeps the staging high-water
    mark at ~2 rounds of tables: after a multi-round chain convergence,
    the app dir must hold only the final label table, not one pair of
    stage tables per iteration -- AND the returned frame must still be
    readable (only dead rounds were dropped)."""
    from pyspark.sql import functions as F

    from flink_kafka_consumer_cassandra_output_spark.operators.similarity import (
        connected_components,
    )

    n = 128
    nodes = spark.range(1, n + 1).select(F.col("id").alias("v"))
    edges = spark.range(1, n).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    os.environ[STAGING_ENV] = str(tmp_path / "staging")
    try:
        labels = connected_components(nodes, edges, max_iters=14)
        got = {r.v: r.lbl for r in labels.collect()}
    finally:
        os.environ.pop(STAGING_ENV, None)
    assert got == {v: 1 for v in range(1, n + 1)}
    app_dir = tmp_path / "staging" / spark.sparkContext.applicationId
    leftover = [d.name for d in app_dir.iterdir()]
    # a ~7-round convergence materializes ~21 stage tables; without
    # reclamation they would ALL survive to teardown
    assert len(leftover) <= 2, leftover


def test_rebroadcast_small_roundtrip_and_guard(spark):
    """rebroadcast_small must round-trip doubles bit-exactly (the codebook
    pattern depends on it for oracle determinism) and refuse frames above
    its bound (the driver-OOM guard)."""
    import math

    from pyspark.sql import functions as F

    from flink_kafka_consumer_cassandra_output_spark.materialize import (
        rebroadcast_small,
    )

    df = spark.range(8).select(
        F.col("id"),
        F.array(
            (F.col("id") / F.lit(3.0)),
            F.lit(math.pi),
            (F.lit(1.0) / (F.col("id") + F.lit(7.0))),
        ).alias("v"),
    )
    back = rebroadcast_small(df)
    assert back.schema == df.schema
    orig = sorted((r.id, tuple(r.v)) for r in df.collect())
    got = sorted((r.id, tuple(r.v)) for r in back.collect())
    assert got == orig  # exact ==, no tolerance: IEEE binary64 round-trip
    # zero-lineage: the rebuilt plan is a bare local-table scan with no
    # trace of the original source lineage
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "Range" not in plan and "Project" not in plan

    with pytest.raises(ValueError, match="exceeds"):
        rebroadcast_small(spark.range(100), max_rows=16)


def test_rebroadcast_small_runs_no_python_task(spark):
    """The rebuilt frame comes from Arrow decoded by the JVM: its RDD
    lineage names no ``PythonRDD`` (a Row-list ``createDataFrame`` runs a
    Python map per partition), and signed zeros, NaN and NULL array
    elements and NULL cells come back exactly."""
    import math

    from pyspark.sql import functions as F

    from flink_kafka_consumer_cassandra_output_spark.materialize import (
        rebroadcast_small,
    )

    df = spark.range(4).select(
        F.col("id"),
        F.when(F.col("id") == 2, F.lit(None)).otherwise(F.col("id") * 3).alias("n"),
        F.array(
            F.lit(-0.0),
            F.lit(float("nan")),
            F.lit(None).cast("double"),
            F.col("id") / F.lit(7.0),
        ).alias("v"),
    )
    back = rebroadcast_small(df)
    lineage = back._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    assert back.schema == df.schema

    def cells(frame):
        return sorted(
            (
                r.id,
                r.n,
                [
                    None if x is None else ("nan" if math.isnan(x) else (x, math.copysign(1.0, x)))
                    for x in r.v
                ],
            )
            for r in frame.collect()
        )

    got = cells(back)
    assert got == cells(df)
    assert got[0] == (0, 0, [(0.0, -1.0), "nan", None, (0.0, 1.0)])
    assert got[2][1] is None


def test_session_memo_nested_builds_bill_self_time_only():
    """SESSION_MEMO_BUILD_SECONDS must record SELF time per tag: a parent
    memo build that triggers a nested child build (dedup_cc_labels builds
    on the memoized jaccard pair table) must not double-bill the child's
    seconds in bench.py's shared_stage_seconds sum."""
    import time

    import flink_kafka_consumer_cassandra_output_spark.materialize as M

    class _SC:
        applicationId = "memo-test-app"

    class _Spark:
        sparkContext = _SC()

    sp = _Spark()
    orig_mat = M.materialize
    M.materialize = lambda df: df  # identity: no Spark needed
    before = dict(M.SESSION_MEMO_BUILD_SECONDS)
    try:
        def child():
            time.sleep(0.1)
            return "c"

        def parent():
            M.session_memo(sp, "t_child", child)
            time.sleep(0.05)
            return "p"

        M.session_memo(sp, "t_parent", parent)
        d = M.SESSION_MEMO_BUILD_SECONDS
        assert 0.08 < d["t_child"] < 0.3
        # parent self-time excludes the child's 0.1s sleep
        assert d["t_parent"] < 0.09
    finally:
        M.materialize = orig_mat
        M.SESSION_MEMO_BUILD_SECONDS.clear()
        M.SESSION_MEMO_BUILD_SECONDS.update(before)


def test_materialize_many_positional_and_mode_equivalence(spark, sf_dir, tmp_path, monkeypatch):
    """materialize_many must (a) return frames positionally aligned with
    its input, (b) produce the same rows as serial materialize in both
    the localCheckpoint and staging modes, (c) run its inputs eagerly in
    both modes, so an Observation attached to an input is readable as
    soon as it returns (doc_bigram_pmi's contract; a lazy mode fails here
    within a bounded wait instead of hanging), and (d) stay a lazy no-op
    in schema-only mode (no jobs, plan untouched)."""
    import threading

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from flink_kafka_consumer_cassandra_output_spark.materialize import (
        STAGING_ENV,
        materialize_many,
    )
    from flink_kafka_consumer_cassandra_output_spark.sources import tables

    o = tables.load(spark, sf_dir, "orders")
    a = o.groupBy("o_orderstatus").count()
    b = o.selectExpr("max(o_totalprice) as mx")
    want_a = {(r[0], r[1]) for r in a.collect()}
    want_b = b.collect()[0][0]

    def observed_total(obs):
        got = {}
        reader = threading.Thread(target=lambda: got.update(obs.get), daemon=True)
        reader.start()
        reader.join(30)
        assert not reader.is_alive(), (
            "Observation.get still blocked 30 s after materialize_many "
            "returned: the materialization did not run its input"
        )
        return got["n"]

    for staging in (None, str(tmp_path / "stage")):
        if staging:
            monkeypatch.setenv(STAGING_ENV, staging)
        obs = Observation()
        got_a, got_b = materialize_many(
            [a.observe(obs, F.sum("count").alias("n")), b]
        )
        assert observed_total(obs) == sum(n for _, n in want_a)
        assert {(r[0], r[1]) for r in got_a.collect()} == want_a
        assert got_b.collect()[0][0] == want_b
    monkeypatch.delenv(STAGING_ENV)

    monkeypatch.setenv("SPARK_GRAFT_SCHEMA_ONLY", "1")
    lazy_a, lazy_b = materialize_many([a, b])
    # schema-only returns the SAME lazy frames untouched
    assert lazy_a is a and lazy_b is b
    monkeypatch.delenv("SPARK_GRAFT_SCHEMA_ONLY")
