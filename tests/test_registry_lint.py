"""Registry-wide lint: the driver-contract invariants the registry claims.

Three hazards observed in earlier rounds are pinned here:

1. The driver's correctness sweep is budget-capped at DRIVER_SWEEP_CAP
   entries (round 3 stopped at exactly the first 50 of 62, leaving the
   tail unchecked), so the driver-facing surface must never exceed it.
2. Every ``driver=False`` (local-only) query must name a driver-checked
   sibling that proves the same operator, and that sibling must exist and
   be driver-facing — otherwise demoting a query silently removes operator
   coverage from the driver's gate.
3. The driver's result canonicalizer hashes cell VALUES and dies on
   non-scalar cells ('unhashable type: list' — round 3's
   approx_quantiles_price array<double> column), so no registered query
   may output array/map/struct/binary-nested columns.  Checked on the
   built schema registry-wide, with SPARK_GRAFT_SCHEMA_ONLY set so the
   builders that otherwise materialize at build time (localCheckpoint
   intermediates, the iterative connected-components loop) return lazy
   schema-identical plans — the sweep stays plan-only for real.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from flink_kafka_consumer_cassandra_output_spark.config import SCHEMA_ONLY_ENV
from flink_kafka_consumer_cassandra_output_spark.plans import all_specs, driver_specs
from flink_kafka_consumer_cassandra_output_spark.plans.registry import (
    DRIVER_SWEEP_CAP,
    register,
)

from .conftest import SF_DIR

#: Column types whose cells surface as unhashable/non-scalar Python values
#: in ``toPandas()`` — exactly what the driver's canonicalizer rejects.
_NON_SCALAR = (T.ArrayType, T.MapType, T.StructType)


def assert_scalar_schema(schema: T.StructType, name: str) -> None:
    bad = [f.name for f in schema.fields if isinstance(f.dataType, _NON_SCALAR)]
    assert not bad, (
        f"{name}: non-scalar output columns {bad} ({schema.simpleString()}) — "
        "the driver's canonicalizer crashes on list/dict cells "
        "('unhashable type'); project to scalar columns (element_at, "
        "struct-field access) before registering"
    )


def test_driver_surface_within_sweep_cap():
    n = len(driver_specs())
    assert n <= DRIVER_SWEEP_CAP, (
        f"{n} driver-facing queries > DRIVER_SWEEP_CAP={DRIVER_SWEEP_CAP}: the "
        "driver sweep truncates at the cap and silently drops the tail — "
        "demote redundant entries with driver=False + sibling="
    )


def test_every_local_only_query_names_a_driver_checked_sibling():
    specs = all_specs()
    drivers = {n for n, s in specs.items() if s.driver}
    for name, spec in specs.items():
        if spec.driver:
            assert spec.sibling is None, f"{name}: driver=True must not set sibling"
            continue
        assert spec.sibling in drivers, (
            f"{name}: driver=False sibling {spec.sibling!r} is not a "
            "driver-checked query — local-only entries must map to a live "
            "driver=True twin"
        )


def test_coverage_local_only_notes_match_registry():
    """Every ```name` *(... local-only -> `X` ...)*`` note in COVERAGE.md
    names a ``driver=False`` query whose registry ``sibling`` is ``X``:
    the notes restate the registry, so a re-pointed sibling or a promoted
    query must update its note in the same change."""
    import re
    from pathlib import Path

    text = (Path(__file__).resolve().parents[1] / "COVERAGE.md").read_text()
    specs = all_specs()
    notes = [
        (name, m.group(1))
        for name, inner in re.findall(r"`(\w+)` \*\((.*?)\)\*", text)
        for m in re.finditer(r"local-only(?: r\d+)? -> `(\w+)`", inner)
    ]
    assert notes, "no local-only notes found; the lint is vacuous"
    bad = [
        (name, sib) for name, sib in notes
        if name not in specs or specs[name].driver or specs[name].sibling != sib
    ]
    assert not bad, f"COVERAGE.md notes contradicting the registry: {bad}"


def test_never_driver_checked_entries_hold_a_driver_slot():
    """Freshness-era rule (r13): the never-driver-checked backlog drained
    to 0 and must STAY empty — any entry that has never appeared in a
    CORRECTNESS_r*.json sweep must be driver=True so its first round faces
    the external oracle.  New registrations therefore take a driver slot
    immediately, and may go local-only only after their first green sweep
    lands."""
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    checked: set[str] = set()
    for r in range(1, 100):
        path = os.path.join(root, f"CORRECTNESS_r{r:02d}.json")
        if os.path.exists(path):
            checked |= set(json.load(open(path)))
    assert checked, "no CORRECTNESS files found; lint cannot run"
    never = [n for n, s in all_specs().items() if n not in checked and not s.driver]
    assert not never, (
        f"never-driver-checked entries without a driver slot: {never} — "
        "new registrations must be driver=True in their first round"
    )


def test_driver_queries_carry_oracles_except_documented_aes():
    """A driver slot spent on an oracle=None entry buys only a rows-only
    check, so promotions must not silently downgrade the gate: every
    driver-facing query carries DuckDB oracle SQL, with the one documented
    exception (msg_detail_encrypted: AES not expressible in DuckDB; its
    ciphertext is pinned row-for-row by the decrypt-verified twin and the
    r14 plan promotes it knowingly)."""
    allowed_rows_only = {"msg_detail_encrypted"}
    bad = [
        n for n, s in all_specs().items()
        if s.driver and s.oracle is None and n not in allowed_rows_only
    ]
    assert not bad, (
        f"driver-facing queries without an oracle: {bad} — add the DuckDB "
        "SQL or document the exception here with its compensating gate"
    )


def test_named_tool_paths_exist():
    """Every ``tools/<name>.py|md`` path that the code, tests, bench,
    benchmark, README or skill notes name must exist, so retiring a tool
    cannot leave a comment or doc pointing at nothing.  History records
    (COVERAGE.md's round sections, OPTIMIZATION_r*.md, VERDICT.md,
    BENCH_TREND*.md, ROADMAP.md) describe what ran and stay out of scope."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    scope = [
        root / "flink_kafka_consumer_cassandra_output_spark",
        root / "tests",
        root / "bench.py",
        root / "perfbench",
        root / "__spark_entry__.py",
        root / "README.md",
        root / ".claude",
    ]
    files = [
        f
        for p in scope
        for f in ([p] if p.is_file() else sorted(p.rglob("*")))
        if f.is_file() and "__pycache__" not in f.parts
    ]
    named = {
        (m.group(0), f.relative_to(root).as_posix())
        for f in files
        for m in re.finditer(
            r"tools/[A-Za-z0-9_]+\.(?:py|md)\b", f.read_text(errors="ignore")
        )
    }
    assert named, "no tool path found in scope; the lint is vacuous"
    missing = sorted((p, src) for p, src in named if not (root / p).is_file())
    assert not missing, f"named tool paths that do not exist: {missing}"


def test_register_rejects_local_only_without_sibling():
    with pytest.raises(ValueError, match="sibling"):
        register("zz_lint_fixture_no_sibling", driver=False)(lambda spark, sf: None)
    with pytest.raises(ValueError, match="sibling"):
        register("zz_lint_fixture_spurious_sibling", sibling="q1_pricing_summary")(
            lambda spark, sf: None
        )


@pytest.mark.parametrize("name", sorted(all_specs()))
def test_no_non_scalar_output_columns_anywhere(spark, name, monkeypatch):
    """Registry-wide scalar-output ban (schema built, never executed:
    SPARK_GRAFT_SCHEMA_ONLY makes the eager builders lazy)."""
    monkeypatch.setenv(SCHEMA_ONLY_ENV, "1")
    df = all_specs()[name].builder(spark, SF_DIR)
    assert_scalar_schema(df.schema, name)


def test_schema_only_flag_yields_same_schema_for_eager_builders(spark):
    """The schema-only fast path must be schema-IDENTICAL to the real
    build, else the lint checks a fiction.  Pinned on the two builder
    families that honor the flag (checkpoint intermediates + iterative
    CC)."""
    import os

    for name in ("doc_dedup_clusters", "doc_curation_funnel"):
        spec = all_specs()[name]
        os.environ[SCHEMA_ONLY_ENV] = "1"
        try:
            lazy_schema = spec.builder(spark, SF_DIR).schema
        finally:
            os.environ.pop(SCHEMA_ONLY_ENV, None)
        real_schema = spec.builder(spark, SF_DIR).schema
        assert lazy_schema == real_schema, name


def test_scalar_ban_catches_array_typed_output(spark):
    """The lint must actually fire: a deliberately array-typed projection
    (round 3's crash shape) fails assert_scalar_schema."""
    df = spark.sql("SELECT array(1.0, 2.0) AS q, 1 AS n")
    with pytest.raises(AssertionError, match="non-scalar"):
        assert_scalar_schema(df.schema, "lint_fixture_array")
    mp = spark.sql("SELECT map('a', 1) AS m")
    with pytest.raises(AssertionError, match="non-scalar"):
        assert_scalar_schema(mp.schema, "lint_fixture_map")
