"""Skip-budget lint (VERDICT r16 task 8): the suite's recorded
environment skips have been stable at EXACTLY TWO for 10+ rounds -- the
no-Kafka-jar skip (tests/test_kafka_config.py) and the no-Avro-jar skip
(tests/test_reference_paths.py), and every skip site in the suite belongs
to one of them.  A silently added third skip would hide a test that
stopped running; this lint pins every skip SITE in the suite, so any new
``pytest.skip`` / ``skipif`` / ``mark.skip`` must be registered here
deliberately (with a reason) or the lint fails."""

from __future__ import annotations

import re
from pathlib import Path

TESTS = Path(__file__).resolve().parent

#: every allowed skip site: file -> number of skip expressions in it.
#: - test_kafka_config.py: 1 runtime skip (kafka connector jar absent in
#:   this container) -- FIRES, one of the two recorded skips.
#: - test_reference_paths.py: 2 sites in one test (import probe, then
#:   runtime jar probe) -- at most one fires per run, the second
#:   recorded skip.
ALLOWED_SKIP_SITES = {
    "test_kafka_config.py": 1,
    "test_reference_paths.py": 2,
}

_SKIP_RE = re.compile(r"pytest\.skip\(|pytest\.mark\.skip|skipif")


def test_skip_sites_are_exactly_the_recorded_ones():
    found: dict[str, int] = {}
    for path in sorted(TESTS.glob("*.py")):
        if path.name == Path(__file__).name:
            continue
        n = len(_SKIP_RE.findall(path.read_text()))
        if n:
            found[path.name] = n
    assert found == ALLOWED_SKIP_SITES, (
        "skip sites changed -- if a new environment skip is genuinely "
        f"needed, register it in ALLOWED_SKIP_SITES with a reason: {found}"
    )

