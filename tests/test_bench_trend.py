"""tools/bench_trend.py: the counter gate over two ``bench.py`` lines.

The gate fails only on a job or stage count that rose; wall time is
reported, never gated on alone.  Most tests run the tool on synthetic
lines (no Spark); the last one runs ``bench.py`` itself on two queries and
checks the line it prints is one the gate reads.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
TOOL = ROOT / "tools" / "bench_trend.py"


def _line(queries=None, counters=None, **meta) -> dict:
    queries = queries or {"q_a": 0.5, "q_b": 1.0}
    line = {
        "metric": "total_query_seconds",
        "value": sum(queries.values()),
        "unit": "sec",
        "queries": queries,
        "counters": counters or {"q_a": [2, 3], "q_b": [4, 6]},
        "sf": 0.1,
        "cpus": 4,
        "repeats": 3,
    }
    line.update(meta)
    return line


def _gate(tmp_path, base: dict, cur: dict) -> subprocess.CompletedProcess:
    paths = []
    for name, line in (("base.json", base), ("cur.json", cur)):
        p = tmp_path / name
        p.write_text(json.dumps(line))
        paths.append(str(p))
    return subprocess.run(
        [sys.executable, str(TOOL), *paths], capture_output=True, text=True, timeout=60
    )


def test_identical_lines_pass(tmp_path):
    r = _gate(tmp_path, _line(), _line())
    assert r.returncode == 0, r.stdout + r.stderr
    assert "ROSE" not in r.stdout and "slower" not in r.stdout
    # a counter fall is not a failure
    r = _gate(tmp_path, _line(), _line(counters={"q_a": [2, 3], "q_b": [3, 6]}))
    assert r.returncode == 0 and "ROSE" not in r.stdout


def test_counter_rise_fails_and_names_both_counts(tmp_path):
    cur = _line(counters={"q_a": [2, 3], "q_b": [6, 10]})
    r = _gate(tmp_path, _line(), cur)
    assert r.returncode == 1
    assert "q_b: [4, 6] -> [6, 10]" in r.stdout
    assert "q_a" not in r.stdout
    # a stage-only rise fails too
    r = _gate(tmp_path, _line(), _line(counters={"q_a": [2, 4], "q_b": [4, 6]}))
    assert r.returncode == 1 and "q_a: [2, 3] -> [2, 4]" in r.stdout


def test_wall_slowdown_with_equal_counters_passes_and_is_listed(tmp_path):
    cur = _line(queries={"q_a": 1.0, "q_b": 1.0})
    r = _gate(tmp_path, _line(), cur)
    assert r.returncode == 0, r.stdout + r.stderr
    assert "slower, counters unchanged: re-time in one window (1):" in r.stdout
    assert "q_a: 0.500s -> 1.000s" in r.stdout


def test_sub_floor_slowdown_not_listed(tmp_path):
    base = _line(queries={"q_a": 0.1, "q_b": 1.0})
    cur = _line(queries={"q_a": 0.2, "q_b": 1.0})
    r = _gate(tmp_path, base, cur)
    assert r.returncode == 0 and "slower" not in r.stdout


def test_added_and_removed_reported(tmp_path):
    cur = _line(queries={"q_a": 0.5, "q_c": 0.4}, counters={"q_a": [2, 3], "q_c": [1, 1]})
    r = _gate(tmp_path, _line(), cur)
    assert r.returncode == 0
    assert "added (1):\n  q_c" in r.stdout
    assert "removed (1):\n  q_b" in r.stdout


def test_peak_rss_printed_for_both_sides_never_gated(tmp_path):
    r = _gate(tmp_path, _line(peak_rss_mb=1540.2), _line(peak_rss_mb=2630.5))
    assert r.returncode == 0, r.stdout + r.stderr
    assert "peak_rss_mb: BASE 1540.2 -> CUR 2630.5" in r.stdout
    # lines older than the field are still compared
    r = _gate(tmp_path, _line(), _line(peak_rss_mb=1540.2))
    assert r.returncode == 0, r.stdout + r.stderr
    assert "peak_rss_mb: BASE - -> CUR 1540.2" in r.stdout


def test_incomparable_lines_refused(tmp_path):
    no_counters = _line()
    del no_counters["counters"]
    cases = {
        "no per-query counters": (no_counters, _line()),
        "cpus differs": (_line(), _line(cpus=8)),
        "sf differs": (_line(sf=0.01), _line()),
        "repeats=1": (_line(), _line(repeats=1)),
    }
    for why, (base, cur) in cases.items():
        r = _gate(tmp_path, base, cur)
        assert r.returncode == 2, (why, r.stdout, r.stderr)
        assert why in r.stderr


def test_bench_line_carries_counters_for_every_query(tmp_path, sf_dir):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_BENCH_QUERIES="q6_forecast_revenue,ev_hourly_gapfill",
        SPARK_GRAFT_BENCH_REPEATS="2",
    )
    r = subprocess.run(
        [sys.executable, str(ROOT / "bench.py")],
        capture_output=True, text=True, timeout=600, env=env, cwd=tmp_path,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = r.stdout.strip().splitlines()
    assert len(lines) == 1, r.stdout
    out = json.loads(lines[0])
    assert sorted(out["counters"]) == ["ev_hourly_gapfill", "q6_forecast_revenue"]
    for jobs, stages in out["counters"].values():
        assert jobs >= 1 and stages >= jobs
    assert out["repeats"] == 2 and out["n_queries"] == out["n_registered"] == 2
    assert not {"control", "controls", "load_gate"} & out.keys()
    assert out["peak_rss_mb"] > 0
    # the line gates cleanly against itself
    r = _gate(tmp_path, out, out)
    assert r.returncode == 0, r.stdout + r.stderr
