"""Every suite query must execute at sf0.001 (tiny data): guards the
degenerate regimes — documents shorter than a shingle, empty LSH
buckets, single-row groups — that only show up below oracle scale."""

import pytest

from tests.conftest import SF_SMOKE


def _suite():
    from city_payroll_data_pipeline_spark.suite import build_suite

    return build_suite()


@pytest.mark.parametrize("name", sorted(_suite().keys()))
def test_query_runs_at_tiny_scale(name, spark):
    df = _suite()[name].spark(spark, SF_SMOKE)
    assert len(df.columns) > 0
    assert df.count() >= 0


def test_bench_emits_one_json_line():
    """The driver parses bench.py's LAST stdout line as JSON with
    metric/value/unit/queries/sf — a format break would void the
    round's BENCH record. The last line is the SHORT summary (parity
    core + 10 slowest; it must stay well under the driver's ~2000-char
    stdout tail buffer — round 3's full-width line got truncated and
    recorded parsed=null); the full per-query map lives in
    BENCH_DETAIL.json next to bench.py."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_SMOKE)
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        # 297 headline queries ≈ 370 s solo at sf0.001; the old 600 s
        # bound had no headroom when the parent pytest's own Spark JVM
        # is co-resident (measured flake at round 9's suite size)
        capture_output=True, text=True, env=env, timeout=1200, check=True,
    ).stdout.strip().splitlines()
    line = out[-1]
    assert len(line) < 1800, f"summary line too long for driver tail: {len(line)}"
    payload = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in payload, payload
    assert payload["unit"] == "sec" and payload["value"] > 0
    assert payload["n_errors"] == 0, payload
    # short line: parity core + 10 slowest; full map goes to the file
    assert 4 <= len(payload["queries"]) <= 20
    assert payload["n_queries"] >= 150
    with open(os.path.join(repo, "BENCH_DETAIL.json")) as fh:
        detail = json.load(fh)
    assert len(detail["queries"]) == payload["n_queries"]
    assert not detail.get("errors"), detail.get("errors")


def test_bench_solo_profiles_each_run(tmp_path):
    """`bench.py --solo` reports, per query, the job count of every run
    (warmup first) and the floor run's stage breakdown, read from a
    Spark event log that it deletes afterwards."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_SMOKE, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py"), "--solo",
         "budget_report"],
        capture_output=True, text=True, env=env, timeout=300, check=True,
    ).stdout.strip().splitlines()
    r = json.loads(out[-1])["results"]["budget_report"]
    assert len(r["jobs"]) == 5, r["jobs"]
    assert len(set(r["jobs"][1:])) == 1, r["jobs"]
    assert r["floor"] == min(r["runs"])
    assert r["stages"] >= len(r["top_stages"]) > 0
    assert sum(s["tasks"] for s in r["top_stages"]) <= r["tasks"]
    assert not list(tmp_path.glob("bench-eventlog-*"))
