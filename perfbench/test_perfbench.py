"""Tests of the benchmark itself: seeded inputs, the correctness
checks, the trace wrappers and the failure without the program.

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import csv
import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import suite_mix  # noqa: E402


def _read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a, b, c = (inputs.make_pools(s, 500) for s in (7, 7, 8))
    for pa, pb, pc in zip(a, b, c):
        assert pa.lines == pb.lines and pa.amounts == pb.amounts
        assert pa.lines != pc.lines
        ea = pa.upload(str(tmp_path / "a.csv"), 300)
        eb = pb.upload(str(tmp_path / "b.csv"), 300)
        assert _read(tmp_path / "a.csv") == _read(tmp_path / "b.csv")
        assert (ea.headcount, ea.totals, ea.sql) == (eb.headcount, eb.totals, eb.sql)


def test_uploads_are_distinct_rows(tmp_path):
    pool = inputs.make_pools(3, 400)[0]
    pool.upload(str(tmp_path / "x.csv"), 400)
    lines = _read(tmp_path / "x.csv").splitlines()[1:]
    assert len(set(lines)) == 400


@pytest.fixture(params=[0, 1, 2], ids=["corporate", "education", "hospital"])
def upload(request, tmp_path):
    """One upload's expected answers and a correct answer frame built
    from the CSV rows, as the program would serve them."""
    pool = inputs.make_pools(5, 2000)[request.param]
    path = tmp_path / f"{pool.industry}.csv"
    exp = pool.upload(str(path), 1500)
    with open(path, encoding="utf-8", newline="") as f:
        rows = list(csv.reader(f))[1:]
    title_col = inputs.HEADERS[pool.industry].index(
        {"corporate": "Job Class Title", "education": "primary_job",
         "hospital": "DRG Definition"}[pool.industry]
    )
    fct = pd.DataFrame({
        "job_title": [r[title_col] for r in rows],
        "total_amount": [float(inputs.total_amount(pool.industry, r)) for r in rows],
    })
    return exp, fct


def _report(fct):
    rep = (
        fct.groupby("job_title")
        .agg(total_employee=("total_amount", "size"), total_budget=("total_amount", "sum"))
        .reset_index()
        .sort_values("total_budget", ascending=False)
    )
    return rep.reset_index(drop=True)


def test_report_check_fails_on_mutations(upload):
    exp, fct = upload
    rep = _report(fct)
    assert checks.check_report(checks.report_digest(rep), exp) == []
    off = rep.copy()
    off.loc[3, "total_budget"] *= 1.01
    dropped = rep.drop(index=len(rep) - 1)
    swapped = rep.iloc[[1, 0] + list(range(2, len(rep)))]
    for bad in (off, dropped, swapped):
        assert checks.check_report(checks.report_digest(bad), exp)


def test_export_check_fails_on_mutations(upload):
    exp, fct = upload
    exp_df = fct.sort_values("job_title", kind="stable").reset_index(drop=True)
    assert checks.check_export(checks.export_digest(exp_df), exp) == []
    off = exp_df.copy()
    off.loc[10, "total_amount"] *= 1.01
    dropped = exp_df.drop(index=5)
    swapped = exp_df.iloc[::-1]
    for bad in (off, dropped, swapped):
        assert checks.check_export(checks.export_digest(bad), exp)


def test_sql_and_listing_checks_fail_on_mutations(upload):
    exp, fct = upload
    hit = fct[fct["total_amount"] > float(inputs.SQL_THRESHOLD)]
    rows = [
        {"job_title": t, "n": len(g), "s": g["total_amount"].sum()}
        for t, g in hit.groupby("job_title")
    ]
    assert checks.check_sql(checks.sql_digest(rows), exp) == []
    wrong = [dict(r) for r in rows]
    wrong[0]["n"] += 1
    assert checks.check_sql(checks.sql_digest(wrong), exp)
    assert checks.check_sql(checks.sql_digest(rows[1:]), exp)
    assert checks.check_listing(["a", "b"], {"a", "b"}) == []
    assert checks.check_listing(["a"], {"a", "b"})


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        n: run.per_layer_unit(n) for n in spans.PER_LAYER
    }


@pytest.fixture(scope="module")
def oracles():
    from city_payroll_data_pipeline_spark.suite import build_suite

    return suite_mix.oracle_frames(build_suite())


def test_suite_list_covers_every_module():
    assert sorted(suite_mix.QUERIES.values()) == sorted(spans.SUITE_MODULES)


def test_oracle_check_fails_on_mutations(oracles):
    """The oracle answers checked against themselves pass; a changed
    value, a dropped row or a missing output fails."""
    assert suite_mix.oracle_errors(dict(oracles), oracles) == []
    for name, want in oracles.items():
        numeric = [c for c in want.columns
                   if pd.api.types.is_numeric_dtype(want[c])
                   and not pd.api.types.is_bool_dtype(want[c])]
        off = want.copy()
        off.loc[0, numeric[0]] = off.loc[0, numeric[0]] + 1
        bad = {**oracles, name: off}
        assert suite_mix.oracle_errors(bad, oracles), f"{name}: changed value"
        bad[name] = want.iloc[1:] if len(want) > 1 else want.iloc[:0]
        assert suite_mix.oracle_errors(bad, oracles), f"{name}: dropped row"
    missing = dict(oracles)
    missing.pop("budget_report")
    assert suite_mix.oracle_errors(missing, oracles)


def test_self_time_subtracts_covered_child_time():
    t = spans.Tracer()
    t.spans = [
        {"id": 0, "name": "a", "start": 0.0, "end": 10.0, "parent": None, "op": None},
        {"id": 1, "name": "b", "start": 1.0, "end": 4.0, "parent": 0, "op": None},
        {"id": 2, "name": "c", "start": 3.0, "end": 5.0, "parent": 0, "op": None},
        {"id": 3, "name": "d", "start": 9.0, "end": 12.0, "parent": 0, "op": None},
    ]
    assert t.self_times() == {0: 10.0 - 4.0 - 1.0, 1: 3.0, 2: 2.0, 3: 3.0}


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_fails_cleanly_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(tmp_path, "--workload", "tenant_upload", "--seed", "1",
             "--seconds", "1", timeout=120)
    assert p.returncode != 0
    assert "{" not in p.stdout
    assert not (tmp_path / "perfbench" / "out").exists()


TENANT_WRAPPERS = set(spans.SPAN_TIMES.values()) - {"engine.sql_exec"} | {
    "engine.budget_report", "engine.full_export", "engine.list_files",
    "service.do_get", "service.do_action",
}
SUITE_WRAPPERS = {f"operators.{f}" for f in spans.OPERATOR_FAMILIES}


@pytest.mark.parametrize("workload,seed,names", [
    ("tenant_upload", 3, TENANT_WRAPPERS),
    ("suite_mix", 3, SUITE_WRAPPERS | {"session.get_spark"}),
])
def test_every_wrapper_fires_in_a_short_traced_run(workload, seed, names):
    p = _run(ROOT, "--workload", workload, "--seed", str(seed),
             "--seconds", "1", "--trace", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(spans.PER_LAYER)
    with open(os.path.join(HERE, "out", f"trace_{workload}_seed{seed}.json"),
              encoding="utf-8") as f:
        trace = json.load(f)
    assert set(trace["wrapped"]) == TENANT_WRAPPERS | SUITE_WRAPPERS
    fired = Counter(s["name"] for s in trace["spans"])
    assert all(fired[name] > 0 for name in names)
    if workload == "suite_mix":
        for m in spans.SUITE_MODULES:
            assert result["metrics"][f"suite.{m}.exec_s"]["value"] > 0
            assert result["metrics"][f"suite.{m}.jobs"]["value"] > 0
