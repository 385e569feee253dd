"""Correctness checks of the program's answers against ``inputs.Expected``.

A response is first reduced to a small digest (cheap, so a client can
keep one per request); the checks compare digests with the expected
answers after the timed window. Every check returns a list of error
strings, empty when the answer is right.
"""

from __future__ import annotations

import math
from collections import Counter

from inputs import Expected

REL_TOL = 1e-9  # double sums of whole cents against exact Decimal sums


def _close(got: float, want) -> bool:
    return math.isclose(got, float(want), rel_tol=REL_TOL, abs_tol=1e-6)


def report_digest(pdf) -> list[tuple[str, int, float]]:
    """Budget report rows in the order served."""
    return list(
        zip(
            pdf["job_title"].tolist(),
            (int(v) for v in pdf["total_employee"]),
            (float(v) for v in pdf["total_budget"]),
        )
    )


def export_digest(pdf) -> dict:
    titles = pdf["job_title"]
    return {
        "rows": len(pdf),
        "title_sorted": bool(titles.is_monotonic_increasing),
        "total": math.fsum(pdf["total_amount"].tolist()),
        "headcount": Counter(titles.tolist()),
    }


def sql_digest(rows) -> dict[str, tuple[int, float]]:
    return {r["job_title"]: (int(r["n"]), float(r["s"])) for r in rows}


def check_report(rows: list[tuple[str, int, float]], exp: Expected) -> list[str]:
    errors = []
    got = {t: (n, b) for t, n, b in rows}
    if len(got) != len(rows):
        errors.append("report repeats a job_title")
    if set(got) != set(exp.headcount):
        errors.append(
            f"report titles differ: {len(got)} served, {len(exp.headcount)} expected"
        )
    for title, (n, budget) in got.items():
        if title not in exp.headcount:
            continue
        if n != exp.headcount[title]:
            errors.append(f"headcount {title!r}: {n} != {exp.headcount[title]}")
        if not _close(budget, exp.totals[title]):
            errors.append(f"total_budget {title!r}: {budget} != {exp.totals[title]}")
    budgets = [b for _, _, b in rows]
    if any(a < b for a, b in zip(budgets, budgets[1:])):
        errors.append("report not ordered by total_budget descending")
    if sum(n for _, n, _ in rows) != exp.rows:
        errors.append(f"sum total_employee != {exp.rows} rows uploaded")
    if not _close(math.fsum(budgets), exp.total):
        errors.append(f"sum total_budget {math.fsum(budgets)} != {exp.total}")
    return errors


def check_export(d: dict, exp: Expected) -> list[str]:
    errors = []
    if d["rows"] != exp.rows:
        errors.append(f"export has {d['rows']} rows, {exp.rows} uploaded")
    if not d["title_sorted"]:
        errors.append("export job_title not non-decreasing")
    if d["headcount"] != exp.headcount:
        errors.append("export rows per job_title differ from the upload")
    if not _close(d["total"], exp.total):
        errors.append(f"export sum total_amount {d['total']} != {exp.total}")
    return errors


def check_sql(got: dict[str, tuple[int, float]], exp: Expected) -> list[str]:
    errors = []
    if set(got) != set(exp.sql):
        errors.append(f"sql groups differ: {len(got)} != {len(exp.sql)}")
    for title, (n, s) in got.items():
        want = exp.sql.get(title)
        if want is None:
            continue
        if n != want[0] or not _close(s, want[1]):
            errors.append(f"sql {title!r}: ({n}, {s}) != {want}")
    return errors


def check_listing(listed: list[str], expected: set[str]) -> list[str]:
    if set(listed) != expected or len(listed) != len(expected):
        return [f"list_files {sorted(listed)} != {sorted(expected)}"]
    return []


CHECKS = {
    "report": check_report,
    "export": check_export,
    "sql": check_sql,
    "list": check_listing,
}
