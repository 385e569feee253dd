"""Golden-pipeline parity against the reference's model SQL VERBATIM.

The reference's staging+fact SQL (``/root/reference/models/*/``) is
loaded as-is, stripped of its MODEL() header, stitched into one DuckDB
query (stg as a CTE), ``@client_raw_path`` substituted, and
CURRENT_TIMESTAMP frozen. The same CSV goes through ``plans/*.py`` in
Spark with the same frozen timestamp; the fact frames must match
exactly. This pins the Spark plans byte-faithful to the reference as
the suite grows — any semantic drift in plans/*.py breaks this test
against the reference's OWN words, not our re-statement of them.

Fixtures: ~2000 seeded-random rows per industry with the FIXTURES.md
edge cases embedded — overtime exactly 0.25·base, experience exactly
15, zero base pay, empty money/fte/experience/salary fields, FT/PT
mixes. Malformed money ('bogus') is deliberately absent HERE: the
reference's plain CAST aborts the whole DuckDB query on it, so our
try_cast robustness is asserted separately (tests/test_pipelines.py).

Education salaries are multiples of 1000 with experience ≤ 30 so
ROUND(salary/exp, 2) can never land on an exact binary tie (a
dyadic x.xx5 needs the quotient's fractional part to be an odd
multiple of 1/8 — impossible for 1000k/e with e ≤ 30 except exact
halves, which round(·, 2) leaves untouched).
"""

from __future__ import annotations

import csv
import glob
import random
import re

import pytest

from tests.oracle_utils import assert_frames_match

REF_MODELS = "/root/reference/models"
FROZEN_SPARK = "2024-06-01T12:00:00"
FROZEN_SQL = "TIMESTAMP '2024-06-01 12:00:00'"


def _reference_query(industry: str, csv_path: str) -> str:
    """Stitch the reference's stg+fct SQL into one DuckDB query."""

    def load(prefix: str) -> str:
        # the education fact file is misnamed fct_corporate.sql in the
        # reference tree — match on the prefix, not the full name
        pattern = f"{REF_MODELS}/{industry}/{prefix}_*.sql"
        paths = glob.glob(pattern)
        assert len(paths) == 1, (
            f"reference model tree REF_MODELS={REF_MODELS!r} missing or "
            f"incomplete: glob {pattern!r} matched {paths}"
        )
        (path,) = paths
        txt = open(path).read()
        txt = re.sub(r"MODEL\s*\(.*?\);", "", txt, flags=re.S)
        txt = txt.replace("@client_raw_path", f"'{csv_path}'")
        txt = txt.replace("CURRENT_TIMESTAMP", FROZEN_SQL)
        return txt.strip().rstrip(";")

    stg, fct = load("stg"), load("fct")
    fct = re.sub(rf"FROM\s+{industry}\.stg_{industry}", "FROM stg", fct)
    return f"WITH stg AS ({stg}) {fct}"


def _compare(spark, industry: str, csv_path: str, spark_fct):
    import duckdb

    # The query text comes VERBATIM from the untrusted reference tree:
    # run it on a locked-down connection so a hostile SQL file cannot
    # COPY to/from the filesystem or INSTALL/LOAD extensions (ADVICE
    # r4). external access must stay on long enough to read the
    # fixture CSV, so instead gate on statement shape: exactly one
    # statement, and it is a SELECT.
    stmts = duckdb.extract_statements(_reference_query(industry, csv_path))
    assert len(stmts) == 1, "reference SQL must be a single statement"
    assert stmts[0].type == duckdb.StatementType.SELECT, stmts[0].type
    con = duckdb.connect()
    con.execute("SET lock_configuration = true")
    oracle = con.execute(stmts[0].query).df()
    con.close()
    assert_frames_match(
        spark_fct.toPandas(), oracle, f"reference-sql:{industry}"
    )
    assert len(oracle) > 1500  # the fixture actually exercised scale


def _money(rng: random.Random) -> str:
    return f"${rng.randrange(0, 200_000_00) / 100:,.2f}"


def test_corporate_matches_reference_sql(spark, tmp_path):
    from city_payroll_data_pipeline_spark.plans.corporate import (
        fct_corporate,
        stg_corporate,
    )
    from city_payroll_data_pipeline_spark.schemas import CORPORATE_RAW_COLUMNS
    from city_payroll_data_pipeline_spark.sources.readers import (
        read_csv_all_string,
    )

    rng = random.Random(40410)
    path = str(tmp_path / "corporate_big.csv")
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(CORPORATE_RAW_COLUMNS)
        for i in range(2000):
            base_cents = rng.randrange(0, 200_000_00)
            base = f"${base_cents / 100:,.2f}"
            kind = i % 8
            if kind == 0:  # overtime EXACTLY 0.25·base (strict > stays Regular)
                base_cents = rng.randrange(1, 50_000) * 400  # divisible by 4
                base = f"${base_cents / 100:,.2f}"
                ot = f"${base_cents // 4 / 100:,.2f}"
            elif kind == 1:
                ot = ""  # NULL → COALESCE 0.0 → 'No Overtime'
            else:
                ot = _money(rng)
            if kind == 2:
                base = "$0.00"  # div-by-zero guard row
            bonus = "" if kind == 3 else _money(rng)
            benefit = "" if kind == 4 else _money(rng)
            w.writerow([
                str(i), str(2010 + i % 10), f"Dept {i % 17}",
                f"Title {i % 101}", "FT" if i % 3 else "PT",
                base, ot, bonus, benefit,
            ])
    raw = read_csv_all_string(spark, path, columns=CORPORATE_RAW_COLUMNS)
    fct = fct_corporate(stg_corporate(raw, processed_at=FROZEN_SPARK))
    _compare(spark, "corporate", path, fct)


def test_education_matches_reference_sql(spark, tmp_path):
    from city_payroll_data_pipeline_spark.plans.education import (
        fct_education,
        stg_education,
    )
    from city_payroll_data_pipeline_spark.schemas import EDUCATION_RAW_COLUMNS
    from city_payroll_data_pipeline_spark.sources.readers import (
        read_csv_all_string,
    )

    rng = random.Random(40411)
    path = str(tmp_path / "education_big.csv")
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(EDUCATION_RAW_COLUMNS)
        for i in range(2000):
            kind = i % 8
            # exp EXACTLY 15 often (strict > boundary), plus empties
            exp = "15" if kind == 0 else (
                "" if kind == 1 else str(rng.randrange(0, 31))
            )
            fte = {0: "1.0", 1: "", 2: "0.5", 3: "0.99", 4: "1"}.get(
                kind, f"{rng.randrange(1, 101) / 100:.2f}"
            )
            salary = "" if kind == 5 else str(rng.randrange(20, 150) * 1000)
            w.writerow([
                f"Last{i % 211}", f"First{i % 173}", f"District {i % 7}",
                f"School {i % 29}", f"Job {i % 97}", fte, exp,
                rng.choice(["Standard", "Provisional", "None"]), salary,
            ])
    raw = read_csv_all_string(spark, path, columns=EDUCATION_RAW_COLUMNS)
    fct = fct_education(stg_education(raw, processed_at=FROZEN_SPARK))
    _compare(spark, "education", path, fct)


def test_hospital_matches_reference_sql(spark, tmp_path):
    from city_payroll_data_pipeline_spark.plans.hospital import (
        fct_hospital,
        stg_hospital,
    )
    from city_payroll_data_pipeline_spark.schemas import HOSPITAL_RAW_COLUMNS
    from city_payroll_data_pipeline_spark.sources.readers import (
        read_csv_all_string,
    )

    rng = random.Random(40412)
    path = str(tmp_path / "hospital_big.csv")
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HOSPITAL_RAW_COLUMNS)
        for i in range(2000):
            w.writerow([
                f"Hospital {i % 251}", f"City {i % 53}",
                rng.choice(["NJ", "NY", "CA", "TX"]),
                f"DRG {i % 127} - Desc", str(rng.randrange(0, 5000)),
                f"{rng.randrange(0, 10_000_000) / 100:.2f}",
                f"{rng.randrange(0, 10_000_000) / 100:.2f}",
            ])
    raw = read_csv_all_string(
        spark, path, columns=HOSPITAL_RAW_COLUMNS, normalize_names=True
    )
    fct = fct_hospital(stg_hospital(raw, processed_at=FROZEN_SPARK))
    _compare(spark, "hospital", path, fct)
