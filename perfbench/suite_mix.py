"""The ``suite_mix`` workload: registry queries, one at a time.

The list takes one query from each of the seven suite modules and runs
them on the sf0.01 tables kept in ``data/sf0.01`` (copies of
the project's deterministic test tables, so a checkout holds them).
Every pass runs each listed query once with the noop sink, in the
list's order. The inputs are fixed, so the seed is not used: an order
drawn from it would add a seed-dependent term to the timings. Outputs
are checked against each query's DuckDB
oracle on the same parquet files.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")

# query -> suite module; README.md gives the reason for each
QUERIES = {
    "budget_report": "parity",
    "pricing_summary": "relational",
    "minhash_dedup_pairs": "textops",
    "cosine_topk": "vectors",
    "key_gini_skew": "analytics",
    "mann_whitney_test": "advanced",
    "median_of_means": "mlops",
}


class SuiteMix:
    """Runs the list and keeps what it observed. It has the interface of
    ``run.Tenants``: set_up, measure, close, errors, counts, end_to_end."""

    def __init__(self, spark, tracer):
        from city_payroll_data_pipeline_spark.suite import build_suite

        self.spark, self.suite, self.tracer = spark, build_suite(), tracer
        self.outputs: dict[str, object] = {}  # query -> pandas frame, warm-up pass
        self.times: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.attempted = self.failed = 0
        self.timed = False

    def _run(self, name: str, collect: bool):
        """One execution: build the plan, then run it."""
        module = QUERIES[name]
        t = time.perf_counter()
        with self.tracer.suite_op(module, self.spark, timed=self.timed):
            with self.tracer.span(f"suite.{module}.build"):
                df = self.suite[name].spark(self.spark, SF_DIR)
            with self.tracer.span(f"suite.{module}.exec"):
                if collect:
                    out = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                    out = None
        if self.timed:
            self.times[name].append(time.perf_counter() - t)
        return out

    def one_pass(self, collect: bool = False) -> None:
        """Every listed query once; a query that raises counts as a
        failed operation and the pass goes on."""
        for name in QUERIES:
            self.attempted += self.timed
            try:
                out = self._run(name, collect)
            except Exception:  # noqa: BLE001 - counted and reported
                self.failed += self.timed
                traceback.print_exc(file=sys.stderr)
                continue
            if collect:
                self.outputs[name] = out

    def set_up(self) -> None:
        """One pass whose outputs are kept for the oracle check, then one
        noop pass. The first pays each query's first-execution costs
        (codegen, Python workers, file listing); a query's second
        execution still runs up to a third slower than its third."""
        for collect in (True, False):
            t = time.perf_counter()
            self.one_pass(collect)
            print(f"perfbench: set-up pass {time.perf_counter() - t:.2f} s",
                  file=sys.stderr)

    def measure(self, seconds: float) -> None:
        """Whole passes while the window is open, at least two, so every
        query's best time is a best of two or more."""
        deadline = time.perf_counter() + seconds
        self.timed = True
        self.one_pass()
        self.one_pass()
        while time.perf_counter() < deadline:
            self.one_pass()
        self.timed = False
        print(f"perfbench: timed query times "
              f"{ {k: [round(x, 3) for x in v] for k, v in self.times.items()} }",
              file=sys.stderr)

    def close(self) -> None:
        pass

    def errors(self) -> list[str]:
        return oracle_errors(self.outputs, oracle_frames(self.suite))

    def counts(self) -> tuple[int, int]:
        return self.attempted, self.failed

    def end_to_end(self) -> tuple[float, float]:
        """(one pass: the sum of each query's best time over the timed
        passes, the geometric mean of those best times). Best-of, as in
        ``bench.py``: host stalls only ever add time."""
        best = [min(v) for v in self.times.values() if v]
        return sum(best), statistics.geometric_mean(best)


def oracle_frames(suite) -> dict:
    """Each listed query's DuckDB oracle answer on the same parquet
    files."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(SF_DIR)):
            con.execute(
                f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM "
                f"read_parquet('{os.path.join(SF_DIR, f)}')"
            )
        return {name: con.execute(suite[name].oracle).df() for name in QUERIES}
    finally:
        con.close()


def oracle_errors(outputs: dict, oracles: dict) -> list[str]:
    """Compare each kept output with its oracle answer: row count,
    column names and numeric kinds, and values regardless of row order
    (the project's oracle comparison, ``tests/oracle_utils``)."""
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tests"))
    import oracle_utils

    errors = []
    for name, want in oracles.items():
        if name not in outputs:
            errors.append(f"{name}: no output to check")
            continue
        try:
            oracle_utils.assert_frames_match(outputs[name], want, name)
        except AssertionError as exc:
            errors.append(str(exc)[:300])
    return errors
