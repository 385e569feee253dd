"""Report/serving layer over fact tables.

Re-expresses the reference's two fixed server queries
(serve_flight.py:291,295) and the dashboard's client-side pandas
aggregations (web_dashboard/app.py:326-495) as single declarative
DataFrame plans. What the reference computes in three places (DuckDB
query + Arrow transfer + pandas post-processing) is one Catalyst plan
here — partial aggregation happens map-side before the single shuffle,
so the pattern holds at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def budget_aggregate(fct: DataFrame) -> DataFrame:
    """Per-job-title headcount and total budget, unsorted — the
    aggregation the batch report and the streaming report share.

    GROUP BY job_title shuffles once; Catalyst plans partial+final
    HashAggregate, so the map-side combine keeps shuffle volume
    proportional to |distinct job_title|, not |rows|.
    """
    return fct.groupBy("job_title").agg(
        F.count("*").alias("total_employee"),
        F.sum("total_amount").alias("total_budget"),
    )


def budget_report(fct: DataFrame) -> DataFrame:
    """THE report query (serve_flight.py:295): budget_aggregate,
    costliest first (nulls last, as ``orderBy(F.desc(...))``).

    The report has one row per distinct job_title, a few hundred at
    most, and one client reads all of it, so the final sort runs in a
    single task: ``coalesce(1)`` then a sort within that one partition
    is the same total order as a global ``orderBy``, without its
    range-partition sampling job and range exchange. ``full_export``,
    whose output grows with the upload, keeps the global sort."""
    return (
        budget_aggregate(fct)
        .coalesce(1)
        .sortWithinPartitions(F.desc("total_budget"))
    )


def full_export(fct: DataFrame) -> DataFrame:
    """Full export ordered by job_title (serve_flight.py:291)."""
    return fct.orderBy("job_title")


def top_k(report: DataFrame, k: int = 10, by: str = "total_budget") -> DataFrame:
    """Top-k costliest rows (app.py:390-393). Spark plans
    TakeOrderedAndProject — no global sort materialization."""
    return report.orderBy(F.desc(by)).limit(k)


def clean_report(report: DataFrame) -> DataFrame:
    """Dashboard defensive cleaning (app.py:329-334): numeric coercion
    (invalid -> NULL, same as pd.to_numeric(errors='coerce')) then drop
    rows with NULL job_title/total_budget."""
    return (
        report.withColumn("total_budget", F.col("total_budget").cast("double"))
        .withColumn("total_employee", F.col("total_employee").cast("double"))
        .na.drop(subset=["job_title", "total_budget"])
    )


def kpi_stats(report: DataFrame) -> DataFrame:
    """Dashboard KPI scalars in one global aggregate (app.py:340-342,
    490-495): totals, guarded average salary, count, max/min, exact
    median. One row out; F.median is the exact interpolated median
    (matches pandas/DuckDB), not an approximation."""
    return report.agg(
        F.sum("total_budget").alias("sum_total_budget"),
        F.sum("total_employee").alias("sum_total_employee"),
        (
            F.sum("total_budget")
            / F.when(F.sum("total_employee") != 0, F.sum("total_employee"))
        ).alias("avg_salary"),
        F.count("*").alias("n_positions"),
        F.max("total_budget").alias("max_budget"),
        F.min("total_budget").alias("min_budget"),
        F.median("total_budget").alias("median_budget"),
    )
