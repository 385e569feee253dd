"""operators/iterate.py: the one fixed-point loop, and the operators
built on it (connected components, star contraction, k-core peeling,
PageRank, HITS).

The job-count pins bound each operator's Spark jobs on a fixed small
input, counted per job group. Each bound is the operator's count on 4
cores before it moved onto ``fixed_point``. They are bounds, not
equalities: AQE can start a timing-dependent number of stage jobs in
one session."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT

# (src, dst, weight): a cycle with a chord, a source-only node (4) and
# a dangling node (5)
GRAPH = [(0, 1, 3), (1, 2, 1), (2, 0, 2), (2, 3, 5), (3, 1, 1), (4, 2, 2), (1, 5, 1)]
# a 13-node chain (diameter 12) plus one separate pair
CHAIN = [(i, i + 1) for i in range(12)] + [(100, 101)]


def _jobs(spark, group, build):
    """(jobs started under job group ``group`` while ``build()`` ran,
    its result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _count_up(state, _):
    return state.select((F.col("x") + 1).alias("x"))


def _x(new, _):
    return new.collect()[0]["x"]


def test_fixed_point_stops_on_until_and_traces_rounds(spark):
    from city_payroll_data_pipeline_spark.operators.iterate import fixed_point

    state, trace = fixed_point(
        spark.createDataFrame([(0,)], "x long"), _count_up, _x, 5,
        until=lambda x: x == 3,
    )
    assert trace == [1, 2, 3]
    assert state.collect()[0]["x"] == 3


def test_fixed_point_without_until_runs_every_round(spark):
    from city_payroll_data_pipeline_spark.operators.iterate import fixed_point

    seen = []

    def step(state, value):
        seen.append(value)
        return _count_up(state, value)

    _, trace = fixed_point(
        spark.createDataFrame([(0,)], "x long"), step, _x, 3, value="v0"
    )
    # each step receives the previous round's probe value
    assert seen == ["v0", 1, 2] and trace == [1, 2, 3]


def test_fixed_point_raises_at_round_limit(spark):
    from city_payroll_data_pipeline_spark.operators.iterate import fixed_point

    with pytest.raises(RuntimeError, match="no fixed point after 2 rounds"):
        fixed_point(
            spark.createDataFrame([(0,)], "x long"), _count_up, _x, 2,
            until=lambda x: x == 3,
        )


def test_connected_components_raises_when_unconverged(spark):
    """A 31-node chain needs 30 label-changing rounds; at the default
    max_iters=20 the propagation must fail loudly, not return the
    chain split into 11 components."""
    from city_payroll_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="no fixed point after 20 rounds"):
        connected_components(pairs).collect()


@pytest.mark.parametrize(
    "op, bound", [("connected_components", 108), ("connected_components_star", 60)]
)
def test_cc_job_count(spark, op, bound):
    from city_payroll_data_pipeline_spark.operators import dedup

    pairs = spark.createDataFrame(CHAIN, "doc_a long, doc_b long")
    jobs, out = _jobs(
        spark, f"test-jobs-{op}", lambda: getattr(dedup, op)(pairs).collect()
    )
    assert {r["doc_id"]: r["component"] for r in out} == {
        **{i: 0 for i in range(13)}, 100: 100, 101: 100
    }
    assert jobs <= bound


@pytest.mark.parametrize(
    "op, bound", [("pagerank_scaled", 112), ("hits_scaled", 141)]
)
def test_graph_rank_job_count(spark, op, bound):
    from city_payroll_data_pipeline_spark.operators import graph

    edges = spark.createDataFrame(GRAPH, "src long, dst long, weight long")
    jobs, out = _jobs(
        spark,
        f"test-jobs-{op}",
        lambda: getattr(graph, op)(edges, iters=8).collect(),
    )
    assert len(out) == 6
    assert jobs <= bound


def test_k_core_decay_job_count(spark):
    from city_payroll_data_pipeline_spark.suite.analytics import q_k_core_decay

    jobs, out = _jobs(
        spark,
        "test-jobs-k_core_decay",
        lambda: q_k_core_decay(spark, SF_CORRECT).collect(),
    )
    assert [r["round"] for r in out] == [1, 2, 3]
    assert jobs <= 27
