"""Iterative graph analytics on edge-list DataFrames: PageRank, HITS.

Beyond-parity operator family (the reference — a payroll CSV→report
pipeline, serve_flight.py — has no graph surface at all): a
training-data pipeline at 100 TB needs link/authority analysis for
source weighting (domain authority → corpus mix weights), and the
same join-aggregate iteration pattern as connected components
(operators/dedup.py) applies.

Determinism contract: ranks are held as **integer-scaled BIGINTs**
(rank × 10^9) and every update uses exact integer arithmetic —
multiply, truncating division (all operands positive, so trunc ==
floor in both Spark ``div`` and DuckDB ``//``), and integer sums.
Float enters only in the final display division by 10^9, which is a
single exact-operand double division — bit-identical across engines.
This is the same strategy as the suite's DECIMAL-routed money sums:
never let an order-dependent float sum cross an aggregation.

Scale: each round is one shuffle-join of edges⋈scores on one endpoint
plus one group-by shuffle on the other — the same budget as a single
large join — run by :func:`~.iterate.fixed_point`, which checkpoints
every round's node-sized state and reads one scalar from it in the
same job. That scalar is the only driver traffic and feeds the next
round as a literal: PageRank's dangling mass, HITS's normalization
total. Edge normalization (out-weight totals) is computed once,
outside the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from city_payroll_data_pipeline_spark.operators.iterate import fixed_point

SCALE = 10**9  # rank fixed-point scale: 1e-9 resolution


def _collect_bounded_edges(
    edges: DataFrame, collect_bound: int, op: str
) -> list:
    """Fail-fast bounded collect for the driver fixed-point fast path:
    ``limit(bound + 1)`` caps driver traffic BEFORE the collect (a bare
    ``collect()`` of a mistakenly corpus-sized frame would OOM the
    driver before any row-count check could run — the ADVICE r10
    bt_mm_scaled concern, enforced here rather than assumed)."""
    rows = edges.select("src", "dst", "weight").limit(
        collect_bound + 1
    ).collect()
    if len(rows) > collect_bound:
        raise ValueError(
            f"{op}: edge frame exceeds collect_bound={collect_bound} "
            "rows — the driver fixed-point fast path is only for edge "
            "lists bounded by construction (e.g. an entity-level graph "
            "aggregated from the fact table); call without "
            "collect_bound to run distributed"
        )
    return rows


def pagerank_scaled(
    edges: DataFrame,
    damping_num: int = 85,
    damping_den: int = 100,
    iters: int = 8,
    teleport_node=None,
    collect_bound: int | None = None,
) -> DataFrame:
    """Exact integer-scaled PageRank over ``edges(src, dst, weight)``.

    ``weight`` must be a positive integer (e.g. an interaction count).
    Returns ``(node, rank_scaled)`` where ``rank_scaled`` ≈ rank × 1e9.

    The update per node v is the standard damped rank with truncating
    integer division applied at each step (the oracle unrolls the same
    expression, so truncation is part of the spec, not an error term):

        contrib(u→v) = (rank[u] * w(u,v)) div out_w(u)
        rank'[v] = ((den-num) * SCALE div den) div N
                   + (num * Σ_u contrib(u→v)) div den
                   + (num * dangling) div (den * N)

    Dangling mass (nodes with no out-edges) is redistributed uniformly,
    keeping total mass ≈ SCALE (up to truncation dust — bounded by
    N + E per iteration, i.e. < 1e-3 at 1e-9 resolution for graphs
    under a million edges per node).

    ``teleport_node``: when set, runs PERSONALIZED PageRank — the
    teleport mass (and dangling mass) goes entirely to that node
    instead of uniformly to all, ranking nodes by proximity to the
    seed (related-entity ranking). rank_0 is likewise concentrated
    on the seed.

    Scale: the distributed path runs ``iters`` fixed-point rounds
    (operators/iterate.py). Each node carries a dangling flag, so a
    round's probe is its dangling mass, summed in the job that stores
    the round; the next round adds its share as a literal.

    ``collect_bound``: driver fixed-point fast path for edge lists the
    CALLER knows are bounded by construction (the bt_mm_scaled /
    pq_codebook_trained precedent — e.g. the trade queries aggregate
    the 100 TB fact down to ≤ |nations|² rows BEFORE any iteration
    starts, and that aggregation stays fully distributed). The bounded
    frame is collected once (fail-fast above the bound, enforced via
    limit before the collect) and the ``iters`` rounds run as exact
    Python integer arithmetic — bit-identical to the distributed
    update in the operator's supported domain, since every step is
    integer multiply / truncating div / integer sum on non-negative
    operands (Python ``//`` == Spark ``div``), certified by
    tests/test_properties.py's cross-path equality sweep. This removes
    ~iters × (join + aggregate + checkpoint) driver-synchronized jobs
    whose data-parallel work is a few hundred rows — pure scheduling
    latency. Web-scale graphs (1e8 nodes) must keep the default
    distributed path: collecting them is the §5 driver-OOM
    anti-pattern.
    """
    if collect_bound is not None:
        return _pagerank_collected(
            edges, damping_num, damping_den, iters, teleport_node,
            collect_bound,
        )
    # Materialize the edge list once before anything else: the node
    # universe and the out-weights both re-derive from it, and without
    # this the (possibly expensive) upstream plan that produced the
    # edges — e.g. a multi-way fact join — would be recomputed for each
    # derivation. The aggregated edge frame is the small thing here;
    # its producer is not.
    edges = edges.localCheckpoint(eager=True)

    # node universe (one dedup shuffle), each node flagged dangling
    # when it never appears as a source: its mass is redistributed
    nodes = (
        edges.select(
            F.col("src").alias("node"), F.lit(False).alias("dangling")
        )
        .union(edges.select("dst", F.lit(True)))
        .groupBy("node")
        .agg(F.bool_and("dangling").alias("dangling"))
        .localCheckpoint(eager=False)
    )
    seed = (
        F.lit(True) if teleport_node is None
        else F.col("node") == F.lit(teleport_node)
    )
    # scalars the formula needs, in one job that also stores `nodes`
    n_nodes, n_dangling = nodes.agg(
        F.count("*"), F.count_if(F.col("dangling") & seed)
    ).collect()[0]
    if n_nodes == 0:
        raise ValueError("pagerank_scaled: edge list is empty (no nodes)")

    # per-source total outgoing weight, computed once outside the loop
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    norm_edges = edges.join(out_w, "src").select("src", "dst", "weight", "out_w")
    norm_edges = norm_edges.persist()

    # teleport, rank_0 and dangling mass are spread over all nodes, or
    # (personalized) put on the seed alone
    spread = n_nodes if teleport_node is None else 1

    def on_seed(v: int):
        return F.when(seed, F.lit(v)).otherwise(F.lit(0))

    base_col = on_seed(
        (damping_den - damping_num) * SCALE // damping_den // spread
    )

    def update(ranks: DataFrame, dangling: int) -> DataFrame:
        contribs = (
            norm_edges.join(ranks, norm_edges.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("(rank_scaled * weight) div out_w").alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("in_contrib"))
        )
        return ranks.join(contribs, "node", "left").select(
            "node",
            (
                base_col
                + F.expr(
                    f"({damping_num} * coalesce(in_contrib, 0))"
                    f" div {damping_den}"
                )
                + on_seed(damping_num * dangling // (damping_den * spread))
            ).alias("rank_scaled"),
            "dangling",
        )

    # the probe is the round's dangling mass: the next round's literal
    ranks, _ = fixed_point(
        nodes.select(
            "node",
            on_seed(SCALE // spread).cast("long").alias("rank_scaled"),
            "dangling",
        ),
        update,
        lambda new, _: new.agg(
            F.sum(F.when(F.col("dangling"), F.col("rank_scaled")).otherwise(0))
        ).collect()[0][0],
        iters,
        value=n_dangling * (SCALE // spread),
    )
    norm_edges.unpersist()
    return ranks.select("node", "rank_scaled")


def _pagerank_collected(
    edges: DataFrame,
    damping_num: int,
    damping_den: int,
    iters: int,
    teleport_node,
    collect_bound: int,
) -> DataFrame:
    """Driver fixed point over the collected bounded edge list —
    term-for-term the same exact integer recurrence as the distributed
    loop (Python ``//`` == Spark ``div`` on the non-negative operands
    every term is; Python ints are unbounded, so they agree wherever
    the bigint path is in-domain). Returns a literal (node,
    rank_scaled) frame typed from the edge schema."""
    from pyspark.sql import types as T

    rows = _collect_bounded_edges(edges, collect_bound, "pagerank_scaled")
    nodes = sorted({r["src"] for r in rows} | {r["dst"] for r in rows})
    n_nodes = len(nodes)
    if n_nodes == 0:
        raise ValueError("pagerank_scaled: edge list is empty (no nodes)")
    out_w: dict = {}
    for r in rows:
        out_w[r["src"]] = out_w.get(r["src"], 0) + r["weight"]
    zero_out = sorted(v for v, w in out_w.items() if w == 0)
    if zero_out:
        # contrib divides by out_w(src); weights must be positive, so
        # fail loudly like _hits_collected's zero total
        raise ValueError(
            "pagerank_scaled: zero total out-weight at source node(s) "
            f"{zero_out[:5]}; edge weights must be positive"
        )

    # the distributed path's teleport split: all nodes, or the seed
    spread = n_nodes if teleport_node is None else 1

    def on_seed(v: int) -> dict:
        return {
            u: (v if teleport_node is None or u == teleport_node else 0)
            for u in nodes
        }

    base = on_seed(
        (damping_den - damping_num) * SCALE // damping_den // spread
    )
    ranks = on_seed(SCALE // spread)
    dangling_nodes = [v for v in nodes if v not in out_w]
    for _ in range(iters):
        contrib = {}
        for r in rows:
            c = ranks[r["src"]] * r["weight"] // out_w[r["src"]]
            contrib[r["dst"]] = contrib.get(r["dst"], 0) + c
        dangling = sum(ranks[v] for v in dangling_nodes)
        share = on_seed(damping_num * dangling // (damping_den * spread))
        ranks = {
            v: base[v]
            + damping_num * contrib.get(v, 0) // damping_den
            + share[v]
            for v in nodes
        }

    schema = T.StructType(
        [
            T.StructField("node", edges.schema["src"].dataType),
            T.StructField("rank_scaled", T.LongType()),
        ]
    )
    return edges.sparkSession.createDataFrame(
        [(v, int(ranks[v])) for v in nodes], schema
    )


def _hits_collected(
    edges: DataFrame, iters: int, collect_bound: int
) -> DataFrame:
    """Driver fixed point for :func:`hits_scaled` over the collected
    bounded edge list — the same exact integer half-steps (unbounded
    Python ints stand in for the DECIMAL(38,0) raw sums, identical
    wherever those are in-domain; normalization is the same
    ``raw * SCALE // total`` truncating div on non-negatives)."""
    from pyspark.sql import types as T

    rows = _collect_bounded_edges(edges, collect_bound, "hits_scaled")
    nodes = sorted({r["src"] for r in rows} | {r["dst"] for r in rows})
    n_nodes = len(nodes)
    if n_nodes == 0:
        raise ValueError("hits_scaled: edge list is empty (no nodes)")

    def normalize(raw: dict) -> dict:
        total = sum(raw.values())
        if total == 0:
            # the distributed path would emit NULL scores here (div by
            # zero); unreachable for a non-empty positive-weight graph
            # under the bound (hub init >= 1), so fail loudly instead
            raise ValueError("hits_scaled: zero normalization total")
        return {v: raw[v] * SCALE // total for v in nodes}

    hubs = {v: SCALE // n_nodes for v in nodes}
    auths: dict = {}
    for _ in range(iters):
        a_raw = {v: 0 for v in nodes}
        for r in rows:
            a_raw[r["dst"]] += hubs[r["src"]] * r["weight"]
        auths = normalize(a_raw)
        h_raw = {v: 0 for v in nodes}
        for r in rows:
            h_raw[r["src"]] += auths[r["dst"]] * r["weight"]
        hubs = normalize(h_raw)

    schema = T.StructType(
        [
            T.StructField("node", edges.schema["src"].dataType),
            T.StructField("hub_scaled", T.LongType()),
            T.StructField("auth_scaled", T.LongType()),
        ]
    )
    return edges.sparkSession.createDataFrame(
        [(v, int(hubs[v]), int(auths[v])) for v in nodes], schema
    )


def hits_scaled(
    edges: DataFrame, iters: int = 6, collect_bound: int | None = None
) -> DataFrame:
    """Exact integer-scaled HITS (Kleinberg 1999) over
    ``edges(src, dst, weight)`` — the hub/authority twin of
    :func:`pagerank_scaled`, same determinism contract.

    Returns ``(node, hub_scaled, auth_scaled)`` where each column is
    sum-normalized to SCALE after its half-step (the integer analogue
    of HITS's L1 renormalization; L2 would need a square root and
    break oracle exactness — with everything positive the two induce
    the same ranking and the same fixed-point direction).

        auth_raw[v] = Σ_u hub[u]  · w(u,v)   then sum-normalize
        hub_raw[u]  = Σ_v auth[v] · w(u,v)   then sum-normalize

    Overflow bound: hub ≤ SCALE = 1e9 and Σw is the total interaction
    count, so raw ≤ 1e9·Σw < 1e22 even at 10^13 interactions — the
    DECIMAL(38,0) sums and the ×SCALE product (< 1e31) never saturate.

    Scale shape: each half-step is one fixed-point round: ONE
    edges⋈scores shuffle join + ONE group-by on the opposite endpoint
    (the budget of a PageRank round), whose probe is the sum of the new
    raw scores. The next half-step normalizes with that total as a
    literal, so no cross join or second pass over the scores is needed.
    """
    if iters < 1:
        raise ValueError(f"hits_scaled: iters must be >= 1, got {iters}")
    if collect_bound is not None:
        # driver fixed point for caller-certified bounded edge lists —
        # see pagerank_scaled's collect_bound docstring (same contract,
        # same fail-fast guard, same cross-path equality certificate)
        return _hits_collected(edges, iters, collect_bound)
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()  # scalar; the uniform init's total
    if n_nodes == 0:
        raise ValueError("hits_scaled: edge list is empty (no nodes)")

    def scaled(side: str, total: int):
        # sum-normalize a side's raw scores by their probed total
        return F.expr(
            f"CAST({side}_raw * {SCALE} div {total} AS BIGINT)"
        ).alias(f"{side}_scaled")

    def half_step(scores: DataFrame, total: int) -> DataFrame:
        # normalize the side the previous round summed and push it
        # across the edges to the other side's raw sums
        side, other, here, there = (
            ("hub", "auth", "src", "dst") if "hub_raw" in scores.columns
            else ("auth", "hub", "dst", "src")
        )
        scores = scores.select("node", scaled(side, total))
        raw = (
            edges.join(scores, edges[here] == scores.node)
            .groupBy(F.col(there).alias("node"))
            .agg(
                F.sum(
                    F.col(f"{side}_scaled").cast("decimal(38,0)")
                    * F.col("weight")
                ).alias("raw")
            )
        )
        # keep sinks/sources with no incoming mass on the board at 0
        return scores.join(raw, "node", "left").select(
            "node",
            f"{side}_scaled",
            F.coalesce(F.col("raw"), F.lit(0).cast("decimal(38,0)")).alias(
                f"{other}_raw"
            ),
        )

    # hub_raw = 1 with total n normalizes to exactly SCALE // n, the
    # uniform init; each probe is the total of the raw sums just made
    scores, totals = fixed_point(
        nodes.withColumn("hub_raw", F.lit(1).cast("decimal(38,0)")),
        half_step,
        lambda new, _: int(new.agg(F.sum(new.columns[-1])).collect()[0][0]),
        2 * iters,
        value=n_nodes,
    )
    return scores.select("node", scaled("hub", totals[-1]), "auth_scaled")
