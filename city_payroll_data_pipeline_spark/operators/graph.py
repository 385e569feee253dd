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

Scale: each iteration is one shuffle-join of edges⋈ranks on ``src``
plus one group-by shuffle on ``dst`` — the same budget as a single
large join; `localCheckpoint` every few rounds truncates the lineage
exactly as connected_components does (operators/dedup.py:335+,
measured plan-growth blowup documented there). Edge normalization
(out-degree totals) is computed once, outside the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    checkpoint_every: int = 4,
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
    # Materialize the edge list once before anything else: node
    # universe, out-weights, and the dangling probe all re-derive from
    # it, and without this the (possibly expensive) upstream plan that
    # produced the edges — e.g. a multi-way fact join — would be
    # recomputed for each of those derivations. The aggregated edge
    # frame is the small thing here; its producer is not.
    edges = edges.localCheckpoint(eager=True)

    # node universe: anything appearing as src or dst (dedup shuffle, once)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()  # scalar; required by the formula itself
    if n_nodes == 0:
        raise ValueError("pagerank_scaled: edge list is empty (no nodes)")

    # per-source total outgoing weight, computed once outside the loop
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    norm_edges = edges.join(out_w, "src").select("src", "dst", "weight", "out_w")
    norm_edges = norm_edges.persist()

    if teleport_node is None:
        base_col = F.lit(
            (damping_den - damping_num) * SCALE // damping_den // n_nodes
        )
        ranks = nodes.withColumn(
            "rank_scaled", F.lit(SCALE // n_nodes).cast("long")
        )
    else:
        seed_base = (damping_den - damping_num) * SCALE // damping_den
        base_col = F.when(
            F.col("node") == F.lit(teleport_node), F.lit(seed_base)
        ).otherwise(F.lit(0))
        ranks = nodes.withColumn(
            "rank_scaled",
            F.when(F.col("node") == F.lit(teleport_node), F.lit(SCALE))
            .otherwise(F.lit(0))
            .cast("long"),
        )

    # nodes with no outgoing edge contribute their mass uniformly.
    # Materialized once: when the graph has none (typical for
    # interaction graphs where every node acts), the per-iteration
    # dangling-mass collect is skipped entirely — saving one full
    # evaluation of the rank lineage per round.
    dangling_nodes = nodes.join(
        out_w.select(F.col("src").alias("node")), "node", "left_anti"
    ).persist()
    has_dangling = dangling_nodes.count() > 0

    for i in range(iters):
        contribs = (
            norm_edges.join(ranks, norm_edges.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("(rank_scaled * weight) div out_w").alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("in_contrib"))
        )
        if has_dangling:
            dangling = int(
                dangling_nodes.join(ranks, "node")
                .agg(F.coalesce(F.sum("rank_scaled"), F.lit(0)).alias("d"))
                .collect()[0]["d"]
            )  # bounded scalar (one long), same as CC convergence checks
            if teleport_node is None:
                share_col = F.lit(
                    damping_num * dangling // (damping_den * n_nodes)
                )
            else:
                share_col = F.when(
                    F.col("node") == F.lit(teleport_node),
                    F.lit(damping_num * dangling // damping_den),
                ).otherwise(F.lit(0))
        else:
            share_col = F.lit(0)
        ranks = (
            ranks.join(contribs, "node", "left")
            .select(
                "node",
                (
                    base_col
                    + F.expr(
                        f"({damping_num} * coalesce(in_contrib, 0))"
                        f" div {damping_den}"
                    )
                    + share_col
                ).alias("rank_scaled"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            # truncate lineage: the iterative plan otherwise doubles per
            # round (same pathology measured in connected_components)
            ranks = ranks.localCheckpoint(eager=True)

    # materialize the node-sized result BEFORE dropping the cached
    # inputs: the in-loop checkpoint deliberately skips the final
    # round, so the returned lineage still references norm_edges —
    # unpersisting first would force a full recompute on the caller's
    # first action
    ranks = ranks.localCheckpoint(eager=True)
    norm_edges.unpersist()
    dangling_nodes.unpersist()
    return ranks


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

    if teleport_node is None:
        base = {
            v: (damping_den - damping_num) * SCALE // damping_den // n_nodes
            for v in nodes
        }
        ranks = {v: SCALE // n_nodes for v in nodes}
    else:
        seed_base = (damping_den - damping_num) * SCALE // damping_den
        base = {v: (seed_base if v == teleport_node else 0) for v in nodes}
        ranks = {v: (SCALE if v == teleport_node else 0) for v in nodes}

    dangling_nodes = [v for v in nodes if v not in out_w]
    for _ in range(iters):
        contrib = {}
        for r in rows:
            c = ranks[r["src"]] * r["weight"] // out_w[r["src"]]
            contrib[r["dst"]] = contrib.get(r["dst"], 0) + c
        if dangling_nodes:
            dangling = sum(ranks[v] for v in dangling_nodes)
            if teleport_node is None:
                share = {
                    v: damping_num * dangling // (damping_den * n_nodes)
                    for v in nodes
                }
            else:
                share = {
                    v: (
                        damping_num * dangling // damping_den
                        if v == teleport_node
                        else 0
                    )
                    for v in nodes
                }
        else:
            share = {v: 0 for v in nodes}
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


def _sum_normalize(scores: DataFrame, raw: str, out: str) -> DataFrame:
    """Rescale an integer score column so it sums to SCALE:
    ``out = (raw * SCALE) div total``, all operands exact
    (DECIMAL(38,0) product, truncating div — Spark ``div`` and DuckDB
    ``//`` agree on positives). The 1-row total rides a broadcast
    nested-loop join, never a driver collect."""
    total = scores.agg(F.sum(raw).alias("__total"))
    return scores.crossJoin(F.broadcast(total)).select(
        "node",
        F.expr(f"CAST({raw} * {SCALE} div __total AS BIGINT)").alias(out),
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

    Scale shape: per half-step ONE edges⋈scores shuffle join + ONE
    group-by on the opposite endpoint (identical budget to a PageRank
    round), then a node-sized eager localCheckpoint that both
    truncates the iterative lineage and makes the 1-row normalization
    total a cheap re-read instead of a plan re-evaluation. Zero driver
    round trips — the total stays in-plan via a broadcast cross join.
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
    )
    n_nodes = nodes.count()  # scalar; sets the uniform init, as in PageRank
    if n_nodes == 0:
        raise ValueError("hits_scaled: edge list is empty (no nodes)")
    nodes = nodes.localCheckpoint(eager=True)

    hubs = nodes.withColumn("hub_scaled", F.lit(SCALE // n_nodes).cast("long"))
    auths = None
    for _ in range(iters):
        a_raw = (
            edges.join(hubs, edges.src == hubs.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    F.col("hub_scaled").cast("decimal(38,0)") * F.col("weight")
                ).alias("raw")
            )
        )
        # keep sinks/sources with no incoming mass on the board at 0
        a_raw = (
            nodes.join(a_raw, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("raw"), F.lit(0).cast("decimal(38,0)")).alias(
                    "raw"
                ),
            )
            .localCheckpoint(eager=True)
        )
        auths = _sum_normalize(a_raw, "raw", "auth_scaled")
        h_raw = (
            edges.join(auths, edges.dst == auths.node)
            .groupBy(F.col("src").alias("node"))
            .agg(
                F.sum(
                    F.col("auth_scaled").cast("decimal(38,0)") * F.col("weight")
                ).alias("raw")
            )
        )
        h_raw = (
            nodes.join(h_raw, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("raw"), F.lit(0).cast("decimal(38,0)")).alias(
                    "raw"
                ),
            )
            .localCheckpoint(eager=True)
        )
        hubs = _sum_normalize(h_raw, "raw", "hub_scaled")
    return hubs.join(auths, "node").select("node", "hub_scaled", "auth_scaled")
