"""Advanced analytics queries: graph authority (PageRank), exact
integer-deterministic sampling, distribution-drift tests, blocked
fuzzy matching, and multi-dimensional layout (Z-order).

Beyond-parity family (reference has none of these — SURVEY §2 ends at
group-by reports): these are the corpus-curation operations a 100 TB
training-data pipeline runs daily — source-authority weighting,
probability-proportional-to-size subsampling, snapshot drift gates,
entity resolution, and scan-pruning layout.

Determinism rule (same as suite/__init__): no order-dependent float
sum ever crosses an aggregation — these queries go further and stay
in **pure integer arithmetic** end-to-end, converting to double only
via a single exact-operand division at display time.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from city_payroll_data_pipeline_spark.functions.text import (
    PUNCT_CHAR_RE,
    lang_marker_pattern,
)
from city_payroll_data_pipeline_spark.operators.graph import (
    SCALE,
    hits_scaled,
    pagerank_scaled,
)
from city_payroll_data_pipeline_spark.operators.iterate import fixed_point
from city_payroll_data_pipeline_spark.suite import Query, table
from city_payroll_data_pipeline_spark.suite.parity import _sql_dec_sum, _sql_round

# --------------------------------------------------------------------------
# trade_pagerank — nation-level trade-flow authority.
#
# Edges: customer-nation → supplier-nation, weight = lineitem count on
# that flow (an integer, which is what makes the whole computation
# exactly replayable in SQL). The corpus analogy is domain-authority
# scoring for source weighting: links = citations between sources.
#
# Scale: the edge list aggregates the 100 TB fact down to
# |nations|² rows before any iteration begins — the iterative part
# never touches the fact table again. For a web-scale domain graph
# (1e8 nodes) the same operator runs with edges/ranks both
# hash-partitioned on the join key; see operators/graph.py.
# --------------------------------------------------------------------------

_PR_ITERS = 8


def _trade_edges(spark, sf_dir):
    """The weighted customer-nation → supplier-nation trade edge list
    (and the nation dim for the readout join) shared by
    q_trade_pagerank and q_nation_ppr — one definition so an edge
    tweak (date filter, weight change) can never desynchronize the
    uniform and personalized rankings or their oracles."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .groupBy(
            customer.c_nationkey.alias("src"), supplier.s_nationkey.alias("dst")
        )
        .agg(F.count("*").alias("weight"))
    )
    return edges, nation


# driver fixed-point bound for the nation-level graphs: the edge frame
# is ≤ |nations|² BY CONSTRUCTION (the fact join aggregates to
# (c_nationkey, s_nationkey) before any iteration starts, and THAT part
# stays distributed); 10_000 is ~16× the 25-nation worst case and still
# trivially driver-safe. The guard in operators/graph.py fails fast if
# a caller ever feeds an unaggregated frame.
_NATION_GRAPH_BOUND = 10_000


def q_trade_pagerank(spark, sf_dir):
    edges, nation = _trade_edges(spark, sf_dir)
    ranks = pagerank_scaled(
        edges, iters=_PR_ITERS, collect_bound=_NATION_GRAPH_BOUND
    )
    return (
        ranks.join(F.broadcast(nation), ranks.node == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("rank_scaled"),
            (F.col("rank_scaled") / F.lit(SCALE)).alias("rank"),
        )
        .orderBy(F.desc("rank_scaled"), "nation")
    )


def _pagerank_oracle_sql(iters: int = _PR_ITERS) -> str:
    """Unrolled integer PageRank mirroring pagerank_scaled() term by
    term: truncating // (all operands positive), SUM cast back to
    BIGINT (DuckDB SUM(BIGINT)→HUGEINT), dangling mass redistributed
    uniformly. 'div' in Spark and '//' in DuckDB agree on positives."""
    head = f"""
WITH edges AS MATERIALIZED (
  SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY c_nationkey, s_nationkey
),
outw AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
r0 AS MATERIALIZED (
  SELECT node, CAST({SCALE} // (SELECT n FROM nn) AS BIGINT) AS rank_scaled
  FROM nodes
)"""
    steps = []
    for k in range(1, iters + 1):
        prev = f"r{k - 1}"
        steps.append(f""",
r{k} AS MATERIALIZED (
  SELECT n.node,
         CAST({15 * SCALE // 100} // (SELECT n FROM nn)
              + (85 * COALESCE(c.in_contrib, 0)) // 100
              + (85 * (SELECT CAST(COALESCE(SUM(rd.rank_scaled), 0) AS BIGINT)
                       FROM {prev} rd
                       WHERE rd.node NOT IN (SELECT src FROM edges)))
                // (100 * (SELECT n FROM nn))
           AS BIGINT) AS rank_scaled
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM((r.rank_scaled * e.w) // o.out_w) AS BIGINT) AS in_contrib
    FROM edges e JOIN outw o ON e.src = o.src
    JOIN {prev} r ON e.src = r.node
    GROUP BY e.dst
  ) c ON n.node = c.node
)""")
    tail = f"""
SELECT n_name AS nation,
       rank_scaled,
       CAST(rank_scaled AS DOUBLE) / {SCALE} AS rank
FROM r{iters}
JOIN nation ON node = n_nationkey
ORDER BY rank_scaled DESC, nation
"""
    return head + "".join(steps) + tail


TRADE_PAGERANK_SQL = _pagerank_oracle_sql()

# --------------------------------------------------------------------------
# nation_ppr — PERSONALIZED PageRank from a seed nation: teleport and
# dangling mass go to the seed only, ranking nations by trade-flow
# proximity to it (related-entity ranking; the corpus analogy is
# "sources most connected to this trusted source"). Same integer
# machinery and shuffle budget as trade_pagerank.
# --------------------------------------------------------------------------

_PPR_SEED = 0  # n_nationkey of the seed


def q_nation_ppr(spark, sf_dir):
    edges, nation = _trade_edges(spark, sf_dir)
    ranks = pagerank_scaled(
        edges, iters=_PR_ITERS, teleport_node=_PPR_SEED,
        collect_bound=_NATION_GRAPH_BOUND,
    )
    return (
        ranks.join(F.broadcast(nation), ranks.node == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("rank_scaled"),
            (F.col("rank_scaled") / F.lit(SCALE)).alias("rank"),
        )
        .orderBy(F.desc("rank_scaled"), "nation")
    )


def _ppr_oracle_sql(iters: int = _PR_ITERS, seed: int = _PPR_SEED) -> str:
    """Personalized variant of _pagerank_oracle_sql: teleport + dangling
    mass concentrated on the seed node instead of uniform."""
    head = f"""
WITH edges AS MATERIALIZED (
  SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY c_nationkey, s_nationkey
),
outw AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
r0 AS MATERIALIZED (
  SELECT node,
         CAST(CASE WHEN node = {seed} THEN {SCALE} ELSE 0 END AS BIGINT)
           AS rank_scaled
  FROM nodes
)"""
    steps = []
    for k in range(1, iters + 1):
        prev = f"r{k - 1}"
        steps.append(f""",
r{k} AS MATERIALIZED (
  SELECT n.node,
         CAST(CASE WHEN n.node = {seed} THEN {15 * SCALE // 100} ELSE 0 END
              + (85 * COALESCE(c.in_contrib, 0)) // 100
              + CASE WHEN n.node = {seed}
                     THEN (85 * (SELECT CAST(COALESCE(SUM(rd.rank_scaled), 0)
                                             AS BIGINT)
                                 FROM {prev} rd
                                 WHERE rd.node NOT IN (SELECT src FROM edges)))
                          // 100
                     ELSE 0 END
           AS BIGINT) AS rank_scaled
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM((r.rank_scaled * e.w) // o.out_w) AS BIGINT) AS in_contrib
    FROM edges e JOIN outw o ON e.src = o.src
    JOIN {prev} r ON e.src = r.node
    GROUP BY e.dst
  ) c ON n.node = c.node
)""")
    tail = f"""
SELECT n_name AS nation,
       rank_scaled,
       CAST(rank_scaled AS DOUBLE) / {SCALE} AS rank
FROM r{iters}
JOIN nation ON node = n_nationkey
ORDER BY rank_scaled DESC, nation
"""
    return head + "".join(steps) + tail


NATION_PPR_SQL = _ppr_oracle_sql()


# --------------------------------------------------------------------------
# hits_scores — hub/authority decomposition of the trade graph (HITS,
# Kleinberg 1999): authorities are nations whose SUPPLIERS everyone
# buys from, hubs are nations whose CUSTOMERS buy broadly — a
# direction-aware complement to PageRank's single score. Corpus
# analogy: mirror-network analysis, where hub sources aggregate many
# feeds and authority sources originate the content others copy.
#
# Exact integer machinery shared with trade_pagerank: scores are
# SCALE-fixed-point BIGINTs, each half-step sum-normalizes via one
# DECIMAL(38,0) cross-multiplied truncating div, and the oracle
# unrolls all iterations as MATERIALIZED CTEs (operators/graph.py
# ``hits_scaled`` docstring has the overflow bound).
# --------------------------------------------------------------------------

_HITS_ITERS = 6


def q_hits_scores(spark, sf_dir):
    edges, nation = _trade_edges(spark, sf_dir)
    scores = hits_scaled(
        edges, iters=_HITS_ITERS, collect_bound=_NATION_GRAPH_BOUND
    )
    return (
        scores.join(F.broadcast(nation), scores.node == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("hub_scaled"),
            F.col("auth_scaled"),
            (F.col("hub_scaled") / F.lit(SCALE)).alias("hub"),
            (F.col("auth_scaled") / F.lit(SCALE)).alias("auth"),
        )
        .orderBy(F.desc("auth_scaled"), "nation")
    )


def _hits_oracle_sql(iters: int = _HITS_ITERS) -> str:
    """Unrolled integer HITS mirroring hits_scaled() term by term:
    HUGEINT raw sums (Spark: DECIMAL(38,0)), sum-normalization via
    (raw * SCALE) // total — '//' and Spark 'div' agree on positives."""
    head = f"""
WITH edges AS MATERIALIZED (
  SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY c_nationkey, s_nationkey
),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
h0 AS MATERIALIZED (
  SELECT node,
         CAST({SCALE} // (SELECT COUNT(*) FROM nodes) AS BIGINT) AS hub_scaled
  FROM nodes
)"""
    steps = []
    for k in range(1, iters + 1):
        prev = f"h{k - 1}"
        steps.append(f""",
a{k}_raw AS MATERIALIZED (
  SELECT n.node, COALESCE(t.raw, CAST(0 AS HUGEINT)) AS raw
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(SUM(CAST(h.hub_scaled AS HUGEINT) * e.w) AS HUGEINT) AS raw
    FROM edges e JOIN {prev} h ON e.src = h.node GROUP BY e.dst
  ) t ON n.node = t.node
),
a{k} AS MATERIALIZED (
  SELECT node,
         CAST(raw * {SCALE} // (SELECT SUM(raw) FROM a{k}_raw) AS BIGINT)
           AS auth_scaled
  FROM a{k}_raw
),
h{k}_raw AS MATERIALIZED (
  SELECT n.node, COALESCE(t.raw, CAST(0 AS HUGEINT)) AS raw
  FROM nodes n LEFT JOIN (
    SELECT e.src AS node, CAST(SUM(CAST(a.auth_scaled AS HUGEINT) * e.w) AS HUGEINT) AS raw
    FROM edges e JOIN a{k} a ON e.dst = a.node GROUP BY e.src
  ) t ON n.node = t.node
),
h{k} AS MATERIALIZED (
  SELECT node,
         CAST(raw * {SCALE} // (SELECT SUM(raw) FROM h{k}_raw) AS BIGINT)
           AS hub_scaled
  FROM h{k}_raw
)""")
    tail = f"""
SELECT n_name AS nation,
       h.hub_scaled,
       a.auth_scaled,
       CAST(h.hub_scaled AS DOUBLE) / {SCALE} AS hub,
       CAST(a.auth_scaled AS DOUBLE) / {SCALE} AS auth
FROM h{iters} h
JOIN a{iters} a ON h.node = a.node
JOIN nation ON h.node = n_nationkey
ORDER BY a.auth_scaled DESC, nation
"""
    return head + "".join(steps) + tail


HITS_SCORES_SQL = _hits_oracle_sql()


# --------------------------------------------------------------------------
# pps_weighted_sample — probability-proportional-to-size Bernoulli
# sampling, integer-exact.
#
# Corpus subsampling where long/high-quality docs should be kept more
# often: include doc ⇔ u < k·w/W with u a 48-bit md5 uniform. The
# comparison is cross-multiplied into pure integer form
#     h48 · W  <  k · w · 2^48
# (DECIMAL(38,0) on the Spark side, HUGEINT in DuckDB — both exact),
# so there is no float, no ln(), and no 1-ulp libm drift anywhere:
# the sample is bit-identical across engines by construction.
#
# Scale: map-side filter — zero shuffles beyond the one-row total
# broadcast; at 100 TB the W scalar comes from a first aggregate pass
# (or a manifest) and the filter streams.
# --------------------------------------------------------------------------

_PPS_K = 200  # expected sample size
_POW48 = 1 << 48


def q_pps_weighted_sample(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    tot = docs.agg(F.sum("n_chars").alias("w_total"))  # 1-row scalar
    h48 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
    ).cast("decimal(38,0)")
    return (
        docs.crossJoin(F.broadcast(tot))
        .where(
            h48 * F.col("w_total")
            < F.lit(_PPS_K).cast("decimal(38,0)")
            * F.col("n_chars")
            * F.lit(_POW48)
        )
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


PPS_WEIGHTED_SAMPLE_SQL = f"""
WITH tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS w_total FROM documents)
SELECT doc_id, source, n_chars
FROM documents
WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
           AS HUGEINT) * (SELECT w_total FROM tot)
      < CAST({_PPS_K} AS HUGEINT) * n_chars * {_POW48}
ORDER BY doc_id
"""

# --------------------------------------------------------------------------
# ks_source_drift — two-sample Kolmogorov–Smirnov statistic between the
# doc-length distributions of two sources.
#
# The distribution-drift gate a pipeline runs between corpus snapshots
# (did the crawl's length profile shift?). D = max_x |F_a(x) − F_b(x)|
# computed as integer cross-products: |ca(x)·n_b − cb(x)·n_a| over the
# value-ordered cumulative counts, divided once at the end.
#
# Scale: one groupBy on value + one window cumsum over distinct values
# (cardinality ≪ corpus), then a 1-row argmax. No floats until the
# final exact division.
# --------------------------------------------------------------------------


def q_ks_source_drift(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents").where(
        F.col("source").isin("src0", "src1")
    )
    per_val = docs.groupBy(F.col("n_chars").alias("value")).agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("na_v"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0)).alias("nb_v"),
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = docs.groupBy().agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0)).alias("n_b"),
    )
    diffs = (
        per_val.withColumn("ca", F.sum("na_v").over(w))
        .withColumn("cb", F.sum("nb_v").over(w))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "d_num", F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
        )
    )
    return (
        diffs.orderBy(F.desc("d_num"), F.asc("value"))
        .limit(1)
        .select(
            "n_a",
            "n_b",
            F.col("value").alias("at_value"),
            "d_num",
            (F.col("d_num") / (F.col("n_a") * F.col("n_b"))).alias("d_stat"),
        )
    )


KS_SOURCE_DRIFT_SQL = """
WITH docs AS (
  SELECT n_chars AS value, source FROM documents WHERE source IN ('src0', 'src1')
),
tot AS (
  SELECT CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM docs
),
per_val AS (
  SELECT value,
         CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS na_v,
         CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS nb_v
  FROM docs GROUP BY value
),
cum AS (
  SELECT value,
         CAST(SUM(na_v) OVER (ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
         CAST(SUM(nb_v) OVER (ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
  FROM per_val
)
SELECT (SELECT n_a FROM tot) AS n_a,
       (SELECT n_b FROM tot) AS n_b,
       value AS at_value,
       ABS(ca * (SELECT n_b FROM tot) - cb * (SELECT n_a FROM tot)) AS d_num,
       CAST(ABS(ca * (SELECT n_b FROM tot) - cb * (SELECT n_a FROM tot)) AS DOUBLE)
         / ((SELECT n_a FROM tot) * (SELECT n_b FROM tot)) AS d_stat
FROM cum
ORDER BY d_num DESC, value ASC
LIMIT 1
"""

# --------------------------------------------------------------------------
# wasserstein_length_drift — exact 1-D Wasserstein-1 (earth-mover)
# distance between each source's doc-length distribution and the
# whole-corpus distribution. Completes the drift family: PSI bins and
# loses within-bin shifts, KS takes only the WORST CDF gap, MMD needs
# a kernel — W1 integrates the full CDF gap in the value's own units
# ("this crawl's length profile moved by an average of N chars"),
# which is the number a mix owner can act on.
#
# For 1-D distributions W1 has the closed form ∫|F_s(x) − F_c(x)|dx,
# exact over integer-valued data as Σ_x |cum_s·n_c − cum_c·n_s|·Δx
# over the corpus-distinct values with ONE division at the end —
# same integer cross-product trick as ks_source_drift, extended from
# max to integral.
#
# Scale: all windows run over the per-VALUE histogram frame, whose
# size is bounded by the value domain (max doc length), independent
# of corpus size — the ks_source_drift precedent. The per-source
# cumsum partitions by source over that histogram grid (|values| ×
# |sources| rows, model-sized); the corpus-sized work is two
# map-side-combinable groupBys. Terms ride DECIMAL(38,0) so no
# order-dependent float sum crosses an aggregation.
# --------------------------------------------------------------------------


def _w1_vs_corpus_num(vals):
    """The exact 1-D W1 kernel over a (source, x) value frame: per
    source, (n_s, n_c, w1_num) with w1 = w1_num / (n_s·n_c). Factored
    out so the property test can feed synthetic samples and compare
    against a Fraction-exact pure-Python W1
    (tests/test_properties.py)."""
    from pyspark.sql import Window as W

    ch = vals.groupBy("x").agg(F.count("*").alias("c_cnt"))
    wg = W.orderBy("x")
    corpus = ch.select(
        "x",
        F.sum("c_cnt")
        .over(wg.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum_c"),
        (F.lead("x").over(wg) - F.col("x")).alias("dx"),
    )
    srcs = vals.groupBy("source").agg(F.count("*").alias("n_s"))
    tot = vals.agg(F.count("*").alias("n_c"))
    sh = vals.groupBy("source", "x").agg(F.count("*").alias("s_cnt"))
    grid = (
        corpus.crossJoin(F.broadcast(srcs))
        .join(sh, ["source", "x"], "left")
        .withColumn("s_cnt", F.coalesce(F.col("s_cnt"), F.lit(0)))
    )
    ws = W.partitionBy("source").orderBy("x").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    terms = grid.withColumn("cum_s", F.sum("s_cnt").over(ws)).crossJoin(
        F.broadcast(tot)
    )
    # dx is NULL only at the max value, where cum_s·n_c = cum_c·n_s
    # exactly (both CDFs are 1), so coalescing to 0 adds an exact
    # zero term — and keeps every source in the groupBy even for a
    # degenerate single-valued corpus (W1 = 0, not zero rows).
    # operands enter DECIMAL(38,0) BEFORE the multiplies: cum·n
    # approaches n_c² (≈ 8.5e18 at 2.9e9 rows) and the ·dx factor
    # lowers the 2^63 ceiling further — a BIGINT product would wrap
    # silently on Spark and error on DuckDB long before the sum
    return (
        terms.withColumn(
            "term",
            F.abs(
                F.col("cum_s").cast("decimal(38,0)")
                * F.col("n_c").cast("decimal(38,0)")
                - F.col("cum_c").cast("decimal(38,0)")
                * F.col("n_s").cast("decimal(38,0)")
            )
            * F.coalesce(F.col("dx"), F.lit(0)).cast("decimal(38,0)"),
        )
        .groupBy("source", "n_s", "n_c")
        .agg(F.sum("term").alias("w1_num"))
    )


def q_wasserstein_length_drift(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    num = _w1_vs_corpus_num(docs.select("source", F.col("n_chars").alias("x")))
    return num.select(
        "source",
        F.col("n_s").alias("n_docs"),
        F.round(
            F.col("w1_num").cast("double")
            / (F.col("n_s").cast("double") * F.col("n_c")),
            6,
        ).alias("w1_chars"),
    ).orderBy("source")


WASSERSTEIN_LENGTH_DRIFT_SQL = f"""
WITH ch AS (
  SELECT n_chars AS x, CAST(COUNT(*) AS BIGINT) AS c_cnt
  FROM documents GROUP BY n_chars
),
corpus AS (
  SELECT x,
         CAST(SUM(c_cnt) OVER (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_c,
         LEAD(x) OVER (ORDER BY x) - x AS dx
  FROM ch
),
srcs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY source
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_c FROM documents),
sh AS (
  SELECT source, n_chars AS x, CAST(COUNT(*) AS BIGINT) AS s_cnt
  FROM documents GROUP BY source, n_chars
),
grid AS (
  SELECT s.source, s.n_s, c.x, c.cum_c, c.dx, COALESCE(sh.s_cnt, 0) AS s_cnt
  FROM corpus c CROSS JOIN srcs s
  LEFT JOIN sh ON sh.source = s.source AND sh.x = c.x
),
terms AS (
  SELECT source, n_s, x, dx, cum_c,
         CAST(SUM(s_cnt) OVER (PARTITION BY source ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_s
  FROM grid
),
num AS (
  -- dx NULL only at the max value, where the CDF gap is exactly 0:
  -- COALESCE keeps the row (and the source) with a zero term
  -- operands enter HUGEINT before the multiplies (the Spark side
  -- mirrors with DECIMAL(38,0)): cum·n products exceed BIGINT long
  -- before the sum at production row counts
  SELECT source, n_s,
         SUM(ABS(CAST(cum_s AS HUGEINT) * (SELECT n_c FROM tot)
                 - CAST(cum_c AS HUGEINT) * n_s)
             * COALESCE(dx, 0)) AS w1_num
  FROM terms
  GROUP BY source, n_s
)
SELECT source, n_s AS n_docs,
       {_sql_round(
           'CAST(w1_num AS DOUBLE)'
           ' / (CAST(n_s AS DOUBLE) * (SELECT n_c FROM tot))', 6
       )} AS w1_chars
FROM num
ORDER BY source
"""

# --------------------------------------------------------------------------
# blocked_fuzzy_match — entity-resolution candidate generation:
# customers × suppliers with an edit-distance filter, joined only
# within nation blocks.
#
# The blocking join is THE scale move for record linkage: |C|·|S|
# all-pairs is impossible at 100 TB, but within-block pairs are
# |C_b|·|S_b| summed over blocks — bounded by the block-size cap a
# production pipeline enforces. Multiple redundant blocking keys
# (here: nation) union for recall; Levenshtein runs JVM-side.
# --------------------------------------------------------------------------

_FUZZY_MAX_DIST = 2


def q_blocked_fuzzy_match(spark, sf_dir):
    cust = table(spark, sf_dir, "customer").select(
        "c_name", F.col("c_nationkey").alias("nationkey"),
        F.substring("c_name", 10, 9).alias("c_id"),
    )
    supp = table(spark, sf_dir, "supplier").select(
        "s_name", F.col("s_nationkey").alias("nationkey"),
        F.substring("s_name", 10, 9).alias("s_id"),
    )
    return (
        cust.join(supp, "nationkey")
        .withColumn("dist", F.levenshtein("c_id", "s_id"))
        .where(F.col("dist") <= _FUZZY_MAX_DIST)
        .select("nationkey", "c_name", "s_name", "dist")
        .orderBy("nationkey", "c_name", "s_name")
    )


BLOCKED_FUZZY_MATCH_SQL = f"""
SELECT c_nationkey AS nationkey, c_name, s_name,
       levenshtein(substr(c_name, 10, 9), substr(s_name, 10, 9)) AS dist
FROM customer
JOIN supplier ON c_nationkey = s_nationkey
WHERE levenshtein(substr(c_name, 10, 9), substr(s_name, 10, 9)) <= {_FUZZY_MAX_DIST}
ORDER BY nationkey, c_name, s_name
"""

# --------------------------------------------------------------------------
# fellegi_sunter_linkage — probabilistic record linkage (Fellegi &
# Sunter 1969): the classical entity-resolution decision model on top
# of blocked candidate generation.
#
# Each candidate pair gets a log-likelihood score Σ_i γ_i·ln(m_i/u_i)
# + (1−γ_i)·ln((1−m_i)/(1−u_i)) over field-agreement indicators γ,
# then the three-way decision rule (match / review / non-match) by
# upper/lower thresholds — exactly the artifact a linkage pipeline
# tunes. m/u parameters are fixed literals here (a production system
# EM-fits them; the scoring/decision plan is identical), and the
# ln-weights are computed DRIVER-SIDE so both engines add the same
# double literals — no cross-libm ln in the row path.
#
# Scale: same nation-blocking as blocked_fuzzy_match (|C_b|·|S_b| per
# block, never |C|·|S|); scoring is a map-side CASE-sum; the output is
# the |blocks|×3 decision matrix, aggregated with order-independent
# decimal sums.
# --------------------------------------------------------------------------

import math as _math

#: (field, m = P(agree|match), u = P(agree|non-match))
_FS_FIELDS = (
    ("idtok", 0.95, 0.02),    # 9-char name id-token within edit distance 1
    ("balcents", 0.90, 0.01), # exact trailing cents digits of the balance
    ("balband", 0.85, 0.15),  # account-balance thousand-band
)
_FS_W = {
    name: (_math.log(m / u), _math.log((1 - m) / (1 - u)))
    for name, m, u in _FS_FIELDS
}
_FS_UPPER = 3.0
_FS_LOWER = 0.0


def q_fellegi_sunter_linkage(spark, sf_dir):
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"),
        F.substring("c_name", 10, 9).alias("c_id"),
        (F.floor(F.abs(F.col("c_acctbal")) * 100 + 0.5) % 100).alias("c_cents"),
        F.floor(F.col("c_acctbal") / 1000).alias("c_band"),
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"),
        F.substring("s_name", 10, 9).alias("s_id"),
        (F.floor(F.abs(F.col("s_acctbal")) * 100 + 0.5) % 100).alias("s_cents"),
        F.floor(F.col("s_acctbal") / 1000).alias("s_band"),
    )
    gammas = {
        "idtok": F.levenshtein("c_id", "s_id") <= 1,
        "balcents": F.col("c_cents") == F.col("s_cents"),
        "balband": F.col("c_band") == F.col("s_band"),
    }
    score = sum(
        F.when(gammas[name], F.lit(wa)).otherwise(F.lit(wd))
        for name, (wa, wd) in _FS_W.items()
    )
    scored = cust.join(supp, "nationkey").select(
        "nationkey", F.round(score, 6).alias("score")
    )
    decision = (
        F.when(F.col("score") >= _FS_UPPER, "match")
        .when(F.col("score") <= _FS_LOWER, "non-match")
        .otherwise("review")
    )
    return (
        scored.withColumn("decision", decision)
        .groupBy("nationkey", "decision")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(
                F.sum(F.col("score").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_score"),
        )
        .orderBy("nationkey", "decision")
    )


def _fellegi_sunter_sql() -> str:
    terms = []
    conds = {
        "idtok": "levenshtein(substr(c_name, 10, 9), substr(s_name, 10, 9)) <= 1",
        "balcents": (
            "FLOOR(abs(c_acctbal) * 100 + 0.5) % 100"
            " = FLOOR(abs(s_acctbal) * 100 + 0.5) % 100"
        ),
        "balband": "FLOOR(c_acctbal / 1000) = FLOOR(s_acctbal / 1000)",
    }
    for name, (wa, wd) in _FS_W.items():
        terms.append(f"CASE WHEN {conds[name]} THEN {wa!r} ELSE {wd!r} END")
    score = " + ".join(terms)
    return f"""
WITH scored AS (
  SELECT c_nationkey AS nationkey,
         {_sql_round(score, 6)} AS score
  FROM customer JOIN supplier ON c_nationkey = s_nationkey
),
decided AS (
  SELECT nationkey, score,
         CASE WHEN score >= {_FS_UPPER!r} THEN 'match'
              WHEN score <= {_FS_LOWER!r} THEN 'non-match'
              ELSE 'review' END AS decision
  FROM scored
)
SELECT nationkey, decision, COUNT(*) AS n_pairs,
       {_sql_round(
           'CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)', 6
       )} AS avg_score
FROM decided
GROUP BY nationkey, decision
ORDER BY nationkey, decision
"""


FELLEGI_SUNTER_LINKAGE_SQL = _fellegi_sunter_sql()


# --------------------------------------------------------------------------
# zorder_layout_stats — Z-order (Morton) layout audit for
# multi-dimensional scan pruning.
#
# At 100 TB, files clustered by a single key prune scans on that key
# only; interleaving the bits of two keys (part, supplier) gives files
# whose min/max ranges are tight on BOTH — the layout Delta/Iceberg
# OPTIMIZE ZORDER produces. This query reproduces the WRITER's code
# exactly (sources/sinks.py::zorder_value): each key min/max-scaled
# onto the 16-bit grid, then interleaved with col0 (partkey) on even
# bit positions — in portable integer arithmetic ((x div 2^i) mod 2 ·
# 2^(2i+δ), no engine-specific bit ops). Scaling matters beyond
# fidelity: interleaving RAW low 16 bits would WRAP any key above
# 2^16 (l_partkey reaches 200k at SF1), collapsing parts p and
# p+65536 into one bucket and silently widening every min/max range
# the audit exists to prove narrow.
#
# Scale: the code is a map-side expression; the audit is one groupBy
# on bucket. The actual clustered writer is
# sources/sinks.py::write_zorder_parquet (repartitionByRange on the
# Morton key + sortWithinPartitions); this query is its oracle-checked
# audit twin — same interleave, expressed portably for both engines.
# --------------------------------------------------------------------------

_Z_BITS = 16
_Z_BUCKET_SHIFT = 2 ** 16  # keep the top interleaved bits → one bucket per
# 256×256 (part, supp) tile; bucket count adapts to the key domain


def _morton_terms(x_expr: str, y_expr: str) -> str:
    """Portable SQL for the 2·_Z_BITS-bit Morton interleave — x (col0)
    on EVEN bit positions, y (col1) on odd, matching
    sinks.zorder_value's spread(col_j) << j layout — as pure +/div/mod
    arithmetic valid in both Spark SQL and DuckDB (Spark: div;
    DuckDB: //)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({x_expr} {{d}} {2**i}) % 2) * {2**(2*i)}")
        terms.append(f"(({y_expr} {{d}} {2**i}) % 2) * {2**(2*i+1)}")
    return " + ".join(terms)


def _z_scaled(col: str, lo: str, hi: str) -> str:
    """min/max scaling onto the 16-bit grid, the identical double
    arithmetic zorder_value uses: floor((x-lo)/span * grid_max),
    span 1.0 when the column is constant. One subtract, one divide,
    one multiply, one floor — same IEEE ops in the same order in both
    engines."""
    grid_max = (1 << _Z_BITS) - 1
    span = f"(CASE WHEN {hi} > {lo} THEN CAST({hi} - {lo} AS DOUBLE) ELSE 1.0 END)"
    return (
        f"LEAST({grid_max}, CAST(floor((CAST({col} AS DOUBLE) - {lo})"
        f" / {span} * {grid_max}) AS BIGINT))"
    )


def q_zorder_layout_stats(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    # 1-row key-range broadcast: the writer derives its grid from the
    # data's min/max, so the audit must too (plan-sweep allowlisted)
    rng = li.agg(
        F.min("l_partkey").alias("lo_p"),
        F.max("l_partkey").alias("hi_p"),
        F.min("l_suppkey").alias("lo_s"),
        F.max("l_suppkey").alias("hi_s"),
    )
    li = li.join(F.broadcast(rng))
    zval = F.expr(
        _morton_terms(
            _z_scaled("l_partkey", "lo_p", "hi_p"),
            _z_scaled("l_suppkey", "lo_s", "hi_s"),
        ).format(d="div")
    )
    return (
        li.withColumn("zval", zval)
        .withColumn("bucket", F.expr(f"zval div {_Z_BUCKET_SHIFT}"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
        .orderBy("bucket")
    )


ZORDER_LAYOUT_STATS_SQL = f"""
WITH r AS (
  SELECT MIN(l_partkey) AS lo_p, MAX(l_partkey) AS hi_p,
         MIN(l_suppkey) AS lo_s, MAX(l_suppkey) AS hi_s
  FROM lineitem
),
z AS (
  SELECT l_partkey, l_suppkey,
         {_morton_terms(
             _z_scaled("l_partkey", "lo_p", "hi_p"),
             _z_scaled("l_suppkey", "lo_s", "hi_s"),
         ).format(d="//")} AS zval
  FROM lineitem, r
)
SELECT zval // {_Z_BUCKET_SHIFT} AS bucket,
       COUNT(*) AS n_rows,
       MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
       MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
FROM z
GROUP BY bucket
ORDER BY bucket
"""


# --------------------------------------------------------------------------
# touch_attribution — first/last-touch marketing attribution.
#
# For every purchase, find the user's first and last touch (click or
# view) in the preceding 7 days, then report conversion counts and
# value by (first_touch, last_touch) channel pair — the standard
# attribution matrix.
#
# Scale: the purchases⋈touches join is equi on user_id with an
# interval predicate — fan-out is touches-per-user-per-week, never
# corpus-wide. One row_number window per purchase picks the
# deterministic first/last (ts, then event_id tiebreak). Money sums
# route through DECIMAL per the suite rule.
# --------------------------------------------------------------------------


def q_touch_attribution(spark, sf_dir):
    from pyspark.sql import Window as W

    from city_payroll_data_pipeline_spark.suite.parity import _dec_sum

    ev = table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    touches = ev.where(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("t_type"),
        F.col("event_id").alias("t_id"),
    )
    joined = purchases.join(
        touches,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    w_first = W.partitionBy("p_id").orderBy("t_ts", "t_id")
    w_last = W.partitionBy("p_id").orderBy(F.desc("t_ts"), F.desc("t_id"))
    ranked = joined.withColumn("rn_f", F.row_number().over(w_first)).withColumn(
        "rn_l", F.row_number().over(w_last)
    )
    firsts = ranked.where(F.col("rn_f") == 1).select(
        "p_id", F.col("t_type").alias("first_touch")
    )
    lasts = ranked.where(F.col("rn_l") == 1).select(
        "p_id", "p_value", F.col("t_type").alias("last_touch")
    )
    attributed = lasts.join(firsts, "p_id")
    return (
        attributed.groupBy("first_touch", "last_touch")
        .agg(
            F.count("*").alias("n_conversions"),
            _dec_sum(F.col("p_value"), "attributed_value"),
        )
        .orderBy("first_touch", "last_touch")
    )


TOUCH_ATTRIBUTION_SQL = f"""
WITH purchases AS (
  SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts, value AS p_value
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id AS t_user, ts AS t_ts, event_type AS t_type, event_id AS t_id
  FROM events WHERE event_type IN ('click', 'view')
),
joined AS (
  SELECT p.*, t.t_ts, t.t_type, t.t_id,
         ROW_NUMBER() OVER (PARTITION BY p.p_id ORDER BY t.t_ts, t.t_id) AS rn_f,
         ROW_NUMBER() OVER (PARTITION BY p.p_id ORDER BY t.t_ts DESC, t.t_id DESC) AS rn_l
  FROM purchases p
  JOIN touches t
    ON p.p_user = t.t_user
   AND t.t_ts < p.p_ts
   AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
),
attributed AS (
  SELECT l.p_id, l.p_value, f.t_type AS first_touch, l.t_type AS last_touch
  FROM joined l
  JOIN joined f ON f.p_id = l.p_id AND f.rn_f = 1
  WHERE l.rn_l = 1
)
SELECT first_touch, last_touch,
       COUNT(*) AS n_conversions,
       {_sql_dec_sum('p_value', 'attributed_value')}
FROM attributed
GROUP BY first_touch, last_touch
ORDER BY first_touch, last_touch
"""

# --------------------------------------------------------------------------
# trade_triangles — triangle counting on the (undirected) trade graph.
#
# The clustering-coefficient signal for graph quality audits. The
# classic scale trick: orient each undirected edge from the
# lower-degree endpoint to the higher (ties by id), then count
# wedge-closing joins — O(m^{3/2}) work instead of O(Σ deg²) on the
# unoriented graph, and every join is an equi hash join.
# --------------------------------------------------------------------------


def q_trade_triangles(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    und = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient low-degree → high-degree (tiebreak on node id)
    e = (
        und.join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("x2"), F.col("v").alias("z"))
    # wedges centered at x, with y < z so each is generated once; the
    # closing edge is looked up in the canonical (a < b) undirected
    # list — a pure equi hash join (y < z already matches a < b).
    wedges = e1.join(e2, (F.col("x") == F.col("x2")) & (F.col("y") < F.col("z"))).select(
        "x", "y", "z"
    )
    tris = wedges.join(
        und, (F.col("y") == und.a) & (F.col("z") == und.b)
    )
    return tris.agg(F.count("*").alias("n_triangles"))


TRADE_TRIANGLES_SQL = """
WITH und AS (
  SELECT DISTINCT LEAST(c_nationkey, s_nationkey) AS a,
                  GREATEST(c_nationkey, s_nationkey) AS b
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY node
),
e AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND und.a < und.b)
              THEN und.a ELSE und.b END AS u,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND und.a < und.b)
              THEN und.b ELSE und.a END AS v
  FROM und
  JOIN deg da ON und.a = da.node
  JOIN deg db ON und.b = db.node
),
wedges AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
)
SELECT COUNT(*) AS n_triangles
FROM wedges w
JOIN und ON w.y = und.a AND w.z = und.b
"""

# --------------------------------------------------------------------------
# degree_assortativity — degree-degree correlation of the trade graph.
#
# Newman's assortativity coefficient: the Pearson correlation of
# endpoint degrees over the distinct customer-supplier edges. r < 0
# (hub-centred/disassortative) vs r > 0 (peer-to-peer) — and in
# pipeline terms it predicts whether this join's skew CONCENTRATES
# (hot customers meet hot suppliers on the same keys → salt) or
# spreads. Degrees are exact integers; the five moment sums route
# through DECIMAL(38,0) and the lineitem_corr double op-tree yields r.
#
# Scale: the edge list is one distinct over (custkey, suppkey); two
# degree groupBys on it; the moment pass is partial+final agg. The
# degree joins shuffle the edge frame — at 100 TB pre-bucket the edge
# list by each key, or accept two exchanges of a (key, key, int) row.
# No windows, no driver loops.
# --------------------------------------------------------------------------


def q_degree_assortativity(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    cdeg = edges.groupBy("c").agg(F.count("*").alias("dc"))
    sdeg = edges.groupBy("s").agg(F.count("*").alias("ds"))
    j = edges.join(cdeg, "c").join(sdeg, "s")
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m = j.agg(
        F.count("*").alias("n_edges"),
        F.sum(dec(F.col("dc"))).alias("sx"),
        F.sum(dec(F.col("ds"))).alias("sy"),
        F.sum(dec(F.col("dc") * F.col("ds"))).alias("sxy"),
        F.sum(dec(F.col("dc") * F.col("dc"))).alias("sxx"),
        F.sum(dec(F.col("ds") * F.col("ds"))).alias("syy"),
    )
    n = F.col("n_edges")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    return m.select(
        "n_edges",
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            10,
        ).alias("assortativity"),
    )


DEGREE_ASSORTATIVITY_SQL = """
WITH edges AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
cdeg AS (SELECT c, COUNT(*) AS dc FROM edges GROUP BY c),
sdeg AS (SELECT s, COUNT(*) AS ds FROM edges GROUP BY s),
m AS (
  SELECT COUNT(*) AS n_edges,
         SUM(CAST(dc AS DECIMAL(38,0))) AS sx,
         SUM(CAST(ds AS DECIMAL(38,0))) AS sy,
         SUM(CAST(dc * ds AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(dc * dc AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(ds * ds AS DECIMAL(38,0))) AS syy
  FROM edges JOIN cdeg USING (c) JOIN sdeg USING (s)
)
SELECT n_edges,
       CAST(ROUND(CAST(CAST(((n_edges * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (sqrt(n_edges * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(n_edges * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS VARCHAR) AS DECIMAL(38,20)), 10) AS DOUBLE)
         AS assortativity
FROM m
"""

# --------------------------------------------------------------------------
# k_core_decay — unrolled k-core peeling of the trade graph.
#
# The k-core (maximal subgraph where every node keeps degree ≥ k) is
# the standard "dense backbone" extractor — spam-farm detection,
# community cores, robust-hub identification. Peeling is inherently
# iterative (removing a node lowers its neighbours' degrees), but a
# FIXED round budget unrolls exactly (the kmeans/bpe replay trick):
# each round recomputes degrees and keeps edges whose both endpoints
# clear k. The per-round (nodes_left, edges_left) trace doubles as a
# convergence certificate — equal consecutive rows == fixpoint
# reached. k itself is data-derived (⌈p75 of initial degree⌉) so the
# cut scales with the graph instead of a constant a dense graph
# ignores.
#
# Scale: per round, one degree groupBy + two semi joins on the edge
# list; node labels are side-tagged strings so the bipartite sides
# can't collide. The per-round stats are the fixed-point probe
# (operators/iterate.py): one bounded driver read whose job also
# materializes the round. At 100 TB run O(log n) rounds — the
# trace shows how few are needed (3 here: the tested graphs reach
# fixpoint in round 1-2 and the equal tail rows certify it).
# --------------------------------------------------------------------------

_KCORE_ROUNDS = 3


def q_k_core_decay(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("u"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("v"),
        )
        .distinct()
        .localCheckpoint()
    )

    def degrees(cur):
        return (
            cur.select(F.col("u").alias("node"))
            .unionAll(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )

    k = int(
        degrees(edges)
        .agg(F.ceil(F.percentile("d", 0.75)).alias("k"))
        .collect()[0]["k"]
    )

    def peel(cur, _):
        keep = degrees(cur).where(F.col("d") >= k).select("node")
        return (
            cur.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
        )

    def stats(cur, _):
        # each edge row contributes exactly 2 endpoint rows, so
        # edges_left = count div 2 exactly (a double /2 would round past
        # 2^53 endpoint rows), and nodes_left is the exact distinct count
        return (
            cur.select(F.explode(F.array("u", "v")).alias("node"))
            .agg(
                F.expr("count(*) div 2").alias("edges_left"),
                F.countDistinct("node").alias("nodes_left"),
            )
            .collect()[0]
        )

    _, trace = fixed_point(edges, peel, stats, _KCORE_ROUNDS)
    rows = [
        (rnd, k, s["nodes_left"], int(s["edges_left"]))
        for rnd, s in enumerate(trace, 1)
    ]
    return spark.createDataFrame(
        rows, "round int, k int, nodes_left bigint, edges_left bigint"
    )


def _kcore_sql() -> str:
    ctes = [
        """e0 AS MATERIALIZED (
  SELECT DISTINCT 'c' || o_custkey AS u, 's' || l_suppkey AS v
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        """kk AS MATERIALIZED (
  SELECT CAST(ceil(quantile_cont(d, 0.75)) AS BIGINT) AS k FROM (
    SELECT node, COUNT(*) AS d FROM (
      SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0
    ) GROUP BY node
  )
)""",
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        prev = f"e{r - 1}"
        ctes.append(f"""d{r} AS MATERIALIZED (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}
  ) GROUP BY node
)""")
        ctes.append(f"""e{r} AS MATERIALIZED (
  SELECT u, v FROM {prev}
  WHERE u IN (SELECT node FROM d{r} WHERE d >= (SELECT k FROM kk))
    AND v IN (SELECT node FROM d{r} WHERE d >= (SELECT k FROM kk))
)""")
    parts = [
        f"""SELECT {r} AS round, (SELECT CAST(k AS INTEGER) FROM kk) AS k,
  (SELECT COUNT(DISTINCT node) FROM
    (SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r})) AS nodes_left,
  (SELECT COUNT(*) FROM e{r}) AS edges_left"""
        for r in range(1, _KCORE_ROUNDS + 1)
    ]
    return (
        f"WITH {', '.join(ctes)} "
        + " UNION ALL ".join(parts)
        + " ORDER BY round"
    )


K_CORE_DECAY_SQL = _kcore_sql()


# --------------------------------------------------------------------------
# l_diversity_audit — the release gate k-anonymity alone misses.
#
# A class can be k-anonymous yet fully re-identifying if every member
# shares the SAME sensitive value (the homogeneity attack); l-diversity
# requires ≥ l distinct sensitive values per quasi-identifier class.
# QI = (nation, market segment); sensitive = account-balance band.
# Reports, per l threshold, how many classes and rows fall below.
#
# Scale: one groupBy on the QI tuple with a COUNT DISTINCT over the
# band (both exact); the threshold fan-out runs on the class frame.
# --------------------------------------------------------------------------

_LDIV_THRESHOLDS = (2, 3, 5)


def q_l_diversity_audit(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    classes = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.countDistinct("bal_band").alias("l"),
            F.count("*").alias("class_size"),
        )
    )
    return (
        classes.select(
            "*",
            F.explode(
                F.array(*[F.lit(t) for t in _LDIV_THRESHOLDS])
            ).alias("l_min"),
        )
        .groupBy("l_min")
        .agg(
            F.count("*").alias("n_classes"),
            F.sum(
                F.when(F.col("l") < F.col("l_min"), 1).otherwise(0)
            ).alias("n_classes_below"),
            F.sum(
                F.when(
                    F.col("l") < F.col("l_min"), F.col("class_size")
                ).otherwise(0)
            ).alias("n_rows_exposed"),
        )
        .orderBy("l_min")
    )


L_DIVERSITY_AUDIT_SQL = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         COUNT(DISTINCT FLOOR(c_acctbal / 1000)) AS l,
         COUNT(*) AS class_size
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
th AS (SELECT unnest([{', '.join(str(t) for t in _LDIV_THRESHOLDS)}]) AS l_min)
SELECT l_min,
       COUNT(*) AS n_classes,
       CAST(SUM(CASE WHEN l < l_min THEN 1 ELSE 0 END) AS BIGINT)
         AS n_classes_below,
       CAST(SUM(CASE WHEN l < l_min THEN class_size ELSE 0 END) AS BIGINT)
         AS n_rows_exposed
FROM classes, th
GROUP BY l_min
ORDER BY l_min
"""


# --------------------------------------------------------------------------
# histogram_quantiles — mergeable single-pass approximate quantiles.
#
# The 100 TB quantile path: fixed-width integer bins are mergeable
# across partitions/days (unlike exact sort-based percentiles), and
# because the bins are integers the whole estimate is deterministic —
# no sketch randomness. Reports, per quantile, the bin lower edge
# containing the q-th value (cents precision / $16 bins).
#
# Scale: one map-side bin projection + one groupBy over bin
# cardinality (thousands), then a window cumsum over the tiny bin
# frame. Error bound = bin width, known a priori.
# --------------------------------------------------------------------------

_HQ_BIN_CENTS = 1600  # $16 bins over l_extendedprice


def q_histogram_quantiles(spark, sf_dir):
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    # cents via DECIMAL(18,2): exact — a double*100 truncation would
    # differ between engines (Spark CAST truncates, DuckDB rounds)
    bins = (
        li.select(
            F.expr(
                "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
                f" div {_HQ_BIN_CENTS}"
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
    )
    # total from the BIN frame, not a second scan of the fact — the
    # thousands-row bin aggregate already holds every row exactly once
    bins = bins.localCheckpoint()
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = bins.withColumn("cum", F.sum("n").over(w)).crossJoin(
        F.broadcast(bins.agg(F.sum("n").alias("total")))
    )
    qs = spark.createDataFrame([(50,), (90,), (99,)], "q int")
    return (
        cum.join(F.broadcast(qs), F.col("cum") * 100 >= F.col("q") * F.col("total"))
        .groupBy("q")
        .agg(
            F.min("bin").alias("qbin"),
        )
        .withColumn("approx_value", F.col("qbin") * _HQ_BIN_CENTS / F.lit(100))
        .orderBy("q")
    )


HISTOGRAM_QUANTILES_SQL = f"""
WITH bins AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           // {_HQ_BIN_CENTS} AS bin,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT bin,
         CAST(SUM(n) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM bins
),
tot AS (SELECT COUNT(*) AS total FROM lineitem),
qs AS (SELECT UNNEST([50, 90, 99]) AS q)
SELECT q, MIN(bin) AS qbin,
       CAST(MIN(bin) * {_HQ_BIN_CENTS} AS DOUBLE) / 100 AS approx_value
FROM cum, qs
WHERE cum * 100 >= q * (SELECT total FROM tot)
GROUP BY q
ORDER BY q
"""

# --------------------------------------------------------------------------
# quantile_sketch_error — certify the mergeable binned-quantile path
# against exact rank-k order statistics.
#
# histogram_quantiles is the 100 TB quantile path; this query is its
# accuracy certificate (the ann_recall_report pattern): for each q it
# reports the sketch's bin edge, the TRUE rank-⌈q·n/100⌉ value, and
# whether the error sits inside the bin-width bound the sketch
# promises. The exact value is recovered scale-safely: the cumulative
# bin histogram locates the one bin containing rank k, and only THAT
# bin's rows are ranked (a partitioned window over a bin-bounded
# frame) — never a global sort.
#
# Determinism: prices ride exact DECIMAL cents; every comparison and
# division is integer until the final /100 display cast.
# --------------------------------------------------------------------------

_QERR_QS = (50, 90, 99)


def q_quantile_sketch_error(spark, sf_dir):
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    cents = F.expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    )
    # prices feeds the bin aggregate AND the rank-recovery join —
    # checkpoint so the fact is scanned once, not three times; total
    # comes from the bin frame for the same reason
    prices = (
        li.select(cents.alias("c"))
        .withColumn("bin", F.expr(f"c div {_HQ_BIN_CENTS}"))
        .localCheckpoint()
    )
    bins = prices.groupBy("bin").agg(F.count("*").alias("n"))
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = bins.withColumn("cum", F.sum("n").over(w)).crossJoin(
        F.broadcast(bins.agg(F.sum("n").alias("total")))
    )
    qs = spark.createDataFrame([(q,) for q in _QERR_QS], "q int")
    qbins = (
        cum.join(
            F.broadcast(qs),
            F.col("cum") * 100 >= F.col("q") * F.col("total"),
        )
        .groupBy("q", "total")
        .agg(
            F.min("bin").alias("qbin"),
            F.min_by(F.col("cum") - F.col("n"), F.col("bin")).alias(
                "cum_before"
            ),
        )
        .withColumn(
            "k", F.ceil(F.col("q") * F.col("total") / 100).cast("bigint")
        )
    )
    in_bin = prices.join(F.broadcast(qbins), prices["bin"] == qbins["qbin"])
    wq = W.partitionBy("q").orderBy("c")
    exact = (
        in_bin.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") == F.col("k") - F.col("cum_before"))
        .select("q", "qbin", "c")
    )
    err = F.col("c") - F.col("qbin") * _HQ_BIN_CENTS
    return exact.select(
        "q",
        (F.col("qbin") * _HQ_BIN_CENTS / F.lit(100.0)).alias("approx_value"),
        (F.col("c") / F.lit(100.0)).alias("exact_value"),
        err.alias("abs_err_cents"),
        ((err >= 0) & (err < _HQ_BIN_CENTS)).alias("within_bin_bound"),
    ).orderBy("q")


QUANTILE_SKETCH_ERROR_SQL = f"""
WITH prices AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           // {_HQ_BIN_CENTS} AS bin
  FROM lineitem
),
bins AS (SELECT bin, COUNT(*) AS n FROM prices GROUP BY bin),
cum AS (
  SELECT bin, n,
         CAST(SUM(n) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM bins
),
tot AS (SELECT COUNT(*) AS total FROM prices),
qs AS (SELECT UNNEST([{', '.join(str(q) for q in _QERR_QS)}]) AS q),
qbins AS (
  SELECT q, total, MIN(bin) AS qbin,
         MIN_BY(cum - n, bin) AS cum_before,
         CAST(ceil(q * total / 100.0) AS BIGINT) AS k
  FROM cum, qs, tot
  WHERE cum * 100 >= q * total
  GROUP BY q, total
),
exact AS (
  SELECT q, qbin, c FROM (
    SELECT qb.q, qb.qbin, p.c, qb.k, qb.cum_before,
           ROW_NUMBER() OVER (PARTITION BY qb.q ORDER BY p.c) AS rn
    FROM prices p JOIN qbins qb ON p.bin = qb.qbin
  ) WHERE rn = k - cum_before
)
SELECT q,
       CAST(qbin * {_HQ_BIN_CENTS} AS DOUBLE) / 100.0 AS approx_value,
       CAST(c AS DOUBLE) / 100.0 AS exact_value,
       c - qbin * {_HQ_BIN_CENTS} AS abs_err_cents,
       (c - qbin * {_HQ_BIN_CENTS} >= 0
        AND c - qbin * {_HQ_BIN_CENTS} < {_HQ_BIN_CENTS}) AS within_bin_bound
FROM exact
ORDER BY q
"""


# --------------------------------------------------------------------------
# decision_stump_split — distributed best-split search (one boosting /
# tree round). The inner loop of every tree learner: over all candidate
# thresholds on a feature, pick the split maximizing impurity reduction
# for a binary target (return flag vs price). For a 0/1 target,
# maximizing Σ_side pos²/n is exactly minimizing SSE. Candidates are
# the $16 price bins (bounded, mergeable — the histogram_quantiles
# frame), left/right tallies come from one cumsum over the bin frame,
# and the argmax is a TakeOrdered over bin-level scores (exact-integer
# inputs → identical doubles both engines).
#
# Scale: one fact pass into the bin histogram; everything after runs
# on the |bins| frame. This is the per-feature unit a distributed
# GBDT round fans out over columns.
# --------------------------------------------------------------------------

def q_decision_stump_split(spark, sf_dir):
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    rows = li.select(
        F.expr(
            f"CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            f" div {_HQ_BIN_CENTS}"
        ).alias("bin"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    bins = rows.groupBy("bin").agg(
        F.count("*").alias("n"), F.sum("y").alias("pos")
    )
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = bins.agg(
        F.sum("n").alias("tn"), F.sum("pos").alias("tp")
    )
    cum = (
        bins.withColumn("ln", F.sum("n").over(w))
        .withColumn("lp", F.sum("pos").over(w))
        .join(F.broadcast(tot))
        .withColumn("rn", F.col("tn") - F.col("ln"))
        .withColumn("rp", F.col("tp") - F.col("lp"))
        .where((F.col("ln") > 0) & (F.col("rn") > 0))
    )
    score = F.round(
        (F.col("lp") * F.col("lp")).cast("double") / F.col("ln").cast("double")
        + (F.col("rp") * F.col("rp")).cast("double") / F.col("rn").cast("double"),
        10,
    )
    best = (
        cum.withColumn("score", score)
        .orderBy(F.desc("score"), "bin")
        .limit(1)
    )
    return best.select(
        F.col("bin").alias("split_bin"),
        (F.col("bin") * _HQ_BIN_CENTS / F.lit(100.0)).alias("split_price_le"),
        F.col("ln").alias("left_n"),
        F.col("lp").alias("left_pos"),
        F.col("rn").alias("right_n"),
        F.col("rp").alias("right_pos"),
        "score",
    )



DECISION_STUMP_SPLIT_SQL = f"""
WITH rows_ AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           // {_HQ_BIN_CENTS} AS bin,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
),
bins AS (
  SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM rows_ GROUP BY bin
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(pos) AS BIGINT) AS tp FROM bins),
cum AS (
  SELECT bin,
         CAST(SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ln,
         CAST(SUM(pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lp,
         tn, tp
  FROM bins, tot
),
scored AS (
  SELECT bin, ln, lp, tn - ln AS rn, tp - lp AS rp,
         CAST(ROUND(CAST(CAST((CAST(lp * lp AS DOUBLE) / CAST(ln AS DOUBLE) + CAST((tp - lp) * (tp - lp) AS DOUBLE) / CAST(tn - ln AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,20)), 10) AS DOUBLE)
           AS score
  FROM cum WHERE ln > 0 AND tn - ln > 0
)
SELECT bin AS split_bin,
       CAST(bin * {_HQ_BIN_CENTS} AS DOUBLE) / 100.0 AS split_price_le,
       ln AS left_n, lp AS left_pos, rn AS right_n, rp AS right_pos, score
FROM scored ORDER BY score DESC, bin LIMIT 1
"""



# --------------------------------------------------------------------------
# mad_outliers — robust per-source outlier detection via median
# absolute deviation (MAD).
#
# Mean/stddev outlier rules break on the heavy-tailed length
# distributions web corpora have; the MAD rule (|x − med| > k·MAD) is
# the robust standard. Two exact medians (value, then absolute
# deviation) per source, then a broadcast join back — the per-group
# median is sort-based, so at 100 TB swap in the histogram sketch
# above; the exact form stays for audit parity.
# --------------------------------------------------------------------------

_MAD_K = 3.0


def q_mad_outliers(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    med = docs.groupBy("source").agg(F.median("n_chars").alias("med"))
    dev = (
        docs.join(F.broadcast(med), "source")
        .withColumn("adev", F.abs(F.col("n_chars") - F.col("med")))
        .groupBy("source")
        .agg(F.first("med").alias("med"), F.median("adev").alias("mad"))
    )
    return (
        docs.join(F.broadcast(dev), "source")
        .withColumn(
            "is_outlier",
            F.abs(F.col("n_chars") - F.col("med")) > F.lit(_MAD_K) * F.col("mad"),
        )
        .groupBy("source")
        .agg(
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("is_outlier"), 1).otherwise(0)).alias("n_outliers"),
        )
        .orderBy("source")
    )


MAD_OUTLIERS_SQL = f"""
WITH med AS (
  SELECT source, median(n_chars) AS med FROM documents GROUP BY source
),
dev AS (
  SELECT d.source, ANY_VALUE(m.med) AS med,
         median(ABS(d.n_chars - m.med)) AS mad
  FROM documents d JOIN med m ON d.source = m.source
  GROUP BY d.source
)
SELECT d.source, ANY_VALUE(v.med) AS med, ANY_VALUE(v.mad) AS mad,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN ABS(d.n_chars - v.med) > {_MAD_K} * v.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM documents d JOIN dev v ON d.source = v.source
GROUP BY d.source
ORDER BY d.source
"""


# --------------------------------------------------------------------------
# quality_logit_deciles — linear quality-model inference in-plan.
#
# The model-based counterpart of the heuristic doc_quality filter: a
# trained linear classifier (weights fixed here; production would
# broadcast them from a model registry) scored entirely in integer
# arithmetic — features are exact counts, weights are integers, so
# the logit is an exact BIGINT and the decile assignment is
# bit-deterministic. NTILE(10) over (logit, doc_id) yields the
# calibration table curation teams threshold against.
#
# Scale: scoring is map-side; the only shuffle is the decile window's
# global sort — at 100 TB replace NTILE with thresholds interpolated
# from histogram_quantiles (same suite) to keep it one pass.
# --------------------------------------------------------------------------

_QL_W = {"bias": -50, "tok": 3, "stop": 10, "punct": -8, "chars": 1}


def _quality_logit_scored(spark, sf_dir):
    """(doc_id, n_chars, logit): the integer quality-classifier
    inference shared by q_quality_logit_deciles and its *_scaled twin
    — both register against NTILE oracles over the SAME logit, so one
    definition is the only way a weight or feature-regex change stays
    consistent across the pair."""
    from city_payroll_data_pipeline_spark.functions.text import (
        lang_marker_pattern,
        token_count,
    )

    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.col("n_chars"),
        (
            F.lit(_QL_W["bias"])
            + _QL_W["tok"] * token_count(t)
            + _QL_W["stop"] * F.regexp_count(F.lower(t), F.lit(lang_marker_pattern("en")))
            + _QL_W["punct"] * F.regexp_count(t, F.lit(PUNCT_CHAR_RE))
            + _QL_W["chars"] * F.length(t)
        ).cast("long").alias("logit"),
    )


def q_quality_logit_deciles(spark, sf_dir):
    from pyspark.sql import Window as W

    scored = _quality_logit_scored(spark, sf_dir)
    w = W.orderBy("logit", "doc_id")
    return (
        scored.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("logit").alias("min_logit"),
            F.max("logit").alias("max_logit"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("decile")
    )


# the scored CTE body shared by every oracle over the quality logit —
# one definition so a weight/regex change stays consistent across the
# decile pair and the threshold sweep (the Spark-side twin of
# _quality_logit_scored)
_QL_SCORED_CTE = rf"""SELECT doc_id, n_chars,
         CAST({_QL_W["bias"]}
              + {_QL_W["tok"]} * len(regexp_extract_all(text, '\S+', 0))
              + {_QL_W["stop"]} * len(regexp_extract_all(lower(text),
                    '{lang_marker_pattern("en")}', 0))
              + {_QL_W["punct"]} * len(regexp_extract_all(text, '{PUNCT_CHAR_RE}', 0))
              + {_QL_W["chars"]} * length(text)
           AS BIGINT) AS logit
  FROM documents"""

QUALITY_LOGIT_DECILES_SQL = rf"""
WITH scored AS (
  {_QL_SCORED_CTE}
)
SELECT decile, COUNT(*) AS n_docs,
       MIN(logit) AS min_logit, MAX(logit) AS max_logit,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM (SELECT *, NTILE(10) OVER (ORDER BY logit, doc_id) AS decile FROM scored)
GROUP BY decile
ORDER BY decile
"""


def q_quality_logit_deciles_scaled(spark, sf_dir):
    """The promised scale path for quality_logit_deciles: the same
    calibration table with decile assignment via operators/ntile.py
    (no global row-level sort) — the exact NTILE SQL is its oracle."""
    from city_payroll_data_pipeline_spark.operators.ntile import (
        ntile_no_global_sort,
    )

    scored = _quality_logit_scored(spark, sf_dir)
    binned = ntile_no_global_sort(scored, 10, "logit", "doc_id", "decile")
    return (
        binned.groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("logit").alias("min_logit"),
            F.max("logit").alias("max_logit"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("decile")
    )

# --------------------------------------------------------------------------
# quality_threshold_sweep — the "where to cut" curve over the quality
# logit: for each candidate threshold τ, how many documents and how
# much character mass survive logit ≥ τ, plus the mean kept logit.
# quality_logit_deciles shows the score DISTRIBUTION; this is the
# decision table a curation owner actually thresholds against (the
# dedup_threshold_sweep pattern applied to quality filtering). Grid
# spans the observed logit range at every SF.
#
# Scale: scoring is map-side; ONE explode fans each doc to |grid| rows
# (a constant ≤ 6×), one groupBy(threshold) reduce — no windows, no
# joins; all counts exact integers with one guarded double division
# per output column.
# --------------------------------------------------------------------------

_QT_GRID = (0, 150, 300, 450, 600, 750)


def q_quality_threshold_sweep(spark, sf_dir):
    scored = _quality_logit_scored(spark, sf_dir)
    grid = F.array(*[F.lit(t) for t in _QT_GRID])
    fan = scored.select(
        "doc_id", "n_chars", "logit", F.explode(grid).alias("threshold")
    )
    kept = F.col("logit") >= F.col("threshold")
    agg = fan.groupBy("threshold").agg(
        F.count("*").alias("n_docs"),
        F.sum(kept.cast("long")).alias("kept_docs"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.when(kept, F.col("logit")).otherwise(0)).alias("kept_logit"),
    )
    return agg.select(
        "threshold",
        "n_docs",
        "kept_docs",
        "kept_chars",
        F.round(
            F.col("kept_docs").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("kept_doc_frac"),
        F.round(
            F.col("kept_chars").cast("double")
            / F.col("total_chars").cast("double"),
            6,
        ).alias("kept_char_frac"),
        F.when(
            F.col("kept_docs") > 0,
            F.round(
                F.col("kept_logit").cast("double")
                / F.col("kept_docs").cast("double"),
                6,
            ),
        ).alias("avg_kept_logit"),
    ).orderBy("threshold")


QUALITY_THRESHOLD_SWEEP_SQL = f"""
WITH scored AS (
  {_QL_SCORED_CTE}
),
fan AS (
  SELECT doc_id, n_chars, logit, t AS threshold
  FROM scored CROSS JOIN unnest([{", ".join(str(t) for t in _QT_GRID)}]) AS g(t)
),
agg AS (
  SELECT threshold,
         COUNT(*) AS n_docs,
         SUM(CASE WHEN logit >= threshold THEN 1 ELSE 0 END) AS kept_docs,
         SUM(CASE WHEN logit >= threshold THEN n_chars ELSE 0 END) AS kept_chars,
         SUM(n_chars) AS total_chars,
         SUM(CASE WHEN logit >= threshold THEN logit ELSE 0 END) AS kept_logit
  FROM fan GROUP BY threshold
)
SELECT CAST(threshold AS INT) AS threshold,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(kept_docs AS BIGINT) AS kept_docs,
       CAST(kept_chars AS BIGINT) AS kept_chars,
       {_sql_round('CAST(kept_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)', 6)}
         AS kept_doc_frac,
       {_sql_round(
           'CAST(kept_chars AS DOUBLE) / CAST(total_chars AS DOUBLE)', 6)}
         AS kept_char_frac,
       CASE WHEN kept_docs > 0 THEN
         {_sql_round('CAST(kept_logit AS DOUBLE) / CAST(kept_docs AS DOUBLE)', 6)}
       END AS avg_kept_logit
FROM agg
ORDER BY threshold
"""


# --------------------------------------------------------------------------
# discriminative_terms — per-source signature terms by odds ratio.
#
# Which words mark a source out against the rest of the corpus — the
# domain-signature diagnostic used when deciding corpus mix weights.
# Add-1 smoothed odds ratio on the 2×2 (source, term) contingency
# table, computed as exact integer cross-products with ONE final
# division (deterministic double), top-5 per source by
# (odds desc, term).
#
# Scale: all work happens on the (source, token) count frame —
# vocabulary-sized, not corpus-sized; totals are a tiny broadcast.
# --------------------------------------------------------------------------

_DT_MIN_COUNT = 50
_DT_TOP_K = 5


def q_discriminative_terms(spark, sf_dir):
    from pyspark.sql import Window as W

    from city_payroll_data_pipeline_spark.functions.text import tokens_array

    docs = table(spark, sf_dir, "documents", spread=True)
    tok = docs.select(
        "source", F.explode(tokens_array(F.col("text"))).alias("term")
    )
    st = tok.groupBy("source", "term").agg(F.count("*").alias("a"))
    term_tot = st.groupBy("term").agg(F.sum("a").alias("t_tot"))
    src_tot = st.groupBy("source").agg(F.sum("a").alias("s_tot"))
    grand = st.agg(F.sum("a").alias("g_tot"))
    cells = (
        st.join(term_tot, "term")
        .join(src_tot, "source")
        .crossJoin(F.broadcast(grand))
        .where(F.col("a") >= _DT_MIN_COUNT)
        .withColumn("b", F.col("t_tot") - F.col("a"))
        .withColumn("c", F.col("s_tot") - F.col("a"))
        .withColumn("d", F.col("g_tot") - F.col("t_tot") - F.col("c"))
        .withColumn(
            "odds",
            ((F.col("a") + 1) * (F.col("d") + 1))
            / ((F.col("b") + 1) * (F.col("c") + 1)),
        )
    )
    w = W.partitionBy("source").orderBy(F.desc("odds"), "term")
    return (
        cells.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _DT_TOP_K)
        .select("source", "rank", "term", "a", "odds")
        .orderBy("source", "rank")
    )


DISCRIMINATIVE_TERMS_SQL = rf"""
WITH tok AS (
  SELECT source, UNNEST(regexp_extract_all(text, '\S+', 0)) AS term
  FROM documents
),
st AS (SELECT source, term, COUNT(*) AS a FROM tok GROUP BY source, term),
term_tot AS (SELECT term, CAST(SUM(a) AS BIGINT) AS t_tot FROM st GROUP BY term),
src_tot AS (SELECT source, CAST(SUM(a) AS BIGINT) AS s_tot FROM st GROUP BY source),
grand AS (SELECT CAST(SUM(a) AS BIGINT) AS g_tot FROM st),
cells AS (
  SELECT st.source, st.term, st.a,
         t_tot - a AS b, s_tot - a AS c,
         (SELECT g_tot FROM grand) - t_tot - (s_tot - a) AS d
  FROM st JOIN term_tot USING (term) JOIN src_tot USING (source)
  WHERE a >= {_DT_MIN_COUNT}
),
odds AS (
  SELECT source, term, a,
         CAST((a + 1) * (d + 1) AS DOUBLE) / ((b + 1) * (c + 1)) AS odds
  FROM cells
)
SELECT source, rank, term, a, odds
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY odds DESC, term) AS rank
      FROM odds)
WHERE rank <= {_DT_TOP_K}
ORDER BY source, rank
"""

# --------------------------------------------------------------------------
# bpe_encode_tokens — corpus encoding with a trained BPE merge table.
#
# Completes the tokenizer story (train_bpe learns the merges —
# bpe_merges query; this applies them): per-source token counts and
# fertility (BPE tokens per whitespace word), the number that decides
# whether a tokenizer suits a corpus. Greedy merge replay is a
# codegen'd fold (operators/bpe.py::apply_bpe) — no Python in the
# row path; the merge table itself is a bounded driver-side list
# (the product of training, like model weights).
#
# Oracle: the textops.bpe_replay_ctes unrolled fit (the kmeans r4
# trick) ends with the fully-merged vocabulary t8 — encoding is then
# a JOIN: a doc's BPE token count is Σ over its words of
# tf(word) · merged_symbol_count(word), because apply_bpe encodes
# every word independently and the training vocabulary covers every
# corpus word by construction. Empty docs survive via LEFT JOIN.
# The encode-vs-pure-Python parity test in tests/test_training_ops.py
# still covers the operator directly.
# --------------------------------------------------------------------------


def q_bpe_encode_tokens(spark, sf_dir):
    from city_payroll_data_pipeline_spark.operators.bpe import apply_bpe, train_bpe
    from city_payroll_data_pipeline_spark.functions.text import token_count

    docs = table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "source", "text"
    )
    merges = train_bpe(docs, "text", n_merges=8)
    encoded = apply_bpe(docs, "text", merges)
    return (
        encoded.select(
            "source",
            F.size("bpe_tokens").alias("n_bpe"),
            token_count(F.col("text")).alias("n_words"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bpe").alias("bpe_tokens"),
            F.sum("n_words").alias("words"),
            (F.sum("n_bpe") / F.sum("n_words")).alias("fertility"),
        )
        .orderBy("source")
    )


def _bpe_encode_tokens_sql() -> str:
    from city_payroll_data_pipeline_spark.suite.textops import (
        bpe_replay_ctes,
    )

    cte_block, final = bpe_replay_ctes()
    s = "chr(31)"
    return rf"""WITH {cte_block},
enc AS MATERIALIZED (
  SELECT word,
         len(string_split(trim(canon, {s}), {s}||{s})) AS enc_len
  FROM {final}
),
doc_tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(trim(text), '\S+', 0)) AS word
    FROM documents
  ) GROUP BY doc_id, word
),
per_doc AS (
  SELECT doc_id, CAST(SUM(tf * enc_len) AS BIGINT) AS n_bpe
  FROM doc_tf JOIN enc USING (word) GROUP BY doc_id
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(COALESCE(n_bpe, 0)) AS BIGINT) AS bpe_tokens,
       CAST(SUM(len(regexp_extract_all(text, '\S+', 0))) AS BIGINT)
         AS words,
       CAST(SUM(COALESCE(n_bpe, 0)) AS DOUBLE)
         / CAST(SUM(len(regexp_extract_all(text, '\S+', 0))) AS BIGINT)
         AS fertility
FROM documents LEFT JOIN per_doc USING (doc_id)
GROUP BY source
ORDER BY source
"""


BPE_ENCODE_TOKENS_SQL = _bpe_encode_tokens_sql()


# --------------------------------------------------------------------------
# dedup_rate_report — corpus-level exact-dedup impact summary.
#
# The one-row report a curation run logs: how many docs are exact
# duplicates (whitespace/case-normalized fingerprint), and how many
# characters deduplication saves. Keeper = lowest doc_id per
# fingerprint, matching operators/dedup.py::drop_exact_duplicates.
#
# Scale: one shuffle on the 128-bit fingerprint; only (fp, doc_id,
# n_chars) crosses the exchange, never text.
# --------------------------------------------------------------------------


def q_dedup_rate_report(spark, sf_dir):
    from pyspark.sql import Window as W

    from city_payroll_data_pipeline_spark.functions.text import content_fingerprint

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", content_fingerprint(F.col("text")).alias("fp")
    )
    w = W.partitionBy("fp").orderBy("doc_id")
    ranked = docs.withColumn("rn", F.row_number().over(w))
    return ranked.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_unique"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dup"),
        (
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
            / F.count("*")
        ).alias("dup_ratio"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(0)).alias(
            "chars_saved"
        ),
    )


_FP = r"md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))"

DEDUP_RATE_REPORT_SQL = rf"""
WITH ranked AS (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY {_FP} ORDER BY doc_id) AS rn
  FROM documents
)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS dup_ratio,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_saved
FROM ranked
"""

# --------------------------------------------------------------------------
# key_gini_skew — join-key distribution skew diagnostic.
#
# Before shipping a join at 100 TB you want its key histogram's shape:
# Gini coefficient + heavy-hitter share tell you whether to salt.
# Gini from the ascending-sorted counts by the exact rank formula
# G = (2·Σ i·w_i − (n+1)·ΣW) / (n·ΣW) — all-integer cross products,
# one final division; rank-tie order among equal counts cannot change
# the sum, so the statistic is deterministic.
#
# Scale: the mann_whitney_test distinct-value pattern — rank-tie order
# can't change Σ rn·cnt, so NO per-key rank is ever materialized.
# Group keys by their count value c (frequency f_c), prefix-sum the
# tiny distinct-count frame for the rank offset `prev`, and the block
# of f_c contiguous ranks contributes c·(f_c·prev + f_c(f_c+1)/2)
# exactly. The only window runs over |distinct multiplicities| rows
# (≤ max rows-per-key, single digits for order keys) — at 100 TB the
# billions of keys never pass through one partition. Integer `div`
# keeps the triangular number exact past 2^53. (operators/skew.py
# holds the salting fix the diagnostic motivates; join_key_skew
# benches it.)
# --------------------------------------------------------------------------


def q_key_gini_skew(spark, sf_dir):
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(F.count("*").alias("cnt"))
    freq = cnt.groupBy("cnt").agg(F.count("*").alias("f"))
    w_prev = W.orderBy("cnt").rowsBetween(W.unboundedPreceding, -1)
    pref = freq.withColumn(
        "prev", F.coalesce(F.sum("f").over(w_prev), F.lit(0))
    )
    # Σ over the rank block [prev+1, prev+f]: c·(f·prev + f(f+1)/2);
    # f(f+1) is always even so integer div is exact.
    block_rank_sum = F.col("f") * F.col("prev") + F.expr("f * (f + 1) div 2")
    return pref.agg(
        F.sum("f").alias("n_keys"),
        F.sum(F.col("cnt") * F.col("f")).alias("n_rows"),
        F.max("cnt").alias("max_per_key"),
        (F.max("cnt") / F.sum(F.col("cnt") * F.col("f"))).alias(
            "top_key_share"
        ),
        (
            (
                2 * F.sum(F.col("cnt") * block_rank_sum)
                - (F.sum("f") + 1) * F.sum(F.col("cnt") * F.col("f"))
            )
            / (F.sum("f") * F.sum(F.col("cnt") * F.col("f")))
        ).alias("gini"),
    )


KEY_GINI_SKEW_SQL = """
WITH cnt AS (
  SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey
),
ranked AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt, l_orderkey) AS rn FROM cnt
)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       MAX(cnt) AS max_per_key,
       CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS top_key_share,
       CAST(2 * CAST(SUM(rn * cnt) AS BIGINT)
            - (COUNT(*) + 1) * CAST(SUM(cnt) AS BIGINT) AS DOUBLE)
         / (COUNT(*) * CAST(SUM(cnt) AS BIGINT)) AS gini
FROM ranked
"""


# --------------------------------------------------------------------------
# k_anonymity_audit — privacy-governance gate before a data release.
#
# Quasi-identifier combinations (here: nation × market segment ×
# account-balance band) with fewer than k members re-identify people;
# the audit reports, per k-threshold, how many equivalence classes and
# how many individual rows fall below it. The release rule a pipeline
# enforces: suppress or generalize classes with group size < k.
#
# Scale: one groupBy on the QI tuple (the class frame is
# |QI-combination|-sized), then a tiny threshold probe join —
# the fact table is read once.
# --------------------------------------------------------------------------

_KA_THRESHOLDS = (2, 5, 10)


def q_k_anonymity_audit(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    classes = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            # floor, not truncating div: balances go negative, and
            # Spark `div` truncates toward zero while DuckDB `//`
            # floors — FLOOR of the same double is engine-identical
            F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count("*").alias("class_size"))
    )
    ks = spark.createDataFrame([(k,) for k in _KA_THRESHOLDS], "k int")
    return (
        classes.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count("*").alias("n_classes"),
            F.sum(F.when(F.col("class_size") < F.col("k"), 1).otherwise(0)).alias(
                "classes_below_k"
            ),
            F.sum(
                F.when(F.col("class_size") < F.col("k"), F.col("class_size")).otherwise(0)
            ).alias("rows_below_k"),
        )
        .orderBy("k")
    )


K_ANONYMITY_AUDIT_SQL = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
         COUNT(*) AS class_size
  FROM customer
  GROUP BY c_nationkey, c_mktsegment, 3
),
ks AS (SELECT UNNEST([{", ".join(str(k) for k in _KA_THRESHOLDS)}]) AS k)
SELECT k,
       COUNT(*) AS n_classes,
       CAST(SUM(CASE WHEN class_size < k THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_below_k,
       CAST(SUM(CASE WHEN class_size < k THEN class_size ELSE 0 END) AS BIGINT)
         AS rows_below_k
FROM classes, ks
GROUP BY k
ORDER BY k
"""


# --------------------------------------------------------------------------
# dp_noisy_counts — differentially-private release of per-source
# document counts (Laplace mechanism, doc-level DP: one row per
# document → sensitivity 1, b = 1/ε).
#
# The noise is DETERMINISTIC: u ~ Uniform(-1/2, 1/2) comes from the
# md5 of a fixed salt + the group key (15 hex chars / 2^60 — an exact
# double), pushed through the Laplace inverse CDF
# noise = −b·sign(u)·ln(1 − 2|u|). That makes the release replayable
# and oracle-checkable — and, to be plain, it FORFEITS the privacy
# guarantee: with a public salt an adversary replays the noise and
# subtracts it, so this release is NOT ε-DP until the salt is a
# per-release secret drawn once. Swapping in that secret restores the
# guarantee with the mechanism and its ε-accounting otherwise
# unchanged. The 6-dp round absorbs cross-libm ln() ulp drift
# (house pattern, see lineitem_corr).
#
# Scale: noise is one map-side expression on the |groups|-sized
# aggregate frame — the corpus is read once for the groupBy; nothing
# about the mechanism grows with corpus size.
# --------------------------------------------------------------------------

_DP_EPSILON = 1.0
_DP_SALT = "dp-noise-v1|"


def q_dp_noisy_counts(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import hex_to_long

    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    u01 = hex_to_long(
        F.substring(F.md5(F.concat(F.lit(_DP_SALT), F.col("source"))), 1, 15)
    ) / F.lit(float(1 << 60))
    u = u01 - 0.5
    b = 1.0 / _DP_EPSILON
    # 1-2|u| ∈ [2^-60, 1] and 2^-60 ≈ 8.67e-19 < 1e-18, so the
    # greatest() clamp genuinely binds at the extreme tail (|noise|
    # capped at b·ln(1e18) ≈ 41.4·b), truncating the Laplace tail for
    # hash values within ~1e-19 of the edge — not just the measure-zero
    # u01=0 case. Parity holds because both engines clamp identically;
    # the bias is ≪ 2^-59 in probability mass.
    noise = -b * F.signum(u) * F.log(
        F.greatest(F.lit(1e-18), F.lit(1.0) - 2 * F.abs(u))
    )
    return (
        counts.select(
            "source",
            "n_docs",
            F.round(noise, 6).alias("noise"),
            F.round(F.col("n_docs") + noise, 6).alias("noisy_count"),
            F.lit(_DP_EPSILON).alias("epsilon"),
        )
        .orderBy("source")
    )


def _dp_noisy_sql() -> str:
    u01 = (
        f"CAST('0x' || substr(md5('{_DP_SALT}' || source), 1, 15) AS BIGINT)"
        f" / {float(1 << 60)!r}"
    )
    noise = (
        f"-{1.0 / _DP_EPSILON!r} * sign(({u01}) - 0.5)"
        f" * ln(greatest(1e-18, 1.0 - 2 * abs(({u01}) - 0.5)))"
    )
    return f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
)
SELECT source, n_docs,
       {_sql_round(noise, 6)} AS noise,
       {_sql_round(f'n_docs + ({noise})', 6)} AS noisy_count,
       {_DP_EPSILON!r} AS epsilon
FROM counts
ORDER BY source
"""


DP_NOISY_COUNTS_SQL = _dp_noisy_sql()


# --------------------------------------------------------------------------
# incremental_report_maintenance — incremental view maintenance (IVM)
# for the flagship budget report.
#
# The 100 TB refresh rule: never rescan the fact table to refresh an
# aggregate — combine the materialized per-group state with the
# delta's partial aggregate (count/sum are self-mergeable). This query
# demonstrates it end-to-end: base aggregate (orders with o_orderkey %
# 10 != 0) merged with the delta aggregate (the remaining tenth)
# must equal the full recompute — which is exactly what the DuckDB
# oracle does, so the driver's hash-match IS the IVM correctness
# proof.
#
# Scale: refresh cost is O(|delta| + |groups|), not O(|fact|);
# operators/upsert.py::merge_upsert is the keyed-table counterpart.
# --------------------------------------------------------------------------


def q_incremental_report_maintenance(spark, sf_dir):
    from city_payroll_data_pipeline_spark.suite.parity import _dec_sum

    orders = table(spark, sf_dir, "orders")
    base = orders.where(F.col("o_orderkey") % 10 != 0)
    delta = orders.where(F.col("o_orderkey") % 10 == 0)

    def agg(df):
        return df.groupBy(F.col("o_orderpriority").alias("job_title")).agg(
            F.count("*").alias("total_employee"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("dec_budget"),
        )

    merged = (
        agg(base)
        .unionByName(agg(delta))
        .groupBy("job_title")
        .agg(
            F.sum("total_employee").alias("total_employee"),
            F.sum("dec_budget").cast("double").alias("total_budget"),
        )
        .orderBy(F.desc("total_budget"))
    )
    return merged


INCREMENTAL_REPORT_MAINTENANCE_SQL = """
SELECT o_orderpriority AS job_title,
       COUNT(*) AS total_employee,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_budget
FROM orders
GROUP BY o_orderpriority
ORDER BY total_budget DESC
"""

# --------------------------------------------------------------------------
# lineitem_corr — exact-sum Pearson correlations per group.
#
# Moment sums (Σx, Σy, Σxy, Σx², Σy²) route through DECIMAL so the
# shuffle order can't move a bit; the closed-form correlation then
# uses only products, sums and sqrt of identical doubles — and IEEE
# 754 requires sqrt to be correctly rounded (unlike ln/exp/pow), so
# both engines produce the same 64 bits. corr() built-ins are NOT
# used: their streaming accumulation is order-dependent.
#
# Scale: one partial/final agg pass, map-side combined; the moment
# frame is |groups|-sized.
# --------------------------------------------------------------------------


def q_lineitem_corr(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    moments = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(d("l_quantity")).alias("sx"),
        F.sum(d("l_extendedprice")).alias("sy"),
        F.sum((d("l_quantity") * d("l_extendedprice")).cast("decimal(38,4)")).alias(
            "sxy"
        ),
        F.sum((d("l_quantity") * d("l_quantity")).cast("decimal(38,4)")).alias("sxx"),
        F.sum(
            (d("l_extendedprice") * d("l_extendedprice")).cast("decimal(38,4)")
        ).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    # one 10-dp round: DuckDB's DECIMAL→DOUBLE cast double-rounds
    # (int128 then /10^scale) and can land 1 ulp off Spark's
    # correctly-rounded BigDecimal cast; 1e-10 absorbs 1-ulp drift on
    # a [-1,1] statistic with 8 digits to spare
    return moments.select(
        "l_returnflag",
        "n",
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            10,
        ).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


LINEITEM_CORR_SQL = f"""
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       {_sql_round('''(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))''', 10)} AS corr_qty_price
FROM m
ORDER BY l_returnflag
"""

# --------------------------------------------------------------------------
# basket_pairs — frequent co-occurring item pairs (market-basket).
#
# Which parts ship together in the same order — the co-occurrence
# mining that powers "related items" and, in corpus terms, co-citation
# analysis. The self-join is bounded by construction: TPC-H-ish orders
# have ≤ 7 lines, so candidate pairs per order are C(7,2) — the join
# fans out per-order, never corpus-wide. Pairs are canonicalized
# (a < b) and thresholded on support.
#
# Scale: one shuffle on orderkey for the self-join, one on the pair
# for support counting. At 100 TB add a per-order line cap (already
# structural here) and a support-threshold pre-filter on item
# frequency (the a-priori pruning rule).
# --------------------------------------------------------------------------

_BP_MIN_SUPPORT = 3
_BP_TOP_K = 20


def _basket_pair_support(spark, sf_dir):
    """Canonical co-purchase pair supports — DISTINCT (order, part),
    self-joined with pa < pb, counted per pair. Shared by
    q_basket_pairs and q_item_pmi (q_adamic_adar_links needs the
    basket size carried through and keeps its own variant); one
    definition so canonicalization or threshold changes cannot drift
    between the pair miners."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("pb"))
    pairs = a.join(b, (F.col("o") == F.col("o2")) & (F.col("pa") < F.col("pb")))
    return li, pairs.groupBy("pa", "pb").agg(F.count("*").alias("support"))


def q_basket_pairs(spark, sf_dir):
    _li, support = _basket_pair_support(spark, sf_dir)
    return (
        support
        .where(F.col("support") >= _BP_MIN_SUPPORT)
        .orderBy(F.desc("support"), "pa", "pb")
        .limit(_BP_TOP_K)
    )


BASKET_PAIRS_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS support
FROM li a JOIN li b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY pa, pb
HAVING COUNT(*) >= {_BP_MIN_SUPPORT}
ORDER BY support DESC, pa, pb
LIMIT {_BP_TOP_K}
"""


# --------------------------------------------------------------------------
# source_vocab_overlap — pairwise vocabulary Jaccard between sources.
#
# The corpus-similarity matrix used when deciding whether two sources
# are redundant (high overlap → dedup across them matters) or
# complementary (low overlap → both earn their mix share). Jaccard =
# |A∩B| / (|A|+|B|−|A∩B|): intersection via a self-join of the
# per-source DISTINCT vocabulary on term, one exact division per pair.
#
# Scale: all joins run on the (source, term) distinct frame —
# vocabulary-sized; pair count is C(|sources|, 2), tiny.
# --------------------------------------------------------------------------


def q_source_vocab_overlap(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import tokens_array

    docs = table(spark, sf_dir, "documents", spread=True)
    vocab = docs.select(
        "source", F.explode(tokens_array(F.col("text"))).alias("term")
    ).distinct()
    sizes = vocab.groupBy("source").agg(F.count("*").alias("vsize"))
    a = vocab.select(F.col("source").alias("src_a"), "term")
    b = vocab.select(F.col("source").alias("src_b"), "term")
    inter = (
        a.join(b, "term")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("source", "src_a")), "src_a"
        )
        .withColumnRenamed("vsize", "size_a")
        .join(F.broadcast(sizes.withColumnRenamed("source", "src_b")), "src_b")
        .withColumnRenamed("vsize", "size_b")
        .select(
            "src_a",
            "src_b",
            "size_a",
            "size_b",
            "inter",
            (
                F.col("inter")
                / (F.col("size_a") + F.col("size_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


SOURCE_VOCAB_OVERLAP_SQL = r"""
WITH vocab AS (
  SELECT DISTINCT source, UNNEST(regexp_extract_all(text, '\S+', 0)) AS term
  FROM documents
),
sizes AS (SELECT source, COUNT(*) AS vsize FROM vocab GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
  FROM vocab a JOIN vocab b ON a.term = b.term AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b, sa.vsize AS size_a, sb.vsize AS size_b, inter,
       CAST(inter AS DOUBLE) / (sa.vsize + sb.vsize - inter) AS jaccard
FROM inter
JOIN sizes sa ON src_a = sa.source
JOIN sizes sb ON src_b = sb.source
ORDER BY src_a, src_b
"""

# --------------------------------------------------------------------------
# chunk_dedup_rate — dedup impact at the context-window level.
#
# Doc-level dedup misses repeated passages inside distinct documents;
# chunk-level fingerprinting (over the same overlapping windows
# doc_chunks emits for training) is the finer signal. Composes the
# chunking query — same layering a production pipeline uses.
# --------------------------------------------------------------------------


def q_chunk_dedup_rate(spark, sf_dir):
    from city_payroll_data_pipeline_spark.suite.textops import q_doc_chunks

    chunks = q_doc_chunks(spark, sf_dir).select(F.md5("chunk_text").alias("fp"))
    # ONE pass: both totals fall out of the per-fingerprint counts —
    # separate count + distinct-count aggregates would run the whole
    # chunk-generation pipeline twice
    per_fp = chunks.groupBy("fp").agg(F.count("*").alias("cnt"))
    return (
        per_fp.agg(
            F.sum("cnt").alias("n_chunks"),
            F.count("*").alias("n_unique"),
        )
        .select(
            "n_chunks",
            "n_unique",
            (F.col("n_chunks") - F.col("n_unique")).alias("n_dup"),
            (
                (F.col("n_chunks") - F.col("n_unique")) / F.col("n_chunks")
            ).alias("dup_ratio"),
        )
    )


def _chunk_dedup_rate_sql() -> str:
    from city_payroll_data_pipeline_spark.suite.textops import DOC_CHUNKS_SQL

    return f"""
WITH chunks AS ({DOC_CHUNKS_SQL}),
fp AS (SELECT md5(chunk_text) AS fp FROM chunks),
u AS (SELECT COUNT(DISTINCT fp) AS n_unique FROM fp)
SELECT COUNT(*) AS n_chunks,
       (SELECT n_unique FROM u) AS n_unique,
       COUNT(*) - (SELECT n_unique FROM u) AS n_dup,
       CAST(COUNT(*) - (SELECT n_unique FROM u) AS DOUBLE) / COUNT(*)
         AS dup_ratio
FROM fp
"""


# --------------------------------------------------------------------------
# ann_recall_report — retrieval-quality eval of every approximate
# retriever against the exact baseline, in one oracle-checked query.
#
# The eval harness an embedding pipeline runs after each index build:
# recall@K per retriever = |approx ∩ exact top-K| / |exact top-K|.
# Composes the existing retriever queries (and, on the oracle side,
# their SQL verbatim) — so the driver's hash match certifies both the
# retrievers and the eval logic in one row set.
#
# Scale: each retriever's output is (N_QUERIES × K) rows; the recall
# joins run on those tiny frames, never the corpus.
# --------------------------------------------------------------------------


def q_ann_recall_report(spark, sf_dir, query_ids=None):
    from city_payroll_data_pipeline_spark.suite.vectors import (
        q_ivf_ann_topk,
        q_lsh_ann_topk,
        q_sq8_ann_topk,
        recall_certificate,
    )

    return recall_certificate(spark, sf_dir, (
        (name, fn(spark, sf_dir, query_ids))
        for name, fn in (
            ("ivf", q_ivf_ann_topk),
            ("lsh", q_lsh_ann_topk),
            ("sq8", q_sq8_ann_topk),
        )
    ), query_ids)


def _ann_recall_report_sql(query_ids=None) -> str:
    from city_payroll_data_pipeline_spark.suite.vectors import (
        _ivf_ann_topk_sql,
        _lsh_ann_topk_sql,
        _sq8_ann_topk_sql,
        recall_certificate_sql,
    )

    return recall_certificate_sql((
        ("ivf", _ivf_ann_topk_sql(query_ids)),
        ("lsh", _lsh_ann_topk_sql(query_ids)),
        ("sq8", _sq8_ann_topk_sql(query_ids)),
    ), query_ids)


def q_ann_recall_report_sampled(spark, sf_dir):
    """Hash-sampled eval twin (VERDICT r5 item 4): the same recall@K
    machinery over SAMPLED_QUERY_IDS, so the exact ground truth costs
    O(sample × corpus) at any corpus scale. The full-query variant
    stays registered for complete certification; this is the
    bench/production-cadence path."""
    from city_payroll_data_pipeline_spark.suite.vectors import SAMPLED_QUERY_IDS

    return q_ann_recall_report(spark, sf_dir, query_ids=SAMPLED_QUERY_IDS)


# --------------------------------------------------------------------------
# item_pmi — pointwise mutual information over co-purchased parts.
#
# basket_pairs ranks by raw support, which just surfaces popular
# items; PMI = ln(P(a,b) / (P(a)·P(b))) corrects for popularity and
# surfaces parts bought together MORE than chance — the association
# signal recommender co-occurrence models start from. The log
# argument folds to the exact integer ratio support·N / (cnt_a·cnt_b)
# (the bm25 ln discipline: round to 8 dp in both engines), a support
# floor removes noise pairs, top-20 by (pmi, pa, pb).
#
# Scale: identical to basket_pairs (per-basket self-join on the
# DISTINCT (order, part) frame) + two broadcast-sized count joins;
# top-k is TakeOrderedAndProject.
# --------------------------------------------------------------------------

_PMI_MIN_SUPPORT = _BP_MIN_SUPPORT  # same a-priori floor as basket_pairs
_PMI_TOP_K = 20


def q_item_pmi(spark, sf_dir):
    li, support = _basket_pair_support(spark, sf_dir)
    n = li.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_baskets")
    )
    cnt = li.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    pairs = support.where(F.col("support") >= _PMI_MIN_SUPPORT)
    scored = (
        pairs.join(cnt.select(F.col("l_partkey").alias("pa"),
                              F.col("cnt").alias("cnt_a")), "pa")
        .join(cnt.select(F.col("l_partkey").alias("pb"),
                         F.col("cnt").alias("cnt_b")), "pb")
        .join(F.broadcast(n))
        .select(
            "pa", "pb", "support", "cnt_a", "cnt_b",
            F.round(
                F.log(
                    (F.col("support") * F.col("n_baskets")).cast("double")
                    / (F.col("cnt_a") * F.col("cnt_b")).cast("double")
                ),
                8,
            ).alias("pmi"),
        )
    )
    topk = scored.orderBy(F.desc("pmi"), "pa", "pb").limit(_PMI_TOP_K)
    return topk.select("pa", "pb", "support", "cnt_a", "cnt_b", "pmi")


ITEM_PMI_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM li),
cnt AS (SELECT l_partkey, COUNT(*) AS cnt FROM li GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS support
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY pa, pb
  HAVING COUNT(*) >= {_PMI_MIN_SUPPORT}
),
scored AS (
  SELECT pa, pb, support, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
         {_sql_round(
             '''ln(CAST(support * n_baskets AS DOUBLE)
                   / CAST(ca.cnt * cb.cnt AS DOUBLE))''',
             8,
         )} AS pmi
  FROM pairs
  JOIN cnt ca ON ca.l_partkey = pa
  JOIN cnt cb ON cb.l_partkey = pb
  CROSS JOIN n
)
SELECT pa, pb, support, cnt_a, cnt_b, pmi
FROM scored
ORDER BY pmi DESC, pa, pb
LIMIT {_PMI_TOP_K}
"""


# --------------------------------------------------------------------------
# stratified_split_plan — deterministic hash-based train/val/test.
#
# The dataset-split contract for reproducible training: assignment
# must be a pure function of the example's identity (no RNG, no
# ordering dependence — a doc keeps its split across reruns and
# incremental loads), and the audit is per-(source, split) counts +
# realized fractions vs the 80/10/10 target. Assignment = md5 bucket
# of doc_id (the mann_whitney hash-arm pattern, mirrored exactly in
# SQL); fraction is one division per output row.
#
# Scale: map-side hash + one |sources|·3-row groupBy; composes with
# split_leakage_check (which audits near-dup pairs ACROSS these
# splits).
# --------------------------------------------------------------------------


def q_stratified_split_plan(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
        ).cast("bigint"),
        F.lit(10),
    )
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    counts = docs.select("source", split.alias("split")).groupBy(
        "source", "split"
    ).agg(F.count("*").alias("n_docs"))
    tot = counts.groupBy("source").agg(F.sum("n_docs").alias("n_src"))
    return (
        counts.join(tot, "source")
        .select(
            "source",
            "split",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("n_src").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("source", "split")
    )


STRATIFIED_SPLIT_PLAN_SQL = """
WITH assigned AS (
  SELECT source,
         CASE
           WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                     AS BIGINT) % 10 < 8 THEN 'train'
           WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                     AS BIGINT) % 10 = 8 THEN 'val'
           ELSE 'test'
         END AS split
  FROM documents
),
counts AS (
  SELECT source, split, COUNT(*) AS n_docs
  FROM assigned GROUP BY source, split
),
tot AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_src
        FROM counts GROUP BY source)
SELECT source, split, n_docs,
       CAST(ROUND(CAST(CAST((CAST(n_docs AS DOUBLE) / CAST(n_src AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) AS share
FROM counts JOIN tot USING (source)
ORDER BY source, split
"""


# --------------------------------------------------------------------------
# data_freshness_audit — per-stream staleness readout.
#
# The ops dashboard every ingestion pipeline needs: for each event
# type, when did we last hear from it, how far behind the freshest
# stream is it, and is it still flowing (events in the trailing hour
# before the corpus high-water mark). All integer epoch-seconds
# arithmetic anchored on the corpus max — deterministic, no wall
# clock.
#
# Scale: one groupBy on event_type (partial-agg map-side) + a 1-row
# high-water broadcast.
# --------------------------------------------------------------------------


def q_data_freshness_audit(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    secs = F.unix_timestamp(F.col("ts"))
    hwm = ev.agg(F.max(secs).alias("hwm"))
    per_type = ev.select(F.col("event_type"), secs.alias("s")).join(
        F.broadcast(hwm)
    ).groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.max("s").alias("last_s"),
        F.first("hwm").alias("hwm"),
        F.count_if(F.col("s") > F.col("hwm") - 3600).alias("events_last_hour"),
    )
    return per_type.select(
        "event_type",
        "n_events",
        F.timestamp_seconds(F.col("last_s")).alias("last_event_at"),
        (F.col("hwm") - F.col("last_s")).alias("seconds_behind"),
        "events_last_hour",
    ).orderBy("event_type")


DATA_FRESHNESS_AUDIT_SQL = """
WITH secs AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events
),
hwm AS (SELECT MAX(s) AS hwm FROM secs)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(to_timestamp(MAX(s)) AS TIMESTAMP) AS last_event_at,
       hwm - MAX(s) AS seconds_behind,
       CAST(COUNT(*) FILTER (WHERE s > hwm - 3600) AS BIGINT)
         AS events_last_hour
FROM secs, hwm
GROUP BY event_type, hwm
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# weighted_median_length — per-source WEIGHTED median of document
# length, weight = token count: "the length of the doc holding the
# middle TOKEN", the length statistic that matters when downstream
# cost is per-token, not per-doc (a long doc counts proportionally to
# the tokens it contributes). Lower weighted median: smallest value v
# with cum_weight(≤v) ≥ total/2, decided by the integer cross-multiply
# 2·cumw ≥ totw — no float ever appears.
#
# Scale: one (source, n_chars) groupBy collapses the corpus to
# distinct values BEFORE any window; the cumsum window partitions by
# source over the distinct-value frame (the exact-median-at-scale
# pattern — never a row-level global sort). Output is one row per
# source, all BIGINTs.
# --------------------------------------------------------------------------


def q_weighted_median_length(spark, sf_dir):
    from pyspark.sql import Window as W

    from city_payroll_data_pipeline_spark.functions.text import token_count

    docs = table(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").cast("long").alias("v"),
        token_count(F.col("text")).cast("long").alias("w"),
    )
    per_val = docs.groupBy("source", "v").agg(F.sum("w").alias("vw"))
    win = (
        W.partitionBy("source")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tot = W.partitionBy("source")
    cum = per_val.select(
        "source",
        "v",
        F.sum("vw").over(win).alias("cumw"),
        F.sum("vw").over(tot).alias("totw"),
    )
    return (
        cum.filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("source")
        .agg(
            F.min("v").alias("w_median_chars"),
            F.max("totw").alias("total_tokens"),
        )
        .orderBy("source")
    )


WEIGHTED_MEDIAN_LENGTH_SQL = r"""
WITH per_val AS (
  SELECT source, n_chars AS v,
         CAST(SUM(len(regexp_extract_all(text, '\S+', 0))) AS BIGINT) AS vw
  FROM documents
  GROUP BY source, n_chars
),
cum AS (
  SELECT source, v,
         CAST(SUM(vw) OVER (PARTITION BY source ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS cumw,
         CAST(SUM(vw) OVER (PARTITION BY source) AS BIGINT) AS totw
  FROM per_val
)
SELECT source,
       MIN(v) AS w_median_chars,
       MAX(totw) AS total_tokens
FROM cum
WHERE 2 * cumw >= totw
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# t_closeness_audit — the third gate of the privacy-governance trio
# (k_anonymity_audit bounds class SIZE, l_diversity_audit bounds
# sensitive-value VARIETY; t-closeness bounds sensitive-value
# DISTRIBUTION drift). Per QI equivalence class (nation × market
# segment), the Earth-Mover's Distance between the class's
# balance-band distribution and the corpus-wide one; classes with
# EMD > t leak information even when k-anonymous and l-diverse
# (Li/Li/Venkatasubramanian, ICDE'07).
#
# For an ORDERED attribute with m bands, EMD = Σ_{i<m}|cum_p_i −
# cum_q_i| / (m−1). Exactness: the cumulative difference is the
# integer cross-product cum_c·n − cum_g·n_c carried in DECIMAL(38,0)
# (exact past 2^63 at 100 TB row counts); ONE double division at
# display time.
#
# Scale: two groupBys collapse the fact to |classes|·|bands| rows
# before any window; the only unpartitioned window runs over the
# |bands|-row global spine (bounded by the banding, not the data);
# the per-class cumsum partitions by class.
# --------------------------------------------------------------------------

_TC_THRESHOLD = 0.2


def q_t_closeness_audit(spark, sf_dir):
    from pyspark.sql import Window as W

    cust = table(spark, sf_dir, "customer")
    obs = cust.select(
        "c_nationkey",
        "c_mktsegment",
        # FLOOR, not `div`: balances go negative and Spark `div`
        # truncates toward zero while DuckDB `//` floors (the
        # k_anonymity_audit precedent)
        F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
    )
    glob = obs.groupBy("bal_band").agg(F.count("*").alias("gcnt"))
    w_g = W.orderBy("bal_band").rowsBetween(W.unboundedPreceding, 0)
    # |bands|-row spine: the unpartitioned cumsum is bounded by the
    # banding (≈ a dozen rows at every SF)
    spine = glob.select(
        "bal_band", F.sum("gcnt").over(w_g).alias("cum_g")
    ).join(
        F.broadcast(
            glob.agg(
                F.sum("gcnt").alias("n_total"), F.count("*").alias("m_bands")
            )
        )
    )
    classes = obs.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("class_size")
    )
    ccnt = obs.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count("*").alias("ccnt")
    )
    # zero-fill: every class crossed with the full band spine, so the
    # per-class cumulative distribution is defined at every band
    grid = (
        classes.crossJoin(F.broadcast(spine))
        .join(ccnt, ["c_nationkey", "c_mktsegment", "bal_band"], "left")
        .withColumn("ccnt", F.coalesce(F.col("ccnt"), F.lit(0)))
    )
    w_c = (
        W.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("bal_band")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = grid.withColumn("cum_c", F.sum("ccnt").over(w_c))
    # at the last band cum_c=n_c and cum_g=n so the term is exactly 0 —
    # no need to exclude it; the divisor stays (m−1)
    diff = F.abs(
        F.col("cum_c").cast("decimal(38,0)") * F.col("n_total")
        - F.col("cum_g").cast("decimal(38,0)") * F.col("class_size")
    )
    res = cum.groupBy("c_nationkey", "c_mktsegment").agg(
        F.max("class_size").alias("class_size"),
        F.sum(diff).alias("emd_num"),
        F.max("n_total").alias("n_total"),
        F.max("m_bands").alias("m_bands"),
    )
    t = F.col("emd_num").cast("double") / (
        F.col("class_size").cast("double")
        * F.col("n_total").cast("double")
        * (F.col("m_bands").cast("double") - 1)
    )
    return res.select(
        "c_nationkey",
        "c_mktsegment",
        "class_size",
        F.round(t, 8).alias("t_distance"),
        (t > _TC_THRESHOLD).alias("breach"),
    ).orderBy("c_nationkey", "c_mktsegment")


_TC_T_EXPR = (
    "CAST(emd_num AS DOUBLE) / (CAST(class_size AS DOUBLE) "
    "* CAST(n_total AS DOUBLE) * (CAST(m_bands AS DOUBLE) - 1))"
)

T_CLOSENESS_AUDIT_SQL = f"""
WITH obs AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
  FROM customer
),
gdist AS (
  SELECT bal_band, COUNT(*) AS gcnt FROM obs GROUP BY bal_band
),
spine AS (
  SELECT bal_band,
         CAST(SUM(gcnt) OVER (ORDER BY bal_band NULLS FIRST
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_g,
         CAST(SUM(gcnt) OVER () AS BIGINT) AS n_total,
         CAST(COUNT(*) OVER () AS BIGINT) AS m_bands
  FROM gdist
),
classes AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
  FROM obs GROUP BY 1, 2
),
ccnt AS (
  SELECT c_nationkey, c_mktsegment, bal_band, COUNT(*) AS ccnt
  FROM obs GROUP BY 1, 2, 3
),
grid AS (
  SELECT cl.c_nationkey, cl.c_mktsegment, cl.class_size,
         s.bal_band, s.cum_g, s.n_total, s.m_bands,
         COALESCE(cc.ccnt, 0) AS ccnt
  FROM classes cl CROSS JOIN spine s
  LEFT JOIN ccnt cc
    ON cc.c_nationkey = cl.c_nationkey
   AND cc.c_mktsegment = cl.c_mktsegment
   AND cc.bal_band = s.bal_band
),
cum AS (
  SELECT c_nationkey, c_mktsegment, class_size, bal_band,
         cum_g, n_total, m_bands,
         CAST(SUM(ccnt) OVER (PARTITION BY c_nationkey, c_mktsegment
              ORDER BY bal_band NULLS FIRST
              ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS BIGINT) AS cum_c
  FROM grid
),
res AS (
  SELECT c_nationkey, c_mktsegment,
         MAX(class_size) AS class_size,
         SUM(ABS(CAST(cum_c AS DECIMAL(38,0)) * n_total
                 - CAST(cum_g AS DECIMAL(38,0)) * class_size)) AS emd_num,
         MAX(n_total) AS n_total,
         MAX(m_bands) AS m_bands
  FROM cum GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, class_size,
       {_sql_round(_TC_T_EXPR, 8)} AS t_distance,
       ({_TC_T_EXPR}) > {_TC_THRESHOLD} AS breach
FROM res
ORDER BY c_nationkey, c_mktsegment
"""


# --------------------------------------------------------------------------
# jackknife_ratio_se — delete-one-group jackknife for a ratio
# estimator (Quenouille/Tukey; the standard error every A/B readout
# on ratio metrics needs, since Var(ΣX/ΣY) has no closed form).
# Statistic: corpus revenue-per-unit θ = Σrev / Σqty; groups = ship
# months. θ₍₋g₎ = (S_rev−rev_g)/(S_qty−qty_g) from per-group DECIMAL
# sums, so each leave-one-out value is bit-identical across engines;
# SE² = (G−1)/G · Σ(θ₍₋g₎−θ̄)², with the G-value mean and the squared
# deviations quantized to DECIMAL before summing (order-independent).
#
# Scale: ONE pass over the fact builds the G-row per-group sums
# (map-side partial agg); everything after runs on G≈84 rows — the
# leave-one-out "recomputation" is algebra on totals, never a rescan.
# --------------------------------------------------------------------------


def q_jackknife_ratio_se(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per = (
        li.groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("g"))
        .agg(
            F.sum(rev.cast("decimal(18,6)")).alias("rev_g"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_g"),
        )
        # consumed twice (leave-one-out pass + totals): G rows, pay the
        # fact scan once
        .localCheckpoint()
    )
    tot = per.agg(
        F.sum("rev_g").alias("rev_t"),
        F.sum("qty_g").alias("qty_t"),
        F.count("*").alias("n_g"),
    )
    loo = per.join(F.broadcast(tot)).select(
        "n_g",
        "rev_t",
        "qty_t",
        (
            (F.col("rev_t") - F.col("rev_g")).cast("double")
            / (F.col("qty_t") - F.col("qty_g")).cast("double")
        ).alias("theta_loo"),
    )
    mean_row = loo.groupBy("n_g", "rev_t", "qty_t").agg(
        F.sum(
            F.round(F.col("theta_loo"), 10).cast("decimal(38,10)")
        ).alias("s_loo")
    ).select(
        "n_g",
        "rev_t",
        "qty_t",
        (F.col("s_loo").cast("double") / F.col("n_g")).alias("theta_bar"),
    )
    dev = F.col("theta_loo") - F.col("theta_bar")
    final = loo.join(
        F.broadcast(mean_row.select("theta_bar"))
    ).agg(
        F.max("n_g").alias("n_groups"),
        F.max("rev_t").alias("rev_t"),
        F.max("qty_t").alias("qty_t"),
        F.max("theta_bar").alias("theta_bar"),
        F.sum(
            F.round(dev * dev, 14).cast("decimal(38,14)")
        ).alias("ss"),
    )
    theta_hat = F.col("rev_t").cast("double") / F.col("qty_t").cast("double")
    var = (
        F.col("ss").cast("double") * (F.col("n_groups") - 1)
        / F.col("n_groups")
    )
    return final.select(
        "n_groups",
        F.round(theta_hat, 6).alias("rev_per_unit"),
        F.round(
            (F.col("n_groups") - 1) * (F.col("theta_bar") - theta_hat), 8
        ).alias("jack_bias"),
        F.round(F.sqrt(var), 8).alias("jack_se"),
    )


JACKKNIFE_RATIO_SE_SQL = f"""
WITH per AS (
  SELECT date_trunc('month', l_shipdate) AS g,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
           AS rev_g,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_g
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT SUM(rev_g) AS rev_t, SUM(qty_g) AS qty_t, COUNT(*) AS n_g FROM per
),
loo AS (
  SELECT n_g, rev_t, qty_t,
         CAST(rev_t - rev_g AS DOUBLE) / CAST(qty_t - qty_g AS DOUBLE)
           AS theta_loo
  FROM per, tot
),
mean_row AS (
  SELECT n_g, rev_t, qty_t,
         CAST(SUM(CAST({_sql_round('theta_loo', 10)} AS DECIMAL(38,10)))
              AS DOUBLE) / n_g AS theta_bar
  FROM loo GROUP BY n_g, rev_t, qty_t
),
final AS (
  SELECT MAX(l.n_g) AS n_groups,
         MAX(l.rev_t) AS rev_t,
         MAX(l.qty_t) AS qty_t,
         MAX(m.theta_bar) AS theta_bar,
         SUM(CAST({_sql_round(
             '(l.theta_loo - m.theta_bar) * (l.theta_loo - m.theta_bar)', 14
         )} AS DECIMAL(38,14))) AS ss
  FROM loo l CROSS JOIN mean_row m
)
SELECT n_groups,
       {_sql_round('CAST(rev_t AS DOUBLE) / CAST(qty_t AS DOUBLE)', 6)}
         AS rev_per_unit,
       {_sql_round(
           '(n_groups - 1) * (theta_bar '
           '- CAST(rev_t AS DOUBLE) / CAST(qty_t AS DOUBLE))', 8
       )} AS jack_bias,
       {_sql_round(
           'sqrt(CAST(ss AS DOUBLE) * (n_groups - 1) / n_groups)', 8
       )} AS jack_se
FROM final
"""


# --------------------------------------------------------------------------
# adamic_adar_links — link prediction on the part co-purchase graph.
#
# Common-neighbor counting weighted by neighbor rarity: AA(x,y) =
# Σ_{z∈N(x)∩N(y)} 1/ln(deg z) (Adamic & Adar '03) on the bipartite
# part–order graph, where a shared neighbor is an order containing
# both parts and its degree is the order's distinct-part count. The
# "related items" / graph-completion scorer that upgrades raw
# co-occurrence (basket_pairs) by discounting promiscuous hubs.
#
# Determinism: shared orders group by their size k first, so the score
# is Σ_k cnt_k·w_k over ≤|max order size| terms with w_k = 1/ln k
# rounded to 12 dp — every term an exactly-rounded double routed
# through DECIMAL (order-independent sum).
#
# Scale: the self-join fans out per order (≤C(7,2) pairs each — the
# basket_pairs bound), never corpus-wide; top-20 via
# TakeOrderedAndProject, no global sort.
# --------------------------------------------------------------------------

_AA_TOP_K = 20
_AA_MIN_SHARED = 2


def q_adamic_adar_links(spark, sf_dir):
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    sizes = li.groupBy("l_orderkey").agg(F.count("*").alias("k"))
    a = li.join(sizes, "l_orderkey").where(F.col("k") >= 2)
    pairs = a.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"), "k"
    ).join(
        li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb")
        ),
        ["o"],
    ).where(F.col("pa") < F.col("pb"))
    grouped = pairs.groupBy("pa", "pb", "k").agg(F.count("*").alias("cnt"))
    w_k = F.round(F.lit(1.0) / F.log(F.col("k").cast("double")), 12)
    scored = (
        grouped.select(
            "pa",
            "pb",
            "cnt",
            F.round(F.col("cnt") * w_k, 12).cast("decimal(38,12)").alias(
                "term"
            ),
        )
        .groupBy("pa", "pb")
        .agg(
            F.sum("cnt").alias("shared_orders"),
            F.sum("term").alias("aa_dec"),
        )
        .where(F.col("shared_orders") >= _AA_MIN_SHARED)
    )
    return (
        scored.select(
            "pa",
            "pb",
            "shared_orders",
            F.round(F.col("aa_dec").cast("double"), 10).alias("aa_score"),
        )
        .orderBy(F.desc("aa_score"), "pa", "pb")
        .limit(_AA_TOP_K)
    )


ADAMIC_ADAR_LINKS_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
sizes AS (SELECT l_orderkey, COUNT(*) AS k FROM li GROUP BY l_orderkey),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, s.k
  FROM li a
  JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN sizes s ON s.l_orderkey = a.l_orderkey
  WHERE s.k >= 2
),
grouped AS (
  SELECT pa, pb, k, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2, 3
),
scored AS (
  SELECT pa, pb,
         CAST(SUM(cnt) AS BIGINT) AS shared_orders,
         SUM(CAST({_sql_round(
             "cnt * CAST("
             + _sql_round("1.0 / ln(CAST(k AS DOUBLE))", 12)
             + " AS DOUBLE)",
             12,
         )} AS DECIMAL(38,12))) AS aa_dec
  FROM grouped GROUP BY 1, 2
  HAVING SUM(cnt) >= {_AA_MIN_SHARED}
)
SELECT pa, pb, shared_orders,
       {_sql_round('CAST(aa_dec AS DOUBLE)', 10)} AS aa_score
FROM scored
ORDER BY aa_score DESC, pa, pb
LIMIT {_AA_TOP_K}
"""


# --------------------------------------------------------------------------
# calibration_ece — reliability table + Expected Calibration Error
# (Naeini'15/Guo'17), the standard readout for "do predicted
# probabilities mean what they say". Model under audit: a fixed
# logistic score on quantity predicting the return flag (the same
# frozen-model convention as quality_logit_deciles — inference is a
# per-row expression, no fit step). Ten equal-width confidence bins;
# per bin the mean confidence vs. empirical accuracy; ECE is the
# row-weighted mean absolute gap.
#
# Determinism: the score is rounded to 10 dp BEFORE binning and
# averaging (bin edges verified non-adjacent: min |10·s − round(10·s)|
# ≈ 0.0057 on this data, so a last-ulp exp() divergence cannot flip a
# bin); per-bin means come from DECIMAL-routed sums; the final ECE sum
# runs over the 10-row bin frame, DECIMAL-quantized.
#
# Scale: one groupBy on the bin id (map-side partial agg) — the bin
# frame is 10 rows at every SF; the ECE total is a 1-row broadcast.
# --------------------------------------------------------------------------


def q_calibration_ece(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    z = (F.col("l_quantity") - 25.5) / 10
    s = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 10)
    scored = li.select(
        s.alias("s"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    ).withColumn(
        "bin", F.least(F.floor(F.col("s") * 10), F.lit(9)).cast("int")
    )
    bins = scored.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum(F.col("s").cast("decimal(38,10)")).alias("s_sum"),
        F.sum("y").alias("y_sum"),
    )
    conf = F.round(F.col("s_sum").cast("double") / F.col("n"), 8)
    acc = F.col("y_sum").cast("double") / F.col("n")
    per_bin = bins.select(
        "bin",
        "n",
        conf.alias("confidence"),
        F.round(acc, 8).alias("accuracy"),
        F.round(F.abs(conf - acc), 8).alias("abs_gap"),
        F.round(F.col("n") * F.abs(conf - acc), 8)
        .cast("decimal(38,8)")
        .alias("wgap"),
    )
    ece = per_bin.agg(
        (
            F.sum("wgap").cast("double") / F.sum("n").cast("double")
        ).alias("ece_raw")
    ).select(F.round(F.col("ece_raw"), 8).alias("ece"))
    return (
        per_bin.select("bin", "n", "confidence", "accuracy", "abs_gap")
        .join(F.broadcast(ece))
        .orderBy("bin")
    )


_ECE_S = _sql_round("1.0 / (1.0 + exp(-((l_quantity - 25.5) / 10)))", 10)

CALIBRATION_ECE_SQL = f"""
WITH scored AS (
  SELECT CAST({_ECE_S} AS DOUBLE) AS s,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
),
binned AS (
  SELECT LEAST(CAST(FLOOR(s * 10) AS INTEGER), 9) AS bin, s, y FROM scored
),
bins AS (
  SELECT bin, COUNT(*) AS n,
         SUM(CAST(s AS DECIMAL(38,10))) AS s_sum,
         CAST(SUM(y) AS BIGINT) AS y_sum
  FROM binned GROUP BY bin
),
per_bin AS (
  SELECT bin, n,
         {_sql_round('CAST(s_sum AS DOUBLE) / n', 8)} AS confidence,
         {_sql_round('CAST(y_sum AS DOUBLE) / n', 8)} AS accuracy,
         {_sql_round(
             "ABS(CAST({} AS DOUBLE) - CAST(y_sum AS DOUBLE) / n)".format(
                 _sql_round('CAST(s_sum AS DOUBLE) / n', 8)
             ),
             8,
         )} AS abs_gap,
         CAST({_sql_round(
             "n * ABS(CAST({} AS DOUBLE) - CAST(y_sum AS DOUBLE) / n)".format(
                 _sql_round('CAST(s_sum AS DOUBLE) / n', 8)
             ),
             8,
         )} AS DECIMAL(38,8)) AS wgap
  FROM bins
),
ece AS (
  SELECT {_sql_round(
      'CAST(SUM(wgap) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)', 8
  )} AS ece
  FROM per_bin
)
SELECT bin, n, confidence, accuracy, abs_gap, ece
FROM per_bin, ece
ORDER BY bin
"""


# --------------------------------------------------------------------------
# zorder_skipping_gain — the data-LAYOUT decision table: how many
# row groups does a 2-D band predicate (custkey range AND price
# range) have to read under (a) insertion order, (b) a linear sort
# on custkey, (c) Morton/Z-order interleaving of both dims — i.e.
# the exact question `OPTIMIZE ZORDER BY` answers in a lakehouse
# (Delta/Iceberg file skipping off min-max column stats; Morton
# curve per Morton 1966). Linear sort skips perfectly on ITS key and
# not at all on the other; Z-order splits the difference on both —
# this query quantifies that trade with exact counts.
#
# Division of labor with the existing layout family:
# zorder_layout_stats audits the tightness of the layout the WRITER
# (sources/sinks.py::write_zorder_parquet) actually produced; this
# query compares CANDIDATE layouts' skip behavior under a concrete
# predicate BEFORE committing to a rewrite — the before/after pair
# of an OPTIMIZE decision. Both share the same `_morton_terms`
# interleave, so the simulated layout is bit-identical to the
# written one.
#
# Layout simulation: each layout range-partitions its sort key into
# 64 groups (exactly what repartitionByRange + sortWithinPartitions
# produces at write time), so the group id is a MAP-SIDE expression
# of the key — no global sort, no row_number, no ntile anywhere.
# Dims are min-max quantized to the 16-bit grid in-plan (1-row
# bounds frame via broadcast cross join — the certificate pattern);
# the Morton code is 32 literal-shift terms generated from one
# Python loop for BOTH engines. Skip decision per group = min-max
# interval overlap with the probe band, the same test a reader runs
# against footer stats. n_match (band rows, layout-invariant) rides
# along as the self-check that all three arms saw the same band.
#
# Determinism: everything is integer arithmetic off exact bounds;
# the price enters as half-up-rounded cents (the _QUANT pattern —
# one identical double op per row).
#
# Scale: ONE scan fans out ×3 map-side (explode of a 3-literal
# array), one (layout, group) reduce (map-side combinable, ≤ 3·64
# groups), one |layouts|-row final reduce. At 100 TB the same query
# runs on the file-footer stats table instead of raw rows and the
# scan term disappears entirely — the decision logic is unchanged.
# --------------------------------------------------------------------------

_ZORD_BITS = 16
_ZORD_GROUPS = 64  # 2^6 range partitions per layout
_ZORD_LO, _ZORD_HI = 16384, 49151  # middle-half band on each dim


def _morton_expr(xcol: str, ycol: str, div_op: str) -> str:
    """Bit-interleave two 16-bit ints — delegates to the module's
    `_morton_terms` generator (the writer-parity interleave used by
    zorder_layout_stats) with the engine's integer-division spelling
    substituted (`div` on Spark, `//` on DuckDB); operands are
    non-negative by construction so the convention cannot diverge."""
    return _morton_terms(xcol, ycol).format(d=div_op)


def q_zorder_skipping_gain(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    pc = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    bounds = orders.agg(
        F.expr("MIN(o_custkey)").alias("minx"),
        F.expr("greatest(MAX(o_custkey) - MIN(o_custkey), 1)").alias("rx"),
        F.expr(f"MIN({pc})").alias("miny"),
        F.expr(
            f"greatest(MAX({pc}) - MIN({pc}), 1)"
        ).alias("ry"),
        F.expr("MIN(o_orderkey)").alias("mino"),
        F.expr(
            "greatest(MAX(o_orderkey) - MIN(o_orderkey) + 1, 1)"
        ).alias("ro"),
    )
    g = _ZORD_GROUPS
    quant = (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .crossJoin(F.broadcast(bounds))
        .selectExpr(
            "(o_custkey - minx) * 65535 div rx AS x16",
            f"({pc} - miny) * 65535 div ry AS y16",
            f"(o_orderkey - mino) * {g} div ro AS g_ins",
        )
        .selectExpr(
            "x16",
            "y16",
            "g_ins",
            f"x16 div {65536 // g} AS g_lin",
            f"({_morton_expr('x16', 'y16', 'div')}) div {4**_ZORD_BITS // g}"
            " AS g_z",
        )
    )
    lo, hi = _ZORD_LO, _ZORD_HI
    fanned = quant.select(
        "x16",
        "y16",
        F.explode(
            F.expr(
                "array(named_struct('layout', 'insertion', 'grp', g_ins),"
                " named_struct('layout', 'linear', 'grp', g_lin),"
                " named_struct('layout', 'zorder', 'grp', g_z))"
            )
        ).alias("a"),
    ).select("x16", "y16", F.col("a.layout").alias("layout"), F.col("a.grp"))
    per_group = fanned.groupBy("layout", "grp").agg(
        F.count("*").alias("n"),
        F.min("x16").alias("mnx"),
        F.max("x16").alias("mxx"),
        F.min("y16").alias("mny"),
        F.max("y16").alias("mxy"),
        F.sum(
            (
                F.col("x16").between(lo, hi) & F.col("y16").between(lo, hi)
            ).cast("long")
        ).alias("n_match"),
    )
    read = ~(
        (F.col("mxx") < lo)
        | (F.col("mnx") > hi)
        | (F.col("mxy") < lo)
        | (F.col("mny") > hi)
    )
    return (
        per_group.groupBy("layout")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum(read.cast("long")).alias("groups_read"),
            F.sum(F.when(read, F.col("n")).otherwise(0)).alias("rows_read"),
            F.sum("n").alias("n_rows"),
            F.sum("n_match").alias("n_match"),
        )
        .select(
            "layout",
            "n_groups",
            "groups_read",
            F.round(
                F.lit(1.0)
                - F.col("groups_read").cast("double")
                / F.col("n_groups").cast("double"),
                6,
            ).alias("skip_fraction"),
            "rows_read",
            F.round(
                F.col("rows_read").cast("double")
                / F.col("n_rows").cast("double"),
                6,
            ).alias("row_read_share"),
            "n_match",
        )
        .orderBy("layout")
    )


def _zorder_skipping_gain_sql() -> str:
    pc = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    g = _ZORD_GROUPS
    lo, hi = _ZORD_LO, _ZORD_HI
    return f"""
WITH bounds AS (
  SELECT MIN(o_custkey) AS minx,
         greatest(MAX(o_custkey) - MIN(o_custkey), 1) AS rx,
         MIN({pc}) AS miny,
         greatest(MAX({pc}) - MIN({pc}), 1) AS ry,
         MIN(o_orderkey) AS mino,
         greatest(MAX(o_orderkey) - MIN(o_orderkey) + 1, 1) AS ro
  FROM orders
),
quant AS (
  SELECT (o_custkey - minx) * 65535 // rx AS x16,
         ({pc} - miny) * 65535 // ry AS y16,
         (o_orderkey - mino) * {g} // ro AS g_ins
  FROM orders, bounds
),
keyed AS (
  SELECT x16, y16, g_ins,
         x16 // {65536 // g} AS g_lin,
         ({_morton_expr('x16', 'y16', '//')}) // {4**_ZORD_BITS // g} AS g_z
  FROM quant
),
fanned AS (
  SELECT x16, y16, 'insertion' AS layout, g_ins AS grp FROM keyed
  UNION ALL
  SELECT x16, y16, 'linear', g_lin FROM keyed
  UNION ALL
  SELECT x16, y16, 'zorder', g_z FROM keyed
),
per_group AS (
  SELECT layout, grp, COUNT(*) AS n,
         MIN(x16) AS mnx, MAX(x16) AS mxx,
         MIN(y16) AS mny, MAX(y16) AS mxy,
         SUM(CASE WHEN x16 BETWEEN {lo} AND {hi}
                   AND y16 BETWEEN {lo} AND {hi} THEN 1 ELSE 0 END)
           AS n_match
  FROM fanned GROUP BY layout, grp
),
flagged AS (
  SELECT *, CASE WHEN mxx < {lo} OR mnx > {hi}
                   OR mxy < {lo} OR mny > {hi}
            THEN 0 ELSE 1 END AS rd
  FROM per_group
)
SELECT layout,
       COUNT(*) AS n_groups,
       CAST(SUM(rd) AS BIGINT) AS groups_read,
       {_sql_round(
           '1.0 - CAST(SUM(rd) AS DOUBLE) / COUNT(*)', 6
       )} AS skip_fraction,
       CAST(SUM(CASE WHEN rd = 1 THEN n ELSE 0 END) AS BIGINT)
         AS rows_read,
       {_sql_round(
           'CAST(SUM(CASE WHEN rd = 1 THEN n ELSE 0 END) AS DOUBLE)'
           ' / SUM(n)', 6
       )} AS row_read_share,
       CAST(SUM(n_match) AS BIGINT) AS n_match
FROM flagged
GROUP BY layout
ORDER BY layout
"""


ZORDER_SKIPPING_GAIN_SQL = _zorder_skipping_gain_sql()


from city_payroll_data_pipeline_spark.suite.vectors import (  # noqa: E402
    SAMPLED_QUERY_IDS as _SAMPLED_QUERY_IDS,
)

QUERIES = {
    "weighted_median_length": Query(
        q_weighted_median_length,
        WEIGHTED_MEDIAN_LENGTH_SQL,
        ("statistics", "weighted-median", "distributed-rank"),
    ),
    "stratified_split_plan": Query(
        q_stratified_split_plan,
        STRATIFIED_SPLIT_PLAN_SQL,
        ("splits", "sampling", "reproducibility"),
    ),
    "data_freshness_audit": Query(
        q_data_freshness_audit,
        DATA_FRESHNESS_AUDIT_SQL,
        ("ops", "freshness", "audit"),
    ),
    "item_pmi": Query(
        q_item_pmi,
        ITEM_PMI_SQL,
        ("association", "pmi", "recommendation"),
    ),
    "trade_pagerank": Query(
        q_trade_pagerank, TRADE_PAGERANK_SQL, ("graph", "pagerank", "iterative")
    ),
    "hits_scores": Query(
        q_hits_scores, HITS_SCORES_SQL, ("graph", "hits", "iterative")
    ),
    "pps_weighted_sample": Query(
        q_pps_weighted_sample,
        PPS_WEIGHTED_SAMPLE_SQL,
        ("sampling", "weighted", "integer-exact"),
    ),
    "ks_source_drift": Query(
        q_ks_source_drift, KS_SOURCE_DRIFT_SQL, ("drift", "ks-test", "stats")
    ),
    "wasserstein_length_drift": Query(
        q_wasserstein_length_drift,
        WASSERSTEIN_LENGTH_DRIFT_SQL,
        ("drift", "wasserstein", "earth-mover", "stats"),
    ),
    "blocked_fuzzy_match": Query(
        q_blocked_fuzzy_match,
        BLOCKED_FUZZY_MATCH_SQL,
        ("entity-resolution", "blocking", "fuzzy"),
    ),
    "zorder_layout_stats": Query(
        q_zorder_layout_stats,
        ZORDER_LAYOUT_STATS_SQL,
        ("layout", "zorder", "pruning"),
    ),
    "touch_attribution": Query(
        q_touch_attribution,
        TOUCH_ATTRIBUTION_SQL,
        ("attribution", "window", "interval-join"),
    ),
    "degree_assortativity": Query(
        q_degree_assortativity,
        DEGREE_ASSORTATIVITY_SQL,
        ("graph", "stats", "assortativity"),
    ),
    "k_core_decay": Query(
        q_k_core_decay,
        K_CORE_DECAY_SQL,
        ("graph", "k-core", "iterative"),
    ),
    "l_diversity_audit": Query(
        q_l_diversity_audit,
        L_DIVERSITY_AUDIT_SQL,
        ("privacy", "governance", "l-diversity"),
    ),
    "quantile_sketch_error": Query(
        q_quantile_sketch_error,
        QUANTILE_SKETCH_ERROR_SQL,
        ("quantiles", "sketch", "certification"),
    ),
    "decision_stump_split": Query(
        q_decision_stump_split,
        DECISION_STUMP_SPLIT_SQL,
        ("ml", "tree-split", "impurity"),
    ),
    "trade_triangles": Query(
        q_trade_triangles, TRADE_TRIANGLES_SQL, ("graph", "triangles")
    ),
    "histogram_quantiles": Query(
        q_histogram_quantiles,
        HISTOGRAM_QUANTILES_SQL,
        ("quantiles", "sketch", "mergeable"),
    ),
    "mad_outliers": Query(
        q_mad_outliers, MAD_OUTLIERS_SQL, ("robust-stats", "outliers")
    ),
    "quality_logit_deciles": Query(
        q_quality_logit_deciles,
        QUALITY_LOGIT_DECILES_SQL,
        ("quality", "model-inference", "deciles"),
    ),
    "quality_logit_deciles_scaled": Query(
        q_quality_logit_deciles_scaled,
        QUALITY_LOGIT_DECILES_SQL,
        ("quality", "model-inference", "deciles", "scale-path"),
    ),
    "quality_threshold_sweep": Query(
        q_quality_threshold_sweep,
        QUALITY_THRESHOLD_SWEEP_SQL,
        ("quality", "threshold", "sweep", "curation"),
    ),
    "discriminative_terms": Query(
        q_discriminative_terms,
        DISCRIMINATIVE_TERMS_SQL,
        ("text", "odds-ratio", "mix-weights"),
    ),
    "bpe_encode_tokens": Query(
        q_bpe_encode_tokens,
        BPE_ENCODE_TOKENS_SQL,
        ("tokenizer", "bpe", "fertility"),
    ),
    "dedup_rate_report": Query(
        q_dedup_rate_report, DEDUP_RATE_REPORT_SQL, ("dedup", "report")
    ),
    "zorder_skipping_gain": Query(
        q_zorder_skipping_gain,
        ZORDER_SKIPPING_GAIN_SQL,
        ("layout", "zorder", "skipping", "optimizer", "integer-exact"),
    ),
    "key_gini_skew": Query(
        q_key_gini_skew, KEY_GINI_SKEW_SQL, ("skew", "diagnostics", "gini")
    ),
    "fellegi_sunter_linkage": Query(
        q_fellegi_sunter_linkage,
        FELLEGI_SUNTER_LINKAGE_SQL,
        ("entity-resolution", "linkage", "fellegi-sunter"),
    ),
    "dp_noisy_counts": Query(
        q_dp_noisy_counts,
        DP_NOISY_COUNTS_SQL,
        ("privacy", "differential-privacy", "laplace"),
    ),
    "k_anonymity_audit": Query(
        q_k_anonymity_audit, K_ANONYMITY_AUDIT_SQL, ("privacy", "governance")
    ),
    "incremental_report_maintenance": Query(
        q_incremental_report_maintenance,
        INCREMENTAL_REPORT_MAINTENANCE_SQL,
        ("ivm", "incremental", "merge"),
    ),
    "lineitem_corr": Query(
        q_lineitem_corr, LINEITEM_CORR_SQL, ("stats", "correlation")
    ),
    "basket_pairs": Query(
        q_basket_pairs, BASKET_PAIRS_SQL, ("cooccurrence", "market-basket")
    ),
    "source_vocab_overlap": Query(
        q_source_vocab_overlap,
        SOURCE_VOCAB_OVERLAP_SQL,
        ("text", "jaccard", "corpus-similarity"),
    ),
    "chunk_dedup_rate": Query(
        q_chunk_dedup_rate, _chunk_dedup_rate_sql(), ("dedup", "chunks")
    ),
    "ann_recall_report": Query(
        q_ann_recall_report, _ann_recall_report_sql(), ("vector", "eval", "recall")
    ),
    "ann_recall_report_sampled": Query(
        q_ann_recall_report_sampled,
        _ann_recall_report_sql(_SAMPLED_QUERY_IDS),
        ("vector", "eval", "recall", "sampled"),
    ),
    "nation_ppr": Query(
        q_nation_ppr, NATION_PPR_SQL, ("graph", "pagerank", "personalized")
    ),
    "t_closeness_audit": Query(
        q_t_closeness_audit,
        T_CLOSENESS_AUDIT_SQL,
        ("privacy", "governance", "t-closeness", "emd"),
    ),
    "jackknife_ratio_se": Query(
        q_jackknife_ratio_se,
        JACKKNIFE_RATIO_SE_SQL,
        ("stats", "jackknife", "ratio-estimator"),
    ),
    "adamic_adar_links": Query(
        q_adamic_adar_links,
        ADAMIC_ADAR_LINKS_SQL,
        ("graph", "link-prediction", "adamic-adar"),
    ),
    "calibration_ece": Query(
        q_calibration_ece,
        CALIBRATION_ECE_SQL,
        ("ml", "calibration", "ece"),
    ),
}
