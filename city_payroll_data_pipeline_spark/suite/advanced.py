"""Advanced scale-pattern operators (round 3 batch B).

Four operator families the reference cannot express, each built the
Spark-first way with an exact DuckDB oracle:

* ``bloom_semi_join`` — the runtime-filter pattern: a broadcast Bloom
  bitset built from the dimension side prunes fact rows map-side
  BEFORE any shuffle/join, then an exact semi-join recheck removes the
  false positives, so the result equals the plain semi-join (which is
  the oracle). Spark's own Runtime Filtering does this invisibly for
  some shapes; this operator makes it explicit, tunable, and usable
  where Catalyst doesn't inject it (e.g. ahead of an aggregate-only
  consumer with no join in the plan).
* ``markov_transitions`` — first-order event-type transition matrix
  (the product-analytics "what happens next" / n-gram-LM-over-events
  shape): one window pass for LEAD, one vocabulary²-bounded groupBy.
* ``twap_price`` — time-weighted average: each observation weighted by
  its holding duration until the next observation (per part), summed
  per brand.  The canonical irregular-time-series aggregate (TWAP /
  time-in-state); exact decimal arithmetic end-to-end, one final
  division.
* ``bigram_novelty`` — corpus-LM novelty: the share of a source's
  distinct (doc, bigram) observations whose bigram appears in no other
  document. High novelty ≈ unique/rare text (keep for diversity, or
  inspect for noise); low ≈ templated/boilerplate. Integer counts,
  one final division.

Determinism rule (house style, see suite/__init__.py): keep everything
integer / DECIMAL until one final division or ROUND so Spark's
partial/final shuffle aggregation and DuckDB's serial fold agree
bit-for-bit.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from city_payroll_data_pipeline_spark.suite import Query, table
from city_payroll_data_pipeline_spark.suite.parity import (
    _dec_sum,
    _sql_dec_sum,
    _sql_round,
)

# --------------------------------------------------------------------------
# bloom_semi_join — broadcast Bloom prefilter + exact recheck.
#
# Reference parity note: the reference engine (DuckDB under SQLMesh,
# see SURVEY §2.3) has no user-facing runtime-filter surface either;
# this is a beyond-parity scale primitive.
#
# Shape: dimension keys (customers with c_acctbal > threshold) are
# hashed k ways into an m-bit Bloom set, materialized as ONE row
# holding the sorted array of set bit positions and broadcast to every
# probe task. Fact rows (orders) check all k of their positions with
# array_contains — pure map-side work BEFORE the exchange — and only
# survivors reach the exact LEFT SEMI recheck that removes Bloom false
# positives. Output = exact semi-join result, aggregated per priority.
#
# Scale at 100 TB: the bitset is O(m) bytes regardless of fact size
# (m = 2^14 here → ≤ 128 KiB worst case as an int array, one network
# copy per executor). With n build keys, FP rate ≈ (1 − e^(−kn/m))^k;
# at n ≈ 1.5 % of customers and m/n ≈ 50 this is < 1 %, so ~99 % of
# non-matching fact rows never leave the scan task. The recheck join
# is broadcast here (build side is small by construction); in a
# shuffle-join deployment the same prefilter cuts shuffled bytes by
# the match rate, which is the entire point of runtime filters.
# --------------------------------------------------------------------------

_BLOOM_M = 1 << 14  # bits in the filter
_BLOOM_SEEDS = (101, 202, 303)  # k = 3 independent xxhash64 seeds
_BLOOM_MIN_BAL = 7000.0


def _bloom_positions(key: F.Column) -> list[F.Column]:
    return [
        F.pmod(F.xxhash64(key, F.lit(s)), F.lit(_BLOOM_M)) for s in _BLOOM_SEEDS
    ]


def q_bloom_semi_join(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")

    build = cust.filter(F.col("c_acctbal") > _BLOOM_MIN_BAL).select("c_custkey")
    # one row: sorted distinct bit positions set by any build key
    bits = build.select(
        F.explode(F.array(*_bloom_positions(F.col("c_custkey")))).alias("pos")
    ).agg(F.array_sort(F.collect_set("pos")).alias("bits"))

    probe_checks = [
        F.array_contains(F.col("bits"), p)
        for p in _bloom_positions(F.col("o_custkey"))
    ]
    maybe = (
        orders.join(F.broadcast(bits))  # 1-row bitset, broadcast scalar
        .where(reduce(and_, probe_checks))
        .drop("bits")
    )
    hit = maybe.join(
        F.broadcast(build),
        maybe.o_custkey == build.c_custkey,
        "left_semi",
    )
    return (
        hit.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            _dec_sum(F.col("o_totalprice"), "sum_totalprice"),
        )
        .orderBy("o_orderpriority")
    )


BLOOM_SEMI_JOIN_SQL = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {_sql_dec_sum('o_totalprice', 'sum_totalprice')}
FROM orders
WHERE o_custkey IN (
  SELECT c_custkey FROM customer WHERE c_acctbal > {_BLOOM_MIN_BAL}
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# markov_transitions — per-user next-event transition probabilities.
#
# The "what happens after X" product-analytics matrix and the
# first-order Markov/LM over event streams: P(dst | src) =
# count(src→dst) / Σ_dst count(src→·). LEAD over (user, time) gives
# each event its successor; ties on ts break on event_id so both
# engines see the same ordering. One window shuffle on user_id (the
# natural key facts are usually already bucketed by), then a
# |event-type|²-bounded groupBy — corpus-independent output size.
# Probability = integer ÷ integer window total, rounded once.
# --------------------------------------------------------------------------


def _transition_counts(spark, sf_dir):
    """(src, dst, n) event-type transition counts — ONE LEAD window on
    the user's natural (ts, event_id) key, shared by
    q_markov_transitions, q_markov_stationary and q_journey_entropy so
    a tie-break or null-handling fix can never drift between their
    oracles."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
    )
    return pairs.groupBy(
        F.col("event_type").alias("src"), F.col("next_type").alias("dst")
    ).agg(F.count("*").alias("n"))


def q_markov_transitions(spark, sf_dir):
    counts = _transition_counts(spark, sf_dir)
    wsrc = W.partitionBy("src")
    return (
        counts.withColumn("src_total", F.sum("n").over(wsrc))
        .select(
            "src",
            "dst",
            "n",
            F.round(F.col("n") / F.col("src_total"), 6).alias("p"),
        )
        .orderBy("src", "dst")
    )


MARKOV_TRANSITIONS_SQL = """
WITH pairs AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS dst
  FROM events
),
counts AS (
  SELECT src, dst, COUNT(*) AS n
  FROM pairs WHERE dst IS NOT NULL
  GROUP BY src, dst
)
SELECT src, dst, n,
       round(n / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE), 6) AS p
FROM counts
ORDER BY src, dst
"""


# --------------------------------------------------------------------------
# markov_stationary — stationary distribution of the event-type chain.
#
# markov_transitions gives the one-step probabilities; this gives the
# long-run occupancy π (πP = π) — the "where does a user journey
# settle" number behind capacity weighting and journey simulation.
# Power iteration with the pagerank_scaled integer discipline: the
# distributed pass builds the transition-count matrix once, then the
# |types|²-row model iterates on the DRIVER in exact integers (mass
# scaled by 1e12; per-edge truncating division replayed identically by
# the oracle's unrolled HUGEINT CTE rounds). Dangling states (no
# outgoing edge) leak their mass — identically in both engines.
#
# Scale: the matrix build is the only corpus-touching stage (one lead
# window + one groupBy); the iteration is model-sized driver math,
# the same bounded shape as the BPE merge table or kmeans centroids.
# --------------------------------------------------------------------------

_MKV_ITERS = 12
_MKV_SCALE = 10 ** 12


def q_markov_stationary(spark, sf_dir):
    counts = _transition_counts(spark, sf_dir)
    rows = counts.collect()
    src_tot: dict[str, int] = {}
    for r in rows:
        src_tot[r["src"]] = src_tot.get(r["src"], 0) + r["n"]
    states = sorted(src_tot.keys() | {r["dst"] for r in rows})
    pi = {s: _MKV_SCALE // len(states) for s in states}
    for _ in range(_MKV_ITERS):
        nxt = dict.fromkeys(states, 0)
        for r in rows:
            nxt[r["dst"]] += pi[r["src"]] * r["n"] // src_tot[r["src"]]
        pi = nxt
    out = [(s, pi[s], pi[s] / float(_MKV_SCALE)) for s in states]
    return spark.createDataFrame(
        out, "event_type string, pi_scaled long, pi double"
    ).orderBy("event_type")


def _markov_stationary_sql() -> str:
    ctes = [
        """counts AS MATERIALIZED (
  SELECT src, dst, COUNT(*) AS n FROM (
    SELECT event_type AS src,
           LEAD(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
           ) AS dst
    FROM events
  ) WHERE dst IS NOT NULL GROUP BY src, dst
)""",
        """tot AS MATERIALIZED (
  SELECT src, CAST(SUM(n) AS BIGINT) AS t FROM counts GROUP BY src
)""",
        """states AS MATERIALIZED (
  SELECT DISTINCT s FROM (
    SELECT src AS s FROM counts UNION SELECT dst FROM counts
  )
)""",
        f"""p0 AS MATERIALIZED (
  SELECT s, CAST({_MKV_SCALE} // (SELECT COUNT(*) FROM states) AS HUGEINT)
           AS m
  FROM states
)""",
    ]
    for k in range(1, _MKV_ITERS + 1):
        prev = f"p{k - 1}"
        ctes.append(f"""p{k} AS MATERIALIZED (
  SELECT st.s, COALESCE(mass.m, 0) AS m FROM states st
  LEFT JOIN (
    SELECT dst AS s, CAST(SUM(p.m * n // t) AS HUGEINT) AS m
    FROM counts JOIN tot USING (src) JOIN {prev} p ON p.s = counts.src
    GROUP BY dst
  ) mass USING (s)
)""")
    return f"""WITH {', '.join(ctes)}
SELECT s AS event_type, CAST(m AS BIGINT) AS pi_scaled,
       CAST(m AS DOUBLE) / {float(_MKV_SCALE)} AS pi
FROM p{_MKV_ITERS} ORDER BY event_type"""


MARKOV_STATIONARY_SQL = _markov_stationary_sql()


_SURV_HORIZON = 365  # shared with conversion_survival_curve below


# --------------------------------------------------------------------------
# log_rank_test — two-group survival comparison (the Mantel-Cox test).
#
# conversion_survival_curve draws the curve; this answers "do BUILDING
# customers convert to a second purchase at a different rate than the
# rest" with the standard censoring-aware significance test: at each
# distinct event time, compare group-1's observed events against the
# expectation under equal hazards (E1 = Σ d_t·n1_t/n_t), accumulate the
# hypergeometric variance, chi2 = (O1−E1)²/V.
#
# Determinism: risk sets are exact integer trailing cumsums over the
# ≤ horizon+1 distinct-day frame (the KM pattern); every per-day term
# is one identical double op-tree rounded to 10 dp and summed through
# DECIMAL(28,10), so partial aggregation order cannot move the sums.
# NAMING NOTE: at-risk counts are r1/r2, never n1/n2 — DuckDB
# identifiers are case-insensitive, and a column named n1 next to the
# group total N1 silently renames to n1_1 and rebinds downstream
# references to the TOTAL (a real bug this query's first draft had).
#
# Scale: two projected passes over orders + one customer broadcast;
# the risk-set window is horizon-bounded.
# --------------------------------------------------------------------------

def q_log_rank_test(spark, sf_dir):
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("date").alias("od"),
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(2).alias("g"),
    )
    firsts = orders.groupBy("user_id").agg(F.min("od").alias("t0"))
    seconds = (
        orders.join(firsts, "user_id")
        .filter(F.col("od") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("od").alias("conv_d"))
    )
    conv = firsts.join(seconds, "user_id", "left").join(cust, "user_id")
    lag = F.datediff("conv_d", "t0")
    cens = F.col("conv_d").isNull() | (lag > _SURV_HORIZON)
    per_user = conv.select(
        "g",
        F.when(cens, F.lit(_SURV_HORIZON)).otherwise(lag).alias("t"),
        F.when(cens, F.lit(0)).otherwise(1).alias("event"),
    )
    g1 = (F.col("g") == 1).cast("long")
    g2 = (F.col("g") == 2).cast("long")
    per_t = per_user.groupBy("t").agg(
        F.sum(F.col("event") * g1).alias("d1"),
        F.sum(F.col("event") * g2).alias("d2"),
        F.sum(g1).alias("x1"),
        F.sum(g2).alias("x2"),
    )
    w_all = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = per_t.select(
        F.sum("x1").alias("N1"), F.sum("x2").alias("N2")
    )
    d = F.col("d1") + F.col("d2")
    risk = (
        per_t.join(F.broadcast(tot))
        .withColumn("r1", F.col("N1") - (F.sum("x1").over(w_all) - F.col("x1")))
        .withColumn("r2", F.col("N2") - (F.sum("x2").over(w_all) - F.col("x2")))
    )
    nt = F.col("r1") + F.col("r2")
    dt = d
    e1t = F.when(
        dt > 0,
        F.round(
            (dt * F.col("r1")).cast("double") / nt.cast("double"), 10
        ),
    ).otherwise(F.lit(0.0)).cast("decimal(28,10)")
    p1 = F.col("r1").cast("double") / nt.cast("double")
    vt = F.when(
        (dt > 0) & (nt > 1),
        F.round(
            dt.cast("double")
            * p1
            * (1 - p1)
            * (nt - dt).cast("double")
            / (nt - 1).cast("double"),
            10,
        ),
    ).otherwise(F.lit(0.0)).cast("decimal(28,10)")
    agg = risk.agg(
        F.max("N1").alias("n1_users"),
        F.max("N2").alias("n2_users"),
        F.sum("d1").alias("o1"),
        F.sum("d2").alias("o2"),
        F.sum(e1t).alias("e1_dec"),
        F.sum(vt).alias("v_dec"),
    )
    e1 = F.col("e1_dec").cast("double")
    v = F.col("v_dec").cast("double")
    o1 = F.col("o1").cast("double")
    return agg.select(
        "n1_users",
        "n2_users",
        "o1",
        "o2",
        F.round(e1, 6).alias("e1"),
        F.round((o1 - e1) * (o1 - e1) / v, 6).alias("chi2"),
    )



LOG_RANK_TEST_SQL = f"""
WITH o AS (
  SELECT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS od FROM orders
),
cust AS (
  SELECT c_custkey AS user_id,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 2 END AS g
  FROM customer
),
firsts AS (SELECT user_id, MIN(od) AS t0 FROM o GROUP BY user_id),
seconds AS (
  SELECT o.user_id, MIN(od) AS conv_d
  FROM o JOIN firsts USING (user_id) WHERE od > t0 GROUP BY o.user_id
),
per_user AS (
  SELECT g,
         CASE WHEN conv_d IS NULL OR datediff('day', t0, conv_d) > {_SURV_HORIZON}
              THEN {_SURV_HORIZON} ELSE datediff('day', t0, conv_d) END AS t,
         CASE WHEN conv_d IS NULL OR datediff('day', t0, conv_d) > {_SURV_HORIZON}
              THEN 0 ELSE 1 END AS event
  FROM firsts LEFT JOIN seconds USING (user_id) JOIN cust USING (user_id)
),
per_t AS (
  SELECT t,
         CAST(SUM(event * CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(SUM(event * CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS x1,
         CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS x2
  FROM per_user GROUP BY t
),
tot AS (SELECT CAST(SUM(x1) AS BIGINT) AS N1, CAST(SUM(x2) AS BIGINT) AS N2 FROM per_t),
risk AS (
  SELECT t, d1, d2, x1, x2, N1, N2,
         N1 - (CAST(SUM(x1) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) - x1) AS r1,
         N2 - (CAST(SUM(x2) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) - x2) AS r2
  FROM per_t, tot
),
terms AS (
  SELECT d1, d2, N1, N2,
         CAST(CASE WHEN d1 + d2 > 0
              THEN CAST(ROUND(CAST(CAST((CAST((d1 + d2) * r1 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,20)), 10) AS DOUBLE)
              ELSE 0.0 END AS DECIMAL(28,10)) AS e1t,
         CAST(CASE WHEN d1 + d2 > 0 AND r1 + r2 > 1
              THEN CAST(ROUND(CAST(CAST((CAST(d1 + d2 AS DOUBLE) * (CAST(r1 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE)) * (1 - CAST(r1 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE)) * CAST(r1 + r2 - (d1 + d2) AS DOUBLE) / CAST(r1 + r2 - 1 AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,20)), 10) AS DOUBLE)
              ELSE 0.0 END AS DECIMAL(28,10)) AS vt
  FROM risk
)
SELECT MAX(N1) AS n1_users, MAX(N2) AS n2_users,
       CAST(SUM(d1) AS BIGINT) AS o1, CAST(SUM(d2) AS BIGINT) AS o2,
       CAST(ROUND(CAST(CAST((CAST(SUM(e1t) AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) AS e1,
       CAST(ROUND(CAST(CAST(((CAST(SUM(d1) AS BIGINT) - CAST(SUM(e1t) AS DOUBLE)) * (CAST(SUM(d1) AS BIGINT) - CAST(SUM(e1t) AS DOUBLE)) / CAST(SUM(vt) AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) AS chi2
FROM terms
"""




# --------------------------------------------------------------------------
# simpson_paradox_audit — confounding detector for segment metrics.
#
# "High-priority orders return MORE overall but LESS in every nation"
# is Simpson's paradox — the pooled number misleads whenever group
# composition confounds the comparison, and every experimentation /
# reporting pipeline wants the flag before anyone acts on a pooled
# rate. Per nation: the high-vs-low-priority return-rate difference's
# SIGN, compared with the pooled sign; a -1 product is a flip. Rate
# comparisons are exact integer cross-multiplications (a·d vs c·b) —
# no division, no doubles, bit-deterministic by construction.
#
# Scale: one fact pass into a |nations|-sized frame; pooled totals are
# a 1-row broadcast over it.
# --------------------------------------------------------------------------

def q_simpson_paradox_audit(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_nationkey").alias("nk"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            ).otherwise(0).alias("hi"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
        )
    )
    per = base.groupBy("nk").agg(
        F.sum(F.col("ret") * F.col("hi")).alias("a"),
        F.sum(F.col("hi")).alias("b"),
        F.sum(F.col("ret") * (1 - F.col("hi"))).alias("c"),
        F.sum(1 - F.col("hi")).alias("d"),
    )
    pooled = per.agg(
        F.sum("a").alias("pa"), F.sum("b").alias("pb"),
        F.sum("c").alias("pc"), F.sum("d").alias("pd"),
    )
    # sign of rate difference via exact cross-multiplication
    gsign = F.signum((F.col("a") * F.col("d") - F.col("c") * F.col("b")).cast("double")).cast("int")
    psign = F.signum((F.col("pa") * F.col("pd") - F.col("pc") * F.col("pb")).cast("double")).cast("int")
    j = per.join(F.broadcast(pooled)).join(
        F.broadcast(nation), per["nk"] == nation["n_nationkey"]
    )
    return (
        j.select(
            F.col("n_name").alias("nation"),
            F.col("a").alias("hi_returns"),
            F.col("b").alias("hi_lines"),
            F.col("c").alias("lo_returns"),
            F.col("d").alias("lo_lines"),
            gsign.alias("group_sign"),
            psign.alias("pooled_sign"),
            ((gsign * psign) == -1).alias("sign_flip"),
        )
        .orderBy("nation")
    )



SIMPSON_PARADOX_AUDIT_SQL = """
WITH base AS (
  SELECT c_nationkey AS nk,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS hi,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
),
per AS (
  SELECT nk,
         CAST(SUM(ret * hi) AS BIGINT) AS a,
         CAST(SUM(hi) AS BIGINT) AS b,
         CAST(SUM(ret * (1 - hi)) AS BIGINT) AS c,
         CAST(SUM(1 - hi) AS BIGINT) AS d
  FROM base GROUP BY nk
),
pooled AS (
  SELECT CAST(SUM(a) AS BIGINT) AS pa, CAST(SUM(b) AS BIGINT) AS pb,
         CAST(SUM(c) AS BIGINT) AS pc, CAST(SUM(d) AS BIGINT) AS pd
  FROM per
)
SELECT n_name AS nation,
       a AS hi_returns, b AS hi_lines, c AS lo_returns, d AS lo_lines,
       CAST(sign(CAST(a * d - c * b AS DOUBLE)) AS INTEGER) AS group_sign,
       CAST(sign(CAST(pa * pd - pc * pb AS DOUBLE)) AS INTEGER) AS pooled_sign,
       (CAST(sign(CAST(a * d - c * b AS DOUBLE)) AS INTEGER)
        * CAST(sign(CAST(pa * pd - pc * pb AS DOUBLE)) AS INTEGER) = -1)
         AS sign_flip
FROM per, pooled
JOIN nation ON nk = n_nationkey
ORDER BY nation
"""




# --------------------------------------------------------------------------
# twap_price — duration-weighted average price per brand.
#
# Irregular time series: consecutive shipments of a part define
# holding intervals; each interval's price is weighted by its length
# in days (zero-length intervals contribute zero weight, parts with a
# single shipment contribute nothing). Brand TWAP =
# Σ price·days / Σ days over all the brand's part intervals.
#
# Exactness: price routes through DECIMAL(18,2) (shipment prices have
# two decimals), days is an integer, so the weighted sum is exact
# decimal arithmetic in both engines; ONE final division produces the
# double. Ordering ties (same part, same shipdate) break on
# (l_orderkey, l_linenumber) identically in both engines.
#
# Scale: one window shuffle on l_partkey (the fact's natural
# bucketing key), a broadcast join to the part dim for brand, and a
# 25-row output aggregate. No self-join, no re-scan.
# --------------------------------------------------------------------------


def q_twap_price(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    w = W.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    seg = (
        li.select(
            "l_partkey", "l_shipdate", "l_orderkey", "l_linenumber",
            "l_extendedprice",
        )
        .withColumn("next_ship", F.lead("l_shipdate").over(w))
        .where(F.col("next_ship").isNotNull())
        .withColumn(
            "days",
            F.datediff(F.col("next_ship").cast("date"),
                       F.col("l_shipdate").cast("date")),
        )
    )
    weighted = seg.select(
        "l_partkey",
        "days",
        (F.col("l_extendedprice").cast("decimal(18,2)") * F.col("days")).alias(
            "px_days"
        ),
    )
    return (
        weighted.join(F.broadcast(part.select("p_partkey", "p_brand")),
                      weighted.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count_distinct("l_partkey").alias("n_parts"),
            F.count("*").alias("n_intervals"),
            F.sum("days").alias("sum_days"),
            (F.sum("px_days").cast("double")
             / F.nullif(F.sum("days"), F.lit(0)).cast("double")
             ).alias("twap"),
        )
        .orderBy("p_brand")
    )


TWAP_PRICE_SQL = """
WITH seg AS (
  SELECT l_partkey, l_extendedprice,
         date_diff('day',
                   CAST(l_shipdate AS DATE),
                   CAST(LEAD(l_shipdate) OVER (
                     PARTITION BY l_partkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ) AS DATE)) AS days
  FROM lineitem
)
SELECT p_brand,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(*) AS n_intervals,
       CAST(SUM(days) AS BIGINT) AS sum_days,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * days) AS DOUBLE)
         / CAST(NULLIF(SUM(days), 0) AS DOUBLE) AS twap
FROM seg JOIN part ON l_partkey = p_partkey
WHERE days IS NOT NULL
GROUP BY p_brand
ORDER BY p_brand
"""


# --------------------------------------------------------------------------
# bigram_novelty — per-source share of corpus-unique bigrams.
#
# The LM-flavored novelty/boilerplate diagnostic on the documents
# corpus: a (doc, bigram) observation is "novel" when its bigram's
# document frequency is exactly 1 — no other document in the corpus
# contains it. Template/boilerplate-heavy sources score low; unique
# prose scores high. This is the aggregate cousin of the MinHash
# near-dup family (dedup.py): both work on the same distinct
# (doc, shingle) frame, but here the output is a per-source audit
# number rather than candidate pairs.
#
# Scale: two shuffles, both on bounded frames — distinct(doc, bigram)
# (corpus-bigram-bounded, text itself never re-shuffled) and the
# vocabulary²-bounded doc-frequency groupBy. The df join back is on
# the same bigram key (no extra exchange under AQE reuse), and the
# per-source rollup output is |sources| rows. Integer counts, one
# final division.
# --------------------------------------------------------------------------


def q_bigram_novelty(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import word_tokens

    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", "source", word_tokens(F.col("text")).alias("w"))
    bg = (
        toks.select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.slice(F.col("w"), 1, F.greatest(F.size("w") - 1, F.lit(0))),
                    lambda x, i: F.concat_ws(
                        " ", x, F.element_at(F.col("w"), i + 2)
                    ),
                )
            ).alias("bg"),
        )
        .distinct()
    )
    df_counts = bg.groupBy("bg").agg(F.count("*").alias("df"))
    return (
        bg.join(df_counts, "bg")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_doc_bigrams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
            F.round(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("novelty"),
        )
        .orderBy("source")
    )


BIGRAM_NOVELTY_SQL = r"""
WITH bg AS (
  SELECT DISTINCT doc_id, source, bg
  FROM (
    SELECT doc_id, source,
           unnest(list_transform(
             range(0, len(w) - 1), i -> w[i+1] || ' ' || w[i+2]
           )) AS bg
    FROM (
      SELECT doc_id, source,
             regexp_extract_all(lower(text), '[a-z]+', 0) AS w
      FROM documents
    )
    WHERE len(w) >= 2
  )
),
dfc AS (
  SELECT bg, COUNT(*) AS df FROM bg GROUP BY bg
)
SELECT source,
       COUNT(*) AS n_doc_bigrams,
       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       round(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
FROM bg JOIN dfc USING (bg)
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# stable_doc_ids — contiguous global row numbering without a global
# sort (operators/rowids.py). The oracle runs the naive global
# ROW_NUMBER; the hash match proves the sharded two-phase plan is
# bit-identical to it while its largest sort is 1/n_shards of the
# data.
# --------------------------------------------------------------------------

_RID_SHARDS = 8


def q_stable_doc_ids(spark, sf_dir):
    from city_payroll_data_pipeline_spark.operators.rowids import stable_row_ids

    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    return stable_row_ids(docs, "doc_id", n_shards=_RID_SHARDS).select(
        "row_id", "doc_id", "source"
    ).orderBy("row_id")


STABLE_DOC_IDS_SQL = """
SELECT ROW_NUMBER() OVER (ORDER BY doc_id) AS row_id, doc_id, source
FROM documents
ORDER BY row_id
"""


# --------------------------------------------------------------------------
# jl_projection_error — Johnson–Lindenstrauss ±1 random projection
# with an exact-integer error report.
#
# Projecting d=64-dim embeddings to k=16 dims with a ±1 sign matrix
# (Achlioptas 2001: database-friendly random projections) preserves
# dot products in expectation: E[⟨Pq, Px⟩] = k·⟨q, x⟩. This query
# measures how well, per query vector, against the whole corpus:
# sign-agreement count and the RMS residual of proj_dot − k·true_dot
# — the go/no-go check before swapping full-dim scoring for projected
# scoring in a retrieval pipeline.
#
# Determinism: embeddings ride the 1e-4 integer grid
# (operators/similarity.py contract), the sign matrix is a fixed LCG
# literal embedded in BOTH engines, so projections, dots and residuals
# are exact BIGINT; residual squares route through DECIMAL(38,0)
# (they exceed int64) and ONE final sqrt/divide chain produces the
# double.
#
# Scale: the projection is a map-side expression (k dot products per
# row); the query set is a broadcast (same pattern as cosine_topk).
# At 100 TB you'd materialize the k-dim projection once and score on
# it — 4× fewer bytes per vector here, more at higher d/k ratios.
# --------------------------------------------------------------------------

_JL_K = 16
_JL_D = 64


def _jl_sign(i: int, j: int) -> int:
    """Deterministic ±1 from one 64-bit LCG step on the cell index."""
    x = ((i * _JL_K + j) * 6364136223846793005 + 1442695040888963407) % (1 << 64)
    return 1 if (x >> 33) & 1 else -1


_JL_SIGNS = [[_jl_sign(i, j) for i in range(_JL_D)] for j in range(_JL_K)]


def q_jl_projection_error(spark, sf_dir):
    from city_payroll_data_pipeline_spark.operators import similarity as sim
    from city_payroll_data_pipeline_spark.suite.vectors import N_QUERIES

    emb = table(spark, sf_dir, "embeddings", spread=True)
    q = emb.select("vec_id", sim.quantize(F.col("embedding")).alias("qv"))

    # ONE nested-array literal + transform, not K×D individual F.lit
    # calls: the per-element form costs ~1000 py4j round trips (~2s of
    # driver time PER BUILD — the r4 bench regression); the semantics
    # and the resulting pv values are identical.
    signs = F.lit(_JL_SIGNS).cast("array<array<bigint>>")

    def project(col: F.Column) -> F.Column:
        return F.transform(signs, lambda srow: sim.dot_q(col, srow))

    proj = q.select("vec_id", "qv", project(F.col("qv")).alias("pv"))
    queries = proj.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("pv").alias("q_pv"),
    )
    pairs = proj.join(F.broadcast(queries)).select(
        "query_id",
        sim.dot_q(F.col("q_qv"), F.col("qv")).alias("true_dot"),
        sim.dot_q(F.col("q_pv"), F.col("pv")).alias("proj_dot"),
    )
    r = (F.col("proj_dot") - _JL_K * F.col("true_dot")).cast("decimal(38,0)")
    scale = float(_JL_K) * sim.QUANT * sim.QUANT
    return (
        pairs.groupBy("query_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                F.when(
                    F.signum("proj_dot") == F.signum("true_dot"), 1
                ).otherwise(0)
            ).alias("sign_agree"),
            # cast the exact decimal sum to double BEFORE dividing
            # (matching the oracle's CAST(SUM(..) AS DOUBLE)/COUNT);
            # decimal-division-then-cast rounds differently by 1 ulp.
            # The 10-dp round absorbs any residual last-ulp drift in
            # the conversion chain (house pattern, see lineitem_corr).
            F.round(
                F.sqrt(F.sum(r * r).cast("double") / F.count("*"))
                / F.lit(scale),
                10,
            ).alias("rmse"),
        )
        .orderBy("query_id")
    )


def _jl_oracle_sql() -> str:
    from city_payroll_data_pipeline_spark.suite.vectors import (
        N_QUERIES,
        _QUANT_SQL,
        _dot_sql,
    )

    sign_lists = ", ".join(
        "[" + ", ".join(str(s) for s in _JL_SIGNS[j]) + "]"
        for j in range(_JL_K)
    )
    from city_payroll_data_pipeline_spark.operators import similarity as sim

    # sim.QUANT, not a hardcoded 10_000: a grid change in
    # operators/similarity.py must move this oracle with its Spark twin
    scale = float(_JL_K) * sim.QUANT * sim.QUANT
    return f"""
WITH q AS (
  SELECT vec_id, {_QUANT_SQL} AS qv FROM embeddings
),
proj AS (
  SELECT vec_id, qv,
         list_transform([{sign_lists}], s -> {_dot_sql('qv', 's')}) AS pv
  FROM q
),
pairs AS (
  SELECT a.vec_id AS query_id,
         {_dot_sql('a.qv', 'b.qv')} AS true_dot,
         {_dot_sql('a.pv', 'b.pv')} AS proj_dot
  FROM proj a, proj b
  WHERE a.vec_id < {N_QUERIES}
)
SELECT query_id,
       COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN sign(proj_dot) = sign(true_dot) THEN 1 ELSE 0 END)
            AS BIGINT) AS sign_agree,
       {_sql_round(
           f"sqrt(CAST(SUM(CAST(proj_dot - {_JL_K} * true_dot AS HUGEINT)"
           f" * CAST(proj_dot - {_JL_K} * true_dot AS HUGEINT)) AS DOUBLE)"
           f" / COUNT(*)) / {scale}",
           10,
       )} AS rmse
FROM pairs
GROUP BY query_id
ORDER BY query_id
"""


# --------------------------------------------------------------------------
# temperature_mixture — temperature-scaled sampling weights per source.
#
# The multilingual/multi-source mixing rule (e.g. the α-smoothed
# sampling of mBERT/XLM-R and data-mix papers): sampling probability
# p_s ∝ tokens_s^α with α = 0.5 — upweights small sources relative to
# proportional sampling without letting any source dominate. Output is
# the mix table a training-data pipeline feeds its sampler: per-source
# token mass, temperature weight, sampling probability, and the token
# allocation out of a fixed budget.
#
# Determinism: tokens^0.5 = sqrt (IEEE correctly-rounded, unlike
# pow/ln), rounded once to 6 dp and routed through DECIMAL(24,6) so
# the normalization sum is order-independent; the probability and
# allocation derive from the same two decimals in both engines.
# Scale: one groupBy over sources + a broadcast 1-row total.
# --------------------------------------------------------------------------

_TEMP_BUDGET = 1_000_000  # token budget to allocate across sources


def q_temperature_mixture(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import token_count

    docs = table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(token_count(F.col("text"))).alias("n_tokens")
    )
    per = per.withColumn(
        "w", F.round(F.sqrt("n_tokens"), 6).cast("decimal(24,6)")
    )
    tot = per.agg(F.sum("w").alias("tw"))
    p = F.col("w").cast("double") / F.col("tw").cast("double")
    return (
        per.join(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            F.col("w").cast("double").alias("weight"),
            F.round(p, 6).alias("p_sample"),
            F.floor(F.lit(_TEMP_BUDGET) * p).cast("bigint").alias(
                "alloc_tokens"
            ),
        )
        .orderBy("source")
    )


TEMPERATURE_MIXTURE_SQL = rf"""
WITH per AS (
  SELECT source,
         CAST(SUM(len(regexp_extract_all(text, '\S+', 0))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_tokens,
         -- Spark's round(sqrt, 6)->DECIMAL(24,6): 6-dp HALF_UP on the
         -- shortest decimal repr (VARCHAR route), exact decimal out
         CAST(ROUND(CAST(CAST(sqrt(n_tokens) AS VARCHAR)
                         AS DECIMAL(38,20)), 6) AS DECIMAL(24,6)) AS wd
  FROM per
),
tot AS (SELECT SUM(wd) AS tw FROM w)
SELECT source, n_tokens,
       CAST(wd AS DOUBLE) AS weight,
       {_sql_round('CAST(wd AS DOUBLE) / CAST(tw AS DOUBLE)', 6)} AS p_sample,
       CAST(floor({_TEMP_BUDGET} * (CAST(wd AS DOUBLE) / CAST(tw AS DOUBLE)))
            AS BIGINT) AS alloc_tokens
FROM w, tot
ORDER BY source
"""


# --------------------------------------------------------------------------
# label_centroid_sim — pairwise cosine between per-label centroids.
#
# The embedding-space class-geometry audit: which labels' centroids
# sit close together (confusable / candidate merge) and which are well
# separated. Reuses the nearest_centroid_eval machinery: UNNORMALIZED
# integer sum-centroids on the 1e-4 grid keep every dot/norm exact
# BIGINT, and cosine is scale-invariant so the un-divided sums are
# the correct centroids to compare. The pairwise stage runs on the
# |labels|-row centroid frame — the corpus is read once and never
# shuffled beyond the (label, pos) partial-sum aggregate.
# --------------------------------------------------------------------------


def q_label_centroid_sim(spark, sf_dir):
    from city_payroll_data_pipeline_spark.operators import similarity as sim

    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "label", sim.quantize(F.col("embedding")).alias("q")
    )
    sums = (
        emb.select("label", F.posexplode("q").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.sum("val").alias("s"))
    )
    cents = (
        sums.groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "s"))),
                lambda x: x["s"],
            ).alias("c")
        )
        .withColumn("n2", F.expr("aggregate(transform(c, x -> x * x), 0L, (a, x) -> a + x)"))
    )
    pairs = cents.alias("x").join(
        cents.alias("y"), F.col("x.label") < F.col("y.label")
    )
    from city_payroll_data_pipeline_spark.operators.similarity import dot_q

    return pairs.select(
        F.col("x.label").alias("label_a"),
        F.col("y.label").alias("label_b"),
        F.round(
            dot_q(F.col("x.c"), F.col("y.c")).cast("double")
            / F.sqrt(
                F.col("x.n2").cast("double") * F.col("y.n2").cast("double")
            ),
            6,
        ).alias("cos"),
    ).orderBy("label_a", "label_b")


def _label_centroid_sim_sql() -> str:
    from city_payroll_data_pipeline_spark.suite.vectors import (
        DIM,
        _QUANT_SQL,
        _dot_sql,
    )

    return f"""
WITH q AS (
  SELECT label, {_QUANT_SQL} AS q FROM embeddings
),
pos AS (
  SELECT label, p.pos AS pos, q[p.pos] AS val
  FROM q CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS pos) p
),
sums AS (
  SELECT label, pos, CAST(SUM(val) AS BIGINT) AS s
  FROM pos GROUP BY label, pos
),
cents AS (
  SELECT label, list(s ORDER BY pos) AS c FROM sums GROUP BY label
),
cents2 AS (SELECT label, c, {_dot_sql('c', 'c')} AS n2 FROM cents)
SELECT x.label AS label_a, y.label AS label_b,
       {_sql_round(
           f"CAST({_dot_sql('x.c', 'y.c')} AS DOUBLE)"
           f" / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE))",
           6,
       )} AS cos
FROM cents2 x JOIN cents2 y ON x.label < y.label
ORDER BY label_a, label_b
"""


# --------------------------------------------------------------------------
# conversion_survival_curve — Kaplan-Meier time-to-repeat-purchase,
# the survival-analysis readout (how long after the first order does
# the second come, with one-time buyers correctly CENSORED rather
# than dropped — the mistake plain lag histograms make). Per
# customer: first order date → first STRICTLY LATER order date;
# lag in days, censored at the 365-day horizon. The curve is
# reported on the LOG scale:
# log S(t) = Σ_{t'≤t} ln(1 − d/n) with each ln taken on an exact
# integer ratio and rounded to 8 dp immediately (the bm25/psi ln
# rule), then DECIMAL-summed — so the cumulative product that makes
# float KM implementations order-sensitive is an order-exact sum
# here. exp is NOT applied (not trusted cross-engine); consumers
# exponentiate client-side.
#
# Scale: one orders⋈users join on the user key + one groupBy each;
# the curve windows run over ≤ horizon+1 DISTINCT day values
# (bounded frame — allowlisted unpartitioned window), never over
# users. All risk-set arithmetic is integer.
# --------------------------------------------------------------------------


def q_conversion_survival_curve(spark, sf_dir):
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("date").alias("od"),
    )
    firsts = orders.groupBy("user_id").agg(F.min("od").alias("t0"))
    seconds = (
        orders.join(firsts, "user_id")
        .filter(F.col("od") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("od").alias("conv_d"))
    )
    # LEFT join AFTER both aggregations: one-time buyers keep their
    # row with a NULL conv_d (censored), they are never filtered away
    conv = firsts.join(seconds, "user_id", "left")
    lag = F.datediff("conv_d", "t0")
    per_user = conv.select(
        "user_id",
        F.when(
            F.col("conv_d").isNull() | (lag > _SURV_HORIZON),
            F.lit(_SURV_HORIZON),
        ).otherwise(lag).alias("t"),
        F.when(
            F.col("conv_d").isNull() | (lag > _SURV_HORIZON), F.lit(0)
        ).otherwise(1).alias("event"),
    )
    per_t = per_user.groupBy("t").agg(
        F.sum("event").alias("d"),
        F.sum(1 - F.col("event")).alias("c"),
    )
    w_all = W.orderBy("t").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    total = per_t.select(F.sum(F.col("d") + F.col("c")).alias("n_total"))
    curve = (
        per_t.join(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - (
                F.sum(F.col("d") + F.col("c")).over(w_all)
                - (F.col("d") + F.col("c"))
            ),
        )
        .withColumn(
            "term",
            F.when(
                F.col("d") > 0,
                F.round(
                    F.log(
                        (F.col("n_risk") - F.col("d")).cast("double")
                        / F.col("n_risk").cast("double")
                    ),
                    8,
                ),
            )
            .otherwise(F.lit(0.0))
            .cast("decimal(18,8)"),
        )
        .withColumn("log_surv", F.sum("term").over(w_all).cast("double"))
    )
    return curve.select(
        "t",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.col("c").cast("long").alias("n_censored"),
        "log_surv",
    ).orderBy("t")


CONVERSION_SURVIVAL_CURVE_SQL = f"""
WITH o AS (
  SELECT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS od FROM orders
),
firsts AS (SELECT user_id, MIN(od) AS t0 FROM o GROUP BY user_id),
seconds AS (
  SELECT o.user_id, MIN(o.od) AS conv_d
  FROM o JOIN firsts f ON f.user_id = o.user_id AND o.od > f.t0
  GROUP BY o.user_id
),
conv AS (
  SELECT f.user_id, f.t0, s.conv_d
  FROM firsts f LEFT JOIN seconds s ON s.user_id = f.user_id
),
per_user AS (
  SELECT user_id,
         CASE WHEN conv_d IS NULL
                   OR date_diff('day', t0, conv_d) > {_SURV_HORIZON}
              THEN {_SURV_HORIZON}
              ELSE date_diff('day', t0, conv_d) END AS t,
         CASE WHEN conv_d IS NULL
                   OR date_diff('day', t0, conv_d) > {_SURV_HORIZON}
              THEN 0 ELSE 1 END AS event
  FROM conv
),
per_t AS (
  SELECT t, CAST(SUM(event) AS BIGINT) AS d,
         CAST(SUM(1 - event) AS BIGINT) AS c
  FROM per_user GROUP BY t
),
curve AS (
  SELECT t, d, c,
         (SELECT SUM(d + c) FROM per_t)
           - (SUM(d + c) OVER (ORDER BY t
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - (d + c)) AS n_risk
  FROM per_t
),
terms AS (
  SELECT t, d, c, n_risk,
         CAST(CASE WHEN d > 0
              THEN {_sql_round(
                  'ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))',
                  8,
              )}
              ELSE 0.0 END AS DECIMAL(18,8)) AS term
  FROM curve
)
SELECT t,
       CAST(n_risk AS BIGINT) AS n_risk,
       d AS n_events,
       c AS n_censored,
       CAST(SUM(term) OVER (ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS DOUBLE) AS log_surv
FROM terms
ORDER BY t
"""


# --------------------------------------------------------------------------
# audience_overlap_matrix — pairwise audience Jaccard between event
# types: which behaviors share users (the segment-overlap readout
# behind targeting/dedup of audience segments; markov_transitions
# reads SEQUENCE structure, this reads SET structure). Distinct
# (user, type) first — one corpus exchange; the self-join then fans
# out at most C(|types|, 2) rows PER USER (types-per-user bounded by
# |types|, not by activity), and everything after runs on the
# |types|²-sized frame with the two size vectors broadcast. All
# counts integer until the one final division.
# --------------------------------------------------------------------------


def q_audience_overlap_matrix(spark, sf_dir):
    ev = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    sizes = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    both = (
        ev.alias("a")
        .join(
            ev.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    return (
        both.join(
            F.broadcast(sizes.withColumnRenamed("event_type", "type_a")),
            "type_a",
        )
        .withColumnRenamed("n", "n_a")
        .join(
            F.broadcast(sizes.withColumnRenamed("event_type", "type_b")),
            "type_b",
        )
        .withColumnRenamed("n", "n_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


AUDIENCE_OVERLAP_MATRIX_SQL = f"""
WITH ev AS (SELECT DISTINCT user_id, event_type FROM events),
sizes AS (SELECT event_type, COUNT(*) AS n FROM ev GROUP BY event_type),
ovl AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n_both
  FROM ev a JOIN ev b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b,
       sa.n AS n_a, sb.n AS n_b, n_both,
       {_sql_round(
           'n_both / CAST(sa.n + sb.n - n_both AS DOUBLE)', 6
       )} AS jaccard
FROM ovl
JOIN sizes sa ON sa.event_type = type_a
JOIN sizes sb ON sb.event_type = type_b
ORDER BY type_a, type_b
"""


# --------------------------------------------------------------------------
# length_moments_profile — per-source skewness + excess kurtosis of
# document length, the distribution-SHAPE profile (hill_tail_index
# reads the tail exponent, length_deciles the quantiles; this is the
# one-pass moment view a curation pipeline logs per source to catch
# "same mean, different shape" drift). One aggregation computes the
# four raw power sums; n_chars is BIGINT so S1..S4 are EXACT integers
# in both engines (c ≤ ~2e3 ⇒ Σc⁴ ≤ ~8e16 per source, inside BIGINT;
# at 100 TB swap the two high-power sums to DECIMAL(38,0) — same
# plan). Central moments and the two statistics are then derived in
# doubles with an IDENTICAL operation tree in both engines (neither
# engine reassociates floating-point arithmetic), so every double op
# is bit-equal; one 8-dp round absorbs nothing — it is cosmetic.
# Degenerate single-value sources (M2 = 0) null out via NULLIF.
# --------------------------------------------------------------------------


def q_length_moments_profile(spark, sf_dir):
    c = F.col("n_chars").cast("long")
    sums = (
        table(spark, sf_dir, "documents")
        .select("source", c.alias("c"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c") * F.col("c")).alias("s2"),
            F.sum(F.col("c") * F.col("c") * F.col("c")).alias("s3"),
            F.sum(
                F.col("c") * F.col("c") * F.col("c") * F.col("c")
            ).alias("s4"),
        )
    )
    nd = F.col("n").cast("double")
    s1, s2, s3, s4 = (
        F.col(x).cast("double") for x in ("s1", "s2", "s3", "s4")
    )
    m = s1 / nd
    m2 = s2 / nd - m * m
    m3 = s3 / nd - 3 * m * (s2 / nd) + 2 * m * m * m
    m4 = (
        s4 / nd
        - 4 * m * (s3 / nd)
        + 6 * (m * m) * (s2 / nd)
        - 3 * (m * m) * (m * m)
    )
    m2n = F.nullif(m2, F.lit(0.0))
    return sums.select(
        "source",
        "n",
        F.round(m, 4).alias("mean_chars"),
        F.round(F.sqrt(m2), 4).alias("sd_chars"),
        F.round(m3 / (m2n * F.sqrt(m2n)), 8).alias("skewness"),
        F.round(m4 / (m2n * m2n) - 3, 8).alias("kurtosis_ex"),
    ).orderBy("source")


LENGTH_MOMENTS_PROFILE_SQL = f"""
WITH sums AS (
  SELECT source, COUNT(*) AS n,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c * c) AS BIGINT) AS s2,
         CAST(SUM(c * c * c) AS BIGINT) AS s3,
         CAST(SUM(c * c * c * c) AS BIGINT) AS s4
  FROM (SELECT source, n_chars AS c FROM documents)
  GROUP BY source
),
d AS (
  SELECT source, n,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4
  FROM sums
),
cm AS (
  SELECT source, n, m,
         e2 - m * m AS m2,
         e3 - 3 * m * e2 + 2 * m * m * m AS m3,
         e4 - 4 * m * e3 + 6 * (m * m) * e2 - 3 * (m * m) * (m * m) AS m4
  FROM d
)
SELECT source, n,
       {_sql_round('m', 4)} AS mean_chars,
       {_sql_round('sqrt(m2)', 4)} AS sd_chars,
       {_sql_round('m3 / (NULLIF(m2, 0.0) * sqrt(NULLIF(m2, 0.0)))', 8)}
         AS skewness,
       {_sql_round('m4 / (NULLIF(m2, 0.0) * NULLIF(m2, 0.0)) - 3', 8)}
         AS kurtosis_ex
FROM cm
ORDER BY source
"""


# --------------------------------------------------------------------------
# isotonic_token_curve — per-source monotone calibration curve
# (operators/calibration.py). Fits token count as a non-decreasing
# function of document length via pool-adjacent-violators — the
# score→outcome calibration shape. PAV's cascading merges are not
# expressible as a window/aggregate plan (sanctioned applyInPandas),
# but the FIT VALUES are: by the minimax identity
#     ŷ_k = max_{i≤k} min_{j≥k} mean(y_i..y_j)
# (Barlow et al. 1972, "Statistical Inference under Order
# Restrictions"), so the oracle replays the fit exactly with an
# O(m²)-pair SQL over each source's points — m = docs per source,
# bounded at oracle scale. The identity transfers bit-for-bit to
# doubles: every segment mean is an exact-int/int division (correctly
# rounded in both engines) and rounding is monotone, so min/max of
# rounded means == rounded min/max (verified bitwise against the PAV
# kernel on 300 random integer datasets). The summary reports
# n_levels = COUNT(DISTINCT y_hat): the number of distinct fitted
# VALUES, i.e. the canonical block partition in which adjacent
# equal-mean blocks are merged. It is a lower bound on PAV's internal
# block count, NOT a violation detector — two violation-free points
# with equal y collapse to one level too, so n_levels < n_points does
# not imply pooling occurred (the column name n_blocks is kept for
# schema stability; read it as n_levels).
# --------------------------------------------------------------------------


def q_isotonic_token_curve(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import token_count
    from city_payroll_data_pipeline_spark.operators.calibration import (
        isotonic_fit,
    )

    docs = table(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        "doc_id",
    )
    fit = isotonic_fit(docs, "source", "n_chars", "n_tokens", "doc_id")
    return (
        fit.groupBy("source")
        .agg(
            F.count("*").alias("n_points"),
            F.count_distinct("y_hat").alias("n_blocks"),
            F.round(F.min("y_hat"), 6).alias("fit_min"),
            F.round(F.max("y_hat"), 6).alias("fit_max"),
        )
        .orderBy("source")
    )


# PAV via the minimax identity (see block comment above): pts orders
# each source's docs exactly as isotonic_fit does (x=n_chars, ties on
# doc_id); seg enumerates every contiguous segment's mean from prefix
# sums (sum(i..j) = sy_j − sy_i + y_i, exact BIGINTs); sm is the
# suffix-min over j; the GROUP BY j is the max over i ≤ k.
ISOTONIC_TOKEN_CURVE_SQL = rf"""
WITH pts AS (
  SELECT source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS k,
         CAST(len(regexp_extract_all(text, '\S+', 0)) AS BIGINT) AS y
  FROM documents
),
pre AS (
  SELECT source, k, y,
         CAST(SUM(y) OVER (PARTITION BY source ORDER BY k) AS BIGINT) AS sy
  FROM pts
),
seg AS (
  SELECT hi.source, lo.k AS i, hi.k AS j,
         CAST(hi.sy - lo.sy + lo.y AS DOUBLE) / (hi.k - lo.k + 1) AS m
  FROM pre lo JOIN pre hi ON lo.source = hi.source AND lo.k <= hi.k
),
sm AS (
  SELECT source, i, j,
         MIN(m) OVER (PARTITION BY source, i ORDER BY j DESC) AS suff
  FROM seg
),
fit AS (
  SELECT source, j AS k, MAX(suff) AS y_hat
  FROM sm GROUP BY source, j
)
SELECT source,
       COUNT(*) AS n_points,
       COUNT(DISTINCT y_hat) AS n_blocks,
       {_sql_round('MIN(y_hat)', 6)} AS fit_min,
       {_sql_round('MAX(y_hat)', 6)} AS fit_max
FROM fit
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# rfm_segments — recency/frequency/monetary customer segmentation.
#
# The classic lifecycle-marketing segmentation: per customer, days
# since last order (R), order count (F), decimal-exact spend (M),
# each scored into quintiles, customers grouped by the 3-digit RFM
# code. Recency anchors on the corpus max order date (deterministic,
# no wall clock). NTILE ties break on c_custkey in both engines.
#
# Scale: one groupBy on the fact's customer key, three quintile
# windows over the |customers| frame (at 100 TB swap NTILE for
# histogram_quantiles thresholds to stay single-pass — same note as
# quality_logit_deciles), |codes|-sized output.
# --------------------------------------------------------------------------


def q_rfm_segments(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("maxd"))
    per = (
        orders.join(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.min(
                F.datediff(F.col("maxd").cast("date"),
                           F.col("o_orderdate").cast("date"))
            ).alias("recency_days"),
            F.count("*").alias("frequency"),
            _dec_sum(F.col("o_totalprice"), "monetary"),
        )
    )
    w_r = W.orderBy("recency_days", "o_custkey")
    w_f = W.orderBy(F.desc("frequency"), F.asc("o_custkey"))
    w_m = W.orderBy(F.desc("monetary"), F.asc("o_custkey"))
    scored = (
        per.withColumn("r_score", F.ntile(5).over(w_r))
        .withColumn("f_score", F.ntile(5).over(w_f))
        .withColumn("m_score", F.ntile(5).over(w_m))
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            _dec_sum(F.col("monetary"), "segment_value"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


RFM_SEGMENTS_SQL = f"""
WITH anchor AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
per AS (
  SELECT o_custkey,
         MIN(date_diff('day', CAST(o_orderdate AS DATE),
                       CAST(maxd AS DATE))) AS recency_days,
         COUNT(*) AS frequency,
         {_sql_dec_sum('o_totalprice', 'monetary')}
  FROM orders, anchor
  GROUP BY o_custkey
),
scored AS (
  SELECT *,
         NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
         NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
         NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM per
)
SELECT r_score, f_score, m_score,
       COUNT(*) AS n_customers,
       {_sql_dec_sum('monetary', 'segment_value')}
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
"""


def q_rfm_segments_scaled(spark, sf_dir):
    """The promised scale path for rfm_segments: three quintile
    assignments via operators/ntile.py (each is a distinct-value
    cumsum + per-value parallel rank — no global row-level sorts) —
    bit-identical to the NTILE windows, certified by sharing the exact
    NTILE SQL oracle."""
    from city_payroll_data_pipeline_spark.operators.ntile import (
        ntile_no_global_sort,
    )

    orders = table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("maxd"))
    per = (
        orders.join(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.min(
                F.datediff(F.col("maxd").cast("date"),
                           F.col("o_orderdate").cast("date"))
            ).alias("recency_days"),
            F.count("*").alias("frequency"),
            _dec_sum(F.col("o_totalprice"), "monetary"),
        )
    )
    # each ntile pass references its input 3× (rows, per-value counts,
    # total) — cut the lineage once so the orders aggregate is computed
    # once, not 3³ times (the iterative-algorithm house pattern)
    per = per.localCheckpoint(eager=False)
    scored = ntile_no_global_sort(
        per, 5, "recency_days", "o_custkey", "r_score"
    )
    scored = ntile_no_global_sort(
        scored, 5, "frequency", "o_custkey", "f_score", descending=True
    )
    scored = ntile_no_global_sort(
        scored, 5, "monetary", "o_custkey", "m_score", descending=True
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            _dec_sum(F.col("monetary"), "segment_value"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# --------------------------------------------------------------------------
# psi_drift — Population Stability Index between document sources.
#
# The model-monitoring sibling of ks_source_drift: PSI =
# Σ_b (p_b − q_b)·ln(p_b/q_b) over fixed buckets, the industry
# standard drift gate (rule of thumb: <0.1 stable, >0.25 action).
# Here: distribution of doc length (n_chars) in fixed power-of-two
# buckets, each source vs the rest of the corpus. Laplace +1
# smoothing keeps empty buckets finite — and makes every p, q a ratio
# of exact integers.
#
# Determinism: p_b−q_b is a rational of exact integers; ln(p/q) folds
# to ln of an integer ratio, rounded to 8 dp in both engines (the
# bm25 pattern); per-bucket terms route through DECIMAL(18,10) so the
# bucket sum is order-independent.
#
# Scale: one groupBy on (source, bucket) — |sources|·|buckets| frame;
# corpus read once, totals broadcast.
# --------------------------------------------------------------------------

_PSI_BUCKETS = 8  # power-of-two doc-length buckets (clamped)


def q_psi_drift(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    # exact integer floor(log2 n): length of the binary string - 1
    b = F.least(
        F.greatest(
            F.length(F.bin(F.greatest(F.col("n_chars"), F.lit(1)))) - 7,
            F.lit(0),
        ),
        F.lit(_PSI_BUCKETS - 1),
    ).alias("bucket")
    bucketed = docs.select("source", b)
    counts = bucketed.groupBy("source", "bucket").agg(
        F.count("*").alias("n_sb")
    )
    per_src = counts.groupBy("source").agg(F.sum("n_sb").alias("n_src"))
    per_bkt = counts.groupBy("bucket").agg(F.sum("n_sb").alias("n_bkt"))
    tot = bucketed.agg(F.count("*").alias("n_all"))
    # dense (source x bucket) grid so empty buckets contribute via +1
    grid = (
        per_src.crossJoin(
            per_src.sparkSession.range(_PSI_BUCKETS).select(
                F.col("id").cast("int").alias("bucket")
            )
        )
        .join(counts, ["source", "bucket"], "left")
        .withColumn("n_sb", F.coalesce("n_sb", F.lit(0)))
        # LEFT join: a bucket empty across ALL sources has no per_bkt
        # row, and an inner join would drop it from the grid — but the
        # Laplace smoothing means such a bucket still contributes
        # (1/(n_src+B) − 1/(n_rest+B))·ln(...) ≠ 0 to every source
        .join(F.broadcast(per_bkt), "bucket", "left")
        .withColumn("n_bkt", F.coalesce("n_bkt", F.lit(0)))
        .join(F.broadcast(tot))
    )
    # p = (n_sb+1)/(n_src+B), q = (n_rest_b+1)/(n_rest+B); all integers
    n_rest_b = F.col("n_bkt") - F.col("n_sb")
    n_rest = F.col("n_all") - F.col("n_src")
    p_num, p_den = F.col("n_sb") + 1, F.col("n_src") + _PSI_BUCKETS
    q_num, q_den = n_rest_b + 1, n_rest + _PSI_BUCKETS
    diff = (
        p_num.cast("double") / p_den.cast("double")
        - q_num.cast("double") / q_den.cast("double")
    )
    lnr = F.round(
        F.log((p_num * q_den).cast("double") / (p_den * q_num).cast("double")),
        8,
    )
    term = F.round(diff * lnr, 10).cast("decimal(18,10)")
    return (
        grid.groupBy("source")
        .agg(F.sum(term).cast("double").alias("psi"))
        .orderBy("source")
    )


PSI_DRIFT_SQL = f"""
WITH bucketed AS (
  SELECT source,
         LEAST(GREATEST(length(bin(GREATEST(n_chars, 1))) - 7, 0),
               {_PSI_BUCKETS - 1}) AS bucket
  FROM documents
),
counts AS (
  SELECT source, bucket, COUNT(*) AS n_sb FROM bucketed GROUP BY 1, 2
),
per_src AS (
  SELECT source, CAST(SUM(n_sb) AS BIGINT) AS n_src FROM counts GROUP BY 1
),
per_bkt AS (
  SELECT bucket, CAST(SUM(n_sb) AS BIGINT) AS n_bkt FROM counts GROUP BY 1
),
tot AS (SELECT COUNT(*) AS n_all FROM bucketed),
grid AS (
  SELECT s.source, b.bucket,
         COALESCE(c.n_sb, 0) AS n_sb, s.n_src,
         COALESCE(pb.n_bkt, 0) AS n_bkt, t.n_all
  FROM per_src s
  CROSS JOIN (SELECT unnest(range(0, {_PSI_BUCKETS})) AS bucket) b
  LEFT JOIN counts c ON c.source = s.source AND c.bucket = b.bucket
  LEFT JOIN per_bkt pb ON pb.bucket = b.bucket
  CROSS JOIN tot t
),
terms AS (
  SELECT source,
         CAST(round(CAST(CAST(
           (CAST(n_sb + 1 AS DOUBLE) / (n_src + {_PSI_BUCKETS})
            - CAST(n_bkt - n_sb + 1 AS DOUBLE)
              / (n_all - n_src + {_PSI_BUCKETS}))
           * CAST(round(CAST(CAST(
               ln(CAST((n_sb + 1) * (n_all - n_src + {_PSI_BUCKETS})
                  AS DOUBLE)
                  / CAST((n_src + {_PSI_BUCKETS}) * (n_bkt - n_sb + 1)
                    AS DOUBLE))
             AS VARCHAR) AS DECIMAL(38,20)), 8) AS DOUBLE)
          AS VARCHAR) AS DECIMAL(38,20)), 10) AS DECIMAL(18,10)) AS term
  FROM grid
)
SELECT source, CAST(SUM(term) AS DOUBLE) AS psi
FROM terms GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
# embedding_scatter — per-label within-class dispersion, O(n) not
# O(n²): the identity  mean_{x,y}||x−y||² = 2(mean||x||² − ||mean x||²)
# turns the all-pairs mean squared distance into two moment sums.
# On the 1e-4 integer grid both moments are exact BIGINTs
# (n·Σ||q||² and ||Σq||² cross-multiplied to keep ONE final
# division), so the pairwise dispersion of millions of vectors costs
# one aggregate pass. The cluster-quality audit for labels:
# high dispersion = diffuse class, candidates for splitting.
# --------------------------------------------------------------------------


def q_embedding_scatter(spark, sf_dir):
    from city_payroll_data_pipeline_spark.operators import similarity as sim

    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "label", sim.quantize(F.col("embedding")).alias("q")
    )
    # per-label first moments per component + the second-moment norm
    # sum (computed once per vector, not per component)
    norms = emb.select("label", sim.norm2_q(F.col("q")).alias("n2"))
    moments = norms.groupBy("label").agg(
        F.count("*").alias("n_vecs"), F.sum("n2").alias("sum_n2")
    )
    comps = (
        emb.select("label", F.posexplode("q").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.sum("v").alias("s"))
        .groupBy("label")
        .agg(F.sum(F.col("s") * F.col("s")).alias("cnorm2"))
    )
    # mean pairwise squared distance (original units):
    # 2·(n·Σ||q||² − ||Σq||²) / (n² · QUANT²)
    scale = float(sim.QUANT) * sim.QUANT
    return (
        moments.join(comps, "label")
        .select(
            "label",
            "n_vecs",
            F.round(
                (
                    2
                    * (
                        F.col("n_vecs") * F.col("sum_n2") - F.col("cnorm2")
                    ).cast("double")
                )
                / (F.col("n_vecs") * F.col("n_vecs")).cast("double")
                / F.lit(scale),
                6,
            ).alias("mean_pair_dist2"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# calinski_harabasz — cluster-separation index from the same moments.
#
# CH = (B/(k−1)) / (W/(n−k)): between-class vs within-class scatter —
# the one-number "are these labels real clusters" score, again with
# NO pairwise work: W = Σ_l (Σ||q||² − ||Σq||²/n_l) and
# B = total_scatter − W, all from per-label component sums and norm
# sums. Exact integers cross-multiplied (·n_l) until one final
# division chain; QUANT² cancels in the ratio.
# --------------------------------------------------------------------------


def q_calinski_harabasz(spark, sf_dir):
    from city_payroll_data_pipeline_spark.operators import similarity as sim

    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "label", sim.quantize(F.col("embedding")).alias("q")
    )
    norms = emb.select("label", sim.norm2_q(F.col("q")).alias("n2"))
    per_l = norms.groupBy("label").agg(
        F.count("*").alias("nl"), F.sum("n2").alias("sum_n2")
    )
    comp_l = (
        emb.select("label", F.posexplode("q").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.sum("v").alias("s"))
        .groupBy("label")
        .agg(F.sum(F.col("s") * F.col("s")).alias("cnorm2"))
    )
    # per-label within scatter ·nl (stay integer): w_nl = nl·Σn2 − cnorm2
    lab = per_l.join(comp_l, "label").select(
        "nl",
        "sum_n2",
        (F.col("nl") * F.col("sum_n2") - F.col("cnorm2")).alias("w_nl"),
    )
    # global component sums for total scatter
    gcomp = (
        emb.select(F.posexplode("q").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("s"))
        .agg(F.sum(F.col("s") * F.col("s")).alias("gnorm2"))
    )
    # per-label ratio rounded into DECIMAL so the k-label sum is
    # order-independent (shuffle order would otherwise move the hash)
    w_term = F.round(
        F.col("w_nl").cast("double") / F.col("nl"), 6
    ).cast("decimal(28,6)")
    tot = lab.agg(
        F.sum("nl").alias("n"),
        F.count("*").alias("k"),
        F.sum("sum_n2").alias("tot_n2"),
        F.sum(w_term).cast("double").alias("w"),
    ).join(F.broadcast(gcomp))
    # W = Σ_l w_nl/nl ; T = Σn2 − gnorm2/n ; B = T − W
    t_expr = F.col("tot_n2").cast("double") - F.col("gnorm2").cast(
        "double"
    ) / F.col("n")
    ch = ((t_expr - F.col("w")) / (F.col("k") - 1)) / (
        F.col("w") / (F.col("n") - F.col("k"))
    )
    return tot.select(
        F.col("n").alias("n_vecs"),
        F.col("k").alias("n_labels"),
        F.round(ch, 6).alias("calinski_harabasz"),
    )


def _calinski_harabasz_sql() -> str:
    from city_payroll_data_pipeline_spark.suite.vectors import (
        DIM,
        _QUANT_SQL,
        _dot_sql,
    )

    return f"""
WITH q AS (SELECT label, {_QUANT_SQL} AS q FROM embeddings),
norms AS (
  SELECT label, COUNT(*) AS nl,
         CAST(SUM({_dot_sql('q', 'q')}) AS BIGINT) AS sum_n2
  FROM q GROUP BY label
),
comp_l AS (
  SELECT label,
         CAST(SUM(CAST(s AS BIGINT) * CAST(s AS BIGINT)) AS BIGINT)
           AS cnorm2
  FROM (
    SELECT label, p.pos, CAST(SUM(q[p.pos]) AS BIGINT) AS s
    FROM q CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS pos) p
    GROUP BY label, p.pos
  ) GROUP BY label
),
lab AS (
  SELECT nl, sum_n2, nl * sum_n2 - cnorm2 AS w_nl
  FROM norms JOIN comp_l USING (label)
),
gcomp AS (
  SELECT CAST(SUM(CAST(s AS BIGINT) * CAST(s AS BIGINT)) AS BIGINT)
           AS gnorm2
  FROM (
    SELECT p.pos, CAST(SUM(q[p.pos]) AS BIGINT) AS s
    FROM q CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS pos) p
    GROUP BY p.pos
  )
),
tot AS (
  SELECT CAST(SUM(nl) AS BIGINT) AS n, COUNT(*) AS k,
         CAST(SUM(sum_n2) AS BIGINT) AS tot_n2,
         CAST(SUM(CAST(round(CAST(CAST(CAST(w_nl AS DOUBLE) / nl
                 AS VARCHAR) AS DECIMAL(38,20)), 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS w
  FROM lab
)
SELECT n AS n_vecs, k AS n_labels,
       round(((CAST(tot_n2 AS DOUBLE) - CAST(gnorm2 AS DOUBLE) / n - w)
              / (k - 1))
             / (w / (n - k)), 6) AS calinski_harabasz
FROM tot, gcomp
"""


def _embedding_scatter_sql() -> str:
    from city_payroll_data_pipeline_spark.suite.vectors import (
        DIM,
        _QUANT_SQL,
        _dot_sql,
    )

    from city_payroll_data_pipeline_spark.operators import similarity as sim

    scale = float(sim.QUANT) * sim.QUANT  # grid constant, shared with the Spark twin
    return f"""
WITH q AS (SELECT label, {_QUANT_SQL} AS q FROM embeddings),
norms AS (
  SELECT label, COUNT(*) AS n_vecs,
         CAST(SUM({_dot_sql('q', 'q')}) AS BIGINT) AS sum_n2
  FROM q GROUP BY label
),
comps AS (
  SELECT label,
         CAST(SUM(CAST(s AS BIGINT) * CAST(s AS BIGINT)) AS BIGINT)
           AS cnorm2
  FROM (
    SELECT label, p.pos, CAST(SUM(q[p.pos]) AS BIGINT) AS s
    FROM q CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS pos) p
    GROUP BY label, p.pos
  )
  GROUP BY label
)
SELECT label, n_vecs,
       round(2 * CAST(n_vecs * sum_n2 - cnorm2 AS DOUBLE)
             / CAST(n_vecs * n_vecs AS DOUBLE) / {scale}, 6)
         AS mean_pair_dist2
FROM norms JOIN comps USING (label)
ORDER BY label
"""


# --------------------------------------------------------------------------
# trimmed_mean_prices — 10% symmetric trimmed mean per priority.
#
# The location estimator between mean (outlier-fragile) and median
# (throws away 98% of the data): drop the lowest and highest 10% of
# values per group, average the rest. winsorized_price_stats CAPS
# outliers; trimming REMOVES them — both belong in the robust-stats
# kit. Trim boundaries are integer rank cuts (floor(0.1·n)), kept
# rows sum through DECIMAL(18,2), one final division.
#
# Scale: one rank window per group + a group-sized aggregate.
# --------------------------------------------------------------------------

_TRIM_PCT = 10


def q_trimmed_mean_prices(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wn = W.partitionBy("o_orderpriority")
    ranked = (
        orders.select("o_orderpriority", "o_totalprice", "o_orderkey")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(wn))
    )
    k = F.floor(F.col("n") * _TRIM_PCT / 100)
    kept = ranked.filter(
        (F.col("rn") > k) & (F.col("rn") <= F.col("n") - k)
    )
    return (
        kept.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_kept"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                / F.count("*"),
                6,
            ).alias("trimmed_mean"),
        )
        .orderBy("o_orderpriority")
    )


TRIMMED_MEAN_PRICES_SQL = f"""
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
),
kept AS (
  SELECT o_orderpriority, o_totalprice
  FROM ranked
  WHERE rn > floor(n * {_TRIM_PCT} / 100.0)
    AND rn <= n - floor(n * {_TRIM_PCT} / 100.0)
)
SELECT o_orderpriority,
       COUNT(*) AS n_kept,
       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*), 6) AS trimmed_mean
FROM kept
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# revenue_concentration — whale-share table (Lorenz cuts).
#
# "What share of revenue do the top 1% / 5% / 10% of customers
# carry" — the concentration readout behind account-risk and
# fairness decisions (key_gini_skew gives the one-number Gini; this
# gives the actionable cuts). Customers rank by decimal-exact spend
# (desc, custkey tie-break); the cumulative share at rank
# ⌈p·n⌉ is an exact decimal ratio.
#
# Scale: one customer-level aggregate, then the rowids sharded
# two-phase numbering (operators/rowids.py pattern, extended with a
# running-sum payload): exact quantile cuts of the sort key shard the
# customer frame, each shard ranks and prefix-sums IN PARALLEL, and an
# n_shards-row broadcast of (row offset, spend offset) splices the
# global rank and global Lorenz cumsum back together. Decimal addition
# is exact and associative, so the spliced cumsum is bit-identical to
# the single-reducer ROW_NUMBER/SUM OVER the oracle runs — but the
# largest sort is 1/n_shards of the customers and no unpartitioned
# window ever sees a key-scale frame.
# --------------------------------------------------------------------------

_CONC_CUTS = (1, 5, 10)  # percent


def q_revenue_concentration(spark, sf_dir):
    from city_payroll_data_pipeline_spark.operators.sharding import (
        approx_shard_boundaries,
        assign_range_shards,
    )

    orders = table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    # Shard on the negated spend: ascending neg == the rank order
    # (spend DESC). The double cast is monotone in the decimal, so a
    # shard cut can never invert two rows' global order; ties stay in
    # one shard (assign is >=-boundary on equal doubles) and are broken
    # inside the shard by the same (spend DESC, custkey) sort the
    # oracle uses.
    per = per.withColumn("neg", (-F.col("spend")).cast("double"))
    # consumed four times (boundaries, shard stats, main pass, grand
    # totals): materialize the customer-level aggregate once
    per = per.localCheckpoint()
    bounds = approx_shard_boundaries(per, "neg", 8)
    tagged = assign_range_shards(per, "neg", bounds)
    stats = tagged.groupBy("shard").agg(
        F.count("*").alias("cnt_s"), F.sum("spend").alias("spend_s")
    )
    # n_shards rows: this unpartitioned prefix window sums 8 counts,
    # not the data — the POINT of the two-phase pattern.
    w_off = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
    offsets = stats.select(
        "shard",
        F.coalesce(F.sum("cnt_s").over(w_off), F.lit(0)).alias("rn_off"),
        F.coalesce(
            F.sum("spend_s").over(w_off), F.lit(0).cast("decimal(38,2)")
        ).alias("cum_off"),
    )
    w_in = W.partitionBy("shard").orderBy(F.desc("spend"), F.asc("o_custkey"))
    w_cum = w_in.rowsBetween(W.unboundedPreceding, 0)
    ranked = (
        tagged.join(F.broadcast(offsets), "shard")
        .withColumn("rn", F.col("rn_off") + F.row_number().over(w_in))
        .withColumn("cum", F.col("cum_off") + F.sum("spend").over(w_cum))
        .join(
            F.broadcast(
                per.agg(
                    F.count("*").alias("n_cust"),
                    F.sum("spend").alias("total"),
                )
            )
        )
    )
    # One pass, not a 3-way union of re-computed pipelines: explode the
    # 3 cut percentages against each ranked row (map-side ×3 fan-out,
    # filtered in the same stage) so the shard/rank/cumsum plan runs
    # exactly once.
    return (
        ranked.select(
            "rn",
            "cum",
            "n_cust",
            "total",
            F.explode(
                F.array(*[F.lit(p) for p in _CONC_CUTS])
            ).alias("top_pct"),
        )
        .filter(F.col("rn") == F.ceil(F.col("n_cust") * F.col("top_pct") / 100))
        .select(
            "top_pct",
            F.col("rn").alias("n_top_customers"),
            F.round(
                F.col("cum").cast("double") / F.col("total").cast("double"),
                6,
            ).alias("revenue_share"),
        )
        .orderBy("top_pct")
    )


REVENUE_CONCENTRATION_SQL = f"""
WITH per AS (
  SELECT o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders GROUP BY o_custkey
),
tot AS (SELECT COUNT(*) AS n_cust, SUM(spend) AS total FROM per),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY spend DESC, o_custkey) AS rn,
         SUM(spend) OVER (ORDER BY spend DESC, o_custkey
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM per
),
cuts AS (SELECT unnest([{', '.join(str(p) for p in _CONC_CUTS)}]) AS top_pct)
SELECT top_pct, rn AS n_top_customers,
       round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6)
         AS revenue_share
FROM cuts
JOIN tot ON TRUE
JOIN ranked ON rn = CAST(ceil(n_cust * top_pct / 100.0) AS BIGINT)
ORDER BY top_pct
"""


# --------------------------------------------------------------------------
# lexical_diversity — vocabulary-richness audit per source.
#
# Type-token ratio (distinct words / words) and hapax share (words
# occurring exactly once / distinct words): low TTR flags templated
# or repetitive text, hapax share separates genuinely rich prose
# from noise-inflated vocabularies (OCR garbage is ALL hapax).
# Integer counts on the (source, token) frequency frame, two
# divisions at the end.
#
# Scale: one (source, token) groupBy — vocabulary-bounded; the text
# never re-shuffles.
# --------------------------------------------------------------------------


def q_lexical_diversity(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import word_tokens

    docs = table(spark, sf_dir, "documents", spread=True)
    tf = (
        docs.select("source", F.explode(word_tokens(F.col("text"))).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("c"))
    )
    return (
        tf.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
            F.round(F.count("*") / F.sum("c"), 6).alias("type_token_ratio"),
            F.round(
                F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("hapax_share"),
        )
        .orderBy("source")
    )


LEXICAL_DIVERSITY_SQL = """
WITH tf AS (
  SELECT source, t, COUNT(*) AS c
  FROM (SELECT source,
               unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS t
        FROM documents)
  GROUP BY source, t
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(COUNT(*) / CAST(SUM(c) AS BIGINT)::DOUBLE, 6)
         AS type_token_ratio,
       round(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share
FROM tf
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# zipf_slope — fitted Zipf exponent of the token distribution.
#
# Natural-language token frequencies follow freq ∝ rank^(−s) with
# s ≈ 1; synthetic, templated, or heavily-deduplicated text drifts
# off. The fit is OLS on (ln rank, ln freq) over the top-500 ranks:
# slope = (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²). Per-point logs round to
# 10 dp (engine-identical on integer inputs — the bm25 pattern), all
# four moment sums route through DECIMAL so the closed form sees
# bit-identical inputs, one final division chain.
#
# Scale: the top-500 ride orderBy().limit() (TakeOrderedAndProject —
# a distributed per-partition heap + driverless merge, the bm25
# pattern), so the rank window only ever sees the 500 survivors; the
# regression runs on 500 rows. The previous shape (row_number over
# the FULL vocabulary, filter rank ≤ 500 after) pushed every distinct
# token through one reducer — hundreds of millions of rows at 100 TB.
# --------------------------------------------------------------------------

_ZIPF_TOP = 500


def q_zipf_slope(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import word_tokens

    docs = table(spark, sf_dir, "documents", spread=True)
    freqs = (
        docs.select(F.explode(word_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    w = W.orderBy(F.desc("n"), F.asc("tok"))
    ranked = (
        freqs.orderBy(F.desc("n"), F.asc("tok"))
        .limit(_ZIPF_TOP)
        .withColumn("rank", F.row_number().over(w))
        .select(
            F.round(F.log("rank"), 10).cast("decimal(28,10)").alias("x"),
            F.round(F.log("n"), 10).cast("decimal(28,10)").alias("y"),
        )
    )
    n = F.count("*")
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum((F.col("x") * F.col("y")).cast("decimal(38,20)"))
    sxx = F.sum((F.col("x") * F.col("x")).cast("decimal(38,20)"))
    return ranked.agg(
        n.alias("n_ranks"),
        F.round(
            (n * sxy.cast("double") - sx.cast("double") * sy.cast("double"))
            / (
                n * sxx.cast("double")
                - sx.cast("double") * sx.cast("double")
            ),
            6,
        ).alias("zipf_slope"),
    )


ZIPF_SLOPE_SQL = f"""
WITH freqs AS (
  SELECT tok, COUNT(*) AS n
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS tok
        FROM documents)
  GROUP BY tok
),
ranked AS (
  SELECT CAST(round(CAST(CAST(ln(rank) AS VARCHAR) AS DECIMAL(38,20)), 10)
              AS DECIMAL(28,10)) AS x,
         CAST(round(CAST(CAST(ln(n) AS VARCHAR) AS DECIMAL(38,20)), 10)
              AS DECIMAL(28,10)) AS y
  FROM (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rank
        FROM freqs)
  WHERE rank <= {_ZIPF_TOP}
)
SELECT COUNT(*) AS n_ranks,
       round((COUNT(*) * CAST(SUM(CAST(x * y AS DECIMAL(38,20))) AS DOUBLE)
              - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
             / (COUNT(*) * CAST(SUM(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)
                - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)), 6)
         AS zipf_slope
FROM ranked
"""


# --------------------------------------------------------------------------
# event_burstiness — dispersion index of per-user daily activity.
#
# Fano factor F = variance/mean of events-per-user-per-day: F ≈ 1 is
# Poisson-like organic traffic, F ≫ 1 is bursty (bots, batch
# replays, scraping) — a one-number abuse/bot screen per event type.
# Exact integer moments (Σc, Σc²) over the (user, day) count frame,
# variance via the computational formula, one division.
# --------------------------------------------------------------------------


def q_event_burstiness(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("c"))
    n = F.count("*")
    s1 = F.sum("c")
    s2 = F.sum(F.col("c") * F.col("c"))
    # F = var/mean = (n·Σc² − (Σc)²) / (n·Σc)  — exact integers, 1 div
    return (
        counts.groupBy("event_type")
        .agg(
            n.alias("n_user_days"),
            s1.alias("n_events"),
            F.round(
                (n * s2 - s1 * s1).cast("double") / (n * s1).cast("double"),
                6,
            ).alias("fano_factor"),
        )
        .orderBy("event_type")
    )


EVENT_BURSTINESS_SQL = """
WITH counts AS (
  SELECT event_type, user_id, date_trunc('day', ts) AS day,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2, 3
)
SELECT event_type,
       COUNT(*) AS n_user_days,
       CAST(SUM(c) AS BIGINT) AS n_events,
       round(CAST(COUNT(*) * CAST(SUM(c * c) AS BIGINT)
                  - CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT)
                  AS DOUBLE)
             / CAST(COUNT(*) * CAST(SUM(c) AS BIGINT) AS DOUBLE), 6)
         AS fano_factor
FROM counts
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# peak_concurrency — sweep-line maximum overlapping sessions.
#
# The capacity-planning number: the most sessions ever active at
# once. Classic sweep line — sessions become (+1 at start, −1 at
# end+1) deltas, per-tick NET deltas (aggregated first, so within-
# tick ordering can't matter), a running sum over ticks, and the max.
# Sessions come from the same gap-sessionizer as event_sessions.
#
# Scale: the sweep runs on the SESSION frame (orders of magnitude
# smaller than events) — but distinct ticks still scale with the
# data, so the running count uses the rowids two-phase shape
# (_sharded_sweep): range-shard the ticks, per-shard cumsum + lead in
# parallel, splice with a broadcast n_shards-row offset frame.
# Integer addition is associative, so the spliced cumsum is
# bit-identical to the single-reducer SUM OVER the oracle runs.
# --------------------------------------------------------------------------


def _sharded_sweep(ticks, n_shards: int = 8):
    """(t, net) → (t, net, active, t_next) with the running count and
    next-tick lookahead computed per range shard; the only
    unpartitioned window is the n_shards-row offset prefix. `t` must
    be unique (the per-tick groupBy guarantees it)."""
    from city_payroll_data_pipeline_spark.operators.sharding import (
        approx_shard_boundaries,
        assign_range_shards,
    )

    # the ticks frame sits on top of the (expensive) sessionizer and is
    # consumed three times below (boundary sketch, shard stats, the
    # main pass) — materialize it once; it is session-scale, not
    # event-scale (the train_bpe localCheckpoint precedent). Boundary
    # cuts come from the approx sketch: the offset splice recomputes
    # exact counts per ACTUAL shard, so any monotone cut is correct.
    ticks = ticks.localCheckpoint()
    bounds = approx_shard_boundaries(ticks, "t", n_shards)
    tagged = assign_range_shards(ticks, "t", bounds)
    stats = tagged.groupBy("shard").agg(
        F.sum("net").alias("_s"), F.min("t").alias("_first_t")
    )
    w_sh = W.orderBy("shard")
    offsets = stats.select(
        "shard",
        F.coalesce(
            F.sum("_s").over(w_sh.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("_off"),
        # the tick after a shard's LAST tick is the next shard's first
        F.lead("_first_t").over(w_sh).alias("_next_first"),
    )
    w_in = W.partitionBy("shard").orderBy("t")
    return (
        tagged.join(F.broadcast(offsets), "shard")
        .withColumn(
            "active",
            F.col("_off")
            + F.sum("net").over(w_in.rowsBetween(W.unboundedPreceding, 0)),
        )
        .withColumn(
            "t_next",
            F.coalesce(F.lead("t").over(w_in), F.col("_next_first")),
        )
        .drop("shard", "_off", "_next_first")
    )


def _session_spans(spark, sf_dir, materialize=False):
    """Shared sweep-line prelude of q_peak_concurrency and
    q_session_coverage: sessionize events (3600s gap), collapse to
    per-(user, session) [t0, t1] spans, and emit the per-tick net
    deltas. One definition so a tie-break or gap fix can never drift
    between the two sweep consumers. ``materialize`` checkpoints the
    span frame for callers that consume it more than once (coverage's
    totals branch would otherwise re-run the event-scale sessionizer
    window pass)."""
    from city_payroll_data_pipeline_spark.operators.sessions import (
        assign_sessions,
    )

    ev = table(spark, sf_dir, "events")
    secs = F.unix_timestamp(F.col("ts"))
    sessions = (
        assign_sessions(ev, gap_seconds=3600)
        .groupBy("user_id", "session_id")
        .agg(F.min(secs).alias("t0"), F.max(secs).alias("t1"))
    )
    if materialize:
        sessions = sessions.localCheckpoint()
    deltas = sessions.select(
        F.col("t0").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        sessions.select((F.col("t1") + 1).alias("t"), F.lit(-1).alias("d"))
    )
    ticks = deltas.groupBy("t").agg(F.sum("d").alias("net"))
    return sessions, ticks


def q_peak_concurrency(spark, sf_dir):
    _sessions, ticks = _session_spans(spark, sf_dir)
    live = _sharded_sweep(ticks)
    # argmax via TakeOrderedAndProject (distributed heap), not a
    # row_number over an unpartitioned key-scale window
    return (
        live.orderBy(F.desc("active"), F.asc("t"))
        .limit(1)
        .select(
            F.col("active").alias("peak_concurrent"),
            F.timestamp_seconds(F.col("t")).alias("at_time"),
        )
    )


# --------------------------------------------------------------------------
# session_coverage — interval-union length (same sweep line).
#
# The other number the sweep gives for free: how many wall-clock
# seconds had ≥1 active session (the union length of overlapping
# intervals — utilization), vs the sum of per-session durations
# (the overlap factor). A segment between consecutive ticks is
# covered iff the running count entering it is positive; its length
# is lead(t) − t. All integers.
# --------------------------------------------------------------------------


def q_session_coverage(spark, sf_dir):
    sessions, ticks = _session_spans(spark, sf_dir, materialize=True)
    live = _sharded_sweep(ticks)
    covered = live.where(
        (F.col("active") > 0) & F.col("t_next").isNotNull()
    ).agg(F.sum(F.col("t_next") - F.col("t")).alias("covered_s"))
    totals = sessions.agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.col("t1") - F.col("t0") + 1).alias("session_seconds"),
    )
    return (
        totals.join(F.broadcast(covered))
        .select(
            "n_sessions",
            "session_seconds",
            "covered_s",
            F.round(
                F.col("session_seconds").cast("double")
                / F.col("covered_s").cast("double"),
                6,
            ).alias("overlap_factor"),
        )
    )


# The oracle twin of _session_spans: sessionize events (3600 s gap),
# collapse to per-(user, session) [t0, t1] spans and emit the per-tick
# net deltas. Both sweep oracles start with it.
_SESSION_SPANS_SQL = """secs AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events
),
flagged AS (
  SELECT user_id, s, event_id,
         CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w > 3600
              THEN 1 ELSE 0 END AS new_session
  FROM secs
  WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)
),
numbered AS (
  -- event_id tie-break matches Spark's assign_sessions window: an
  -- ORDER BY s alone leaves same-second rows in nondeterministic
  -- order, so a new_session=1 row could enumerate after its same-
  -- second sibling and attach that sibling to the PREVIOUS session
  SELECT user_id, s,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
sessions AS (
  SELECT user_id, session_id, MIN(s) AS t0, MAX(s) AS t1
  FROM numbered GROUP BY 1, 2
),
deltas AS (
  SELECT t0 AS t, 1 AS d FROM sessions
  UNION ALL
  SELECT t1 + 1 AS t, -1 AS d FROM sessions
),
ticks AS (SELECT t, SUM(d) AS net FROM deltas GROUP BY t)"""


SESSION_COVERAGE_SQL = f"""
WITH {_SESSION_SPANS_SQL},
live AS (
  SELECT t,
         CAST(SUM(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS active,
         LEAD(t) OVER (ORDER BY t) AS t_next
  FROM ticks
),
covered AS (
  SELECT CAST(SUM(t_next - t) AS BIGINT) AS covered_s
  FROM live WHERE active > 0 AND t_next IS NOT NULL
),
totals AS (
  SELECT COUNT(*) AS n_sessions,
         CAST(SUM(t1 - t0 + 1) AS BIGINT) AS session_seconds
  FROM sessions
)
SELECT n_sessions, session_seconds, covered_s,
       round(session_seconds / CAST(covered_s AS DOUBLE), 6)
         AS overlap_factor
FROM totals, covered
"""


PEAK_CONCURRENCY_SQL = f"""
WITH {_SESSION_SPANS_SQL},
live AS (
  SELECT t, CAST(SUM(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS active
  FROM ticks
)
SELECT active AS peak_concurrent, make_timestamp(t * 1000000) AS at_time
FROM live
ORDER BY active DESC, t
LIMIT 1
"""


# --------------------------------------------------------------------------
# join_fanout_audit — pre-join cardinality safety check.
#
# The question to ask BEFORE shipping a fact-fact join: what will it
# produce? Per join key k the output is n_left(k)·n_right(k) rows, so
# the exact predicted size is Σ_k n_l·n_r — computable from the two
# per-key count frames without running the join. Reports per-side key
# stats (max/avg fanout), the exact predicted output size, and the
# blowup factor vs the larger input. A predicted size far above both
# inputs means a missed predicate or a many-to-many key — caught here
# for the cost of two aggregates instead of a melted cluster.
# key_gini_skew profiles ONE side's shape; this predicts the JOIN.
#
# Scale: two per-key partial-agg count frames joined on the key —
# the same shuffle the real join would do but carrying two bigints
# per key instead of full rows. Integer-exact throughout.
# --------------------------------------------------------------------------


def q_join_fanout_audit(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    lc = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count("*").alias("nl")
    )
    rc = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count("*").alias("nr")
    )
    j = lc.join(rc, "k", "full_outer").select(
        F.coalesce("nl", F.lit(0)).alias("nl"),
        F.coalesce("nr", F.lit(0)).alias("nr"),
    )
    return j.agg(
        F.count("*").alias("n_keys"),
        F.sum("nl").alias("left_rows"),
        F.sum("nr").alias("right_rows"),
        F.max("nl").alias("max_left_fanout"),
        F.max("nr").alias("max_right_fanout"),
        F.sum(F.col("nl") * F.col("nr")).alias("predicted_join_rows"),
        F.round(
            F.sum(F.col("nl") * F.col("nr")).cast("double")
            / F.greatest(F.sum("nl"), F.sum("nr")).cast("double"),
            6,
        ).alias("blowup_vs_larger_input"),
    )


JOIN_FANOUT_AUDIT_SQL = """
WITH lc AS (SELECT o_orderkey AS k, COUNT(*) AS nl FROM orders GROUP BY 1),
rc AS (SELECT l_orderkey AS k, COUNT(*) AS nr FROM lineitem GROUP BY 1),
j AS (
  SELECT COALESCE(nl, 0) AS nl, COALESCE(nr, 0) AS nr
  FROM lc FULL OUTER JOIN rc USING (k)
)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(nl) AS BIGINT) AS left_rows,
       CAST(SUM(nr) AS BIGINT) AS right_rows,
       MAX(nl) AS max_left_fanout,
       MAX(nr) AS max_right_fanout,
       CAST(SUM(nl * nr) AS BIGINT) AS predicted_join_rows,
       round(CAST(SUM(nl * nr) AS BIGINT)
             / CAST(GREATEST(CAST(SUM(nl) AS BIGINT),
                             CAST(SUM(nr) AS BIGINT)) AS DOUBLE), 6)
         AS blowup_vs_larger_input
FROM j
"""


# --------------------------------------------------------------------------
# merkle_bucket_manifest — hierarchical integrity checksums.
#
# dataset_manifest proves two corpus copies equal with ONE number;
# when they differ, a flat checksum can't say WHERE. The two-level
# (Merkle-style) manifest can: docs hash into 64 buckets by id, each
# bucket gets an ORDER-INSENSITIVE additive digest (sum of 48-bit
# content fingerprints mod 2^48 — commutative, so bucket digests
# merge map-side at any scale), and the root digests the ordered
# 64-bucket frame. Compare roots → equal/not; compare bucket rows →
# which 1/64th to re-transfer. Integer-exact end to end.
#
# Scale: one groupBy on the bucket key; the bucket frame is 64 rows
# regardless of corpus size; only (bucket, fp48) crosses the shuffle.
# --------------------------------------------------------------------------

_MERKLE_BUCKETS = 64
_FP_MOD = 1 << 48


def q_merkle_bucket_manifest(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import (
        content_fingerprint,
    )

    docs = table(spark, sf_dir, "documents")
    leaf = docs.select(
        F.pmod(F.col("doc_id"), F.lit(_MERKLE_BUCKETS)).alias("bucket"),
        F.conv(
            F.substring(content_fingerprint(F.col("text")), 1, 12), 16, 10
        ).cast("bigint").alias("fp48"),
    )
    buckets = leaf.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.pmod(F.sum("fp48"), F.lit(_FP_MOD)).alias("digest"),
    )
    root = buckets.agg(
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("bucket", "digest"))
                    ),
                    lambda x: F.concat_ws(":", x["bucket"], x["digest"]),
                ),
            )
        ).alias("root_hash")
    )
    return (
        buckets.join(F.broadcast(root))
        .select("bucket", "n_docs", "digest", "root_hash")
        .orderBy("bucket")
    )


MERKLE_BUCKET_MANIFEST_SQL = rf"""
WITH leaf AS (
  SELECT doc_id % {_MERKLE_BUCKETS} AS bucket,
         CAST('0x' || substr(
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 12)
           AS BIGINT) AS fp48
  FROM documents
),
buckets AS (
  SELECT bucket, COUNT(*) AS n_docs,
         CAST(SUM(fp48) % {_FP_MOD} AS BIGINT) AS digest
  FROM leaf GROUP BY bucket
),
root AS (
  SELECT md5(string_agg(bucket || ':' || digest, ',' ORDER BY bucket))
           AS root_hash
  FROM buckets
)
SELECT bucket, n_docs, digest, root_hash
FROM buckets, root
ORDER BY bucket
"""


# --------------------------------------------------------------------------
# rendezvous_shards — Highest-Random-Weight (rendezvous) sharding
# with the minimal-reassignment property proven in-query.
#
# Mod-N hashing reassigns ~(N−1)/N of ALL keys when a shard leaves;
# rendezvous hashing (Thaler & Ravishankar '96 — the consistent-
# hashing alternative with no ring state) assigns each key to
# argmax_s h(key, s) and moves ONLY the departed shard's keys. The
# query computes assignments over shards {0..7} and again over
# {0..6} (shard 7 removed) and reports, per original shard, how many
# docs moved — the hash match against the oracle certifies that rows
# with shard ≠ 7 moved ZERO, which IS the minimal-reassignment
# theorem on this corpus.
#
# Scale: assignment is a map-side argmax over N hash evaluations per
# key (no state, no ring, no lookup table) — the shard-routing
# primitive for writers and stateful services alike.
# --------------------------------------------------------------------------

_HRW_SHARDS = 8


def _hrw_weight(key: F.Column, shard: int) -> F.Column:
    return F.conv(
        F.substring(F.md5(F.concat_ws("#", key, F.lit(shard))), 1, 12), 16, 10
    ).cast("bigint")


def _hrw_assign(key: F.Column, n_shards: int) -> F.Column:
    pairs = F.array(
        *[
            F.struct(
                _hrw_weight(key, s).alias("w"), F.lit(s).alias("s")
            )
            for s in range(n_shards)
        ]
    )
    return F.array_max(pairs)["s"]


def q_rendezvous_shards(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id")
    key = F.col("doc_id").cast("string")
    assigned = docs.select(
        "doc_id",
        _hrw_assign(key, _HRW_SHARDS).alias("shard_before"),
        _hrw_assign(key, _HRW_SHARDS - 1).alias("shard_after"),
    )
    return (
        assigned.groupBy("shard_before")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("shard_after") != F.col("shard_before"), 1)
                .otherwise(0)
            ).alias("n_moved"),
        )
        .orderBy("shard_before")
    )


def _hrw_sql() -> str:
    def weight(s):
        return (
            f"CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#{s}'),"
            f" 1, 12) AS BIGINT)"
        )

    def assign(n, alias):
        structs = ", ".join(
            f"{{'w': {weight(s)}, 's': {s}}}" for s in range(n)
        )
        return (
            f"list_max([{structs}])['s'] AS {alias}"
        )

    return f"""
WITH assigned AS (
  SELECT doc_id,
         {assign(_HRW_SHARDS, 'shard_before')},
         {assign(_HRW_SHARDS - 1, 'shard_after')}
  FROM documents
)
SELECT shard_before, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN shard_after <> shard_before THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved
FROM assigned
GROUP BY shard_before
ORDER BY shard_before
"""


# --------------------------------------------------------------------------
# cramers_v — categorical association (order priority × status).
#
# The χ²-based effect size for two categorical columns — the "are
# these fields related at all" screen that runs before any modeling
# on categorical features. χ² = Σ (o_ij − e_ij)²/e_ij with expected
# e_ij = r_i·c_j/N; V = sqrt(χ²/(N·(min(R,C)−1))).
#
# Determinism: observed/row/col/N are exact integers; each cell's
# term is (o·N − r·c)²/(r·c·N) — numerator an exact integer squared
# (DECIMAL(38,0)-routed, it exceeds int64), ONE double division per
# cell rounded into DECIMAL(18,10) before the cell sum, one final
# sqrt. Scale: one groupBy on the pair, margins broadcast; the cell
# frame is |R|·|C|.
# --------------------------------------------------------------------------


def q_cramers_v(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    cells = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("o")
    )
    rows = cells.groupBy("o_orderpriority").agg(F.sum("o").alias("r"))
    cols = cells.groupBy("o_orderstatus").agg(F.sum("o").alias("c"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.count_distinct("o_orderpriority").alias("nr"),
        F.count_distinct("o_orderstatus").alias("nc"),
    )
    j = (
        cells.join(F.broadcast(rows), "o_orderpriority")
        .join(F.broadcast(cols), "o_orderstatus")
        .join(F.broadcast(tot))
    )
    num = (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast(
        "decimal(38,0)"
    )
    term = F.round(
        (num * num).cast("double")
        / (F.col("r") * F.col("c")).cast("double")
        / F.col("n").cast("double"),
        10,
    ).cast("decimal(18,10)")
    return j.agg(
        F.first("n").alias("n_rows"),
        F.round(F.sum(term).cast("double"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.sum(term).cast("double")
                / (
                    F.first("n")
                    * (F.least(F.first("nr"), F.first("nc")) - 1)
                ).cast("double")
            ),
            6,
        ).alias("cramers_v"),
    )


CRAMERS_V_SQL = """
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS o
  FROM orders GROUP BY 1, 2
),
rows_ AS (
  SELECT o_orderpriority, CAST(SUM(o) AS BIGINT) AS r
  FROM cells GROUP BY 1
),
cols_ AS (
  SELECT o_orderstatus, CAST(SUM(o) AS BIGINT) AS c
  FROM cells GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
         COUNT(DISTINCT o_orderpriority) AS nr,
         COUNT(DISTINCT o_orderstatus) AS nc
  FROM cells
),
terms AS (
  SELECT n, nr, nc,
         CAST(round(CAST(CAST(
           CAST(CAST(o * n - r * c AS HUGEINT)
                * CAST(o * n - r * c AS HUGEINT) AS DOUBLE)
           / CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE)
         AS VARCHAR) AS DECIMAL(38,20)), 10) AS DECIMAL(18,10)) AS term
  FROM cells JOIN rows_ USING (o_orderpriority)
             JOIN cols_ USING (o_orderstatus)
  CROSS JOIN tot
)
SELECT ANY_VALUE(n) AS n_rows,
       round(CAST(SUM(term) AS DOUBLE), 6) AS chi2,
       round(sqrt(CAST(SUM(term) AS DOUBLE)
                  / CAST(ANY_VALUE(n)
                         * (LEAST(ANY_VALUE(nr), ANY_VALUE(nc)) - 1)
                    AS DOUBLE)), 6) AS cramers_v
FROM terms
"""


# --------------------------------------------------------------------------
# corpus_health_report — the one-row executive summary.
#
# The first thing anyone asks of a corpus: how big, how duplicated,
# how long, what language mix. One row joining four tiny independent
# aggregates (each is its own full-scan reduction; Spark runs them as
# parallel stages and the joins are 1-row broadcasts):
#   volume (docs, chars, whitespace tokens), exact-dup rate
#   (distinct content fingerprints vs docs), length quartiles, and
#   english share by stored lang tag. Everything integer or one
#   division; quartiles on integer n_chars.
#
# Scale: 4 scans of thin columns (or one multi-agg scan if fused —
# kept separate here for clarity; Catalyst caches nothing between
# them, so at 100 TB fuse volume+lang into one agg, as
# dataset_manifest does).
# --------------------------------------------------------------------------


def q_corpus_health_report(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import (
        content_fingerprint,
        token_count,
    )

    docs = table(spark, sf_dir, "documents")
    vol = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_en"),
    )
    dup = docs.select(
        content_fingerprint(F.col("text")).alias("fp")
    ).agg(F.count_distinct("fp").alias("n_distinct_fp"))
    qs = F.percentile("n_chars", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    lenq = docs.agg(
        F.round(F.element_at(qs, 1), 6).alias("len_p25"),
        F.round(F.element_at(qs, 2), 6).alias("len_p50"),
        F.round(F.element_at(qs, 3), 6).alias("len_p75"),
    )
    return (
        vol.join(F.broadcast(dup))
        .join(F.broadcast(lenq))
        .select(
            "n_docs",
            "total_chars",
            "total_tokens",
            "n_distinct_fp",
            F.round(
                1 - F.col("n_distinct_fp") / F.col("n_docs"), 6
            ).alias("dup_rate"),
            F.round(F.col("n_en") / F.col("n_docs"), 6).alias("en_share"),
            "len_p25",
            "len_p50",
            "len_p75",
        )
    )


CORPUS_HEALTH_REPORT_SQL = r"""
WITH vol AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(len(regexp_extract_all(text, '\S+', 0))) AS BIGINT)
           AS total_tokens,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_en
  FROM documents
),
dup AS (
  SELECT COUNT(DISTINCT
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
           AS n_distinct_fp
  FROM documents
),
lenq AS (
  SELECT round(quantile_cont(n_chars, 0.25), 6) AS len_p25,
         round(quantile_cont(n_chars, 0.50), 6) AS len_p50,
         round(quantile_cont(n_chars, 0.75), 6) AS len_p75
  FROM documents
)
SELECT n_docs, total_chars, total_tokens, n_distinct_fp,
       round(1 - n_distinct_fp / CAST(n_docs AS DOUBLE), 6) AS dup_rate,
       round(n_en / CAST(n_docs AS DOUBLE), 6) AS en_share,
       len_p25, len_p50, len_p75
FROM vol, dup, lenq
"""


# --------------------------------------------------------------------------
# conversion_lag_quantiles — time-to-convert distribution.
#
# The activation metric funnels don't give: how LONG from a user's
# first signup to their first purchase. Per user: min(signup ts) and
# min(purchase ts), lag in whole seconds; users whose first purchase
# precedes their first signup (pre-existing buyers) are excluded.
# Reports exact quartiles + mean of the lag distribution. Exact arithmetic: lags are integer
# seconds (epoch micros div 1_000_000), quartiles are exact
# percentiles over integers (both engines interpolate at p·(n−1) —
# engine-identical on integer inputs after the shared 6-dp round),
# the mean routes through one integer sum.
#
# Scale: one user-level min-aggregate (map-side combinable), then a
# |users|-frame percentile — at 100 TB swap exact percentiles for the
# histogram_quantiles sketch (documented there).
# --------------------------------------------------------------------------


def q_conversion_lag_quantiles(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    F.col("event_type") == "signup",
                    F.unix_micros(F.col("ts")),
                )
            ).alias("t_signup"),
            F.min(
                F.when(
                    F.col("event_type") == "purchase",
                    F.unix_micros(F.col("ts")),
                )
            ).alias("t_purchase"),
        )
        .where(
            F.col("t_signup").isNotNull()
            & F.col("t_purchase").isNotNull()
            & (F.col("t_purchase") >= F.col("t_signup"))
        )
        .select(
            # floor, not cast-of-double (Spark truncates, DuckDB rounds)
            F.floor(
                (F.col("t_purchase") - F.col("t_signup"))
                / F.lit(1_000_000)
            ).cast("bigint").alias("lag_s")
        )
    )
    qs = F.percentile("lag_s", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.round(F.element_at(qs, 1), 6).alias("p25_s"),
        F.round(F.element_at(qs, 2), 6).alias("p50_s"),
        F.round(F.element_at(qs, 3), 6).alias("p75_s"),
        F.round(
            F.sum("lag_s").cast("double") / F.count("*"), 6
        ).alias("mean_s"),
    )


CONVERSION_LAG_QUANTILES_SQL = """
WITH per_user AS (
  SELECT CAST(floor((t_purchase - t_signup) / 1000000.0) AS BIGINT) AS lag_s
  FROM (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'signup'
                    THEN epoch_us(ts) END) AS t_signup,
           MIN(CASE WHEN event_type = 'purchase'
                    THEN epoch_us(ts) END) AS t_purchase
    FROM events GROUP BY user_id
  )
  WHERE t_signup IS NOT NULL AND t_purchase IS NOT NULL
    AND t_purchase >= t_signup
)
SELECT COUNT(*) AS n_users,
       round(quantile_cont(lag_s, 0.25), 6) AS p25_s,
       round(quantile_cont(lag_s, 0.50), 6) AS p50_s,
       round(quantile_cont(lag_s, 0.75), 6) AS p75_s,
       round(CAST(SUM(lag_s) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 6)
         AS mean_s
FROM per_user
"""


# --------------------------------------------------------------------------
# spearman_length_tokens — Spearman rank correlation per source.
#
# The robust cousin of lineitem_corr's Pearson: correlation of RANKS
# is immune to outliers and nonlinearity — the right default for
# heavy-tailed corpus statistics. ρ = 1 − 6·Σd²/(n(n²−1)) over the
# rank differences of (n_chars, token count) per source. Ranks are
# integer window row_numbers with doc_id tie-breaks mirrored in both
# engines, Σd² is an exact BIGINT, and ρ is ONE division at the end.
#
# Scale: two window ranks per source partition + a |sources| output.
# --------------------------------------------------------------------------


def q_spearman_length_tokens(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import token_count

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        token_count(F.col("text")).alias("n_toks"),
    )
    w_x = W.partitionBy("source").orderBy("n_chars", "doc_id")
    w_y = W.partitionBy("source").orderBy("n_toks", "doc_id")
    ranked = docs.withColumn("rx", F.row_number().over(w_x)).withColumn(
        "ry", F.row_number().over(w_y)
    )
    d = (F.col("rx") - F.col("ry")).cast("bigint")
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(d * d).alias("sum_d2"),
            F.round(
                1
                - (6 * F.sum(d * d)).cast("double")
                / (
                    F.count("*") * (F.count("*") * F.count("*") - 1)
                ).cast("double"),
                6,
            ).alias("spearman_rho"),
        )
        .orderBy("source")
    )


SPEARMAN_LENGTH_TOKENS_SQL = r"""
WITH ranked AS (
  SELECT source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rx,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY len(regexp_extract_all(text, '\S+', 0)),
                                     doc_id) AS ry
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
       round(1 - CAST(6 * SUM((rx - ry) * (rx - ry)) AS BIGINT)
                 / CAST(COUNT(*) * (COUNT(*) * COUNT(*) - 1) AS DOUBLE), 6)
         AS spearman_rho
FROM ranked
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# mann_whitney_test — nonparametric two-sample location test.
#
# The A/B readout when the metric is skewed (revenue, latency):
# compare ORDER VALUE distributions between the hash-assigned arms by
# rank sum instead of means. Tie handling is exact: with row_number
# ranks over (value, key) the doubled average rank of a tie group is
# min+max — an integer — so the doubled rank sum R2 and doubled
# U2 = R2 − n_t(n_t+1) are exact BIGINTs; the normal-approximation z
# is one sqrt chain at the end.
#
# Scale: one groupBy on value + one window cumsum over DISTINCT
# values (the ks_source_drift pattern) + a 1-row readout. No
# row-level rank is ever materialized: the doubled tie-averaged rank
# of a value group is 2·(#rows below) + (#rows at) + 1, computable
# from the per-value count cumsum alone. The only window runs over
# the distinct-value frame (cardinality ≪ rows); at 100 TB with a
# pathologically unique value column, shard the cumsum with
# operators/rowids.py's two-phase offsets.
# --------------------------------------------------------------------------


def q_mann_whitney_test(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    variant = F.when(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 12),
                16,
                10,
            ).cast("bigint"),
            F.lit(2),
        )
        == 0,
        "control",
    ).otherwise("treatment")
    vals = orders.select(
        variant.alias("variant"), F.col("o_totalprice").alias("v")
    )
    per_val = vals.groupBy("v").agg(
        F.count("*").alias("c"),
        F.sum(F.when(F.col("variant") == "treatment", 1).otherwise(0)).alias(
            "nt_v"
        ),
    )
    # rows strictly below this value group (cumsum over distinct values)
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    ranked = per_val.withColumn(
        "c_prev", F.coalesce(F.sum("c").over(w), F.lit(0))
    )
    # doubled tie-averaged rank of the group: min_rn + max_rn
    #   = (c_prev + 1) + (c_prev + c) = 2·c_prev + c + 1  (exact BIGINT)
    r2 = 2 * F.col("c_prev") + F.col("c") + 1
    wide = ranked.groupBy().agg(
        F.sum(F.col("c") - F.col("nt_v")).alias("n_control"),
        F.sum("nt_v").alias("n_treatment"),
        F.sum(F.col("nt_v") * r2).alias("rank_sum_2x"),
    )
    nc, nt = F.col("n_control"), F.col("n_treatment")
    u2 = F.col("rank_sum_2x") - nt * (nt + 1)  # doubled U statistic
    mu2 = nc * nt  # doubled mean of U
    # Var(U) = nc·nt·(N+1)/12, so 4·Var(U) = nc·nt·(N+1)/3 — the /3
    # matters: without it z is understated by √3 and a true z=3.0
    # effect reads ≈1.73, under any 1.96 gate. Kept as an exact
    # integer product divided by 3.0 once, inside the sqrt (identical
    # IEEE op order in both engines). Ties ignored: exact tie
    # correction omitted — prices are near-unique; documented.
    var4x3 = nc * nt * (nc + nt + 1)  # = 12·Var(U) = 3·(4·Var)
    z = (u2 - mu2).cast("double") / F.sqrt(
        var4x3.cast("double") / F.lit(3.0)
    )
    return wide.select(
        nc,
        nt,
        F.col("rank_sum_2x"),
        u2.alias("u_2x"),
        F.round(z, 6).alias("z_stat"),
    )


MANN_WHITNEY_TEST_SQL = f"""
WITH vals AS (
  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12)
                    AS BIGINT) % 2 = 0
              THEN 'control' ELSE 'treatment' END AS variant,
         o_totalprice AS v, o_orderkey
  FROM orders
),
ranked AS (
  SELECT variant, v,
         ROW_NUMBER() OVER (ORDER BY v, o_orderkey) AS rn
  FROM vals
),
ties AS (SELECT v, MIN(rn) + MAX(rn) AS r2 FROM ranked GROUP BY v),
arms AS (
  SELECT variant, COUNT(*) AS n, CAST(SUM(r2) AS BIGINT) AS sum_r2
  FROM ranked JOIN ties USING (v)
  GROUP BY variant
),
wide AS (
  SELECT
    CAST(SUM(CASE WHEN variant = 'control' THEN n END) AS BIGINT)
      AS n_control,
    CAST(SUM(CASE WHEN variant = 'treatment' THEN n END) AS BIGINT)
      AS n_treatment,
    CAST(SUM(CASE WHEN variant = 'treatment' THEN sum_r2 END) AS BIGINT)
      AS rank_sum_2x
  FROM arms
)
SELECT n_control, n_treatment, rank_sum_2x,
       rank_sum_2x - n_treatment * (n_treatment + 1) AS u_2x,
       {_sql_round(
           'CAST(rank_sum_2x - n_treatment * (n_treatment + 1)'
           '     - n_control * n_treatment AS DOUBLE)'
           ' / sqrt(CAST(n_control * n_treatment'
           '             * (n_control + n_treatment + 1) AS DOUBLE)'
           '        / 3.0)',
           6,
       )} AS z_stat
FROM wide
"""


# --------------------------------------------------------------------------
# knn_label_noise — neighborhood-disagreement mislabel audit.
#
# The data-centric cleaning pass (Confident Learning's cheap cousin):
# a vector whose exact k-nearest neighbors' majority label disagrees
# with its own label is a mislabel suspect. Audits a deterministic
# sample of the corpus (vec_id < N) against the WHOLE corpus with the
# exact integer cosine machinery; reports per (own label, neighbor
# majority) the suspect counts — the confusion ledger a labeling team
# triages.
#
# Majority tie-break: smallest label (mirrored in both engines).
# Scale: the sampled audit is the production shape too — you audit a
# rotating sample per run, not the full corpus at once; corpus
# scanned once per run, sample broadcast.
# --------------------------------------------------------------------------

_KNN_NOISE_K = 5
_KNN_NOISE_SAMPLE = 100  # vec_id < 100 audited


def q_knn_label_noise(spark, sf_dir):
    from city_payroll_data_pipeline_spark.operators import similarity as sim

    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "label", sim.quantize(F.col("embedding")).alias("q")
    ).withColumn("n2", sim.norm2_q(F.col("q")))
    sample = emb.filter(F.col("vec_id") < _KNN_NOISE_SAMPLE).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("own_label"),
        F.col("q").alias("qq"),
        F.col("n2").alias("qn2"),
    )
    scored = emb.join(
        F.broadcast(sample), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "own_label",
        F.col("label").alias("nbr_label"),
        F.col("vec_id").alias("neighbor_id"),
        sim.cosine_q(
            sim.dot_q(F.col("qq"), F.col("q")), F.col("qn2"), F.col("n2")
        ).alias("cos"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    knn = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _KNN_NOISE_K
    )
    votes = knn.groupBy("query_id", "own_label", "nbr_label").agg(
        F.count("*").alias("v")
    )
    w_maj = W.partitionBy("query_id").orderBy(
        F.desc("v"), F.asc("nbr_label")
    )
    majority = (
        votes.withColumn("mrk", F.row_number().over(w_maj))
        .filter(F.col("mrk") == 1)
        .select("query_id", "own_label", F.col("nbr_label").alias("majority"))
    )
    return (
        majority.filter(F.col("own_label") != F.col("majority"))
        .groupBy("own_label", "majority")
        .agg(F.count("*").alias("n_suspects"))
        .orderBy("own_label", "majority")
    )


def _knn_label_noise_sql() -> str:
    from city_payroll_data_pipeline_spark.suite.vectors import (
        _COSINE_SQL,
        _QUANT_SQL,
        _dot_sql,
    )

    return f"""
WITH base AS (
  SELECT vec_id, label, {_QUANT_SQL} AS q FROM embeddings
),
qn AS (SELECT vec_id, label, q, {_dot_sql('q', 'q')} AS n2 FROM base),
scored AS (
  SELECT p.vec_id AS query_id, p.label AS own_label,
         c.label AS nbr_label, c.vec_id AS neighbor_id,
         {_dot_sql('p.q', 'c.q')} AS dot, p.n2 AS n2a, c.n2 AS n2b
  FROM qn p JOIN qn c
    ON p.vec_id < {_KNN_NOISE_SAMPLE} AND c.vec_id <> p.vec_id
),
knn AS (
  SELECT query_id, own_label, nbr_label FROM (
    SELECT query_id, own_label, nbr_label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY {_COSINE_SQL} DESC,
                                       neighbor_id) AS rk
    FROM scored
  ) WHERE rk <= {_KNN_NOISE_K}
),
votes AS (
  SELECT query_id, own_label, nbr_label, COUNT(*) AS v
  FROM knn GROUP BY 1, 2, 3
),
majority AS (
  SELECT query_id, own_label, nbr_label AS majority FROM (
    SELECT query_id, own_label, nbr_label, v,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY v DESC, nbr_label) AS mrk
    FROM votes
  ) WHERE mrk = 1
)
SELECT own_label, majority, COUNT(*) AS n_suspects
FROM majority
WHERE own_label <> majority
GROUP BY 1, 2
ORDER BY own_label, majority
"""


# --------------------------------------------------------------------------
# quantile_normalize_lengths — cross-source quantile normalization.
#
# The batch-effect correction of bioinformatics applied to corpus
# mixing: map each source's doc-length distribution onto the POOLED
# distribution so sources become comparable (a doc at its source's
# p-th length percentile gets the pooled p-th percentile value).
# Rank within source → aligned rank in the pooled order — both exact
# integer window ranks, and the mapped value is an exact element
# lookup, so the whole transform is integer/element-exact.
#
# Output: per source, the mapped values at the quartile positions —
# the audit slice of the full transform (which is row-per-doc).
#
# Scale: the per-source rank is a partitioned window (parallel per
# source); the POOLED rank uses operators/rowids.py's sharded
# two-phase numbering — bit-identical to the oracle's global
# ROW_NUMBER, largest sort 1/n_shards — plus one aligned-rank join;
# all frames are |docs|-sized, text untouched.
# --------------------------------------------------------------------------


def q_quantile_normalize_lengths(spark, sf_dir):
    from city_payroll_data_pipeline_spark.operators.rowids import (
        stable_row_ids,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w_src = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.withColumn("r_src", F.row_number().over(w_src)).withColumn(
        "n_src", F.count("*").over(W.partitionBy("source"))
    )
    pooled = stable_row_ids(
        docs, key="n_chars", tiebreakers=("doc_id",), id_col="r_all"
    ).select(
        F.col("r_all").cast("int").alias("r_all"),
        F.col("n_chars").alias("pooled_value"),
    )
    tot = docs.agg(F.count("*").alias("n_all"))
    # floor-division, NOT cast-of-double (Spark truncates, DuckDB
    # rounds — the mixed_lang_docs lesson)
    aligned = ranked.join(F.broadcast(tot)).withColumn(
        "r_aligned",
        F.floor(
            ((F.col("r_src") * 2 - 1) * F.col("n_all"))
            / (F.col("n_src") * 2)
        ).cast("int")
        + 1,
    )
    mapped = aligned.join(pooled, aligned.r_aligned == pooled.r_all)
    # audit slice: min / median / max positions per source
    qpos = mapped.filter(
        (F.col("r_src") == 1)
        | (F.col("r_src") == F.floor(F.col("n_src") / 2).cast("int"))
        | (F.col("r_src") == F.col("n_src"))
    )
    return qpos.select(
        "source",
        "r_src",
        "n_src",
        F.col("n_chars").alias("original"),
        "pooled_value",
    ).orderBy("source", "r_src")


QUANTILE_NORMALIZE_SQL = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS r_src,
         COUNT(*) OVER (PARTITION BY source) AS n_src
  FROM documents
),
pooled AS (
  SELECT ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS r_all,
         n_chars AS pooled_value
  FROM documents
),
tot AS (SELECT COUNT(*) AS n_all FROM documents),
aligned AS (
  SELECT r.*,
         CAST(floor((r.r_src * 2 - 1) * t.n_all / (r.n_src * 2.0)) AS INT)
           + 1 AS r_aligned
  FROM ranked r, tot t
)
SELECT source, r_src, CAST(n_src AS BIGINT) AS n_src,
       n_chars AS original, pooled_value
FROM aligned JOIN pooled ON r_aligned = r_all
WHERE r_src = 1 OR r_src = CAST(floor(n_src / 2.0) AS INT) OR r_src = n_src
ORDER BY source, r_src
"""


# --------------------------------------------------------------------------
# epoch_shuffle_plan — deterministic per-epoch training order.
#
# The data-loader contract for reproducible multi-epoch training:
# every epoch needs a DIFFERENT pseudo-random permutation of the
# corpus, every rerun of the same epoch needs the SAME one, and
# resuming mid-epoch needs positions, not a shuffled copy of the
# data. Composes stable_doc_ids (contiguous addresses) with an
# md5(epoch:doc) sort key: the output is the (epoch, position →
# doc_id) manifest a loader seeks by. Emitted for 2 epochs over the
# corpus head so the driver-hashed frame stays small; the plan is
# corpus-size-independent per epoch.
#
# Scale: the shuffle order is a window rank per epoch — at 100 TB
# swap the global rank for the sharded stable_row_ids machinery (the
# manifest IS addresses, so shards compose); the md5 keys make any
# epoch reconstructible from scratch with no stored state.
# --------------------------------------------------------------------------

_EPOCHS = 2
_SHUFFLE_HEAD = 100  # manifest rows per epoch in the suite output


def _epoch_shuffle_keyed(docs):
    """The (epoch, …, k) shuffle-key frame shared by
    q_epoch_shuffle_plan (the loader manifest) and
    q_shuffle_run_lengths (its decorrelation audit) — ONE definition
    of the md5(epoch:doc) sort key so a key tweak (separator,
    substring width, hash) can never make the audit replay a
    different permutation than the loader emits (the _trade_edges
    precedent for shared derivations). Extra columns on ``docs``
    (e.g. source) pass through."""
    extra = [c for c in docs.columns if c != "doc_id"]
    epochs = docs.sparkSession.range(_EPOCHS).select(
        F.col("id").cast("int").alias("epoch")
    )
    return docs.join(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        *extra,
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint").alias("k"),
    )


def _shuffle_keyed_sql(extra: str = "") -> str:
    """Oracle twin of _epoch_shuffle_keyed, shared the same way."""
    return f"""
  SELECT e.epoch, d.doc_id{extra},
         CAST('0x' || substr(md5(e.epoch || ':' || d.doc_id), 1, 12)
              AS BIGINT) AS k
  FROM documents d
  CROSS JOIN (SELECT unnest(range(0, {_EPOCHS})) AS epoch) e"""


def q_epoch_shuffle_plan(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id")
    keyed = _epoch_shuffle_keyed(docs)
    w = W.partitionBy("epoch").orderBy("k", "doc_id")
    return (
        keyed.withColumn("position", F.row_number().over(w))
        .filter(F.col("position") <= _SHUFFLE_HEAD)
        .select("epoch", "position", "doc_id")
        .orderBy("epoch", "position")
    )


EPOCH_SHUFFLE_PLAN_SQL = f"""
WITH keyed AS ({_shuffle_keyed_sql()}
)
SELECT epoch, position, doc_id FROM (
  SELECT epoch, doc_id,
         ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY k, doc_id)
           AS position
  FROM keyed
)
WHERE position <= {_SHUFFLE_HEAD}
ORDER BY epoch, position
"""


# --------------------------------------------------------------------------
# shuffle_run_lengths — does the epoch shuffle actually DECORRELATE
# sources? Training quality degrades when a "shuffled" order still
# feeds the model long single-source runs (curriculum leakage from a
# bad loader); this audits the exact order epoch_shuffle_plan emits.
#
# Gaps-and-islands over the per-epoch shuffle rank: a run is a
# maximal stretch of consecutive same-source docs. Per (epoch,
# source): doc count, run count, longest run, mean run length, and
# the mixing ratio observed_runs / E[runs] — for a uniform random
# permutation E[runs_s] = n_s·(N − n_s + 1)/N, so a healthy shuffle
# reads ≈ 1.0 and a source-clumped order reads ≪ 1. Both divisions
# are single exact-integer-operand double divisions (numerators and
# denominators are BIGINTs on both engines).
#
# Scale: shares epoch_shuffle_plan's contract — the md5 sort key is
# reconstructible stateless; the global per-epoch rank becomes the
# sharded stable_row_ids machinery at 100 TB, and the islands step is
# a lag + running sum over the same partitioned window.
# --------------------------------------------------------------------------


def q_shuffle_run_lengths(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    keyed = _epoch_shuffle_keyed(docs)
    w = W.partitionBy("epoch").orderBy("k", "doc_id")
    flagged = keyed.withColumn(
        "new_run",
        F.when(
            F.lag("source").over(w).isNull()
            | (F.lag("source").over(w) != F.col("source")),
            1,
        ).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("new_run").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    runs = flagged.groupBy("epoch", "source", "run_id").agg(
        F.count("*").alias("run_len")
    )
    per_src = runs.groupBy("epoch", "source").agg(
        F.sum("run_len").cast("long").alias("n_docs"),
        F.count("*").alias("n_runs"),
        F.max("run_len").cast("long").alias("max_run"),
    )
    n_all = docs.agg(F.count("*").alias("n_all"))
    return (
        per_src.crossJoin(F.broadcast(n_all))
        .select(
            "epoch",
            "source",
            "n_docs",
            "n_runs",
            "max_run",
            (F.col("n_docs") / F.col("n_runs")).alias("mean_run"),
            (
                (F.col("n_runs") * F.col("n_all"))
                / (F.col("n_docs") * (F.col("n_all") - F.col("n_docs") + 1))
            ).alias("mix_ratio"),
        )
        .orderBy("epoch", "source")
    )


SHUFFLE_RUN_LENGTHS_SQL = f"""
WITH keyed AS ({_shuffle_keyed_sql(", d.source")}
),
flagged AS (
  SELECT epoch, source, k, doc_id,
         CASE WHEN lag(source) OVER w IS NULL
                OR lag(source) OVER w <> source THEN 1 ELSE 0 END AS new_run
  FROM keyed
  WINDOW w AS (PARTITION BY epoch ORDER BY k, doc_id)
),
runs AS (
  SELECT epoch, source, run_id, COUNT(*) AS run_len
  FROM (
    SELECT epoch, source,
           CAST(SUM(new_run) OVER (PARTITION BY epoch ORDER BY k, doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS run_id
    FROM flagged
  )
  GROUP BY epoch, source, run_id
),
per_src AS (
  SELECT epoch, source,
         CAST(SUM(run_len) AS BIGINT) AS n_docs,
         COUNT(*) AS n_runs,
         CAST(MAX(run_len) AS BIGINT) AS max_run
  FROM runs GROUP BY epoch, source
),
tot AS (SELECT COUNT(*) AS n_all FROM documents)
SELECT epoch, source, n_docs, n_runs, max_run,
       CAST(n_docs AS DOUBLE) / n_runs AS mean_run,
       CAST(n_runs * n_all AS DOUBLE)
         / (n_docs * (n_all - n_docs + 1)) AS mix_ratio
FROM per_src, tot
ORDER BY epoch, source
"""


# --------------------------------------------------------------------------
# matryoshka_recall — prefix-truncated embedding retrieval eval.
#
# Matryoshka-style representations promise that the FIRST k dims of
# an embedding carry most of the signal, letting retrieval run on a
# d/k-times-smaller index. Before flipping that switch, measure it:
# exact top-k retrieval on the 16-dim prefix vs the 64-dim exact
# baseline, recall@k per truncation. Same integer-grid machinery as
# the other retrievers (slice the quantized array — exact), so the
# whole eval is oracle-checkable.
#
# Scale: identical to cosine_topk (corpus scanned once per
# truncation, query set broadcast); the report frame is
# |truncations|-rows.
# --------------------------------------------------------------------------

_MATRYOSHKA_DIMS = (16, 32)


def q_matryoshka_recall(spark, sf_dir):
    from city_payroll_data_pipeline_spark.operators import similarity as sim
    from city_payroll_data_pipeline_spark.suite.vectors import K, N_QUERIES

    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", sim.quantize(F.col("embedding")).alias("q")
    )

    def topk(frame, d):
        sliced = frame.select(
            "vec_id",
            (F.slice("q", 1, d) if d is not None else F.col("q")).alias("qs"),
        ).withColumn("n2", sim.norm2_q(F.col("qs")))
        qry = sliced.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("qs").alias("qq"),
            F.col("n2").alias("qn2"),
        )
        scored = sliced.join(
            F.broadcast(qry), F.col("vec_id") != F.col("query_id")
        ).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sim.cosine_q(
                sim.dot_q(F.col("qq"), F.col("qs")), F.col("qn2"), F.col("n2")
            ).alias("cos"),
        )
        w = W.partitionBy("query_id").orderBy(
            F.desc("cos"), F.asc("neighbor_id")
        )
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= K)
            .select("query_id", "neighbor_id")
        )

    exact = topk(emb, None)
    total = K * N_QUERIES
    parts = []
    for d in _MATRYOSHKA_DIMS:
        hit = topk(emb, d).join(exact, ["query_id", "neighbor_id"])
        parts.append(
            hit.agg(
                F.lit(d).alias("prefix_dims"),
                F.count("*").alias("matched"),
                F.lit(total).cast("long").alias("total"),
                F.round(F.count("*") / F.lit(total), 6).alias("recall_at_k"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("prefix_dims")


def _matryoshka_sql() -> str:
    from city_payroll_data_pipeline_spark.suite.vectors import (
        K,
        N_QUERIES,
        _COSINE_SQL,
        _QUANT_SQL,
        _dot_sql,
    )

    total = K * N_QUERIES

    def topk_cte(d, tag):
        sl = f"q[1:{d}]" if d is not None else "q"
        return f"""
qv_{tag} AS (
  SELECT vec_id, {sl} AS qs FROM base
),
qn_{tag} AS (
  SELECT vec_id, qs, {_dot_sql('qs', 'qs')} AS n2 FROM qv_{tag}
),
scored_{tag} AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_dot_sql('p.qs', 'c.qs')} AS dot, p.n2 AS n2a, c.n2 AS n2b
  FROM qn_{tag} p JOIN qn_{tag} c
    ON p.vec_id < {N_QUERIES} AND c.vec_id <> p.vec_id
),
top_{tag} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY {_COSINE_SQL} DESC,
                                       neighbor_id) AS rk
    FROM scored_{tag}
  ) WHERE rk <= {K}
)"""

    ctes = ",".join(
        [topk_cte(None, "full")]
        + [topk_cte(d, f"d{d}") for d in _MATRYOSHKA_DIMS]
    )
    selects = "\nUNION ALL\n".join(
        f"""SELECT {d} AS prefix_dims, COUNT(*) AS matched,
       CAST({total} AS BIGINT) AS total,
       round(COUNT(*) / CAST({total} AS DOUBLE), 6) AS recall_at_k
FROM top_d{d} JOIN top_full USING (query_id, neighbor_id)"""
        for d in _MATRYOSHKA_DIMS
    )
    return f"""
WITH base AS (SELECT vec_id, {_QUANT_SQL} AS q FROM embeddings),
{ctes}
{selects}
ORDER BY prefix_dims
"""


# --------------------------------------------------------------------------
# journey_entropy — next-step predictability per event type.
#
# Shannon entropy of the next-event distribution after each event
# type (the markov_transitions frame seen information-theoretically):
# H(next|src) ≈ 0 bits means the journey is deterministic (a funnel
# rail), high H means an exploration point — where product changes
# and personalization have leverage. Terms −p·log2(p) use the
# rounded-log pattern on integer-ratio probabilities and sum through
# DECIMAL; one extra column gives the normalized H / log2(k).
#
# Scale: all work on the |event-types|² transition frame.
# --------------------------------------------------------------------------


def q_journey_entropy(spark, sf_dir):
    counts = _transition_counts(spark, sf_dir)
    wsrc = W.partitionBy("src")
    terms = counts.withColumn("tot", F.sum("n").over(wsrc)).withColumn(
        "k", F.count("*").over(wsrc)
    ).select(
        "src",
        "k",
        "tot",
        # −(n/tot)·log2(n/tot): log2 of an integer ratio, rounded 8dp,
        # times the exact ratio, rounded again into DECIMAL for the sum
        F.round(
            -(F.col("n").cast("double") / F.col("tot").cast("double"))
            * F.round(
                F.log2(F.col("n").cast("double") / F.col("tot").cast("double")),
                8,
            ),
            10,
        ).cast("decimal(18,10)").alias("term"),
    )
    return (
        terms.groupBy("src")
        .agg(
            F.first("tot").alias("n_transitions"),
            F.first("k").alias("n_destinations"),
            F.sum("term").cast("double").alias("entropy_bits"),
            # k=1 (a perfectly deterministic funnel step — the exact
            # case this query exists to surface): log2(1)=0, so the
            # ratio is NULL in DuckDB but NaN in Spark; emit NULL in
            # both engines explicitly
            F.when(
                F.first("k") > 1,
                F.round(
                    F.sum("term").cast("double")
                    / F.round(F.log2(F.first("k").cast("double")), 8),
                    6,
                ),
            ).alias("normalized_entropy"),
        )
        .orderBy("src")
    )


JOURNEY_ENTROPY_SQL = """
WITH pairs AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS dst
  FROM events
),
counts AS (
  SELECT src, dst, COUNT(*) AS n
  FROM pairs WHERE dst IS NOT NULL GROUP BY src, dst
),
terms AS (
  SELECT src,
         CAST(SUM(n) OVER (PARTITION BY src) AS BIGINT) AS tot,
         COUNT(*) OVER (PARTITION BY src) AS k,
         n
  FROM counts
),
t2 AS (
  SELECT src, tot, k,
         CAST(round(CAST(CAST(
           -(n / CAST(tot AS DOUBLE))
           * CAST(round(CAST(CAST(log2(n / CAST(tot AS DOUBLE))
               AS VARCHAR) AS DECIMAL(38,20)), 8) AS DOUBLE)
         AS VARCHAR) AS DECIMAL(38,20)), 10) AS DECIMAL(18,10)) AS term
  FROM terms
)
SELECT src,
       ANY_VALUE(tot) AS n_transitions,
       ANY_VALUE(k) AS n_destinations,
       CAST(SUM(term) AS DOUBLE) AS entropy_bits,
       CASE WHEN ANY_VALUE(k) > 1 THEN
         round(CAST(SUM(term) AS DOUBLE)
               / CAST(round(CAST(CAST(log2(ANY_VALUE(k))
                   AS VARCHAR) AS DECIMAL(38,20)), 8) AS DOUBLE), 6)
       END AS normalized_entropy
FROM t2
GROUP BY src
ORDER BY src
"""


# --------------------------------------------------------------------------
# hill_tail_index — heavy-tail exponent of the order-value
# distribution (Hill 1975). α̂ = k / Σ_{i≤k} ln(x_(i)/x_(k+1)) over
# the top-k order statistics: α ≲ 2 means variance is effectively
# infinite and mean-based metrics (and uniform partitioning!) are
# unreliable — the tail diagnostic to run before trusting averages
# or sizing shuffle partitions on a skewed value column.
#
# Determinism: order statistics by exact rank; each ln(x_i/x_ref) is
# ln of a ratio of 2-decimal values (cast to DECIMAL first so the
# ratio is a ratio of exact integers scaled by 100), rounded to 8 dp
# into DECIMAL for the order-independent sum; one final division.
#
# Scale: top-(k+1) rides TakeOrdered; the estimator runs on k rows.
# --------------------------------------------------------------------------

_HILL_K = 100


def q_hill_tail_index(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    w = W.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    top = (
        orders.select("o_totalprice", "o_orderkey")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _HILL_K + 1)
    )
    ref = top.filter(F.col("rk") == _HILL_K + 1).select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("x_ref")
    )
    terms = (
        top.filter(F.col("rk") <= _HILL_K)
        .join(F.broadcast(ref))
        .select(
            F.round(
                F.log(
                    F.col("o_totalprice").cast("decimal(18,2)").cast("double")
                    / F.col("x_ref").cast("double")
                ),
                8,
            ).cast("decimal(18,8)").alias("lr")
        )
    )
    return terms.agg(
        F.count("*").alias("k"),
        F.round(
            F.count("*") / F.sum("lr").cast("double"), 6
        ).alias("hill_alpha"),
    )


HILL_TAIL_INDEX_SQL = f"""
WITH top AS (
  SELECT o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
),
ref AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x_ref
  FROM top WHERE rk = {_HILL_K + 1}
),
terms AS (
  SELECT CAST(round(CAST(CAST(
           ln(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
              / CAST(x_ref AS DOUBLE))
         AS VARCHAR) AS DECIMAL(38,20)), 8) AS DECIMAL(18,8)) AS lr
  FROM top, ref WHERE rk <= {_HILL_K}
)
SELECT COUNT(*) AS k,
       round(COUNT(*) / CAST(SUM(lr) AS DOUBLE), 6) AS hill_alpha
FROM terms
"""


# --------------------------------------------------------------------------
# template_prefix_audit — modal-prefix share per source.
#
# Template-generated corpora betray themselves in the first line:
# many documents share one opening. Per source: the modal 20-char
# prefix, how many docs carry it, and its share — high share =
# templated source (deduplicate at the template level, or strip the
# boilerplate opening before training). Integer counts, modal
# tie-break on the prefix string mirrored across engines.
#
# Scale: one (source, prefix) groupBy — prefixes are 20 bytes, the
# frame is ≤ |docs|; text never re-shuffles.
# --------------------------------------------------------------------------

_TPL_PREFIX_LEN = 20


def q_template_prefix_audit(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    pref = docs.select(
        "source",
        F.substring(F.col("text"), 1, _TPL_PREFIX_LEN).alias("prefix"),
    )
    counts = pref.groupBy("source", "prefix").agg(F.count("*").alias("n"))
    totals = pref.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = W.partitionBy("source").orderBy(F.desc("n"), F.asc("prefix"))
    modal = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("source", F.col("prefix").alias("modal_prefix"),
                F.col("n").alias("n_modal"))
    )
    return (
        modal.join(F.broadcast(totals), "source")
        .select(
            "source",
            "n_docs",
            "modal_prefix",
            "n_modal",
            F.round(F.col("n_modal") / F.col("n_docs"), 6).alias(
                "modal_share"
            ),
        )
        .orderBy("source")
    )


TEMPLATE_PREFIX_AUDIT_SQL = f"""
WITH pref AS (
  SELECT source, substr(text, 1, {_TPL_PREFIX_LEN}) AS prefix
  FROM documents
),
counts AS (
  SELECT source, prefix, COUNT(*) AS n FROM pref GROUP BY 1, 2
),
totals AS (SELECT source, COUNT(*) AS n_docs FROM pref GROUP BY 1),
modal AS (
  SELECT source, prefix AS modal_prefix, n AS n_modal FROM (
    SELECT source, prefix, n,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n DESC, prefix) AS rk
    FROM counts
  ) WHERE rk = 1
)
SELECT source, n_docs, modal_prefix, n_modal,
       round(n_modal / CAST(n_docs AS DOUBLE), 6) AS modal_share
FROM modal JOIN totals USING (source)
ORDER BY source
"""


# --------------------------------------------------------------------------
# heaps_law_curve — vocabulary-growth (first-seen) curve.
#
# Heaps' law: vocabulary grows ~ n^β as a corpus grows; the curve's
# shape answers "will more data keep adding new words, or has the
# vocabulary saturated" — the diminishing-returns readout for corpus
# acquisition. Each token's FIRST document (min doc_id) buckets it
# into the corpus decile where it first appeared; cumulative counts
# over deciles are the growth curve. Exact integers end to end.
#
# Scale: token→min(doc_id) is one vocabulary-bounded groupBy; the
# curve is a 10-row cumulative window.
# --------------------------------------------------------------------------

_HEAPS_BUCKETS = 10


def q_heaps_law_curve(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import word_tokens

    docs = table(spark, sf_dir, "documents", spread=True)
    ids = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    first_seen = (
        docs.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    # decile by position in the doc_id range (integer arithmetic)
    bucketed = first_seen.join(F.broadcast(ids)).select(
        F.least(
            F.floor(
                (F.col("first_doc") - F.col("lo"))
                * _HEAPS_BUCKETS
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("int"),
            F.lit(_HEAPS_BUCKETS - 1),
        ).alias("decile")
    )
    per = bucketed.groupBy("decile").agg(F.count("*").alias("new_types"))
    spine = docs.sparkSession.range(_HEAPS_BUCKETS).select(
        F.col("id").cast("int").alias("decile")
    )
    dense = spine.join(per, "decile", "left").select(
        "decile", F.coalesce("new_types", F.lit(0)).alias("new_types")
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        dense.withColumn("cum_vocab", F.sum("new_types").over(w))
        .select("decile", "new_types", "cum_vocab")
        .orderBy("decile")
    )


HEAPS_LAW_CURVE_SQL = f"""
WITH ids AS (
  SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
),
first_seen AS (
  SELECT t, MIN(doc_id) AS first_doc
  FROM (SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS t
        FROM documents)
  GROUP BY t
),
bucketed AS (
  SELECT LEAST(CAST(floor((first_doc - lo) * {_HEAPS_BUCKETS}
                          / (hi - lo + 1.0)) AS INT),
               {_HEAPS_BUCKETS - 1}) AS decile
  FROM first_seen, ids
),
per AS (SELECT decile, COUNT(*) AS new_types FROM bucketed GROUP BY decile),
dense AS (
  SELECT s.decile, CAST(COALESCE(per.new_types, 0) AS BIGINT) AS new_types
  FROM (SELECT unnest(range(0, {_HEAPS_BUCKETS})) AS decile) s
  LEFT JOIN per USING (decile)
)
SELECT decile, new_types,
       CAST(SUM(new_types) OVER (ORDER BY decile
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_vocab
FROM dense
ORDER BY decile
"""


# --------------------------------------------------------------------------
# seasonal_anomalies — weekday-adjusted traffic anomaly detection.
#
# Raw-threshold spike detection (error_spikes) fires every Monday if
# weekends are quiet; the seasonal-naive adjustment divides each
# day's count by its WEEKDAY mean first, so only days unusual FOR
# THEIR WEEKDAY flag. Deviation stays rational-exact: a day flags
# when 20·count·n_weekday_days > 21·weekday_total (ratio > 1.05,
# cross-multiplied integers — no float ratio in the decision; the
# synthetic traffic is near-uniform, max observed ratio ~1.085, so
# the gate is tuned to demonstrate on it), and the reported ratio is
# one final division.
#
# Scale: one day-level aggregate + a 7-row weekday mean broadcast.
# --------------------------------------------------------------------------


def q_seasonal_anomalies(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count("*").alias("c")
    ).withColumn("dow", F.dayofweek("day"))
    wk = daily.groupBy("dow").agg(
        F.sum("c").alias("wk_total"), F.count("*").alias("wk_days")
    )
    j = daily.join(F.broadcast(wk), "dow")
    return (
        j.filter(
            20 * F.col("c") * F.col("wk_days") > 21 * F.col("wk_total")
        )
        .select(
            "day",
            "c",
            F.round(
                (F.col("c") * F.col("wk_days")).cast("double")
                / F.col("wk_total").cast("double"),
                6,
            ).alias("seasonal_ratio"),
        )
        .orderBy("day")
    )


SEASONAL_ANOMALIES_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, COUNT(*) AS c
  FROM events GROUP BY 1
),
dowd AS (SELECT day, c, dayofweek(day) + 1 AS dow FROM daily),
wk AS (
  SELECT dow, CAST(SUM(c) AS BIGINT) AS wk_total, COUNT(*) AS wk_days
  FROM dowd GROUP BY dow
)
SELECT day, c,
       round(CAST(c * wk_days AS BIGINT)
             / CAST(wk_total AS DOUBLE), 6) AS seasonal_ratio
FROM dowd JOIN wk USING (dow)
WHERE 20 * c * wk_days > 21 * wk_total
ORDER BY day
"""


# --------------------------------------------------------------------------
# hash_uniformity_check — chi-square audit of the md5 bucket family.
#
# Every sampler and split in this engine trusts md5(id) % 100 to be
# uniform; this audits that trust: bucket counts vs the uniform
# expectation via chi-square with FULLY integer cell terms —
# (o·B − n)²/(B·n) cross-multiplied so the only float is the final
# ·1/B² scale. χ² ≈ B−1 (here 99) is healthy; a broken id scheme
# (e.g. ids sharing a prefix under a weak hash) blows it up.
#
# Scale: map-side bucketing + a 100-row aggregate.
# --------------------------------------------------------------------------

_HU_BUCKETS = 100


def q_hash_uniformity_check(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    b = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 12),
            16,
            10,
        ).cast("bigint"),
        F.lit(_HU_BUCKETS),
    )
    counts = orders.select(b.alias("bucket")).groupBy("bucket").agg(
        F.count("*").alias("o")
    )
    tot = counts.agg(F.sum("o").alias("n"))
    # χ² = Σ (o·B − n)² / (B·n); integers until the last division
    term = (F.col("o") * _HU_BUCKETS - F.col("n"))
    return (
        counts.join(F.broadcast(tot))
        .agg(
            F.count("*").alias("n_buckets"),
            F.min("o").alias("min_bucket"),
            F.max("o").alias("max_bucket"),
            F.round(
                F.sum(term * term).cast("double")
                / (F.lit(_HU_BUCKETS) * F.first("n")).cast("double"),
                6,
            ).alias("chi2"),
        )
    )


HASH_UNIFORMITY_CHECK_SQL = f"""
WITH counts AS (
  SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12)
              AS BIGINT) % {_HU_BUCKETS} AS bucket,
         COUNT(*) AS o
  FROM orders GROUP BY 1
),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM counts)
SELECT COUNT(*) AS n_buckets,
       MIN(o) AS min_bucket,
       MAX(o) AS max_bucket,
       round(CAST(SUM((o * {_HU_BUCKETS} - n) * (o * {_HU_BUCKETS} - n))
                  AS BIGINT)
             / CAST({_HU_BUCKETS} * ANY_VALUE(n) AS DOUBLE), 6) AS chi2
FROM counts, tot
"""


# --------------------------------------------------------------------------
# cusum_changepoint — integer-exact CUSUM changepoint detection.
#
# error_spikes flags days that breach a trailing-window threshold;
# CUSUM (Page 1954) answers the different question "WHEN did the error
# rate shift" — the cumulative sum of deviations from the global mean
# peaks at the changepoint. Cleared of floats entirely: with per-day
# errors e_j / events n_j and totals E / N,
#   S_i = Σ_{j≤i} (e_j·N − n_j·E)
# is an exact BIGINT running sum (the rate deviation cross-multiplied
# by N·total), its running max |S_i| is the CUSUM statistic and the
# argmax day is the changepoint estimate.
#
# Scale: one day-level aggregate, a 1-row totals broadcast, one
# ordered window over the |days| frame.
# --------------------------------------------------------------------------


def q_cusum_changepoint(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count("*").alias("n_ev"),
        F.count_if(F.col("event_type") == "error").alias("n_err"),
    )
    tot = daily.agg(
        F.sum("n_ev").alias("tot_ev"), F.sum("n_err").alias("tot_err")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    cum = (
        daily.join(F.broadcast(tot))
        .withColumn(
            "s",
            F.sum(
                F.col("n_err") * F.col("tot_ev")
                - F.col("n_ev") * F.col("tot_err")
            ).over(w),
        )
        .withColumn("abs_s", F.abs(F.col("s")))
    )
    w_rank = W.orderBy(F.desc("abs_s"), F.asc("day"))
    return (
        cum.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") == 1)
        .select(
            F.col("day").alias("changepoint_day"),
            F.col("abs_s").alias("max_abs_cusum"),
            F.col("s").alias("cusum_signed"),
        )
    )


CUSUM_CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         COUNT(*) AS n_ev,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_err
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_ev) AS BIGINT) AS tot_ev,
         CAST(SUM(n_err) AS BIGINT) AS tot_err
  FROM daily
),
cum AS (
  SELECT day,
         CAST(SUM(n_err * tot_ev - n_ev * tot_err)
              OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS BIGINT) AS s
  FROM daily, tot
)
SELECT day AS changepoint_day,
       CAST(abs(s) AS BIGINT) AS max_abs_cusum,
       s AS cusum_signed
FROM cum
ORDER BY abs(s) DESC, day
LIMIT 1
"""


# --------------------------------------------------------------------------
# event_trigram_mining — top event-type sequences (sequence-mining
# lite). The "what do users actually do" 3-step patterns: sliding
# trigrams over each user's time-ordered event stream (two LEADs in
# the same window pass), counted corpus-wide, top-10 with
# deterministic tie-breaks. |event types|³-bounded output.
# --------------------------------------------------------------------------

_TRIGRAM_TOP = 10


def q_event_trigram_mining(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("e2", F.lead("event_type", 1).over(w))
        .withColumn("e3", F.lead("event_type", 2).over(w))
        .where(F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("trigram")
        )
    )
    counts = tri.groupBy("trigram").agg(F.count("*").alias("n"))
    # top-K via TakeOrderedAndProject; rank window touches K rows only
    topk = counts.orderBy(F.desc("n"), F.asc("trigram")).limit(_TRIGRAM_TOP)
    w_rank = W.orderBy(F.desc("n"), F.asc("trigram"))
    return (
        topk.withColumn("rank", F.row_number().over(w_rank))
        .select("rank", "trigram", "n")
        .orderBy("rank")
    )


EVENT_TRIGRAM_MINING_SQL = f"""
WITH tri AS (
  SELECT event_type || '>' ||
         LEAD(event_type, 1) OVER w || '>' ||
         LEAD(event_type, 2) OVER w AS trigram
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
counts AS (
  SELECT trigram, COUNT(*) AS n FROM tri
  WHERE trigram IS NOT NULL GROUP BY trigram
)
SELECT rank, trigram, n FROM (
  SELECT trigram, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, trigram) AS rank
  FROM counts
)
WHERE rank <= {_TRIGRAM_TOP}
ORDER BY rank
"""


# --------------------------------------------------------------------------
# ab_test_analysis — two-proportion experiment readout.
#
# The product-experiment primitive: users hash-split 50/50 into
# variants (deterministic md5 assignment — the same salt-seedable
# bucketing the samplers use), conversion = user emitted a 'purchase'
# event. Reports per-variant rates and the pooled two-proportion
# z-statistic — the number an experimentation platform thresholds at
# ±1.96.
#
# Determinism: counts are exact integers; rate/z are one fixed chain
# of integer-derived doubles + IEEE sqrt, rounded once. Scale: one
# user-level aggregate (conversion flag via max), one 2-row variant
# aggregate, one 1-row readout.
# --------------------------------------------------------------------------


def q_ab_test_analysis(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    variant = F.when(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 12),
                16,
                10,
            ).cast("bigint"),
            F.lit(2),
        )
        == 0,
        "control",
    ).otherwise("treatment")
    # conversion: purchase-heavy user — purchases are ≥ 1/5 of the
    # user's events (integer cross-multiplied, scale-free so the
    # metric splits at every SF; a has-any-purchase flag saturates to
    # 100% on this data)
    per_user = (
        ev.select("user_id", "event_type")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purch"),
            F.count("*").alias("n_ev"),
        )
        .select(
            variant.alias("variant"),
            (5 * F.col("n_purch") >= F.col("n_ev")).cast("int").alias(
                "converted"
            ),
        )
    )
    arms = per_user.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    wide = (
        arms.groupBy()
        .pivot("variant", ["control", "treatment"])
        .agg(F.first("n_users").alias("n"), F.first("n_converted").alias("x"))
    )
    nc, xc = F.col("control_n"), F.col("control_x")
    nt, xt = F.col("treatment_n"), F.col("treatment_x")
    p_pool = (xc + xt).cast("double") / (nc + nt).cast("double")
    # NULLIF-guard: a degenerate experiment (everyone or no one
    # converts → pooled variance 0) reads NULL, not a crash
    z = (
        xt.cast("double") / nt.cast("double")
        - xc.cast("double") / nc.cast("double")
    ) / F.nullif(
        F.sqrt(
            p_pool
            * (1 - p_pool)
            * (F.lit(1.0) / nc.cast("double") + F.lit(1.0) / nt.cast("double"))
        ),
        F.lit(0.0),
    )
    return wide.select(
        nc.alias("n_control"),
        xc.alias("x_control"),
        nt.alias("n_treatment"),
        xt.alias("x_treatment"),
        F.round(xc.cast("double") / nc.cast("double"), 6).alias("rate_control"),
        F.round(xt.cast("double") / nt.cast("double"), 6).alias(
            "rate_treatment"
        ),
        F.round(z, 6).alias("z_stat"),
    )


AB_TEST_ANALYSIS_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN 5 * SUM(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) >= COUNT(*)
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
),
tagged AS (
  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                    AS BIGINT) % 2 = 0
              THEN 'control' ELSE 'treatment' END AS variant,
         converted
  FROM per_user
),
wide AS (
  SELECT
    CAST(SUM(CASE WHEN variant = 'control' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_control,
    CAST(SUM(CASE WHEN variant = 'control' THEN converted ELSE 0 END)
         AS BIGINT) AS x_control,
    CAST(SUM(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_treatment,
    CAST(SUM(CASE WHEN variant = 'treatment' THEN converted ELSE 0 END)
         AS BIGINT) AS x_treatment
  FROM tagged
)
SELECT n_control, x_control, n_treatment, x_treatment,
       {_sql_round('x_control / CAST(n_control AS DOUBLE)', 6)}
         AS rate_control,
       {_sql_round('x_treatment / CAST(n_treatment AS DOUBLE)', 6)}
         AS rate_treatment,
       {_sql_round(
           '(x_treatment / CAST(n_treatment AS DOUBLE)'
           ' - x_control / CAST(n_control AS DOUBLE))'
           ' / NULLIF(sqrt((x_control + x_treatment)'
           '        / CAST(n_control + n_treatment AS DOUBLE)'
           '   * (1 - (x_control + x_treatment)'
           '          / CAST(n_control + n_treatment AS DOUBLE))'
           '   * (1.0 / n_control + 1.0 / n_treatment)), 0)',
           6,
       )} AS z_stat
FROM wide
"""


# --------------------------------------------------------------------------
# benford_audit — first-digit distribution vs Benford's law.
#
# The forensic-accounting / synthetic-data smell test: naturally
# occurring money amounts follow P(d) = log10(1 + 1/d); fabricated or
# truncated data doesn't. Per leading digit of o_totalprice: observed
# count/share, the Benford expectation, and the chi-square
# contribution (obs − exp)²/exp — the per-digit evidence ledger.
#
# Determinism: the expected probabilities are PYTHON-computed literals
# embedded identically in both engines (no runtime transcendentals at
# all); first-digit extraction is integer/string ops; contributions
# are rounded once into DECIMAL. Scale: digit extraction is map-side,
# the aggregate is 9 groups.
# --------------------------------------------------------------------------

import math as _math

_BENFORD_P = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}


def q_benford_audit(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
    )
    tot = counts.agg(F.sum("n_obs").alias("n_all"))
    p_expr = F.element_at(
        F.create_map(
            *[x for d in range(1, 10) for x in (F.lit(d), F.lit(_BENFORD_P[d]))]
        ),
        F.col("digit"),
    )
    exp_n = p_expr * F.col("n_all")
    return (
        counts.join(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs") / F.col("n_all"), 6).alias("obs_share"),
            F.round(p_expr, 6).alias("exp_share"),
            F.round(
                (F.col("n_obs") - exp_n) * (F.col("n_obs") - exp_n) / exp_n, 6
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


def _benford_sql() -> str:
    cases = " ".join(
        f"WHEN {d} THEN {_BENFORD_P[d]!r}" for d in range(1, 10)
    )
    # explicit DOUBLE: DuckDB parses decimal literals as DECIMAL and
    # overflows squaring the (obs - exp) residual at scale 38
    p = f"CAST((CASE digit {cases} END) AS DOUBLE)"
    return f"""
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS INT) AS digit,
         COUNT(*) AS n_obs
  FROM orders WHERE o_totalprice >= 1
  GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_all FROM counts)
SELECT digit, n_obs,
       {_sql_round('n_obs / CAST(n_all AS DOUBLE)', 6)} AS obs_share,
       {_sql_round(p, 6)} AS exp_share,
       {_sql_round(f'(n_obs - {p} * n_all) * (n_obs - {p} * n_all) / ({p} * n_all)', 6)} AS chi2_term
FROM counts, tot
ORDER BY digit
"""


# --------------------------------------------------------------------------
# heavy_hitter_tokens — exact frequent tokens via the two-pass sketch
# (operators/heavyhitters.py). The local mapInPandas pass generates a
# pigeonhole-guaranteed candidate superset with NO shuffle; the exact
# recheck shuffles only candidates. Output = exactly the tokens above
# the global ε share, so the oracle is plain exact SQL — the hash
# match certifies the no-false-negative guarantee.
# --------------------------------------------------------------------------

_HH_EPSILON = 0.002  # tokens above 0.2% of the corpus


def q_heavy_hitter_tokens(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import word_tokens
    from city_payroll_data_pipeline_spark.operators.heavyhitters import (
        heavy_hitters,
    )

    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(F.explode(word_tokens(F.col("text"))).alias("tok"))
    return heavy_hitters(toks, "tok", _HH_EPSILON).orderBy(
        F.desc("cnt"), F.asc("tok")
    )


HEAVY_HITTER_TOKENS_SQL = rf"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS tok
  FROM documents
),
tot AS (SELECT COUNT(*) AS n_total FROM toks)
SELECT tok, COUNT(*) AS cnt,
       {_sql_round('COUNT(*) / CAST(n_total AS DOUBLE)', 6)} AS share
FROM toks, tot
GROUP BY tok, n_total
HAVING COUNT(*) > {_HH_EPSILON} * n_total
ORDER BY cnt DESC, tok
"""


# --------------------------------------------------------------------------
# hard_negative_topk — hard-negative mining for embedding training.
#
# Contrastive/retrieval training wants negatives that are SIMILAR to
# the anchor but differently labeled — the examples that actually move
# the loss. Per query vector: top-k cosine neighbors restricted to
# label ≠ anchor label. Same exact-integer cosine machinery as
# cosine_topk (1e-4 grid, BIGINT dots, one float chain), plus the
# label-mismatch predicate INSIDE the broadcast join so disqualified
# pairs never reach scoring.
#
# Scale: corpus scanned once, query set broadcast (the cosine_topk
# pattern); per-query top-k rides the WindowGroupLimit.
# --------------------------------------------------------------------------

_HN_K = 5


def q_hard_negative_topk(spark, sf_dir):
    from city_payroll_data_pipeline_spark.operators import similarity as sim
    from city_payroll_data_pipeline_spark.suite.vectors import N_QUERIES

    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "label", sim.quantize(F.col("embedding")).alias("q")
    ).withColumn("n2", sim.norm2_q(F.col("q")))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("q").alias("qq"),
        F.col("n2").alias("qn2"),
    )
    scored = emb.join(
        F.broadcast(queries), F.col("label") != F.col("qlabel")
    ).select(
        "query_id",
        F.col("vec_id").alias("negative_id"),
        sim.cosine_q(
            sim.dot_q(F.col("qq"), F.col("q")), F.col("qn2"), F.col("n2")
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("negative_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HN_K)
        .select("query_id", "rank", "negative_id",
                F.round("cosine", 6).alias("cosine"))
        .orderBy("query_id", "rank")
    )


def _hard_negative_sql() -> str:
    from city_payroll_data_pipeline_spark.suite.parity import _sql_round as _r
    from city_payroll_data_pipeline_spark.suite.vectors import (
        N_QUERIES,
        _COSINE_SQL,
        _QUANT_SQL,
        _dot_sql,
    )

    return f"""
WITH base AS (
  SELECT vec_id, label, {_QUANT_SQL} AS q FROM embeddings
),
qv AS (
  SELECT vec_id, label, q, {_dot_sql('q', 'q')} AS n2 FROM base
),
pairs AS (
  SELECT p.vec_id AS query_id, c.vec_id AS negative_id,
         {_dot_sql('p.q', 'c.q')} AS dot, p.n2 AS n2a, c.n2 AS n2b
  FROM qv p JOIN qv c
    ON p.vec_id < {N_QUERIES} AND c.label <> p.label
),
scored AS (
  SELECT query_id, negative_id, {_COSINE_SQL} AS cosine FROM pairs
),
ranked AS (
  SELECT query_id, negative_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, negative_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, negative_id, {_r('cosine', 6)} AS cosine
FROM ranked WHERE rank <= {_HN_K}
ORDER BY query_id, rank
"""


# --------------------------------------------------------------------------
# contrastive_negatives — deterministic uniform negative sampling.
#
# The cheap complement to hard-negative mining: K pseudo-random
# differently-labeled negatives per anchor, chosen by an md5-derived
# order both engines compute identically — reproducible epoch-to-
# epoch, seedable by changing the salt. CRUCIALLY this is a
# metadata-only query: it reads (vec_id, label) and never touches the
# embedding column, so the parquet scan prunes the vectors entirely —
# negative sampling over 100 TB of embeddings costs a scan of two
# thin columns.
# --------------------------------------------------------------------------

_CN_K = 8


def q_contrastive_negatives(spark, sf_dir):
    from city_payroll_data_pipeline_spark.suite.vectors import N_QUERIES

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("query_id"), F.col("vec_id"))),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h")
    )
    pairs = emb.join(
        F.broadcast(queries), F.col("label") != F.col("qlabel")
    ).select("query_id", F.col("vec_id").alias("negative_id"), h)
    w = W.partitionBy("query_id").orderBy("h", "negative_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _CN_K)
        .select("query_id", "rank", "negative_id")
        .orderBy("query_id", "rank")
    )


def _contrastive_negatives_sql() -> str:
    from city_payroll_data_pipeline_spark.suite.vectors import N_QUERIES

    return f"""
WITH queries AS (
  SELECT vec_id AS query_id, label AS qlabel FROM embeddings
  WHERE vec_id < {N_QUERIES}
),
pairs AS (
  SELECT q.query_id, e.vec_id AS negative_id,
         CAST('0x' || substr(md5(q.query_id || ':' || e.vec_id), 1, 12)
              AS BIGINT) AS h
  FROM embeddings e JOIN queries q ON e.label <> q.qlabel
),
ranked AS (
  SELECT query_id, negative_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY h, negative_id) AS rank
  FROM pairs
)
SELECT query_id, rank, negative_id
FROM ranked WHERE rank <= {_CN_K}
ORDER BY query_id, rank
"""


# --------------------------------------------------------------------------
# mahalanobis_outliers — correlation-aware 2-D outlier screen.
#
# Per-source document screening on (chars, tokens) JOINTLY: a doc with
# plausible length but absurd chars-per-token ratio is invisible to
# the per-axis z-score screen (length_zscores) yet far from the
# distribution in Mahalanobis distance, which whitens by the 2×2
# covariance. d² = (σyy·dx² − 2σxy·dx·dy + σxx·dy²)/det(Σ) against
# the χ²₂ 99.9% cut (13.8155).
#
# Determinism: all moments are exact integer/DECIMAL(38,0) sums; the
# double op-tree (means → covariances → per-row quadratic form) is
# written identically in both engines, so every d² is bit-identical
# and the threshold comparison can never straddle.
#
# Scale: one projected scan for the 5 moment sums per source (tiny
# agg), one re-scan joined with the ~|sources| broadcast stats frame;
# no shuffle of the docs themselves, no windows.
# --------------------------------------------------------------------------

_MAHA_CHI2_999 = 13.8155  # chi-square(2 df) 0.999 quantile


def q_mahalanobis_outliers(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import token_count

    docs = table(spark, sf_dir, "documents", spread=True).select(
        "source",
        F.length("text").alias("x"),
        token_count(F.col("text")).alias("y"),
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    stats = docs.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy"),
    )
    n = F.col("n")
    mx = F.col("sx").cast("double") / n
    my = F.col("sy").cast("double") / n
    vxx = F.col("sxx").cast("double") / n - mx * mx
    vyy = F.col("syy").cast("double") / n - my * my
    vxy = F.col("sxy").cast("double") / n - mx * my
    params = stats.select(
        "source",
        n.alias("n_docs"),
        mx.alias("mx"),
        my.alias("my"),
        vxx.alias("vxx"),
        vyy.alias("vyy"),
        vxy.alias("vxy"),
        (vxx * vyy - vxy * vxy).alias("det"),
    )
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    d2 = (
        F.col("vyy") * dx * dx
        - 2 * F.col("vxy") * dx * dy
        + F.col("vxx") * dy * dy
    ) / F.col("det")
    scored = docs.join(F.broadcast(params), "source").select(
        "source", "n_docs", d2.alias("d2")
    )
    return (
        scored.groupBy("source", "n_docs")
        .agg(
            F.sum(
                F.when(F.col("d2") > _MAHA_CHI2_999, 1).otherwise(0)
            ).alias("n_outliers"),
            F.round(F.max("d2"), 6).alias("max_d2"),
        )
        .orderBy("source")
    )


MAHALANOBIS_OUTLIERS_SQL = rf"""
WITH docs AS (
  SELECT source, length(text) AS x,
         len(regexp_extract_all(text, '\S+', 0)) AS y
  FROM documents
),
stats AS (
  SELECT source, COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
         SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(y * y AS DECIMAL(38,0))) AS syy
  FROM docs GROUP BY source
),
params AS (
  SELECT source, n AS n_docs,
         CAST(sx AS DOUBLE) / n AS mx,
         CAST(sy AS DOUBLE) / n AS my,
         CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS vxx,
         CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS vyy,
         CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS vxy
  FROM stats
),
scored AS (
  SELECT d.source, p.n_docs,
         (p.vyy * (d.x - p.mx) * (d.x - p.mx)
          - 2 * p.vxy * (d.x - p.mx) * (d.y - p.my)
          + p.vxx * (d.y - p.my) * (d.y - p.my))
         / (p.vxx * p.vyy - p.vxy * p.vxy) AS d2
  FROM docs d JOIN params p USING (source)
)
SELECT source, n_docs,
       CAST(SUM(CASE WHEN d2 > {_MAHA_CHI2_999} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       round(MAX(d2), 6) AS max_d2
FROM scored
GROUP BY source, n_docs
ORDER BY source
"""


# --------------------------------------------------------------------------
# conformal_calibration — split-conformal prediction intervals.
#
# The distribution-free uncertainty wrapper every ML serving pipeline
# wants: fit a point model on a calibration split (here: per-priority
# mean price over even order keys), take the 90th-percentile absolute
# residual q̂ on that split, and certify empirical coverage of
# pred ± q̂ on the held-out odd keys. Conformal theory says coverage
# ≈ 90% regardless of the model — the query verifies it per group.
#
# Determinism: the predictor is an exact-decimal mean cast to double;
# residuals are one identical double op-tree; q̂ is both engines'
# exact interpolated percentile rounded to 6 dp (the
# range_shard_boundaries precedent — the round absorbs last-ulp
# association drift), and the coverage comparison runs identical
# doubles against identical doubles.
#
# Scale: two projected scans of orders (calibration agg + test
# probe); the per-priority (pred, q̂) frame is a 5-row broadcast. The
# exact within-group percentile is the one sort — at 100 TB swap
# approx_percentile (mergeable sketch) and keep the same interface.
# --------------------------------------------------------------------------

_CONF_ALPHA_Q = 0.9


def q_conformal_calibration(spark, sf_dir):
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    cal = orders.where(F.col("o_orderkey") % 2 == 0)
    test = orders.where(F.col("o_orderkey") % 2 == 1)
    model = cal.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_cal"),
        (F.sum("p").cast("double") / F.count("*")).alias("pred"),
    )
    resid = cal.join(F.broadcast(model), "o_orderpriority").select(
        "o_orderpriority",
        F.abs(F.col("p").cast("double") - F.col("pred")).alias("r"),
    )
    qhat = resid.groupBy("o_orderpriority").agg(
        F.round(F.percentile("r", _CONF_ALPHA_Q), 6).alias("q_hat")
    )
    t = test.join(F.broadcast(model), "o_orderpriority").join(
        F.broadcast(qhat), "o_orderpriority"
    )
    covered = F.when(
        F.abs(F.col("p").cast("double") - F.col("pred")) <= F.col("q_hat"), 1
    ).otherwise(0)
    return (
        t.groupBy("o_orderpriority", "n_cal", "q_hat")
        .agg(
            F.count("*").alias("n_test"),
            F.round(
                F.sum(covered).cast("double") / F.count("*"), 6
            ).alias("coverage"),
        )
        .select(
            "o_orderpriority", "n_cal", "n_test", "q_hat", "coverage"
        )
        .orderBy("o_orderpriority")
    )


CONFORMAL_CALIBRATION_SQL = f"""
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders
),
cal AS (SELECT * FROM o WHERE o_orderkey % 2 = 0),
test AS (SELECT * FROM o WHERE o_orderkey % 2 = 1),
model AS (
  SELECT o_orderpriority, COUNT(*) AS n_cal,
         CAST(SUM(p) AS DOUBLE) / COUNT(*) AS pred
  FROM cal GROUP BY o_orderpriority
),
qhat AS (
  SELECT cal.o_orderpriority,
         round(quantile_cont(abs(CAST(p AS DOUBLE) - pred),
                             {_CONF_ALPHA_Q}), 6) AS q_hat
  FROM cal JOIN model USING (o_orderpriority)
  GROUP BY cal.o_orderpriority
)
SELECT o_orderpriority, n_cal, COUNT(*) AS n_test, q_hat,
       round(CAST(SUM(CASE WHEN abs(CAST(p AS DOUBLE) - pred) <= q_hat
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         AS coverage
FROM test JOIN model USING (o_orderpriority) JOIN qhat USING (o_orderpriority)
GROUP BY o_orderpriority, n_cal, q_hat
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# poisson_bootstrap_ci — hash-deterministic Poisson bootstrap for the
# mean (Chamandy et al., "Estimating Uncertainty for Massive Data
# Streams", the standard resampling scheme at terabyte scale: each row
# enters replica b with weight ~ Poisson(1), so no replica needs a
# global resample pass). B=20 replicas of mean(o_totalprice), a
# percentile CI from the replica order statistics, plus the bootstrap
# SE. Complements jackknife_ratio_se: jackknife = delete-a-group,
# bootstrap = reweight-everything.
#
# Determinism: the Poisson draw is the inverse-CDF ladder applied to a
# 48-bit md5-derived uniform per (row, replica) — no RNG state, the
# oracle replays the hash bit-for-bit; replica sums are integer-weight
# × DECIMAL(18,2) (exact); the only doubles are the 20 replica means
# and the final CI arithmetic, DECIMAL-quantized where summed.
#
# Scale: the ×B fan-out is map-side (explode before the groupBy), the
# shuffle carries B partial aggregates per map task; everything after
# runs on the 20-row replica frame. The unpartitioned rank window is
# over those 20 rows.
# --------------------------------------------------------------------------

_BOOT_B = 20
_BOOT_DEN = float(2**48 + 1)
# P(Poisson(1) <= k) for k = 0..5, written as full-precision literals
# so both engines parse the identical double
_POIS_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238462",
    "0.9963401531726563",
    "0.9994058151824183",
)


def _pois_w(u):
    expr = F.lit(6)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        expr = F.when(u < float(_POIS_CDF[k]), F.lit(k)).otherwise(expr)
    return expr


def q_poisson_bootstrap_ci(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import hex_to_long

    orders = table(spark, sf_dir, "orders", spread=True)
    rep = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.explode(
            F.array(*[F.lit(b) for b in range(_BOOT_B)])
        ).alias("b"),
    )
    u = (
        hex_to_long(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                12,
            )
        )
        + 1
    ) / F.lit(_BOOT_DEN)
    weighted = rep.withColumn("w", _pois_w(u))
    reps = weighted.groupBy("b").agg(
        F.sum("w").alias("n_b"),
        F.sum(F.col("w") * F.col("price")).alias("sum_b"),
    ).select(
        "b",
        (
            F.col("sum_b").cast("double") / F.col("n_b").cast("double")
        ).alias("mean_b"),
    )
    # 20-row frame from here on
    w_rank = W.orderBy("mean_b", "b")
    ranked = reps.withColumn("rn", F.row_number().over(w_rank))
    theta = orders.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("tot"),
    ).select(
        "n_rows",
        (F.col("tot").cast("double") / F.col("n_rows")).alias("theta_hat"),
    )
    boot_mean_row = ranked.agg(
        F.sum(
            F.round(F.col("mean_b"), 10).cast("decimal(38,10)")
        ).alias("s")
    ).select((F.col("s").cast("double") / _BOOT_B).alias("boot_mean"))
    stats = (
        ranked.join(F.broadcast(boot_mean_row))
        .agg(
            F.max("boot_mean").alias("boot_mean"),
            F.sum(
                F.round(
                    (F.col("mean_b") - F.col("boot_mean"))
                    * (F.col("mean_b") - F.col("boot_mean")),
                    14,
                ).cast("decimal(38,14)")
            ).alias("ss"),
            F.min(F.when(F.col("rn") == 2, F.col("mean_b"))).alias("ci_lo"),
            F.min(
                F.when(F.col("rn") == _BOOT_B - 1, F.col("mean_b"))
            ).alias("ci_hi"),
        )
    )
    return (
        stats.join(F.broadcast(theta))
        .select(
            "n_rows",
            F.round(F.col("theta_hat"), 6).alias("theta_hat"),
            F.round(F.col("boot_mean"), 6).alias("boot_mean"),
            F.round(
                F.sqrt(F.col("ss").cast("double") / (_BOOT_B - 1)), 8
            ).alias("boot_se"),
            F.round(F.col("ci_lo"), 6).alias("ci_lo"),
            F.round(F.col("ci_hi"), 6).alias("ci_hi"),
        )
    )


def _poisson_bootstrap_sql() -> str:
    u = (
        "((CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' || "
        f"CAST(b AS VARCHAR)), 1, 12) AS BIGINT) + 1) / {_BOOT_DEN!r})"
    )
    ladder = "CASE "
    for k, c in enumerate(_POIS_CDF):
        ladder += f"WHEN {u} < {c} THEN {k} "
    ladder += "ELSE 6 END"
    return f"""
WITH rep AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price, b,
         {ladder} AS w
  FROM orders CROSS JOIN (SELECT UNNEST(range(0, {_BOOT_B})) AS b)
),
reps AS (
  SELECT b,
         CAST(SUM(w * price) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS mean_b
  FROM rep GROUP BY b
),
ranked AS (
  SELECT b, mean_b,
         ROW_NUMBER() OVER (ORDER BY mean_b, b) AS rn
  FROM reps
),
theta AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(*) AS theta_hat
  FROM orders
),
bm AS (
  SELECT CAST(SUM(CAST({_sql_round('mean_b', 10)} AS DECIMAL(38,10)))
              AS DOUBLE) / {_BOOT_B} AS boot_mean
  FROM ranked
),
stats AS (
  SELECT MAX(boot_mean) AS boot_mean,
         SUM(CAST({_sql_round(
             '(mean_b - boot_mean) * (mean_b - boot_mean)', 14
         )} AS DECIMAL(38,14))) AS ss,
         MIN(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo,
         MIN(CASE WHEN rn = {_BOOT_B - 1} THEN mean_b END) AS ci_hi
  FROM ranked CROSS JOIN bm
)
SELECT n_rows,
       {_sql_round('theta_hat', 6)} AS theta_hat,
       {_sql_round('boot_mean', 6)} AS boot_mean,
       {_sql_round(f'sqrt(CAST(ss AS DOUBLE) / {_BOOT_B - 1})', 8)}
         AS boot_se,
       {_sql_round('ci_lo', 6)} AS ci_lo,
       {_sql_round('ci_hi', 6)} AS ci_hi
FROM stats CROSS JOIN theta
"""


# --------------------------------------------------------------------------
# cuped_adjustment — CUPED variance reduction (Deng et al., WSDM'13):
# adjust the experiment metric y by a pre-period covariate x,
# y_adj = y − θ(x − x̄) with θ = cov(x,y)/var(x), and report how much
# metric variance the adjustment removes — the readout that decides
# whether an A/B program can cut its sample sizes. Here x = a user's
# event value in the first half of the observation window, y = in the
# second half; var(y_adj) = var(y) − cov²/var(x) algebraically, so ONE
# pass over the per-user frame yields everything.
#
# Determinism: the window midpoint is integer epoch arithmetic on the
# corpus min/max; per-user sums are DECIMAL; the five moment sums are
# DECIMAL products of those exact decimals (no double enters until the
# final closed-form divisions, mirrored operation-for-operation).
#
# Scale: one groupBy(user) collapses the events, one 1-row global agg;
# the midpoint is a broadcast scalar.
# --------------------------------------------------------------------------


def q_cuped_adjustment(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    secs = F.unix_timestamp(F.col("ts"))
    bounds = ev.agg(
        F.min(secs).alias("lo"), F.max(secs).alias("hi")
    ).select(F.expr("(lo + hi) div 2").alias("mid"))
    per_user = (
        ev.select(
            "user_id",
            secs.alias("s"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .join(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("s") < F.col("mid"), F.col("v")).otherwise(
                F.lit(0).cast("decimal(18,6)")
            )).alias("x"),
            F.sum(F.when(F.col("s") >= F.col("mid"), F.col("v")).otherwise(
                F.lit(0).cast("decimal(18,6)")
            )).alias("y"),
        )
    )
    m = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    theta = cov / varx
    # population variances: divide the centered cross-products by n²
    return m.select(
        F.col("n").alias("n_users"),
        F.round(theta, 8).alias("theta"),
        F.round(vary / (n * n), 6).alias("var_y"),
        F.round((vary - cov * cov / varx) / (n * n), 6).alias("var_y_adj"),
        F.round(F.lit(100.0) * (cov * cov / varx) / vary, 6).alias(
            "var_reduction_pct"
        ),
    )


CUPED_ADJUSTMENT_SQL = f"""
WITH bounds AS (
  SELECT (MIN(CAST(floor(epoch(ts)) AS BIGINT))
          + MAX(CAST(floor(epoch(ts)) AS BIGINT))) // 2 AS mid
  FROM events
),
per_user AS (
  SELECT user_id,
         SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < mid
                  THEN CAST(value AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS x,
         SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= mid
                  THEN CAST(value AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS y
  FROM events CROSS JOIN bounds
  GROUP BY user_id
),
m AS (
  SELECT COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM per_user
)
SELECT n AS n_users,
       {_sql_round(
           '(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) '
           '- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) '
           '/ (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) '
           '- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))',
           8,
       )} AS theta,
       {_sql_round(
           '(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) '
           '- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) '
           '/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))',
           6,
       )} AS var_y,
       {_sql_round(
           '((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) '
           '- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) '
           '- (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) '
           '- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) '
           '* (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) '
           '- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) '
           '/ (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) '
           '- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) '
           '/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))',
           6,
       )} AS var_y_adj,
       {_sql_round(
           '100.0 * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) '
           '- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) '
           '* (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) '
           '- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) '
           '/ (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) '
           '- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) '
           '/ (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) '
           '- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))',
           6,
       )} AS var_reduction_pct
FROM m
"""


QUERIES = {
    "bloom_semi_join": Query(
        q_bloom_semi_join,
        BLOOM_SEMI_JOIN_SQL,
        ("runtime-filter", "bloom", "semi-join"),
    ),
    "markov_transitions": Query(
        q_markov_transitions,
        MARKOV_TRANSITIONS_SQL,
        ("events", "markov", "window"),
    ),
    "markov_stationary": Query(
        q_markov_stationary,
        MARKOV_STATIONARY_SQL,
        ("events", "markov", "iterative"),
    ),
    "log_rank_test": Query(
        q_log_rank_test,
        LOG_RANK_TEST_SQL,
        ("survival", "log-rank", "statistics"),
    ),
    "simpson_paradox_audit": Query(
        q_simpson_paradox_audit,
        SIMPSON_PARADOX_AUDIT_SQL,
        ("statistics", "confounding", "audit"),
    ),
    "twap_price": Query(
        q_twap_price, TWAP_PRICE_SQL, ("time-series", "twap", "integer-exact")
    ),
    "bigram_novelty": Query(
        q_bigram_novelty, BIGRAM_NOVELTY_SQL, ("text", "ngram", "novelty")
    ),
    "stable_doc_ids": Query(
        q_stable_doc_ids,
        STABLE_DOC_IDS_SQL,
        ("row-ids", "sharded", "no-global-sort"),
    ),
    "jl_projection_error": Query(
        q_jl_projection_error,
        _jl_oracle_sql(),
        ("embeddings", "random-projection", "integer-exact"),
    ),
    "temperature_mixture": Query(
        q_temperature_mixture,
        TEMPERATURE_MIXTURE_SQL,
        ("mixing", "temperature-sampling", "decimal-exact"),
    ),
    "label_centroid_sim": Query(
        q_label_centroid_sim,
        _label_centroid_sim_sql(),
        ("embeddings", "centroids", "integer-exact"),
    ),
    "heavy_hitter_tokens": Query(
        q_heavy_hitter_tokens,
        HEAVY_HITTER_TOKENS_SQL,
        ("sketch", "heavy-hitters", "lossless"),
    ),
    "rfm_segments": Query(
        q_rfm_segments,
        RFM_SEGMENTS_SQL,
        ("product-analytics", "rfm", "segmentation"),
    ),
    "rfm_segments_scaled": Query(
        q_rfm_segments_scaled,
        RFM_SEGMENTS_SQL,
        ("product-analytics", "rfm", "segmentation", "scale-path"),
    ),
    "psi_drift": Query(
        q_psi_drift, PSI_DRIFT_SQL, ("drift", "psi", "monitoring")
    ),
    "benford_audit": Query(
        q_benford_audit, _benford_sql(), ("dq", "benford", "forensics")
    ),
    "calinski_harabasz": Query(
        q_calinski_harabasz,
        _calinski_harabasz_sql(),
        ("embeddings", "cluster-quality", "moment-trick"),
    ),
    "embedding_scatter": Query(
        q_embedding_scatter,
        _embedding_scatter_sql(),
        ("embeddings", "scatter", "moment-trick"),
    ),
    "trimmed_mean_prices": Query(
        q_trimmed_mean_prices,
        TRIMMED_MEAN_PRICES_SQL,
        ("robust-stats", "trimmed-mean"),
    ),
    "revenue_concentration": Query(
        q_revenue_concentration,
        REVENUE_CONCENTRATION_SQL,
        ("concentration", "lorenz", "whales"),
    ),
    "lexical_diversity": Query(
        q_lexical_diversity,
        LEXICAL_DIVERSITY_SQL,
        ("corpus-stats", "ttr", "hapax"),
    ),
    "zipf_slope": Query(
        q_zipf_slope, ZIPF_SLOPE_SQL, ("corpus-stats", "zipf", "regression")
    ),
    "event_burstiness": Query(
        q_event_burstiness,
        EVENT_BURSTINESS_SQL,
        ("abuse", "fano-factor", "integer-exact"),
    ),
    "peak_concurrency": Query(
        q_peak_concurrency,
        PEAK_CONCURRENCY_SQL,
        ("sessions", "sweep-line", "capacity"),
    ),
    "session_coverage": Query(
        q_session_coverage,
        SESSION_COVERAGE_SQL,
        ("sessions", "interval-union", "utilization"),
    ),
    "join_fanout_audit": Query(
        q_join_fanout_audit,
        JOIN_FANOUT_AUDIT_SQL,
        ("join-safety", "cardinality", "integer-exact"),
    ),
    "merkle_bucket_manifest": Query(
        q_merkle_bucket_manifest,
        MERKLE_BUCKET_MANIFEST_SQL,
        ("integrity", "merkle", "mergeable"),
    ),
    "rendezvous_shards": Query(
        q_rendezvous_shards,
        _hrw_sql(),
        ("sharding", "rendezvous-hashing", "minimal-reassignment"),
    ),
    "cramers_v": Query(
        q_cramers_v, CRAMERS_V_SQL, ("stats", "chi-square", "categorical")
    ),
    "corpus_health_report": Query(
        q_corpus_health_report,
        CORPUS_HEALTH_REPORT_SQL,
        ("report", "corpus-health", "summary"),
    ),
    "conversion_lag_quantiles": Query(
        q_conversion_lag_quantiles,
        CONVERSION_LAG_QUANTILES_SQL,
        ("product-analytics", "activation", "quantiles"),
    ),
    "spearman_length_tokens": Query(
        q_spearman_length_tokens,
        SPEARMAN_LENGTH_TOKENS_SQL,
        ("stats", "spearman", "integer-exact"),
    ),
    "mann_whitney_test": Query(
        q_mann_whitney_test,
        MANN_WHITNEY_TEST_SQL,
        ("stats", "mann-whitney", "nonparametric"),
    ),
    "knn_label_noise": Query(
        q_knn_label_noise,
        _knn_label_noise_sql(),
        ("data-cleaning", "knn", "label-noise"),
    ),
    "quantile_normalize_lengths": Query(
        q_quantile_normalize_lengths,
        QUANTILE_NORMALIZE_SQL,
        ("normalization", "quantile", "batch-effect"),
    ),
    "epoch_shuffle_plan": Query(
        q_epoch_shuffle_plan,
        EPOCH_SHUFFLE_PLAN_SQL,
        ("training-loader", "shuffle", "deterministic"),
    ),
    "shuffle_run_lengths": Query(
        q_shuffle_run_lengths,
        SHUFFLE_RUN_LENGTHS_SQL,
        ("training-loader", "shuffle", "islands", "audit"),
    ),
    "matryoshka_recall": Query(
        q_matryoshka_recall,
        _matryoshka_sql(),
        ("embeddings", "matryoshka", "retrieval-eval"),
    ),
    "journey_entropy": Query(
        q_journey_entropy,
        JOURNEY_ENTROPY_SQL,
        ("events", "entropy", "predictability"),
    ),
    "hill_tail_index": Query(
        q_hill_tail_index,
        HILL_TAIL_INDEX_SQL,
        ("stats", "heavy-tail", "hill-estimator"),
    ),
    "template_prefix_audit": Query(
        q_template_prefix_audit,
        TEMPLATE_PREFIX_AUDIT_SQL,
        ("templates", "boilerplate", "audit"),
    ),
    "heaps_law_curve": Query(
        q_heaps_law_curve,
        HEAPS_LAW_CURVE_SQL,
        ("corpus-stats", "heaps-law", "vocabulary-growth"),
    ),
    "seasonal_anomalies": Query(
        q_seasonal_anomalies,
        SEASONAL_ANOMALIES_SQL,
        ("anomaly", "seasonal-naive", "integer-exact"),
    ),
    "hash_uniformity_check": Query(
        q_hash_uniformity_check,
        HASH_UNIFORMITY_CHECK_SQL,
        ("dq", "hash-uniformity", "chi-square"),
    ),
    "cusum_changepoint": Query(
        q_cusum_changepoint,
        CUSUM_CHANGEPOINT_SQL,
        ("changepoint", "cusum", "integer-exact"),
    ),
    "event_trigram_mining": Query(
        q_event_trigram_mining,
        EVENT_TRIGRAM_MINING_SQL,
        ("sequence-mining", "events", "window"),
    ),
    "ab_test_analysis": Query(
        q_ab_test_analysis,
        AB_TEST_ANALYSIS_SQL,
        ("experimentation", "ab-test", "z-test"),
    ),
    "isotonic_token_curve": Query(
        q_isotonic_token_curve,
        ISOTONIC_TOKEN_CURVE_SQL,  # exact PAV replay via minimax identity
        ("calibration", "isotonic", "applyInPandas"),
    ),
    "length_moments_profile": Query(
        q_length_moments_profile,
        LENGTH_MOMENTS_PROFILE_SQL,
        ("statistics", "moments", "distribution-shape"),
    ),
    "audience_overlap_matrix": Query(
        q_audience_overlap_matrix,
        AUDIENCE_OVERLAP_MATRIX_SQL,
        ("segments", "set-overlap", "events"),
    ),
    "conversion_survival_curve": Query(
        q_conversion_survival_curve,
        CONVERSION_SURVIVAL_CURVE_SQL,
        ("survival", "kaplan-meier", "censoring"),
    ),
    "hard_negative_topk": Query(
        q_hard_negative_topk,
        _hard_negative_sql(),
        ("embeddings", "contrastive", "hard-negatives"),
    ),
    "contrastive_negatives": Query(
        q_contrastive_negatives,
        _contrastive_negatives_sql(),
        ("embeddings", "negative-sampling", "metadata-only"),
    ),
    "mahalanobis_outliers": Query(
        q_mahalanobis_outliers,
        MAHALANOBIS_OUTLIERS_SQL,
        ("quality", "outliers", "mahalanobis"),
    ),
    "conformal_calibration": Query(
        q_conformal_calibration,
        CONFORMAL_CALIBRATION_SQL,
        ("ml-eval", "conformal", "uncertainty"),
    ),
    "poisson_bootstrap_ci": Query(
        q_poisson_bootstrap_ci,
        _poisson_bootstrap_sql(),
        ("stats", "bootstrap", "resampling"),
    ),
    "cuped_adjustment": Query(
        q_cuped_adjustment,
        CUPED_ADJUSTMENT_SQL,
        ("stats", "cuped", "variance-reduction", "ab-testing"),
    ),
}
