"""Similarity-search queries over the ``embeddings`` table
(vec_id, embedding: array<float>[64], label).

Determinism contract (see operators/similarity.py): embeddings are
quantized to the 1e-4 integer grid, dots/norms are exact bigint
arithmetic, and the only float ops are one multiply, one sqrt and one
division over identical integers — so Spark and DuckDB agree bit-wise
before the final (Spark-semantics) rounding.
"""

from __future__ import annotations

import hashlib
import threading

from pyspark.sql import functions as F

from city_payroll_data_pipeline_spark.operators import similarity as sim
from city_payroll_data_pipeline_spark.suite import Query, table
from city_payroll_data_pipeline_spark.suite.parity import _sql_round

DIM = 64
N_QUERIES = 10  # vec_id < 10 act as the query set
K = 5

# Deterministic hash-sampled query subset (VERDICT r5 item 4): the
# *_sampled eval twins pay O(sample × corpus) for the exact ground
# truth instead of O(N_QUERIES × corpus) — the scale knob for eval
# cost as the corpus grows. The sample is the N_SAMPLE_QUERIES ids
# with the smallest md5 digest (content-addressed, not positional, so
# it stays uniform however query ids are assigned); both engines see
# the same literal id list.
N_SAMPLE_QUERIES = 3
SAMPLED_QUERY_IDS: tuple[int, ...] = tuple(
    sorted(
        sorted(
            range(N_QUERIES),
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
        )[:N_SAMPLE_QUERIES]
    )
)


def _qpred(query_ids, alias: str | None = None) -> str:
    """SQL predicate selecting the query set: the full ``vec_id <
    N_QUERIES`` prefix by default, or an explicit sampled id list."""
    col = f"{alias}.vec_id" if alias else "vec_id"
    if query_ids is None:
        return f"{col} < {N_QUERIES}"
    return f"{col} IN ({', '.join(str(i) for i in sorted(query_ids))})"


def _query_frame(emb, query_ids):
    """Spark twin of _qpred: the query-set DataFrame."""
    if query_ids is None:
        return emb.filter(F.col("vec_id") < N_QUERIES)
    return emb.filter(F.col("vec_id").isin(list(query_ids)))

# shared SQL fragments -----------------------------------------------------

_QUANT_SQL = (
    "list_transform(embedding, x -> "
    "CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))"
)


def _dot_sql(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2])) "
        f"AS BIGINT)"
    )


_Q_CORPUS_SQL = f"""
SELECT vec_id, {_QUANT_SQL} AS q FROM embeddings
"""

# the quantized corpus with its squared norms: the ``qv`` CTE of the
# cosine, hard-negative, LSH and IVF oracles
_QV_SQL = f"""qv AS (
  SELECT vec_id, q, {_dot_sql('q', 'q')} AS n2
  FROM ({_Q_CORPUS_SQL})
)"""

_COSINE_SQL = (
    "CASE WHEN sqrt(CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE)) > 0 "
    "THEN CAST(dot AS DOUBLE) / sqrt(CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE)) "
    "END"
)

# --------------------------------------------------------------------------
# Norms
# --------------------------------------------------------------------------

def q_embedding_norms(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings", spread=True)
    q = sim.quantize(F.col("embedding"))
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sim.norm2_q(q).cast("double")) / sim.QUANT, 6).alias(
            "l2_norm"
        ),
    )


EMBEDDING_NORMS_SQL = f"""
WITH qv AS (SELECT vec_id, label, len(embedding) AS dim, {_QUANT_SQL} AS q
            FROM embeddings)
SELECT vec_id, label, dim,
       {_sql_round(f"sqrt(CAST({_dot_sql('q', 'q')} AS DOUBLE)) / 10000", 6)}
         AS l2_norm
FROM qv
"""

# --------------------------------------------------------------------------
# embedding_mmd_drift — embedding-space distribution drift per source.
#
# psi_drift / ks_source_drift cover SCALAR drift; this is the
# embedding-space counterpart a training-mix owner runs per snapshot:
# linear-kernel MMD²(source, corpus) = ||μ_source − μ_corpus||², the
# two-sample mean-discrepancy statistic (Gretton et al. 2012, linear
# kernel). High-MMD sources are the ones pulling the corpus embedding
# distribution — the trigger for re-weighting or auditing a feed.
#
# Exactness: per-(source, dim) quantized component sums S and the
# corpus sums T are exact bigints; the mean difference is cleared of
# divisions via N·S − n_s·T (exact, squared as DECIMAL(38,0) /
# HUGEINT), summed over dims, with ONE double division chain at the
# end: mmd2 = Σ_d (N·S − n·T)² / (n·N·QUANT)².
#
# Scale: one shuffle for the (source, dim) partial sums (64·|sources|
# rows out), corpus totals derived from the SAME frame (never a second
# corpus pass), 1-row N broadcast (allowlisted BNLJ shape). Nothing
# grows with corpus size except the map-side scan.
# --------------------------------------------------------------------------


def q_embedding_mmd_drift(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", sim.quantize(F.col("embedding")).alias("q")
    )
    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    src = emb.join(docs, "vec_id")
    comp = src.select("source", F.posexplode("q").alias("pos", "v"))
    per_sd = comp.groupBy("source", "pos").agg(F.sum("v").alias("s"))
    n_s = src.groupBy("source").agg(F.count("*").alias("n_vecs"))
    tot = per_sd.groupBy("pos").agg(F.sum("s").alias("t"))
    big_n = n_s.agg(F.sum("n_vecs").alias("nn"))
    diff = (
        F.col("nn") * F.col("s") - F.col("n_vecs") * F.col("t")
    ).cast("decimal(38,0)")
    num = (
        per_sd.join(n_s, "source")
        .join(tot, "pos")
        .crossJoin(F.broadcast(big_n))
        .select("source", "n_vecs", "nn", (diff * diff).alias("d2"))
        .groupBy("source", "n_vecs", "nn")
        .agg(F.sum("d2").alias("num"))
    )
    denom = (
        F.col("n_vecs").cast("double")
        * F.col("nn").cast("double")
        * F.lit(float(sim.QUANT))
    )
    return num.select(
        "source",
        "n_vecs",
        F.round(F.col("num").cast("double") / (denom * denom), 8).alias(
            "mmd2"
        ),
    ).orderBy("source")


EMBEDDING_MMD_DRIFT_SQL = f"""
WITH qv AS (SELECT vec_id, {_QUANT_SQL} AS q FROM embeddings),
src AS (
  SELECT d.source, qv.q FROM qv JOIN documents d ON d.doc_id = qv.vec_id
),
comp AS (
  SELECT source, p.pos AS pos, q[p.pos] AS v
  FROM src CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS pos) p
),
per_sd AS (
  SELECT source, pos, CAST(SUM(v) AS BIGINT) AS s
  FROM comp GROUP BY source, pos
),
ns AS (SELECT source, COUNT(*) AS n_vecs FROM src GROUP BY source),
tot AS (SELECT pos, CAST(SUM(s) AS BIGINT) AS t FROM per_sd GROUP BY pos),
nn AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS nn FROM ns),
num AS (
  SELECT p.source, ns.n_vecs, nn.nn,
         SUM(CAST(nn.nn * p.s - ns.n_vecs * tot.t AS HUGEINT)
             * CAST(nn.nn * p.s - ns.n_vecs * tot.t AS HUGEINT)) AS num
  FROM per_sd p
  JOIN ns USING (source)
  JOIN tot USING (pos)
  CROSS JOIN nn
  GROUP BY p.source, ns.n_vecs, nn.nn
)
SELECT source, CAST(n_vecs AS BIGINT) AS n_vecs,
       {_sql_round(
           "CAST(num AS DOUBLE) / POW(CAST(n_vecs AS DOUBLE)"
           " * CAST(nn AS DOUBLE) * 10000, 2)", 8)} AS mmd2
FROM num
ORDER BY source
"""


# --------------------------------------------------------------------------
# Brute-force exact top-k (the correctness baseline for ANN)
# --------------------------------------------------------------------------

def q_cosine_topk(spark, sf_dir, query_ids=None):
    emb = table(spark, sf_dir, "embeddings", spread=True)
    queries = _query_frame(emb, query_ids)
    return sim.brute_force_topk(emb, "vec_id", "embedding", queries, k=K)


def _cosine_topk_sql(query_ids=None) -> str:
    return f"""
WITH {_QV_SQL},
pairs AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_dot_sql('p.q', 'c.q')} AS dot, p.n2 AS n2a, c.n2 AS n2b
  FROM qv p JOIN qv c ON {_qpred(query_ids, 'p')} AND c.vec_id <> p.vec_id
),
scored AS (
  SELECT query_id, neighbor_id, {_COSINE_SQL} AS cosine FROM pairs
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, {_sql_round('cosine', 6)} AS cosine
FROM ranked WHERE rank <= {K}
"""


COSINE_TOPK_SQL = _cosine_topk_sql()


# --------------------------------------------------------------------------
# Recall@K certificate — the one eval every ANN report runs: each
# approximate arm's top-K is joined to the exact cosine top-K of the
# same query set, giving one (retriever, matched, total, recall_at_k)
# row per arm. The exact baseline is the unit an interactive session
# reuses across reports (Incremental Top-K Similarity Search, EDBT
# 2020); every join runs on (queries × K)-sized frames, never the
# corpus.
#
# Measured shape (r5, r10): each arm keeps its own join+agg against an
# un-checkpointed baseline. A union-all-then-one-join rewrite was 45%
# slower at sf0.1 (the per-arm plans reuse the baseline's exchanges
# and their small stages schedule in parallel), and an eager
# checkpoint of the baseline was 24% slower (a serializing barrier
# where the duplicate subtrees otherwise run as concurrent stages).
# --------------------------------------------------------------------------


def recall_certificate(spark, sf_dir, arms, query_ids=None):
    """Grade ``arms`` — ``(retriever, top-k DataFrame)`` pairs, taken in
    order — against the exact top-K; rows ordered by retriever."""
    exact = q_cosine_topk(spark, sf_dir, query_ids).select(
        "query_id", "neighbor_id"
    )
    total = K * (N_QUERIES if query_ids is None else len(query_ids))
    out = None
    for name, topk in arms:
        part = (
            topk.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"])
            .agg(
                F.lit(name).alias("retriever"),
                F.count("*").alias("matched"),
                F.lit(total).cast("long").alias("total"),
                (F.count("*") / F.lit(total)).alias("recall_at_k"),
            )
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("retriever")


def recall_certificate_sql(arms, query_ids=None) -> str:
    """Oracle twin of recall_certificate: ``arms`` are ``(retriever,
    top-k SQL)`` pairs, each embedded verbatim as one UNION ALL arm."""
    total = K * (N_QUERIES if query_ids is None else len(query_ids))
    body = "\nUNION ALL\n".join(
        f"""
SELECT '{name}' AS retriever,
       COUNT(*) AS matched,
       CAST({total} AS BIGINT) AS total,
       CAST(COUNT(*) AS DOUBLE) / {total} AS recall_at_k
FROM ({sql}) ap
JOIN exact ON ap.query_id = exact.query_id
          AND ap.neighbor_id = exact.neighbor_id"""
        for name, sql in arms
    )
    return f"""
WITH exact AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM ({_cosine_topk_sql(query_ids)})
)
{body}
ORDER BY retriever
"""


# --------------------------------------------------------------------------
# hard_negative_mining — contrastive-training data prep: for each
# anchor, ONE positive (the exact nearest neighbor) and a band of
# HARD negatives (ranks 11–15: similar enough to be informative, far
# enough to be near-certainly wrong) — the standard mining recipe for
# embedding-model training (DPR/SimCSE-style). Random negatives are a
# shuffle, not a query; the hard band is what needs the index.
#
# Scale: one broadcast-query pass over the corpus (brute_force_topk's
# shape — swap in any ANN retriever for the candidate generation at
# 100 TB; the band rule is a filter on rank either way). Output is
# (queries × band)-sized.
# --------------------------------------------------------------------------

_HN_LO, _HN_HI = 11, 15


def q_hard_negative_mining(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings", spread=True)
    queries = _query_frame(emb, None)
    topk = sim.brute_force_topk(
        emb, "vec_id", "embedding", queries, k=_HN_HI
    )
    role = F.when(F.col("rank") == 1, F.lit("positive")).when(
        F.col("rank") >= _HN_LO, F.lit("hard_negative")
    )
    return (
        topk.withColumn("role", role)
        .filter(F.col("role").isNotNull())
        .select("query_id", "role", "rank", "neighbor_id", "cosine")
        .orderBy("query_id", "rank")
    )


HARD_NEGATIVE_MINING_SQL = f"""
WITH {_QV_SQL},
pairs AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_dot_sql('p.q', 'c.q')} AS dot, p.n2 AS n2a, c.n2 AS n2b
  FROM qv p JOIN qv c ON {_qpred(None, 'p')} AND c.vec_id <> p.vec_id
),
scored AS (
  SELECT query_id, neighbor_id, {_COSINE_SQL} AS cosine FROM pairs
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id,
       CASE WHEN rank = 1 THEN 'positive' ELSE 'hard_negative' END AS role,
       rank, neighbor_id, {_sql_round('cosine', 6)} AS cosine
FROM ranked
WHERE rank = 1 OR (rank >= {_HN_LO} AND rank <= {_HN_HI})
ORDER BY query_id, rank
"""


# --------------------------------------------------------------------------
# Near-duplicate pairs (exact copies synthesized at vec_id+100000)
# --------------------------------------------------------------------------

def q_cosine_neardup_pairs(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings", spread=True).select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionAll(copies)
    return sim.cosine_near_dup_pairs(corpus, "vec_id", "embedding", threshold=0.999)


COSINE_NEARDUP_PAIRS_SQL = f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0
),
qv AS (
  SELECT vec_id, q, {_dot_sql('q', 'q')} AS n2
  FROM (SELECT vec_id, {_QUANT_SQL} AS q FROM corpus)
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_dot_sql('a.q', 'b.q')} AS dot, a.n2 AS n2a, b.n2 AS n2b
  FROM qv a JOIN qv b ON a.vec_id < b.vec_id
),
scored AS (SELECT vec_a, vec_b, {_COSINE_SQL} AS cosine FROM pairs)
SELECT vec_a, vec_b, {_sql_round('cosine', 6)} AS cosine
FROM scored WHERE cosine >= 0.999
"""

# --------------------------------------------------------------------------
# LSH-bucketed approximate top-k (the scale path)
# --------------------------------------------------------------------------

N_PLANES = 4  # 2^4 buckets: sized so sf0.01 buckets hold ~30 vecs (recall >> tiny-bucket regime)

_PLANES_SQL = f"""
SELECT p,
       list_transform(range(0, {DIM}),
         j -> (CAST('0x' || substr(md5('plane' || p || '|' || j), 1, 15)
                    AS BIGINT) % 2001) - 1000) AS plane
FROM (SELECT unnest(range(0, {N_PLANES})) AS p)
"""


def q_lsh_ann_topk(spark, sf_dir, query_ids=None):
    emb = table(spark, sf_dir, "embeddings", spread=True)
    queries = _query_frame(emb, query_ids)
    return sim.lsh_topk(
        emb, "vec_id", "embedding", queries, k=K, n_planes=N_PLANES, dim=DIM
    )


def _lsh_ann_topk_sql(query_ids=None) -> str:
    return f"""
WITH {_QV_SQL},
planes AS ({_PLANES_SQL}),
signs AS (
  SELECT v.vec_id, pl.p,
         CASE WHEN {_dot_sql('v.q', 'pl.plane')} >= 0 THEN 1 ELSE 0 END AS s
  FROM qv v CROSS JOIN planes pl
),
buckets AS (
  SELECT vec_id,
         CAST(SUM(s * (1::BIGINT << p)) AS BIGINT) AS bucket
  FROM signs GROUP BY vec_id
),
qb AS (
  SELECT v.vec_id, v.q, v.n2, b.bucket
  FROM qv v JOIN buckets b USING (vec_id)
),
pairs AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_dot_sql('p.q', 'c.q')} AS dot, p.n2 AS n2a, c.n2 AS n2b
  FROM qb p JOIN qb c
    ON {_qpred(query_ids, 'p')} AND p.bucket = c.bucket
   AND c.vec_id <> p.vec_id
),
scored AS (
  SELECT query_id, neighbor_id, {_COSINE_SQL} AS cosine FROM pairs
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, {_sql_round('cosine', 6)} AS cosine
FROM ranked WHERE rank <= {K}
"""


LSH_ANN_TOPK_SQL = _lsh_ann_topk_sql()


# --------------------------------------------------------------------------
# IVF (inverted-file) approximate top-k — deterministic seed centroids
# --------------------------------------------------------------------------

N_LISTS = 8
N_PROBE = 3
CENTROID_STRIDE = 7


def q_ivf_ann_topk(spark, sf_dir, query_ids=None):
    emb = table(spark, sf_dir, "embeddings", spread=True)
    queries = _query_frame(emb, query_ids)
    return sim.ivf_topk(
        emb, "vec_id", "embedding", queries,
        k=K, n_lists=N_LISTS, n_probe=N_PROBE, centroid_stride=CENTROID_STRIDE,
    )


def _ivf_ann_topk_sql(query_ids=None) -> str:
    return f"""
WITH {_QV_SQL},
cents AS (
  SELECT CAST(vec_id // {CENTROID_STRIDE} AS INT) AS list_id,
         q AS cq, n2 AS cn2
  FROM qv
  WHERE vec_id % {CENTROID_STRIDE} = 0
    AND vec_id < {CENTROID_STRIDE * N_LISTS}
),
scored AS (
  SELECT v.vec_id, v.q, v.n2, c.list_id,
         CASE WHEN sqrt(CAST(v.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) > 0
              THEN CAST({_dot_sql('v.q', 'c.cq')} AS DOUBLE)
                   / sqrt(CAST(v.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE))
         END AS csim
  FROM qv v CROSS JOIN cents c
),
ranked_cells AS (
  SELECT vec_id, q, n2, list_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY csim DESC, list_id ASC) AS r
  FROM scored
),
corpus_a AS (SELECT vec_id, q, n2, list_id FROM ranked_cells WHERE r = 1),
qry_a AS (
  SELECT vec_id, q, n2, list_id FROM ranked_cells
  WHERE r <= {N_PROBE} AND {_qpred(query_ids)}
),
pairs AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_dot_sql('p.q', 'c.q')} AS dot, p.n2 AS n2a, c.n2 AS n2b
  FROM qry_a p JOIN corpus_a c
    ON p.list_id = c.list_id AND c.vec_id <> p.vec_id
),
cos AS (
  SELECT query_id, neighbor_id, {_COSINE_SQL} AS cosine FROM pairs
),
final_ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cos
)
SELECT query_id, rank, neighbor_id, {_sql_round('cosine', 6)} AS cosine
FROM final_ranked WHERE rank <= {K}
"""


IVF_ANN_TOPK_SQL = _ivf_ann_topk_sql()


# --------------------------------------------------------------------------
# ivf_probe_curve — the n_probe recall/cost frontier in ONE pass.
#
# Banding theory prices LSH before running it (lsh_tuning_curve); this
# is the IVF twin: every exact top-K pair is annotated with the rank
# r of the neighbor's cell in the query's cell ordering, so
# recall(n_probe = p) = |pairs with r ≤ p| / total falls out of one
# join — no per-p retriever re-runs. Beside it, the measured cost:
# avg candidate rows a query scans at probe p (cumulative probed-cell
# sizes). THE readout for choosing n_probe at any corpus size.
#
# Scale: cell assignment is the same one-broadcast-join pass the
# retriever pays; everything after runs on (queries × n_lists)- and
# (exact top-K)-sized frames.
# --------------------------------------------------------------------------


def q_ivf_probe_curve(spark, sf_dir):
    from pyspark.sql import Window as W

    emb = table(spark, sf_dir, "embeddings", spread=True)
    corpus = sim.with_quantized(emb, "vec_id", "embedding")
    cents = sim.ivf_seed_centroids(corpus, N_LISTS, CENTROID_STRIDE)
    corpus_cells = sim.ivf_assign(corpus, cents, 1).select(
        "vec_id", "list_id"
    )
    cell_sizes = corpus_cells.groupBy("list_id").agg(
        F.count("*").alias("cell_size")
    )
    # query-side cell ranking with the rank RETAINED (ivf_assign drops
    # it): same cosine + (desc, list_id) tie-break as the retriever.
    queries = corpus.filter(F.col("vec_id") < N_QUERIES)
    qscored = queries.alias("v").join(F.broadcast(cents)).select(
        F.col("v.vec_id").alias("query_id"),
        "list_id",
        sim.cosine_q(
            sim.dot_q(F.col("v.q"), F.col("cq")), F.col("v.n2"), F.col("cn2")
        ).alias("_csim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("_csim"), F.asc("list_id"))
    q_ranked = qscored.withColumn("r", F.row_number().over(w)).select(
        "query_id", "list_id", "r"
    )
    exact = q_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    # rank at which IVF finds each exact pair = rank of the neighbor's
    # assigned cell in the query's ordering
    found_at = (
        exact.join(
            corpus_cells.withColumnRenamed("vec_id", "neighbor_id"),
            "neighbor_id",
        )
        .join(q_ranked, ["query_id", "list_id"])
        .select("query_id", "neighbor_id", "r")
    )
    total = K * N_QUERIES
    grid = spark.range(1, N_LISTS + 1).select(
        F.col("id").cast("int").alias("n_probe")
    )
    recall = (
        grid.join(F.broadcast(found_at))
        .groupBy("n_probe")
        .agg(
            F.sum(
                F.when(F.col("r") <= F.col("n_probe"), 1).otherwise(0)
            ).alias("n_found")
        )
    )
    cost = (
        grid.join(F.broadcast(q_ranked.join(F.broadcast(cell_sizes), "list_id")))
        .filter(F.col("r") <= F.col("n_probe"))
        .groupBy("n_probe")
        .agg(F.sum("cell_size").alias("rows_scanned"))
    )
    return (
        recall.join(cost, "n_probe")
        .select(
            "n_probe",
            "n_found",
            F.lit(total).cast("long").alias("total"),
            F.round(F.col("n_found") / F.lit(total), 6).alias("recall_at_k"),
            F.round(
                F.col("rows_scanned") / F.lit(float(N_QUERIES)), 6
            ).alias("avg_candidates"),
        )
        .orderBy("n_probe")
    )


# IVF cell assignment shared verbatim by the probe-curve and IVF-PQ
# oracles: seed centroids, every vector's cells ranked by cosine
# (ties → smaller list_id), and each corpus vector's nearest cell.
_IVF_CELLS_SQL = f"""{_QV_SQL},
cents AS (
  SELECT CAST(vec_id // {CENTROID_STRIDE} AS INT) AS list_id,
         q AS cq, n2 AS cn2
  FROM qv
  WHERE vec_id % {CENTROID_STRIDE} = 0
    AND vec_id < {CENTROID_STRIDE * N_LISTS}
),
cell_scored AS (
  SELECT v.vec_id, c.list_id,
         CASE WHEN sqrt(CAST(v.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) > 0
              THEN CAST({_dot_sql('v.q', 'c.cq')} AS DOUBLE)
                   / sqrt(CAST(v.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE))
         END AS csim
  FROM qv v CROSS JOIN cents c
),
ranked_cells AS (
  SELECT vec_id, list_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY csim DESC, list_id ASC) AS r
  FROM cell_scored
),
corpus_cells AS (SELECT vec_id, list_id FROM ranked_cells WHERE r = 1)"""


IVF_PROBE_CURVE_SQL = f"""
WITH {_IVF_CELLS_SQL},
cell_sizes AS (
  SELECT list_id, COUNT(*) AS cell_size FROM corpus_cells GROUP BY list_id
),
q_ranked AS (
  SELECT vec_id AS query_id, list_id, r FROM ranked_cells
  WHERE vec_id < {N_QUERIES}
),
exact AS (
  SELECT query_id, neighbor_id FROM ({COSINE_TOPK_SQL})
),
found_at AS (
  SELECT e.query_id, e.neighbor_id, qr.r
  FROM exact e
  JOIN corpus_cells cc ON cc.vec_id = e.neighbor_id
  JOIN q_ranked qr ON qr.query_id = e.query_id AND qr.list_id = cc.list_id
),
grid AS (SELECT unnest(range(1, {N_LISTS + 1})) AS n_probe),
recall AS (
  SELECT n_probe,
         CAST(SUM(CASE WHEN f.r <= n_probe THEN 1 ELSE 0 END) AS BIGINT)
           AS n_found
  FROM grid CROSS JOIN found_at f
  GROUP BY n_probe
),
cost AS (
  SELECT n_probe, CAST(SUM(cs.cell_size) AS BIGINT) AS rows_scanned
  FROM grid
  CROSS JOIN q_ranked qr
  JOIN cell_sizes cs ON cs.list_id = qr.list_id
  WHERE qr.r <= n_probe
  GROUP BY n_probe
)
SELECT r.n_probe, r.n_found,
       CAST({K * N_QUERIES} AS BIGINT) AS total,
       {_sql_round(f'r.n_found / CAST({K * N_QUERIES} AS DOUBLE)', 6)}
         AS recall_at_k,
       {_sql_round(f'c.rows_scanned / CAST({N_QUERIES} AS DOUBLE)', 6)}
         AS avg_candidates
FROM recall r JOIN cost c ON r.n_probe = c.n_probe
ORDER BY r.n_probe
"""


# --------------------------------------------------------------------------
# K-means semantic clustering. Iterative, yet FULLY oracle-checked:
# the fit is deterministic end-to-end (maximin init, literal-centroid
# assignment, DECIMAL-exact means, Python-float convergence test), and
# every step is bit-replayable in SQL, so _kmeans_sql() unrolls the
# whole algorithm — 9 init argmax steps + 15 freeze-after-convergence
# Lloyd steps — as a chained-CTE DuckDB query. Bit-equality holds
# because every double op is mirrored 1:1: squared distances are
# left-associated folds (Spark F.aggregate ≡ DuckDB list_reduce,
# verified bitwise), means cast the exact DECIMAL(38,12) sums to
# double BEFORE one double/double division, and no double ever lands
# on a DECIMAL rounding boundary (a binary double cannot terminate at
# a half-ulp of 10^-12 — denominators are powers of 2). The driver
# hash match therefore certifies init, every Lloyd step, the
# convergence decision, and the final report in one go.
# --------------------------------------------------------------------------

KMEANS_K = 10  # embeddings are generated as 10 labeled blobs
_KMEANS_MAX_ITER = 15
_KMEANS_TOL = "1e-6"  # double literal in BOTH engines (not DECIMAL)


def q_kmeans_clusters(spark, sf_dir):
    """Cluster the embedding column with deterministic Lloyd's k-means
    (operators/clustering.py) and report per-cluster size and mean
    squared distance to the centroid — the semantic-bucketing pass a
    training pipeline runs before cluster-balanced sampling.
    Distances are decimal-summed so the output is bit-stable across
    runs and partitionings."""
    from city_payroll_data_pipeline_spark.operators import clustering as cl

    emb = table(spark, sf_dir, "embeddings", spread=True)
    assignments, centers, _ = kmeans_cached(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    dists = F.array(*[cl._sq_dist(v, c) for c in centers])
    return (
        assignments.join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "cluster",
            F.element_at(dists, F.col("cluster") + 1).alias("d2"),
        )
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            F.round(
                F.sum(F.col("d2").cast("decimal(38,12)")).cast("double")
                / F.count("*").cast("double"),
                4,
            ).alias("mean_sq_dist"),
        )
        .orderBy("cluster")
    )


def q_ann_retrieve_docs(spark, sf_dir):
    """End-to-end retrieval: exact top-k neighbors (vec_id aligns with
    doc_id in the synthetic corpus) joined back to the documents table
    for their payload. The top-k result is tiny — broadcast it against
    the doc table so the 100 TB side never shuffles; at scale the doc
    fetch is a broadcast-semi-filtered scan, not a join of the corpus."""
    topk = q_cosine_topk(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.substring("text", 1, 40).alias("snippet")
    )
    return (
        docs.join(
            F.broadcast(topk), docs.doc_id == topk.neighbor_id
        )
        .select("query_id", "rank", "neighbor_id", "cosine", "snippet")
        .orderBy("query_id", "rank")
    )


ANN_RETRIEVE_DOCS_SQL = f"""
WITH topk AS ({COSINE_TOPK_SQL})
SELECT query_id, rank, neighbor_id, cosine,
       substr(text, 1, 40) AS snippet
FROM topk JOIN documents ON doc_id = neighbor_id
ORDER BY query_id, rank
"""


#: block-pair fan-out for the within-cell pair join — parallelism is
#: n_cells·B·(B+1)/2 keys and the left side replicates ≤ (B+1)/2×
_SD_BLOCKS = 8


def q_semantic_dedup_pairs(spark, sf_dir):
    """Semantic near-dup pairs at scale: cell-bucket the corpus, then
    compare ONLY within a cell. The all-pairs variant
    (cosine_neardup_pairs) is O(n²) in the join — unrunnable at 100 TB;
    bucketing first makes the pair join per-cell (shuffle on the cell
    id), trading recall only for near-dups that straddle a cell
    boundary — and exact/near-exact copies never do, since
    (near-)identical vectors get identical assignments.

    Cells are the SAME deterministic seed centroids the IVF index uses
    (strided corpus vectors — no k-means RNG/iteration), which makes
    the whole pipeline SQL-replayable: the DuckDB oracle re-runs
    assignment + in-cell pairing exactly (previously this used the
    Lloyd-fitted centroids and could only get a rows-only check; a
    production system would Lloyd-refine the cells — kmeans_clusters
    covers that fit — without changing this plan's shape).

    Same synthesized copies (vec_id+100000 for vec_id%50==0) and the
    same exact quantized-cosine >= 0.999 as the brute-force twin, so
    the test can also check recall against it.

    Within-cell pairing is BLOCK-PARALLEL (round-9 rework): members
    hash into ``_SD_BLOCKS`` blocks by vec_id, the left side
    replicates to every block-pair it leads, and the join key becomes
    (cell, block-pair) — n_cells·B·(B+1)/2 keys instead of n_cells,
    so one hot cell can no longer serialize the pair stage (at 100 TB
    cell-size skew is the norm, and the old plan's parallelism was
    capped at the cell count — 8 serial tasks locally; identical
    output, solo floor 7.40 → 2.6 s)."""
    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "embedding"
    )
    copies = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionAll(copies)
    qv = sim.with_quantized(corpus, "vec_id", "embedding")
    # the ivf_topk assignment machinery, shared (operators/similarity)
    cents = sim.ivf_seed_centroids(qv, N_LISTS, CENTROID_STRIDE)
    # localCheckpoint: the self-join below would otherwise re-run the
    # assignment window (corpus × n_cells cosines) once per side —
    # materializing the assignment before a pair join is the standard
    # index-build step (at 100 TB this is the persisted cell table,
    # built once and reused by every downstream consumer)
    assigned = (
        sim.ivf_assign(qv, cents, 1)
        .select("vec_id", "q", "n2", "list_id")
        .localCheckpoint()
    )
    blk = (F.col("vec_id") % _SD_BLOCKS).cast("int")
    # left side leads every unordered block pair {b, j} with b ≤ j:
    # replicate to (block, j≥block); right side joins on its own block
    left = assigned.withColumn("_b", blk).withColumn(
        "_j",
        F.explode(
            F.sequence(F.col("_b"), F.lit(_SD_BLOCKS - 1).cast("int"))
        ),
    )
    right = assigned.withColumn("_j", blk)
    # Pin the pair join's exchanges to the algorithm's own key count
    # (r11 stage profile, plans/r11 + OPTIMIZATION_r11.md): the join's
    # equi-keys (list_id, _j) fan the quadratic in-cell compare into
    # n_cells·B natural work units, but the shuffle is only ~2 MB at
    # sf0.1 and AQE's BYTE-based coalescing folded it to 2 tasks —
    # re-serializing exactly the compute the r9 block-parallel rework
    # exists to spread (compute here is quadratic per row; AQE cannot
    # see that). An explicit repartition on the join keys is respected
    # by AQE and reused by the join (no extra exchange); the count is
    # the key-parallelism ceiling of this join — a property of the
    # algorithm (cells × blocks), not of the local core count.
    n_pair_parts = N_LISTS * _SD_BLOCKS
    left = left.repartition(n_pair_parts, "list_id", "_j")
    right = right.repartition(n_pair_parts, "list_id", "_j")
    a, b = left.alias("a"), right.alias("b")
    pairs = a.join(
        b,
        (F.col("a.list_id") == F.col("b.list_id"))
        & (F.col("a._j") == F.col("b._j"))
        # cross-block pairs appear exactly once (the lower block
        # leads); within-block needs the id tie-break
        & (
            (F.col("a._b") < F.col("b._j"))
            | (F.col("a.vec_id") < F.col("b.vec_id"))
        ),
    )
    # the pair dot stays the zip_with/aggregate fold: at DIM=64 a
    # flat element_at expansion exceeds the codegen expression budget
    # and falls back to per-term interpreted eval — A/B'd 9.6 s vs
    # 1.3 s on this join (SCALE.md round-9); expansion only wins for
    # tiny widths like pq_encode's d_sub=2
    cos = sim.cosine_q(
        sim.dot_q(F.col("a.q"), F.col("b.q")), F.col("a.n2"), F.col("b.n2")
    )
    return (
        pairs.select(
            F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_a"),
            F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_b"),
            cos.alias("_cos"),
        )
        .filter(F.col("_cos") >= 0.999)
        .select("vec_a", "vec_b", F.round("_cos", 6).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


SEMANTIC_DEDUP_PAIRS_SQL = f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0
),
qv AS (
  SELECT vec_id, q, {_dot_sql('q', 'q')} AS n2
  FROM (SELECT vec_id, {_QUANT_SQL} AS q FROM corpus)
),
cents AS (
  SELECT CAST(vec_id // {CENTROID_STRIDE} AS INT) AS list_id,
         q AS cq, n2 AS cn2
  FROM qv
  WHERE vec_id % {CENTROID_STRIDE} = 0
    AND vec_id < {CENTROID_STRIDE * N_LISTS}
),
scored AS (
  SELECT v.vec_id, v.q, v.n2, c.list_id,
         CASE WHEN sqrt(CAST(v.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) > 0
              THEN CAST({_dot_sql('v.q', 'c.cq')} AS DOUBLE)
                   / sqrt(CAST(v.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE))
         END AS csim
  FROM qv v CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, q, n2, list_id FROM (
    SELECT vec_id, q, n2, list_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, list_id ASC) AS r
    FROM scored)
  WHERE r = 1
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_dot_sql('a.q', 'b.q')} AS dot, a.n2 AS n2a, b.n2 AS n2b
  FROM assigned a JOIN assigned b
    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
),
scored2 AS (SELECT vec_a, vec_b, {_COSINE_SQL} AS cosine FROM pairs)
SELECT vec_a, vec_b, {_sql_round('cosine', 6)} AS cosine
FROM scored2 WHERE cosine >= 0.999
"""


_KMEANS_CACHE: dict = {}
_KMEANS_LOCK = threading.Lock()


# --------------------------------------------------------------------------
# Int8 scalar-quantized top-k — the compressed-index ANN path: 1 B/dim
# payload, integer-only scoring. Fixed-range quantization (no fit pass)
# so the transform is stateless at 100 TB.
# --------------------------------------------------------------------------

_SQ8_SQL = (
    "list_transform(embedding, x -> greatest(CAST(-127 AS BIGINT), "
    "least(CAST(127 AS BIGINT), "
    "CAST(floor(CAST(x AS DOUBLE) * 127 + 0.5) AS BIGINT))))"
)


def q_sq8_ann_topk(spark, sf_dir, query_ids=None):
    emb = table(spark, sf_dir, "embeddings", spread=True)
    queries = _query_frame(emb, query_ids)
    return sim.sq8_topk(emb, "vec_id", "embedding", queries, k=K)


def _sq8_ann_topk_sql(query_ids=None) -> str:
    return f"""
WITH qv AS (SELECT vec_id, {_SQ8_SQL} AS q8 FROM embeddings),
pairs AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_dot_sql('p.q8', 'c.q8')} AS dot8
  FROM qv p JOIN qv c ON {_qpred(query_ids, 'p')} AND c.vec_id <> p.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, dot8,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot8 DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, rank, neighbor_id, dot8
FROM ranked WHERE rank <= {K}
"""


SQ8_ANN_TOPK_SQL = _sq8_ann_topk_sql()


def kmeans_cached(spark, sf_dir):
    """One k-means fit per (session, sf_dir) — the suite query and the
    determinism test both need the model; refitting is the expensive
    part, not the reporting."""
    from city_payroll_data_pipeline_spark.operators.clustering import kmeans

    key = (id(spark), sf_dir)
    # serialized: concurrent builders (the test harness pools
    # independent queries on one session) must not both miss and fit —
    # the fit is deterministic so a duplicate would be harmless but
    # wastes the exact work this cache exists to save
    with _KMEANS_LOCK:
        if key not in _KMEANS_CACHE:
            # FIFO-bounded: a long-lived session sweeping many scale
            # factors must not pin one checkpointed assignments frame
            # per sf_dir forever (evicted entries' checkpoint blocks
            # are GC-cleaned once unreferenced)
            while len(_KMEANS_CACHE) >= 4:
                _KMEANS_CACHE.pop(next(iter(_KMEANS_CACHE)))
            emb = table(spark, sf_dir, "embeddings", spread=True)
            _KMEANS_CACHE[key] = kmeans(
                emb, "vec_id", "embedding", k=KMEANS_K,
                max_iter=_KMEANS_MAX_ITER,
            )
        return _KMEANS_CACHE[key]


def _kmeans_dist_sql(e: str, c: str) -> str:
    # left-associated fold == Spark's F.aggregate(zip_with(...))
    return (
        f"list_reduce(list_transform(range(1, len({e}) + 1), "
        f"i -> ({e}[i] - {c}[i]) * ({e}[i] - {c}[i])), "
        f"(a, b) -> a + b)"
    )


def _kmeans_body_parts() -> list[str]:
    """The unrolled k-means fit (init + Lloyd steps + final_asg),
    shared by the clusters report and the silhouette oracle — see the
    block comment above KMEANS_K for why the replay is bit-exact."""

    dist = _kmeans_dist_sql

    parts = [
        # MATERIALIZED: ~40 of the unrolled steps scan emb; without it
        # DuckDB inlines the CTE and re-opens the parquet per scan
        # (file-handle exhaustion + quadratic IO)
        "WITH emb AS MATERIALIZED (SELECT vec_id,"
        " CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        "cent0 AS MATERIALIZED (SELECT 0 AS idx, e AS c FROM emb ORDER BY vec_id LIMIT 1)",
    ]
    # maximin init: step s adds the point farthest from its nearest
    # chosen center (ties -> lowest vec_id), mirroring
    # _farthest_point_init's k-1 sequential argmax scans
    for s in range(1, KMEANS_K):
        parts.append(
            f"cand{s} AS MATERIALIZED (SELECT m.vec_id, MIN({dist('m.e', 'c.c')}) AS d"
            f" FROM emb m, cent{s - 1} c GROUP BY m.vec_id)"
        )
        parts.append(
            f"pick{s} AS MATERIALIZED (SELECT {s} AS idx, e AS c FROM cand{s}"
            f" JOIN emb USING (vec_id)"
            f" ORDER BY d DESC, vec_id ASC LIMIT 1)"
        )
        parts.append(
            f"cent{s} AS MATERIALIZED (SELECT * FROM cent{s - 1}"
            f" UNION ALL SELECT * FROM pick{s})"
        )
    parts.append(f"lc0 AS MATERIALIZED (SELECT idx, c FROM cent{KMEANS_K - 1})")
    parts.append("done0 AS MATERIALIZED (SELECT false AS done)")
    # Lloyd steps with freeze-after-convergence: Spark breaks out of
    # the loop AFTER updating centers once the max centroid shift is
    # <= tol; the frozen chain (nc = prev when done) replays that stop
    for i in range(1, _KMEANS_MAX_ITER + 1):
        p = i - 1
        parts.append(
            f"asg{i} AS MATERIALIZED (SELECT vec_id, idx AS cluster FROM ("
            f"SELECT m.vec_id, c.idx, ROW_NUMBER() OVER ("
            f"PARTITION BY m.vec_id ORDER BY {dist('m.e', 'c.c')} ASC,"
            f" c.idx ASC) AS rn FROM emb m, lc{p} c) WHERE rn = 1)"
        )
        parts.append(
            f"upd{i} AS MATERIALIZED (SELECT cluster, list(mu ORDER BY pos) AS c FROM ("
            f"SELECT cluster, pos,"
            f" CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE)"
            f" / CAST(COUNT(*) AS DOUBLE) AS mu FROM ("
            f"SELECT a.cluster, generate_subscripts(m.e, 1) AS pos,"
            f" unnest(m.e) AS x"
            f" FROM asg{i} a JOIN emb m USING (vec_id))"
            f" GROUP BY cluster, pos) GROUP BY cluster)"
        )
        parts.append(
            f"nc{i} AS MATERIALIZED (SELECT p.idx,"
            f" CASE WHEN (SELECT done FROM done{p}) THEN p.c"
            f" ELSE COALESCE(u.c, p.c) END AS c"
            f" FROM lc{p} p LEFT JOIN upd{i} u ON u.cluster = p.idx)"
        )
        parts.append(
            f"sh{i} AS MATERIALIZED (SELECT MAX({dist('p.c', 'n.c')}) AS shift"
            f" FROM lc{p} p JOIN nc{i} n ON n.idx = p.idx)"
        )
        parts.append(f"lc{i} AS MATERIALIZED (SELECT idx, c FROM nc{i})")
        parts.append(
            f"done{i} AS MATERIALIZED (SELECT (SELECT done FROM done{p})"
            f" OR (SELECT shift FROM sh{i}) <= {_KMEANS_TOL} AS done)"
        )
    last = _KMEANS_MAX_ITER
    parts.append(
        f"final_asg AS MATERIALIZED (SELECT vec_id, idx AS cluster FROM ("
        f"SELECT m.vec_id, c.idx, ROW_NUMBER() OVER ("
        f"PARTITION BY m.vec_id ORDER BY {dist('m.e', 'c.c')} ASC,"
        f" c.idx ASC) AS rn FROM emb m, lc{last} c) WHERE rn = 1)"
    )
    return parts


def _kmeans_sql() -> str:
    dist = _kmeans_dist_sql
    last = _KMEANS_MAX_ITER
    parts = _kmeans_body_parts()
    parts.append(
        f"dsq AS MATERIALIZED (SELECT a.cluster, {dist('m.e', 'c.c')} AS d2"
        f" FROM final_asg a JOIN emb m USING (vec_id)"
        f" JOIN lc{last} c ON c.idx = a.cluster)"
    )
    body = ",\n".join(parts)
    final = (
        "SELECT cluster, COUNT(*) AS n_members, "
        + _sql_round(
            "CAST(SUM(CAST(d2 AS DECIMAL(38,12))) AS DOUBLE)"
            " / CAST(COUNT(*) AS DOUBLE)",
            4,
        )
        + " AS mean_sq_dist FROM dsq GROUP BY cluster ORDER BY cluster"
    )
    return f"{body}\n{final}"


# --------------------------------------------------------------------------
# kmeans_silhouette — centroid-based (simplified) silhouette per
# cluster, the quality certificate the clusters report lacks:
# mean_sq_dist says how TIGHT a cluster is but nothing about how
# SEPARATED it is from its neighbors; silhouette scores both at once
# (s ≈ 1 well-placed, s ≈ 0 on a boundary, s < 0 likely
# mis-assigned). The centroid form — a_i = d²(i, own centroid),
# b_i = min over other centroids, s_i = (b_i − a_i)/max(a_i, b_i) —
# is the one that scales: O(n·k) against the k centroids instead of
# the classic O(n²) all-pairs mean (it is exactly what Spark MLlib's
# ClusteringEvaluator computes for squaredEuclidean, and the natural
# consumer is the same cluster-balanced sampling pass as
# kmeans_clusters). worst_silhouette per cluster flags the single
# most-misplaced member — the first candidate when auditing k.
#
# Determinism: distances reuse the bit-exact left-associated fold of
# the kmeans replay; a/b/s are pure double ops on identical doubles;
# the per-cluster mean decimal-sums the s values (the mean_sq_dist
# precedent).
#
# Scale: one broadcast of k literal centroids; the only shuffle is
# the final per-cluster reduce — the corpus is touched once, no
# point-point pairs ever form.
# --------------------------------------------------------------------------


def q_kmeans_silhouette(spark, sf_dir):
    from city_payroll_data_pipeline_spark.operators import clustering as cl

    emb = table(spark, sf_dir, "embeddings", spread=True)
    assignments, centers, _ = kmeans_cached(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    dists = F.array(*[cl._sq_dist(v, c) for c in centers])
    scored = (
        assignments.join(emb.select("vec_id", "embedding"), "vec_id")
        .withColumn("dists", dists)
        .withColumn("a2", F.element_at("dists", F.col("cluster") + 1))
        .withColumn(
            "b2",
            F.expr(
                "array_min(transform(filter(transform(dists,"
                " (x, i) -> named_struct('d', x, 'i', i)),"
                " s -> s.i <> cluster), s -> s.d))"
            ),
        )
        .withColumn(
            "s",
            F.when(
                F.greatest("a2", "b2") > 0,
                (F.col("b2") - F.col("a2")) / F.greatest("a2", "b2"),
            ).otherwise(F.lit(0.0)),
        )
    )
    return (
        scored.groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            F.round(
                F.sum(F.col("s").cast("decimal(38,12)")).cast("double")
                / F.count("*").cast("double"),
                4,
            ).alias("mean_silhouette"),
            F.round(F.min("s"), 4).alias("worst_silhouette"),
        )
        .orderBy("cluster")
    )


def _kmeans_silhouette_sql() -> str:
    dist = _kmeans_dist_sql
    last = _KMEANS_MAX_ITER
    parts = _kmeans_body_parts()
    parts.append(
        f"alld AS MATERIALIZED (SELECT a.vec_id, a.cluster, c.idx,"
        f" {dist('m.e', 'c.c')} AS d2"
        f" FROM final_asg a JOIN emb m USING (vec_id), lc{last} c)"
    )
    parts.append(
        "ab AS MATERIALIZED (SELECT vec_id, cluster,"
        " MAX(CASE WHEN idx = cluster THEN d2 END) AS a2,"
        " MIN(CASE WHEN idx <> cluster THEN d2 END) AS b2"
        " FROM alld GROUP BY vec_id, cluster)"
    )
    parts.append(
        "sil AS (SELECT cluster,"
        " CASE WHEN greatest(a2, b2) > 0"
        " THEN (b2 - a2) / greatest(a2, b2)"
        " ELSE 0.0 END AS s FROM ab)"
    )
    body = ",\n".join(parts)
    final = (
        "SELECT cluster, COUNT(*) AS n_members, "
        + _sql_round(
            "CAST(SUM(CAST(s AS DECIMAL(38,12))) AS DOUBLE)"
            " / CAST(COUNT(*) AS DOUBLE)",
            4,
        )
        + " AS mean_silhouette, "
        + _sql_round("MIN(s)", 4)
        + " AS worst_silhouette FROM sil GROUP BY cluster ORDER BY cluster"
    )
    return f"{body}\n{final}"


# --------------------------------------------------------------------------
# Reciprocal-rank fusion of the exact and SQ8 retrievers — the
# multi-retriever pattern of production RAG stacks: only RANKS enter
# (no score calibration across retrievers), and fusion runs on the
# retriever-output-sized frames, never re-touching the corpus.
# --------------------------------------------------------------------------

def q_rrf_fused_topk(spark, sf_dir):
    exact = q_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    sq8 = q_sq8_ann_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    return sim.rrf_fuse([exact, sq8], rrf_k=60, top=K)


RRF_FUSED_TOPK_SQL = f"""
WITH exact_r AS (SELECT * FROM ({COSINE_TOPK_SQL.strip()})),
sq8_r AS (SELECT * FROM ({SQ8_ANN_TOPK_SQL.strip()})),
contribs AS (
  SELECT query_id, neighbor_id,
         CAST(1.0 / (60 + rank) AS DECIMAL(18,12)) AS contrib
  FROM exact_r
  UNION ALL
  SELECT query_id, neighbor_id,
         CAST(1.0 / (60 + rank) AS DECIMAL(18,12)) AS contrib
  FROM sq8_r
),
fused AS (
  SELECT query_id, neighbor_id, CAST(SUM(contrib) AS DOUBLE) AS rrf_score
  FROM contribs GROUP BY query_id, neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, rrf_score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rrf_score DESC, neighbor_id ASC) AS rank
  FROM fused
)
SELECT query_id, rank, neighbor_id, {_sql_round('rrf_score', 6)} AS rrf_score
FROM ranked WHERE rank <= {K}
"""


# --------------------------------------------------------------------------
# Nearest-centroid evaluation: per-label centroids over the labeled
# embeddings, classify every vector by max cosine to a centroid, emit
# the confusion matrix — the embedding-quality probe (how separable
# are the labels) run entirely in-plan. Scale shape: centroid sums are
# one explode+groupBy over (label, dim) — corpus-sized map work, tiny
# shuffle (labels × dims rows); the scoring pass broadcasts the
# label-count-sized centroid table, so the corpus never shuffles.
# Determinism: centroids stay UNnormalized integer sum-vectors — the
# 1/n and 1/QUANT factors cancel inside cosine, so dot and both norms
# are exact bigint arithmetic and the only float ops (mul, sqrt, div)
# run on identical integers in both engines.
# --------------------------------------------------------------------------

def q_nearest_centroid_eval(spark, sf_dir):
    from pyspark.sql import Window as W

    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "label", sim.quantize(F.col("embedding")).alias("q")
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
        .select(F.col("label").alias("clabel"), "c")
        .withColumn("n2c", sim.norm2_q(F.col("c")))
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "clabel",
        (
            sim.dot_q(F.col("q"), F.col("c")).cast("double")
            / F.sqrt(
                sim.norm2_q(F.col("q")).cast("double")
                * F.col("n2c").cast("double")
            )
        ).alias("cos"),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos"), "clabel")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .groupBy("label", F.col("clabel").alias("predicted"))
        .agg(F.count("*").alias("n"))
        .orderBy("label", "predicted")
    )


NEAREST_CENTROID_EVAL_SQL = f"""
WITH q AS (
  SELECT vec_id, label, {_QUANT_SQL} AS q FROM embeddings
),
pos AS (
  SELECT label, p.pos AS pos, q[p.pos] AS val
  FROM q CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS pos) p
),
sums AS (SELECT label, pos, SUM(val) AS s FROM pos GROUP BY label, pos),
cents AS (
  SELECT label AS clabel, list(s ORDER BY pos) AS c FROM sums GROUP BY label
),
cents2 AS (SELECT clabel, c, {_dot_sql('c', 'c')} AS n2c FROM cents),
scored AS (
  SELECT q.vec_id, q.label, cents2.clabel,
         CAST({_dot_sql('q.q', 'cents2.c')} AS DOUBLE)
           / sqrt(CAST({_dot_sql('q.q', 'q.q')} AS DOUBLE)
                  * CAST(n2c AS DOUBLE)) AS cos
  FROM q CROSS JOIN cents2
),
ranked AS (
  SELECT vec_id, label, clabel,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, clabel) AS rk
  FROM scored
)
SELECT label, clabel AS predicted, COUNT(*) AS n
FROM ranked WHERE rk = 1
GROUP BY label, clabel
ORDER BY label, predicted
"""


# --------------------------------------------------------------------------
# embedding_spectral_norm — top-eigenvalue diagnostics of the corpus
# embedding matrix via distributed power iteration.
#
# Embedding collapse (every vector pointing roughly one way) silently
# ruins retrieval and dedup; the canonical detector is the spectral
# norm / top-eigenvalue share of the Gram matrix. Power iteration maps
# to plain distributed primitives: each round is ONE pass computing
# s_row = ⟨qv, v⟩ (map-side) and w = Σ_rows qv·s (64 groups), with the
# 64-vector normalize on the driver — the same bounded driver-read
# shape as the kmeans fit. v is carried as SCALED INTEGERS (1e6 grid)
# so every per-round quantity is exact (dot products int64, the
# per-dimension sums DECIMAL(38,0)); normalization is truncating
# integer division on non-negative operands — bit-replayable, which is
# how the oracle unrolls the whole fit in SQL.
#
# Scale: ITERS passes over the embeddings, each a narrow projection +
# a 64-group aggregate; no corpus shuffle, no d×d Gram materialized.
# --------------------------------------------------------------------------

_SPECTRAL_ITERS = 6
_SPECTRAL_VSCALE = 10 ** 6
_QUANT2 = sim.QUANT * sim.QUANT


def q_embedding_spectral_norm(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings", spread=True)
    qv = emb.select(sim.quantize(F.col("embedding")).alias("qv"))
    # consumed once per iteration + twice at the end — materialize
    qv = qv.localCheckpoint()
    # DIM is the module constant the matching oracle is generated
    # with (_spectral_sql(dim=DIM)) — deriving it from a
    # limit(1).collect() spent a Spark job per call and raised
    # IndexError on an empty table instead of returning 0 rows
    dim = DIM

    def dot_lit(v):
        vlit = F.lit(v).cast("array<bigint>")
        return F.aggregate(
            F.zip_with(F.col("qv"), vlit, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    v = [_SPECTRAL_VSCALE] * dim
    for _ in range(_SPECTRAL_ITERS):
        w_rows = (
            qv.select(dot_lit(v).alias("s"), "qv")
            .select(F.posexplode(F.transform("qv", lambda x: x * F.col("s"))))
            .groupBy("pos")
            .agg(F.sum(F.col("col").cast("decimal(38,0)")).alias("w"))
            .collect()
        )
        w = [0] * dim
        for r in w_rows:
            w[r["pos"]] = int(r["w"])
        m = max(abs(x) for x in w)
        # sign·(|w|·S // m): floor div on non-negative operands ==
        # truncation — replayed identically by DuckDB's HUGEINT //
        v = [
            (1 if x >= 0 else -1) * (abs(x) * _SPECTRAL_VSCALE // m)
            for x in w
        ]
    den = sum(x * x for x in v)  # ≤ 64·1e12: exact in a double
    n2 = F.aggregate(
        F.col("qv"), F.lit(0).cast("bigint"), lambda acc, x: acc + x * x
    )
    agg = qv.select(
        dot_lit(v).cast("decimal(19,0)").alias("sd"), n2.alias("n2")
    ).agg(
        F.count("*").alias("n_vectors"),
        F.sum((F.col("sd") * F.col("sd")).cast("decimal(38,0)")).alias("num"),
        F.sum(F.col("n2").cast("decimal(38,0)")).alias("trace"),
    )
    lam = agg["num"].cast("double") / F.lit(float(den))
    trace_d = F.col("trace").cast("double")
    return agg.select(
        "n_vectors",
        F.lit(dim).alias("dim"),
        F.round(
            F.sqrt(lam) / F.lit(float(_QUANT2) ** 0.5), 6
        ).alias("spectral_norm_unit"),
        F.round(lam / trace_d, 6).alias("top_eig_share"),
        F.round(trace_d / F.lit(float(_QUANT2)), 6).alias("trace_unit"),
    )


def _spectral_sql(dim: int = 64) -> str:
    ctes = [
        f"""qv AS MATERIALIZED (
  SELECT vec_id AS rid, {_QUANT_SQL} AS q FROM embeddings
)""",
        f"""ux AS MATERIALIZED (
  SELECT rid, i, q[i] AS x
  FROM qv, generate_series(1, {dim}) AS g(i)
)""",
        f"""v0 AS MATERIALIZED (
  SELECT i, CAST({_SPECTRAL_VSCALE} AS HUGEINT) AS vi
  FROM generate_series(1, {dim}) AS g(i)
)""",
    ]
    for k in range(1, _SPECTRAL_ITERS + 1):
        ctes.append(f"""s{k} AS MATERIALIZED (
  SELECT rid, CAST(SUM(x * vi) AS BIGINT) AS s
  FROM ux JOIN v{k - 1} USING (i) GROUP BY rid
)""")
        ctes.append(f"""w{k} AS MATERIALIZED (
  SELECT i, CAST(SUM(CAST(x AS HUGEINT) * s) AS HUGEINT) AS w
  FROM ux JOIN s{k} USING (rid) GROUP BY i
)""")
        ctes.append(
            f"m{k} AS MATERIALIZED (SELECT MAX(abs(w)) AS m FROM w{k})"
        )
        ctes.append(f"""v{k} AS MATERIALIZED (
  SELECT i, (CASE WHEN w < 0 THEN -1 ELSE 1 END)
            * ((abs(w) * {_SPECTRAL_VSCALE}) // m) AS vi
  FROM w{k}, m{k}
)""")
    n = _SPECTRAL_ITERS
    return f"""WITH {', '.join(ctes)},
den AS (SELECT SUM(vi * vi) AS den FROM v{n}),
sf AS (
  SELECT rid, CAST(SUM(x * vi) AS HUGEINT) AS s
  FROM ux JOIN v{n} USING (i) GROUP BY rid
),
agg AS (
  SELECT (SELECT COUNT(*) FROM qv) AS n_vectors,
         CAST(SUM(s * s) AS DECIMAL(38,0)) AS num,
         (SELECT CAST(SUM(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0))
          FROM ux) AS trace
  FROM sf
)
SELECT n_vectors, {dim} AS dim,
       {_sql_round(
           f"sqrt(CAST(num AS DOUBLE)"
           f" / (SELECT CAST(den AS DOUBLE) FROM den))"
           f" / sqrt({float(_QUANT2)})", 6)} AS spectral_norm_unit,
       {_sql_round(
           "(CAST(num AS DOUBLE) / (SELECT CAST(den AS DOUBLE) FROM den))"
           " / CAST(trace AS DOUBLE)", 6)} AS top_eig_share,
       {_sql_round(
           f"CAST(trace AS DOUBLE) / {float(_QUANT2)}", 6)} AS trace_unit
FROM agg
"""


EMBEDDING_SPECTRAL_NORM_SQL = _spectral_sql()


# --------------------------------------------------------------------------
# ndcg_eval — graded ranking quality of the LSH retriever vs the
# exact-cosine ground truth (Järvelin & Kekäläinen '02). Where
# ann_recall_report certifies set overlap (recall@K), nDCG grades the
# ORDER: a retriever that finds all top-10 but inverts them scores
# recall 1.0 and nDCG < 1. Relevance of a retrieved doc = K+1 − its
# exact rank (0 if outside the exact top-K); DCG discounts by
# 1/log2(rank+1); nDCG normalizes by the ideal DCG computed in-plan
# from the same integer spine with the identical rounding recipe.
#
# Determinism: relevance is integer; each discount is rounded to
# 12 dp before the multiply, each term rounded again and DECIMAL-
# summed (order-independent); ranks inherit the established
# (cosine DESC, neighbor_id) deterministic tie-break.
#
# Scale: both retrievers broadcast the bounded query set; the nDCG
# arithmetic runs on (queries × K) rows.
# --------------------------------------------------------------------------

NDCG_K = 10


def q_ndcg_eval(spark, sf_dir, query_ids=None):
    emb = table(spark, sf_dir, "embeddings", spread=True)
    queries = _query_frame(emb, query_ids)
    exact = sim.brute_force_topk(
        emb, "vec_id", "embedding", queries, k=NDCG_K
    ).select("query_id", "neighbor_id", F.col("rank").alias("exact_rank"))
    approx = sim.lsh_topk(
        emb, "vec_id", "embedding", queries, k=NDCG_K,
        n_planes=N_PLANES, dim=DIM,
    ).select("query_id", "neighbor_id", F.col("rank").alias("lsh_rank"))
    rel = F.coalesce(F.lit(NDCG_K + 1) - F.col("exact_rank"), F.lit(0))
    disc = F.round(
        F.lit(1.0) / F.log2(F.col("lsh_rank").cast("double") + 1), 12
    )
    terms = approx.join(exact, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        rel.alias("rel"),
        F.round(rel * disc, 12).cast("decimal(38,12)").alias("term"),
    )
    per_q = terms.groupBy("query_id").agg(
        F.count("*").alias("n_retrieved"),
        F.count_if(F.col("rel") > 0).alias("n_relevant"),
        F.sum("term").alias("dcg_dec"),
    )
    spine = spark.range(1, NDCG_K + 1).select(F.col("id").alias("i"))
    idcg = spine.select(
        F.round(
            (F.lit(NDCG_K + 1) - F.col("i"))
            * F.round(
                F.lit(1.0) / F.log2(F.col("i").cast("double") + 1), 12
            ),
            12,
        )
        .cast("decimal(38,12)")
        .alias("t")
    ).agg(F.sum("t").alias("idcg_dec"))
    qs = exact.select("query_id").distinct()
    out = qs.join(per_q, ["query_id"], "left").join(F.broadcast(idcg))
    dcg_d = F.coalesce(
        F.col("dcg_dec"), F.lit(0).cast("decimal(38,12)")
    ).cast("double")
    return out.select(
        "query_id",
        F.coalesce(F.col("n_retrieved"), F.lit(0)).alias("n_retrieved"),
        F.coalesce(F.col("n_relevant"), F.lit(0)).alias("n_relevant"),
        F.round(dcg_d, 8).alias("dcg"),
        F.round(dcg_d / F.col("idcg_dec").cast("double"), 8).alias("ndcg"),
    ).orderBy("query_id")


def _ndcg_sql(query_ids=None) -> str:
    disc = _sql_round("1.0 / log2(CAST(l.rank AS DOUBLE) + 1)", 12)
    idcg_disc = _sql_round("1.0 / log2(CAST(i AS DOUBLE) + 1)", 12)
    return f"""
WITH {_QV_SQL},
exact_pairs AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_dot_sql('p.q', 'c.q')} AS dot, p.n2 AS n2a, c.n2 AS n2b
  FROM qv p JOIN qv c ON {_qpred(query_ids, 'p')} AND c.vec_id <> p.vec_id
),
exact_ranked AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM (SELECT query_id, neighbor_id, {_COSINE_SQL} AS cosine
          FROM exact_pairs)
  ) WHERE rank <= {NDCG_K}
),
planes AS ({_PLANES_SQL}),
signs AS (
  SELECT v.vec_id, pl.p,
         CASE WHEN {_dot_sql('v.q', 'pl.plane')} >= 0 THEN 1 ELSE 0 END AS s
  FROM qv v CROSS JOIN planes pl
),
buckets AS (
  SELECT vec_id,
         CAST(SUM(s * (1::BIGINT << p)) AS BIGINT) AS bucket
  FROM signs GROUP BY vec_id
),
qb AS (
  SELECT v.vec_id, v.q, v.n2, b.bucket
  FROM qv v JOIN buckets b USING (vec_id)
),
lsh_pairs AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_dot_sql('p.q', 'c.q')} AS dot, p.n2 AS n2a, c.n2 AS n2b
  FROM qb p JOIN qb c
    ON {_qpred(query_ids, 'p')} AND p.bucket = c.bucket
   AND c.vec_id <> p.vec_id
),
lsh_ranked AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM (SELECT query_id, neighbor_id, {_COSINE_SQL} AS cosine
          FROM lsh_pairs)
  ) WHERE rank <= {NDCG_K}
),
terms AS (
  SELECT l.query_id,
         COALESCE({NDCG_K + 1} - e.rank, 0) AS rel,
         CAST({_sql_round(
             f"COALESCE({NDCG_K + 1} - e.rank, 0) "
             f"* CAST({disc} AS DOUBLE)",
             12,
         )} AS DECIMAL(38,12)) AS term
  FROM lsh_ranked l
  LEFT JOIN exact_ranked e
    ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
),
per_q AS (
  SELECT query_id,
         COUNT(*) AS n_retrieved,
         CAST(COUNT(*) FILTER (WHERE rel > 0) AS BIGINT) AS n_relevant,
         SUM(term) AS dcg_dec
  FROM terms GROUP BY query_id
),
spine AS (SELECT UNNEST(range(1, {NDCG_K + 1})) AS i),
idcg AS (
  SELECT SUM(CAST({_sql_round(
      f"({NDCG_K + 1} - i) * CAST({idcg_disc} AS DOUBLE)", 12
  )} AS DECIMAL(38,12))) AS idcg_dec
  FROM spine
),
qs AS (SELECT DISTINCT query_id FROM exact_ranked)
SELECT qs.query_id,
       COALESCE(p.n_retrieved, 0) AS n_retrieved,
       COALESCE(p.n_relevant, 0) AS n_relevant,
       {_sql_round(
           "CAST(COALESCE(p.dcg_dec, 0) AS DOUBLE)", 8
       )} AS dcg,
       {_sql_round(
           "CAST(COALESCE(p.dcg_dec, 0) AS DOUBLE) "
           "/ CAST(i.idcg_dec AS DOUBLE)",
           8,
       )} AS ndcg
FROM qs
LEFT JOIN per_q p ON p.query_id = qs.query_id
CROSS JOIN idcg i
ORDER BY qs.query_id
"""


def q_ndcg_eval_sampled(spark, sf_dir):
    """Hash-sampled eval twin (VERDICT r5 item 4): identical nDCG
    machinery over the SAMPLED_QUERY_IDS subset, so the exact ground
    truth costs O(sample × corpus) at any scale. The full-query
    variant stays registered for complete certification; this one is
    the bench/production-cadence path."""
    return q_ndcg_eval(spark, sf_dir, query_ids=SAMPLED_QUERY_IDS)


# --------------------------------------------------------------------------
# Product quantization (PQ/ADC) — the compressed-code retriever
# (operators/similarity.py pq_topk) plus a codeword-balance audit.
# --------------------------------------------------------------------------

# Tuned on the recall/compression frontier (r6 sweep, SCALE.md):
# m=8/k=16 gave recall@5 0.16, m=32/k=16 0.54, m=32/k=64 0.70 at
# sf0.01 — untrained seed codebooks need fine subspaces (d_sub=2) to
# quantize acceptably. 32 codes × 6 bits ≈ 24 B/vector vs 256 B of
# floats. Seeds need max vec_id ≥ stride·(k_codes−1) = 441 (< 500,
# the smallest SF's corpus).
PQ_M = 32       # subspaces (d_sub = DIM/PQ_M = 2 dims each)
PQ_KS = 64      # codewords per subspace
PQ_STRIDE = 7   # deterministic seed stride


def q_pq_ann_topk(spark, sf_dir, query_ids=None):
    emb = table(spark, sf_dir, "embeddings", spread=True)
    queries = _query_frame(emb, query_ids)
    return sim.pq_topk(
        emb, "vec_id", "embedding", queries,
        k=K, m_sub=PQ_M, k_codes=PQ_KS, codebook_stride=PQ_STRIDE, dim=DIM,
    )


_PQ_DSUB = DIM // PQ_M

_PQ_SUBS_SQL = f"""
SELECT vec_id, m,
       list_slice(q, m * {_PQ_DSUB} + 1, (m + 1) * {_PQ_DSUB}) AS sub
FROM ({_Q_CORPUS_SQL}) CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m)
"""

_PQ_CB_SQL = f"""
SELECT CAST(vec_id / {PQ_STRIDE} AS INT) AS cw, m, sub AS cq
FROM subs
WHERE vec_id % {PQ_STRIDE} = 0 AND vec_id < {PQ_STRIDE * PQ_KS}
"""

_PQ_ENC_SQL = f"""
SELECT vec_id, m, cw FROM (
  SELECT s.vec_id, s.m, c.cw,
         ROW_NUMBER() OVER (
           PARTITION BY s.vec_id, s.m
           ORDER BY {_dot_sql('s.sub', 's.sub')}
                    - 2 * {_dot_sql('s.sub', 'c.cq')}
                    + {_dot_sql('c.cq', 'c.cq')},
                    c.cw) AS r
  FROM subs s JOIN cb c ON s.m = c.m)
WHERE r = 1
"""


# ADC tail of every PQ-family oracle: rank the integer ADC scores of
# the preceding ``scored`` CTE (ties → smaller neighbor_id) and keep K
_ADC_TOPK_SQL = f"""ranked AS (
  SELECT query_id, neighbor_id, adc_dot,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY adc_dot DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, adc_dot
FROM ranked WHERE rank <= {K}
"""


def _pq_adc_sql(cb: str, query_ids) -> str:
    """The flat PQ ADC chain after ``subs`` and ``enc``: each query's
    subvector dot with every codeword of the codebook CTE ``cb``
    (``lut``), summed over each corpus vector's codes (``scored``),
    then the top-K tail."""
    return f"""lut AS (
  SELECT s.vec_id AS query_id, s.m, c.cw, {_dot_sql('s.sub', 'c.cq')} AS dotv
  FROM subs s JOIN {cb} c ON s.m = c.m
  WHERE {_qpred(query_ids, 's')}
),
scored AS (
  SELECT l.query_id, e.vec_id AS neighbor_id,
         CAST(SUM(dotv) AS BIGINT) AS adc_dot
  FROM enc e JOIN lut l ON e.m = l.m AND e.cw = l.cw
  WHERE e.vec_id <> l.query_id
  GROUP BY l.query_id, e.vec_id
),
{_ADC_TOPK_SQL}"""


def _pq_ann_topk_sql(query_ids=None) -> str:
    return f"""
WITH subs AS ({_PQ_SUBS_SQL}),
cb AS ({_PQ_CB_SQL}),
enc AS ({_PQ_ENC_SQL}),
{_pq_adc_sql("cb", query_ids)}"""


PQ_ANN_TOPK_SQL = _pq_ann_topk_sql()


# --------------------------------------------------------------------------
# pq_rerank_topk — the two-stage production retrieval pattern the PQ
# family was still missing: the compressed ADC index proposes a
# shortlist (top-20, cheap over codes), then ONLY those pairs are
# rescored with exact cosine against the original vectors
# (operators/similarity.py::rerank_exact). Compressed recall + exact
# precision: rescoring cost is |queries|·20 regardless of corpus
# size, which is why every FAISS-style deployment runs this shape.
# --------------------------------------------------------------------------

_RR_SHORT = 20


def q_pq_rerank_topk(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings", spread=True)
    queries = _query_frame(emb, None)
    short = sim.pq_topk(
        emb, "vec_id", "embedding", queries,
        k=_RR_SHORT, m_sub=PQ_M, k_codes=PQ_KS,
        codebook_stride=PQ_STRIDE, dim=DIM,
    )
    return sim.rerank_exact(emb, "vec_id", "embedding", short, queries, k=K)


def _pq_rerank_sql() -> str:
    base = _pq_ann_topk_sql()
    # reuse the full PQ chain up to `ranked`, widen the cut to the
    # shortlist, then exact-rescore only the surviving pairs
    chain = base.split("\nSELECT query_id, rank, neighbor_id, adc_dot")[0]
    return f"""{chain},
short AS (
  SELECT query_id, neighbor_id FROM ranked WHERE rank <= {_RR_SHORT}
),
qv2 AS (
  SELECT vec_id, q, {_dot_sql('q', 'q')} AS n2 FROM ({_Q_CORPUS_SQL})
),
ex AS (
  SELECT s.query_id, s.neighbor_id,
         {_dot_sql('p.q', 'c.q')} AS dot, p.n2 AS n2a, c.n2 AS n2b
  FROM short s
  JOIN qv2 p ON p.vec_id = s.query_id
  JOIN qv2 c ON c.vec_id = s.neighbor_id
),
rescored AS (
  SELECT query_id, neighbor_id, {_COSINE_SQL} AS cosine FROM ex
),
rr AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM rescored
)
SELECT query_id, rank, neighbor_id, {_sql_round('cosine', 6)} AS cosine
FROM rr WHERE rank <= {K}
"""


PQ_RERANK_TOPK_SQL = _pq_rerank_sql()


# --------------------------------------------------------------------------
# pq_trained_recall — the Lloyd-TRAINED codebook (VERDICT r8 item 4):
# the stride-seeded codebook was the retrieval stack's one declared
# quality gap (recall@5 plateaus at 0.70–0.76 where trained codebooks
# reach the textbook regime). operators/similarity.py::
# pq_codebook_trained runs 10 exact integer k-means steps per
# subspace from the stride seeds — floor-mean centroids keep the
# whole build on the integer grid, so the oracle below replays every
# iteration bit-exactly (the _kmeans_sql unrolled-Lloyd precedent).
# The report certifies the gain in one frame: the incumbent seed
# codebook vs the trained one against the same exact baseline, same
# 32×64 code budget (recall@5 0.70 → 0.82 at sf0.01).
# --------------------------------------------------------------------------

PQ_TRAIN_INIT_STRIDE = 5  # seed stride for the trained build (r9 sweep)
PQ_TRAIN_ITERS = 10       # fixed Lloyd steps — deterministic, no RNG
#: bounded-sample knob: production trains on a fixed-size sample
#: (FAISS default ≤256·k per subspace), never the full corpus; the
#: suite SFs are already sample-sized so every vector trains.
PQ_TRAIN_SAMPLE_STRIDE = 1


def q_pq_trained_recall(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings", spread=True)
    queries = _query_frame(emb, None)
    corpus = sim.with_quantized(emb, "vec_id", "embedding")
    cb = sim.pq_codebook_trained(
        corpus, PQ_M, _PQ_DSUB, PQ_KS, PQ_TRAIN_INIT_STRIDE,
        iters=PQ_TRAIN_ITERS, train_stride=PQ_TRAIN_SAMPLE_STRIDE,
    )
    arms = (
        ("pq_lloyd", dict(codebook=cb)),
        ("pq_seed", dict(codebook_stride=PQ_STRIDE)),
    )
    return recall_certificate(spark, sf_dir, (
        (name, sim.pq_topk(
            emb, "vec_id", "embedding", queries,
            k=K, m_sub=PQ_M, k_codes=PQ_KS, dim=DIM, **kw,
        ))
        for name, kw in arms
    ))


def _d2_sql(sub: str, cq: str) -> str:
    return (
        f"{_dot_sql(sub, sub)} - 2 * {_dot_sql(sub, cq)}"
        f" + {_dot_sql(cq, cq)}"
    )


def _lloyd_unroll_sql(
    subs_src: str, init_stride: int, k_codes: int, iters: int,
    prefix: str = "cb",
) -> tuple[list[str], str]:
    """Unrolled SQL replay of pq_codebook_trained over an existing
    subvector CTE ``subs_src`` (columns vec_id, m, sub): every Lloyd
    step is integer-exact (bigint d², floor-mean centroids), so the
    chain is bit-identical to the Spark/numpy build. Returns the CTE
    parts and the final codebook CTE name. Shared by the flat-PQ and
    residual-IVFPQ trained oracles."""
    st = init_stride
    parts = [
        f"{prefix}0 AS MATERIALIZED (SELECT CAST(vec_id / {st} AS INT)"
        f" AS cw, m, sub AS cq FROM {subs_src}"
        f" WHERE vec_id % {st} = 0 AND vec_id < {st * k_codes})",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f"asg_{prefix}{i} AS MATERIALIZED (SELECT m, cw, sub FROM ("
            f"SELECT t.m, c.cw, t.sub, ROW_NUMBER() OVER ("
            f"PARTITION BY t.vec_id, t.m"
            f" ORDER BY {_d2_sql('t.sub', 'c.cq')} ASC, c.cw ASC) AS rn"
            f" FROM {subs_src} t JOIN {prefix}{p} c ON t.m = c.m)"
            f" WHERE rn = 1)"
        )
        parts.append(
            f"upd_{prefix}{i} AS MATERIALIZED (SELECT m, cw,"
            f" list(v ORDER BY pos) AS ncq FROM ("
            f"SELECT m, cw, pos,"
            f" CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v"
            f" FROM (SELECT m, cw, generate_subscripts(sub, 1) AS pos,"
            f" unnest(sub) AS x FROM asg_{prefix}{i})"
            f" GROUP BY m, cw, pos) GROUP BY m, cw)"
        )
        parts.append(
            f"{prefix}{i} AS MATERIALIZED (SELECT p.m, p.cw,"
            f" COALESCE(u.ncq, p.cq) AS cq FROM {prefix}{p} p"
            f" LEFT JOIN upd_{prefix}{i} u ON u.m = p.m AND u.cw = p.cw)"
        )
    return parts, f"{prefix}{iters}"


def _pq_trained_topk_sql(query_ids=None) -> str:
    """Flat trained-PQ ADC top-k: _lloyd_unroll_sql over the corpus
    subvectors (PQ_TRAIN_SAMPLE_STRIDE=1 trains on all of them), then
    the standard encode/LUT/ADC chain against the final codebook."""
    d2 = _d2_sql
    parts = [f"subs AS MATERIALIZED ({_PQ_SUBS_SQL})"]
    lloyd, last = _lloyd_unroll_sql(
        "subs", PQ_TRAIN_INIT_STRIDE, PQ_KS, PQ_TRAIN_ITERS
    )
    parts += lloyd
    with_block = ",\n".join(parts)
    return f"""
WITH {with_block},
enc AS MATERIALIZED (SELECT vec_id, m, cw FROM (
  SELECT s.vec_id, s.m, c.cw,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY {d2('s.sub', 'c.cq')} ASC,
                            c.cw ASC) AS r
  FROM subs s JOIN {last} c ON s.m = c.m) WHERE r = 1),
{_pq_adc_sql(last, query_ids)}"""


PQ_TRAINED_RECALL_SQL = recall_certificate_sql((
    ("pq_lloyd", _pq_trained_topk_sql()),
    ("pq_seed", _pq_ann_topk_sql()),
))


# --------------------------------------------------------------------------
# ivfpq_residual_recall — textbook IVFADC (Jégou 2011 §IV.B): the
# incumbent ivfpq_ann_topk quantizes RAW vectors; real IVF-PQ
# quantizes the residual x − c(x) so the codebook's bits cover only
# the within-cell spread, and scores by linearity dot(q, c) +
# dot(q, code). The certificate decomposes recall loss in one frame:
#   ivf_exact_probe — exact scoring within the probed cells (the
#     cell-PRUNE ceiling: 0.76 @ sf0.01; anything above needs more
#     probes, not better codes);
#   ivfpq_raw      — the incumbent raw-vector codes (0.58);
#   ivfpq_residual — residual codes, Lloyd-trained codebook (0.68 —
#     89% of the ceiling at the flat-PQ family's 32×64 code budget).
# Exactly the table an index tuner reads to decide where the next
# bit/probe goes.
# --------------------------------------------------------------------------

_IVFRES_KS = 64      # residual codewords (flat-PQ family's budget)
_IVFRES_STRIDE = 5   # residual seed stride (5·63 = 315 < 500)
_IVFRES_ITERS = 10   # Lloyd steps — residuals have no natural seed
                     # structure, so training matters more than raw PQ


def q_ivfpq_residual_recall(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings", spread=True)
    queries = _query_frame(emb, None)
    # Shared arm derivation (VERDICT r10 item 2): all three arms probe
    # the SAME coarse index, so quantize + seed centroids + nearest-cell
    # assignment are derived ONCE and fed to each arm — at corpus scale
    # this is one pass instead of three (guide §2.4). The checkpoint is
    # LAZY, so it adds no build barrier: the residual arm's own eager
    # res checkpoint is the first job that reads it and materializes it
    # in place; the other two arms then read the stored frame.
    corpus_q = sim.with_quantized(emb, "vec_id", "embedding")
    cents = sim.ivf_seed_centroids(corpus_q, N_LISTS, CENTROID_STRIDE)
    assigned = sim.ivf_assign(corpus_q, cents, 1).localCheckpoint(
        eager=False
    )
    return recall_certificate(spark, sf_dir, (
        (
            "ivf_exact_probe",
            sim.ivf_topk(
                emb, "vec_id", "embedding", queries,
                k=K, n_lists=N_LISTS, n_probe=N_PROBE,
                centroid_stride=CENTROID_STRIDE,
                cents=cents, corpus_assigned=assigned,
            ),
        ),
        (
            # q_ivfpq_ann_topk's exact parameterization (the benched
            # incumbent), with the shared index frames swapped in —
            # the codebook/encode/LUT shape and output are identical
            "ivfpq_raw",
            sim.ivfpq_topk(
                emb, "vec_id", "embedding", queries,
                k=K, n_lists=N_LISTS, n_probe=N_PROBE,
                centroid_stride=CENTROID_STRIDE,
                m_sub=PQ_M, k_codes=_IVFPQ_KS,
                codebook_stride=_IVFPQ_STRIDE, dim=DIM,
                cents=cents, corpus_assigned=assigned,
            ),
        ),
        (
            "ivfpq_residual",
            sim.ivfpq_residual_topk(
                emb, "vec_id", "embedding", queries,
                k=K, n_lists=N_LISTS, n_probe=N_PROBE,
                centroid_stride=CENTROID_STRIDE,
                m_sub=PQ_M, k_codes=_IVFRES_KS,
                codebook_stride=_IVFRES_STRIDE, dim=DIM,
                train_iters=_IVFRES_ITERS,
                cents=cents, corpus_assigned=assigned,
            ),
        ),
    ))


def _ivfpq_residual_topk_sql(query_ids=None) -> str:
    """Unrolled replay of ivfpq_residual_topk: coarse cells →
    residuals → Lloyd-trained residual codebook (_lloyd_unroll_sql) →
    residual encode → ADC with the per-(query, cell) coarse dot term
    added by linearity."""
    cells = f"""
qv AS MATERIALIZED (
  SELECT vec_id, q, {_dot_sql('q', 'q')} AS n2
  FROM ({_Q_CORPUS_SQL})
),
cents AS MATERIALIZED (
  SELECT CAST(vec_id // {CENTROID_STRIDE} AS INT) AS list_id,
         q AS cq, n2 AS cn2
  FROM qv
  WHERE vec_id % {CENTROID_STRIDE} = 0
    AND vec_id < {CENTROID_STRIDE * N_LISTS}
),
cell_scored AS (
  SELECT v.vec_id, v.q, v.n2, c.list_id,
         CASE WHEN sqrt(CAST(v.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) > 0
              THEN CAST({_dot_sql('v.q', 'c.cq')} AS DOUBLE)
                   / sqrt(CAST(v.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE))
         END AS csim
  FROM qv v CROSS JOIN cents c
),
ranked_cells AS (
  SELECT vec_id, q, list_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY csim DESC, list_id ASC) AS r
  FROM cell_scored
),
res AS MATERIALIZED (
  SELECT a.vec_id,
         list_transform(list_zip(a.q, c.cq), p -> p[1] - p[2]) AS q,
         a.list_id
  FROM (SELECT vec_id, q, list_id FROM ranked_cells WHERE r = 1) a
  JOIN cents c USING (list_id)
),
rsubs AS MATERIALIZED (
  SELECT vec_id, m,
         list_slice(q, m * {_PQ_DSUB} + 1, (m + 1) * {_PQ_DSUB}) AS sub
  FROM res CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m)
),
qsubs AS (
  SELECT vec_id, m,
         list_slice(q, m * {_PQ_DSUB} + 1, (m + 1) * {_PQ_DSUB}) AS sub
  FROM qv CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m)
  WHERE {_qpred(query_ids)}
)"""
    lloyd, last = _lloyd_unroll_sql(
        "rsubs", _IVFRES_STRIDE, _IVFRES_KS, _IVFRES_ITERS, prefix="rcb"
    )
    with_block = cells + ",\n" + ",\n".join(lloyd)
    return f"""
WITH {with_block},
enc AS MATERIALIZED (SELECT vec_id, m, cw FROM (
  SELECT s.vec_id, s.m, c.cw,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY {_d2_sql('s.sub', 'c.cq')} ASC,
                            c.cw ASC) AS rn
  FROM rsubs s JOIN {last} c ON s.m = c.m) WHERE rn = 1),
lut AS (
  SELECT s.vec_id AS query_id, s.m, c.cw, {_dot_sql('s.sub', 'c.cq')} AS dotv
  FROM qsubs s JOIN {last} c ON s.m = c.m
),
qc AS (
  SELECT p.vec_id AS query_id, p.list_id,
         {_dot_sql('p.q', 'c.cq')} AS qc_dot
  FROM (SELECT vec_id, q, list_id FROM ranked_cells
        WHERE r <= {N_PROBE} AND {_qpred(query_ids)}) p
  JOIN cents c USING (list_id)
),
scored AS (
  SELECT qc.query_id, e.vec_id AS neighbor_id,
         CAST(MIN(qc.qc_dot) + SUM(l.dotv) AS BIGINT) AS adc_dot
  FROM enc e
  JOIN res rc ON rc.vec_id = e.vec_id
  JOIN qc ON qc.list_id = rc.list_id AND qc.query_id <> e.vec_id
  JOIN lut l ON l.query_id = qc.query_id AND l.m = e.m AND l.cw = e.cw
  GROUP BY qc.query_id, e.vec_id
),
{_ADC_TOPK_SQL}"""


#: IVF-PQ codewords come from stride-13 seeds so they differ from the
#: stride-7 IVF centroids; 38 codewords keeps the last seed id
#: (13·37 = 481) inside every SF's corpus (min 500 vectors).
_IVFPQ_STRIDE = 13
_IVFPQ_KS = 38


def q_ivfpq_ann_topk(spark, sf_dir, query_ids=None):
    """IVF-PQ composition (coarse-cell prune + ADC scoring) — the
    FAISS-style architecture; see operators/similarity.py ivfpq_topk
    for the plan-shape contract."""
    emb = table(spark, sf_dir, "embeddings", spread=True)
    queries = _query_frame(emb, query_ids)
    return sim.ivfpq_topk(
        emb, "vec_id", "embedding", queries,
        k=K, n_lists=N_LISTS, n_probe=N_PROBE,
        centroid_stride=CENTROID_STRIDE,
        m_sub=PQ_M, k_codes=_IVFPQ_KS, codebook_stride=_IVFPQ_STRIDE,
        dim=DIM,
    )


def _ivfpq_sql(query_ids=None) -> str:
    subs = f"""
SELECT vec_id, m,
       list_slice(q, m * {_PQ_DSUB} + 1, (m + 1) * {_PQ_DSUB}) AS sub
FROM qv CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m)
"""
    cb = f"""
SELECT CAST(vec_id / {_IVFPQ_STRIDE} AS INT) AS cw, m, sub AS cq
FROM subs
WHERE vec_id % {_IVFPQ_STRIDE} = 0 AND vec_id < {_IVFPQ_STRIDE * _IVFPQ_KS}
"""
    return f"""
WITH {_IVF_CELLS_SQL},
qry_cells AS (
  SELECT vec_id AS query_id, list_id FROM ranked_cells
  WHERE r <= {N_PROBE} AND {_qpred(query_ids)}
),
subs AS ({subs}),
cb AS ({cb}),
enc AS ({_PQ_ENC_SQL}),
lut AS (
  SELECT s.vec_id AS query_id, s.m, c.cw, {_dot_sql('s.sub', 'c.cq')} AS dotv
  FROM subs s JOIN cb c ON s.m = c.m
  WHERE {_qpred(query_ids, 's')}
),
scored AS (
  SELECT qc.query_id, e.vec_id AS neighbor_id,
         CAST(SUM(l.dotv) AS BIGINT) AS adc_dot
  FROM enc e
  JOIN corpus_cells cc ON e.vec_id = cc.vec_id
  JOIN qry_cells qc ON qc.list_id = cc.list_id AND qc.query_id <> e.vec_id
  JOIN lut l ON l.query_id = qc.query_id AND l.m = e.m AND l.cw = e.cw
  GROUP BY qc.query_id, e.vec_id
),
{_ADC_TOPK_SQL}"""


IVFPQ_ANN_TOPK_SQL = _ivfpq_sql()

# assigned here (not at the builder definition): the residual-recall
# oracle embeds _ivfpq_sql for its incumbent arm
IVFPQ_RESIDUAL_RECALL_SQL = recall_certificate_sql((
    ("ivf_exact_probe", _ivf_ann_topk_sql()),
    ("ivfpq_raw", _ivfpq_sql()),
    ("ivfpq_residual", _ivfpq_residual_topk_sql()),
))


def q_pq_code_balance(spark, sf_dir):
    """Codeword-usage histogram per subspace — the PQ index-health
    audit. At scale a skewed histogram (one codeword absorbing most
    vectors) means the ADC score can no longer discriminate within
    that subspace; this is the check run after every codebook
    (re)train. share is exact-count arithmetic; max_share surfaces the
    worst subspace first."""
    emb = table(spark, sf_dir, "embeddings", spread=True)
    corpus = sim.with_quantized(emb, "vec_id", "embedding")
    cb = sim.pq_codebook(corpus, PQ_M, _PQ_DSUB, PQ_KS, PQ_STRIDE)
    enc = sim.pq_encode(corpus, cb, PQ_M, _PQ_DSUB)
    per = enc.groupBy("m", "cw").agg(F.count("*").alias("n_vecs"))
    tot = enc.groupBy("m").agg(F.count("*").alias("m_total"))
    return (
        per.join(tot, "m")
        .select(
            "m",
            "cw",
            "n_vecs",
            F.round(F.col("n_vecs") / F.col("m_total"), 6).alias("share"),
        )
        .orderBy("m", "cw")
    )


def q_pq_recall_report(spark, sf_dir, query_ids=None):
    """Recall@K certificate for the two compressed-code retrievers
    (PQ, IVF-PQ) against the exact baseline — the ann_recall_report
    pattern extended to the r6 additions, so one driver hash certifies
    retrievers AND eval. Joins run on (queries × K)-sized frames."""
    return recall_certificate(spark, sf_dir, (
        (name, fn(spark, sf_dir, query_ids))
        for name, fn in (("pq", q_pq_ann_topk), ("ivfpq", q_ivfpq_ann_topk))
    ), query_ids)


def q_pq_recall_report_sampled(spark, sf_dir):
    """Hash-sampled twin of pq_recall_report (VERDICT r6 item 2 — the
    r6 ann_recall_report/ndcg_eval pattern): the identical recall@K
    machinery over SAMPLED_QUERY_IDS, so the exact baseline and both
    codebook builds amortize over O(sample) queries. The full-query
    variant stays registered for complete certification; this is the
    bench/production-cadence path."""
    return q_pq_recall_report(spark, sf_dir, query_ids=SAMPLED_QUERY_IDS)


def _pq_recall_report_sql(query_ids=None) -> str:
    return recall_certificate_sql((
        ("pq", _pq_ann_topk_sql(query_ids)),
        ("ivfpq", _ivfpq_sql(query_ids)),
    ), query_ids)


def q_pq_distortion_report(spark, sf_dir):
    """Per-subspace quantization error — code_balance's twin: balance
    says codewords are USED evenly, distortion says they are CLOSE.
    avg/max of the exact-bigint winning d2 per subspace (scaled back
    to embedding units by QUANT², one rounded division each), plus the
    share of exactly-representable subvectors. Rising distortion after
    a corpus shift is the retrain trigger for the codebook."""
    emb = table(spark, sf_dir, "embeddings", spread=True)
    corpus = sim.with_quantized(emb, "vec_id", "embedding")
    cb = sim.pq_codebook(corpus, PQ_M, _PQ_DSUB, PQ_KS, PQ_STRIDE)
    enc = sim.pq_encode(corpus, cb, PQ_M, _PQ_DSUB, with_dist=True)
    scale = float(sim.QUANT) * sim.QUANT
    return (
        enc.groupBy("m")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(
                F.sum(F.col("_d2")).cast("double")
                / F.count("*")
                / F.lit(scale),
                8,
            ).alias("avg_d2"),
            F.round(F.max("_d2").cast("double") / F.lit(scale), 8).alias(
                "max_d2"
            ),
            F.sum(F.when(F.col("_d2") == 0, 1).otherwise(0)).alias("n_exact"),
        )
        .orderBy("m")
    )


def _pq_distortion_sql() -> str:
    from city_payroll_data_pipeline_spark.operators import similarity as _s

    scale = float(_s.QUANT) * _s.QUANT
    enc_d = f"""
SELECT vec_id, m, cw, d2 FROM (
  SELECT s.vec_id, s.m, c.cw,
         {_dot_sql('s.sub', 's.sub')}
           - 2 * {_dot_sql('s.sub', 'c.cq')}
           + {_dot_sql('c.cq', 'c.cq')} AS d2,
         ROW_NUMBER() OVER (
           PARTITION BY s.vec_id, s.m
           ORDER BY {_dot_sql('s.sub', 's.sub')}
                    - 2 * {_dot_sql('s.sub', 'c.cq')}
                    + {_dot_sql('c.cq', 'c.cq')},
                    c.cw) AS r
  FROM subs s JOIN cb c ON s.m = c.m)
WHERE r = 1
"""
    return f"""
WITH subs AS ({_PQ_SUBS_SQL}),
cb AS ({_PQ_CB_SQL}),
enc AS ({enc_d})
SELECT m, COUNT(*) AS n_vecs,
       {_sql_round(
           f'CAST(SUM(d2) AS DOUBLE) / COUNT(*) / {scale!r}', 8
       )} AS avg_d2,
       {_sql_round(f'CAST(MAX(d2) AS DOUBLE) / {scale!r}', 8)} AS max_d2,
       CAST(SUM(CASE WHEN d2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
FROM enc
GROUP BY m
ORDER BY m
"""


PQ_DISTORTION_REPORT_SQL = _pq_distortion_sql()


PQ_CODE_BALANCE_SQL = f"""
WITH subs AS ({_PQ_SUBS_SQL}),
cb AS ({_PQ_CB_SQL}),
enc AS ({_PQ_ENC_SQL}),
per AS (SELECT m, cw, COUNT(*) AS n_vecs FROM enc GROUP BY m, cw),
tot AS (SELECT m, COUNT(*) AS m_total FROM enc GROUP BY m)
SELECT per.m, per.cw, per.n_vecs,
       {_sql_round('CAST(per.n_vecs AS DOUBLE) / tot.m_total', 6)} AS share
FROM per JOIN tot ON per.m = tot.m
ORDER BY per.m, per.cw
"""


# --------------------------------------------------------------------------
# mmr_diversified_topk — MMR re-ranking (Carbonell & Goldstein 1998),
# the redundancy-pruning step between retrieval and consumption that
# the retriever family (exact/LSH/IVF/SQ8/PQ + RRF fusion) was
# missing: from each query's exact top-12 pool, greedily pick 5
# maximizing 0.7·relevance − 0.3·max-sim-to-already-selected. All
# arithmetic exact decimal (score kept ×10), argmax = lexicographic
# struct max with the (score desc, neighbor_id asc) tie-break — the
# greedy loop is ONE codegen'd fold per query (operators/similarity.py
# ::mmr_rerank); the oracle replays it as a k-step recursive CTE whose
# per-step argmax is the same struct max over list lambdas.
#
# Scale: candidate pools are bounded (pool² pair sims per query, never
# corpus-sized); at production scale the pool comes from any ANN
# retriever and MMR's cost is independent of corpus size.
# --------------------------------------------------------------------------

_MMR_POOL = 12


def q_mmr_diversified_topk(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings", spread=True)
    queries = _query_frame(emb, None)
    return sim.mmr_rerank(
        emb, "vec_id", "embedding", queries, k=K, pool=_MMR_POOL
    )


def _mmr_sql() -> str:
    cos_ab = (
        "CASE WHEN sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) > 0 "
        "THEN CAST(" + _dot_sql("a.q", "b.q") + " AS DOUBLE)"
        " / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) END"
    )
    # MMR objective ×10 for a candidate bound to lambda var v, given
    # the selected-ids list s.ids and the pair-sim list s.sims
    # pair-sim lookup filters on BOTH id fields (mirrors
    # operators/similarity.py::mmr_rerank — a packed a·10^6+b key
    # would collide at large/negative ids)
    def score10(v: str) -> str:
        return (
            f"{v}.rel * 7 - 3 * coalesce(list_aggregate(list_transform("
            f"s.ids, sid -> list_filter(s.sims,"
            f" e -> e.sa = {v}.nid AND e.sb = sid)[1].pv), 'max'), 0)"
        )

    rem = "list_filter(s.cands, c0 -> NOT list_contains(s.ids, c0.nid))"
    best = (
        f"list_max(list_transform({rem}, x -> "
        f"{{'score10': CAST({score10('x')} AS DECIMAL(28,6)),"
        f" 'negnid': -x.nid, 'rel': x.rel}}))"
    )
    return f"""WITH RECURSIVE {_QV_SQL},
pairs AS (
  SELECT p.vec_id AS query_id, c.vec_id AS nid,
         {_dot_sql('p.q', 'c.q')} AS dot, p.n2 AS n2a, c.n2 AS n2b
  FROM qv p JOIN qv c ON {_qpred(None, 'p')} AND c.vec_id <> p.vec_id
),
ranked AS (
  SELECT query_id, nid, {_COSINE_SQL} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY {_COSINE_SQL} DESC, nid ASC) AS rank
  FROM pairs
),
pool AS (
  SELECT query_id, nid,
         CAST({_sql_round('cosine', 6)} AS DECIMAL(18,6)) AS rel
  FROM ranked WHERE rank <= {_MMR_POOL}
),
psims AS (
  SELECT a.query_id, a.nid AS sa, b.nid AS sb,
         CAST({{rounded}} AS DECIMAL(18,6)) AS pv
  FROM (SELECT p.query_id, p.nid, v.q, v.n2
        FROM pool p JOIN qv v ON p.nid = v.vec_id) a
  JOIN (SELECT p.query_id, p.nid, v.q, v.n2
        FROM pool p JOIN qv v ON p.nid = v.vec_id) b
    ON a.query_id = b.query_id AND a.nid <> b.nid
),
crow AS (
  SELECT query_id,
         list({{'nid': nid, 'rel': rel}} ORDER BY nid) AS cands
  FROM pool GROUP BY query_id
),
srow AS (
  SELECT query_id, list({{'sa': sa, 'sb': sb, 'pv': pv}}) AS sims
  FROM psims GROUP BY query_id
),
base AS (SELECT query_id, cands, sims FROM crow JOIN srow USING (query_id)),
sel AS (
  SELECT query_id, 0 AS step,
         []::BIGINT[] AS ids, []::DECIMAL(28,6)[] AS s10,
         []::DECIMAL(18,6)[] AS rels, cands, sims
  FROM base
  UNION ALL
  SELECT s.query_id, s.step + 1,
         list_append(s.ids, -({best}).negnid),
         list_append(s.s10, ({best}).score10),
         list_append(s.rels, ({best}).rel),
         s.cands, s.sims
  FROM sel s WHERE s.step < {K} AND len({rem}) > 0
),
last AS (SELECT query_id, MAX(step) AS ms FROM sel GROUP BY query_id)
SELECT s.query_id, CAST(i AS INT) AS rank, ids[i] AS neighbor_id,
       CAST(rels[i] AS DOUBLE) AS relevance,
       {_sql_round('CAST(s10[i] AS DOUBLE) / 10', 6)} AS mmr_score
FROM sel s JOIN last l ON s.query_id = l.query_id AND s.step = l.ms
CROSS JOIN unnest(range(1, {K} + 1)) AS r(i)
WHERE i <= s.step
ORDER BY s.query_id, rank""".replace(
        "{rounded}", _sql_round(cos_ab, 6)
    )


MMR_DIVERSIFIED_TOPK_SQL = _mmr_sql()


# --------------------------------------------------------------------------
# fps_coreset — farthest-point sampling (k-center greedy, Gonzalez
# 1985): the embedding-space CORESET selector, completing the
# data-selection family (max_coverage_select picks by feature
# coverage; DSIR by importance weight; this picks the k most mutually
# distant exemplars — the standard seed set for pruning, labeling
# budgets, and cluster init). The k-th selection distance is the
# classic 2-approximation certificate on the optimal k-center radius,
# so the decreasing sel_dist column doubles as a "how many exemplars
# do I need" curve.
#
# Exact integer squared L2 on the quantized grid end-to-end; the
# greedy is k driver rounds of ONE distributed argmax each
# (operators/clustering.py::fps_select — the greedy_max_coverage
# precedent for inherently sequential selection), and the oracle
# unrolls the same k steps as MATERIALIZED CTEs, scalar-subquery
# selected vector per step.
# --------------------------------------------------------------------------

_FPS_K = 8


def q_fps_coreset(spark, sf_dir):
    import math

    from city_payroll_data_pipeline_spark.operators.clustering import (
        fps_select,
    )

    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", sim.quantize(F.col("embedding")).alias("q")
    )
    sel = fps_select(emb, _FPS_K)
    rows = [
        (
            step,
            vid,
            d2,
            (math.sqrt(d2) / sim.QUANT) if d2 is not None else None,
        )
        for step, vid, d2 in sel
    ]
    return spark.createDataFrame(
        rows, "step int, vec_id bigint, sel_d2 bigint, sel_dist double"
    ).orderBy("step")


def _fps_sql(k: int = _FPS_K) -> str:
    """Unrolled FPS mirroring fps_select round for round: per step a
    dmin-update table (LEAST with the exact d² to the just-selected
    vector) and a (dmin DESC, vec_id ASC) LIMIT 1 pick."""

    def d2(cand: str, sel_vid: str) -> str:
        return (
            f"(SELECT CAST(list_sum(list_transform(list_zip({cand}.q, s.q),"
            f" p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
            f" FROM qc s WHERE s.vec_id = {sel_vid})"
        )

    head = f"""
WITH qc AS MATERIALIZED ({_Q_CORPUS_SQL}),
seed AS (SELECT MIN(vec_id) AS v FROM qc),
d1 AS MATERIALIZED (
  SELECT c.vec_id, c.q, {d2('c', '(SELECT v FROM seed)')} AS dmin
  FROM qc c WHERE c.vec_id <> (SELECT v FROM seed)
)"""
    steps = []
    for t in range(2, k + 1):
        steps.append(f""",
pick{t} AS MATERIALIZED (
  SELECT vec_id, dmin FROM d{t - 1}
  ORDER BY dmin DESC, vec_id LIMIT 1
)""")
        if t < k:
            steps.append(f""",
d{t} AS MATERIALIZED (
  SELECT c.vec_id, c.q,
         LEAST(c.dmin, {d2('c', f'(SELECT vec_id FROM pick{t})')}) AS dmin
  FROM d{t - 1} c WHERE c.vec_id <> (SELECT vec_id FROM pick{t})
)""")
    picks = "\nUNION ALL\n".join(
        f"SELECT {t} AS step, vec_id, dmin AS sel_d2,"
        # sim.QUANT, not a hardcoded 10_000: a grid change in
        # similarity.py must not desynchronize the oracle
        f" sqrt(CAST(dmin AS DOUBLE)) / {sim.QUANT} AS sel_dist FROM pick{t}"
        for t in range(2, k + 1)
    )
    tail = f"""
SELECT CAST(step AS INT) AS step, vec_id, sel_d2, sel_dist FROM (
  SELECT 1 AS step, (SELECT v FROM seed) AS vec_id,
         CAST(NULL AS BIGINT) AS sel_d2, CAST(NULL AS DOUBLE) AS sel_dist
  UNION ALL
  {picks}
)
ORDER BY step
"""
    return head + "".join(steps) + tail


FPS_CORESET_SQL = _fps_sql()


QUERIES = {
    "fps_coreset": Query(
        q_fps_coreset,
        FPS_CORESET_SQL,
        ("coreset", "k-center", "embedding", "greedy"),
    ),
    "mmr_diversified_topk": Query(
        q_mmr_diversified_topk,
        MMR_DIVERSIFIED_TOPK_SQL,
        ("vector", "ann", "mmr", "rerank", "diversity"),
    ),
    "pq_ann_topk": Query(
        q_pq_ann_topk, PQ_ANN_TOPK_SQL, ("vector", "ann", "pq", "adc")
    ),
    "pq_rerank_topk": Query(
        q_pq_rerank_topk,
        PQ_RERANK_TOPK_SQL,
        ("vector", "ann", "pq", "rerank", "two-stage"),
    ),
    "pq_trained_recall": Query(
        q_pq_trained_recall,
        PQ_TRAINED_RECALL_SQL,
        ("vector", "pq", "kmeans", "training", "recall"),
    ),
    "ivfpq_residual_recall": Query(
        q_ivfpq_residual_recall,
        IVFPQ_RESIDUAL_RECALL_SQL,
        ("vector", "ivf", "pq", "residual", "ivfadc", "recall"),
    ),
    "pq_code_balance": Query(
        q_pq_code_balance, PQ_CODE_BALANCE_SQL, ("vector", "pq", "audit")
    ),
    "ivfpq_ann_topk": Query(
        q_ivfpq_ann_topk, IVFPQ_ANN_TOPK_SQL, ("vector", "ann", "ivf", "pq")
    ),
    "ivf_probe_curve": Query(
        q_ivf_probe_curve,
        IVF_PROBE_CURVE_SQL,
        ("vector", "ivf", "tuning", "recall-cost"),
    ),
    "pq_distortion_report": Query(
        q_pq_distortion_report,
        PQ_DISTORTION_REPORT_SQL,
        ("vector", "pq", "audit", "distortion"),
    ),
    "pq_recall_report": Query(
        q_pq_recall_report,
        _pq_recall_report_sql(),
        ("vector", "eval", "recall", "pq"),
    ),
    "pq_recall_report_sampled": Query(
        q_pq_recall_report_sampled,
        _pq_recall_report_sql(SAMPLED_QUERY_IDS),
        ("vector", "eval", "recall", "pq", "sampled"),
    ),
    "ndcg_eval": Query(
        q_ndcg_eval,
        _ndcg_sql(),
        ("vector", "eval", "ndcg", "ranking"),
    ),
    "ndcg_eval_sampled": Query(
        q_ndcg_eval_sampled,
        _ndcg_sql(SAMPLED_QUERY_IDS),
        ("vector", "eval", "ndcg", "sampled"),
    ),
    "embedding_spectral_norm": Query(
        q_embedding_spectral_norm,
        EMBEDDING_SPECTRAL_NORM_SQL,
        ("vector", "spectral", "iterative"),
    ),
    "embedding_norms": Query(q_embedding_norms, EMBEDDING_NORMS_SQL, ("vector",)),
    "embedding_mmd_drift": Query(
        q_embedding_mmd_drift,
        EMBEDDING_MMD_DRIFT_SQL,
        ("vector", "drift", "mmd", "two-sample"),
    ),
    "nearest_centroid_eval": Query(
        q_nearest_centroid_eval,
        NEAREST_CENTROID_EVAL_SQL,
        ("vector", "classification", "centroid"),
    ),
    "rrf_fused_topk": Query(
        q_rrf_fused_topk,
        RRF_FUSED_TOPK_SQL,
        ("vector", "retrieval", "fusion", "rrf"),
    ),
    "kmeans_clusters": Query(
        q_kmeans_clusters,
        _kmeans_sql(),  # full unrolled Lloyd replay — see _kmeans_sql
        ("vector", "clustering", "iterative"),
    ),
    "kmeans_silhouette": Query(
        q_kmeans_silhouette,
        _kmeans_silhouette_sql(),  # same unrolled fit, silhouette final
        ("vector", "clustering", "quality", "silhouette"),
    ),
    "ann_retrieve_docs": Query(
        q_ann_retrieve_docs, ANN_RETRIEVE_DOCS_SQL, ("vector", "retrieval")
    ),
    "semantic_dedup_pairs": Query(
        q_semantic_dedup_pairs,
        SEMANTIC_DEDUP_PAIRS_SQL,
        ("vector", "dedup", "clustering")
    ),
    "cosine_topk": Query(q_cosine_topk, COSINE_TOPK_SQL, ("vector", "ann", "exact")),
    "hard_negative_mining": Query(
        q_hard_negative_mining,
        HARD_NEGATIVE_MINING_SQL,
        ("vector", "contrastive", "mining", "training-data"),
    ),
    "cosine_neardup_pairs": Query(
        q_cosine_neardup_pairs, COSINE_NEARDUP_PAIRS_SQL, ("vector", "dedup")
    ),
    "lsh_ann_topk": Query(q_lsh_ann_topk, LSH_ANN_TOPK_SQL, ("vector", "ann", "lsh")),
    "ivf_ann_topk": Query(q_ivf_ann_topk, IVF_ANN_TOPK_SQL, ("vector", "ann", "ivf")),
    "sq8_ann_topk": Query(
        q_sq8_ann_topk, SQ8_ANN_TOPK_SQL, ("vector", "ann", "quantized")
    ),
}
