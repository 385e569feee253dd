"""Similarity search over embedding columns (``array<float>``).

Determinism strategy: embeddings are quantized to integer grid points
(``floor(x·10⁴ + 0.5)``) so dot products and norms are exact bigint
arithmetic — identical across Spark partitionings AND across engines
(the DuckDB oracle quantizes the same way). The final cosine is one
double division of identical integers. Quantization error (≤5e-5 per
component) is far below any meaningful similarity threshold.

Scale design:
* brute-force top-k broadcasts the (small) query set against the full
  corpus — one pass, no shuffle of the corpus side; the per-query heap
  is a window row_number over (query, -cosine).
* LSH (random hyperplanes) buckets the corpus once; queries probe only
  their bucket. Hyperplane components are derived from md5 — no RNG
  state, reproducible everywhere.
* expressions use zip_with/aggregate (codegen'd higher-order
  functions), not UDFs — Python never touches the hot loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


QUANT = 10_000  # 4-decimal grid


def quantize(vec: Column) -> Column:
    """array<float> → array<bigint> on the 1e-4 grid (exact floor)."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * QUANT + F.lit(0.5)).cast("bigint")
    )


def dot_q(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def norm2_q(a: Column) -> Column:
    """Exact integer squared norm."""
    return dot_q(a, a)


def cosine_q(dot: Column, n2a: Column, n2b: Column) -> Column:
    """Cosine from exact integers — one deterministic double op chain.
    Norms convert to double *before* multiplying (the bigint product
    could overflow for unit-scale vectors); each step is a correctly
    rounded IEEE op on identical inputs, so any engine agrees bit-wise.
    Zero vectors → NULL (guarded)."""
    denom = F.sqrt(n2a.cast("double") * n2b.cast("double"))
    return F.when(denom > 0, dot.cast("double") / denom)


def with_quantized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("vec_id"),
        quantize(F.col(vec_col)).alias("q"),
    ).withColumn("n2", norm2_q(F.col("q")))



def _per_query_topk(
    scored: DataFrame, score_col: str, k: int, round_score: bool = True
) -> DataFrame:
    """Shared per-query top-k: rank by (score DESC, neighbor_id ASC —
    the deterministic tie-break every retriever must agree on), keep
    rank ≤ k. ``round_score`` emits the score rounded to 6 dp (the
    cosine retrievers' cross-engine convention); integer scores
    (sq8's dot8) pass through unrounded. One definition so a tie-break
    or ranking fix can never drift between the four retrievers."""
    w = W.partitionBy("query_id").orderBy(
        F.desc(score_col), F.asc("neighbor_id")
    )
    out_score = (
        F.round(score_col, 6).alias(score_col)
        if round_score
        else F.col(score_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", out_score)
    )


def brute_force_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame | None = None,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries``: small DataFrame with the same (id, vec) columns;
    defaults to ``df`` itself (all-pairs top-k). The query side is
    broadcast — the corpus is scanned exactly once regardless of the
    number of queries."""
    corpus = with_quantized(df, id_col, vec_col)
    qry = with_quantized(queries if queries is not None else df, id_col, vec_col)
    joined = (
        corpus.alias("c")
        .join(F.broadcast(qry.alias("p")), F.col("p.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("p.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            cosine_q(
                dot_q(F.col("p.q"), F.col("c.q")),
                F.col("p.n2"),
                F.col("c.n2"),
            ).alias("cosine"),
        )
    )
    return _per_query_topk(joined, "cosine", k)


def quantize_sq8(vec: Column) -> Column:
    """array<float> → int8-grid array<bigint>: symmetric fixed-range
    scalar quantization ``clamp(round(x·127), ±127)``. For normalized
    embeddings this is the standard 4×-compression trade (1 B/dim
    payload, integer dot products) with bounded per-dim error ≤ 0.5/127.
    Fixed range (not data-dependent min/max) keeps the transform
    stateless — no fit pass over 100 TB, and any two engines agree
    exactly."""
    return F.transform(
        vec,
        lambda x: F.greatest(
            F.lit(-127).cast("bigint"),
            F.least(
                F.lit(127).cast("bigint"),
                F.floor(x.cast("double") * 127 + F.lit(0.5)),
            ),
        ),
    )


def sq8_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame | None = None,
    k: int = 5,
) -> DataFrame:
    """Top-k neighbors by exact integer dot product over int8-quantized
    vectors — the compressed-index ANN path. Same broadcast shape as
    :func:`brute_force_topk`: the corpus scans once, only int math per
    candidate. All outputs are integers, so results are engine-exact."""
    corpus = df.select(
        F.col(id_col).alias("vec_id"), quantize_sq8(F.col(vec_col)).alias("q8")
    )
    qry = (queries if queries is not None else df).select(
        F.col(id_col).alias("vec_id"), quantize_sq8(F.col(vec_col)).alias("q8")
    )
    joined = (
        corpus.alias("c")
        .join(F.broadcast(qry.alias("p")), F.col("p.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("p.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            dot_q(F.col("p.q8"), F.col("c.q8")).alias("dot8"),
        )
    )
    # integer dot — exact, no rounding
    return _per_query_topk(joined, "dot8", k, round_score=False)


def cosine_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.999
) -> DataFrame:
    """All pairs (a<b) with cosine ≥ threshold. Brute force here; the
    LSH variant below is the scale path (bucket then verify)."""
    q = with_quantized(df, id_col, vec_col)
    a, b = q.alias("a"), q.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine_q(
                dot_q(F.col("a.q"), F.col("b.q")), F.col("a.n2"), F.col("b.n2")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


# --------------------------------------------------------------------------
# LSH (random hyperplanes, deterministic md5-derived planes)
# --------------------------------------------------------------------------

def hyperplane_components(plane_idx: int, dim: int) -> list[int]:
    """Hyperplane ``p`` as Python integers: component j =
    (md5int(p|j) mod 2001) - 1000 ∈ [-1000, 1000]. Pure function of
    (plane_idx, j) — no RNG; hashlib.md5 here, F.md5 in Spark and
    DuckDB's md5() in the oracle all agree on the hex digest, and all
    three engines' ``%`` agree on non-negative operands, so the plane
    is identical however it is materialized."""
    import hashlib

    return [
        int(
            hashlib.md5(f"plane{plane_idx}|{j}".encode()).hexdigest()[:15], 16
        )
        % 2001
        - 1000
        for j in range(dim)
    ]


def hyperplane(plane_idx: int, dim: int) -> Column:
    """Hyperplane ``p`` as ONE array literal (values from
    :func:`hyperplane_components`). Built driver-side: the previous
    per-component expression form (64 md5→conv→mod trees per plane)
    cost ~512 py4j round trips per lsh_bucket call and a giant codegen
    method — the same pathology as the r5 ``jl_projection_error`` fix
    (SCALE.md "Round-5 bisect"); the emitted values are identical."""
    return F.lit(hyperplane_components(plane_idx, dim)).cast("array<bigint>")


def lsh_bucket(qvec: Column, n_planes: int, dim: int) -> Column:
    """Sign-bit bucket id over ``n_planes`` hyperplanes (integer dots
    → exact signs → deterministic bucket). One nested-array literal +
    transform/zip_with, not n_planes unrolled dot expressions."""
    planes = F.lit(
        [hyperplane_components(p, dim) for p in range(n_planes)]
    ).cast("array<array<bigint>>")
    weights = F.lit([1 << p for p in range(n_planes)]).cast("array<bigint>")
    signs = F.transform(
        planes,
        lambda row: F.when(dot_q(qvec, row) >= 0, 1).otherwise(0).cast("bigint"),
    )
    return F.aggregate(
        F.zip_with(signs, weights, lambda s, w: s * w),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def ivf_seed_centroids(
    quantized: DataFrame, n_lists: int = 8, centroid_stride: int = 7
) -> DataFrame:
    """Deterministic seed centroids (vec_id = 0, stride, 2·stride, …)
    from an already-quantized frame: (list_id, cq, cn2). No k-means
    RNG, so the DuckDB oracle replays the cells bit-exactly."""
    return quantized.filter(
        (F.col("vec_id") % centroid_stride == 0)
        & (F.col("vec_id") < centroid_stride * n_lists)
    ).select(
        (F.col("vec_id") / centroid_stride).cast("int").alias("list_id"),
        F.col("q").alias("cq"),
        F.col("n2").alias("cn2"),
    )


def ivf_assign(
    side: DataFrame, cents: DataFrame, n_best: int
) -> DataFrame:
    """Nearest-cell assignment shared by ivf_topk and the semantic
    dedup query (cosine to every centroid, keep the n_best cells per
    vector; ties break on the smaller list_id). One definition so a
    tie-break or zero-norm-guard fix can never drift between the two
    consumers."""
    scored = side.alias("v").join(F.broadcast(cents)).select(
        "v.*",
        "list_id",
        cosine_q(
            dot_q(F.col("v.q"), F.col("cq")), F.col("v.n2"), F.col("cn2")
        ).alias("_csim"),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("_csim"), F.asc("list_id"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n_best)
        .drop("_csim", "_r")
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame | None = None,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 2,
    centroid_stride: int = 7,
    cents: DataFrame | None = None,
    corpus_assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the corpus is assigned to
    ``n_lists`` coarse cells (nearest centroid by cosine); each query
    probes its ``n_probe`` nearest cells and scores only those lists.

    Centroids are seed vectors picked deterministically from the corpus
    (vec_id = 0, stride, 2·stride, …) — no k-means RNG, so results are
    bit-reproducible and the DuckDB oracle can replay them. A real
    deployment would Lloyd-refine the centroids; the partition/probe
    machinery (the part that matters for the Spark plan) is identical.

    Scale shape: assignment is one broadcast join (n_lists rows)
    against the corpus — a single pass; the probe join shuffles only
    (query, list) pairs. Versus LSH: IVF cells adapt to the data
    distribution and n_probe trades recall for cost query-side without
    re-bucketing the corpus.

    ``cents``/``corpus_assigned``: an externally built centroid frame
    and its matching materialized ``ivf_assign(with_quantized(df),
    cents, 1)`` frame (vec_id, q, n2, list_id). Multi-arm certificates
    (ivfpq_residual_recall) share ONE quantize+assign pass across
    retriever arms this way instead of re-deriving it per arm — at
    corpus scale that is one pass instead of three (guide §2.4). Pass
    both or neither; the assignment must have been made against these
    exact cents or the probe semantics silently change."""
    if corpus_assigned is not None:
        if cents is None:
            raise ValueError(
                "ivf_topk: corpus_assigned requires the cents it was "
                "assigned against"
            )
        corpus_a = corpus_assigned
    else:
        corpus = with_quantized(df, id_col, vec_col)
        if cents is None:
            cents = ivf_seed_centroids(corpus, n_lists, centroid_stride)
        corpus_a = ivf_assign(corpus, cents, 1)
    qry = with_quantized(queries if queries is not None else df, id_col, vec_col)
    qry_a = ivf_assign(qry, cents, n_probe)
    joined = (
        corpus_a.alias("c")
        .join(
            F.broadcast(qry_a.alias("p")),
            (F.col("p.list_id") == F.col("c.list_id"))
            & (F.col("p.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("p.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            cosine_q(
                dot_q(F.col("p.q"), F.col("c.q")), F.col("p.n2"), F.col("c.n2")
            ).alias("cosine"),
        )
        # no dedup needed: each corpus vector lives in exactly one list,
        # so a (query, neighbor) pair matches at most one probed list
    )
    return _per_query_topk(joined, "cosine", k)


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame | None = None,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's hyperplane
    bucket. Corpus is bucketed in one pass; the bucket join replaces
    the cross join — at 100 TB this is the difference between a
    broadcast-probe and an impossible O(n·q) scan. Recall is tunable
    via n_planes (fewer planes → bigger buckets → higher recall)."""
    corpus = with_quantized(df, id_col, vec_col).withColumn(
        "bucket", lsh_bucket(F.col("q"), n_planes, dim)
    )
    qry = with_quantized(queries if queries is not None else df, id_col, vec_col
                         ).withColumn("bucket", lsh_bucket(F.col("q"), n_planes, dim))
    joined = (
        corpus.alias("c")
        .join(
            F.broadcast(qry.alias("p")),
            (F.col("p.bucket") == F.col("c.bucket"))
            & (F.col("p.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("p.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            cosine_q(
                dot_q(F.col("p.q"), F.col("c.q")), F.col("p.n2"), F.col("c.n2")
            ).alias("cosine"),
        )
    )
    return _per_query_topk(joined, "cosine", k)


def rrf_fuse(
    rankings: list[DataFrame], rrf_k: int = 60, top: int = 5
) -> DataFrame:
    """Reciprocal-rank fusion of retriever rankings (Cormack et al.):
    score(d) = Σ_retrievers 1/(rrf_k + rank_r(d)) — the standard way to
    combine heterogeneous retrievers (exact + quantized, dense +
    sparse) without calibrating their score scales, since only ranks
    enter. Each input needs (query_id, neighbor_id, rank).

    Scale: inputs are already top-k frames (queries × k rows each), so
    fusion runs on retriever-output-sized data — the corpus is never
    touched again. Determinism: 1/(rrf_k+rank) is one IEEE division of
    identical integers in any engine; per-candidate contributions are
    cast to decimal(18,12) before summing so the cross-retriever sum
    is order-independent."""
    from functools import reduce

    tagged = [
        r.select(
            "query_id",
            "neighbor_id",
            (F.lit(1.0) / (F.lit(rrf_k) + F.col("rank")))
            .cast("decimal(18,12)")
            .alias("contrib"),
        )
        for r in rankings
    ]
    fused = (
        reduce(lambda a, b: a.unionByName(b), tagged)
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("contrib").cast("double").alias("rrf_score"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.round("rrf_score", 6).alias("rrf_score"),
        )
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric-distance (ADC) scoring —
# the compressed-index family's third member next to SQ8 (scalar) and
# IVF (coarse cells). At 100 TB PQ is the workhorse: each vector is
# stored as m_sub small codes (here 8 × 4-bit-range codes vs 64
# floats), and queries score candidates via a per-query lookup table
# (ADC: Jégou et al. 2011, "Product Quantization for Nearest Neighbor
# Search") without ever touching the original vectors.
#
# Determinism contract (same as IVF): codewords are subvectors of
# stride-sampled corpus vectors — no k-means RNG — so the DuckDB
# oracle replays codebook, codes, LUT and scores bit-exactly. A real
# deployment Lloyd-refines each subspace codebook; the encode/LUT/ADC
# plan shape (the part that matters for Spark) is identical.
# --------------------------------------------------------------------------


def pq_subvectors(q: Column, m_sub: int, d_sub: int) -> Column:
    """array<bigint> → array of ``m_sub`` contiguous subvectors."""
    return F.array(*[F.slice(q, m * d_sub + 1, d_sub) for m in range(m_sub)])


def pq_codebook(
    quantized: DataFrame, m_sub: int, d_sub: int, k_codes: int, stride: int
) -> DataFrame:
    """(m, cw, cq): codeword ``cw`` of subspace ``m`` is subvector ``m``
    of seed vector vec_id = cw·stride. Tiny frame (m_sub × k_codes
    rows) — always broadcast by callers.

    Guards against a corpus that cannot seed all ``k_codes`` codewords
    (needs vec_id up to stride·(k_codes-1)): a silently truncated
    codebook would still encode/score without error but with quietly
    degraded recall (ADVICE r6). The guard is LAZY — plan construction
    stays pure (ADVICE r7: an eager count made every PQ query builder
    side-effectful, once per retriever arm) — an in-plan ``assert_true``
    over a per-subspace window count (partitionBy ``m``, exactly
    k_codes rows per partition when complete) folded into the ``cw``
    column; it fires with the first job that READS ``cw`` — which every
    sanctioned consumer does (pq_encode joins on it, pq_lut keys the
    distance table by it). Caveats: a bare ``count()`` prunes every
    column and skips the guard, and a completely EMPTY corpus has no
    rows to evaluate the assertion on — both yield empty/short results
    downstream rather than wrong ones."""
    seeds = quantized.filter(
        (F.col("vec_id") % stride == 0)
        & (F.col("vec_id") < stride * k_codes)
    )
    exploded = seeds.select(
        (F.col("vec_id") / stride).cast("int").alias("cw"),
        F.posexplode(pq_subvectors(F.col("q"), m_sub, d_sub)).alias(
            "m", "cq"
        ),
    )
    n = F.count("*").over(W.partitionBy("m"))
    ok = F.assert_true(
        n == k_codes,
        F.lit(
            f"pq_codebook: corpus seeds fewer than k_codes={k_codes} "
            f"codewords at stride={stride} (needs vec_id up to "
            f"{stride * (k_codes - 1)}); lower k_codes or stride"
        ),
    )
    return exploded.select(
        (F.col("cw") + F.when(ok.isNull(), F.lit(0))).alias("cw"),
        "m",
        "cq",
    )


def pq_codebook_trained(
    quantized: DataFrame,
    m_sub: int,
    d_sub: int,
    k_codes: int,
    stride: int,
    iters: int = 10,
    train_stride: int = 1,
) -> DataFrame:
    """Lloyd-refined PQ codebook (VERDICT r8 item 4): start from the
    deterministic stride seeds (pq_codebook) and run ``iters`` exact
    k-means steps per subspace — assign every training subvector to
    its nearest codeword (exact integer d², ties → smaller cw), then
    move each codeword to the FLOOR of its cluster's per-component
    mean (floor keeps the codebook on the integer grid, so the whole
    build — and hence encode/LUT/ADC downstream — stays bit-replayable
    in any engine; the ≤1-grid-unit floor bias is far below the
    quantizer's own cell size). Empty codewords keep their previous
    position. No RNG anywhere: same corpus → same codebook.

    Distributed shape — deliberately the FAISS deployment shape, not a
    per-iteration Spark job chain: codebook training is an OFFLINE
    step over a BOUNDED sample (``train_stride``; FAISS trains on
    ≤256·k vectors per subspace regardless of corpus size), so the
    sample is collected ONCE (sample-sized driver traffic, bounded by
    construction like greedy_max_coverage's covered set) and the
    k_codes·m_sub·iters Lloyd arithmetic runs vectorized on the
    driver; the trained codebook returns as an m_sub·k_codes-row
    literal that every consumer broadcasts. Per-iteration Spark jobs
    were measured 10-30× slower here (SCALE.md round-9): 10 sequential
    barrier-synchronized stages over a 64k-row frame are pure
    scheduling overhead, while encode/LUT/ADC — the part whose cost
    scales with the corpus — stays fully distributed and identical.
    Exactness: d² and sums are int64, the mean is one IEEE double
    division + floor — bit-identical in numpy, Spark and DuckDB.
    """
    import numpy as np

    spark = quantized.sparkSession
    seed_rows = sorted(
        (r["m"], r["cw"], list(r["cq"]))
        for r in pq_codebook(
            quantized, m_sub, d_sub, k_codes, stride
        ).collect()
    )
    # cb[m, c, :] — int64 throughout
    cb = np.zeros((m_sub, k_codes, d_sub), dtype=np.int64)
    for m, cw, cq in seed_rows:
        cb[m, cw, :] = cq
    # sort the bounded sample driver-side: an orderBy here was a full
    # distributed sort of the corpus feeding a collect (guide §2.4 —
    # an orderBy used only to make output deterministic); the Lloyd
    # result is row-order invariant anyway (exact int64 group sums),
    # the sort is kept only so the array layout is reproducible
    train_rows = sorted(
        (r["vec_id"], r["q"])
        for r in quantized.filter(F.col("vec_id") % train_stride == 0)
        .select("vec_id", "q")
        .collect()
    )
    train = np.array(
        [q for _, q in train_rows], dtype=np.int64
    ).reshape(-1, m_sub, d_sub)
    for _ in range(iters):
        for m in range(m_sub):
            diff = train[:, m, None, :] - cb[m][None, :, :]
            d2 = np.einsum("nkd,nkd->nk", diff, diff)  # exact int64
            codes = d2.argmin(axis=1)  # ties -> smallest cw
            # vectorized per-cluster sums/counts (np.add.at) — the
            # previous per-unique-code Python loop was ~half the
            # training wall time at 10 iters × 32 subspaces; floor of
            # the exact mean is unchanged: int64 sums are exact and
            # < 2^53, so the double division + floor is the same IEEE
            # op chain Spark/DuckDB would run
            sums = np.zeros((k_codes, d_sub), dtype=np.int64)
            np.add.at(sums, codes, train[:, m, :])
            cnts = np.bincount(codes, minlength=k_codes)
            occ = cnts > 0
            cb[m, occ, :] = np.floor(
                sums[occ].astype(np.float64) / cnts[occ, None]
            ).astype(np.int64)
    out = [
        (m, c, [int(x) for x in cb[m, c, :]])
        for m in range(m_sub)
        for c in range(k_codes)
    ]
    return spark.createDataFrame(out, "m int, cw int, cq array<bigint>")


def pq_encode(
    quantized: DataFrame, codebook: DataFrame, m_sub: int, d_sub: int,
    with_dist: bool = False,
) -> DataFrame:
    """Corpus codes (vec_id, m, cw): nearest codeword per subspace by
    exact integer squared L2 (ties → smaller cw). One broadcast join
    against the tiny codebook + one map-side-combinable aggregation —
    the corpus shuffles once on (vec_id, m) group keys, never
    self-joins. ``with_dist`` keeps the winning d2 (exact bigint
    quantization error) for distortion audits.

    The corpus×k_codes hot frame is laid out for whole-stage codegen
    (round-9 rework, A/B-profiled in SCALE.md): both squared norms are
    precomputed ONCE per row on the two small frames, the cross dot
    expands into d_sub scalar multiplies (d_sub is a plan-time
    constant — an interpreted higher-order aggregate here was the
    family's dominant cost), and the (d2, cw) argmin rides ONE
    primitive packed long through min() — no per-row structs, no
    window sort. Ordering is exactly the old (d2 asc, cw asc) window:
    within a (vec, m) group the subvector norm is constant, so
    min over (n2c − 2·cross) ties ⇔ min over d2 ties, broken by cw in
    the low bits. Packing bounds: |n2c − 2·cross| ≤ 3·d_sub·(2·QUANT)²
    < 2³⁸ for any d_sub ≤ 64 (offset 2⁴⁰), cw < 2²⁰ codewords."""
    offset = 1 << 40
    cw_base = 1 << 20
    sub = quantized.select(
        "vec_id",
        F.posexplode(pq_subvectors(F.col("q"), m_sub, d_sub)).alias(
            "m", "sub"
        ),
    ).withColumn("_n2s", dot_q(F.col("sub"), F.col("sub")))
    cbn = codebook.withColumn("_n2c", dot_q(F.col("cq"), F.col("cq")))
    cross = F.element_at(F.col("sub"), 1) * F.element_at(F.col("cq"), 1)
    for i in range(1, d_sub):
        cross = cross + F.element_at(F.col("sub"), i + 1) * F.element_at(
            F.col("cq"), i + 1
        )
    packed = (F.col("_n2c") - 2 * cross + F.lit(offset)) * F.lit(
        cw_base
    ) + F.col("cw")
    best = (
        sub.join(F.broadcast(cbn), "m")
        .groupBy("vec_id", "m")
        .agg(
            F.min(packed).alias("_p"),
            # _n2s is constant within the group (one subvector ×
            # k_codes candidates), so first() is deterministic
            F.first("_n2s").alias("_n2s"),
        )
    )
    cw = (F.col("_p") % cw_base).cast("int").alias("cw")
    if not with_dist:
        return best.select("vec_id", "m", cw)
    # exact bigint division (packed values exceed 2^53 — a double
    # round-trip here would corrupt low bits)
    d2 = (
        F.expr(f"_p div {cw_base}") - offset + F.col("_n2s")
    ).alias("_d2")
    return best.select("vec_id", "m", cw, d2)


def pq_lut(
    quantized_queries: DataFrame, codebook: DataFrame, m_sub: int, d_sub: int
) -> DataFrame:
    """ADC lookup table (query_id, m, cw, dotv): the exact bigint dot of
    every query subvector with every codeword of its subspace —
    queries × m_sub × k_codes rows, broadcast by every ADC scorer."""
    return (
        quantized_queries.select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(pq_subvectors(F.col("q"), m_sub, d_sub)).alias(
                "m", "sub"
            ),
        )
        .join(F.broadcast(codebook), "m")
        .select(
            "query_id", "m", "cw", dot_q(F.col("sub"), F.col("cq")).alias("dotv")
        )
    )


def pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame | None = None,
    k: int = 5,
    m_sub: int = 32,
    k_codes: int = 64,
    codebook_stride: int = 7,
    dim: int = 64,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """PQ/ADC approximate top-k by inner product.

    ``codebook``: an externally built (m, cw, cq) frame — e.g. the
    Lloyd-refined ``pq_codebook_trained`` — replaces the internal
    stride-seeded build; the encode/LUT/ADC plan is identical either
    way (training only moves the codewords).

    Defaults are the r6-tuned frontier point (suite/vectors.py): fine
    2-dim subspaces compensate for untrained seed codebooks —
    recall@5 0.70 at sf0.01 vs 0.16 for the textbook 8×16 shape.

    Plan shape: encode is one broadcast join + bounded window; the
    query LUT (queries × m_sub × k_codes rows — e.g. 10×8×16 = 1280)
    is broadcast against the encoded corpus, and the ADC score is a
    groupBy-sum of exactly m_sub bigints per (query, neighbor). The
    original vectors are read once for encoding and never rejoined —
    the property that makes PQ the 100 TB path: scoring touches only
    the code table (m_sub small ints per vector).
    """
    d_sub = dim // m_sub
    corpus = with_quantized(df, id_col, vec_col)
    cb = (
        codebook
        if codebook is not None
        else pq_codebook(corpus, m_sub, d_sub, k_codes, codebook_stride)
    )
    enc = pq_encode(corpus, cb, m_sub, d_sub)
    qry = with_quantized(queries if queries is not None else df, id_col, vec_col)
    lut = pq_lut(qry, cb, m_sub, d_sub)
    scored = (
        enc.join(F.broadcast(lut), ["m", "cw"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dotv").alias("adc_dot"))
    )
    # integer ADC score — exact, no rounding
    return _per_query_topk(scored, "adc_dot", k, round_score=False)


def ivfpq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame | None = None,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 3,
    centroid_stride: int = 7,
    m_sub: int = 32,
    k_codes: int = 38,
    codebook_stride: int = 13,
    dim: int = 64,
    cents: DataFrame | None = None,
    corpus_assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: coarse cells prune the candidate set, PQ/ADC scores the
    survivors — the composition FAISS-style indexes run at extreme
    scale. Each corpus vector lives in ONE cell and is stored as
    m_sub codes; a query probes its n_probe nearest cells and scores
    only those cells' code rows through the broadcast LUT.

    Plan shape: cell assignment and PQ encode are each one broadcast
    join over the corpus (done once, at index-build time in a real
    deployment); the query path joins the code table to the broadcast
    (query, probed-cell) list and then to the broadcast LUT — scan
    cost is |probed cells' codes| × m_sub, never the corpus. The two
    stride constants differ (7 vs 13) so centroids and codewords come
    from different seed vectors. The default k_codes=38 keeps the last
    codebook seed (13·37 = 481) inside even the smallest corpus (~500
    vectors) — pq_codebook raises on a corpus too small to seed every
    codeword (ADVICE r6).

    ``cents``/``corpus_assigned``: share an externally materialized
    quantize+assign pass across retriever arms — same contract as
    ivf_topk (pass both or neither; the assigned frame doubles as the
    quantized corpus, its rows are one-per-vector by n_best=1)."""
    d_sub = dim // m_sub
    if corpus_assigned is not None:
        if cents is None:
            raise ValueError(
                "ivfpq_topk: corpus_assigned requires the cents it was "
                "assigned against"
            )
        corpus = corpus_assigned
        corpus_cells = corpus_assigned.select("vec_id", "list_id")
    else:
        corpus = with_quantized(df, id_col, vec_col)
        if cents is None:
            cents = ivf_seed_centroids(corpus, n_lists, centroid_stride)
        corpus_cells = ivf_assign(corpus, cents, 1).select(
            "vec_id", "list_id"
        )
    cb = pq_codebook(corpus, m_sub, d_sub, k_codes, codebook_stride)
    enc = pq_encode(corpus, cb, m_sub, d_sub).join(corpus_cells, "vec_id")
    qry = with_quantized(queries if queries is not None else df, id_col, vec_col)
    qry_cells = ivf_assign(qry, cents, n_probe).select(
        F.col("vec_id").alias("query_id"), "list_id"
    )
    lut = pq_lut(qry, cb, m_sub, d_sub)
    # each corpus vector is in exactly one cell and each query probes
    # distinct cells, so a (query, neighbor) pair survives at most once
    scored = (
        enc.join(F.broadcast(qry_cells), "list_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .join(F.broadcast(lut), ["query_id", "m", "cw"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dotv").alias("adc_dot"))
    )
    return _per_query_topk(scored, "adc_dot", k, round_score=False)


def ivfpq_residual_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame | None = None,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 3,
    centroid_stride: int = 7,
    m_sub: int = 32,
    k_codes: int = 64,
    codebook_stride: int = 5,
    dim: int = 64,
    train_iters: int = 10,
    cents: DataFrame | None = None,
    corpus_assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the textbook IVFADC (Jégou
    2011 §IV.B): codes quantize the residual ``x − c(x)`` relative to
    the vector's coarse centroid rather than the raw vector, so the
    codebook spends its bits on the (much smaller) within-cell spread.
    Scoring is exact by linearity: dot(q, c + code) = dot(q, c) +
    dot(q, code) — the per-(query, probed-cell) coarse term rides the
    probe list, the fine term is the standard broadcast ADC LUT; both
    are exact integers. The residual codebook is Lloyd-trained
    (pq_codebook_trained, bounded-sample driver build) — residuals
    have no natural stride-seed structure, so training matters more
    here than for raw PQ (measured at sf0.01: raw-seed 0.58 →
    residual-trained 0.68 recall@5 against a 0.76 probe ceiling).

    Plan shape is ivfpq_topk's plus one broadcast join (the centroid
    subtraction at index-build time): cell assignment, residual
    computation and PQ encode are each one broadcast join over the
    corpus; the query path touches only the probed cells' code rows.
    """
    d_sub = dim // m_sub
    if corpus_assigned is not None:
        # shared quantize+assign pass (see ivf_topk's contract): the
        # assigned frame already carries (vec_id, q, n2, list_id), so
        # the residual needs only the centroid-subtraction broadcast
        # join — no corpus⋈cells rejoin
        if cents is None:
            raise ValueError(
                "ivfpq_residual_topk: corpus_assigned requires the "
                "cents it was assigned against"
            )
        assigned = corpus_assigned
    else:
        corpus = with_quantized(df, id_col, vec_col)
        if cents is None:
            cents = ivf_seed_centroids(corpus, n_lists, centroid_stride)
        assigned = corpus.join(
            ivf_assign(corpus, cents, 1).select("vec_id", "list_id"),
            "vec_id",
        )
    res = (
        assigned.join(
            F.broadcast(cents.select("list_id", F.col("cq").alias("cvec"))),
            "list_id",
        )
        .select(
            "vec_id",
            F.zip_with("q", "cvec", lambda x, c: x - c).alias("q"),
            "list_id",
        )
        # four consumers read the residual frame (codebook seeds, the
        # bounded training collect, the encode pass, the list_id
        # re-join) and each would otherwise replay the scan + cell
        # assignment + centroid subtraction (guide §2.4); checkpoint
        # it so the residual pipeline runs once
        .localCheckpoint()
    )
    cb = pq_codebook_trained(
        res.select("vec_id", "q"),
        m_sub,
        d_sub,
        k_codes,
        codebook_stride,
        iters=train_iters,
    )
    enc = pq_encode(res.select("vec_id", "q"), cb, m_sub, d_sub).join(
        res.select("vec_id", "list_id"), "vec_id"
    )
    qry = with_quantized(queries if queries is not None else df, id_col, vec_col)
    probed = ivf_assign(qry, cents, n_probe)
    qc = probed.join(F.broadcast(cents), "list_id").select(
        F.col("vec_id").alias("query_id"),
        "list_id",
        dot_q(F.col("q"), F.col("cq")).alias("qc_dot"),
    )
    lut = pq_lut(qry, cb, m_sub, d_sub)
    scored = (
        enc.join(F.broadcast(qc), "list_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .join(F.broadcast(lut), ["query_id", "m", "cw"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        # qc_dot is constant within the group (a vector lives in ONE
        # cell); min() is the deterministic way to ride it through
        .agg((F.min("qc_dot") + F.sum("dotv")).alias("adc_dot"))
    )
    return _per_query_topk(scored, "adc_dot", k, round_score=False)


def mmr_rerank(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame,
    k: int = 5,
    pool: int = 12,
) -> DataFrame:
    """MMR-diversified top-k (Carbonell & Goldstein 1998): from each
    query's exact top-``pool`` cosine candidates, greedily select
    ``k`` results maximizing λ·rel(c) − (1−λ)·max_{s∈selected}
    sim(c, s) with λ = 0.7 — the standard redundancy-pruning re-rank
    between retrieval and consumption. Returns
    (query_id, rank, neighbor_id, relevance, mmr_score).

    Determinism contract: relevance and candidate-pair similarities
    are the house rounded-6dp cosines ridden as DECIMAL(18,6); the MMR
    objective is kept ×10 (score10 = 7·rel − 3·maxsim, exact decimal —
    no float compare anywhere), and each greedy step's argmax is a
    lexicographic struct max (score10 desc, neighbor_id asc) — so any
    engine replays the selection bit-identically.

    Distributed shape: candidate generation is the brute-force scorer
    (swap in any ANN retriever at scale — MMR only needs a pool);
    pair similarities are a pool×pool self-join per query (pool² rows,
    bounded by construction, never corpus-sized); the greedy loop is
    ONE codegen'd fold of ``k`` steps over the per-query candidate
    array — no per-step stage, no driver round trips."""
    pool_df = brute_force_topk(df, id_col, vec_col, queries, k=pool)
    corpus = with_quantized(df, id_col, vec_col)
    cand = (
        pool_df.select(
            "query_id",
            "neighbor_id",
            F.col("cosine").cast("decimal(18,6)").alias("rel"),
        )
        .join(corpus, F.col("neighbor_id") == F.col("vec_id"))
        .select("query_id", "neighbor_id", "rel", "q", "n2")
    )
    sims = (
        cand.alias("a")
        .join(
            cand.alias("b"),
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.neighbor_id") != F.col("b.neighbor_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.neighbor_id").alias("sa"),
            F.col("b.neighbor_id").alias("sb"),
            F.round(
                cosine_q(
                    dot_q(F.col("a.q"), F.col("b.q")),
                    F.col("a.n2"),
                    F.col("b.n2"),
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("pv"),
        )
    )
    cands_row = cand.groupBy("query_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("neighbor_id").alias("nid"), F.col("rel"))
            )
        ).alias("cands")
    )
    sims_row = sims.groupBy("query_id").agg(
        F.collect_list(F.struct("sa", "sb", "pv")).alias("sims")
    )
    row = cands_row.join(sims_row, "query_id")

    zero6 = F.lit("0").cast("decimal(18,6)")
    sel_t = "array<struct<nid:bigint,score10:decimal(28,6),rel:decimal(18,6)>>"

    def lookup(cn, sn):
        # pair-sim lookup filters on BOTH id fields — a packed
        # composite key (a·10^6 + b) would silently collide once ids
        # reach 1e6 (or go negative), mis-pricing the redundancy
        # penalty at exactly the corpus scales this targets
        return F.element_at(
            F.filter(
                F.col("sims"), lambda e: (e["sa"] == cn) & (e["sb"] == sn)
            ),
            1,
        )["pv"]

    def step(sel, _):
        remaining = F.filter(
            F.col("cands"),
            lambda c: ~F.exists(sel, lambda s: s["nid"] == c["nid"]),
        )
        scored = F.transform(
            remaining,
            lambda c: F.struct(
                (
                    c["rel"] * 7
                    - F.coalesce(
                        F.array_max(
                            F.transform(
                                sel, lambda s: lookup(c["nid"], s["nid"])
                            )
                        ),
                        zero6,
                    )
                    * 3
                )
                .cast("decimal(28,6)")
                .alias("score10"),
                (-c["nid"]).alias("negnid"),
                c["rel"].alias("rel"),
            ),
        )
        best = F.array_max(scored)
        return F.when(
            F.size(remaining) > 0,
            F.concat(
                sel,
                F.array(
                    F.struct(
                        (-best["negnid"]).alias("nid"),
                        best["score10"].alias("score10"),
                        best["rel"].alias("rel"),
                    )
                ),
            ),
        ).otherwise(sel)

    init = F.array().cast(sel_t)
    sel_final = F.aggregate(F.sequence(F.lit(1), F.lit(k)), init, step)
    return (
        row.select("query_id", F.posexplode(sel_final).alias("pos", "s"))
        .select(
            "query_id",
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("s")["nid"].alias("neighbor_id"),
            F.col("s")["rel"].cast("double").alias("relevance"),
            F.round(F.col("s")["score10"].cast("double") / 10, 6).alias(
                "mmr_score"
            ),
        )
        .orderBy("query_id", "rank")
    )


def rerank_exact(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    shortlist: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact-cosine re-rank of an ANN shortlist — stage two of the
    production retrieval pattern (compressed index for RECALL, exact
    scoring of the surviving sliver for PRECISION; Jégou 2011 §V).
    ``shortlist`` carries (query_id, neighbor_id) from any retriever
    in this module; only those pairs are rescored against the original
    vectors, so the exact-scoring cost is |queries|·shortlist_len
    regardless of corpus size. Returns the house top-k frame
    (query_id, rank, neighbor_id, cosine) with the standard
    (cosine desc, neighbor_id asc) tie-break."""
    corpus = with_quantized(df, id_col, vec_col)
    qry = with_quantized(queries, id_col, vec_col)
    scored = (
        shortlist.select("query_id", "neighbor_id")
        .join(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("q").alias("cq"),
                F.col("n2").alias("cn2"),
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                qry.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("q").alias("pq"),
                    F.col("n2").alias("pn2"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine_q(
                dot_q(F.col("pq"), F.col("cq")), F.col("pn2"), F.col("cn2")
            ).alias("cosine"),
        )
    )
    return _per_query_topk(scored, "cosine", k)
