"""Deduplication operators for corpus-scale pipelines.

Four strategies, all compositions of built-in DataFrame ops (no UDFs):

* exact       — hash-groupBy on a normalized-content fingerprint
* minhash+LSH — shingle → k minhashes → band buckets → candidate
                pairs → exact Jaccard verify
* simhash     — 60-bit weighted token hash → pigeonhole block join →
                Hamming verify
* embedding   — cosine near-dup (see operators/similarity.py)

Scale design: every strategy avoids the O(n²) pair space. Exact dedup
shuffles once on the fingerprint. MinHash candidates come from a
self-join on (band_idx, band_hash) — each bucket is tiny if bands are
sized right (b·r = k). SimHash splits the 60-bit hash into
``hamming_max + 1`` blocks: any pair within the Hamming radius shares
at least one exact block (pigeonhole), so the block join has perfect
recall with no pair blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from city_payroll_data_pipeline_spark.functions.text import (
    content_fingerprint,
    shingles,
    token_hash60,
    tokens_array,
)
from city_payroll_data_pipeline_spark.operators.iterate import fixed_point

# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of exact duplicates (by normalized-content fingerprint):
    fingerprint, canonical keeper (min id), group size — only groups
    with >1 member. One shuffle on the 128-bit fingerprint."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            content_fingerprint(F.col(text_col)).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("group_size"),
        )
        .filter(F.col("group_size") > 1)
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per fingerprint (deterministic winner).

    Two-phase, payload-light: the winner per fingerprint is decided on
    a projected (id, fingerprint) frame — 40 bytes/row through the
    shuffle — then a semi join pulls the surviving full rows. The
    one-shuffle window form (row_number over fingerprint) would drag
    every document's full text through the exchange; at corpus scale
    the payload, not the row count, is what melts a shuffle."""
    keep = (
        df.select(
            F.col(id_col),
            content_fingerprint(F.col(text_col)).alias("_fp"),
        )
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def shingle_frame(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """Distinct hashed shingles per doc: (doc_id, a, b) where a/b are
    the two 48-bit halves of md5(shingle) — the shared intermediate of
    the minhash and n-gram-Jaccard pipelines. Callers that reuse it
    should localCheckpoint it (minhash_dedup_pairs does): at corpus
    scale the shingle explosion is the dominant cost and must be paid
    once. localCheckpoint, not persist: these operators return lazy
    frames and can never issue the matching unpersist, and a
    CacheManager entry is pinned until one — checkpoint blocks are
    instead released by the ContextCleaner once the frame is
    unreachable, so repeated calls in a long-lived session don't
    accumulate pinned shingle-scale caches.

    Hashing happens BEFORE the distinct: the dedup shuffle and every
    downstream join carry two bigints (16 bytes) instead of a shingle
    string (~25+ bytes), and the string itself dies inside the map
    stage. 96 identifying bits make cross-shingle collisions
    negligible at any corpus size (~2^-96 per pair).

    The token array is projected into its own column before the
    shingle transform: inlining the tokenizer into the n-gram
    expression makes Catalyst re-evaluate the regex split per element
    reference (O(tokens²) work per doc — measured 5× slower at sf0.1)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        tokens_array(F.col(text_col)).alias("toks"),
    )
    md = F.md5(F.col("shingle"))
    return (
        toks.select(
            "doc_id",
            F.explode(shingles(F.col("toks"), shingle_n)).alias("shingle"),
        )
        .select(
            "doc_id",
            F.conv(F.substring(md, 1, 12), 16, 10).cast("bigint").alias("a"),
            F.conv(F.substring(md, 13, 12), 16, 10).cast("bigint").alias("b"),
        )
        .distinct()
    )


def minhash_signatures_from_shingles(
    sh: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """Per-doc minhash signature: columns h0..h{k-1} (bigint), each the
    min over shingles of the i-th derived hash.

    One md5 per shingle (already paid in shingle_frame): the digest's
    two 48-bit halves (a, b) seed the Kirsch-Mitzenmacher family
    h_i = a + i·b — k independent-enough minhashes for the cost of one
    hash plus k adds (the textbook Bloom/minhash trick). 48-bit halves
    keep a + 15·b < 2^52, so bigint arithmetic never overflows and
    DuckDB reproduces it exactly. One groupBy — partial min
    aggregation happens map-side."""
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.col("a") + i * F.col("b")).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    return minhash_signatures_from_shingles(
        shingle_frame(df, id_col, text_col, shingle_n), num_hashes
    )


def lsh_band_buckets(
    signatures: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(doc_id, band_idx, band_hash): md5 over each band's r=k/b
    signature slots. Banding is the standard S-curve knob: b bands of
    r rows catch pairs with Jaccard ≳ (1/b)^(1/r)."""
    r = num_hashes // bands
    per_band = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws("|", *[F.col(f"h{b * r + j}") for j in range(r)])
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return signatures.select(
        "doc_id", F.explode(F.array(*per_band)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_hash")


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    _shingles: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing ≥1 LSH band."""
    sh = (
        _shingles
        if _shingles is not None
        else shingle_frame(df, id_col, text_col, shingle_n)
    )
    sigs = minhash_signatures_from_shingles(sh, num_hashes)
    buckets = lsh_band_buckets(sigs, num_hashes, bands)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    _shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs:
    |A∩B| via a join on the hashed shingle (a, b), |A∪B| =
    |A|+|B|-|A∩B| (all integer counts → the ratio is
    bit-deterministic)."""
    sh = (
        _shingles
        if _shingles is not None
        else shingle_frame(df, id_col, text_col, shingle_n)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    inter = (
        candidates.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.a") == F.col("sb.a"))
            & (F.col("sa.b") == F.col("sb.b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                / (F.col("za.n_shingles") + F.col("zb.n_shingles") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard ≥ t.

    The shingle frame feeds signature generation, size counts, and the
    intersection join — localCheckpoint it so the explode+distinct
    shuffle is paid once instead of four times (at corpus scale this
    is the dominant cost; see shingle_frame's docstring for why
    checkpoint rather than persist; on a cluster prefer a reliable
    checkpoint dir for 100 TB corpora)."""
    sh = shingle_frame(df, id_col, text_col, shingle_n).localCheckpoint()
    cands = minhash_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_n, _shingles=sh
    )
    return jaccard_verify(
        df, cands, id_col, text_col, shingle_n, threshold, _shingles=sh
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 100,
    min_cooccur: int = 2,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup WITHOUT the minhash/LSH prefilter:
    candidate pairs are documents sharing ≥ ``min_cooccur`` *rare*
    shingles (document frequency ≤ ``max_shingle_df``), then exact
    Jaccard over the FULL shingle sets filters to ≥ threshold.

    Two scale guards on the candidate space:
    * The DF cap — a self-join on raw shingles blows up quadratically
      on boilerplate shingles shared by millions of docs (the classic
      stop-shingle problem). Capping DF bounds the join at O(Σ df²)
      over rare shingles only.
    * Minimum co-occurrence — a pair sharing exactly one rare shingle
      is almost always a random collision, yet at sf0.1 such pairs are
      ~99.8% of candidates (390k → <1k). Any pair that can reach
      Jaccard ≥ 0.5 shares many shingles, so requiring ≥2 shared rare
      shingles trims the verify join without touching real near-dups.
    Unlike minhash, the verify step still uses the complete shingle
    frame — the guards only limit which pairs are *considered*, not
    how they are scored."""
    sh = shingle_frame(df, id_col, text_col, shingle_n).localCheckpoint()
    rare = (
        sh.groupBy("a", "b")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_shingle_df)
        .select("a", "b")
    )
    rsh = sh.join(rare, ["a", "b"])
    cands = (
        rsh.alias("x")
        .join(
            rsh.alias("y"),
            (F.col("x.a") == F.col("y.a"))
            & (F.col("x.b") == F.col("y.b"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("_n_shared"))
        .filter(F.col("_n_shared") >= min_cooccur)
        .select("doc_a", "doc_b")
    )
    return jaccard_verify(
        df, cands, id_col, text_col, shingle_n, threshold, _shingles=sh
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    t_num: int = 9,
    t_den: int = 10,
    max_shingle_df: int = 100,
    min_cooccur: int = 2,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT C(A,B) = |A∩B| / |A| — the
    sub-document duplication detector. Symmetric Jaccard misses a
    small document swallowed verbatim by a much larger one
    (|A∩B|/|A∪B| → |A|/|B| → 0 as B grows), while C(A,B) stays ≈ 1;
    this is the signal for boilerplate-wrapped copies and quote-heavy
    near-dups (cf. Broder's resemblance vs containment split,
    SEQUENCES'97).

    Candidate generation is the rare-shingle co-occurrence join of
    :func:`ngram_jaccard_pairs` (df ≤ ``max_shingle_df``, shared rare
    shingles ≥ ``min_cooccur``), but identity/verify run on the 60-bit
    fold ``c = a·4096 + b mod 4096`` so verification takes the compact
    array path (primitive ``array_intersect`` — 13× faster than the
    struct path, see prefix_jaccard_pairs). The containment gate is a
    cross-multiplied INTEGER comparison
    ``t_den·|A∩B| ≥ t_num·min(|A|,|B|)`` (threshold t_num/t_den kept
    rational — no float compare can disagree across engines), and the
    oracle replays fold, guards, and gate verbatim.

    Scale: one shuffle to distinct the folded shingles, Σ df² bounded
    self-join over rare shingles only, verify on |pairs| rows with
    each doc's set moving once — same budget as the Jaccard twin."""
    sh = shingle_frame(df, id_col, text_col, shingle_n)
    shc = (
        sh.select(
            "doc_id",
            (F.col("a") * 4096 + F.pmod(F.col("b"), 4096)).alias("c"),
        )
        .distinct()
        .localCheckpoint()
    )
    rare = (
        shc.groupBy("c")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_shingle_df)
        .select("c")
    )
    rsh = shc.join(rare, "c")
    cands = (
        rsh.alias("x")
        .join(
            rsh.alias("y"),
            (F.col("x.c") == F.col("y.c"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("_n_shared"))
        .filter(F.col("_n_shared") >= min_cooccur)
        .select("doc_a", "doc_b")
    )
    sets_ = shc.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("c")).alias("s"),
        F.count("*").alias("n"),
    )
    return (
        cands.join(sets_.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sets_.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("za.s", "zb.s"))
            .cast("long")
            .alias("n_common"),
            F.col("za.n").alias("na"),
            F.col("zb.n").alias("nb"),
        )
        .filter(
            F.lit(t_den) * F.col("n_common")
            >= F.lit(t_num) * F.least("na", "nb")
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double") / F.col("na").cast("double"),
                6,
            ).alias("c_ab"),
            F.round(
                F.col("n_common").cast("double") / F.col("nb").cast("double"),
                6,
            ).alias("c_ba"),
        )
        .orderBy("doc_a", "doc_b")
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Prefix-filtered exact Jaccard join (the PPJoin family: Chaudhuri
    et al. SSJoin/ICDE'06, Xiao et al. PPJoin/WWW'08) — the LOSSLESS
    alternative to ``ngram_jaccard_pairs``'s DF-cap heuristics.

    Order every document's shingles by a global total order (ascending
    document frequency — rarest first — tie-broken on the hash) and
    keep only the first |A| − ⌈t·|A|⌉ + 1 as the document's *prefix*.
    Theorem: two sets with Jaccard ≥ t MUST share at least one prefix
    element under any common total order, so joining on prefix
    shingles alone generates a candidate superset with NO false
    negatives — which is why the oracle for this operator is the pure
    brute-force Jaccard SQL with no candidate-stage guards at all.
    A length filter (t·|A| ≤ |B| ∧ t·|B| ≤ |A|, necessary since
    |A∩B| ≤ min and ≥ t·max) prunes size-incompatible pairs inside
    the same join.

    Scale: rarest-first ordering makes prefixes meet almost only on
    rare shingles (the same Σ df² economics as the DF-cap variant, but
    earned instead of assumed), candidate volume shrinks as t grows
    (prefix length → 1 as t → 1), and exactness is preserved — use
    this when missing a true near-dup pair is not acceptable; use
    minhash/LSH when approximate recall is fine and the corpus is too
    hot for exact verification of every candidate.

    At moderate thresholds the prefix is long (t=0.5 → half the set),
    so candidate volume is orders of magnitude above the heuristic
    variants (measured 342k pairs vs <1k at sf0.1) — two design
    choices absorb that:
    * PPJoin's POSITIONAL filter (also lossless): a match at 1-based
      rarity-ranks (i, j) bounds the achievable overlap by
      1 + min(|A|−i, |B|−j), which must reach the Jaccard-≥-t minimum
      overlap t/(1+t)·(|A|+|B|) for the pair to survive.
    * compact verification (:func:`jaccard_verify_compact`): per-pair
      local set intersection over gathered arrays instead of the
      per-shingle-row join — the row-join verify explodes to
      |pairs|·|shingles-per-doc| shuffle rows (45M at sf0.1, measured
      >500 s), the compact one moves each doc's set once and scores
      pairs with codegen'd array_intersect.

    Shingle identity here is a single 60-bit bigint c = a·2^12 +
    (b mod 2^12) folded from the shared (a, b) md5 halves — NOT the
    struct pair: ``array_intersect`` (and the hash joins) take the
    primitive fast path for bigint but an O(n·m) generic path for
    struct elements (measured 13× slower on 300k pair verifications).
    The fold is replayed verbatim by the oracle, so even a collision
    (≈2^-60 per shingle pair) would be mirrored deterministically in
    both engines."""
    from pyspark.sql import Window as W

    sh = shingle_frame(df, id_col, text_col, shingle_n)
    shc = (
        sh.select(
            "doc_id",
            (F.col("a") * 4096 + F.pmod(F.col("b"), 4096)).alias("c"),
        )
        .distinct()
        .localCheckpoint()
    )
    dfreq = shc.groupBy("c").agg(F.count("*").alias("df"))
    ranked = shc.join(dfreq, ["c"])
    w_rank = W.partitionBy("doc_id").orderBy("df", "c")
    w_size = W.partitionBy("doc_id")
    pref = (
        ranked.withColumn("sz", F.count("*").over(w_size))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(
            F.col("rn")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        )
        .select("doc_id", "c", "sz", "rn")
        .localCheckpoint()  # the self-join reads it twice; windows paid once
    )
    min_overlap = (F.lit(threshold) / (1 + threshold)) * (
        F.col("x.sz") + F.col("y.sz")
    )
    cands = (
        pref.alias("x")
        .join(
            pref.alias("y"),
            (F.col("x.c") == F.col("y.c"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            # length filter: |A∩B| ≤ min and ≥ t·max ⇒ sizes within 1/t
            & (F.lit(threshold) * F.col("x.sz") <= F.col("y.sz"))
            & (F.lit(threshold) * F.col("y.sz") <= F.col("x.sz"))
            # positional filter: overlap reachable from ranks (i, j)
            & (
                1 + F.least(
                    F.col("x.sz") - F.col("x.rn"),
                    F.col("y.sz") - F.col("y.rn"),
                )
                >= min_overlap
            ),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return jaccard_verify_compact(cands, shc, threshold)


def jaccard_verify_compact(
    candidates: DataFrame,
    keyed: DataFrame,
    threshold: float,
    key: str = "c",
) -> DataFrame:
    """Exact Jaccard for HIGH-VOLUME candidate sets: gather each doc's
    hashed shingle set into one sorted bigint array row, equi-join the
    two array rows onto each pair, and intersect LOCALLY with the
    primitive-fast-path ``array_intersect`` — O(|pairs|) rows through
    the shuffle instead of the |pairs|·|shingles-per-doc| blow-up of
    the row-level join in :func:`jaccard_verify` (which remains the
    right shape when candidates are few and docs are huge: arrays
    require a doc's shingle set to fit comfortably in a row — true for
    bounded-length training documents, not for unbounded blobs).

    ``keyed``: (doc_id, <key>) distinct frame; key must be a primitive
    (bigint) for the fast path — see prefix_jaccard_pairs' 60-bit
    fold."""
    sets_ = keyed.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(key)).alias("s"),
        F.count("*").alias("n"),
    )
    return (
        candidates.join(
            sets_.alias("za"), F.col("doc_a") == F.col("za.doc_id")
        )
        .join(sets_.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("za.s", "zb.s")).alias("n_common"),
            F.col("za.n").alias("na"),
            F.col("zb.n").alias("nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# Pair clustering (connected components) — the last dedup stage:
# near-dup PAIRS become GROUPS, one canonical keeper per group
# --------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame, max_iters: int = 20
) -> DataFrame:
    """(doc_id, component) for every doc appearing in ``pairs``
    (doc_a < doc_b edges); component = min doc_id in the connected
    group — the canonical keeper.

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbors; converges in
    O(component diameter) rounds (near-dup clusters are shallow — a
    dup of a dup of X is a dup of X, so diameters are small). Each
    round is one join + one groupBy; the loop stops on the first round
    that changes no label and raises after ``max_iters`` rounds without
    one. For billion-edge graphs swap in the large-star/small-star
    contraction (alternating min-label exchange), which cuts rounds to
    O(log n) with the same join primitives."""
    # checkpoint the input first: the bidirectional union traverses
    # `pairs` twice, and with an expensive upstream (the whole minhash
    # pipeline) each branch would recompute it
    pairs = pairs.localCheckpoint()
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint()
    )

    def propagate(labels: DataFrame, _) -> DataFrame:
        neigh = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("component").alias("neigh_min"))
        )
        # the change flag rides the join the update needs, so the
        # convergence count works for ANY orderable id type (a
        # sum-of-labels signal is NULL on string ids and ended the
        # loop after one round)
        return labels.join(neigh, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("component"),
                F.coalesce(F.col("neigh_min"), F.col("component")),
            ).alias("component"),
            F.coalesce(
                F.col("neigh_min") < F.col("component"), F.lit(False)
            ).alias("_changed"),
        )

    labels, _ = fixed_point(
        labels,
        propagate,
        lambda new, _: new.agg(F.count_if("_changed")).collect()[0][0],
        max_iters,
        until=lambda changed: changed == 0,
    )
    return labels.drop("_changed")


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., 'Connected Components in
    MapReduce and Beyond'): every node connects its LARGER neighbors to
    the minimum of its neighborhood (incl. itself) — long chains
    collapse toward small labels in parallel."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("u"), F.col("mn"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient edges (big → small); every node
    rewires its smaller neighbors (and itself) to its minimum."""
    d = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = d.groupBy("u").agg(F.min("v").alias("mn"))
    j = d.join(mins, "u")
    rewired = j.filter(F.col("v") != F.col("mn")).select(
        F.col("v").alias("u"), F.col("mn").alias("v")
    )
    self_edges = j.select("u", F.col("mn").alias("v"))
    return rewired.union(self_edges).distinct()


def connected_components_star(
    pairs: DataFrame, max_iters: int = 50
) -> DataFrame:
    """(doc_id, component) via the alternating large-star/small-star
    contraction — O(log n) rounds on ANY graph shape, vs the
    min-label propagation in :func:`connected_components` whose round
    count is the component diameter. Use this for billion-edge graphs
    whose components may be long chains (linked near-dup shingles,
    citation chains); the simpler propagation wins on shallow near-dup
    clusters. Each round is two groupBy+join passes over the edge
    frame; convergence is an exact set-equality check of consecutive
    (small, post-contraction) edge sets, and ``max_iters`` rounds
    without a fixpoint raise."""
    e = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def changed(new: DataFrame, old: DataFrame) -> int:
        # both edge sets are DISTINCT by construction, so set equality
        # ⟺ the tagged union has no (u, v) whose +1/−1 tags don't
        # cancel: one shuffle, one job
        return (
            new.select("u", "v", F.lit(1).alias("_t"))
            .unionAll(old.select("u", "v", F.lit(-1).alias("_t")))
            .groupBy("u", "v")
            .agg(F.sum("_t").alias("_t"))
            .filter(F.col("_t") != 0)
            .limit(1)
            .count()
        )

    # the star-forest labeling below only holds at the fixpoint, so an
    # unconverged edge set must raise, never be labeled
    e, _ = fixed_point(
        e,
        lambda e, _: _small_star(_large_star(e)),
        changed,
        max_iters,
        until=lambda n: n == 0,
    )
    # converged edge set is a star forest: (node → root); roots appear
    # only on the right — they label themselves
    roots = e.select(F.col("v").alias("u"), F.col("v")).distinct()
    return (
        e.union(roots)
        .distinct()
        .select(F.col("u").alias("doc_id"), F.col("v").alias("component"))
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed bigint


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per doc: per-token 60-bit hashes, count-weighted
    majority vote per bit.

    The 60 bit-votes are 60 aggregate COLUMNS summed directly over
    token OCCURRENCES — ±1 per occurrence. Algebraically identical to
    the textbook per-token-weight formulation (Σ_t sign·count(t) =
    Σ_occurrences sign), but it needs NO (doc_id, token) weight
    pre-aggregation: the only shuffle in the whole signature
    computation is the final groupBy(doc_id), with all 60 vote sums
    partially aggregated map-side in one whole-stage-codegen span.
    Hashing cost rises (md5 per occurrence, not per distinct token)
    but hashing is compute on the map side; the shuffle it removes is
    the scale bottleneck."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_array(F.col(text_col))).alias("token"),
    ).withColumn("th", token_hash60(F.col("token")))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"shiftright(th, {b}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    bit_terms = [
        F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        for b in range(SIMHASH_BITS)
    ]
    acc = bit_terms[0]
    for t in bit_terms[1:]:
        acc = acc + t
    return votes.select("doc_id", acc.alias("simhash"))


def hamming_near_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    hamming_max: int = 3,
    n_bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Pairs with Hamming(sig_a, sig_b) ≤ hamming_max over ANY integer
    bit-signature frame (SimHash, image dHash/aHash, …) via the
    pigeonhole block join: split ``n_bits`` into hamming_max+1 blocks —
    a pair within the radius differs in ≤ hamming_max blocks, so it
    matches exactly on ≥1 block and candidates come from equality
    joins, never a cross join. Output: doc_a < doc_b, hamming.

    Scale: the shuffle key is (block_idx, block_val) — candidate
    generation is bucketed; the corpus never self-joins all-pairs."""
    n_blocks = hamming_max + 1
    width = n_bits // n_blocks
    if width * n_blocks != n_bits:
        raise ValueError(
            f"n_bits={n_bits} must split evenly into {n_blocks} blocks"
        )
    blocks = sigs.select(
        F.col(id_col).alias("doc_id"),
        F.col(sig_col).alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("block_idx"),
                        F.shiftright(F.col(sig_col), j * width)
                        .bitwiseAND((1 << width) - 1)
                        .alias("block_val"),
                    )
                    for j in range(n_blocks)
                ]
            )
        ).alias("blk"),
    ).select("doc_id", "sig", "blk.block_idx", "blk.block_val")
    a, b = blocks.alias("a"), blocks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    return cands.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= hamming_max)


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, hamming_max: int = 3
) -> DataFrame:
    """Pairs with Hamming(simhash_a, simhash_b) ≤ hamming_max — the
    text-SimHash front end over the generic pigeonhole block join
    (:func:`hamming_near_pairs`). Output: doc_a < doc_b, hamming."""
    sims = simhash(df, id_col, text_col)
    return hamming_near_pairs(
        sims, "doc_id", "simhash", hamming_max, SIMHASH_BITS
    )
