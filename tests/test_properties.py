"""Property-based tests (hypothesis) for the cleaning expressions —
the paths where a single malformed row at 100 TB must degrade to NULL,
never kill the job or silently shift a value."""

from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from city_payroll_data_pipeline_spark.functions.cleaning import (
    money_to_double,
    nullif_zero,
    zero_fill,
)


def _parse(spark, raw: list[str | None]) -> list:
    df = spark.createDataFrame([(v,) for v in raw], schema="raw string")
    return [r["v"] for r in df.select(money_to_double(F.col("raw")).alias("v")).collect()]


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.decimals(
            min_value=Decimal("-10000000"),
            max_value=Decimal("10000000"),
            places=2,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=8,
    ),
    st.booleans(),
    st.booleans(),
)
def test_money_parse_roundtrip(spark, values, dollar_sign, commas):
    """Any $-and-comma formatted 2dp decimal parses back to its exact
    value (2dp decimals are exactly representable paths through the
    double parse used here)."""
    raw = []
    for v in values:
        s = f"{v:,.2f}" if commas else f"{v:.2f}"
        if dollar_sign:
            s = ("-" if s.startswith("-") else "") + "$" + s.lstrip("-")
        raw.append(s)
    parsed = _parse(spark, raw)
    assert parsed == [pytest.approx(float(v), abs=0) for v in values]


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(min_size=1, max_size=12), min_size=1, max_size=6))
def test_money_parse_never_raises(spark, garbage):
    """Arbitrary junk strings parse to NULL or a float — never an
    exception (try_cast holds even with session ANSI mode ON)."""
    parsed = _parse(spark, garbage)
    assert all(p is None or isinstance(p, float) for p in parsed)


def test_guard_composition(spark):
    """zero_fill(nullif_zero(x)) — the reference's divide guard +
    default policy: 0 → NULL → default; NULL → default; else passthrough."""
    df = spark.createDataFrame([(0.0,), (None,), (2.5,)], schema="x double")
    out = [
        r["y"]
        for r in df.select(
            zero_fill(nullif_zero(F.col("x")), 9.0).alias("y")
        ).collect()
    ]
    assert out == [9.0, 9.0, 2.5]


@settings(max_examples=15, deadline=None)
@given(st.lists(st.text(max_size=60), min_size=1, max_size=8))
def test_fingerprint_whitespace_invariance(spark, texts):
    """The content fingerprint must be invariant under whitespace
    reflow (the exact-dedup contract) and never null on any input."""
    import re

    from city_payroll_data_pipeline_spark.functions.text import (
        content_fingerprint,
    )

    def reflow(s: str) -> str:
        return "  " + re.sub(r"[ \t]", lambda m: m.group(0) * 2, s) + "\t"

    rows = [(t, reflow(t)) for t in texts]
    df = spark.createDataFrame(rows, schema="a string, b string").select(
        content_fingerprint(F.col("a")).alias("fa"),
        content_fingerprint(F.col("b")).alias("fb"),
    )
    for r in df.collect():
        assert r["fa"] is not None and r["fa"] == r["fb"]


@settings(max_examples=15, deadline=None)
@given(st.lists(st.text(alphabet="ab x", max_size=30), min_size=1, max_size=8))
def test_shingle_count_law(spark, texts):
    """len(shingles(t, n)) == max(0, n_tokens - n + 1) for every doc."""
    from city_payroll_data_pipeline_spark.functions.text import (
        shingles,
        tokens_array,
    )

    df = spark.createDataFrame([(t,) for t in texts], schema="text string").select(
        F.size(tokens_array(F.col("text"))).alias("n_tok"),
        F.size(shingles(tokens_array(F.col("text")), 3)).alias("n_sh"),
    )
    for r in df.collect():
        assert r["n_sh"] == max(0, r["n_tok"] - 2)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10**6), min_size=12, max_size=40
    ),
    st.integers(min_value=2, max_value=8),
)
def test_bucket_expr_monotone_total(spark, values, n_buckets):
    """Sketch+map binning laws on arbitrary integer columns: every row
    gets a bucket in [1, n]; bucket assignment is monotone in the
    value."""
    from city_payroll_data_pipeline_spark.operators.binning import (
        with_quantile_buckets,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], schema="id long, x long"
    )
    out = with_quantile_buckets(df, "x", n_buckets).collect()
    assert all(1 <= r["bucket"] <= n_buckets for r in out)
    by_val = sorted(out, key=lambda r: r["x"])
    buckets = [r["bucket"] for r in by_val]
    assert buckets == sorted(buckets)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1,
        max_size=12,
    )
)
def test_bpe_trainer_matches_reference_on_random_corpora(spark, words):
    """The distributed BPE trainer agrees merge-for-merge with the
    sequential reference algorithm on arbitrary small corpora —
    including heavy-tie cases ('aaa...' words), where the
    lexicographic tie-break must pick identically."""
    from city_payroll_data_pipeline_spark.operators.bpe import train_bpe
    from tests.test_training_ops import _reference_bpe

    corpus = spark.createDataFrame([(" ".join(words),)], "text string")
    hist: dict[str, int] = {}
    for w in words:
        hist[w] = hist.get(w, 0) + 1
    got = train_bpe(corpus, "text", n_merges=4)
    want = _reference_bpe(hist, 4)
    assert got == want, f"{words}: {got} != {want}"


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=-1000, max_value=1000),
             min_size=1, max_size=40, unique=True),
    st.integers(min_value=1, max_value=6),
)
def test_stable_row_ids_match_global_row_number(spark, keys, n_shards):
    """For ANY unique key set and shard count, the sharded two-phase
    numbering equals the single-reducer ROW_NUMBER result."""
    from city_payroll_data_pipeline_spark.operators.rowids import stable_row_ids

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r["k"]: r["row_id"]
        for r in stable_row_ids(df, "k", n_shards=n_shards).collect()
    }
    want = {k: i + 1 for i, k in enumerate(sorted(keys))}
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
        min_size=1,
        max_size=30,
    ),
    st.integers(min_value=2, max_value=7),
    st.booleans(),
)
def test_ntile_no_global_sort_matches_window_with_nulls(
    spark, values, n_buckets, descending
):
    """The sharded NTILE equals Spark's own NTILE window for ANY
    value distribution — including NULL values (ADVICE r4: the join
    back must be null-safe so NULL rows are binned, not dropped) and
    heavy ties."""
    from pyspark.sql import Window as W

    from city_payroll_data_pipeline_spark.operators.ntile import (
        ntile_no_global_sort,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id long, v long"
    )
    got = {
        r["id"]: r["bucket"]
        for r in ntile_no_global_sort(
            df, n_buckets, "v", "id", descending=descending
        ).collect()
    }
    order = F.col("v").desc() if descending else F.col("v").asc()
    w = W.orderBy(order, "id")
    want = {
        r["id"]: r["bucket"]
        for r in df.withColumn(
            "bucket", F.ntile(n_buckets).over(w)
        ).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),
            st.integers(min_value=-3, max_value=3),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda x: x[0],
    ),
    st.integers(min_value=1, max_value=5),
)
def test_sharded_sweep_matches_global_window(spark, ticks, n_shards):
    """For ANY (t, net) tick set and shard count, the sharded
    running-count + cross-shard lead equals the single-reducer
    window form — the equivalence the r5 peak_concurrency /
    session_coverage rewrites rest on."""
    from pyspark.sql import Window as W

    from city_payroll_data_pipeline_spark.suite.advanced import (
        _sharded_sweep,
    )

    df = spark.createDataFrame(ticks, "t long, net long")
    got = {
        r["t"]: (r["active"], r["t_next"])
        for r in _sharded_sweep(df, n_shards=n_shards).collect()
    }
    w = W.orderBy("t")
    want = {
        r["t"]: (r["active"], r["t_next"])
        for r in df.withColumn(
            "active",
            F.sum("net").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
        .withColumn("t_next", F.lead("t").over(w))
        .collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=12),
        min_size=2,
        max_size=10,
    )
)
def test_prefix_jaccard_equals_brute_force(spark, tokenlists):
    """Lossless claim under random corpora: prefix-filtered pairs ==
    brute-force exact Jaccard pairs over the same hashed shingles."""
    from itertools import combinations

    from city_payroll_data_pipeline_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    docs = [(i, " ".join(toks * 2)) for i, toks in enumerate(tokenlists)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_jaccard_pairs(df, "doc_id", "text", shingle_n=2,
                                      threshold=0.5).collect()
    }

    def sh2(toks):
        t = (toks * 2)
        return {" ".join(t[i:i + 2]) for i in range(len(t) - 1)}

    want = set()
    for (ia, ta), (ib, tb) in combinations(enumerate(tokenlists), 2):
        a, b = sh2(ta), sh2(tb)
        if a and b and len(a & b) / len(a | b) >= 0.5:
            want.add((min(ia, ib), max(ia, ib)))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.sampled_from("abcdefghij"), min_size=5, max_size=120),
    st.integers(min_value=1, max_value=8),
)
def test_heavy_hitters_exact_on_random_multisets(spark, toks, nparts):
    """For ANY multiset and partitioning, the two-pass result equals
    the exact ground truth at epsilon=0.15 (pigeonhole guarantee +
    exact recheck ⇒ partitioning independence)."""
    from collections import Counter

    from city_payroll_data_pipeline_spark.operators.heavyhitters import (
        heavy_hitters,
    )

    eps = 0.15
    df = spark.createDataFrame([(t,) for t in toks], "tok string").repartition(
        nparts
    )
    got = {r["tok"]: r["cnt"] for r in heavy_hitters(df, "tok", eps).collect()}
    truth = {
        t: c for t, c in Counter(toks).items() if c > eps * len(toks)
    }
    assert got == truth


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10_000),
                min_size=1, max_size=60, unique=True))
def test_rendezvous_minimal_reassignment_property(spark, keys):
    """HRW theorem on random key sets: removing the last shard moves
    exactly the keys assigned to it and nothing else."""
    from pyspark.sql import functions as F

    from city_payroll_data_pipeline_spark.suite.advanced import _hrw_assign

    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    key = F.col("doc_id").cast("string")
    rows = df.select(
        "doc_id",
        _hrw_assign(key, 8).alias("before"),
        _hrw_assign(key, 7).alias("after"),
    ).collect()
    for r in rows:
        if r["before"] == 7:
            assert r["after"] != 7
        else:
            assert r["after"] == r["before"], r


@settings(max_examples=8, deadline=None)
@given(st.data())
def test_viterbi_matches_exhaustive_enumeration(spark, data):
    """Unigram-LM Viterbi (one codegen'd fold, operators/bpe.py) vs an
    EXHAUSTIVE enumeration of every segmentation: on random vocabs and
    words the DP must return the max total log-prob and, among
    max-score segmentations, the minimum piece count — exactly."""
    from city_payroll_data_pipeline_spark.operators.bpe import (
        viterbi_piece_table,
    )

    alpha = "abc"
    multi = [
        x + y for x in alpha for y in alpha
    ] + [x + y + z for x in alpha for y in alpha for z in alpha]
    chosen = data.draw(
        st.lists(st.sampled_from(multi), max_size=8, unique=True)
    )
    pieces = list(alpha) + chosen  # single chars always covered
    lps = {
        p: data.draw(
            st.decimals(
                min_value=Decimal("-9.99"),
                max_value=Decimal("-0.01"),
                places=2,
            ),
            label=f"lp[{p}]",
        )
        for p in pieces
    }
    words = data.draw(
        st.lists(
            st.text(alphabet=alpha, min_size=1, max_size=7),
            min_size=1,
            max_size=5,
            unique=True,
        )
    )

    def enumerate_segs(w):
        if not w:
            yield (Decimal(0), 0)
            return
        for j in range(1, min(3, len(w)) + 1):
            if w[:j] in lps:
                for sc, np_ in enumerate_segs(w[j:]):
                    yield (sc + lps[w[:j]], np_ + 1)

    def best(w):
        segs = list(enumerate_segs(w))
        top = max(sc for sc, _ in segs)
        return (min(np_ for sc, np_ in segs if sc == top), top)

    vdf = spark.createDataFrame(
        [(p, len(p), lps[p]) for p in pieces],
        "piece string, plen int, lp decimal(18,6)",
    )
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: (r["n_vit"], Decimal(r["logprob"]))
        for r in viterbi_piece_table(wdf, vdf, 3).collect()
    }
    assert got == {w: best(w) for w in words}


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=1, max_size=1500))
def test_audio_frame_stats_matches_naive(pcm):
    """Vectorized reduceat framing vs a naive per-sample Python loop on
    arbitrary byte buffers (any length, incl. short final frames)."""
    from city_payroll_data_pipeline_spark.functions.multimodal import (
        AUDIO_FRAME,
        AUDIO_SILENT_T,
        audio_frame_stats,
    )

    s = [b - 128 for b in pcm]
    frames = [
        s[i : i + AUDIO_FRAME] for i in range(0, len(s), AUDIO_FRAME)
    ]
    energies = [sum(v * v for v in f) for f in frames]
    want = (
        len(s),
        len(frames),
        sum(energies),
        max(energies),
        sum(e < AUDIO_SILENT_T for e in energies),
        max(abs(v) for v in s),
    )
    assert audio_frame_stats(pcm) == want


def test_audio_frame_stats_empty_buffer_is_zero_tuple():
    """ADVICE r7: an empty buffer returns the natural zero tuple
    instead of tripping an opaque empty-reduction numpy error."""
    from city_payroll_data_pipeline_spark.functions.multimodal import (
        audio_frame_stats,
    )

    assert audio_frame_stats(b"") == (0, 0, 0, 0, 0, 0)


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=1, max_value=40), st.integers(min_value=7, max_value=64), st.integers(min_value=0, max_value=2**32 - 1))
def test_dhash_matches_naive_bit_loop(h, w, seed):
    """Vectorized dHash vs a naive per-bit double loop over the
    nearest-neighbor downsample, on random image shapes/content."""
    import numpy as np

    from city_payroll_data_pipeline_spark.functions.multimodal import (
        DHASH_GRID_H,
        DHASH_GRID_W,
        dhash60,
        resize_nearest,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    small = resize_nearest(img, DHASH_GRID_W + 1, DHASH_GRID_H)
    want = 0
    for r in range(DHASH_GRID_H):
        for c in range(DHASH_GRID_W):
            if int(small[r, c]) > int(small[r, c + 1]):
                want |= 1 << (r * DHASH_GRID_W + c)
    assert dhash60(img) == want


@settings(max_examples=5, deadline=None)
@given(st.data())
def test_unigram_em_fit_matches_python_reference(spark, data):
    """The distributed hard-EM unigram trainer (operators/bpe.py::
    unigram_em_fit — seed/E/M entirely in DataFrames) vs an
    independent pure-Python EM on random word histograms: the final
    (piece, cnt, lp) table must match exactly, lp included (the
    Python side mirrors Spark's ROUND-on-double semantics: shortest
    decimal repr quantized HALF_UP to 6 dp)."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP

    from city_payroll_data_pipeline_spark.operators.bpe import (
        unigram_em_fit,
    )

    lmax, top_m, n_iters = 3, 5, 2
    words = data.draw(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=6),
            min_size=1,
            max_size=6,
            unique=True,
        )
    )
    occs = {
        w: data.draw(st.integers(min_value=1, max_value=5), label=f"occ[{w}]")
        for w in words
    }

    def q6(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )

    def lp_table(counts: dict) -> dict:
        total = sum(counts.values())
        return {p: q6(math.log(c / total)) for p, c in counts.items()}

    def viterbi(w: str, lps: dict) -> list:
        # dp[e] = (score, backpointer j); ties (max score, max j)
        dp = [(Decimal(0), 0)] + [None] * len(w)
        for e in range(1, len(w) + 1):
            best = None
            for j in range(1, min(lmax, e) + 1):
                piece = w[e - j : e]
                if piece in lps and dp[e - j] is not None:
                    cand = (dp[e - j][0] + lps[piece], j)
                    if best is None or cand > best:
                        best = cand
            dp[e] = best
        parts, pos = [], len(w)
        while pos > 0:
            j = dp[pos][1]
            parts.append(w[pos - j : pos])
            pos -= j
        return parts

    # seed: occurrence-weighted substring counts
    seed = Counter()
    for w, occ in occs.items():
        for s in range(len(w)):
            for l in range(1, min(lmax, len(w) - s) + 1):
                seed[w[s : s + l]] += occ
    chars = {p for p in seed if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in seed.items() if len(p) > 1),
        key=lambda t: (-t[1], t[0]),
    )[:top_m]
    counts = {p: seed[p] for p in chars}
    counts.update(dict(multi))
    for _ in range(n_iters):
        lps = lp_table(counts)
        usage = Counter()
        for w, occ in occs.items():
            for p in viterbi(w, lps):
                usage[p] += occ
        counts = {c: usage.get(c, 0) + 1 for c in chars}
        for p, u in usage.items():
            if len(p) > 1:
                counts[p] = u + 1
    want = {(p, c, lp_table(counts)[p]) for p, c in counts.items()}

    wo = spark.createDataFrame(
        [(w, occs[w]) for w in words], "word string, w_occ long"
    )
    got = {
        (r["piece"], r["cnt"], Decimal(r["lp"]))
        for r in unigram_em_fit(
            wo, lmax=lmax, top_m=top_m, n_iters=n_iters
        ).collect()
    }
    assert got == want


def test_viterbi_segment_unsegmentable_word_is_null():
    """viterbi_segment keeps the dense-grid NULL contract: a word with
    a character no vocabulary piece covers returns all-NULL, never a
    misaligned segmentation (ADVICE r7 discipline)."""
    from pyspark.sql import SparkSession

    from city_payroll_data_pipeline_spark.operators.bpe import (
        viterbi_segment,
    )

    spark = SparkSession.getActiveSession()
    vocab = spark.createDataFrame(
        [("a", 1, Decimal("-1.000000")), ("b", 1, Decimal("-2.000000"))],
        "piece string, plen int, lp decimal(18,6)",
    )
    wdf = spark.createDataFrame([("ab",), ("axb",)], "word string")
    rows = {r["word"]: r for r in viterbi_segment(wdf, vocab, 2).collect()}
    assert rows["axb"]["n_vit"] is None
    assert rows["axb"]["logprob"] is None
    assert rows["axb"]["parts"] is None
    assert rows["ab"]["n_vit"] == 2
    assert sorted(rows["ab"]["parts"]) == ["a", "b"]


@settings(max_examples=6, deadline=None)
@given(st.data())
def test_mmr_rerank_matches_python_greedy(spark, data):
    """The fold-based MMR selection (operators/similarity.py::
    mmr_rerank) vs an independent pure-Python greedy on random
    integer-grid vectors: selected ids, order, and exact ×10 decimal
    scores must match. The Python side mirrors the engine contract —
    rounded-6dp cosine relevances/pair-sims as Decimals, argmax ties
    (max score, min neighbor_id)."""
    import math
    from decimal import ROUND_HALF_UP

    from city_payroll_data_pipeline_spark.operators.similarity import (
        mmr_rerank,
    )

    k, pool = 3, 5
    n = data.draw(st.integers(min_value=8, max_value=12))
    dim = 4
    # first component nonzero: a zero vector has NULL cosine to
    # everything and falls out of pools engine-side, which this test's
    # pure-Python pool mirror deliberately does not model
    vecs = {
        i: [
            data.draw(
                st.integers(min_value=1, max_value=20),
                label=f"v[{i}][0]",
            )
            / 10.0
        ]
        + [
            data.draw(
                st.integers(min_value=-20, max_value=20),
                label=f"v[{i}][{d}]",
            )
            / 10.0
            for d in range(1, dim)
        ]
        for i in range(n)
    }

    def q6(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )

    def cos(a, b):
        qa = [int(math.floor(x * 10000 + 0.5)) for x in vecs[a]]
        qb = [int(math.floor(x * 10000 + 0.5)) for x in vecs[b]]
        dot = sum(x * y for x, y in zip(qa, qb))
        n2a = sum(x * x for x in qa)
        n2b = sum(x * x for x in qb)
        den = math.sqrt(float(n2a) * float(n2b))
        return q6(dot / den) if den > 0 else None

    def ref_mmr(qid):
        scored = sorted(
            ((cos(qid, c), c) for c in vecs if c != qid and cos(qid, c) is not None),
            key=lambda t: (-t[0], t[1]),
        )[:pool]
        cands = [(c, rel) for rel, c in scored]
        sel, out = [], []
        for _ in range(k):
            best = None
            for c, rel in cands:
                if any(c == s for s, _, _ in sel):
                    continue
                ms = max(
                    (cos(c, s) for s, _, _ in sel if cos(c, s) is not None),
                    default=Decimal(0),
                )
                sc10 = rel * 7 - ms * 3
                cand = (sc10, -c, rel)
                if best is None or cand > best:
                    best = cand
            sel.append((-best[1], best[0], best[2]))
        return [(c, sc10, rel) for c, sc10, rel in sel]

    df = spark.createDataFrame(
        [(i, vecs[i]) for i in vecs], "vec_id long, embedding array<float>"
    )
    queries = df.filter(F.col("vec_id") < 2)
    got = {}
    for r in mmr_rerank(df, "vec_id", "embedding", queries, k=k, pool=pool).collect():
        got.setdefault(r["query_id"], []).append(
            (
                r["neighbor_id"],
                q6(r["mmr_score"]),
                q6(r["relevance"]),
            )
        )
    # the operator reports round(score10/10, 6) — mirror that exactly
    # (the internal argmax ran on the unrounded ×10 decimal either way)
    want = {
        qid: [(c, q6(float(sc10) / 10), rel) for c, sc10, rel in ref_mmr(qid)]
        for qid in (0, 1)
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=9),
        st.sets(st.integers(min_value=0, max_value=15), min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    )
)
def test_greedy_max_coverage_matches_python_greedy(spark, incidence):
    """The driver-round greedy (operators/featurehash.py::
    greedy_max_coverage) vs an independent pure-Python greedy on
    random doc→bucket incidences: selection order, marginal gains,
    cumulative coverage, and the zero-gain early stop must match."""
    from city_payroll_data_pipeline_spark.operators.featurehash import (
        greedy_max_coverage,
    )

    k = 4
    covered, want = set(), []
    for r in range(1, k + 1):
        best = None
        for d, bl in incidence.items():
            if any(d == w[1] for w in want):
                continue
            gain = len(bl - covered)
            cand = (gain, -d)
            if best is None or cand > best:
                best = cand
        if best is None or best[0] == 0:
            break
        d = -best[1]
        covered |= incidence[d]
        want.append((r, d, best[0], len(covered)))

    rows = [(d, b) for d, bl in incidence.items() for b in bl]
    feats = spark.createDataFrame(rows, "doc_id long, bucket long")
    got = greedy_max_coverage(feats, k)
    assert got == want


@settings(max_examples=6, deadline=None)
@given(st.data())
def test_pq_codebook_trained_matches_python_reference(spark, data):
    """The bounded-sample Lloyd trainer (operators/similarity.py::
    pq_codebook_trained — numpy on the collected sample) vs an
    independent pure-Python Lloyd on random small integer vector
    sets: identical codebooks. Exercises exactly the semantics the
    DuckDB oracle also replays — int d² argmin with ties → smaller
    cw, floor-of-exact-mean centroid updates, empty codewords frozen —
    so a numpy-specific drift (argmin tie order, dtype overflow,
    float mean) can't hide between the two engine replays."""
    from city_payroll_data_pipeline_spark.operators.similarity import (
        pq_codebook_trained,
    )

    m_sub, d_sub, k_codes, stride = 2, 2, 3, 2
    dim = m_sub * d_sub
    n = data.draw(st.integers(min_value=stride * k_codes, max_value=14))
    vecs = [
        [
            data.draw(
                st.integers(min_value=-50, max_value=50),
                label=f"v[{i}][{j}]",
            )
            for j in range(dim)
        ]
        for i in range(n)
    ]
    iters = data.draw(st.integers(min_value=1, max_value=3))

    # pure-Python reference, no numpy
    cb = {}
    for m in range(m_sub):
        for c in range(k_codes):
            seed = vecs[c * stride]
            cb[(m, c)] = seed[m * d_sub : (m + 1) * d_sub]
    for _ in range(iters):
        assign = {}
        for i, v in enumerate(vecs):
            for m in range(m_sub):
                sub = v[m * d_sub : (m + 1) * d_sub]
                best = min(
                    range(k_codes),
                    key=lambda c: (
                        sum(
                            (a - b) ** 2
                            for a, b in zip(sub, cb[(m, c)])
                        ),
                        c,
                    ),
                )
                assign.setdefault((m, best), []).append(sub)
        for key, subs in assign.items():
            cb[key] = [
                int(
                    __import__("math").floor(
                        float(sum(col)) / len(subs)
                    )
                )
                for col in zip(*subs)
            ]

    # Spark/numpy operator — feed the quantized frame directly
    # (embedding = q/QUANT keeps quantize() a bit-exact round trip
    # only for grid values; bypass it by building q ourselves)
    qdf = spark.createDataFrame(
        [(i, v, sum(x * x for x in v)) for i, v in enumerate(vecs)],
        "vec_id long, q array<bigint>, n2 long",
    )
    got = {
        (r["m"], r["cw"]): list(r["cq"])
        for r in pq_codebook_trained(
            qdf, m_sub, d_sub, k_codes, stride, iters=iters
        ).collect()
    }
    assert got == cb


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=1, max_value=50),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_hits_scaled_matches_python_reference(spark, raw_edges):
    """The integer-scaled HITS operator (operators/graph.py::
    hits_scaled) vs an independent pure-Python replay on random small
    weighted digraphs: hub and authority fixed-point vectors must
    match exactly after every sum-normalized half-step (truncating
    div, ties and zero-mass nodes included). The DuckDB oracle unrolls
    the same formula, so this guards against a Spark-plan drift (join
    nullability, decimal promotion) the oracle would share."""
    from city_payroll_data_pipeline_spark.operators.graph import (
        SCALE,
        hits_scaled,
    )

    # collapse duplicate (src, dst) pairs the way an edge aggregation
    # would, and drop self-loop-free requirements (HITS allows loops)
    w = {}
    for s, d, wt in raw_edges:
        w[(s, d)] = w.get((s, d), 0) + wt
    nodes = sorted({s for s, _ in w} | {d for _, d in w})
    n = len(nodes)
    iters = 4

    hub = {v: SCALE // n for v in nodes}
    auth = {}
    for _ in range(iters):
        raw = {v: 0 for v in nodes}
        for (s, d), wt in w.items():
            raw[d] += hub[s] * wt
        total = sum(raw.values())
        auth = {v: raw[v] * SCALE // total for v in nodes}
        raw = {v: 0 for v in nodes}
        for (s, d), wt in w.items():
            raw[s] += auth[d] * wt
        total = sum(raw.values())
        hub = {v: raw[v] * SCALE // total for v in nodes}

    edges = spark.createDataFrame(
        [(s, d, wt) for (s, d), wt in w.items()],
        "src long, dst long, weight long",
    )
    got = {
        r["node"]: (r["hub_scaled"], r["auth_scaled"])
        for r in hits_scaled(edges, iters=iters).collect()
    }
    assert got == {v: (hub[v], auth[v]) for v in nodes}
    # collect_bound fast path (r11): the driver fixed point must be
    # BIT-IDENTICAL to the distributed loop on the same graph — this is
    # the equality certificate the trade-graph queries rely on
    got_fast = {
        r["node"]: (r["hub_scaled"], r["auth_scaled"])
        for r in hits_scaled(edges, iters=iters, collect_bound=100).collect()
    }
    assert got_fast == got


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=1, max_value=50),
        ),
        min_size=1,
        max_size=12,
    ),
    st.sampled_from([None, 0, 3]),
)
def test_pagerank_collected_matches_distributed(spark, raw_edges, seed):
    """pagerank_scaled's collect_bound driver fixed point vs the
    distributed loop on random small weighted digraphs (dangling nodes
    and duplicate pairs included), uniform AND personalized teleport:
    rank vectors must match bit-for-bit — the equality certificate for
    the nation-graph queries' fast path. Also checks the fail-fast
    guard: a bound smaller than the edge list must raise, never
    silently truncate."""
    import pytest as _pytest

    from city_payroll_data_pipeline_spark.operators.graph import (
        pagerank_scaled,
    )

    w = {}
    for s, d, wt in raw_edges:
        w[(s, d)] = w.get((s, d), 0) + wt
    nodes = {s for s, _ in w} | {d for _, d in w}
    teleport = min(nodes) if seed is not None else None
    edges = spark.createDataFrame(
        [(s, d, wt) for (s, d), wt in w.items()],
        "src long, dst long, weight long",
    )
    slow = {
        r["node"]: r["rank_scaled"]
        for r in pagerank_scaled(
            edges, iters=4, teleport_node=teleport
        ).collect()
    }
    fast = {
        r["node"]: r["rank_scaled"]
        for r in pagerank_scaled(
            edges, iters=4, teleport_node=teleport, collect_bound=100
        ).collect()
    }
    assert fast == slow
    if len(w) > 1:
        with _pytest.raises(ValueError, match="collect_bound"):
            pagerank_scaled(edges, iters=1, collect_bound=len(w) - 1)


def test_pagerank_collected_rejects_zero_out_weight(spark):
    """A source whose edges sum to weight 0 is outside pagerank_scaled's
    positive-weight contract: the driver fast path must say so, not
    die in a ZeroDivisionError (hits_scaled's zero-total precedent)."""
    import pytest as _pytest

    from city_payroll_data_pipeline_spark.operators.graph import (
        pagerank_scaled,
    )

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 0), (3, 1, 1)], "src long, dst long, weight long"
    )
    with _pytest.raises(ValueError, match="zero total out-weight"):
        pagerank_scaled(edges, iters=2, collect_bound=100)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # group key
            st.integers(min_value=0, max_value=500),    # start
            st.integers(min_value=0, max_value=400),    # length
        ),
        min_size=1,
        max_size=12,
    )
)
def test_bucketed_overlap_join_matches_brute_force(spark, raw):
    """operators/intervals.py::bucketed_overlap_join vs the O(n²)
    predicate join on random closed intervals — including zero-length
    intervals and endpoints exactly on bucket boundaries, the cases
    where the containing-bucket dedup could double- or zero-count a
    pair. Every qualifying pair must appear EXACTLY once with the
    exact overlap length."""
    from pyspark.sql import functions as F

    from city_payroll_data_pipeline_spark.operators.intervals import (
        bucketed_overlap_join,
    )

    W = 100
    iv = [(g, i, s, s + ln) for i, (g, s, ln) in enumerate(raw)]
    want = {}
    for ga, ia, sa, ea in iv:
        for gb, ib, sb, eb in iv:
            if ga < gb and sa <= eb and sb <= ea:
                want[(ia, ib)] = min(ea, eb) - max(sa, sb)

    a = spark.createDataFrame(
        [(g, i, s, e) for g, i, s, e in iv],
        "ga long, ia long, a_start long, a_end long",
    )
    b = spark.createDataFrame(
        [(g, i, s, e) for g, i, s, e in iv],
        "gb long, ib long, b_start long, b_end long",
    )
    rows = bucketed_overlap_join(
        a, b, "a_start", "a_end", "b_start", "b_end",
        pred=F.col("ga") < F.col("gb"), bucket_width=W,
    ).collect()
    got_list = [((r["ia"], r["ib"]), r["overlap_s"]) for r in rows]
    # exactly-once: a dict comprehension would silently mask a
    # double-counted multi-bucket pair
    assert len(got_list) == len({k for k, _ in got_list})
    assert dict(got_list) == want


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-10**15, max_value=10**15),
        min_size=1,
        max_size=20,
    )
)
def test_holt_fold_matches_python_reference(spark, ys):
    """The Holt level/trend fold (suite/relational.py::_HOLT_FOLD) vs
    a pure-Python replay with explicit truncate-toward-zero division —
    negative values and declining trends included, since trunc-vs-
    floor on negatives is exactly where Spark `div` and a naive
    Python // would diverge (DuckDB's recursive-CTE oracle shares the
    trunc convention; the docstring records the verification)."""
    from pyspark.sql import functions as F

    from city_payroll_data_pipeline_spark.suite.relational import _HOLT_FOLD

    def tdiv(a, b):
        q = abs(a) // b
        return q if a >= 0 else -q

    l, b = ys[0], 0
    for y in ys[1:]:
        nl = tdiv(3 * y + 7 * (l + b), 10)
        nb = tdiv(2 * (nl - l) + 8 * b, 10)
        l, b = nl, nb

    df = spark.createDataFrame(
        [([(i, y) for i, y in enumerate(ys)],)],
        "ser array<struct<m: long, y: long>>",
    )
    row = df.select(F.expr(_HOLT_FOLD).alias("st")).collect()[0]["st"]
    assert (row["l"], row["b"]) == (l, b)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-10**12, max_value=10**12),
        min_size=24,
        max_size=40,
    )
)
def test_holt_winters_state_matches_python_reference(spark, ys):
    """The Holt-Winters init + rotating-seasonal fold
    (suite/relational.py::_hw_state) vs a pure-Python replay with
    explicit truncate-toward-zero division: level, trend, AND the full
    final 12-element seasonal array must match, including series of
    exactly 2m (zero fold steps — pure init path), negative values,
    and negative init sums (trunc-vs-floor divergence territory)."""
    from pyspark.sql import functions as F

    from city_payroll_data_pipeline_spark.suite.relational import (
        _HW_M,
        _hw_state,
    )

    def tdiv(a, b):
        q = abs(a) // b
        return q if a >= 0 else -q

    m = _HW_M
    sum1, sum2 = sum(ys[:m]), sum(ys[m : 2 * m])
    l, b = tdiv(sum2, m), tdiv(sum2 - sum1, m * m)
    s = [y - l for y in ys[m : 2 * m]]
    for y in ys[2 * m :]:
        sm = s[0]
        nl = tdiv(3 * (y - sm) + 7 * (l + b), 10)
        nb = tdiv(2 * (nl - l) + 8 * b, 10)
        s = s[1:] + [tdiv(1 * (y - nl) + 9 * sm, 10)]
        l, b = nl, nb

    df = spark.createDataFrame(
        [([(i, y) for i, y in enumerate(ys)], len(ys))],
        "ser array<struct<m: long, y: long>>, n_months long",
    )
    row = _hw_state(df).collect()[0]["st"]
    assert (row["l"], row["b"], list(row["s"])) == (l, b, s)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.sampled_from(["a", "b", "c"]),
        min_size=0,
        max_size=30,
    )
)
def test_max_run_fold_matches_python_reference(spark, toks):
    """The consecutive-run fold (suite/textops.py::_MAX_RUN_FOLD) vs
    a pure-Python scan on a 3-symbol alphabet (small alphabet forces
    long runs and run-boundary resets); empty docs must yield 0."""
    from pyspark.sql import functions as F

    from city_payroll_data_pipeline_spark.suite.textops import _MAX_RUN_FOLD

    best = run = 0
    prev = None
    for t in toks:
        run = run + 1 if t == prev else 1
        best = max(best, run)
        prev = t

    df = spark.createDataFrame([(toks,)], "toks array<string>")
    got = df.select(F.expr(_MAX_RUN_FOLD).alias("best")).collect()[0]["best"]
    assert got == best


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_morton_expr_matches_python_interleave(spark, pts):
    """The generated Morton expression (suite/analytics.py::
    _morton_expr) vs a pure-Python bit interleave over the full
    16-bit domain — including 0, 65535, and single-bit values."""
    from pyspark.sql import functions as F

    from city_payroll_data_pipeline_spark.suite.analytics import _morton_expr

    def morton(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pts, "x16 long, y16 long")
    rows = df.select(
        "x16", "y16", F.expr(_morton_expr("x16", "y16", "div")).alias("z")
    ).collect()
    for r in rows:
        assert r["z"] == morton(r["x16"], r["y16"]), (r["x16"], r["y16"])


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-100, max_value=100),
            st.integers(min_value=-100, max_value=100),
        ),
        min_size=2,
        max_size=14,
        unique=True,
    )
)
def test_fps_select_matches_python_greedy(spark, pts):
    """operators/clustering.py::fps_select vs an independent
    pure-Python farthest-point greedy on random 2-d integer point
    sets: selection order, selection distances, seed rule, and the
    (dmin DESC, id ASC) tie-break must match exactly."""
    from city_payroll_data_pipeline_spark.operators.clustering import (
        fps_select,
    )

    k = min(5, len(pts))
    ids = list(range(len(pts)))
    want = [(1, 0, None)]  # seed = smallest id
    selected = [0]
    dmin = {
        i: (pts[i][0] - pts[0][0]) ** 2 + (pts[i][1] - pts[0][1]) ** 2
        for i in ids
        if i != 0
    }
    for step in range(2, k + 1):
        best = max(dmin.items(), key=lambda kv: (kv[1], -kv[0]))
        want.append((step, best[0], best[1]))
        sx, sy = pts[best[0]]
        del dmin[best[0]]
        for i in list(dmin):
            d = (pts[i][0] - sx) ** 2 + (pts[i][1] - sy) ** 2
            if d < dmin[i]:
                dmin[i] = d

    df = spark.createDataFrame(
        [(i, [x, y]) for i, (x, y) in enumerate(pts)],
        "vec_id long, q array<bigint>",
    )
    assert fps_select(df, k) == want


@settings(max_examples=8, deadline=None)
@given(st.data())
def test_stylometry_delta_matches_python_reference(spark, data):
    """The MAD-scaled Burrows' Delta pipeline (suite/textops.py::
    q_stylometry_burrows_delta) vs an independent pure-Python replay
    on tiny random corpora — integer scaled frequencies, the exact
    D(w)=Σ|S·F−ΣF| deviation, zero-signal word exclusion, and the
    truncating per-word term division must all match. The DuckDB
    oracle replays the same SQL formula, so this guards against a
    shared-formula blind spot (both engines wrong together)."""
    from city_payroll_data_pipeline_spark.suite import textops as T

    n_sources = data.draw(st.integers(min_value=2, max_value=4))
    # vocabulary LARGER than the top-M cut (M shrunk to 3 below) so
    # the truncation and the (count DESC, term ASC) tie-break actually
    # decide word inclusion — with vocab <= M the limit never fires
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "theta"]
    corpora = {
        f"s{i}": data.draw(
            st.lists(st.sampled_from(words), min_size=1, max_size=30)
        )
        for i in range(n_sources)
    }

    FS, ZS, M = T._DELTA_FREQ_SCALE, T._DELTA_Z_SCALE, 3
    cnt = {}
    for s, toks in corpora.items():
        for w in toks:
            cnt[(s, w)] = cnt.get((s, w), 0) + 1
    tot = {s: len(t) for s, t in corpora.items()}
    gl = {}
    for (s, w), c in cnt.items():
        gl[w] = gl.get(w, 0) + c
    topw = [w for w, _ in sorted(gl.items(), key=lambda kv: (-kv[1], kv[0]))][:M]
    S = n_sources
    F_ = {
        (s, w): cnt.get((s, w), 0) * FS // tot[s]
        for s in corpora
        for w in topw
    }
    sw = {w: sum(F_[(s, w)] for s in corpora) for w in topw}
    dev = {
        w: sum(abs(S * F_[(s, w)] - sw[w]) for s in corpora) for w in topw
    }
    used = [w for w in topw if dev[w] > 0]
    want = {}
    if used:  # zero signal words (all sources identical) → NO pair
        # rows: Delta is undefined with an empty word basis, and both
        # engines drop the pairs at the dev join (hypothesis-found
        # degenerate case, asserted below)
        srcs = sorted(corpora)
        for i, a in enumerate(srcs):
            for b in srcs[i + 1 :]:
                ds = sum(
                    S * S * abs(F_[(a, w)] - F_[(b, w)]) * ZS // dev[w]
                    for w in used
                )
                want[(a, b)] = (ds, len(used))

    rows = [(s, " ".join(toks)) for s, toks in corpora.items()]
    docs = spark.createDataFrame(rows, "source string, text string")

    import city_payroll_data_pipeline_spark.suite as suite_mod

    orig_table = suite_mod.table
    orig_m = T._DELTA_TOP_WORDS
    try:
        suite_mod.table = lambda sp, sf, name, spread=False: docs
        T.table = suite_mod.table
        T._DELTA_TOP_WORDS = M
        out = T.q_stylometry_burrows_delta(spark, "ignored").collect()
    finally:
        suite_mod.table = orig_table
        T.table = orig_table
        T._DELTA_TOP_WORDS = orig_m
    got = {
        (r["source_a"], r["source_b"]): (r["delta_scaled"], r["m_used"])
        for r in out
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(st.data())
def test_quality_probe_solve_matches_fraction_ridge(spark, data):
    """suite/textops.py::_probe_fit_score vs an exact Fraction-based
    ridge solve (A = XᵀX + n·diag(0,1,1,1), w = A⁻¹b, keep ⟺ ŷ ≥ ½)
    on adversarial frames: collinear features (f2 == f1 sometimes, so
    the ridge term is what keeps A invertible) and skewed labels
    (all-0 / all-1 runs are likely under the biased label strategy)."""
    from fractions import Fraction

    from city_payroll_data_pipeline_spark.suite.textops import (
        _PROBE_TRAIN_MOD,
        _probe_fit_score,
    )

    n_rows = data.draw(st.integers(min_value=3, max_value=24))
    collinear = data.draw(st.booleans())
    rows = []
    for i in range(n_rows):
        f1 = data.draw(st.integers(min_value=0, max_value=100))
        f2 = f1 if collinear else data.draw(
            st.integers(min_value=0, max_value=100)
        )
        f3 = data.draw(st.integers(min_value=0, max_value=100))
        # biased toward skew: ~half the examples draw constant labels
        y = data.draw(st.sampled_from([0, 0, 0, 1, 1, 1]))
        rows.append((i, "s", f1, f2, f3, y))
    # the solve needs a non-empty training split
    if not any(r[0] % _PROBE_TRAIN_MOD == 0 for r in rows):
        rows[0] = (0, *rows[0][1:])

    # exact rational reference
    train = [r for r in rows if r[0] % _PROBE_TRAIN_MOD == 0]
    n = len(train)
    A = [[Fraction(0)] * 4 for _ in range(4)]
    b = [Fraction(0)] * 4
    for _, _, f1, f2, f3, y in train:
        x = (1, f1, f2, f3)
        for i in range(4):
            for j in range(4):
                A[i][j] += x[i] * x[j]
            b[i] += x[i] * y
    for i in range(1, 4):
        A[i][i] += n  # λ = n_train, intercept unpenalized
    # Gaussian elimination over Fractions (A is PD, no pivoting needed)
    M = [row[:] + [b[i]] for i, row in enumerate(A)]
    for c in range(4):
        piv = M[c][c]
        assert piv != 0  # PD by construction
        M[c] = [v / piv for v in M[c]]
        for r2 in range(4):
            if r2 != c and M[r2][c] != 0:
                f = M[r2][c]
                M[r2] = [v - f * w for v, w in zip(M[r2], M[c])]
    w = [M[i][4] for i in range(4)]
    want = {
        r[0]: int(
            w[0] + w[1] * r[2] + w[2] * r[3] + w[3] * r[4]
            >= Fraction(1, 2)
        )
        for r in rows
    }

    feats = spark.createDataFrame(
        rows,
        "doc_id long, source string, f1 long, f2 long, f3 long, y long",
    )
    got = {
        r["doc_id"]: r["kp"] for r in _probe_fit_score(feats).collect()
    }
    assert got == want


def _python_bfd(sizes: list[int], ctx: int) -> int:
    """Reference best-fit-decreasing pack count: first occurrence of
    the smallest remainder that fits, else open a new pack."""
    state: list[int] = []
    for sz in sizes:  # caller passes sizes already sorted
        fits = [r for r in state if r >= sz]
        if fits:
            m = min(fits)
            state[state.index(m)] = m - sz
        else:
            state.append(ctx - sz)
    return len(state)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=4096), min_size=1, max_size=30),
    st.sampled_from([256, 512, 1024, 2048, 4096]),
)
def test_packing_bfd_fold_matches_python(spark, raw_sizes, ctx):
    """The packing_bfd_compare fold vs a pure-Python BFD on random
    size lists: identical pack counts for every ctx, including ties
    in remainders (first-occurrence replacement) and zero-size docs."""
    from city_payroll_data_pipeline_spark.suite.textops import (
        q_packing_bfd_compare,
    )

    # build a documents-shaped frame whose token counts equal raw_sizes
    # (token_count counts \S+ runs, so "w " * n has n tokens)
    docs = spark.createDataFrame(
        [
            (i, "w " * sz, "en", "src", len("w " * sz))
            for i, sz in enumerate(raw_sizes)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        out = {
            r["ctx"]: r["n_packs_bfd"]
            for r in q_packing_bfd_compare(spark, d).collect()
        }
    sizes = sorted(
        (min(sz, ctx) for sz in raw_sizes), reverse=True
    )
    assert out[ctx] == _python_bfd(sizes, ctx)


@settings(max_examples=6, deadline=None)
@given(st.data())
def test_kmv_overlap_matches_python_reference(spark, data):
    """suite/mlops.py::q_kmv_source_overlap vs a pure-Python KMV replay
    (hashlib md5 → 48-bit ints → min-k → (k−1)·2⁴⁸/h_k union estimate
    and k-min-of-union Jaccard) plus exact vocabulary overlap, on
    random small corpora — including identical sources (Jaccard 1),
    disjoint vocabularies, and sub-k unions (the exact-count branch)."""
    import hashlib
    import tempfile

    from city_payroll_data_pipeline_spark.suite.mlops import (
        _KMV_K,
        _KMV_SPACE,
        q_kmv_source_overlap,
    )

    # pure-alphabetic vocab: word_tokens extracts [A-Za-z]+ runs, so a
    # digit-bearing word like "w0" would collapse to "w"
    vocab = [
        "w" + chr(97 + i // 26) + chr(97 + i % 26) for i in range(40)
    ]
    n_sources = data.draw(st.integers(min_value=2, max_value=4))
    docs, vocab_by_src = [], {}
    for s in range(n_sources):
        words = data.draw(
            st.lists(st.sampled_from(vocab), min_size=1, max_size=30)
        )
        vocab_by_src[f"s{s}"] = set(words)
        docs.append((s, " ".join(words), "en", f"s{s}", len(" ".join(words))))

    def h48(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:12], 16)

    want = {}
    names = sorted(vocab_by_src)
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            a, b = names[i], names[j]
            va, vb = vocab_by_src[a], vocab_by_src[b]
            ha = sorted({h48(w) for w in va})[:_KMV_K]
            hb = sorted({h48(w) for w in vb})[:_KMV_K]
            union = sorted(set(ha) | set(hb))
            usz = len(union)
            kk = min(_KMV_K, usz)
            hk = union[kk - 1]
            topk = union[:_KMV_K]
            inter_kmv = sum(1 for x in topk if x in set(ha) and x in set(hb))
            est = (
                (_KMV_K - 1) * _KMV_SPACE / hk if usz >= _KMV_K else float(usz)
            )
            # disjoint-vocabulary pairs MUST appear with n_inter = 0
            # (the full-pair-grid contract — a dropped pair would be
            # indistinguishable from pair-not-compared)
            n_inter = len(va & vb)
            want[(a, b)] = (
                len(va),
                len(vb),
                n_inter,
                len(va | vb),
                round(n_inter / len(va | vb), 6),
                kk,
                round(est, 4),
                round(inter_kmv / kk, 6),
            )

    frame = spark.createDataFrame(
        [(i, t, l, s, n) for i, (i2, t, l, s, n) in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        frame.write.parquet(f"{d}/documents.parquet")
        got = {
            (r["source_a"], r["source_b"]): (
                r["na"], r["nb"], r["n_inter"], r["n_union"],
                round(r["jaccard_exact"], 6), r["kmv_k"],
                round(r["kmv_union_est"], 4), round(r["kmv_jaccard"], 6),
            )
            for r in q_kmv_source_overlap(spark, d).collect()
        }
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.data())
def test_shapley_coverage_matches_permutation_enumeration(spark, data):
    """suite/textops.py::_shapley_coverage_micro vs the DEFINITION of
    the Shapley value — Fraction-exact enumeration of all |sources|!
    permutations of the coverage game v(S) = |vocab(S)|. Validates
    both the closed form (each term pays 1/|owners| to every owner)
    and the floored micro-unit arithmetic the query ships, including
    duplicate (source, term) hits that collect_set must dedup."""
    from fractions import Fraction
    from itertools import permutations

    from city_payroll_data_pipeline_spark.suite.textops import (
        _SHAPLEY_MICRO,
        _shapley_coverage_micro,
    )

    n_src = data.draw(st.integers(min_value=2, max_value=5))
    sources = [f"s{i}" for i in range(n_src)]
    n_terms = data.draw(st.integers(min_value=1, max_value=8))
    owner_sets = [
        data.draw(
            st.sets(st.sampled_from(sources), min_size=1),
            label=f"owners_t{j}",
        )
        for j in range(n_terms)
    ]

    perms = list(permutations(sources))
    phi = {s: Fraction(0) for s in sources}
    for perm in perms:
        seen: set = set()
        for s in perm:
            marg = sum(
                1 for os_ in owner_sets if s in os_ and not (os_ & seen)
            )
            phi[s] += Fraction(marg)
            seen.add(s)
    phi = {s: v / len(perms) for s, v in phi.items()}

    rows = [
        (s, f"t{j}") for j, os_ in enumerate(owner_sets) for s in sorted(os_)
    ]
    df = spark.createDataFrame(rows + rows[:2], "source string, term string")
    got = {
        r["source"]: (r["vocab_size"], r["exclusive_terms"], r["shapley_micro"])
        for r in _shapley_coverage_micro(df).collect()
    }
    for s in sources:
        owned = [os_ for os_ in owner_sets if s in os_]
        if not owned:
            assert s not in got
            continue
        closed = sum(Fraction(1, len(os_)) for os_ in owned)
        assert phi[s] == closed  # enumeration == closed form, exact
        want_micro = sum(_SHAPLEY_MICRO // len(os_) for os_ in owned)
        assert got[s] == (
            len(owned),
            sum(1 for os_ in owned if len(os_) == 1),
            want_micro,
        )


@settings(max_examples=10, deadline=None)
@given(st.data())
def test_w1_kernel_matches_python_fraction(spark, data):
    """suite/analytics.py::_w1_vs_corpus_num vs a Fraction-exact
    pure-Python 1-D Wasserstein-1 between each source's empirical CDF
    and the pooled corpus CDF — the integer cross-product numerator
    must equal the exact rational times n_s·n_c."""
    import bisect
    from fractions import Fraction

    from city_payroll_data_pipeline_spark.suite.analytics import (
        _w1_vs_corpus_num,
    )

    n_src = data.draw(st.integers(min_value=1, max_value=4))
    samples = {
        f"s{i}": data.draw(
            st.lists(
                st.integers(min_value=0, max_value=50),
                min_size=1,
                max_size=12,
            ),
            label=f"samples_s{i}",
        )
        for i in range(n_src)
    }
    rows = [(s, v) for s, vs in samples.items() for v in vs]
    pooled = sorted(v for _, v in rows)
    n_c = len(pooled)
    xs = sorted(set(pooled))

    def w1_exact(vals):
        svals = sorted(vals)
        tot = Fraction(0)
        for a, b in zip(xs, xs[1:]):
            f_s = Fraction(bisect.bisect_right(svals, a), len(vals))
            f_c = Fraction(bisect.bisect_right(pooled, a), n_c)
            tot += abs(f_s - f_c) * (b - a)
        return tot

    df = spark.createDataFrame(rows, "source string, x long")
    got = {
        r["source"]: (r["n_s"], r["n_c"], int(r["w1_num"]))
        for r in _w1_vs_corpus_num(df).collect()
    }
    assert set(got) == set(samples)
    for s, vs in samples.items():
        n_s, n_c_got, num = got[s]
        assert (n_s, n_c_got) == (len(vs), n_c)
        assert Fraction(num, n_s * n_c) == w1_exact(vs)


@settings(max_examples=10, deadline=None)
@given(st.data())
def test_bt_mm_matches_python_replay(spark, data):
    """operators/preference.py::bt_mm_scaled vs an independent
    pure-Python replay of the integer-scaled MM iteration — random
    small tournaments including never-winners (W_i = 0, whose
    strength must hit exactly 0 and stay there) and asymmetric
    matchups."""
    from hypothesis import assume

    from city_payroll_data_pipeline_spark.operators.preference import (
        bt_mm_scaled,
    )

    n = data.draw(st.integers(min_value=2, max_value=4))
    players = [f"p{i}" for i in range(n)]
    wins = {}
    for i in range(n):
        for j in range(n):
            if i == j:
                continue
            w = data.draw(
                st.integers(min_value=0, max_value=5), label=f"w_{i}_{j}"
            )
            if w:
                wins[(players[i], players[j])] = w
    assume(wins)

    S = 1_000_000
    n_ij: dict = {}
    for (i, j), w in wins.items():
        n_ij[(i, j)] = n_ij.get((i, j), 0) + w
        n_ij[(j, i)] = n_ij.get((j, i), 0) + w
    plist = sorted({i for i, _ in n_ij})
    w_tot = {p: 0 for p in plist}
    for (i, j), w in wins.items():
        w_tot[i] += w
    p_cur = {p: S for p in plist}
    for _ in range(6):
        d = {p: 0 for p in plist}
        for (i, j), nij in n_ij.items():
            d[i] += (nij * S * S) // (p_cur[i] + p_cur[j])
        praw = {p: (w_tot[p] * S * S) // d[p] for p in plist}
        tp = sum(praw.values())
        p_cur = {p: (praw[p] * len(plist) * S) // tp for p in plist}

    df = spark.createDataFrame(
        [(i, j, w) for (i, j), w in wins.items()], "i string, j string, w long"
    )
    got = {
        r["i"]: (r["w_i"], r["matches"], r["p"])
        for r in bt_mm_scaled(df, iters=6, scale=S).collect()
    }
    want = {
        p: (
            w_tot[p],
            sum(nij for (a, _), nij in n_ij.items() if a == p),
            p_cur[p],
        )
        for p in plist
    }
    assert got == want
