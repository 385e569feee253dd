"""Text-analysis + deduplication queries over the ``documents`` table.

The synthetic corpus has no natural duplicates, so the dedup queries
build their own: exact copies (doc_id+100000 for doc_id%10==0),
70%-prefix truncations for minhash, and one-token-appended variants
for simhash — the SAME deterministic synthesis in the Spark plan and
the DuckDB oracle, so the pipelines are exercised on non-trivial
output and still hash-match.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from city_payroll_data_pipeline_spark.functions.text import (
    ALPHA_CHAR_RE,
    LANG_MARKERS,
    PUNCT_CHAR_RE,
    content_fingerprint,
    lang_id,
    lang_marker_pattern,
    quality_features,
    quality_score,
    sanitize_text,
    token_count,
    tokens_array,
    word_tokens,
)
from city_payroll_data_pipeline_spark.operators import bpe, dedup
from city_payroll_data_pipeline_spark.suite import Query, table
from city_payroll_data_pipeline_spark.suite.parity import _sql_round

# --------------------------------------------------------------------------
# Token / length statistics
# --------------------------------------------------------------------------

def q_doc_token_stats(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        token_count(F.col("text")).alias("n_tokens"),
        F.size(word_tokens(F.col("text"))).alias("n_words"),
        F.size(F.array_distinct(word_tokens(F.col("text")))).alias("n_unique_words"),
    )


DOC_TOKEN_STATS_SQL = r"""
SELECT doc_id,
       length(text) AS n_chars,
       len(regexp_extract_all(text, '\S+', 0)) AS n_tokens,
       len(regexp_extract_all(lower(text), '[A-Za-z]+', 0)) AS n_words,
       len(list_distinct(regexp_extract_all(lower(text), '[A-Za-z]+', 0)))
         AS n_unique_words
FROM documents
"""

def q_doc_bpe_tokens(spark, sf_dir):
    """Subword-tokenizer-grade token counting: BPE-style pre-tokens
    (contractions, letter/digit/punctuation runs) next to whitespace
    tokens — the ratio estimates tokens-per-word for corpus budgeting."""
    from city_payroll_data_pipeline_spark.functions.text import bpe_pretoken_count

    docs = table(spark, sf_dir, "documents", spread=True)
    n_ws = token_count(F.col("text"))
    n_bpe = bpe_pretoken_count(F.col("text"))
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.round(
            F.when(n_ws > 0, n_bpe / n_ws.cast("double")), 6
        ).alias("bpe_per_ws"),
    )


# the pattern's leading apostrophe is doubled for the SQL string literal
_BPE_SQL_PATTERN = r"''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"

DOC_BPE_TOKENS_SQL = rf"""
WITH c AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\S+', 0)) AS n_ws_tokens,
         len(regexp_extract_all(text, '{_BPE_SQL_PATTERN}', 0)) AS n_bpe_tokens
  FROM documents
)
SELECT doc_id, n_ws_tokens, n_bpe_tokens,
       {_sql_round('CASE WHEN n_ws_tokens > 0 THEN n_bpe_tokens / CAST(n_ws_tokens AS DOUBLE) END', 6)}
         AS bpe_per_ws
FROM c
"""

# --------------------------------------------------------------------------
# Language identification
# --------------------------------------------------------------------------

def q_doc_lang_id(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    return docs.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_detected"))


def _lang_id_sql() -> str:
    score = {
        lang: f"len(regexp_extract_all(lower(text), '{lang_marker_pattern(lang)}', 0))"
        for lang in LANG_MARKERS
    }
    langs = list(LANG_MARKERS)
    greatest = "greatest(" + ", ".join(f"s_{la}" for la in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{la} = {greatest} THEN '{la}'" for la in langs
    ) + " END"
    scores_sql = ", ".join(f"{expr} AS s_{la}" for la, expr in score.items())
    return f"""
SELECT doc_id, lang,
       CASE WHEN {greatest} > 0 THEN {case} ELSE 'und' END AS lang_detected
FROM (SELECT doc_id, lang, text, {scores_sql} FROM documents)
"""


DOC_LANG_ID_SQL = _lang_id_sql()

# --------------------------------------------------------------------------
# c4_line_filter — line-level boilerplate stripping (the C4 /
# RefinedWeb cleaning family). Document-level quality gates keep or
# drop whole docs; the line filter rescues mostly-good documents by
# dropping only their junk lines: here, lines with fewer than 3
# whitespace tokens (nav crumbs, stray fragments). Documents are
# reassembled from surviving lines in order and the audit reports
# per-source line/char attrition. (The testdata corpus is
# single-line, so sentences — '.'-separated — stand in for lines;
# the operator shape is identical.)
#
# The corpus has no sentence punctuation at all, so the suite input
# synthesizes the web-page shape deterministically: each doc becomes
# three '.'-separated lines — a body prefix, a 2-token nav crumb
# ("home login"), and the body remainder — and the filter must strip
# exactly the crumb (keep_rate 2/3 where the body splits, else 1/2).
#
# Scale: explode → filter → position-ordered re-agg, all inside one
# per-doc pipeline; no shuffle beyond the doc-key re-agg.
# --------------------------------------------------------------------------

_C4_MIN_TOKENS = 3


def q_c4_line_filter(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        "source",
        F.concat(
            F.expr("substr(text, 1, 100)"),
            F.lit(".home login."),
            F.expr("substr(text, 101)"),
        ).alias("text"),
    )
    lines = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split(F.col("text"), r"\.")).alias("pos", "line"),
    )
    kept = lines.withColumn(
        "keep",
        (F.regexp_count(F.col("line"), F.lit(r"\S+")) >= _C4_MIN_TOKENS)
        .cast("int"),
    )
    per_doc = kept.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_lines"),
        F.sum("keep").alias("n_kept"),
        F.length(
            F.concat_ws(
                ".",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep") == 1,
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
            )
        ).alias("clean_chars"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("n_lines").alias("total_lines"),
            F.sum("n_kept").alias("kept_lines"),
            F.round(F.sum("n_kept") / F.sum("n_lines"), 6).alias("keep_rate"),
            F.sum("clean_chars").alias("clean_chars"),
        )
        .orderBy("source")
    )


C4_LINE_FILTER_SQL = rf"""
WITH paged AS (
  SELECT doc_id, source,
         substr(text, 1, 100) || '.home login.' || substr(text, 101)
           AS text
  FROM documents
),
lines AS (
  SELECT doc_id, source, u.i - 1 AS pos, parts[u.i] AS line
  FROM (SELECT doc_id, source, string_split(text, '.') AS parts
        FROM paged)
  CROSS JOIN LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS i) u
),
kept AS (
  SELECT doc_id, source, pos, line,
         CASE WHEN len(regexp_extract_all(line, '\S+', 0))
                   >= {_C4_MIN_TOKENS}
              THEN 1 ELSE 0 END AS keep
  FROM lines
),
per_doc AS (
  SELECT doc_id, source,
         COUNT(*) AS n_lines,
         CAST(SUM(keep) AS BIGINT) AS n_kept,
         length(string_agg(CASE WHEN keep = 1 THEN line END, '.'
                           ORDER BY pos)) AS clean_chars
  FROM kept GROUP BY doc_id, source
)
SELECT source,
       CAST(SUM(n_lines) AS BIGINT) AS total_lines,
       CAST(SUM(n_kept) AS BIGINT) AS kept_lines,
       round(SUM(n_kept) / CAST(SUM(n_lines) AS DOUBLE), 6) AS keep_rate,
       CAST(SUM(clean_chars) AS BIGINT) AS clean_chars
FROM per_doc
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# cdc_chunks — content-defined chunking (the rolling-hash boundary
# family: Rabin/LBFS, FastCDC). Fixed-size chunking (doc_chunks)
# breaks dedup the moment one token is inserted — every downstream
# chunk shifts. Content-defined boundaries cut where a rolling
# content hash hits a mask (here: md5 of the trailing token 3-gram
# ≡ 0 mod 16, expected chunk ≈ 16 tokens), so an edit only disturbs
# the chunk it touches and identical passages re-align — which is
# what makes chunk-level dedup work under drift.
#
# Output: per-source chunk-size distribution + the duplicate-chunk
# rate over the content-addressed (chunk-hash) frame.
#
# Scale: boundary marking + chunk-id assignment are one per-doc
# window pass (doc-bounded); chunk hashing groups by (doc, chunk) —
# corpus-chunk-sized; the dedup rate runs on distinct chunk hashes.
# --------------------------------------------------------------------------

_CDC_MASK = 16  # boundary when trailing-3-gram hash % 16 == 0


def q_cdc_chunks(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id", "source", F.posexplode(tokens_array(F.col("text"))).alias("pos", "tok")
    )
    # rolling content hash: trailing 3-gram (previous two tokens + this
    # one); first two positions can't close a window → never boundaries
    w_doc = W.partitionBy("doc_id").orderBy("pos")
    tri = F.concat_ws(
        " ",
        F.lag("tok", 2).over(w_doc),
        F.lag("tok", 1).over(w_doc),
        F.col("tok"),
    )
    h = F.conv(F.substring(F.md5(tri), 1, 12), 16, 10).cast("bigint")
    marked = toks.withColumn(
        "boundary",
        (
            (F.col("pos") >= 2) & (F.pmod(h, F.lit(_CDC_MASK)) == 0)
        ).cast("int"),
    )
    # chunk id = boundaries strictly BEFORE this token (a boundary
    # token STARTS the next chunk)
    chunked = marked.withColumn(
        "chunk",
        F.coalesce(
            F.sum("boundary").over(
                W.partitionBy("doc_id").orderBy("pos").rowsBetween(
                    W.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    )
    # collect_list order inside groupBy is not guaranteed — rebuild
    # the chunk text deterministically via position-sorted structs
    chunks = chunked.groupBy("doc_id", "source", "chunk").agg(
        F.count("*").alias("n_toks"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
            )
        ).alias("chash"),
    )
    dupes = chunks.groupBy("chash").agg(F.count("*").alias("n_copies"))
    return (
        chunks.join(dupes, "chash")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.round(F.avg("n_toks"), 6).alias("mean_chunk_toks"),
            F.max("n_toks").alias("max_chunk_toks"),
            F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0)).alias(
                "n_dup_chunks"
            ),
        )
        .orderBy("source")
    )


CDC_CHUNKS_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, u.i - 1 AS pos, t[u.i] AS tok
  FROM (
    SELECT doc_id, source, regexp_extract_all(trim(text), '\S+', 0) AS t
    FROM documents
  )
  CROSS JOIN LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) u
),
tri AS (
  SELECT doc_id, source, pos, tok,
         concat_ws(' ',
           LAG(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos),
           LAG(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos),
           tok) AS tg
  FROM toks
),
marked AS (
  SELECT doc_id, source, pos, tok,
         CASE WHEN pos >= 2
               AND CAST('0x' || substr(md5(tg), 1, 12) AS BIGINT)
                   % {_CDC_MASK} = 0
              THEN 1 ELSE 0 END AS boundary
  FROM tri
),
chunked AS (
  SELECT doc_id, source, pos, tok,
         COALESCE(SUM(boundary) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS chunk
  FROM marked
),
chunks AS (
  SELECT doc_id, source, chunk,
         COUNT(*) AS n_toks,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS chash
  FROM chunked GROUP BY doc_id, source, chunk
),
dupes AS (SELECT chash, COUNT(*) AS n_copies FROM chunks GROUP BY chash)
SELECT source,
       COUNT(*) AS n_chunks,
       round(AVG(n_toks), 6) AS mean_chunk_toks,
       MAX(n_toks) AS max_chunk_toks,
       CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks
FROM chunks JOIN dupes USING (chash)
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# mixed_lang_docs — intra-document language-switch audit.
#
# Web-scraped documents frequently glue two languages together
# (boilerplate + content, quoted passages); a whole-doc language ID
# hides this and the doc pollutes monolingual training slices. Split
# each doc in half and language-ID each half with the same marker
# argmax as doc_lang_id: halves that disagree (both confidently) mark
# a mixed document. Reported per source as the mix-rate table.
#
# Scale: pure map-side expressions (two substrings + marker regex
# counts), one |sources|-group aggregate. Exact integer rate.
# --------------------------------------------------------------------------


def q_mixed_lang_docs(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    # integer division, NOT cast-of-double: Spark's double→INT cast
    # truncates while DuckDB's rounds, so odd-length docs would split
    # one char apart between engines
    left = F.expr("substr(text, 1, length(text) DIV 2)")
    right = F.expr("substr(text, length(text) DIV 2 + 1)")
    flagged = docs.select(
        "source",
        lang_id(left).alias("l_det"),
        lang_id(right).alias("r_det"),
    ).select(
        "source",
        (
            (F.col("l_det") != F.col("r_det"))
            & (F.col("l_det") != "und")
            & (F.col("r_det") != "und")
        ).cast("int").alias("mixed"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("mixed").alias("n_mixed"),
            F.round(F.sum("mixed") / F.count("*"), 6).alias("mixed_rate"),
        )
        .orderBy("source")
    )


def _mixed_lang_sql() -> str:
    langs = list(LANG_MARKERS)

    def det(expr: str, tag: str) -> tuple[str, str]:
        scores = ", ".join(
            f"len(regexp_extract_all(lower({expr}), "
            f"'{lang_marker_pattern(la)}', 0)) AS s_{tag}_{la}"
            for la in langs
        )
        greatest = "greatest(" + ", ".join(f"s_{tag}_{la}" for la in langs) + ")"
        case = "CASE " + " ".join(
            f"WHEN s_{tag}_{la} = {greatest} THEN '{la}'" for la in langs
        ) + " END"
        return scores, f"CASE WHEN {greatest} > 0 THEN {case} ELSE 'und' END"

    lscores, ldet = det("substr(text, 1, length(text) // 2)", "l")
    rscores, rdet = det("substr(text, length(text) // 2 + 1)", "r")
    return f"""
WITH scored AS (
  SELECT source, {lscores}, {rscores} FROM documents
),
flagged AS (
  SELECT source,
         CASE WHEN ({ldet}) <> ({rdet})
               AND ({ldet}) <> 'und' AND ({rdet}) <> 'und'
              THEN 1 ELSE 0 END AS mixed
  FROM scored
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(mixed) AS BIGINT) AS n_mixed,
       round(SUM(mixed) / CAST(COUNT(*) AS DOUBLE), 6) AS mixed_rate
FROM flagged GROUP BY source ORDER BY source
"""


MIXED_LANG_DOCS_SQL = _mixed_lang_sql()

# --------------------------------------------------------------------------
# Quality scoring
# --------------------------------------------------------------------------

def q_doc_quality(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    f = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        f["n_tokens"].alias("n_tokens"),
        f["alpha_ratio"].alias("alpha_ratio"),
        f["punct_ratio"].alias("punct_ratio"),
        f["stopword_ratio"].alias("stopword_ratio"),
        f["mean_token_len"].alias("mean_token_len"),
        quality_score(F.col("text")).alias("quality"),
    )


_EN = lang_marker_pattern("en")

# brace-doubled copies for templates that pass through a SECOND
# .format() (the quality gate): the f-string pass halves {{ }} back to
# the literal braces RE2/Java need
_ALPHA_FMT = ALPHA_CHAR_RE.replace("{", "{{").replace("}", "}}")
_PUNCT_FMT = PUNCT_CHAR_RE.replace("{", "{{").replace("}", "}}")

DOC_QUALITY_SQL = rf"""
WITH feat AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\S+', 0)) AS n_tokens,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '{ALPHA_CHAR_RE}', 0)) AS n_alpha,
         len(regexp_extract_all(text, '{PUNCT_CHAR_RE}', 0)) AS n_punct,
         len(regexp_extract_all(lower(text), '{_EN}', 0)) AS n_stop
  FROM documents
)
SELECT doc_id,
       n_tokens,
       n_alpha / CAST(NULLIF(n_chars, 0) AS DOUBLE) AS alpha_ratio,
       n_punct / CAST(NULLIF(n_chars, 0) AS DOUBLE) AS punct_ratio,
       n_stop / CAST(NULLIF(n_tokens, 0) AS DOUBLE) AS stopword_ratio,
       n_chars / CAST(NULLIF(n_tokens, 0) AS DOUBLE) AS mean_token_len,
       {_sql_round('''
         0.4 * COALESCE(n_alpha / CAST(NULLIF(n_chars, 0) AS DOUBLE), 0.0)
         + 0.3 * least(COALESCE(n_stop / CAST(NULLIF(n_tokens, 0) AS DOUBLE), 0.0) * 4, 1.0)
         + 0.2 * greatest(0.0, 1.0 - COALESCE(n_punct / CAST(NULLIF(n_chars, 0) AS DOUBLE), 0.0) * 5)
         + 0.1 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.3 END)
       ''', 6)} AS quality
FROM feat
"""

# --------------------------------------------------------------------------
# Fingerprint + exact dedup
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, table A1) — the published
# heuristic ruleset, as a per-source attrition funnel: how many
# documents each rule kills and what survives all of them. Unlike the
# generic doc_quality score, the rules are named and thresholded, so
# the funnel is directly comparable across corpora — the artifact a
# data team actually reviews before a training run.
#
# Every rule is exact-integer counting + one IEEE division compared
# against a literal, identical in both engines; the whole funnel is
# one map-side projection and one groupBy(source).
# --------------------------------------------------------------------------

#: Gopher's "must contain at least 2 of" stop words.
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_BULLET_RE = r"^[ \t]*[-*•]"
_ELLIPSIS_RE = r"(\.\.\.|…)[ \t]*$"


def q_gopher_rules_funnel(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    text = F.col("text")
    low = F.lower(text)
    toks = tokens_array(text)
    lines = F.split(text, "\n")
    n_tokens = F.size(toks)
    word_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike(_BULLET_RE)))
    n_ellipsis = F.size(F.filter(lines, lambda l: l.rlike(_ELLIPSIS_RE)))
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike(r"\p{L}")))
    n_symbols = F.regexp_count(text, F.lit("#")) + F.regexp_count(
        text, F.lit(r"\.\.\.")
    )
    n_stop_kinds = sum(
        F.when(low.rlike(rf"\b{s}\b"), 1).otherwise(0) for s in GOPHER_STOPS
    )
    dbl = F.lit(1.0)  # multiply to force double division like the oracle
    rules = {
        # r1: 50 <= word count <= 100000
        "wordcount": (n_tokens >= 50) & (n_tokens <= 100000),
        # r2: mean word length in [3, 10]
        "meanlen": (
            (word_chars * dbl / F.nullif(n_tokens, F.lit(0)) >= 3.0)
            & (word_chars * dbl / F.nullif(n_tokens, F.lit(0)) <= 10.0)
        ),
        # r3: (hash + ellipsis) to word ratio <= 0.1
        "symbol": n_symbols * dbl / F.nullif(n_tokens, F.lit(0)) <= 0.1,
        # r4a: <= 90% of lines start with a bullet
        "bullets": n_bullet * dbl / F.nullif(n_lines, F.lit(0)) <= 0.9,
        # r4b: <= 30% of lines end with an ellipsis
        "ellipsis": n_ellipsis * dbl / F.nullif(n_lines, F.lit(0)) <= 0.3,
        # r5: >= 80% of words contain an alphabetic character
        "alpha": n_alpha_words * dbl / F.nullif(n_tokens, F.lit(0)) >= 0.8,
        # r6: at least 2 distinct Gopher stop words present
        "stopwords": n_stop_kinds >= 2,
    }
    # NULL rule (0-token/0-line doc) counts as a failure — when().
    # otherwise() and SQL's CASE both send NULL conditions to ELSE.
    flags = docs.select(
        "source",
        *[F.when(cond, 0).otherwise(1).alias(f"f_{k}") for k, cond in rules.items()],
    ).withColumn(
        "kept",
        F.when(sum(F.col(f"f_{k}") for k in rules) == 0, 1).otherwise(0),
    )
    # n_keep_core: all rules except the stop-word one — the synthetic
    # corpus' vocabulary contains almost none of Gopher's 8 stop words,
    # so the faithful rule 6 kills ~everything; the core column keeps
    # the funnel informative while the full rule set stays published-
    # faithful.
    flags = flags.withColumn(
        "kept_core",
        F.when(
            sum(F.col(f"f_{k}") for k in rules if k != "stopwords") == 0, 1
        ).otherwise(0),
    )
    aggs = [F.count("*").alias("n_docs")] + [
        F.sum(f"f_{k}").alias(f"fail_{k}") for k in rules
    ] + [
        F.sum("kept").alias("n_keep"),
        F.sum("kept_core").alias("n_keep_core"),
        F.round(F.sum("kept_core") / F.count("*"), 6).alias("keep_core_rate"),
    ]
    return flags.groupBy("source").agg(*aggs).orderBy("source")


def _gopher_sql() -> str:
    stops = " + ".join(
        f"CASE WHEN regexp_matches(lower(text), '\\b{s}\\b') THEN 1 ELSE 0 END"
        for s in GOPHER_STOPS
    )
    rules = {
        "wordcount": "n_tokens >= 50 AND n_tokens <= 100000",
        "meanlen": (
            "CAST(word_chars AS DOUBLE) / NULLIF(n_tokens, 0) >= 3.0 AND "
            "CAST(word_chars AS DOUBLE) / NULLIF(n_tokens, 0) <= 10.0"
        ),
        "symbol": "CAST(n_symbols AS DOUBLE) / NULLIF(n_tokens, 0) <= 0.1",
        "bullets": "CAST(n_bullet AS DOUBLE) / NULLIF(n_lines, 0) <= 0.9",
        "ellipsis": "CAST(n_ellipsis AS DOUBLE) / NULLIF(n_lines, 0) <= 0.3",
        "alpha": "CAST(n_alpha_words AS DOUBLE) / NULLIF(n_tokens, 0) >= 0.8",
        "stopwords": "n_stop_kinds >= 2",
    }
    flag_cols = ",\n         ".join(
        f"CASE WHEN {cond} THEN 0 ELSE 1 END AS f_{k}" for k, cond in rules.items()
    )
    fail_aggs = ",\n       ".join(
        f"CAST(SUM(f_{k}) AS BIGINT) AS fail_{k}" for k in rules
    )
    all_pass = " + ".join(f"f_{k}" for k in rules)
    core_pass = " + ".join(f"f_{k}" for k in rules if k != "stopwords")
    return rf"""
WITH feat AS (
  SELECT source,
         len(regexp_extract_all(trim(text), '\S+', 0)) AS n_tokens,
         CAST(list_sum(list_transform(
             regexp_extract_all(trim(text), '\S+', 0), t -> length(t)))
           AS BIGINT) AS word_chars,
         len(split(text, chr(10))) AS n_lines,
         len(list_filter(split(text, chr(10)),
             l -> regexp_matches(l, '{_BULLET_RE}'))) AS n_bullet,
         len(list_filter(split(text, chr(10)),
             l -> regexp_matches(l, '{_ELLIPSIS_RE}'))) AS n_ellipsis,
         len(list_filter(regexp_extract_all(trim(text), '\S+', 0),
             t -> regexp_matches(t, '\p{{L}}'))) AS n_alpha_words,
         len(regexp_extract_all(text, '#', 0))
           + len(regexp_extract_all(text, '\.\.\.', 0)) AS n_symbols,
         {stops} AS n_stop_kinds
  FROM documents
),
flags AS (
  SELECT source,
         {flag_cols}
  FROM feat
)
SELECT source, COUNT(*) AS n_docs,
       {fail_aggs},
       CAST(SUM(CASE WHEN {all_pass} = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keep,
       CAST(SUM(CASE WHEN {core_pass} = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keep_core,
       {_sql_round(
           f'SUM(CASE WHEN {core_pass} = 0 THEN 1 ELSE 0 END) '
           '/ CAST(COUNT(*) AS DOUBLE)', 6)} AS keep_core_rate
FROM flags
GROUP BY source
ORDER BY source
"""


GOPHER_RULES_FUNNEL_SQL = _gopher_sql()


# --------------------------------------------------------------------------
# gopher_repetition_funnel — the OTHER half of the Gopher ruleset
# (table A1's repetition rules): fraction of characters inside the
# most-repeated {2,3,4}-gram and inside all duplicated {5..10}-grams,
# each against its published threshold, as the same per-source
# attrition funnel as gopher_rules_funnel.
#
# Character-mass definitions (the standard re-implementation
# approximation — overlapping occurrences are not de-overlapped):
#   top-n  frac = max over grams of tf·len(gram) / n_chars
#   dup-n  frac = Σ over grams with tf ≥ 2 of tf·len(gram) / n_chars
# (gram length counts its single-space separators; both engines agree
# on every quantity, so the flags are exact-integer comparisons after
# one IEEE division.)
#
# Scale: ONE explode produces all nine gram sizes (Σ_n (T−n+1) ≈ 9·T
# rows), one (doc, n, gram) count, one per-(doc, n) reduce, one
# groupBy(source) — no self-joins, no windows.
# --------------------------------------------------------------------------

_GRF_TOP = {2: 0.20, 3: 0.18, 4: 0.16}
_GRF_DUP = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
_GRF_NS = tuple(sorted({**_GRF_TOP, **_GRF_DUP}))


def q_gopher_repetition_funnel(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import (
        shingles as _sh,
        tokens_array as _ta,
    )

    docs = table(spark, sf_dir, "documents", spread=True)
    base = docs.select(
        "doc_id", "source", F.length("text").alias("n_chars"),
        _ta(F.col("text")).alias("t"),
    )
    # single-arg closure, NOT `lambda g, n=n: ...`: F.transform treats
    # a two-parameter lambda as (element, index) and would silently
    # bind n to the array INDEX (the r6 debugging scar).
    def _tag(n):
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

    gram_arrays = F.flatten(
        F.array(*[F.transform(_sh(F.col("t"), n), _tag(n)) for n in _GRF_NS])
    )
    grams = base.select(
        "doc_id", "n_chars", F.explode(gram_arrays).alias("ng")
    ).select("doc_id", "n_chars", "ng.n", "ng.g")
    tf = grams.groupBy("doc_id", "n_chars", "n", "g").agg(
        F.count("*").alias("tf")
    )
    per_doc_n = tf.groupBy("doc_id", "n_chars", "n").agg(
        F.max(F.col("tf") * F.length("g")).alias("top_mass"),
        F.sum(
            F.when(F.col("tf") >= 2, F.col("tf") * F.length("g")).otherwise(0)
        ).alias("dup_mass"),
    )
    fail_cases = [
        F.max(
            F.when(
                (F.col("n") == n)
                & (
                    F.col("top_mass") / F.col("n_chars") > _GRF_TOP[n]
                    if n in _GRF_TOP
                    else F.col("dup_mass") / F.col("n_chars") > _GRF_DUP[n]
                ),
                1,
            ).otherwise(0)
        ).alias(f"f_{n}")
        for n in _GRF_NS
    ]
    per_doc = per_doc_n.groupBy("doc_id").agg(*fail_cases)
    # docs too short for any n-gram have no per_doc row — they PASS
    # every repetition rule (coalesce 0 after the left join)
    flags = base.select("doc_id", "source").join(per_doc, "doc_id", "left")
    flags = flags.select(
        "source",
        *[F.coalesce(F.col(f"f_{n}"), F.lit(0)).alias(f"f_{n}") for n in _GRF_NS],
    ).withColumn(
        "kept",
        F.when(sum(F.col(f"f_{n}") for n in _GRF_NS) == 0, 1).otherwise(0),
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            *[F.sum(f"f_{n}").alias(f"fail_{n}gram") for n in _GRF_NS],
            F.sum("kept").alias("n_keep"),
            F.round(F.sum("kept") / F.count("*"), 6).alias("keep_rate"),
        )
        .orderBy("source")
    )


def _gopher_repetition_sql() -> str:
    fail_cols = []
    for n in _GRF_NS:
        if n in _GRF_TOP:
            cond = f"n = {n} AND top_mass / CAST(n_chars AS DOUBLE) > {_GRF_TOP[n]!r}"
        else:
            cond = f"n = {n} AND dup_mass / CAST(n_chars AS DOUBLE) > {_GRF_DUP[n]!r}"
        fail_cols.append(
            f"MAX(CASE WHEN {cond} THEN 1 ELSE 0 END) AS f_{n}"
        )
    fail_sel = ",\n         ".join(fail_cols)
    coalesced = ",\n         ".join(
        f"COALESCE(f_{n}, 0) AS f_{n}" for n in _GRF_NS
    )
    fail_aggs = ",\n       ".join(
        f"CAST(SUM(f_{n}) AS BIGINT) AS fail_{n}gram" for n in _GRF_NS
    )
    all_pass = " + ".join(f"f_{n}" for n in _GRF_NS)
    ns = ", ".join(str(n) for n in _GRF_NS)
    return rf"""
WITH base AS (
  SELECT doc_id, source, length(text) AS n_chars,
         regexp_extract_all(trim(text), '\S+', 0) AS t
  FROM documents
),
doc_n AS (
  SELECT doc_id, n_chars, t, n
  FROM base CROSS JOIN (SELECT unnest([{ns}]) AS n)
  WHERE len(t) >= n
),
grams AS (
  SELECT doc_id, n_chars, n,
         array_to_string(list_slice(t, i + 1, i + n), ' ') AS g
  FROM (
    SELECT doc_id, n_chars, t, n,
           unnest(range(0, len(t) - n + 1)) AS i
    FROM doc_n)
),
tf AS (
  SELECT doc_id, n_chars, n, g, COUNT(*) AS tf
  FROM grams GROUP BY doc_id, n_chars, n, g
),
per_doc_n AS (
  SELECT doc_id, n_chars, n,
         MAX(tf * length(g)) AS top_mass,
         SUM(CASE WHEN tf >= 2 THEN tf * length(g) ELSE 0 END) AS dup_mass
  FROM tf GROUP BY doc_id, n_chars, n
),
per_doc AS (
  SELECT doc_id,
         {fail_sel}
  FROM per_doc_n GROUP BY doc_id
),
flags AS (
  SELECT b.source,
         {coalesced}
  FROM base b LEFT JOIN per_doc p ON b.doc_id = p.doc_id
)
SELECT source, COUNT(*) AS n_docs,
       {fail_aggs},
       CAST(SUM(CASE WHEN {all_pass} = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keep,
       {_sql_round(
           f'SUM(CASE WHEN {all_pass} = 0 THEN 1 ELSE 0 END) '
           '/ CAST(COUNT(*) AS DOUBLE)', 6)} AS keep_rate
FROM flags
GROUP BY source
ORDER BY source
"""


GOPHER_REPETITION_FUNNEL_SQL = _gopher_repetition_sql()


def q_doc_fingerprint(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    return docs.select(
        "doc_id", content_fingerprint(F.col("text")).alias("fingerprint")
    )


DOC_FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""

# deterministic duplicate synthesis shared by dedup queries
_DUP_CORPUS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
"""


def _dup_corpus(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    return docs.unionAll(copies)


def q_exact_dedup_groups(spark, sf_dir):
    return dedup.exact_duplicate_groups(_dup_corpus(spark, sf_dir), "doc_id", "text")


EXACT_DEDUP_GROUPS_SQL = rf"""
WITH corpus AS ({_DUP_CORPUS_SQL})
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
       min(doc_id) AS keep_id,
       count(*) AS group_size
FROM corpus
GROUP BY 1
HAVING count(*) > 1
"""

# --------------------------------------------------------------------------
# MinHash + LSH near-dup (70%-prefix truncations as near-duplicates)
# --------------------------------------------------------------------------

_NEAR_CORPUS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 100000,
       substr(text, 1, CAST(floor(length(text) * 0.7) AS INT))
FROM documents WHERE doc_id % 10 = 0
"""


def _near_corpus(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    # exact integer floor of length·0.7: the oracle's 0.7 is a DECIMAL,
    # while a double 0.7 sits just below 7/10 and floors 245.0 to 244
    keep = F.expr("length(text) * 7 div 10").cast("int")
    trunc = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.col("text").substr(F.lit(1), keep).alias("text"),
    )
    return docs.unionAll(trunc)


def q_minhash_dedup_pairs(spark, sf_dir):
    return dedup.minhash_dedup_pairs(
        _near_corpus(spark, sf_dir), "doc_id", "text", threshold=0.5
    )


# shared CTE text: corpus → tokens → shingles → distinct hashed
# (doc_id, a, b) — mirrors operators/dedup.py::shingle_frame exactly.
# Expects a preceding `corpus AS (...)` CTE; leaves a trailing comma.
_SHINGLE_AB_CTES = r"""
toks AS (
  SELECT doc_id, regexp_extract_all(trim(text), '\S+', 0) AS t FROM corpus
),
raw_sh AS (
  SELECT doc_id, md5(unnest(
    CASE WHEN len(t) >= 3
         THEN list_transform(range(0, len(t) - 2),
                             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
         ELSE []::VARCHAR[] END)) AS h
  FROM toks
),
sh AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(h, 1, 12) AS BIGINT) AS a,
         CAST('0x' || substr(h, 13, 12) AS BIGINT) AS b
  FROM raw_sh
),
"""


def _minhash_sql() -> str:
    k, bands = 16, 4
    r = k // bands
    # Kirsch-Mitzenmacher derived hashes, mirroring
    # operators/dedup.py::minhash_signatures_from_shingles exactly:
    # a/b = 48-bit md5 halves, h_i = min(a + i*b).
    mins = ",\n         ".join(f"min(a + {i} * b) AS h{i}" for i in range(k))
    band_cases = " ".join(
        "WHEN {b} THEN md5({parts})".format(
            b=b,
            parts=" || '|' || ".join(f"h{b * r + j}" for j in range(r)),
        )
        for b in range(bands)
    )
    return rf"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
{_SHINGLE_AB_CTES}
sigs AS (
  SELECT doc_id,
         {mins}
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, b.band_idx,
         CASE b.band_idx {band_cases} END AS band_hash
  FROM sigs CROSS JOIN (VALUES (0),(1),(2),(3)) AS b(band_idx)
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT doc_a, doc_b, count(*) AS n_common
  FROM cands
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sa.a = sb.a AND sa.b = sb.b
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       n_common / CAST(za.n + zb.n - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN sizes za ON za.doc_id = doc_a
JOIN sizes zb ON zb.doc_id = doc_b
WHERE n_common / CAST(za.n + zb.n - n_common AS DOUBLE) >= 0.5
"""


MINHASH_DEDUP_PAIRS_SQL = _minhash_sql()

# --------------------------------------------------------------------------
# Dedup clustering: minhash near-dup PAIRS → connected components →
# (doc_id, component) with the canonical keeper as the component id
# --------------------------------------------------------------------------

def q_dedup_clusters(spark, sf_dir):
    """Iterative min-label propagation in DataFrame ops; the oracle
    replays it as a DuckDB recursive CTE (reachability → min reachable
    id) — a rare cross-engine check of an iterative graph algorithm."""
    pairs = dedup.minhash_dedup_pairs(
        _near_corpus(spark, sf_dir), "doc_id", "text", threshold=0.5
    ).select("doc_a", "doc_b")
    return dedup.connected_components(pairs).orderBy("doc_id")


def q_dedup_clusters_star(spark, sf_dir):
    """Same clustering through the O(log n) large-star/small-star
    engine (the billion-edge path for chain-shaped graphs) — checked
    against the SAME recursive-CTE oracle, so both CC engines carry an
    independent cross-engine correctness gate."""
    pairs = dedup.minhash_dedup_pairs(
        _near_corpus(spark, sf_dir), "doc_id", "text", threshold=0.5
    ).select("doc_a", "doc_b")
    return dedup.connected_components_star(pairs).orderBy("doc_id")


DEDUP_CLUSTERS_SQL = rf"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({MINHASH_DEDUP_PAIRS_SQL.strip()})
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(doc, r) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.doc
)
SELECT doc AS doc_id, min(r) AS component
FROM reach GROUP BY doc ORDER BY doc_id
"""

# --------------------------------------------------------------------------
# Quality-aware keeper selection — the production dedup semantics:
# collapsing a near-dup cluster keeps the HIGHEST-QUALITY member, not
# an arbitrary id (truncated/mangled variants of a page must lose to
# the clean original). Composition: pairs → connected components →
# per-component argmax over the quality score, all payload-light
# (text stays in the one quality pass; the component join and window
# carry (id, component, score) only). The oracle replays the whole
# chain — recursive-CTE components + the same quality expression.
# --------------------------------------------------------------------------

def q_dedup_best_keeper(spark, sf_dir):
    from pyspark.sql import Window as W

    corpus = _near_corpus(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(
        corpus, "doc_id", "text", threshold=0.5
    ).select("doc_a", "doc_b")
    comp = dedup.connected_components(pairs)
    q = corpus.select("doc_id", quality_score(F.col("text")).alias("q"))
    scored = comp.join(q, "doc_id")
    wc = W.partitionBy("component")
    return (
        scored.withColumn(
            "rk", F.row_number().over(wc.orderBy(F.desc("q"), "doc_id"))
        )
        .withColumn("group_size", F.count("*").over(wc))
        .filter(F.col("rk") == 1)
        .select(
            "component",
            F.col("doc_id").alias("keep_id"),
            "group_size",
            F.col("q").alias("keeper_quality"),
        )
        .orderBy("component")
    )


def _dedup_best_keeper_sql() -> str:
    quality = f"""
         0.4 * COALESCE(n_alpha / CAST(NULLIF(n_chars, 0) AS DOUBLE), 0.0)
         + 0.3 * least(COALESCE(n_stop / CAST(NULLIF(n_tokens, 0) AS DOUBLE), 0.0) * 4, 1.0)
         + 0.2 * greatest(0.0, 1.0 - COALESCE(n_punct / CAST(NULLIF(n_chars, 0) AS DOUBLE), 0.0) * 5)
         + 0.1 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.3 END)
    """
    return rf"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({MINHASH_DEDUP_PAIRS_SQL.strip()})
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(doc, r) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.doc
),
comp AS (
  SELECT doc AS doc_id, min(r) AS component FROM reach GROUP BY doc
),
corpus2 AS ({_NEAR_CORPUS_SQL}),
feat AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\S+', 0)) AS n_tokens,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '{ALPHA_CHAR_RE}', 0)) AS n_alpha,
         len(regexp_extract_all(text, '{PUNCT_CHAR_RE}', 0)) AS n_punct,
         len(regexp_extract_all(lower(text), '{_EN}', 0)) AS n_stop
  FROM corpus2
),
scored AS (
  SELECT comp.component, comp.doc_id,
         {_sql_round(quality, 6)} AS q,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY {_sql_round(quality, 6)} DESC, comp.doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY component) AS group_size
  FROM comp JOIN feat ON comp.doc_id = feat.doc_id
)
SELECT component, scored.doc_id AS keep_id, group_size, q AS keeper_quality
FROM scored WHERE rk = 1 ORDER BY component
"""


DEDUP_BEST_KEEPER_SQL = _dedup_best_keeper_sql()


# --------------------------------------------------------------------------
# SimHash near-dup (one-token-appended variants)
# --------------------------------------------------------------------------

_SIMHASH_CORPUS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 100000, text || ' spark' FROM documents WHERE doc_id % 7 = 0
"""


def _simhash_corpus(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    variants = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" spark")).alias("text"),
    )
    return docs.unionAll(variants)


def q_simhash_near_pairs(spark, sf_dir):
    return dedup.simhash_near_pairs(
        _simhash_corpus(spark, sf_dir), "doc_id", "text", hamming_max=3
    )


SIMHASH_NEAR_PAIRS_SQL = rf"""
WITH corpus AS ({_SIMHASH_CORPUS_SQL}),
toks AS (
  SELECT doc_id, token, count(*) AS weight
  FROM (SELECT doc_id, unnest(regexp_extract_all(trim(text), '\S+', 0)) AS token
        FROM corpus)
  GROUP BY doc_id, token
),
th AS (
  SELECT doc_id, weight,
         CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
  FROM toks
),
bits AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h >> b) & 1 = 1 THEN weight ELSE -weight END) AS v
  FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS b)
  GROUP BY doc_id, b
),
sims AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT)
           AS simhash
  FROM bits GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, simhash, j, (simhash >> (15 * j)) & 32767 AS block_val
  FROM sims CROSS JOIN (SELECT unnest(range(0, 4)) AS j)
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM blocks a JOIN blocks b
    ON a.j = b.j AND a.block_val = b.block_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
FROM cands
WHERE bit_count(xor(sa, sb)) <= 3
"""

# --------------------------------------------------------------------------
# Composite corpus-cleaning pipeline (the flagship training-data pass:
# exact-dedup keep → language filter → quality filter → per-source stats)
# --------------------------------------------------------------------------

def q_corpus_clean_pipeline(spark, sf_dir):
    """One end-to-end cleaning pass in a single Spark plan: dedup keep
    (row_number over fingerprint), lang-ID filter, quality + length
    filters, per-source rollup. Catalyst fuses the scoring expressions
    into the scan projection — the whole pipeline is one shuffle for
    the dedup window plus one for the final groupBy."""
    from city_payroll_data_pipeline_spark.functions.text import (
        lang_id as _lang_id,
        quality_score as _quality,
        token_count as _tok,
    )

    docs = table(spark, sf_dir, "documents", spread=True)
    kept = dedup.drop_exact_duplicates(docs, "doc_id", "text")
    scored = kept.select(
        "source",
        _tok(F.col("text")).alias("n_tokens"),
        _lang_id(F.col("text")).alias("lang_detected"),
        _quality(F.col("text")).alias("quality"),
    )
    filtered = scored.filter(
        (F.col("lang_detected") == "en")
        & (F.col("quality") >= 0.5)
        & (F.col("n_tokens") >= 10)
    )
    return (
        filtered.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(
                F.sum(F.col("quality").cast("decimal(18,8)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_quality"),
        )
        .orderBy("source")
    )


def _corpus_clean_sql() -> str:
    langs = list(LANG_MARKERS)
    scores = ", ".join(
        f"len(regexp_extract_all(lower(text), '{lang_marker_pattern(la)}', 0))"
        f" AS s_{la}"
        for la in langs
    )
    greatest = "greatest(" + ", ".join(f"s_{la}" for la in langs) + ")"
    lang_case = (
        f"CASE WHEN {greatest} > 0 THEN CASE "
        + " ".join(f"WHEN s_{la} = {greatest} THEN '{la}'" for la in langs)
        + " END ELSE 'und' END"
    )
    quality = _sql_round(
        """
        0.4 * COALESCE(n_alpha / CAST(NULLIF(n_chars, 0) AS DOUBLE), 0.0)
        + 0.3 * least(COALESCE(n_stop / CAST(NULLIF(n_tokens, 0) AS DOUBLE), 0.0) * 4, 1.0)
        + 0.2 * greatest(0.0, 1.0 - COALESCE(n_punct / CAST(NULLIF(n_chars, 0) AS DOUBLE), 0.0) * 5)
        + 0.1 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.3 END)
        """,
        6,
    )
    return rf"""
WITH kept AS (
  SELECT doc_id, source, text FROM (
    SELECT doc_id, source, text,
           ROW_NUMBER() OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
             ORDER BY doc_id) AS rn
    FROM documents)
  WHERE rn = 1
),
feat AS (
  SELECT source,
         len(regexp_extract_all(text, '\S+', 0)) AS n_tokens,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '{ALPHA_CHAR_RE}', 0)) AS n_alpha,
         len(regexp_extract_all(text, '{PUNCT_CHAR_RE}', 0)) AS n_punct,
         len(regexp_extract_all(lower(text), '{lang_marker_pattern("en")}', 0)) AS n_stop,
         {scores}
  FROM kept
),
scored AS (
  SELECT source, n_tokens, {lang_case} AS lang_detected, {quality} AS quality
  FROM feat
)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       {_sql_round('CAST(SUM(CAST(quality AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*)', 6)}
         AS avg_quality
FROM scored
WHERE lang_detected = 'en' AND quality >= 0.5 AND n_tokens >= 10
GROUP BY source
ORDER BY source
"""


CORPUS_CLEAN_PIPELINE_SQL = _corpus_clean_sql()

# --------------------------------------------------------------------------
# n-gram Jaccard (exact, no LSH — candidates from rare-shingle self-join)
# --------------------------------------------------------------------------

# df ≤ 10: in this corpus shingles are drawn from a shared vocabulary,
# so mid-frequency shingles (df 6-100) alone contribute ~1.4M candidate
# pairs at sf0.1 — while every true near-dup pair (prefix truncations)
# shares df=2 shingles. A tight cap keeps recall for real duplicates
# and cuts verify work ~25×; the oracle uses the same constant.
_NGRAM_MAX_DF = 10


def q_ngram_jaccard_pairs(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _near_corpus(spark, sf_dir),
        "doc_id",
        "text",
        threshold=0.5,
        max_shingle_df=_NGRAM_MAX_DF,
    )


# --------------------------------------------------------------------------
# bm25_search — ranked retrieval over the corpus (Robertson BM25,
# k1=1.2, b=0.75) for a fixed query-term set. Completes the retrieval
# story: inverted_index builds the index shape, tfidf_top_terms does
# keyword extraction, this is the actual search scoring.
#
# Determinism: the tf saturation term is cleared of fractions by
# multiplying through by 10·total_tokens —
#   tf_part = 22·tf·total / (10·tf·total + 3·total + 9·dl·N)
# (exact BIGINTs, one double division). idf is the Lucene variant
# ln(1 + (N−df+0.5)/(df+0.5)) — non-negative for any df, and the
# argument folds to the exact integer ratio (2N+2)/(2df+1); the ln is
# the single transcendental, rounded to 8 dp in BOTH engines
# immediately, and per-(doc,term) scores route through DECIMAL(18,8)
# so the per-doc sum is order-independent. Top-20 with doc_id
# tie-break.
#
# Scale: tf is one (doc, term) groupBy over the exploded corpus
# FILTERED to the query terms map-side (the explode never leaves the
# scan stage for non-query tokens); df/totals are term-count- and
# 1-row-sized broadcasts; top-K is TakeOrderedAndProject (per-
# partition K + driver merge), and the rank window touches only the
# K survivors.
# --------------------------------------------------------------------------

_BM25_TERMS = ("dup", "vector", "key")
_BM25_TOP = 20


def q_bm25_search(spark, sf_dir):
    from pyspark.sql import Window as W

    from city_payroll_data_pipeline_spark.functions.text import word_tokens

    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", word_tokens(F.col("text")).alias("w"))
    lens = toks.select("doc_id", F.size("w").alias("dl"))
    tf = (
        toks.select("doc_id", F.explode("w").alias("t"))
        .filter(F.col("t").isin(*_BM25_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("t").agg(F.count("*").alias("df"))
    totals = lens.agg(
        F.sum("dl").alias("total"), F.count("*").alias("n_docs")
    )
    scored = (
        tf.join(lens, "doc_id")
        .join(F.broadcast(dft), "t")
        .join(F.broadcast(totals))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (2 * F.col("n_docs") + 2) / (2 * F.col("df") + 1)
                ),
                8,
            ).alias("idf"),
            (
                (22 * F.col("tf") * F.col("total")).cast("double")
                / (
                    10 * F.col("tf") * F.col("total")
                    + 3 * F.col("total")
                    + 9 * F.col("dl") * F.col("n_docs")
                ).cast("double")
            ).alias("tf_part"),
        )
        .select(
            "doc_id",
            F.round(F.col("idf") * F.col("tf_part"), 8)
            .cast("decimal(18,8)")
            .alias("s"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("s").cast("double").alias("score")
    )
    # top-K via orderBy().limit() — plans TakeOrderedAndProject (each
    # partition keeps K, driver merges K·n_parts rows), NOT a global
    # single-partition rank window over every matching doc. The rank
    # window below runs on the K-row survivor frame only.
    topk = per_doc.orderBy(F.desc("score"), F.asc("doc_id")).limit(_BM25_TOP)
    w = W.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "score")
        .orderBy("rank")
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

BM25_SEARCH_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+', 0) AS w
  FROM documents
),
lens AS (SELECT doc_id, len(w) AS dl FROM toks),
tf AS (
  SELECT doc_id, t, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(w) AS t FROM toks)
  WHERE t IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, t
),
dft AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
totals AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS total, COUNT(*) AS n_docs FROM lens
),
scored AS (
  SELECT doc_id,
         CAST(round(CAST(CAST(
             ln((2*n_docs + 2) / CAST(2*df + 1 AS DOUBLE))
           AS VARCHAR) AS DECIMAL(38,20)), 8) AS DOUBLE) AS idf,
         CAST(22*tf*total AS DOUBLE)
           / CAST(10*tf*total + 3*total + 9*dl*n_docs AS DOUBLE) AS tf_part
  FROM tf JOIN lens USING (doc_id) JOIN dft USING (t), totals
),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(CAST(round(CAST(CAST(idf * tf_part AS VARCHAR)
                   AS DECIMAL(38,20)), 8) AS DECIMAL(18,8))) AS DOUBLE)
           AS score
  FROM scored GROUP BY doc_id
)
SELECT rank, doc_id, score FROM (
  SELECT doc_id, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM per_doc
)
WHERE rank <= {_BM25_TOP}
ORDER BY rank
"""


# --------------------------------------------------------------------------
# dedup_threshold_sweep — how aggressive would dedup be at each
# threshold? The tuning curve nobody should pick t without: exact
# near-dup PAIR counts in Jaccard bands [0.5,0.6) … [0.9,1.0) and
# the affected-doc count per band, in ONE pass. Pairs come from the
# LOSSLESS prefix-filter join at t=0.5, so every band ≥0.5 is exact
# by the same theorem; banding is integer arithmetic on the exact
# n_common/union ratio (floor of 10·jaccard, clamped).
#
# Scale: identical to prefix_jaccard_pairs + a |bands|-row rollup.
# --------------------------------------------------------------------------


def q_dedup_threshold_sweep(spark, sf_dir):
    pairs = dedup.prefix_jaccard_pairs(
        _near_corpus(spark, sf_dir), "doc_id", "text", threshold=0.5
    )
    band = F.least(F.floor(F.col("jaccard") * 10).cast("int"), F.lit(9))
    per = pairs.select(
        band.alias("band10"),
        "doc_a",
        "doc_b",
    )
    return (
        per.groupBy("band10")
        .agg(
            F.count("*").alias("n_pairs"),
            F.count_distinct("doc_b").alias("n_docs_droppable"),
        )
        .select(
            (F.col("band10") / 10.0).alias("band_lo"),
            "n_pairs",
            "n_docs_droppable",
        )
        .orderBy("band_lo")
    )


DEDUP_THRESHOLD_SWEEP_SQL = rf"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
{_SHINGLE_AB_CTES}
shc AS (
  SELECT DISTINCT doc_id, a * 4096 + b % 4096 AS c FROM sh
),
sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM shc x JOIN shc y
    ON x.c = y.c AND x.doc_id < y.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b,
         n_common / CAST(za.n + zb.n - n_common AS DOUBLE) AS jaccard
  FROM inter
  JOIN sizes za ON za.doc_id = doc_a
  JOIN sizes zb ON zb.doc_id = doc_b
  WHERE n_common / CAST(za.n + zb.n - n_common AS DOUBLE) >= 0.5
)
SELECT LEAST(CAST(floor(jaccard * 10) AS INT), 9) / 10.0 AS band_lo,
       COUNT(*) AS n_pairs,
       COUNT(DISTINCT doc_b) AS n_docs_droppable
FROM pairs
GROUP BY 1
ORDER BY band_lo
"""


# --------------------------------------------------------------------------
# winnow_fingerprints — winnowing document fingerprints (Schleimer,
# Wilkerson, Aiken: "Winnowing: Local Algorithms for Document
# Fingerprinting", SIGMOD'03 — the MOSS algorithm).
#
# Selection guarantee the other fingerprint ops lack: taking the MIN
# k-gram hash in every window of w consecutive k-grams ensures any
# shared run of w+k-1 tokens is detected by at least one shared
# fingerprint, while storing only ~2/(w+1) of all k-gram hashes.
# doc_fingerprint (whole-doc hash) detects only exact duplicates;
# repeated_spans keeps every 16-token span hash; winnowing is the
# principled middle: bounded fingerprint density with a detection
# guarantee. Output: document pairs sharing ≥ m winnowed fingerprints
# — the plagiarism/overlap candidate report.
#
# Scale: k-gram hashing + the min-window are one per-doc window pass
# (doc-bounded partitions); the pair join runs on DISTINCT winnowed
# fingerprints with a DF cap (same stop-shingle economics as
# ngram_jaccard_pairs) — never on raw text.
# --------------------------------------------------------------------------

_WIN_K = 5   # tokens per k-gram
_WIN_W = 4   # winnow window (k-gram hashes per window)
_WIN_MAX_DF = 20
_WIN_MIN_SHARED = 5


def q_winnow_fingerprints(spark, sf_dir):
    from pyspark.sql import Window as W

    from city_payroll_data_pipeline_spark.functions.text import (
        shingles as _sh,
        tokens_array as _ta,
    )

    corpus = _near_corpus(spark, sf_dir)
    toks = corpus.select("doc_id", _ta(F.col("text")).alias("t"))
    grams = toks.select(
        "doc_id", F.posexplode(_sh(F.col("t"), _WIN_K)).alias("pos", "g")
    )
    hashed = grams.select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("g"), 1, 12), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    w_doc = W.partitionBy("doc_id")
    w_min = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN_W - 1)
    fps = (
        hashed.withColumn("n", F.count("*").over(w_doc))
        .withColumn("mh", F.min("h").over(w_min))
        # only FULL windows (positions with w hashes after them) —
        # matches the paper's definition and keeps the tail exact
        .filter(F.col("pos") <= F.col("n") - _WIN_W)
        .select("doc_id", "mh")
        .distinct()
        .persist()
    )
    dfc = (
        fps.groupBy("mh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _WIN_MAX_DF)
        .select("mh")
    )
    rfp = fps.join(dfc, "mh")
    return (
        rfp.alias("x")
        .join(
            rfp.alias("y"),
            (F.col("x.mh") == F.col("y.mh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


WINNOW_FINGERPRINTS_SQL = rf"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
toks AS (
  SELECT doc_id, regexp_extract_all(trim(text), '\S+', 0) AS t FROM corpus
),
grams AS (
  SELECT doc_id, u.i - 1 AS pos,
         t[u.i] || ' ' || t[u.i+1] || ' ' || t[u.i+2] || ' ' || t[u.i+3]
           || ' ' || t[u.i+4] AS g
  FROM toks
  CROSS JOIN LATERAL (
    SELECT unnest(range(1, len(t) - {_WIN_K} + 2)) AS i
  ) u
  WHERE len(t) >= {_WIN_K}
),
hashed AS (
  SELECT doc_id, pos,
         CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) AS h
  FROM grams
),
fps AS (
  SELECT DISTINCT doc_id, mh FROM (
    SELECT doc_id, pos,
           COUNT(*) OVER (PARTITION BY doc_id) AS n,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                        AND {_WIN_W - 1} FOLLOWING) AS mh
    FROM hashed
  ) WHERE pos <= n - {_WIN_W}
),
kept AS (
  SELECT mh FROM fps GROUP BY mh HAVING COUNT(*) <= {_WIN_MAX_DF}
),
rfp AS (SELECT fps.doc_id, fps.mh FROM fps JOIN kept USING (mh))
SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_shared
FROM rfp x JOIN rfp y ON x.mh = y.mh AND x.doc_id < y.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {_WIN_MIN_SHARED}
ORDER BY doc_a, doc_b
"""


def q_prefix_jaccard_pairs(spark, sf_dir):
    """Lossless PPJoin-style near-dup join: because prefix filtering
    has NO false negatives, the oracle below is the pure brute-force
    exact-Jaccard SQL with no candidate guards — the hash match
    certifies the whole candidate-generation theorem, not just the
    verify step."""
    return dedup.prefix_jaccard_pairs(
        _near_corpus(spark, sf_dir), "doc_id", "text", threshold=0.5
    )


PREFIX_JACCARD_PAIRS_SQL = rf"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
{_SHINGLE_AB_CTES}
shc AS (
  SELECT DISTINCT doc_id, a * 4096 + b % 4096 AS c FROM sh
),
sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM shc x JOIN shc y
    ON x.c = y.c AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       n_common / CAST(za.n + zb.n - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN sizes za ON za.doc_id = doc_a
JOIN sizes zb ON zb.doc_id = doc_b
WHERE n_common / CAST(za.n + zb.n - n_common AS DOUBLE) >= 0.5
"""


NGRAM_JACCARD_PAIRS_SQL = rf"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
{_SHINGLE_AB_CTES}
rare AS (
  SELECT a, b FROM sh GROUP BY a, b HAVING count(*) <= {_NGRAM_MAX_DF}
),
rsh AS (SELECT sh.doc_id, sh.a, sh.b FROM sh JOIN rare USING (a, b)),
cands AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM rsh x JOIN rsh y
    ON x.a = y.a AND x.b = y.b AND x.doc_id < y.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT doc_a, doc_b, count(*) AS n_common
  FROM cands
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sa.a = sb.a AND sa.b = sb.b
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       n_common / CAST(za.n + zb.n - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN sizes za ON za.doc_id = doc_a
JOIN sizes zb ON zb.doc_id = doc_b
WHERE n_common / CAST(za.n + zb.n - n_common AS DOUBLE) >= 0.5
"""


# --------------------------------------------------------------------------
# ngram_containment_pairs — asymmetric containment C(A,B) = |A∩B|/|A|
# (operators/dedup.py::ngram_containment_pairs). The sub-document-
# duplication detector: the _near_corpus 70%-prefix truncations sit at
# containment ≈ 1 in their parent while Jaccard reads only ~0.7 — at a
# 0.9 bar Jaccard misses every one of them, containment catches all
# but boundary-dominated very-short docs (cut-point shingles are the
# honest cost — see test_containment_catches_what_jaccard_misses).
# Gate is the cross-multiplied integer form 10·|A∩B| ≥ 9·min(|A|,|B|);
# the oracle replays the 60-bit fold, DF cap, co-occurrence guard and
# gate verbatim, so the hash match certifies the whole pipeline.
# --------------------------------------------------------------------------


def q_ngram_containment_pairs(spark, sf_dir):
    return dedup.ngram_containment_pairs(
        _near_corpus(spark, sf_dir),
        "doc_id",
        "text",
        t_num=9,
        t_den=10,
        max_shingle_df=_NGRAM_MAX_DF,
    )


NGRAM_CONTAINMENT_PAIRS_SQL = rf"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
{_SHINGLE_AB_CTES}
shc AS (SELECT DISTINCT doc_id, a * 4096 + b % 4096 AS c FROM sh),
rare AS (SELECT c FROM shc GROUP BY c HAVING count(*) <= {_NGRAM_MAX_DF}),
rsh AS (SELECT shc.doc_id, shc.c FROM shc JOIN rare USING (c)),
cands AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM rsh x JOIN rsh y ON x.c = y.c AND x.doc_id < y.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
inter AS (
  SELECT doc_a, doc_b, count(*) AS n_common
  FROM cands
  JOIN shc sa ON sa.doc_id = doc_a
  JOIN shc sb ON sb.doc_id = doc_b AND sa.c = sb.c
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
       {_sql_round('n_common / CAST(za.n AS DOUBLE)', 6)} AS c_ab,
       {_sql_round('n_common / CAST(zb.n AS DOUBLE)', 6)} AS c_ba
FROM inter
JOIN sizes za ON za.doc_id = doc_a
JOIN sizes zb ON zb.doc_id = doc_b
WHERE 10 * n_common >= 9 * LEAST(za.n, zb.n)
ORDER BY doc_a, doc_b
"""

# --------------------------------------------------------------------------
# Phrase mining + benchmark decontamination — shingle-frequency ops
# every LLM data pipeline runs before training
# --------------------------------------------------------------------------

def q_common_phrases(spark, sf_dir):
    """Top-20 most frequent word 3-grams with document frequency — the
    boilerplate-phrase mining pass (feeds stop-shingle lists for dedup
    and filter rules). One explode + one groupBy + TakeOrdered."""
    from city_payroll_data_pipeline_spark.functions.text import (
        shingles as _sh,
        tokens_array as _ta,
    )

    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", _ta(F.col("text")).alias("t"))
    return (
        toks.select("doc_id", F.explode(_sh(F.col("t"), 3)).alias("phrase"))
        .distinct()
        .groupBy("phrase")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("phrase"))
        .limit(20)
    )


COMMON_PHRASES_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(trim(text), '\S+', 0) AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(t) >= 3
         THEN list_transform(range(0, len(t) - 2),
                             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
         ELSE []::VARCHAR[] END) AS phrase
  FROM toks
)
SELECT phrase, count(*) AS doc_freq
FROM sh GROUP BY phrase
ORDER BY doc_freq DESC, phrase ASC
LIMIT 20
"""


_SPAN_LEN = 16
_SPAN_STRIDE = 8
_SPAN_TOP_K = 20


def q_repeated_spans(spark, sf_dir):
    """Cross-document repeated LONG spans (16-token windows, stride 8)
    — the span-granularity dedup signal behind exact-substring
    deduplication: phrases short enough to be idiom (3-grams,
    `common_phrases`) are fine to repeat; a 16-token span shared
    verbatim across documents is boilerplate or a copy and should be
    cut or down-weighted.

    Scale shape: the heavy shuffle carries only (span_hash, doc_id) —
    never span text; counts + distinct-doc counts reduce per hash, the
    HAVING >= 2 docs filter and top-k shrink to a bounded frame, and
    ONLY then is one representative text recovered by re-deriving
    spans and broadcast-semi-joining the ≤k surviving hashes (the
    classic candidates-then-rehydrate pattern — same discipline as the
    dedup family: full text never crosses an exchange)."""
    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id", F.expr(r"regexp_extract_all(trim(text), '\\S+', 0)").alias("t")
    ).filter(F.size("t") >= _SPAN_LEN)
    spans = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(t) - {_SPAN_LEN}, {_SPAN_STRIDE}),"
                f" i -> array_join(slice(t, i + 1, {_SPAN_LEN}), ' '))"
            )
        ).alias("span"),
    ).select("doc_id", F.md5("span").alias("h"), "span")
    top = (
        spans.groupBy("h")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_occurrences"), F.asc("h"))
        .limit(_SPAN_TOP_K)
    )
    # rehydrate: semi-join the ≤k winning hashes back FIRST (broadcast,
    # map-side), so only the surviving sliver of span text ever reduces
    rep = (
        spans.join(F.broadcast(top.select("h")), "h")
        .groupBy("h")
        .agg(F.min("span").alias("span"))
    )
    return (
        top.join(F.broadcast(rep), "h")
        .select("span", "n_docs", "n_occurrences")
        .orderBy(F.desc("n_occurrences"), F.asc("span"))
    )


REPEATED_SPANS_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(trim(text), '\S+', 0) AS t
  FROM documents
),
spans AS (
  SELECT doc_id,
         array_to_string(list_slice(t, i + 1, i + {_SPAN_LEN}), ' ') AS span
  FROM toks,
       unnest(range(0, len(t) - {_SPAN_LEN} + 1, {_SPAN_STRIDE})) AS g(i)
  WHERE len(t) >= {_SPAN_LEN}
),
agg AS (
  SELECT md5(span) AS h, MIN(span) AS span,
         COUNT(*) AS n_occurrences,
         COUNT(DISTINCT doc_id) AS n_docs
  FROM spans
  GROUP BY md5(span)
  HAVING COUNT(DISTINCT doc_id) >= 2
  ORDER BY n_occurrences DESC, h ASC
  LIMIT {_SPAN_TOP_K}
)
SELECT span, n_docs, n_occurrences
FROM agg
ORDER BY n_occurrences DESC, span ASC
"""


# --------------------------------------------------------------------------
# dup_ngram_coverage — per-source duplicated-8-gram mass, the
# RefinedWeb/Dolma `dup_ngram_frac` filter signal at corpus
# granularity. repeated_spans ranks individual spans; this measures
# how much of each SOURCE is made of cross-document repetition — the
# number a pipeline owner reads before deciding a crawl slice needs
# fuzzy dedup at all. A doc is flagged when >30% of its distinct
# 8-grams appear in some other document (integer gate 10·dup > 3·tot).
#
# Scale: the shuffle carries (doc_id, md5-gram, source) only — never
# text; the gram frame is persisted because the doc-frequency
# aggregate and the coverage join both read it; df-join runs on the
# same key as the df-groupBy (exchange reuse); per-doc and per-source
# reductions are plain partial-agg groupBys. All counts stay integers
# until the single final division.
# --------------------------------------------------------------------------

_DUPGRAM_N = 8


def q_dup_ngram_coverage(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id",
        "source",
        F.expr(r"regexp_extract_all(trim(text), '\\S+', 0)").alias("t"),
    ).filter(F.size("t") >= _DUPGRAM_N)
    grams = (
        toks.select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {_DUPGRAM_N}),"
                    f" i -> md5(array_join(slice(t, i + 1, {_DUPGRAM_N}), ' ')))"
                )
            ).alias("h"),
        )
        .dropDuplicates(["doc_id", "h"])
        .persist()
    )
    dfreq = grams.groupBy("h").agg(F.count("*").alias("ndocs"))
    per_doc = (
        grams.join(dfreq, "h")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_dup").alias("dup_grams"),
            F.sum(
                F.when(
                    10 * F.col("n_dup") > 3 * F.col("n_grams"), 1
                ).otherwise(0)
            ).alias("n_flagged"),
        )
        .select(
            "source",
            "n_docs",
            "total_grams",
            "dup_grams",
            F.round(
                F.col("dup_grams").cast("double")
                / F.col("total_grams").cast("double"),
                6,
            ).alias("dup_frac"),
            "n_flagged",
        )
        .orderBy("source")
    )


DUP_NGRAM_COVERAGE_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, regexp_extract_all(trim(text), '\S+', 0) AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, source,
         md5(array_to_string(list_slice(t, i + 1, i + {_DUPGRAM_N}), ' ')) AS h
  FROM toks, unnest(range(0, len(t) - {_DUPGRAM_N} + 1)) AS g(i)
  WHERE len(t) >= {_DUPGRAM_N}
),
dfreq AS (SELECT h, count(*) AS ndocs FROM grams GROUP BY h),
per_doc AS (
  SELECT doc_id, source,
         count(*) AS n_grams,
         SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM grams JOIN dfreq USING (h)
  GROUP BY doc_id, source
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_grams) AS BIGINT) AS total_grams,
       CAST(SUM(n_dup) AS BIGINT) AS dup_grams,
       {_sql_round(
           'CAST(SUM(n_dup) AS DOUBLE) / CAST(SUM(n_grams) AS DOUBLE)', 6
       )} AS dup_frac,
       CAST(SUM(CASE WHEN 10 * n_dup > 3 * n_grams THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged
FROM per_doc
GROUP BY source
ORDER BY source
"""


def q_contamination_check(spark, sf_dir):
    """Benchmark decontamination: docs 0-4 act as the held-out
    'benchmark'; report how many other corpus docs share ≥3 of each
    probe's 3-gram shingles and the worst overlap. The probe side is
    tiny → broadcast; the corpus is scanned once."""
    from city_payroll_data_pipeline_spark.functions.text import (
        shingles as _sh,
        tokens_array as _ta,
    )

    docs = table(spark, sf_dir, "documents", spread=True)

    def side_shingles(df):
        return df.select(
            "doc_id", F.explode(_sh(_ta(F.col("text")), 3)).alias("s")
        )

    # The probe set is tiny — distinct it and broadcast. The corpus
    # side is the 100 TB stream: filter it against the broadcast FIRST
    # (BroadcastHashJoin, zero shuffle of the corpus), so the only
    # exchange is the distinct over the few surviving hits — NOT a
    # corpus-wide shingle distinct.
    probes = (
        side_shingles(docs.filter(F.col("doc_id") < 5))
        .distinct()
        .select(F.col("doc_id").alias("probe_id"), "s")
    )
    hits = side_shingles(docs.filter(F.col("doc_id") >= 5)).join(
        F.broadcast(probes), "s"
    )
    overlaps = (
        hits.select("probe_id", "doc_id", "s")
        .distinct()
        .groupBy("probe_id", "doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )
    return (
        overlaps.groupBy("probe_id")
        .agg(
            F.count("*").alias("n_contaminated"),
            F.max("n_shared").alias("max_overlap"),
        )
        .orderBy("probe_id")
    )


CONTAMINATION_CHECK_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(trim(text), '\S+', 0) AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(t) >= 3
         THEN list_transform(range(0, len(t) - 2),
                             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
         ELSE []::VARCHAR[] END) AS s
  FROM toks
),
ovl AS (
  SELECT p.doc_id AS probe_id, c.doc_id, count(*) AS n_shared
  FROM sh p JOIN sh c ON p.s = c.s AND p.doc_id < 5 AND c.doc_id >= 5
  GROUP BY 1, 2
  HAVING count(*) >= 3
)
SELECT probe_id, count(*) AS n_contaminated, max(n_shared) AS max_overlap
FROM ovl GROUP BY probe_id ORDER BY probe_id
"""

# --------------------------------------------------------------------------
# UNPIVOT — wide quality features → long (doc_id, metric, value), the
# inverse of the pivot operator (suite ``pivot_status_by_priority``).
# ``unpivot``/``stack`` is a generate-style expansion: map-side only,
# no shuffle; the long shape feeds metric-generic monitoring sinks.
# --------------------------------------------------------------------------

def q_quality_metrics_long(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    f = quality_features(F.col("text"))
    wide = docs.select(
        "doc_id",
        F.round(F.coalesce(f["alpha_ratio"], F.lit(0.0)), 6).alias("alpha_ratio"),
        F.round(F.coalesce(f["punct_ratio"], F.lit(0.0)), 6).alias("punct_ratio"),
        F.round(
            F.coalesce(f["stopword_ratio"], F.lit(0.0)), 6
        ).alias("stopword_ratio"),
    )
    return wide.unpivot(
        ids=["doc_id"],
        values=["alpha_ratio", "punct_ratio", "stopword_ratio"],
        variableColumnName="metric",
        valueColumnName="value",
    )


QUALITY_METRICS_LONG_SQL = rf"""
WITH feat AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '\S+', 0)) AS n_tokens,
         len(regexp_extract_all(text, '{ALPHA_CHAR_RE}', 0)) AS n_alpha,
         len(regexp_extract_all(text, '{PUNCT_CHAR_RE}', 0)) AS n_punct,
         len(regexp_extract_all(lower(text), '{_EN}', 0)) AS n_stop
  FROM documents
),
wide AS (
  SELECT doc_id,
         {_sql_round("COALESCE(n_alpha / CAST(NULLIF(n_chars, 0) AS DOUBLE), 0.0)", 6)} AS alpha_ratio,
         {_sql_round("COALESCE(n_punct / CAST(NULLIF(n_chars, 0) AS DOUBLE), 0.0)", 6)} AS punct_ratio,
         {_sql_round("COALESCE(n_stop / CAST(NULLIF(n_tokens, 0) AS DOUBLE), 0.0)", 6)} AS stopword_ratio
  FROM feat
)
SELECT doc_id, metric, value
FROM wide
UNPIVOT (value FOR metric IN (alpha_ratio, punct_ratio, stopword_ratio))
"""

# --------------------------------------------------------------------------
# Per-source OLS (quality ~ n_tokens) — the drift/diagnostic stat a
# pipeline tracks per data source. Closed-form slope/intercept from
# DECIMAL sums (x is an exact int, y an exact 6-dp decimal), so the
# only float ops are the final divisions — bit-identical across
# engines and partitionings. Stays JVM-side: grouped regression needs
# no applyInPandas when the estimator has a closed form over sums.
# --------------------------------------------------------------------------

def q_per_source_ols(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    x = token_count(F.col("text")).cast("long")
    y = quality_score(F.col("text")).cast("decimal(18,8)")
    base = docs.select("source", x.alias("x"), y.alias("y"))
    agg = base.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    det = agg["n"] * agg["sxx"] - agg["sx"] * agg["sx"]
    slope = F.when(
        det != 0,
        (agg["n"] * agg["sxy"] - agg["sx"] * agg["sy"]).cast("double")
        / det.cast("double"),
    )
    mean_y = agg["sy"].cast("double") / agg["n"]
    mean_x = agg["sx"].cast("double") / agg["n"]
    return agg.select(
        "source",
        "n",
        F.round(slope, 8).alias("slope"),
        F.round(mean_y - slope * mean_x, 8).alias("intercept"),
    ).orderBy("source")


_QUALITY_EXPR_SQL = """
  0.4 * COALESCE(n_alpha / CAST(NULLIF(n_chars, 0) AS DOUBLE), 0.0)
  + 0.3 * least(COALESCE(n_stop / CAST(NULLIF(n_tokens, 0) AS DOUBLE), 0.0) * 4, 1.0)
  + 0.2 * greatest(0.0, 1.0 - COALESCE(n_punct / CAST(NULLIF(n_chars, 0) AS DOUBLE), 0.0) * 5)
  + 0.1 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.3 END)
"""

PER_SOURCE_OLS_SQL = rf"""
WITH feat AS (
  SELECT source,
         len(regexp_extract_all(text, '\S+', 0)) AS n_tokens,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '{ALPHA_CHAR_RE}', 0)) AS n_alpha,
         len(regexp_extract_all(text, '{PUNCT_CHAR_RE}', 0)) AS n_punct,
         len(regexp_extract_all(lower(text), '{_EN}', 0)) AS n_stop
  FROM documents
),
base AS (
  SELECT source,
         CAST(n_tokens AS BIGINT) AS x,
         CAST({_sql_round(_QUALITY_EXPR_SQL, 6)} AS DECIMAL(18,8)) AS y
  FROM feat
),
agg AS (
  SELECT source, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM base GROUP BY source
)
SELECT source, n,
       round(CASE WHEN n * sxx - sx * sx <> 0
             THEN CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE) END, 8) AS slope,
       round(CAST(sy AS DOUBLE) / n
             - (CASE WHEN n * sxx - sx * sx <> 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) END)
               * (CAST(sx AS DOUBLE) / n), 8) AS intercept
FROM agg
ORDER BY source
"""

# --------------------------------------------------------------------------
# PII scrubbing — the redaction pass every public-web corpus gets
# before training. The synthetic corpus is PII-free, so both engines
# inject the SAME deterministic contact lines (doc_id % 7 == 0) and
# must agree on detection counts and the redacted content fingerprint.
# Regexes stay in the common Java/RE2/PCRE subset (no lookaround).
# --------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def q_pii_scrub(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    with_pii = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1-555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-0199"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return with_pii.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).alias("n_phones"),
        F.md5(redacted).alias("redacted_fp"),
    )


PII_SCRUB_SQL = rf"""
WITH with_pii AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or +1-555-'
                   || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{_EMAIL_RE}', 0)) AS n_emails,
       len(regexp_extract_all(text, '{_PHONE_RE}', 0)) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_fp
FROM with_pii
"""

# --------------------------------------------------------------------------
# Per-source length z-scores — outlier scoring for filter rules.
# Mean/variance come from INTEGER sums over the window (n·Σx² and
# (Σx)² are exact bigints), so mean/std/z are single IEEE ops over
# identical integers in both engines — no order-dependent float
# accumulation anywhere.
# --------------------------------------------------------------------------

def q_length_zscores(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    w = W.partitionBy("source")
    x = F.col("n_chars")
    n = F.count("*").over(w)
    s1 = F.sum(x).over(w)
    s2 = F.sum(x * x).over(w)
    mean = s1.cast("double") / n
    # var·n² = n·Σx² − (Σx)² exactly; std = sqrt(...)/n
    std = F.sqrt((n * s2 - s1 * s1).cast("double")) / n
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(mean, 6).alias("src_mean_chars"),
        F.round(F.when(std > 0, (x - mean) / std), 6).alias("len_z"),
    )


LENGTH_ZSCORES_SQL = f"""
WITH stats AS (
  SELECT doc_id, source, n_chars,
         count(*) OVER (PARTITION BY source) AS n,
         sum(n_chars) OVER (PARTITION BY source) AS s1,
         sum(n_chars * n_chars) OVER (PARTITION BY source) AS s2
  FROM documents
)
SELECT doc_id, source, n_chars,
       {_sql_round('CAST(s1 AS DOUBLE) / n', 6)} AS src_mean_chars,
       {_sql_round('''CASE WHEN sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n > 0
             THEN (n_chars - CAST(s1 AS DOUBLE) / n)
                  / (sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n) END''', 6)}
         AS len_z
FROM stats
"""

# --------------------------------------------------------------------------
# Length deciles — quantile binning for curriculum/batch balancing.
# ntile over a TOTAL order (n_chars, doc_id) is deterministic across
# engines. Note the global sort: at 100 TB the scale path is
# width_bucket over approx-percentile cut points (one pass, no global
# exchange) — ntile here doubles as the exact oracle for that.
# --------------------------------------------------------------------------

def q_length_deciles(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    w = W.orderBy("n_chars", "doc_id")
    return (
        docs.select("doc_id", "n_chars", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("decile")
    )


LENGTH_DECILES_SQL = """
SELECT decile, count(*) AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM (SELECT doc_id, n_chars,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
      FROM documents)
GROUP BY decile
ORDER BY decile
"""


def q_length_deciles_scaled(spark, sf_dir):
    """The promised scale path for length_deciles: bit-identical
    NTILE(10) via operators/ntile.py (distinct-value cumsum +
    per-value parallel rank + bucket arithmetic — no global row-level
    sort). The exact NTILE SQL is its oracle, so the hash match
    certifies the equivalence."""
    from city_payroll_data_pipeline_spark.operators.ntile import (
        ntile_no_global_sort,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    binned = ntile_no_global_sort(docs, 10, "n_chars", "doc_id", "decile")
    return (
        binned.groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("decile")
    )

# --------------------------------------------------------------------------
# TF-IDF top terms — keyword extraction per document. Score stays
# exact-integer until ONE double division (tf·n_docs / df), so Spark
# and DuckDB rank identically; ties break on the term itself.
# --------------------------------------------------------------------------

TFIDF_TOP_N = 3


def q_tfidf_top_terms(spark, sf_dir):
    """Top-3 terms per document by tf·idf (rational form tf·N/df —
    no log, so the score is an exact integer ratio). The corpus-wide
    doc count joins in as a broadcast single-row aggregate, never a
    driver-side collect — the plan stays fully distributed."""
    docs = table(spark, sf_dir, "documents", spread=True)
    tf = (
        docs.select(
            "doc_id", F.explode(word_tokens(F.col("text"))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    from pyspark.sql import Window as W

    # df(term) as a count-over-window on the tf frame: one shuffle on
    # term and NO self-join — at 100 TB the aggregate+join alternative
    # shuffles the tf frame on term anyway and adds a join on top.
    scored = (
        tf.withColumn("df", F.count("*").over(W.partitionBy("term")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_N)
        .select("doc_id", "rank", "term", F.round("score", 6).alias("tfidf"))
    )


TFIDF_TOP_TERMS_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[A-Za-z]+', 0)) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, CAST(tf * n_docs AS DOUBLE) / df AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, rank, term, {_sql_round('score', 6)} AS tfidf
FROM ranked WHERE rank <= {TFIDF_TOP_N}
"""

# --------------------------------------------------------------------------
# Intra-document repetition (Gopher-style quality signals): duplicate
# 2-gram ratio + most-frequent-token share. High values flag
# boilerplate/spam docs a training pipeline filters out.
# --------------------------------------------------------------------------

def q_doc_repetition(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import (
        shingles as _sh,
        tokens_array as _ta,
    )

    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", _ta(F.col("text")).alias("t"))
    grams = toks.select(
        "doc_id", F.explode(_sh(F.col("t"), 2)).alias("g")
    )
    gram_stats = grams.groupBy("doc_id").agg(
        F.count("*").alias("n_2grams"),
        F.count_distinct("g").alias("n_distinct_2grams"),
    )
    tok_stats = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
        .groupBy("doc_id")
        .agg(F.max("tf").alias("max_tf"), F.sum("tf").alias("n_tokens"))
    )
    return (
        gram_stats.join(tok_stats, "doc_id")
        .select(
            "doc_id",
            "n_2grams",
            F.round(
                F.lit(1.0)
                - F.col("n_distinct_2grams").cast("double") / F.col("n_2grams"),
                6,
            ).alias("dup_2gram_ratio"),
            F.round(
                F.col("max_tf").cast("double") / F.col("n_tokens"), 6
            ).alias("top_token_share"),
        )
    )


DOC_REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(trim(text), '\S+', 0) AS t FROM documents
),
grams AS (
  SELECT doc_id, unnest(
    CASE WHEN len(t) >= 2
         THEN list_transform(range(0, len(t) - 1),
                             i -> t[i+1] || ' ' || t[i+2])
         ELSE []::VARCHAR[] END) AS g
  FROM toks
),
gram_stats AS (
  SELECT doc_id, count(*) AS n_2grams,
         count(DISTINCT g) AS n_distinct_2grams
  FROM grams GROUP BY doc_id
),
tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
  GROUP BY 1, 2
),
tok_stats AS (
  SELECT doc_id, max(tf) AS max_tf, sum(tf) AS n_tokens FROM tf GROUP BY 1
)
SELECT g.doc_id, g.n_2grams,
       round(1.0 - CAST(n_distinct_2grams AS DOUBLE) / n_2grams, 6)
         AS dup_2gram_ratio,
       round(CAST(max_tf AS DOUBLE) / n_tokens, 6) AS top_token_share
FROM gram_stats g JOIN tok_stats s ON g.doc_id = s.doc_id
"""

# --------------------------------------------------------------------------
# Incremental batch dedup — the steady-state ingest shape: dedupe the
# incoming batch against itself, then anti-join its fingerprints
# against the existing corpus. Sources src0-src9 play "existing",
# src10-src19 "incoming". Both the intra-batch winner pick and the
# anti-join shuffle on fingerprint — one co-partitioned exchange.
# --------------------------------------------------------------------------

def q_incremental_dedup(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        "source",
        content_fingerprint(F.col("text")).alias("fingerprint"),
        F.substring("source", 4, 10).cast("int").alias("_sn"),
    )
    existing = docs.filter(F.col("_sn") < 10)
    incoming = docs.filter(F.col("_sn") >= 10)
    w = W.partitionBy("fingerprint").orderBy("doc_id")
    batch_winners = (
        incoming.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        batch_winners.join(
            existing.select("fingerprint"), "fingerprint", "left_anti"
        )
        .select("doc_id", "source", "fingerprint")
        .orderBy("doc_id")
    )


INCREMENTAL_DEDUP_SQL = r"""
WITH fp AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
         CAST(substr(source, 4) AS INT) AS sn
  FROM documents
),
inc AS (
  SELECT doc_id, source, fingerprint,
         row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
  FROM fp WHERE sn >= 10
)
SELECT doc_id, source, fingerprint
FROM inc i
WHERE rn = 1
  AND NOT EXISTS (SELECT 1 FROM fp e
                  WHERE e.sn < 10 AND e.fingerprint = i.fingerprint)
ORDER BY doc_id
"""

# --------------------------------------------------------------------------
# Deterministic sampling + split assignment. RNG-based sampling is not
# reproducible across engines/runs/partitionings; hashing the stable id
# is — the standard trick for training-data splits that must never
# drift between pipeline runs. Bucket = first 48 md5 bits mod 100
# (exact bigint arithmetic both engines).
# --------------------------------------------------------------------------

def _hash_bucket(col):
    """md5(id) → bucket in [0, 100). 48 bits so bigint never overflows."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10)
        .cast("bigint")
        % 100
    )


_HASH_BUCKET_SQL = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 100"
)


def q_hash_sample_docs(spark, sf_dir):
    """Reproducible ~10% sample: hash-bucket < 10. Fully parallel, no
    RNG state, stable under repartitioning and re-runs."""
    docs = table(spark, sf_dir, "documents")
    return docs.filter(_hash_bucket(F.col("doc_id")) < 10).select(
        "doc_id", "source", "n_chars"
    )


HASH_SAMPLE_DOCS_SQL = f"""
SELECT doc_id, source, n_chars
FROM documents
WHERE {_HASH_BUCKET_SQL} < 10
"""


# --------------------------------------------------------------------------
# weighted_reservoir_sample — exact-k weighted sampling WITHOUT
# replacement (Efraimidis-Spirakis A-ES). hash_sample_docs keeps a
# fixed RATE; training loaders usually want exactly k items with
# inclusion probability ∝ weight (here: token count, so long docs are
# proportionally favored). A-ES reduces that to a top-k: key_i =
# u_i^(1/w_i) with u_i uniform — rank by ln(u_i)/w_i (monotone
# transform, better conditioned near 1). u comes from the md5 bucket
# hash (+1 so ln never sees 0), exact integer → one double division;
# ln rides the 10-dp-round discipline the bm25 idf established (a
# last-ulp libm difference cannot flip a rounded key, and ties break
# on doc_id).
#
# Scale: map-side scoring + TakeOrderedAndProject — no shuffle, no RNG
# state, the sample is identical under any partitioning/engine/run,
# which is what makes it resumable.
# --------------------------------------------------------------------------

_RESERVOIR_K = 20
_RES_DEN = float(2 ** 48 + 1)


def q_weighted_reservoir_sample(spark, sf_dir):
    from pyspark.sql import Window as W

    from city_payroll_data_pipeline_spark.functions.text import hex_to_long

    docs = table(spark, sf_dir, "documents", spread=True)
    w = token_count(F.col("text"))
    u = (
        hex_to_long(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12)
        )
        + 1
    ) / F.lit(_RES_DEN)
    scored = docs.select(
        "doc_id",
        w.alias("weight"),
        F.round(F.log(u) / w, 10).alias("key"),
    ).where(F.col("weight") > 0)
    top = scored.orderBy(F.desc("key"), "doc_id").limit(_RESERVOIR_K)
    wr = W.orderBy(F.desc("key"), "doc_id")
    return (
        top.withColumn("rank", F.row_number().over(wr))
        .select("rank", "doc_id", "weight", "key")
        .orderBy("rank")
    )


WEIGHTED_RESERVOIR_SAMPLE_SQL = rf"""
WITH scored AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\S+', 0)) AS weight,
         round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                        AS BIGINT) + 1) / {_RES_DEN})
               / len(regexp_extract_all(text, '\S+', 0)), 10) AS key
  FROM documents
  WHERE len(regexp_extract_all(text, '\S+', 0)) > 0
),
top AS (
  SELECT doc_id, weight, key FROM scored
  ORDER BY key DESC, doc_id LIMIT {_RESERVOIR_K}
)
SELECT ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS rank,
       doc_id, weight, key
FROM top ORDER BY rank
"""


# per-language keep rates (percent): downsample the dominant language,
# keep the tail — the corpus-rebalancing pass before training mixes
_STRATA_RATES = {"en": 30, "zh": 80, "es": 80, "de": 80, "fr": 80}
_STRATA_DEFAULT = 50


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: md5-bucket of doc_id against
    a per-language rate map. Pure map-side filter — no shuffle, no RNG,
    identical sample under any partitioning/engine."""
    rate = F.lit(_STRATA_DEFAULT)
    for la, r in _STRATA_RATES.items():
        rate = F.when(F.col("lang") == la, F.lit(r)).otherwise(rate)
    docs = table(spark, sf_dir, "documents")
    return docs.filter(_hash_bucket(F.col("doc_id")) < rate).select(
        "doc_id", "lang", "source"
    )


_STRATA_CASE_SQL = "CASE " + " ".join(
    f"WHEN lang = '{la}' THEN {r}" for la, r in _STRATA_RATES.items()
) + f" ELSE {_STRATA_DEFAULT} END"

STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {_HASH_BUCKET_SQL} < {_STRATA_CASE_SQL}
"""


# --------------------------------------------------------------------------
# Dataset manifest: per-source row/char/token totals plus an
# order-insensitive content checksum — the integrity artifact shipped
# alongside a corpus so the receiving system can verify a transfer
# without re-reading source-of-truth. The checksum is the exact
# integer sum of each doc's 48-bit content fingerprint (decimal(38,0)
# accumulation — no overflow below ~10^26 docs) reduced mod 2^48:
# order-insensitive by construction, so any partitioning/engine
# computes the same value; a single flipped character changes it with
# probability ~1-2^-48. All-integer arithmetic → bit-exact parity.
# --------------------------------------------------------------------------

def q_dataset_manifest(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    fp48 = (
        F.conv(F.substring(content_fingerprint(F.col("text")), 1, 12), 16, 10)
        .cast("decimal(38,0)")
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(token_count(F.col("text"))).alias("total_tokens"),
            (F.sum(fp48) % F.lit(1 << 48).cast("decimal(38,0)"))
            .cast("bigint")
            .alias("content_checksum"),
        )
        .orderBy("source")
    )


DATASET_MANIFEST_SQL = r"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len(regexp_extract_all(text, '\S+', 0))) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(CAST('0x' || substr(
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 12)
              AS BIGINT) AS HUGEINT)) % (1::HUGEINT << 48) AS BIGINT)
         AS content_checksum
FROM documents
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# Corpus snapshot diff: classify every doc as added / removed /
# changed / unchanged between two corpus versions — the audit step
# before promoting an incremental ingest (and the input to targeted
# re-embedding: only 'added'+'changed' need reprocessing). One full
# outer join on doc_id comparing content fingerprints; both sides
# carry only (id, fingerprint) through the shuffle — the 100 TB text
# never moves. The "previous snapshot" is synthesized deterministically
# (drop %13 → added-in-current, mutate %7 → changed) so both engines
# diff the same pair of corpora.
# --------------------------------------------------------------------------

def q_corpus_snapshot_diff(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    cur = docs.select(
        "doc_id", content_fingerprint(F.col("text")).alias("fp")
    )
    prev = (
        docs.filter(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            content_fingerprint(
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.concat(F.col("text"), F.lit(" v2")),
                ).otherwise(F.col("text"))
            ).alias("fp"),
        )
    )
    joined = cur.alias("c").join(
        prev.alias("p"), F.col("c.doc_id") == F.col("p.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("p.doc_id").isNull(), F.lit("added"))
        .when(F.col("c.doc_id").isNull(), F.lit("removed"))
        .when(F.col("c.fp") != F.col("p.fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(
            F.coalesce(F.col("c.doc_id"), F.col("p.doc_id")).alias("doc_id"),
            status.alias("status"),
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("status")
    )


_FP_SQL = "md5(trim(regexp_replace(lower({col}), '\\s+', ' ', 'g')))"

CORPUS_SNAPSHOT_DIFF_SQL = f"""
WITH cur AS (
  SELECT doc_id, {_FP_SQL.format(col='text')} AS fp FROM documents
),
prev AS (
  SELECT doc_id,
         {_FP_SQL.format(col="CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END")} AS fp
  FROM documents WHERE doc_id % 13 != 0
),
joined AS (
  SELECT COALESCE(c.doc_id, p.doc_id) AS doc_id,
         CASE WHEN p.doc_id IS NULL THEN 'added'
              WHEN c.doc_id IS NULL THEN 'removed'
              WHEN c.fp != p.fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM cur c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id
)
SELECT status, COUNT(*) AS n_docs,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM joined GROUP BY status ORDER BY status
"""


_PER_GROUP_K = 50


def q_per_group_sample(spark, sf_dir):
    """Exact-k-per-stratum sample: the fixed-size eval/holdout draw
    (k docs per source), deterministic without RNG state — rank by
    md5(doc_id) within each stratum and keep the first k. One shuffle
    on the stratum key; at 100 TB the window never materializes a
    stratum in memory (rank is a streaming sort-based agg), and
    because k is constant the output stays small no matter the corpus.
    Spark plans a WindowGroupLimit: the per-partition map-side pass
    drops everything past rank k BEFORE the shuffle, so the exchange
    carries ~k rows per stratum per input partition, not the corpus."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    pick = F.md5(F.col("doc_id").cast("string"))
    w = W.partitionBy("source").orderBy(pick, "doc_id")
    return (
        docs.withColumn("rank_in_source", F.row_number().over(w))
        .filter(F.col("rank_in_source") <= _PER_GROUP_K)
        .select("doc_id", "source", "rank_in_source")
    )


PER_GROUP_SAMPLE_SQL = f"""
SELECT doc_id, source, rank_in_source
FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rank_in_source
  FROM documents
)
WHERE rank_in_source <= {_PER_GROUP_K}
"""


def q_budget_rebalance_sample(spark, sf_dir):
    """Dynamic stratified sampling: per-language keep rates COMPUTED
    from the corpus (equalize token budgets to the smallest language)
    rather than a static map. Integer-only rate derivation
    (100·min/lang tokens, floor), broadcast of the tiny per-language
    rate table back onto the corpus, then the same deterministic
    md5-bucket filter — two aggregate shuffles and a broadcast join,
    no matter the corpus size. Reports the per-language outcome."""
    docs = table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tok")
    )
    lang_tok = docs.groupBy("lang").agg(F.sum("n_tok").alias("tok"))
    min_tok = lang_tok.agg(F.min("tok").alias("min_tok"))
    rates = lang_tok.crossJoin(F.broadcast(min_tok)).select(
        "lang",
        F.least(
            F.lit(100).cast("bigint"), (F.lit(100) * F.col("min_tok")) / F.col("tok")
        )
        .cast("bigint")
        .alias("rate_pct"),
    )
    sampled = docs.join(F.broadcast(rates), "lang").filter(
        _hash_bucket(F.col("doc_id")) < F.col("rate_pct")
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.max("rate_pct").alias("rate_pct"),
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("sampled_tokens"),
        )
        .orderBy("lang")
    )


BUDGET_REBALANCE_SAMPLE_SQL = rf"""
WITH docs AS (
  SELECT doc_id, lang, len(regexp_extract_all(text, '\S+', 0)) AS n_tok
  FROM documents
),
lang_tok AS (SELECT lang, sum(n_tok) AS tok FROM docs GROUP BY lang),
rates AS (
  SELECT lang,
         least(100, (100 * (SELECT min(tok) FROM lang_tok)) // tok) AS rate_pct
  FROM lang_tok
),
sampled AS (
  SELECT d.lang, r.rate_pct, d.n_tok
  FROM docs d JOIN rates r USING (lang)
  WHERE {_HASH_BUCKET_SQL} < r.rate_pct
)
SELECT lang, CAST(max(rate_pct) AS BIGINT) AS rate_pct, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sampled_tokens
FROM sampled GROUP BY lang ORDER BY lang
"""


def q_training_mix_report(spark, sf_dir):
    """The whole pre-training funnel in ONE Spark plan: exact-dedup
    keep → quality & length gate → per-language token-budget rebalance
    (rates computed in-plan) → final mix report with doc/token counts
    and share of the surviving budget. Every stage reuses the suite's
    building blocks; Catalyst fuses the scoring into the scan and the
    whole thing is four shuffles regardless of corpus size (dedup
    window, two rebalance aggs, final rollup)."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents", spread=True)
    w = W.partitionBy(content_fingerprint(F.col("text"))).orderBy("doc_id")
    kept = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            token_count(F.col("text")).alias("n_tok"),
            quality_score(F.col("text")).alias("q"),
        )
    )
    good = kept.filter((F.col("q") >= 0.5) & (F.col("n_tok") >= 10))
    lang_tok = good.groupBy("lang").agg(F.sum("n_tok").alias("tok"))
    min_tok = lang_tok.agg(F.min("tok").alias("min_tok"))
    rates = lang_tok.crossJoin(F.broadcast(min_tok)).select(
        "lang",
        F.least(
            F.lit(100).cast("bigint"),
            (F.lit(100) * F.col("min_tok")) / F.col("tok"),
        )
        .cast("bigint")
        .alias("rate_pct"),
    )
    mix = good.join(F.broadcast(rates), "lang").filter(
        _hash_bucket(F.col("doc_id")) < F.col("rate_pct")
    )
    per_lang = mix.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("tokens")
    )
    total = per_lang.agg(F.sum("tokens").alias("total_tokens"))
    return (
        per_lang.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "n_docs",
            "tokens",
            F.round(
                F.col("tokens").cast("double") / F.col("total_tokens"), 6
            ).alias("budget_share"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Unicode sanitization — corpus hygiene. The synthetic corpus is clean
# ASCII, so (as with the dedup queries) dirt is synthesized in-plan:
# docs with doc_id%7==0 get control chars + zero-width chars injected,
# then the sanitizer must (a) detect and strip them and (b) restore the
# original whitespace-normalized text exactly. One scan, one tiny
# per-source agg — no shuffle grows with the corpus.
# --------------------------------------------------------------------------

def q_unicode_sanitize(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    raw = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.lit("\x01\u200b"), F.col("text"), F.lit("\x7f\ufeff")
        ),
    ).otherwise(F.col("text"))
    d = docs.select("source", "text", raw.alias("raw")).withColumn(
        "clean", sanitize_text(F.col("raw"))
    )
    ws_norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("raw") != F.col("clean"), 1)).alias(
                "n_changed"
            ),
            F.sum(F.length("raw") - F.length("clean")).alias("chars_removed"),
            F.count(F.when(F.col("clean") == ws_norm, 1)).alias("n_restored"),
        )
        .orderBy("source")
    )


UNICODE_SANITIZE_SQL = r"""
WITH d AS (
  SELECT source, text,
         CASE WHEN doc_id % 7 = 0
              THEN chr(1) || chr(8203) || text || chr(127) || chr(65279)
              ELSE text END AS raw
  FROM documents
),
san AS (
  SELECT source, text, raw,
         trim(regexp_replace(regexp_replace(regexp_replace(raw,
              '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
              '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
              '\s+', ' ', 'g')) AS clean
  FROM d
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE raw <> clean) AS n_changed,
       CAST(SUM(length(raw) - length(clean)) AS BIGINT) AS chars_removed,
       COUNT(*) FILTER (WHERE clean = trim(regexp_replace(text, '\s+', ' ', 'g')))
         AS n_restored
FROM san
GROUP BY source
ORDER BY source
"""

_QUALITY_GATE_SQL = rf"""
  SELECT doc_id, lang,
         len(regexp_extract_all(text, '\S+', 0)) AS n_tok,
         CAST({{q}} AS DOUBLE) AS q
  FROM (
    SELECT doc_id, lang, text,
           length(text) AS n_chars,
           len(regexp_extract_all(text, '\S+', 0)) AS n_tokens,
           len(regexp_extract_all(text, '{_ALPHA_FMT}', 0)) AS n_alpha,
           len(regexp_extract_all(text, '{_PUNCT_FMT}', 0))
             AS n_punct,
           len(regexp_extract_all(lower(text), '{_EN}', 0)) AS n_stop
    FROM keep
  )
"""

TRAINING_MIX_REPORT_SQL = rf"""
WITH keep AS (
  SELECT doc_id, lang, text
  FROM (
    SELECT doc_id, lang, text,
           row_number() OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
             ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn = 1
),
scored AS ({_QUALITY_GATE_SQL.format(q=_sql_round(_QUALITY_EXPR_SQL, 6))}),
good AS (SELECT * FROM scored WHERE q >= 0.5 AND n_tok >= 10),
lang_tok AS (SELECT lang, sum(n_tok) AS tok FROM good GROUP BY lang),
rates AS (
  SELECT lang,
         least(100, (100 * (SELECT min(tok) FROM lang_tok)) // tok) AS rate_pct
  FROM lang_tok
),
mix AS (
  SELECT g.lang, g.n_tok
  FROM good g JOIN rates r USING (lang)
  WHERE {_HASH_BUCKET_SQL} < r.rate_pct
),
per_lang AS (
  SELECT lang, count(*) AS n_docs, sum(n_tok) AS tokens FROM mix GROUP BY lang
)
SELECT lang, n_docs, CAST(tokens AS BIGINT) AS tokens,
       round(CAST(tokens AS DOUBLE)
             / (SELECT sum(tokens) FROM per_lang), 6) AS budget_share
FROM per_lang ORDER BY lang
"""


def q_train_val_test_split(spark, sf_dir):
    """80/10/10 split assignment by hash bucket, reported per source —
    the canonical reproducible-split op for corpus pipelines."""
    docs = table(spark, sf_dir, "documents")
    bucket = _hash_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "split")
    )


TRAIN_VAL_TEST_SPLIT_SQL = f"""
SELECT source,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
         AS split,
       COUNT(*) AS n_docs
FROM (SELECT source, {_HASH_BUCKET_SQL} AS b FROM documents)
GROUP BY 1, 2
ORDER BY source, split
"""

# --------------------------------------------------------------------------
# split_leakage_check — train/test contamination audit.
#
# Hash-bucket splits are reproducible but NOT dedup-aware: two copies
# of the same text under different ids hash to different buckets and
# can land on opposite sides of the train/test wall — the eval is then
# contaminated and scores are inflated. This audit runs on the
# duplicate-bearing corpus: per ordered split pair, how many distinct
# content fingerprints appear in BOTH splits. Non-zero leakage = split
# AFTER dedup (or split by fingerprint, not id).
#
# Scale: the join runs on the distinct (fingerprint, split) frame —
# ≤ 3 rows per fingerprint — never on text.
# --------------------------------------------------------------------------


def q_split_leakage_check(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import (
        content_fingerprint,
    )

    corpus = _dup_corpus(spark, sf_dir)
    bucket = _hash_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    per = (
        corpus.select(
            content_fingerprint(F.col("text")).alias("fp"), split.alias("split")
        )
        .distinct()
    )
    return (
        per.alias("a")
        .join(
            per.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.split") < F.col("b.split")),
        )
        .groupBy(
            F.col("a.split").alias("split_a"), F.col("b.split").alias("split_b")
        )
        .agg(F.count("*").alias("n_leaked_fps"))
        .orderBy("split_a", "split_b")
    )


# --------------------------------------------------------------------------
# neardup_split_leakage — the NEAR-dup half of the contamination
# audit. split_leakage_check catches exact copies crossing the
# train/test wall; the leaks that actually inflate evals in practice
# are near-duplicates (truncations, boilerplate variants, re-crawls)
# — Lee et al. 2021 measure exactly this class. This audit joins the
# minhash-LSH verified pair set to the hash-bucket split assignment
# of both endpoints and reports, per unordered split pair, how many
# verified near-dup pairs land there — every (train, test) or
# (train, val) row is a leak the split procedure must fix (split by
# CLUSTER, not by id). `leaked` flags cross-split rows; pair_share
# gives each cell's mass of all verified pairs.
#
# Scale: the pair frame is the minhash pipeline's (already bucketed,
# candidate-bounded); split assignment is a map-side hash on ids; the
# two joins are id-equi against a pairs frame that is tiny relative
# to the corpus (near-dup pairs, not rows). The 1-row total rides a
# broadcast cross join (the shuffle_run_lengths precedent).
# --------------------------------------------------------------------------


def q_neardup_split_leakage(spark, sf_dir):
    corpus = _near_corpus(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(
        corpus, "doc_id", "text", threshold=0.5
    ).select("doc_a", "doc_b")
    bucket = _hash_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    assign = corpus.select("doc_id", split.alias("split"))
    a = assign.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    b = assign.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    agg = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )
    total = agg.agg(F.sum("n_pairs").alias("total"))
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            F.round(F.col("n_pairs") / F.col("total"), 6).alias("pair_share"),
            (F.col("split_a") != F.col("split_b")).cast("int").alias("leaked"),
        )
        .orderBy("split_a", "split_b")
    )


NEARDUP_SPLIT_LEAKAGE_SQL = rf"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({MINHASH_DEDUP_PAIRS_SQL.strip()})
),
corpus3 AS ({_NEAR_CORPUS_SQL}),
assign AS (
  SELECT doc_id,
         CASE WHEN {_HASH_BUCKET_SQL} < 80 THEN 'train'
              WHEN {_HASH_BUCKET_SQL} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM corpus3
),
agg AS (
  SELECT LEAST(a.split, b.split) AS split_a,
         GREATEST(a.split, b.split) AS split_b,
         COUNT(*) AS n_pairs
  FROM pairs p
  JOIN assign a ON a.doc_id = p.doc_a
  JOIN assign b ON b.doc_id = p.doc_b
  GROUP BY 1, 2
)
SELECT split_a, split_b, n_pairs,
       {_sql_round('CAST(n_pairs AS DOUBLE) / (SELECT SUM(n_pairs) FROM agg)', 6)}
         AS pair_share,
       CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS leaked
FROM agg
ORDER BY split_a, split_b
"""


# --------------------------------------------------------------------------
# cluster_safe_split — the REMEDY the two leakage audits point at:
# assign train/val/test by near-dup CLUSTER, not by document id.
# Every doc inherits its connected component (singletons cluster as
# themselves), the hash bucket is taken on the cluster id, so a
# near-dup pair can never straddle the wall — the query recomputes
# the leaked-pair count as its own certificate column (zero by
# construction, and the oracle re-derives that zero independently).
# Per split: cluster count, doc count, and the certificate.
#
# Scale: clustering cost is the dedup pipeline's (already bucketed);
# the split assignment is one map-side hash on the cluster id after
# a left join of the corpus against the component frame (pairs-sized,
# tiny relative to the corpus). The 1-row certificate rides a
# broadcast cross join.
# --------------------------------------------------------------------------


def q_cluster_safe_split(spark, sf_dir):
    corpus = _near_corpus(spark, sf_dir)
    # eager localCheckpoint (the bt_mm_scaled/CC precedent): `pairs`
    # feeds BOTH connected_components and the leak certificate, and
    # `splits` feeds the report groupBy plus both certificate
    # endpoints — without truncation the whole minhash shingle/band/
    # verify DAG re-executes per consumer. Both frames are pairs-/
    # corpus-id-sized (no text column rides along).
    pairs = (
        dedup.minhash_dedup_pairs(corpus, "doc_id", "text", threshold=0.5)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    comp = dedup.connected_components(pairs)
    assign = corpus.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
    )
    bucket = _hash_bucket(F.col("cluster"))
    splits = assign.select(
        "doc_id",
        "cluster",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    ).localCheckpoint(eager=True)
    a = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    b = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    leaks = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .agg(
            F.sum((F.col("sa") != F.col("sb")).cast("long")).alias(
                "n_leaked_pairs"
            )
        )
    )
    return (
        splits.groupBy("split")
        .agg(
            F.countDistinct("cluster").alias("n_clusters"),
            F.count("*").alias("n_docs"),
        )
        .crossJoin(F.broadcast(leaks))
        .select("split", "n_clusters", "n_docs", "n_leaked_pairs")
        .orderBy("split")
    )


CLUSTER_SAFE_SPLIT_SQL = rf"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({MINHASH_DEDUP_PAIRS_SQL.strip()})
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(doc, r) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.doc
),
comp AS (
  SELECT doc AS doc_id, min(r) AS component FROM reach GROUP BY doc
),
corpus4 AS ({_NEAR_CORPUS_SQL}),
splits AS (
  SELECT c.doc_id, cluster,
         CASE WHEN CAST('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 12)
                        AS BIGINT) % 100 < 80 THEN 'train'
              WHEN CAST('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 12)
                        AS BIGINT) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT c2.doc_id, COALESCE(comp.component, c2.doc_id) AS cluster
        FROM corpus4 c2 LEFT JOIN comp ON comp.doc_id = c2.doc_id) c
),
leaks AS (
  SELECT CAST(SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leaked_pairs
  FROM pairs p
  JOIN splits a ON a.doc_id = p.doc_a
  JOIN splits b ON b.doc_id = p.doc_b
)
SELECT split,
       CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
       COUNT(*) AS n_docs,
       (SELECT n_leaked_pairs FROM leaks) AS n_leaked_pairs
FROM splits
GROUP BY split
ORDER BY split
"""


SPLIT_LEAKAGE_CHECK_SQL = rf"""
WITH corpus AS ({_DUP_CORPUS_SQL}),
per AS (
  SELECT DISTINCT
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         CASE WHEN {_HASH_BUCKET_SQL} < 80 THEN 'train'
              WHEN {_HASH_BUCKET_SQL} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM corpus
)
SELECT a.split AS split_a, b.split AS split_b, COUNT(*) AS n_leaked_fps
FROM per a JOIN per b ON a.fp = b.fp AND a.split < b.split
GROUP BY 1, 2
ORDER BY split_a, split_b
"""


# --------------------------------------------------------------------------
# Blocked fuzzy matching (Levenshtein) — edit-distance pairs without
# the O(n²) cross join: block on (first char, length band) so only
# plausibly-close strings are compared.
# --------------------------------------------------------------------------

def q_fuzzy_name_pairs(spark, sf_dir):
    """Edit-distance ≤ 2 pairs over part names + synthesized last-char
    typo variants. Blocking: length bands of 4, with ONE side emitting
    bands b-1..b+1 (sliding blocking) — equality joins only, and any
    pair within |Δlen| ≤ 4 ⊇ edit-distance ≤ 2 lands in exactly one
    matching band, so recall is perfect without a cross join. Each
    ordered pair matches at most once (the a-side band is a single
    value), and a < b keeps one orientation."""
    names = (
        table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    variants = names.select(
        F.expr("substring(name, 1, length(name) - 1)").alias("name")
    )
    corpus = names.union(variants).distinct()
    band = (F.length("name") / 4).cast("int")
    a = corpus.select("name", band.alias("band")).alias("a")
    b = corpus.select(
        "name",
        F.explode(F.array(band - 1, band, band + 1)).alias("band"),
    ).alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.levenshtein("a.name", "b.name").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 2)
    )


FUZZY_NAME_PAIRS_SQL = """
WITH names AS (SELECT DISTINCT p_name AS name FROM part),
corpus AS (
  SELECT name FROM names
  UNION
  SELECT substr(name, 1, length(name) - 1) FROM names
),
a AS (SELECT name, CAST(length(name) // 4 AS INT) AS band FROM corpus),
b AS (
  SELECT name, CAST(length(name) // 4 AS INT) + d AS band
  FROM corpus, (SELECT unnest([-1, 0, 1]) AS d)
)
SELECT a.name AS name_a, b.name AS name_b,
       levenshtein(a.name, b.name) AS edit_dist
FROM a JOIN b ON a.band = b.band AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 2
"""

# --------------------------------------------------------------------------
# Multimodal metadata plumbing (binary columns; decode itself is the
# stubbed Pandas-UDF path in functions/multimodal.py)
# --------------------------------------------------------------------------

def q_media_bytes_meta(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(blob).alias("n_bytes"),
        F.md5(F.col("text")).alias("content_md5"),
    )


MEDIA_BYTES_META_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5
FROM documents
"""


def q_media_chunk_plan(spark, sf_dir):
    """Fixed-duration chunking plan for audio/video (30 s windows over
    a bytes-derived duration): one output row per chunk via
    explode(sequence) — chunked transcode/ASR then fans out per row,
    embarrassingly parallel, no per-file driver loop. Integer-only
    arithmetic so the plan is engine-exact."""
    docs = table(spark, sf_dir, "documents")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    dur = (
        F.octet_length(F.encode(F.col("text"), "UTF-8")) / F.lit(2000)
    ).cast("bigint") + 1  # fake 2000 B/s bitrate → seconds
    av = docs.select(
        F.col("doc_id").alias("media_id"), kind.alias("kind"), dur.alias("dur_s")
    ).filter(F.col("kind") != "image")
    n_chunks = ((F.col("dur_s") - 1) / F.lit(30)).cast("bigint") + 1
    return av.select(
        "media_id",
        "kind",
        "dur_s",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
            "chunk_idx"
        ),
    ).select(
        "media_id",
        "kind",
        "chunk_idx",
        (F.col("chunk_idx") * 30).alias("start_s"),
        F.least(F.col("chunk_idx") * 30 + 30, F.col("dur_s")).alias("end_s"),
    )


MEDIA_CHUNK_PLAN_SQL = """
WITH av AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         octet_length(encode(text)) // 2000 + 1 AS dur_s
  FROM documents
  WHERE doc_id % 3 <> 0
),
chunks AS (
  SELECT media_id, kind, dur_s,
         unnest(range(0, (dur_s - 1) // 30 + 1)) AS chunk_idx
  FROM av
)
SELECT media_id, kind, chunk_idx,
       chunk_idx * 30 AS start_s,
       least(chunk_idx * 30 + 30, dur_s) AS end_s
FROM chunks
"""


def q_media_frame_sample(spark, sf_dir):
    """Video frame-sampling fan-out: one row per sampled frame index
    (stride 30) via explode(sequence) — the shape that keeps frame
    extraction embarrassingly parallel instead of per-video driver
    loops. frame_key stands in for the (stubbed) decoded-frame digest."""
    from city_payroll_data_pipeline_spark.functions import multimodal as mm

    media = mm.synthesize_media(spark, table(spark, sf_dir, "documents"))
    return mm.frame_sample_plan(media, every_n=30).select(
        "media_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.md5(F.concat_ws("|", "media_id", "frame_idx")).alias("frame_key"),
    )


MEDIA_FRAME_SAMPLE_SQL = """
WITH media AS (
  SELECT doc_id AS media_id, n_chars % 300 + 1 AS n_frames
  FROM documents WHERE doc_id % 3 = 2
),
fr AS (
  SELECT media_id, unnest(range(0, n_frames, 30)) AS frame_idx FROM media
)
SELECT media_id, frame_idx,
       md5(media_id || '|' || frame_idx) AS frame_key
FROM fr
"""


def q_media_feature_extract(spark, sf_dir):
    """Arrow-batched ``mapInPandas`` feature extraction over binary
    content (deterministic byte-histogram stand-in for a learned
    extractor), reduced to scalar per-media outputs: dominant histogram
    bucket + its share. The oracle recomputes the histogram in SQL —
    the one Python-UDF path in the suite, still value-checked."""
    from city_payroll_data_pipeline_spark.functions import multimodal as mm

    media = mm.synthesize_media(spark, table(spark, sf_dir, "documents"))
    feats = mm.extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        (
            F.expr("array_position(features, array_max(features))") - 1
        ).alias("top_bucket"),
        F.round(F.array_max("features"), 6).alias("top_share"),
    )


MEDIA_FEATURE_EXTRACT_SQL = f"""
WITH media AS (
  SELECT doc_id AS media_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                                      WHEN 1 THEN 'audio'
                                      ELSE 'video' END AS kind,
         text
  FROM documents
),
chars AS (
  SELECT media_id, unnest(range(1, length(text) + 1)) AS i FROM media
),
hist AS (
  SELECT c.media_id, ord(substr(m.text, CAST(c.i AS INT), 1)) // 16 AS bucket,
         count(*) AS cnt
  FROM chars c JOIN media m USING (media_id)
  GROUP BY 1, 2
),
ranked AS (
  SELECT media_id, bucket, cnt,
         ROW_NUMBER() OVER (PARTITION BY media_id
                            ORDER BY cnt DESC, bucket ASC) AS rn
  FROM hist
)
SELECT m.media_id, m.kind,
       CAST(octet_length(encode(m.text)) AS BIGINT) AS n_bytes,
       r.bucket AS top_bucket,
       {_sql_round('cnt / CAST(octet_length(encode(m.text)) AS DOUBLE)', 6)}
         AS top_share
FROM media m JOIN ranked r ON r.media_id = m.media_id AND r.rn = 1
"""


_THUMB_W = 4
_THUMB_H = 4
_IMG_W = 16  # synthesized source images are 16px-wide grayscale


def _map_documents(spark, sf_dir, body, schema, where=None):
    """The multimodal family's per-document pass: one ``mapInPandas``
    over ``documents`` (rows matching ``where``, if given), no shuffle,
    blobs never leave their partition. ``body(doc_id, blob)`` gets the
    text's UTF-8 bytes as the media blob and yields that document's
    output rows in ``schema`` column order."""
    import pandas as pd

    from city_payroll_data_pipeline_spark.session import ship_package

    docs = table(spark, sf_dir, "documents", spread=True)
    ship_package(docs.sparkSession)
    columns = [c.split()[0] for c in schema.split(",")]

    def op(batches):
        for pdf in batches:
            rows = [
                row
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
                for row in body(int(doc_id), text.encode("utf-8"))
            ]
            yield pd.DataFrame(rows, columns=columns)

    if where is not None:
        docs = docs.filter(where)
    return docs.select("doc_id", "text").mapInPandas(op, schema)


def _p5_image(blob):
    """The image fixture: ``blob`` as a P5 (grayscale netpbm) image
    ``_IMG_W`` pixels wide, trailing partial row dropped. Returns
    (height, P5 bytes), or (0, None) when not even one row fits."""
    import numpy as np

    from city_payroll_data_pipeline_spark.functions import multimodal as mm

    h = len(blob) // _IMG_W
    if h < 1:
        return 0, None
    src = np.frombuffer(blob[: h * _IMG_W], dtype=np.uint8).reshape(h, _IMG_W)
    return h, mm.encode_ppm(src)


def q_media_thumbnail(spark, sf_dir):
    """End-to-end image codec path inside Arrow batches: synthesize a
    P5 (grayscale netpbm) blob per doc from its text bytes, then run
    the REAL pipeline — ``resize_image_batch`` (decode → nearest-
    neighbor 4×4 → re-encode) and ``decode_image_batch`` — and reduce
    each thumbnail to SQL-checkable scalars (dims + exact pixel sum).
    Nearest-neighbor sampling is pure integer index math, so the
    DuckDB oracle replays pixel selection exactly; the codec round-
    trip itself is what the value check certifies. One ``mapInPandas``
    pass, no shuffle; blobs never leave their partition."""
    import numpy as np
    import pandas as pd

    from city_payroll_data_pipeline_spark.functions import multimodal as mm

    def thumbnail(doc_id, blob):
        h, image = _p5_image(blob)
        if image is None:
            return
        thumb_blob = mm.resize_image_batch(
            pd.Series([image]), _THUMB_W, _THUMB_H
        )[0]
        thumb = mm.decode_image_batch(pd.Series([thumb_blob]))[0]
        assert thumb.shape == (_THUMB_H, _THUMB_W)
        yield doc_id, h, int(thumb.sum(dtype=np.int64))

    return _map_documents(
        spark, sf_dir, thumbnail,
        "media_id bigint, src_h bigint, thumb_sum bigint",
    ).orderBy("media_id")


# the oracle replays the nearest-neighbor gather: thumbnail pixel
# (r, c) = source byte at row (r*h)//TH, col (c*W)//TW (1-indexed
# substr); the corpus is ASCII so text bytes == code points
MEDIA_THUMBNAIL_SQL = f"""
WITH src AS (
  SELECT doc_id AS media_id, text,
         octet_length(encode(text)) // {_IMG_W} AS h
  FROM documents
  WHERE octet_length(encode(text)) >= {_IMG_W}
),
px AS (
  SELECT media_id, h,
         ord(substr(text,
             CAST(((r * h) // {_THUMB_H}) * {_IMG_W}
                  + (c * {_IMG_W}) // {_THUMB_W} + 1 AS INT),
             1)) AS v
  FROM src,
       unnest(range(0, {_THUMB_H})) AS tr(r),
       unnest(range(0, {_THUMB_W})) AS tc(c)
)
SELECT media_id, CAST(MAX(h) AS BIGINT) AS src_h,
       CAST(SUM(v) AS BIGINT) AS thumb_sum
FROM px
GROUP BY media_id
ORDER BY media_id
"""


def q_media_phash_pairs(spark, sf_dir):
    """Perceptual-hash image dedup (VERDICT r6 item 7) — the one
    LLM-pipeline dedup modality text hashes can't cover: re-encoded or
    resized copies of an image share no bytes, but their dHash agrees
    within a small Hamming radius. Pipeline: synthesize a P5 netpbm
    blob per doc (text bytes as the pixel plane, the media_thumbnail
    fixture), run the REAL codec path inside one Arrow batch —
    ``decode_ppm`` → nearest-neighbor 7×10 downsample → 60-bit dHash
    (functions/multimodal.py dhash60) — then find pairs within
    Hamming ≤ 3 via the same pigeonhole block join as text SimHash
    (operators/dedup.py hamming_near_pairs): candidates come from
    equality joins on 15-bit blocks, never an all-pairs self-join.

    dHash is integer index math end to end, so the DuckDB oracle
    replays pixel gather, bit pattern, and block join bit-exactly —
    the driver hash certifies the codec round-trip AND the banding."""
    from city_payroll_data_pipeline_spark.functions import multimodal as mm

    def phash(doc_id, blob):
        _, image = _p5_image(blob)
        if image is not None:
            yield doc_id, int(mm.dhash60(mm.decode_ppm(image)))

    hashes = _map_documents(spark, sf_dir, phash, "doc_id bigint, phash bigint")
    return dedup.hamming_near_pairs(
        hashes, "doc_id", "phash", hamming_max=3, n_bits=mm.DHASH_BITS
    ).orderBy("doc_a", "doc_b")


# oracle replay: resized pixel (r, c) = source byte at row (r·h)//10,
# col (c·16)//7 (nearest-neighbor gather, 1-indexed substr; corpus is
# ASCII so bytes == code points); dHash bit r·6+c = px(r,c) > px(r,c+1);
# then the identical 4×15-bit pigeonhole block join.
MEDIA_PHASH_PAIRS_SQL = f"""
WITH src AS (
  SELECT doc_id, text, octet_length(encode(text)) // {_IMG_W} AS h
  FROM documents WHERE octet_length(encode(text)) >= {_IMG_W}
),
px AS (
  SELECT doc_id, r, c,
         ord(substr(text,
             CAST(((r * h) // 10) * {_IMG_W} + (c * {_IMG_W}) // 7 + 1
                  AS INT), 1)) AS v
  FROM src, unnest(range(0, 10)) tr(r), unnest(range(0, 7)) tc(c)
),
bits AS (
  SELECT a.doc_id, a.r, a.c, CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
  FROM px a JOIN px b ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
  WHERE a.c < 6
),
ph AS (
  SELECT doc_id, CAST(SUM(bit * (1::BIGINT << (r * 6 + c))) AS BIGINT)
           AS phash
  FROM bits GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, phash, j, (phash >> (15 * j)) & 32767 AS block_val
  FROM ph CROSS JOIN (SELECT unnest(range(0, 4)) AS j)
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.phash AS pa, b.phash AS pb
  FROM blocks a JOIN blocks b
    ON a.j = b.j AND a.block_val = b.block_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(pa, pb)) AS hamming
FROM cands
WHERE bit_count(xor(pa, pb)) <= 3
ORDER BY doc_a, doc_b
"""


def q_media_audio_energy(spark, sf_dir):
    """Audio-signal analysis over binary PCM inside Arrow batches —
    the audio counterpart of media_thumbnail (image) and
    media_frame_sample (video): synthesize an 8-bit PCM blob per
    audio-kind doc (text bytes as the sample stream, the established
    media fixture), then run the REAL framed-energy front end
    (functions/multimodal.py::audio_frame_stats — centred samples,
    256-sample frames, exact integer Σ s² per frame, silence
    thresholding, peak amplitude). This is the energy/VAD pass an
    audio-training pipeline runs before segmentation; one
    ``mapInPandas`` pass, no shuffle, blobs never leave their
    partition, and the all-integer math gives a bit-exact SQL oracle."""
    from city_payroll_data_pipeline_spark.functions import multimodal as mm

    def energy(doc_id, blob):
        if blob:
            yield (doc_id,) + mm.audio_frame_stats(blob)

    return _map_documents(
        spark, sf_dir, energy,
        "media_id bigint, n_samples bigint, n_frames bigint,"
        " total_energy bigint, max_frame_energy bigint,"
        " n_silent_frames bigint, peak_amp bigint",
        where=F.col("doc_id") % 3 == 1,  # audio-kind convention
    ).orderBy("media_id")


# oracle replays the framed energy exactly: sample i of media m is
# ord(byte i) − 128 (ASCII corpus: bytes == code points), frame =
# (i−1)//256, energy = Σ s² per frame, silence < 100000
MEDIA_AUDIO_ENERGY_SQL = f"""
WITH au AS (
  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS n
  FROM documents
  WHERE doc_id % 3 = 1 AND octet_length(encode(text)) >= 1
),
samp AS (
  SELECT media_id, (ord(substr(text, CAST(i AS INT), 1)) - 128) AS s,
         (i - 1) // 256 AS frame
  FROM au, unnest(range(1, n + 1)) t(i)
),
fr AS (
  SELECT media_id, frame, SUM(s * s) AS energy
  FROM samp GROUP BY media_id, frame
),
frames_agg AS (
  SELECT media_id,
         COUNT(*) AS n_frames,
         SUM(energy) AS total_energy,
         MAX(energy) AS max_frame_energy,
         SUM(CASE WHEN energy < 100000 THEN 1 ELSE 0 END) AS n_silent
  FROM fr GROUP BY media_id
),
peaks AS (
  SELECT media_id, MAX(abs(s)) AS peak FROM samp GROUP BY media_id
)
SELECT a.media_id,
       CAST(a.n AS BIGINT) AS n_samples,
       CAST(f.n_frames AS BIGINT) AS n_frames,
       CAST(f.total_energy AS BIGINT) AS total_energy,
       CAST(f.max_frame_energy AS BIGINT) AS max_frame_energy,
       CAST(f.n_silent AS BIGINT) AS n_silent_frames,
       CAST(p.peak AS BIGINT) AS peak_amp
FROM au a
JOIN frames_agg f ON f.media_id = a.media_id
JOIN peaks p ON p.media_id = a.media_id
ORDER BY a.media_id
"""


# --------------------------------------------------------------------------
# media_vad_segments — the SEGMENTATION pass after the energy/VAD
# front end: merge consecutive voiced frames (energy ≥ AUDIO_SILENT_T)
# into segments, the classic gaps-and-islands, and report per segment
# (start/end frame, length, exact energy mass). This is what an
# audio-training pipeline actually ships downstream — utterance-like
# spans to cut and transcribe, not frame soup.
#
# Scale split (the multimodal-family contract): byte decoding happens
# once per blob inside mapInPandas (blobs never leave their
# partition); everything after — the voiced filter, the island id
# (frame − row_number, both per-media windows), the per-segment
# reduce — is plain distributed SQL on (media_id, frame, energy)
# rows, exactly the analytics/decode split a real featurizer keeps.
# --------------------------------------------------------------------------


def q_media_vad_segments(spark, sf_dir):
    from pyspark.sql import Window as W

    from city_payroll_data_pipeline_spark.functions import multimodal as mm

    def frame_energies(doc_id, blob):
        for frame, energy in mm.audio_frame_energies(blob):
            yield doc_id, frame, energy

    frames = _map_documents(
        spark, sf_dir, frame_energies,
        "media_id bigint, frame bigint, energy bigint",
        where=F.col("doc_id") % 3 == 1,  # audio-kind convention
    )
    voiced = frames.filter(F.col("energy") >= mm.AUDIO_SILENT_T)
    w = W.partitionBy("media_id").orderBy("frame")
    seg = voiced.withColumn(
        "island", F.col("frame") - F.row_number().over(w)
    )
    per_seg = seg.groupBy("media_id", "island").agg(
        F.min("frame").alias("start_frame"),
        F.max("frame").alias("end_frame"),
        F.count("*").alias("n_frames"),
        F.sum("energy").alias("seg_energy"),
    )
    w2 = W.partitionBy("media_id").orderBy("start_frame")
    return (
        per_seg.withColumn("seg_idx", F.row_number().over(w2))
        .select(
            "media_id", "seg_idx", "start_frame", "end_frame",
            "n_frames", "seg_energy",
        )
        .orderBy("media_id", "seg_idx")
    )


MEDIA_VAD_SEGMENTS_SQL = """
WITH au AS (
  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS n
  FROM documents
  WHERE doc_id % 3 = 1 AND octet_length(encode(text)) >= 1
),
samp AS (
  SELECT media_id, (ord(substr(text, CAST(i AS INT), 1)) - 128) AS s,
         (i - 1) // 256 AS frame
  FROM au, unnest(range(1, n + 1)) t(i)
),
fr AS (
  SELECT media_id, frame, SUM(s * s) AS energy
  FROM samp GROUP BY media_id, frame
),
voiced AS (
  SELECT media_id, frame, energy,
         frame - ROW_NUMBER() OVER (PARTITION BY media_id
                                    ORDER BY frame) AS island
  FROM fr WHERE energy >= 100000
),
per_seg AS (
  SELECT media_id, island,
         MIN(frame) AS start_frame,
         MAX(frame) AS end_frame,
         COUNT(*) AS n_frames,
         CAST(SUM(energy) AS BIGINT) AS seg_energy
  FROM voiced GROUP BY media_id, island
)
SELECT media_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY media_id
                               ORDER BY start_frame) AS INT) AS seg_idx,
       start_frame, end_frame, n_frames, seg_energy
FROM per_seg
ORDER BY media_id, seg_idx
"""


# --------------------------------------------------------------------------
# Context-window chunking — split each document into fixed-size
# overlapping token chunks (size 64, stride 48 → 16-token overlap),
# the standard pre-training windowing op. Scale shape: pure narrow
# transformation — tokenize once, fan out chunk starts with
# sequence+explode, slice the SAME token array per chunk. Zero
# shuffles, no UDF; fan-out factor is bounded by n_tokens/stride so
# partitions grow predictably (repartition upstream if chunks must
# be size-balanced for a downstream trainer).
# --------------------------------------------------------------------------

_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48
_CHUNK_OVERLAP = _CHUNK_SIZE - _CHUNK_STRIDE


def q_doc_chunks(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    toks = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
    n = F.size(toks)
    # chunk starts 0, 48, 96, … while start < max(n - overlap, 1):
    # every token lands in a chunk, and the final sub-overlap tail is
    # absorbed into the previous chunk instead of emitted alone.
    stop = F.greatest(n - F.lit(_CHUNK_OVERLAP), F.lit(1))
    starts = F.sequence(F.lit(0), stop - 1, F.lit(_CHUNK_STRIDE))
    return (
        docs.select("doc_id", toks.alias("toks"), n.alias("n"),
                    F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / _CHUNK_STRIDE).cast("int").alias("chunk_id"),
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("start") + 1, _CHUNK_SIZE)
            ).alias("chunk_text"),
            F.least(F.lit(_CHUNK_SIZE), F.col("n") - F.col("start")).alias(
                "n_tokens"
            ),
        )
        .orderBy("doc_id", "chunk_id")
    )


DOC_CHUNKS_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\S+', 0) AS t
  FROM documents
),
idx AS (
  SELECT doc_id, t, len(t) AS n,
         UNNEST(range(0, GREATEST(len(t) - {_CHUNK_OVERLAP}, 1),
                      {_CHUNK_STRIDE})) AS start
  FROM toks
)
SELECT doc_id,
       CAST(start / {_CHUNK_STRIDE} AS INTEGER) AS chunk_id,
       array_to_string(t[start + 1 : start + {_CHUNK_SIZE}], ' ')
         AS chunk_text,
       LEAST({_CHUNK_SIZE}, n - start) AS n_tokens
FROM idx
ORDER BY doc_id, chunk_id
"""


# --------------------------------------------------------------------------
# Sequence packing — assign documents to fixed-budget context windows
# (2048 tokens) by streaming them in deterministic doc_id order and
# cutting a new pack each time the running total crosses the budget
# (documents may straddle a boundary — the trainer-side convention
# for greedy stream packing). Scale shape: ONE window shuffle
# (partition by source, order by doc_id); the per-pack rollup reuses
# the same partitioning. At 100 TB, sub-bucket the window key (e.g.
# md5(doc_id) % K next to source) to bound sort size per partition —
# packing is order-dependent only WITHIN a bucket by construction.
# --------------------------------------------------------------------------

_PACK_BUDGET = 2048


def q_pack_sequences(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents", spread=True)
    n_tok = token_count(F.col("text"))
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    assigned = docs.select("source", "doc_id", n_tok.alias("n_tokens")).select(
        "source",
        "doc_id",
        "n_tokens",
        # floor, not cast: DuckDB CAST(double AS BIGINT) rounds while
        # Spark's truncates — floor() agrees in both engines.
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / _PACK_BUDGET
        ).alias("pack_id"),
    )
    return (
        assigned.groupBy("source", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "pack_id")
    )


# --------------------------------------------------------------------------
# context_fill_sweep — the context-length capacity table: for each
# candidate context window, per source, how much of the corpus
# survives doc-level truncation (docs are never split mid-document in
# this policy — long docs are truncated at ctx), how many packed
# sequences the kept mass fills under the concat-stream model
# pack_sequences uses, and the resulting fill ratio. The table a
# pretraining run reads to pick its sequence length: small ctx wastes
# long documents (tokens_dropped), large ctx wastes compute on
# padding-free but fragment-heavy packs — this quantifies both sides
# of that trade per source.
#
# Scale: the token count is map-side; the |grid| explode is a
# constant factor (5); ONE groupBy on (ctx, source). fill_ratio and
# truncated share are single exact-operand divisions of BIGINTs.
# --------------------------------------------------------------------------

_CTX_GRID = (256, 512, 1024, 2048, 4096)


def q_context_fill_sweep(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    sized = docs.select(
        "source", token_count(F.col("text")).alias("n_tokens")
    )
    grid = spark.createDataFrame([(c,) for c in _CTX_GRID], "ctx int")
    per = sized.crossJoin(F.broadcast(grid)).groupBy("ctx", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("n_tokens") > F.col("ctx")).cast("long")).alias(
            "n_truncated"
        ),
        F.sum(F.least(F.col("n_tokens"), F.col("ctx").cast("long")))
        .cast("long")
        .alias("tokens_kept"),
        F.sum(
            F.greatest(
                F.col("n_tokens") - F.col("ctx"), F.lit(0).cast("long")
            )
        )
        .cast("long")
        .alias("tokens_dropped"),
    )
    return (
        per.withColumn(
            "n_packs", F.expr("(tokens_kept + ctx - 1) div ctx")
        )
        .select(
            "ctx",
            "source",
            "n_docs",
            "n_truncated",
            "tokens_kept",
            "tokens_dropped",
            "n_packs",
            (F.col("tokens_kept") / (F.col("n_packs") * F.col("ctx"))).alias(
                "fill_ratio"
            ),
            (F.col("n_truncated") / F.col("n_docs")).alias("truncated_share"),
        )
        .orderBy("ctx", "source")
    )


CONTEXT_FILL_SWEEP_SQL = rf"""
WITH sized AS (
  SELECT source, len(regexp_extract_all(text, '\S+', 0)) AS n_tokens
  FROM documents
),
per AS (
  SELECT g.ctx, s.source,
         COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN s.n_tokens > g.ctx THEN 1 ELSE 0 END) AS BIGINT)
           AS n_truncated,
         CAST(SUM(LEAST(s.n_tokens, g.ctx)) AS BIGINT) AS tokens_kept,
         CAST(SUM(GREATEST(s.n_tokens - g.ctx, 0)) AS BIGINT)
           AS tokens_dropped
  FROM sized s
  CROSS JOIN (SELECT unnest([{', '.join(str(c) for c in _CTX_GRID)}]) AS ctx) g
  GROUP BY g.ctx, s.source
)
SELECT CAST(ctx AS INT) AS ctx, source, n_docs, n_truncated,
       tokens_kept, tokens_dropped, n_packs,
       CAST(tokens_kept AS DOUBLE) / (n_packs * ctx) AS fill_ratio,
       CAST(n_truncated AS DOUBLE) / n_docs AS truncated_share
FROM (SELECT *, (tokens_kept + ctx - 1) // ctx AS n_packs FROM per)
ORDER BY ctx, source
"""


# --------------------------------------------------------------------------
# packing_bfd_compare — the second packing policy the capacity table
# was missing. `pack_sequences`/`context_fill_sweep` model the
# concat-stream packer: ~perfect fill, but documents are split across
# pack boundaries (bad when training wants intact documents).
# Best-fit-decreasing (BFD) keeps every document whole: sort docs by
# token count descending, place each into the open pack with the
# smallest remaining capacity that still fits, else open a new pack
# (the classic 11/9·OPT + 6/9 bin-packing guarantee, Johnson 1973).
# Per (ctx, source) grid cell this reports both policies' pack counts
# and fill ratios — the decision table's missing column: how much
# fill a run gives up to keep documents intact at each context length.
#
# Exactness/engine parity: the BFD fold is a pure integer fold whose
# state is the list of pack remainders; BOTH engines rebuild the
# state with the same first-occurrence-of-min replacement (index
# transform over 1..len(state)), so the fold is step-for-step
# identical. Docs over ctx are truncated to ctx first (the
# context_fill_sweep convention), counted in n_truncated.
#
# Scale: the fold is per-(ctx, source) and inherently sequential —
# exactly like real packers, which run shard-local: at 100 TB you
# never BFD-pack a whole source globally, you pack each input shard
# independently (bin packing is embarrassingly shardable with
# asymptotically identical fill), so the per-group state stays
# shard-sized. Here the group is the natural demonstration unit; the
# collect_list per group is bounded by docs-per-source. Token count
# is map-side; ONE (ctx, source) aggregation carries the fold.
# --------------------------------------------------------------------------


def q_packing_bfd_compare(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    grid = spark.createDataFrame([(c,) for c in _CTX_GRID], "ctx int")
    sized = docs.select(
        "doc_id", "source", token_count(F.col("text")).alias("raw")
    ).crossJoin(F.broadcast(grid))
    items = sized.select(
        "ctx",
        "source",
        "doc_id",
        F.least(F.col("raw"), F.col("ctx").cast("long")).alias("n"),
        (F.col("raw") > F.col("ctx")).cast("long").alias("trunc"),
    )
    # descending-size order with doc_id ties: sort_array on
    # struct(-n, doc_id) ascending == (n DESC, doc_id ASC)
    per = items.groupBy("ctx", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("trunc").alias("n_truncated"),
        F.sum("n").alias("tokens_kept"),
        F.transform(
            F.sort_array(
                F.collect_list(F.struct((-F.col("n")).alias("neg"), "doc_id"))
            ),
            lambda s: -s["neg"],
        ).alias("sizes"),
    )

    def place(state, sz):
        # best fit: smallest remainder that still holds sz; replace its
        # FIRST occurrence (array_position), else open a new pack
        cand = F.filter(state, lambda r: r >= sz)
        m = F.array_min(cand)
        pos = F.array_position(state, m)
        replaced = F.transform(
            F.sequence(F.lit(1).cast("int"), F.size(state)),
            lambda i: F.when(i == pos.cast("int"), m - sz).otherwise(
                F.element_at(state, i)
            ),
        )
        return F.when(F.size(cand) > 0, replaced).otherwise(
            F.concat(state, F.array(F.col("ctx").cast("long") - sz))
        )

    folded = per.withColumn(
        "n_packs_bfd",
        F.size(
            F.aggregate(
                F.col("sizes"),
                F.expr("CAST(array() AS array<bigint>)"),
                place,
            )
        ).cast("long"),
    )
    return (
        folded.withColumn(
            "n_packs_stream", F.expr("(tokens_kept + ctx - 1) div ctx")
        )
        .select(
            "ctx",
            "source",
            "n_docs",
            "n_truncated",
            "tokens_kept",
            "n_packs_stream",
            "n_packs_bfd",
            # n_packs_stream is 0 when the group's kept mass is 0
            # (every doc empty) — fill is undefined there, not ∞/error
            F.when(
                F.col("n_packs_stream") > 0,
                F.col("tokens_kept")
                / (F.col("n_packs_stream") * F.col("ctx")),
            ).alias("fill_stream"),
            (
                F.col("tokens_kept") / (F.col("n_packs_bfd") * F.col("ctx"))
            ).alias("fill_bfd"),
        )
        .orderBy("ctx", "source")
    )


PACKING_BFD_COMPARE_SQL = rf"""
WITH RECURSIVE sized AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '\S+', 0)) AS raw
  FROM documents
),
items AS (
  SELECT g.ctx, s.source, s.doc_id,
         LEAST(s.raw, g.ctx) AS n,
         CASE WHEN s.raw > g.ctx THEN 1 ELSE 0 END AS trunc,
         ROW_NUMBER() OVER (PARTITION BY g.ctx, s.source
                            ORDER BY LEAST(s.raw, g.ctx) DESC, s.doc_id)
           AS rk
  FROM sized s
  CROSS JOIN (SELECT unnest([{', '.join(str(c) for c in _CTX_GRID)}]) AS ctx) g
),
counts AS (
  SELECT ctx, source, COUNT(*) AS n_docs,
         CAST(SUM(trunc) AS BIGINT) AS n_truncated,
         CAST(SUM(n) AS BIGINT) AS tokens_kept
  FROM items GROUP BY ctx, source
),
fold(ctx, source, rk, state) AS (
  SELECT ctx, source, 0, CAST([] AS BIGINT[]) FROM counts
  UNION ALL
  SELECT ctx, source, rk,
         CASE WHEN m IS NOT NULL THEN
           list_transform(generate_series(1, len(state)),
                          i -> CASE WHEN i = pos THEN m - n
                                    ELSE state[i] END)
         ELSE list_append(state, CAST(ctx AS BIGINT) - n) END
  FROM (
    SELECT f.ctx, f.source, f.rk + 1 AS rk, f.state AS state, i.n,
           list_min(list_filter(f.state, r -> r >= i.n)) AS m,
           list_position(f.state,
                         list_min(list_filter(f.state, r -> r >= i.n)))
             AS pos
    FROM fold f
    JOIN items i
      ON i.ctx = f.ctx AND i.source = f.source AND i.rk = f.rk + 1
  )
),
final AS (
  SELECT f.ctx, f.source, len(f.state) AS n_packs_bfd
  FROM fold f
  JOIN counts c ON c.ctx = f.ctx AND c.source = f.source
  WHERE f.rk = c.n_docs
)
SELECT CAST(c.ctx AS INT) AS ctx, c.source AS source, c.n_docs, c.n_truncated,
       c.tokens_kept,
       (c.tokens_kept + c.ctx - 1) // c.ctx AS n_packs_stream,
       CAST(fi.n_packs_bfd AS BIGINT) AS n_packs_bfd,
       CASE WHEN c.tokens_kept > 0 THEN
         CAST(c.tokens_kept AS DOUBLE)
           / (((c.tokens_kept + c.ctx - 1) // c.ctx) * c.ctx)
       END AS fill_stream,
       CAST(c.tokens_kept AS DOUBLE)
         / (fi.n_packs_bfd * c.ctx) AS fill_bfd
FROM counts c
JOIN final fi ON fi.ctx = c.ctx AND fi.source = c.source
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# token_budget_waterfill — the data-recipe allocation table: given a
# fixed training token budget (here half the corpus), how many tokens
# to draw from each source under a UNIFORM target mixture, capped by
# each source's actual inventory — classic water-filling: sources too
# small to supply an equal share are consumed whole and their
# shortfall is redistributed across the remaining sources. Processing
# sources in ascending inventory order makes the one-pass greedy
# exact: when source s is reached, rate = remaining_budget div
# remaining_sources is its final equal share, because every earlier
# (smaller) source has already capped. Output per source: inventory,
# allocation, capped flag, utilization, budget share. Floor division
# leaves a deterministic residual < |sources| tokens unallocated
# (documented; a real loader rounds it into the last shard).
#
# Exactness: pure integer fold (the Holt/BFD precedent) — state is
# (remaining budget, remaining source count, allocations); both
# engines replay the identical sorted order (inventory, source) and
# the identical floor divisions; the two ratio columns are single
# exact-operand divisions.
#
# Scale: the corpus-sized work is ONE map-side token count + ONE
# per-source reduce; the fold runs over the |sources|-row frame
# collected into a sorted array (model-sized by construction — the
# mixture table never grows with the corpus, only with the source
# catalog).
# --------------------------------------------------------------------------


def q_token_budget_waterfill(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    inv = (
        docs.select("source", token_count(F.col("text")).alias("t"))
        .groupBy("source")
        .agg(F.sum("t").alias("inv"))
    )
    one = inv.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("inv").alias("inv"), "source"))
        ).alias("xs"),
        # exact integer halving — a double detour here would diverge
        # from the oracle's `//` above 2^53 total tokens
        F.expr("SUM(inv) div 2").alias("budget"),
    )

    # the rate MUST be the exact integer division `div` (not
    # floor(a/b): the double quotient loses ulps above 2^53 and the
    # fold state then drifts from the oracle's `//` replay)
    folded = one.select(
        "budget",
        F.expr(
            """
aggregate(
  xs,
  named_struct(
    'brem', budget,
    'srem', CAST(size(xs) AS BIGINT),
    'allocs', CAST(array() AS
                   array<struct<source:string,inv:bigint,alloc:bigint>>)),
  (acc, x) -> named_struct(
    'brem', acc.brem - least(x.inv, acc.brem div acc.srem),
    'srem', acc.srem - 1,
    'allocs', concat(acc.allocs, array(named_struct(
        'source', x.source,
        'inv', x.inv,
        'alloc', least(x.inv, acc.brem div acc.srem))))),
  acc -> acc.allocs)
"""
        ).alias("allocs"),
    )
    out = folded.select("budget", F.explode("allocs").alias("a"))
    return out.select(
        F.col("a.source").alias("source"),
        F.col("a.inv").alias("inv_tokens"),
        F.col("a.alloc").alias("alloc_tokens"),
        (F.col("a.alloc") == F.col("a.inv")).cast("int").alias("capped"),
        F.round(F.col("a.alloc") / F.col("a.inv").cast("double"), 6).alias(
            "utilization"
        ),
        F.round(F.col("a.alloc") / F.col("budget").cast("double"), 6).alias(
            "budget_share"
        ),
    ).orderBy("source")


TOKEN_BUDGET_WATERFILL_SQL = rf"""
WITH RECURSIVE sized AS (
  SELECT source, len(regexp_extract_all(text, '\S+', 0)) AS t
  FROM documents
),
inv AS (
  SELECT source, CAST(SUM(t) AS BIGINT) AS inv FROM sized GROUP BY source
),
ordered AS (
  SELECT source, inv,
         ROW_NUMBER() OVER (ORDER BY inv, source) AS rk,
         COUNT(*) OVER () AS n_src,
         CAST(SUM(inv) OVER () AS BIGINT) AS total
  FROM inv
),
fold(rk, brem, srem, source, inv, alloc) AS (
  SELECT 0, CAST(total // 2 AS BIGINT), n_src,
         CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
  FROM (SELECT DISTINCT total, n_src FROM ordered)
  UNION ALL
  SELECT o.rk, f.brem - LEAST(o.inv, f.brem // f.srem), f.srem - 1,
         o.source, o.inv, LEAST(o.inv, f.brem // f.srem)
  FROM fold f JOIN ordered o ON o.rk = f.rk + 1
),
budget AS (
  SELECT CAST(total // 2 AS BIGINT) AS b
  FROM (SELECT DISTINCT total FROM ordered)
)
SELECT f.source AS source,
       f.inv AS inv_tokens,
       f.alloc AS alloc_tokens,
       CASE WHEN f.alloc = f.inv THEN 1 ELSE 0 END AS capped,
       {_sql_round('CAST(f.alloc AS DOUBLE) / f.inv', 6)} AS utilization,
       {_sql_round('CAST(f.alloc AS DOUBLE) / (SELECT b FROM budget)', 6)}
         AS budget_share
FROM fold f
WHERE f.rk >= 1
ORDER BY source
"""


PACK_SEQUENCES_SQL = rf"""
WITH sized AS (
  SELECT source, doc_id,
         len(regexp_extract_all(text, '\S+', 0)) AS n_tokens
  FROM documents
),
assigned AS (
  SELECT source, doc_id, n_tokens,
         CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS pack_id
  FROM sized
)
SELECT source, pack_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM assigned
GROUP BY source, pack_id
ORDER BY source, pack_id
"""


# --------------------------------------------------------------------------
# Distributed BPE merge training (operators/bpe.py): corpus-wide
# tokenizer training. Iterative — but with a FIXED merge budget the
# whole fit unrolls into chained SQL CTEs (the kmeans_clusters r4
# trick), so the driver gets a full hash-match oracle instead of a
# rows-only check. Each word's symbol list travels as a chr(31)-
# delimited string (every symbol wrapped in chr(31) on both sides);
# applying a merge is then plain replace() — SQL replace is greedy
# left-to-right non-overlapping, exactly the BPE rewrite, and the
# per-symbol wrapping means a replacement can never consume a
# neighbour's delimiter or match across symbol boundaries.
# tests/test_training_ops.py additionally verifies the trainer against
# an independent pure-Python reference implementation.
# --------------------------------------------------------------------------

_BPE_N_MERGES = 8
_BPE_MIN_PAIR = 2


def q_bpe_merges(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True).select("text")
    merges = bpe.train_bpe(
        docs, "text", n_merges=_BPE_N_MERGES, min_pair_count=_BPE_MIN_PAIR
    )
    return spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "merge_idx int, left string, right string, pair_count bigint",
    )


def bpe_replay_ctes(
    n_merges: int = _BPE_N_MERGES, min_pair: int = _BPE_MIN_PAIR
) -> tuple[str, str]:
    """The shared unrolled SQL replay of the distributed BPE fit:
    n_merges rounds of (adjacent-pair count → lexicographic argmax →
    greedy rewrite). Returns ``(cte_block, final_vocab_name)`` — the
    CTE list ends with ``t{n}`` (word, cnt, canon after ALL merges) so
    encode-side oracles can read per-word token lengths, and exposes
    ``b1..b{n}`` (merge_idx, l, r, c) for the merge table itself. CTEs
    are MATERIALIZED so each round's vocabulary is computed once.

    Each round applies its rewrite ONLY when the round's best pair
    clears ``min_pair`` — mirroring the trainer's early stop
    (the ``min_pair_count`` break in ``operators/bpe.py::train_bpe``).
    Once one round stalls, the vocabulary is unchanged, so every later
    round re-finds the same sub-threshold best and stalls too: the
    replay converges to the trainer's stopped state instead of applying
    merges the trainer refuses. A round with NO adjacent pairs left
    (every word a single symbol) likewise passes the vocabulary through
    via the LEFT JOIN."""
    s = "chr(31)"
    ctes = [
        r"""words AS MATERIALIZED (
  SELECT word, COUNT(*) AS cnt FROM (
    SELECT unnest(regexp_extract_all(trim(text), '\S+', 0)) AS word
    FROM documents
  ) GROUP BY word
)""",
        f"""t0 AS MATERIALIZED (
  SELECT word, cnt,
         {s} || array_to_string(regexp_extract_all(word, '.', 0),
                                {s}||{s}) || {s} AS canon
  FROM words
)""",
    ]
    for k in range(1, n_merges + 1):
        prev = f"t{k - 1}"
        ctes.append(f"""p{k} AS MATERIALIZED (
  SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS c FROM (
    SELECT cnt, pr[1] AS l, pr[2] AS r FROM (
      SELECT cnt, unnest(list_zip(syms, syms[2:])) AS pr FROM (
        SELECT cnt, string_split(trim(canon, {s}), {s}||{s}) AS syms
        FROM {prev}
      )
    ) WHERE pr[2] IS NOT NULL
  ) GROUP BY l, r
)""")
        ctes.append(f"""b{k} AS MATERIALIZED (
  SELECT {k - 1} AS merge_idx, l, r, c
  FROM p{k} ORDER BY c DESC, l, r LIMIT 1
)""")
        ctes.append(f"""t{k} AS MATERIALIZED (
  SELECT word, cnt,
         CASE WHEN b.c >= {min_pair}
              THEN replace(canon, {s}||b.l||{s}||{s}||b.r||{s},
                           {s}||b.l||b.r||{s})
              ELSE canon END AS canon
  FROM {prev} LEFT JOIN b{k} AS b ON TRUE
)""")
    return ", ".join(ctes), f"t{n_merges}"


def _bpe_merges_sql(n_merges: int = _BPE_N_MERGES,
                    min_pair: int = _BPE_MIN_PAIR) -> str:
    cte_block, _ = bpe_replay_ctes(n_merges)
    union = " UNION ALL ".join(
        f"SELECT * FROM b{k}" for k in range(1, n_merges + 1)
    )
    return f"""WITH {cte_block},
bests AS ({union})
SELECT CAST(merge_idx AS INTEGER) AS merge_idx,
       l AS "left", r AS "right", c AS pair_count
FROM bests
WHERE NOT EXISTS (
  SELECT 1 FROM bests b2
  WHERE b2.merge_idx <= bests.merge_idx AND b2.c < {min_pair}
)
ORDER BY merge_idx"""


BPE_MERGES_SQL = _bpe_merges_sql()


# --------------------------------------------------------------------------
# bpe_compression_curve — fertility vs merge budget (the tokenizer
# sizing curve). "How many more merges are still buying compression"
# decides the vocab size of a production tokenizer; the curve reports
# corpus tokens-per-word after 0/2/4/8 learned merges. The encode cost
# rides the VOCABULARY histogram, not the corpus: each word is
# encoded once per k and weighted by its count (the same
# distinct-word trick the bpe_encode_tokens oracle uses), and the
# intermediate fold states are shared — sym_4 extends sym_2 extends
# sym_0 in one projection.
#
# Oracle: the bpe_replay_ctes fit already materializes the vocabulary
# after every merge (t0, t2, t4, t8) — the curve is four SUMs over
# those frames.
# --------------------------------------------------------------------------

_CURVE_KS = (0, 2, 4, 8)


def q_bpe_compression_curve(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True).select("text")
    merges = bpe.train_bpe(docs, "text", n_merges=max(_CURVE_KS))
    hist = bpe.word_histogram(docs, "text")
    cur = F.split(F.col("word"), "")
    sizes = {0: F.size(cur)}
    for idx, (l, r, _) in enumerate(merges, start=1):
        cur = bpe._merge_pair(cur, l, r)
        if idx in _CURVE_KS:
            sizes[idx] = F.size(cur)
    for k in _CURVE_KS:
        # trainer early-stopped below k merges: "after k merges" is
        # the stopped vocabulary (the SQL replay stalls identically)
        if k not in sizes:
            sizes[k] = F.size(cur)
    agg = hist.select(
        "count", *[sizes[k].alias(f"s{k}") for k in _CURVE_KS]
    ).agg(
        F.sum("count").alias("words"),
        *[
            F.sum(F.col(f"s{k}") * F.col("count")).alias(f"t{k}")
            for k in _CURVE_KS
        ],
    )
    return (
        agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("n_merges"),
                            F.col(f"t{k}").alias("bpe_tokens"),
                            F.col("words").alias("words"),
                        )
                        for k in _CURVE_KS
                    ]
                )
            ).alias("r")
        )
        .select(
            "r.n_merges",
            "r.bpe_tokens",
            "r.words",
            F.round(F.col("r.bpe_tokens") / F.col("r.words"), 6).alias(
                "tokens_per_word"
            ),
        )
        .orderBy("n_merges")
    )


def _bpe_curve_sql() -> str:
    cte_block, _ = bpe_replay_ctes(max(_CURVE_KS))
    s = "chr(31)"
    parts = [
        f"""SELECT {k} AS n_merges,
  CAST(SUM(cnt * len(string_split(trim(canon, {s}), {s}||{s}))) AS BIGINT)
    AS bpe_tokens,
  CAST(SUM(cnt) AS BIGINT) AS words
FROM t{k}"""
        for k in _CURVE_KS
    ]
    union = " UNION ALL ".join(parts)
    return f"""WITH {cte_block},
curve AS ({union})
SELECT n_merges, bpe_tokens, words,
       round(bpe_tokens / CAST(words AS DOUBLE), 6) AS tokens_per_word
FROM curve ORDER BY n_merges"""


BPE_COMPRESSION_CURVE_SQL = _bpe_curve_sql()


# --------------------------------------------------------------------------
# wordpiece_greedy_encode — greedy longest-match-first (WordPiece
# inference) encoding over the SAME learned BPE vocabulary, compared
# against the merge-order replay encoder. The two inference rules are
# the real production fork (HF tokenizers expose both); where they
# disagree on piece counts is exactly the compatibility risk when a
# corpus is re-encoded under a different runtime. Per source: token
# occurrences, total pieces under each encoder, distinct words whose
# piece counts differ, and the greedy/replay fertility ratio.
#
# Scale: both encoders run on the DISTINCT-WORD frame, weighted back
# by per-source occurrence counts (the word-histogram trick the whole
# BPE family rides). Greedy matching is ≤ max-word-length rounds of
# (≤ lmax candidate prefixes per unfinished word) equi-joined against
# the broadcast piece vocab — longest-prefix match as a hash join, no
# UDFs (operators/bpe.py::greedy_piece_counts). The two scalar
# collects (max word length, max piece length) are 1-row loop bounds.
#
# Oracle: the trained vocabulary replays through bpe_replay_ctes; the
# greedy encoder replays as a recursive CTE whose step picks
# MAX(plen) over the piece vocab via a correlated prefix probe —
# bit-identical advance decisions, so the report hash-matches.
# --------------------------------------------------------------------------


def q_wordpiece_greedy_encode(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    # shared corpus tokenize pass — the q_unigram_viterbi_encode shape
    words_src = (
        docs.select(
            "source",
            F.explode(
                F.expr(r"regexp_extract_all(trim(text), '\\S+', 0)")
            ).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count("*").alias("occ"))
        .localCheckpoint()
    )
    merges = bpe.train_bpe(
        docs.select("text"), "text",
        n_merges=_BPE_N_MERGES, min_pair_count=_BPE_MIN_PAIR,
        words_hist=words_src.groupBy("word").agg(
            F.sum("occ").alias("count")
        ),
    )
    words = words_src.select("word").distinct()
    syms = bpe.bpe_symbols(words, merges)
    encoded = words.select("word", syms.alias("syms")).localCheckpoint()
    n_bpe = encoded.select("word", F.size("syms").alias("n_bpe"))
    # consumed exactly once (greedy_piece_counts' model-sized vocab
    # collect) — a checkpoint here was one extra barrier job
    vocab = (
        encoded.select(F.explode("syms").alias("piece"))
        .unionByName(
            words.select(F.explode(F.split("word", "")).alias("piece"))
        )
        .distinct()
        .select("piece", F.length("piece").alias("plen"))
    )
    # max piece length is known driver-side from the merge table
    # (merged symbols are the only multi-char pieces) — no collect
    lmax = max([1] + [len(l + r) for l, r, _ in merges])
    greedy = bpe.greedy_piece_counts(words, vocab, lmax)
    per_word = n_bpe.join(greedy, "word")
    return (
        words_src.join(per_word, "word")
        .groupBy("source")
        .agg(
            F.sum("occ").alias("n_tokens"),
            F.sum(F.col("occ") * F.col("n_bpe")).alias("bpe_pieces"),
            F.sum(F.col("occ") * F.col("n_greedy")).alias("greedy_pieces"),
            F.count_distinct(
                F.when(F.col("n_bpe") != F.col("n_greedy"), F.col("word"))
            ).alias("diff_words"),
            F.round(
                F.sum(F.col("occ") * F.col("n_greedy"))
                / F.sum(F.col("occ") * F.col("n_bpe")).cast("double"),
                6,
            ).alias("fertility_ratio"),
        )
        .orderBy("source")
    )


def _wordpiece_greedy_sql() -> str:
    cte_block, final_vocab = bpe_replay_ctes(_BPE_N_MERGES, _BPE_MIN_PAIR)
    s = "chr(31)"
    return rf"""WITH RECURSIVE {cte_block},
words_src AS (
  SELECT source, word, COUNT(*) AS occ FROM (
    SELECT source, unnest(regexp_extract_all(trim(text), '\S+', 0)) AS word
    FROM documents
  ) GROUP BY source, word
),
n_bpe AS (
  SELECT word, len(string_split(trim(canon, {s}), {s}||{s})) AS n_bpe
  FROM {final_vocab}
),
vocab AS (
  SELECT piece, length(piece) AS plen FROM (
    SELECT DISTINCT unnest(string_split(trim(canon, {s}), {s}||{s})) AS piece
    FROM {final_vocab}
    UNION
    SELECT DISTINCT unnest(regexp_extract_all(word, '.', 0)) AS piece
    FROM words
  )
),
pos_grid AS (
  SELECT word, unnest(range(1, length(word) + 1)) AS pos FROM words
),
adv AS (
  -- longest-piece advance per (word, position), computed BEFORE the
  -- recursion: DuckDB does not bind correlated subqueries inside a
  -- recursive term (the probe silently returns NULL there)
  SELECT g.word, g.pos, COALESCE(MAX(v.plen), 1) AS adv
  FROM pos_grid g
  LEFT JOIN vocab v
    ON substr(g.word, CAST(g.pos AS INT), v.plen) = v.piece
  GROUP BY g.word, g.pos
),
seg AS (
  SELECT word, CAST(1 AS BIGINT) AS pos, 0 AS n_greedy FROM words
  UNION ALL
  SELECT s.word, s.pos + a.adv, s.n_greedy + 1
  FROM seg s JOIN adv a ON a.word = s.word AND a.pos = s.pos
  WHERE s.pos <= length(s.word)
),
greedy AS (SELECT word, MAX(n_greedy) AS n_greedy FROM seg GROUP BY word)
SELECT ws.source,
       CAST(SUM(ws.occ) AS BIGINT) AS n_tokens,
       CAST(SUM(ws.occ * b.n_bpe) AS BIGINT) AS bpe_pieces,
       CAST(SUM(ws.occ * g.n_greedy) AS BIGINT) AS greedy_pieces,
       CAST(COUNT(DISTINCT CASE WHEN b.n_bpe <> g.n_greedy THEN ws.word END)
            AS BIGINT) AS diff_words,
       {_sql_round(
           'SUM(ws.occ * g.n_greedy) / CAST(SUM(ws.occ * b.n_bpe) AS DOUBLE)',
           6)} AS fertility_ratio
FROM words_src ws
JOIN n_bpe b ON ws.word = b.word
JOIN greedy g ON ws.word = g.word
GROUP BY ws.source
ORDER BY ws.source"""


WORDPIECE_GREEDY_ENCODE_SQL = _wordpiece_greedy_sql()


# --------------------------------------------------------------------------
# unigram_viterbi_encode — unigram-LM (SentencePiece-style) maximum-
# likelihood segmentation, the third tokenizer-inference rule next to
# BPE merge replay and WordPiece greedy longest-match. Pieces come
# from the SAME trained BPE vocabulary; piece log-probabilities are
# the occurrence-weighted usage counts of the BPE segmentation with
# add-one smoothing (lp = round(ln(cnt/total), 6), ridden as exact
# DECIMAL(18,6) so every DP addition and comparison is engine-exact).
# The dynamic program dp[e] = max_j dp[e−j] + lp(word[e−j+1..e]) runs
# as ONE codegen'd fold over the distinct-word frame
# (operators/bpe.py::viterbi_piece_table — the greedy walk upgraded to
# a DP, no Python row path, no per-step Spark stage).
#
# Oracle: the trained vocabulary replays through bpe_replay_ctes; the
# DP replays as a recursive CTE whose step appends
# max/argmin over the PRE-COMPUTED per-(word, end-position) option
# lists (correlated subqueries don't bind in DuckDB recursive terms —
# the wordpiece lesson — but plain joins + list lambdas do).
#
# Scale: everything after the word histogram runs on distinct words;
# the vocab is broadcast; the only driver round trips are the BPE
# trainer's batched top-k collects. The 1-row piece-count total rides
# a broadcast cross join (materialized inside the vocab checkpoint).
#
# Observed fixed point (sf0.01 AND sf0.1): the max-likelihood
# segmentation under the BPE-usage unigram LM reproduces the BPE
# segmentation exactly (diff_words = 0) — the empirical distribution
# makes its own generating segmentation the argmax. This is not a
# theorem (a word whose alternative split uses higher-frequency pieces
# would diverge), so the column is a live regression canary, and the
# per-word DP scores underneath are fully exercised either way.
# --------------------------------------------------------------------------


def q_unigram_viterbi_encode(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    # one corpus tokenize pass: words_src feeds the final per-source
    # aggregate, the BPE trainer's histogram (identical multiset —
    # regexp \S+ extraction is trim-insensitive) and the distinct-word
    # frame, so checkpoint it and derive the rest (guide §2.4)
    words_src = (
        docs.select(
            "source",
            F.explode(
                F.expr(r"regexp_extract_all(trim(text), '\\S+', 0)")
            ).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count("*").alias("occ"))
        .localCheckpoint()
    )
    merges = bpe.train_bpe(
        docs.select("text"), "text",
        n_merges=_BPE_N_MERGES, min_pair_count=_BPE_MIN_PAIR,
        words_hist=words_src.groupBy("word").agg(
            F.sum("occ").alias("count")
        ),
    )
    words = words_src.select("word").distinct()
    syms = bpe.bpe_symbols(words, merges)
    encoded = words.select("word", syms.alias("syms")).localCheckpoint()
    n_bpe = encoded.select("word", F.size("syms").alias("n_bpe"))
    occ_w = words_src.groupBy("word").agg(F.sum("occ").alias("w_occ"))
    usage = (
        encoded.join(occ_w, "word")
        .select(F.explode("syms").alias("piece"), "w_occ")
        .groupBy("piece")
        .agg(F.sum("w_occ").alias("used"))
    )
    vocab0 = (
        encoded.select(F.explode("syms").alias("piece"))
        .unionByName(
            words.select(F.explode(F.split("word", "")).alias("piece"))
        )
        .distinct()
    )
    counts = vocab0.join(usage, "piece", "left").select(
        "piece",
        (F.coalesce(F.col("used"), F.lit(0)) + 1).alias("cnt"),
    )
    tot = counts.agg(F.sum("cnt").alias("total"))
    # consumed exactly once (viterbi_piece_table's model-sized vocab
    # collect) — a checkpoint here was one extra barrier job
    vocab_lp = counts.crossJoin(F.broadcast(tot)).select(
        "piece",
        F.length("piece").alias("plen"),
        F.round(
            F.log(F.col("cnt").cast("double") / F.col("total")), 6
        )
        .cast("decimal(18,6)")
        .alias("lp"),
    )
    lmax = max([1] + [len(l + r) for l, r, _ in merges])
    vit = bpe.viterbi_piece_table(words, vocab_lp, lmax)
    per_word = n_bpe.join(vit, "word")
    return (
        words_src.join(per_word, "word")
        .groupBy("source")
        .agg(
            F.sum("occ").alias("n_tokens"),
            F.sum(F.col("occ") * F.col("n_bpe")).alias("bpe_pieces"),
            F.sum(F.col("occ") * F.col("n_vit")).alias("viterbi_pieces"),
            F.count_distinct(
                F.when(F.col("n_bpe") != F.col("n_vit"), F.col("word"))
            ).alias("diff_words"),
            F.round(
                F.sum(F.col("occ") * F.col("logprob")).cast("double")
                / F.sum(F.col("occ") * F.col("n_vit")),
                6,
            ).alias("avg_piece_logprob"),
        )
        .orderBy("source")
    )


def _unigram_viterbi_sql() -> str:
    cte_block, final_vocab = bpe_replay_ctes(_BPE_N_MERGES, _BPE_MIN_PAIR)
    s = "chr(31)"
    lp_expr = _sql_round("ln(CAST(cnt AS DOUBLE) / total)", 6)
    # dp candidate expressions over the option list (shared between the
    # max-score reduction and the min-pieces tie-break)
    cscore = "s.scores[s.i + 2 - x['j']] + x['lp']"
    cscore_y = "s.scores[s.i + 2 - y['j']] + y['lp']"
    best = f"list_aggregate(list_transform(o.opts, x -> {cscore}), 'max')"
    best_y = f"list_aggregate(list_transform(o.opts, y -> {cscore_y}), 'max')"
    return rf"""WITH RECURSIVE {cte_block},
words_src AS (
  SELECT source, word, COUNT(*) AS occ FROM (
    SELECT source, unnest(regexp_extract_all(trim(text), '\S+', 0)) AS word
    FROM documents
  ) GROUP BY source, word
),
n_bpe AS (
  SELECT word, len(string_split(trim(canon, {s}), {s}||{s})) AS n_bpe
  FROM {final_vocab}
),
pieces_used AS (
  SELECT piece, CAST(SUM(cnt) AS BIGINT) AS used FROM (
    SELECT cnt, unnest(string_split(trim(canon, {s}), {s}||{s})) AS piece
    FROM {final_vocab}
  ) GROUP BY piece
),
vocab0 AS (
  SELECT DISTINCT piece FROM (
    SELECT unnest(string_split(trim(canon, {s}), {s}||{s})) AS piece
    FROM {final_vocab}
    UNION
    SELECT unnest(regexp_extract_all(word, '.', 0)) AS piece FROM words
  )
),
counts AS (
  SELECT v.piece, COALESCE(u.used, 0) + 1 AS cnt
  FROM vocab0 v LEFT JOIN pieces_used u USING (piece)
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
vocab AS MATERIALIZED (
  SELECT piece, length(piece) AS plen,
         CAST({lp_expr} AS DECIMAL(18,6)) AS lp
  FROM counts CROSS JOIN tot
),
pos_grid AS (
  SELECT word, unnest(range(1, length(word) + 1)) AS st FROM words
),
opts AS MATERIALIZED (
  -- option lists per (word, END position), computed BEFORE the
  -- recursion (DuckDB does not bind correlated subqueries inside a
  -- recursive term; plain joins and list lambdas do bind)
  SELECT g.word, g.st + v.plen - 1 AS e,
         list({{'j': v.plen, 'lp': v.lp}}) AS opts
  FROM pos_grid g
  JOIN vocab v ON substr(g.word, CAST(g.st AS INT), v.plen) = v.piece
  GROUP BY g.word, g.st + v.plen - 1
),
seg AS (
  SELECT word, 0 AS i,
         [CAST(0 AS DECIMAL(18,6))] AS scores, [CAST(0 AS INT)] AS nps
  FROM words
  UNION ALL
  SELECT s.word, s.i + 1,
         list_append(s.scores, CAST({best} AS DECIMAL(18,6))),
         list_append(s.nps, CAST(list_aggregate(list_transform(
             list_filter(o.opts, x -> {cscore} = {best_y}),
             x -> s.nps[s.i + 2 - x['j']] + 1), 'min') AS INT))
  FROM seg s JOIN opts o ON o.word = s.word AND o.e = s.i + 1
  WHERE s.i < length(s.word)
),
vit AS (
  SELECT word, nps[length(word) + 1] AS n_vit,
         scores[length(word) + 1] AS logprob
  FROM seg WHERE i = length(word)
)
SELECT ws.source,
       CAST(SUM(ws.occ) AS BIGINT) AS n_tokens,
       CAST(SUM(ws.occ * b.n_bpe) AS BIGINT) AS bpe_pieces,
       CAST(SUM(ws.occ * v.n_vit) AS BIGINT) AS viterbi_pieces,
       CAST(COUNT(DISTINCT CASE WHEN b.n_bpe <> v.n_vit THEN ws.word END)
            AS BIGINT) AS diff_words,
       {_sql_round(
           'CAST(SUM(ws.occ * v.logprob) AS DOUBLE)'
           ' / SUM(ws.occ * v.n_vit)', 6)} AS avg_piece_logprob
FROM words_src ws
JOIN n_bpe b ON ws.word = b.word
JOIN vit v ON ws.word = v.word
GROUP BY ws.source
ORDER BY ws.source"""


UNIGRAM_VITERBI_ENCODE_SQL = _unigram_viterbi_sql()


# --------------------------------------------------------------------------
# unigram_em_fit / unigram_em_encode — the SentencePiece-style
# unigram-LM TRAINER (VERDICT r7 item 4: the one conspicuous absence
# in the tokenizer family — the engine shipped three inference rules
# but no training loop). operators/bpe.py::unigram_em_fit runs
# hard-EM: seed vocabulary from occurrence-weighted substring
# frequencies, E-step = Viterbi segmentation of the distinct-word
# frame (viterbi_segment — one codegen'd fold + one backpointer-walk
# fold), M-step = usage-weighted piece re-estimation with unused
# multi-char pieces pruned and chars always kept. Model state lives in
# a model-sized DataFrame end-to-end (no driver round trips at all —
# contrast train_bpe's batched argmax collects).
#
# `unigram_em_fit` reports the learned model head (top pieces by final
# count); `unigram_em_encode` re-encodes the corpus with the final
# table and reports per-source fertility — the number a pipeline owner
# reads to size a production vocab.
#
# Oracle: the whole EM unrolls as a CTE chain — seed, then per
# iteration one recursive-DP CTE (scores + backpointers), one
# recursive reconstruction CTE walking the backpointers, and the
# usage/prune/renormalize M-step as plain aggregates. Ties in the DP
# break (max score, then max backpointer j) — simpler than the
# fewest-pieces rule of unigram_viterbi_encode and equally
# deterministic; scores ride DECIMAL(18,6) so both engines replay the
# argmax bit-identically.
# --------------------------------------------------------------------------

_EM_LMAX = 4
_EM_TOP_M = 48
_EM_ITERS = 2
_EM_TOP_OUT = 20


def _em_words_occ(docs):
    return (
        docs.select(
            F.explode(
                F.expr(r"regexp_extract_all(trim(text), '\\S+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("w_occ"))
    )


def q_unigram_em_fit(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents", spread=True)
    vocab = bpe.unigram_em_fit(
        _em_words_occ(docs),
        lmax=_EM_LMAX,
        top_m=_EM_TOP_M,
        n_iters=_EM_ITERS,
    )
    # model head: tiny frame (chars + <= top_m rows) — the global sort
    # and row_number run on the model, never the corpus
    top = vocab.orderBy(F.desc("cnt"), "piece").limit(_EM_TOP_OUT)
    return top.select(
        F.row_number().over(W.orderBy(F.desc("cnt"), "piece")).alias("rank"),
        "piece",
        "plen",
        "cnt",
        F.col("lp").cast("double").alias("lp"),
    ).orderBy("rank")


def q_unigram_em_encode(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    # one corpus tokenize pass: words_src feeds both the trainer's
    # histogram and the final per-source fertility aggregate
    words_src = (
        docs.select(
            "source",
            F.explode(
                F.expr(r"regexp_extract_all(trim(text), '\\S+', 0)")
            ).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count("*").alias("occ"))
        .localCheckpoint()
    )
    words_occ = words_src.groupBy("word").agg(F.sum("occ").alias("w_occ"))
    vocab = bpe.unigram_em_fit(
        words_occ, lmax=_EM_LMAX, top_m=_EM_TOP_M, n_iters=_EM_ITERS
    )
    seg = bpe.viterbi_segment(words_occ.select("word"), vocab, _EM_LMAX)
    return (
        words_src.join(seg, "word")
        .groupBy("source")
        .agg(
            F.sum("occ").alias("n_tokens"),
            F.sum(F.col("occ") * F.col("n_vit")).alias("em_pieces"),
            F.round(
                F.sum(F.col("occ") * F.col("n_vit")).cast("double")
                / F.sum("occ"),
                6,
            ).alias("pieces_per_token"),
            F.round(
                F.sum(F.col("occ") * F.col("logprob")).cast("double")
                / F.sum(F.col("occ") * F.col("n_vit")),
                6,
            ).alias("avg_piece_logprob"),
        )
        .orderBy("source")
    )


def _em_lp_sql(counts: str, tot: str) -> str:
    lp = _sql_round("ln(CAST(cnt AS DOUBLE) / total)", 6)
    return (
        f"SELECT piece, length(piece) AS plen, cnt,\n"
        f"         CAST({lp} AS DECIMAL(18,6)) AS lp\n"
        f"  FROM {counts} CROSS JOIN {tot}"
    )


def _em_estep_ctes(k: int, vocab: str) -> str:
    """One E-step: recursive Viterbi DP (scores + backpointers) under
    ``vocab``, then recursive backpointer reconstruction to the piece
    multiset. Tie-break = (max score, max j), matching
    operators/bpe.py::viterbi_segment's struct max."""
    cscore_x = "s.scores[s.i + 2 - x['j']] + x['lp']"
    cscore_y = "s.scores[s.i + 2 - y['j']] + y['lp']"
    best_x = f"list_aggregate(list_transform(o.opts, x -> {cscore_x}), 'max')"
    best_y = f"list_aggregate(list_transform(o.opts, y -> {cscore_y}), 'max')"
    return f"""opts_{k} AS MATERIALIZED (
  SELECT g.word, g.st + v.plen - 1 AS e,
         list({{'j': v.plen, 'lp': v.lp}}) AS opts
  FROM pos_grid g
  JOIN {vocab} v ON substr(g.word, CAST(g.st AS INT), CAST(v.plen AS INT)) = v.piece
  GROUP BY g.word, g.st + v.plen - 1
),
seg_{k} AS (
  SELECT word, 0 AS i,
         [CAST(0 AS DECIMAL(18,6))] AS scores, [CAST(0 AS INT)] AS bps
  FROM words
  UNION ALL
  SELECT s.word, s.i + 1,
         list_append(s.scores, CAST({best_x} AS DECIMAL(18,6))),
         list_append(s.bps, CAST(list_aggregate(list_transform(
             list_filter(o.opts, x -> {cscore_x} = {best_y}),
             z -> z['j']), 'max') AS INT))
  FROM seg_{k} s JOIN opts_{k} o ON o.word = s.word AND o.e = s.i + 1
  WHERE s.i < length(s.word)
),
recon_{k} AS (
  SELECT word, length(word) AS pos, []::VARCHAR[] AS parts, bps
  FROM seg_{k} WHERE i = length(word)
  UNION ALL
  SELECT word, pos - bps[pos + 1],
         list_append(parts, substr(word,
             CAST(pos - bps[pos + 1] + 1 AS INT),
             CAST(bps[pos + 1] AS INT))),
         bps
  FROM recon_{k} WHERE pos > 0
),
pieces_{k} AS (
  SELECT word, unnest(parts) AS piece FROM recon_{k} WHERE pos = 0
)"""


def _em_mstep_ctes(k: int) -> str:
    return f"""usage_{k} AS (
  SELECT piece, SUM(w_occ) AS used
  FROM pieces_{k} JOIN occ_w USING (word) GROUP BY piece
),
counts_{k} AS (
  SELECT c.piece, COALESCE(u.used, 0) + 1 AS cnt
  FROM chars c LEFT JOIN usage_{k} u USING (piece)
  UNION ALL
  SELECT piece, used + 1 AS cnt FROM usage_{k} WHERE length(piece) > 1
),
tot_{k} AS (SELECT SUM(cnt) AS total FROM counts_{k}),
vocab_{k} AS MATERIALIZED (
  {_em_lp_sql(f"counts_{k}", f"tot_{k}")}
)"""


def _unigram_em_ctes() -> tuple[str, str]:
    """The shared EM chain: seed → (E-step, M-step) × _EM_ITERS.
    Returns (cte_block, final_vocab_name). Callers prepend a
    words_src/occ_w-compatible base and append their report."""
    parts = [
        f"""occ_w AS (
  SELECT word, COUNT(*) AS w_occ FROM (
    SELECT unnest(regexp_extract_all(trim(text), '\\S+', 0)) AS word
    FROM documents
  ) GROUP BY word
),
words AS (SELECT word FROM occ_w),
chars AS (
  SELECT DISTINCT unnest(regexp_extract_all(word, '.', 0)) AS piece
  FROM words
),
pos_grid AS (
  SELECT word, unnest(range(1, length(word) + 1)) AS st FROM words
),
cand AS (
  SELECT word, st, plen,
         substr(word, CAST(st AS INT), CAST(plen AS INT)) AS piece
  FROM pos_grid CROSS JOIN unnest(range(1, {_EM_LMAX + 1})) AS l(plen)
  WHERE st + plen - 1 <= length(word)
),
seed_cnt AS (
  SELECT piece, SUM(w_occ) AS cnt
  FROM cand JOIN occ_w USING (word) GROUP BY piece
),
seed_multi AS (
  SELECT piece, cnt FROM seed_cnt WHERE length(piece) > 1
  ORDER BY cnt DESC, piece LIMIT {_EM_TOP_M}
),
counts_0 AS (
  SELECT piece, cnt FROM seed_cnt WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM seed_multi
),
tot_0 AS (SELECT SUM(cnt) AS total FROM counts_0),
vocab_0 AS MATERIALIZED (
  {_em_lp_sql("counts_0", "tot_0")}
)"""
    ]
    for k in range(1, _EM_ITERS + 1):
        parts.append(_em_estep_ctes(k, f"vocab_{k - 1}"))
        parts.append(_em_mstep_ctes(k))
    return ",\n".join(parts), f"vocab_{_EM_ITERS}"


def _unigram_em_fit_sql() -> str:
    chain, final_vocab = _unigram_em_ctes()
    return f"""WITH RECURSIVE {chain}
SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rank,
       piece, CAST(plen AS INT) AS plen, CAST(cnt AS BIGINT) AS cnt,
       CAST(lp AS DOUBLE) AS lp
FROM {final_vocab}
ORDER BY cnt DESC, piece
LIMIT {_EM_TOP_OUT}"""


def _unigram_em_encode_sql() -> str:
    chain, final_vocab = _unigram_em_ctes()
    enc = _EM_ITERS + 1
    final_estep = _em_estep_ctes(enc, final_vocab)
    return f"""WITH RECURSIVE {chain},
{final_estep},
vit AS (
  SELECT r.word, len(r.parts) AS n_vit,
         s.scores[length(r.word) + 1] AS logprob
  FROM (SELECT word, parts FROM recon_{enc} WHERE pos = 0) r
  JOIN (SELECT word, scores FROM seg_{enc} WHERE i = length(word)) s
    USING (word)
),
words_src AS (
  SELECT source, word, COUNT(*) AS occ FROM (
    SELECT source, unnest(regexp_extract_all(trim(text), '\\S+', 0)) AS word
    FROM documents
  ) GROUP BY source, word
)
SELECT ws.source,
       CAST(SUM(ws.occ) AS BIGINT) AS n_tokens,
       CAST(SUM(ws.occ * v.n_vit) AS BIGINT) AS em_pieces,
       {_sql_round('CAST(SUM(ws.occ * v.n_vit) AS DOUBLE) / SUM(ws.occ)', 6)}
         AS pieces_per_token,
       {_sql_round(
           'CAST(SUM(ws.occ * v.logprob) AS DOUBLE)'
           ' / SUM(ws.occ * v.n_vit)', 6)} AS avg_piece_logprob
FROM words_src ws
JOIN vit v USING (word)
GROUP BY ws.source
ORDER BY ws.source"""


UNIGRAM_EM_FIT_SQL = _unigram_em_fit_sql()
UNIGRAM_EM_ENCODE_SQL = _unigram_em_encode_sql()


# --------------------------------------------------------------------------
# loo_source_influence — leave-one-source-out influence of each source
# on the corpus-level quality and length means. For linear statistics
# the counterfactual "corpus without source s" is exact algebra over
# per-source sums: loo_mean = (T − T_s)/(N − N_s) — NO re-runs, one
# pass at any corpus size. This is how a mix owner ranks sources by
# their pull on corpus health before cutting one (the cheap first step
# before real influence functions).
#
# Determinism: per-doc quality is the 6-dp-rounded score the
# doc_quality oracle already certifies; sums ride DECIMAL so the
# subtraction T − T_s is exact, with ONE double division per mean.
# The totals row is a broadcast 1-row cross join (allowlisted shape).
# --------------------------------------------------------------------------


def q_loo_source_influence(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import (
        quality_score as _q,
        token_count as _tc,
    )

    docs = table(spark, sf_dir, "documents", spread=True)
    per = (
        docs.select(
            "source",
            _q(F.col("text")).cast("decimal(18,6)").alias("q"),
            _tc(F.col("text")).alias("tok"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("q").alias("q_s"),
            F.sum("tok").alias("tok_s"),
        )
    )
    tot = per.agg(
        F.sum("n_docs").alias("n_all"),
        F.sum("q_s").alias("q_all"),
        F.sum("tok_s").alias("tok_all"),
    )
    loo_n = F.col("n_all") - F.col("n_docs")
    mean_q = F.col("q_all").cast("double") / F.col("n_all")
    loo_q = (F.col("q_all") - F.col("q_s")).cast("double") / F.nullif(
        loo_n, F.lit(0)
    )
    mean_t = F.col("tok_all").cast("double") / F.col("n_all")
    loo_t = (F.col("tok_all") - F.col("tok_s")).cast("double") / F.nullif(
        loo_n, F.lit(0)
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(loo_q, 6).alias("mean_quality_loo"),
            F.round(loo_q - mean_q, 8).alias("delta_quality"),
            F.round(loo_t, 6).alias("mean_tokens_loo"),
            F.round(loo_t - mean_t, 8).alias("delta_tokens"),
        )
        .orderBy("source")
    )


def _loo_influence_sql() -> str:
    quality = """
        0.4 * COALESCE(n_alpha / CAST(NULLIF(n_chars, 0) AS DOUBLE), 0.0)
        + 0.3 * least(COALESCE(n_stop / CAST(NULLIF(n_tokens, 0) AS DOUBLE), 0.0) * 4, 1.0)
        + 0.2 * greatest(0.0, 1.0 - COALESCE(n_punct / CAST(NULLIF(n_chars, 0) AS DOUBLE), 0.0) * 5)
        + 0.1 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.3 END)
    """
    return rf"""
WITH feat AS (
  SELECT source,
         len(regexp_extract_all(text, '\S+', 0)) AS n_tokens,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '{ALPHA_CHAR_RE}', 0)) AS n_alpha,
         len(regexp_extract_all(text, '{PUNCT_CHAR_RE}', 0)) AS n_punct,
         len(regexp_extract_all(lower(text), '{_EN}', 0)) AS n_stop
  FROM documents
),
per AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(CAST({_sql_round(quality, 6)} AS DECIMAL(18,6))) AS q_s,
         CAST(SUM(n_tokens) AS BIGINT) AS tok_s
  FROM feat GROUP BY source
),
tot AS (
  SELECT SUM(n_docs) AS n_all, SUM(q_s) AS q_all, SUM(tok_s) AS tok_all
  FROM per
)
SELECT source, n_docs,
       {_sql_round(
           'CAST(q_all - q_s AS DOUBLE) / NULLIF(n_all - n_docs, 0)', 6
       )} AS mean_quality_loo,
       {_sql_round(
           'CAST(q_all - q_s AS DOUBLE) / NULLIF(n_all - n_docs, 0)'
           ' - CAST(q_all AS DOUBLE) / n_all', 8
       )} AS delta_quality,
       {_sql_round(
           'CAST(tok_all - tok_s AS DOUBLE) / NULLIF(n_all - n_docs, 0)', 6
       )} AS mean_tokens_loo,
       {_sql_round(
           'CAST(tok_all - tok_s AS DOUBLE) / NULLIF(n_all - n_docs, 0)'
           ' - CAST(tok_all AS DOUBLE) / n_all', 8
       )} AS delta_tokens
FROM per CROSS JOIN tot
ORDER BY source
"""


LOO_SOURCE_INFLUENCE_SQL = _loo_influence_sql()


# --------------------------------------------------------------------------
# shapley_vocab_attribution — exact Shapley data valuation of each
# source's contribution to distinct-vocabulary coverage. Game-theoretic
# attribution is the principled upgrade over leave-one-out
# (loo_source_influence): LOO credits a source only for what NO other
# source has, so two mirrors of the same crawl both score ~0 even
# though dropping both loses their whole vocabulary. Shapley splits
# the credit instead.
#
# The 2^|sources| subset enumeration that makes Shapley notoriously
# expensive COLLAPSES for a set-union coverage game: v(S) =
# |vocab(S)| is the coverage function, and each term's marginal is 1
# exactly when it first appears — by symmetry each of its k owning
# sources gets 1/k. So φ_i = Σ_{t owned by i} 1/k_t, computed exactly
# in one pass with no subset enumeration (the same closed form
# Ghorbani & Zou's Data-Shapley literature cites for coverage
# utilities).
#
# Exactness: per-term contribution is the integer floor(10^6 div k)
# summed in micro-units — no order-dependent float sum crosses an
# aggregation; the two share ratios are single exact-operand
# divisions at display time. Σ_i φ_i = |vocab(N)| up to the bounded
# floor residual (< |vocab| micro-units), which is why shares are
# reported against the realized micro total, not the vocab size.
#
# Scale: ONE term-keyed shuffle (collect_set with map-side partial
# aggregation compresses duplicate (term, source) hits before the
# exchange); owner sets are |sources|-bounded; everything after is
# per-source. Never materializes the (term, source, term') pair
# frame a naive subset evaluation would need.
# --------------------------------------------------------------------------

_SHAPLEY_MICRO = 1_000_000


def _shapley_coverage_micro(hits):
    """The closed-form coverage-Shapley kernel over a (source, term)
    hit frame (duplicates allowed): per source, vocab_size,
    exclusive_terms, and shapley_micro = Σ_t floor(10^6 div k_t) over
    owned terms. Factored out so the property test can feed synthetic
    ownership maps and compare against a permutation-enumerated exact
    Shapley (tests/test_properties.py)."""
    owners = hits.groupBy("term").agg(F.collect_set("source").alias("srcs"))
    per = owners.select(
        F.explode("srcs").alias("source"), F.size("srcs").alias("k")
    )
    return per.groupBy("source").agg(
        F.count("*").alias("vocab_size"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0)).alias("exclusive_terms"),
        F.sum(F.expr(f"{_SHAPLEY_MICRO} div k")).alias("shapley_micro"),
    )


def q_shapley_vocab_attribution(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import tokens_array

    docs = table(spark, sf_dir, "documents", spread=True)
    agg = _shapley_coverage_micro(
        docs.select(
            "source", F.explode(tokens_array(F.col("text"))).alias("term")
        )
    )
    tot = agg.agg(F.sum("shapley_micro").alias("micro_all"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "vocab_size",
            "exclusive_terms",
            "shapley_micro",
            F.round(
                F.col("shapley_micro") / F.col("micro_all").cast("double"), 6
            ).alias("shapley_share"),
            F.round(
                F.col("shapley_micro")
                / (F.lit(_SHAPLEY_MICRO) * F.col("vocab_size")).cast("double"),
                6,
            ).alias("exclusivity"),
        )
        .orderBy("source")
    )


SHAPLEY_VOCAB_ATTRIBUTION_SQL = rf"""
WITH vocab AS (
  SELECT DISTINCT source, UNNEST(regexp_extract_all(text, '\S+', 0)) AS term
  FROM documents
),
owners AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS k FROM vocab GROUP BY term
),
agg AS (
  SELECT v.source,
         CAST(COUNT(*) AS BIGINT) AS vocab_size,
         CAST(SUM(CASE WHEN o.k = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS exclusive_terms,
         CAST(SUM({_SHAPLEY_MICRO} // o.k) AS BIGINT) AS shapley_micro
  FROM vocab v JOIN owners o ON v.term = o.term
  GROUP BY v.source
)
SELECT source, vocab_size, exclusive_terms, shapley_micro,
       {_sql_round(
           'CAST(shapley_micro AS DOUBLE)'
           ' / (SELECT SUM(shapley_micro) FROM agg)', 6
       )} AS shapley_share,
       {_sql_round(
           f'CAST(shapley_micro AS DOUBLE) / ({_SHAPLEY_MICRO}.0 * vocab_size)',
           6,
       )} AS exclusivity
FROM agg
ORDER BY source
"""


# --------------------------------------------------------------------------
# dedup_method_agreement — cross-method audit of the two near-dup pair
# pipelines. LSH-minhash (probabilistic candidates, exact verify) and
# rare-shingle blocking (deterministic candidates, exact verify) hunt
# the same Jaccard≥0.5 pairs with different blind spots: minhash
# misses pairs whose signatures never collide in any band, blocking
# misses pairs with no rare shared shingle. The audit full-outer-joins
# the two pair sets and reports each-only counts and the pair-set
# Jaccard — the number that says whether the cheap scale path (LSH)
# is recall-adequate before a 100 TB run commits to it. Composes both
# existing pipelines (and, on the oracle side, their SQL verbatim) —
# the ann_recall_report pattern for the dedup family.
#
# Scale: the joined frames are PAIR sets (already threshold-filtered,
# ≪ corpus); the underlying pipelines keep their own scale guards.
# --------------------------------------------------------------------------


def q_dedup_method_agreement(spark, sf_dir):
    mh = q_minhash_dedup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    ng = q_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    j = mh.withColumn("in_mh", F.lit(1)).join(
        ng.withColumn("in_ng", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    both = F.sum(
        F.when(
            F.col("in_mh").isNotNull() & F.col("in_ng").isNotNull(), 1
        ).otherwise(0)
    )
    n_mh = F.sum(F.when(F.col("in_mh").isNotNull(), 1).otherwise(0))
    n_ng = F.sum(F.when(F.col("in_ng").isNotNull(), 1).otherwise(0))
    return j.agg(
        n_mh.alias("n_minhash"),
        n_ng.alias("n_ngram"),
        both.alias("n_both"),
        (n_mh - both).alias("minhash_only"),
        (n_ng - both).alias("ngram_only"),
        F.round(both / (n_mh + n_ng - both), 6).alias("pair_set_jaccard"),
    )


def _dedup_agreement_sql() -> str:
    return f"""
WITH mh AS ({MINHASH_DEDUP_PAIRS_SQL}),
ng AS ({NGRAM_JACCARD_PAIRS_SQL}),
j AS (
  SELECT (mh.doc_a IS NOT NULL) AS in_mh,
         (ng.doc_a IS NOT NULL) AS in_ng
  FROM mh FULL OUTER JOIN ng
    ON mh.doc_a = ng.doc_a AND mh.doc_b = ng.doc_b
)
SELECT CAST(SUM(CASE WHEN in_mh THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash,
       CAST(SUM(CASE WHEN in_ng THEN 1 ELSE 0 END) AS BIGINT) AS n_ngram,
       CAST(SUM(CASE WHEN in_mh AND in_ng THEN 1 ELSE 0 END) AS BIGINT)
         AS n_both,
       CAST(SUM(CASE WHEN in_mh THEN 1 ELSE 0 END)
            - SUM(CASE WHEN in_mh AND in_ng THEN 1 ELSE 0 END) AS BIGINT)
         AS minhash_only,
       CAST(SUM(CASE WHEN in_ng THEN 1 ELSE 0 END)
            - SUM(CASE WHEN in_mh AND in_ng THEN 1 ELSE 0 END) AS BIGINT)
         AS ngram_only,
       round(SUM(CASE WHEN in_mh AND in_ng THEN 1 ELSE 0 END)
             / CAST(SUM(CASE WHEN in_mh THEN 1 ELSE 0 END)
                    + SUM(CASE WHEN in_ng THEN 1 ELSE 0 END)
                    - SUM(CASE WHEN in_mh AND in_ng THEN 1 ELSE 0 END)
                    AS DOUBLE), 6) AS pair_set_jaccard
FROM j
"""


# --------------------------------------------------------------------------
# Corpus index / language-model analytics: inverted index postings,
# bigram continuation probabilities, vocabulary coverage — the
# search-index and tokenizer-diagnostics side of a corpus pipeline.
# --------------------------------------------------------------------------

_POSTINGS_CAP = 16


def q_inverted_index(spark, sf_dir):
    """Champion-list inverted index: per term, the exact document
    frequency plus the first-K posting prefix (doc_id order). The cap
    is the scale guard of every index build: the full posting list of
    a stop word is corpus-sized, so one reducer would receive it whole
    — prefixing (champion lists) bounds the materialized payload per
    term to K ids while df stays exact. One shuffle on term over the
    distinct (term, doc) frame; rank and df come from the same window
    pass, the collect runs only on the ≤K survivors."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents", spread=True)
    td = (
        docs.select(
            "doc_id", F.explode(word_tokens(F.col("text"))).alias("term")
        )
        .distinct()
    )
    wt = W.partitionBy("term")
    ranked = td.withColumn(
        "rk", F.row_number().over(wt.orderBy("doc_id"))
    ).withColumn("df", F.count("*").over(wt))
    return (
        ranked.filter(F.col("rk") <= _POSTINGS_CAP)
        .groupBy("term", "df")
        # postings travel as a sorted CSV string, not array<bigint>:
        # locally Spark and DuckDB render identical numpy arrays, but
        # the driver's hash canonicalization of list cells is
        # unobservable — a string column is parity-safe under any
        # canonicalization and carries the same information
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("doc_id")), ","
            ).alias("postings")
        )
        .orderBy("term")
    )


INVERTED_INDEX_SQL = rf"""
WITH td AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS term
  FROM documents
),
ranked AS (
  SELECT term, doc_id,
         ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY term) AS df
  FROM td
)
SELECT term, df,
       list_aggregate(list(doc_id ORDER BY doc_id), 'string_agg', ',')
         AS postings
FROM ranked
WHERE rk <= {_POSTINGS_CAP}
GROUP BY term, df
ORDER BY term
"""


_BIGRAM_MIN_COUNT = 100
_BIGRAM_TOP_N = 3


def q_bigram_lm(spark, sf_dir):
    """Bigram continuation table: for frequent first-tokens, the top-3
    next-tokens with exact conditional probability P(next | cur) =
    count(cur,next) / Σ_next count(cur,·). The denominator is a window
    sum over the already-aggregated bigram counts — vocabulary²-sized
    at worst, corpus-independent; no second corpus scan. Top-3 rides
    the map-side WindowGroupLimit. This is the n-gram-LM / Markov
    suggestion shape (and the data-quality 'what follows what' probe)."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(word_tokens(F.col("text")).alias("w"))
    bigrams = toks.select(
        F.explode(
            F.transform(
                F.slice(F.col("w"), 1, F.greatest(F.size("w") - 1, F.lit(0))),
                lambda x, i: F.struct(
                    x.alias("cur"),
                    F.element_at(F.col("w"), i + 2).alias("nxt"),
                ),
            )
        ).alias("bg")
    ).select("bg.cur", "bg.nxt")
    counts = bigrams.groupBy("cur", "nxt").agg(F.count("*").alias("n"))
    wsum = W.partitionBy("cur")
    wrank = W.partitionBy("cur").orderBy(F.desc("n"), F.asc("nxt"))
    return (
        counts.withColumn("cur_total", F.sum("n").over(wsum))
        .withColumn("rank", F.row_number().over(wrank))
        .filter(
            (F.col("cur_total") >= _BIGRAM_MIN_COUNT)
            & (F.col("rank") <= _BIGRAM_TOP_N)
        )
        .select(
            "cur",
            "rank",
            "nxt",
            "n",
            F.round(F.col("n") / F.col("cur_total"), 6).alias("p_next"),
        )
        .orderBy("cur", "rank")
    )


BIGRAM_LM_SQL = rf"""
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '[a-z]+', 0) AS w FROM documents
),
bigrams AS (
  SELECT unnest(list_transform(range(0, len(w) - 1),
                               i -> struct_pack(cur := w[i+1], nxt := w[i+2])),
                recursive := true)
  FROM toks WHERE len(w) >= 2
),
counts AS (
  SELECT cur, nxt, COUNT(*) AS n FROM bigrams GROUP BY cur, nxt
),
ranked AS (
  SELECT cur, nxt, n,
         SUM(n) OVER (PARTITION BY cur) AS cur_total,
         ROW_NUMBER() OVER (PARTITION BY cur ORDER BY n DESC, nxt) AS rank
  FROM counts
)
SELECT cur, rank, nxt, n, round(n / CAST(cur_total AS DOUBLE), 6) AS p_next
FROM ranked
WHERE cur_total >= {_BIGRAM_MIN_COUNT} AND rank <= {_BIGRAM_TOP_N}
ORDER BY cur, rank
"""


# --------------------------------------------------------------------------
# kneser_ney_bigram — interpolated Kneser-Ney smoothing, the LM
# estimator that actually ships in n-gram tokenER/quality stacks
# (bigram_lm's Laplace is the classroom baseline; KN is what KenLM
# uses). For the top bigrams: P_KN(nxt|cur) = (c(cur,nxt) − D)/c(cur)
# + D·T(cur)/c(cur) · P_cont(nxt), with discount D = 0.75 (exactly
# dyadic — no decimal-representation drift) and the continuation
# probability P_cont(nxt) = |{u : c(u,nxt) > 0}| / |bigram types| —
# "how many contexts does this word complete", the KN insight that
# downweights frequent-but-context-bound words.
#
# Determinism: every input to the probability is an exact integer
# count; the double op tree ((n−0.75)/c1 + (0.75·t1/c1)·(ctu/types))
# is written identically in both engines, and D is a dyadic rational.
#
# Scale: all stats live on the (cur, nxt) bigram-type frame
# (vocab²-bounded, corpus-independent); the top-20 ride
# orderBy().limit() (distributed heap) and the per-context /
# per-continuation aggregates are joined with the 20 survivors
# broadcast — the big frames never shuffle twice.
# --------------------------------------------------------------------------

_KN_D = 0.75
_KN_TOP = 20


def q_kneser_ney_bigram(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(word_tokens(F.col("text")).alias("w"))
    bigrams = toks.select(
        F.explode(
            F.transform(
                F.slice(F.col("w"), 1, F.greatest(F.size("w") - 1, F.lit(0))),
                lambda x, i: F.struct(
                    x.alias("cur"),
                    F.element_at(F.col("w"), i + 2).alias("nxt"),
                ),
            )
        ).alias("bg")
    ).select("bg.cur", "bg.nxt")
    counts = bigrams.groupBy("cur", "nxt").agg(F.count("*").alias("n"))
    ctx = counts.groupBy("cur").agg(
        F.sum("n").alias("c1"), F.count("*").alias("t1")
    )
    cont = counts.groupBy("nxt").agg(F.count("*").alias("ctu"))
    types = counts.agg(F.count("*").alias("types"))
    top = counts.orderBy(F.desc("n"), "cur", "nxt").limit(_KN_TOP)
    # probe the two big per-context aggregates with the 20 survivors
    # BROADCAST — ctx/cont are vocab-sized and must not re-shuffle
    j = (
        ctx.join(F.broadcast(top), "cur")
        .join(cont, "nxt")
        .join(F.broadcast(types))
    )
    d = F.lit(_KN_D)
    p_kn = (F.col("n") - d) / F.col("c1") + (
        d * F.col("t1") / F.col("c1")
    ) * (F.col("ctu") / F.col("types"))
    return j.select(
        "cur",
        "nxt",
        "n",
        "c1",
        "t1",
        "ctu",
        F.round(F.col("n") / F.col("c1"), 10).alias("p_mle"),
        F.round(p_kn, 10).alias("p_kn"),
    ).orderBy(F.desc("n"), "cur", "nxt")


KNESER_NEY_BIGRAM_SQL = rf"""
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '[a-z]+', 0) AS w FROM documents
),
bigrams AS (
  SELECT unnest(list_transform(range(0, len(w) - 1),
                               i -> struct_pack(cur := w[i+1], nxt := w[i+2])),
                recursive := true)
  FROM toks WHERE len(w) >= 2
),
counts AS (
  SELECT cur, nxt, COUNT(*) AS n FROM bigrams GROUP BY cur, nxt
),
ctx AS (
  SELECT cur, CAST(SUM(n) AS BIGINT) AS c1, COUNT(*) AS t1
  FROM counts GROUP BY cur
),
cont AS (SELECT nxt, COUNT(*) AS ctu FROM counts GROUP BY nxt),
types AS (SELECT COUNT(*) AS types FROM counts),
top AS (
  SELECT cur, nxt, n FROM counts ORDER BY n DESC, cur, nxt LIMIT {_KN_TOP}
)
SELECT cur, nxt, n, c1, t1, ctu,
       round(n / CAST(c1 AS DOUBLE), 10) AS p_mle,
       round((n - {_KN_D}) / c1 + ({_KN_D} * t1 / c1) * (ctu / CAST(types AS DOUBLE)), 10)
         AS p_kn
FROM top JOIN ctx USING (cur) JOIN cont USING (nxt), types
ORDER BY n DESC, cur, nxt
"""


def q_source_divergence(spark, sf_dir):
    """Token-distribution divergence of each source from the corpus:
    total-variation distance TV(p_s, q) = ½ Σ_t |p_s(t) − q(t)| — the
    training-mix diagnostic ('which slice looks least like the
    blend'). TV over the tokens PRESENT in the source plus the mass of
    absent tokens, (1 − Σ_present q), so no zero-filled source×vocab
    frame is ever materialized. Everything runs on the (source, token)
    count frame (≤ sources·vocab rows, corpus-independent); per-source
    and per-token totals are window sums on that frame, the grand
    total a 1-row broadcast. TV is chosen over KL deliberately:
    rational arithmetic only (+,-,*,/,abs are correctly-rounded IEEE
    everywhere, and the final sums route through exact decimals), so
    the result is bit-deterministic across engines — a log-based
    divergence would hang parity on libm rounding."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents", spread=True)
    st = (
        docs.select("source", F.explode(word_tokens(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("n_st"))
    )
    n_s = F.sum("n_st").over(W.partitionBy("source"))
    n_t = F.sum("n_st").over(W.partitionBy("token"))
    total = st.agg(F.sum("n_st").alias("n_total"))
    scored = (
        st.withColumn("n_s", n_s)
        .withColumn("n_t", n_t)
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_s",
            (F.col("n_st") / F.col("n_s")).alias("p"),
            (F.col("n_t") / F.col("n_total")).alias("q"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            _sum_dec12(F.abs(F.col("p") - F.col("q")), "sum_absdiff"),
            _sum_dec12(F.col("q"), "sum_q"),
        )
        .select(
            "source",
            "n_tokens",
            F.round(
                0.5 * (F.col("sum_absdiff") + (1.0 - F.col("sum_q"))), 6
            ).alias("tv_distance"),
        )
        .orderBy("source")
    )


def _sum_dec12(col, alias):
    """Order-independent sum of small doubles (|x| ≤ 2) via exact
    decimal(18,12) accumulation — same parity discipline as
    ``parity._dec_sum`` at probability scale."""
    return F.sum(col.cast("decimal(18,12)")).cast("double").alias(alias)


SOURCE_DIVERGENCE_SQL = r"""
WITH st AS (
  SELECT source,
         unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS token
  FROM documents
),
counts AS (SELECT source, token, COUNT(*) AS n_st FROM st GROUP BY source, token),
totals AS (
  SELECT source, token, n_st,
         SUM(n_st) OVER (PARTITION BY source) AS n_s,
         SUM(n_st) OVER (PARTITION BY token) AS n_t,
         SUM(n_st) OVER () AS n_total
  FROM counts
),
scored AS (
  SELECT source, n_s,
         n_st / CAST(n_s AS DOUBLE) AS p,
         n_t / CAST(n_total AS DOUBLE) AS q
  FROM totals
)
SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
       round(0.5 * (
         CAST(SUM(CAST(abs(p - q) AS DECIMAL(18,12))) AS DOUBLE)
         + (1.0 - CAST(SUM(CAST(q AS DECIMAL(18,12))) AS DOUBLE))
       ), 6) AS tv_distance
FROM scored
GROUP BY source
ORDER BY source
"""


_VOCAB_TOP_N = 20


def q_vocab_coverage(spark, sf_dir):
    """Zipf head of the vocabulary: the top-20 tokens by frequency
    with cumulative corpus coverage — the tokenizer-diagnostics curve
    ('how much of the corpus do the k most frequent tokens cover').
    The heavy lifting (token counts) is one shuffle; the global
    ordering runs on the vocabulary frame (≪ corpus) and the top-k is
    a TakeOrderedAndProject, not a full sort materialization; the
    cumulative window then touches only the k survivors, with the
    grand total joined as a 1-row broadcast."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents", spread=True)
    counts = (
        docs.select(F.explode(word_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    top = counts.orderBy(F.desc("n"), "token").limit(_VOCAB_TOP_N)
    w = W.orderBy(F.desc("n"), "token").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(W.orderBy(F.desc("n"), "token")).alias("rank"),
            "token",
            "n",
            F.round(F.sum("n").over(w) / F.col("total"), 6).alias("cum_share"),
        )
        .orderBy("rank")
    )


VOCAB_COVERAGE_SQL = f"""
WITH counts AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS token
  FROM documents
),
agg AS (SELECT token, COUNT(*) AS n FROM counts GROUP BY token),
total AS (SELECT SUM(n) AS total FROM agg),
top AS (SELECT token, n FROM agg ORDER BY n DESC, token LIMIT {_VOCAB_TOP_N})
SELECT ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank,
       token, n,
       round(SUM(n) OVER (ORDER BY n DESC, token
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / CAST(total AS DOUBLE), 6) AS cum_share
FROM top, total
ORDER BY rank
"""


# --------------------------------------------------------------------------
# doc_perplexity — bigram-LM quality scoring (the KenLM-filter shape).
#
# The canonical web-corpus quality gate: score every document's
# average negative log-likelihood under a language model trained on
# the corpus itself and flag the worst scorers (boilerplate, OCR
# garbage, non-language noise read as "surprising" text). Model =
# corpus bigram LM with Laplace +1 smoothing:
#   P(nxt|cur) = (c(cur,nxt)+1) / (c(cur)+V)
# Every probability is ln of an EXACT integer ratio → rounded to 8 dp
# in both engines immediately (the bm25 ln discipline); per-doc sums
# route through DECIMAL(18,8); one double division per doc at the end.
#
# Scale: the LM lives on the (cur,nxt) count frame (vocab²-bounded,
# corpus-independent); doc bigrams aggregate to (doc,cur,nxt) BEFORE
# the LM join, so the join is count-frame-sized; top-20 worst docs is
# TakeOrderedAndProject.
# --------------------------------------------------------------------------

_PPL_TOP = 20


def q_doc_perplexity(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", word_tokens(F.col("text")).alias("w"))
    doc_bg = (
        toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.slice(
                        F.col("w"), 1, F.greatest(F.size("w") - 1, F.lit(0))
                    ),
                    lambda x, i: F.struct(
                        x.alias("cur"),
                        F.element_at(F.col("w"), i + 2).alias("nxt"),
                    ),
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.cur", "bg.nxt")
        .groupBy("doc_id", "cur", "nxt")
        .agg(F.count("*").alias("m"))
    )
    lm = doc_bg.groupBy("cur", "nxt").agg(F.sum("m").alias("n"))
    curtot = lm.withColumn(
        "cn", F.sum("n").over(W.partitionBy("cur"))
    )
    vocab = toks.select(F.explode("w").alias("t")).agg(
        F.count_distinct("t").alias("v")
    )
    term = F.round(
        F.log(
            (F.col("n") + 1).cast("double")
            / (F.col("cn") + F.col("v")).cast("double")
        ),
        8,
    )
    scored = (
        doc_bg.join(curtot, ["cur", "nxt"])
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            "m",
            F.round(F.col("m") * term, 8).cast("decimal(18,8)").alias("s"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("m").alias("n_bigrams"),
        F.sum("s").alias("ll"),
    )
    nll = -F.col("ll").cast("double") / F.col("n_bigrams").cast("double")
    worst = (
        per_doc.select(
            "doc_id", "n_bigrams", F.round(nll, 6).alias("avg_nll")
        )
        .orderBy(F.desc("avg_nll"), F.asc("doc_id"))
        .limit(_PPL_TOP)
    )
    w = W.orderBy(F.desc("avg_nll"), F.asc("doc_id"))
    return worst.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "n_bigrams", "avg_nll"
    ).orderBy("rank")


DOC_PERPLEXITY_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+', 0) AS w
  FROM documents
),
doc_bg AS (
  SELECT doc_id, cur, nxt, COUNT(*) AS m
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(w) - 1),
                  i -> struct_pack(cur := w[i+1], nxt := w[i+2]))) AS bg
    FROM toks
  )
  CROSS JOIN LATERAL (SELECT bg.cur AS cur, bg.nxt AS nxt)
  GROUP BY doc_id, cur, nxt
),
lm AS (
  SELECT cur, nxt, CAST(SUM(m) AS BIGINT) AS n FROM doc_bg GROUP BY cur, nxt
),
curtot AS (
  SELECT cur, nxt, n, CAST(SUM(n) OVER (PARTITION BY cur) AS BIGINT) AS cn
  FROM lm
),
vocab AS (
  SELECT COUNT(DISTINCT t) AS v
  FROM (SELECT unnest(w) AS t FROM toks)
),
scored AS (
  SELECT doc_id, m,
         CAST({_sql_round(
             '''m * CAST({} AS DOUBLE)'''.format(_sql_round(
                 'ln(CAST(n + 1 AS DOUBLE) / CAST(cn + v AS DOUBLE))', 8
             )),
             8,
         )} AS DECIMAL(18,8)) AS s
  FROM doc_bg JOIN curtot USING (cur, nxt), vocab
),
per_doc AS (
  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams, SUM(s) AS ll
  FROM scored GROUP BY doc_id
)
SELECT ROW_NUMBER() OVER (ORDER BY avg_nll DESC, doc_id) AS rank,
       doc_id, n_bigrams, avg_nll
FROM (
  SELECT doc_id, n_bigrams,
         {_sql_round(
             '-CAST(ll AS DOUBLE) / CAST(n_bigrams AS DOUBLE)', 6
         )} AS avg_nll
  FROM per_doc
)
ORDER BY avg_nll DESC, doc_id
LIMIT {_PPL_TOP}
"""


# --------------------------------------------------------------------------
# char_entropy — per-source character-level Shannon entropy.
#
# The compressibility screen: natural language sits near ~4 bits/char;
# templated/repeated text reads LOW, binary-garbage/mixed-alphabet
# noise reads HIGH. H = ln(total) − (Σ_c cnt_c·ln cnt_c)/total — only
# ln OF INTEGERS appears, each rounded to 8 dp in both engines, with
# the weighted sum routed through DECIMAL; one division + one
# subtraction at the end.
#
# Scale: per-character explode partial-aggregates map-side, so the
# shuffle carries |alphabet|·|sources| rows, not characters; the
# entropy itself computes on the (source, char) count frame.
# --------------------------------------------------------------------------


def q_char_entropy(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    chars = docs.select(
        "source", F.explode(F.split(F.col("text"), "")).alias("c")
    ).where(F.col("c") != "")
    counts = chars.groupBy("source", "c").agg(F.count("*").alias("cnt"))
    per_src = counts.groupBy("source").agg(
        F.sum("cnt").alias("total"),
        F.count("*").alias("alphabet_size"),
        F.sum(
            F.round(
                F.col("cnt") * F.round(F.log(F.col("cnt").cast("double")), 8),
                8,
            ).cast("decimal(28,8)")
        ).alias("wsum"),
    )
    h_nats = (
        F.round(F.log(F.col("total").cast("double")), 8)
        - F.col("wsum").cast("double") / F.col("total").cast("double")
    )
    return per_src.select(
        "source",
        "total",
        "alphabet_size",
        F.round(h_nats, 6).alias("entropy_nats"),
    ).orderBy("source")


CHAR_ENTROPY_SQL = rf"""
WITH chars AS (
  SELECT source, unnest(regexp_extract_all(text, '[\s\S]')) AS c
  FROM documents
),
counts AS (
  SELECT source, c, COUNT(*) AS cnt FROM chars GROUP BY source, c
),
per_src AS (
  SELECT source,
         CAST(SUM(cnt) AS BIGINT) AS total,
         COUNT(*) AS alphabet_size,
         SUM(CAST({_sql_round(
             'cnt * CAST({} AS DOUBLE)'.format(_sql_round(
                 'ln(CAST(cnt AS DOUBLE))', 8
             )),
             8,
         )} AS DECIMAL(28,8))) AS wsum
  FROM counts GROUP BY source
)
SELECT source, total, alphabet_size,
       {_sql_round(
           '''CAST({} AS DOUBLE)
              - CAST(wsum AS DOUBLE) / CAST(total AS DOUBLE)'''.format(
               _sql_round('ln(CAST(total AS DOUBLE))', 8)
           ),
           6,
       )} AS entropy_nats
FROM per_src
ORDER BY source
"""


# --------------------------------------------------------------------------
# feature_hash_buckets — hashing-trick featurization audit
# (operators/featurehash.py). Maps the unbounded token vocabulary onto
# 64 fixed buckets with a stateless 48-bit md5 hash (Weinberger et
# al., ICML'09) and reports per-bucket occupancy + collision width +
# dominant token — the audit a pipeline owner reads before sizing the
# feature space. Bucketing is a pure per-row expression (no fit step,
# no vocabulary broadcast); the only exchanges are vocabulary-bounded.
# The oracle replays the 48-bit hash with the house
# CAST('0x'||substr(md5(t),1,12)) mirror, so bucket assignment is
# certified bit-for-bit.
# --------------------------------------------------------------------------

_FEATHASH_BUCKETS = 64


def q_feature_hash_buckets(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import word_tokens
    from city_payroll_data_pipeline_spark.operators.featurehash import (
        feature_hash_audit,
    )

    docs = table(spark, sf_dir, "documents", spread=True)
    return feature_hash_audit(
        docs, "doc_id", word_tokens(F.col("text")), n_buckets=_FEATHASH_BUCKETS
    )


FEATURE_HASH_BUCKETS_SQL = rf"""
WITH toksrc AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[A-Za-z]+', 0)) AS t
  FROM documents
),
b AS (
  SELECT doc_id, t,
         CAST('0x' || substr(md5(t), 1, 12) AS BIGINT)
           % {_FEATHASH_BUCKETS} AS bucket
  FROM toksrc
),
per_tok AS (SELECT bucket, t, count(*) AS cnt FROM b GROUP BY bucket, t),
per_bucket AS (
  SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS n_total,
         COUNT(*) AS n_distinct_tokens
  FROM per_tok GROUP BY bucket
),
top AS (
  SELECT bucket, t AS top_token, cnt AS top_cnt
  FROM (SELECT bucket, t, cnt,
               ROW_NUMBER() OVER (PARTITION BY bucket
                                  ORDER BY cnt DESC, t ASC) AS rn
        FROM per_tok)
  WHERE rn = 1
),
docs_per AS (
  SELECT bucket, COUNT(DISTINCT doc_id) AS n_docs FROM b GROUP BY bucket
)
SELECT pb.bucket, pb.n_total, dp.n_docs, pb.n_distinct_tokens, tp.top_token,
       {_sql_round('top_cnt / CAST(n_total AS DOUBLE)', 6)} AS top_share
FROM per_bucket pb
JOIN top tp USING (bucket)
JOIN docs_per dp USING (bucket)
ORDER BY pb.bucket
"""


# --------------------------------------------------------------------------
# span_corruption_plan — T5-style denoising batch planning (Raffel'20
# §3.1.4: noise_density 0.15, mean span length 3). Before launching a
# pretraining run over 100 TB you budget encoder/decoder token counts:
# per doc with t tokens, n_noise = round(0.15·t), n_spans =
# round(n_noise/3), encoder input = t − n_noise + n_spans + 1 (each
# span collapses to one sentinel, +EOS), decoder target = n_noise +
# n_spans + 1. The per-source report drives context-window packing
# (ceil(input/512) bins) and the expansion-factor line item in the
# compute budget.
#
# Determinism: ALL arithmetic is integer — half-up rounds are exact
# div identities (round(0.15t) = (3t+10) div 20, round(n/3) =
# (2n+3) div 6), both operands positive so Spark's truncating `div`
# and DuckDB's flooring `//` agree; the only doubles are two display
# ratios of exact BIGINTs.
#
# Scale: one map-side projection + one groupBy(source) partial agg —
# the shuffle carries |sources| rows.
# --------------------------------------------------------------------------

_SC_CTX = 512


def q_span_corruption_plan(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    base = docs.select(
        "source", token_count(F.col("text")).cast("long").alias("t")
    ).where(F.col("t") >= 2)
    planned = (
        base.withColumn(
            "n_noise", F.greatest(F.lit(1), F.expr("(3 * t + 10) div 20"))
        )
        .withColumn(
            "n_spans",
            F.greatest(F.lit(1), F.expr("(2 * n_noise + 3) div 6")),
        )
        .withColumn(
            "input_len", F.col("t") - F.col("n_noise") + F.col("n_spans") + 1
        )
        .withColumn(
            "target_len", F.col("n_noise") + F.col("n_spans") + 1
        )
        .withColumn(
            "bins", F.expr(f"(input_len + {_SC_CTX - 1}) div {_SC_CTX}")
        )
    )
    agg = planned.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("t").alias("corpus_tokens"),
        F.sum("input_len").alias("encoder_tokens"),
        F.sum("target_len").alias("decoder_tokens"),
        F.sum("bins").alias("pack_bins_512"),
    )
    return agg.select(
        "source",
        "n_docs",
        "corpus_tokens",
        "encoder_tokens",
        "decoder_tokens",
        "pack_bins_512",
        F.round(
            F.col("encoder_tokens").cast("double")
            / (F.col("pack_bins_512").cast("double") * _SC_CTX),
            8,
        ).alias("pack_efficiency"),
        F.round(
            (
                F.col("encoder_tokens") + F.col("decoder_tokens")
            ).cast("double")
            / F.col("corpus_tokens").cast("double"),
            8,
        ).alias("expansion_factor"),
    ).orderBy("source")


SPAN_CORRUPTION_PLAN_SQL = rf"""
WITH base AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '\S+', 0)) AS BIGINT) AS t
  FROM documents
),
planned AS (
  SELECT source, t,
         GREATEST(1, (3 * t + 10) // 20) AS n_noise
  FROM base WHERE t >= 2
),
planned2 AS (
  SELECT source, t, n_noise,
         GREATEST(1, (2 * n_noise + 3) // 6) AS n_spans
  FROM planned
),
planned3 AS (
  SELECT source, t, n_noise, n_spans,
         t - n_noise + n_spans + 1 AS input_len,
         n_noise + n_spans + 1 AS target_len
  FROM planned2
),
agg AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(t) AS BIGINT) AS corpus_tokens,
         CAST(SUM(input_len) AS BIGINT) AS encoder_tokens,
         CAST(SUM(target_len) AS BIGINT) AS decoder_tokens,
         CAST(SUM((input_len + {_SC_CTX - 1}) // {_SC_CTX}) AS BIGINT)
           AS pack_bins_512
  FROM planned3 GROUP BY source
)
SELECT source, n_docs, corpus_tokens, encoder_tokens, decoder_tokens,
       pack_bins_512,
       {_sql_round(
           'CAST(encoder_tokens AS DOUBLE) '
           f'/ (CAST(pack_bins_512 AS DOUBLE) * {_SC_CTX})',
           8,
       )} AS pack_efficiency,
       {_sql_round(
           'CAST(encoder_tokens + decoder_tokens AS DOUBLE) '
           '/ CAST(corpus_tokens AS DOUBLE)',
           8,
       )} AS expansion_factor
FROM agg
ORDER BY source
"""


# --------------------------------------------------------------------------
# multiscale_repeated_spans — VERDICT r7 item 5: exact-substring dedup
# signal past the fixed 16-token span of `repeated_spans`. Production
# exact-substring dedup (suffix-array style, Lee et al. 2022) removes
# verbatim repeats of ANY length; the oracle-checkable approximation
# is a multi-scale sweep: tumbling {8,16,32,64}-token windows, a
# window is "duplicated" when its text occurs in ≥2 distinct docs,
# and the per-(source, scale) duplicated-token mass is the fraction
# of window tokens inside duplicated windows. Reading the column down
# the scales tells the pipeline owner WHERE the boilerplate lives:
# high dup mass at 8 that vanishes by 64 is idiom/short template;
# mass that survives at 64 is wholesale copying.
#
# Scale shape (the gopher_repetition_funnel one-explode trick): ONE
# explode yields all four scales tagged (n, md5(window)) — Σ_n ⌊T/n⌋
# ≈ 0.24·T rows per doc, CHEAPER than the corpus token count; the
# shuffle carries 32-hex hashes, never window text; the doc-frequency
# aggregate and the occurrence join run on the same (n, h) key
# (exchange reuse), and the final frame is |sources|×4 rows. Tumbling
# (stride = scale) rather than sliding windows keeps the token-mass
# denominator exact (each token counted once per scale) and cuts the
# explode 8-64× vs stride-1.
# --------------------------------------------------------------------------

_MSPAN_NS = (8, 16, 32, 64)


def q_multiscale_repeated_spans(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id",
        "source",
        F.expr(r"regexp_extract_all(trim(text), '\\S+', 0)").alias("t"),
    ).filter(F.size("t") >= min(_MSPAN_NS))
    # per scale: tumbling windows i·n+1 .. i·n+n, i ∈ 0..⌊T/n⌋−1; the
    # CASE guards sequence()'s descending-on-empty footgun when T < n
    arrs = [
        F.expr(
            f"CASE WHEN size(t) >= {n} THEN "
            f"transform(sequence(0, size(t) div {n} - 1), i -> "
            f"named_struct('n', {n}, "
            f"'h', md5(array_join(slice(t, i * {n} + 1, {n}), ' ')))) "
            f"ELSE array() END"
        )
        for n in _MSPAN_NS
    ]
    spans = (
        toks.select(
            "doc_id", "source", F.explode(F.flatten(F.array(*arrs))).alias("w")
        )
        .select("doc_id", "source", "w.n", "w.h")
        .persist()
    )
    dup = (
        spans.groupBy("n", "h")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("n", "h", F.lit(1).alias("is_dup"))
    )
    return (
        spans.join(dup, ["n", "h"], "left")
        .groupBy("source", "n")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("dup_windows"),
        )
        .select(
            F.col("n").alias("scale"),
            "source",
            "n_windows",
            "dup_windows",
            F.round(
                F.col("dup_windows").cast("double")
                / F.col("n_windows").cast("double"),
                6,
            ).alias("dup_token_frac"),
        )
        .orderBy("scale", "source")
    )


MULTISCALE_REPEATED_SPANS_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, regexp_extract_all(trim(text), '\S+', 0) AS t
  FROM documents
),
spans AS (
  SELECT doc_id, source, n,
         md5(array_to_string(list_slice(t, i * n + 1, i * n + n), ' ')) AS h
  FROM toks,
       unnest([{", ".join(str(n) for n in _MSPAN_NS)}]) AS s(n),
       unnest(range(0, len(t) // n)) AS g(i)
),
dup AS (
  SELECT n, h FROM spans GROUP BY n, h HAVING COUNT(DISTINCT doc_id) >= 2
),
occ AS (
  SELECT s.source, s.n,
         CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END AS is_dup
  FROM spans s LEFT JOIN dup d ON s.n = d.n AND s.h = d.h
)
SELECT CAST(n AS INTEGER) AS scale, source,
       COUNT(*) AS n_windows,
       CAST(SUM(is_dup) AS BIGINT) AS dup_windows,
       {_sql_round('CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)', 6)}
         AS dup_token_frac
FROM occ
GROUP BY n, source
ORDER BY scale, source
"""


# --------------------------------------------------------------------------
# dsir_importance_weights — DSIR domain selection (Xie et al., NeurIPS
# 2023, "Data Selection for Language Models via Importance
# Resampling"): score every raw document by how much it resembles a
# target domain, in hashed-n-gram space. Features are word unigrams +
# bigrams hashed into _DSIR_B buckets (the house 48-bit md5 trick —
# operators/featurehash.hash_bucket, bit-replayable in DuckDB);
# bucket distributions are estimated with add-one smoothing from the
# target slice (lang = 'en') and the complement; a document's log
# importance weight is Σ_features [ln p_target(b) − ln p_raw(b)].
# Per-source report: mean log-weight and how many docs DSIR would
# select (logw > 0) — the sampling step of the paper replaced by its
# deterministic acceptance signal so the oracle stays exact.
#
# Determinism: both ln terms are rounded to 6 dp and ridden as
# DECIMAL(18,6), so every per-doc sum and the logw > 0 gate are exact
# in both engines.
#
# Scale: the bucket stats are ONE shuffle on a 48-bit-hash key bounded
# by _DSIR_B; the per-doc scoring joins the feature stream against the
# BROADCAST _DSIR_B-row delta table and reduces on doc_id — no
# vocabulary state, no driver round trips; 100 TB cost is one pass +
# two bounded aggregations (the same shape DSIR runs at production
# scale, where the hashed feature space is what makes it tractable).
# --------------------------------------------------------------------------

_DSIR_B = 256
_DSIR_TARGET_LANG = "en"


def q_dsir_importance_weights(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import (
        shingles as _sh,
        word_tokens,
    )
    from city_payroll_data_pipeline_spark.operators.featurehash import (
        hash_bucket,
    )

    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id",
        "source",
        (F.col("lang") == _DSIR_TARGET_LANG).cast("int").alias("is_t"),
        word_tokens(F.col("text")).alias("t"),
    )
    feats = (
        toks.select(
            "doc_id",
            "source",
            "is_t",
            F.explode(F.concat(F.col("t"), _sh(F.col("t"), 2))).alias("g"),
        )
        .select(
            "doc_id",
            "source",
            "is_t",
            hash_bucket(F.col("g"), _DSIR_B).alias("b"),
        )
        .persist()
    )
    stats = feats.groupBy("b").agg(
        F.sum("is_t").alias("ct"),
        F.sum(1 - F.col("is_t")).alias("cr"),
    )
    tots = stats.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    lp_t = F.round(
        F.log(
            (F.col("ct") + 1).cast("double") / (F.col("tt") + _DSIR_B)
        ),
        6,
    ).cast("decimal(18,6)")
    lp_r = F.round(
        F.log(
            (F.col("cr") + 1).cast("double") / (F.col("tr") + _DSIR_B)
        ),
        6,
    ).cast("decimal(18,6)")
    delta = stats.crossJoin(F.broadcast(tots)).select(
        "b", (lp_t - lp_r).alias("dlt")
    )
    per_doc = (
        feats.join(F.broadcast(delta), "b")
        .groupBy("doc_id", "source")
        .agg(F.sum("dlt").alias("logw"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum("logw").cast("double") / F.count("*"), 6
            ).alias("avg_logweight"),
            F.sum((F.col("logw") > 0).cast("int")).alias("n_selected"),
        )
        .orderBy("source")
    )


def _dsir_sql() -> str:
    b = _DSIR_B
    lp_t = _sql_round(f"ln(CAST(ct + 1 AS DOUBLE) / (tt + {b}))", 6)
    lp_r = _sql_round(f"ln(CAST(cr + 1 AS DOUBLE) / (tr + {b}))", 6)
    return f"""WITH toksrc AS (
  SELECT doc_id, source,
         CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END AS is_t,
         regexp_extract_all(lower(text), '[A-Za-z]+', 0) AS t
  FROM documents
),
grams AS (
  SELECT doc_id, source, is_t, unnest(t) AS g FROM toksrc
  UNION ALL
  SELECT doc_id, source, is_t, t[i + 1] || ' ' || t[i + 2] AS g
  FROM toksrc, unnest(range(0, greatest(len(t) - 1, 0))) AS r(i)
),
feats AS (
  SELECT doc_id, source, is_t,
         CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) % {b} AS b
  FROM grams
),
stats AS (
  SELECT b, SUM(is_t) AS ct, SUM(1 - is_t) AS cr FROM feats GROUP BY b
),
tots AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM stats),
delta AS (
  SELECT b, CAST({lp_t} AS DECIMAL(18,6)) - CAST({lp_r} AS DECIMAL(18,6))
           AS dlt
  FROM stats CROSS JOIN tots
),
per_doc AS (
  SELECT doc_id, source, SUM(dlt) AS logw
  FROM feats JOIN delta USING (b) GROUP BY doc_id, source
)
SELECT source, COUNT(*) AS n_docs,
       {_sql_round('CAST(SUM(logw) AS DOUBLE) / COUNT(*)', 6)}
         AS avg_logweight,
       CAST(SUM(CASE WHEN logw > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_selected
FROM per_doc
GROUP BY source
ORDER BY source"""


DSIR_IMPORTANCE_WEIGHTS_SQL = _dsir_sql()


# --------------------------------------------------------------------------
# crossdoc_line_dedup — C4's OTHER line rule: beyond the per-line
# token filter (c4_line_filter), C4 removed every line that occurred
# ≥ 3 times in the whole corpus (Raffel et al. 2020 §2.2 — the rule
# that strips "home | login | cookie policy" navigation boilerplate).
# The synthetic testdata has no line structure, so — same trick as
# c4_line_filter — deterministic boilerplate lines are injected first
# (doc_id % 3 gets a nav line, doc_id % 5 a newsletter line, % 15
# both), making corpus line frequencies non-trivial and verifiable.
# Report per source: line counts, duplicated-line occurrences, docs
# affected, and the char mass the rule removes.
#
# Scale: the corpus-frequency aggregate and the flag join both key on
# md5(line) — line text never crosses an exchange twice (hash + length
# ride the shuffle); per-doc and per-source reductions are plain
# partial-agg groupBys. The frequency table is NOT broadcast (line
# cardinality ~ corpus size); the join shuffles on the same hash key
# the aggregate just produced — exchange reuse, one effective extra
# pass, the exact shape dup_ngram_coverage ships.
# --------------------------------------------------------------------------

_CLD_FREQ_MIN = 3


def _cld_text2():
    """Deterministic boilerplate injection shared by the line-dedup
    pair (crossdoc_line_dedup report + corpus_line_scrub re-emit)."""
    inj1 = F.when(
        F.col("doc_id") % 3 == 0, F.lit(".home login cookie policy.")
    ).otherwise(F.lit(""))
    inj2 = F.when(
        F.col("doc_id") % 5 == 0, F.lit(".subscribe to our newsletter.")
    ).otherwise(F.lit(""))
    return F.concat(
        F.expr("substr(text, 1, 80)"),
        inj1,
        F.expr("substr(text, 81, 80)"),
        inj2,
        F.expr("substr(text, 161)"),
    )


#: SQL twin of _cld_text2 (one definition per engine, two consumers)
_CLD_DOCS2_SQL = """
  SELECT doc_id, source,
         substr(text, 1, 80)
         || CASE WHEN doc_id % 3 = 0
                 THEN '.home login cookie policy.' ELSE '' END
         || substr(text, 81, 80)
         || CASE WHEN doc_id % 5 = 0
                 THEN '.subscribe to our newsletter.' ELSE '' END
         || substr(text, 161) AS text2
  FROM documents
"""


def q_crossdoc_line_dedup(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    text2 = _cld_text2()
    lines = (
        docs.select(
            "doc_id", "source", F.explode(F.split(text2, r"\.")).alias("l")
        )
        .select("doc_id", "source", F.trim("l").alias("line"))
        .filter(F.col("line") != "")
        .select(
            "doc_id",
            "source",
            F.md5("line").alias("h"),
            F.length("line").alias("nc"),
        )
        .persist()
    )
    freq = lines.groupBy("h").agg(F.count("*").alias("cnt"))
    flagged = lines.join(freq, "h").select(
        "doc_id",
        "source",
        "nc",
        (F.col("cnt") >= _CLD_FREQ_MIN).cast("int").alias("is_dup"),
    )
    per_doc = flagged.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_lines"),
        F.sum("is_dup").alias("n_dup"),
        F.sum("nc").alias("chars"),
        F.sum(F.col("is_dup") * F.col("nc")).alias("dup_chars"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_lines").alias("n_lines"),
            F.sum("n_dup").alias("dup_lines"),
            F.sum((F.col("n_dup") > 0).cast("int")).alias("affected_docs"),
            F.round(
                F.sum("dup_chars").cast("double")
                / F.sum("chars").cast("double"),
                6,
            ).alias("removed_char_frac"),
        )
        .orderBy("source")
    )


CROSSDOC_LINE_DEDUP_SQL = f"""
WITH docs2 AS ({_CLD_DOCS2_SQL}),
lines AS (
  SELECT doc_id, source, md5(line) AS h, length(line) AS nc
  FROM (
    SELECT doc_id, source, trim(l) AS line
    FROM (
      SELECT doc_id, source, unnest(string_split(text2, '.')) AS l
      FROM docs2
    )
  )
  WHERE line <> ''
),
freq AS (SELECT h, COUNT(*) AS cnt FROM lines GROUP BY h),
flagged AS (
  SELECT doc_id, source, nc,
         CASE WHEN cnt >= {_CLD_FREQ_MIN} THEN 1 ELSE 0 END AS is_dup
  FROM lines JOIN freq USING (h)
),
per_doc AS (
  SELECT doc_id, source,
         COUNT(*) AS n_lines,
         SUM(is_dup) AS n_dup,
         SUM(nc) AS chars,
         SUM(is_dup * nc) AS dup_chars
  FROM flagged GROUP BY doc_id, source
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       CAST(SUM(n_dup) AS BIGINT) AS dup_lines,
       CAST(SUM(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS affected_docs,
       {_sql_round(
           'CAST(SUM(dup_chars) AS DOUBLE) / CAST(SUM(chars) AS DOUBLE)', 6
       )} AS removed_char_frac
FROM per_doc
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# corpus_line_scrub — the RE-EMIT half of the C4 line rule (VERDICT
# r8 item 6): crossdoc_line_dedup measures the removed-char mass but
# never materializes the scrubbed text; production C4 removes the
# flagged lines and re-emits documents. Same injected corpus, same
# ≥ 3 corpus-frequency rule, but the output is per-document: how many
# lines survived, the new char mass, and a fingerprint of the
# scrubbed text (kept lines re-joined in original order) — the frame
# a downstream tokenizer run would actually consume. Docs whose every
# line is boilerplate drop out entirely (C4 drops empty docs).
#
# Scale: identical cost envelope to crossdoc_line_dedup plus nothing —
# the corpus-frequency aggregate still rides only md5(line); the line
# TEXT crosses exactly one exchange (the flag join), which any
# re-emitting scrub must pay since the output IS the text; the rebuild
# is one per-doc groupBy (sort_array over that doc's own kept lines,
# bounded by document size).
# --------------------------------------------------------------------------


def q_corpus_line_scrub(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    lines = (
        docs.select(
            "doc_id",
            "source",
            F.posexplode(F.split(_cld_text2(), r"\.")).alias("pos", "l"),
        )
        .select("doc_id", "source", "pos", F.trim("l").alias("line"))
        .filter(F.col("line") != "")
    )
    freq = lines.groupBy(F.md5("line").alias("h")).agg(
        F.count("*").alias("cnt")
    )
    kept = lines.join(freq, F.md5(F.col("line")) == F.col("h")).filter(
        F.col("cnt") < _CLD_FREQ_MIN
    )
    return (
        kept.groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("kept_lines"),
            F.sum(F.length("line")).alias("new_n_chars"),
            F.md5(
                F.concat_ws(
                    ".",
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct("pos", "line"))
                        ),
                        lambda s: s["line"],
                    ),
                )
            ).alias("scrubbed_hash"),
        )
        .orderBy("doc_id")
    )


CORPUS_LINE_SCRUB_SQL = f"""
WITH docs2 AS ({_CLD_DOCS2_SQL}),
lines AS (
  SELECT doc_id, source, pos, line FROM (
    SELECT doc_id, source, i AS pos, trim(parts[i + 1]) AS line
    FROM (SELECT doc_id, source, string_split(text2, '.') AS parts
          FROM docs2)
    CROSS JOIN unnest(range(0, greatest(len(parts), 0))) AS r(i))
  WHERE line <> ''
),
freq AS (SELECT md5(line) AS h, COUNT(*) AS cnt FROM lines GROUP BY 1),
kept AS (
  SELECT l.doc_id, l.source, l.pos, l.line
  FROM lines l JOIN freq f ON md5(l.line) = f.h
  WHERE f.cnt < {_CLD_FREQ_MIN}
)
SELECT doc_id, source,
       COUNT(*) AS kept_lines,
       CAST(SUM(length(line)) AS BIGINT) AS new_n_chars,
       md5(string_agg(line, '.' ORDER BY pos)) AS scrubbed_hash
FROM kept
GROUP BY doc_id, source
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# filter_agreement_kappa — inter-filter agreement audit. A pipeline
# running several quality filters (length gate, lexical-diversity
# gate, repetition gate) needs to know whether they measure the SAME
# thing (high kappa → redundant, drop the expensive one) or different
# things (low kappa → keep both); raw percent-agreement is misleading
# under skewed keep rates, which is exactly what Cohen's κ (1960) and
# Fleiss' κ (1971) correct for. Three deterministic per-doc "raters"
# (median-split thresholds so each keeps ≈ half the corpus):
#   len: n_words ≥ 56        ttr: 50·n_distinct ≥ 23·n_words
#   rep: 1000·top_cnt ≤ 93·n_words
# Per source: keep counts, the three pairwise Cohen κs, and the
# 3-rater Fleiss κ — every κ cleared to exact-integer numerator and
# denominator with ONE double division (guarded NULL when chance
# agreement is total, κ undefined).
#
# Scale: one (doc, word) aggregate (the same exchange the TTR needs
# anyway), one per-doc reduce, one per-source reduce. No joins, no
# windows; κ arithmetic is per-group scalar math.
# --------------------------------------------------------------------------


def _per_doc_word_stats(docs):
    """(doc_id, source, n_words, n_distinct, top_cnt) computed entirely
    map-side: the previous shape exploded to (doc_id, source, word) and
    paid two corpus-sized shuffles just to count a document's OWN
    tokens — the groupBy key contained doc_id, so nothing ever crossed
    documents and no exchange was needed (guide §2.4). n_words =
    |tokens|, n_distinct = |distinct tokens|, top_cnt = longest
    equal-run of the sorted token array via one codegen'd fold — exact
    integers, identical to max(per-word count). Empty docs are dropped
    exactly as the explode dropped them (they produced no rows)."""
    from city_payroll_data_pipeline_spark.functions.text import word_tokens

    toks = word_tokens(F.col("text"))
    one = F.lit(1).cast("long")
    run_st = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(one)
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(one),
            ).alias("best"),
        ),
    )
    return docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        run_st["best"].alias("top_cnt"),
    ).filter(F.col("n_words") > 0)


def q_filter_agreement_kappa(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    per_doc = _per_doc_word_stats(docs)
    flags = per_doc.select(
        "source",
        (F.col("n_words") >= 56).cast("int").alias("r1"),
        (50 * F.col("n_distinct") >= 23 * F.col("n_words"))
        .cast("int")
        .alias("r2"),
        (1000 * F.col("top_cnt") <= 93 * F.col("n_words"))
        .cast("int")
        .alias("r3"),
    )
    k = F.col("r1") + F.col("r2") + F.col("r3")
    agg = flags.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("r1").alias("a"),
        F.sum("r2").alias("b"),
        F.sum("r3").alias("c"),
        F.sum((F.col("r1") == F.col("r2")).cast("int")).alias("g_ab"),
        F.sum((F.col("r1") == F.col("r3")).cast("int")).alias("g_ac"),
        F.sum((F.col("r2") == F.col("r3")).cast("int")).alias("g_bc"),
        F.sum(k * (k - 1) + (3 - k) * (2 - k)).alias("s"),
    )

    def cohen(x, y, g):
        n = F.col("n")
        pe = F.col(x) * F.col(y) + (n - F.col(x)) * (n - F.col(y))
        return F.when(
            n * n != pe,
            F.round(
                (n * F.col(g) - pe).cast("double") / (n * n - pe).cast("double"),
                6,
            ),
        )

    n = F.col("n")
    t1 = F.col("a") + F.col("b") + F.col("c")
    t0 = 3 * n - t1
    fle_num = 3 * n * F.col("s") - 2 * (t1 * t1 + t0 * t0)
    fle_den = 18 * n * n - 2 * (t1 * t1 + t0 * t0)
    return agg.select(
        "source",
        F.col("n").alias("n_docs"),
        F.col("a").alias("keep_len"),
        F.col("b").alias("keep_ttr"),
        F.col("c").alias("keep_rep"),
        cohen("a", "b", "g_ab").alias("kappa_len_ttr"),
        cohen("a", "c", "g_ac").alias("kappa_len_rep"),
        cohen("b", "c", "g_bc").alias("kappa_ttr_rep"),
        F.when(
            fle_den != 0,
            F.round(fle_num.cast("double") / fle_den.cast("double"), 6),
        ).alias("fleiss_kappa"),
    ).orderBy("source")


def _kappa_sql() -> str:
    def cohen(x, y, g):
        pe = f"({x} * {y} + (n - {x}) * (n - {y}))"
        return (
            f"CASE WHEN n * n <> {pe} THEN "
            + _sql_round(
                f"CAST(n * {g} - {pe} AS DOUBLE)"
                f" / CAST(n * n - {pe} AS DOUBLE)",
                6,
            )
            + " END"
        )

    fle_num = "3 * n * s - 2 * (t1 * t1 + t0 * t0)"
    fle_den = "18 * n * n - 2 * (t1 * t1 + t0 * t0)"
    return f"""
WITH per_word AS (
  SELECT doc_id, source, w, COUNT(*) AS c FROM (
    SELECT doc_id, source,
           unnest(regexp_extract_all(lower(text), '[A-Za-z]+', 0)) AS w
    FROM documents
  ) GROUP BY doc_id, source, w
),
per_doc AS (
  SELECT doc_id, source, SUM(c) AS n_words, COUNT(*) AS n_distinct,
         MAX(c) AS top_cnt
  FROM per_word GROUP BY doc_id, source
),
flags AS (
  SELECT source,
         CASE WHEN n_words >= 56 THEN 1 ELSE 0 END AS r1,
         CASE WHEN 50 * n_distinct >= 23 * n_words THEN 1 ELSE 0 END AS r2,
         CASE WHEN 1000 * top_cnt <= 93 * n_words THEN 1 ELSE 0 END AS r3
  FROM per_doc
),
agg AS (
  SELECT source, COUNT(*) AS n,
         SUM(r1) AS a, SUM(r2) AS b, SUM(r3) AS c,
         SUM(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS g_ab,
         SUM(CASE WHEN r1 = r3 THEN 1 ELSE 0 END) AS g_ac,
         SUM(CASE WHEN r2 = r3 THEN 1 ELSE 0 END) AS g_bc,
         SUM((r1 + r2 + r3) * (r1 + r2 + r3 - 1)
             + (3 - r1 - r2 - r3) * (2 - r1 - r2 - r3)) AS s
  FROM flags GROUP BY source
),
wide AS (
  SELECT source, n, a, b, c, g_ab, g_ac, g_bc, s,
         a + b + c AS t1, 3 * n - a - b - c AS t0
  FROM agg
)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       CAST(a AS BIGINT) AS keep_len,
       CAST(b AS BIGINT) AS keep_ttr,
       CAST(c AS BIGINT) AS keep_rep,
       {cohen('a', 'b', 'g_ab')} AS kappa_len_ttr,
       {cohen('a', 'c', 'g_ac')} AS kappa_len_rep,
       {cohen('b', 'c', 'g_bc')} AS kappa_ttr_rep,
       CASE WHEN {fle_den} <> 0 THEN
         {_sql_round(f'CAST({fle_num} AS DOUBLE) / CAST({fle_den} AS DOUBLE)', 6)}
       END AS fleiss_kappa
FROM wide
ORDER BY source
"""


FILTER_AGREEMENT_KAPPA_SQL = _kappa_sql()


# --------------------------------------------------------------------------
# quality_probe_train — the TRAINED quality gate the heuristic funnel
# was missing: C4/Gopher-class pipelines deploy hand rules first, then
# a trained classifier as the final keep/drop decision. This trains a
# ridge-regression linear probe (closed form, normal equations) on the
# integer quality features the `filter_agreement_kappa` raters already
# compute — x = (1, capped length, TTR·100, capped repetition·1000) —
# with labels y = the deterministic composite rule (majority of the
# three raters), on the doc_id % 3 == 0 training split; then scores
# the WHOLE corpus with the learned weights and reports, per source,
# kept mass under the probe vs the rule plus their Cohen κ agreement.
#
# Exactness: everything is integer. XᵀX and Xᵀy are exact integer
# sums; A = XᵀX + λ·diag(0,1,1,1) with λ = n_train (ridge never
# penalizes the intercept; any n ≥ 1 makes A positive definite, so
# det(A) > 0 — proof: vᵀAv = Σ(x·v)² + λ(v₁²+v₂²+v₃²) = 0 forces
# v₁=v₂=v₃=0 and then n·v₀² = 0). Cramer's rule turns the solve into
# five 4×4 determinants — 24-term signed permanents generated from ONE
# permutation list shared by the Spark plan and the DuckDB oracle, so
# both engines evaluate the same polynomial term for term. The keep
# decision ŷ ≥ ½ clears the denominator: 2·Σ detⱼ·xⱼ ≥ det, an exact
# integer comparison (det > 0 by PD). No floats anywhere until the κ.
#
# Scale: one (doc, word) aggregate (the exchange the TTR needs
# anyway), one per-doc reduce; the training sums are ONE partial
# aggregation to a single row of d(d+1)/2 + d + 1 = 15 scalars; the
# solve stays IN-PLAN as column arithmetic on that 1-row frame (zero
# driver round trips) and rides back over a broadcast cross join.
# Magnitude bound: DECIMAL / HUGEINT hold |det| ≤ 24·(F²·n)⁴ with
# F = 100, so the integer-exact path is safe to n_train ≈ 3·10⁴; at
# 100 TB keep the split rate such that the training sample stays
# bounded (the PQ bounded-training precedent) — probe weights are
# corpus statistics that converge long before that.
# --------------------------------------------------------------------------

_PROBE_TRAIN_MOD = 3  # train on doc_id % 3 == 0; score the whole corpus

#: all 24 permutations of 0..3 with parity — the one source of truth
#: for BOTH engines' determinant expansions
_PROBE_PERMS4: list[tuple[int, tuple[int, ...]]] = []
for _p in __import__("itertools").permutations(range(4)):
    _sgn = 1
    for _i in range(4):
        for _j in range(_i + 1, 4):
            if _p[_i] > _p[_j]:
                _sgn = -_sgn
    _PROBE_PERMS4.append((_sgn, _p))


def _probe_cell(i: int, j: int, repl: int | None) -> str:
    """Column name for cell (i, j) of the Cramer matrix: the symmetric
    ridge matrix A, with column `repl` (if any) replaced by b."""
    if repl is not None and j == repl:
        return f"b{i}"
    lo, hi = (i, j) if i <= j else (j, i)
    return f"a{lo}{hi}"


def _probe_det_col(repl: int | None):
    """det as a Spark Column over the 1-row a../b.. frame."""
    total = None
    for sgn, p in _PROBE_PERMS4:
        term = F.lit(sgn).cast("decimal(38,0)")
        for i in range(4):
            term = term * F.col(_probe_cell(i, p[i], repl))
        total = term if total is None else total + term
    return total


def _probe_det_sql(repl: int | None) -> str:
    """The SAME expansion as DuckDB SQL text (HUGEINT arithmetic)."""
    terms = []
    for sgn, p in _PROBE_PERMS4:
        cells = " * ".join(_probe_cell(i, p[i], repl) for i in range(4))
        terms.append(f"({sgn} * {cells})")
    return "(" + " + ".join(terms) + ")"


def q_quality_probe_train(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    per_doc = _per_doc_word_stats(docs)  # map-side, zero-exchange
    # integer features on a 0..100 grid (the magnitude bound above) +
    # the composite label; eagerly materialized so the train branch
    # and the scoring branch share one explode pass
    feats = per_doc.select(
        "doc_id",
        "source",
        F.least(F.col("n_words"), F.lit(100).cast("long")).alias("f1"),
        F.expr("100 * n_distinct div n_words").alias("f2"),
        F.least(
            F.expr("1000 * top_cnt div n_words"), F.lit(100).cast("long")
        ).alias("f3"),
        (
            (F.col("n_words") >= 56).cast("int")
            + (50 * F.col("n_distinct") >= 23 * F.col("n_words")).cast("int")
            + (1000 * F.col("top_cnt") <= 93 * F.col("n_words")).cast("int")
            >= 2
        )
        .cast("long")
        .alias("y"),
    ).localCheckpoint(eager=True)

    scored = _probe_fit_score(feats).select("source", "kp", "y")
    agg = scored.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("kp").alias("a"),
        F.sum("y").alias("b"),
        F.sum((F.col("kp") == F.col("y")).cast("long")).alias("g"),
    )
    n = F.col("n")
    pe = F.col("a") * F.col("b") + (n - F.col("a")) * (n - F.col("b"))
    return agg.select(
        "source",
        n.alias("n_docs"),
        F.col("a").alias("keep_probe"),
        F.col("b").alias("keep_rule"),
        F.col("g").alias("n_agree"),
        F.when(
            n * n != pe,
            F.round(
                (n * F.col("g") - pe).cast("double")
                / (n * n - pe).cast("double"),
                6,
            ),
        ).alias("kappa_probe_rule"),
    ).orderBy("source")


def _probe_fit_score(feats):
    """Ridge fit on the doc_id % _PROBE_TRAIN_MOD == 0 split + whole-
    frame scoring, all in-plan. `feats` needs (doc_id, f1, f2, f3, y)
    with integer features on the 0..100 grid; returns feats plus the
    probe decision `kp`. Factored out so the property tests can drive
    the exact solve with adversarial frames (collinear features,
    all-one/all-zero labels).

    Precondition (documented, not guarded — keeping the plan pure for
    the oracle replay): the frame must contain at least one training
    row (doc_id ≡ 0 mod _PROBE_TRAIN_MOD). An empty split makes every
    normal-equation sum NULL, so every `kp` comes back NULL and the
    downstream keep/κ aggregates silently skip all rows — callers
    reusing this on arbitrary frames must check the split first."""
    sums = feats.filter(F.col("doc_id") % _PROBE_TRAIN_MOD == 0).agg(
        F.count("*").alias("s00"),
        F.sum("f1").alias("s01"),
        F.sum("f2").alias("s02"),
        F.sum("f3").alias("s03"),
        F.sum(F.col("f1") * F.col("f1")).alias("s11"),
        F.sum(F.col("f1") * F.col("f2")).alias("s12"),
        F.sum(F.col("f1") * F.col("f3")).alias("s13"),
        F.sum(F.col("f2") * F.col("f2")).alias("s22"),
        F.sum(F.col("f2") * F.col("f3")).alias("s23"),
        F.sum(F.col("f3") * F.col("f3")).alias("s33"),
        F.sum("y").alias("t0"),
        F.sum(F.col("f1") * F.col("y")).alias("t1"),
        F.sum(F.col("f2") * F.col("y")).alias("t2"),
        F.sum(F.col("f3") * F.col("y")).alias("t3"),
    )

    def dec(c):
        return F.col(c).cast("decimal(38,0)")

    mat = sums.select(
        dec("s00").alias("a00"),
        dec("s01").alias("a01"),
        dec("s02").alias("a02"),
        dec("s03").alias("a03"),
        (dec("s11") + dec("s00")).alias("a11"),  # + λ = n_train
        dec("s12").alias("a12"),
        dec("s13").alias("a13"),
        (dec("s22") + dec("s00")).alias("a22"),
        dec("s23").alias("a23"),
        (dec("s33") + dec("s00")).alias("a33"),
        dec("t0").alias("b0"),
        dec("t1").alias("b1"),
        dec("t2").alias("b2"),
        dec("t3").alias("b3"),
    )
    solve = mat.select(
        _probe_det_col(None).alias("det"),
        _probe_det_col(0).alias("det0"),
        _probe_det_col(1).alias("det1"),
        _probe_det_col(2).alias("det2"),
        _probe_det_col(3).alias("det3"),
    )

    # keep ⟺ ŷ = (Σ detⱼxⱼ)/det ≥ ½ ⟺ 2·Σ detⱼxⱼ ≥ det (det > 0, PD)
    score2 = 2 * (
        F.col("det0")
        + F.col("det1") * F.col("f1").cast("decimal(38,0)")
        + F.col("det2") * F.col("f2").cast("decimal(38,0)")
        + F.col("det3") * F.col("f3").cast("decimal(38,0)")
    )
    return feats.crossJoin(F.broadcast(solve)).withColumn(
        "kp", (score2 >= F.col("det")).cast("long")
    ).drop("det", "det0", "det1", "det2", "det3")


def _quality_probe_train_sql() -> str:
    kappa = (
        "CASE WHEN n * n <> (a * b + (n - a) * (n - b)) THEN "
        + _sql_round(
            "CAST(n * g - (a * b + (n - a) * (n - b)) AS DOUBLE)"
            " / CAST(n * n - (a * b + (n - a) * (n - b)) AS DOUBLE)",
            6,
        )
        + " END"
    )
    return f"""
WITH per_word AS (
  SELECT doc_id, source, w, COUNT(*) AS c FROM (
    SELECT doc_id, source,
           unnest(regexp_extract_all(lower(text), '[A-Za-z]+', 0)) AS w
    FROM documents
  ) GROUP BY doc_id, source, w
),
per_doc AS (
  SELECT doc_id, source, SUM(c) AS n_words, COUNT(*) AS n_distinct,
         MAX(c) AS top_cnt
  FROM per_word GROUP BY doc_id, source
),
feats AS (
  SELECT doc_id, source,
         LEAST(n_words, 100) AS f1,
         (100 * n_distinct) // n_words AS f2,
         LEAST((1000 * top_cnt) // n_words, 100) AS f3,
         CASE WHEN (CASE WHEN n_words >= 56 THEN 1 ELSE 0 END
                    + CASE WHEN 50 * n_distinct >= 23 * n_words THEN 1 ELSE 0 END
                    + CASE WHEN 1000 * top_cnt <= 93 * n_words THEN 1 ELSE 0 END
                   ) >= 2 THEN 1 ELSE 0 END AS y
  FROM per_doc
),
sums AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS s00,
         CAST(SUM(f1) AS HUGEINT) AS s01,
         CAST(SUM(f2) AS HUGEINT) AS s02,
         CAST(SUM(f3) AS HUGEINT) AS s03,
         CAST(SUM(f1 * f1) AS HUGEINT) AS s11,
         CAST(SUM(f1 * f2) AS HUGEINT) AS s12,
         CAST(SUM(f1 * f3) AS HUGEINT) AS s13,
         CAST(SUM(f2 * f2) AS HUGEINT) AS s22,
         CAST(SUM(f2 * f3) AS HUGEINT) AS s23,
         CAST(SUM(f3 * f3) AS HUGEINT) AS s33,
         CAST(SUM(y) AS HUGEINT) AS b0,
         CAST(SUM(f1 * y) AS HUGEINT) AS b1,
         CAST(SUM(f2 * y) AS HUGEINT) AS b2,
         CAST(SUM(f3 * y) AS HUGEINT) AS b3
  FROM feats WHERE doc_id % {_PROBE_TRAIN_MOD} = 0
),
mat AS (
  SELECT s00 AS a00, s01 AS a01, s02 AS a02, s03 AS a03,
         s11 + s00 AS a11, s12 AS a12, s13 AS a13,
         s22 + s00 AS a22, s23 AS a23, s33 + s00 AS a33,
         b0, b1, b2, b3
  FROM sums
),
solve AS (
  SELECT {_probe_det_sql(None)} AS det,
         {_probe_det_sql(0)} AS det0,
         {_probe_det_sql(1)} AS det1,
         {_probe_det_sql(2)} AS det2,
         {_probe_det_sql(3)} AS det3
  FROM mat
),
scored AS (
  SELECT f.source, f.y,
         CASE WHEN 2 * (s.det0 + s.det1 * f.f1 + s.det2 * f.f2
                        + s.det3 * f.f3) >= s.det
              THEN 1 ELSE 0 END AS kp
  FROM feats f CROSS JOIN solve s
),
agg AS (
  SELECT source, COUNT(*) AS n, SUM(kp) AS a, SUM(y) AS b,
         SUM(CASE WHEN kp = y THEN 1 ELSE 0 END) AS g
  FROM scored GROUP BY source
)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       CAST(a AS BIGINT) AS keep_probe,
       CAST(b AS BIGINT) AS keep_rule,
       CAST(g AS BIGINT) AS n_agree,
       {kappa} AS kappa_probe_rule
FROM agg
ORDER BY source
"""


QUALITY_PROBE_TRAIN_SQL = _quality_probe_train_sql()


# --------------------------------------------------------------------------
# max_coverage_select — greedy max-coverage data selection: pick the k
# documents that jointly cover the most hashed n-gram feature space
# (the coreset/diverse-subset primitive behind "select a small
# representative slice of the crawl"; greedy is (1−1/e)-optimal,
# Nemhauser 1978). Features are the DSIR unigram+bigram buckets at
# B=4096 (near-collision-free at this vocabulary). Per selection:
# rank, the doc, its marginal gain, cumulative covered buckets, and
# cumulative coverage fraction.
#
# Scale: each greedy round is ONE aggregation over the (doc, bucket)
# incidence frame — the covered set rides as a driver-bounded literal
# (≤ k·max-doc-features ids), the argmax collect is 1 row
# (operators/featurehash.py::greedy_max_coverage — the train_bpe
# driver-round pattern). Oracle: single-row recursive CTE over the
# collected doc→bucket-list table, argmax via struct list_max with the
# unique (gain desc, doc_id asc) key ordered before the payload field.
# --------------------------------------------------------------------------

_MAXCOV_K = 8
_MAXCOV_B = 4096


def q_max_coverage_select(spark, sf_dir):
    from decimal import ROUND_HALF_UP, Decimal

    from city_payroll_data_pipeline_spark.functions.text import (
        shingles as _sh,
        word_tokens,
    )
    from city_payroll_data_pipeline_spark.operators.featurehash import (
        greedy_max_coverage,
        hash_bucket,
    )

    docs = table(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", word_tokens(F.col("text")).alias("t"))
    feats = (
        toks.select(
            "doc_id",
            F.explode(F.concat(F.col("t"), _sh(F.col("t"), 2))).alias("g"),
        )
        .select("doc_id", hash_bucket(F.col("g"), _MAXCOV_B).alias("bucket"))
        .distinct()
    )
    # caller-owned persist lifecycle (see greedy_max_coverage's
    # docstring): the incidence frame is scanned k+1 times by the
    # greedy rounds plus once for the total — cache it for exactly
    # that span and release it before returning
    feats = feats.persist()
    try:
        sel = greedy_max_coverage(feats, _MAXCOV_K)
        total = feats.select("bucket").distinct().count()
    finally:
        feats.unpersist()
    # Spark ROUND-on-double semantics driver-side (shortest repr,
    # HALF_UP) so the literal matches the oracle's _sql_round exactly
    rows = [
        (
            rank,
            doc,
            gain,
            cov,
            float(
                Decimal(repr(cov / total)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            ),
        )
        for rank, doc, gain, cov in sel
    ]
    return spark.createDataFrame(
        rows,
        "rank int, doc_id long, gain long, covered_buckets long, "
        "covered_frac double",
    ).orderBy("rank")


def _max_coverage_sql() -> str:
    gain = (
        "len(list_filter(d.bl, b -> NOT list_contains(s.covered, b)))"
    )
    best = (
        f"list_max(list_transform("
        f"list_filter(s.ds, d0 -> NOT list_contains(s.ids, d0.id)), "
        f"d -> {{'gain': CAST({gain} AS BIGINT), 'negid': -d.id, "
        f"'nbl': list_filter(d.bl, b2 -> NOT list_contains(s.covered, b2))}}"
        f"))"
    )
    return f"""WITH RECURSIVE b AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) % {_MAXCOV_B} AS bucket
  FROM (
    SELECT doc_id, unnest(t) AS g
    FROM (SELECT doc_id,
                 regexp_extract_all(lower(text), '[A-Za-z]+', 0) AS t
          FROM documents)
    UNION ALL
    SELECT doc_id, t[i + 1] || ' ' || t[i + 2] AS g
    FROM (SELECT doc_id,
                 regexp_extract_all(lower(text), '[A-Za-z]+', 0) AS t
          FROM documents),
         unnest(range(0, greatest(len(t) - 1, 0))) AS r(i)
  )
),
docs AS (SELECT doc_id, list(DISTINCT bucket) AS bl FROM b GROUP BY doc_id),
alldocs AS (
  SELECT list({{'id': doc_id, 'bl': bl}} ORDER BY doc_id) AS ds FROM docs
),
tot AS (SELECT COUNT(DISTINCT bucket) AS nb FROM b),
sel AS (
  SELECT 0 AS step, []::BIGINT[] AS ids, []::BIGINT[] AS gains,
         []::BIGINT[] AS covs, []::BIGINT[] AS covered, ds
  FROM alldocs
  UNION ALL
  SELECT s.step + 1,
         list_append(s.ids, -({best}).negid),
         list_append(s.gains, ({best}).gain),
         list_append(s.covs, CAST(len(s.covered) + ({best}).gain AS BIGINT)),
         list_concat(s.covered, ({best}).nbl),
         s.ds
  FROM sel s
  WHERE s.step < {_MAXCOV_K} AND ({best}).gain > 0
)
SELECT CAST(i AS INT) AS rank, ids[i] AS doc_id, gains[i] AS gain,
       covs[i] AS covered_buckets,
       {_sql_round('CAST(covs[i] AS DOUBLE) / nb', 6)} AS covered_frac
FROM sel CROSS JOIN tot CROSS JOIN unnest(range(1, {_MAXCOV_K} + 1)) AS r(i)
WHERE step = (SELECT MAX(step) FROM sel) AND i <= step
ORDER BY rank"""


MAX_COVERAGE_SELECT_SQL = _max_coverage_sql()


# --------------------------------------------------------------------------
# source_dedup_matrix — cross-source duplicate PROVENANCE: which feeds
# copy from which. exact_dedup_groups counts duplicates; this
# attributes them — the matrix a crawl owner reads to decide which
# source to drop when two feeds mirror each other (keep the earlier,
# drop the mirror, or dedup-join the pair upstream). Synthetic mirror
# copies (every 10th doc re-attributed to the next source id, the
# _dup_corpus pattern with source rotation) give the testdata a
# non-trivial matrix; natural cross-source duplicates flow through the
# identical path.
#
# Scale: fingerprints reduce per (fp, source) first — the self-join
# runs on the GROUP frame (duplicate groups only, ≪ corpus), keyed on
# the fingerprint, with the source< source tie keeping each unordered
# pair once. Full text never crosses an exchange.
# --------------------------------------------------------------------------


def q_source_dedup_matrix(spark, sf_dir):
    from city_payroll_data_pipeline_spark.functions.text import (
        content_fingerprint,
    )

    docs = table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "source", "text"
    )
    mirror = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.lit("src"),
            (F.expr("substring(source, 4)").cast("int") + 1).cast("string"),
        ).alias("source"),
        "text",
    )
    corpus = docs.unionByName(mirror)
    per = (
        corpus.select(
            content_fingerprint(F.col("text")).alias("fp"), "source"
        )
        .groupBy("fp", "source")
        .agg(F.count("*").alias("c"))
    )
    a, b = per.alias("a"), per.alias("b")
    pairs = a.join(
        b,
        (F.col("a.fp") == F.col("b.fp"))
        & (F.col("a.source") < F.col("b.source")),
    )
    return (
        pairs.groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.count("*").alias("n_groups"),
            F.sum(F.col("a.c") + F.col("b.c")).alias("n_docs"),
        )
        .orderBy("source_a", "source_b")
    )


SOURCE_DEDUP_MATRIX_SQL = r"""
WITH corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         'src' || CAST(CAST(substr(source, 4) AS INT) + 1 AS VARCHAR),
         text
  FROM documents WHERE doc_id % 10 = 0
),
per AS (
  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         source, COUNT(*) AS c
  FROM corpus GROUP BY 1, 2
)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*) AS n_groups,
       CAST(SUM(a.c + b.c) AS BIGINT) AS n_docs
FROM per a JOIN per b ON a.fp = b.fp AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY source_a, source_b
"""


# --------------------------------------------------------------------------
# stylometry_burrows_delta — authorship-attribution distance between
# sources (Burrows 2002 "Delta"), the stylometric complement to the
# content-based provenance queries (source_dedup_matrix finds shared
# DOCUMENTS; Delta finds shared WRITING STYLE — a mirror that
# paraphrases, or two feeds with one upstream author, converge in
# function-word profile long before they share fingerprints).
#
# Delta(a, b) = mean over the top-M corpus words of the scaled
# deviation |z_a(w) − z_b(w)|. The classic z uses the std-dev; this
# implementation uses the MEAN-ABSOLUTE-DEVIATION scaling (Argamon
# 2008's linear/L1 reading of Delta) so the whole statistic stays in
# exact integer arithmetic — a square root would force inexact floats
# across an aggregation, which the suite's determinism rule forbids.
#
#   F(s,w)  = (count(s,w) · 10^12) div total_tokens(s)     [BIGINT]
#   D(w)    = Σ_s |S·F(s,w) − Σ_s F(s,w)|                  [= S²·MAD]
#   term    = (S² · |F(a,w) − F(b,w)| · 10^6) div D(w)     [= |Δz|·10^6]
#   delta   = Σ_w term / (m_used · 10^6)   (single exact division)
#
# Words with D(w) = 0 (identical scaled frequency everywhere) carry no
# signal and are excluded; m_used counts the survivors so the mean is
# over the words actually scored — the same set on both engines. If NO
# word carries signal (all sources stylistically identical — possible
# only on degenerate corpora), Delta is undefined and both engines
# emit zero pair rows (the dev join drops everything; property-tested).
#
# Scale shape: the ONLY corpus-sized stage is the word explode into a
# (source, term) count (map-side combinable, one shuffle — the same
# budget as source_vocab_overlap). Everything after is bounded by
# |sources|·M: the top-M list rides TakeOrderedAndProject (no global
# window), the S×M grid is two broadcast joins, and the pair frame is
# S²·M rows. The 1-row S / m_used scalars stay in-plan via broadcast
# cross joins (zero driver round trips).
# --------------------------------------------------------------------------

_DELTA_TOP_WORDS = 30
_DELTA_FREQ_SCALE = 10**12
_DELTA_Z_SCALE = 10**6


def q_stylometry_burrows_delta(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    cnt = (
        docs.select(
            "source", F.explode(word_tokens(F.col("text"))).alias("term")
        )
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
        # reused three ways (per-source totals, global top-M, grid
        # lookup); checkpoint so the corpus explode runs ONCE
        .localCheckpoint(eager=True)
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    topw = (
        cnt.groupBy("term")
        .agg(F.sum("c").alias("g"))
        .orderBy(F.desc("g"), F.asc("term"))
        .limit(_DELTA_TOP_WORDS)
        .select("term")
    )
    grid = (
        tot.crossJoin(F.broadcast(topw))
        .join(cnt, ["source", "term"], "left")
        .select(
            "source",
            "term",
            F.expr(
                f"CAST(CAST(coalesce(c, 0) AS DECIMAL(38,0))"
                f" * {_DELTA_FREQ_SCALE} div t AS BIGINT)"
            ).alias("f"),
        )
        .localCheckpoint(eager=True)  # S×M rows; read by stats + self-join
    )
    ns = tot.agg(F.count("*").alias("s"))
    sw = grid.groupBy("term").agg(F.sum("f").alias("sw"))
    dev = (
        grid.join(sw, "term")
        .crossJoin(F.broadcast(ns))
        .groupBy("term")
        .agg(
            F.sum(
                F.expr("abs(CAST(s AS DECIMAL(38,0)) * f - sw)")
            ).alias("d")
        )
        .filter(F.col("d") > 0)
        .localCheckpoint(eager=True)  # read by m_used + the pair frame
    )
    used = dev.agg(F.count("*").alias("m_used"))
    a, b = grid.alias("a"), grid.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .join(dev.alias("dv"), F.col("a.term") == F.col("dv.term"))
        .crossJoin(F.broadcast(ns))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.expr(
                f"CAST(CAST(s AS DECIMAL(38,0)) * s"
                f" * abs(a.f - b.f) * {_DELTA_Z_SCALE} div d AS BIGINT)"
            ).alias("term_scaled"),
        )
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.sum("term_scaled").cast("long").alias("delta_scaled"))
        .crossJoin(F.broadcast(used))
        .select(
            "source_a",
            "source_b",
            "delta_scaled",
            "m_used",
            (
                F.col("delta_scaled")
                / (F.col("m_used") * F.lit(float(_DELTA_Z_SCALE)))
            ).alias("delta"),
        )
        .orderBy("delta_scaled", "source_a", "source_b")
    )


STYLOMETRY_BURROWS_DELTA_SQL = f"""
WITH cnt AS MATERIALIZED (
  SELECT source, term, COUNT(*) AS c
  FROM (
    SELECT source,
           unnest(regexp_extract_all(lower(text), '[A-Za-z]+', 0)) AS term
    FROM documents
  )
  GROUP BY source, term
),
tot AS MATERIALIZED (
  SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY source
),
topw AS MATERIALIZED (
  SELECT term FROM cnt GROUP BY term
  ORDER BY SUM(c) DESC, term ASC LIMIT {_DELTA_TOP_WORDS}
),
grid AS MATERIALIZED (
  SELECT t.source, w.term,
         CAST(CAST(COALESCE(c.c, 0) AS HUGEINT)
              * {_DELTA_FREQ_SCALE} // t.t AS BIGINT) AS f
  FROM tot t
  CROSS JOIN topw w
  LEFT JOIN cnt c ON c.source = t.source AND c.term = w.term
),
ns AS (SELECT COUNT(*) AS s FROM tot),
sw AS MATERIALIZED (
  SELECT term, CAST(SUM(f) AS BIGINT) AS sw FROM grid GROUP BY term
),
dev AS MATERIALIZED (
  SELECT g.term,
         SUM(ABS(CAST((SELECT s FROM ns) AS HUGEINT) * g.f - w.sw)) AS d
  FROM grid g JOIN sw w ON g.term = w.term
  GROUP BY g.term
  HAVING SUM(ABS(CAST((SELECT s FROM ns) AS HUGEINT) * g.f - w.sw)) > 0
),
used AS (SELECT COUNT(*) AS m_used FROM dev)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(SUM(CAST((CAST((SELECT s FROM ns) AS HUGEINT)
                      * (SELECT s FROM ns) * ABS(a.f - b.f)
                      * {_DELTA_Z_SCALE}) // d.d AS BIGINT)) AS BIGINT)
         AS delta_scaled,
       (SELECT m_used FROM used) AS m_used,
       CAST(SUM(CAST((CAST((SELECT s FROM ns) AS HUGEINT)
                      * (SELECT s FROM ns) * ABS(a.f - b.f)
                      * {_DELTA_Z_SCALE}) // d.d AS BIGINT)) AS DOUBLE)
         / ((SELECT m_used FROM used) * 1000000.0) AS delta
FROM grid a
JOIN grid b ON a.term = b.term AND a.source < b.source
JOIN dev d ON d.term = a.term
GROUP BY a.source, b.source
ORDER BY delta_scaled, source_a, source_b
"""


# --------------------------------------------------------------------------
# loop_degeneration_report — the repetition-loop detector every
# LLM-generated-data intake runs (Holtzman 2019's neural-degeneration
# failure: greedy/low-temperature decoding collapses into "the the
# the …"): per document, the LONGEST run of consecutive identical
# tokens, aggregated per source with thresholded shares (run ≥ 2 /
# ≥ 3), the length-normalized worst run, and the doc id to go look at.
# The quality raters' repetition feature counts repeated TYPES
# anywhere in the doc; this measures the consecutive-run shape that
# specifically fingerprints decoder loops — a corpus can score
# identically on type-repetition yet differ entirely here.
#
# Determinism: the per-doc max run is a pure integer/string fold; the
# run-share division is one double op on identical integers.
#
# Scale: the run scan is a per-doc array fold computed MAP-SIDE
# (zero corpus exchange — no token explode, no per-doc window); the
# only shuffles are the |sources|-row stats reduce and the
# worst-doc argmin over the broadcast-filtered per-source maxima.
# The oracle unnests and uses a gaps-and-islands window instead —
# same values, different (single-node-appropriate) shape.
# --------------------------------------------------------------------------

_MAX_RUN_FOLD = """
aggregate(
  toks,
  named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
  (acc, t) -> named_struct(
    'prev', t,
    'run', CASE WHEN t = acc.prev THEN acc.run + 1 ELSE 1 END,
    'best', greatest(acc.best,
                     CASE WHEN t = acc.prev THEN acc.run + 1 ELSE 1 END)),
  acc -> acc.best)
"""


def q_loop_degeneration_report(spark, sf_dir):
    docs = table(spark, sf_dir, "documents", spread=True)
    perdoc = docs.select(
        "doc_id",
        "source",
        tokens_array(F.col("text")).alias("toks"),
    ).select(
        "doc_id",
        "source",
        F.size("toks").alias("n"),
        F.expr(_MAX_RUN_FOLD).alias("best"),
    )
    stats = perdoc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.max("best").alias("max_run"),
        F.sum((F.col("best") >= 2).cast("long")).alias("docs_run2"),
        F.sum((F.col("best") >= 3).cast("long")).alias("docs_run3"),
        F.max(
            F.when(
                F.col("n") > 0,
                F.col("best").cast("double") / F.col("n").cast("double"),
            )
        ).alias("worst_run_share_raw"),
    )
    worst = (
        perdoc.join(
            F.broadcast(stats.select("source", "max_run")),
            on="source",
        )
        .filter(F.col("best") == F.col("max_run"))
        .groupBy("source")
        .agg(F.min("doc_id").alias("worst_doc_id"))
    )
    return (
        stats.join(worst, "source")
        .select(
            "source",
            "n_docs",
            "max_run",
            "docs_run2",
            "docs_run3",
            F.round(
                F.col("docs_run2").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("run2_share"),
            F.round(F.col("worst_run_share_raw"), 6).alias("worst_run_share"),
            "worst_doc_id",
        )
        .orderBy("source")
    )


LOOP_DEGENERATION_REPORT_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, regexp_extract_all(trim(text), '\S+', 0) AS t
  FROM documents
),
flat AS (
  SELECT doc_id, source, unnest(t) AS tok,
         generate_subscripts(t, 1) AS i
  FROM toks
),
islands AS (
  SELECT doc_id, source, tok,
         i - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY i) AS g
  FROM flat
),
runs AS (
  SELECT doc_id, source, COUNT(*) AS c
  FROM islands GROUP BY doc_id, source, tok, g
),
perdoc AS (
  SELECT k.doc_id, k.source, len(k.t) AS n,
         COALESCE(MAX(r.c), 0) AS best
  FROM toks k LEFT JOIN runs r ON r.doc_id = k.doc_id
  GROUP BY k.doc_id, k.source, len(k.t)
),
stats AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(MAX(best) AS INT) AS max_run,
         CAST(SUM(CASE WHEN best >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_run2,
         CAST(SUM(CASE WHEN best >= 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_run3,
         MAX(CASE WHEN n > 0
                  THEN CAST(best AS DOUBLE) / CAST(n AS DOUBLE) END)
           AS worst_run_share_raw
  FROM perdoc GROUP BY source
),
worst AS (
  SELECT p.source, MIN(p.doc_id) AS worst_doc_id
  FROM perdoc p JOIN stats s
    ON s.source = p.source AND p.best = s.max_run
  GROUP BY p.source
)
SELECT s.source AS source,
       s.n_docs AS n_docs,
       s.max_run AS max_run,
       s.docs_run2 AS docs_run2,
       s.docs_run3 AS docs_run3,
       {_sql_round('CAST(s.docs_run2 AS DOUBLE) / s.n_docs', 6)}
         AS run2_share,
       {_sql_round('s.worst_run_share_raw', 6)} AS worst_run_share,
       w.worst_doc_id AS worst_doc_id
FROM stats s JOIN worst w ON w.source = s.source
ORDER BY s.source
"""


QUERIES = {
    "doc_perplexity": Query(
        q_doc_perplexity,
        DOC_PERPLEXITY_SQL,
        ("text", "quality", "language-model", "perplexity"),
    ),
    "char_entropy": Query(
        q_char_entropy,
        CHAR_ENTROPY_SQL,
        ("text", "quality", "entropy"),
    ),
    "doc_token_stats": Query(q_doc_token_stats, DOC_TOKEN_STATS_SQL, ("text",)),
    "inverted_index": Query(
        q_inverted_index, INVERTED_INDEX_SQL, ("text", "index", "postings")
    ),
    "bigram_lm": Query(
        q_bigram_lm, BIGRAM_LM_SQL, ("text", "ngram", "language-model")
    ),
    "vocab_coverage": Query(
        q_vocab_coverage, VOCAB_COVERAGE_SQL, ("text", "vocab", "zipf")
    ),
    "kneser_ney_bigram": Query(
        q_kneser_ney_bigram,
        KNESER_NEY_BIGRAM_SQL,
        ("text", "ngram", "language-model", "kneser-ney"),
    ),
    "source_divergence": Query(
        q_source_divergence,
        SOURCE_DIVERGENCE_SQL,
        ("text", "divergence", "training-mix"),
    ),
    "bpe_merges": Query(
        q_bpe_merges,
        BPE_MERGES_SQL,
        ("text", "bpe", "tokenizer", "iterative"),
    ),
    "bpe_compression_curve": Query(
        q_bpe_compression_curve,
        BPE_COMPRESSION_CURVE_SQL,
        ("text", "bpe", "tokenizer", "curve"),
    ),
    "dedup_method_agreement": Query(
        q_dedup_method_agreement,
        _dedup_agreement_sql(),
        ("dedup", "audit", "recall"),
    ),
    "doc_bpe_tokens": Query(q_doc_bpe_tokens, DOC_BPE_TOKENS_SQL, ("text", "bpe")),
    "doc_lang_id": Query(q_doc_lang_id, DOC_LANG_ID_SQL, ("text", "langid")),
    "mixed_lang_docs": Query(
        q_mixed_lang_docs, MIXED_LANG_DOCS_SQL, ("text", "langid", "mixed")
    ),
    "cdc_chunks": Query(
        q_cdc_chunks, CDC_CHUNKS_SQL, ("chunking", "cdc", "rolling-hash")
    ),
    "c4_line_filter": Query(
        q_c4_line_filter,
        C4_LINE_FILTER_SQL,
        ("cleaning", "line-filter", "c4"),
    ),
    "doc_quality": Query(q_doc_quality, DOC_QUALITY_SQL, ("text", "quality")),
    "gopher_rules_funnel": Query(
        q_gopher_rules_funnel,
        GOPHER_RULES_FUNNEL_SQL,
        ("text", "quality", "gopher", "funnel"),
    ),
    "loo_source_influence": Query(
        q_loo_source_influence,
        LOO_SOURCE_INFLUENCE_SQL,
        ("mix", "influence", "leave-one-out"),
    ),
    "shapley_vocab_attribution": Query(
        q_shapley_vocab_attribution,
        SHAPLEY_VOCAB_ATTRIBUTION_SQL,
        ("mix", "attribution", "shapley", "data-valuation"),
    ),
    "wordpiece_greedy_encode": Query(
        q_wordpiece_greedy_encode,
        WORDPIECE_GREEDY_ENCODE_SQL,
        ("tokenizer", "wordpiece", "bpe", "encoder-compat"),
    ),
    "unigram_viterbi_encode": Query(
        q_unigram_viterbi_encode,
        UNIGRAM_VITERBI_ENCODE_SQL,
        ("tokenizer", "unigram-lm", "viterbi", "encoder-compat"),
    ),
    "unigram_em_fit": Query(
        q_unigram_em_fit,
        UNIGRAM_EM_FIT_SQL,
        ("tokenizer", "unigram-lm", "trainer", "em"),
    ),
    "unigram_em_encode": Query(
        q_unigram_em_encode,
        UNIGRAM_EM_ENCODE_SQL,
        ("tokenizer", "unigram-lm", "em", "fertility"),
    ),
    "gopher_repetition_funnel": Query(
        q_gopher_repetition_funnel,
        GOPHER_REPETITION_FUNNEL_SQL,
        ("text", "quality", "gopher", "repetition", "funnel"),
    ),
    "doc_fingerprint": Query(q_doc_fingerprint, DOC_FINGERPRINT_SQL, ("text",)),
    "exact_dedup_groups": Query(
        q_exact_dedup_groups, EXACT_DEDUP_GROUPS_SQL, ("dedup", "exact")
    ),
    "minhash_dedup_pairs": Query(
        q_minhash_dedup_pairs, MINHASH_DEDUP_PAIRS_SQL, ("dedup", "minhash", "lsh")
    ),
    "simhash_near_pairs": Query(
        q_simhash_near_pairs, SIMHASH_NEAR_PAIRS_SQL, ("dedup", "simhash")
    ),
    "dedup_clusters": Query(
        q_dedup_clusters, DEDUP_CLUSTERS_SQL, ("dedup", "components", "iterative")
    ),
    "dedup_clusters_star": Query(
        q_dedup_clusters_star,
        DEDUP_CLUSTERS_SQL,
        ("dedup", "components", "iterative", "star-contraction"),
    ),
    "dedup_best_keeper": Query(
        q_dedup_best_keeper,
        DEDUP_BEST_KEEPER_SQL,
        ("dedup", "components", "quality", "keeper"),
    ),
    "ngram_jaccard_pairs": Query(
        q_ngram_jaccard_pairs, NGRAM_JACCARD_PAIRS_SQL, ("dedup", "ngram", "jaccard")
    ),
    "ngram_containment_pairs": Query(
        q_ngram_containment_pairs,
        NGRAM_CONTAINMENT_PAIRS_SQL,
        ("dedup", "ngram", "containment", "sub-document"),
    ),
    "dup_ngram_coverage": Query(
        q_dup_ngram_coverage,
        DUP_NGRAM_COVERAGE_SQL,
        ("text", "quality", "dedup", "coverage"),
    ),
    "feature_hash_buckets": Query(
        q_feature_hash_buckets,
        FEATURE_HASH_BUCKETS_SQL,
        ("features", "hashing-trick", "audit"),
    ),
    "prefix_jaccard_pairs": Query(
        q_prefix_jaccard_pairs,
        PREFIX_JACCARD_PAIRS_SQL,
        ("dedup", "ppjoin", "prefix-filter", "lossless"),
    ),
    "dedup_threshold_sweep": Query(
        q_dedup_threshold_sweep,
        DEDUP_THRESHOLD_SWEEP_SQL,
        ("dedup", "tuning", "sensitivity"),
    ),
    "winnow_fingerprints": Query(
        q_winnow_fingerprints,
        WINNOW_FINGERPRINTS_SQL,
        ("fingerprinting", "winnowing", "moss"),
    ),
    "bm25_search": Query(
        q_bm25_search, BM25_SEARCH_SQL, ("retrieval", "bm25", "ranking")
    ),
    "corpus_clean_pipeline": Query(
        q_corpus_clean_pipeline,
        CORPUS_CLEAN_PIPELINE_SQL,
        ("text", "pipeline", "dedup", "quality", "langid"),
    ),
    "quality_metrics_long": Query(
        q_quality_metrics_long,
        QUALITY_METRICS_LONG_SQL,
        ("unpivot", "reshape"),
    ),
    "per_source_ols": Query(
        q_per_source_ols, PER_SOURCE_OLS_SQL, ("stats", "regression")
    ),
    "pii_scrub": Query(
        q_pii_scrub, PII_SCRUB_SQL, ("text", "pii", "redaction")
    ),
    "unicode_sanitize": Query(
        q_unicode_sanitize, UNICODE_SANITIZE_SQL, ("text", "sanitize", "hygiene")
    ),
    "length_zscores": Query(
        q_length_zscores, LENGTH_ZSCORES_SQL, ("quality", "zscore", "window")
    ),
    "length_deciles": Query(
        q_length_deciles, LENGTH_DECILES_SQL, ("quantile", "binning")
    ),
    "length_deciles_scaled": Query(
        q_length_deciles_scaled,
        LENGTH_DECILES_SQL,
        ("quantile", "binning", "scale-path"),
    ),
    "tfidf_top_terms": Query(
        q_tfidf_top_terms, TFIDF_TOP_TERMS_SQL, ("text", "tfidf", "keywords")
    ),
    "doc_repetition": Query(
        q_doc_repetition, DOC_REPETITION_SQL, ("text", "quality", "repetition")
    ),
    "incremental_dedup": Query(
        q_incremental_dedup,
        INCREMENTAL_DEDUP_SQL,
        ("dedup", "incremental", "anti-join"),
    ),
    "common_phrases": Query(
        q_common_phrases, COMMON_PHRASES_SQL, ("text", "phrases", "boilerplate")
    ),
    "repeated_spans": Query(
        q_repeated_spans,
        REPEATED_SPANS_SQL,
        ("text", "dedup", "substring", "boilerplate"),
    ),
    "multiscale_repeated_spans": Query(
        q_multiscale_repeated_spans,
        MULTISCALE_REPEATED_SPANS_SQL,
        ("text", "dedup", "substring", "multiscale", "boilerplate"),
    ),
    "dsir_importance_weights": Query(
        q_dsir_importance_weights,
        DSIR_IMPORTANCE_WEIGHTS_SQL,
        ("mix", "domain-selection", "dsir", "hashed-ngram"),
    ),
    "crossdoc_line_dedup": Query(
        q_crossdoc_line_dedup,
        CROSSDOC_LINE_DEDUP_SQL,
        ("text", "dedup", "lines", "c4", "boilerplate"),
    ),
    "corpus_line_scrub": Query(
        q_corpus_line_scrub,
        CORPUS_LINE_SCRUB_SQL,
        ("text", "dedup", "lines", "c4", "scrub", "re-emit"),
    ),
    "filter_agreement_kappa": Query(
        q_filter_agreement_kappa,
        FILTER_AGREEMENT_KAPPA_SQL,
        ("text", "quality", "agreement", "kappa"),
    ),
    "quality_probe_train": Query(
        q_quality_probe_train,
        QUALITY_PROBE_TRAIN_SQL,
        ("text", "quality", "probe", "ridge", "trained-gate"),
    ),
    "packing_bfd_compare": Query(
        q_packing_bfd_compare,
        PACKING_BFD_COMPARE_SQL,
        ("text", "packing", "bin-packing", "bfd", "capacity"),
    ),
    "max_coverage_select": Query(
        q_max_coverage_select,
        MAX_COVERAGE_SELECT_SQL,
        ("selection", "coreset", "submodular", "greedy"),
    ),
    "source_dedup_matrix": Query(
        q_source_dedup_matrix,
        SOURCE_DEDUP_MATRIX_SQL,
        ("dedup", "provenance", "cross-source", "matrix"),
    ),
    "contamination_check": Query(
        q_contamination_check,
        CONTAMINATION_CHECK_SQL,
        ("text", "decontamination"),
    ),
    "weighted_reservoir_sample": Query(
        q_weighted_reservoir_sample,
        WEIGHTED_RESERVOIR_SAMPLE_SQL,
        ("sampling", "reservoir", "weighted"),
    ),
    "hash_sample_docs": Query(
        q_hash_sample_docs, HASH_SAMPLE_DOCS_SQL, ("sample", "deterministic")
    ),
    "training_mix_report": Query(
        q_training_mix_report,
        TRAINING_MIX_REPORT_SQL,
        ("pipeline", "dedup", "quality", "rebalance"),
    ),
    "budget_rebalance_sample": Query(
        q_budget_rebalance_sample,
        BUDGET_REBALANCE_SAMPLE_SQL,
        ("sample", "rebalance", "dynamic"),
    ),
    "stratified_sample": Query(
        q_stratified_sample,
        STRATIFIED_SAMPLE_SQL,
        ("sample", "stratified", "rebalance"),
    ),
    "per_group_sample": Query(
        q_per_group_sample,
        PER_GROUP_SAMPLE_SQL,
        ("sample", "exact-k", "window"),
    ),
    "corpus_snapshot_diff": Query(
        q_corpus_snapshot_diff,
        CORPUS_SNAPSHOT_DIFF_SQL,
        ("diff", "incremental", "full-outer"),
    ),
    "dataset_manifest": Query(
        q_dataset_manifest,
        DATASET_MANIFEST_SQL,
        ("manifest", "integrity", "checksum"),
    ),
    "train_val_test_split": Query(
        q_train_val_test_split, TRAIN_VAL_TEST_SPLIT_SQL, ("sample", "split")
    ),
    "split_leakage_check": Query(
        q_split_leakage_check,
        SPLIT_LEAKAGE_CHECK_SQL,
        ("split", "contamination", "dedup-aware"),
    ),
    "neardup_split_leakage": Query(
        q_neardup_split_leakage,
        NEARDUP_SPLIT_LEAKAGE_SQL,
        ("split", "contamination", "near-dup", "minhash"),
    ),
    "cluster_safe_split": Query(
        q_cluster_safe_split,
        CLUSTER_SAFE_SPLIT_SQL,
        ("split", "dedup-aware", "cluster", "remedy"),
    ),
    "token_budget_waterfill": Query(
        q_token_budget_waterfill,
        TOKEN_BUDGET_WATERFILL_SQL,
        ("packing", "mixture", "water-filling", "data-recipe"),
    ),
    "fuzzy_name_pairs": Query(
        q_fuzzy_name_pairs, FUZZY_NAME_PAIRS_SQL, ("fuzzy", "levenshtein")
    ),
    "media_bytes_meta": Query(
        q_media_bytes_meta, MEDIA_BYTES_META_SQL, ("multimodal",)
    ),
    "media_chunk_plan": Query(
        q_media_chunk_plan, MEDIA_CHUNK_PLAN_SQL, ("multimodal", "chunking")
    ),
    "media_frame_sample": Query(
        q_media_frame_sample, MEDIA_FRAME_SAMPLE_SQL, ("multimodal", "video")
    ),
    "media_feature_extract": Query(
        q_media_feature_extract, MEDIA_FEATURE_EXTRACT_SQL, ("multimodal", "pandas_udf")
    ),
    "media_thumbnail": Query(
        q_media_thumbnail,
        MEDIA_THUMBNAIL_SQL,
        ("multimodal", "codec", "pandas_udf"),
    ),
    "media_phash_pairs": Query(
        q_media_phash_pairs,
        MEDIA_PHASH_PAIRS_SQL,
        ("multimodal", "dedup", "phash", "codec", "pandas_udf"),
    ),
    "media_vad_segments": Query(
        q_media_vad_segments,
        MEDIA_VAD_SEGMENTS_SQL,
        ("media", "audio", "vad", "segmentation", "islands"),
    ),
    "media_audio_energy": Query(
        q_media_audio_energy,
        MEDIA_AUDIO_ENERGY_SQL,
        ("multimodal", "audio", "energy", "pandas_udf"),
    ),
    "doc_chunks": Query(
        q_doc_chunks, DOC_CHUNKS_SQL, ("text", "chunking", "context-window")
    ),
    "pack_sequences": Query(
        q_pack_sequences, PACK_SEQUENCES_SQL, ("text", "packing", "window")
    ),
    "context_fill_sweep": Query(
        q_context_fill_sweep,
        CONTEXT_FILL_SWEEP_SQL,
        ("text", "packing", "capacity", "sweep"),
    ),
    "span_corruption_plan": Query(
        q_span_corruption_plan,
        SPAN_CORRUPTION_PLAN_SQL,
        ("text", "pretraining", "denoising", "budget"),
    ),
    "stylometry_burrows_delta": Query(
        q_stylometry_burrows_delta,
        STYLOMETRY_BURROWS_DELTA_SQL,
        ("text", "stylometry", "provenance", "integer-exact"),
    ),
    "loop_degeneration_report": Query(
        q_loop_degeneration_report,
        LOOP_DEGENERATION_REPORT_SQL,
        ("text", "quality", "degeneration", "fold", "map-side"),
    ),
}
