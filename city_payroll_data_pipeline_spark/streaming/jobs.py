"""Streaming jobs: CSV file-watcher ingest + watermarked event stats.

Design notes for scale:
* file source with ``maxFilesPerTrigger`` bounds per-batch work — a
  tenant dumping 10k files doesn't stall the trigger loop.
* the aggregation reuses the *batch* report expression — one source of
  truth for the business logic, batch and streaming plans both derive
  from it (the Dataset is just unbounded).
* event stats use event-time tumbling windows + watermark so state
  for closed windows is dropped — unbounded input, bounded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from city_payroll_data_pipeline_spark.operators.reports import (
    budget_aggregate,
)
from city_payroll_data_pipeline_spark.schemas import all_string_schema
from city_payroll_data_pipeline_spark.sources.readers import normalize_columns


def stream_raw_csv(
    spark: SparkSession,
    path: str,
    columns: list[str],
    normalize_names: bool = False,
    max_files_per_trigger: int = 100,
) -> DataFrame:
    """Unbounded all-string CSV source watching a Raw/ directory —
    the streaming twin of readers.read_csv_all_string, with the same
    header check (a file whose header does not name ``columns`` in
    order fails the micro-batch)."""
    df = (
        spark.readStream.schema(all_string_schema(columns))
        .option("header", True)
        .option("quote", '"')
        .option("enforceSchema", False)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .csv(path)
    )
    return normalize_columns(df) if normalize_names else df


def streaming_budget_report(fct_stream: DataFrame) -> DataFrame:
    """Continuously-maintained budget report over a fact stream
    (identical semantics to reports.budget_report; complete-mode sink).
    The sort lives in the sink query, not here — streaming aggs cannot
    hold a global sort."""
    return budget_aggregate(fct_stream)


def streaming_event_stats(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window per-type event counts/values with late-data handling:
    events later than ``watermark`` behind the max seen event time are
    dropped and their windows' state is freed."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_hll_registers(
    events: DataFrame, key: str = "user_id", group: str = "event_type"
) -> DataFrame:
    """Streaming distinct-count sketch: HyperLogLog registers (p=12,
    the suite.mlops hll_distinct_audit family) as a plain streaming
    max-aggregate.

    This is the mergeability property made operational: because an
    HLL register only ever takes MAX, the unbounded stream needs no
    per-key distinct state — state is capped at groups × 4096 rows
    FOREVER, and the streamed registers are bit-identical to a batch
    build over the same rows (asserted in test_streaming.py). Run in
    update/complete mode; estimate cardinality downstream exactly as
    the batch audit does."""
    from city_payroll_data_pipeline_spark.functions.sketches import (
        hll_bucket_rho,
    )

    bucket, rho = hll_bucket_rho(F.col(key))
    return events.groupBy(
        F.col(group), bucket.alias("bucket")
    ).agg(F.max(rho).alias("m_j"))


def stream_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
):
    """Production sink: append the stream to a parquet directory with a
    checkpoint. The checkpoint makes restarts exactly-once — a file
    already processed in a previous run is never re-ingested (the file
    source tracks progress there, not in memory). trigger(availableNow)
    drains the current backlog in bounded batches then stops, so the
    same call serves both continuous jobs (swap the trigger) and
    cron-style incremental backfills."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    q = writer.start()
    q.awaitTermination()
    return q


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drain all currently-available input into an in-memory table
    (test/ops helper): trigger(availableNow) processes the backlog in
    bounded batches then stops."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_dedup(
    docs: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup — the streaming twin of the batch
    ``incremental_dedup`` query: drop re-ingested copies of a document
    (by normalized content fingerprint) arriving within the watermark
    horizon of the first copy.

    ``dropDuplicatesWithinWatermark`` keeps one state row per
    fingerprint and expires it once the watermark passes — unbounded
    input, bounded state; the horizon is the dedup guarantee window.
    An unbounded-horizon exact dedup at 100 TB belongs in the batch
    anti-join (fingerprints are cheap to store in a table; streaming
    state is not free), so the streaming path deliberately trades
    horizon for state size.
    """
    from city_payroll_data_pipeline_spark.functions.text import (
        content_fingerprint,
    )

    return (
        docs.withColumn("fingerprint", content_fingerprint(F.col("text")))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def streaming_dedup_groups(
    docs: DataFrame,
    ts_col: str = "ingest_ts",
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Windowed duplicate-group ledger — the batch-twin-able half of
    stream dedup, mirroring the batch ``exact_duplicate_groups``
    semantics per event-time window: for each (window, fingerprint)
    with more than one copy, the copy count, the canonical keeper
    (MIN doc_id), and the earliest event time. ``streaming_dedup``
    (above) is the append-mode keep-FIRST-ARRIVAL filter — correct for
    the data path but inherently arrival-order-dependent, so it can
    never satisfy the module's batch-twin equality contract; this job
    is the ledger an ingest pipeline writes alongside it (which groups
    collapsed, what the keeper was, how much was dropped), and every
    output column is an arrival-order-FREE aggregate, so a stream and
    the batch union of its micro-batches agree exactly (asserted in
    test_streaming.py).

    Works on a STREAM or a BATCH frame identically: ONE stateful
    aggregation — groupBy(window, fingerprint) with count/min — so
    state is one short row per open (window, fingerprint) and the
    watermark frees it when the window closes; the >1-copy filter is
    stateless on the aggregate."""
    from city_payroll_data_pipeline_spark.functions.text import (
        content_fingerprint,
    )

    src = docs.withWatermark(ts_col, watermark) if docs.isStreaming else docs
    return (
        src.withColumn("fingerprint", content_fingerprint(F.col("text")))
        .groupBy(F.window(ts_col, window).alias("win"), "fingerprint")
        .agg(
            F.count("*").alias("group_size"),
            F.min("doc_id").alias("keep_id"),
            F.min(ts_col).alias("first_ts"),
        )
        .filter(F.col("group_size") > 1)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "fingerprint",
            "keep_id",
            "group_size",
            "first_ts",
        )
    )


def stream_merge_to_table(
    stream_df: DataFrame,
    root: str,
    key: str,
    checkpoint: str,
):
    """Streaming upsert: each micro-batch MERGEs into a versioned
    parquet table (operators/upsert.py) via ``foreachBatch`` — the
    standard pattern for sinks Spark has no native transactional
    writer for. The checkpoint tracks which batches committed, so a
    restart re-runs at-least-once and the MERGE's replace-by-key
    semantics make the redelivery idempotent (exactly-once table
    state without an exactly-once sink)."""
    from city_payroll_data_pipeline_spark.operators.upsert import merge_upsert

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.isEmpty():
            merge_upsert(batch_df.sparkSession, root, batch_df, key)

    q = (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_topk_to_table(
    events: DataFrame,
    path: str,
    checkpoint: str,
    k: int = 3,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Continuously-maintained top-k leaderboard per time window (the
    live "trending event types" view). ``path`` is a versioned table
    root (operators/upsert.py) — read it with ``read_table``.

    Rank-over-stream is not expressible in a pure streaming plan
    (non-time window functions are unsupported on unbounded input), so
    this composes the sanctioned pieces: a watermarked windowed COUNT
    in **update** mode (complete mode would IGNORE the watermark and
    keep every window's state forever — the round-3 bug), and a
    ``foreachBatch`` publisher. Update mode only delivers the groups
    that changed, and a group below top-k can rise later, so the
    publisher maintains a ``{path}_counts`` side table of current
    per-(window, event_type) counts via MERGE, re-ranks ONLY the
    windows touched by the batch, and MERGEs their k rows into the
    leaderboard. Counts for windows the watermark has closed can never
    change again (streaming state already dropped them), so they are
    evicted from the side table — both streaming state and the side
    table stay bounded by the windows inside the watermark horizon."""
    from city_payroll_data_pipeline_spark.operators.upsert import (
        delete_where,
        merge_upsert,
        read_table,
    )

    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    counts_root = path + "_counts"

    def rank_and_publish(batch_df: DataFrame, _batch_id: int) -> None:
        from pyspark.sql import Window as W

        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = batch_df.select(
            F.col("win.start").alias("window_start"), "event_type", "n"
        )
        merge_upsert(
            spark, counts_root, batch, key=["window_start", "event_type"]
        )
        # windows touched this batch: bounded by the batch's time span
        wins = [
            r[0] for r in batch.select("window_start").distinct().collect()
        ]
        counts = read_table(spark, counts_root).where(
            F.col("window_start").isin(wins)
        )
        w = W.partitionBy("window_start").orderBy(
            F.desc("n"), F.asc("event_type")
        )
        top = (
            counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("window_start", "rank", "event_type", "n")
        )
        merge_upsert(spark, path, top, key="window_start")
        # evict side-table counts the watermark has finalized
        cutoff = (
            F.lit(max(wins))
            - F.expr(f"INTERVAL {watermark}")
            - F.expr(f"INTERVAL {window}")
        )
        stale = read_table(spark, counts_root).where(
            F.col("window_start") < cutoff
        )
        if not stale.isEmpty():
            delete_where(spark, counts_root, F.col("window_start") < cutoff)

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(rank_and_publish)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 hour",
    within: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (the attribution shape: right-side
    events join left-side events with the same key that happened at
    most ``within`` earlier).

    Both sides are watermarked and the join condition carries an
    explicit event-time band — that pair is what lets Spark expire
    buffered rows instead of keeping unbounded join state: a left row
    can be dropped once the right watermark passes its timestamp +
    ``within``. State size is therefore input-rate × (watermark +
    within), independent of total stream length — the property that
    makes this safe on an unbounded 100 TB/day feed. ``how`` may be
    any streaming-supported type (inner, leftOuter, ...); outer rows
    emit only after the watermark closes their band.

    Column naming: the key and both timestamps keep their names (the
    right timestamp gets a ``_r`` suffix if it collides with the left
    one); any other right-side column whose name also exists on the
    left is suffixed ``_r`` so the output never has duplicate names
    (which would make every later reference AMBIGUOUS_REFERENCE).
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    left_payload = [c for c in left.columns if c not in (key, left_ts)]
    right_payload = [c for c in right.columns if c not in (key, right_ts)]
    taken = {key, left_ts} | set(left_payload)

    def claim(name: str) -> str:
        # keep appending _r until free, and RECORD the claim — a right
        # side carrying both `value` and `value_r` must not produce two
        # `value_r` output columns
        while name in taken:
            name = f"{name}_r"
        taken.add(name)
        return name

    right_ts_out = claim(right_ts)
    return l.join(r, cond, how).select(
        F.col(f"l.{key}").alias(key),
        F.col(f"l.{left_ts}").alias(left_ts),
        F.col(f"r.{right_ts}").alias(right_ts_out),
        *[F.col(f"l.{c}").alias(c) for c in left_payload],
        *[F.col(f"r.{c}").alias(claim(c)) for c in right_payload],
    )


def enrich_stream(stream_df: DataFrame, dim_df: DataFrame, on: str) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against
    the (small) static dimension, which Spark broadcasts per batch —
    the streaming twin of the batch dim join. The static side is
    re-read per trigger, so an overwritten dim parquet is picked up
    without restarting the query; state stays empty (no watermark
    needed — only stream-stream joins buffer)."""
    from pyspark.sql import functions as F

    return stream_df.join(F.broadcast(dim_df), on=on, how="left")


def windowed_psi_drift(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    edges: list[float],
    baseline_shares: list[float],
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Windowed PSI drift monitor — the feed-health gate a training
    pipeline runs on every incoming slice: per event-time window, bin
    ``value_col`` against static ``edges`` and compute the population
    stability index vs ``baseline_shares`` (the batch suite's
    psi_drift semantics: PSI = Σ_b (p_b − q_b)·ln(p_b/q_b), both
    sides add-half-count smoothed at the window's n so empty bins
    never divide by zero AND a drift-free window scores exactly 0 on
    any baseline). Alert thresholds are the industry ones: <0.1
    stable, 0.1–0.25 drifting, >0.25 act.

    Works on a STREAM or a BATCH frame with identical results (the
    batch-twin equality contract every job in this module keeps —
    asserted in test_streaming.py): the whole computation is ONE
    stateful aggregation — per-bin counts as conditional sums inside a
    single groupBy(window), never a chained agg — followed by a
    stateless PSI projection, so state per window is one row of
    len(edges)+1 longs regardless of stream volume, and the watermark
    frees it once the window closes.

    ``baseline_shares``: len(edges)+1 reference shares (sum 1), fit
    batch-side from the training snapshot and shipped as literals —
    the broadcast-free way to compare against a static baseline."""
    n_bins = len(edges) + 1
    if len(baseline_shares) != n_bins:
        raise ValueError(
            f"baseline_shares must have {n_bins} entries (len(edges)+1), "
            f"got {len(baseline_shares)}"
        )
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    v = F.col(value_col)
    bin_idx = F.lit(len(edges))
    for i in range(len(edges) - 1, -1, -1):
        bin_idx = F.when(v < F.lit(edges[i]), F.lit(i)).otherwise(bin_idx)
    counts = [
        F.sum((bin_idx == i).cast("long")).alias(f"c{i}")
        for i in range(n_bins)
    ]
    agg = src.groupBy(F.window(ts_col, window).alias("win")).agg(
        F.count("*").alias("n"), *counts
    )
    # smoothed observed share p_i = (c_i + 0.5) / (n + 0.5·B); the
    # baseline is smoothed as pseudo-counts AT THE WINDOW'S OWN n —
    # q_i = (n·b_i + 0.5) / (n + 0.5·B) — the same count-based
    # convention as the batch suite's psi_drift, so when the window's
    # counts exactly match the baseline shares (c_i = n·b_i) the two
    # smoothed shares are identical and PSI is exactly 0 for ANY
    # baseline, skewed or uniform. (A fixed shrink toward uniform
    # would bias the zero point against the alert thresholds on
    # skewed baselines: a stable feed on [0.7,0.1,0.1,0.1] would read
    # PSI≈0.097, touching the 0.1 "drifting" line with zero drift.)
    half_b = 0.5 * n_bins
    n = F.col("n")
    terms = []
    for i in range(n_bins):
        p = (F.col(f"c{i}") + 0.5) / (n + half_b)
        q = (n * F.lit(baseline_shares[i]) + 0.5) / (n + half_b)
        terms.append((p - q) * F.log(p / q))
    psi = sum(terms[1:], terms[0])
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "n",
        *[F.col(f"c{i}") for i in range(n_bins)],
        F.round(psi, 6).alias("psi"),
    )


def windowed_source_mix(
    df: DataFrame,
    source_col: str,
    ts_col: str,
    sources: list[str],
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Windowed corpus-mix monitor — the other half of the streaming
    feed-health pair (windowed_psi_drift watches a VALUE distribution;
    this watches the SOURCE composition): per event-time window, one
    count per expected source plus an ``other`` bucket for feeds not
    in the contract, the max share (dominance), and the Shannon
    entropy of the mix in nats with its normalized form
    entropy/ln(S+1). A healthy multi-feed ingest sits near its usual
    entropy; one feed flooding the corpus (or dying) collapses it —
    the alert a mix-weight pipeline (training_mix_report,
    temperature_mixture) needs BEFORE the batch recompute.

    Same batch-twin equality contract as every job in this module
    (identical results on a stream and on the batch union of its
    micro-batches): the whole computation is ONE stateful aggregation
    — per-source counts as conditional sums inside a single
    groupBy(window), the expected-source list shipped as literals —
    followed by a stateless projection. State per window is one row
    of len(sources)+2 longs regardless of stream volume; the
    watermark frees it once the window closes.

    Determinism: shares are exact-operand long/long divisions; the
    entropy sum is a fixed-order row-level expression (never an
    aggregation over doubles), so batch and stream agree bitwise.
    """
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    s = F.col(source_col)
    counts = [
        F.sum((s == F.lit(name)).cast("long")).alias(f"c{i}")
        for i, name in enumerate(sources)
    ]
    agg = src.groupBy(F.window(ts_col, window).alias("win")).agg(
        F.count("*").alias("n"), *counts
    )
    n_named = len(sources)
    other = F.col("n") - sum(
        (F.col(f"c{i}") for i in range(1, n_named)), F.col("c0")
    )
    cols = [F.col(f"c{i}") for i in range(n_named)] + [other]
    n = F.col("n").cast("double")
    terms = [
        F.when(c > 0, -(c / n) * F.log(c / n)).otherwise(F.lit(0.0))
        for c in cols
    ]
    entropy = sum(terms[1:], terms[0])
    max_share = F.greatest(*cols) / n
    import math

    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "n",
        *[
            F.col(f"c{i}").alias(f"n_{name}")
            for i, name in enumerate(sources)
        ],
        other.alias("n_other"),
        F.round(max_share, 6).alias("max_share"),
        F.round(entropy, 6).alias("entropy"),
        F.round(entropy / F.lit(math.log(n_named + 1)), 6).alias(
            "entropy_norm"
        ),
    )


def windowed_heavy_hitters(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    probes: list[str],
    window: str = "10 minutes",
    watermark: str = "1 hour",
    min_share: float = 0.1,
    d: int = 4,
    w: int = 512,
) -> DataFrame:
    """Windowed heavy-hitter alert — the third member of the streaming
    feed-health trio (windowed_psi_drift watches a VALUE distribution,
    windowed_source_mix the SOURCE composition; this watches for any
    single key suddenly FLOODING the feed). It is the streaming twin
    of the batch suite's ``countmin_heavy_tokens``
    (suite/mlops.py): a d×w Count-Min sketch (Cormode & Muthukrishnan
    2005) per event-time window, probed at the ``probes`` watch list
    (the contract keys an operator cares about — top domains, known
    crawl hosts — shipped as literals exactly like
    windowed_source_mix's source list), with the classic φ-heavy
    rule: alert when the sketch estimate exceeds ``min_share``·n.

    CM probe identity that keeps state sketch-SIZED without storing
    the sketch: est(k) = min_i cnt[i][cell_i(k)], and since probe
    cells are compile-time constants, cnt[i][cell_i(k)] is just the
    conditional sum Σ rows (cell_i(row) == cell_i(k)). So the whole
    job is ONE stateful aggregation — |probes|·d conditional sums +
    n inside a single groupBy(window) — followed by a stateless
    least()/threshold projection. State per window is one row of
    |probes|·d + 1 longs regardless of stream volume or key
    cardinality; the watermark frees it once the window closes.
    Estimates keep CM's one-sided guarantee (est ≥ exact count of the
    probe in that window — collisions only ADD), asserted in the twin
    test.

    Same batch-twin equality contract as every job in this module:
    all state is arrival-order-free conditional counts, so the
    streamed result equals the same function on the batch union of
    the micro-batches bit for bit (counts are exact longs; the share
    threshold is one deterministic row-level double compare).

    Hash family: md5(i: ∥ key) → first 12 hex chars → mod w — the
    same row-salted cell derivation as the batch sketch family
    (suite/mlops.py::_cm_cell), so a batch backfill and the streaming
    alert agree on cells.
    """
    import hashlib

    from city_payroll_data_pipeline_spark.functions.text import hex_to_long

    if not probes:
        raise ValueError("windowed_heavy_hitters: probes must be non-empty")

    def cell(tok: F.Column, i: int) -> F.Column:
        return F.pmod(
            hex_to_long(
                F.substring(F.md5(F.concat(F.lit(f"{i}:"), tok)), 1, 12)
            ),
            F.lit(w),
        )

    # probe cells precomputed driver-side with the identical formula —
    # md5 of the same bytes, first 12 hex chars, mod w
    probe_cells = [
        [
            int(hashlib.md5(f"{i}:{p}".encode()).hexdigest()[:12], 16) % w
            for i in range(d)
        ]
        for p in probes
    ]
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    k = F.col(key_col)
    row_cells = [cell(k, i) for i in range(d)]
    sums = [
        F.sum((row_cells[i] == F.lit(probe_cells[j][i])).cast("long")).alias(
            f"c{j}_{i}"
        )
        for j in range(len(probes))
        for i in range(d)
    ]
    agg = src.groupBy(F.window(ts_col, window).alias("win")).agg(
        F.count("*").alias("n"), *sums
    )
    ests = [
        F.least(*[F.col(f"c{j}_{i}") for i in range(d)])
        for j in range(len(probes))
    ]
    out = [F.col("win.start").alias("window_start"),
           F.col("win.end").alias("window_end"), F.col("n")]
    for j in range(len(probes)):
        out.append(ests[j].alias(f"est_{j}"))
        out.append(
            (ests[j].cast("double") > F.lit(min_share) * F.col("n"))
            .cast("int")
            .alias(f"heavy_{j}")
        )
    n_heavy_expr = None
    for j in range(len(probes)):
        t = (ests[j].cast("double") > F.lit(min_share) * F.col("n")).cast(
            "int"
        )
        n_heavy_expr = t if n_heavy_expr is None else n_heavy_expr + t
    out.append(n_heavy_expr.alias("n_heavy"))
    return agg.select(*out)


def streaming_quality_gate(
    df: DataFrame,
    text_col: str,
    source_col: str,
    ts_col: str,
    weights: tuple[float, float, float, float],
    threshold: float = 0.5,
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Fourteenth job: the DEPLOY half of the trained quality gate —
    ``quality_probe_train`` (suite/textops.py) fits the ridge probe in
    batch; this applies the shipped model to the live document feed
    and reports per (window, source) funnel health: docs seen, docs
    kept, kept share, kept char mass. The monitoring question it
    answers is the one every ingestion owner asks after deploying a
    filter: "what fraction of each feed is the gate now dropping,
    and did that jump this window?"

    ``weights`` = (w0, w1, w2, w3) — intercept + coefficients over
    the SAME integer feature grid the batch probe trains on (capped
    length f1, type-token ratio f2, top-token repetition f3, all
    0..100), computed here per-row as a map-side array fold instead
    of the batch side's explode + groupBy — identical values, zero
    pre-aggregation shuffle. A production pipeline exports
    w_j = det_j/det from the batch solve as plain doubles; the
    keep rule is w0 + w1·f1 + w2·f2 + w3·f3 >= threshold.

    Zero-word documents are dropped up front (stateless filter) —
    the batch probe's feature frame has no such rows either (its
    per-word groupBy never emits them), so the two halves share one
    domain.

    Batch-twin contract (module-wide): every output column is an
    arrival-order-free conditional sum over per-row deterministic
    ops (the score is a fixed left-associated double expression), so
    the streamed result equals the same function on the batch union
    of the micro-batches bit for bit. State per (window, source) is
    four longs; the watermark frees closed windows.
    """
    from city_payroll_data_pipeline_spark.functions.text import word_tokens

    w0, w1, w2, w3 = weights
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    t = F.col(text_col)
    featured = (
        src.withColumn("_ws", word_tokens(t))
        .withColumn("_nw", F.size("_ws").cast("long"))
        .filter(F.col("_nw") > 0)
        .withColumn("_nd", F.size(F.array_distinct("_ws")).cast("long"))
        .withColumn(
            "_tc",
            F.expr(
                "CAST(array_max(transform(array_distinct(_ws),"
                " w -> size(filter(_ws, x -> x = w)))) AS BIGINT)"
            ),
        )
        .withColumn("_f1", F.least(F.col("_nw"), F.lit(100).cast("long")))
        .withColumn("_f2", F.expr("100 * _nd div _nw"))
        .withColumn(
            "_f3",
            F.least(F.expr("1000 * _tc div _nw"), F.lit(100).cast("long")),
        )
        .withColumn(
            "_keep",
            (
                F.lit(float(w0))
                + F.lit(float(w1)) * F.col("_f1").cast("double")
                + F.lit(float(w2)) * F.col("_f2").cast("double")
                + F.lit(float(w3)) * F.col("_f3").cast("double")
                >= F.lit(float(threshold))
            ).cast("long"),
        )
    )
    agg = featured.groupBy(
        F.window(ts_col, window).alias("win"), F.col(source_col)
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("_keep").alias("n_keep"),
        F.sum(F.when(F.col("_keep") == 1, F.length(t)).otherwise(0)).alias(
            "kept_chars"
        ),
    )
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        F.col(source_col),
        "n_docs",
        "n_keep",
        (
            F.col("n_keep").cast("double") / F.col("n_docs").cast("double")
        ).alias("kept_share"),
        "kept_chars",
    )
