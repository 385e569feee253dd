"""Readers (SURVEY §2.1 S1-S3, S6).

All CSV ingest is schema-on-read with every column string
(reference ``all_varchar=True``, stg_corporate.sql:44) — no inference
pass, which matters at 100 TB (inference = a full extra scan) and
guarantees stable schemas across uploads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from city_payroll_data_pipeline_spark.schemas import (
    all_string_schema,
    normalize_columns,
)


def read_csv_all_string(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    normalize_names: bool = False,
) -> DataFrame:
    """S1/S2: CSV scan, header row, quote='"', every column StringType.

    ``columns``: known header list → explicit schema (preferred; zero
    inference). The file's header must name exactly these columns in
    this order (``enforceSchema=false``): a swapped or missing column
    fails the scan with "CSV header does not conform to the schema"
    instead of silently shifting values into the wrong fields.
    Otherwise headers are taken from the file but types stay string
    (Spark's default without inferSchema).
    ``normalize_names``: DuckDB-style header normalization (S2,
    stg_hospital.sql:28).
    """
    reader = (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("enforceSchema", False)
    )
    if columns is not None:
        df = reader.schema(all_string_schema(columns)).csv(path)
    else:
        df = reader.csv(path)
    return normalize_columns(df) if normalize_names else df


def read_parquet(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Parquet scan — Catalyst pushes filters/column pruning into the
    scan (check ``PushedFilters`` / ``ReadSchema`` in .explain).

    ``merge_schema=True``: reconcile evolved schemas across files
    (columns added over time surface as NULL in older files) — the
    long-lived-dataset read mode. Off by default: schema merging
    footer-reads every file at planning time, a real cost at 100 TB
    file counts; datasets with settled schemas should skip it."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the other columnar lake format (Hive-ecosystem
    interchange). Same pushdown story as parquet: Catalyst pushes
    predicates and column pruning into the scan, and ORC's stripe-level
    min/max indexes serve data skipping."""
    return spark.read.orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw media ingestion: every file under ``path`` as one row
    (path, modificationTime, length, content: binary) via Spark's
    built-in ``binaryFile`` source — the entry point of the multimodal
    pipeline (functions/multimodal.py consumes exactly this shape).

    * ``glob`` filters by filename pattern scan-side
      (``pathGlobFilter``, e.g. ``"*.png"``) — non-matching files are
      never opened.
    * ``max_bytes`` guards the executor: binaryFile loads each file
      whole into one row, so a stray multi-GB blob would OOM a task.
      The filter runs on the ``length`` metadata column BEFORE content
      is materialized for downstream operators; oversized assets
      belong on the chunked path (media_chunk_plan) instead.

    Scale: one file = one row = one task-splittable unit; Spark
    parallelizes over files, so ingest bandwidth scales with executor
    count. Pair with compact_parquet after writing — millions of tiny
    media files should land as few large parquet files of
    (path, meta, content)."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    keep_corrupt: bool = False,
) -> DataFrame:
    """JSON-lines reader — the interchange format of corpus pipelines
    (one document object per line; gzip/zstd handled transparently by
    the codec layer). Pass an explicit DDL ``schema`` in production:
    like CSV inference, sampling-based JSON schema inference is a full
    extra scan at 100 TB and can mis-type sparse fields.

    ``keep_corrupt=True``: PERMISSIVE quarantine — malformed lines
    surface as rows with every data field NULL and the raw line in
    ``_corrupt_record`` instead of killing the job (one bad line in
    100 TB must not fail the ingest) or silently vanishing
    (DROPMALFORMED). Route them with
    ``df.filter("_corrupt_record IS NOT NULL")`` to a quarantine sink
    — same reason-routing philosophy as operators/quality.py. Requires
    an explicit ``schema`` (the corrupt column must be declared, not
    inferred)."""
    reader = spark.read
    if keep_corrupt:
        if schema is None:
            raise ValueError("keep_corrupt=True requires an explicit schema")
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        )
        schema = schema + ", _corrupt_record string"
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
