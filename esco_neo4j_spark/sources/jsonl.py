"""JSONL (newline-delimited JSON) source + sink — the interchange format
LLM training corpora actually arrive in (one document object per line,
gzip-splittable per file).

Design rules for 100 TB:

- **Reads REQUIRE an explicit schema.** Spark's JSON schema inference is a
  full extra pass over the data (every byte parsed twice); at corpus scale
  that doubles ingest cost and silently widens types when late files
  disagree. ``infer_jsonl_schema`` exists for interactive exploration and
  samples a bounded prefix instead of the whole dataset.
- **Permissive-with-quarantine parsing.** Corrupt lines land in
  ``_corrupt_record`` instead of failing the job (mode=PERMISSIVE); the
  caller splits them off with ``quarantine_corrupt`` and writes them to a
  dead-letter path — at a billion lines there WILL be truncated records,
  and a 99.999%-good ingest must not die at line 7e8.
- **Sink never coalesces to one file** — per-partition files parallelize
  the write and the next read; small-file hygiene is compaction's job
  (sources/compaction.py:compact_parquet), not the writer's.

The reference ingests CSV only (src/esco_ingest.py:80-91); JSONL is an
extension mirroring its A1 scan + A10 JSON-sink surface at dataset scale
(its A10 writes a single ``json.dumps`` of collected rows — fine for CLI
results, not for tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    keep_corrupt: bool = True,
) -> DataFrame:
    """Read newline-delimited JSON with a pinned schema (PERMISSIVE mode).

    The returned frame carries ``_corrupt_record`` (null for clean rows)
    when ``keep_corrupt`` — pass it to ``quarantine_corrupt`` to split.
    """
    full = schema
    if keep_corrupt and CORRUPT_COL not in schema.fieldNames():
        from pyspark.sql.types import StringType, StructField

        full = StructType(
            list(schema.fields) + [StructField(CORRUPT_COL, StringType())]
        )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def quarantine_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE read into (clean_without_corrupt_col, corrupt).

    Spark disallows filtering on the corrupt column of a raw JSON scan
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the parse must be materialized
    first, so the split caches the parsed frame. That cache is the
    dead-letter pattern's real cost and it is bounded: one pass of the
    ingest batch, unpersisted by the caller after both sides are written.
    """
    if CORRUPT_COL not in df.columns:
        return df, df.limit(0)
    df = df.cache()
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    corrupt = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return clean, corrupt


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write one JSON object per line, one file per partition (splittable
    re-read, parallel write); ``ignoreNullFields=false`` keeps explicit
    nulls so a round-trip preserves the schema's nullable columns."""
    (
        df.write.mode(mode)
        .option("ignoreNullFields", "false")
        .json(path)
    )


def infer_jsonl_schema(
    spark: SparkSession, path: str, sample_ratio: float = 0.1
) -> StructType:
    """Exploration helper: infer a schema from a SAMPLE of the lines
    (samplingRatio bounds the inference pass; still a read — do not use
    in production pipelines, pin the schema instead)."""
    return (
        spark.read.option("samplingRatio", str(sample_ratio))
        .json(path)
        .schema
    )
