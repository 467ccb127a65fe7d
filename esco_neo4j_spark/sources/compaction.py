"""Small-file compaction for parquet tables — the table-maintenance op
every long-lived ingest needs (streaming sinks, micro-batch upserts and
per-shard writes all accrete small files; at 100 TB the file count, not
the byte count, is what kills scan planning and NameNode/listing calls).

Spark-first shape: the compaction plan derives from FILE METADATA only
(sizes from a directory listing — the same information a table format's
manifest carries), the rewrite is one ``repartition(n)`` pass sized so
output files land near ``target_bytes``, and the swap is
sources/merge.swap_in, shared with the merge/upsert family (recovery at
entry, so a crash mid-swap never reads as a missing table). Row identity is
exactly preserved — compaction is physical layout only.

At scale: run per partition directory (hive layouts compact each
``key=value`` dir independently and in parallel); the planner is pure
metadata, so a maintenance job can scan a million-partition table and
rewrite only directories whose small-file count crosses the threshold.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from esco_neo4j_spark.sources.merge import recover_swap, swap_in


def compaction_plan(
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Metadata-only compaction decision for ONE parquet directory:
    returns {'n_files', 'total_bytes', 'n_output', 'worth_it'} —
    ``worth_it`` when the directory holds more than ``min_files`` files
    AND more files than the byte-optimal count. Pure listing, no Spark
    job."""
    files = [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet")
    ]
    total = sum(os.stat(f).st_size for f in files)
    n_out = max(1, -(-total // target_bytes))  # ceil div
    return {
        "n_files": len(files),
        "total_bytes": total,
        "n_output": int(n_out),
        "worth_it": len(files) > max(min_files, n_out),
    }


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Compact one parquet directory to ~``target_bytes`` files via a
    single repartition rewrite + crash-safe ``swap_in``. No-op (and says
    so) when the plan isn't worth it. Returns the plan with
    'compacted': bool and the row count (verified equal before the
    swap — a compaction that changes row count must never land)."""
    recover_swap(path)
    plan = compaction_plan(path, target_bytes, min_files)
    if not plan["worth_it"]:
        return {**plan, "compacted": False}
    df: DataFrame = spark.read.parquet(path)
    n_before = df.count()

    def write(tmp: str) -> None:
        df.repartition(plan["n_output"]).write.mode("overwrite").parquet(tmp)
        n_after = spark.read.parquet(tmp).count()
        if n_after != n_before:  # never land a lossy rewrite
            raise RuntimeError(
                f"compaction row-count mismatch: {n_before} -> {n_after}"
            )

    swap_in(path, write)
    return {**plan, "compacted": True, "rows": n_before}


def compact_partitioned(
    spark: SparkSession,
    root: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Compact every ``key=value`` partition directory under ``root``
    independently (the hive-layout maintenance sweep — each directory
    is its own bounded rewrite, trivially parallel across a fleet).
    Returns {partition_dir_name: per-dir result}."""
    out = {}
    for name in sorted(os.listdir(root)):
        sub = os.path.join(root, name)
        if os.path.isdir(sub) and "=" in name:
            out[name] = compact_parquet(spark, sub, target_bytes, min_files)
    return out
