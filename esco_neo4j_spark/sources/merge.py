"""Incremental upsert (MERGE INTO semantics) for parquet node tables.

The reference upserts every batch: ``MERGE (n:L {conceptUri:$k}) SET n +=
$props`` (reference: src/esco_ingest.py:93-171) — insert if the key is
new, overwrite provided properties if it exists. Our ingest maps the
initial load to a bulk overwrite (sources/esco.py); this module is the
INCREMENTAL path a living warehouse needs: merge an updates batch into an
existing parquet table without rewriting history by hand.

Set-oriented semantics (one full-outer join on the key — the only
shuffle):
- key only in base    -> base row unchanged
- key only in updates -> row inserted
- key in both         -> update row wins for every column the updates
  DataFrame carries (including explicit nulls — ``SET n += {p: null}``
  overwrites in the reference too); base-only columns are carried over.

Scale notes (100 TB): a full-outer merge reads + rewrites the whole
table, which is the correct baseline when updates touch most partitions.
When updates are sparse and the table is partitioned, filter the base to
affected partitions and use dynamic partition overwrite instead; a
transactional table format (e.g. Delta's MERGE INTO) buys the same plan
plus snapshot isolation. The join itself should broadcast when the
updates batch is small — Spark's AQE decides from the actual batch size.

Every whole-table rewrite in the engine (this upsert, compaction, the
translate write-back, the ANN and streaming index maintainers) goes
through ``swap_in``, the one crash-safe swap: the new table is fully
written aside into ``<path>__merging``, the live table renamed to
``<path>__old``, the new one promoted, the old dropped — a complete copy
exists on disk at every point in the sequence. ``recover_swap`` finishes
or undoes a swap a crash interrupted.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def merge_upsert(base: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Pure MERGE: returns base upserted with updates (update wins per key).

    Updates are deduped on the key (last occurrence by input order is NOT
    defined in a distributed read, so callers with intra-batch dup keys
    must pre-resolve them — same contract as the reference's MERGE, where
    a batch with duplicate conceptUri rows hits the same node twice in
    unspecified order).
    """
    upd = updates.dropDuplicates(keys)
    # presence flag instead of coalesce-on-key: an update row must win
    # even where it carries explicit nulls
    upd_flag = upd.withColumn("__is_upd", F.lit(True))
    joined = base.alias("b").join(upd_flag.alias("u"), keys, "full_outer")
    cols = []
    for c in base.columns:
        if c in keys:
            cols.append(F.coalesce(F.col(f"b.{c}"), F.col(f"u.{c}")).alias(c))
        elif c in upd.columns:
            cols.append(
                F.when(F.col("u.__is_upd"), F.col(f"u.{c}"))
                .otherwise(F.col(f"b.{c}"))
                .alias(c)
            )
        else:
            cols.append(F.col(f"b.{c}").alias(c))
    # columns new in updates (schema evolution): null for untouched rows
    for c in upd.columns:
        if c not in base.columns:
            cols.append(F.col(f"u.{c}").alias(c))
    return joined.select(*cols)


def upsert_parquet(
    spark: SparkSession, path: str, updates: DataFrame, keys: list[str]
) -> None:
    """Merge ``updates`` into the parquet table at ``path`` in place
    (``swap_in``). A missing table is created from the deduplicated
    updates."""

    def write(tmp: str) -> None:
        if os.path.exists(path):
            merged = merge_upsert(spark.read.parquet(path), updates, keys)
        else:
            merged = updates.dropDuplicates(keys)
        merged.write.mode("overwrite").parquet(tmp)

    swap_in(path, write)


def swap_in(path: str, write: Callable[[str], None]) -> None:
    """Replace the table at ``path`` (or create it) crash-safely.

    ``write(tmp)`` writes the complete new table into the scratch
    directory ``tmp``; it may read the live table. An interrupted swap is
    finished first (``recover_swap``, which also clears stale scratch
    dirs). If ``write`` raises, the scratch dir is removed and the live
    table is untouched — a partial write is never promoted. Otherwise the
    live table is renamed to ``__old``, the scratch dir promoted and
    ``__old`` dropped."""
    tmp, old = path + "__merging", path + "__old"
    recover_swap(path)
    try:
        write(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if os.path.exists(path):
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
    else:
        os.rename(tmp, path)


def recover_swap(path: str) -> None:
    """Complete or roll back an interrupted rename-swap on ``path``.

    The swap's one unsafe window is between ``swap_in``'s two renames
    (``path -> old``, ``tmp -> path``): the table is absent while ``tmp``
    (fully written — the write always completes before the first rename)
    and ``old`` (the previous table) still exist. Every reader/ingester of a
    swapped table calls this first, otherwise a crash in that window
    reads as "no table" and a fresh write silently replaces the corpus
    with one batch. Roll FORWARD to ``tmp`` when present, else roll BACK
    to ``old``; once the table exists, leftover scratch dirs are stale
    and removed."""
    tmp, old = path + "__merging", path + "__old"
    if not os.path.exists(path):
        if os.path.exists(tmp):
            os.rename(tmp, path)
        elif os.path.exists(old):
            os.rename(old, path)
    if os.path.exists(path):
        for d in (tmp, old):
            if os.path.exists(d):
                shutil.rmtree(d)
