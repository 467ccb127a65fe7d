"""Streaming near-duplicate gate: incremental MinHash dedup on ingest.

The batch dedup family answers "which documents in this corpus are
near-dups"; a production ingestion pipeline asks the INCREMENTAL form on
every arriving micro-batch: "is this new document a near-dup of anything
already accepted?" — and must never re-deduplicate the world
(operators/dedup.minhash_incremental_pairs is the batch face of the same
idea). This module is the Structured Streaming face:

- a persistent BAND INDEX (parquet) holds, for every accepted document,
  its banded MinHash keys and its shingle set;
- each micro-batch computes signatures for its documents, probes the
  index with the banded equi-join (plus a within-batch self-join that
  collapses each batch near-dup cluster to its min id), verifies
  candidates with exact shingle Jaccard, and writes only SURVIVORS to
  the output and to the index;
- a survivor whose key is new to a table is APPENDED to it; one whose
  key is already there (a replayed batch, or an accepted doc_id re-sent
  with new text) goes through the keyed upsert (sources/merge.py), so
  the update wins. Self-pairs are excluded from the probe, so a replayed
  micro-batch reaches the same decisions against a partially-updated
  index — effectively-once on foreachBatch's at-least-once delivery,
  the same recipe as upsert_sink/cms_sketch_sink. An interrupted upsert
  swap is recovered at entry (sources/merge.recover_swap).

Scale shape: per batch, work = |batch| x bucket width (banded equi-join
against the index; the index side is read pruned to the probe's band
keys by the join), never |corpus|^2. The write cost is |survivors| plus
one key-column read per table (the "already present" check); the
accepted corpus is rewritten only when a batch re-sends present keys.
The index grows linearly with the ACCEPTED corpus; at 100 TB it would
be bucketed/partitioned by band_key so each micro-batch's probe prunes
to matching files.

Maintenance: each append adds files to every table (one per written
partition, one per batch at micro-batch sizes). Compact the three
tables (``out_path``, ``index_dir``/docs and ``index_dir``/bands) with
sources/compaction.compact_parquet between batches; compaction changes
layout only, never a gate decision.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esco_neo4j_spark.operators.dedup import (
    _banded_keys,
    _minhash_sig_from_hashed,
    md5_int28,
    shingled,
)
from esco_neo4j_spark.sources.merge import recover_swap, upsert_parquet


def _paths(index_dir: str) -> tuple[str, str]:
    return os.path.join(index_dir, "bands"), os.path.join(index_dir, "docs")


def process_neardup_batch(
    batch_df: DataFrame,
    index_dir: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = 64,
) -> int:
    """Process ONE micro-batch through the near-dup gate; returns the
    survivor count. Public so tests (and backfills) can drive batches
    without a streaming query. Semantics: a batch document is dropped
    iff it has a verified partner (exact shingle Jaccard >= threshold
    among banded candidates) that is either (a) any already-accepted
    index document, or (b) a SMALLER-id document of the same batch —
    i.e. each within-batch near-dup cluster keeps its min id, exactly
    the pair semantics of minhash_incremental_pairs' output."""
    bands_path, docs_path = _paths(index_dir)
    spark = batch_df.sparkSession
    rows_per_band = num_hashes // bands
    for path in (out_path, docs_path, bands_path):
        recover_swap(path)
    # the tables as they stand before this batch (a read pins the file
    # list, so the probe and the key checks below never see its writes)
    base = {
        path: spark.read.parquet(path)
        for path in (out_path, docs_path, bands_path)
        if os.path.exists(path)
    }

    # a null id never pairs (every probe predicate is null) and is never
    # written (the survivor semi-joins drop it): leave it out up front
    batch = (
        batch_df.dropDuplicates([id_col])
        .filter(F.col(id_col).isNotNull())
        .localCheckpoint(eager=True)
    )
    # several probes and writes below: materialize each stage once
    sh = shingled(batch, text_col, id_col, shingle_n).localCheckpoint(eager=True)
    hashed = sh.select("id", F.transform("sh", md5_int28).alias("hs"))
    sigs = _minhash_sig_from_hashed(hashed, num_hashes)
    banded = _banded_keys(sigs, bands, rows_per_band, max_bucket)
    banded = banded.localCheckpoint(eager=True)

    def verified(cands: DataFrame, other_sh: DataFrame) -> DataFrame:
        """(id_new, id_other) candidates -> distinct dup id_new after the
        exact-Jaccard verify."""
        inter = F.size(F.array_intersect("sa", "sb")).cast("double")
        union = F.size(F.array_union("sa", "sb")).cast("double")
        return (
            cands.join(
                sh.select(F.col("id").alias("id_new"), F.col("sh").alias("sa")),
                "id_new",
            )
            .join(
                other_sh.select(
                    F.col("id").alias("id_other"), F.col("sh").alias("sb")
                ),
                "id_other",
            )
            .filter(F.round(inter / union, 6) >= threshold)
            .select("id_new")
            .distinct()
        )

    dup_ids = None
    if bands_path in base:
        base_bands, base_docs = base[bands_path], base[docs_path]
        cand_base = (
            banded.alias("a")
            .join(
                base_bands.alias("b"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                # self-exclusion makes a REPLAYED batch (whose survivors
                # already sit in the index) reach the same decisions
                & (F.col("a.id") != F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_new"), F.col("b.id").alias("id_other")
            )
            .distinct()
        )
        dup_ids = verified(cand_base, base_docs)
    # within-batch: the LARGER id of a verified pair drops
    cand_in = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") > F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_new"), F.col("b.id").alias("id_other"))
        .distinct()
    )
    dup_in = verified(cand_in, sh)
    dup_ids = dup_in if dup_ids is None else dup_ids.union(dup_in).distinct()

    survivor_ids = (
        sh.select("id").join(dup_ids, sh["id"] == dup_ids["id_new"], "left_anti")
    )
    # materialize BEFORE the writes: the appends and upserts below change
    # the tables the probe read, and a lazy survivor_ids would re-read
    # them mid-write (an upsert swap renames the directory away)
    survivor_ids = survivor_ids.localCheckpoint(eager=True)
    survivors = batch.join(
        survivor_ids.withColumnRenamed("id", id_col), id_col, "left_semi"
    )
    s_sh = sh.join(survivor_ids.select("id"), "id", "left_semi")
    s_bands = banded.join(survivor_ids.select("id"), "id", "left_semi")

    def write(path: str, df: DataFrame, keys: list[str]) -> None:
        """Append the rows whose key is new to the table; upsert the rest
        (update wins, as on a replay)."""
        table = base.get(path)
        if table is not None:
            if table.schema.simpleString() != df.schema.simpleString():
                # new or retyped columns: the upsert evolves the schema
                upsert_parquet(spark, path, df, keys)
                return
            present = df.join(table.select(*keys), keys, "left_semi")
            if not present.isEmpty():
                # fix the split before writing: once the upsert swaps the
                # table, a lazy ``present`` would re-read it
                present = present.localCheckpoint(eager=True)
                upsert_parquet(spark, path, present, keys)
                df = df.join(present.select(*keys), keys, "left_anti")
        df.write.mode("append").parquet(path)

    write(out_path, survivors, [id_col])
    write(docs_path, s_sh, ["id"])
    write(bands_path, s_bands, ["id", "band_id"])
    return survivor_ids.count()


def neardup_gate_sink(
    stream_docs: DataFrame,
    index_dir: str,
    out_path: str,
    checkpoint: str,
    **kwargs,
):
    """foreachBatch wrapper over process_neardup_batch: accepted (non-
    near-dup) documents land in ``out_path``, and the band index under
    ``index_dir`` advances, one set of appends (and upserts for keys
    already present) per micro-batch. Returns the started
    StreamingQuery."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        process_neardup_batch(batch_df, index_dir, out_path, **kwargs)

    return (
        stream_docs.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
