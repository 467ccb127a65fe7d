"""Streaming face of the training-shard sink (r6 verdict item 5).

``sources/shards.py`` lands a sharded corpus in one batch write; a live
training-data pipeline lands shards CONTINUOUSLY — documents arrive on a
stream already carrying their shard assignment (text_global_shuffle's
deterministic md5-salted order, or any upstream bucketing), and the shard
store plus its integrity manifest must stay consistent after every
micro-batch, across replays, and across crashes.

Design (the upsert_sink recipe, per shard partition):

- the store keeps the batch sink's hive layout (``shard_col=K/`` dirs +
  ``_SHARDS_MANIFEST.json``), so ``read_shard`` and ``verify_shards``
  work unchanged on a streamed corpus;
- each micro-batch touches ONLY the shard partitions present in it:
  per touched shard, a keyed upsert (sources/merge.py — full-outer on
  the id, crash-safe rename swap) makes a REPLAYED batch rewrite
  identical rows — effectively-once on foreachBatch's at-least-once
  delivery. Untouched shard directories are never read or written; at
  100 TB a micro-batch costs O(batch + touched shards), not O(corpus);
- the manifest entry for each touched shard is recomputed FROM THE
  LANDED FILES after the upsert (the batch sink's certify-what-is-on-
  disk contract — a lost partition or failed retry shows up as a count
  mismatch at verify time, not in a training run later); untouched
  entries carry over from the previous manifest, so manifest
  maintenance is also O(touched shards);
- interrupted swaps are recovered at entry (sources/merge.recover_swap)
  — a crash mid-swap must not read as an empty shard.

Stream == batch contract (pinned in tests/test_streaming.py): after any
sequence of micro-batches (including a replay), the store's rows AND its
manifest equal write_token_shards over the union of the batches, and
verify_shards passes — while tampering still fails it.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esco_neo4j_spark.sources.merge import recover_swap, upsert_parquet
from esco_neo4j_spark.sources.shards import MANIFEST_NAME


def process_shard_batch(
    batch_df: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    shard_col: str = "shard_id",
    tokens_col: str = "n_tokens",
) -> dict:
    """Ingest ONE micro-batch into the hive-partitioned shard store and
    return the updated manifest. Public so tests and backfills can drive
    batches without a streaming query (same convention as
    process_vector_batch)."""
    spark = batch_df.sparkSession
    os.makedirs(out_dir, exist_ok=True)
    batch = batch_df.dropDuplicates([id_col]).filter(
        F.col(shard_col).isNotNull()
    )
    # the touched-shard list is bounded by the configured shard count
    # (the same bounded-collect contract as the IVF cells table)
    touched = sorted(
        r[0] for r in batch.select(shard_col).distinct().collect()
    )
    manifest_path = os.path.join(out_dir, MANIFEST_NAME)
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        shards = dict(manifest.get("shards", {}))
    else:
        shards = {}
    for s in touched:
        part_dir = os.path.join(out_dir, f"{shard_col}={int(s)}")
        recover_swap(part_dir)
        rows = batch.filter(F.col(shard_col) == s).drop(shard_col)
        # pin before the rename swap (a lazy frame would re-read the
        # directory mid-replacement — the dedup-gate hazard)
        rows = rows.localCheckpoint(eager=True)
        upsert_parquet(spark, part_dir, rows, [id_col])
        # manifest entry recomputed from the LANDED partition
        landed = spark.read.parquet(part_dir)
        agg = landed.agg(
            F.count("*").cast("bigint").alias("docs"),
            F.sum(tokens_col).cast("bigint").alias("tokens"),
        ).first()
        shards[str(int(s))] = {"docs": agg["docs"], "tokens": agg["tokens"]}
    manifest = {
        "shards": {k: shards[k] for k in sorted(shards, key=int)},
        "n_shards": len(shards),
        "total_docs": sum(v["docs"] for v in shards.values()),
        "total_tokens": sum(v["tokens"] for v in shards.values()),
        "shard_col": shard_col,
        "tokens_col": tokens_col,
    }
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, manifest_path)  # atomic on POSIX
    return manifest


def token_shard_sink(
    stream_docs: DataFrame,
    out_dir: str,
    checkpoint: str,
    **kwargs,
):
    """foreachBatch wrapper over process_shard_batch. Returns the
    started StreamingQuery."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        process_shard_batch(batch_df, out_dir, **kwargs)

    return (
        stream_docs.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
