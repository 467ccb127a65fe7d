"""Small-file compaction: row identity, file-count reduction, no-op
detection, partitioned sweep, crash-safety (shares recover_swap)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from esco_neo4j_spark.sources.compaction import (
    compact_parquet,
    compact_partitioned,
    compaction_plan,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _fragmented(spark, tmp_path, n_files=16):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    path = str(tmp_path / "frag")
    docs.repartition(n_files).write.mode("overwrite").parquet(path)
    return docs, path


def test_compaction_preserves_rows_and_reduces_files(spark, tmp_path):
    docs, path = _fragmented(spark, tmp_path)
    before = {tuple(r) for r in spark.read.parquet(path).collect()}
    n_small = compaction_plan(path)["n_files"]
    assert n_small >= 16
    res = compact_parquet(spark, path, target_bytes=64 * 1024 * 1024)
    assert res["compacted"] and res["rows"] == len(before)
    after_files = compaction_plan(path)["n_files"]
    assert after_files < n_small and after_files == res["n_output"]
    after = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert after == before
    # the swap leaves no scratch dirs behind
    assert not os.path.exists(path + "__merging")
    assert not os.path.exists(path + "__old")


def test_compaction_noop_when_already_compact(spark, tmp_path):
    docs, path = _fragmented(spark, tmp_path, n_files=1)
    res = compact_parquet(spark, path)
    assert not res["compacted"]
    assert compaction_plan(path)["n_files"] == 1


def test_compaction_recovers_interrupted_swap(spark, tmp_path):
    """Dying between the two renames must not lose the table: the next
    compaction (or any recover_swap caller) rolls forward/back first."""
    docs, path = _fragmented(spark, tmp_path, n_files=8)
    want = spark.read.parquet(path).count()
    # simulate the crash window: fully-written new table in __merging,
    # live table renamed away
    os.rename(path, path + "__old")
    spark.read.parquet(path + "__old").coalesce(1).write.parquet(
        path + "__merging"
    )
    res = compact_parquet(spark, path, target_bytes=64 * 1024 * 1024)
    assert spark.read.parquet(path).count() == want
    assert not os.path.exists(path + "__old")
    assert not os.path.exists(path + "__merging")
    assert res["n_files"] >= 1  # plan ran on the recovered table


def test_partitioned_sweep_compacts_each_partition(spark, tmp_path):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    root = str(tmp_path / "hive")
    (
        docs.withColumn("part", (F.col("doc_id") % 3).cast("int"))
        .repartition(12)
        .write.partitionBy("part")
        .mode("overwrite")
        .parquet(root)
    )
    before = {tuple(r) for r in spark.read.parquet(root).collect()}
    res = compact_partitioned(spark, root, target_bytes=64 * 1024 * 1024)
    assert set(res) == {"part=0", "part=1", "part=2"}
    assert all(v["compacted"] for v in res.values())
    after = {tuple(r) for r in spark.read.parquet(root).collect()}
    assert after == before


def test_compaction_composes_with_streamed_shards(spark, tmp_path):
    """Maintenance story end-to-end: a streamed shard store accretes
    per-batch files; the partitioned compaction sweep rewrites each
    shard directory, and the landed-file manifest still verifies (the
    manifest certifies CONTENT, which compaction must not change)."""
    from esco_neo4j_spark.sources.shards import verify_shards
    from esco_neo4j_spark.streaming.shards import process_shard_batch

    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
            (F.col("doc_id") % 3).cast("int").alias("shard_id"),
        )
        .filter("doc_id < 300")
    )
    out = str(tmp_path / "shards")
    for i in range(4):  # four micro-batches -> many small files
        process_shard_batch(docs.filter(f"doc_id % 4 = {i}"), out)
    assert verify_shards(spark, out)["ok"]
    res = compact_partitioned(spark, out, target_bytes=64 * 1024 * 1024)
    assert set(res) == {"shard_id=0", "shard_id=1", "shard_id=2"}
    assert verify_shards(spark, out)["ok"], "compaction broke the manifest"
