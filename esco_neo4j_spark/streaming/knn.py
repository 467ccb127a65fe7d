"""Incremental kNN-graph maintenance: the streaming face of the
substrate (r7, extends the r6-verdict kNN items).

``lsh_knn_graph`` builds the graph for a CORPUS; a live embedding
pipeline grows the corpus continuously, and rebuilding an N-vector
graph to admit a micro-batch is O(corpus) per trigger. This module
maintains the graph incrementally — the vector twin of
streaming/dedup.py's band index, one level up the stack:

- the hyperplane family is FIXED for the index lifetime (dim, n_planes,
  n_tables, seed — the lsh_topk convention), so a vector's (table,
  bucket) keys never change and the persistent bucket index only ever
  GROWS;
- per batch: band the new vectors (one narrow Arrow pass), candidate
  pairs = new-vs-(existing ∪ new) per (table, bucket) equi-join — the
  new-vs-corpus probe never recomputes corpus-vs-corpus pairs (the
  minhash_incremental_pairs discipline);
- every candidate pair is EXACT-scored on arrival, and each endpoint's
  stored top-k merges with its new pairs. Candidate sets only grow, and
  top-k is monotone under candidate insertion, so stored-top-k ∪
  new-pairs re-ranked IS the top-k over all candidates ever seen — the
  incremental graph equals the batch graph over the union of batches
  (pinned in tests/test_streaming.py, including a replayed batch);
- state (``keyed`` bucket index, ``vectors``, ``edges``) persists as
  keyed-upserted parquet (sources/merge.py — crash-safe swaps, recovery
  at entry). Ingest is INSERT-ONLY: each batch anti-joins against the
  stored vector ids before any candidate work, so a REPLAYED
  micro-batch is a no-op (effectively-once on foreachBatch's
  at-least-once delivery) and a re-arriving id with a CHANGED embedding
  is ignored (first writer wins) instead of mixing stale stored-edge
  scores with a fresh vector — an embedding update is a rebuild, not an
  append.

At 100 TB: per-trigger cost is O(batch x bucket occupancy) candidate
work plus an edges upsert bounded by the affected sources — never a
corpus rebuild. The batch graph's SQ8 pre-rank cap is a THROUGHPUT
device for one-shot builds; the incremental path scores candidates as
they arrive (each batch's candidate set is small), so its contract is
the UNCAPPED batch graph.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esco_neo4j_spark.operators.similarity import (
    _all_buckets_pudf,
    _pair_cosine_pudf,
)
from esco_neo4j_spark.sources.merge import (
    recover_swap,
    swap_in,
    upsert_parquet,
)


def _paths(index_dir: str) -> tuple[str, str, str]:
    return (
        os.path.join(index_dir, "keyed"),
        os.path.join(index_dir, "vectors"),
        os.path.join(index_dir, "edges"),
    )


def process_knn_batch(
    batch_df: DataFrame,
    index_dir: str,
    dim: int,
    k: int = 3,
    n_planes: int = 5,
    n_tables: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Ingest ONE micro-batch of vectors into the kNN graph; returns the
    accepted row count. Public so tests and backfills can drive batches
    without a streaming query (the process_vector_batch convention)."""
    spark = batch_df.sparkSession
    keyed_path, vec_path, edge_path = _paths(index_dir)
    for p in (keyed_path, vec_path, edge_path):
        recover_swap(p)
    batch = (
        batch_df.dropDuplicates([id_col])
        .filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    )
    # INSERT-ONLY contract, enforced up front: ids already in the vector
    # store are dropped before any candidate work. A bit-identical
    # replay is a no-op by construction (not by recomputing identical
    # rows), and a re-arriving id with a CHANGED embedding is ignored
    # rather than silently mixing stale stored-edge scores with a fresh
    # vector (first writer wins — an embedding UPDATE needs an explicit
    # rebuild of the affected rows, it is not an append).
    if os.path.exists(vec_path):
        batch = batch.join(
            spark.read.parquet(vec_path).select("id"), "id", "left_anti"
        )
    batch = batch.localCheckpoint(eager=True)
    n = batch.count()
    if n == 0:
        return 0
    all_buckets = _all_buckets_pudf(dim, n_planes, n_tables, seed)
    new_keyed = batch.select(
        "id", F.posexplode(all_buckets(F.col("v"))).alias("t", "bucket")
    ).localCheckpoint(eager=True)
    have_state = os.path.exists(keyed_path)
    old_keyed = (
        spark.read.parquet(keyed_path)
        if have_state
        else new_keyed.limit(0)
    )
    # candidates: new-vs-(existing + new), per (t, bucket); the corpus
    # side never self-joins again
    probe = new_keyed.select(
        F.col("id").alias("id_a"), "t", "bucket"
    )
    base = (
        old_keyed.unionByName(new_keyed)
        .select(F.col("id").alias("id_b"), "t", "bucket")
    )
    cands = (
        probe.join(base, ["t", "bucket"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    old_vecs = (
        spark.read.parquet(vec_path)
        if os.path.exists(vec_path)
        else batch.limit(0)
    )
    # disjoint by the insert-only gate above — a plain union, no
    # arbitrary-copy dropDuplicates
    allv = old_vecs.unionByName(batch)
    pair_cos = _pair_cosine_pudf()
    scored = (
        cands.join(
            allv.select(F.col("id").alias("id_a"), F.col("v").alias("va")),
            "id_a",
        )
        .join(
            allv.select(F.col("id").alias("id_b"), F.col("v").alias("vb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(pair_cos(F.col("va"), F.col("vb")), 6).alias("score"),
        )
        # both directions: a new pair updates BOTH endpoints' lists
        .select(
            F.inline(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"),
                        F.col("id_b").alias("nbr"),
                        F.col("score").alias("score"),
                    ),
                    F.struct(
                        F.col("id_b").alias("src"),
                        F.col("id_a").alias("nbr"),
                        F.col("score").alias("score"),
                    ),
                )
            )
        )
        .localCheckpoint(eager=True)
    )
    old_edges = (
        spark.read.parquet(edge_path).drop("rk")
        if os.path.exists(edge_path)
        else scored.limit(0)
    )
    affected = scored.select("src").distinct()
    merged = (
        old_edges.join(affected, "src")
        .unionByName(scored)
        .dropDuplicates(["src", "nbr"])
    )
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("nbr"))
    updated = (
        merged.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("src", "nbr", "score", F.col("rk").cast("int").alias("rk"))
        .localCheckpoint(eager=True)
    )
    def write_edges(tmp: str) -> None:
        # upsert replaces each affected src's FULL list: delete-then-
        # insert semantics via an anti-join on src, then append
        merged_edges = updated
        if os.path.exists(edge_path):
            merged_edges = (
                spark.read.parquet(edge_path)
                .join(affected, "src", "left_anti")
                .unionByName(updated)
            )
        merged_edges.write.mode("overwrite").parquet(tmp)

    swap_in(edge_path, write_edges)
    upsert_parquet(spark, keyed_path, new_keyed, ["id", "t"])
    upsert_parquet(spark, vec_path, batch, ["id"])
    return n


def knn_index_sink(
    stream_vecs: DataFrame,
    index_dir: str,
    checkpoint: str,
    dim: int,
    **kwargs,
):
    """foreachBatch wrapper over process_knn_batch. Returns the started
    StreamingQuery."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        process_knn_batch(batch_df, index_dir, dim, **kwargs)

    return (
        stream_vecs.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
