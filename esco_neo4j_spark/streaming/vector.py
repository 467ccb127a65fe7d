"""Streaming vector-index maintenance: incremental IVF ingest + probe.

The batch ANN family (operators/similarity.py) indexes a CORPUS; a
production embedding pipeline asks the INCREMENTAL form: every arriving
micro-batch of vectors must join the index without re-indexing the
world, and probes must see everything accepted so far. This module is
the Structured Streaming face, the vector twin of streaming/dedup.py:

- centroids are FIXED for the index lifetime (trained offline — here,
  deterministic first-k rows, same convention as ivf_assign, so tests
  and oracles can replay them). Per-batch work is ONE narrow
  literal-centroid assignment map over the batch — no join, no shuffle,
  no read of the existing index;
- ``index_dir/assignments`` persists (vec_id, embedding, cell), keyed-
  upserted per batch (sources/merge.py), so a REPLAYED micro-batch
  rewrites identical rows — effectively-once on foreachBatch's
  at-least-once delivery, the upsert_sink recipe;
- ``index_dir/cells`` (per-cell row counts — the stats a planner needs
  to pick nprobe) is recomputed from the upserted assignments, which
  makes it idempotent BY CONSTRUCTION under replay. ``assignments`` is
  one unpartitioned table: a Spark-tier probe filters ``cell`` after a
  full scan, and the counts come from a rescan of it;
- ``ivf_index_probe`` is the read face: nearest ``nprobe`` centroids to
  the query are picked driver-side (k tiny), then the rows of those
  cells re-rank exactly — from a driver-resident copy of
  ``assignments`` when it fits ``driver_tier.MAX_BYTES`` (no Spark
  job), otherwise in a Spark scan filtered on ``cell``.

Stream == batch contract (pinned in tests/test_streaming.py): after any
sequence of micro-batches, ``assignments`` equals
``ivf_assign_with_centroids`` over the union of the batches, and the
probe equals the batch IVF probe on the same corpus + centroids.
"""
from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esco_neo4j_spark.operators import driver_tier, vecfold
from esco_neo4j_spark.operators.similarity import (
    brute_force_topk,
    ivf_assign_with_centroids,
)
from esco_neo4j_spark.sources.merge import (
    recover_swap,
    swap_in,
    upsert_parquet,
)


def _paths(index_dir: str) -> tuple[str, str]:
    return (
        os.path.join(index_dir, "assignments"),
        os.path.join(index_dir, "cells"),
    )


def process_vector_batch(
    batch_df: DataFrame,
    index_dir: str,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Ingest ONE micro-batch of vectors into the IVF index; returns the
    batch's accepted row count. Public so tests and backfills can drive
    batches without a streaming query (same convention as
    process_neardup_batch). Null embeddings are dropped at the gate —
    they can never be probed (NULL cell) and would only occupy index
    rows."""
    spark = batch_df.sparkSession
    assign_path, cells_path = _paths(index_dir)
    # a crash mid-swap (recenter or cells rewrite) must not read as a
    # fresh index — finish or undo the interrupted rename first
    recover_swap(assign_path)
    recover_swap(cells_path)
    batch = batch_df.dropDuplicates([id_col]).filter(
        F.col(vec_col).isNotNull()
    )
    assigned = ivf_assign_with_centroids(batch, centroids, id_col, vec_col)
    # materialize before the rename-swap upsert (same hazard as the
    # dedup gate: a lazy frame re-reads the directory mid-replacement)
    assigned = assigned.localCheckpoint(eager=True)
    n = assigned.count()
    upsert_parquet(spark, assign_path, assigned, [id_col])
    # per-cell stats from the post-upsert table: idempotent under replay
    counts = (
        spark.read.parquet(assign_path)
        .groupBy("cell")
        .agg(F.count("*").cast("bigint").alias("n_vectors"))
    )
    # swapped, not overwritten in place: a process dying mid-write must
    # not leave a corrupt cells table
    swap_in(cells_path, counts.write.mode("overwrite").parquet)
    return n


def ivf_index_sink(
    stream_vecs: DataFrame,
    index_dir: str,
    checkpoint: str,
    centroids: list,
    recenter_threshold: float | None = None,
    **kwargs,
):
    """foreachBatch wrapper over process_vector_batch. Returns the
    started StreamingQuery.

    With ``recenter_threshold`` set, each batch is followed by the
    cell-mass imbalance check (cell_imbalance); crossing the threshold
    triggers recenter_index — offline k-means refresh + full index
    rebuild — and subsequent batches assign against the NEW centroids.
    ``centroids`` is then mutated IN PLACE so the caller's list always
    names the live centroid set (the probe must use the same set the
    index was last built with)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        process_vector_batch(batch_df, index_dir, centroids, **kwargs)
        if recenter_threshold is not None:
            spark = batch_df.sparkSession
            if cell_imbalance(spark, index_dir, len(centroids)) > (
                recenter_threshold
            ):
                centroids[:] = recenter_index(
                    spark,
                    index_dir,
                    k=len(centroids),
                    id_col=kwargs.get("id_col", "vec_id"),
                    vec_col=kwargs.get("vec_col", "embedding"),
                )

    return (
        stream_vecs.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cell_imbalance(spark: SparkSession, index_dir: str, k: int) -> float:
    """Skew signal for the recentering trigger: max cell mass over the
    MEAN mass across all ``k`` configured cells (empty cells count — a
    corpus drifting into one of 8 cells must read as 8.0, not 1.0).
    Reads the bounded ``cells`` stats table (k rows); missing/empty
    index -> 0.0. At 100 TB drift this is the heuristic that bounds
    probe cost: a hot cell is exactly the partition a probe can no
    longer prune, so the trigger fires before the index degenerates to
    a linear scan of one giant cell."""
    _, cells_path = _paths(index_dir)
    recover_swap(cells_path)
    if not os.path.exists(cells_path):
        return 0.0
    rows = (
        spark.read.parquet(cells_path)
        .filter(F.col("cell").isNotNull())
        .collect()
    )
    counts = [r["n_vectors"] for r in rows]
    total = sum(counts)
    if total == 0 or k <= 0:
        return 0.0
    return max(counts) / (total / k)


def recenter_index(
    spark: SparkSession,
    index_dir: str,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 3,
) -> list:
    """The recenter leg of the maintenance policy: retrain centroids
    offline (kmeans_train — deterministic Lloyd, first-k seeding) on the
    CURRENTLY indexed corpus, then rebuild the whole index against the
    new centroid literals (one narrow assignment map + the same
    rename-swap writes a normal batch makes). Returns the new centroid
    rows (cid = dense 0..k-1 ints, castable to the id column's type).

    The rebuild is what keeps the stream == batch contract honest across
    a recenter: after it, ``assignments`` equals
    ivf_assign_with_centroids(corpus, new_centroids) exactly — vectors
    indexed before the drift move cells along with everything else."""
    from esco_neo4j_spark.operators.similarity import kmeans_train

    assign_path, cells_path = _paths(index_dir)
    recover_swap(assign_path)
    recover_swap(cells_path)
    # pin the corpus before overwriting the directory it reads from
    corpus = (
        spark.read.parquet(assign_path)
        .select(id_col, vec_col)
        .localCheckpoint(eager=True)
    )
    trained = kmeans_train(
        corpus, k=k, max_iter=max_iter, id_col=id_col, vec_col=vec_col
    )
    new_cents = [{"cid": j, "cvec": cvec} for j, cvec in trained]
    assigned = ivf_assign_with_centroids(
        corpus, new_cents, id_col, vec_col
    ).localCheckpoint(eager=True)

    swap_in(assign_path, assigned.write.mode("overwrite").parquet)
    counts = (
        spark.read.parquet(assign_path)
        .groupBy("cell")
        .agg(F.count("*").cast("bigint").alias("n_vectors"))
    )
    swap_in(cells_path, counts.write.mode("overwrite").parquet)
    return new_cents


def ivf_index_probe(
    spark: SparkSession,
    index_dir: str,
    centroids: list,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over the maintained index: rank centroids against the query
    DRIVER-side (len(centroids) rows — bounded), keep the rows of the
    ``nprobe`` nearest cells, re-rank them exactly. An ``assignments``
    table within ``driver_tier.MAX_BYTES`` is served from the driver
    tier (operators/driver_tier.py, no Spark job); a larger one is a
    full scan filtered on ``cell`` — the table is not partitioned, so
    nothing is pruned — re-ranked by brute_force_topk. Both tiers
    return bit-identical rows. The cells are ranked as the batch IVF
    probe ranks them (``vecfold.nearest_cells``): a zero-norm query
    probes none and gets an empty result."""
    import numpy as np

    probe_cells = vecfold.nearest_cells(centroids, query_vec, nprobe)
    assign_path, _ = _paths(index_dir)
    recover_swap(assign_path)
    m = driver_tier.dir_matrix(
        assign_path, id_col, vec_col, len(query_vec), ("cell",)
    )
    if m is not None and k >= 0:
        rows = np.flatnonzero(np.isin(m.extra["cell"], probe_cells))
        return driver_tier.topk(spark, m, id_col, query_vec, k, rows=rows)
    cand = spark.read.parquet(assign_path).filter(
        F.col("cell").isin(probe_cells)
    )
    return brute_force_topk(
        cand, list(query_vec), k=k, id_col=id_col, vec_col=vec_col
    )
