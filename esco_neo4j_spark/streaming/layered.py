"""Incremental maintenance for the LAYERED ANN index (r10 — the
maintain face of sources/ann_index.py's build/serve/maintain split).

``streaming/knn.py`` maintains ONE flat kNN graph incrementally; the
layered index is a pyramid of such graphs, one per coarse stride plus
the stride-1 base. A new vector's layer memberships are DETERMINISTIC —
the same hashed level coin the batch build and both oracles use
(``lvl_hash(id) = (id * 2654435761) % 2^32``, member of stride ``s``
iff ``lvl_hash < 2^32 / s``) — so maintenance is simply: route each
micro-batch row to every layer whose coin it passes, then run the flat
incremental insert (``process_knn_batch``) per layer against that
layer's own state directory. Everything streaming/knn.py guarantees
holds per layer by construction: insert-only effectively-once ingest
(replays and changed-embedding re-arrivals are no-ops), candidate sets
that only grow, stored-top-k ∪ new-pairs == top-k over all candidates
ever seen, crash-safe keyed-parquet state with swap recovery at entry.

Contract vs the one-shot build: the incremental graph equals the
UNCAPPED batch graph over the union of batches per layer (the
streaming/knn.py contract — each batch's candidates are exact-scored on
arrival, so there is no SQ8 pre-rank pool to replay). The one-shot
``build_layered_index`` uses the capped production construction for
throughput; the two agree wherever the cap doesn't bind (pinned in
tests on a corpus where it doesn't), and a live-maintained index is a
DIFFERENT artifact from a manifest-pinned bulk build — at 100 TB you
bulk-build + swap for a corpus snapshot, and stream inserts between
snapshots, exactly like the IVF index (streaming/vector.py).

Layer strides are FIXED at index creation (HNSW fixes its max level the
same way); when the corpus outgrows them (footer count crossing the
next ``_gs_strides`` threshold), the serve-side manifest check flags
the index stale and a bulk rebuild adds the new layer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esco_neo4j_spark.streaming.knn import process_knn_batch


def _layer_dir(index_dir: str, stride: int) -> str:
    return os.path.join(index_dir, "live", f"s{stride}")


def process_layered_knn_batch(
    batch_df: DataFrame,
    index_dir: str,
    dim: int,
    layers: list[dict],
    k: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Ingest one micro-batch into every layer its rows' level coins
    admit. ``layers`` rows are {stride, n_planes, n_tables} (the
    manifest's per-layer derivation, or any fixed family). Returns the
    number of rows accepted into the BASE layer (stride 1 — every
    non-null row lands there, so it is the batch's accepted count)."""
    accepted = 0
    for layer in layers:
        s = int(layer["stride"])
        sub = batch_df
        if s > 1:
            coin = (F.col(id_col) * F.lit(2654435761)) % F.lit(4294967296)
            sub = batch_df.filter(coin < F.lit(4294967296 // s))
        n = process_knn_batch(
            sub,
            _layer_dir(index_dir, s),
            dim,
            k=k,
            n_planes=int(layer["n_planes"]),
            n_tables=int(layer["n_tables"]),
            seed=seed,
            id_col=id_col,
            vec_col=vec_col,
        )
        if s == 1:
            accepted = n
    return accepted


def live_layer_edges(
    spark: SparkSession, index_dir: str, stride: int
) -> DataFrame:
    """(src, nbr, score, rk) edges of one live-maintained layer."""
    return spark.read.parquet(
        os.path.join(_layer_dir(index_dir, stride), "edges")
    )
