"""Recall/containment guarantees for the approximate similarity operators
(the driver records rows-only checks for these; this file is the quality
gate the oracle can't provide).

Bounds are pinned from measured behavior on the driver's embeddings table
with generous slack; the SUBSET property (approximate results are always a
subset of the exact answer with identical scores) must hold exactly —
LSH/IVF prune candidates, they never invent them.
"""

from __future__ import annotations

import os

import pytest

from esco_neo4j_spark.catalog import load_tables
from esco_neo4j_spark.operators.similarity import (
    brute_force_topk,
    cosine_self_join,
    ivf_topk,
    lsh_self_join,
    lsh_topk,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def emb(spark):
    load_tables(spark, SF_DIR, ("embeddings",))
    return spark.table("embeddings")


@pytest.fixture(scope="module")
def anchor(emb):
    return [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]


def test_lsh_join_subset_and_recall(emb):
    exact = {
        (r.id_a, r.id_b, r.score)
        for r in cosine_self_join(emb, threshold=0.45).collect()
    }
    approx = {
        (r.id_a, r.id_b, r.score)
        for r in lsh_self_join(
            emb, threshold=0.45, n_planes=4, n_tables=16
        ).collect()
    }
    assert approx <= exact, "LSH may prune pairs, never invent or rescore"
    assert len(approx) >= 0.8 * len(exact), "multi-table recall floor"


def test_lsh_topk_subset_and_recall(emb, anchor):
    # every LSH hit must appear in the full exact ranking with equal score
    full = {
        r.vec_id: r.score
        for r in brute_force_topk(emb, anchor, k=emb.count()).collect()
    }
    hits = lsh_topk(emb, anchor, k=10, n_planes=4, n_tables=8).collect()
    assert all(full.get(r.vec_id) == r.score for r in hits)
    top10 = [r.vec_id for r in brute_force_topk(emb, anchor, k=10).collect()]
    recall = len({r.vec_id for r in hits} & set(top10)) / 10
    assert recall >= 0.7


def test_ivf_topk_subset(emb, anchor):
    top10 = [
        (r.vec_id, r.score)
        for r in brute_force_topk(emb, anchor, k=10).collect()
    ]
    ivf = [
        (r.vec_id, r.score)
        for r in ivf_topk(emb, anchor, k=10, n_cells=8, nprobe=2).collect()
    ]
    # nprobe=2 of 8 deterministic cells captures the full exact top-10 on
    # this corpus (and is oracle-checked in vec_ivf_topk); require >= 80%
    assert len(set(ivf) & set(top10)) >= 8


def test_cosine_self_similarity_is_one(spark):
    from pyspark.sql import functions as F

    from esco_neo4j_spark.functions.vector import cosine_similarity

    df = spark.createDataFrame(
        [([1.0, 2.0, -3.0],), ([0.5, 0.0, 9.0],)], "v array<float>"
    ).select(F.round(cosine_similarity(F.col("v"), F.col("v")), 9).alias("c"))
    assert all(r["c"] == 1.0 for r in df.collect())


def test_pq_topk_subset_and_recall(emb, anchor):
    from esco_neo4j_spark.operators.similarity import pq_topk

    # PQ re-ranks candidates exactly, so every hit carries its TRUE score
    full = {
        r.vec_id: r.score
        for r in brute_force_topk(emb, anchor, k=emb.count()).collect()
    }
    hits = pq_topk(emb, anchor, k=10, rerank=30).collect()
    assert all(full.get(r.vec_id) == r.score for r in hits)
    # the anchor itself is in the table: PQ must rank it first (cos == 1)
    assert hits[0].vec_id == 0 and hits[0].score == 1.0
    top10 = [r.vec_id for r in brute_force_topk(emb, anchor, k=10).collect()]
    recall = len({r.vec_id for r in hits} & set(top10)) / 10
    assert recall >= 0.6  # 8x16 codebook on 64-dim, rerank=30


def test_ivfpq_topk_subset_and_recall(emb, anchor):
    from esco_neo4j_spark.operators.similarity import ivfpq_topk

    # IVF-PQ re-ranks candidates exactly: every hit carries its TRUE score
    full = {
        r.vec_id: r.score
        for r in brute_force_topk(emb, anchor, k=emb.count()).collect()
    }
    hits = ivfpq_topk(emb, anchor, k=10, rerank=30).collect()
    assert all(full.get(r.vec_id) == r.score for r in hits)
    # the anchor is in the table and lands in its own probed cell:
    # residual-PQ of the anchor scores itself near-perfectly -> rank 1
    assert hits[0].vec_id == 0 and hits[0].score == 1.0
    top10 = [r.vec_id for r in brute_force_topk(emb, anchor, k=10).collect()]
    recall = len({r.vec_id for r in hits} & set(top10)) / 10
    # nprobe=2 of 8 cells bounds recall by cell coverage; residual codes
    # are sharper than raw-vector PQ at equal budget
    assert recall >= 0.5


def test_ivfpq_zero_norm_query_is_empty(emb):
    from esco_neo4j_spark.operators.similarity import ivfpq_topk

    out = ivfpq_topk(emb, [0.0] * 64, k=10)
    assert out.count() == 0 and out.columns == ["vec_id", "score"]


def test_ivfpq_empty_corpus_is_empty(spark):
    """No non-null embeddings -> no centroids; must return an empty
    (id, score) frame, not crash building the centroid CASE."""
    from esco_neo4j_spark.operators.similarity import ivfpq_topk

    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>"
    )
    out = ivfpq_topk(empty, [1.0] * 64, k=10)
    assert out.count() == 0 and out.columns == ["vec_id", "score"]

    all_null = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id bigint, embedding array<float>"
    )
    out2 = ivfpq_topk(all_null, [1.0] * 64, k=10)
    assert out2.count() == 0 and out2.columns == ["vec_id", "score"]


def test_derive_lsh_params_scale_adaptive():
    """Banding parameters must TRACK corpus size (the round-4 audit gap:
    fixed 16 buckets at any N), keeping the historic constants only at
    the tiny oracle-mirror scale and growing from the driver correctness
    scale upward (the oracle-SQL builders replay whatever is derived, so
    Spark/DuckDB stay in lockstep at every N)."""
    from esco_neo4j_spark.operators.similarity import derive_lsh_params

    # below N=320: the round-1..4 fixed constants
    assert derive_lsh_params(50, base_tables=16) == (4, 16)
    assert derive_lsh_params(320, base_tables=8) == (4, 8)
    # driver/mirror correctness scales (N=500): growth already engaged
    assert derive_lsh_params(500, base_tables=16) == (5, 18)
    assert derive_lsh_params(2000, base_tables=16) == (7, 22)
    assert derive_lsh_params(2000, base_tables=8) == (7, 14)
    # sf1 audit scale (measured 0.858 join recall, 8.0M candidates)
    assert derive_lsh_params(20_000, base_tables=16) == (10, 28)
    assert derive_lsh_params(20_000, base_tables=8) == (10, 20)
    # monotone non-decreasing in N; caps bound the blowup
    prev = (0, 0)
    for n in (0, 1, 10, 500, 2_000, 20_000, 10**5, 10**6, 10**9, 10**12):
        p = derive_lsh_params(n)
        assert p >= prev, f"not monotone at N={n}: {p} < {prev}"
        prev = p
    assert derive_lsh_params(10**12) == (24, 48)
    # expected bucket occupancy stays ~target once growth engages
    for n in (10**4, 10**5, 10**6):
        k, _ = derive_lsh_params(n)
        assert n / (1 << k) <= 20, "expected bucket exceeds target"


def test_derive_semdedup_k_scale_adaptive():
    import math

    from esco_neo4j_spark.plans.dedup_queries import derive_semdedup_k

    assert derive_semdedup_k(500) == 8   # driver scales: historic k=8
    assert derive_semdedup_k(2000) == 8
    assert derive_semdedup_k(20_000) == math.ceil(20_000 / 256)
    assert derive_semdedup_k(10**8) == math.ceil(10**8 / 256)
    assert derive_semdedup_k(10**12) == 1 << 20  # max_k backstop


def test_adaptive_params_lockstep_with_oracle_builder():
    """The Spark plan and the per-sf_dir oracle SQL builder must derive
    from the SAME parquet-metadata row count; at the driver's sf dirs the
    derived constants equal the historic fixed ones."""
    import duckdb

    from esco_neo4j_spark.catalog import table_rowcount
    from esco_neo4j_spark.plans.vector_queries import (
        _join_params,
        _knn_params,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
        meta_n = table_rowcount(sf_dir, "embeddings")
        scan_n = duckdb.sql(
            f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'"
        ).fetchone()[0]
        assert meta_n == scan_n
    assert _join_params("/root/testdata/sf0.001") == (5, 18)
    assert _join_params("/root/testdata/sf0.1") == (7, 22)
    assert _knn_params("/root/testdata/sf0.1") == (7, 14)


def test_kmeans_recovers_separated_blobs(spark):
    """Two tight blobs 14 units apart, ids interleaved so the first-2-ids
    init lands one seed in each blob: Lloyd's must separate them exactly
    and converge to sub-blob-radius distances."""
    import random

    from esco_neo4j_spark.operators.similarity import kmeans_lloyd

    random.seed(7)
    rows = []
    for i in range(40):
        cx, cy = (10.0, 0.0) if i % 2 == 0 else (0.0, 10.0)
        rows.append(
            (i, [cx + random.uniform(-1, 1), cy + random.uniform(-1, 1)])
        )
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = kmeans_lloyd(df, k=2, max_iter=4).collect()
    by_cluster = {r["vec_id"]: r["cluster"] for r in got}
    a = {i for i, c in by_cluster.items() if c == by_cluster[0]}
    assert a == set(range(0, 40, 2))
    assert all(r["dist"] < 2.0 for r in got)


def test_kmeans_deterministic(spark):
    """Same input -> identical assignment and distances (fixed init,
    rounded argmin, empty-cluster carry-forward): the property the
    driver's rows-only stability check relies on."""
    from esco_neo4j_spark.catalog import load_table
    from esco_neo4j_spark.operators.similarity import kmeans_lloyd

    emb = load_table(spark, SF_DIR, "embeddings")
    r1 = sorted(tuple(r) for r in kmeans_lloyd(emb, k=4, max_iter=2).collect())
    r2 = sorted(tuple(r) for r in kmeans_lloyd(emb, k=4, max_iter=2).collect())
    assert r1 == r2 and len(r1) > 0


def test_blocked_cosine_pairs_matches_fold_path(spark):
    """The BLAS block path returns exactly the pairs of the fold-based
    exact join, with scores agreeing to float noise (GEMM sums in a
    different order — that is why it is golden-tested, not oracled)."""
    from esco_neo4j_spark.operators.similarity import (
        blocked_cosine_pairs,
        cosine_self_join,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ref = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in cosine_self_join(emb, threshold=0.45).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in blocked_cosine_pairs(emb, threshold=0.45, block=128).collect()
    }
    assert set(got) == set(ref)
    for k in ref:
        assert abs(got[k] - ref[k]) <= 1e-6


def test_power_iteration_recovers_planted_direction(spark):
    """With a spectral gap (planted +-3*spike + 0.3-noise), the 3-step
    power iterate aligns with the planted direction at cos > 0.99."""
    import math
    import random

    from esco_neo4j_spark.operators.similarity import (
        power_iteration_top_component,
    )

    rng = random.Random(7)
    dim, n = 16, 400
    spike = [rng.gauss(0, 1) for _ in range(dim)]
    nrm = math.sqrt(sum(x * x for x in spike))
    spike = [x / nrm for x in spike]
    rows = []
    for i in range(n):
        sign = 3.0 if i % 2 else -3.0
        rows.append(
            (i, [sign * s + rng.gauss(0, 0.3) for s in spike])
        )
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    v = power_iteration_top_component(emb, n_iter=3)
    cos = abs(sum(a * b for a, b in zip(v, spike)))
    assert cos > 0.99, cos


def test_blocked_cosine_pairs_sparse_offset_ids_and_nulls(spark):
    """ADVICE r2 regression: block ids must come from the id RANGE, not
    count(). With offset+sparse ids (1e6 + 7*i), the old floor(id/block)
    scheme produced blocks far beyond n_blocks-1, F.sequence descended
    (empty), and near-dup pairs silently vanished. Null embeddings must
    be filtered, not crash np.stack."""
    from esco_neo4j_spark.operators.similarity import (
        blocked_cosine_pairs,
        cosine_self_join,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    shifted = base.selectExpr(
        "CAST(1000000 + 7 * vec_id AS BIGINT) AS vec_id", "embedding"
    )
    # add a null-embedding row: must be ignored by both paths
    null_row = spark.createDataFrame(
        [(999_999_999, None)], "vec_id bigint, embedding array<double>"
    )
    shifted = shifted.unionByName(null_row)
    ref = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in cosine_self_join(
            base.filter("embedding IS NOT NULL"), threshold=0.45
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in blocked_cosine_pairs(shifted, threshold=0.45, block=128).collect()
    }
    remapped = {
        (1_000_000 + 7 * a, 1_000_000 + 7 * b): s for (a, b), s in ref.items()
    }
    assert set(got) == set(remapped)
    for k in remapped:
        assert abs(got[k] - remapped[k]) <= 1e-6


def test_blocked_cosine_pairs_empty_input(spark):
    from esco_neo4j_spark.operators.similarity import blocked_cosine_pairs

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert blocked_cosine_pairs(empty).count() == 0


def test_semantic_order_improves_adjacent_locality(spark):
    """Morton ordering over embedding projections must make ADJACENT rows
    more similar on average than storage (vec_id) order — the whole point
    of the curriculum/locality layout."""
    import math

    from esco_neo4j_spark.plans import REGISTRY

    out = REGISTRY["pipeline_semantic_order"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    emb = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return d / (na * nb)

    morton_ids = [r["vec_id"] for r in out]
    id_ids = sorted(morton_ids)
    def adj_avg(ids):
        pairs = list(zip(ids, ids[1:]))
        return sum(cos(emb[a], emb[b]) for a, b in pairs) / len(pairs)
    assert adj_avg(morton_ids) > adj_avg(id_ids)


def test_covariance_matrix_matches_numpy(spark):
    """The sufficient-statistics covariance must match numpy's
    (quantized-input) covariance to the 9dp output rounding, with a PSD
    diagonal."""
    import numpy as np

    from esco_neo4j_spark.plans import REGISTRY

    rows = REGISTRY["vec_covariance_matrix"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    vecs = np.array([
        r["embedding"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).collect()
    ], dtype="float64")
    q = np.round(vecs * 1e6)
    want = (q.T @ q) / len(q) - np.outer(q.mean(axis=0), q.mean(axis=0))
    for r in rows[:200]:
        i, j = r["i"] - 1, r["j"] - 1
        assert abs(r["cov"] - want[i, j] / 1e12) < 2e-9
        if i == j:
            assert r["cov"] >= 0


def test_lsh_cross_join_subset_and_recall(emb):
    """Two-table banding: every hit must appear in the exact cross
    join with an identical score (LSH prunes, never invents or
    rescores), and multi-table OR-of-AND holds the recall floor."""
    from pyspark.sql import functions as F

    from esco_neo4j_spark.operators.similarity import lsh_cross_join

    left = emb.filter(F.col("vec_id") % 5 == 0)
    right = emb.filter(F.col("vec_id") % 5 != 0)
    lp = left.select(
        F.col("vec_id").alias("id_l"), F.col("embedding").alias("vl")
    )
    rp = right.select(
        F.col("vec_id").alias("id_r"), F.col("embedding").alias("vr")
    )
    from esco_neo4j_spark.functions.vector import cosine_similarity

    exact = {
        (r["id_l"], r["id_r"], r["score"])
        for r in lp.crossJoin(rp)
        .withColumn(
            "score",
            F.round(cosine_similarity(F.col("vl"), F.col("vr")), 6),
        )
        .filter(F.col("score") >= 0.45)
        .select("id_l", "id_r", "score")
        .collect()
    }
    approx = {
        (r["id_l"], r["id_r"], r["score"])
        for r in lsh_cross_join(
            left, right, threshold=0.45, n_planes=4, n_tables=16
        ).collect()
    }
    assert approx <= exact, "cross-join LSH may prune, never invent"
    assert len(approx) >= 0.8 * len(exact), "multi-table recall floor"


def test_brute_force_topk_null_element_embedding_dropped(spark):
    """r7 ADVICE: a NULL *element* inside an embedding reaches numpy as
    NaN through Arrow; the score must come back NULL (row dropped by the
    threshold filter / sorted last), never a NaN that Spark sorts ABOVE
    every real double and passes through `score > threshold`."""
    import math

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [1.0, None, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = brute_force_topk(df, [1.0, 0.0, 0.0], k=10, threshold=0.0).collect()
    ids = [r["vec_id"] for r in got]
    assert 2 not in ids and ids[0] == 0
    assert all(not math.isnan(r["score"]) for r in got)


def test_lsh_cross_join_empty_probe_side(spark, emb):
    """r7 ADVICE: an empty (or all-NULL-embedding) probe side is a legal
    contamination-sweep input — empty result, stable schema, no
    TypeError from the dim probe."""
    from esco_neo4j_spark.operators.similarity import lsh_cross_join

    left = emb.filter("vec_id < 0")
    out = lsh_cross_join(left, emb, threshold=0.4)
    assert out.columns == ["id_l", "id_r", "score"]
    assert out.count() == 0


def test_knn_graph_cap_recall_floor(spark, emb):
    """r7 (r6 verdict item 1): the per-src bucket-agreement candidate cap
    ahead of the exact-cosine verify must preserve nearly all edges the
    uncapped full-verify formulation produced, and every edge it emits
    must carry the exact score."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from esco_neo4j_spark.operators.similarity import lsh_knn_graph

    # uncapped reference == the r6 formulation: full verify, then rank
    pairs = lsh_self_join(emb, threshold=-1.0, n_planes=5, n_tables=10)
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("nbr"), "score"
    ).union(
        pairs.select(
            F.col("id_b").alias("src"), F.col("id_a").alias("nbr"), "score"
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("nbr"))
    ref = {
        (r["src"], r["nbr"], r["score"])
        for r in sym.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 3")
        .collect()
    }
    got = {
        (r["src"], r["nbr"], r["score"])
        for r in lsh_knn_graph(
            emb, k=3, cand_cap=16, n_planes=5, n_tables=10
        ).collect()
    }
    assert len(got & ref) >= 0.97 * len(ref), (
        f"cap lost {len(ref) - len(got & ref)} of {len(ref)} edges"
    )
    # scores on shared (src, nbr) edges are the same exact cosine
    ref_scores = {(s, n): sc for s, n, sc in ref}
    assert all(
        ref_scores.get((s, n), sc) == sc for s, n, sc in got
    )


def test_knn_descent_round_improves_recall(spark, emb):
    """r7 (r6 verdict item 6): one neighbor-of-neighbor expansion +
    exact re-rank must not lose recall@3 vs the base kNN graph, and on
    this corpus it strictly improves it (measured 0.593 -> 0.685)."""
    import os

    from esco_neo4j_spark.catalog import load_tables
    from esco_neo4j_spark.plans.registry import REGISTRY

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    load_tables(spark, sf, ("embeddings",))
    rows = {
        r["variant"]: r["recall"]
        for r in REGISTRY["vec_knn_descent_round"].fn(spark, sf).collect()
    }
    assert rows["refined"] > rows["base"]
    assert rows["refined"] >= 0.6


def test_interval_screen_is_lossless(spark, emb):
    """r7: the SQ8 interval screen ahead of the exact verify must not
    change the result set — the threshold=-1 path (screen disabled,
    every candidate exact-verified) filtered post-hoc is the ground
    truth for the screened threshold join over the same banding."""
    unscreened = {
        (r.id_a, r.id_b, r.score)
        for r in lsh_self_join(
            emb, threshold=-1.0, n_planes=5, n_tables=18
        ).collect()
        if r.score >= 0.45
    }
    screened = {
        (r.id_a, r.id_b, r.score)
        for r in lsh_self_join(
            emb, threshold=0.45, n_planes=5, n_tables=18
        ).collect()
    }
    assert screened == unscreened and len(screened) > 0


def test_interval_screen_lossless_adversarial_inputs(spark):
    """Screen soundness on the nasty cases: zero vectors (degenerate
    lower-bound norm), constant dimensions (zero quantization range),
    mixed scales, anti-correlated pairs under a NEGATIVE threshold
    (exercises the negative-numerator branch of the bound)."""
    rows = [
        (0, [1.0, 2.0, 0.5, 7.0]),
        (1, [1.0, 2.0, 0.5, 7.001]),     # near-dup of 0
        (2, [-1.0, -2.0, 0.5, -7.0]),    # anti-correlated with 0
        (3, [0.0, 0.0, 0.5, 0.0]),       # tiny norm
        (4, [100.0, -50.0, 0.5, 3.0]),   # big scale
        (5, [0.001, 0.002, 0.5, 0.003]),
        (6, [1.0, 2.0, 0.5, 7.0]),       # exact clone of 0
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    for thr in (0.9, 0.45, 0.0, -0.5):
        want = {
            (r.id_a, r.id_b, r.score)
            for r in lsh_self_join(
                df, threshold=-1.0, n_planes=2, n_tables=4, max_bucket=None
            ).collect()
            if r.score >= thr
        }
        got = {
            (r.id_a, r.id_b, r.score)
            for r in lsh_self_join(
                df, threshold=thr, n_planes=2, n_tables=4, max_bucket=None
            ).collect()
        }
        assert got == want, (thr, got ^ want)


def test_graph_search_recall_floor(spark, emb):
    """r7: the beam walk over the kNN graph must keep its measured
    adversarial-regime recall floor (near-random vectors — see the
    query docstring; real corpora cluster and navigate far better)."""
    import os

    from esco_neo4j_spark.catalog import load_tables
    from esco_neo4j_spark.plans.registry import REGISTRY
    from esco_neo4j_spark.plans.vector_queries import _anchor_vec

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    load_tables(spark, sf, ("embeddings",))
    hits = {
        r["vec_id"]
        for r in REGISTRY["vec_graph_search"].fn(spark, sf).collect()
    }
    exact = {
        r.vec_id
        for r in brute_force_topk(
            spark.table("embeddings"), _anchor_vec(spark), k=10
        ).collect()
    }
    assert len(hits & exact) >= 5, f"recall@10 {len(hits & exact)/10}"


def test_lsh_entry_points_null_and_empty_corpora(spark):
    """r8 (r7 verdict item 1): the NULL-safe dim probe of lsh_cross_join
    is mirrored into lsh_self_join and lsh_knn_graph — a corpus whose
    FIRST row carries a NULL embedding must work (NULL rows contribute
    no pairs/edges), and an all-NULL or empty corpus returns an empty
    frame with the output schema instead of a TypeError on first()[0]."""
    from esco_neo4j_spark.operators.similarity import lsh_knn_graph

    null_first = spark.createDataFrame(
        [(0, None), (1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]),
         (3, [0.0, 1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    ).coalesce(1).sortWithinPartitions("vec_id")
    pairs = lsh_self_join(
        null_first, threshold=0.5, n_planes=2, n_tables=8, seed=7
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} <= {(1, 2), (1, 3), (2, 3)}
    assert all(r.id_a != 0 and r.id_b != 0 for r in pairs)
    assert len(pairs) >= 1  # (1,2) cosine ~0.994 survives some table
    edges = lsh_knn_graph(
        null_first, k=2, n_planes=2, n_tables=8, seed=7
    ).collect()
    assert len(edges) >= 2
    assert all(r.src != 0 and r.nbr != 0 for r in edges)

    for corpus in (
        spark.createDataFrame(
            [(0, None), (1, None)], "vec_id bigint, embedding array<double>"
        ),
        spark.createDataFrame([], "vec_id bigint, embedding array<double>"),
    ):
        out = lsh_self_join(corpus, threshold=0.5)
        assert out.columns == ["id_a", "id_b", "score"]
        assert out.count() == 0
        g = lsh_knn_graph(corpus, k=3)
        assert g.columns == ["src", "nbr", "score", "rk"]
        assert g.count() == 0


def test_graph_search_layered_recall_floor(spark):
    """r8 (r7 verdict item 5): the LAYERED search must hold the same
    adversarial-regime recall floor as the flat walk (its entry descent
    can only add near-query seeds; the lowest-id diversity seeds are
    unioned in), and must return a full top-k."""
    import os

    from esco_neo4j_spark.catalog import load_tables
    from esco_neo4j_spark.plans.registry import REGISTRY
    from esco_neo4j_spark.plans.vector_queries import _anchor_vec, _gs_strides

    assert _gs_strides(500) == [8]
    assert _gs_strides(2000) == [64, 8]
    assert _gs_strides(20000) == [512, 64, 8]

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    load_tables(spark, sf, ("embeddings",))
    got = REGISTRY["vec_graph_search_layered"].fn(spark, sf).collect()
    assert [r["rk"] for r in got] == list(range(1, 11))
    hits = {r["vec_id"] for r in got}
    exact = {
        r.vec_id
        for r in brute_force_topk(
            spark.table("embeddings"), _anchor_vec(spark), k=10
        ).collect()
    }
    assert len(hits & exact) >= 5, f"recall@10 {len(hits & exact)/10}"


def test_layered_search_navigates_clustered_corpus(spark, tmp_path):
    """r8: the point of the layered entry. On a CLUSTERED corpus (32
    well-separated Gaussian clusters — the regime real embedding spaces
    live in) with an anchor whose cluster sits far from the low ids,
    the flat walk enters at ids 0..3, finds no inter-cluster edges in
    the base kNN graph, and misses; the layered search's exhaustive
    bounded top layer puts the descent into the anchor's cluster and
    recalls its true neighbors. Both run through the REGISTERED queries
    against a corpus written to disk, so the derived banding/layers are
    exactly what production would use."""
    import os
    import random

    import esco_neo4j_spark.plans.vector_queries as vq
    from esco_neo4j_spark.plans.registry import REGISTRY

    rng = random.Random(5)
    n_clusters, per, dim = 32, 128, 16
    centers = []
    for _ in range(n_clusters):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        nrm = sum(x * x for x in v) ** 0.5
        centers.append([x / nrm for x in v])
    rows = []
    for ci, c in enumerate(centers):
        for j in range(per):
            rows.append(
                (ci * per + j,
                 [round(x + rng.gauss(0, 0.08), 4) for x in c])
            )
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).coalesce(2).write.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    # anchor: a member of the LAST cluster (ids 3968..4095)
    anchor_row = rows[-10]
    anchor = [float(x) for x in anchor_row[1]]
    old = vq._anchor_vec
    vq._anchor_vec = lambda s: anchor
    try:
        exact = {
            r.vec_id
            for r in brute_force_topk(
                spark.read.parquet(
                    os.path.join(sf_dir, "embeddings.parquet")
                ),
                anchor, k=10,
            ).collect()
        }
        flat = {
            r.vec_id
            for r in REGISTRY["vec_graph_search"].fn(spark, sf_dir).collect()
        }
        layered = {
            r.vec_id
            for r in REGISTRY["vec_graph_search_layered"].fn(
                spark, sf_dir
            ).collect()
        }
    finally:
        vq._anchor_vec = old
    flat_recall = len(flat & exact) / 10
    layered_recall = len(layered & exact) / 10
    # the separation this test exists for: layered navigates into the
    # anchor's cluster, flat cannot leave its entry clusters. Both
    # searches share the SAME footer-derived degree/beam
    # (derive_gs_params, r9), so the gap isolates the ENTRY machinery:
    # a 32-cluster corpus with 128-member clusters has no inter-cluster
    # kNN edges at degree 12, so the flat walk stays near-zero no
    # matter how wide. r9 (r8 verdict item 1): degree 12 / beam 32
    # measured recall@10 = 1.0 here (0.5 at the r8 fixed k=3/beam-12);
    # pinned at the production-grade >= 0.9.
    assert flat_recall <= 0.2, (flat_recall, layered_recall)
    assert layered_recall >= 0.9, (flat_recall, layered_recall)
    assert layered_recall > flat_recall, (flat_recall, layered_recall)


def test_gs_lvl_guard_overflow_bound(tmp_path):
    """r9 (advisory): the layered-search level coin is exact int64 only
    while max(vec_id) < 2**63 // 2654435761 (~3.47e9) — beyond that
    Spark wraps to a negative remainder that passes every layer test
    while DuckDB raises, so the engines would silently diverge. The
    guard must (a) pass today's corpora, (b) raise loudly on an
    over-bound id, (c) raise when footer stats are missing rather than
    assume safety — all from parquet footer metadata, no scan."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from esco_neo4j_spark.catalog import table_column_max
    from esco_neo4j_spark.plans.vector_queries import (
        _GS_LVL_MAX_ID,
        _gs_lvl_guard,
    )

    assert _GS_LVL_MAX_ID == (2**63) // 2654435761  # 3_474_701_543
    _gs_lvl_guard("/root/testdata/sf0.001")  # shipped corpus: fine

    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    pq.write_table(
        pa.table({
            "vec_id": pa.array([0, _GS_LVL_MAX_ID], type=pa.int64()),
            "embedding": pa.array([[0.0] * 4] * 2, type=pa.list_(pa.float32())),
        }),
        os.path.join(bad, "embeddings.parquet"),
    )
    assert table_column_max(bad, "embeddings", "vec_id") == _GS_LVL_MAX_ID
    with pytest.raises(ValueError, match="level coin"):
        _gs_lvl_guard(bad)

    nostats = str(tmp_path / "nostats")
    os.makedirs(nostats)
    pq.write_table(
        pa.table({
            "vec_id": pa.array([0, 1], type=pa.int64()),
            "embedding": pa.array([[0.0] * 4] * 2, type=pa.list_(pa.float32())),
        }),
        os.path.join(nostats, "embeddings.parquet"),
        write_statistics=False,
    )
    assert table_column_max(nostats, "embeddings", "vec_id") is None
    with pytest.raises(ValueError, match="no footer stats"):
        _gs_lvl_guard(nostats)


def test_knn_graph_ring_path_matches_oracle(spark, tmp_path):
    """r9 (sf30 triage): at >= 100k rows the kNN graph's candidate stage
    switches from all-pairs-per-bucket (Ω(B²) on clone cliques — 721s
    at sf30, 13.9× at 3× data) to the hash-ordered lead-window RING +
    agreement pre-cap (linear by construction). The shipped corpora
    never cross the knee, so this forces the ring on BOTH engines at a
    small width and pins Spark == DuckDB exactly on the ring plan; it
    also checks the derivation knee itself and the k·N output bound."""
    import os
    import random

    import duckdb

    from esco_neo4j_spark.operators.similarity import (
        derive_knn_ring,
        lsh_knn_graph,
    )
    from esco_neo4j_spark.plans.vector_queries import (
        _knn_graph_sql,
        _knn_params,
    )

    assert derive_knn_ring(99_999, 16) is None
    # W sized to the pre-cap budget across tables, floor 2
    assert derive_knn_ring(100_000, 16, 26) == 2
    assert derive_knn_ring(600_000, 24, 30) == 3
    assert derive_knn_ring(100_000, 16, 8) == 6

    rng = random.Random(7)
    n, dim = 800, 64
    rows = [
        (i, [round(rng.gauss(0.0, 1.0), 4) for _ in range(dim)])
        for i in range(n)
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).coalesce(2).write.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    n_planes, n_tables = _knn_params(sf_dir)
    got = sorted(
        (r.src, r.nbr, round(r.score, 6), r.rk)
        for r in lsh_knn_graph(
            spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")),
            k=3, cand_cap=16, n_planes=n_planes, n_tables=n_tables,
            ring_window=4,
        ).collect()
    )
    assert 0 < len(got) <= 3 * n
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{sf_dir}/embeddings.parquet/*.parquet')"
    )
    want = sorted(
        (r["src"], r["nbr"], round(r["score"], 6), r["rk"])
        for r in con.execute(
            _knn_graph_sql(sf_dir, ring=4)
        ).fetchdf().to_dict("records")
    )
    assert got == want


def test_knn_graph_ring_edge_quality(spark, tmp_path):
    """The ring is an approximation with a MEASURED, pinned quality
    floor (the ED<=2 honesty rule): on a clustered corpus the ring
    graph must keep every edge within the true cluster and its mean
    edge cosine within 3% of the exact path's — the property a
    navigation substrate actually needs (HNSW's own graphs are not
    exact kNN either). Exact-top-3 identity overlap is lower by design
    on 128-member near-tie cliques and pinned only loosely (~0.55
    measured with the r10 XOR-decorrelated per-table orders, up from
    ~0.5 with the r9 additive salt; the identity-accurate path above
    the knee is the NN-descent refinement round layered on top —
    test_knn_graph_ring_descent_identity)."""
    import os
    import random

    from esco_neo4j_spark.operators.similarity import lsh_knn_graph
    from esco_neo4j_spark.plans.vector_queries import _knn_params

    rng = random.Random(7)
    rows = []
    for ci in range(16):
        c = [rng.gauss(0, 1) for _ in range(64)]
        nrm = sum(x * x for x in c) ** 0.5
        c = [x / nrm for x in c]
        for j in range(128):
            rows.append(
                (ci * 128 + j,
                 [round(x + rng.gauss(0, 0.08), 4) for x in c])
            )
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).coalesce(2).write.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    np_, nt = _knn_params(sf_dir)

    def edges(ring):
        return lsh_knn_graph(
            e, k=3, cand_cap=16, n_planes=np_, n_tables=nt,
            ring_window=ring,
        ).collect()

    exact = edges(None)
    ring = edges(16)
    assert len(ring) == len(exact) == 3 * len(rows)
    assert all(r.src // 128 == r.nbr // 128 for r in ring), (
        "ring edge left its cluster"
    )
    mean_exact = sum(r.score for r in exact) / len(exact)
    mean_ring = sum(r.score for r in ring) / len(ring)
    assert mean_ring >= 0.97 * mean_exact, (mean_ring, mean_exact)
    overlap = len(
        {(r.src, r.nbr) for r in ring} & {(r.src, r.nbr) for r in exact}
    ) / len(exact)
    assert overlap >= 0.45, overlap


def test_knn_graph_ring_partition_invariance(spark, tmp_path):
    """Distributed-determinism pin for the ring path: every ordering it
    relies on (per-bucket (hash, id) ring order, per-src (agreement,
    hashed-nbr, nbr) pre-cap, the SQ8 and exact ranks) is TOTAL, so the
    output must be identical under any input partitioning — the classic
    shuffle-order trap a window with a non-total order would hit only
    in production."""
    import os
    import random

    from esco_neo4j_spark.operators.similarity import lsh_knn_graph

    rng = random.Random(3)
    rows = [
        (i, [round(rng.gauss(0.0, 1.0), 4) for _ in range(32)])
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    def run(frame):
        return sorted(
            (r.src, r.nbr, r.score, r.rk)
            for r in lsh_knn_graph(
                frame, k=3, cand_cap=16, n_planes=5, n_tables=8,
                ring_window=3,
            ).collect()
        )

    base = run(df.coalesce(1))
    assert base == run(df.repartition(32))
    assert base == run(df.repartition(7, "vec_id"))


def test_knn_graph_ring_descent_matches_oracle(spark, tmp_path):
    """r10 (verdict item 2): above the knee the registered
    vec_knn_graph_lsh composes ONE NN-descent refinement round after
    the ring candidates. Forces ring + descent on BOTH engines at a
    small width and pins Spark == DuckDB exactly on the composed plan
    (lsh_knn_graph -> nn_descent_refine vs the shared SQL builder with
    descent=True)."""
    import os
    import random

    import duckdb

    from esco_neo4j_spark.operators.similarity import (
        lsh_knn_graph,
        nn_descent_refine,
    )
    from esco_neo4j_spark.plans.vector_queries import (
        _knn_graph_sql,
        _knn_params,
    )

    rng = random.Random(11)
    n, dim = 600, 64
    rows = [
        (i, [round(rng.gauss(0.0, 1.0), 4) for _ in range(dim)])
        for i in range(n)
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).coalesce(2).write.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    n_planes, n_tables = _knn_params(sf_dir)
    base = lsh_knn_graph(
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")),
        k=3, cand_cap=16, n_planes=n_planes, n_tables=n_tables,
        ring_window=4,
    ).select("src", "nbr").localCheckpoint(eager=True)
    got = sorted(
        (r.src, r.nbr, round(r.score, 6), r.rk)
        for r in nn_descent_refine(
            base,
            spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")),
            k=3,
        ).collect()
    )
    assert 0 < len(got) <= 3 * n
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{sf_dir}/embeddings.parquet/*.parquet')"
    )
    want = sorted(
        (r["src"], r["nbr"], round(r["score"], 6), r["rk"])
        for r in con.execute(
            _knn_graph_sql(sf_dir, ring=4, descent=True)
        ).fetchdf().to_dict("records")
    )
    assert got == want


def test_knn_graph_ring_descent_identity(spark, tmp_path):
    """The r10 identity-gap close, measured and pinned: on the
    forced-ring clique corpus (16 clusters x 128 near-tie members) the
    pure ring graph keeps ~0.55 of the exact top-3 edge identities;
    one NN-descent round over the ring graph must lift that (measured
    0.65 — near-tie cliques cap ANY sampled method's exact-identity
    rate; pinned >= 0.6) while every edge stays within its true
    cluster. The
    refinement is what downstream identity consumers (recall evals,
    NN-descent baselines) get above the knee via vec_knn_graph_lsh."""
    import os
    import random

    from esco_neo4j_spark.operators.similarity import (
        lsh_knn_graph,
        nn_descent_refine,
    )
    from esco_neo4j_spark.plans.vector_queries import _knn_params

    rng = random.Random(7)
    rows = []
    for ci in range(16):
        c = [rng.gauss(0, 1) for _ in range(64)]
        nrm = sum(x * x for x in c) ** 0.5
        c = [x / nrm for x in c]
        for j in range(128):
            rows.append(
                (ci * 128 + j,
                 [round(x + rng.gauss(0, 0.08), 4) for x in c])
            )
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).coalesce(2).write.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    np_, nt = _knn_params(sf_dir)

    exact = lsh_knn_graph(
        e, k=3, cand_cap=16, n_planes=np_, n_tables=nt, ring_window=None
    ).collect()
    ring = lsh_knn_graph(
        e, k=3, cand_cap=16, n_planes=np_, n_tables=nt, ring_window=16
    ).select("src", "nbr").localCheckpoint(eager=True)
    refined = nn_descent_refine(ring, e, k=3).collect()

    assert len(refined) == len(exact) == 3 * len(rows)
    assert all(r.src // 128 == r.nbr // 128 for r in refined), (
        "refined edge left its cluster"
    )
    exact_set = {(r.src, r.nbr) for r in exact}
    ring_set = {(r.src, r.nbr) for r in ring.collect()}
    ref_set = {(r.src, r.nbr) for r in refined}
    ring_overlap = len(ring_set & exact_set) / len(exact_set)
    ref_overlap = len(ref_set & exact_set) / len(exact_set)
    assert ref_overlap > ring_overlap, (ref_overlap, ring_overlap)
    assert ref_overlap >= 0.6, ref_overlap


def _tier_table(path):
    """A parquet table (a bare scan once read back) with every shape the
    two serving tiers must agree on: string ids, NULL embeddings, a NULL
    element, a zero-norm vector, a non-finite element, and six rows
    whose scores tie after 6-dp rounding while their raw scores fall in
    the opposite order of their ids."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(5)
    d = 8
    vecs = [list(map(float, v)) for v in rng.standard_normal((40, d))]
    base = [1.0, 0.5, -0.25, 0.0, 0.75, 0.1, -0.6, 0.3]
    for j in range(6):  # ids t0..t5: raw scores descend as ids ascend
        vecs[j] = [x + (5 - j) * 1e-9 * (i % 2) for i, x in enumerate(base)]
    vecs[6] = None
    vecs[7] = [0.0] * d
    vecs[8] = [1.0, None] + [0.5] * (d - 2)
    vecs[9] = [float("inf")] + [0.5] * (d - 1)
    vecs[10] = None
    ids = [f"t{j}" for j in range(6)] + [f"r{j:02d}" for j in range(34)]
    t = pa.table({
        "vid": pa.array(ids),
        "emb": pa.array(vecs, type=pa.list_(pa.float32())),
    })
    pq.write_table(t, path)
    return base


def _both_tiers(monkeypatch, build):
    """(driver-tier DataFrame, Spark-tier DataFrame) of ``build()``."""
    from esco_neo4j_spark.operators import driver_tier

    driver = build()
    with monkeypatch.context() as mp:
        mp.setattr(driver_tier, "MAX_BYTES", 0)
        spark_tier = build()
    return driver, spark_tier


def _schema(df):
    return [(f.name, f.dataType, f.nullable) for f in df.schema.fields]


def _plan_node(df):
    return df._jdf.queryExecution().optimizedPlan().nodeName()


def test_driver_tier_matches_spark_tier(spark, tmp_path, monkeypatch):
    """Row-for-row and schema parity of the driver-resident tier against
    the Spark tier on a bare parquet scan: NULL embeddings dropped, NULL
    element / zero-norm / non-finite rows score NULL and sort last,
    6-dp ties across the k boundary break on id, threshold drops NULL,
    k > rows, and an empty table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "tier.parquet")
    q = _tier_table(path)
    df = spark.read.parquet(path)
    cases = []
    for k in (0, 1, 3, 8, 100):
        for thr in (None, 0.1, -2.0):
            cases.append((k, lambda k=k, thr=thr: brute_force_topk(
                df, q, k=k, threshold=thr, id_col="vid", vec_col="emb")))
        cases.append((k, lambda k=k: lsh_topk(
            df, q, k=k, n_planes=3, n_tables=4, id_col="vid", vec_col="emb")))
    cases.append((5, lambda: brute_force_topk(
        df, [0.0] * len(q), k=5, id_col="vid", vec_col="emb")))
    for k, build in cases:
        driver, spark_tier = _both_tiers(monkeypatch, build)
        assert _plan_node(driver) == "LocalRelation"
        # (Catalyst itself folds a LIMIT 0 to an empty LocalRelation)
        assert k == 0 or _plan_node(spark_tier) != "LocalRelation"
        assert _schema(driver) == _schema(spark_tier)
        assert driver.collect() == spark_tier.collect()
    top = brute_force_topk(df, q, k=3, id_col="vid", vec_col="emb").collect()
    assert [r["vid"] for r in top] == ["t0", "t1", "t2"]
    assert len({r["score"] for r in top}) == 1
    every = brute_force_topk(df, q, k=100, id_col="vid", vec_col="emb")
    tail = every.collect()[-3:]
    assert [(r["vid"], r["score"]) for r in tail] == [
        ("r01", None), ("r02", None), ("r03", None)
    ]

    empty = str(tmp_path / "empty.parquet")
    pq.write_table(
        pa.table({
            "vec_id": pa.array([], type=pa.int64()),
            "embedding": pa.array([], type=pa.list_(pa.float32())),
        }),
        empty,
    )
    edf = spark.read.parquet(empty)
    for build in (
        lambda: brute_force_topk(edf, q, k=5),
        lambda: lsh_topk(edf, q, k=5, n_planes=3, n_tables=4),
    ):
        driver, spark_tier = _both_tiers(monkeypatch, build)
        assert _plan_node(driver) == "LocalRelation"
        assert _schema(driver) == _schema(spark_tier)
        assert driver.collect() == spark_tier.collect() == []


def test_driver_tier_runs_no_spark_job(spark, emb, anchor, count_jobs):
    """A top-k request over a small bare scan, exact or LSH, is scored on
    the driver: building and collecting it starts no Spark job."""
    for build in (
        lambda: brute_force_topk(emb, anchor, k=10, threshold=0.2),
        lambda: lsh_topk(emb, anchor, k=10, n_planes=5, n_tables=18),
    ):
        build().collect()  # first request loads the matrix
        rows, jobs = count_jobs(lambda: build().collect())
        assert rows and jobs == 0


def test_driver_tier_serves_rewritten_table(spark, tmp_path):
    """A table rewritten in place (new file stamp) replaces its cached
    matrix: the next request serves the new rows, never the old ones —
    for a single file and for a Spark-written directory whose part
    files change names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    q = [1.0, 0.0, 0.0]

    def write_file(path, rows):
        pq.write_table(pa.table({
            "vec_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], type=pa.list_(pa.float32())),
        }), path)

    def write_dir(path, rows):
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    for write, path in (
        (write_file, str(tmp_path / "one.parquet")),
        (write_dir, str(tmp_path / "dir")),
    ):
        write(path, [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])])
        first = brute_force_topk(spark.read.parquet(path), q, k=1).collect()
        assert [r["vec_id"] for r in first] == [1]
        write(path, [(7, [1.0, 0.1, 0.0]), (8, [0.0, 0.0, 1.0]),
                     (9, [0.5, 0.5, 0.0])])
        again = brute_force_topk(spark.read.parquet(path), q, k=3).collect()
        assert [r["vec_id"] for r in again] == [7, 9, 8]


def test_spark_round6_matches_spark_round(spark):
    """The driver tier's rounding replica equals Spark's round(x, 6)
    (HALF_UP on the double's decimal string) bit for bit, over random
    doubles, exact .5e-6 decimal ties of both signs, values far from
    [-1, 1], signed zeros and non-finite values."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import functions as F

    from esco_neo4j_spark.operators.driver_tier import spark_round6

    rng = np.random.default_rng(11)
    n = rng.integers(-1_500_000, 1_500_000, 6000)
    vals = np.concatenate([
        rng.uniform(-1.5, 1.5, 6000),
        [float(f"{i}5e-7") for i in n],  # x.xxxxxx5: exact decimal ties
        [float(f"{i}e-6") for i in n],
        rng.uniform(-1e6, 1e6, 500),
        rng.uniform(-1e-5, 1e-5, 500),
        [0.0, -0.0, 5e-7, -5e-7, 2.5e-6, 1e300, -1e300, 1e15 + 0.5,
         float("inf"), float("-inf"), float("nan")],
    ])
    assert len(vals) >= 10_000
    rows = spark.createDataFrame(
        pa.table({"i": np.arange(len(vals)), "x": vals})
    ).select("i", F.round("x", 6).alias("r")).collect()
    want = np.empty(len(vals))
    for r in rows:
        want[r["i"]] = r["r"]
    got = spark_round6(vals)
    assert np.array_equal(got, want, equal_nan=True)
    assert np.array_equal(np.signbit(got), np.signbit(want))


def test_driver_tier_cache_under_concurrent_requests(tmp_path, monkeypatch):
    """Threads loading three tables (with LSH buckets) through a cache
    that holds about two of them: every request gets its own table's
    rows, and the cache never ends above its limit."""
    import sys
    import threading

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from esco_neo4j_spark.operators import driver_tier

    rng = np.random.default_rng(3)
    d, n_planes = 16, 3
    planes = rng.standard_normal((n_planes * 4, d))
    dirs = []
    for t in range(3):
        path = tmp_path / f"idx{t}"
        path.mkdir()
        vecs = rng.standard_normal((500, d)).astype(np.float32)
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(500) + 1000 * t),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "cell": pa.array(np.arange(500) % 4),
        }), str(path / "part-0.parquet"))
        dirs.append(str(path))
    entry = 500 * (d * 4 + 8 + 8 + 1 + 8)
    monkeypatch.setattr(driver_tier, "CACHE_BYTES", 2 * entry + 500 * 4 * 8)
    errors = []

    def worker(seed):
        r = np.random.default_rng(seed)
        try:
            for _ in range(60):
                t = int(r.integers(3))
                m = driver_tier.dir_matrix(
                    dirs[t], "vec_id", "embedding", d, ("cell",)
                )
                assert m is not None and m.ids[0] == 1000 * t
                q = driver_tier.vecfold.sign_buckets(
                    r.standard_normal((1, d)), planes, n_planes
                )[0]
                rows = driver_tier.lsh_candidates(m, planes, n_planes, 1, q)
                assert rows.max(initial=0) < 500
        except Exception as e:  # reported by the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[0]
    cached = sum(e.nbytes for e in driver_tier._CACHE.values())
    assert 0 < cached <= driver_tier.CACHE_BYTES


def test_driver_tier_cache_keeps_two_limit_sized_tables(tmp_path, monkeypatch):
    """A search mix alternates between the vectors (exact and LSH) and
    the IVF assignments: with both tables at the per-table limit (the
    module's limit-to-budget ratio kept), neither is ever reloaded and
    the LSH bucket ids are computed once. A matrix already evicted
    keeps no new bucket ids and evicts nothing."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from esco_neo4j_spark.operators import driver_tier

    rng = np.random.default_rng(4)
    n, d, n_planes, n_tables = 400, 64, 8, 16
    planes = rng.standard_normal((n_planes * n_tables, d))
    vecs = rng.standard_normal((n, d)).astype(np.float32)
    dirs = {}
    for name, extra in (("emb", {}), ("ivf", {"cell": np.arange(n) % 4})):
        path = tmp_path / name
        path.mkdir()
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(n)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            **extra,
        }), str(path / "part-0.parquet"))
        dirs[name] = str(path)
    ratio = driver_tier.CACHE_BYTES // driver_tier.MAX_BYTES
    monkeypatch.setattr(driver_tier, "MAX_BYTES", n * d * 4)
    monkeypatch.setattr(driver_tier, "CACHE_BYTES", ratio * n * d * 4)
    monkeypatch.setattr(driver_tier, "_CACHE", type(driver_tier._CACHE)())
    built = []
    real = driver_tier.vecfold.sign_buckets
    monkeypatch.setattr(
        driver_tier.vecfold, "sign_buckets",
        lambda *a: built.append(1) or real(*a),
    )
    q = real(rng.standard_normal((1, d)), planes, n_planes)[0]

    seen = set()
    for _ in range(4):
        m = driver_tier.dir_matrix(dirs["emb"], "vec_id", "embedding", d, ())
        driver_tier.lsh_candidates(m, planes, n_planes, 1, q)
        ivf = driver_tier.dir_matrix(
            dirs["ivf"], "vec_id", "embedding", d, ("cell",)
        )
        seen |= {id(m), id(ivf)}
    assert len(seen) == 2 and len(built) == 1
    assert len(driver_tier._CACHE) == 2

    key = next(k for k, e in driver_tier._CACHE.items() if e is m)
    del driver_tier._CACHE[key]
    monkeypatch.setattr(driver_tier, "CACHE_BYTES", ivf.nbytes)
    rows = driver_tier.lsh_candidates(m, planes, n_planes, 2, q)
    assert len(rows) and (n_planes, n_tables, 2) not in m.buckets
    assert [e is ivf for e in driver_tier._CACHE.values()] == [True]


def test_vector_udfs_null_and_non_finite_contract(spark):
    """The Arrow boundary of the pair, bucket and both SQ8-packer UDFs,
    on float32 and float64 columns alike: the pair score is NULL when a
    side is NULL, holds a NULL, NaN or infinite element, or has zero
    norm, and otherwise equals the HOF chain's cosine; a NULL row lands
    in bucket 0 of every table and every other row in the kernel's sign
    buckets; the packers' codes equal sq_quantize's. The frame has more
    partitions than rows, so some partitions are empty."""
    import math

    import numpy as np

    from pyspark.sql import functions as F

    from esco_neo4j_spark.functions.vector import cosine_similarity
    from esco_neo4j_spark.operators import vecfold
    from esco_neo4j_spark.operators.similarity import (
        _all_buckets_pudf,
        _pair_cosine_pudf,
        _plane_matrix,
        _screen_pack_pudf,
        _screen_stats,
        _sq_pack_pudf,
        sq_quantize,
    )

    inf, nan = float("inf"), float("nan")
    finite = np.random.default_rng(5).standard_normal((6, 4)).astype(np.float32)
    rows = [
        (0, None),
        (1, [1.0, None, 2.0, 3.0]),
        (2, [nan, 1.0, 2.0, 3.0]),
        (3, [1.0, inf, 2.0, 3.0]),
        (4, [1.0, 2.0, -inf, 3.0]),
        (5, [0.0, 0.0, 0.0, 0.0]),
    ] + [(6 + i, [float(x) for x in v]) for i, v in enumerate(finite)]
    bad = {0, 1, 2, 3, 4, 5}
    n_planes, n_tables, seed = 3, 2, 7
    planes = _plane_matrix(4, n_planes * n_tables, seed)
    for elem in ("float", "double"):
        df = spark.createDataFrame(
            rows, f"vec_id bigint, v array<{elem}>"
        ).repartition(16)

        a = df.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
        b = df.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
        pairs = a.crossJoin(b).select(
            "ia", "ib", _pair_cosine_pudf()("va", "vb").alias("s")
        )
        got = {(r.ia, r.ib): r.s for r in pairs.collect()}
        assert len(got) == len(rows) ** 2
        good = df.filter(~F.col("vec_id").isin(*bad))
        chain = (
            good.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
            .crossJoin(
                good.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
            )
            .select("ia", "ib", cosine_similarity(F.col("va"), F.col("vb")).alias("s"))
        )
        want = {(r.ia, r.ib): r.s for r in chain.collect()}
        for (i, j), s in got.items():
            if i in bad or j in bad:
                assert s is None, (elem, i, j, s)
            else:
                assert s == want[(i, j)] and not math.isnan(s), (elem, i, j)

        bk = df.select(
            "vec_id",
            "v",
            _all_buckets_pudf(4, n_planes, n_tables, seed)("v").alias("b"),
        ).collect()
        for r in bk:
            if r.v is None:
                assert r.b == [0] * n_tables
            else:
                x = np.asarray(
                    [nan if e is None else e for e in r.v], dtype=np.float64
                )
                kern = vecfold.sign_buckets(x[None, :], planes, n_planes)[0]
                assert r.b == kern.tolist(), (elem, r.vec_id)

        nn = df.filter(F.col("v").isNotNull())
        clean = nn.filter(~F.col("vec_id").isin(1, 2, 3, 4))
        mns, mxs = _screen_stats(clean, None, "v", 4)
        sq = {
            r.vec_id: list(r.q)
            for r in sq_quantize(clean, vec_col="v", dim=4).collect()
        }
        packed = nn.select(
            "vec_id",
            _sq_pack_pudf(mns, mxs)("v").alias("c"),
            _screen_pack_pudf(mns, mxs)("v").alias("s"),
        ).collect()
        assert {r.vec_id for r in packed} == {i for i, v in rows if v is not None}
        for r in packed:
            assert len(r.c.code) == 4 and r.s.code == r.c.code
            if r.vec_id in sq:
                assert list(r.c.code) == sq[r.vec_id], (elem, r.vec_id)
                assert r.c.cn2 == sum(c * c for c in sq[r.vec_id])
