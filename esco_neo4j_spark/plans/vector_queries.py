"""Vector-search query corpus (SURVEY.md §2 H1, C9, K7, A7-at-scale).

Replicates the reference's semantic-search pipeline shapes
(src/semantic_search.py:61-96 top-k, analysis_queries.md:511-522 similarity
join) on the driver's embeddings table. The oracle computes cosine with
DuckDB's list functions in double precision; scores agree with Spark to
~1 ulp and are rounded to 6dp on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esco_neo4j_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_norm,
)
from esco_neo4j_spark.operators.similarity import (
    brute_force_topk,
    cosine_self_join,
    lsh_self_join,
    lsh_topk,
)
from esco_neo4j_spark.plans.registry import query

_ANCHOR_SQL = "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)"

# HNSW-style level coin for the layered graph search, deterministic AND
# engine-neutral: Knuth multiplicative hash of the id mod 2^32, with
# layer-j membership tested as ``hash < 2^32 / M^j`` — the hash's
# well-mixed HIGH bits, nested automatically since the threshold
# shrinks with j. Two structured coins measured FAILING on the scale
# generator's clone families (ids 10^6 apart) before this one:
# ``vec_id % M^j`` (10^6 ≡ 0 mod 8/64/512, so a family is entirely
# inside or entirely invisible to every layer) and ``hash % M^j``
# (multiplicative hashing mod 2^32 preserves LOW-bit structure, and
# 2^6 | 10^6 keeps h mod 8 constant across a family). The threshold
# form gives each family ~|family|/M^j expected members per layer —
# HNSW's random level coin, deterministically. Exact int64 arithmetic
# only while vec_id < 2^63 / 2654435761 ~= 3.47e9 (~2^31.7): beyond
# that Spark (non-ANSI) wraps to a NEGATIVE product whose remainder
# passes every ``< 2^32/M^j`` layer test while DuckDB raises on BIGINT
# overflow — the engines would diverge silently. ``_gs_lvl_guard``
# (below) raises loudly first, from parquet-footer column statistics,
# on BOTH builders — the same fail-don't-diverge discipline as
# cdc_chunk_stats' Karp-Rabin window bound. Replayed verbatim in the
# DuckDB oracle.
_GS_LVL_SQL = "((vec_id * 2654435761) % 4294967296)"
_GS_LVL_MAX_ID = (2**63) // 2654435761  # 3_474_701_543


def _gs_lvl(col):
    """Spark twin of ``_GS_LVL_SQL`` — same exact integers."""
    return (col * F.lit(2654435761)) % F.lit(4294967296)


def _gs_lvl_guard(sf_dir: str) -> None:
    """Raise before either engine evaluates the level coin on ids large
    enough to overflow exact int64 (see _GS_LVL_SQL). Footer statistics
    missing => treat as unbounded and refuse, rather than risk a silent
    Spark-wraps/DuckDB-raises divergence."""
    from esco_neo4j_spark.catalog import table_column_max

    mx = table_column_max(sf_dir, "embeddings", "vec_id")
    if mx is None or int(mx) >= _GS_LVL_MAX_ID:
        raise ValueError(
            "graph-search level coin: max(vec_id) "
            f"{'unknown (no footer stats)' if mx is None else mx} "
            f">= 2**63 // 2654435761 = {_GS_LVL_MAX_ID}; the "
            "multiplicative hash would overflow int64 (Spark wraps, "
            "DuckDB raises). Re-id the corpus below the bound."
        )
_COS = (
    "list_cosine_similarity(CAST(embedding AS DOUBLE[]), {anchor})"
)


def _anchor_vec(spark: SparkSession) -> list[float]:
    """The query vector: embedding of vec_id=0 (driver-side 1-row lookup —
    the reference embeds the query text client-side the same way,
    src/semantic_search.py:54-58)."""
    return spark.table("embeddings").filter(F.col("vec_id") == 0).select(
        "embedding"
    ).first()[0]


def _lsh_bucket_sql(vec_expr: str, planes) -> str:
    """DuckDB twin of operators/vecfold.sign_buckets for ONE table: the
    sign-bit bucket as explicit left-associated arithmetic. The kernel
    left-folds (0.0 + x1*p1) + x2*p2 + ... in double; the SQL
    chain below parses left-associative over the SAME float literals
    (repr round-trips exactly), so both engines produce bit-identical
    dots and therefore identical sign bits — the only place 6dp rounding
    can't paper over a difference."""
    bits = []
    for i, plane in enumerate(planes):
        dot = " + ".join(
            f"{vec_expr}[{j + 1}] * {x!r}" for j, x in enumerate(plane)
        )
        bits.append(f"CASE WHEN ({dot}) >= 0 THEN {1 << i} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


def _lsh_topk_sql(n_planes: int = 4, n_tables: int = 8, dim: int = 64) -> str:
    from esco_neo4j_spark.operators.similarity import _hyperplanes

    all_planes = _hyperplanes(dim, n_planes * n_tables, 42)
    conds = []
    for t in range(n_tables):
        planes = all_planes[t * n_planes:(t + 1) * n_planes]
        conds.append(
            f"{_lsh_bucket_sql('e.embedding', planes)}"
            f" = {_lsh_bucket_sql('a.aemb', planes)}"
        )
    any_table = "\n      OR ".join(conds)
    cos = _COS.format(anchor=_ANCHOR_SQL)
    return f"""
    WITH a AS (SELECT embedding AS aemb FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.embedding
      FROM embeddings e CROSS JOIN a
      WHERE {any_table}
    )
    SELECT vec_id, CAST(round({cos}, 6) AS DOUBLE) AS score
    FROM cand
    WHERE embedding IS NOT NULL
    ORDER BY score DESC, vec_id ASC
    LIMIT 10
    """


def _lsh_join_sql(
    threshold: float, n_planes: int = 4, n_tables: int = 16, dim: int = 64,
    max_bucket: int = 1024,
) -> str:
    from esco_neo4j_spark.operators.similarity import _hyperplanes

    all_planes = _hyperplanes(dim, n_planes * n_tables, 42)
    arms = []
    for t in range(n_tables):
        planes = all_planes[t * n_planes:(t + 1) * n_planes]
        arms.append(
            f"SELECT vec_id, {t} AS t,"
            f" {_lsh_bucket_sql('embedding', planes)} AS bucket"
            " FROM embeddings"
        )
    keyed = "\n      UNION ALL\n      ".join(arms)
    pair_cos = (
        "list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),"
        " CAST(eb.embedding AS DOUBLE[]))"
    )
    # capped replays the operator's max_bucket hot-bucket guard (lowest
    # ids per (t, bucket) participate; never binds at driver scales)
    return f"""
    WITH keyed AS (
      {keyed}
    ),
    capped AS MATERIALIZED (
      SELECT vec_id, t, bucket FROM (
        SELECT *, row_number() OVER (
          PARTITION BY t, bucket ORDER BY vec_id) AS rb FROM keyed)
      WHERE rb <= {max_bucket}
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      FROM capped x JOIN capped y ON x.t = y.t AND x.bucket = y.bucket
      WHERE x.vec_id < y.vec_id
    )
    SELECT c.id_a, c.id_b,
           CAST(round({pair_cos}, 6) AS DOUBLE) AS score
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE round({pair_cos}, 6) >= {threshold}
    ORDER BY id_a, id_b
    """


@query(
    "vec_cosine_topk",
    sql=f"""
    SELECT vec_id, CAST(round({_COS.format(anchor=_ANCHOR_SQL)}, 6) AS DOUBLE) AS score
    FROM embeddings
    WHERE embedding IS NOT NULL
      AND round({_COS.format(anchor=_ANCHOR_SQL)}, 6) > 0.2
    ORDER BY score DESC, vec_id ASC
    LIMIT 10
    """,
    survey_ops="H1,B3,B6,F2,K7",
    bench=True,
    tables=("embeddings",),
)
def vec_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k with threshold — the reference search query
    (src/semantic_search.py:61-71): filter NOT NULL, cosine, > threshold,
    ORDER BY score DESC LIMIT k. One scan, no shuffle, top-k via
    TakeOrderedAndProject."""
    return brute_force_topk(
        spark.table("embeddings"), _anchor_vec(spark), k=10, threshold=0.2
    )


@query(
    "vec_similarity_join",
    sql="""
    WITH cal AS (SELECT * FROM embeddings WHERE vec_id < 1024)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(round(list_cosine_similarity(
             CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS DOUBLE)
             AS score
    FROM cal a JOIN cal b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(
            CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.45
    ORDER BY id_a, id_b
    """,
    survey_ops="C9,H1,B7",
    tables=("embeddings",),
)
def vec_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine join above a threshold on a FIXED
    calibration window (vec_id < 1024) — the ground-truth baseline the
    scale paths are measured against (LSH recall floors, blocked-GEMM
    score agreement). The id bound makes the O(N^2) cost CONSTANT in
    corpus size, so this query is safe to keep registered at any SF;
    production exact all-pairs is blocked_cosine_pairs (GEMM blocks),
    and the 100 TB similarity join is vec_lsh_similarity_join (the
    driver-window C9 carrier)."""
    return cosine_self_join(
        spark.table("embeddings").filter(F.col("vec_id") < 1024),
        threshold=0.45,
    ).orderBy("id_a", "id_b")


def _join_params(sf_dir: str) -> tuple[int, int]:
    """Scale-adaptive banding for the similarity join: derived from the
    embeddings parquet-metadata row count (identical on both engines).
    (5, 18) at the mirror/driver scales (sf0.001 and sf0.01 both carry
    N = 500), (7, 22) at sf0.1, (10, 28) at the sf1 audit (N = 20k)."""
    from esco_neo4j_spark.catalog import table_rowcount
    from esco_neo4j_spark.operators.similarity import derive_lsh_params

    return derive_lsh_params(
        table_rowcount(sf_dir, "embeddings"), base_tables=16
    )


@query(
    "vec_lsh_similarity_join",
    # full value oracle: plane literals embedded, per-table buckets
    # replayed via UNION ALL, candidate pairs deduped, exact verify —
    # recall vs the exact join is additionally pytest-asserted. The SQL
    # is a per-sf_dir builder (resolve_sql) because n_planes/n_tables
    # are now derived from corpus size; both builders call _join_params.
    sql=lambda sf_dir: _lsh_join_sql(
        threshold=0.45,
        n_planes=_join_params(sf_dir)[0],
        n_tables=_join_params(sf_dir)[1],
    ),
    survey_ops="C9,A7(scale)",
    tables=("embeddings",),
)
def vec_lsh_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH similarity join (OR-of-AND banding): equi-join on
    (table, sign-bucket), exact verify on deduped candidates — replaces
    the cross join at scale (SURVEY §2 A7 mapping). Banding parameters
    are derived from the corpus row count (derive_lsh_params) so bucket
    count tracks N — the round-4 audit's fixed-16-bucket superlinearity
    fix — and the oracle builder replays the same derivation."""
    n_planes, n_tables = _join_params(sf_dir)
    return lsh_self_join(
        spark.table("embeddings"), threshold=0.45,
        n_planes=n_planes, n_tables=n_tables,
    ).orderBy("id_a", "id_b")


@query(
    "vec_lsh_topk",
    # the hyperplanes are deterministic operator PARAMETERS (seeded), so
    # the oracle embeds the same float literals and replays bucketing,
    # candidate selection, and exact re-rank — full value oracle; recall
    # floors additionally pytest-asserted in tests/test_similarity.py.
    # r5: banding derives from corpus size (the probe reads ~L/2^k of
    # the data — FIXED k=4 means scanning 8/16 of a 100 TB corpus per
    # query; derived planes keep the probed fraction shrinking with N
    # while extra tables hold top-k recall, which concentrates at high
    # cosine where per-table collision decays slowest)
    sql=lambda sf_dir: _lsh_topk_sql(
        n_planes=_knn_params(sf_dir)[0], n_tables=_knn_params(sf_dir)[1]
    ),
    survey_ops="A7(scale),H1,K7",
    tables=("embeddings",),
)
def vec_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via multi-table hyperplane-LSH bucket pruning (banding
    derived from corpus size — see derive_lsh_params)."""
    n_planes, n_tables = _knn_params(sf_dir)
    return lsh_topk(
        spark.table("embeddings"), _anchor_vec(spark), k=10,
        n_planes=n_planes, n_tables=n_tables,
    )


@query(
    "vec_centroid_per_label",
    sql="""
    SELECT label, CAST(pos AS INT) AS pos,
           CAST(round(avg(val), 6) AS DOUBLE) AS mean_val
    FROM (
      SELECT label, p.pos AS pos,
             CAST(embedding AS DOUBLE[])[p.pos] AS val
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos) p
    )
    GROUP BY label, pos
    ORDER BY label, pos
    """,
    survey_ops="I9(ext),D3",
    tables=("embeddings",),
)
def vec_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components via posexplode + groupBy avg — the
    set-oriented form of a vector UDAF (SURVEY §2.I9 extension). At scale
    this is one shuffle keyed (label, pos) with map-side partial avg."""
    e = spark.table("embeddings")
    return (
        e.select(
            "label",
            F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
                "pos0", "val"
            ),
        )
        .select("label", (F.col("pos0") + 1).cast("int").alias("pos"), "val")
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("mean_val"))
        .orderBy("label", "pos")
    )


@query(
    "vec_knn_per_label_anchor",
    sql=f"""
    SELECT label, vec_id, score, CAST(rn AS INT) AS rn
    FROM (
      SELECT label, vec_id,
             CAST(round({_COS.format(anchor=_ANCHOR_SQL)}, 6) AS DOUBLE) AS score,
             row_number() OVER (
               PARTITION BY label
               ORDER BY round({_COS.format(anchor=_ANCHOR_SQL)}, 6) DESC, vec_id ASC
             ) AS rn
      FROM embeddings
    ) WHERE rn <= 3
    ORDER BY label, rn
    """,
    survey_ops="E(ext),H1,K7",
    tables=("embeddings",),
)
def vec_knn_per_label_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 nearest to the anchor per label — windowed top-k over a
    similarity column (the two-phase search+profile shape K7 where the
    profile dimension is the label)."""
    from pyspark.sql import Window

    e = spark.table("embeddings")
    anchor = _anchor_vec(spark)
    scored = e.select(
        "label",
        "vec_id",
        F.round(cosine_similarity(F.col("embedding"), anchor), 6).alias("score"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("label", "vec_id", "score", F.col("rn").cast("int").alias("rn"))
        .orderBy("label", "rn")
    )


@query(
    "vec_ivf_topk",
    sql=f"""
    WITH cents AS (
      -- first 8 rows by id (mirrors _fetch_centroids: works for string or
      -- sparse ids, not just dense integers from 0)
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE embedding IS NOT NULL
      ORDER BY vec_id LIMIT 8
    ),
    probe AS (
      SELECT cid FROM cents
      ORDER BY list_cosine_similarity(cvec, {_ANCHOR_SQL}) DESC, cid ASC
      LIMIT 2
    ),
    assign AS (
      -- norm > 0 mirrors ivf_assign's zero-norm handling: NaN cosine
      -- against every centroid -> NULL cell in Spark (never probed);
      -- without the predicate DuckDB's NaN sorts first under DESC and
      -- would hand a zero vector the lowest cid.
      SELECT vec_id, embedding, cid AS cell
      FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), c.cvec) DESC, c.cid ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
        WHERE list_aggregate(list_transform(
                CAST(e.embedding AS DOUBLE[]), x -> x*x), 'sum') > 0
      ) WHERE rn = 1
    )
    SELECT vec_id, CAST(round({_COS.format(anchor=_ANCHOR_SQL)}, 6) AS DOUBLE) AS score
    FROM assign
    WHERE cell IN (SELECT cid FROM probe)
    ORDER BY score DESC, vec_id ASC
    LIMIT 10
    """,
    survey_ops="A7(scale),H1,K7",
    tables=("embeddings",),
)
def vec_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k: deterministic coarse centroids (first 8 vectors —
    production trains k-means offline), broadcast argmax cell assignment,
    nprobe=2 probe, exact re-rank in-cell. Fully deterministic, so this
    ANN scale path is value-hash oracle-checked, not just rows-only."""
    from esco_neo4j_spark.operators.similarity import ivf_topk

    return ivf_topk(
        spark.table("embeddings"), _anchor_vec(spark), k=10, n_cells=8, nprobe=2
    )


@query(
    "vec_pq_topk",
    sql=f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL
    ),
    cb AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
      WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 16
    ),
    subs AS (SELECT unnest(generate_series(0, 7)) AS s),
    dists AS (
      SELECT t.vec_id, subs.s, cb.cid,
             round(list_aggregate(list_transform(generate_series(1, 8),
                   i -> (t.v[subs.s*8 + i] - cb.cv[subs.s*8 + i])^2),
                   'sum'), 9) AS d
      FROM vecs t, subs, cb
    ),
    codes AS (
      SELECT vec_id, s, cid AS code FROM dists
      QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) = 1
    ),
    q AS (SELECT {_ANCHOR_SQL} AS v),
    adc AS (
      SELECT c.vec_id,
             sum(list_aggregate(list_transform(generate_series(1, 8),
                 i -> q.v[c.s*8 + i] * cb.cv[c.s*8 + i]), 'sum')) AS dot,
             sum(list_aggregate(list_transform(generate_series(1, 8),
                 i -> cb.cv[c.s*8 + i] * cb.cv[c.s*8 + i]), 'sum')) AS n2
      FROM codes c JOIN cb ON cb.cid = c.code CROSS JOIN q
      GROUP BY c.vec_id
    ),
    nq AS (
      SELECT sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS n
      FROM q
    ),
    cand AS (
      SELECT vec_id FROM adc, nq
      ORDER BY round(dot / (nq.n * sqrt(n2)), 9) DESC, vec_id LIMIT 30
    )
    SELECT e.vec_id,
           CAST(round({_COS.format(anchor=_ANCHOR_SQL)}, 6) AS DOUBLE) AS score
    FROM embeddings e JOIN cand USING (vec_id)
    ORDER BY score DESC, vec_id LIMIT 10
    """,
    survey_ops="A7(scale),H1,K7",
    tables=("embeddings",),
)
def vec_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-k (8 subspaces x 16 codes, ADC
    scoring, exact re-rank of the best 30): the memory-bound 100 TB ANN
    path — the scan touches PQ codes only, raw vectors are read for just
    the re-rank candidates. Deterministic codebooks + 9dp rounding before
    every ranking make the whole approximate pipeline value-hash
    oracle-checked, like vec_ivf_topk."""
    from esco_neo4j_spark.operators.similarity import pq_topk

    return pq_topk(
        spark.table("embeddings"), _anchor_vec(spark),
        k=10, rerank=30, m=8, n_codes=16,
    )


@query(
    "vec_ivfpq_topk",
    sql=f"""
    WITH vecs AS (
      -- norm > 0 mirrors ivf_assign's zero-norm handling (NULL cell in
      -- Spark, filtered before encode); see vec_ivf_topk's assign CTE.
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_aggregate(list_transform(
              CAST(embedding AS DOUBLE[]), x -> x*x), 'sum') > 0
    ),
    cents AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE embedding IS NOT NULL
      ORDER BY vec_id LIMIT 8
    ),
    assign AS (
      SELECT vec_id, v, cid AS cell, cvec FROM (
        SELECT t.vec_id, t.v, c.cid, c.cvec,
               row_number() OVER (
                 PARTITION BY t.vec_id
                 ORDER BY list_cosine_similarity(t.v, c.cvec) DESC, c.cid ASC
               ) AS rn
        FROM vecs t CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    res AS (
      SELECT vec_id, cell,
             list_transform(list_zip(v, cvec), x -> x[1] - x[2]) AS r
      FROM assign
    ),
    rcb AS (
      SELECT vec_id AS kid, r AS kv FROM res ORDER BY vec_id LIMIT 16
    ),
    subs AS (SELECT unnest(generate_series(0, 7)) AS s),
    dists AS (
      SELECT t.vec_id, subs.s, rcb.kid,
             round(list_aggregate(list_transform(generate_series(1, 8),
                   i -> (t.r[subs.s*8 + i] - rcb.kv[subs.s*8 + i])
                      * (t.r[subs.s*8 + i] - rcb.kv[subs.s*8 + i])),
                   'sum'), 9) AS d
      FROM res t, subs, rcb
    ),
    codes AS (
      SELECT vec_id, s, kid AS code FROM dists
      QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, kid) = 1
    ),
    q AS (SELECT {_ANCHOR_SQL} AS qv),
    probe AS (
      SELECT cid, cvec FROM cents, q
      ORDER BY list_cosine_similarity(cvec, qv) DESC, cid ASC
      LIMIT 2
    ),
    qres AS (
      SELECT cid, list_transform(list_zip(qv, cvec), x -> x[1] - x[2]) AS qr
      FROM probe, q
    ),
    adc AS (
      SELECT c.vec_id,
             sum(CAST(floor(list_aggregate(list_transform(
                   generate_series(1, 8),
                   i -> (p.qr[c.s*8 + i] - kb.kv[c.s*8 + i])
                      * (p.qr[c.s*8 + i] - kb.kv[c.s*8 + i])),
                   'sum') * 1e9 + 0.5) AS BIGINT)) AS d2n
      FROM codes c
      JOIN res t USING (vec_id)
      JOIN qres p ON p.cid = t.cell
      JOIN rcb kb ON kb.kid = c.code
      GROUP BY c.vec_id
    ),
    cand AS (SELECT vec_id FROM adc ORDER BY d2n, vec_id LIMIT 30)
    SELECT e.vec_id,
           CAST(round({_COS.format(anchor=_ANCHOR_SQL)}, 6) AS DOUBLE) AS score
    FROM embeddings e JOIN cand USING (vec_id)
    ORDER BY score DESC, vec_id LIMIT 10
    """,
    survey_ops="A7(scale),H1,K7",
    tables=("embeddings",),
)
def vec_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ residual ANN (the FAISS IVFPQ architecture, completing the
    compression-family set after IVF / PQ / SQ8): coarse cell assignment,
    PQ codes over RESIDUALS (vector minus cell centroid — the residual
    trick that makes coarse+fine quantization compose), per-cell ADC
    lookup tables in integer nano-units (floor(x*1e9 + 0.5) in Python,
    Spark, and DuckDB alike, so candidate ranking is an integer sort),
    nprobe=2, exact re-rank of the best 30. Every stage deterministic —
    the full coarse->residual->encode->ADC->rerank pipeline is value-hash
    oracle-checked. See operators/similarity.ivfpq_topk for the 100 TB
    shape (offline build partitioned by cell, code-only probe scans)."""
    from esco_neo4j_spark.operators.similarity import ivfpq_topk

    return ivfpq_topk(
        spark.table("embeddings"), _anchor_vec(spark),
        k=10, rerank=30, n_cells=8, nprobe=2, m=8, n_codes=16,
    )


def _kmeans_unrolled_sql(k: int = 8, n_iter: int = 3, dim: int = 64) -> str:
    """DuckDB twin of operators/similarity.kmeans_lloyd, unrolled: per
    iteration an argmin assignment (squared-L2 as a list_zip/list_reduce
    left fold — the same fold order as Spark's F.aggregate, and list_reduce
    starting at x1 equals Spark's 0.0+x1 exactly — rounded 9dp with the
    min-cluster tiebreak) and a per-(cluster, dim) mean rebuilt into
    centroid lists, empty clusters carrying the previous centroid.
    Per-dimension means sum ~n/k doubles whose order differs between
    engines; both are deterministic on a fixed dataset, so established
    green parity is stable (same argument as esco_pagerank's oracle)."""
    sq = (
        "round(list_reduce(list_transform(list_zip(p.v, c.cvec),"
        " x -> (x[1] - x[2]) * (x[1] - x[2])), (acc, y) -> acc + y), 9)"
    )
    sql = [f"""
    WITH pts AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS cvec
      FROM pts QUALIFY row_number() OVER (ORDER BY vec_id) <= {k}
    )"""]
    for i in range(1, n_iter + 2):  # n_iter updates + the final assignment
        sql.append(f""",
    a{i} AS (
      SELECT p.vec_id, p.v, c.cluster, {sq} AS d
      FROM pts p CROSS JOIN c{i - 1} c
      QUALIFY row_number() OVER (PARTITION BY p.vec_id
                                 ORDER BY d ASC, c.cluster ASC) = 1
    )""")
        if i <= n_iter:
            sql.append(f""",
    m{i} AS (
      SELECT a.cluster, g.i AS pos, avg(a.v[g.i]) AS m
      FROM a{i} a, generate_series(1, {dim}) AS g(i)
      GROUP BY a.cluster, g.i
    ),
    cm{i} AS (
      SELECT cluster, list(m ORDER BY pos) AS cvec FROM m{i} GROUP BY cluster
    ),
    c{i} AS (
      SELECT c.cluster, coalesce(cm.cvec, c.cvec) AS cvec
      FROM c{i - 1} c LEFT JOIN cm{i} cm USING (cluster)
    )""")
    sql.append(f"""
    SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(round(avg(round(sqrt(d), 6)), 4) AS DOUBLE) AS avg_dist
    FROM a{n_iter + 1} GROUP BY cluster ORDER BY cluster""")
    return "".join(sql)


@query(
    "vec_kmeans_clusters",
    # Lloyd iterations UNROLLED via DuckDB list arithmetic — full value
    # oracle; goldens + determinism additionally pinned in
    # tests/test_similarity.py
    sql=_kmeans_unrolled_sql(k=8, n_iter=3),
    survey_ops="kmeans(ext),A7(train)",
    tables=("embeddings",),
)
def vec_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size/compactness summary of Lloyd's k-means (k=8, 3
    iterations, deterministic first-k init) — the in-engine codebook
    training that ivf_assign/pq_encode consume frozen. Per-iteration
    cost: one narrow assignment map + one partial-aggregable (cluster,
    dim) mean whose shuffle is k*D rows per partition; see
    operators/similarity.kmeans_lloyd."""
    from esco_neo4j_spark.operators.similarity import kmeans_lloyd

    assigned = kmeans_lloyd(spark.table("embeddings"), k=8, max_iter=3)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("dist"), 4).alias("avg_dist"),
        )
        .orderBy("cluster")
    )


def _jl_proj_sql(dim: int = 64, out_dim: int = 8) -> str:
    """DuckDB twin of the JL projection: one left-associated dot chain per
    output dimension over the SAME float literals the Spark side folds
    (repr round-trips exactly; see _lsh_bucket_sql for why this is the
    bit-exactness recipe)."""
    from esco_neo4j_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, out_dim, seed=7)
    scale = 1.0 / (out_dim ** 0.5)
    cols = []
    for i, plane in enumerate(planes):
        dot = " + ".join(
            f"CAST(embedding AS DOUBLE[])[{j + 1}] * {x!r}"
            for j, x in enumerate(plane)
        )
        cols.append(f"CAST(round(({dot}) * {scale!r}, 6) AS DOUBLE) AS p{i}")
    proj_sq = " + ".join(
        f"pow({_jl_dot_sql(planes[i])} * {scale!r}, 2)" for i in range(out_dim)
    )
    return ",\n           ".join(cols), proj_sq


def _jl_dot_sql(plane) -> str:
    return "(" + " + ".join(
        f"CAST(embedding AS DOUBLE[])[{j + 1}] * {x!r}"
        for j, x in enumerate(plane)
    ) + ")"


_JL_COLS, _JL_PROJ_SQ = _jl_proj_sql()


@query(
    "vec_random_projection",
    sql=f"""
    SELECT vec_id, label,
           {_JL_COLS},
           CAST(round(sqrt({_JL_PROJ_SQ})
                / sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                                     x -> x * x), 'sum')), 4)
                AS DOUBLE) AS norm_ratio
    FROM embeddings
    ORDER BY vec_id
    LIMIT 200
    """,
    survey_ops="vector-projection(ext),H1",
    tables=("embeddings",),
)
def vec_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 8 dims: a fixed
    Gaussian projection matrix (the LSH hyperplane generator with its own
    seed) applied as eight fold-dot column expressions, scaled 1/sqrt(8).
    The norm_ratio column exposes how well the projection preserves each
    vector's length — the JL guarantee says concentration around 1.

    Scale shape: pure per-row arithmetic over the scan (no shuffle, no
    UDF); the projection matrix lives in the plan as literals, the same
    broadcast-free trick the LSH/IVF operators use. This is the
    dimensionality-reduction front half of cheap ANN/clustering at 100 TB
    — downstream stages run on 8-dim vectors, an 8x IO/CPU cut."""
    from esco_neo4j_spark.operators.similarity import _hyperplanes

    emb = spark.table("embeddings")
    planes = _hyperplanes(64, 8, seed=7)
    scale = 1.0 / (8 ** 0.5)
    proj = [
        F.round(dot_product(F.col("embedding"), p) * scale, 6).alias(f"p{i}")
        for i, p in enumerate(planes)
    ]
    proj_norm = F.sqrt(
        sum(
            F.pow(dot_product(F.col("embedding"), p) * scale, 2)
            for p in planes
        )
    )
    return (
        emb.select(
            "vec_id",
            "label",
            *proj,
            F.round(proj_norm / l2_norm(F.col("embedding")), 4).alias(
                "norm_ratio"
            ),
        )
        .orderBy("vec_id")
        .limit(200)
    )


def _matryoshka_sql(prefix_dims: int = 16, m: int = 50, k: int = 10) -> str:
    # coarse dot as an explicit LEFT-ASSOCIATED chain over the same
    # doubles Spark's aggregate() fold sees -> bit-identical candidate
    # cutoff (the _lsh_bucket_sql trick); full cosine rounded 6dp as in
    # every other vector query.
    chain = " + ".join(
        f"v.v[{j + 1}] * a.aemb[{j + 1}]" for j in range(prefix_dims)
    )
    return f"""
    WITH a AS (
      SELECT CAST(embedding AS DOUBLE[]) AS aemb FROM embeddings
      WHERE vec_id = 0
    ),
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL
    ),
    coarse AS (
      SELECT v.vec_id, v.v, (0.0 + {chain}) AS cdot
      FROM v CROSS JOIN a
    ),
    cand AS (
      SELECT vec_id, v, cdot FROM coarse
      QUALIFY row_number() OVER (ORDER BY cdot DESC, vec_id) <= {m}
    )
    SELECT c.vec_id,
           CAST(round(c.cdot, 6) AS DOUBLE) AS coarse_score,
           CAST(round(list_cosine_similarity(c.v, a.aemb), 6) AS DOUBLE)
             AS score
    FROM cand c CROSS JOIN a
    ORDER BY score DESC, vec_id LIMIT {k}
    """


@query(
    "vec_matryoshka_rerank",
    sql=_matryoshka_sql(),
    survey_ops="A7,K7,vector-matryoshka(ext)",
    tables=("embeddings",),
)
def vec_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style two-stage search: a cheap dot product over the
    FIRST 16 of 64 dimensions picks m=50 candidates, then exact full-
    dimension cosine reranks to the final top-10 — the truncated-prefix
    pattern matryoshka-trained embeddings exist for, and the third ANN
    family next to IVF (partition pruning) and LSH (hash pruning): here
    the pruning axis is DIMENSIONS, so stage 1 reads a quarter of the
    vector bytes. The coarse dot is a left-associated double fold on
    both engines (bit-identical, so the candidate CUTOFF is exact, not
    rounded); stage 2 scores only m rows. Both stages are scans +
    TakeOrderedAndProject — no shuffle, no index build; at 100 TB store
    the prefix as its own column (or PQ-code it) so stage 1's scan
    shrinks on disk too."""
    anchor = _anchor_vec(spark)
    prefix = [float(x) for x in anchor[:16]]
    e = spark.table("embeddings").filter(F.col("embedding").isNotNull())
    cdot = dot_product(F.slice(F.col("embedding"), 1, 16), prefix)
    cand = (
        e.select("vec_id", "embedding", cdot.alias("cdot"))
        .orderBy(F.desc("cdot"), F.asc("vec_id"))
        .limit(50)
    )
    return (
        cand.select(
            "vec_id",
            F.round("cdot", 6).alias("coarse_score"),
            F.round(
                cosine_similarity(F.col("embedding"), anchor), 6
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


def _recall_eval_sql(sf_dir: str) -> str:
    cos = _COS.format(anchor=_ANCHOR_SQL)
    n_planes, n_tables = _knn_params(sf_dir)
    lsh = _lsh_topk_sql(n_planes=n_planes, n_tables=n_tables)
    return f"""
    WITH lsh AS ({lsh}),
    exact AS (
      SELECT vec_id
      FROM embeddings
      WHERE embedding IS NOT NULL
      ORDER BY round({cos}, 6) DESC, vec_id ASC
      LIMIT 10
    )
    SELECT CAST(10 AS INT) AS k,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(round(count(*) / 10.0, 6) AS DOUBLE) AS recall
    FROM lsh JOIN exact USING (vec_id)
    """


@query(
    "vec_lsh_recall_eval",
    sql=_recall_eval_sql,  # per-sf_dir builder: banding derives from N
    survey_ops="A7(scale),ann-eval(ext)",
    tables=("embeddings",),
)
def vec_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation AS A QUERY: recall@10 of the hyperplane-LSH
    top-k against brute-force exact top-k, computed by joining the two
    result sets — the continuous-monitoring harness an ANN deployment
    runs next to its index (sudden recall drops mean the data drifted
    away from the hash planes). Both sides are already value-oracled
    operators; their composition replays bit-exact in SQL, so even the
    EVALUATION itself is hash-checked. At 100 TB run it over a sampled
    anchor panel instead of one query point."""
    from esco_neo4j_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    e = spark.table("embeddings")
    anchor = _anchor_vec(spark)
    n_planes, n_tables = _knn_params(sf_dir)
    lsh = lsh_topk(
        e, anchor, k=10, n_planes=n_planes, n_tables=n_tables
    ).select("vec_id")
    exact = brute_force_topk(e, anchor, k=10).select("vec_id")
    return (
        lsh.join(exact, "vec_id")
        .agg(F.count("*").alias("n_hits"))
        .select(
            F.lit(10).cast("int").alias("k"),
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.round(F.col("n_hits") / 10.0, 6).alias("recall"),
        )
    )


def _ivf_recall_sql() -> str:
    from esco_neo4j_spark.plans.registry import REGISTRY

    cos = _COS.format(anchor=_ANCHOR_SQL)
    ivf = REGISTRY["vec_ivf_topk"].sql  # reuse the oracled formulation
    return f"""
    WITH ivf AS ({ivf}),
    exact AS (
      SELECT vec_id FROM embeddings
      WHERE embedding IS NOT NULL
      ORDER BY round({cos}, 6) DESC, vec_id ASC
      LIMIT 10
    )
    SELECT CAST(10 AS INT) AS k,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(round(count(*) / 10.0, 6) AS DOUBLE) AS recall
    FROM ivf JOIN exact USING (vec_id)
    """


@query(
    "vec_ivf_recall_eval",
    sql=_ivf_recall_sql(),
    survey_ops="A7(scale),ann-eval(ext)",
    tables=("embeddings",),
)
def vec_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the IVF probe (nprobe=2 of 8 cells) against exact
    top-k — the eval-harness pattern from vec_lsh_recall_eval applied to
    the second ANN family, proving the monitoring shape generalizes:
    any index whose formulation is deterministic can have its quality
    metric sit in the hard gate. The oracle REUSES vec_ivf_topk's
    registered SQL as a CTE, so the two stay in lockstep by
    construction."""
    from esco_neo4j_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    e = spark.table("embeddings")
    anchor = _anchor_vec(spark)
    ivf = ivf_topk(e, anchor, k=10, n_cells=8, nprobe=2).select("vec_id")
    exact = brute_force_topk(e, anchor, k=10).select("vec_id")
    return (
        ivf.join(exact, "vec_id")
        .agg(F.count("*").alias("n_hits"))
        .select(
            F.lit(10).cast("int").alias("k"),
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.round(F.col("n_hits") / 10.0, 6).alias("recall"),
        )
    )


@query(
    "vec_sq_topk",
    sql=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE embedding IS NOT NULL),
    dims AS (SELECT CAST(j AS INT) AS j FROM range(1, 65) t(j)),
    flat AS (SELECT vec_id, j, v[j] AS x FROM e CROSS JOIN dims),
    st AS (SELECT j, min(x) AS mn, max(x) AS mx FROM flat GROUP BY j),
    q AS MATERIALIZED (
      SELECT vec_id, j,
             CASE WHEN mx = mn THEN 0
                  ELSE CAST(round((x - mn) * 255.0 / (mx - mn)) AS BIGINT)
             END AS q
      FROM flat JOIN st USING (j)),
    qa AS (SELECT j, q FROM q WHERE vec_id = 0),
    scores AS (
      SELECT q.vec_id, CAST(sum(q.q * qa.q) AS BIGINT) AS sq_score
      FROM q JOIN qa USING (j) GROUP BY q.vec_id),
    cand AS (
      SELECT vec_id, sq_score FROM scores
      ORDER BY sq_score DESC, vec_id LIMIT 50)
    SELECT c.vec_id, c.sq_score,
           CAST(round({_COS.format(anchor=_ANCHOR_SQL)}, 6) AS DOUBLE)
             AS score
    FROM cand c JOIN embeddings USING (vec_id)
    ORDER BY score DESC, vec_id
    LIMIT 10
    """,
    survey_ops="A7(scale),H1,F2",
    tables=("embeddings",),
)
def vec_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantization ANN (third compression family next to IVF
    and PQ): per-dimension [min,max] codes from ONE no-shuffle aggregate
    pass, integer-dot candidate scan (associative -> value-exact
    cutoff), exact float cosine re-rank of the top-50. The oracle
    recomputes the dataset stats independently — min/max involve no
    float summation, so both engines derive bit-identical codes; the
    only 6dp-rounded float in the whole pipeline is the final re-rank
    score. See operators/similarity.sq_quantize/sq_topk."""
    from esco_neo4j_spark.operators.similarity import sq_topk

    e = spark.table("embeddings").filter(F.col("embedding").isNotNull())
    anchor = _anchor_vec(spark)
    return sq_topk(e, anchor, k=10, n_candidates=50)


# --- hybrid retrieval: BM25 + vector cosine fused by RRF --------------------
@query(
    "vec_hybrid_rrf",
    sql=None,  # replaced below — needs the BM25 CTE from text_queries
    survey_ops="K7,H1,text-bm25(ext)",
    tables=("documents", "embeddings"),
)
def vec_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25
    lexical ranking and the cosine vector ranking for the same corpus
    (doc_id == vec_id). Each side is cut to top-50 via orderBy+limit
    (TakeOrderedAndProject — no global window over the corpus; the
    row_number window runs on <= 50 rows). RRF contributions are
    quantized to integer nano-units, so the fused ordering is exact.
    Generalizes the reference's two-phase search (K7,
    src/semantic_search.py:185-216) to multi-system retrieval."""
    from pyspark.sql import Window

    from esco_neo4j_spark.plans.text_queries import _bm25_nano

    lex50 = (
        _bm25_nano(spark)
        .orderBy(F.desc("score_nano"), F.asc("doc_id"))
        .limit(50)
    )
    # constant partition keys on both rank windows: each runs on <= 50
    # rows (the limit above), so the single partition is safe by
    # construction — the key silences `WindowExec: No Partition Defined`
    # (`% 1` not lit(0): Catalyst folds a literal key away)
    wl = Window.partitionBy(F.col("doc_id") % 1).orderBy(
        F.desc("score_nano"), F.asc("doc_id")
    )
    lex = lex50.select(
        F.col("doc_id").alias("id"), F.row_number().over(wl).alias("lex_rank")
    )
    emb = spark.table("embeddings").filter(F.col("embedding").isNotNull())
    anchor = _anchor_vec(spark)
    scored = emb.select(
        "vec_id",
        F.round(cosine_similarity(F.col("embedding"), anchor), 6).alias("s"),
    )
    vec50 = scored.orderBy(F.desc("s"), F.asc("vec_id")).limit(50)
    wv = Window.partitionBy(F.col("vec_id") % 1).orderBy(
        F.desc("s"), F.asc("vec_id")
    )
    vec = vec50.select(
        F.col("vec_id").alias("id"), F.row_number().over(wv).alias("vec_rank")
    )
    rrf = F.when(
        F.col("lex_rank").isNotNull(),
        F.round(F.lit(1e9) / (60 + F.col("lex_rank"))).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint")) + F.when(
        F.col("vec_rank").isNotNull(),
        F.round(F.lit(1e9) / (60 + F.col("vec_rank"))).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        lex.join(vec, "id", "full_outer")
        .select(
            "id",
            rrf.alias("rrf_nano"),
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("vec_rank").cast("int").alias("vec_rank"),
        )
        .orderBy(F.desc("rrf_nano"), F.asc("id"))
        .limit(20)
    )


def _hybrid_rrf_sql() -> str:
    from esco_neo4j_spark.plans.text_queries import _bm25_nano_sql

    return f"""
    WITH {_bm25_nano_sql()},
    lex AS (
      SELECT doc_id AS id,
             row_number() OVER (ORDER BY score_nano DESC, doc_id) AS lex_rank
      FROM bm25 ORDER BY score_nano DESC, doc_id LIMIT 50),
    vscore AS (
      SELECT vec_id, round({_COS.format(anchor=_ANCHOR_SQL)}, 6) AS s
      FROM embeddings WHERE embedding IS NOT NULL),
    vec AS (
      SELECT vec_id AS id,
             row_number() OVER (ORDER BY s DESC, vec_id) AS vec_rank
      FROM vscore ORDER BY s DESC, vec_id LIMIT 50)
    SELECT COALESCE(lex.id, vec.id) AS id,
           CAST(COALESCE(CAST(round(1e9 / (60 + lex_rank)) AS BIGINT), 0)
              + COALESCE(CAST(round(1e9 / (60 + vec_rank)) AS BIGINT), 0)
              AS BIGINT) AS rrf_nano,
           CAST(lex_rank AS INT) AS lex_rank,
           CAST(vec_rank AS INT) AS vec_rank
    FROM lex FULL OUTER JOIN vec ON lex.id = vec.id
    ORDER BY rrf_nano DESC, id LIMIT 20
    """


# NOTE: the oracle SQL shares the BM25 CTE with text_queries, which
# imports later in plans/__init__ — the assignment
# REGISTRY["vec_hybrid_rrf"].sql = _hybrid_rrf_sql() runs there, after
# every module is fully initialized (avoids a circular import).


# --- batched top-k: one corpus pass scores a whole query batch -------------
@query(
    "vec_batch_topk",
    sql="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10),
    s AS (
      SELECT q.query_id, v.vec_id,
             round(list_cosine_similarity(
               CAST(v.embedding AS DOUBLE[]), q.qv), 6) AS score
      FROM embeddings v CROSS JOIN q
      WHERE v.embedding IS NOT NULL AND v.vec_id <> q.query_id)
    SELECT query_id, vec_id, CAST(score AS DOUBLE) AS score,
           CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, vec_id) AS rk
      FROM s)
    WHERE rk <= 3
    ORDER BY query_id, rk
    """,
    survey_ops="K7,H1,E",
    tables=("embeddings",),
)
def vec_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 neighbors for a BATCH of query vectors (vec_id < 10) in ONE
    corpus pass: broadcast the query batch, score every (query, corpus)
    pair, per-query top-k window. This is the set-oriented form of the
    reference's per-query search loop (src/semantic_search.py:185-216 runs
    one Cypher query per hit; K7) — at 100 TB you never scan the corpus
    per query, you join the query batch against one scan. The window is
    partitioned by query_id (batch-sized parallelism, no global sort)."""
    from pyspark.sql import Window

    emb = spark.table("embeddings").filter(F.col("embedding").isNotNull())
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    scored = (
        emb.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("qv")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("query_id", "vec_id", "score", F.col("rk").cast("int").alias("rk"))
        .orderBy("query_id", "rk")
    )


@query(
    "vec_filtered_topk",
    sql=f"""
    SELECT vec_id, label,
           CAST(round({_COS.format(anchor=_ANCHOR_SQL)}, 6) AS DOUBLE) AS score
    FROM embeddings
    WHERE embedding IS NOT NULL AND label = 2
    ORDER BY score DESC, vec_id LIMIT 10
    """,
    survey_ops="K7,H1,B5,filtered-ann(ext)",
    tables=("embeddings",),
)
def vec_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (the vector-DB feature ANN indexes struggle
    with): top-k cosine AMONG rows matching a metadata predicate
    (label = 2). Done as PRE-filter — the predicate pushes to the
    parquet scan, cosine is computed only on survivors, and the top-k is
    exact over the filtered set; post-filtering an unfiltered ANN top-k
    would under-fill k whenever the filter is selective. At 100 TB the
    label becomes a partition/z-order column so the filter prunes files
    before the scan."""
    emb = spark.table("embeddings").filter(
        F.col("embedding").isNotNull() & (F.col("label") == 2)
    )
    anchor = _anchor_vec(spark)
    return (
        emb.select(
            "vec_id",
            "label",
            F.round(
                cosine_similarity(F.col("embedding"), anchor), 6
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


# --- MMR diversified re-ranking --------------------------------------------
_MMR_K = 5          # greedy selection steps (unrolled in BOTH engines)
_MMR_POOL = 20      # candidate pool size
_MMR_LAMBDA = 0.7   # relevance weight


def _mmr_sql() -> str:
    """Unrolled greedy MMR: sel1 = argmax relevance; sel_{i+1} = argmax
    over the remaining pool of lambda*rel - (1-lambda)*max_sim_to_
    selected. Pool scores and pairwise sims are rounded 6dp first, so
    each step's argmax (with vec_id tiebreak) is deterministic in both
    engines."""
    cos = _COS.format(anchor=_ANCHOR_SQL)
    steps = ["""sel1 AS (
      SELECT vec_id, score, 1 AS rk FROM cand
      ORDER BY score DESC, vec_id LIMIT 1)"""]
    for i in range(2, _MMR_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id, score, rk FROM sel{j}" for j in range(1, i)
        )
        steps.append(f"""picked{i} AS ({prev}),
    sel{i} AS (
      SELECT c.vec_id, c.score, {i} AS rk
      FROM cand c
      JOIN sims s ON s.id_a = c.vec_id
      JOIN picked{i} p ON p.vec_id = s.id_b
      WHERE c.vec_id NOT IN (SELECT vec_id FROM picked{i})
      GROUP BY c.vec_id, c.score
      ORDER BY round({_MMR_LAMBDA} * c.score
                     - {round(1 - _MMR_LAMBDA, 6)} * max(s.sim), 6) DESC,
               c.vec_id
      LIMIT 1)"""
        )
    all_sel = " UNION ALL ".join(
        f"SELECT vec_id, score, rk FROM sel{j}" for j in range(1, _MMR_K + 1)
    )
    joined = ",\n    ".join(steps)
    return f"""
    WITH cand AS (
      SELECT vec_id, round({cos}, 6) AS score, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL
      ORDER BY score DESC, vec_id LIMIT {_MMR_POOL}),
    sims AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(a.v, b.v), 6) AS sim
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
    {joined}
    SELECT vec_id, CAST(score AS DOUBLE) AS score, CAST(rk AS INT) AS rk
    FROM ({all_sel}) ORDER BY rk
    """


@query(
    "vec_mmr_rerank",
    sql=_mmr_sql(),
    survey_ops="K7,H1,diversified-rerank(ext)",
    tables=("embeddings",),
)
def vec_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein):
    greedily pick 5 of the top-20 candidates maximizing
    lambda*relevance - (1-lambda)*max-similarity-to-already-picked —
    the standard diversification pass after retrieval (completes the
    retrieval stack: BM25, hybrid RRF, batched, filtered, MMR).

    The greedy recurrence is inherently sequential, but k is tiny and
    the POOL is k-sized by construction (TakeOrderedAndProject cuts the
    corpus to 20 before any pairwise work), so the unrolled plan does 5
    bounded joins over a 20-row checkpointed pool — the corpus is
    touched exactly once. Both engines unroll the identical steps."""
    emb = spark.table("embeddings").filter(F.col("embedding").isNotNull())
    anchor = _anchor_vec(spark)
    cand = (
        emb.select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), anchor), 6
            ).alias("score"),
            "embedding",
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(_MMR_POOL)
        .localCheckpoint(eager=True)  # 20 rows; reused by 5 greedy steps
    )
    a = cand.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = cand.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
    )
    sims = (
        a.join(b, F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_similarity(F.col("va"), F.col("vb")), 6
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    pool = cand.select("vec_id", "score")
    sel = pool.orderBy(F.desc("score"), F.asc("vec_id")).limit(1).select(
        "vec_id", "score", F.lit(1).alias("rk")
    )
    picked = sel
    for i in range(2, _MMR_K + 1):
        mmr = F.round(
            F.lit(_MMR_LAMBDA) * F.col("score")
            - F.lit(round(1 - _MMR_LAMBDA, 6)) * F.col("max_sim"),
            6,
        )
        # fresh row-sets per step avoid self-join attribute ambiguity
        # (picked derives from pool); 5-row collect is the greedy
        # recurrence's inherent sequential state, not data movement
        picked_ids = [r["vec_id"] for r in picked.select("vec_id").collect()]
        nxt = (
            pool.filter(~F.col("vec_id").isin(picked_ids))
            .join(sims, pool["vec_id"] == sims["id_a"])
            .filter(F.col("id_b").isin(picked_ids))
            .groupBy("vec_id", "score")
            .agg(F.max("sim").alias("max_sim"))
            .orderBy(mmr.desc(), F.asc("vec_id"))
            .limit(1)
            .select("vec_id", "score", F.lit(i).alias("rk"))
        )
        picked = picked.unionByName(nxt)
    return picked.select(
        "vec_id", "score", F.col("rk").cast("int").alias("rk")
    ).orderBy("rk")


def _knn_params(sf_dir: str) -> tuple[int, int]:
    """Scale-adaptive banding for the kNN graph (base 8 tables — the
    no-threshold candidate set is denser, so it runs fewer tables than
    the thresholded join). (5, 10) at the mirror/driver scales (N =
    500), (7, 14) at sf0.1, (10, 20) at the sf1 audit."""
    from esco_neo4j_spark.catalog import table_rowcount
    from esco_neo4j_spark.operators.similarity import derive_lsh_params

    return derive_lsh_params(
        table_rowcount(sf_dir, "embeddings"), base_tables=8
    )


_KNN_CAND_CAP = 16  # per-src pool size ahead of the exact-cosine verify


def _knn_ring(
    sf_dir: str, cand_cap: int = _KNN_CAND_CAP, stride: int = 1,
    n_tables: int = 8,
) -> "int | None":
    """Plan-side twin of the oracle builder's ring derivation: the ring
    width for the (layer) corpus in ``sf_dir``, from the same parquet
    footer count, with the same id-hash overflow guard when engaged."""
    from esco_neo4j_spark.catalog import table_rowcount
    from esco_neo4j_spark.operators.similarity import derive_knn_ring

    layer_n = -(-table_rowcount(sf_dir, "embeddings") // stride)
    ring = derive_knn_ring(layer_n, cand_cap, n_tables)
    if ring is not None:
        _gs_lvl_guard(sf_dir)
    return ring


def _knn_graph_sql(
    sf_dir: str, stride: int = 1, k: int = 3,
    cand_cap: int = _KNN_CAND_CAP,
    ring: "int | None | str" = "auto",
    descent: "bool | str" = False,
) -> str:
    """Replay of lsh_knn_graph: banding (same hyperplane literals),
    hot-bucket cap, SQ8 codes from the same min/max stats, ONE exact
    int dot per deduped pair, per-src rank on dot/sqrt(cn2(nbr))
    (exact ints into IEEE sqrt/divide — bit-identical to Spark),
    deterministic top-``cand_cap`` pool, exact cosine on the pool
    only, top-``k`` rank. ``stride`` > 1 builds the graph over the LAYER
    ``lvl_hash(vec_id) < 2^32/stride`` (the layered-search coarse
    graphs), with banding — and the SQ8 min/max stats — derived from
    the layer's own row count, exactly as the Spark plan derives
    them. ``ring``: "auto" derives the r9 ring width from the layer's
    footer row count (derive_knn_ring — engages at >= 100k rows, so
    every sub-100k oracle is byte-identical to r8's); None forces the
    exact all-pairs candidates; an int forces that ring width (tests
    pin Spark == DuckDB on the ring path with a small forced width).
    ``descent``: "auto" appends ONE NN-descent refinement round (the
    nn_descent_refine twin — forward neighbor-of-neighbor expansion,
    exact re-rank to top-k) iff the ring engaged, True/False force it;
    the registered vec_knn_graph_lsh passes "auto" (its r10
    identity-gap close), while the graph-search oracles keep the
    default False (their degree-16 graphs need navigability, not edge
    identity, and a descent there would cost ~(degree^2)·N cosines)."""
    from esco_neo4j_spark.catalog import table_rowcount
    from esco_neo4j_spark.operators.similarity import (
        _hyperplanes,
        derive_knn_ring,
    )

    n = table_rowcount(sf_dir, "embeddings")
    if stride == 1:
        n_planes, n_tables = _knn_params(sf_dir)
        lfilter = ""
        layer_n = n
    else:
        from esco_neo4j_spark.operators.similarity import derive_lsh_params

        _gs_lvl_guard(sf_dir)
        layer_n = -(-n // stride)
        n_planes, n_tables = derive_lsh_params(layer_n, base_tables=8)
        lfilter = f" WHERE {_GS_LVL_SQL} < {4294967296 // stride}"
    if ring == "auto":
        ring = derive_knn_ring(layer_n, cand_cap, n_tables)
    if ring is not None:
        _gs_lvl_guard(sf_dir)  # the ring order reuses the id hash
    if descent == "auto":
        descent = ring is not None
    dim, max_bucket = 64, 1024
    all_planes = _hyperplanes(dim, n_planes * n_tables, 42)
    arms = []
    for t in range(n_tables):
        planes = all_planes[t * n_planes:(t + 1) * n_planes]
        arms.append(
            f"SELECT vec_id, {t} AS t,"
            f" {_lsh_bucket_sql('embedding', planes)} AS bucket"
            f" FROM embeddings{lfilter}"
        )
    keyed = "\n      UNION ALL\n      ".join(arms)
    pair_cos = (
        "list_cosine_similarity(CAST(es.embedding AS DOUBLE[]),"
        " CAST(en.embedding AS DOUBLE[]))"
    )
    if ring is None:
        cand_ctes = """cand AS (
      SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      FROM capped x JOIN capped y ON x.t = y.t AND x.bucket = y.bucket
      WHERE x.vec_id < y.vec_id
    ),"""
    else:
        leads = ",\n             ".join(
            f"lead(vec_id, {w}) OVER rw AS l{w}"
            for w in range(1, ring + 1)
        )
        larr = ", ".join(f"l{w}" for w in range(1, ring + 1))
        cand_ctes = f"""rleads AS (
      SELECT vec_id,
             {leads}
      FROM (SELECT vec_id, t, bucket,
                   (xor((vec_id * 2654435761) % 4294967296,
                        (t * 2654435769) % 4294967296)
                    * 2145916205) % 4294967296 AS rh
            FROM capped)
      WINDOW rw AS (PARTITION BY t, bucket ORDER BY rh, vec_id)
    ),
    rnbr AS (
      SELECT vec_id AS id, unnest([{larr}]) AS nbr FROM rleads
    ),
    ragree AS (
      SELECT least(id, nbr) AS id_a, greatest(id, nbr) AS id_b,
             count(*) AS agr
      FROM rnbr WHERE nbr IS NOT NULL GROUP BY 1, 2
    ),
    rsym AS (
      SELECT id_a AS src, id_b AS cnb, agr FROM ragree
      UNION ALL SELECT id_b, id_a, agr FROM ragree
    ),
    cand AS (
      SELECT DISTINCT least(src, cnb) AS id_a, greatest(src, cnb) AS id_b
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY src
          ORDER BY agr DESC, (cnb * 2654435761) % 4294967296, cnb) AS rp
        FROM rsym)
      WHERE rp <= {3 * cand_cap}
    ),"""
    if descent:
        # g0 feeds TWO joins (base + expansion) — AS MATERIALIZED, or
        # DuckDB inlines the multiply-referenced CTE and replays the
        # whole graph pipeline twice (the simhash-canonical lesson)
        descent_tail = f""",
    g0 AS MATERIALIZED (
      SELECT src, nbr
      FROM (
        SELECT src, nbr, row_number() OVER (
          PARTITION BY src ORDER BY score DESC, nbr) AS rk
        FROM scored)
      WHERE rk <= {k}
    ),
    gex AS (
      SELECT b.src, g2.nbr FROM g0 b JOIN g0 g2 ON g2.src = b.nbr
      WHERE g2.nbr <> b.src
    ),
    gcand AS (
      SELECT DISTINCT src, nbr FROM (
        SELECT src, nbr FROM g0 UNION ALL SELECT src, nbr FROM gex)
    ),
    gsc AS (
      SELECT c.src, c.nbr,
             CAST(round({pair_cos}, 6) AS DOUBLE)
               AS score
      FROM gcand c
      JOIN embeddings es ON es.vec_id = c.src
      JOIN embeddings en ON en.vec_id = c.nbr
    )"""
        final_rel = "gsc"
    else:
        descent_tail = ""
        final_rel = "scored"
    return f"""
    WITH keyed AS (
      {keyed}
    ),
    capped AS MATERIALIZED (
      SELECT vec_id, t, bucket FROM (
        SELECT *, row_number() OVER (
          PARTITION BY t, bucket ORDER BY vec_id) AS rb FROM keyed)
      WHERE rb <= {max_bucket}
    ),
    {cand_ctes}
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE embedding IS NOT NULL
          {"AND " + _GS_LVL_SQL + " < " + str(4294967296 // stride)
           if stride > 1 else ""}),
    dims AS (SELECT CAST(j AS INT) AS j FROM range(1, {dim + 1}) t(j)),
    flat AS (SELECT vec_id, j, v[j] AS x FROM e CROSS JOIN dims),
    st AS (SELECT j, min(x) AS mn, max(x) AS mx FROM flat GROUP BY j),
    q AS MATERIALIZED (
      SELECT vec_id, j,
             CASE WHEN mx = mn THEN 0
                  ELSE CAST(round((x - mn) * 255.0 / (mx - mn)) AS BIGINT)
             END AS q
      FROM flat JOIN st USING (j)),
    qn AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS cn2
           FROM q GROUP BY vec_id),
    dots AS (
      SELECT c.id_a, c.id_b, CAST(sum(xa.q * xb.q) AS BIGINT) AS dot
      FROM cand c
      JOIN q xa ON xa.vec_id = c.id_a
      JOIN q xb ON xb.vec_id = c.id_b AND xb.j = xa.j
      GROUP BY 1, 2
    ),
    sym AS (
      SELECT d.id_a AS src, d.id_b AS nbr, d.dot, nb.cn2 AS cn2_nbr
      FROM dots d JOIN qn nb ON nb.vec_id = d.id_b
      UNION ALL
      SELECT d.id_b AS src, d.id_a AS nbr, d.dot, na.cn2 AS cn2_nbr
      FROM dots d JOIN qn na ON na.vec_id = d.id_a),
    pool AS (
      SELECT src, nbr FROM (
        SELECT src, nbr, row_number() OVER (
          PARTITION BY src
          ORDER BY CASE WHEN cn2_nbr = 0 THEN 0.0
                        ELSE CAST(dot AS DOUBLE)
                             / sqrt(CAST(cn2_nbr AS DOUBLE))
                   END DESC, nbr) AS rc
        FROM sym)
      WHERE rc <= {cand_cap}
    ),
    scored AS (
      SELECT p.src, p.nbr,
             CAST(round({pair_cos}, 6) AS DOUBLE) AS score
      FROM pool p
      JOIN embeddings es ON es.vec_id = p.src
      JOIN embeddings en ON en.vec_id = p.nbr
    ){descent_tail}
    SELECT src, nbr, score, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY src ORDER BY score DESC, nbr) AS rk
      FROM {final_rel})
    WHERE rk <= {k}
    ORDER BY src, rk
    """


@query(
    "vec_knn_graph_lsh",
    sql=None,  # assigned below (builds on _lsh_join_sql)
    survey_ops="A7(scale),C9,knn-graph(ext)",
    tables=("embeddings",),
)
def vec_knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN GRAPH over the whole corpus — each vector's top-3
    neighbors among its multi-table LSH candidates. The kNN graph is the
    substrate for graph-based ANN indexes, NN-descent refinement, and
    graph-clustering alternatives to SemDeDup. r7 (the r6 verdict's top
    scale item): candidates pre-rank per source by bucket-agreement
    count and only the top-``_KNN_CAND_CAP`` pool reaches the exact
    verify, so the cosine work and vector-fetch joins are bounded by
    cap×N instead of the full candidate set (see
    operators/similarity.lsh_knn_graph). Recall floor pinned in
    tests/test_similarity.py; the oracle replays banding, agreement
    counting, the capped pool, and ranking. Banding parameters derive
    from corpus size (derive_lsh_params) on both engines.

    r10 (verdict item 2): ABOVE the ring knee (derive_knn_ring — 100k
    footer rows) the output additionally gets ONE NN-descent
    refinement round (nn_descent_refine): the ring keeps candidate
    generation linear on clone cliques but recovers only ~0.55 of the
    exact top-k identities on near-ties; the descent round lets each
    ring edge vote its neighbors in (<= k + k^2 = 12 exact cosines per
    source — still linear, clique-size-independent) and lifts identity
    overlap (floor pinned in tests/test_similarity.py on the
    forced-ring clique corpus). Below the knee the plan and oracle are
    byte-identical to r9's exact path."""
    from esco_neo4j_spark.operators.similarity import (
        lsh_knn_graph,
        nn_descent_refine,
    )

    n_planes, n_tables = _knn_params(sf_dir)
    ring = _knn_ring(sf_dir, n_tables=n_tables)
    g = lsh_knn_graph(
        spark.table("embeddings"), k=3, cand_cap=_KNN_CAND_CAP,
        n_planes=n_planes, n_tables=n_tables,
        ring_window=ring,
    )
    if ring is not None:
        # checkpoint: the refined graph joins g against itself — without
        # it the whole banding+SQ8 pipeline would execute twice
        g = nn_descent_refine(
            g.select("src", "nbr").localCheckpoint(eager=True),
            spark.table("embeddings"), k=3,
        )
    return g


def _knn_graph_lsh_sql(sf_dir: str) -> str:
    """Registered oracle for vec_knn_graph_lsh: the shared graph SQL
    with descent="auto" — the NN-descent round engages exactly when
    the Spark plan's ring does (same footer-derived knee)."""
    return _knn_graph_sql(sf_dir, descent="auto")


from esco_neo4j_spark.plans.registry import REGISTRY as _REGISTRY  # noqa: E402

_REGISTRY["vec_knn_graph_lsh"].sql = _knn_graph_lsh_sql  # per-sf_dir builder


@query(
    "vec_label_centroid_sim",
    sql="""
    WITH cent AS (
      SELECT label, pos, round(avg(val), 6) AS m
      FROM (
        SELECT label, p.pos AS pos,
               CAST(embedding AS DOUBLE[])[p.pos] AS val
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos) p
      ) GROUP BY label, pos),
    p AS (
      SELECT a.label AS label_a, b.label AS label_b,
             sum(CAST(round(a.m * b.m * 1e12) AS BIGINT)) AS sab,
             sum(CAST(round(a.m * a.m * 1e12) AS BIGINT)) AS saa,
             sum(CAST(round(b.m * b.m * 1e12) AS BIGINT)) AS sbb
      FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
      GROUP BY a.label, b.label)
    SELECT label_a, label_b,
           CAST(round(sab / sqrt(CAST(saa AS DOUBLE) * sbb), 6) AS DOUBLE)
             AS cos_sim
    FROM p ORDER BY label_a, label_b
    """,
    survey_ops="H1,D3,drift-monitoring(ext)",
    tables=("embeddings",),
)
def vec_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label centroids — the embedding-drift
    monitor: a falling inter-centroid similarity flags distribution
    shift between cohorts (the vector-space face of text_source_
    divergence/events_psi_drift). Centroid components round 6dp first,
    per-position products quantize to integer 1e-12 units, so the sums
    are associative and the one sqrt/division is IEEE-identical. State
    is labels x dim — trivially broadcastable at any corpus size."""
    e = spark.table("embeddings")
    cent = (
        e.select(
            "label",
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("pos0", "val"),
        )
        .groupBy("label", F.col("pos0").alias("pos"))
        .agg(F.round(F.avg("val"), 6).alias("m"))
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("m").alias("ma")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("m").alias("mb")
    )
    q12 = lambda c: F.round(c * 1e12).cast("bigint")  # noqa: E731
    p = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(q12(F.col("ma") * F.col("mb"))).alias("sab"),
            F.sum(q12(F.col("ma") * F.col("ma"))).alias("saa"),
            F.sum(q12(F.col("mb") * F.col("mb"))).alias("sbb"),
        )
    )
    return p.select(
        "label_a",
        "label_b",
        F.round(
            F.col("sab")
            / F.sqrt(F.col("saa").cast("double") * F.col("sbb")),
            6,
        ).alias("cos_sim"),
    ).orderBy("label_a", "label_b")


# --- PCA: dominant component by power iteration ------------------------------
def _power_iter_sql(n_iter: int = 3, dim: int = 64) -> str:
    """Chained-CTE replay of the quantized power iteration: per-row dot in
    integer pico-units (order-free), per-dim sums in nano-units,
    normalization from exact integer aggregates."""
    import math

    v0 = 1.0 / math.sqrt(dim)
    parts = [
        "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x "
        "FROM embeddings WHERE embedding IS NOT NULL)",
        f"p AS (SELECT unnest(range(1, {dim + 1})) AS pos)",
        f"v0 AS (SELECT pos, {v0!r} AS val FROM p)",
    ]
    for k in range(1, n_iter + 1):
        prev = f"v{k - 1}"
        parts += [
            f"""vl{k} AS (SELECT list(val ORDER BY pos) AS vl FROM {prev})""",
            f"""dp{k} AS (
      SELECT vec_id, list_sum(list_transform(range(1, {dim + 1}),
               i -> CAST(round(x[i] * vl[i] * 1e12) AS BIGINT))) AS dp
      FROM emb CROSS JOIN vl{k})""",
            f"""c{k} AS (
      SELECT p.pos,
             sum(CAST(round((dp.dp / 1e12) * e.x[p.pos] * 1e9) AS BIGINT)) AS s
      FROM dp{k} dp JOIN emb e USING (vec_id) CROSS JOIN p
      GROUP BY p.pos)""",
            f"""w{k} AS (SELECT pos, s / 1e9 AS w FROM c{k})""",
            f"""n{k} AS (
      SELECT sqrt(sum(CAST(round(w * w * 1e12) AS BIGINT)) / 1e12) AS nrm
      FROM w{k})""",
            f"""v{k} AS (SELECT pos, w / nrm AS val FROM w{k} CROSS JOIN n{k})""",
        ]
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined}
    SELECT CAST(pos AS INT) AS dim,
           CAST(round(val, 6) AS DOUBLE) AS component
    FROM v{n_iter} ORDER BY dim
    """


@query(
    "vec_power_iteration_pc1",
    sql=_power_iter_sql(),
    survey_ops="spectral(ext),I9(ext),H1",
    tables=("embeddings",),
)
def vec_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction (uncentered PC1) of the embedding
    matrix by 3-step matrix-free power iteration — distributed spectral
    analysis with D-sized driver state (operators/similarity.py
    power_iteration_top_component). Every arithmetic step is quantized
    to integers before summation, so the oracle replays the identical
    iterations as chained CTEs — an ITERATIVE LINEAR-ALGEBRA loop inside
    the hard value gate. On gapless random data the 3-step iterate is
    exact-but-slow-to-converge (documented); the planted-spike golden in
    tests/test_similarity.py shows cos > 0.999 convergence when a
    spectral gap exists."""
    from esco_neo4j_spark.operators.similarity import (
        power_iteration_top_component,
    )

    from esco_neo4j_spark.functions.numeric import round6

    v = power_iteration_top_component(spark.table("embeddings"), n_iter=3)
    # round6, not builtin round: the oracle's round(val, 6) is
    # half-away-from-zero while Python's is half-even (6dp boundary flip)
    return spark.createDataFrame(
        [(i + 1, round6(x)) for i, x in enumerate(v)],
        "dim int, component double",
    ).orderBy("dim")


@query(
    "pipeline_hard_negatives",
    sql="""
    WITH q AS (
      SELECT vec_id AS query_id, label AS anchor_label,
             CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 8 AND embedding IS NOT NULL),
    s AS (
      SELECT q.query_id, q.anchor_label, v.vec_id, v.label AS neg_label,
             round(list_cosine_similarity(
               CAST(v.embedding AS DOUBLE[]), q.qv), 6) AS score
      FROM embeddings v CROSS JOIN q
      WHERE v.embedding IS NOT NULL AND v.label <> q.anchor_label)
    SELECT query_id, CAST(anchor_label AS INT) AS anchor_label,
           vec_id, CAST(neg_label AS INT) AS neg_label,
           CAST(score AS DOUBLE) AS score, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, vec_id) AS rk
      FROM s)
    WHERE rk <= 5
    ORDER BY query_id, rk
    """,
    survey_ops="H1,C9,E,K7",
    tables=("embeddings",),
)
def pipeline_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone #5 — HARD-NEGATIVE MINING for contrastive training
    (retrieval/embedding fine-tuning data construction): for each anchor
    in the query batch, the top-5 most-similar corpus vectors whose
    ground-truth label DIFFERS from the anchor's — close in embedding
    space but semantically wrong, exactly the negatives that make
    contrastive losses work (the in-batch-random alternative is too easy
    to be informative). One corpus pass: broadcast anchor batch, label
    mismatch as a join residual (at 100 TB the label filter also prunes
    a label-partitioned layout), per-anchor top-k window — the same
    batch-scan shape as vec_batch_topk with the exclusion predicate
    composed in. Scores rounded 6dp; full value oracle."""
    from pyspark.sql import Window

    emb = spark.table("embeddings").filter(F.col("embedding").isNotNull())
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("anchor_label"),
            F.col("embedding").alias("qv"),
        )
    )
    scored = (
        emb.crossJoin(q)
        .filter(F.col("label") != F.col("anchor_label"))
        .select(
            "query_id",
            F.col("anchor_label").cast("int").alias("anchor_label"),
            "vec_id",
            F.col("label").cast("int").alias("neg_label"),
            F.round(
                cosine_similarity(F.col("embedding"), F.col("qv")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 5)
        .orderBy("query_id", "rk")
    )


def _semantic_order_sql() -> str:
    """Oracle for pipeline_semantic_order: the two projection dots replay
    as left-associated literal chains (the _lsh_bucket_sql argument), the
    min/max scaling is exact-pick aggregation, and quantize + Morton
    interleave are pure integer arithmetic generated from one Python loop
    for both engines."""
    from esco_neo4j_spark.operators.similarity import _hyperplanes

    p1, p2 = _hyperplanes(64, 2, 777)
    def dot(plane):
        return " + ".join(
            f"embedding[{j + 1}] * {x!r}" for j, x in enumerate(plane)
        )
    def q(p, mn, mx):
        return (f"CAST(least(1023, greatest(0, floor((({p}) - {mn})"
                f" / (({mx}) - ({mn})) * 1024.0))) AS BIGINT)")
    morton = " + ".join(
        f"((q1 // {1 << j}) % 2) * {4 ** j} + ((q2 // {1 << j}) % 2) * {2 * 4 ** j}"
        for j in range(10)
    )
    return f"""
    WITH proj AS (
      SELECT vec_id, {dot(p1)} AS p1v, {dot(p2)} AS p2v
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    bounds AS (
      SELECT min(p1v) AS mn1, max(p1v) AS mx1,
             min(p2v) AS mn2, max(p2v) AS mx2
      FROM proj
    ),
    quant AS (
      SELECT vec_id,
             {q('p1v', 'mn1', 'mx1')} AS q1,
             {q('p2v', 'mn2', 'mx2')} AS q2
      FROM proj, bounds
    )
    SELECT vec_id, q1, q2, CAST({morton} AS BIGINT) AS morton
    FROM quant
    ORDER BY morton, vec_id
    """


@query(
    "pipeline_semantic_order",
    sql=_semantic_order_sql(),
    survey_ops="H1,zorder(ext),D1",
    tables=("embeddings",),
)
def pipeline_semantic_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone #8 — SEMANTIC CURRICULUM / LOCALITY ORDERING: give every
    vector a Morton position over two fixed random embedding projections,
    so sorting (or range-partitioning a write) by it places semantically
    similar examples in the same file splits — sequential training reads
    then touch coherent batches, and similarity-heavy jobs get data
    skipping (the embedding-space generalization of sources/zorder.py's
    2-column layout). Plan: two literal-plane fold dots (narrow map), one
    1-row min/max broadcast, integer quantize + bit interleave — no
    window, no corpus shuffle until the layout write itself. Locality
    gain over storage order is pytest-asserted; the full chain is
    value-oracled (left-associated dot replay + integer Morton)."""
    from esco_neo4j_spark.functions.vector import dot_product
    from esco_neo4j_spark.operators.similarity import _hyperplanes

    p1, p2 = _hyperplanes(64, 2, 777)
    emb = spark.table("embeddings").filter(F.col("embedding").isNotNull())
    proj = emb.select(
        "vec_id",
        dot_product(F.col("embedding"), p1).alias("p1v"),
        dot_product(F.col("embedding"), p2).alias("p2v"),
    )
    bounds = proj.agg(
        F.min("p1v").alias("mn1"), F.max("p1v").alias("mx1"),
        F.min("p2v").alias("mn2"), F.max("p2v").alias("mx2"),
    )
    def q(p, mn, mx):
        return F.least(
            F.lit(1023),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(p) - F.col(mn)) / (F.col(mx) - F.col(mn)) * 1024.0
                ),
            ),
        ).cast("bigint")
    quant = proj.crossJoin(F.broadcast(bounds)).select(
        "vec_id", q("p1v", "mn1", "mx1").alias("q1"),
        q("p2v", "mn2", "mx2").alias("q2"),
    )
    morton = F.lit(0).cast("bigint")
    for j in range(10):
        morton = (
            morton
            + (F.expr(f"q1 div {1 << j}") % 2) * (4 ** j)
            + (F.expr(f"q2 div {1 << j}") % 2) * (2 * 4 ** j)
        )
    return (
        quant.select("vec_id", "q1", "q2", morton.alias("morton"))
        .orderBy("morton", "vec_id")
    )


@query(
    "vec_covariance_matrix",
    sql="""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    n AS (SELECT count(*) AS n FROM q),
    sums AS (
      SELECT i, CAST(sum(qi) AS BIGINT) AS s FROM (
        SELECT unnest(generate_series(1, 64)) AS i, qv FROM q
      ) t, LATERAL (SELECT qv[i] AS qi)
      GROUP BY i
    ),
    prods AS (
      SELECT p.i, p.j, CAST(sum(p.v) AS BIGINT) AS p_sum FROM (
        SELECT unnest(flatten(list_transform(generate_series(1, 64),
                 i -> list_transform(generate_series(i, 64),
                      j -> {'i': i, 'j': j, 'v': qv[i] * qv[j]})))) AS p
        FROM q
      ) t
      GROUP BY p.i, p.j
    )
    SELECT p.i, p.j, p.p_sum,
           CAST(round((p.p_sum * 1.0 / n.n
                       - (si.s * 1.0 / n.n) * (sj.s * 1.0 / n.n)) / 1e12, 9)
                AS DOUBLE) AS cov
    FROM prods p
    JOIN sums si ON si.i = p.i
    JOIN sums sj ON sj.i = p.j
    CROSS JOIN n
    ORDER BY p.i, p.j
    """,
    survey_ops="H1,D8,vec-stats(ext)",
    tables=("embeddings",),
)
def vec_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 64x64 covariance matrix of the embedding corpus in ONE pass
    of sufficient statistics — the distributed-linear-algebra primitive
    under PCA/whitening/Mahalanobis (vec_power_iteration_pc1 extracts one
    eigenvector; this materializes the full Gram state it implicitly
    uses). Components are quantized to integer micro-units first, so the
    per-pair product sums and per-dimension sums are EXACT bigints in any
    aggregation order (playbook trick at matrix scale: 2080 upper-
    triangle cells + 64 sums are the ONLY state — constant in corpus
    size); cov derives from them by one deterministic expression. The
    pair explode is a per-row array expression (zero shuffle until the
    2080-group partial agg)."""
    emb = spark.table("embeddings").filter(F.col("embedding").isNotNull())
    q = emb.select(
        F.expr(
            "transform(embedding, x -> cast(round(cast(x as double) * 1000000)"
            " as bigint))"
        ).alias("qv")
    )
    n = q.count()
    sums = (
        q.select(F.posexplode("qv").alias("i0", "qi"))
        .groupBy("i0").agg(F.sum("qi").alias("s"))
        .select((F.col("i0") + 1).alias("i"), "s")
    )
    prods = (
        q.select(F.explode(F.expr(
            "flatten(transform(sequence(1, 64), i ->"
            " transform(sequence(i, 64), j ->"
            " struct(i as i, j as j, qv[i-1] * qv[j-1] as v))))"
        )).alias("p"))
        .select("p.i", "p.j", "p.v")
        .groupBy("i", "j").agg(F.sum("v").alias("p_sum"))
    )
    si = sums.select(F.col("i").alias("i"), F.col("s").alias("s_i"))
    sj = sums.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
    return (
        prods.join(F.broadcast(si), "i").join(F.broadcast(sj), "j")
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            "p_sum",
            F.round(
                (F.col("p_sum") * 1.0 / n
                 - (F.col("s_i") * 1.0 / n) * (F.col("s_j") * 1.0 / n)) / 1e12,
                9,
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


@query(
    "vec_outlier_zscore",
    sql="""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    n AS (SELECT count(*) AS n FROM q),
    comps AS (
      SELECT vec_id, i, qv[i] AS qi FROM q,
        (SELECT unnest(generate_series(1, 64)) AS i)
    ),
    stats AS (
      SELECT i,
             sum(qi) * 1.0 / any_value(n.n) AS mu,
             sum(qi * qi) * 1.0 / any_value(n.n)
               - (sum(qi) * 1.0 / any_value(n.n))
               * (sum(qi) * 1.0 / any_value(n.n)) AS var
      FROM comps CROSS JOIN n
      GROUP BY i
    ),
    terms AS (
      SELECT c.vec_id,
             CAST(round(((c.qi - s.mu) / sqrt(s.var))
                        * ((c.qi - s.mu) / sqrt(s.var)) * 1e9) AS BIGINT)
               AS t_nano
      FROM comps c JOIN stats s ON c.i = s.i
      WHERE s.var > 0
    )
    SELECT vec_id, CAST(sum(t_nano) AS BIGINT) AS z2_nano,
           CAST(round(sum(t_nano) / 1e9, 6) AS DOUBLE) AS z2
    FROM terms GROUP BY vec_id
    ORDER BY z2_nano DESC, vec_id
    LIMIT 20
    """,
    survey_ops="vec-stats(ext),D3,F2",
    tables=("embeddings",),
)
def vec_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space OUTLIER detection — the curation filter that
    catches corrupt/degenerate vectors before they poison ANN indexes or
    training batches: per-dimension standardized squared deviation
    (diagonal-Mahalanobis z^2), summed in nano-quantized integer terms
    (order-free; the playbook trick), top-20 most anomalous. Dimension
    stats come from the same exact quantized sufficient statistics as
    vec_covariance_matrix (integer sums -> one deterministic double
    expression per dim); the corpus pass is an explode joined to the
    BROADCAST 64-row stats table, then one per-vector regroup. Fully
    value-oracled."""
    emb = spark.table("embeddings").filter(F.col("embedding").isNotNull())
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(round(cast(x as double) * 1000000)"
            " as bigint))"
        ).alias("qv"),
    )
    n = q.count()
    comps = q.select(
        "vec_id", F.posexplode("qv").alias("i0", "qi")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "qi")
    stats = (
        comps.groupBy("i")
        .agg(F.sum("qi").alias("s"), F.sum(F.col("qi") * F.col("qi")).alias("p"))
        .select(
            "i",
            (F.col("s") * 1.0 / n).alias("mu"),
            (F.col("p") * 1.0 / n
             - (F.col("s") * 1.0 / n) * (F.col("s") * 1.0 / n)).alias("var"),
        )
        .filter(F.col("var") > 0)
    )
    dev = (F.col("qi") - F.col("mu")) / F.sqrt(F.col("var"))
    t_nano = F.round(dev * dev * 1e9).cast("bigint")
    return (
        comps.join(F.broadcast(stats), "i")
        .select("vec_id", t_nano.alias("t_nano"))
        .groupBy("vec_id")
        .agg(F.sum("t_nano").alias("z2_nano"))
        .select(
            "vec_id", "z2_nano",
            F.round(F.col("z2_nano") / 1e9, 6).alias("z2"),
        )
        .orderBy(F.desc("z2_nano"), F.asc("vec_id"))
        .limit(20)
    )


def _lsh_cross_sql(
    threshold: float, n_planes: int, n_tables: int, dim: int = 64,
    max_bucket: int = 1024, probe_mod: int = 17,
) -> str:
    """Oracle builder for vec_lsh_contamination: replays the TWO-TABLE
    banding join — eval side (vec_id % probe_mod == 0) vs train side —
    with the same plane literals, per-side hot-bucket caps, exact
    verify, and the per-eval aggregation."""
    from esco_neo4j_spark.operators.similarity import _hyperplanes

    all_planes = _hyperplanes(dim, n_planes * n_tables, 42)

    def keyed(src: str, idc: str) -> str:
        arms = []
        for t in range(n_tables):
            planes = all_planes[t * n_planes:(t + 1) * n_planes]
            arms.append(
                f"SELECT vec_id AS {idc}, {t} AS t,"
                f" {_lsh_bucket_sql('embedding', planes)} AS bucket"
                f" FROM {src}"
            )
        return "\n      UNION ALL\n      ".join(arms)

    pair_cos = (
        "list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),"
        " CAST(eb.embedding AS DOUBLE[]))"
    )
    return f"""
    WITH ev AS (SELECT * FROM embeddings WHERE vec_id % {probe_mod} = 0),
    tr AS (SELECT * FROM embeddings WHERE vec_id % {probe_mod} <> 0),
    keyed_e AS (
      {keyed('ev', 'id_l')}
    ),
    keyed_t AS (
      {keyed('tr', 'id_r')}
    ),
    cap_e AS (
      SELECT id_l, t, bucket FROM (
        SELECT *, row_number() OVER (
          PARTITION BY t, bucket ORDER BY id_l) AS rb FROM keyed_e)
      WHERE rb <= {max_bucket}
    ),
    cap_t AS (
      SELECT id_r, t, bucket FROM (
        SELECT *, row_number() OVER (
          PARTITION BY t, bucket ORDER BY id_r) AS rb FROM keyed_t)
      WHERE rb <= {max_bucket}
    ),
    cand AS (
      SELECT DISTINCT x.id_l, y.id_r
      FROM cap_e x JOIN cap_t y ON x.t = y.t AND x.bucket = y.bucket
    ),
    hits AS (
      SELECT c.id_l, c.id_r,
             CAST(round({pair_cos}, 6) AS DOUBLE) AS score
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.id_l
      JOIN embeddings eb ON eb.vec_id = c.id_r
      WHERE round({pair_cos}, 6) >= {threshold}
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY id_l ORDER BY score DESC, id_r) AS rk
      FROM hits
    )
    SELECT id_l AS eval_id,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(max(CASE WHEN rk = 1 THEN id_r END) AS BIGINT)
             AS top_train_id,
           CAST(max(CASE WHEN rk = 1 THEN score END) AS DOUBLE)
             AS top_score
    FROM ranked GROUP BY id_l
    ORDER BY eval_id
    """


@query(
    "vec_lsh_contamination",
    # per-sf_dir builder: the banding derives from the corpus row count
    # exactly like vec_lsh_similarity_join, and the oracle replays the
    # two-table join + per-eval aggregation with the same literals.
    sql=lambda sf_dir: _lsh_cross_sql(
        threshold=0.45,
        n_planes=_join_params(sf_dir)[0],
        n_tables=_join_params(sf_dir)[1],
    ),
    survey_ops="C9,A7(scale),corpus-contamination(ext)",
    tables=("embeddings",),
)
def vec_lsh_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level eval-contamination sweep — the TWO-TABLE LSH join
    (operators/similarity.py:lsh_cross_join) the self-join can't
    express: a held-out eval slice (vec_id % 17 == 0, the leakage-safe-
    split convention) probes the remaining train corpus for semantic
    near-dups, and each eval item reports its match count plus its
    strongest train-side leak. This is the embedding sibling of
    text_contamination_overlap (n-gram level): n-grams catch verbatim
    leakage, the cosine probe catches paraphrase-level leakage that
    token overlap misses.

    Scale shape: both sides bucket with the shared hyperplanes (narrow
    Arrow maps), the only corpus-sized shuffle is the ids-only
    (table, bucket) exchange, hot buckets cap per side, verify is
    Arrow-batched on deduped candidates — at 100 TB the eval side is
    tiny and the train side's bucket exchange is the cost, exactly the
    self-join's proven plan."""
    from pyspark.sql import Window

    from esco_neo4j_spark.operators.similarity import lsh_cross_join

    n_planes, n_tables = _join_params(sf_dir)
    e = spark.table("embeddings")
    hits = lsh_cross_join(
        e.filter(F.col("vec_id") % 17 == 0),
        e.filter(F.col("vec_id") % 17 != 0),
        threshold=0.45,
        n_planes=n_planes,
        n_tables=n_tables,
        dim=64,  # known from the table contract — skips the probe job
    )
    w = Window.partitionBy("id_l").orderBy(F.desc("score"), F.asc("id_r"))
    return (
        hits.withColumn("rk", F.row_number().over(w))
        .groupBy(F.col("id_l").alias("eval_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_matches"),
            F.max(F.when(F.col("rk") == 1, F.col("id_r")))
            .cast("bigint")
            .alias("top_train_id"),
            F.max(F.when(F.col("rk") == 1, F.col("score")))
            .cast("double")
            .alias("top_score"),
        )
        .orderBy("eval_id")
    )


# --- NN-descent refinement round over the kNN graph ------------------------


def _knn_descent_sql(sf_dir: str) -> str:
    """Replay: the shared kNN-graph SQL (no-descent base — the eval
    refines it ITSELF, so the base must stay raw) as a CTE, one forward
    neighbor-of-neighbor expansion, exact-cosine re-rank to top-3, and
    recall@3 of base vs refined against the brute-force top-3 of a
    deterministic anchor panel (vec_id % 29 = 0)."""
    base = _knn_graph_sql(sf_dir)
    cosx = (
        "list_cosine_similarity(CAST(ep.embedding AS DOUBLE[]),"
        " CAST(e.embedding AS DOUBLE[]))"
    )
    cosr = (
        "list_cosine_similarity(CAST(ev.embedding AS DOUBLE[]),"
        " CAST(en.embedding AS DOUBLE[]))"
    )
    return f"""
    WITH g AS MATERIALIZED ({base}),
    panel AS (
      SELECT vec_id FROM embeddings
      WHERE vec_id % 29 = 0 AND embedding IS NOT NULL
    ),
    exact AS (
      SELECT src, nbr FROM (
        SELECT p.vec_id AS src, e.vec_id AS nbr,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY round({cosx}, 6) DESC, e.vec_id) AS rk
        FROM panel p
        JOIN embeddings ep ON ep.vec_id = p.vec_id
        JOIN embeddings e
          ON e.embedding IS NOT NULL AND e.vec_id <> p.vec_id
      ) WHERE rk <= 3
    ),
    basecand AS (
      SELECT g.src, g.nbr FROM g JOIN panel ON panel.vec_id = g.src
    ),
    expand AS (
      SELECT b.src, g2.nbr FROM basecand b JOIN g g2 ON g2.src = b.nbr
      WHERE g2.nbr <> b.src
    ),
    refcand AS (
      SELECT DISTINCT src, nbr FROM (
        SELECT * FROM basecand UNION ALL SELECT * FROM expand)
    ),
    refined AS (
      SELECT src, nbr FROM (
        SELECT c.src, c.nbr,
               row_number() OVER (
                 PARTITION BY c.src
                 ORDER BY round({cosr}, 6) DESC, c.nbr) AS rk
        FROM refcand c
        JOIN embeddings ev ON ev.vec_id = c.src
        JOIN embeddings en ON en.vec_id = c.nbr
      ) WHERE rk <= 3
    ),
    nex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact)
    SELECT variant, n_hits, n_exact,
           CAST(round(CAST(n_hits AS DOUBLE) / n_exact, 6) AS DOUBLE)
             AS recall
    FROM (
      SELECT 'base' AS variant, CAST(count(*) AS BIGINT) AS n_hits
      FROM basecand JOIN exact USING (src, nbr)
      UNION ALL
      SELECT 'refined', CAST(count(*) AS BIGINT)
      FROM refined JOIN exact USING (src, nbr)
    ) CROSS JOIN nex
    ORDER BY variant
    """


@query(
    "vec_knn_descent_round",
    sql=_knn_descent_sql,  # per-sf_dir builder (banding derives from N)
    survey_ops="A7(scale),knn-graph(ext),ann-eval(ext)",
    tables=("embeddings",),
)
def vec_knn_descent_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN-descent refinement round (r6 verdict item 6) — makes the
    'kNN graph as substrate' claim real: expand each vector's candidate
    set with its neighbors' neighbors (the NN-descent step: a neighbor
    of my neighbor is likely my neighbor), exact-cosine re-rank the
    expanded set to a new top-3, and measure recall@3 of BOTH graphs
    against brute-force exact top-3 over a deterministic anchor panel
    (vec_id % 29 = 0) in the same query — the vec_lsh_recall_eval
    monitoring pattern applied to graph refinement, fully value-oracled
    (the oracle embeds the registered kNN-graph SQL as a CTE, so the
    two stay in lockstep by construction).

    Scale shape: the expansion is a self-join of the k-regular graph
    (3N rows -> at most 9N expansion rows — bounded fan-out, no
    all-pairs anywhere); the re-rank verifies <= 12 candidates per
    vector; the brute-force side is confined to the sampled panel
    (panel x corpus with the panel broadcast), which is how an ANN
    deployment monitors recall at 100 TB. Both graph relations are
    checkpointed once — each feeds two joins."""
    from pyspark.sql import Window

    from esco_neo4j_spark.operators.similarity import (
        _pair_cosine_pudf,
        lsh_knn_graph,
    )

    n_planes, n_tables = _knn_params(sf_dir)
    g = lsh_knn_graph(
        spark.table("embeddings"), k=3, cand_cap=_KNN_CAND_CAP,
        n_planes=n_planes, n_tables=n_tables,
        ring_window=_knn_ring(sf_dir, n_tables=n_tables),
    ).select("src", "nbr").localCheckpoint(eager=True)
    e = spark.table("embeddings").filter(F.col("embedding").isNotNull())
    pc = _pair_cosine_pudf()
    pv = e.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("vs")
    )
    cv = e.select(
        F.col("vec_id").alias("nbr"), F.col("embedding").alias("vn")
    )
    wx = Window.partitionBy("src").orderBy(F.desc("sc"), F.asc("nbr"))
    exact = (
        cv.join(F.broadcast(pv), F.col("src") != F.col("nbr"))
        .withColumn("sc", F.round(pc(F.col("vs"), F.col("vn")), 6))
        .withColumn("rk", F.row_number().over(wx))
        .filter(F.col("rk") <= 3)
        .select("src", "nbr")
        .localCheckpoint(eager=True)
    )
    panel = pv.select("src")
    basecand = g.join(panel, "src").select("src", "nbr")
    expand = (
        basecand.join(
            g.select(F.col("src").alias("nbr"), F.col("nbr").alias("nbr2")),
            "nbr",
        )
        .select("src", F.col("nbr2").alias("nbr"))
        .filter(F.col("src") != F.col("nbr"))
    )
    refcand = basecand.union(expand).distinct()
    ev = e.select(F.col("vec_id").alias("src"), F.col("embedding").alias("vv"))
    en = e.select(F.col("vec_id").alias("nbr"), F.col("embedding").alias("vn"))
    refined = (
        refcand.join(ev, "src")
        .join(en, "nbr")
        .withColumn("sc", F.round(pc(F.col("vv"), F.col("vn")), 6))
        .withColumn("rk", F.row_number().over(wx))
        .filter(F.col("rk") <= 3)
        .select("src", "nbr")
    )
    nex = exact.agg(F.count("*").cast("bigint").alias("n_exact"))
    base_row = (
        basecand.join(exact, ["src", "nbr"])
        .agg(F.count("*").cast("bigint").alias("n_hits"))
        .select(F.lit("base").alias("variant"), "n_hits")
    )
    ref_row = (
        refined.join(exact, ["src", "nbr"])
        .agg(F.count("*").cast("bigint").alias("n_hits"))
        .select(F.lit("refined").alias("variant"), "n_hits")
    )
    return (
        base_row.union(ref_row)
        .crossJoin(nex)
        .select(
            "variant",
            "n_hits",
            "n_exact",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_exact"), 6
            ).alias("recall"),
        )
        .orderBy("variant")
    )


# --- graph-based ANN search over the kNN graph ------------------------------

_GS_ENTRIES, _GS_BEAM, _GS_ROUNDS, _GS_K = 4, 12, 3, 10
_GS_BATCH = 4  # anchors per batched indexed serve (lowest stored ids)


def derive_gs_params(n: int) -> tuple[int, int, int]:
    """Scale-adaptive graph-search parameters (degree, beam, cand_cap)
    from the parquet-footer row count — the same lockstep derivation
    discipline as derive_lsh_params / derive_semdedup_k: pure arithmetic
    over a number both the Spark plan builder and the DuckDB oracle-SQL
    builder read from the identical footers, so the built graphs and
    walks replay bit-exact on both engines.

    r9 (r8 verdict item 1): at degree k=3 / beam 12 the layered search
    NAVIGATED (0.5 recall vs flat 0.0 on the clustered corpus) but was
    capped by construction — a 3-edge graph keeps only ~3 of a node's
    true in-cluster neighbors reachable per hop and a 12-wide walk
    cannot hold a 10-NN candidate set plus exploration. HNSW practice is
    M≈8-16 edges and ef(search)≈32-64; measured on the clustered
    corpus: degree 8 / beam 32 → recall@10 0.9 (one true neighbor
    missing from the 8-edge graph's reachable set), degree 12 → 1.0
    with either beam. Degree 12 / beam 32 below 100k rows (pinned
    >= 0.9 in tests/test_similarity.py), 16/64 above for the deeper
    graphs bigger corpora need; cand_cap = 2*degree so the SQ8
    pre-rank pool can't starve the exact top-``degree`` rank."""
    degree = 12 if n < 100_000 else 16
    beam = 32 if n < 100_000 else 64
    return degree, beam, max(_KNN_CAND_CAP, 2 * degree)


def _gs_walk_tail(
    cos: str, beam: int = _GS_BEAM, final_from: str = "s3"
) -> str:
    """The unrolled base-layer beam walk, shared by the flat and layered
    search oracles: references CTEs ``g`` (the base kNN graph) and
    ``v0`` (the entry ids) defined by the caller. ``final_from`` lets
    the FILTERED variant rank over a predicate-restricted view of the
    visited set (navigation identical, final ranking filtered — the
    post-filter semantics of filtered graph ANN)."""
    return f"""s0 AS (
      SELECT vec_id, {cos} AS score FROM embeddings JOIN v0 USING (vec_id)
    ),
    f0 AS (SELECT vec_id FROM s0 ORDER BY score DESC, vec_id
           LIMIT {beam}),
    v1 AS (
      SELECT vec_id FROM v0
      UNION SELECT g.nbr FROM f0 JOIN g ON g.src = f0.vec_id
    ),
    s1 AS (
      SELECT vec_id, {cos} AS score FROM embeddings JOIN v1 USING (vec_id)
    ),
    f1 AS (SELECT vec_id FROM s1 ORDER BY score DESC, vec_id
           LIMIT {beam}),
    v2 AS (
      SELECT vec_id FROM v1
      UNION SELECT g.nbr FROM f1 JOIN g ON g.src = f1.vec_id
    ),
    s2 AS (
      SELECT vec_id, {cos} AS score FROM embeddings JOIN v2 USING (vec_id)
    ),
    f2 AS (SELECT vec_id FROM s2 ORDER BY score DESC, vec_id
           LIMIT {beam}),
    v3 AS (
      SELECT vec_id FROM v2
      UNION SELECT g.nbr FROM f2 JOIN g ON g.src = f2.vec_id
    ),
    s3 AS (
      SELECT vec_id, {cos} AS score FROM embeddings JOIN v3 USING (vec_id)
    )
    SELECT vec_id, CAST(score AS DOUBLE) AS score, CAST(rk AS INT) AS rk
    FROM (
      SELECT vec_id, score,
             row_number() OVER (ORDER BY score DESC, vec_id) AS rk
      FROM {final_from})
    WHERE rk <= {_GS_K}
    ORDER BY rk
    """


def _graph_search_sql(sf_dir: str) -> str:
    """Replay: the search kNN graph (footer-derived degree/cand_cap —
    derive_gs_params) as CTE ``g``, then the beam walk UNROLLED with the
    derived beam — visited sets only grow and scoring is deterministic,
    so re-scoring the whole visited set per round equals the engine's
    incremental accumulation."""
    from esco_neo4j_spark.catalog import table_rowcount

    degree, beam, cand_cap = derive_gs_params(
        table_rowcount(sf_dir, "embeddings")
    )
    base = _knn_graph_sql(sf_dir, k=degree, cand_cap=cand_cap)
    cos = f"round({_COS.format(anchor=_ANCHOR_SQL)}, 6)"
    return f"""
    WITH g AS MATERIALIZED ({base}),
    v0 AS (
      SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL
      ORDER BY vec_id LIMIT {_GS_ENTRIES}
    ),
    {_gs_walk_tail(cos, beam)}"""


_GS_LAYER_M = 8  # layer sampling stride (HNSW's 1/M level probability)
_GS_LAYER_MIN = 32  # smallest layer worth a graph


def _gs_strides(n: int) -> list[int]:
    """Coarse-layer strides for the layered search, TOP layer first:
    layer j holds the ids divisible by M^j (nested — every layer is a
    subset of the one below), and layers exist while they'd still hold
    >= _GS_LAYER_MIN members. Derived from the parquet-footer row count
    on both engines, like every other scale-adaptive constant."""
    strides = []
    j = 1
    while -(-n // _GS_LAYER_M**j) >= _GS_LAYER_MIN:
        strides.append(_GS_LAYER_M**j)
        j += 1
    if not strides:
        strides = [_GS_LAYER_M]
    return list(reversed(strides))


def _graph_search_layered_sql(
    sf_dir: str, final_from: str = "s3"
) -> str:
    """Replay of the LAYERED search: one nested kNN-graph CTE per coarse
    layer (banding from the layer's own row count), the one-round
    descend step per layer, then the shared unrolled base walk seeded by
    the last layer's survivors. ``final_from`` passes through to
    `_gs_walk_tail` for the filtered-serve variant."""
    from esco_neo4j_spark.catalog import table_rowcount

    n = table_rowcount(sf_dir, "embeddings")
    strides = _gs_strides(n)
    degree, beam, cand_cap = derive_gs_params(n)
    cos = f"round({_COS.format(anchor=_ANCHOR_SQL)}, 6)"
    ctes = []
    entry = None
    for i, s in enumerate(strides):
        ctes.append(
            f"lg{i} AS MATERIALIZED ({_knn_graph_sql(sf_dir, stride=s, k=degree, cand_cap=cand_cap)})"
        )
        if entry is None:
            # the TOP layer is scored exhaustively — it is bounded to
            # [_GS_LAYER_MIN, M*_GS_LAYER_MIN) rows by _gs_strides, and
            # exhaustive entry is what makes the descent start from the
            # globally best coarse region (HNSW's top layer works the
            # same way: few nodes, visit them all)
            ctes.append(
                f"""le_init AS (
      SELECT vec_id FROM embeddings
      WHERE embedding IS NOT NULL AND {_GS_LVL_SQL} < {4294967296 // s})"""
            )
            entry = "le_init"
        ctes.append(
            f"""lc{i} AS (
      SELECT vec_id FROM {entry}
      UNION
      SELECT g.nbr FROM {entry} b JOIN lg{i} g ON g.src = b.vec_id)"""
        )
        ctes.append(
            f"""ls{i} AS (
      SELECT vec_id, {cos} AS score
      FROM embeddings JOIN lc{i} USING (vec_id))"""
        )
        ctes.append(
            f"""le{i} AS (
      SELECT vec_id FROM ls{i} ORDER BY score DESC, vec_id
      LIMIT {_GS_ENTRIES})"""
        )
        entry = f"le{i}"
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain},
    g AS MATERIALIZED ({_knn_graph_sql(sf_dir, k=degree, cand_cap=cand_cap)}),
    v0 AS (
      SELECT vec_id FROM {entry}
      UNION
      SELECT vec_id FROM (
        SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL
        ORDER BY vec_id LIMIT {_GS_ENTRIES})
    ),
    {_gs_walk_tail(cos, beam, final_from=final_from)}"""


_GS_FILTER_LABEL = 2  # the filtered-serve predicate (vec_filtered_topk's)


def _graph_search_layered_filtered_sql(sf_dir: str) -> str:
    """Filtered-serve replay: the IDENTICAL layered walk, with the
    final ranking restricted to visited ids whose label matches — the
    post-filter-over-navigation semantics of filtered graph ANN
    (underfill below k is replayed, not hidden)."""
    return _graph_search_layered_sql(
        sf_dir,
        final_from=(
            "(SELECT s3.vec_id, s3.score FROM s3 "
            "JOIN embeddings e ON e.vec_id = s3.vec_id "
            f"WHERE e.label = {_GS_FILTER_LABEL})"
        ),
    )


def _graph_search_layered_batch_sql(sf_dir: str) -> str:
    """Replay of the BATCHED layered search: the same per-layer nested
    graph CTEs as `_graph_search_layered_sql` (materialized once and
    shared), with an ``anchors`` CTE (the _GS_BATCH lowest-id non-null
    embeddings — anchor 0 is vec_id 0, the single search's anchor) and
    every descent/walk CTE carrying ``aid`` so each partition replays
    one anchor's exact single-search computation: same expand-and-
    rerank per layer, same unrolled base walk, per-aid row_number in
    place of the single form's LIMIT (identical total order — score
    DESC then unique vec_id)."""
    from esco_neo4j_spark.catalog import table_rowcount

    n = table_rowcount(sf_dir, "embeddings")
    strides = _gs_strides(n)
    degree, beam, cand_cap = derive_gs_params(n)
    cos = (
        "round(list_cosine_similarity("
        "CAST(e.embedding AS DOUBLE[]), a.aemb), 6)"
    )
    ctes = [
        f"""anchors AS MATERIALIZED (
      SELECT vec_id AS aid, CAST(embedding AS DOUBLE[]) AS aemb
      FROM embeddings WHERE embedding IS NOT NULL
      ORDER BY vec_id LIMIT {_GS_BATCH})"""
    ]
    entry = None
    for i, s in enumerate(strides):
        ctes.append(
            f"lg{i} AS MATERIALIZED ({_knn_graph_sql(sf_dir, stride=s, k=degree, cand_cap=cand_cap)})"
        )
        if entry is None:
            ctes.append(
                f"""le_init AS (
      SELECT a.aid, e.vec_id FROM embeddings e CROSS JOIN anchors a
      WHERE e.embedding IS NOT NULL
        AND ((e.vec_id * 2654435761) % 4294967296) < {4294967296 // s})"""
            )
            entry = "le_init"
        ctes.append(
            f"""lc{i} AS (
      SELECT aid, vec_id FROM {entry}
      UNION
      SELECT b.aid, g.nbr AS vec_id
      FROM {entry} b JOIN lg{i} g ON g.src = b.vec_id)"""
        )
        ctes.append(
            f"""ls{i} AS (
      SELECT c.aid, c.vec_id, {cos} AS score
      FROM lc{i} c
      JOIN embeddings e ON e.vec_id = c.vec_id
      JOIN anchors a ON a.aid = c.aid)"""
        )
        ctes.append(
            f"""le{i} AS (
      SELECT aid, vec_id FROM (
        SELECT aid, vec_id,
               row_number() OVER (
                 PARTITION BY aid ORDER BY score DESC, vec_id) AS rn
        FROM ls{i})
      WHERE rn <= {_GS_ENTRIES})"""
        )
        entry = f"le{i}"
    ctes.append(
        f"g AS MATERIALIZED ({_knn_graph_sql(sf_dir, k=degree, cand_cap=cand_cap)})"
    )
    ctes.append(
        f"""v0 AS (
      SELECT aid, vec_id FROM {entry}
      UNION
      SELECT a.aid, s.vec_id FROM (
        SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL
        ORDER BY vec_id LIMIT {_GS_ENTRIES}) s
      CROSS JOIN anchors a)"""
    )
    for r in range(_GS_ROUNDS):
        ctes.append(
            f"""s{r} AS (
      SELECT v.aid, v.vec_id, {cos} AS score
      FROM v{r} v
      JOIN embeddings e ON e.vec_id = v.vec_id
      JOIN anchors a ON a.aid = v.aid)"""
        )
        ctes.append(
            f"""f{r} AS (
      SELECT aid, vec_id FROM (
        SELECT aid, vec_id,
               row_number() OVER (
                 PARTITION BY aid ORDER BY score DESC, vec_id) AS rn
        FROM s{r})
      WHERE rn <= {beam})"""
        )
        ctes.append(
            f"""v{r + 1} AS (
      SELECT aid, vec_id FROM v{r}
      UNION
      SELECT f.aid, g.nbr AS vec_id
      FROM f{r} f JOIN g ON g.src = f.vec_id)"""
        )
    ctes.append(
        f"""s{_GS_ROUNDS} AS (
      SELECT v.aid, v.vec_id, {cos} AS score
      FROM v{_GS_ROUNDS} v
      JOIN embeddings e ON e.vec_id = v.vec_id
      JOIN anchors a ON a.aid = v.aid)"""
    )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain}
    SELECT aid, vec_id, CAST(score AS DOUBLE) AS score,
           CAST(rk AS INT) AS rk
    FROM (
      SELECT aid, vec_id, score,
             row_number() OVER (
               PARTITION BY aid ORDER BY score DESC, vec_id) AS rk
      FROM s{_GS_ROUNDS})
    WHERE rk <= {_GS_K}
    ORDER BY aid, rk
    """


@query(
    "vec_graph_search",
    sql=_graph_search_sql,  # per-sf_dir builder (banding derives from N)
    survey_ops="A7(scale),knn-graph(ext),H1,F2",
    tables=("embeddings",),
)
def vec_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN SEARCH over the kNN graph — the READ face that
    completes the family (build: vec_knn_graph_lsh; maintain:
    streaming/knn.py; refine: vec_knn_descent_round): greedy beam walk
    from deterministic entry points (the HNSW/NSG search pattern on one
    layer). Per round, the top-``beam`` visited vectors expand their
    graph neighbors, newcomers score exactly against the anchor, and
    after ``rounds`` expansions the top-k of everything visited is the
    answer — the walk touches entries + rounds*beam*k_graph vectors
    REGARDLESS of corpus size, which is the whole point of graph ANN:
    search cost is O(beam * rounds), not O(N). Value-oracled end to end
    (the oracle embeds the registered graph SQL and unrolls the rounds).

    Recall regime, measured honestly (the ED<=2 lesson): on this
    corpus's NEAR-RANDOM embeddings the walk reaches recall@10 = 0.6-0.7
    and more beam/rounds barely move it — white noise has no navigable
    small-world structure for a greedy walk to exploit (offline check:
    plain BFS covers 8/10 true neighbors in 2 hops, so the graph is
    fine; it is the greedy PRUNING that cannot tell which path leads
    anywhere). Real embedding corpora cluster, which is what makes
    HNSW-family search work; the floor pinned in pytest (>= 0.5) is the
    adversarial-regime number, and the query's primary contract is the
    exact, oracle-replayed WALK mechanics. r9: graph degree, walk beam,
    and the SQ8 pre-rank pool are footer-derived via derive_gs_params
    (M≈8-16 / ef≈32-64), shared with the layered search so the
    flat-vs-layered comparison isolates the ENTRY machinery."""
    from esco_neo4j_spark.operators.similarity import (
        graph_beam_search,
        lsh_knn_graph,
    )

    from esco_neo4j_spark.catalog import table_rowcount

    degree, beam, cand_cap = derive_gs_params(
        table_rowcount(sf_dir, "embeddings")
    )
    n_planes, n_tables = _knn_params(sf_dir)
    g = (
        lsh_knn_graph(
            spark.table("embeddings"), k=degree, cand_cap=cand_cap,
            n_planes=n_planes, n_tables=n_tables,
            ring_window=_knn_ring(sf_dir, cand_cap, n_tables=n_tables),
        )
        .select("src", "nbr")
        .localCheckpoint(eager=True)
    )
    return graph_beam_search(
        g, spark.table("embeddings"), _anchor_vec(spark),
        k=_GS_K, n_entries=_GS_ENTRIES, beam=beam, rounds=_GS_ROUNDS,
    )


@query(
    "vec_graph_search_layered",
    sql=_graph_search_layered_sql,  # per-sf_dir builder (layers from N)
    survey_ops="A7(scale),knn-graph(ext),H1,F2",
    tables=("embeddings",),
)
def vec_graph_search_layered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAYERED graph ANN search — the full HNSW shape (r8, r7 verdict
    item 5): vec_graph_search enters the base kNN graph at the lowest
    ids, so at 100× corpus the fixed entry points start arbitrarily far
    from the query and the fixed-budget walk starves. Here entry
    descends a pyramid of COARSE layers first: layer j holds the ids
    whose Knuth-hash falls below 2^32/M^j (M=8 — the deterministic,
    id-structure-free twin of HNSW's 1/M level coin, nested since the
    threshold shrinks with j; see _GS_LVL_SQL for why the id-modulus
    and low-bit-hash coins both fail), each layer carries its own
    lsh_knn_graph with banding
    derived from the LAYER's row count, and the walk does one
    expand-and-rerank round per layer (entries ∪ their layer-graph
    neighbors, exact-scored, top-``n_entries`` descend). Layer sizes
    shrink geometrically, so the whole pyramid adds ~1/(M-1) ≈ 14% to
    the base graph build, the descent costs O(entries · degree) per
    layer × log_M(N) layers — the O(log N) entry the flat search lacks —
    and the base walk then runs its usual O(beam · rounds) from entry
    points already NEAR the query. Value-oracled end to end: the oracle
    chains one nested graph CTE per layer (same derived banding) plus
    the descend steps, then the same unrolled base walk.

    Same honest recall regime as vec_graph_search (near-random
    embeddings don't navigate); the pinned pytest floor compares BOTH
    searches against the brute-force panel. r9: degree/beam/cand_cap
    are footer-derived (derive_gs_params — HNSW-practice M≈8-16 /
    ef≈32-64 instead of the r8 fixed k=3 / beam-12 that capped
    clustered-corpus recall at 0.5); the pin there is now >= 0.9."""
    from esco_neo4j_spark.catalog import table_rowcount
    from esco_neo4j_spark.operators.similarity import (
        _anchor_cosine_pudf,
        derive_lsh_params,
        graph_beam_search,
        lsh_knn_graph,
    )

    _gs_lvl_guard(sf_dir)
    n = table_rowcount(sf_dir, "embeddings")
    emb = spark.table("embeddings")
    e = emb.filter(F.col("embedding").isNotNull())
    anchor = _anchor_vec(spark)
    score_of = _anchor_cosine_pudf(anchor)
    degree, beam, cand_cap = derive_gs_params(n)
    entries = None
    for s in _gs_strides(n):
        layer = emb.filter(_gs_lvl(F.col("vec_id")) < 4294967296 // s)
        lp, lt = derive_lsh_params(-(-n // s), base_tables=8)
        g = (
            lsh_knn_graph(
                layer, k=degree, cand_cap=cand_cap,
                n_planes=lp, n_tables=lt,
                ring_window=_knn_ring(sf_dir, cand_cap, stride=s, n_tables=lt),
            )
            .select("src", "nbr")
            .localCheckpoint(eager=True)
        )
        if entries is None:
            # exhaustive top-layer entry: the top layer is bounded to
            # [_GS_LAYER_MIN, M*_GS_LAYER_MIN) rows by _gs_strides, so
            # scoring ALL of it is O(1) and the descent starts from the
            # globally best coarse region (HNSW visits its whole top
            # layer the same way)
            entries = e.filter(
                _gs_lvl(F.col("vec_id")) < 4294967296 // s
            ).select("vec_id")
        nbrs = (
            entries.select(F.col("vec_id").alias("src"))
            .join(g, "src")
            .select(F.col("nbr").alias("vec_id"))
        )
        cand = entries.unionByName(nbrs).distinct()
        scored = cand.join(
            e.select("vec_id", "embedding"), "vec_id"
        ).select(
            "vec_id", F.round(score_of(F.col("embedding")), 6).alias("score")
        )
        entries = (
            scored.orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(_GS_ENTRIES)
            .select("vec_id")
            .localCheckpoint(eager=True)
        )
    n_planes, n_tables = _knn_params(sf_dir)
    g0 = (
        lsh_knn_graph(
            emb, k=degree, cand_cap=cand_cap,
            n_planes=n_planes, n_tables=n_tables,
            ring_window=_knn_ring(sf_dir, cand_cap, n_tables=n_tables),
        )
        .select("src", "nbr")
        .localCheckpoint(eager=True)
    )
    # base-walk seeds: the descent survivors UNION the default lowest-id
    # diversity seeds. The descent alone can land in a near-dup CLIQUE
    # (its nodes' k edges all point at each other — measured on the
    # cloned scale corpus, where it converges straight onto the anchor's
    # clones) and the walk would stall below k visited; the diversity
    # seeds keep expansion alive without giving up the near-query entry.
    entries = entries.unionByName(
        e.select("vec_id").orderBy("vec_id").limit(_GS_ENTRIES)
    ).distinct()
    return graph_beam_search(
        g0, emb, anchor,
        k=_GS_K, n_entries=_GS_ENTRIES, beam=beam, rounds=_GS_ROUNDS,
        entry_ids=entries,
    )


@query(
    "vec_graph_search_layered_indexed",
    sql=_graph_search_layered_sql,  # same replay: the oracle derives the
    # SAME graphs the manifest pins, so a stale/corrupt artifact fails
    # the value check instead of silently serving garbage
    survey_ops="A7(scale),knn-graph(ext),H1,F2",
    tables=("embeddings",),
)
def vec_graph_search_layered_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Layered graph ANN search served from the PERSISTED index (r10,
    r9 verdict item 1 — the reference's index capability done the way a
    100 TB deployment must: build once, serve many; reference:
    src/esco_ingest.py:270-330 creates the vector index at ingest and
    src/semantic_search.py:24-56 only ever queries it).

    ``vec_graph_search_layered`` is the correctness carrier that
    derives every per-layer kNN graph in-plan — ~88s at sf10, almost
    all of it graph construction. This face splits that cost:
    `ensure_layered_index` builds the per-layer graphs ONCE into a
    manifest-pinned parquet artifact under the crash-safe rename-swap
    contract (sources/ann_index.py — the IVF-index pattern), rebuilt
    only when the manifest stops matching the corpus footer count /
    algo version / derived parameters; `serve_layered` then runs ONLY
    the descent + beam walk over the stored graphs — O(entries·degree·
    layers + beam·rounds·degree) work per query, independent of N.

    Output is bit-identical to the inline query (pinned in
    tests/test_ann_index.py), so the shared layered-search oracle
    replays the stored graphs from the same derivation. Incremental
    maintenance — per-layer inserts with the hashed level coin — lives
    in streaming/layered.py with the stream==batch parity pins."""
    from esco_neo4j_spark.sources.ann_index import (
        ensure_layered_index,
        serve_layered,
    )

    idx = ensure_layered_index(spark, sf_dir)
    return serve_layered(spark, sf_dir, idx)


@query(
    "vec_graph_search_layered_batch",
    sql=_graph_search_layered_batch_sql,  # B independent replays over
    # the SAME stored-graph derivation, one window partition per anchor
    survey_ops="A7(scale),knn-graph(ext),H1,F2",
    tables=("embeddings",),
)
def vec_graph_search_layered_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BATCHED serve from the persisted layered index — ``_GS_BATCH``
    anchor queries answered in one lockstep walk with the same number
    of Spark jobs as a single query (sources/ann_index.py
    `serve_layered_batch`). This is the production shape of "build
    once, serve many": an ANN index in a training-data pipeline is hit
    with evaluation/dedup batches, not single queries, and the batched
    walk shares each round's partition-pruned edge read and one multi-
    anchor scoring job across the whole batch — the per-round FIXED
    costs (scheduling, plan analysis) are independent of B; only the
    union frontier's data volume grows, sublinearly when walks
    overlap. Measured at sf10, fresh JVM: B=4 in 1.4× the single-serve
    wall (2.9× throughput), B=16 in 2.2× (7.3×).

    Anchors are the _GS_BATCH lowest-id stored vectors; anchor 0 is
    vec_id 0, the single search's anchor, so per-aid output is
    bit-identical to B single serves (aid==0 pinned equal to
    `vec_graph_search_layered_indexed` in tests/test_ann_index.py).
    The oracle replays the batch as B window partitions over the same
    materialized graph CTEs the single oracle derives."""
    from esco_neo4j_spark.sources.ann_index import (
        ensure_layered_index,
        serve_layered_batch,
    )

    idx = ensure_layered_index(spark, sf_dir)
    return serve_layered_batch(spark, sf_dir, idx, _GS_BATCH)


@query(
    "vec_graph_search_layered_filtered",
    sql=_graph_search_layered_filtered_sql,  # identical walk replay,
    # final ranking restricted to the matching-label visited ids
    survey_ops="A7(scale),knn-graph(ext),H1,F2,B5,filtered-ann(ext)",
    tables=("embeddings",),
)
def vec_graph_search_layered_filtered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FILTERED serve from the persisted layered index — metadata-
    filtered ANN, the read face every production vector store offers
    next to plain and batched search. Navigation is the UNCHANGED
    layered walk over the unfiltered stored graphs (filtering the
    graph itself disconnects it under selective predicates); the
    ``label = _GS_FILTER_LABEL`` predicate applies at the FINAL
    ranking over the visited set's stored label metadata, which the
    index carries as a payload column precisely so filtered serves
    never join back to the corpus (sources/ann_index.py
    `serve_layered(label_filter=…)`).

    Post-filter-over-navigation trades recall for graph connectivity:
    it can return fewer than k rows when the walk visited fewer than k
    eligible ids — the documented filtered-graph-ANN behavior, and the
    DuckDB oracle replays exactly that (same walk, same final WHERE),
    so underfill is value-checked rather than hidden. The exact
    pre-filter twin (predicate pushed to the scan, exact top-k over
    survivors) is `vec_filtered_topk`; together they are the two
    textbook filtered-ANN strategies."""
    from esco_neo4j_spark.sources.ann_index import (
        ensure_layered_index,
        serve_layered,
    )

    idx = ensure_layered_index(spark, sf_dir)
    return serve_layered(
        spark, sf_dir, idx, label_filter=_GS_FILTER_LABEL
    )
