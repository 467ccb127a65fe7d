"""The reference's analysis-query corpus on the ingested ESCO graph.

Each query here is a named, parameter-free re-expression of a Cypher query
from the reference (analysis_queries.md, cited AQ:line) or of a pipeline in
src/semantic_search.py / src/esco_translate.py, running on the warehouse
built by sources/esco.py from the reference's own CSVs (plus deterministic
fixtures for the snapshot's two missing files).

Oracle strategy: the DuckDB SQL reads the SAME warehouse parquet by
absolute path (nodes via ``read_parquet(dir/*.parquet)``, edges with hive
partitioning for rel_type), so every Cypher->DataFrame translation is
value-hash-checked against an independent SQL formulation — including the
iterative BROADER_THAN traversals via ``WITH RECURSIVE``.

Determinism: every query ends in a total order (explicit tiebreaks on
conceptUri); collected sets are sorted + joined to one string; scores are
rounded to 6dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esco_neo4j_spark.functions.vector import cosine_similarity, l2_norm
from esco_neo4j_spark.operators.graph import (
    bfs_depths,
    pagerank,
    transitive_closure,
    undirected,
)
from esco_neo4j_spark.operators.textmodel import translate_column
from esco_neo4j_spark.plans.graph_queries import _pagerank_unrolled_sql
from esco_neo4j_spark.plans.registry import query
from esco_neo4j_spark.sources.esco import DEFAULT_WAREHOUSE as _WH

_SK = f"read_parquet('{_WH}/nodes_skill/*.parquet')"
_OCC = f"read_parquet('{_WH}/nodes_occupation/*.parquet')"
_ISCO = f"read_parquet('{_WH}/nodes_isco_group/*.parquet')"
_EDGES = f"read_parquet('{_WH}/edges/*/*.parquet', hive_partitioning=1)"


def _edges(spark: SparkSession, rel: str | None = None) -> DataFrame:
    e = spark.table("esco_edges")
    return e.filter(F.col("rel_type") == rel) if rel else e


# --------------------------------------------------------------------------
# AQ:9-20 — database statistics
# --------------------------------------------------------------------------
@query(
    "esco_label_counts",
    sql=f"""
    WITH nodes AS (
      SELECT array_to_string(labels, ':') AS label FROM {_SK}
      UNION ALL SELECT array_to_string(labels, ':') FROM {_OCC}
      UNION ALL SELECT array_to_string(labels, ':') FROM {_ISCO}
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n
    FROM nodes GROUP BY label ORDER BY n DESC, label
    """,
    survey_ops="D1,D2,H2,G1",
    esco=True,
)
def esco_label_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:9-12 ``MATCH (n) RETURN labels(n), count(*)``: node counts per
    label set over the unioned node tables (B2/G1 label-disjunction scan)."""
    nodes = spark.table("esco_nodes")
    return (
        nodes.select(F.concat_ws(":", "labels").alias("label"))
        .groupBy("label")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "label")
    )


@query(
    "esco_rel_counts",
    sql=f"""
    SELECT rel_type, CAST(count(*) AS BIGINT) AS n
    FROM {_EDGES} GROUP BY rel_type ORDER BY n DESC, rel_type
    """,
    survey_ops="D2,H3",
    esco=True,
)
def esco_rel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:18-20 ``MATCH ()-[r]->() RETURN type(r), count(*)`` — the edge
    table is partitioned by rel_type, so this is a metadata-sized scan."""
    return (
        _edges(spark)
        .groupBy("rel_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "rel_type")
    )


# --------------------------------------------------------------------------
# AQ:28-131 — rankings and joins
# --------------------------------------------------------------------------
@query(
    "esco_top_essential_skills",
    sql=f"""
    SELECT s.conceptUri AS uri, s.preferredLabel AS label,
           CAST(count(*) AS BIGINT) AS n_occupations
    FROM {_EDGES} e JOIN {_SK} s ON e.src_uri = s.conceptUri
    WHERE e.rel_type = 'ESSENTIAL_FOR'
    GROUP BY s.conceptUri, s.preferredLabel
    ORDER BY n_occupations DESC, label, uri LIMIT 20
    """,
    survey_ops="B1,C1,D3,F1,F2",
    bench=True,
    esco=True,
)
def esco_top_essential_skills(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:38-41 skills with the most ESSENTIAL_FOR relationships: edge
    scan (partition-pruned to one rel_type) -> groupBy count -> broadcast
    join of the tiny top-k aggregate back to the skill table -> top-20
    via TakeOrderedAndProject."""
    counts = (
        _edges(spark, "ESSENTIAL_FOR")
        .groupBy("src_uri")
        .agg(F.count("*").alias("n_occupations"))
    )
    sk = spark.table("esco_skill").select(
        F.col("conceptUri").alias("uri"), F.col("preferredLabel").alias("label")
    )
    return (
        sk.join(F.broadcast(counts), sk.uri == counts.src_uri)
        .select("uri", "label", "n_occupations")
        .orderBy(F.desc("n_occupations"), "label", "uri")
        .limit(20)
    )


@query(
    "esco_top_occupations_by_skills",
    sql=f"""
    SELECT o.conceptUri AS uri, o.preferredLabel AS label,
           CAST(count(*) AS BIGINT) AS n_skills
    FROM {_EDGES} e JOIN {_OCC} o ON e.dst_uri = o.conceptUri
    WHERE e.rel_type = 'ESSENTIAL_FOR'
    GROUP BY o.conceptUri, o.preferredLabel
    ORDER BY n_skills DESC, label, uri LIMIT 20
    """,
    survey_ops="C1,D3,F2",
    esco=True,
)
def esco_top_occupations_by_skills(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:58-61 occupations requiring the most essential skills."""
    counts = (
        _edges(spark, "ESSENTIAL_FOR")
        .groupBy("dst_uri")
        .agg(F.count("*").alias("n_skills"))
    )
    occ = spark.table("esco_occupation").select(
        F.col("conceptUri").alias("uri"), F.col("preferredLabel").alias("label")
    )
    return (
        occ.join(F.broadcast(counts), occ.uri == counts.dst_uri)
        .select("uri", "label", "n_skills")
        .orderBy(F.desc("n_skills"), "label", "uri")
        .limit(20)
    )


@query(
    "esco_skill_usage",
    sql=f"""
    SELECT CAST(count(*) FILTER (WHERE e.src_uri IS NOT NULL) AS BIGINT) AS n_used,
           CAST(count(*) FILTER (WHERE e.src_uri IS NULL) AS BIGINT) AS n_unused
    FROM (SELECT conceptUri FROM {_SK}) s
    LEFT JOIN (
      SELECT DISTINCT src_uri FROM {_EDGES}
      WHERE rel_type IN ('ESSENTIAL_FOR', 'OPTIONAL_FOR')
    ) e ON s.conceptUri = e.src_uri
    """,
    survey_ops="C2,D4,D1",
    esco=True,
)
def esco_skill_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:28-32 OPTIONAL MATCH usage counting: how many skills are
    attached to at least one occupation vs orphaned (left join; unmatched
    rows count as unused — Cypher count(r)=0 semantics)."""
    used = (
        _edges(spark)
        .filter(F.col("rel_type").isin("ESSENTIAL_FOR", "OPTIONAL_FOR"))
        .select("src_uri")
        .distinct()
    )
    sk = spark.table("esco_skill").select("conceptUri")
    j = sk.join(used, sk.conceptUri == used.src_uri, "left")
    return j.agg(
        F.count("src_uri").alias("n_used"),
        F.sum(F.when(F.col("src_uri").isNull(), 1).otherwise(0)).alias("n_unused"),
    )


@query(
    "esco_occupations_per_isco",
    sql=f"""
    SELECT g.code AS isco_code, g.preferredLabel AS label,
           CAST(count(*) AS BIGINT) AS n_occupations
    FROM {_EDGES} e JOIN {_ISCO} g ON e.dst_uri = g.conceptUri
    WHERE e.rel_type = 'PART_OF_ISCOGROUP'
    GROUP BY g.code, g.preferredLabel
    ORDER BY n_occupations DESC, isco_code LIMIT 20
    """,
    survey_ops="C5,D3,F2",
    esco=True,
)
def esco_occupations_per_isco(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:67-70 occupations per ISCO group (value-derived FK join C5 was
    materialized as PART_OF_ISCOGROUP edges at ingest)."""
    g = spark.table("esco_isco_group")
    return (
        _edges(spark, "PART_OF_ISCOGROUP")
        .join(F.broadcast(g), F.col("dst_uri") == g.conceptUri)
        .groupBy(F.col("code").alias("isco_code"), F.col("preferredLabel").alias("label"))
        .agg(F.count("*").alias("n_occupations"))
        .orderBy(F.desc("n_occupations"), "isco_code")
        .limit(20)
    )


@query(
    "esco_multihop_skill_isco",
    sql=f"""
    SELECT s.conceptUri AS uri, s.preferredLabel AS label,
           CAST(count(DISTINCT p.dst_uri) AS BIGINT) AS n_isco_groups
    FROM {_EDGES} e
    JOIN {_EDGES} p ON e.dst_uri = p.src_uri AND p.rel_type = 'PART_OF_ISCOGROUP'
    JOIN {_SK} s ON e.src_uri = s.conceptUri
    WHERE e.rel_type = 'ESSENTIAL_FOR'
    GROUP BY s.conceptUri, s.preferredLabel
    ORDER BY n_isco_groups DESC, label, uri LIMIT 20
    """,
    survey_ops="C6,D5,F2",
    esco=True,
)
def esco_multihop_skill_isco(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:118-121 skills spanning the most ISCO groups: 2-hop chain join
    skill -ESSENTIAL_FOR-> occupation -PART_OF_ISCOGROUP-> group with
    COUNT(DISTINCT). Both edge scans are partition-pruned."""
    ess = _edges(spark, "ESSENTIAL_FOR").select(
        F.col("src_uri").alias("s_uri"), F.col("dst_uri").alias("o_uri")
    )
    part = _edges(spark, "PART_OF_ISCOGROUP").select(
        F.col("src_uri").alias("o_uri"), F.col("dst_uri").alias("g_uri")
    )
    sk = spark.table("esco_skill").select(
        F.col("conceptUri").alias("uri"), F.col("preferredLabel").alias("label")
    )
    return (
        ess.join(part, "o_uri")
        .groupBy("s_uri")
        .agg(F.countDistinct("g_uri").alias("n_isco_groups"))
        .join(sk, F.col("s_uri") == sk.uri)
        .select("uri", "label", "n_isco_groups")
        .orderBy(F.desc("n_isco_groups"), "label", "uri")
        .limit(20)
    )


@query(
    "esco_skill_cooccurrence",
    sql=f"""
    WITH ess AS (
      SELECT src_uri, dst_uri FROM {_EDGES} WHERE rel_type = 'ESSENTIAL_FOR'
      QUALIFY count(*) OVER (PARTITION BY dst_uri) <= 256
    )
    SELECT a.src_uri AS uri_a, b.src_uri AS uri_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM ess a JOIN ess b ON a.dst_uri = b.dst_uri AND a.src_uri < b.src_uri
    GROUP BY a.src_uri, b.src_uri
    ORDER BY n_shared DESC, uri_a, uri_b LIMIT 20
    """,
    survey_ops="C4,B7,D3,F2",
    esco=True,
)
def esco_skill_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:127-131 skill co-occurrence: self-join of essential edges on the
    occupation (shuffle keyed on dst_uri), s1 < s2 dedup of unordered
    pairs. cap_key_fanout (mirrored in the oracle's QUALIFY) drops
    degenerate hub occupations so a hot key cannot go quadratic at 100x;
    real per-occupation fan-out is tens of skills, far under the cap."""
    from esco_neo4j_spark.operators.skew import cap_key_fanout

    ess = cap_key_fanout(
        _edges(spark, "ESSENTIAL_FOR").select("src_uri", "dst_uri"),
        ["dst_uri"],
    )
    a = ess.select(F.col("src_uri").alias("uri_a"), F.col("dst_uri").alias("o"))
    b = ess.select(F.col("src_uri").alias("uri_b"), F.col("dst_uri").alias("o"))
    return (
        a.join(b, "o")
        .filter(F.col("uri_a") < F.col("uri_b"))
        .groupBy("uri_a", "uri_b")
        .agg(F.count("*").alias("n_shared"))
        .orderBy(F.desc("n_shared"), "uri_a", "uri_b")
        .limit(20)
    )


@query(
    "esco_related_skill_types",
    sql=f"""
    SELECT prop_type AS relation_kind, CAST(count(*) AS BIGINT) AS n
    FROM {_EDGES} WHERE rel_type = 'RELATED_SKILL'
    GROUP BY prop_type ORDER BY n DESC, relation_kind
    """,
    survey_ops="B11,D2,H3",
    esco=True,
)
def esco_related_skill_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATED_SKILL {type} property distribution (edge-property parity,
    src/esco_ingest.py:256-263)."""
    return (
        _edges(spark, "RELATED_SKILL")
        .groupBy(F.col("prop_type").alias("relation_kind"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "relation_kind")
    )


@query(
    "esco_point_lookup",
    sql=f"""
    SELECT conceptUri AS uri, preferredLabel AS label,
           CASE WHEN length(description) > 100
                THEN substr(description, 1, 97) || '...'
                ELSE description END AS description
    FROM {_OCC}
    WHERE preferredLabel = 'technical director'
    ORDER BY uri LIMIT 5
    """,
    survey_ops="B5,H8",
    esco=True,
)
def esco_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:139/147 equality point lookup by preferredLabel + the CLI's
    97-char description truncation (src/esco_cli.py:62-64)."""
    from esco_neo4j_spark.functions.text import truncate_ellipsis

    return (
        spark.table("esco_occupation")
        .filter(F.col("preferredLabel") == "technical director")
        .select(
            F.col("conceptUri").alias("uri"),
            F.col("preferredLabel").alias("label"),
            truncate_ellipsis(F.col("description")).alias("description"),
        )
        .orderBy("uri")
        .limit(5)
    )


# --------------------------------------------------------------------------
# AQ:84-111 — BROADER_THAN traversals (K1), AQ:136-141 shortest path (K2)
# --------------------------------------------------------------------------
_CLOSURE_SQL = f"""
    WITH RECURSIVE b AS (
      SELECT src_uri AS src, dst_uri AS dst FROM {_EDGES}
      WHERE rel_type = 'BROADER_THAN'
    ),
    d AS (
      SELECT src, dst, 1 AS depth FROM b
      UNION ALL
      SELECT d.src, b.dst, d.depth + 1 FROM d JOIN b ON d.dst = b.src
      WHERE d.depth < 8
    ),
    closure AS (SELECT src, dst, min(depth) AS depth FROM d GROUP BY src, dst)
"""


@query(
    "esco_hierarchy_depth_histogram",
    sql=_CLOSURE_SQL
    + """
    SELECT CAST(depth AS INT) AS depth, CAST(count(*) AS BIGINT) AS n_pairs
    FROM closure GROUP BY depth ORDER BY depth
    """,
    survey_ops="K1,H4,D2",
    bench=True,
    esco=True,
)
def esco_hierarchy_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:84-111 ``MATCH p=(a)-[:BROADER_THAN*]->(b) RETURN length(p)``
    aggregated into a depth histogram over the full taxonomy (skill + ISCO
    pillars). Iterative frontier joins with per-round localCheckpoint;
    DuckDB WITH RECURSIVE is the independent oracle."""
    b = _edges(spark, "BROADER_THAN").select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
    )
    # Depth cap == the hierarchy's diameter: ESCO v1.2.0 BROADER_THAN
    # tops out at depth 8 (this histogram's own last row; frozen
    # snapshot), so cap 8 is exact and every doubling round is
    # load-bearing — a looser cap only adds no-op rounds (any cap >= 8
    # returns identical results; oracle caps identically).
    tc = transitive_closure(b, max_depth=8)
    return (
        tc.groupBy(F.col("depth").cast("int").alias("depth"))
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("depth")
    )


@query(
    "esco_deepest_skills",
    sql=_CLOSURE_SQL
    + f"""
    SELECT c.src AS uri, s.preferredLabel AS label,
           CAST(max(c.depth) AS INT) AS depth
    FROM closure c JOIN {_SK} s ON c.src = s.conceptUri
    GROUP BY c.src, s.preferredLabel
    ORDER BY depth DESC, label, uri LIMIT 20
    """,
    survey_ops="K1,H4,F2",
    esco=True,
)
def esco_deepest_skills(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:104-111 deepest nodes in the hierarchy: max ancestor-path length
    per node, top-20."""
    b = _edges(spark, "BROADER_THAN").select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
    )
    sk = spark.table("esco_skill").select(
        F.col("conceptUri").alias("uri"), F.col("preferredLabel").alias("label")
    )
    # Depth cap == the hierarchy's diameter: ESCO v1.2.0 BROADER_THAN
    # tops out at depth 8 (this histogram's own last row; frozen
    # snapshot), so cap 8 is exact and every doubling round is
    # load-bearing — a looser cap only adds no-op rounds (any cap >= 8
    # returns identical results; oracle caps identically).
    tc = transitive_closure(b, max_depth=8)
    agg = tc.groupBy("src").agg(F.max("depth").cast("int").alias("depth"))
    return (
        agg.join(sk, agg.src == sk.uri)
        .select("uri", "label", "depth")
        .orderBy(F.desc("depth"), "label", "uri")
        .limit(20)
    )


@query(
    "esco_shortest_path",
    sql=f"""
    WITH RECURSIVE rel AS (
      SELECT src_uri AS src, dst_uri AS dst FROM {_EDGES}
      WHERE rel_type = 'RELATED_SKILL'
    ),
    und AS (
      SELECT src, dst FROM rel UNION SELECT dst, src FROM rel
    ),
    anchor AS (
      SELECT min(src) AS a FROM und
    ),
    bfs AS (
      SELECT u.dst AS node, 1 AS depth FROM und u, anchor WHERE u.src = anchor.a
      UNION ALL
      SELECT u.dst, b.depth + 1 FROM bfs b JOIN und u ON b.node = u.src
      WHERE b.depth < 6
    ),
    dist AS (SELECT node, min(depth) AS dist FROM bfs GROUP BY node)
    SELECT CAST(dist AS INT) AS dist, CAST(count(*) AS BIGINT) AS n_nodes
    FROM dist, anchor WHERE node <> anchor.a
    GROUP BY dist ORDER BY dist
    """,
    survey_ops="K2,C3,G2",
    esco=True,
)
def esco_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:136-141 ``shortestPath((s1)-[*]-(s2))`` generalized: BFS
    distances from the lexicographically-first related skill over the
    UNDIRECTED RELATED_SKILL view (G2 union of both directions), grouped
    into a distance histogram (single-pair shortest path is the dist
    lookup of one row)."""
    rel = _edges(spark, "RELATED_SKILL").select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
    )
    und = undirected(rel).distinct()
    anchor = und.agg(F.min("src")).first()[0]
    sources = spark.createDataFrame([(anchor,)], ["id"])
    d = bfs_depths(und, sources, max_depth=6, directed=True)
    return (
        d.filter(F.col("id") != anchor)
        .groupBy(F.col("depth").cast("int").alias("dist"))
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("dist")
    )


@query(
    "esco_shortest_path_nodes",
    sql=f"""
    WITH RECURSIVE rel AS (
      SELECT src_uri AS src, dst_uri AS dst FROM {_EDGES}
      WHERE rel_type = 'RELATED_SKILL'
    ),
    und AS (
      SELECT src, dst FROM rel UNION SELECT dst, src FROM rel
    ),
    anchor AS (SELECT min(src) AS a FROM und),
    bfs AS (
      SELECT u.dst AS node, 1 AS depth FROM und u, anchor WHERE u.src = anchor.a
      UNION ALL
      SELECT u.dst, b.depth + 1 FROM bfs b JOIN und u ON b.node = u.src
      WHERE b.depth < 6
    ),
    dist0 AS (
      SELECT a AS node, 0 AS dist FROM anchor
      UNION ALL
      SELECT node, min(depth) FROM bfs, anchor
      WHERE node <> anchor.a GROUP BY node
    ),
    -- deterministic endpoint: lexicographically last reachable node
    target AS (SELECT max(node) AS t FROM dist0, anchor WHERE node <> anchor.a),
    -- shortest-path DAG predecessor with min-id tiebreak (mirrors the
    -- Spark operator's deterministic predecessor tracking)
    preds AS (
      SELECT e.dst AS node, min(e.src) AS pred
      FROM und e
      JOIN dist0 d1 ON e.src = d1.node
      JOIN dist0 d2 ON e.dst = d2.node
      WHERE d2.dist = d1.dist + 1
      GROUP BY e.dst
    ),
    wb AS (
      SELECT t AS node, (SELECT dist FROM dist0 WHERE node = t) AS k
      FROM target
      UNION ALL
      SELECT p.pred, wb.k - 1 FROM wb JOIN preds p ON p.node = wb.node
      WHERE wb.k > 0
    )
    SELECT (SELECT a FROM anchor) AS src, (SELECT t FROM target) AS dst,
           CAST((SELECT dist FROM dist0, target WHERE node = t) AS INT)
             AS distance,
           (SELECT string_agg(node, '->' ORDER BY k) FROM wb) AS path
    """,
    survey_ops="K2,C3,G2,H4",
    esco=True,
)
def esco_shortest_path_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:136-141 ``shortestPath((s1)-[*]-(s2)) RETURN nodes(path)`` — the
    reference query returns the path's node sequence, and so do we (K2
    full parity on the warehouse). Endpoints are deterministic: the
    lexicographically first RELATED_SKILL node to the lexicographically
    last node reachable within 6 hops. Spark runs predecessor-tracking
    BFS (min-id tiebreak); the oracle reconstructs the identical path from
    BFS levels + min-pred walk-back — independent computations."""
    from esco_neo4j_spark.operators.graph import shortest_path

    rel = _edges(spark, "RELATED_SKILL").select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
    )
    und = undirected(rel).distinct()
    anchor = und.agg(F.min("src")).first()[0]
    sources = spark.createDataFrame([(anchor,)], ["id"])
    reach = bfs_depths(und, sources, max_depth=6, directed=True)
    target = (
        reach.filter(F.col("id") != anchor).agg(F.max("id")).first()[0]
    )
    sp = shortest_path(und, anchor, target, max_depth=6, directed=True)
    return sp.select(
        "src",
        "dst",
        F.col("distance").cast("int").alias("distance"),
        F.array_join("path", "->").alias("path"),
    )


# --------------------------------------------------------------------------
# semantic_search.py profiles (C7/D7/K6) and vector search (H1/C9/K7)
# --------------------------------------------------------------------------
@query(
    "esco_occupation_profile",
    sql=f"""
    WITH ess AS (
      SELECT e.dst_uri AS o_uri, count(*) AS n_essential,
             array_to_string(list_sort(list(DISTINCT s.preferredLabel))[1:5], '|')
               AS top_essential
      FROM {_EDGES} e JOIN {_SK} s ON e.src_uri = s.conceptUri
      WHERE e.rel_type = 'ESSENTIAL_FOR' GROUP BY e.dst_uri
    ),
    opt AS (
      SELECT dst_uri AS o_uri, count(*) AS n_optional
      FROM {_EDGES} WHERE rel_type = 'OPTIONAL_FOR' GROUP BY dst_uri
    ),
    part AS (
      SELECT e.src_uri AS o_uri, min(g.code) AS isco_code
      FROM {_EDGES} e JOIN {_ISCO} g ON e.dst_uri = g.conceptUri
      WHERE e.rel_type = 'PART_OF_ISCOGROUP' GROUP BY e.src_uri
    )
    SELECT o.conceptUri AS uri, o.preferredLabel AS label, part.isco_code,
           CAST(coalesce(ess.n_essential, 0) AS BIGINT) AS n_essential,
           CAST(coalesce(opt.n_optional, 0) AS BIGINT) AS n_optional,
           coalesce(ess.top_essential, '') AS top_essential
    FROM {_OCC} o
    LEFT JOIN ess ON o.conceptUri = ess.o_uri
    LEFT JOIN opt ON o.conceptUri = opt.o_uri
    LEFT JOIN part ON o.conceptUri = part.o_uri
    ORDER BY n_essential DESC, label, uri LIMIT 20
    """,
    survey_ops="C2,C7,D6,D7,F4,K6",
    bench=True,
    esco=True,
)
def esco_occupation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The get_related_graph star profile (src/semantic_search.py:111-169,
    AQ:250-346): per occupation, ISCO code + essential/optional counts +
    top-5 sorted essential-skill labels. Each branch aggregates
    INDEPENDENTLY before the star left-join — the C7 correctness rule
    (naive star join would cross-multiply branch rows)."""
    e = _edges(spark)
    sk = spark.table("esco_skill").select(
        F.col("conceptUri").alias("s_uri"), F.col("preferredLabel").alias("s_label")
    )
    ess = (
        e.filter(F.col("rel_type") == "ESSENTIAL_FOR")
        .join(sk, F.col("src_uri") == F.col("s_uri"))
        .groupBy(F.col("dst_uri").alias("o_uri"))
        .agg(
            F.count("*").alias("n_essential"),
            F.concat_ws(
                "|", F.slice(F.array_sort(F.collect_set("s_label")), 1, 5)
            ).alias("top_essential"),
        )
    )
    opt = (
        e.filter(F.col("rel_type") == "OPTIONAL_FOR")
        .groupBy(F.col("dst_uri").alias("o_uri"))
        .agg(F.count("*").alias("n_optional"))
    )
    g = spark.table("esco_isco_group").select(
        F.col("conceptUri").alias("g_uri"), "code"
    )
    part = (
        e.filter(F.col("rel_type") == "PART_OF_ISCOGROUP")
        .join(F.broadcast(g), F.col("dst_uri") == F.col("g_uri"))
        .groupBy(F.col("src_uri").alias("o_uri"))
        .agg(F.min("code").alias("isco_code"))
    )
    occ = spark.table("esco_occupation").select(
        F.col("conceptUri").alias("uri"), F.col("preferredLabel").alias("label")
    )
    return (
        occ.join(ess, occ.uri == ess.o_uri, "left")
        .join(opt, occ.uri == opt.o_uri, "left")
        .join(part, occ.uri == part.o_uri, "left")
        .select(
            "uri",
            "label",
            "isco_code",
            F.coalesce("n_essential", F.lit(0)).alias("n_essential"),
            F.coalesce("n_optional", F.lit(0)).alias("n_optional"),
            F.coalesce("top_essential", F.lit("")).alias("top_essential"),
        )
        .orderBy(F.desc("n_essential"), "label", "uri")
        .limit(20)
    )


@query(
    "esco_skill_profile",
    sql=f"""
    WITH rel AS (
      SELECT src_uri AS a, dst_uri AS b FROM {_EDGES}
      WHERE rel_type = 'RELATED_SKILL'
    ),
    und AS (SELECT a, b FROM rel UNION SELECT b, a FROM rel),
    related AS (
      SELECT u.a AS s_uri,
             count(DISTINCT u.b) AS n_related,
             array_to_string(list_sort(list(DISTINCT s2.preferredLabel))[1:5], '|')
               AS related_labels
      FROM und u JOIN {_SK} s2 ON u.b = s2.conceptUri
      GROUP BY u.a
    ),
    ess AS (
      SELECT src_uri AS s_uri, count(*) AS n_essential_for
      FROM {_EDGES} WHERE rel_type = 'ESSENTIAL_FOR' GROUP BY src_uri
    )
    SELECT s.conceptUri AS uri, s.preferredLabel AS label,
           CAST(r.n_related AS BIGINT) AS n_related,
           r.related_labels,
           CAST(coalesce(e.n_essential_for, 0) AS BIGINT) AS n_essential_for
    FROM related r
    JOIN {_SK} s ON r.s_uri = s.conceptUri
    LEFT JOIN ess e ON r.s_uri = e.s_uri
    ORDER BY n_related DESC, label, uri LIMIT 20
    """,
    survey_ops="C2,C3,C7,D5,D6,D7,F4,K6",
    esco=True,
)
def esco_skill_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skill neighborhood profile (src/semantic_search.py:115-143): for
    each skill with RELATED_SKILL neighbors (undirected, C3), the distinct
    neighbor count, top-5 sorted neighbor labels, and how many occupations
    it is essential for — branches aggregated independently (C7)."""
    sk = spark.table("esco_skill")
    rel = _edges(spark, "RELATED_SKILL").select(
        F.col("src_uri").alias("a"), F.col("dst_uri").alias("b")
    )
    und = undirected(rel.withColumnRenamed("a", "src").withColumnRenamed("b", "dst")).distinct()
    labels2 = sk.select(
        F.col("conceptUri").alias("b_uri"), F.col("preferredLabel").alias("b_label")
    )
    related = (
        und.join(labels2, und.dst == labels2.b_uri)
        .groupBy(F.col("src").alias("s_uri"))
        .agg(
            F.countDistinct("b_uri").alias("n_related"),
            F.concat_ws(
                "|", F.slice(F.array_sort(F.collect_set("b_label")), 1, 5)
            ).alias("related_labels"),
        )
    )
    ess = (
        _edges(spark, "ESSENTIAL_FOR")
        .groupBy(F.col("src_uri").alias("s_uri"))
        .agg(F.count("*").alias("n_essential_for"))
    )
    names = sk.select(
        F.col("conceptUri").alias("uri"), F.col("preferredLabel").alias("label")
    )
    return (
        related.join(names, related.s_uri == names.uri)
        .join(ess, "s_uri", "left")
        .select(
            "uri",
            "label",
            "n_related",
            "related_labels",
            F.coalesce("n_essential_for", F.lit(0)).alias("n_essential_for"),
        )
        .orderBy(F.desc("n_related"), "label", "uri")
        .limit(20)
    )


_NORM_SQL = "list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))"
_ANCHOR_SQL = f"""
    (SELECT min(conceptUri) FROM {_SK}
     WHERE preferredLabel LIKE '%analyse%' AND {_NORM_SQL} > 0)
"""


@query(
    "esco_search_cosine",
    sql=f"""
    WITH anchor AS (
      SELECT CAST(embedding AS DOUBLE[]) AS av FROM {_SK}
      WHERE conceptUri = {_ANCHOR_SQL}
    )
    SELECT s.conceptUri AS uri, s.preferredLabel AS label,
           CAST(round(list_cosine_similarity(
             CAST(s.embedding AS DOUBLE[]), anchor.av), 6) AS DOUBLE) AS score
    FROM {_SK} s, anchor
    WHERE s.embedding IS NOT NULL AND {_NORM_SQL.replace('embedding', 's.embedding')} > 0
      AND s.conceptUri <> {_ANCHOR_SQL}
    ORDER BY score DESC, uri LIMIT 10
    """,
    survey_ops="H1,C9,B3,B6,B8,F2,K7,A7",
    bench=True,
    esco=True,
)
def esco_search_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic-search query (src/semantic_search.py:61-71 +
    AQ:511-522): anchor skill found by CONTAINS predicate (B8), cosine
    against every embedded skill (H1 — scored by the Arrow anchor-cosine
    fold, bit-exact vs the column-expression chain; the interpreted HOF
    was the one path Catalyst can't codegen), threshold + top-k via
    TakeOrderedAndProject. The anchor row is a 1-row broadcast, so the
    whole query is one scan of the skill table."""
    from esco_neo4j_spark.operators.similarity import _anchor_cosine_pudf

    sk = spark.table("esco_skill")
    nonzero = l2_norm(F.col("embedding")) > 0
    # one driver job fetches (uri, vector) together; min(conceptUri)
    # among matches == TakeOrdered(1) on conceptUri. The HOF nonzero
    # filter only runs on the few CONTAINS survivors here.
    anchor_uri, anchor_vec = (
        sk.filter(F.col("preferredLabel").contains("analyse") & nonzero)
        .select("conceptUri", "embedding")
        .orderBy("conceptUri")
        .first()
    )
    anchor_cos = _anchor_cosine_pudf([float(x) for x in anchor_vec])
    # the full-scan zero-norm filter is expressed on the Arrow score
    # instead of re-running the interpreted l2_norm HOF per row: a
    # zero-norm embedding's 0/0 = NaN (and ONLY zero-norm's, on finite
    # inputs) comes back NULL, which NOT isnan(score) drops, so it
    # equals l2_norm > 0 — and it stays explicit because Spark orders
    # NaN above every double, so a NaN score would win the top-k.
    raw = anchor_cos(F.col("embedding"))
    return (
        sk.filter(
            F.col("embedding").isNotNull() & (F.col("conceptUri") != anchor_uri)
        )
        .select(
            F.col("conceptUri").alias("uri"),
            F.col("preferredLabel").alias("label"),
            F.round(raw, 6).alias("score"),
        )
        .filter(~F.isnan(F.col("score")))
        .orderBy(F.desc("score"), "uri")
        .limit(10)
    )


@query(
    "esco_translate_occupations",
    sql=f"""
    SELECT conceptUri AS uri, preferredLabel AS label,
           CASE WHEN preferredLabel IS NULL OR preferredLabel = ''
                THEN preferredLabel
                ELSE 'he:' || array_to_string(
                  list_reverse(string_split(preferredLabel, ' ')), ' ')
           END AS label_he
    FROM {_OCC}
    ORDER BY uri LIMIT 100
    """,
    survey_ops="I4,I5,I7,I8,B4",
    esco=True,
)
def esco_translate_occupations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The translate pipeline (src/esco_translate.py:385-419) on occupation
    preferredLabel: distinct-before-compute (I5 memoization, set-oriented),
    pandas-UDF translate (deterministic mock — torch absent), key-join
    write-back (I7). Oracle reproduces the mock in SQL."""
    occ = spark.table("esco_occupation").select(
        F.col("conceptUri").alias("uri"), F.col("preferredLabel").alias("label")
    )
    translated = translate_column(occ, "label", out_col="label_he", lang="he")
    return translated.select("uri", "label", "label_he").orderBy("uri").limit(100)


@query(
    "esco_pagerank",
    # iterations UNROLLED as chained CTEs over the warehouse edge table
    # (plans/graph_queries._pagerank_unrolled_sql). In-degrees here exceed
    # 2, so float summation ORDER could in principle shift a last ulp —
    # but both engines are deterministic on this fixed dataset, so the
    # established green parity is stable run to run.
    sql=_pagerank_unrolled_sql(
        edges_sql=f"SELECT src_uri AS src, dst_uri AS dst FROM {_EDGES}",
        n_iter=10,
        tail="""
    SELECT id, CAST(round(rank, 6) AS DOUBLE) AS rank
    FROM r10 ORDER BY round(rank, 6) DESC, id LIMIT 20""",
    ),
    survey_ops="K3,K4-adjacent",
    esco=True,
)
def esco_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:205-231 GDS centrality stand-in: PageRank over the full ESCO
    edge set (DataFrame Pregel — join/groupBy rounds with localCheckpoint),
    top-20 most central concepts."""
    e = _edges(spark).select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
    )
    pr = pagerank(e, num_iter=10)
    return (
        pr.select("id", F.round(F.col("rank"), 6).alias("rank"))
        .orderBy(F.desc("rank"), "id")
        .limit(20)
    )


@query(
    "esco_related_occupations",
    sql=f"""
    WITH ess AS (
      SELECT src_uri AS s_uri, dst_uri AS o_uri FROM {_EDGES}
      WHERE rel_type = 'ESSENTIAL_FOR'
    ),
    anchor AS (
      SELECT o_uri FROM (
        SELECT ess.o_uri, count(*) AS n, min(o.preferredLabel) AS lbl
        FROM ess JOIN {_OCC} o ON ess.o_uri = o.conceptUri
        GROUP BY ess.o_uri
      ) ORDER BY n DESC, lbl, o_uri LIMIT 1
    ),
    rel AS (
      SELECT e2.o_uri AS other, s.preferredLabel AS s_label, e1.s_uri
      FROM ess e1
      JOIN anchor a ON e1.o_uri = a.o_uri
      JOIN ess e2 ON e1.s_uri = e2.s_uri AND e2.o_uri <> a.o_uri
      JOIN {_SK} s ON e1.s_uri = s.conceptUri
    )
    SELECT o.preferredLabel AS occupation,
           CAST(count(DISTINCT rel.s_uri) AS BIGINT) AS n_shared,
           array_to_string(list_sort(list(DISTINCT rel.s_label))[1:5], '|')
             AS connecting_skills
    FROM rel JOIN {_OCC} o ON rel.other = o.conceptUri
    GROUP BY rel.other, o.preferredLabel
    ORDER BY n_shared DESC, occupation, rel.other
    LIMIT 15
    """,
    survey_ops="C1,C4,C6,D5,D6,F2",
    esco=True,
)
def esco_related_occupations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:152-170 "Occupations Related Through Skills" (the direct 1-hop
    form): occupations sharing essential skills with the anchor
    occupation, with the connecting skills collected (sorted, top-5 like
    the CLI's truncation). The anchor is the max-essential-skill
    occupation chosen DECLARATIVELY (1-row subquery — no driver lookup),
    so the whole query is one plan: skill-keyed self-join of the
    essential edge set, then group per related occupation."""
    e = _edges(spark)
    ess = e.filter(F.col("rel_type") == "ESSENTIAL_FOR").select(
        F.col("src_uri").alias("s_uri"), F.col("dst_uri").alias("o_uri")
    )
    occ = spark.table("esco_occupation").select(
        F.col("conceptUri").alias("uri"),
        F.col("preferredLabel").alias("occupation"),
    )
    anchor = (
        ess.join(occ, ess.o_uri == occ.uri)
        .groupBy("o_uri")
        .agg(F.count("*").alias("n"), F.min("occupation").alias("lbl"))
        .orderBy(F.desc("n"), "lbl", "o_uri")
        .limit(1)
        .select(F.col("o_uri").alias("a_uri"))
    )
    sk = spark.table("esco_skill").select(
        F.col("conceptUri").alias("sk_uri"),
        F.col("preferredLabel").alias("s_label"),
    )
    e1 = ess.join(F.broadcast(anchor), ess.o_uri == F.col("a_uri")).select(
        "s_uri"
    )
    rel = (
        e1.join(ess.withColumnRenamed("o_uri", "other"), "s_uri")
        .join(F.broadcast(anchor), F.col("other") == F.col("a_uri"), "left_anti")
        .join(sk, F.col("s_uri") == F.col("sk_uri"))
    )
    return (
        rel.join(occ, rel.other == occ.uri)
        .groupBy("other", "occupation")
        .agg(
            F.count_distinct("s_uri").cast("bigint").alias("n_shared"),
            F.concat_ws(
                "|", F.slice(F.array_sort(F.collect_set("s_label")), 1, 5)
            ).alias("connecting_skills"),
        )
        .orderBy(F.desc("n_shared"), "occupation", "other")
        .limit(15)
        .select("occupation", "n_shared", "connecting_skills")
    )


# --------------------------------------------------------------------------
# Catalog front door (r6 verdict item 8): the same queries through
# metastore-registered EXTERNAL tables instead of wrapper temp views.
# --------------------------------------------------------------------------
@query(
    "esco_label_counts_catalog",
    sql=f"""
    WITH nodes AS (
      SELECT array_to_string(labels, ':') AS label FROM {_SK}
      UNION ALL SELECT array_to_string(labels, ':') FROM {_OCC}
      UNION ALL SELECT array_to_string(labels, ':') FROM {_ISCO}
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n
    FROM nodes GROUP BY label ORDER BY n DESC, label
    """,
    survey_ops="D1,D2,H2,G1,catalog-front-door(ext)",
    esco=True,
)
def esco_label_counts_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:9-12 node counts per label, through the CATALOG front door:
    the plan names metastore-registered external parquet tables
    (``esco.nodes_*`` — sources/esco.register_catalog_tables), no
    wrapper-registered temp views, the way any SQL client on a
    metastore deployment would write it. Same oracle as
    esco_label_counts; physical-plan equivalence with the view variant
    is pinned in tests/test_plan_quality.py."""
    from esco_neo4j_spark.sources.esco import register_catalog_tables

    register_catalog_tables(spark)
    return spark.sql(
        """
        WITH nodes AS (
          SELECT array_join(labels, ':') AS label FROM esco.nodes_skill
          UNION ALL SELECT array_join(labels, ':') FROM esco.nodes_occupation
          UNION ALL SELECT array_join(labels, ':') FROM esco.nodes_isco_group
        )
        SELECT label, count(*) AS n
        FROM nodes GROUP BY label ORDER BY n DESC, label
        """
    )


@query(
    "esco_rel_counts_catalog",
    sql=f"""
    SELECT rel_type, CAST(count(*) AS BIGINT) AS n
    FROM {_EDGES} GROUP BY rel_type ORDER BY n DESC, rel_type
    """,
    survey_ops="D2,H3,catalog-front-door(ext)",
    esco=True,
)
def esco_rel_counts_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQ:18-20 edge counts per type through the catalog front door —
    ``esco.edges`` is the hive-partitioned external table with
    metastore-recovered partitions, so a rel_type filter prunes at the
    catalog level (no directory listing of other types)."""
    from esco_neo4j_spark.sources.esco import register_catalog_tables

    register_catalog_tables(spark)
    return spark.sql(
        """
        SELECT rel_type, count(*) AS n
        FROM esco.edges GROUP BY rel_type ORDER BY n DESC, rel_type
        """
    )
