"""ESCO CSV -> Parquet warehouse ingest (SURVEY.md §2 A1-A7, §3.2).

Spark-first re-expression of the reference ETL (src/esco_ingest.py:391-419):
the reference streams pandas rows into per-row/batched Cypher MERGEs; here
each node table is one declarative read->dedup->write and each edge type is
one join pipeline — set-oriented end to end, no driver loops.

Semantics replicated (file:line = reference):
- skillGroups get BOTH labels Skill+SkillGroup   (src/esco_ingest.py:98)
- skills MERGE onto existing group nodes          (:115 — here: anti-join so
  a URI present in skillGroups keeps its group row/labels)
- ISCOGroups dedup by code, keep first            (:145)
- BROADER_THAN direction parent->child            (:179-184, :197-203)
- PART_OF_ISCOGROUP via iscoGroup=code FK join    (:209-218)
- ESSENTIAL_FOR/OPTIONAL_FOR split on relationType(:224-245)
- RELATED_SKILL carries type property             (:256-263)
- MATCH-MATCH edge endpoints: inner joins silently drop dangling URIs
- MERGE idempotence: dropDuplicates on the edge key
- uniqueness constraints (:70-78) -> validate() asserts count==distinct
- embeddings for Skill+Occupation (:332-389) -> one withColumn(pandas_udf)

Warehouse layout (SURVEY.md §1.3): nodes_skill / nodes_occupation /
nodes_isco_group parquet + a single edges table partitioned by rel_type
(so any per-type query prunes partitions at scan time). At 100 TB the same
layout holds: node tables bucket by conceptUri, edges partition by
rel_type and bucket by src_uri, and every pattern-expansion join below is
an equi-join on those keys.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from esco_neo4j_spark.functions.text import embedding_text
from esco_neo4j_spark.operators.textmodel import embed_column
from esco_neo4j_spark.sources.fixtures import ensure_fixture_csvs
from esco_neo4j_spark.sources.merge import recover_swap

ESCO_DIR = "/root/reference/ESCO"
DEFAULT_WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".esco_warehouse",
)

NODE_TABLES = ("nodes_skill", "nodes_occupation", "nodes_isco_group")
REL_TYPES = (
    "BROADER_THAN",
    "PART_OF_ISCOGROUP",
    "ESSENTIAL_FOR",
    "OPTIONAL_FOR",
    "RELATED_SKILL",
)


def read_esco_csv(spark: SparkSession, path: str) -> DataFrame:
    """A1: whole-file CSV read. ESCO quotes embed newlines inside fields
    (altLabels), so multiLine + escaped quotes are required — the pandas
    default the reference relies on (src/esco_ingest.py:82)."""
    return (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )


def _first_by(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Deterministic 'keep first' dedup (reference keeps the first pandas
    row, src/esco_ingest.py:145): row_number over an explicit order."""
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _resolve(esco_dir: str, fixture_dir: str | None, name: str) -> str:
    p = os.path.join(esco_dir, name)
    if os.path.exists(p):
        return p
    if fixture_dir:
        fp = os.path.join(fixture_dir, name)
        if os.path.exists(fp):
            return fp
    raise FileNotFoundError(f"ESCO csv {name} in neither {esco_dir} nor {fixture_dir}")


def ingest(
    spark: SparkSession,
    esco_dir: str = ESCO_DIR,
    warehouse_dir: str = DEFAULT_WAREHOUSE,
    fixture_dir: str | None = None,
    embed_dim: int | None = 32,
) -> dict[str, int]:
    """Full ingest pipeline; returns node/edge counts (golden-checked in
    tests). Overwrites the warehouse (A5 delete-all == mode=overwrite)."""

    def src(name: str) -> DataFrame:
        return read_esco_csv(spark, _resolve(esco_dir, fixture_dir, name))

    # ---- node tables -------------------------------------------------
    sg = src("skillGroups_en.csv").withColumn(
        "labels", F.array(F.lit("Skill"), F.lit("SkillGroup"))
    )
    sk = src("skills_en.csv").withColumn("labels", F.array(F.lit("Skill")))
    # URIs already present as groups keep the group row (MERGE-on-existing)
    sk_only = sk.join(
        sg.select("conceptUri"), "conceptUri", "left_anti"
    )
    nodes_skill = _first_by(
        sg.unionByName(sk_only, allowMissingColumns=True),
        ["conceptUri"],
        "conceptType",
    )
    nodes_occ = _first_by(
        src("occupations_en.csv").withColumn(
            "labels", F.array(F.lit("Occupation"))
        ),
        ["conceptUri"],
        "conceptType",
    )
    nodes_isco = _first_by(
        _first_by(
            src("ISCOGroups_en.csv").withColumn(
                "labels", F.array(F.lit("ISCOGroup"))
            ),
            ["conceptUri"],
            "conceptType",
        ),
        ["code"],
        "conceptUri",
    )

    # I1-I3: embedding over "label. altLabels. description" text
    if embed_dim:
        text = embedding_text(
            F.col("preferredLabel"), F.col("altLabels"), F.col("description")
        )
        nodes_skill = embed_column(
            nodes_skill.withColumn("_embed_text", text), "_embed_text",
            dim=embed_dim,
        ).drop("_embed_text")
        nodes_occ = embed_column(
            nodes_occ.withColumn("_embed_text", text), "_embed_text",
            dim=embed_dim,
        ).drop("_embed_text")

    os.makedirs(warehouse_dir, exist_ok=True)
    for name, df in (
        ("nodes_skill", nodes_skill),
        ("nodes_occupation", nodes_occ),
        ("nodes_isco_group", nodes_isco),
    ):
        df.write.mode("overwrite").parquet(os.path.join(warehouse_dir, name))

    # re-read so edge joins scan the (smaller, columnar) warehouse tables
    skill_uris = spark.read.parquet(
        os.path.join(warehouse_dir, "nodes_skill")
    ).select("conceptUri")
    occ = spark.read.parquet(os.path.join(warehouse_dir, "nodes_occupation"))
    isco = spark.read.parquet(os.path.join(warehouse_dir, "nodes_isco_group"))

    def closed_edges(
        rel: DataFrame,
        src_col: str,
        dst_col: str,
        src_nodes: DataFrame,
        dst_nodes: DataFrame,
        rel_type: str,
        prop_type: F.Column | None = None,
    ) -> DataFrame:
        """MATCH src, MATCH dst, MERGE edge: inner-join both endpoints
        (drops dangling URIs exactly like Cypher MATCH), dedup on the
        MERGE key. Endpoint tables are broadcast-eligible dimension
        projections (single URI column)."""
        e = rel.select(
            F.col(src_col).alias("src_uri"),
            F.col(dst_col).alias("dst_uri"),
            F.lit(rel_type).alias("rel_type"),
            (prop_type if prop_type is not None else F.lit(None).cast("string")).alias(
                "prop_type"
            ),
        )
        e = e.join(
            src_nodes.select(F.col("conceptUri").alias("src_uri")), "src_uri"
        ).join(dst_nodes.select(F.col("conceptUri").alias("dst_uri")), "dst_uri")
        return e.dropDuplicates(["src_uri", "dst_uri", "rel_type", "prop_type"])

    broader_sk = src("broaderRelationsSkillPillar_en.csv")
    broader_occ = src("broaderRelationsOccPillar_en.csv")
    occ_skill = src("occupationSkillRelations_en.csv")
    skill_skill = src("skillSkillRelations_en.csv")

    edges = (
        # (parent)-[:BROADER_THAN]->(child), both ends :Skill
        closed_edges(
            broader_sk, "broaderUri", "conceptUri", skill_uris, skill_uris,
            "BROADER_THAN",
        )
        # ISCO hierarchy shares the rel type (src/esco_ingest.py:197-203)
        .unionByName(
            closed_edges(
                broader_occ, "broaderUri", "conceptUri", isco, isco,
                "BROADER_THAN",
            )
        )
        .unionByName(
            closed_edges(
                occ.select(
                    F.col("conceptUri").alias("o_uri"), F.col("iscoGroup")
                ).join(
                    isco.select(F.col("conceptUri").alias("g_uri"), "code"),
                    F.col("iscoGroup") == F.col("code"),
                ),
                "o_uri", "g_uri", occ, isco, "PART_OF_ISCOGROUP",
            )
        )
        .unionByName(
            closed_edges(
                occ_skill.filter(F.col("relationType") == "essential"),
                "skillUri", "occupationUri", skill_uris, occ, "ESSENTIAL_FOR",
            )
        )
        .unionByName(
            closed_edges(
                occ_skill.filter(F.col("relationType") == "optional"),
                "skillUri", "occupationUri", skill_uris, occ, "OPTIONAL_FOR",
            )
        )
        .unionByName(
            closed_edges(
                skill_skill, "originalSkillUri", "relatedSkillUri",
                skill_uris, skill_uris, "RELATED_SKILL",
                prop_type=F.col("relationType"),
            )
        )
    )
    edges.write.mode("overwrite").partitionBy("rel_type").parquet(
        os.path.join(warehouse_dir, "edges")
    )

    counts = validate(spark, warehouse_dir)
    with open(os.path.join(warehouse_dir, "_SUCCESS_INGEST"), "w") as f:
        f.write("\n".join(f"{k}={v}" for k, v in sorted(counts.items())))
    # the warehouse was rewritten in place: any cached load_graph views
    # in this session now point at stale file listings
    invalidate_graph_views(spark)
    return counts


def validate(spark: SparkSession, warehouse_dir: str) -> dict[str, int]:
    """A6 constraints as a write-time validation job: conceptUri unique per
    node table, ISCOGroup.code unique (src/esco_ingest.py:70-78)."""
    counts: dict[str, int] = {}
    for name in NODE_TABLES:
        df = spark.read.parquet(os.path.join(warehouse_dir, name))
        agg = df.agg(
            F.count("*").alias("n"),
            F.countDistinct("conceptUri").alias("d"),
        ).first()
        if agg["n"] != agg["d"]:
            raise ValueError(f"constraint violated: {name}.conceptUri not unique")
        counts[name] = agg["n"]
    isco = spark.read.parquet(os.path.join(warehouse_dir, "nodes_isco_group"))
    crow = isco.agg(
        F.count("code").alias("n"), F.countDistinct("code").alias("d")
    ).first()
    if crow["n"] != crow["d"]:
        raise ValueError("constraint violated: ISCOGroup.code not unique")
    edges = spark.read.parquet(os.path.join(warehouse_dir, "edges"))
    for row in edges.groupBy("rel_type").count().collect():
        counts[f"edges_{row['rel_type']}"] = row["count"]
    return counts


def ensure_warehouse(
    spark: SparkSession, warehouse_dir: str = DEFAULT_WAREHOUSE
) -> str:
    """Build the warehouse once (fixtures for the snapshot's two missing
    CSVs are synthesized deterministically — sources/fixtures.py), and
    finish any table swap a crash interrupted (translate rewrites node
    tables through sources/merge.swap_in; every reader passes here)."""
    marker = os.path.join(warehouse_dir, "_SUCCESS_INGEST")
    if not os.path.exists(marker):
        fixture_dir = os.path.join(warehouse_dir, "_fixtures")
        ensure_fixture_csvs(ESCO_DIR, fixture_dir)
        ingest(spark, ESCO_DIR, warehouse_dir, fixture_dir=fixture_dir)
    for name in (*NODE_TABLES, "edges"):
        recover_swap(os.path.join(warehouse_dir, name))
    return warehouse_dir


def load_graph(
    spark: SparkSession, warehouse_dir: str = DEFAULT_WAREHOUSE
) -> dict[str, DataFrame]:
    """Register warehouse views: esco_skill / esco_occupation /
    esco_isco_group / esco_edges (+ esco_nodes union view, B2).

    Idempotent-fast: every registered query's wrapper calls this, and
    re-deriving the five relations costs ~0.7s of driver-side parquet
    reads + plan analysis per call (r6 measured — ~3.4s of the 16-query
    bench headline was re-derivation). The DataFrames are cached per
    session+dir; the temp views are still RE-REGISTERED every call
    (cheap catalog-map updates), so a shadowed/dropped view name heals.
    Paths that rewrite the warehouse in place must call
    invalidate_graph_views (ingest does)."""
    cache = getattr(spark, "_esco_graph_views", None)
    if cache is not None and cache.get("dir") == warehouse_dir:
        views = cache["views"]
        for name, df in views.items():
            df.createOrReplaceTempView(name)
        return views
    out: dict[str, DataFrame] = {}
    for name, view in (
        ("nodes_skill", "esco_skill"),
        ("nodes_occupation", "esco_occupation"),
        ("nodes_isco_group", "esco_isco_group"),
        ("edges", "esco_edges"),
    ):
        df = spark.read.parquet(os.path.join(warehouse_dir, name))
        df.createOrReplaceTempView(view)
        out[view] = df
    nodes = (
        out["esco_skill"]
        .select("conceptUri", "preferredLabel", "description", "labels")
        .unionByName(
            out["esco_occupation"].select(
                "conceptUri", "preferredLabel", "description", "labels"
            )
        )
        .unionByName(
            out["esco_isco_group"].select(
                "conceptUri", "preferredLabel", "description", "labels"
            )
        )
    )
    nodes.createOrReplaceTempView("esco_nodes")
    out["esco_nodes"] = nodes
    spark._esco_graph_views = {"dir": warehouse_dir, "views": out}
    return out


def invalidate_graph_views(spark: SparkSession) -> None:
    """Drop the session's load_graph cache so the next call re-reads the
    warehouse — REQUIRED after any in-place warehouse rewrite (ingest,
    delete-all, constraint rebuild)."""
    if hasattr(spark, "_esco_graph_views"):
        del spark._esco_graph_views


CATALOG_DB = "esco"


def register_catalog_tables(
    spark: SparkSession,
    warehouse_dir: str = DEFAULT_WAREHOUSE,
    database: str = CATALOG_DB,
) -> None:
    """Catalog front door (r6 verdict item 8): expose the warehouse
    through the Spark SQL catalog as EXTERNAL parquet tables
    (``esco.nodes_skill`` etc.), so plain SQL can name tables with no
    wrapper-registered temp views — exactly how a metastore deployment
    (Hive/Glue/Unity) would publish it. ``CREATE TABLE ... USING parquet
    LOCATION`` is metadata-only: the data stays where ingest wrote it,
    reads keep pushdown/pruning, and with a persistent metastore the
    registration would survive sessions (the in-memory catalog here
    scopes it to the session — same statements, same plans).

    The hive-partitioned edges table declares its partition column and
    recovers partitions from the directory layout, so rel_type filters
    prune at the metastore level. Idempotent per session — and partition
    recovery + metadata refresh run on EVERY call, not just at table
    creation, so a re-ingest in the same session (new rel_type partition
    directories, rewritten node files) is visible to the catalog tables
    immediately."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    for name in ("nodes_skill", "nodes_occupation", "nodes_isco_group"):
        loc = os.path.join(warehouse_dir, name)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {database}.{name} "
            f"USING parquet LOCATION '{loc}'"
        )
        # a same-session re-ingest overwrites the node parquet in place;
        # drop any cached file listing so the table reads the new files
        spark.sql(f"REFRESH TABLE {database}.{name}")
    exists = [
        t.name for t in spark.catalog.listTables(database)
    ]
    if "edges" not in exists:
        loc = os.path.join(warehouse_dir, "edges")
        spark.sql(
            f"CREATE TABLE {database}.edges USING parquet LOCATION '{loc}'"
        )
    # recover partitions every call: rel_type directories added by a
    # later re-ingest must become visible, not only the ones present
    # when the table was first created
    spark.sql(f"MSCK REPAIR TABLE {database}.edges")
    spark.sql(f"REFRESH TABLE {database}.edges")
