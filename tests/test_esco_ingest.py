"""Golden-count + constraint tests for the ESCO ingest (SURVEY.md §5.3).

Counts are pinned against the reference snapshot's CSVs
(/root/reference/ESCO/) + the deterministic fixtures for the two files
absent from the snapshot (.MISSING_LARGE_BLOBS). Raw-source facts:
skillGroups 640 rows, occupations 3,039, ISCOGroups 619,
skillSkillRelations 5,818, broaderRelationsSkillPillar 20,822 — edge
counts below differ from raw rows exactly where MATCH-MATCH drops
dangling endpoints (occupation rows inside the Occ-pillar broader file).
"""

from __future__ import annotations

import hashlib
import os

import pytest

from esco_neo4j_spark.sources import ensure_warehouse, load_graph
from esco_neo4j_spark.sources.esco import validate
from esco_neo4j_spark.sources.fixtures import ensure_fixture_csvs, synth_skills_csv

GOLDEN_NODE_COUNTS = {
    "esco_skill": 14579,  # 640 groups (dual-label) + 13,939 synthesized skills
    "esco_occupation": 3039,
    "esco_isco_group": 619,
}
GOLDEN_EDGE_COUNTS = {
    "BROADER_THAN": 21431,  # 20,822 skill-pillar + 609 ISCO-pillar survivors
    "PART_OF_ISCOGROUP": 3039,  # every occupation maps to exactly one group
    "ESSENTIAL_FOR": 12896,
    "OPTIONAL_FOR": 6473,
    "RELATED_SKILL": 5818,  # == raw skillSkillRelations rows (graph closed)
}


@pytest.fixture(scope="module")
def warehouse(spark):
    return ensure_warehouse(spark)


def test_ensure_warehouse_recovers_interrupted_swap(spark, tmp_path):
    """A crash inside a node-table swap (translate's write-back) left the
    table renamed to ``__old`` with no live copy: ensure_warehouse must
    restore it instead of handing readers a warehouse with a hole. No
    ESCO CSV is read — the ingest marker is already present."""
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    with open(os.path.join(wh, "_SUCCESS_INGEST"), "w") as f:
        f.write("")
    skill = os.path.join(wh, "nodes_skill")
    spark.createDataFrame(
        [("s1", "alpha"), ("s2", "beta")], "conceptUri string, label string"
    ).write.parquet(skill + "__old")
    assert ensure_warehouse(spark, wh) == wh
    assert not os.path.exists(skill + "__old")
    got = sorted(r["conceptUri"] for r in spark.read.parquet(skill).collect())
    assert got == ["s1", "s2"]


def test_golden_node_counts(spark, warehouse):
    g = load_graph(spark, warehouse)
    for view, want in GOLDEN_NODE_COUNTS.items():
        assert g[view].count() == want, view


def test_golden_edge_counts(spark, warehouse):
    g = load_graph(spark, warehouse)
    got = {
        r["rel_type"]: r["count"]
        for r in g["esco_edges"].groupBy("rel_type").count().collect()
    }
    assert got == GOLDEN_EDGE_COUNTS


def test_constraints_hold(spark, warehouse):
    # A6: validate() raises on any uniqueness violation; also idempotent
    counts = validate(spark, warehouse)
    assert counts["nodes_isco_group"] == 619


def test_multilabel_skill_groups(spark, warehouse):
    """src/esco_ingest.py:98 — skill groups carry BOTH labels and appear
    in the Skill node table (multi-label union semantics)."""
    from pyspark.sql import functions as F

    g = load_graph(spark, warehouse)
    sk = g["esco_skill"]
    n_groups = sk.filter(F.array_contains("labels", "SkillGroup")).count()
    assert n_groups == 640
    # and every row has the Skill label
    assert sk.filter(~F.array_contains("labels", "Skill")).count() == 0


def test_fixture_synthesis_deterministic(tmp_path):
    """Re-synthesizing the missing CSVs is byte-identical (stable oracle)."""
    esco_dir = "/root/reference/ESCO"
    p1 = tmp_path / "a.csv"
    p2 = tmp_path / "b.csv"
    synth_skills_csv(esco_dir, str(p1))
    synth_skills_csv(esco_dir, str(p2))
    h1 = hashlib.md5(p1.read_bytes()).hexdigest()
    assert h1 == hashlib.md5(p2.read_bytes()).hexdigest()
    # and matches what the warehouse build used
    wh_fix = os.path.join(
        ensure_fixture_csvs.__module__ and "/root/repo/.esco_warehouse/_fixtures",
        "skills_en.csv",
    )
    if os.path.exists(wh_fix):
        assert h1 == hashlib.md5(open(wh_fix, "rb").read()).hexdigest()


def test_catalog_sees_partitions_added_after_creation(spark, warehouse):
    """r8 (r7 ADVICE): register_catalog_tables must recover partitions on
    EVERY call — a rel_type partition directory written after the edges
    table was first created (a same-session re-ingest) has to become
    visible to esco.edges, not stay invisible behind the creation-time
    MSCK."""
    import os
    import shutil

    from esco_neo4j_spark.sources.esco import (
        CATALOG_DB,
        register_catalog_tables,
    )

    register_catalog_tables(spark, warehouse)
    before = {
        r.rel_type
        for r in spark.sql(
            f"SELECT DISTINCT rel_type FROM {CATALOG_DB}.edges"
        ).collect()
    }
    assert "SYNTH_TEST_REL" not in before
    src = os.path.join(warehouse, "edges", "rel_type=ESSENTIAL_FOR")
    dst = os.path.join(warehouse, "edges", "rel_type=SYNTH_TEST_REL")
    shutil.copytree(src, dst)
    try:
        register_catalog_tables(spark, warehouse)
        after = {
            r.rel_type
            for r in spark.sql(
                f"SELECT DISTINCT rel_type FROM {CATALOG_DB}.edges"
            ).collect()
        }
        assert "SYNTH_TEST_REL" in after
    finally:
        shutil.rmtree(dst)
        register_catalog_tables(spark, warehouse)
