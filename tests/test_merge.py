"""Incremental upsert (sources/merge.py) — MERGE INTO semantics for the
node tables, mirroring the reference's ``MERGE ... SET n += $props``
(reference: src/esco_ingest.py:93-171): insert-new, update-wins-per-key,
explicit-null overwrite, base-only columns carried, schema evolution —
and ``swap_in``, the crash-safe swap every table rewrite goes through."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from esco_neo4j_spark.sources.merge import (
    merge_upsert,
    recover_swap,
    swap_in,
    upsert_parquet,
)


def _base(spark):
    return spark.createDataFrame(
        [
            ("u1", "alpha", 1.0),
            ("u2", "beta", 2.0),
            ("u3", "gamma", 3.0),
        ],
        "uri string, label string, score double",
    )


def _updates(spark):
    return spark.createDataFrame(
        [
            ("u2", "BETA"),      # changed value
            ("u3", None),        # explicit null must overwrite
            ("u4", "delta"),     # brand-new key -> insert
        ],
        "uri string, label string",
    )


def test_merge_upsert_semantics(spark):
    got = {
        r["uri"]: (r["label"], r["score"])
        for r in merge_upsert(_base(spark), _updates(spark), ["uri"]).collect()
    }
    assert got == {
        "u1": ("alpha", 1.0),   # untouched
        "u2": ("BETA", 2.0),    # label updated, base-only score carried
        "u3": (None, 3.0),      # explicit null overwrote
        "u4": ("delta", None),  # inserted; base-only column null
    }


def test_merge_upsert_schema_evolution(spark):
    upd = _updates(spark).withColumn("rank", F.lit(7))
    rows = {
        r["uri"]: r["rank"]
        for r in merge_upsert(_base(spark), upd, ["uri"]).collect()
    }
    assert rows == {"u1": None, "u2": 7, "u3": 7, "u4": 7}


def test_upsert_parquet_in_place(spark, tmp_path):
    path = str(tmp_path / "nodes")
    _base(spark).write.parquet(path)
    upsert_parquet(spark, path, _updates(spark), ["uri"])
    assert spark.read.parquet(path).count() == 4
    back = {r["uri"]: r["label"] for r in spark.read.parquet(path).collect()}
    assert back == {"u1": "alpha", "u2": "BETA", "u3": None, "u4": "delta"}
    # crash-safe swap leaves no droppings
    assert not os.path.exists(path + "__merging")
    assert not os.path.exists(path + "__old")


def test_upsert_parquet_creates_missing_table(spark, tmp_path):
    """A missing table is created from the updates, deduplicated on the
    key — the first batch of every upserting sink."""
    path = str(tmp_path / "nodes")
    upd = _updates(spark).unionByName(_updates(spark))
    upsert_parquet(spark, path, upd, ["uri"])
    got = sorted(r["uri"] for r in spark.read.parquet(path).collect())
    assert got == ["u2", "u3", "u4"]
    assert not os.path.exists(path + "__merging")


def _failing_write(spark):
    """A ``swap_in`` writer that lands a few rows in the scratch dir and
    then dies, like a job that fails mid-write."""

    def write(tmp):
        spark.range(3).write.parquet(tmp)
        raise RuntimeError("write failed")

    return write


def test_swap_in_failed_first_write_leaves_nothing(spark, tmp_path):
    """A failed write with no live table must not leave a partial
    ``__merging`` dir that the next recover_swap would promote."""
    path = str(tmp_path / "cells")
    with pytest.raises(RuntimeError, match="write failed"):
        swap_in(path, _failing_write(spark))
    assert not os.path.exists(path + "__merging")
    recover_swap(path)  # what the next batch does first
    assert not os.path.exists(path)


def test_swap_in_failed_write_keeps_live_table(spark, tmp_path):
    path = str(tmp_path / "nodes")
    _base(spark).write.parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    with pytest.raises(RuntimeError, match="write failed"):
        swap_in(path, _failing_write(spark))
    assert not os.path.exists(path + "__merging")
    assert not os.path.exists(path + "__old")
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before


def test_write_with_observed_metrics(spark, tmp_path):
    """df.observe rides the write's single pass: metrics equal a separate
    aggregation, and the written table matches the input."""
    import os

    from pyspark.sql import functions as F

    from esco_neo4j_spark.sources.observed import write_parquet_with_metrics

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet")).withColumn(
        "lang", F.when(F.col("doc_id") % 7 == 0, None).otherwise(F.col("lang"))
    )
    out = str(tmp_path / "docs_observed")
    m = write_parquet_with_metrics(docs, out, ["lang", "n_chars"])
    back = spark.read.parquet(out)
    assert m["n_rows"] == back.count() == docs.count()
    ref = docs.agg(
        F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0)).alias("ln"),
        F.min("n_chars").alias("mn"),
        F.max("n_chars").alias("mx"),
    ).collect()[0]
    assert m["lang_nulls"] == ref["ln"] > 0
    assert (m["n_chars_min"], m["n_chars_max"]) == (ref["mn"], ref["mx"])
