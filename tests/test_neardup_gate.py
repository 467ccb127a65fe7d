"""Near-dup gate write path (streaming/dedup.process_neardup_batch):
new keys are appended without rewriting the accepted corpus, an
interrupted upsert swap is recovered at entry, a batch with new columns
still evolves the schema, and compaction between batches changes no
gate decision."""

from __future__ import annotations

import os

from conftest import SF_DIR

from esco_neo4j_spark.sources.compaction import compact_parquet
from esco_neo4j_spark.streaming.dedup import process_neardup_batch

KW = dict(threshold=0.5, num_hashes=16, bands=4, max_bucket=None)


def _batches(spark):
    """Three batches of 40 documents; batches 1 and 2 also carry exact
    copies of earlier documents under new ids (the gate must drop them)."""
    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .select("doc_id", "text")
        .filter("doc_id < 120")
    )
    b0 = docs.filter("doc_id % 3 = 0")
    b1 = docs.filter("doc_id % 3 = 1").unionByName(
        b0.limit(5).selectExpr("doc_id + 100000 AS doc_id", "text")
    )
    b2 = docs.filter("doc_id % 3 = 2").unionByName(
        b1.limit(5).selectExpr("doc_id + 200000 AS doc_id", "text")
    )
    return b0, b1, b2


def _gate(tmp_path, name):
    """(index_dir, out_path, [the gate's three tables])."""
    index_dir, out = str(tmp_path / name / "index"), str(tmp_path / name / "out")
    tables = [out, os.path.join(index_dir, "docs"), os.path.join(index_dir, "bands")]
    return index_dir, out, tables


def _files(path):
    return {
        f: os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }


def _rows(spark, path):
    return sorted(tuple(map(str, r)) for r in spark.read.parquet(path).collect())


def test_gate_appends_new_keys_without_rewriting(spark, tmp_path):
    """A batch of only new ids leaves every parquet file already in the
    three gate tables in place, same name and size."""
    b0, b1, _ = _batches(spark)
    index_dir, out, tables = _gate(tmp_path, "g")
    process_neardup_batch(b0, index_dir, out, **KW)
    before = {p: _files(p) for p in tables}
    assert all(before.values())

    n = process_neardup_batch(b1.filter("doc_id < 100000"), index_dir, out, **KW)
    assert n > 0
    for p in tables:
        after = _files(p)
        assert {f: after.get(f) for f in before[p]} == before[p], p
        assert set(after) - set(before[p]), f"{p}: no file appended"


def test_gate_recovers_interrupted_swap(spark, tmp_path):
    """A crash between an upsert's two renames leaves a table missing;
    the next batch must recover it (roll forward to ``__merging`` or
    back to ``__old``) instead of skipping the probe and overwriting the
    corpus with one batch."""
    b0, b1, _ = _batches(spark)
    ref_index, ref_out, _ = _gate(tmp_path, "ref")
    index_dir, out, (_, docs, bands) = _gate(tmp_path, "g")
    for i, o in ((ref_index, ref_out), (index_dir, out)):
        process_neardup_batch(b0, i, o, **KW)
    # out and docs crash after the aside copy is written (roll forward),
    # bands before it (roll back)
    for p in (out, docs):
        os.rename(p, p + "__old")
        spark.read.parquet(p + "__old").coalesce(1).write.parquet(p + "__merging")
    os.rename(bands, bands + "__old")

    n_ref = process_neardup_batch(b1, ref_index, ref_out, **KW)
    assert process_neardup_batch(b1, index_dir, out, **KW) == n_ref
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {r["doc_id"] for r in spark.read.parquet(ref_out).collect()}
    assert not any(d >= 100000 for d in got)
    for p in (out, docs, bands):
        assert not os.path.exists(p + "__old")
        assert not os.path.exists(p + "__merging")
    assert _rows(spark, bands) == _rows(spark, os.path.join(ref_index, "bands"))


def test_gate_batch_with_new_column_evolves_schema(spark, tmp_path):
    """A batch carrying a column the output table lacks still lands it,
    null for earlier rows (the upsert's schema evolution)."""
    from pyspark.sql import functions as F

    b0, b1, _ = _batches(spark)
    index_dir, out, _ = _gate(tmp_path, "g")
    process_neardup_batch(b0, index_dir, out, **KW)
    process_neardup_batch(
        b1.filter("doc_id < 100000").withColumn("lang", F.lit("en")),
        index_dir, out, **KW,
    )
    res = spark.read.parquet(out)
    assert "lang" in res.columns
    langs = {(r["doc_id"] % 3, r["lang"]) for r in res.collect()}
    assert langs == {(0, None), (1, "en")}


def test_gate_decisions_survive_compaction(spark, tmp_path):
    """Compacting the three gate tables between batches (the maintenance
    step for the files appends add) changes no survivor."""
    b0, b1, b2 = _batches(spark)
    plain_index, plain_out, plain_tables = _gate(tmp_path, "plain")
    index_dir, out, tables = _gate(tmp_path, "compacted")
    for i, o in ((plain_index, plain_out), (index_dir, out)):
        process_neardup_batch(b0, i, o, **KW)
        process_neardup_batch(b1, i, o, **KW)
    for p in tables:
        assert compact_parquet(spark, p, min_files=1)["compacted"], p
        assert len(_files(p)) == 1

    n_plain = process_neardup_batch(b2, plain_index, plain_out, **KW)
    assert process_neardup_batch(b2, index_dir, out, **KW) == n_plain > 0
    for p, q in zip(plain_tables, tables):
        assert _rows(spark, p) == _rows(spark, q), q
