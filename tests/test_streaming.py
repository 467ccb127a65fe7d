"""Structured Streaming == batch parity (SURVEY.md §2.J extension).

Each streaming pipeline in esco_neo4j_spark/streaming/events.py has a
batch twin that IS DuckDB-oracle checked (plans/event_queries.py); these
tests close the loop by asserting the streaming plan produces the same
result as the batch plan on the same input, driven through a real file
source -> memory sink with processAllAvailable().
"""

from __future__ import annotations

import importlib.util
import os

import pytest

from esco_neo4j_spark.catalog import load_table
from esco_neo4j_spark.streaming.events import (
    enrich_segments,
    interval_join,
    read_event_stream,
    run_to_memory,
    sessionize_stateful,
    streaming_dedup,
    tumbling_counts,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """Events as a parquet DIRECTORY (streaming file source needs a dir),
    with the nanos->timestamp fix applied at write time."""
    path = str(tmp_path_factory.mktemp("events_stream") / "events")
    load_table(spark, SF_DIR, "events").repartition(1).write.parquet(path)
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_tumbling_equals_batch(spark, event_dir):
    stream = tumbling_counts(read_event_stream(spark, event_dir))
    run_to_memory(stream, "t_tumbling", output_mode="complete")
    got = _rows(spark.table("t_tumbling"))
    want = _rows(tumbling_counts(spark.read.parquet(event_dir)))
    assert got == want and len(got) > 0


def test_streaming_dedup_equals_batch(spark, event_dir):
    stream = streaming_dedup(read_event_stream(spark, event_dir))
    run_to_memory(stream, "t_dedup", output_mode="append")
    got = sorted(r["event_id"] for r in spark.table("t_dedup").collect())
    want = sorted(
        r["event_id"]
        for r in spark.read.parquet(event_dir)
        .dropDuplicates(["event_id"])
        .collect()
    )
    assert got == want and len(got) > 0


def test_stream_stream_interval_join_equals_batch(spark, event_dir):
    """Stream-stream interval join (watermarked on both sides) == the
    banded-bucket batch twin (events_interval_join, itself DuckDB-checked)."""
    stream = interval_join(read_event_stream(spark, event_dir))
    run_to_memory(stream, "t_ivjoin", output_mode="append")
    got = _rows(spark.table("t_ivjoin"))
    want = _rows(interval_join(spark.read.parquet(event_dir)))
    assert got == want and len(got) > 0

    # ... and against the REGISTRY batch twin, which computes the same
    # pairs via the banded (user, time-bucket) equi-join — an
    # algorithmically independent plan that is itself DuckDB-checked.
    from esco_neo4j_spark.plans import REGISTRY

    twin = _rows(REGISTRY["events_interval_join"].fn(spark, SF_DIR))
    assert got == twin


def test_stream_static_enrich_equals_batch(spark, event_dir):
    """Stream-static broadcast enrichment join + windowed rollup == the
    same composition on the batch read, and == the REGISTRY batch twin
    (events_enriched_rollup), which is itself DuckDB-checked."""
    customers = load_table(spark, SF_DIR, "customer")
    stream = enrich_segments(read_event_stream(spark, event_dir), customers)
    run_to_memory(stream, "t_enrich", output_mode="complete")
    got = _rows(spark.table("t_enrich"))
    want = _rows(enrich_segments(spark.read.parquet(event_dir), customers))
    assert got == want and len(got) > 0

    from esco_neo4j_spark.plans import REGISTRY

    twin = _rows(REGISTRY["events_enriched_rollup"].fn(spark, SF_DIR))
    assert got == twin


def test_stateful_sessionization_equals_batch(spark, event_dir):
    """applyInPandasWithState sessionization == the window-function batch
    twin (events_sessionization, itself DuckDB-checked)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    stream = sessionize_stateful(read_event_stream(spark, event_dir))
    run_to_memory(stream, "t_sessions", output_mode="update")
    # update-mode memory sink appends one row per user per micro-batch;
    # the final state per user is the last row emitted
    got = _rows(
        spark.table("t_sessions")
        .groupBy("user_id")
        .agg(
            F.max("n_sessions").alias("n_sessions"),
            F.max("n_events").alias("n_events"),
        )
    )

    ev = spark.read.parquet(event_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.col("ts").cast("double") - F.col("prev_ts").cast("double") > 3600.0),
            1,
        ).otherwise(0),
    )
    want = _rows(
        flagged.groupBy("user_id").agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count("*").cast("bigint").alias("n_events"),
        )
    )
    assert got == want and len(got) > 0


def test_foreach_batch_upsert_sink(spark, tmp_path):
    """Streaming MERGE sink: micro-batches upserted into a parquet table
    via foreachBatch end at exactly the batch dedup result, and replaying
    the same input into the same table is a no-op (idempotence — the
    property that turns at-least-once delivery into effectively-once)."""
    from esco_neo4j_spark.streaming.events import upsert_sink

    src = str(tmp_path / "src")
    load_table(spark, SF_DIR, "events").repartition(4).write.parquet(src)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    q = upsert_sink(read_event_stream(spark, src), sink, ["event_id"], ckpt)
    q.processAllAvailable()
    q.stop()
    got = sorted(r["event_id"] for r in spark.read.parquet(sink).collect())
    want = sorted(
        r["event_id"]
        for r in spark.read.parquet(src).dropDuplicates(["event_id"]).collect()
    )
    assert got == want and len(got) > 0

    # replay from a fresh checkpoint: every batch re-merges, table unchanged
    q2 = upsert_sink(
        read_event_stream(spark, src), sink, ["event_id"], str(tmp_path / "ckpt2")
    )
    q2.processAllAvailable()
    q2.stop()
    again = sorted(r["event_id"] for r in spark.read.parquet(sink).collect())
    assert again == want


def test_cms_sketch_sink_equals_batch_sketch(spark, event_dir, tmp_path):
    """Streaming per-batch CMS partitions merged at read == the batch CMS
    of the whole input (counter-exact mergeability across micro-batches),
    and the merged sketch answers point queries identically."""
    from esco_neo4j_spark.operators.sketch import cms_build, cms_estimate
    from esco_neo4j_spark.streaming.events import (
        cms_sketch_sink,
        read_cms_sketch,
        read_event_stream,
    )

    path = str(tmp_path / "cms_sketch")
    q = cms_sketch_sink(
        read_event_stream(spark, event_dir), "user_id", path,
        str(tmp_path / "ckpt"), width=64,
    )
    q.processAllAvailable()
    q.stop()

    merged = sorted(
        tuple(r) for r in read_cms_sketch(spark, path).collect()
    )
    batch = spark.read.parquet(event_dir)
    whole = sorted(
        tuple(r) for r in cms_build(batch, "user_id", width=64).collect()
    )
    assert merged == whole and len(whole) > 0

    keys = batch.select("user_id").distinct()
    est_stream = sorted(
        tuple(r) for r in cms_estimate(
            read_cms_sketch(spark, path), keys, "user_id", width=64
        ).collect()
    )
    est_batch = sorted(
        tuple(r) for r in cms_estimate(
            cms_build(batch, "user_id", width=64), keys, "user_id", width=64
        ).collect()
    )
    assert est_stream == est_batch


try:  # find_spec raises if even the parent 'google' namespace is absent
    _HAVE_PROTOBUF = importlib.util.find_spec("google.protobuf") is not None
except ModuleNotFoundError:
    _HAVE_PROTOBUF = False


@pytest.mark.xfail(
    condition=not _HAVE_PROTOBUF,
    reason="transformWithStateInPandas needs protobuf (the state-server "
    "wire format), which this container does not ship. Exact missing "
    "wheel, probed r8: `protobuf>=6.33.0` — pyspark 4.1.2's generated "
    "pyspark/sql/streaming/proto/StateMessage_pb2.py calls "
    "ValidateProtobufRuntimeVersion(PUBLIC, 6, 33, 0) at import; the "
    "env has no google.* namespace at all and pip install is out of "
    "scope here. Strict xfail instead of skip so the gap stays VISIBLE "
    "in the report and the test flips to a hard error the day protobuf "
    "appears but the code rotted (or starts passing protobuf-free, "
    "which would mean the env assertion itself is stale)",
    strict=True,
)
def test_transform_with_state_totals_equal_batch(spark, event_dir):
    """transformWithStateInPandas running totals == the batch aggregate
    (count/sum per user)."""
    from pyspark.sql import functions as F

    from esco_neo4j_spark.streaming.events import (
        read_event_stream,
        running_totals_tws,
        run_to_memory,
    )

    stream = running_totals_tws(read_event_stream(spark, event_dir))
    run_to_memory(stream, "t_totals", output_mode="update")
    got = _rows(
        spark.table("t_totals")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max("total_value"), 2).alias("total_value"),
        )
    )
    want = _rows(
        spark.read.parquet(event_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    assert got == want and len(got) > 0


def test_stream_stream_left_outer_join_equals_batch(spark, event_dir, tmp_path):
    """LEFT-OUTER stream-stream interval join == batch left join. Outer
    null rows only emit once the watermark passes each purchase's match
    window, so the input gets far-future sentinel events (one per side)
    that push every real window closed; sentinels are filtered from the
    comparison (the sentinel purchase itself legitimately stays in state
    forever — its own window never closes)."""
    import datetime
    import shutil

    from esco_neo4j_spark.streaming.events import interval_join_left

    path = str(tmp_path / "events_sentinel")
    shutil.copytree(event_dir, path)
    base = spark.read.parquet(event_dir)
    far = datetime.datetime(2030, 1, 1)
    sent = spark.createDataFrame(
        [
            (10**9, far, 999999, "click", 0.0, "{}"),
            (10**9 + 1, far, 999999, "purchase", 0.0, "{}"),
        ],
        base.schema,
    )
    sent.write.mode("append").parquet(path)

    stream = interval_join_left(read_event_stream(spark, path))
    run_to_memory(stream, "t_ivleft", output_mode="append")
    got = _rows(spark.table("t_ivleft").filter("user_id <> 999999"))
    want = _rows(
        interval_join_left(spark.read.parquet(path)).filter("user_id <> 999999")
    )
    assert got == want and len(got) > 0
    assert any(r[1] is None for r in got), "unattributed purchases must surface"

    # ... and against the REGISTRY batch twin (banded equi-join + anti-join),
    # algorithmically independent and itself DuckDB-checked.
    from esco_neo4j_spark.plans import REGISTRY

    twin = _rows(REGISTRY["events_attribution_left"].fn(spark, SF_DIR))
    assert got == twin


def test_streaming_session_window_equals_batch(spark, event_dir, tmp_path):
    """Native session_window streaming aggregation == the DuckDB-checked
    batch twin. Append mode emits a session only once the watermark
    passes its close, so a far-future sentinel event flushes every real
    session; the sentinel user's own (never-closing) session is filtered
    from the comparison."""
    import datetime
    import shutil

    from esco_neo4j_spark.streaming.events import session_rollup

    path = str(tmp_path / "events_sess_sentinel")
    shutil.copytree(event_dir, path)
    base = spark.read.parquet(event_dir)
    sent = spark.createDataFrame(
        [(10**9, datetime.datetime(2030, 1, 1), 999999, "click", 0.0, "{}")],
        base.schema,
    )
    sent.write.mode("append").parquet(path)

    stream = session_rollup(read_event_stream(spark, path))
    run_to_memory(stream, "t_sesswin", output_mode="append")
    got = _rows(spark.table("t_sesswin").filter("user_id <> 999999"))

    from esco_neo4j_spark.plans import REGISTRY

    twin = _rows(REGISTRY["events_session_window_native"].fn(spark, SF_DIR))
    assert got == twin and len(got) > 0


def test_clean_sessions_pipeline_end_to_end(spark, event_dir, tmp_path):
    """Capstone: dedup -> session_window -> merge sink as ONE streaming
    query. Input contains every event TWICE (at-least-once source);
    the sink must equal the batch twin computed on unique events, and a
    full pipeline REPLAY (fresh checkpoint, same sink) must leave the
    table unchanged."""
    import datetime
    import shutil

    from esco_neo4j_spark.streaming.events import clean_sessions_pipeline

    path = str(tmp_path / "events_dup")
    shutil.copytree(event_dir, path)
    base = spark.read.parquet(event_dir)
    # duplicate every event (same event_id, same ts -> inside the horizon)
    base.write.mode("append").parquet(path)
    sent = spark.createDataFrame(
        [(10**9, datetime.datetime(2030, 1, 1), 999999, "click", 0.0, "{}")],
        base.schema,
    )
    sent.write.mode("append").parquet(path)

    sink = str(tmp_path / "sessions_table")

    def run(tag: str) -> None:
        q = clean_sessions_pipeline(
            read_event_stream(spark, path),
            sink,
            checkpoint=str(tmp_path / f"ckpt_{tag}"),
        )
        q.processAllAvailable()
        q.stop()

    run("a")
    got = _rows(spark.read.parquet(sink).filter("user_id <> 999999"))

    from esco_neo4j_spark.plans import REGISTRY

    twin = _rows(REGISTRY["events_session_window_native"].fn(spark, SF_DIR))
    assert got == twin and len(got) > 0

    run("b")  # full replay: new checkpoint, same sink -> idempotent
    again = _rows(spark.read.parquet(sink).filter("user_id <> 999999"))
    assert again == got


def test_neardup_gate_stream_equals_incremental_batch(spark, tmp_path):
    """The streaming near-dup gate (file stream, one file per trigger)
    admits EXACTLY the documents the batch incremental operator admits
    when the same batches arrive sequentially — and replaying the last
    batch is a no-op (effectively-once on at-least-once delivery)."""
    import os

    from pyspark.sql import functions as F

    from esco_neo4j_spark.operators.dedup import minhash_incremental_pairs
    from esco_neo4j_spark.streaming.dedup import (
        neardup_gate_sink,
        process_neardup_batch,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
    )
    # 3 deterministic batches; batch 1 and 2 get EXACT copies of earlier
    # docs under new ids, so the gate provably drops cross-batch dups
    b0 = docs.filter("doc_id % 3 = 0")
    b1 = docs.filter("doc_id % 3 = 1").unionByName(
        b0.limit(5).selectExpr("doc_id + 100000 AS doc_id", "text")
    )
    b2 = docs.filter("doc_id % 3 = 2").unionByName(
        b1.limit(5).selectExpr("doc_id + 200000 AS doc_id", "text")
    )
    stream_dir = str(tmp_path / "in")
    os.makedirs(stream_dir)
    for i, b in enumerate([b0, b1, b2]):
        b.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{i}")
        )
        src = [
            f for f in os.listdir(str(tmp_path / f"stage{i}"))
            if f.endswith(".parquet")
        ][0]
        os.rename(
            str(tmp_path / f"stage{i}" / src),
            os.path.join(stream_dir, f"{i:03d}.parquet"),
        )

    kwargs = dict(threshold=0.5, num_hashes=16, bands=4, max_bucket=None)
    out_path = str(tmp_path / "accepted")
    index_dir = str(tmp_path / "index")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = neardup_gate_sink(
        stream, index_dir, out_path, str(tmp_path / "ckpt"), **kwargs
    )
    q.processAllAvailable()
    q.stop()
    got = {r["doc_id"] for r in spark.read.parquet(out_path).collect()}

    # batch twin: sequential replay through the INDEPENDENT incremental
    # operator — accepted(k) = batch_k minus docs with a verified pair
    # whose partner is accepted-so-far or a smaller id of the same batch
    accepted = None
    for b in [b0, b1, b2]:
        union = b if accepted is None else accepted.unionByName(b)
        batch_ids = {r["doc_id"] for r in b.collect()}
        pairs = minhash_incremental_pairs(
            union, "text", "doc_id",
            new_pred=lambda c, s=frozenset(batch_ids): c.isin(list(s)),
            **kwargs,
        ).collect()
        # (batch_id, other_id, jaccard, other_is_base): a batch doc with
        # a base partner drops; a batch-batch pair drops its LARGER id
        dropped = set()
        for p in pairs:
            if p["other_is_base"]:
                dropped.add(p["batch_id"])
            else:
                dropped.add(max(p["batch_id"], p["other_id"]))
        keep = b.filter(~F.col("doc_id").isin(list(dropped)) if dropped else F.lit(True))
        accepted = keep if accepted is None else accepted.unionByName(keep)
    want = {r["doc_id"] for r in accepted.collect()}
    assert got == want and len(got) > 0
    # the injected exact copies must all have been rejected
    assert not any(d >= 100000 for d in got)

    # replay idempotency: re-run the LAST batch manually; output unchanged
    n_before = spark.read.parquet(out_path).count()
    process_neardup_batch(b2, index_dir, out_path, **kwargs)
    assert spark.read.parquet(out_path).count() == n_before
    assert {r["doc_id"] for r in spark.read.parquet(out_path).collect()} == want

    def assert_unique(path, keys):
        t = spark.read.parquet(path)
        assert t.count() == t.select(*keys).distinct().count(), path

    def assert_gate_unique():
        assert_unique(out_path, ["doc_id"])
        assert_unique(os.path.join(index_dir, "docs"), ["id"])
        assert_unique(os.path.join(index_dir, "bands"), ["id", "band_id"])

    assert_gate_unique()

    # update wins: an accepted doc_id re-sent with new (unique) text
    # replaces its text in the output, as an upsert does
    doc = min(want)
    new_text = "qq1 qq2 qq3 qq4 qq5 qq6 qq7 qq8 qq9"
    upd = spark.createDataFrame([(doc, new_text)], "doc_id bigint, text string")
    assert process_neardup_batch(upd, index_dir, out_path, **kwargs) == 1
    out = spark.read.parquet(out_path)
    assert out.count() == n_before
    assert [r["text"] for r in out.filter(F.col("doc_id") == doc).collect()] == [
        new_text
    ]
    assert_gate_unique()


def test_ivf_index_stream_equals_batch(spark, tmp_path):
    """The streaming IVF index (file stream, one file per trigger) ends
    up IDENTICAL to the batch assignment over the union of the batches
    (fixed centroids), the probe equals an independent pure-Python exact
    rerank within the probed cells, and replaying the last batch is a
    no-op (effectively-once on at-least-once delivery)."""
    import math
    import os

    from pyspark.sql import functions as F

    from esco_neo4j_spark.operators.similarity import (
        ivf_assign_with_centroids,
    )
    from esco_neo4j_spark.streaming.vector import (
        ivf_index_probe,
        ivf_index_sink,
        process_vector_batch,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 300)
    )
    centroids = (
        emb.filter(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(8)
        .selectExpr("vec_id AS cid", "embedding AS cvec")
        .collect()
    )
    batches = [emb.filter(f"vec_id % 3 = {i}") for i in range(3)]
    # a null-embedding row must be dropped at the gate, not indexed
    batches[1] = batches[1].unionByName(
        spark.createDataFrame(
            [(999999, None)], "vec_id bigint, embedding array<float>"
        )
    )
    stream_dir = str(tmp_path / "in")
    os.makedirs(stream_dir)
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{i}")
        )
        src = [
            f for f in os.listdir(str(tmp_path / f"stage{i}"))
            if f.endswith(".parquet")
        ][0]
        os.rename(
            str(tmp_path / f"stage{i}" / src),
            os.path.join(stream_dir, f"{i:03d}.parquet"),
        )

    index_dir = str(tmp_path / "index")
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = ivf_index_sink(stream, index_dir, str(tmp_path / "ckpt"), centroids)
    q.processAllAvailable()
    q.stop()

    got = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(index_dir + "/assignments").collect()
    }
    want_df = ivf_assign_with_centroids(
        emb.filter(F.col("embedding").isNotNull()), centroids
    )
    want = {(r["vec_id"], r["cell"]) for r in want_df.collect()}
    assert got == want and len(got) > 0
    assert not any(v == 999999 for v, _ in got)  # null row gated out

    # cell stats match the assignments exactly
    cells = {
        r["cell"]: r["n_vectors"]
        for r in spark.read.parquet(index_dir + "/cells").collect()
    }
    from collections import Counter

    assert cells == dict(Counter(c for _, c in want))

    # probe == independent pure-Python exact rerank within probed cells
    qrow = emb.filter("vec_id = 42").first()
    qvec = list(qrow["embedding"])

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    ranked_cents = sorted(
        centroids, key=lambda r: (-cos(qvec, list(r["cvec"])), r["cid"])
    )
    probe_cells = {r["cid"] for r in ranked_cents[:2]}
    data = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.filter(F.col("embedding").isNotNull()).collect()
    }
    cell_of = dict(want)
    exp = sorted(
        (
            (round(cos(qvec, v) * 1e6) / 1e6, -vid)
            for vid, v in data.items()
            if cell_of[vid] in probe_cells
        ),
        reverse=True,
    )[:5]
    expected_ids = [-i for _, i in exp]
    hits = ivf_index_probe(
        spark, index_dir, centroids, qvec, k=5, nprobe=2
    ).collect()
    assert [r["vec_id"] for r in hits] == expected_ids

    # a zero-norm query ranks no cell (cosine is undefined), as in the
    # batch ivf_topk: empty result, same schema
    from esco_neo4j_spark.operators.similarity import ivf_topk

    zero = [0.0] * len(qvec)
    probed = ivf_index_probe(spark, index_dir, centroids, zero, k=5, nprobe=2)
    assert probed.collect() == []
    assert probed.schema == ivf_index_probe(
        spark, index_dir, centroids, qvec, k=5, nprobe=2
    ).schema
    assert ivf_topk(emb, zero, k=5).collect() == []

    # replay idempotency: re-run the LAST batch; index unchanged
    process_vector_batch(batches[2], index_dir, centroids)
    again = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(index_dir + "/assignments").collect()
    }
    assert again == got


def test_ivf_recenter_preserves_stream_batch_parity(spark, tmp_path):
    """The recentering policy (r5 VERDICT item 7): a drifted stream
    crosses the cell-imbalance threshold, the sink retrains centroids
    offline and rebuilds the index — and the stream == batch contract
    holds ACROSS the recenter: final assignments equal the batch
    assignment of the full corpus against the FINAL centroid set,
    cells stay exact, replay of the last batch is still a no-op, and
    the probe agrees with a pure-Python rerank on the new centroids."""
    import math
    import os

    from collections import Counter

    from pyspark.sql import functions as F

    from esco_neo4j_spark.operators.similarity import (
        ivf_assign_with_centroids,
    )
    from esco_neo4j_spark.streaming.vector import (
        cell_imbalance,
        ivf_index_probe,
        ivf_index_sink,
        process_vector_batch,
    )

    # group A (54 rows) hugs [1,0,0,0]; group B (6 rows) hugs [0,1,0,0];
    # ids 0 and 1 are one of each so kmeans' first-k seeding separates
    # the groups when the recenter retrains
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    rows += [
        (i, [1.0, 0.001 * (i % 7), 0.0, 0.0002 * i]) for i in range(2, 54)
    ]
    rows += [(i, [0.0002 * i, 1.0, 0.001 * (i % 5), 0.0]) for i in range(54, 60)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    # DEGENERATE initial centroids (two copies of the A direction):
    # every row lands in cell 900 -> imbalance 2.0 -> trigger
    centroids = [
        {"cid": 900, "cvec": [1.0, 0.0, 0.0, 0.0]},
        {"cid": 901, "cvec": [1.0, 0.0, 0.0, 0.0]},
    ]

    batches = [emb.filter(f"vec_id % 3 = {i}") for i in range(3)]
    stream_dir = str(tmp_path / "in")
    os.makedirs(stream_dir)
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"s{i}"))
        src = [
            f
            for f in os.listdir(str(tmp_path / f"s{i}"))
            if f.endswith(".parquet")
        ][0]
        os.rename(
            str(tmp_path / f"s{i}" / src),
            os.path.join(stream_dir, f"{i:03d}.parquet"),
        )

    index_dir = str(tmp_path / "index")
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = ivf_index_sink(
        stream,
        index_dir,
        str(tmp_path / "ckpt"),
        centroids,
        recenter_threshold=1.5,
    )
    q.processAllAvailable()
    q.stop()

    # the recenter fired and replaced the degenerate centroid set
    assert {c["cid"] for c in centroids} == {0, 1}

    got = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(index_dir + "/assignments").collect()
    }
    want = {
        (r["vec_id"], r["cell"])
        for r in ivf_assign_with_centroids(emb, centroids).collect()
    }
    assert got == want and len(got) == 60
    # the rebuilt index actually split the groups (not still one cell)
    assert len({c for _, c in got}) == 2

    cells = {
        r["cell"]: r["n_vectors"]
        for r in spark.read.parquet(index_dir + "/cells").collect()
    }
    assert cells == dict(Counter(c for _, c in want))
    # the metric reads the rebuilt table: max cell over mean of k=2
    want_imb = max(cells.values()) / (sum(cells.values()) / 2)
    assert abs(cell_imbalance(spark, index_dir, 2) - want_imb) < 1e-9
    assert want_imb < 2.0  # no longer the degenerate one-cell index

    # replay idempotency survives the recenter: re-run the last batch
    # against the LIVE (mutated) centroid list
    process_vector_batch(batches[2], index_dir, centroids)
    again = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(index_dir + "/assignments").collect()
    }
    assert again == got

    # probe parity on the NEW centroids
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    qvec = [0.0, 1.0, 0.0, 0.0]
    data = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    cell_of = dict(want)
    probe_cells = {
        c["cid"]
        for c in sorted(
            centroids, key=lambda c: (-cos(qvec, list(c["cvec"])), c["cid"])
        )[:1]
    }
    exp = sorted(
        (
            (round(cos(qvec, v) * 1e6) / 1e6, -vid)
            for vid, v in data.items()
            if cell_of[vid] in probe_cells
        ),
        reverse=True,
    )[:5]
    expected_ids = [-i for _, i in exp]
    hits = ivf_index_probe(
        spark, index_dir, centroids, qvec, k=5, nprobe=1
    ).collect()
    assert [r["vec_id"] for r in hits] == expected_ids


def test_interrupted_recenter_swap_is_recovered(spark, tmp_path):
    """r7 ADVICE: a crash between `rename(path, old)` and
    `rename(tmp, path)` leaves the assignments table absent; the next
    batch must restore/complete the swap instead of silently rebuilding
    the index from that one batch."""
    import os

    from pyspark.sql import functions as F

    from esco_neo4j_spark.streaming.vector import (
        _paths,
        process_vector_batch,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 120)
    )
    centroids = (
        emb.filter(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(4)
        .selectExpr("vec_id AS cid", "embedding AS cvec")
        .collect()
    )
    index_dir = str(tmp_path / "index")
    first = emb.filter("vec_id < 100")
    process_vector_batch(first, index_dir, centroids)
    assign_path, _ = _paths(index_dir)
    n_first = spark.read.parquet(assign_path).count()
    assert n_first > 0

    # simulate the mid-swap crash: the new table sits fully written in
    # __merging, the live table was renamed to __old, path is ABSENT
    os.rename(assign_path, assign_path + "__old")
    spark.read.parquet(assign_path + "__old").write.parquet(
        assign_path + "__merging"
    )

    process_vector_batch(emb.filter("vec_id >= 100"), index_dir, centroids)
    landed = spark.read.parquet(assign_path)
    assert landed.count() == emb.filter(
        F.col("embedding").isNotNull()
    ).count(), "mid-swap crash lost the pre-crash index"
    assert not os.path.exists(assign_path + "__old")
    assert not os.path.exists(assign_path + "__merging")


def test_shard_sink_stream_equals_batch(spark, tmp_path):
    """Streaming shard sink (r6 verdict item 5): after a sequence of
    micro-batches the hive store AND its landed-file manifest equal the
    batch write_token_shards over the union; a replayed batch is a
    no-op (effectively-once); verify_shards passes on the streamed
    corpus and still detects tampering."""
    import json
    import os

    from pyspark.sql import functions as F

    from esco_neo4j_spark.sources.shards import (
        MANIFEST_NAME,
        verify_shards,
        write_token_shards,
    )
    from esco_neo4j_spark.streaming.shards import (
        process_shard_batch,
        token_shard_sink,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
            (F.col("doc_id") % 5).cast("int").alias("shard_id"),
        )
        .filter("doc_id < 300")
    )
    batches = [docs.filter(f"doc_id % 3 = {i}") for i in range(3)]
    stream_dir = str(tmp_path / "in")
    os.makedirs(stream_dir)
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{i}")
        )
        src = [
            f for f in os.listdir(str(tmp_path / f"stage{i}"))
            if f.endswith(".parquet")
        ][0]
        os.rename(
            str(tmp_path / f"stage{i}" / src),
            os.path.join(stream_dir, f"{i:03d}.parquet"),
        )

    out_dir = str(tmp_path / "shards_stream")
    stream = (
        spark.readStream.schema(
            "doc_id bigint, n_tokens bigint, shard_id int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = token_shard_sink(stream, out_dir, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    batch_dir = str(tmp_path / "shards_batch")
    want_manifest = write_token_shards(docs, batch_dir)
    got_manifest = json.load(open(os.path.join(out_dir, MANIFEST_NAME)))
    assert got_manifest == want_manifest

    got_rows = {
        (r["doc_id"], r["n_tokens"], r["shard_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want_rows = {
        (r["doc_id"], r["n_tokens"], r["shard_id"])
        for r in spark.read.parquet(batch_dir).collect()
    }
    assert got_rows == want_rows and len(got_rows) == docs.count()

    # replay the LAST batch: rows and manifest unchanged
    replay_manifest = process_shard_batch(batches[2], out_dir)
    assert replay_manifest == want_manifest
    again = {
        (r["doc_id"], r["n_tokens"], r["shard_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert again == got_rows

    # integrity: verify passes on the streamed store; tampering fails it
    assert verify_shards(spark, out_dir)["ok"]
    m = dict(got_manifest)
    m["shards"]["0"]["docs"] += 1
    with open(os.path.join(out_dir, MANIFEST_NAME), "w") as fh:
        json.dump(m, fh)
    res = verify_shards(spark, out_dir)
    assert not res["ok"] and res["mismatches"] == ["0"]


def test_knn_graph_stream_equals_batch(spark, tmp_path):
    """Incremental kNN-graph maintenance (r7): after a sequence of
    micro-batches the maintained edges equal the UNCAPPED batch graph
    over the union of the batches (candidate sets only grow and top-k
    is monotone under insertion), and a replayed batch is a no-op."""
    import os

    from pyspark.sql import functions as F

    from esco_neo4j_spark.operators.similarity import lsh_knn_graph
    from esco_neo4j_spark.streaming.knn import (
        knn_index_sink,
        process_knn_batch,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 200)
    )
    batches = [emb.filter(f"vec_id % 3 = {i}") for i in range(3)]
    stream_dir = str(tmp_path / "in")
    os.makedirs(stream_dir)
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{i}")
        )
        src = [
            f for f in os.listdir(str(tmp_path / f"stage{i}"))
            if f.endswith(".parquet")
        ][0]
        os.rename(
            str(tmp_path / f"stage{i}" / src),
            os.path.join(stream_dir, f"{i:03d}.parquet"),
        )

    index_dir = str(tmp_path / "knn")
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = knn_index_sink(
        stream, index_dir, str(tmp_path / "ckpt"), dim=64,
        k=3, n_planes=5, n_tables=10,
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["src"], r["nbr"], r["score"], r["rk"])
        for r in spark.read.parquet(index_dir + "/edges").collect()
    }
    want = {
        (r["src"], r["nbr"], r["score"], r["rk"])
        for r in lsh_knn_graph(
            emb, k=3, cand_cap=10**6, n_planes=5, n_tables=10,
            max_bucket=None,
        ).collect()
    }
    assert got == want and len(got) > 0

    # replay the LAST batch: edges unchanged (effectively-once)
    process_knn_batch(
        batches[2], index_dir, dim=64, k=3, n_planes=5, n_tables=10
    )
    again = {
        (r["src"], r["nbr"], r["score"], r["rk"])
        for r in spark.read.parquet(index_dir + "/edges").collect()
    }
    assert again == got


def test_beam_search_over_streamed_graph(spark, tmp_path):
    """Substrate composition (r7): the beam walk runs unchanged over the
    STREAM-MAINTAINED edges and — because the maintained graph equals
    the uncapped batch graph — returns exactly the hits of the same walk
    over a batch-built graph on the same corpus."""
    from pyspark.sql import functions as F

    from esco_neo4j_spark.operators.similarity import (
        graph_beam_search,
        lsh_knn_graph,
    )
    from esco_neo4j_spark.streaming.knn import process_knn_batch

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 200)
    )
    index_dir = str(tmp_path / "knn")
    for i in range(3):
        process_knn_batch(
            emb.filter(f"vec_id % 3 = {i}"), index_dir, dim=64,
            k=3, n_planes=5, n_tables=10,
        )
    streamed_edges = spark.read.parquet(index_dir + "/edges")
    batch_edges = lsh_knn_graph(
        emb, k=3, cand_cap=10**6, n_planes=5, n_tables=10, max_bucket=None
    )
    anchor = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    got = [
        tuple(r)
        for r in graph_beam_search(streamed_edges, emb, anchor).collect()
    ]
    want = [
        tuple(r)
        for r in graph_beam_search(batch_edges, emb, anchor).collect()
    ]
    assert got == want and len(got) == 10


def test_knn_reingest_changed_embedding_is_ignored(spark, tmp_path):
    """r8 (r7 ADVICE): a re-arriving id with a CHANGED embedding must not
    mix stale stored-edge scores with a fresh vector. The insert-only
    gate drops it before any candidate work (first writer wins): the
    vector store keeps the original embedding, every stored edge score
    is consistent with the stored vectors, and only genuinely-new ids
    count as accepted."""
    from esco_neo4j_spark.streaming.knn import process_knn_batch

    index_dir = str(tmp_path / "knn")
    b1 = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    assert process_knn_batch(b1, index_dir, dim=4, k=2) == 2
    edges_before = {
        (r.src, r.nbr, r.score)
        for r in spark.read.parquet(index_dir + "/edges").collect()
    }
    # id 1 re-arrives with a flipped embedding, id 3 is new
    b2 = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 1.0]), (3, [0.95, 0.05, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    assert process_knn_batch(b2, index_dir, dim=4, k=2) == 1
    stored = {
        r.id: list(r.v)
        for r in spark.read.parquet(index_dir + "/vectors").collect()
    }
    assert stored[1] == [1.0, 0.0, 0.0, 0.0], "first writer wins"
    assert set(stored) == {1, 2, 3}
    # edges for ids 1/2 were extended by id 3 using the STORED vector of
    # id 1 — every (1, 3) edge score must match cos(stored_1, stored_3)
    import math

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return round(
            num / (math.sqrt(sum(x * x for x in a))
                   * math.sqrt(sum(y * y for y in b))), 6)

    edges = {
        (r.src, r.nbr): r.score
        for r in spark.read.parquet(index_dir + "/edges").collect()
    }
    for (s, n), sc in edges.items():
        assert sc == cos(stored[s], stored[n]), (s, n)
    # an exact replay of b2 is a no-op
    assert process_knn_batch(b2, index_dir, dim=4, k=2) == 0
    edges_after = {
        (r.src, r.nbr, r.score)
        for r in spark.read.parquet(index_dir + "/edges").collect()
    }
    assert edges_before <= edges_after or len(edges_after) >= len(edges_before)


def test_ivf_probe_driver_tier(spark, tmp_path, monkeypatch, count_jobs):
    """A probe of an index within the driver tier's limit is served from
    the driver: row for row (and schema) what the Spark tier returns
    with the limit at 0, with no Spark job per request — and after the
    next micro-batch rewrites ``assignments``, the new rows are served,
    never the cached ones."""
    from pyspark.sql import functions as F

    from esco_neo4j_spark.operators import driver_tier
    from esco_neo4j_spark.streaming.vector import (
        ivf_index_probe,
        process_vector_batch,
    )

    emb = spark.read.parquet(
        os.path.join(SF_DIR, "embeddings.parquet")
    ).select("vec_id", "embedding")
    centroids = (
        emb.filter(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(8)
        .selectExpr("vec_id AS cid", "embedding AS cvec")
        .collect()
    )
    index_dir = str(tmp_path / "index")
    process_vector_batch(emb.filter("vec_id < 200"), index_dir, centroids)
    queries = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter("vec_id IN (3, 42, 250)").collect()
    ]

    def probe(q, k=10):
        return ivf_index_probe(spark, index_dir, centroids, q, k=k, nprobe=3)

    for q in queries:
        for k in (1, 10, 500):
            driver = probe(q, k)
            with monkeypatch.context() as mp:
                mp.setattr(driver_tier, "MAX_BYTES", 0)
                spark_tier = probe(q, k)
                want = spark_tier.collect()
            assert driver._jdf.queryExecution().optimizedPlan().nodeName() == (
                "LocalRelation"
            )
            assert driver.schema == spark_tier.schema
            assert driver.collect() == want
        rows, jobs = count_jobs(lambda: probe(q).collect())
        assert rows and jobs == 0

    before = {r["vec_id"] for r in probe(queries[2], k=500).collect()}
    process_vector_batch(emb.filter("vec_id >= 200"), index_dir, centroids)
    after = probe(queries[2], k=500).collect()
    with monkeypatch.context() as mp:
        mp.setattr(driver_tier, "MAX_BYTES", 0)
        assert after == probe(queries[2], k=500).collect()
    assert {r["vec_id"] for r in after} - before
