"""Structured Streaming pipelines over the events table.

The reference has NO streaming surface (SURVEY.md §2.J); these extensions
give the engine the streaming half of the north-star pipeline. Each
pipeline's batch twin lives in plans/event_queries.py and is DuckDB-oracle
checked; tests/test_streaming.py asserts stream == batch on the same
input, closing the loop.

Local testing drives a parquet file source through a memory sink with
processAllAvailable(); on a cluster the same code points at Kafka/files
with a real trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of event parquet (maxFilesPerTrigger bounds each
    micro-batch; schema pinned — streaming sources must not infer)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def tumbling_counts(events: DataFrame, window: str = "6 hours",
                    watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of plans/event_queries.events_tumbling_window:
    watermarked tumbling-window counts per event type. With watermarking,
    late rows beyond 1h are dropped and closed windows emit finalized."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon —
    dropDuplicatesWithinWatermark bounds state (the streaming face of the
    dedup operator family)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def enrich_segments(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static enrichment join + windowed rollup: each event joined
    to its customer's market segment (static dimension snapshot), then
    tumbling-window revenue per (segment, event_type). Batch twin:
    plans/event_queries.events_enriched_rollup (DuckDB-oracle checked);
    tests/test_streaming.py asserts stream == batch.

    Stream-static joins keep NO join state — the static side is re-read
    (and here explicitly broadcast) per micro-batch, so this scales with
    the dimension size only, never with stream history. That makes it THE
    pattern for dimension enrichment at 100 TB: the fact stream never
    shuffles; only the watermarked window aggregation holds state.
    """
    dim = F.broadcast(
        customers.select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    return (
        events.withWatermark("ts", "1 hour")
        .join(dim, "user_id")
        .groupBy(F.window("ts", "6 hours").alias("w"), "c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.col("c_mktsegment").alias("segment"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_rollup(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming twin of plans/event_queries.events_session_window_native:
    per-session aggregation via the NATIVE session_window — the merging-
    interval state Spark manages for us (sessions extend while events
    arrive within ``gap``, close when the watermark passes last+gap, and
    emit finalized in append mode). The applyInPandasWithState
    sessionizer coexists for CUSTOM per-session logic; this is the
    declarative scale path. Values sum as integer cents, matching the
    batch twin's exactness discipline."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss")
            .alias("session_end"),
            "n_events",
            "sum_cents",
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete") -> None:
    """Drive a bounded file-source stream to completion into a memory sink
    (deterministic in tests: processAllAvailable blocks until drained).
    Aggregations use 'complete'; pass 'append' for row streams."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def interval_join(
    events: DataFrame,
    bound_s: int = 600,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream INTERVAL join (the attribution join every event
    pipeline runs): each purchase paired with every click by the same user
    in the ``bound_s`` seconds up to the purchase. Batch twin:
    plans/event_queries.events_interval_join (DuckDB-oracle checked);
    tests/test_streaming.py asserts stream == batch.

    Both sides carry a watermark and the join condition bounds event time
    in both directions, so Spark can expire join state: a buffered click
    is dropped once the purchase-side watermark passes c_ts + bound_s.
    Without that pair (watermark + time-range condition) a stream-stream
    join's state grows without bound — THE scale failure mode at 100 TB.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", watermark)
    )
    cond = F.expr(
        f"p_user = c_user AND c_ts >= p_ts - interval {int(bound_s)} seconds"
        " AND c_ts <= p_ts"
    )
    return purchases.join(clicks, cond, "inner").select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )


def interval_join_left(
    events: DataFrame,
    bound_s: int = 600,
    watermark: str = "1 hour",
) -> DataFrame:
    """LEFT-OUTER stream-stream interval join: every purchase, with its
    attributed clicks when they exist and an explicit null row when none
    do — the attribution report that must also show the UNATTRIBUTED
    conversions. Batch twin: plans/event_queries.events_attribution_left
    (DuckDB-oracle checked); tests/test_streaming.py asserts stream ==
    batch.

    Outer semantics need the same state-expiry pair as the inner join
    (two-sided watermark + time-bounded condition), and add a subtlety
    the inner join does not have: a null row can only be EMITTED once the
    purchase-side watermark has passed the end of that purchase's match
    window (before that, a matching click could still arrive). Purchases
    near the head of the stream therefore surface only after the
    watermark advances — tests append a far-future sentinel event to
    flush them, and a production pipeline sees the same rows one
    watermark-delay late. State stays bounded exactly as in the inner
    case.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", watermark)
    )
    cond = F.expr(
        f"p_user = c_user AND c_ts >= p_ts - interval {int(bound_s)} seconds"
        " AND c_ts <= p_ts"
    )
    return purchases.join(clicks, cond, "leftOuter").select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )


def upsert_sink(stream_df: DataFrame, path: str, keys: list[str], checkpoint: str):
    """foreachBatch sink that MERGEs each micro-batch into a parquet table
    (sources/merge.py upsert) — the streaming face of the incremental
    upsert path. foreachBatch only guarantees at-least-once delivery; the
    keyed merge makes replays idempotent, so the sink is effectively
    exactly-once — the standard recipe when the target isn't a
    transactional sink. Returns the started StreamingQuery (caller
    processAllAvailable()+stop()s it, or leaves it running with a real
    trigger)."""
    from esco_neo4j_spark.sources.merge import upsert_parquet

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        upsert_parquet(batch_df.sparkSession, path, batch_df, keys)

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def cms_sketch_sink(
    stream_df: DataFrame,
    key_col: str,
    path: str,
    checkpoint: str,
    width: int = 1024,
):
    """Incremental count-min maintenance: each micro-batch's CMS table
    (operators/sketch.cms_build — bounded at depth*width rows) is written
    to its OWN batch_id partition with dynamic partition overwrite, so a
    replayed batch overwrites itself instead of double-counting —
    effectively-once without a transactional sink, same recipe as
    upsert_sink. Readers merge all batch partitions with read_cms_sketch
    (counter sum = cms_merge), giving a continuously-maintained sketch of
    the full stream history at O(batches * depth * width) storage, ready
    for heavy-hitter queries without rescanning any raw data — the
    streaming face of the sketch family."""
    from esco_neo4j_spark.operators.sketch import cms_build

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        sk = cms_build(batch_df, key_col, width=width).withColumn(
            "batch_id", F.lit(int(batch_id))
        )
        (
            sk.coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def read_cms_sketch(spark: SparkSession, path: str) -> DataFrame:
    """Merge every batch partition of a cms_sketch_sink output into one
    sketch table: counter-exact, because CMS(A)+CMS(B) == CMS(A union B)."""
    return (
        spark.read.parquet(path)
        .groupBy("sketch_row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


SESSION_OUT_SCHEMA = "user_id bigint, n_sessions bigint, n_events bigint"
SESSION_STATE_SCHEMA = "last_ts double, n_sessions bigint, n_events bigint"


def sessionize_stateful(events: DataFrame, gap_s: float = 3600.0) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    applyInPandasWithState (the north-star 'custom stateful operator'
    slot — J extension; batch twin: plans/event_queries.events_sessionization).

    Per-user state = (last event time, session count, event count); a gap
    > gap_s opens a new session. Events are sorted inside each group/batch,
    so results are exact when micro-batches preserve time order (the file
    source in tests delivers one ordered batch; production would pair this
    with a watermark-driven ordering stage)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        if state.exists:
            last_ts, n_sessions, n_events = state.get
        else:
            last_ts, n_sessions, n_events = None, 0, 0
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for ts in rows["ts"]:
            t = ts.timestamp()
            if last_ts is None or t - last_ts > gap_s:
                n_sessions += 1
            last_ts = t
            n_events += 1
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


TOTALS_OUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"


def running_totals_tws(events: DataFrame) -> DataFrame:
    """Custom stateful operator on the transformWithStateInPandas API
    (Spark 4's arbitrary-state successor to applyInPandasWithState,
    RocksDB-backed): per-user running (event count, value sum), emitted
    once per user per micro-batch.

    State is a single ValueState tuple — bounded per key, mergeable
    across batches by construction; at 100 TB/day the state store scales
    with DISTINCT keys, not events, and RocksDB spills it off-heap.
    Batch twin: groupBy(user_id).agg(count, sum) — asserted equal in
    tests/test_streaming.py.

    DEPENDENCY: the transformWithState state-server protocol requires
    ``protobuf``, which this container does not ship — the parity test
    skips cleanly when the import is missing (the applyInPandasWithState
    sessionizer above is the fully-tested custom-stateful path here)."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("n_events", LongType(), True),
            StructField("total_value", DoubleType(), True),
        ]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, total = 0, 0.0
            if self._totals.exists():
                prev = self._totals.get()
                n, total = int(prev[0]), float(prev[1])
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        def close(self) -> None:
            pass

    # transformWithState requires the RocksDB state store (the default
    # HDFS-backed provider does not implement arbitrary-state v2)
    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        TOTALS_OUT_SCHEMA,
        "Update",
        "None",
    )


def clean_sessions_pipeline(
    events: DataFrame,
    sink_path: str,
    checkpoint: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
):
    """Streaming capstone: ONE streaming query composing the ingest-side
    operators end to end — watermarked exact dedup (event_id) feeding the
    native session_window rollup, MERGE-upserted into a keyed parquet
    table. Every stage bounds its state (dedup horizon = watermark,
    session state closes at watermark + gap, sink state is the
    checkpoint), and the keyed merge makes whole-pipeline REPLAY
    idempotent — the at-least-once file source composes into an
    effectively-once table. Batch twin for the hard gate:
    events_session_window_native over dedup_exact's survivors
    (stream == batch pinned in tests/test_streaming.py)."""
    deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sessions = (
        deduped.groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss")
            .alias("session_end"),
            "n_events",
            "sum_cents",
        )
    )
    return upsert_sink(
        sessions, sink_path, keys=["user_id", "session_start"], checkpoint=checkpoint
    )
