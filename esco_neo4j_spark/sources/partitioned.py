"""Date-partitioned layout — the scan-pruning half of the storage story
(bucketing in sources/bucketed.py is the join half).

At 100 TB an events table is append-only and time-filtered in almost
every query; laying it out as ``event_date=YYYY-MM-DD/`` directories
turns those filters into PARTITION PRUNING — directories that can't match
are never listed, let alone read. tests/test_plan_quality.py pins the
plan property (PartitionFilters on the scan, partition count == matched
days).

Small-file compaction, the file-hygiene side of the same coin, lives in
sources/compaction.py (``compact_partitioned`` sweeps the ``key=value``
directories of a layout like this one).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esco_neo4j_spark.catalog import load_table
from esco_neo4j_spark.sources.bucketed import BUCKETED_ROOT, _digest


def ensure_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Write the events table re-laid-out as event_date partitions (once
    per sf_dir per machine; the _SUCCESS marker makes reuse safe across
    sessions — partition metadata lives in the directory names, unlike
    bucket metadata, so a fresh session can trust the files)."""
    out = os.path.join(BUCKETED_ROOT, _digest(sf_dir, 0), "events_by_date")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            load_table(spark, sf_dir, "events")
            .withColumn("event_date", F.to_date("ts"))
            .repartition("event_date")  # one writer per partition -> one file
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(out)
        )
    return out


def events_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(ensure_partitioned_events(spark, sf_dir))
