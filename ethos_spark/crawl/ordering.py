"""Deterministic, scale-safe global sequence assignment (W1).

The reference assigns ``processedOrder`` as a monotonically increasing
counter at storage time, in listing order (ProcessingPipeline.ts:87-94,
MetadataTracker.ts:333-347). Under parallelism the order must be a function
of the DATA, never of task completion (SURVEY.md §7.3): we define the total
order by explicit sort keys and assign 1..N with a two-phase
partition-offset scheme — no single-partition window, no driver collect of
rows (only the tiny per-partition count vector), so it survives 10^10 rows.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType


def assign_sequential_order(
    df: DataFrame,
    order_cols: list[str],
    offset: int = 0,
    col_name: str = "processed_order",
    n_parts: int | None = None,
    persist: Callable[[DataFrame], DataFrame] = DataFrame.cache,
) -> tuple[DataFrame, int]:
    """Add ``col_name`` = offset + rank (1-based) in the total order given
    by ``order_cols``. Two jobs: one to count rows per range-partition, one
    to stamp local indices shifted by the cumulative offsets.

    Returns the stamped DataFrame and the exact input row count — free
    (the per-partition count vector is collected anyway); the crawl loop
    uses it to detect fetch misses without an extra count job.
    ``persist`` caches the range-partitioned rows between the two passes;
    pass the cache of the relation's owner (the crawl round's
    ``RoundScope.cache``) so it is released with that owner."""
    spark = df.sparkSession
    n = n_parts or spark.sparkContext.defaultParallelism
    # pin the range boundaries between the two passes
    parted = persist(
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
    )
    counts = (
        parted.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .count()
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = offset
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["count"]
    offs_b = spark.sparkContext.broadcast(offsets)

    out_schema = StructType(df.schema.fields + [StructField(col_name, LongType())])

    def stamp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = offs_b.value.get(pid, 0)
        emitted = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf[col_name] = range(base + emitted + 1, base + emitted + 1 + len(pdf))
            emitted += len(pdf)
            yield pdf

    return parted.mapInPandas(stamp, out_schema), acc - offset
