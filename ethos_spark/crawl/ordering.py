"""Deterministic, scale-safe global sequence assignment (W1).

The reference assigns ``processedOrder`` as a monotonically increasing
counter at storage time, in listing order (ProcessingPipeline.ts:87-94,
MetadataTracker.ts:333-347). Under parallelism the order must be a function
of the DATA, never of task completion (SURVEY.md §7.3): we define the total
order by explicit sort keys and assign 1..N with a two-phase
partition-offset scheme — no single-partition window, no driver collect of
rows (only the tiny per-partition count vector), so it survives 10^10 rows.
The stamp itself is a JVM column expression over the cached, sorted
partitions: no Python worker, no broadcast.
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def assign_sequential_order(
    df: DataFrame,
    order_cols: list[str],
    offset: int = 0,
    col_name: str = "processed_order",
    n_parts: int | None = None,
    persist: Callable[[DataFrame], DataFrame] = DataFrame.cache,
) -> tuple[DataFrame, int]:
    """Add ``col_name`` = offset + rank (1-based) in the total order given
    by ``order_cols``. Two passes: one job counts rows per range-partition,
    then a projection stamps each row with its partition's cumulative
    offset plus its index within the partition.

    The index is ``monotonically_increasing_id() - (partition << 33)``:
    Spark numbers the rows of each partition 0, 1, … in iterator order,
    and the cached partitions iterate in their sorted order. Like any
    partition-offset scheme, this relies on the stamping pass reading the
    same partitions, with the same indices, that the count pass counted —
    which the cache pins.

    Returns the stamped DataFrame and the exact input row count — free
    (the per-partition count vector is collected anyway); the crawl loop
    uses it to detect fetch misses without an extra count job.
    ``persist`` caches the range-partitioned rows between the two passes;
    pass the cache of the relation's owner (the crawl round's
    ``RoundScope.cache``) so it is released with that owner."""
    spark = df.sparkSession
    n = n_parts or spark.sparkContext.defaultParallelism
    # pin the range boundaries between the two passes (one key Column per
    # order column serves both: each F.col is driver-thread Py4J work)
    keys = [F.col(c) for c in order_cols]
    parted = persist(df.repartitionByRange(n, *keys).sortWithinPartitions(*keys))
    counts = dict(
        parted.groupBy(F.spark_partition_id().alias("_pid")).count().collect()
    )
    # offsets[i] = offset + rows in partitions before i (empty partitions
    # included, so partition i reads its offset at array index i + 1)
    offsets, acc = [], offset
    for i in range(max(counts, default=0) + 1):
        offsets.append(F.lit(acc).cast("long"))
        acc += counts.get(i, 0)
    pid = F.spark_partition_id()
    base = F.element_at(F.array(*offsets), pid + 1)
    local = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    return parted.withColumn(col_name, base + local + 1), acc - offset
