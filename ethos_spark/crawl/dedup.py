"""URL-seen dedup: Bloom prefilter + exact anti-join (SURVEY.md §2.3 J1/J2).

Reference semantics reproduced:
- J1 session dedup: first occurrence wins, listing-order preserving
  (UrlFilter.ts:23-37) → window ``row_number`` over ``url_hash`` ordered by
  the deterministic listing order, keep rn=1.
- J2 persistent dedup: batched ``IN``-list membership against SQLite
  (ContentMetadataStore.ts:189-210, 900/batch) → ``left_anti`` join against
  the ``seen`` table, with a broadcast Bloom prefilter (north_rule's
  bloom/cuckoo seen set). Bloom false positives are re-checked exactly by
  the anti-join; false negatives are impossible, so results are exact.

Scale notes: ``bloom_filter_agg`` is not SQL-registered in this Spark build,
so the filter is built distributed as per-partition numpy bit arrays OR-ed
on the driver (treeReduce), probed through an Arrow-batched pandas UDF over
two JVM-computed xxhash64 values (double hashing, Kirsch-Mitzenmacher). At
10^10 URLs a single bloom is ~12 GB at 10 bits/key; the production layout
shards the bloom by the same host-bucket key the tables are partitioned by,
so each executor holds only its buckets' shards — here one shard suffices
and the cap below guards memory.
"""

from __future__ import annotations

import math
from typing import Callable

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import BooleanType

MAX_BLOOM_BYTES = 256 * 1024 * 1024  # sandbox cap


def first_per_url(order_cols: list[str]) -> Callable[[DataFrame], DataFrame]:
    """J1: build the ``url_hash`` window once and return the dedup that
    keeps the first occurrence of each url_hash in deterministic listing
    order. Adds nothing; drops later duplicates."""
    w = Window.partitionBy("url_hash").orderBy(*[F.col(c) for c in order_cols])
    rn = F.row_number().over(w)
    first = F.col("_rn") == 1

    def dedup(items: DataFrame) -> DataFrame:
        return items.withColumn("_rn", rn).where(first).drop("_rn")

    return dedup


class BloomFilter:
    """Immutable double-hashing bloom over url_hash strings."""

    def __init__(self, bits: np.ndarray, n_bits: int, k: int):
        self.bits = bits
        self.n_bits = n_bits
        self.k = k

    @staticmethod
    def sizing(expected: int, fpp: float = 0.01) -> tuple[int, int]:
        if expected <= 0:
            return 64, 1
        n_bits = int(-expected * math.log(fpp) / (math.log(2) ** 2))
        n_bits = min(n_bits, MAX_BLOOM_BYTES * 8)
        n_bits = max(n_bits, 64)
        k = max(1, round(n_bits / expected * math.log(2)))
        return n_bits, min(k, 16)

    @classmethod
    def build(cls, df: DataFrame, col: str, expected: int, fpp: float = 0.01):
        """Distributed build: per-partition bit arrays OR-reduced."""
        n_bits, k = cls.sizing(expected, fpp)
        hashed = df.select(
            F.xxhash64(F.col(col)).alias("h1"),
            F.xxhash64(F.lit("ethos-salt"), F.col(col)).alias("h2"),
        )
        n_words = (n_bits + 63) // 64

        def partial(it):
            bits = np.zeros(n_words, dtype=np.uint64)
            any_rows = False
            for pdf in it:
                any_rows = True
                h1 = pdf["h1"].to_numpy(dtype=np.int64).astype(np.uint64)
                h2 = pdf["h2"].to_numpy(dtype=np.int64).astype(np.uint64)
                for i in range(k):
                    idx = (h1 + np.uint64(i) * h2) % np.uint64(n_bits)
                    np.bitwise_or.at(
                        bits, (idx >> np.uint64(6)).astype(np.int64),
                        np.uint64(1) << (idx & np.uint64(63)),
                    )
            if any_rows:
                yield pd.DataFrame({"bits": [bits.tobytes()]})

        parts = hashed.mapInPandas(partial, "bits binary").collect()
        bits = np.zeros(n_words, dtype=np.uint64)
        for row in parts:
            bits |= np.frombuffer(row.bits, dtype=np.uint64)
        return cls(bits, n_bits, k)

    def might_contain_udf(self, spark):
        bits_b = spark.sparkContext.broadcast(self.bits)
        n_bits, k = self.n_bits, self.k

        @F.pandas_udf(BooleanType())
        def might_contain(h1: pd.Series, h2: pd.Series) -> pd.Series:
            bits = bits_b.value
            a = h1.to_numpy(dtype=np.int64).astype(np.uint64)
            b = h2.to_numpy(dtype=np.int64).astype(np.uint64)
            out = np.ones(len(a), dtype=bool)
            for i in range(k):
                idx = (a + np.uint64(i) * b) % np.uint64(n_bits)
                word = bits[(idx >> np.uint64(6)).astype(np.int64)]
                out &= (word >> (idx & np.uint64(63))) & np.uint64(1) != 0
            return pd.Series(out)

        return might_contain


def anti_join_seen(
    candidates: DataFrame, seen: DataFrame, bloom: BloomFilter | None = None
) -> DataFrame:
    """J2: the candidates whose ``url_hash`` is not in ``seen``. Catalyst
    broadcasts the ``seen`` side when small and sort-merges on
    ``url_hash`` otherwise. The Bloom prefilter splits candidates so only
    possible members pay the join.

    No ``distinct()`` on the seen side: anti joins are insensitive to
    right-side duplicates, and at 10^10 stored URLs a per-round
    deduplicating aggregation of the whole seen set is pure waste."""
    seen_keys = seen.select("url_hash")
    if bloom is None:
        return candidates.join(seen_keys, "url_hash", "left_anti")
    probe = bloom.might_contain_udf(candidates.sparkSession)
    with_flags = candidates.withColumn(
        "_maybe",
        probe(
            F.xxhash64(F.col("url_hash")),
            F.xxhash64(F.lit("ethos-salt"), F.col("url_hash")),
        ),
    )
    definitely_new = with_flags.where(~F.col("_maybe")).drop("_maybe")
    maybe = with_flags.where(F.col("_maybe")).drop("_maybe")
    return definitely_new.unionByName(maybe.join(seen_keys, "url_hash", "left_anti"))
