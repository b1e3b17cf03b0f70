"""Per-host politeness scheduling, robots gating, skew salting.

north_rule requirements with reference analogues:
- per-host priority queue with budget (reference: fixed per-source delay +
  8-tab concurrency, PaginationHandler.ts:58-63 / constants.ts:16-21) →
  window ``row_number() <= budget`` per host per round (SURVEY.md O7/T4);
  overflow stays pending for the next round.
- robots.txt gate (no reference analogue; politeness delay is closest) →
  broadcast join against a tiny robots dim + ``exists()`` prefix match,
  pure Column expressions, JVM-side.
- hot-host skew defusal → explicit salted repartition before the fetch/
  extract UDF stage (AQE fixes join skew but NOT UDF-stage skew,
  SURVEY.md §4.2.2).
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def host_topk(
    budget_per_host: int,
    order_cols: list[str] = ("priority", "discovered_ts", "url_hash"),
) -> Callable[[DataFrame], tuple[DataFrame, DataFrame]]:
    """Build the per-host window and its two budget filters once and return
    the split that applies them: ``split(pending)`` is (scheduled,
    overflow) — at most ``budget_per_host`` rows per host this round, in
    deterministic priority order. A caller that splits every round builds
    the Column expressions once (each ``F.*`` call costs JVM round trips)."""
    w = Window.partitionBy("host").orderBy(*[F.col(c) for c in order_cols])
    rank = F.row_number().over(w)
    in_budget = F.col("_rank") <= budget_per_host
    over_budget = F.col("_rank") > budget_per_host

    def split(pending: DataFrame) -> tuple[DataFrame, DataFrame]:
        ranked = pending.withColumn("_rank", rank)
        scheduled = ranked.where(in_budget).drop("_rank")
        overflow = ranked.where(over_budget).drop("_rank")
        return scheduled, overflow

    return split


def robots_gate(
    candidates: DataFrame, robots: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """Split candidates into (allowed, blocked) by robots disallow prefixes.

    ``robots`` schema: (host string, disallow array<string>) — a per-host
    parsed robots.txt dim, broadcast (it is tiny relative to the frontier).
    Path prefix semantics, evaluated entirely JVM-side via ``exists``.
    """
    if robots is None:
        return candidates, candidates.limit(0)
    path = F.regexp_replace(F.col("url"), r"^https?://[^/]+", "")
    joined = candidates.join(F.broadcast(robots), "host", "left").withColumn(
        "_blocked",
        F.when(F.col("disallow").isNull(), F.lit(False)).otherwise(
            F.exists("disallow", lambda p: path.startswith(p))
        ),
    )
    allowed = joined.where(~F.col("_blocked")).drop("_blocked", "disallow")
    blocked = joined.where(F.col("_blocked")).drop("_blocked", "disallow")
    return allowed, blocked


def salt_hot_hosts(
    df: DataFrame, n_partitions: int, salt_factor: int = 8
) -> DataFrame:
    """Spread each host's rows over ``salt_factor`` synthetic keys before a
    UDF-heavy stage so one hot domain cannot serialize a whole executor.
    Deterministic salt (url_hash-derived), not random — resumability."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64("url_hash"), F.lit(salt_factor))
    )
    return salted.repartition(n_partitions, F.col("host_hash"), F.col("_salt")).drop(
        "_salt"
    )
