"""Link-graph centrality for crawl prioritization (PageRank, Brin & Page
1998 — public paper). A web-scale frontier schedules authoritative hosts
first; this computes the standard damped PageRank as a driver-side loop
of join+aggregate rounds — the same iterate-until-fixed-point shape the
crawl loop itself uses.

**Fixed-point integer arithmetic for exact cross-engine parity**: ranks
are int64 micro-units (``scale``), every update is floor division —
float PageRank is summation-order-dependent and can never hash-match a
second engine, integer PageRank matches bit-for-bit. Dangling-node mass
decays (documented standard simplification; re-injection is a one-line
extra aggregate if needed).

Scale shape per iteration: one shuffle keyed by src (contribution join)
+ one keyed by dst (sum) — at 10^10 edges both are the partitioning a
pregel-style engine would keep resident; iterations are bounded (rank
ordering stabilizes long before values converge).
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

DAMP_NUM, DAMP_DEN = 85, 100  # d = 0.85 as an exact rational


def pagerank_fixed(
    edges: DataFrame,
    iters: int = 5,
    scale: int = 1_000_000_000_000,
    src_col: str = "src",
    dst_col: str = "dst",
    persist: Callable[[DataFrame], DataFrame] = DataFrame.cache,
) -> DataFrame:
    """PageRank over (src, dst) edges, ``iters`` exact integer rounds.

    r0(v) = scale // N;
    r'(v) = (15 * scale) // (100 * N)
            + Σ_{u→v} (85 * r(u)) // (100 * outdeg(u))

    Returns (node, rank) — int64 micro-units, deterministic and
    engine-independent.

    ``persist`` caches the node set; a caller that owns the lifetime of
    its cached relations (the crawl round's ``RoundScope.cache``) passes
    its own, so the cache is released with it."""
    e = edges.select(src_col, dst_col).where(
        F.col(src_col) != F.col(dst_col)
    ).distinct()
    nodes = persist(
        e.select(F.col(src_col).alias("node"))
        .unionByName(e.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # empty edge set (or all self-loops): no graph → no ranks (keeps
        # the caller's node column type; avoids scale // 0 below)
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    deg = e.groupBy(src_col).agg(F.count("*").alias("_deg"))
    ranks = nodes.withColumn("rank", F.lit(scale // n_nodes).cast("long"))
    base = (15 * scale) // (100 * n_nodes)
    for _ in range(iters):
        contribs = (
            ranks.join(e, ranks.node == F.col(src_col))
            .join(deg, src_col)
            .select(
                F.col(dst_col).alias("node"),
                # SQL DIV = pure int64 division (no double round-trip —
                # float quotients can flip floor() near integers)
                F.expr(
                    f"(rank * {DAMP_NUM}) DIV ({DAMP_DEN} * _deg)"
                ).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (F.lit(base) + F.coalesce(F.col("_in"), F.lit(0)))
            .cast("long")
            .alias("rank"),
        )
    return ranks.orderBy(F.desc("rank"), "node")
