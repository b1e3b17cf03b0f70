"""Serve-layer queries (reference §3.2 /api/publications, §3.3 sessions).

Parity targets:
- dynamic filters: source =, crawled_at >=/<=, published_date >=/<=
  (ContentMetadataStore.ts:221-308) — pushed down to the parquet scan
- whitelist-validated ORDER BY, always DESC (ContentMetadataStore.ts:284-292)
- LIMIT/OFFSET with limit clamped to [1,100], offset=(page-1)*limit,
  totalPages=ceil(total/limit) (server/utils/pagination.ts:11-88)
- group-by-source counts (ContentMetadataStore.ts:328-337)
- session replay: session_content ⨝ pages ORDER BY processed_order
  (SessionMetadataStore.ts:128-137) + per-session error rollups
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

ORDERABLE = {"crawled_at", "published_date"}  # whitelist, ts:284-292


@dataclass(frozen=True)
class PublicationsQuery:
    source: str | None = None
    start_crawled: str | None = None
    end_crawled: str | None = None
    start_published: str | None = None
    end_published: str | None = None
    order_by: str = "published_date"
    page: int = 1
    limit: int = 20


def clamp_limit(limit: int) -> int:
    """pagination.ts:86-88 — clamp to [1,100]."""
    return max(1, min(100, limit))


def _filtered(pages: DataFrame, q: PublicationsQuery) -> DataFrame:
    df = pages
    if q.source is not None:
        df = df.where(F.col("source") == q.source)
    if q.start_crawled is not None:
        df = df.where(F.col("crawled_at") >= F.lit(q.start_crawled))
    if q.end_crawled is not None:
        df = df.where(F.col("crawled_at") <= F.lit(q.end_crawled))
    if q.start_published is not None:
        df = df.where(F.col("published_date") >= F.lit(q.start_published))
    if q.end_published is not None:
        df = df.where(F.col("published_date") <= F.lit(q.end_published))
    return df


def publications(pages: DataFrame, q: PublicationsQuery) -> tuple[DataFrame, dict]:
    """The /api/publications query: (rows page, meta)."""
    if q.order_by not in ORDERABLE:
        raise ValueError(f"orderBy must be one of {sorted(ORDERABLE)}")
    df = _filtered(pages, q)
    total = df.count()  # countQuery, ts:221-253
    limit = clamp_limit(q.limit)
    offset = (max(1, q.page) - 1) * limit
    rows = (
        df.orderBy(
            F.desc(q.order_by), F.desc("id")  # deterministic tiebreak
        )
        .offset(offset)
        .limit(limit)
    )
    meta = {
        "total": total,
        "page": max(1, q.page),
        "limit": limit,
        "totalPages": math.ceil(total / limit) if total else 0,
    }
    return rows, meta


def counts_by_source(pages: DataFrame) -> DataFrame:
    """ContentMetadataStore.ts:328-337."""
    return (
        pages.groupBy("source")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), "source")
    )


def count_by_source(pages: DataFrame, source: str) -> int:
    return pages.where(F.col("source") == source).count()


def session_contents(
    session_content: DataFrame, pages: DataFrame, session_id: str
) -> DataFrame:
    """J3: junction ⨝ pages ORDER BY processed_order ASC."""
    pages_payload = pages.drop("processed_order")  # lineage copy; junction wins
    return (
        session_content.where(F.col("session_id") == session_id)
        .join(pages_payload, session_content.content_id == pages_payload.id)
        .orderBy("processed_order")
    )


def session_error_counts(session_content: DataFrame) -> DataFrame:
    """A9: per-session count of contents with extraction errors."""
    return session_content.groupBy("session_id").agg(
        F.count("*").alias("contents"),
        F.sum(
            F.col("had_content_extraction_error").cast("long")
        ).alias("items_with_errors"),
    )


def sessions_list(sessions: DataFrame) -> DataFrame:
    """O4: ORDER BY start_time DESC."""
    return sessions.orderBy(F.desc("start_time"))


def sessions_page(
    sessions: DataFrame, page: int = 1, limit: int = 50
) -> tuple[DataFrame, dict]:
    """Paged sessions list (50/page, the reference viewer's page size,
    ui/viewer.ts:81-120) — never materializes the full table on the
    driver. Same (rows, meta) shape as ``publications``."""
    total = sessions.count()
    limit = clamp_limit(limit)
    page = max(1, page)
    rows = (
        sessions.orderBy(F.desc("start_time"), F.desc("id"))
        .offset((page - 1) * limit)
        .limit(limit)
    )
    meta = {
        "total": total,
        "page": page,
        "limit": limit,
        "totalPages": math.ceil(total / limit) if total else 0,
    }
    return rows, meta

