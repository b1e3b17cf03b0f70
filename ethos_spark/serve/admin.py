"""Admin operation of the reference `ethos clean` path: S7 content
deletion by hash list (ContentStore.ts:212-235, ENOENT tolerated →
deleting an absent hash is a no-op, reported in the count)."""

from __future__ import annotations

import pyspark.sql.functions as F

from ethos_spark import schemas
from ethos_spark.catalog import Warehouse


def delete_content_by_hash(wh: Warehouse, hashes: list[str]) -> dict:
    """DELETE FROM pages WHERE hash IN (...) — copy-on-write rewrite of the
    pages table (Iceberg would do a positional-delete MERGE). Returns
    {deleted, not_found} mirroring ContentStore's {deleted, errors=[]}."""
    pages = wh.read("pages", schemas.PAGES_OUT)
    spark = pages.sparkSession
    hset = spark.createDataFrame([(h,) for h in hashes], "hash string")
    found = pages.join(F.broadcast(hset), "hash", "left_semi").count()
    remaining = pages.join(F.broadcast(hset), "hash", "left_anti")
    # the persistent URL-seen set is a projection of pages (runner design),
    # so rewriting pages updates seen membership atomically — matching the
    # reference's clean path, which deletes both file and metadata row
    with wh.transaction():
        wh.replace("pages", remaining)
        wh.commit("delete-content")
    return {"deleted": found, "not_found": len(hashes) - found}

