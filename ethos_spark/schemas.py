"""Engine table schemas (SURVEY.md §1.3, FIXTURES.md §§1-2).

One place for every StructType so tests, synth, and the crawl loop agree.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# canonical input (BASELINE.json input_hint, verbatim)
PAGES_INPUT = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

FRONTIER = StructType(
    [
        StructField("url", StringType()),
        StructField("url_canon", StringType()),
        StructField("url_hash", StringType()),  # sha1 hex, 40 chars
        StructField("host", StringType()),
        StructField("host_hash", LongType()),
        StructField("depth", IntegerType()),
        StructField("priority", DoubleType()),
        StructField("discovered_ts", TimestampType()),
        StructField("state", StringType()),  # pending|fetched|excluded|error
        StructField("attempts", IntegerType()),
        StructField("source_id", StringType()),
        StructField("kind", StringType()),  # listing|content
        StructField("listing_order", LongType()),  # position on its listing page
        # listing-extracted fields carried by content rows (null for listing rows)
        StructField("title", StringType()),
        StructField("author", StringType()),
        StructField("published_date", StringType()),  # ISO, parsed at listing time
    ]
)

SEEN = StructType([StructField("url_hash", StringType())])

# fetched + extracted output (crawled_content ∪ content JSON files fused;
# reference DDL: src/storage/MetadataDatabase.ts:34-44)
PAGES_OUT = StructType(
    [
        StructField("id", LongType()),
        StructField("hash", StringType()),  # sha1(url) — ContentStore.ts:106
        StructField("source", StringType()),
        StructField("url", StringType()),
        StructField("url_hash", StringType()),
        StructField("host", StringType()),
        StructField("host_hash", LongType()),
        StructField("title", StringType()),
        StructField("author", StringType()),
        StructField("published_date", StringType()),  # ISO-8601 (reference TEXT)
        StructField("content", StringType()),  # markdown
        StructField("crawled_at", TimestampType()),
        StructField("created_at", TimestampType()),
        StructField("had_extraction_error", BooleanType()),
        # lineage extras (written in the same single pass; downstream
        # session_content/seen/metrics/field-stats derive from column-pruned
        # reads of this table instead of re-caching the heavy content)
        StructField("processed_order", LongType()),
        StructField("partition_id", IntegerType()),
        StructField("fetch_ms", DoubleType()),
        StructField("parse_ms", DoubleType()),
        # per-item failed content fields (reference metadata.contentFieldsFailed,
        # ContentDataMapper.ts:58-75)
        StructField("failed_fields", ArrayType(StringType())),
        # per-item extraction error MESSAGES (reference updateItemMetadata
        # errors param; the session's contentErrors list derives from these
        # at finalize — core/types.ts:166, ContentPageExtractor.ts:176-187)
        StructField("extraction_errors", ArrayType(StringType())),
    ]
)

SESSIONS = StructType(
    [
        StructField("id", StringType()),  # crawl-session-<epoch>
        StructField("source_id", StringType()),
        StructField("source_name", StringType()),
        StructField("start_time", TimestampType()),
        StructField("end_time", TimestampType()),
        StructField("metadata", StringType()),  # JSON blob (CrawlMetadata)
        StructField("stopped_reason", StringType()),
    ]
)

# sessions are metadata-sized → stored as manifest row tables (zero Spark
# jobs per round); register the schema so schema-less Warehouse.read works
from ethos_spark.catalog import Warehouse as _Warehouse  # noqa: E402

_Warehouse.ROW_TABLE_SCHEMAS["sessions"] = SESSIONS

SESSION_CONTENT = StructType(
    [
        StructField("session_id", StringType()),
        StructField("content_id", LongType()),
        StructField("processed_order", LongType()),
        StructField("had_content_extraction_error", BooleanType()),
    ]
)

METRICS = StructType(
    [
        StructField("session_id", StringType()),
        StructField("round", IntegerType()),
        StructField("partition_id", IntegerType()),
        StructField("items_found", LongType()),
        StructField("items_processed", LongType()),
        StructField("duplicates_skipped", LongType()),
        StructField("urls_excluded", LongType()),
        StructField("total_filtered", LongType()),
        StructField("contents_crawled", LongType()),
        StructField("fetch_ms", DoubleType()),
        StructField("parse_ms", DoubleType()),
    ]
)

# per-field extraction stats (CrawlMetadata.fieldStats, types.ts:124-130)
FIELD_STATS = StructType(
    [
        StructField("session_id", StringType()),
        StructField("round", IntegerType()),
        StructField("stage", StringType()),  # listing|content
        StructField("field_name", StringType()),
        StructField("success_count", LongType()),
        StructField("total_attempts", LongType()),
        StructField("is_optional", BooleanType()),
        StructField("missing_items", ArrayType(LongType())),
    ]
)

# per-host cumulative stored-item counts (the reference's per-source
# itemsProcessed, ArticleListingCrawler.ts:50-55) — drives the listing
# field-stats missing-item offsets; replaced each round, host-keyed and
# fully distributed (never a driver map)
HOST_OFFSETS = StructType(
    [
        StructField("host", StringType()),
        StructField("items_cum", LongType()),
    ]
)

# dual-tier table: manifest row table for reference-shaped sessions (one
# chain = one configured source → metadata-sized; zero Spark jobs per
# round), parquet replace tier above OFFSETS_ROW_TIER_MAX_CHAINS chains
_Warehouse.ROW_TABLE_SCHEMAS["host_offsets"] = HOST_OFFSETS

ROBOTS = StructType(
    [
        StructField("host", StringType()),
        StructField("disallow", ArrayType(StringType())),
    ]
)

# host-level link graph accumulated during a crawl (listing host → item
# host, distinct per round) — input to the PageRank frontier-priority
# option. Host-level by design: bounded by hosts², metadata-sized
# relative to the url frontier at any corpus scale.
LINK_EDGES = StructType(
    [
        StructField("src_host", StringType()),
        StructField("dst_host", StringType()),
    ]
)
