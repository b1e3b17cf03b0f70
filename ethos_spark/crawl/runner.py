"""The crawl engine: a driver loop of frontier ROUNDS, each round one
declarative DataFrame DAG (SURVEY.md §3.1 "Spark design"):

    frontier scan → politeness top-k per host (window) → anti-join seen
    → fetch (host-partitioned, hot hosts salted) → extract (Arrow UDF)
    → validate/quarantine → append pages/lineage/metrics, replace frontier
    → snapshot commit

One round is the distributed analogue of one listing-page iteration of the
reference loop (ArticleListingCrawler.ts:247-340): every active host
advances one listing page per round, and that page's content items are
fetched within the same round — which is exactly what makes the per-host
``processed_order`` sequence reproduce the reference's (W1).

Counter semantics are reproduced from processPageItems
(ArticleListingCrawler.ts:41-104) and MetadataTracker; stop conditions are
the reference enum (MetadataTracker.ts:32-37) evaluated per host.
"""

from __future__ import annotations

import json
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from ethos_spark import schemas
from ethos_spark.catalog import Warehouse
from ethos_spark.crawl.dedup import BloomFilter, anti_join_seen, dedup_within_batch
from ethos_spark.crawl.ordering import assign_sequential_order
from ethos_spark.crawl.politeness import politeness_topk, robots_gate, salt_hot_hosts
from ethos_spark.extraction.content import extract_content_stage
from ethos_spark.extraction.listing import extract_listing_stage
from ethos_spark.ops.graph import pagerank_fixed
from ethos_spark.sources.config import SourceConfig

# cap per error-message category per session: the lists live in the session
# row (manifest metadata) and must stay metadata-sized at any corpus scale
MAX_ERROR_MESSAGES = 100
# chains at/below this count keep host_offsets in the manifest row tier
# (driver map, zero Spark jobs per round); above it, the parquet replace
# tier (fully distributed) — see seed() for the rationale
OFFSETS_ROW_TIER_MAX_CHAINS = 10_000
# safety backstop on rounds per session
MAX_ROUNDS = 10_000
# synthetic keys per host when a host-partitioned fetch is salted
SALT_FACTOR = 8
# persistent-dedup bloom prefilter: false-positive rate, and the seen-set
# cardinality below which the anti-join stays exact-only
BLOOM_FPP = 0.01
USE_BLOOM_OVER = 100_000
# per-host stop reasons of the reference enum (MetadataTracker.ts:32-37)
STOP_REASONS = ("all_duplicates", "max_pages", "no_next_button")


@dataclass
class CrawlOptions:
    max_pages: int | None = None  # listing pages per host (reference maxPages)
    stop_on_all_duplicates: bool = True  # types.ts:114-120 default true
    skip_existing_urls: bool = True  # --recrawl ⇒ False (index.ts:39)
    per_host_budget: int = 10_000  # content fetches per host per round (T4)
    # broadcast the round's LIGHT candidate/order rows into the fetch and
    # order joins only below this row count (~150 MB at 1M rows); above it
    # (multi-million-URL rounds — a forced broadcast of every scheduled
    # URL is a driver/executor OOM at the design point) the fetch uses a
    # bloom-prefiltered join and the order map a shuffle join
    broadcast_max_rows: int = 1_000_000
    # in-round fetch retry (reference PaginationHandler.ts:11-12,84-107:
    # MAX_ATTEMPTS=3, RETRY_DELAY_SEC=15 + reload). Retrying WITHIN the
    # round — like the reference's inline retry — keeps processed_order
    # parity: a URL that succeeds on attempt 2 keeps the order assigned
    # pre-fetch. Retries run back to back (the reference's 15 s delay is a
    # politeness choice for live sites, pointless against a corpus).
    max_fetch_attempts: int = 3
    # frontier prioritization (north_rule: a 10^10-URL frontier is a
    # PRIORITIZED crawl, not FIFO): when True, integer PageRank over the
    # session's discovered host link graph (link_edges state table,
    # listing_host → item_host) feeds the frontier ``priority`` column
    # each round (priority = -rank, so authoritative hosts sort first)
    # and prefixes the processed_order total order. Ranks are exact
    # int64 fixed-point (ops/graph.py) → the schedule is deterministic
    # and resumable. Off by default: zero extra jobs, byte-identical
    # behavior to prior rounds.
    prioritize_by_rank: bool = False
    rank_iters: int = 3
    # per-host robots.txt acquisition: on first discovery of a host,
    # fetch https://host/robots.txt through the session's Fetcher
    # (content stage → pooled, politeness-EXEMPT — robots must be
    # readable before any page of the host is), parse Disallow groups
    # into the robots_rules state table (cached per session: one fetch
    # per host, resume-safe because the table is snapshot state), gate
    # candidates with the merged dim, and bootstrap robots ``Sitemap:``
    # lines through sources.sitemap.discover_seed_urls into the next
    # round's content frontier. Off by default (static ``robots`` dim
    # passed to the runner keeps working either way).
    fetch_robots: bool = False
    # global per-round candidate budget: cap content fetches per round
    # ACROSS hosts — deterministic top-K by (priority, depth, host,
    # listing_order, url_hash) via the same two-phase range-partition
    # scheme as processed_order (no single-partition sort, no driver
    # collect); overflow carries to the next round's frontier. Bounds
    # round size — and therefore driver round latency — regardless of
    # frontier growth. None = unbounded (per-host budget only).
    round_content_budget: int | None = None


@dataclass
class CrawlSummary:
    session_id: str
    source_id: str
    rounds: int = 0
    items_processed: int = 0
    duplicates_skipped: int = 0
    urls_excluded: int = 0
    robots_blocked: int = 0
    total_filtered: int = 0
    contents_crawled: int = 0
    pages_processed: int = 0
    listing_errors: int = 0
    items_with_errors: int = 0
    fetch_retries: int = 0  # retry waves run (not per-url attempts)
    stopped_reason: str = ""
    host_stops: dict[str, int] = field(default_factory=dict)  # reason → host count
    wall_sec: float = 0.0
    # bounded error MESSAGE lists (reference CrawlMetadata.listingErrors /
    # contentErrors, core/types.ts:165-166); first MAX_ERROR_MESSAGES per
    # category, rendered by `ethos errors` (commands/errors.ts:8-120)
    listing_error_messages: list[str] = field(default_factory=list)
    content_error_messages: list[str] = field(default_factory=list)

    @property
    def items_found(self) -> int:
        # summaryBuilder.ts:26-29
        return self.items_processed + self.duplicates_skipped + self.total_filtered

    def to_json(self) -> str:
        d = {k: v for k, v in self.__dict__.items()}
        d["items_found"] = self.items_found
        return json.dumps(d)


# date parsing as an Arrow-batched UDF (strict parse, NULL quarantine);
# explicit StringType: DDL-string parsing needs an active session at import
from pyspark.sql.types import StringType as _StringType


@F.pandas_udf(_StringType())
def _parse_date_udf(raw):  # pd.Series -> pd.Series
    # vectorized ISO fast path, per-row dayjs-parity parser for the tail
    from ethos_spark.functions.datefns import parse_published_dates_series

    return parse_published_dates_series(raw)


class RoundScope:
    """The owner of one crawl round's cached DataFrames and of its one
    thread pool. Phases cache through ``cache()`` and run overlapped jobs
    through ``submit()``. On exit, normal or exceptional, the pool is
    joined (tasks not yet started are cancelled when the round failed)
    and every cached relation is unpersisted, so a round that raises
    leaves nothing pinned in a long-lived session."""

    THREAD_PREFIX = "crawl-round"

    def __init__(self) -> None:
        self._cached: list[DataFrame] = []
        self._futures: list[Future] = []
        # the overlapped listing-message collect plus the independent
        # lineage writes; threads start lazily, on the first submit
        self._pool = ThreadPoolExecutor(8, thread_name_prefix=self.THREAD_PREFIX)

    def __enter__(self) -> RoundScope:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        # running jobs finish before the relations they read are released
        self._pool.shutdown(wait=True, cancel_futures=exc_type is not None)
        for df in self._cached:
            df.unpersist()

    def cache(self, df: DataFrame) -> DataFrame:
        self._cached.append(df.cache())
        return df

    def submit(self, fn: Callable, *args) -> Future:
        fut = self._pool.submit(fn, *args)
        self._futures.append(fut)
        return fut

    def wait(self) -> None:
        """Block until every submitted task is done; re-raise the first
        failure in submission order."""
        for fut in self._futures:
            fut.result()


@dataclass
class _Listing:
    """Listing phase output: this round's listing pages."""

    lkeys: DataFrame  # scheduled pages: url, host, depth
    lres: DataFrame  # fetched + extracted pages (cached, retries unioned)
    overflow: DataFrame  # listing rows beyond one page per host
    rank_dim: DataFrame | None  # host → _rank_pri (rank priority option)
    n_failed: int = 0  # pages that failed every fetch attempt

    def misses(self) -> DataFrame:
        return self.lkeys.join(self.lres.select("url"), "url", "left_anti")


@dataclass
class _Stats:
    """Dedup/stats phase output: the round's new items, its per-host state
    and the counters of its one stats collect."""

    valid_items: DataFrame  # items that passed the date quarantine
    session_new: DataFrame  # new to this session (seen_session rows)
    to_process: DataFrame  # also new to stored pages (cached)
    host_round: DataFrame  # per-host counters + stop_reason (cached)
    sess_seen_count: int
    seen_count: int
    n_items: int
    n_new: int
    n_date_err: int
    n_excluded: int
    n_filtered: int
    n_hosts_active: int
    n_hosts_continuing: int
    listing_messages: Callable[[], list[str]]  # joins the overlapped collect

    @property
    def n_duplicates(self) -> int:
        return self.n_items - self.n_new - self.n_date_err


@dataclass
class _Schedule:
    """Schedule phase output: this round's ordered content fetches."""

    allowed: DataFrame  # robots-allowed content candidates
    blocked: DataFrame
    robots_dim: DataFrame | None
    content_overflow: DataFrame  # carried to the next round's frontier
    sitemap_inject: DataFrame | None  # next round's sitemap candidates
    order_map: DataFrame  # url_hash → processed_order (broadcast when small)
    offset: int  # processed_order of the previous round's last page
    n_allowed: int
    content_hint: int | None  # upper bound on the candidate count


@dataclass
class _Content:
    """Content phase output: the pages this round wrote."""

    stored: DataFrame  # this round's pages rows, read back from their dirs
    n_stored: int
    n_blocked: int


class CrawlRunner:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        fetcher,
        config: SourceConfig,
        options: CrawlOptions | None = None,
        robots: DataFrame | None = None,
        start_time: datetime | None = None,
    ):
        self.spark = spark
        self.wh = warehouse
        self.fetcher = fetcher
        self.config = config
        self.opt = options or CrawlOptions()
        self.robots = robots
        self.start_time = start_time or datetime(2025, 7, 1, tzinfo=timezone.utc)
        # session id format: MetadataTracker.ts:205-208
        self.session_id = f"crawl-session-{int(self.start_time.timestamp())}"
        self.summary = CrawlSummary(self.session_id, config.id)
        self._interrupted = False
        # in-round fetch retries only make sense against transient failure
        # (real HTTP); a deterministic fetcher's miss is permanent and each
        # wasted wave re-scans the corpus
        self._retryable = not getattr(fetcher, "deterministic", False)
        # content fields a page fetch can fill (mergeContentData overrides)
        self._content_fields = [
            n for n in ("title", "author", "content") if n in config.content.fields
        ]

    # -- graceful interruption (InterruptionHandler.ts:17-41) ---------------

    def interrupt(self) -> None:
        """Request a graceful stop: the loop finishes the round in flight
        (rounds are atomic snapshot commits), then finalizes the session
        with stopped_reason='process_interrupted'. ``resume()`` on the same
        warehouse continues from the last committed round — final state is
        identical to an uninterrupted run (tested)."""
        self._interrupted = True

    def install_sigint_handler(self) -> None:
        """Route Ctrl-C to ``interrupt()`` (the reference's SIGINT hook,
        InterruptionHandler.ts:17-24). Second SIGINT restores the default
        handler, so a stuck round can still be killed."""
        import signal

        prev = signal.getsignal(signal.SIGINT)

        def h(sig, frame):
            self.interrupt()
            signal.signal(signal.SIGINT, prev)

        signal.signal(signal.SIGINT, h)

    # -- url helpers (Column expressions, JVM-side) -------------------------

    @staticmethod
    def _with_url_cols(df: DataFrame, url_col: str = "url") -> DataFrame:
        """host / host_hash / url_hash as pure Column exprs. The canonical
        form MATCHES functions.urlfns.canonicalize_url exactly (pytest
        asserts equality on port/query/fragment cases): lowercase
        scheme+host, strip fragment + userinfo, keep NON-DEFAULT ports
        (http://h:8080/p must not collide with http://h/p in the seen
        set), default path '/', query params sorted on raw k=v strings."""
        u = F.col(url_col)
        no_frag = F.substring_index(F.trim(u), "#", 1)
        scheme = F.lower(F.regexp_extract(no_frag, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
        authority = F.regexp_extract(no_frag, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)", 1)
        host_port = F.substring_index(authority, "@", -1)  # drop userinfo
        host = F.lower(F.substring_index(host_port, ":", 1))
        port = F.when(
            host_port.contains(":"), F.substring_index(host_port, ":", -1)
        ).otherwise(F.lit(""))
        keep_port = (
            (port != "")
            & ~((scheme == "http") & (port == "80"))
            & ~((scheme == "https") & (port == "443"))
        )
        netloc = F.when(keep_port, F.concat(host, F.lit(":"), port)).otherwise(host)
        rest = F.regexp_replace(no_frag, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", "")
        path = F.substring_index(rest, "?", 1)
        path = F.when(path == "", "/").otherwise(path)
        raw_query = F.regexp_extract(rest, r"\?(.*)$", 1)
        sorted_query = F.array_join(
            F.array_sort(F.filter(F.split(raw_query, "&"), lambda p: p != "")),
            "&",
        )
        canon = F.concat(
            scheme,
            F.lit("://"),
            netloc,
            path,
            F.when(sorted_query == "", "").otherwise(
                F.concat(F.lit("?"), sorted_query)
            ),
        )
        return (
            df.withColumn("url_canon", canon)
            .withColumn("url_hash", F.sha1(F.col("url_canon")))
            .withColumn("host", host)
            .withColumn("host_hash", F.xxhash64(host))
        )

    def seed(self, urls: list[str]) -> None:
        """Install the seed list as round-0 frontier + empty state tables."""
        df = self.spark.createDataFrame([(u,) for u in urls], "url string")
        self.wh.replace("frontier_pending", self._frontier_rows(df, "listing"))
        for t, s in [
            ("seen_session", schemas.SEEN),
            ("host_state", "host string, pages_processed long, stopped_reason string"),
        ]:
            self.wh.replace(t, self.spark.createDataFrame([], s))
        # per-chain itemsProcessed offsets are SESSION state in the
        # reference (MetadataTracker builds fieldStats fresh per session) —
        # reset on seed, preserved on resume. Tier choice: one chain = one
        # configured source in the reference, so the offsets are
        # metadata-sized by construction → manifest row table (zero Spark
        # jobs per round). The parquet tier remains for synthetic
        # extreme fan-out (e.g. the 240k-chain scaling workload), where a
        # driver-held map per round would serialize a multi-MB manifest.
        if len(urls) <= OFFSETS_ROW_TIER_MAX_CHAINS:
            self.wh.replace_rows("host_offsets", [])
        else:
            self.wh.replace(
                "host_offsets",
                self.spark.createDataFrame([], schemas.HOST_OFFSETS),
                force_parquet=True,
            )
        if self.opt.fetch_robots:
            # robots cache is SESSION state (a recrawl session re-reads
            # robots.txt — rules change between crawls); resume() keeps it
            self.wh.replace(
                "robots_rules", self.spark.createDataFrame([], schemas.ROBOTS)
            )
        if self.opt.prioritize_by_rank:
            # the link graph is SESSION state too (priorities must derive
            # from THIS session's discoveries, like robots_rules): without
            # the reset a recrawl in the same warehouse would schedule from
            # the previous session's accumulated edges
            self.wh.replace(
                "link_edges", self.spark.createDataFrame([], schemas.LINK_EDGES)
            )
        self.wh.set_prop("session_id", self.session_id)
        self.wh.set_prop("round", "0")
        self.wh.set_prop("order_offset", "0")
        self.wh.set_prop("session_seen_count", "0")
        # frontier-size hints: known row counts of the pending set, used to
        # size-gate broadcasts next round without an extra count job
        self.wh.set_prop("hint_listing", str(len(urls)))
        self.wh.set_prop("hint_content", "0")
        self.wh.set_prop("summary", self.summary.to_json())
        self.wh.commit("seed")

    # -- resume -------------------------------------------------------------

    def resume(self) -> None:
        """Reload loop state from the last committed snapshot. Any data
        dirs staged by a crashed predecessor (append without commit) are
        garbage-collected first — the re-run of the interrupted round then
        writes fresh dirs, so no duplicate rows can surface."""
        self.wh.gc_orphans()
        p = self.wh.props
        self.session_id = p["session_id"]
        s = json.loads(p["summary"])
        s.pop("items_found", None)
        self.summary = CrawlSummary(**s)

    # -- per-host robots.txt stage (option) ---------------------------------

    def _refresh_robots(self, scope: RoundScope, hosts_df: DataFrame) -> list[str]:
        """Fetch + parse robots.txt for hosts seen for the FIRST time this
        session (anti-join against the robots_rules state table), append
        their Disallow prefixes to the table (a fetch miss caches an empty
        rule set so the host is never re-fetched), and return the
        ``Sitemap:`` lines found — each new host's lines surface exactly
        once per session. The fetch runs through the session Fetcher at
        content stage: pooled, no politeness delay (robots documents must
        be readable before any page of the host is fetched). Its caches
        belong to the round's ``scope``."""
        known = self.wh.read("robots_rules", schemas.ROBOTS).select("host")
        # derive the request scheme from the host's own frontier URLs (an
        # http-only host would otherwise always miss on https and have the
        # miss cached as an empty rule set for the whole session);
        # deterministic pick: min() over the observed schemes
        hosts = hosts_df.groupBy("host").agg(
            F.min(
                F.regexp_extract(F.col("url"), r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
            ).alias("_scheme")
        )
        new_hosts = scope.cache(hosts.join(known, "host", "left_anti"))
        if not new_hosts.take(1):
            return []
        reqs = new_hosts.select(
            F.concat(
                F.when(F.col("_scheme") == "", "https").otherwise(F.col("_scheme")),
                F.lit("://"),
                F.col("host"),
                F.lit("/robots.txt"),
            ).alias("url"),
            "host",
        )
        fetched = self.fetcher.fetch(reqs, stage="content").where(
            F.col("html").isNotNull()
        )

        def parse(batches):
            import pandas as pd

            from ethos_spark.crawl.robots import (
                extract_sitemap_lines,
                parse_robots_txt,
            )

            for pdf in batches:
                hs, dis, sms = [], [], []
                for host, body in zip(pdf["host"], pdf["html"]):
                    if body is None:
                        continue
                    txt = (
                        bytes(body) if not isinstance(body, str) else body.encode()
                    ).decode("utf-8", "replace")
                    hs.append(host)
                    dis.append(parse_robots_txt(txt))
                    sms.append(extract_sitemap_lines(txt))
                yield pd.DataFrame({"host": hs, "disallow": dis, "sitemaps": sms})

        parsed = scope.cache(
            fetched.select("host", "html").mapInPandas(
                parse,
                "host string, disallow array<string>, sitemaps array<string>",
            )
        )
        # every ATTEMPTED host gets a row (miss → empty disallow): the
        # cache key is "host was fetched", not "host had rules"
        rules = new_hosts.join(
            parsed.select("host", "disallow"), "host", "left"
        ).select(
            "host",
            F.coalesce("disallow", F.array().cast("array<string>")).alias("disallow"),
        )
        self.wh.append("robots_rules", rules)
        return [
            r.u
            for r in parsed.select(F.explode("sitemaps").alias("u")).distinct().collect()
        ]

    # -- the round ----------------------------------------------------------

    def run(self) -> CrawlSummary:
        t0 = time.monotonic()
        r = int(self.wh.props.get("round", "0"))
        while r < MAX_ROUNDS:
            # interruption check at the loop top, like the reference's
            # listing loop (ArticleListingCrawler.ts:334): the round in
            # flight always completes and commits before we stop
            if self._interrupted:
                break
            r += 1
            if not self.run_round(r):
                break
        self.summary.wall_sec = time.monotonic() - t0
        self._finalize()
        return self.summary

    def run_round(self, r: int) -> bool:
        """Run round ``r`` as explicit phases under one RoundScope (the
        owner of the round's caches and thread pool); return whether the
        round did any work — False ends the crawl."""
        pending = self.wh.read("frontier_pending", schemas.FRONTIER)
        props = self.wh.props
        listing_hint = int(props["hint_listing"]) if "hint_listing" in props else None
        carry_hint = int(props["hint_content"]) if "hint_content" in props else None
        # the frontier counts were observed EXACTLY at the last write: an
        # empty frontier terminates the crawl with zero Spark jobs instead
        # of a full no-op round (~5 s of fixed stage latency saved)
        if listing_hint == 0 and carry_hint == 0:
            return False
        with RoundScope() as scope:
            lst = self._listing_phase(scope, pending, listing_hint)
            st = self._dedup_stats_phase(scope, lst)
            sch = self._schedule_phase(scope, pending, lst, st, carry_hint)
            # the listing-side writes run on the pool, overlapped with the
            # content pass on the driver thread
            obs, prev_offsets = self._lineage_phase(scope, r, lst, st, sch)
            con = self._content_phase(scope, sch)
            worked = st.n_hosts_active > 0 or con.n_stored > 0 or con.n_blocked > 0
            if worked:
                self.summary.rounds = r  # terminating no-op round not counted
            self._commit_phase(scope, r, st, sch, con, obs, prev_offsets)
        return worked

    # -- phase: listing -------------------------------------------------------

    def _listing_phase(
        self, scope: RoundScope, pending: DataFrame, listing_hint: int | None
    ) -> _Listing:
        """Fetch and extract one listing page per active host (rank-ordered
        when the PageRank option is on), retrying misses in-round."""
        rank_dim = self._rank_dim(scope)
        batch = self._with_rank_priority(
            pending.where(F.col("kind") == "listing"), rank_dim
        )
        # one page per host per round (the reference's sequential chain)
        batch, overflow = politeness_topk(batch, 1, ["depth", "priority", "url_hash"])
        # extract parallelism rides the fetch output partitioning: for the
        # corpus fetcher that is the parquet scan (split size tuned down in
        # session.py — shuffling the html column would cost more than it
        # buys); a host-partitioned HttpFetcher brings its own partitioning
        lkeys = batch.select("url", "host", "depth")
        lst = _Listing(
            lkeys, scope.cache(self._extract_listings(lkeys, listing_hint)), overflow, rank_dim
        )
        # in-round listing retry (PaginationHandler.ts:11-12,84-107: 3
        # attempts, then the page is a listing error and the host's chain
        # ends). Misses are detected by anti-joining the scheduled batch
        # against the fetched pages — ground truth, no expected-count
        # bookkeeping. The happy-path count() here just MOVES the listing
        # materialization up from the stats collect (lres is cached); extra
        # jobs only run when misses exist.
        n_miss = lst.misses().count()
        attempt = 1
        while self._retryable and n_miss > 0 and attempt < self.opt.max_fetch_attempts:
            attempt += 1
            self.summary.fetch_retries += 1
            retry = scope.cache(self._extract_listings(lst.misses(), n_miss))
            lst.lres = lst.lres.unionByName(retry)
            n_miss = lst.misses().count()
        lst.n_failed = n_miss
        return lst

    def _rank_dim(self, scope: RoundScope) -> DataFrame | None:
        """PageRank frontier priority (option): ranks over the accumulated
        host link graph, refreshed per round; host-level → the dim is tiny
        and broadcast into one left join. Round 1 has no edges yet → empty
        ranks → every priority 0.0."""
        if not self.opt.prioritize_by_rank:
            return None
        ranks = pagerank_fixed(
            self.wh.read("link_edges", schemas.LINK_EDGES),
            iters=self.opt.rank_iters,
            src_col="src_host",
            dst_col="dst_host",
            persist=scope.cache,
        )
        # priority = -rank: int64 micro-unit ranks are < 2^53, so the
        # double is EXACT and the schedule stays deterministic.
        # CACHED: the iterative pagerank DAG would otherwise re-run
        # under every one of the round's ~8 downstream actions
        return scope.cache(
            ranks.select(
                F.col("node").alias("host"),
                (-F.col("rank")).cast("double").alias("_rank_pri"),
            )
        )

    @staticmethod
    def _with_rank_priority(df: DataFrame, rank_dim: DataFrame | None) -> DataFrame:
        """Override the stored priority column with the current ranks
        (unranked hosts keep 0.0 — they sort after ranked ones)."""
        if rank_dim is None:
            return df
        return (
            df.drop("priority")
            .join(F.broadcast(rank_dim), "host", "left")
            .withColumn("priority", F.coalesce(F.col("_rank_pri"), F.lit(0.0)))
            .select(*df.columns)
        )

    def _extract_listings(self, keys: DataFrame, hint: int | None) -> DataFrame:
        """fetch → listing extract, joined back onto the (url, host, depth)
        keys. Both fetcher contracts express failure as ABSENCE from here
        on: a returns_misses fetcher marks failures html=NULL — those rows
        are dropped so the retry/miss machinery sees them as misses too."""
        fetched = self.fetcher.fetch(keys, size_hint=hint, stage="listing").where(
            F.col("html").isNotNull()
        )
        return extract_listing_stage(fetched, self.config.listing).join(keys, "url")

    # -- phase: dedup / stats -----------------------------------------------

    def _dedup_stats_phase(self, scope: RoundScope, lst: _Listing) -> _Stats:
        """Explode the listing pages into items, dedup them against this
        session and the stored pages, and fold per-host state into ONE
        stats collect that drives every counter and stop decision."""
        opt, lres = self.opt, lst.lres
        items = (
            lres.select(
                F.col("host").alias("listing_host"),
                "depth",
                F.col("url").alias("page_url"),
                "listing_url",
                F.explode_outer("items").alias("it"),
                F.size("excluded_urls").alias("n_excluded"),
                "filtered_count",
            )
            .select(
                "listing_host",
                "depth",
                "page_url",
                F.col("it.url").alias("url"),
                F.col("it.title").alias("title"),
                F.col("it.author").alias("author"),
                F.col("it.published_raw").alias("published_raw"),
                F.col("it.item_index").alias("item_index"),
            )
            .where(F.col("url").isNotNull())
        )
        items = self._with_url_cols(items).withColumn(
            "published_date", _parse_date_udf(F.col("published_raw"))
        )
        # strict-date quarantine (engine mode; the reference throws,
        # SURVEY.md §7.3): a raw date that fails to parse rejects the item
        items = items.withColumn(
            "date_error",
            F.col("published_raw").isNotNull() & F.col("published_date").isNull(),
        )
        valid_items = items.where(~F.col("date_error"))

        # J1 session dedup: within batch, then against prior rounds.
        # NOT cached (r6): both consumers (the to_process chain here and
        # the lineage select later) derive it from the CACHED lres with
        # narrow deterministic ops costing ~0.1 s to recompute, while the
        # columnar cache build of these wide string rows measured ~1.3 s —
        # 6× the total recompute cost (guide §5: cache only when recompute
        # beats the memory/build pressure).
        deduped = dedup_within_batch(
            valid_items, ["depth", "listing_host", "item_index"]
        )
        # skip the anti-join shuffles entirely when the seen tables are
        # provably empty (fresh session round 1) — tracked in snapshot props
        sess_seen_count = int(self.wh.props.get("session_seen_count", "0"))
        if sess_seen_count > 0:
            seen_session = self.wh.read("seen_session", schemas.SEEN)
            session_new, _ = anti_join_seen(deduped, seen_session)
        else:
            session_new = deduped

        # J2 persistent dedup against stored pages (bloom + exact)
        seen_count = int(self.wh.props.get("seen_count", "0"))
        to_process = session_new
        if opt.skip_existing_urls and seen_count > 0:
            # seen set = key projection of pages (column-pruned scan). When
            # the warehouse buckets pages by url, key the join on url too:
            # the bucketed relation then plans NO exchange — only the
            # candidate slice shuffles (url_hash is h56(url), so the two
            # keys are interchangeable for membership)
            seen_key = (
                "url" if self.wh.bucket_cols("pages") == ["url"] else "url_hash"
            )
            seen = self.wh.read("pages", schemas.PAGES_OUT).select(seen_key)
            bloom = (
                BloomFilter.build(seen, seen_key, seen_count, BLOOM_FPP)
                if seen_count >= USE_BLOOM_OVER
                else None
            )
            to_process, _ = anti_join_seen(
                session_new, seen, key=seen_key, bloom=bloom
            )
        to_process = scope.cache(to_process)

        # ---- per-host stats: ONE collect drives counters + stop logic ------
        page_stats = (
            lres.select(
                "host",
                "depth",
                F.size("items").alias("n_items"),
                F.size("excluded_urls").alias("n_excluded"),
                F.col("filtered_count").alias("n_filtered"),
                F.col("filtered_reasons"),
                F.col("next_url"),
            )
            .groupBy("host")
            .agg(
                F.max("depth").alias("depth"),
                F.sum("n_items").alias("n_items"),
                F.sum("n_excluded").alias("n_excluded"),
                F.sum("n_filtered").alias("n_filtered"),
                # message ASSEMBLY is deferred to the error-only branch of
                # _listing_messages (r6): the lean pass carries only the
                # count that gates it, so an error-free round (the common
                # case) never pays the collect_list/flatten/array_sort trees
                F.sum(F.size("filtered_reasons")).alias("n_reason_msgs"),
                F.max("next_url").alias("next_url"),
            )
        )
        new_per_host = to_process.groupBy(F.col("listing_host").alias("host")).agg(
            F.count("*").alias("n_new")
        )
        date_err_per_host = (
            items.where(F.col("date_error"))
            .groupBy(F.col("listing_host").alias("host"))
            .agg(F.count("*").alias("n_date_err"))
        )
        # per-host round state stays DISTRIBUTED (at 10^10 scale millions of
        # hosts are active per round — never collected); the driver sees one
        # aggregate row. Stop decisions are columns (reference stop enum,
        # MetadataTracker.ts:32-37; all_duplicates precedence per
        # ArticleListingCrawler.ts:260-286, evaluated BEFORE the
        # pagesProcessed increment).
        host_round = (
            page_stats.join(new_per_host, "host", "left")
            .join(date_err_per_host, "host", "left")
            .fillna(0, ["n_new", "n_date_err"])
        )
        stop_col = F.when(
            (F.col("n_items") > 0)
            & (F.col("n_new") == 0)
            & F.lit(opt.stop_on_all_duplicates),
            F.lit("all_duplicates"),
        )
        if opt.max_pages:
            stop_col = stop_col.when(
                F.col("depth") >= opt.max_pages, F.lit("max_pages")
            )
        stop_col = stop_col.when(F.col("next_url").isNull(), F.lit("no_next_button"))
        host_round = scope.cache(host_round.withColumn("stop_reason", stop_col))

        g = host_round.agg(
            F.count("*").alias("n_hosts"),
            F.sum(
                (~F.col("stop_reason").eqNullSafe("all_duplicates")).cast("long")
            ).alias("pages_inc"),
            F.sum("n_excluded").alias("n_excluded"),
            F.sum(F.col("n_filtered") + F.col("n_excluded")).alias("n_filtered"),
            F.sum("n_date_err").alias("n_date_err"),
            F.sum("n_items").alias("n_items"),
            F.sum("n_new").alias("n_new"),
            *[
                F.sum(F.col("stop_reason").eqNullSafe(s).cast("long")).alias(s)
                for s in STOP_REASONS
            ],
            F.sum("n_reason_msgs").alias("n_reason_msgs"),
        ).collect()[0]
        c = {k: int(v or 0) for k, v in g.asDict().items()}

        # processPageItems updates ALL counters before the caller's
        # all-duplicates break (ArticleListingCrawler.ts:58-96, 260-286), so
        # excluded/filtered/dup stats count for every page, stopped or not.
        # totalFilteredItems counts excluded containers too (filteredItems
        # includes isExcluded, ListingPageExtractor.ts:230-235).
        self.summary.pages_processed += c["pages_inc"]
        self.summary.urls_excluded += c["n_excluded"]
        self.summary.total_filtered += c["n_filtered"]
        # retry-exhausted listing pages are listing errors (reference
        # CrawlErrorManager.addListingErrors) alongside date quarantines
        self.summary.listing_errors += c["n_date_err"] + lst.n_failed
        messages = self._listing_messages(
            scope, lst, items, c["n_reason_msgs"], c["n_date_err"]
        )
        # chains still alive after this round — gates dead-state writes
        # (host_offsets is session-scoped: once every chain stopped, the
        # offsets can never be read again). n_hosts is computed from lres,
        # which already excludes hosts whose listing fetch failed all
        # attempts (html-NULL rows are dropped before host_round is built) —
        # so fetch-failed hosts must NOT be subtracted again here, or a
        # mixed round (some hosts failing, some continuing) clamps to 0 and
        # skips the offsets roll, corrupting later rounds' field_stats
        # item indices.
        stops = {s: c[s] for s in STOP_REASONS}
        st = _Stats(
            valid_items=valid_items,
            session_new=session_new,
            to_process=to_process,
            host_round=host_round,
            sess_seen_count=sess_seen_count,
            seen_count=seen_count,
            n_items=c["n_items"],
            n_new=c["n_new"],
            n_date_err=c["n_date_err"],
            n_excluded=c["n_excluded"],
            n_filtered=c["n_filtered"],
            n_hosts_active=c["n_hosts"],
            n_hosts_continuing=max(0, c["n_hosts"] - sum(stops.values())),
            listing_messages=messages,
        )
        # date-quarantined items are listing errors, NOT duplicates — they
        # never reach the dedup joins, so n_duplicates excludes them
        self.summary.duplicates_skipped += st.n_duplicates
        # engine extension to the reference enum: a host whose listing
        # page failed all fetch attempts ends with 'fetch_error' in the
        # host-level lineage (session-level reason stays the reference
        # enum — _session_stop_reason ignores this value)
        for reason, n in {**stops, "fetch_error": lst.n_failed}.items():
            if n:
                self.summary.host_stops[reason] = (
                    self.summary.host_stops.get(reason, 0) + n
                )
        return st

    def _listing_messages(
        self,
        scope: RoundScope,
        lst: _Listing,
        items: DataFrame,
        n_reason_msgs: int,
        n_date_err: int,
    ) -> Callable[[], list[str]]:
        """Start assembling the round's bounded listing-error messages
        (filtered reasons + date quarantines + exhausted listing fetches,
        first-N per session) and return a callable that yields them.

        The reason/date part is an error-only branch with the exact
        expressions the lean stats pass skipped, collected on the round's
        pool: the list is only read when the round's summary is persisted,
        so the job back-fills executors while the driver plans the content
        pass (guide §2.6)."""
        room = MAX_ERROR_MESSAGES - len(self.summary.listing_error_messages)
        if room <= 0:
            return lambda: []
        future = None
        if n_reason_msgs > 0 or n_date_err > 0:
            # per-host date-quarantine messages mirror the reference throw
            # text (ListingPageExtractor.ts:313-323 + utils/date.ts:44-47);
            # ordered by the item's position on its page (the reference's
            # insertion order), made deterministic by sorting (item_index,
            # msg) structs — NOT alphabetically
            date_msgs_per_host = (
                items.where(F.col("date_error"))
                .groupBy(F.col("listing_host").alias("host"))
                .agg(
                    F.slice(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct(
                                        F.col("item_index").alias("i"),
                                        F.concat(
                                            F.lit('Date parsing failed for item "'),
                                            F.coalesce("title", "url"),
                                            F.lit(
                                                '": Unable to parse date format: "'
                                            ),
                                            F.col("published_raw"),
                                            F.lit(
                                                '". Source format may have changed'
                                                " and requires code update."
                                            ),
                                        ).alias("m"),
                                    )
                                )
                            ),
                            lambda s: s["m"],
                        ),
                        1,
                        MAX_ERROR_MESSAGES,
                    ).alias("date_err_msgs"),
                )
            )
            reasons_per_host = (
                lst.lres.select("host", "filtered_reasons")
                .groupBy("host")
                .agg(
                    F.slice(
                        F.flatten(F.collect_list("filtered_reasons")),
                        1,
                        MAX_ERROR_MESSAGES,
                    ).alias("reasons")
                )
            )
            # Cross-host assembly keeps each host's in-page message order
            # intact (the reference's single-source session IS one host, so
            # this reproduces its insertion order exactly) and orders hosts
            # deterministically — sort on (host, msgs) structs, never on
            # the flattened messages (alphabetical would break parity)
            def host_ordered(host_msgs: Column) -> Column:
                return F.slice(
                    F.flatten(
                        F.transform(
                            F.array_sort(F.collect_list(host_msgs)),
                            lambda s: s["ms"],
                        )
                    ),
                    1,
                    MAX_ERROR_MESSAGES,
                )

            mg_df = reasons_per_host.join(date_msgs_per_host, "host", "left").agg(
                host_ordered(
                    F.struct(F.col("host").alias("h"), F.col("reasons").alias("ms"))
                ).alias("listing_msgs"),
                # null for most hosts (left join) — a null STRUCT is skipped
                # by collect_list, while a null array inside flatten() nulls
                # the result
                host_ordered(
                    F.when(
                        F.col("date_err_msgs").isNotNull(),
                        F.struct(
                            F.col("host").alias("h"),
                            F.col("date_err_msgs").alias("ms"),
                        ),
                    )
                ).alias("date_msgs"),
            )
            future = scope.submit(lambda: mg_df.collect()[0])
        failed = []
        if lst.n_failed:
            failed = [
                f"Failed to load listing page after "
                f"{self.opt.max_fetch_attempts} attempts: {row.url}"
                for row in lst.misses().limit(room).collect()
            ]

        def resolve() -> list[str]:
            msgs: list[str] = []
            if future is not None:
                mg = future.result()
                msgs = list(mg["listing_msgs"] or []) + list(mg["date_msgs"] or [])
            return (msgs + failed)[:room]

        return resolve

    # -- phase: schedule ------------------------------------------------------

    def _schedule_phase(
        self,
        scope: RoundScope,
        pending: DataFrame,
        lst: _Listing,
        st: _Stats,
        carry_hint: int | None,
    ) -> _Schedule:
        """Pick this round's content fetches — new items of continuing
        hosts plus the carried frontier, robots-gated and cut to the
        per-host and round budgets — queue sitemap-discovered URLs for the
        next round, and stamp the fetches with their processed_order."""
        opt = self.opt
        all_dup_hosts_df = st.host_round.where(
            F.col("stop_reason").eqNullSafe("all_duplicates")
        ).select("host")
        base = st.to_process.join(
            all_dup_hosts_df.withColumnRenamed("host", "listing_host"),
            "listing_host",
            "left_anti",
        )
        to_fetch_new = self._frontier_rows(
            base.withColumn("listing_order", F.col("item_index").cast("long")),
            "content",
        )
        candidates = self._with_rank_priority(
            pending.where(F.col("kind") == "content").unionByName(to_fetch_new),
            lst.rank_dim,
        )

        # ---- robots acquisition (option) -----------------------------------
        # fetch+parse robots.txt for every host seen for the first time
        # this round (listing seeds AND newly discovered item hosts), then
        # gate below with the merged dim. Sitemap: lines found in the new
        # robots bodies bootstrap extra content candidates further down.
        sitemap_lines: list = []
        robots_dim = self.robots
        if opt.fetch_robots:
            hosts_df = lst.lkeys.select("host", "url").unionByName(
                candidates.select("host", "url")
            )
            if self.robots is not None:
                # a static dim is AUTHORITATIVE for its hosts: never
                # fetch them (and never end up with two rules rows per
                # host — robots_gate's left join would duplicate every
                # candidate of a twice-ruled host)
                hosts_df = hosts_df.join(
                    self.robots.select("host"), "host", "left_anti"
                )
            sitemap_lines = self._refresh_robots(scope, hosts_df)
            fetched_rules = self.wh.read("robots_rules", schemas.ROBOTS)
            if self.robots is None:
                robots_dim = fetched_rules
            else:
                robots_dim = self.robots.unionByName(
                    fetched_rules.join(
                        F.broadcast(self.robots.select("host")),
                        "host",
                        "left_anti",
                    )
                )

        scheduled, content_overflow = politeness_topk(
            candidates,
            opt.per_host_budget,
            ["depth", "listing_order", "url_hash"],
        )
        # both range-partitioned sequencer runs below (budget cut, order
        # stamp) size to the known upper bound on this round's candidate
        # count (items found + carried content): each is two jobs over
        # LIGHT keys, so at small rounds the fixed cost is pure task
        # overhead (64 tasks for 5k rows); at multi-million-row rounds the
        # ~20k-rows/partition floor keeps the sort partition-local and the
        # count vector driver-tiny
        order_parts = max(
            1,
            min(
                self.spark.sparkContext.defaultParallelism * 2,
                -(-(st.n_items + (carry_hint or 0)) // 20_000),  # ceil div
            ),
        )
        # ---- global round budget (option): top-K across hosts --------------
        # the per-host cap bounds any ONE domain; this bounds the ROUND.
        # Same two-phase range-partition sequencer as processed_order (two
        # jobs over light rows, no global sort, no driver collect) — the
        # cut is a deterministic function of (priority, depth, host,
        # listing_order, url_hash), so a resumed session makes the same cut.
        if opt.round_content_budget is not None:
            seqd, _ = assign_sequential_order(
                scheduled,
                ["priority", "depth", "host", "listing_order", "url_hash"],
                col_name="_gseq",
                n_parts=order_parts,
                persist=scope.cache,
            )
            deferred = seqd.where(
                F.col("_gseq") > opt.round_content_budget
            ).drop("_gseq")
            scheduled = seqd.where(
                F.col("_gseq") <= opt.round_content_budget
            ).drop("_gseq")
            content_overflow = content_overflow.unionByName(
                deferred.select(*schemas.FRONTIER.names)
            )
        allowed, blocked = robots_gate(scheduled, robots_dim)

        # ---- sitemap bootstrap (rides the robots option) -------------------
        # resolve the new hosts' Sitemap: lines to page URLs through the
        # same Fetcher (sources/sitemap.py handles urlset / sitemapindex /
        # .xml.gz recursion) and inject them as next round's content
        # candidates — robots-gated and deduped against stored pages, this
        # round's schedule, and the carried frontier.
        sitemap_inject = None
        if sitemap_lines:
            from ethos_spark.sources.sitemap import discover_seed_urls

            discovered = discover_seed_urls(self.spark, self.fetcher, sitemap_lines)
            inj = self._frontier_rows(discovered.select("url"), "content").dropDuplicates(
                ["url_hash"]
            )
            inj, _ = robots_gate(inj, robots_dim)
            if opt.skip_existing_urls and st.seen_count > 0:
                inj = inj.join(
                    self.wh.read("pages", schemas.PAGES_OUT).select("url_hash"),
                    "url_hash",
                    "left_anti",
                )
            inj = inj.join(
                scheduled.select("url_hash"), "url_hash", "left_anti"
            ).join(
                content_overflow.select("url_hash"), "url_hash", "left_anti"
            )
            sitemap_inject = inj.select(*schemas.FRONTIER.names)

        # W1: deterministic global order = (round, host, listing position).
        # Assigned on the PRE-FETCH candidate set (order keys are data known
        # before the fetch), joined onto the extracted output — the heavy
        # content column is never cached or shuffled. A URL that succeeds
        # only on a retry attempt keeps this pre-assigned order (reference
        # inline-retry semantics). The per-partition count vector collected
        # here also yields n_allowed for free — the miss-detection baseline.
        # With rank priority on, high-value hosts lead the total order —
        # the observable contract of the prioritized crawl (processed_order
        # IS the schedule); off, the order is byte-identical to prior rounds
        offset = int(self.wh.props.get("order_offset", "0"))
        if opt.prioritize_by_rank:
            order_sel = ["url_hash", "depth", "host", "listing_order", "priority"]
            order_keys = ["priority", "depth", "host", "listing_order", "url_hash"]
        else:
            order_sel = ["url_hash", "depth", "host", "listing_order"]
            order_keys = ["depth", "host", "listing_order", "url_hash"]
        ordered_light, n_allowed = assign_sequential_order(
            allowed.select(*order_sel),
            order_keys,
            offset=offset,
            n_parts=order_parts,
            persist=scope.cache,
        )
        order_map = ordered_light.select("url_hash", "processed_order")
        # upper bound on this round's content candidates: carried-over
        # pending (tracked via frontier-write observation) + newly
        # discovered (already collected in the stats row) —
        # politeness/robots only shrink it. Gates broadcast vs shuffle in
        # the fetch and order joins.
        content_hint = carry_hint + st.n_new if carry_hint is not None else None
        if content_hint is not None and content_hint <= opt.broadcast_max_rows:
            order_map = F.broadcast(order_map)
        return _Schedule(
            allowed=allowed,
            blocked=blocked,
            robots_dim=robots_dim,
            content_overflow=content_overflow,
            sitemap_inject=sitemap_inject,
            order_map=order_map,
            offset=offset,
            n_allowed=n_allowed,
            content_hint=content_hint,
        )

    # -- phase: content -------------------------------------------------------

    def _content_phase(self, scope: RoundScope, sch: _Schedule) -> _Content:
        """THE single heavy pass: fetch → extract → write pages, with
        in-round retries. Runs on the driver thread while the listing-side
        lineage writes proceed on the pool. Everything downstream
        (counters, lineage, seen, metrics, field stats) derives from
        column-pruned reads of the files written here — the
        write-once-derive-from-storage shape Iceberg pipelines use; no
        multi-GB executor cache of article bodies."""
        # slim the broadcast payload to the columns the pages rows need —
        # the frontier row is 16 columns wide and broadcast-relation build
        # time is serial driver cost proportional to broadcast bytes
        allowed = sch.allowed.select(
            "url", "url_hash", "host", "host_hash",
            "title", "author", "published_date",
        )
        pages_dir, n_stored, n_errors = self._append_pages(
            self._fetch_content(allowed, sch.content_hint, sch.order_map)
        )
        written_dirs = [pages_dir]

        def not_yet_written() -> DataFrame:
            done = self.spark.read.parquet(*written_dirs).select("url_hash")
            return allowed.join(done, "url_hash", "left_anti")

        # in-round content retry: misses (n_allowed known from the ordering
        # counts, n_stored from the write observation — zero extra jobs in
        # the no-failure case) are refetched up to max_fetch_attempts
        attempt = 1
        while (
            self._retryable
            and n_stored < sch.n_allowed
            and attempt < self.opt.max_fetch_attempts
        ):
            attempt += 1
            self.summary.fetch_retries += 1
            d, n_got, n_err_got = self._append_pages(
                self._fetch_content(
                    not_yet_written(), sch.n_allowed - n_stored, sch.order_map
                )
            )
            written_dirs.append(d)
            n_stored += n_got
            n_errors += n_err_got

        # retry-exhausted misses: stored with an extraction-error flag,
        # exactly like the reference's failed content loads
        # (ContentPageExtractor failure → updateItemMetadata → stored with
        # hadContentExtractionError). Written last, on the pool, once the
        # blocked count is in.
        missed_out = None
        if n_stored < sch.n_allowed:
            missed_out = self._pages_rows(
                not_yet_written().join(sch.order_map, "url_hash"),
                title=F.col("title"),
                author=F.col("author"),
                content=F.lit(None).cast("string"),
                had_extraction_error=F.lit(True),
                partition_id=F.lit(-1),
                fetch_ms=F.lit(0.0),
                parse_ms=F.lit(0.0),
                failed_fields=(
                    F.array([F.lit(n) for n in self._content_fields])
                    if self._content_fields
                    else F.lit(None).cast("array<string>")
                ),
                # reference catch-path message shape,
                # ContentPageExtractor.ts:180-186
                extraction_errors=F.array(
                    F.concat(
                        F.lit("Failed to extract content data for "),
                        F.col("url"),
                        F.lit(
                            f" : fetch failed after "
                            f"{self.opt.max_fetch_attempts} attempts"
                        ),
                    )
                ),
            )
            n_errors += sch.n_allowed - n_stored
            n_stored = sch.n_allowed
        n_blocked = sch.blocked.count() if sch.robots_dim is not None else 0

        self.summary.contents_crawled += n_stored
        self.summary.items_processed += n_stored
        self.summary.items_with_errors += n_errors
        self.summary.robots_blocked += n_blocked
        if missed_out is not None:
            written_dirs.append(
                scope.submit(self.wh.append, "pages", missed_out).result()
            )
        return _Content(self.spark.read.parquet(*written_dirs), n_stored, n_blocked)

    def _fetch_content(
        self, cand: DataFrame, hint: int | None, order_map: DataFrame
    ) -> DataFrame:
        """fetch → extract → merge → order-join → PAGES_OUT rows.
        Failures are ABSENT rows: html-NULL rows from returns_misses
        fetchers are dropped here so both fetcher contracts hit the same
        retry/miss machinery."""
        fc = self.fetcher.fetch(cand, size_hint=hint, stage="content").where(
            F.col("html").isNotNull()
        )
        # corpus-fetcher output is scan-partitioned (host-agnostic, already
        # balanced). Salting applies when the fetcher partitions BY host
        # (politeness-preserving HTTP fetch): there a hot domain serializes
        # one task, so spread it across SALT_FACTOR tasks first.
        if getattr(self.fetcher, "host_partitioned", False):
            fc = salt_hot_hosts(
                fc, self.spark.sparkContext.defaultParallelism * 2, SALT_FACTOR
            )
        ex = extract_content_stage(fc, self.config.content)
        failed_fields = F.filter(
            F.array(
                *[
                    F.when(F.col(f"{n}_x").isNull(), F.lit(n))
                    for n in self._content_fields
                ]
            ),
            lambda x: x.isNotNull(),
        )
        # mergeContentData semantics (ContentDataMapper.ts:8-26): content
        # page fields override listing fields where non-null
        return self._pages_rows(
            ex.join(order_map, "url_hash"),
            title=F.coalesce("title_x", "title"),
            author=F.coalesce("author_x", "author"),
            content=F.col("content_x"),
            had_extraction_error=F.size("extraction_errors") > 0,
            partition_id=F.col("partition_id"),
            fetch_ms=F.col("fetch_ms"),
            parse_ms=F.col("parse_ms"),
            failed_fields=failed_fields,
            extraction_errors=F.col("extraction_errors"),
        )

    def _pages_rows(self, df: DataFrame, **cols: Column) -> DataFrame:
        """Project ordered candidate rows onto PAGES_OUT. ``cols`` supplies
        the columns that differ between fetched rows and retry-exhausted
        misses; the rest derive from the url and the session."""
        exprs = {
            "id": F.xxhash64("url_hash"),
            "hash": F.sha1(F.col("url")),  # ContentStore.ts:106
            "source": F.lit(self.config.id),
            "crawled_at": F.lit(self.start_time),
            "created_at": F.lit(self.start_time),
            **cols,
        }
        return df.select(
            *[
                exprs[n].alias(n) if n in exprs else F.col(n)
                for n in schemas.PAGES_OUT.names
            ]
        )

    def _append_pages(self, df: DataFrame) -> tuple[str, int, int]:
        """Append pages rows; the row and error counts ride an Observation
        on the write (no separate agg job)."""
        o = Observation()
        d = self.wh.append(
            "pages",
            df.observe(
                o,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("had_extraction_error").cast("long")).alias("errs"),
            ),
        )
        vals = o.get
        return d, int(vals["n"] or 0), int(vals["errs"] or 0)

    # -- phase: lineage / commit ----------------------------------------------

    def _lineage_phase(
        self, scope: RoundScope, r: int, lst: _Listing, st: _Stats, sch: _Schedule
    ) -> tuple[Observation, DataFrame]:
        """Start the listing-side writes on the round's pool: seen_session,
        host_state, listing field_stats, link_edges (option) and the next
        frontier. They share no inputs with the content pass, so at bench
        scale ~2 s of light-job latency hides behind it. Returns the
        frontier write's per-kind Observation and the host offsets as of
        round start."""
        opt = self.opt
        # NOTE: the persistent URL-seen set IS pages.url_hash (every stored
        # row appends exactly one seen entry) — reading it as a
        # column-pruned projection of pages costs the same scan as a
        # dedicated table and saves one write job per round.
        # session_new is already distinct on url_hash (dedup_within_batch
        # window + anti-join against prior rounds) — append as-is, no
        # distinct shuffle.
        seen_sess_df = st.session_new.select("url_hash")
        if sch.sitemap_inject is not None:
            # sitemap-injected candidates are queued work: a later LISTING
            # discovery of the same url must dedup against them (they are
            # not in stored pages until their fetch round commits)
            seen_sess_df = seen_sess_df.unionByName(
                sch.sitemap_inject.select("url_hash")
            )

        # A5 listing side: per-field extraction stats aggregated from the
        # per-page struct arrays lres carries (ListingPageExtractor.ts:
        # 299-309). Missing index = currentItemOffset + local container
        # index, where currentItemOffset is metadata.itemsProcessed at
        # page-extraction time (ArticleListingCrawler.ts:50-55) — the
        # PER-CHAIN cumulative stored count: each host (= one reference
        # source chain) carries its own offset from the host_offsets
        # table, reference-exact even when many chains crawl in one
        # session (round-2 VERDICT item 6; the old global order_offset
        # leaked other chains' counts into the indices).
        lfields = self.config.listing.fields
        opt_map = F.create_map(
            *[
                c
                for name, fc in lfields.items()
                for c in (F.lit(name), F.lit(bool(fc.optional)))
            ]
        )
        # snapshot of per-host offsets BEFORE this round's counts land
        # (read resolved now; the commit phase's replace writes a fresh dir)
        prev_offsets = self.wh.read("host_offsets", schemas.HOST_OFFSETS)
        lfs_df = (
            lst.lres.select("host", F.explode("field_stats").alias("s"))
            .join(prev_offsets, "host", "left")
            .withColumn("_off", F.coalesce("items_cum", F.lit(0)))
            .select(
                F.col("s.field").alias("field_name"),
                F.col("s.success").alias("success"),
                F.col("s.attempts").alias("attempts"),
                F.transform(
                    F.col("s.missing"),
                    lambda x: (x + F.col("_off")).cast("long"),
                ).alias("missing_g"),
            )
            .groupBy("field_name")
            .agg(
                F.sum("success").alias("success_count"),
                F.sum("attempts").alias("total_attempts"),
                F.slice(
                    F.sort_array(F.flatten(F.collect_list("missing_g"))),
                    1,
                    10_000,
                ).alias("missing_items"),
            )
            .select(
                F.lit(self.session_id).alias("session_id"),
                F.lit(r).alias("round"),
                F.lit("listing").alias("stage"),
                "field_name",
                "success_count",
                "total_attempts",
                F.coalesce(opt_map[F.col("field_name")], F.lit(False)).alias(
                    "is_optional"
                ),
                "missing_items",
            )
            .select(*schemas.FIELD_STATS.names)
        )

        # frontier: remaining listing overflow + next pages + content
        # overflow — next listing pages derived DISTRIBUTED from host_round
        # (never a driver-side url list)
        next_df = self._frontier_rows(
            st.host_round.where(
                F.col("stop_reason").isNull() & F.col("next_url").isNotNull()
            ).select(
                F.col("next_url").alias("url"),
                (F.col("depth") + 1).alias("depth"),
            ),
            "listing",
        )
        new_pending = lst.overflow.unionByName(next_df).unionByName(
            sch.content_overflow
        )
        if sch.sitemap_inject is not None:
            new_pending = new_pending.unionByName(sch.sitemap_inject)
        # count the pending set BY KIND inside the write action itself
        # (Observation = zero extra jobs) — next round's broadcast gate
        obs = Observation()
        observed_pending = new_pending.select(*schemas.FRONTIER.names).observe(
            obs,
            F.sum((F.col("kind") == "listing").cast("long")).alias("n_listing"),
            F.sum((F.col("kind") == "content").cast("long")).alias("n_content"),
        )

        # per-host stop lineage (a table, not driver state)
        host_stops_df = st.host_round.where(F.col("stop_reason").isNotNull()).select(
            "host",
            F.col("depth").cast("long").alias("pages_processed"),
            F.col("stop_reason").alias("stopped_reason"),
        )
        if lst.n_failed:
            host_stops_df = host_stops_df.unionByName(
                lst.misses().select(
                    "host",
                    (F.col("depth") - 1).cast("long").alias("pages_processed"),
                    F.lit("fetch_error").alias("stopped_reason"),
                )
            )

        writes = [
            ("seen_session", seen_sess_df),
            ("host_state", host_stops_df),
            ("field_stats", lfs_df),
        ]
        if opt.prioritize_by_rank:
            # accumulate this round's observed cross-host links (distinct
            # per round; host-level, so the append is metadata-sized).
            # Same-host links are dropped — pagerank_fixed discards
            # self-loop edges anyway, so they carry zero signal.
            writes.append(
                (
                    "link_edges",
                    st.valid_items.select(
                        F.col("listing_host").alias("src_host"),
                        F.col("host").alias("dst_host"),
                    )
                    .where(F.col("src_host") != F.col("dst_host"))
                    .distinct(),
                )
            )
        for t, df in writes:
            scope.submit(self.wh.append, t, df)
        scope.submit(self.wh.replace, "frontier_pending", observed_pending)
        return obs, prev_offsets

    def _commit_phase(
        self,
        scope: RoundScope,
        r: int,
        st: _Stats,
        sch: _Schedule,
        con: _Content,
        obs: Observation,
        prev_offsets: DataFrame,
    ) -> None:
        """Write the stored-derived lineage, roll the per-chain offsets,
        wait for every write of the round, then publish props, the session
        row and the round commit."""
        stored = con.stored
        for t, df in self._stored_lineage(stored, r, st, con.n_stored):
            scope.submit(self.wh.append, t, df)
        # roll the per-chain itemsProcessed counters forward — but only
        # while some chain continues: a session whose every host stopped
        # this round can never read the offsets again, so the write is
        # skipped (one fewer job in single-round sessions; interrupted
        # sessions still write because their hosts count as continuing)
        if st.n_hosts_continuing > 0:
            scope.submit(self._roll_offsets, stored, prev_offsets)
        scope.wait()

        pending_counts = obs.get
        self.wh.set_prop("hint_listing", str(int(pending_counts["n_listing"] or 0)))
        self.wh.set_prop("hint_content", str(int(pending_counts["n_content"] or 0)))
        self.wh.set_prop("round", str(r))
        self.wh.set_prop("order_offset", str(sch.offset + con.n_stored))
        self.wh.set_prop("seen_count", str(st.seen_count + con.n_stored))
        # upper bound; only its zero/non-zero state gates the anti-join skip
        # (the +1 marks sitemap-injected rows in seen_session even on a
        # round with zero listing items)
        self.wh.set_prop(
            "session_seen_count",
            str(
                st.sess_seen_count
                + st.n_items
                + (1 if sch.sitemap_inject is not None else 0)
            ),
        )
        self.summary.listing_error_messages.extend(st.listing_messages())
        self.wh.set_prop("summary", self.summary.to_json())
        self._write_session_row(ended=False)
        self.wh.commit(f"round-{r}")

    def _roll_offsets(self, stored: DataFrame, prev_offsets: DataFrame) -> None:
        """Add the round's stored rows per host to the per-chain
        itemsProcessed offsets, in whichever tier the table lives."""
        per_host = stored.groupBy("host").agg(F.count("*").alias("items_cum"))
        if not self.wh.is_row_table("host_offsets"):
            new_offsets = (
                prev_offsets.unionByName(per_host)
                .groupBy("host")
                .agg(F.sum("items_cum").alias("items_cum"))
            )
            # force_parquet: stay in the big tier
            self.wh.replace("host_offsets", new_offsets, None, True)
            return
        # row tier: one tiny collect of per-host counts off the just-written
        # (column-pruned) pages slice, folded into the manifest map — no
        # parquet write, no read job next round (VERDICT r3 item 2)
        cur = {
            row["host"]: int(row["items_cum"] or 0)
            for row in self.wh.read_rows("host_offsets")
        }
        for row in per_host.collect():
            cur[row["host"]] = cur.get(row["host"], 0) + int(row["items_cum"])
        self.wh.replace_rows(
            "host_offsets", [{"host": h, "items_cum": c} for h, c in cur.items()]
        )

    def _stored_lineage(
        self, stored: DataFrame, r: int, st: _Stats, n_stored: int
    ) -> list[tuple[str, DataFrame]]:
        """Lineage appends derived from the round's stored pages rows:
        session_content, per-partition metrics and content field_stats."""
        sc_df = stored.select(
            F.lit(self.session_id).alias("session_id"),
            F.col("id").alias("content_id"),
            "processed_order",
            F.col("had_extraction_error").alias("had_content_extraction_error"),
        )
        # per-partition lineage metrics (north_rule)
        part_metrics = (
            stored.groupBy("partition_id")
            .agg(
                F.count("*").alias("contents_crawled"),
                F.sum("fetch_ms").alias("fetch_ms"),
                F.sum("parse_ms").alias("parse_ms"),
            )
            .select(
                F.lit(self.session_id).alias("session_id"),
                F.lit(r).alias("round"),
                "partition_id",
                F.lit(st.n_items).alias("items_found"),
                F.lit(n_stored).alias("items_processed"),
                F.lit(st.n_duplicates).alias("duplicates_skipped"),
                F.lit(st.n_excluded).alias("urls_excluded"),
                F.lit(st.n_filtered).alias("total_filtered"),
                "contents_crawled",
                "fetch_ms",
                "parse_ms",
            )
        )
        out = [
            ("session_content", sc_df),
            ("metrics", part_metrics.select(*schemas.METRICS.names)),
        ]
        # A5/W2: per-field content extraction stats with 1-based
        # missing-item indices (ContentDataMapper.ts:31-55; offset
        # semantics of ListingPageExtractor.ts:307). Index =
        # processed_order (the reference's global item counter). ONE
        # aggregation pass over stored, exploded into FIELD_STATS rows.
        names = self._content_fields
        if names:
            agg_cols = [F.count("*").alias("_ta")]
            for fname in names:
                failed = F.array_contains(F.col("failed_fields"), fname)
                agg_cols.append(
                    F.sum((~failed).cast("long")).alias(f"_sc_{fname}")
                )
                agg_cols.append(
                    F.slice(
                        F.sort_array(
                            F.collect_list(F.when(failed, F.col("processed_order")))
                        ),
                        1,
                        10_000,  # bound per-round list growth
                    ).alias(f"_mi_{fname}")
                )
            fs = stored.agg(*agg_cols).select(
                "_ta",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(fname).alias("field_name"),
                                F.col(f"_sc_{fname}").alias("success_count"),
                                F.lit(
                                    self.config.content.fields[fname].optional
                                ).alias("is_optional"),
                                F.col(f"_mi_{fname}").alias("missing_items"),
                            )
                            for fname in names
                        ]
                    )
                ).alias("f"),
            ).select(
                F.lit(self.session_id).alias("session_id"),
                F.lit(r).alias("round"),
                F.lit("content").alias("stage"),
                F.col("f.field_name").alias("field_name"),
                F.col("f.success_count").alias("success_count"),
                F.col("_ta").alias("total_attempts"),
                F.col("f.is_optional").alias("is_optional"),
                F.col("f.missing_items").alias("missing_items"),
            )
            out.append(("field_stats", fs.select(*schemas.FIELD_STATS.names)))
        return out

    # -- frontier rows --------------------------------------------------------

    def _frontier_rows(self, df: DataFrame, kind: str) -> DataFrame:
        """Complete ``df`` (at least a ``url`` column) into FRONTIER rows of
        ``kind``. The url-derived columns are added when missing; depth,
        listing_order, title, author and published_date are kept when
        ``df`` carries them, else default to a depth-1, first-position
        row with no listing fields."""
        if "url_hash" not in df.columns:
            df = self._with_url_cols(df)
        defaults = {
            "depth": F.lit(1),
            "priority": F.lit(0.0),
            "discovered_ts": F.lit(self.start_time),
            "state": F.lit("pending"),
            "attempts": F.lit(0),
            "source_id": F.lit(self.config.id),
            "kind": F.lit(kind),
            "listing_order": F.lit(0).cast("long"),
            "title": F.lit(None).cast("string"),
            "author": F.lit(None).cast("string"),
            "published_date": F.lit(None).cast("string"),
        }
        for n in ("depth", "listing_order", "title", "author", "published_date"):
            if n in df.columns:
                del defaults[n]
        return df.select(
            *[
                defaults[n].alias(n) if n in defaults else F.col(n)
                for n in schemas.FRONTIER.names
            ]
        )

    def _session_stop_reason(self) -> str:
        reasons = set(self.summary.host_stops.keys())
        for pick in ("max_pages", "all_duplicates", "no_next_button"):
            if pick in reasons:
                return pick
        return "no_next_button"

    def _write_session_row(self, ended: bool) -> None:
        # finalized runs carry the reason computed in _finalize (which may
        # be process_interrupted — never derivable from host stops alone)
        reason = (self.summary.stopped_reason or None) if ended else None
        # sessions history is metadata-sized → manifest row table, upserted
        # by id: every past session survives (reference SQLite sessions
        # table, listed by `ethos sessions`) and no Spark job runs per round
        self.wh.upsert_rows(
            "sessions",
            {
                "id": self.session_id,
                "source_id": self.config.id,
                "source_name": self.config.name,
                "start_time": self.start_time,
                "end_time": self.start_time if ended else None,
                "metadata": self.summary.to_json(),
                "stopped_reason": reason,
            },
            key="id",
        )

    def _collect_content_errors(self) -> None:
        """Derive the session's bounded contentErrors list (reference
        core/types.ts:166, message format ContentPageExtractor.ts:176-179)
        from STORAGE: one column-pruned scan of this session's pages rows
        (crawled_at == session start) at finalize — write-once-derive-from-
        storage, zero per-round jobs."""
        if not self.summary.items_with_errors:
            return
        try:
            pages = self.wh.read("pages", schemas.PAGES_OUT)
        except KeyError:
            return
        if "extraction_errors" not in pages.columns:
            return  # legacy warehouse written before the column existed
        rows = (
            pages.where(
                (F.col("crawled_at") == F.lit(self.start_time))
                & F.col("had_extraction_error")
            )
            .select(
                F.concat(
                    F.lit("Content extraction failed for "),
                    F.col("url"),
                    F.lit(" : "),
                    F.coalesce(
                        F.array_join("extraction_errors", ", "), F.lit("")
                    ),
                ).alias("m"),
                "processed_order",
            )
            # PROCESSING order, not message order: the reference's
            # contentErrors list preserves insertion order, which also
            # decides WHICH messages survive the cap (round-3 ADVICE)
            .sort("processed_order")
            .limit(MAX_ERROR_MESSAGES)
            .collect()
        )
        self.summary.content_error_messages = [r.m for r in rows]

    def _finalize(self) -> None:
        self.summary.stopped_reason = (
            "process_interrupted"  # StoppedReason.PROCESS_INTERRUPTED
            if self._interrupted
            else self._session_stop_reason()
        )
        self._collect_content_errors()
        self._write_session_row(ended=True)
        self.wh.set_prop("summary", self.summary.to_json())
        self.wh.commit("final")
        # release fetcher resources (bucketed CorpusFetcher keeps its last
        # staged candidate table + data dir alive until told otherwise)
        close = getattr(self.fetcher, "close", None)
        if callable(close):
            close()
