"""Fetch stage: attach page bytes to scheduled frontier rows.

The reference fetches with a headless browser (BrowserHandler.ts:13-68);
no network exists in this sandbox, so the default fetcher resolves URLs
against the synthetic corpus table — the same join shape a WARC-backed
fetch would use at 100 TB (url-keyed lookup into the pages store). A real
HTTP fetcher slots in behind the same interface as a ``mapInPandas``
stage over host-partitioned batches (SURVEY.md §7.3 "No real network").
"""

from __future__ import annotations

import time
from typing import Iterator, Protocol

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# Row-count gate of the fetch join, read only by CorpusFetcher.fetch: a
# fetch whose caller-known candidate bound is at most this many rows
# broadcasts its LIGHT candidate rows (url + a few key columns, ~150 MB at
# 1M rows); above it (multi-million-URL rounds, where a forced broadcast
# of every scheduled URL is a driver/executor OOM at the design point) the
# fetch takes the bucketed or bloom-prefiltered tier. Read at call time,
# so setting it to 0 forces every round past the gate.
BROADCAST_MAX_ROWS = 1_000_000


class Fetcher(Protocol):
    def fetch(
        self,
        candidates: DataFrame,
        size_hint: int | None = None,
        stage: str = "content",
    ) -> DataFrame:
        """candidates (must contain ``url``) → same rows + ``html`` binary
        (NULL = fetch failure) + ``fetch_ms`` double, the measured per-row
        fetch time (NULL when the fetcher times no request).
        ``size_hint``: caller-known upper bound on the candidate row count
        (the politeness window size) — lets the fetcher pick broadcast vs
        shuffle join without an extra count job.
        ``stage``: ``"listing"`` or ``"content"`` — network fetchers apply
        the politeness delay only between listing pages and fan content
        requests out concurrently per host (the reference's model:
        PaginationHandler.ts:58-63 delays between listing pages only;
        ConcurrentContentExtractor.ts:67-168 runs content pages through a
        pool of up to HIGH_PERFORMANCE_LIMIT=8 concurrent tabs,
        constants.ts:16-21)."""
        ...


class CorpusFetcher:
    """Deterministic lookup into a corpus DataFrame (url, html).

    ``host_partitioned = False``: output partitioning is the corpus scan
    (host-agnostic, balanced) — no hot-host salting needed downstream.
    A lookup is not a timed request, so ``fetch_ms`` is NULL.

    Join strategy is SIZE-GATED on the caller's ``size_hint``; this method
    is the one reader of the ``BROADCAST_MAX_ROWS`` gate (the crawl round
    feeds it the ordered candidate rows and needs no join of its own):

    - hint ≤ ``BROADCAST_MAX_ROWS``: broadcast the candidate side; the
      corpus scan stays partition-local and the html column never
      shuffles.
    - hint above the gate (multi-million-URL rounds — a forced broadcast
      of every scheduled URL is a driver/executor OOM at the design
      point): build a BLOOM filter over the candidate urls (~1.2 MB per
      million urls), filter the corpus scan partition-locally with it,
      and shuffle-join only the surviving ~candidate-sized slice. One
      shuffle of exactly the pages being fetched — never of the whole
      corpus. (A naive shuffle join here was measured to sort-merge the
      entire corpus html: 168 s → 234 s on the 638k-URL scaling round.)
      Bloom sizing uses the hint but correctness never depends on it:
      false positives are dropped by the join, false negatives are
      impossible (the filter is built from the actual candidate rows).
    - no hint: plain equi-join (Catalyst/AQE picks).

    **Bucketed tier (the 100 TB layout)**: when ``bucketed_table`` names a
    catalog table bucketed on ``url`` (see ``register_bucketed_corpus``),
    candidate batches above the broadcast gate are STAGED as a co-bucketed
    external table (a bucketed write is shuffle-free — each task hash-routes
    rows to per-bucket files locally) and the fetch join runs
    table-to-table with ZERO exchanges: the corpus html never moves, and
    unlike the bloom tier, not even the candidate slice shuffles. One tiny
    staged write of light candidate rows replaces the join's exchange
    entirely (tests/test_warehouse_bucketed.py asserts the plan).
    """

    host_partitioned = False
    # fetch misses are ABSENT from the output (inner join; the crawl loop
    # treats an absent row and an html-NULL row alike). The outer-join
    # alternative forces a sort-merge join that shuffles every fetched
    # html body onto shuffle.partitions tasks — measured to serialize the
    # extract stage.
    #
    # a corpus/WARC lookup cannot transiently fail: a miss is permanent,
    # so the crawl loop skips its retry waves (each wave re-scans the
    # corpus — measured ~14 s/round of pure waste at the scaling workload,
    # since the synthetic corpus plants dead links by design). Real
    # network fetchers set this False and get the full retry ladder.
    deterministic = True

    def __init__(
        self,
        corpus: DataFrame,
        bucketed_table: str | None = None,
        bucket_count: int = 64,
        stage_dir: str | None = None,
        owns_stage_dir: bool = False,
    ):
        self._corpus = corpus.select("url", "html")
        # built once: a crawl round fetches at least twice, and each F.*
        # call is a round of driver-thread Py4J commands
        self._no_fetch_ms = F.lit(None).cast("double")
        self._bucketed_table = bucketed_table
        self._bucket_count = bucket_count
        self._stage_dir = stage_dir
        # only delete stage_dir on close() when WE created it (a
        # caller-supplied dir is user-owned; rmtree'ing it would destroy
        # their data) — register_bucketed_corpus passes True for its
        # private tempdir
        self._owns_stage_dir = owns_stage_dir
        # staged candidate (table, data_dir) pairs, oldest first
        self._stages: list[tuple[str, str]] = []

    @classmethod
    def register_bucketed_corpus(
        cls,
        corpus: DataFrame,
        name: str,
        path: str,
        n_buckets: int = 64,
    ) -> "CorpusFetcher":
        """One-time corpus layout: write (url, html) bucketed+sorted by url
        as an external catalog table and return a fetcher wired to it. At
        production scale this is the WARC/pages store's standing layout
        (Iceberg ``bucket(N, url)``), done once at ingest — not a per-query
        cost."""
        spark = corpus.sparkSession
        (
            corpus.select("url", "html")
            # one shuffle AT INGEST buys exactly one file per bucket
            # (repartition and bucket id are both pmod(murmur3, n)), which
            # is the layout Spark's merge join reads WITHOUT a sort node —
            # otherwise every fetch round re-sorts the whole corpus side
            .repartition(n_buckets, F.col("url"))
            .write.mode("overwrite")
            .bucketBy(n_buckets, "url")
            .sortBy("url")
            .option("path", path)
            .saveAsTable(name)
        )
        import tempfile

        return cls(
            spark.table(name),
            bucketed_table=name,
            bucket_count=n_buckets,
            stage_dir=tempfile.mkdtemp(prefix="ethos-fetch-stage-"),
            owns_stage_dir=True,
        )

    def _fetch_bucketed(self, cand: DataFrame) -> DataFrame:
        """Stage candidates co-bucketed with the corpus table and join
        table-to-table — zero exchanges end-to-end."""
        import os
        import uuid

        spark = cand.sparkSession
        # previous rounds' stages have been consumed by their writes; keep
        # only the most recent one live (lazy consumers downstream). DROP
        # TABLE on an external table only removes the catalog entry, so the
        # data dir is deleted explicitly — otherwise a long crawl leaks one
        # candidate copy per round into stage_dir.
        import shutil

        while len(self._stages) > 1:
            name, path = self._stages.pop(0)
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(path, ignore_errors=True)
        stage = f"ethos_fetch_stage_{uuid.uuid4().hex[:12]}"
        stage_path = os.path.join(self._stage_dir, stage)
        (
            cand.write.bucketBy(self._bucket_count, "url")
            .sortBy("url")
            .option("path", stage_path)
            .saveAsTable(stage)
        )
        self._stages.append((stage, stage_path))
        return spark.table(self._bucketed_table).select("url", "html").join(
            spark.table(stage), "url"
        )

    def close(self) -> None:
        """Drop any still-registered candidate stage tables and their data
        dirs (DROP TABLE on an external table removes only the catalog
        entry). Called from the runner's finalize so a finished crawl
        leaves neither catalog entries nor temp dirs behind."""
        import shutil

        spark = self._corpus.sparkSession
        while self._stages:
            name, path = self._stages.pop(0)
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(path, ignore_errors=True)
        if self._stage_dir is not None and self._owns_stage_dir:
            shutil.rmtree(self._stage_dir, ignore_errors=True)

    def fetch(
        self,
        candidates: DataFrame,
        size_hint: int | None = None,
        stage: str = "content",
    ) -> DataFrame:
        cand = candidates
        if size_hint is not None and size_hint <= BROADCAST_MAX_ROWS:
            # corpus ⋈ broadcast(candidates) in ONE hash join: the html
            # column never shuffles and the output keeps the corpus scan's
            # partitioning. (An earlier two-step — broadcast url-set
            # semi-join, then broadcast the full candidate row — built two
            # driver-side broadcast relations per fetch; the relation build
            # is serial driver time, ~2s per 240k rows, and showed up
            # directly in the scaling-efficiency gap.)
            out = self._corpus.join(F.broadcast(cand), "url")
        elif self._bucketed_table is not None:
            out = self._fetch_bucketed(cand)
        elif size_hint is not None:
            from ethos_spark.crawl.dedup import BloomFilter

            bloom = BloomFilter.build(
                cand.select("url"), "url", max(size_hint, 1024), 0.01
            )
            probe = bloom.might_contain_udf(cand.sparkSession)
            reduced = self._corpus.where(
                probe(
                    F.xxhash64(F.col("url")),
                    F.xxhash64(F.lit("ethos-salt"), F.col("url")),
                )
            )
            out = cand.join(reduced, "url")
        else:
            out = cand.join(self._corpus, "url")
        return out.withColumn("fetch_ms", self._no_fetch_ms)


class HttpFetcher:
    """Real-network fetcher: an Arrow-batched ``mapInPandas`` over
    host-partitioned candidates, stdlib ``urllib`` per request.

    Politeness follows the reference's model exactly:

    - **listing** pages are fetched serially per host with ``delay_sec``
      between consecutive requests (PaginationHandler.ts:58-63 — the delay
      sits between listing pages only);
    - **content** pages fan out through a per-host pool of up to
      ``concurrency`` (= HIGH_PERFORMANCE_LIMIT, 8) concurrent requests
      with NO politeness delay (ConcurrentContentExtractor.ts:67-168,
      constants.ts:16-21). One host's URLs land in one Spark task (the
      ``repartition(host)`` below), so the in-task pool bound IS the
      per-host concurrency guarantee — tasks never share a host.

    ``gateway``: optional fetch-gateway base URL — when set, each request
    goes to ``gateway + urlquote(url)`` while the row keeps its original
    ``url``. This is the standard smart-proxy / WARC-gateway shape (the
    fetch service resolves the real URL); it is also what lets the full
    production path run against a loopback HTTP server in tests
    (tests/test_http_fetcher_e2e.py — the sandbox analogue of the
    reference's live integration suites,
    src/tests/integration/torrent_freak-integration.test.ts:76-79).

    Every candidate row comes back: non-2xx responses and transport
    errors both yield html=NULL, which the crawl loop treats as a miss;
    its in-round retry waves re-fetch misses up to max_fetch_attempts
    (deterministic=False)."""

    host_partitioned = True  # batches arrive grouped by host (politeness)
    deterministic = False  # network failures are transient → retry

    def __init__(
        self,
        timeout_sec: float = 60.0,
        delay_sec: float = 1.0,
        gateway: str | None = None,
        concurrency: int = 8,  # HIGH_PERFORMANCE_LIMIT (constants.ts:16-21)
    ):
        self.timeout_sec = timeout_sec
        self.delay_sec = delay_sec
        self.gateway = gateway
        self.concurrency = concurrency

    def fetch(
        self,
        candidates: DataFrame,
        size_hint: int | None = None,
        stage: str = "content",
    ) -> DataFrame:
        timeout, delay, gateway = self.timeout_sec, self.delay_sec, self.gateway
        pool_size = max(1, self.concurrency) if stage == "content" else 1
        # enforce the host_partitioned contract: hash-partition on host so
        # one host's URLs land in one task and the in-task pool bound /
        # inter-request delay actually applies per host (politeness
        # guarantee the flag advertises); without this the candidates
        # arrive on whatever partitioning the frontier scan produced
        if "host" in candidates.columns:
            candidates = candidates.repartition(F.col("host"))

        def _get(url: str) -> tuple[bytes | None, float]:
            import urllib.parse
            import urllib.request

            req_url = gateway + urllib.parse.quote(url, safe="") if gateway else url
            t0 = time.monotonic()
            try:
                with urllib.request.urlopen(req_url, timeout=timeout) as r:
                    body = r.read()
            except Exception:
                body = None
            return body, (time.monotonic() - t0) * 1000.0

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from concurrent.futures import ThreadPoolExecutor

            for pdf in batches:
                urls = list(pdf["url"])
                if pool_size > 1 and len(urls) > 1:
                    # content stage: per-host fan-out, ≤ pool_size in
                    # flight per host group, no delay between requests.
                    # Group by host so a rare multi-host batch still holds
                    # the limit PER HOST, not just per task; executor.map
                    # preserves input order.
                    hosts = (
                        list(pdf["host"])
                        if "host" in pdf.columns
                        else [""] * len(urls)
                    )
                    results: list[tuple[bytes | None, float]] = [None] * len(urls)  # type: ignore[list-item]
                    by_host: dict[str, list[int]] = {}
                    for i, h in enumerate(hosts):
                        by_host.setdefault(h, []).append(i)
                    for idxs in by_host.values():
                        with ThreadPoolExecutor(
                            max_workers=min(pool_size, len(idxs))
                        ) as ex:
                            for i, res in zip(
                                idxs, ex.map(_get, [urls[i] for i in idxs])
                            ):
                                results[i] = res
                    htmls = [r[0] for r in results]
                    times = [r[1] for r in results]
                else:
                    # listing stage: strictly serial per host, politeness
                    # delay BEFORE each request — in the round-based loop a
                    # host fetches one listing page per round, so the
                    # pre-request sleep is what spaces consecutive listing
                    # pages of the same chain across rounds (the reference
                    # delays between listing pages, PaginationHandler.ts:58)
                    htmls, times = [], []
                    for url in urls:
                        if delay:
                            time.sleep(delay)
                        body, ms = _get(url)
                        htmls.append(body)
                        times.append(ms)
                pdf = pdf.copy()
                pdf["html"] = htmls
                pdf["fetch_ms"] = times
                yield pdf

        import pyspark.sql.types as T

        schema = T.StructType(
            candidates.schema.fields
            + [T.StructField("html", T.BinaryType()),
               T.StructField("fetch_ms", T.DoubleType())]
        )
        return candidates.mapInPandas(run, schema)
