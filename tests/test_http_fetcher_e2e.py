"""Production HttpFetcher driven end-to-end over a real socket: a loopback
stdlib HTTP server serves the synthetic corpus through the fetcher's
gateway knob (the sandbox analogue of the reference's live integration
suites, src/tests/integration/torrent_freak-integration.test.ts:76-79).

Asserts (VERDICT r2 top item):
(a) pages/lineage output identical to the CorpusFetcher run,
(b) per-host request serialization + politeness delay actually observed
    (server-side arrival timestamps),
(c) retry ×3: an injected transient 5xx recovers in-round; a permanent
    5xx exhausts the attempts and stores the item as an extraction error.
"""

import pytest
import pyspark.sql.functions as F

from ethos_spark.catalog import Warehouse
from ethos_spark.crawl.fetcher import CorpusFetcher, HttpFetcher
from ethos_spark.crawl.runner import CrawlOptions, CrawlRunner
from ethos_spark.session import get_spark
from ethos_spark.sources.config import SYNTH_SOURCE
from ethos_spark.synth import build_pages_df, listing_url

from tests.corpus_server import CorpusHTTPServer

N_HOSTS, N_ARTICLES = 3, 45
DELAY = 0.05

PAGE_COLS = [
    "processed_order", "id", "hash", "url", "url_hash", "host",
    "title", "author", "published_date", "content", "had_extraction_error",
]


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-httpfetch", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def corpus_df(spark):
    df = build_pages_df(spark, N_HOSTS, N_ARTICLES).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def url_map(corpus_df):
    return {r.url: bytes(r.html) for r in corpus_df.select("url", "html").collect()}


def _crawl(spark, tmp_path, name, fetcher, **opt):
    wh = Warehouse(spark, str(tmp_path / name))
    runner = CrawlRunner(spark, wh, fetcher, SYNTH_SOURCE, CrawlOptions(**opt))
    runner.seed([listing_url(h, 1) for h in range(N_HOSTS)])
    return wh, runner.run()


def _pages(wh):
    return [
        tuple(r[c] for c in PAGE_COLS)
        for r in wh.read("pages").orderBy("processed_order").collect()
    ]


def test_http_fetcher_parity_and_politeness(spark, tmp_path, corpus_df, url_map):
    srv = CorpusHTTPServer(url_map).start()
    try:
        wh_a, sum_a = _crawl(spark, tmp_path, "wh_corpus", CorpusFetcher(corpus_df))
        wh_b, sum_b = _crawl(
            spark, tmp_path, "wh_http",
            HttpFetcher(timeout_sec=10.0, delay_sec=DELAY, gateway=srv.gateway),
        )
    finally:
        srv.stop()

    # (a) identical pages output, row for row, over every payload column
    assert _pages(wh_a) == _pages(wh_b)
    # lineage junction parity
    j_a = sorted(
        (r.content_id, r.processed_order, r.had_content_extraction_error)
        for r in wh_a.read("session_content").collect()
    )
    j_b = sorted(
        (r.content_id, r.processed_order, r.had_content_extraction_error)
        for r in wh_b.read("session_content").collect()
    )
    assert j_a == j_b
    # counter + stop parity (fetch_retries legitimately differs: the
    # corpus fetcher is deterministic and skips retry waves)
    for k in (
        "items_processed", "duplicates_skipped", "urls_excluded",
        "total_filtered", "contents_crawled", "pages_processed",
        "items_with_errors", "stopped_reason",
    ):
        assert getattr(sum_a, k) == getattr(sum_b, k), k
    seen_a = {r.url_hash for r in wh_a.read("seen_session").collect()}
    seen_b = {r.url_hash for r in wh_b.read("seen_session").collect()}
    assert seen_a == seen_b

    # (b) politeness is LISTING-scoped (reference PaginationHandler.ts:58-63
    # delays between listing pages only; content fans out concurrently,
    # ConcurrentContentExtractor.ts:67-168): consecutive *listing* requests
    # to the same host are separated by at least the delay (server-side
    # arrivals; small tolerance for clock granularity), and the per-host
    # in-flight concurrency never exceeded HIGH_PERFORMANCE_LIMIT=8
    by_host = srv.per_host_hits()
    assert set(by_host) == {f"news-{h}.example.org" for h in range(N_HOSTS)}
    n_gaps = n_content = 0
    for host, hits in by_host.items():
        ltimes = [t for t, u in hits if "/list/" in u]
        n_content += sum(1 for _, u in hits if "/list/" not in u)
        gaps = [b - a for a, b in zip(ltimes, ltimes[1:])]
        n_gaps += len(gaps)
        assert all(g >= DELAY * 0.9 for g in gaps), (host, min(gaps))
        assert srv.max_inflight[host] <= 8, (host, srv.max_inflight[host])
    assert n_gaps >= N_HOSTS  # several listing pages per chain hit the socket
    assert n_content > 30  # the content crawl really went through the socket


def test_http_fetcher_retry_transient_and_permanent(
    spark, tmp_path, corpus_df, url_map
):
    # pick two clean article URLs that the crawl will schedule: present in
    # the corpus, normal path, reachable from host 0's listing chain
    from ethos_spark.synth import (
        listing_items_spec,
        zipf_article_counts,
    )

    count0 = zipf_article_counts(N_HOSTS, N_ARTICLES)[0]
    clean = []
    for p in (1, 2):
        seen_on_page = set()
        for it in listing_items_spec(0, p, count0):
            u = it["url"]
            ok = (
                not it["omit_url"] and not it["omit_title"]
                and not it["external"]
                and "/press-release/" not in u and "/ghost-" not in u
                and u in url_map and u not in seen_on_page
            )
            seen_on_page.add(u)
            if ok:
                clean.append(u)
    transient_url, permanent_url = clean[0], clean[1]

    srv = CorpusHTTPServer(
        url_map,
        fail_first={transient_url: 2},  # 500 twice, succeed on attempt 3
        always_fail={permanent_url},
    ).start()
    try:
        wh, summary = _crawl(
            spark, tmp_path, "wh_retry",
            HttpFetcher(timeout_sec=10.0, delay_sec=0.0, gateway=srv.gateway),
        )
    finally:
        srv.stop()

    rows = {r.url: r for r in wh.read("pages").collect()}
    # transient: recovered in-round, real content, no error flag, and the
    # pre-assigned processed_order was kept (inline-retry semantics)
    assert rows[transient_url].content and not rows[transient_url].had_extraction_error
    assert srv.counts[transient_url] == 3
    # permanent: all attempts exhausted → stored as an extraction error
    assert rows[permanent_url].content is None
    assert rows[permanent_url].had_extraction_error
    assert srv.counts[permanent_url] == 3
    assert summary.fetch_retries >= 2


def test_content_stage_concurrency_listing_stays_serial(spark, corpus_df, url_map):
    """Content fetches fan out through the per-host pool (≤8 in flight, no
    politeness delay — ConcurrentContentExtractor.ts:67-168, constants.ts:
    16-21); listing fetches stay strictly serial with the delay
    (PaginationHandler.ts:58-63). Asserted from the server's side via
    injected response latency + in-flight accounting."""
    host0 = "news-0.example.org"
    content_urls = [u for u in url_map if "/list/" not in u and host0 in u][:16]
    listing_urls = [u for u in url_map if "/list/" in u and host0 in u][:4]
    assert len(content_urls) >= 8 and len(listing_urls) >= 3

    srv = CorpusHTTPServer(url_map).start()
    srv.latency_sec = 0.15
    fetcher = HttpFetcher(timeout_sec=10.0, delay_sec=0.1, gateway=srv.gateway)
    try:
        cdf = spark.createDataFrame(
            [(u, host0) for u in content_urls], "url string, host string"
        )
        out = fetcher.fetch(cdf, stage="content").collect()
        assert len(out) == len(content_urls)
        assert all(r.html is not None for r in out)
        # timed on the server side, so Spark job latency does not count:
        # an 8-way pool over 16 urls at 0.15 s latency sends its second
        # wave ≈ 0.15 s after the first; serial arrivals would span
        # 15 × 0.15 s. Bound: < 25% of that serial span.
        wanted = set(content_urls)
        arrivals = [t for t, u in srv.per_host_hits()[host0] if u in wanted]
        assert len(arrivals) == len(content_urls)
        span = max(arrivals) - min(arrivals)
        serial_span = (len(content_urls) - 1) * srv.latency_sec
        assert span < 0.25 * serial_span, span
        assert 2 <= srv.max_inflight[host0] <= 8, srv.max_inflight[host0]

        # listing stage: serial + delayed, never overlapping
        srv.max_inflight.clear()
        ldf = spark.createDataFrame(
            [(u, host0) for u in listing_urls], "url string, host string"
        )
        lout = fetcher.fetch(ldf, stage="listing").collect()
        assert all(r.html is not None for r in lout)
        assert srv.max_inflight[host0] == 1
        ltimes = sorted(t for t, u in srv.per_host_hits()[host0] if "/list/" in u)
        gaps = [b - a for a, b in zip(ltimes, ltimes[1:])]
        assert gaps and all(g >= fetcher.delay_sec * 0.9 for g in gaps), gaps
    finally:
        srv.stop()
