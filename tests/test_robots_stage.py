"""Per-host robots.txt fetch stage + Sitemap bootstrap (VERDICT r4 item 2).

Loopback e2e: the production HttpFetcher crawls a site whose robots.txt
carries BOTH a Disallow rule and a ``Sitemap:`` line. With
``fetch_robots=True`` the runner must (a) fetch robots.txt exactly once
per host per session (politeness-exempt content stage), (b) gate the
disallowed candidate, and (c) resolve the sitemap through
``discover_seed_urls`` and crawl the sitemap-only page.
"""

import pytest
import pyspark.sql.functions as F

from ethos_spark.catalog import Warehouse
from ethos_spark.crawl.fetcher import CorpusFetcher, HttpFetcher
from ethos_spark.crawl.runner import CrawlOptions, CrawlRunner
from ethos_spark.session import get_spark
from ethos_spark.sources.config import SYNTH_SOURCE

from tests.corpus_server import CorpusHTTPServer

HOST = "site-a.example.org"


def _item(url, title):
    return (
        f'<div class="post-item"><span class="post-title">{title}</span>'
        f'<a class="post-link" href="{url}">read</a>'
        '<span class="post-date">2024-01-05</span>'
        '<span class="post-author">Ann Author</span></div>'
    )


def _listing(items, next_path=None):
    nxt = (
        f'<div class="pagination"><a class="next" href="{next_path}">next</a></div>'
        if next_path
        else ""
    )
    return (
        f'<html><body><div class="post-list">{"".join(items)}</div>{nxt}'
        "</body></html>"
    )


def _article(title):
    return (
        '<html><body><div id="main">'
        f"<header><h1>{title}</h1></header>"
        '<div class="byline">By Ann Author</div>'
        f'<div class="article-body"><p>Body of {title}.</p></div>'
        "</div></body></html>"
    )


def _u(path):
    return f"https://{HOST}{path}"


ROBOTS_TXT = (
    "User-agent: *\n"
    "Disallow: /private\n"
    f"Sitemap: {_u('/sitemap.xml')}\n"
)

SITEMAP_XML = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
    f"<url><loc>{_u('/item/1')}</loc></url>"  # dup of a listing item
    f"<url><loc>{_u('/extra/1')}</loc></url>"  # sitemap-only page
    f"<url><loc>{_u('/private/secret')}</loc></url>"  # disallowed
    "</urlset>"
)


def _url_map():
    return {
        _u("/robots.txt"): ROBOTS_TXT.encode(),
        _u("/sitemap.xml"): SITEMAP_XML.encode(),
        _u("/list/1"): _listing(
            [_item(_u("/item/1"), "I1"), _item(_u("/private/secret"), "S")],
            "/list/2",
        ).encode(),
        _u("/list/2"): _listing([_item(_u("/item/2"), "I2")]).encode(),
        _u("/item/1"): _article("I1").encode(),
        _u("/item/2"): _article("I2").encode(),
        _u("/extra/1"): _article("Extra").encode(),
        _u("/private/secret"): _article("S").encode(),
    }


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-robots-stage", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def test_loopback_robots_disallow_and_sitemap_honored(spark, tmp_path):
    jsc = spark.sparkContext._jsc
    cached_before = jsc.getPersistentRDDs().size()
    srv = CorpusHTTPServer(_url_map()).start()
    try:
        wh = Warehouse(spark, str(tmp_path / "wh"))
        runner = CrawlRunner(
            spark,
            wh,
            HttpFetcher(timeout_sec=10.0, delay_sec=0.05, gateway=srv.gateway),
            SYNTH_SOURCE,
            CrawlOptions(fetch_robots=True),
        )
        runner.seed([_u("/list/1")])
        summary = runner.run()
    finally:
        srv.stop()
    # the sitemap bootstrap caches through the round's scope: nothing of
    # the rounds stays pinned after the run
    assert jsc.getPersistentRDDs().size() == cached_before

    urls = {
        r.url: r.processed_order
        for r in wh.read("pages").select("url", "processed_order").collect()
    }
    # disallow honored: /private/secret never stored…
    assert set(urls) == {_u("/item/1"), _u("/item/2"), _u("/extra/1")}
    assert summary.robots_blocked >= 1
    # …and never even REQUESTED (server-side ground truth)
    assert srv.counts[_u("/private/secret")] == 0
    # robots fetched exactly once per host per session (cached), despite
    # the crawl running multiple rounds
    assert srv.counts[_u("/robots.txt")] == 1
    assert srv.counts[_u("/sitemap.xml")] == 1
    assert summary.rounds >= 2
    # sitemap-only page crawled via the bootstrap; the listing-duplicate
    # sitemap entry did NOT double-store /item/1
    assert len(urls) == 3
    assert sorted(urls.values()) == [1, 2, 3]
    # parsed rules landed in the session state table
    rules = {r.host: list(r.disallow) for r in wh.read("robots_rules").collect()}
    assert rules[HOST] == ["/private"]


def test_corpus_fetcher_robots_stage_and_miss_cache(spark, tmp_path):
    """Same stage through the deterministic CorpusFetcher; a host WITHOUT
    robots.txt caches an empty rule set (no per-round refetch)."""
    m = _url_map()
    del m[_u("/robots.txt")]  # no robots on this host → everything allowed
    corpus = spark.createDataFrame(
        [(u, bytearray(b)) for u, b in m.items()], "url string, html binary"
    )
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    runner = CrawlRunner(
        spark,
        wh,
        CorpusFetcher(corpus),
        SYNTH_SOURCE,
        CrawlOptions(fetch_robots=True),
    )
    runner.seed([_u("/list/1")])
    summary = runner.run()
    urls = {r.url for r in wh.read("pages").select("url").collect()}
    # no robots → nothing blocked, no sitemap bootstrap (the Sitemap line
    # lived in robots.txt), private page stored like any other
    assert urls == {_u("/item/1"), _u("/item/2"), _u("/private/secret")}
    assert summary.robots_blocked == 0
    rules = {r.host: list(r.disallow) for r in wh.read("robots_rules").collect()}
    assert rules == {HOST: []}  # miss cached as empty rules


def test_static_dim_with_fetch_robots_no_duplicates(spark, tmp_path):
    """Code-review r5: a static robots dim + fetch_robots=True must not
    produce two rules rows per host (the gate's left join would then
    duplicate every candidate). Static rules are authoritative: the
    host's live robots.txt is never fetched and the static Disallow is
    honored even though the live file would allow the path."""
    from ethos_spark.crawl.robots import robots_table

    m = _url_map()
    # live robots.txt allows everything (empty rules)
    m[_u("/robots.txt")] = b"User-agent: *\nDisallow:\n"
    srv = CorpusHTTPServer(m).start()
    try:
        static = robots_table(spark, {HOST: "User-agent: *\nDisallow: /item\n"})
        wh = Warehouse(spark, str(tmp_path / "wh3"))
        runner = CrawlRunner(
            spark,
            wh,
            HttpFetcher(timeout_sec=10.0, delay_sec=0.05, gateway=srv.gateway),
            SYNTH_SOURCE,
            CrawlOptions(fetch_robots=True),
            robots=static,
        )
        runner.seed([_u("/list/1")])
        summary = runner.run()
    finally:
        srv.stop()
    rows = wh.read("pages").select("url", "processed_order").collect()
    urls = [r.url for r in rows]
    # static /item disallow honored; no page stored twice
    assert len(urls) == len(set(urls))
    assert not any("/item/" in u for u in urls)
    assert _u("/private/secret") in urls  # live rules never fetched
    assert srv.counts[_u("/robots.txt")] == 0  # static host not refetched
    assert summary.robots_blocked >= 2
