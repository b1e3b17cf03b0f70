"""End-to-end crawl-engine parity vs the sequential reference simulator
(north_rule: crawl ordering + URL-seen set must match under the same seed
list + politeness budget)."""

import dataclasses

import pytest
import pyspark.sql.functions as F

from ethos_spark.catalog import Warehouse
from ethos_spark.crawl.fetcher import CorpusFetcher
from ethos_spark.crawl.reference_sim import build_corpus, simulate_crawl
from ethos_spark.crawl.runner import CrawlOptions, CrawlRunner
from ethos_spark.session import get_spark
from ethos_spark.sources.config import SYNTH_SOURCE
from ethos_spark.synth import build_pages_df, listing_url

N_HOSTS, N_ARTICLES = 4, 80


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-crawl", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def corpus_df(spark):
    df = build_pages_df(spark, N_HOSTS, N_ARTICLES).cache()
    df.count()
    return df


@pytest.fixture()
def warehouse(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _run_crawl(spark, warehouse, corpus_df, seeds, **opt):
    runner = CrawlRunner(
        spark,
        warehouse,
        CorpusFetcher(corpus_df),
        SYNTH_SOURCE,
        CrawlOptions(**opt),
    )
    runner.seed(seeds)
    return runner, runner.run()


def _sim(host, **kw):
    corpus = build_corpus(N_HOSTS, N_ARTICLES)
    cfg = dataclasses.replace(
        SYNTH_SOURCE,
        listing=dataclasses.replace(
            SYNTH_SOURCE.listing, url=listing_url(host, 1)
        ),
    )
    return simulate_crawl(corpus, cfg, **kw)


def test_single_host_full_parity(spark, warehouse, corpus_df):
    """Engine over one host == reference loop: ordering, payloads, counters,
    seen set, stop reason."""
    runner, summary = _run_crawl(spark, warehouse, corpus_df, [listing_url(0, 1)])
    sim = _sim(0)

    # pages carries processed_order natively; cross-check vs the junction
    eng = warehouse.read("pages").orderBy("processed_order").collect()
    junction = {
        r.content_id: r.processed_order
        for r in warehouse.read("session_content").collect()
    }
    assert all(junction[e.id] == e.processed_order for e in eng)
    assert len(eng) == len(sim.items) == sim.items_processed
    for e, s in zip(eng, sim.items):
        assert e.processed_order == s.processed_order
        assert e.url == s.url
        assert e.title == s.title
        assert (e.content or None) == s.content  # byte-identical markdown
        assert (e.author or None) == s.author
        assert (e.published_date or None) == s.published_date
        assert e.had_extraction_error == s.had_content_extraction_error

    assert summary.items_processed == sim.items_processed
    assert summary.pages_processed == sim.pages_processed
    assert summary.duplicates_skipped == sim.duplicates_skipped
    assert summary.urls_excluded == sim.urls_excluded
    assert summary.total_filtered == sim.total_filtered
    assert summary.contents_crawled == sim.contents_crawled
    assert summary.items_found == sim.items_found
    assert summary.stopped_reason == sim.stopped_reason == "no_next_button"

    # URL-seen membership (session seen-set = every first-occurrence item url)
    eng_seen = {
        r.url_hash for r in warehouse.read("seen_session").distinct().collect()
    }
    assert eng_seen == sim.seen_hashes


def test_multi_host_per_chain_parity(spark, warehouse, corpus_df):
    """All hosts crawled concurrently: each host's relative order, payloads
    and counters equal its sequential chain."""
    seeds = [listing_url(h, 1) for h in range(N_HOSTS)]
    runner, summary = _run_crawl(spark, warehouse, corpus_df, seeds)

    eng = warehouse.read("pages").orderBy("processed_order").collect()
    sims = {h: _sim(h) for h in range(N_HOSTS)}
    assert len(eng) == sum(s.items_processed for s in sims.values())
    # global processed_order must be exactly 1..N
    assert [e.processed_order for e in eng] == list(range(1, len(eng) + 1))
    # per-host subsequence equals the reference chain
    for h, sim in sims.items():
        host = f"news-{h}.example.org"
        eng_h = [e for e in eng if e.host == host]
        assert [e.url for e in eng_h] == [s.url for s in sim.items]
        assert [e.content for e in eng_h] == [s.content for s in sim.items]
    assert summary.items_processed == sum(s.items_processed for s in sims.values())
    assert summary.duplicates_skipped == sum(
        s.duplicates_skipped for s in sims.values()
    )
    assert summary.urls_excluded == sum(s.urls_excluded for s in sims.values())
    assert summary.total_filtered == sum(s.total_filtered for s in sims.values())


def test_max_pages_stop(spark, warehouse, corpus_df):
    runner, summary = _run_crawl(
        spark, warehouse, corpus_df, [listing_url(0, 1)], max_pages=2
    )
    sim = _sim(0, max_pages=2)
    assert summary.stopped_reason == sim.stopped_reason == "max_pages"
    assert summary.pages_processed == sim.pages_processed == 2
    assert summary.items_processed == sim.items_processed


def test_all_duplicates_incremental_recrawl(spark, tmp_path, corpus_df):
    """Second session over a warehouse that already contains every page
    stops immediately with all_duplicates (ArticleListingCrawler.ts:260-286)."""
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    _run_crawl(spark, wh, corpus_df, [listing_url(0, 1)])
    first_pages = wh.read("pages").count()

    runner2 = CrawlRunner(
        spark, wh, CorpusFetcher(corpus_df), SYNTH_SOURCE, CrawlOptions()
    )
    runner2.seed([listing_url(0, 1)])
    summary2 = runner2.run()
    sim2 = _sim(0, existing_urls={i.url for i in _sim(0).items})
    assert summary2.stopped_reason == sim2.stopped_reason == "all_duplicates"
    assert summary2.items_processed == 0
    assert summary2.pages_processed == sim2.pages_processed == 0
    assert wh.read("pages").count() == first_pages  # nothing re-stored


def test_recrawl_mode_skips_dedup(spark, tmp_path, corpus_df):
    """--recrawl (skipExistingUrls=false, index.ts:39) refetches everything."""
    wh = Warehouse(spark, str(tmp_path / "wh3"))
    _run_crawl(spark, wh, corpus_df, [listing_url(1, 1)])
    n1 = wh.read("pages").count()
    runner2 = CrawlRunner(
        spark,
        wh,
        CorpusFetcher(corpus_df),
        SYNTH_SOURCE,
        CrawlOptions(skip_existing_urls=False),
    )
    runner2.seed([listing_url(1, 1)])
    s2 = runner2.run()
    assert s2.items_processed == n1
    assert wh.read("pages").count() == 2 * n1


def test_politeness_budget_carries_overflow(spark, tmp_path, corpus_df):
    """budget < items/page: overflow items processed in later rounds, order
    still deterministic and complete."""
    wh = Warehouse(spark, str(tmp_path / "wh4"))
    runner, summary = CrawlRunner(
        spark,
        wh,
        CorpusFetcher(corpus_df),
        SYNTH_SOURCE,
        CrawlOptions(per_host_budget=3),
    ), None
    runner.seed([listing_url(1, 1)])
    summary = runner.run()
    sim = _sim(1)
    assert summary.items_processed == sim.items_processed
    eng_urls = {
        r.url for r in wh.read("pages").select("url").collect()
    }
    assert eng_urls == {i.url for i in sim.items}


def test_resume_from_checkpoint(spark, tmp_path, corpus_df):
    """Kill after round 2, resume from snapshot, final state identical to an
    uninterrupted run (T2/north_rule resumability)."""
    wh_a = Warehouse(spark, str(tmp_path / "whA"))
    ra = CrawlRunner(spark, wh_a, CorpusFetcher(corpus_df), SYNTH_SOURCE, CrawlOptions())
    ra.seed([listing_url(0, 1)])
    full = ra.run()

    wh_b = Warehouse(spark, str(tmp_path / "whB"))
    rb = CrawlRunner(spark, wh_b, CorpusFetcher(corpus_df), SYNTH_SOURCE, CrawlOptions())
    rb.seed([listing_url(0, 1)])
    rb.run_round(1)
    rb.run_round(2)
    # simulate a crash: fresh runner + warehouse objects, resume from HEAD
    wh_b2 = Warehouse(spark, str(tmp_path / "whB"))
    rb2 = CrawlRunner(
        spark, wh_b2, CorpusFetcher(corpus_df), SYNTH_SOURCE, CrawlOptions()
    )
    rb2.resume()
    s2 = rb2.run()

    assert s2.items_processed == full.items_processed
    a = sorted(
        (r.processed_order, r.url)
        for r in wh_a.read("pages").select("processed_order", "url").collect()
    )
    b = sorted(
        (r.processed_order, r.url)
        for r in wh_b2.read("pages").select("processed_order", "url").collect()
    )
    assert a == b


def test_shuffle_join_path_identical(spark, tmp_path, corpus_df):
    """broadcast_max_rows=0 forces the big-round fallbacks — the
    bloom-prefiltered fetch join AND the shuffle order joins (the
    multi-million-URL-round path); output must be identical to the
    broadcast path."""
    wh_bc = Warehouse(spark, str(tmp_path / "wh_bc"))
    _run_crawl(spark, wh_bc, corpus_df, [listing_url(h, 1) for h in range(2)])
    wh_sh = Warehouse(spark, str(tmp_path / "wh_sh"))
    runner_sh = CrawlRunner(
        spark,
        wh_sh,
        CorpusFetcher(corpus_df, broadcast_max_rows=0),
        SYNTH_SOURCE,
        CrawlOptions(broadcast_max_rows=0),
    )
    runner_sh.seed([listing_url(h, 1) for h in range(2)])
    runner_sh.run()
    cols = ["processed_order", "url", "title", "content", "had_extraction_error"]
    a = sorted(map(tuple, wh_bc.read("pages").select(*cols).collect()))
    b = sorted(map(tuple, wh_sh.read("pages").select(*cols).collect()))
    assert a == b
    sc_a = sorted(
        map(tuple, wh_bc.read("session_content").drop("session_id").collect())
    )
    sc_b = sorted(
        map(tuple, wh_sh.read("session_content").drop("session_id").collect())
    )
    assert sc_a == sc_b


class FlakyFetcher:
    """Corpus fetcher that drops `fail_urls` from its output for the first
    `fail_calls` fetch() invocations — a deterministic transient failure."""

    host_partitioned = False
    returns_misses = False
    deterministic = False  # transient failures → retry ladder active

    def __init__(self, corpus, fail_urls, fail_calls):
        from ethos_spark.crawl.fetcher import CorpusFetcher

        self.inner = CorpusFetcher(corpus)
        self.fail_urls = list(fail_urls)
        self.fail_calls = fail_calls
        self.calls = 0

    def fetch(self, candidates, size_hint=None, stage="content"):
        self.calls += 1
        out = self.inner.fetch(candidates, size_hint, stage=stage)
        if self.calls <= self.fail_calls:
            out = out.where(~F.col("url").isin(self.fail_urls))
        return out


def test_transient_listing_fetch_retry(spark, tmp_path, corpus_df):
    """A listing page that fails on the first attempt succeeds on the
    in-round retry; final output identical to a clean run (reference
    PaginationHandler inline-retry semantics)."""
    wh = Warehouse(spark, str(tmp_path / "wh_flaky_l"))
    fetcher = FlakyFetcher(corpus_df, [listing_url(0, 1)], fail_calls=1)
    runner = CrawlRunner(spark, wh, fetcher, SYNTH_SOURCE, CrawlOptions())
    runner.seed([listing_url(0, 1)])
    summary = runner.run()
    sim = _sim(0)
    assert summary.fetch_retries >= 1
    assert summary.items_processed == sim.items_processed
    assert summary.listing_errors == 0
    eng = wh.read("pages").orderBy("processed_order").collect()
    assert [e.url for e in eng] == [s.url for s in sim.items]


def test_transient_content_fetch_retry(spark, tmp_path, corpus_df):
    """Content URLs dropped on the first content fetch are refetched in the
    same round and keep their pre-assigned processed_order."""
    sim = _sim(0)
    flaky_urls = [sim.items[2].url, sim.items[5].url]
    wh = Warehouse(spark, str(tmp_path / "wh_flaky_c"))
    # call 1 = listing fetch (flaky content urls absent there anyway),
    # call 2 = content fetch (urls dropped -> misses), call 3 = retry
    fetcher = FlakyFetcher(corpus_df, flaky_urls, fail_calls=2)
    runner = CrawlRunner(spark, wh, fetcher, SYNTH_SOURCE, CrawlOptions())
    runner.seed([listing_url(0, 1)])
    summary = runner.run()
    assert summary.fetch_retries >= 1
    assert summary.items_processed == sim.items_processed
    # retried urls recover fully: error count equals the corpus's natural
    # extraction-error items, nothing added by the transient failures
    assert summary.items_with_errors == sum(
        1 for i in sim.items if i.had_content_extraction_error
    )
    eng = wh.read("pages").orderBy("processed_order").collect()
    for e, s in zip(eng, sim.items):
        assert (e.url, e.processed_order, e.content) == (
            s.url,
            s.processed_order,
            s.content,
        )


def test_permanent_fetch_failures(spark, tmp_path, corpus_df):
    """Retry exhaustion: a dead listing host becomes a fetch_error host +
    listing error; a dead content url is stored as an error row (reference
    failed-content-load semantics) after max_fetch_attempts."""
    sim = _sim(0)
    dead_content = sim.items[3].url
    dead_listing_host_url = "https://dead.example.org/page/1"
    wh = Warehouse(spark, str(tmp_path / "wh_dead"))
    fetcher = FlakyFetcher(corpus_df, [dead_content], fail_calls=10_000)
    runner = CrawlRunner(spark, wh, fetcher, SYNTH_SOURCE, CrawlOptions())
    runner.seed([listing_url(0, 1), dead_listing_host_url])
    summary = runner.run()
    # dead listing host: retried, then recorded
    assert summary.listing_errors == 1
    assert summary.host_stops.get("fetch_error") == 1
    hs = {
        r.host: r.stopped_reason for r in wh.read("host_state").collect()
    }
    assert hs.get("dead.example.org") == "fetch_error"
    # dead content url: stored with the error flag, order preserved
    eng = {r.url: r for r in wh.read("pages").collect()}
    row = eng[dead_content]
    assert row.had_extraction_error and row.content is None
    natural_errs = sum(1 for i in sim.items if i.had_content_extraction_error)
    assert summary.items_with_errors == natural_errs + 1
    assert summary.items_processed == sim.items_processed
    orders = sorted(r.processed_order for r in eng.values())
    assert orders == list(range(1, len(eng) + 1))


def test_process_interrupted_and_resume(spark, tmp_path, corpus_df):
    """interrupt() finalizes the session with process_interrupted
    (InterruptionHandler.ts:17-41); resume completes the crawl with the
    same final processed_order sequence as an uninterrupted run."""
    wh_full = Warehouse(spark, str(tmp_path / "wh_full"))
    _run_crawl(spark, wh_full, corpus_df, [listing_url(0, 1)])

    wh = Warehouse(spark, str(tmp_path / "wh_int"))
    runner = CrawlRunner(spark, wh, CorpusFetcher(corpus_df), SYNTH_SOURCE, CrawlOptions())
    runner.seed([listing_url(0, 1)])
    runner.run_round(1)
    runner.interrupt()
    s1 = runner.run()  # loop sees the flag, commits, finalizes
    assert s1.stopped_reason == "process_interrupted"
    sess = {r.id: r for r in wh.read("sessions").collect()}
    assert sess[runner.session_id].stopped_reason == "process_interrupted"
    assert sess[runner.session_id].end_time is not None

    wh2 = Warehouse(spark, str(tmp_path / "wh_int"))
    r2 = CrawlRunner(spark, wh2, CorpusFetcher(corpus_df), SYNTH_SOURCE, CrawlOptions())
    r2.resume()
    s2 = r2.run()
    assert s2.stopped_reason != "process_interrupted"
    a = sorted(
        (r.processed_order, r.url)
        for r in wh_full.read("pages").select("processed_order", "url").collect()
    )
    b = sorted(
        (r.processed_order, r.url)
        for r in wh2.read("pages").select("processed_order", "url").collect()
    )
    assert a == b


def test_sessions_history_preserved(spark, tmp_path, corpus_df):
    """Two sessions over one warehouse: both rows survive (reference keeps
    all sessions in SQLite; `ethos sessions` lists history)."""
    from datetime import datetime, timezone

    wh = Warehouse(spark, str(tmp_path / "wh_hist"))
    r1 = CrawlRunner(
        spark, wh, CorpusFetcher(corpus_df), SYNTH_SOURCE,
        CrawlOptions(max_pages=1),
        start_time=datetime(2025, 7, 1, tzinfo=timezone.utc),
    )
    r1.seed([listing_url(0, 1)])
    r1.run()
    r2 = CrawlRunner(
        spark, wh, CorpusFetcher(corpus_df), SYNTH_SOURCE,
        CrawlOptions(max_pages=1),
        start_time=datetime(2025, 7, 2, tzinfo=timezone.utc),
    )
    r2.seed([listing_url(1, 1)])
    r2.run()
    rows = {r.id: r for r in wh.read("sessions").collect()}
    assert r1.session_id in rows and r2.session_id in rows
    assert rows[r1.session_id].stopped_reason == "max_pages"
    assert rows[r1.session_id].end_time is not None


def test_bad_date_quarantine_counters(spark, tmp_path):
    """An unparseable listing date quarantines the item: it counts as a
    listing error, NOT a duplicate (duplicates_skipped must exclude it),
    and is never fetched/stored."""
    bad_listing = (
        "<html><body>"
        '<div class="post-list">'
        '<div class="post-item"><span class="post-title">Good</span>'
        '<a class="post-link" href="/a/good">read</a>'
        '<span class="post-date">2025-03-01</span></div>'
        '<div class="post-item"><span class="post-title">Bad date</span>'
        '<a class="post-link" href="/a/bad">read</a>'
        '<span class="post-date">Smarch 1, 2025</span></div>'
        "</div></body></html>"
    )
    art = (
        "<html><body><div id='main'><header><h1>T</h1></header>"
        "<div class='article-body'><p>Body text.</p></div></div></body></html>"
    )
    host = "quar.example.org"
    corpus = spark.createDataFrame(
        [
            (f"https://{host}/list/1", bad_listing.encode()),
            (f"https://{host}/a/good", art.encode()),
            (f"https://{host}/a/bad", art.encode()),
        ],
        "url string, html binary",
    )
    wh = Warehouse(spark, str(tmp_path / "wh_quar"))
    runner = CrawlRunner(
        spark, wh, CorpusFetcher(corpus), SYNTH_SOURCE, CrawlOptions()
    )
    runner.seed([f"https://{host}/list/1"])
    s = runner.run()
    assert s.items_processed == 1  # only the good item stored
    assert s.listing_errors == 1  # the quarantined date
    assert s.duplicates_skipped == 0  # NOT double-counted as duplicate
    assert s.items_found == 1  # found = processed + dup + filtered
    urls = [r.url for r in wh.read("pages").collect()]
    assert urls == [f"https://{host}/a/good"]


def test_listing_field_stats(spark, tmp_path):
    """A5 listing side: per-field attempts/success/missing over NON-EXCLUDED
    containers, with reference index semantics (container index + the
    itemsProcessed offset at page time; ListingPageExtractor.ts:299-309)."""
    page = (
        "<html><body>"
        '<div class="post-list">'
        # idx 0: full item
        '<div class="post-item"><span class="post-title">A</span>'
        '<a class="post-link" href="/a/a0">read</a>'
        '<span class="post-date">2025-03-01</span>'
        '<span class="post-author">Ann</span></div>'
        # idx 1: missing author (optional) and date
        '<div class="post-item"><span class="post-title">B</span>'
        '<a class="post-link" href="/a/b1">read</a></div>'
        # idx 2: excluded container -> NO stats, but idx advances
        '<div class="post-item post-item--external">'
        '<span class="post-title">X</span>'
        '<a class="post-link" href="/a/x2">read</a>'
        '<span class="post-date">2025-03-02</span></div>'
        # idx 3: missing required url -> filtered, but stats still count
        '<div class="post-item"><span class="post-title">C</span>'
        '<span class="post-date">2025-03-03</span></div>'
        "</div></body></html>"
    )
    art = (
        "<html><body><div id='main'><header><h1>T</h1></header>"
        "<div class='article-body'><p>Body.</p></div></div></body></html>"
    )
    host = "fs.example.org"
    corpus = spark.createDataFrame(
        [
            (f"https://{host}/list/1", page.encode()),
            (f"https://{host}/a/a0", art.encode()),
            (f"https://{host}/a/b1", art.encode()),
        ],
        "url string, html binary",
    )
    wh = Warehouse(spark, str(tmp_path / "wh_lfs"))
    runner = CrawlRunner(
        spark, wh, CorpusFetcher(corpus), SYNTH_SOURCE, CrawlOptions()
    )
    runner.seed([f"https://{host}/list/1"])
    runner.run()
    rows = {
        r.field_name: r
        for r in wh.read("field_stats").where(F.col("stage") == "listing").collect()
    }
    # 3 non-excluded containers attempted for every field
    assert rows["title"].total_attempts == 3
    assert rows["title"].success_count == 3
    assert rows["url"].success_count == 2
    # missing indices are 1-based container positions (idx 3 -> 4), offset 0
    assert list(rows["url"].missing_items) == [4]
    assert rows["publishedDate"].success_count == 2
    assert list(rows["publishedDate"].missing_items) == [2]
    assert rows["author"].success_count == 1
    assert bool(rows["author"].is_optional) is True
    assert sorted(rows["author"].missing_items) == [2, 4]
    # content-stage rows coexist in the same table
    assert (
        wh.read("field_stats").where(F.col("stage") == "content").count() > 0
    )


def test_per_chain_listing_offsets_two_hosts(spark, tmp_path):
    """Reference itemsProcessed offset semantics per CHAIN
    (ArticleListingCrawler.ts:50-55): in a session crawling two chains,
    each host's listing missing-item indices continue from ITS OWN stored
    count, not the session-global counter (round-2 VERDICT item 6)."""

    def item(url_path, title, with_url=True):
        link = f'<a class="post-link" href="{url_path}">read</a>' if with_url else ""
        return (
            f'<div class="post-item"><span class="post-title">{title}</span>'
            f'{link}<span class="post-date">2025-03-01</span></div>'
        )

    def listing(items_html, next_page=None):
        nxt = (
            f'<div class="pagination"><a class="next" href="{next_page}">next</a></div>'
            if next_page
            else ""
        )
        return (
            '<html><body><div class="post-list">'
            + "".join(items_html)
            + f"</div>{nxt}</body></html>"
        ).encode()

    art = (
        "<html><body><div id='main'><header><h1>T</h1></header>"
        "<div class='article-body'><p>Body.</p></div></div></body></html>"
    ).encode()

    a, b = "a.example.org", "b.example.org"
    rows = [
        # host A: page1 stores 3 items; page2 misses url at local idx 1
        (f"https://{a}/list/1", listing(
            [item("/p/a0", "A0"), item("/p/a1", "A1"), item("/p/a2", "A2")],
            "/list/2",
        )),
        (f"https://{a}/list/2", listing(
            [item("/p/a3", "A3"), item(None, "A4", with_url=False)]
        )),
        # host B: page1 stores 1 item; page2 misses url at local idx 0
        (f"https://{b}/list/1", listing([item("/p/b0", "B0")], "/list/2")),
        (f"https://{b}/list/2", listing(
            [item(None, "B1", with_url=False), item("/p/b2", "B2")]
        )),
    ] + [
        (f"https://{h}/p/{n}", art)
        for h, names in ((a, ["a0", "a1", "a2", "a3"]), (b, ["b0", "b2"]))
        for n in names
    ]
    corpus = spark.createDataFrame(rows, "url string, html binary")
    wh = Warehouse(spark, str(tmp_path / "wh_offsets"))
    runner = CrawlRunner(
        spark, wh, CorpusFetcher(corpus), SYNTH_SOURCE, CrawlOptions()
    )
    runner.seed([f"https://{a}/list/1", f"https://{b}/list/1"])
    runner.run()

    r2 = {
        r.field_name: r
        for r in wh.read("field_stats")
        .where((F.col("stage") == "listing") & (F.col("round") == 2))
        .collect()
    }
    # host A's miss: offset 3 (its own page-1 stored) + local idx 2 -> 5
    # host B's miss: offset 1 + local idx 1 -> 2
    # (the old session-global offset 4 would have yielded [5, 6])
    assert sorted(r2["url"].missing_items) == [2, 5]
    # per-host counters hold the values the LAST offset consumer saw: the
    # final round's roll is skipped as dead state (every chain stopped, no
    # future listing page can read it — the reference's itemsProcessed is
    # in-memory session state that vanishes at session end)
    offs = {r.host: r.items_cum for r in wh.read("host_offsets").collect()}
    assert offs == {a: 3, b: 1}


def test_offsets_roll_survives_mixed_fetch_failure(spark, tmp_path):
    """A round where one host's listing page permanently fails while another
    host continues must still roll host_offsets (round-3 ADVICE, high):
    fetch-failed hosts are already absent from the active-host count, so
    the old double-subtraction clamped continuing-hosts to 0, skipped the
    roll, and later rounds' missing-item indices went stale."""

    def item(url_path, title, with_url=True):
        link = f'<a class="post-link" href="{url_path}">read</a>' if with_url else ""
        return (
            f'<div class="post-item"><span class="post-title">{title}</span>'
            f'{link}<span class="post-date">2025-03-01</span></div>'
        )

    def listing(items_html, next_page=None):
        nxt = (
            f'<div class="pagination"><a class="next" href="{next_page}">next</a></div>'
            if next_page
            else ""
        )
        return (
            '<html><body><div class="post-list">'
            + "".join(items_html)
            + f"</div>{nxt}</body></html>"
        ).encode()

    art = (
        "<html><body><div id='main'><header><h1>T</h1></header>"
        "<div class='article-body'><p>Body.</p></div></div></body></html>"
    ).encode()

    a, b = "a.example.org", "b.example.org"
    rows = [
        # host A: p1 stores 2, p2 stores 1, p3 misses url at item pos 2
        (f"https://{a}/list/1", listing(
            [item("/p/a0", "A0"), item("/p/a1", "A1")], "/list/2"
        )),
        (f"https://{a}/list/2", listing([item("/p/a2", "A2")], "/list/3")),
        (f"https://{a}/list/3", listing(
            [item("/p/a3", "A3"), item(None, "A4", with_url=False)]
        )),
        # host B: p1 stores 1 and links to /list/2, which is ABSENT from
        # the corpus -> permanent listing fetch failure in round 2, the
        # same round host A continues
        (f"https://{b}/list/1", listing([item("/p/b0", "B0")], "/list/2")),
    ] + [
        (f"https://{h}/p/{n}", art)
        for h, names in ((a, ["a0", "a1", "a2", "a3"]), (b, ["b0"]))
        for n in names
    ]
    corpus = spark.createDataFrame(rows, "url string, html binary")
    wh = Warehouse(spark, str(tmp_path / "wh_mixed_fail"))
    runner = CrawlRunner(
        spark, wh, CorpusFetcher(corpus), SYNTH_SOURCE, CrawlOptions()
    )
    runner.seed([f"https://{a}/list/1", f"https://{b}/list/1"])
    summary = runner.run()

    assert summary.host_stops.get("fetch_error") == 1  # host B died in r2
    r3 = {
        r.field_name: r
        for r in wh.read("field_stats")
        .where((F.col("stage") == "listing") & (F.col("round") == 3))
        .collect()
    }
    # host A's round-3 miss: its own cumulative offset 3 (p1: 2, p2: 1)
    # + item pos 2 -> 5. The old clamp-to-zero skip would have left the
    # round-1 offsets standing and yielded 4.
    assert sorted(r3["url"].missing_items) == [5]
    offs = {r.host: r.items_cum for r in wh.read("host_offsets").collect()}
    assert offs == {a: 3, b: 1}


def test_offsets_parquet_tier_equivalence(spark, tmp_path, monkeypatch):
    """Above OFFSETS_ROW_TIER_MAX_CHAINS chains the offsets table stays in
    the distributed parquet tier (force_parquet); both tiers must yield
    identical field-stats indices and final counter values."""
    import ethos_spark.crawl.runner as runner_mod

    def item(url_path, title, with_url=True):
        link = f'<a class="post-link" href="{url_path}">read</a>' if with_url else ""
        return (
            f'<div class="post-item"><span class="post-title">{title}</span>'
            f'{link}<span class="post-date">2025-03-01</span></div>'
        )

    def listing(items_html, next_page=None):
        nxt = (
            f'<div class="pagination"><a class="next" href="{next_page}">next</a></div>'
            if next_page
            else ""
        )
        return (
            '<html><body><div class="post-list">'
            + "".join(items_html)
            + f"</div>{nxt}</body></html>"
        ).encode()

    art = (
        "<html><body><div id='main'><header><h1>T</h1></header>"
        "<div class='article-body'><p>Body.</p></div></div></body></html>"
    ).encode()
    a = "a.example.org"
    rows = [
        (f"https://{a}/list/1", listing(
            [item("/p/a0", "A0"), item("/p/a1", "A1")], "/list/2"
        )),
        (f"https://{a}/list/2", listing(
            [item("/p/a2", "A2"), item(None, "A3", with_url=False)]
        )),
        (f"https://{a}/p/a0", art), (f"https://{a}/p/a1", art),
        (f"https://{a}/p/a2", art),
    ]
    corpus = spark.createDataFrame(rows, "url string, html binary")

    results = {}
    for tier, maxc in (("rows", 10_000), ("parquet", 0)):
        monkeypatch.setattr(runner_mod, "OFFSETS_ROW_TIER_MAX_CHAINS", maxc)
        wh = Warehouse(spark, str(tmp_path / f"wh_tier_{tier}"))
        r = CrawlRunner(
            spark, wh, CorpusFetcher(corpus), SYNTH_SOURCE, CrawlOptions()
        )
        r.seed([f"https://{a}/list/1"])
        r.run()
        assert wh.is_row_table("host_offsets") == (tier == "rows")
        r2 = {
            x.field_name: x
            for x in wh.read("field_stats")
            .where((F.col("stage") == "listing") & (F.col("round") == 2))
            .collect()
        }
        results[tier] = sorted(r2["url"].missing_items)
    # A's p1 stored 2 -> round-2 miss at item pos 2 -> index 4, both tiers
    assert results["rows"] == results["parquet"] == [4]


class RaiseAtContentFetcher:
    """Corpus fetcher whose content-stage fetch raises: the round fails
    after its listing side ran and its lineage writes were started."""

    def __init__(self, corpus):
        self.inner = CorpusFetcher(corpus)

    def __getattr__(self, name):
        return getattr(self.inner, name)

    def fetch(self, candidates, size_hint=None, stage="content"):
        if stage == "content":
            raise RuntimeError("injected: content fetch failed")
        return self.inner.fetch(candidates, size_hint, stage=stage)


def test_failed_round_leaves_nothing_behind_and_resumes(spark, tmp_path, corpus_df):
    """A round that raises mid-way releases every relation it cached and
    every pool thread it started; resume() then completes the crawl to the
    same pages as a clean run."""
    import threading

    from ethos_spark.crawl.runner import RoundScope

    seeds = [listing_url(h, 1) for h in range(N_HOSTS)]
    wh_clean = Warehouse(spark, str(tmp_path / "wh_clean"))
    _run_crawl(spark, wh_clean, corpus_df, seeds)

    jsc = spark.sparkContext._jsc
    cached_before = jsc.getPersistentRDDs().size()
    wh_path = str(tmp_path / "wh_raise")
    runner = CrawlRunner(
        spark,
        Warehouse(spark, wh_path),
        RaiseAtContentFetcher(corpus_df),
        SYNTH_SOURCE,
        CrawlOptions(),
    )
    runner.seed(seeds)
    with pytest.raises(RuntimeError, match="injected: content fetch"):
        runner.run()
    assert jsc.getPersistentRDDs().size() == cached_before
    assert not [
        t for t in threading.enumerate()
        if t.name.startswith(RoundScope.THREAD_PREFIX)
    ]

    resumed = CrawlRunner(
        spark,
        Warehouse(spark, wh_path),
        CorpusFetcher(corpus_df),
        SYNTH_SOURCE,
        CrawlOptions(),
    )
    resumed.resume()
    resumed.run()
    cols = [
        "id", "hash", "source", "url", "url_hash", "host", "host_hash",
        "title", "author", "published_date", "content", "crawled_at",
        "created_at", "had_extraction_error", "processed_order",
        "failed_fields", "extraction_errors",
    ]

    def pages(path):
        rows = Warehouse(spark, path).read("pages").select(*cols).collect()
        return sorted(tuple(r[c] for c in cols) for r in rows)

    assert pages(wh_path) == pages(str(tmp_path / "wh_clean"))
    assert jsc.getPersistentRDDs().size() == cached_before


# Spark jobs launched on the driver thread per round of a default 4-host
# crawl of this module's corpus (local[4], 4 shuffle partitions), measured
# identically three times before the round was split into phases. A round
# may launch fewer jobs, never more.
ROUND_JOBS_CEILING = [30, 33, 33, 33, 1]


def test_round_job_count_pinned(spark, tmp_path, corpus_df):
    sc = spark.sparkContext
    runner = CrawlRunner(
        spark,
        Warehouse(spark, str(tmp_path / "wh_jobs")),
        CorpusFetcher(corpus_df),
        SYNTH_SOURCE,
        CrawlOptions(),
    )
    runner.seed([listing_url(h, 1) for h in range(N_HOSTS)])
    groups = []
    run_round = runner.run_round

    def grouped_round(r):
        group = f"{tmp_path.name}-round-{r}"
        groups.append(group)
        sc.setJobGroup(group, f"crawl round {r}")
        try:
            return run_round(r)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    runner.run_round = grouped_round
    runner.run()
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    counts = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
    assert len(counts) == len(ROUND_JOBS_CEILING), counts
    assert all(c <= m for c, m in zip(counts, ROUND_JOBS_CEILING)), counts
