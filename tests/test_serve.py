"""Serve-layer semantics (reference §3.2/§3.3) + admin ops, on a small
crawled warehouse."""

import pytest
import pyspark.sql.functions as F

from ethos_spark.catalog import Warehouse
from ethos_spark.crawl.fetcher import CorpusFetcher
from ethos_spark.crawl.runner import CrawlOptions, CrawlRunner
from ethos_spark.serve import queries as sq
from ethos_spark.serve.admin import delete_content_by_hash
from ethos_spark.session import get_spark
from ethos_spark.sources.config import SYNTH_SOURCE
from ethos_spark.synth import build_pages_df, listing_url


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-serve", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    corpus = build_pages_df(spark, 3, 60).cache()
    corpus.count()
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("serve") / "wh"))
    runner = CrawlRunner(
        spark, wh, CorpusFetcher(corpus), SYNTH_SOURCE, CrawlOptions()
    )
    runner.seed([listing_url(h, 1) for h in range(3)])
    summary = runner.run()
    return wh, summary


def test_publications_pagination_and_clamp(spark, crawled):
    wh, _ = crawled
    pages = wh.read("pages")
    rows, meta = sq.publications(
        pages, sq.PublicationsQuery(limit=250, page=1, order_by="published_date")
    )
    assert meta["limit"] == 100  # clamp [1,100], pagination.ts:86-88
    total = pages.count()
    assert meta["total"] == total
    assert meta["totalPages"] == -(-total // 100)
    got = rows.collect()
    assert len(got) == min(100, total)
    dates = [r.published_date or "" for r in got]
    assert dates == sorted(dates, reverse=True)

    # page 2 disjoint from page 1
    p1, _ = sq.publications(pages, sq.PublicationsQuery(limit=10, page=1))
    p2, _ = sq.publications(pages, sq.PublicationsQuery(limit=10, page=2))
    ids1 = {r.id for r in p1.collect()}
    ids2 = {r.id for r in p2.collect()}
    assert ids1.isdisjoint(ids2)


def test_publications_filters(spark, crawled):
    wh, _ = crawled
    pages = wh.read("pages")
    rows, meta = sq.publications(
        pages,
        sq.PublicationsQuery(source="synthetic_news", start_published="2025-01-01"),
    )
    assert meta["total"] > 0
    assert rows.where(F.col("source") != "synthetic_news").count() == 0


def test_order_by_whitelist(spark, crawled):
    wh, _ = crawled
    with pytest.raises(ValueError):
        sq.publications(wh.read("pages"), sq.PublicationsQuery(order_by="id"))


def test_counts_by_source(spark, crawled):
    wh, summary = crawled
    counts = {r.source: r["count"] for r in sq.counts_by_source(wh.read("pages")).collect()}
    assert counts == {"synthetic_news": summary.items_processed}
    assert sq.count_by_source(wh.read("pages"), "nope") == 0


def test_session_replay(spark, crawled):
    """§3.3: session contents in processed_order + error rollup."""
    wh, summary = crawled
    sc = wh.read("session_content")
    rows = sq.session_contents(sc, wh.read("pages"), summary.session_id).collect()
    assert [r.processed_order for r in rows] == list(range(1, len(rows) + 1))
    err = sq.session_error_counts(sc).collect()[0]
    assert err.items_with_errors == summary.items_with_errors
    sessions = sq.sessions_list(wh.read("sessions")).collect()
    assert sessions[0].id == summary.session_id
    assert sessions[0].stopped_reason == summary.stopped_reason


def test_delete_content_by_hash(spark, crawled):
    wh, _ = crawled
    pages = wh.read("pages")
    victim_hashes = [r.hash for r in pages.limit(3).collect()]
    res = delete_content_by_hash(wh, victim_hashes + ["f" * 40])
    assert res == {"deleted": 3, "not_found": 1}
    left = wh.read("pages")
    assert left.where(F.col("hash").isin(victim_hashes)).count() == 0
    # seen = pages.url_hash projection → deleted URLs left the seen set in
    # lockstep (recrawl of deleted URLs now possible)
    deleted_uh = {
        r.url_hash
        for r in pages.where(F.col("hash").isin(victim_hashes)).collect()
    }
    seen_now = {
        r.url_hash for r in wh.read("pages").select("url_hash").collect()
    }
    assert deleted_uh.isdisjoint(seen_now)
