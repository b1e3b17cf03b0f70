"""The bucketed corpus fetch tier, the scale config of ``CorpusFetcher``.

Proves the production claim end-to-end on the ENGINE'S OWN components —
not the synthetic saveAsTable demo of test_bucketed_join.py:

- ``CorpusFetcher.register_bucketed_corpus`` + the bucketed fetch tier:
  candidates staged co-bucketed, fetch join runs with ZERO shuffle
  exchanges, output identical to the broadcast tier.
- A full crawl fetching through that tier stores the same pages as the
  broadcast-tier crawl.
"""

import os

import pytest
import pyspark.sql.functions as F

from ethos_spark.catalog import Warehouse
from ethos_spark.crawl import fetcher as fetcher_mod
from ethos_spark.crawl.fetcher import CorpusFetcher
from tests.plan_explain import count_exchanges, formatted_plan
from ethos_spark.session import get_spark

NB = 8


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    wh = tmp_path_factory.mktemp("bwh-sql")
    s = get_spark(
        "test-wh-bucketed",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": str(wh),
            "spark.sql.autoBroadcastJoinThreshold": "-1",  # force non-bcast
        },
    )
    yield s
    s.stop()


def _corpus(spark, n=3000):
    return spark.range(n).select(
        F.concat(F.lit("https://h"), F.col("id") % 7, F.lit("/p/"), F.col("id")).alias(
            "url"
        ),
        F.encode(F.concat(F.lit("<html>page "), F.col("id")), "UTF-8").alias("html"),
    )


def test_crawl_on_bucketed_corpus_identical(spark, tmp_path, monkeypatch):
    """The crawl loop end-to-end through the bucketed zero-exchange corpus
    tier: stored pages byte-identical to the broadcast-tier run, both
    written to a plain warehouse."""
    from ethos_spark.crawl.runner import CrawlOptions, CrawlRunner
    from ethos_spark.sources.config import SYNTH_SOURCE
    from ethos_spark.synth import build_pages_df, listing_url

    corpus = build_pages_df(spark, 3, 60).cache()
    corpus.count()
    seeds = [listing_url(h, 1) for h in range(3)]
    cols = ["processed_order", "url", "title", "content", "had_extraction_error"]

    wh_bcast = Warehouse(spark, str(tmp_path / "wh_bcast"))
    r1 = CrawlRunner(
        spark, wh_bcast, CorpusFetcher(corpus), SYNTH_SOURCE, CrawlOptions()
    )
    r1.seed(seeds)
    r1.run()

    wh_b = Warehouse(spark, str(tmp_path / "wh_b"))
    fetcher = CorpusFetcher.register_bucketed_corpus(
        corpus,
        "crawl_corpus_b",
        str(tmp_path / "crawl_corpus_b"),
        n_buckets=NB,
    )
    monkeypatch.setattr(fetcher_mod, "BROADCAST_MAX_ROWS", 0)
    r2 = CrawlRunner(spark, wh_b, fetcher, SYNTH_SOURCE, CrawlOptions())
    r2.seed(seeds)
    r2.run()

    a = sorted(map(tuple, wh_bcast.read("pages").select(*cols).collect()))
    b = sorted(map(tuple, wh_b.read("pages").select(*cols).collect()))
    assert a == b and len(a) > 30


def test_bucketed_fetch_tier_zero_exchange_and_parity(spark, tmp_path, monkeypatch):
    corpus = _corpus(spark, 3000)
    fetcher = CorpusFetcher.register_bucketed_corpus(
        corpus,
        "bfetch_corpus",
        str(tmp_path / "corpus_b"),
        n_buckets=NB,
    )
    cand = spark.range(0, 3000, 5).select(
        F.concat(F.lit("https://h"), F.col("id") % 7, F.lit("/p/"), F.col("id")).alias(
            "url"
        ),
        F.concat(F.lit("h"), F.col("id") % 7).alias("host"),
    )
    # the broadcast tier, planned while the gate is at its default
    bcast = CorpusFetcher(corpus).fetch(cand, size_hint=600)
    monkeypatch.setattr(fetcher_mod, "BROADCAST_MAX_ROWS", 0)  # force past the gate
    out = fetcher.fetch(cand, size_hint=600)
    # the staged-candidate join moves NOTHING: zero shuffle exchanges
    assert count_exchanges(out) == 0, formatted_plan(out)

    # parity with the broadcast tier
    got = sorted(r.url for r in out.collect())
    want = sorted(r.url for r in bcast.collect())
    assert got == want and len(got) == 600
    # leak control: later fetches drop consumed stages from the catalog
    # AND delete their data dirs (DROP TABLE alone leaves external files)
    first_name, first_path = fetcher._stages[0]
    fetcher.fetch(cand.limit(10), size_hint=10)
    fetcher.fetch(cand.limit(10), size_hint=10)
    assert len(fetcher._stages) <= 2
    assert not spark.catalog.tableExists(first_name)
    assert not os.path.exists(first_path)
