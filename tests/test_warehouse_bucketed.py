"""Bucketed warehouse layout as the scale config (VERDICT round-2 item 7).

Proves the production claim end-to-end on the ENGINE'S OWN components —
not the synthetic saveAsTable demo of test_bucketed_join.py:

- ``Warehouse(bucket_spec=...)`` writes pages/frontier hash-bucketed on
  url, the spec survives in the manifest, and a FRESH session (catalog
  wiped) re-registers the dirs and keeps the exchange-free join property.
- ``CorpusFetcher.register_bucketed_corpus`` + the bucketed fetch tier:
  candidates staged co-bucketed, fetch join runs with ZERO shuffle
  exchanges, output identical to the broadcast tier.
"""

import os

import pytest
import pyspark.sql.functions as F

from ethos_spark.catalog import Warehouse
from ethos_spark.crawl import fetcher as fetcher_mod
from ethos_spark.crawl.fetcher import CorpusFetcher
from ethos_spark.plans.explain import count_exchanges, formatted_plan
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


def _wipe_catalog(spark):
    """Simulate a fresh session: drop every warehouse registration so
    read() must re-create them from manifest metadata alone."""
    for t in spark.catalog.listTables():
        if t.name.startswith("wh_b_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_warehouse_bucketed_roundtrip_and_join(spark, tmp_path):
    wh = Warehouse(
        spark,
        str(tmp_path / "wh"),
        bucket_spec={"pages": (NB, ["url"]), "frontier": (NB, ["url"])},
    )
    pages = _corpus(spark, 2000)
    frontier = spark.range(0, 2000, 3).select(
        F.concat(F.lit("https://h"), F.col("id") % 7, F.lit("/p/"), F.col("id")).alias(
            "url"
        ),
        F.lit(1).alias("depth"),
    )
    pages_dir = wh.append("pages", pages)
    wh.replace("frontier", frontier)
    wh.commit("round-1")

    # bucket layout is real: file names carry the bucket id suffix
    bucket_files = [f for f in os.listdir(pages_dir) if f.startswith("part-")]
    assert bucket_files and all("_000" in f for f in bucket_files)

    # rows round-trip
    assert wh.read("pages").count() == 2000
    assert wh.read("frontier").count() == 667

    # co-bucketed pages ⋈ frontier: zero shuffle exchanges, broadcast off
    j = wh.read("pages").join(wh.read("frontier"), "url")
    assert count_exchanges(j) == 0, formatted_plan(j)
    assert j.count() == 667


def test_bucketed_spec_survives_fresh_session(spark, tmp_path):
    path = str(tmp_path / "wh2")
    wh = Warehouse(spark, path, bucket_spec={"frontier": (NB, ["url"])})
    frontier = spark.range(100).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"), F.lit(0).alias("depth")
    )
    wh.replace("frontier", frontier)
    wh.commit("round-1")

    # a LATER session (catalog empty) opens the warehouse WITHOUT a
    # bucket_spec: the manifest alone carries the layout metadata
    _wipe_catalog(spark)
    wh2 = Warehouse(spark, path)
    df = wh2.read("frontier")
    assert df.count() == 100
    # the re-registered relation still joins exchange-free against a
    # co-bucketed side
    other_dir = str(tmp_path / "other")
    frontier.write.bucketBy(NB, "url").sortBy("url").option(
        "path", other_dir
    ).saveAsTable("bspec_other")
    j = df.join(spark.table("bspec_other").select("url"), "url")
    assert count_exchanges(j) == 0, formatted_plan(j)
    assert j.count() == 100


def test_bucketed_append_multi_dir_unions(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh3"), bucket_spec={"pages": (NB, ["url"])})
    wh.append("pages", _corpus(spark, 50))
    wh.commit("round-1")
    wh.append(
        "pages",
        spark.range(50, 80).select(
            F.concat(F.lit("https://h"), F.col("id") % 7, F.lit("/p/"), F.col("id"))
            .alias("url"),
            F.encode(F.lit("x"), "UTF-8").alias("html"),
        ),
    )
    wh.commit("round-2")
    assert wh.read("pages").count() == 80


def test_compact_restores_bucketed_join_and_spec_adoption(spark, tmp_path):
    path = str(tmp_path / "wh4")
    wh = Warehouse(spark, path, bucket_spec={"pages": (NB, ["url"])})
    wh.append("pages", _corpus(spark, 1000))
    wh.commit("round-1")

    # a LATER session appends WITHOUT repeating the spec: the manifest
    # layout must be adopted (a plain-parquet append here would poison
    # every registered-bucketed read of the table)
    _wipe_catalog(spark)
    wh2 = Warehouse(spark, path)
    d2 = wh2.append(
        "pages",
        spark.range(1000, 1400).select(
            F.concat(
                F.lit("https://h"), F.col("id") % 7, F.lit("/p/"), F.col("id")
            ).alias("url"),
            F.encode(F.lit("x"), "UTF-8").alias("html"),
        ),
    )
    assert all("_000" in f for f in os.listdir(d2) if f.startswith("part-"))
    wh2.commit("round-2")

    probe = spark.range(0, 1400, 11).select(
        F.concat(F.lit("https://h"), F.col("id") % 7, F.lit("/p/"), F.col("id")).alias(
            "url"
        )
    )
    probe.write.bucketBy(NB, "url").sortBy("url").option(
        "path", str(tmp_path / "probe_b")
    ).saveAsTable("compact_probe")
    probe_t = spark.table("compact_probe")

    # two dirs → union → the join shuffles; compact() folds them back
    pre = wh2.read("pages").join(probe_t, "url")
    assert count_exchanges(pre) > 0
    assert wh2.compact("pages") is True
    wh2.commit("compact-1")
    post = wh2.read("pages").join(probe_t, "url")
    assert count_exchanges(post) == 0, formatted_plan(post)
    assert post.count() == pre.count() == 128
    assert wh2.read("pages").count() == 1400
    # idempotent on a single-dir table
    assert wh2.compact("pages") is False


def test_legacy_plain_dirs_survive_spec_adoption(spark, tmp_path):
    """A table with pre-spec plain-parquet dirs must keep reading after a
    bucket spec is introduced: the legacy dir plain-reads into the union
    (registering it bucketed would fail with 'Invalid bucket file'), new
    appends write bucketed, and compact() migrates everything into one
    bucketed dir."""
    path = str(tmp_path / "whL")
    wh0 = Warehouse(spark, path)  # no spec: plain layout
    wh0.append("pages", _corpus(spark, 300))
    wh0.commit("r1")

    wh1 = Warehouse(spark, path, bucket_spec={"pages": (NB, ["url"])})
    d2 = wh1.append(
        "pages",
        spark.range(300, 400).select(
            F.concat(F.lit("https://h"), F.col("id") % 7, F.lit("/p/"), F.col("id"))
            .alias("url"),
            F.encode(F.lit("x"), "UTF-8").alias("html"),
        ),
    )
    wh1.commit("r2")
    assert all("_000" in f for f in os.listdir(d2) if f.startswith("part-"))
    assert wh1.read("pages").count() == 400  # mixed layouts both readable

    assert wh1.compact("pages") is True  # migration: one bucketed dir
    wh1.commit("compact")
    (only_dir,) = wh1._tables()["pages"]
    assert all("_000" in f for f in os.listdir(only_dir) if f.startswith("part-"))
    assert wh1.read("pages").count() == 400


def test_crawl_on_bucketed_warehouse_identical(spark, tmp_path, monkeypatch):
    """The FULL 100 TB configuration end-to-end: crawl loop writing a
    bucket_spec'd warehouse (pages by url_hash, frontier by url) while
    fetching through the bucketed zero-exchange corpus tier — output
    byte-identical to the plain-layout broadcast-tier run."""
    from ethos_spark.catalog import Warehouse as WH
    from ethos_spark.crawl.runner import CrawlOptions, CrawlRunner
    from ethos_spark.sources.config import SYNTH_SOURCE
    from ethos_spark.synth import build_pages_df, listing_url

    corpus = build_pages_df(spark, 3, 60).cache()
    corpus.count()
    seeds = [listing_url(h, 1) for h in range(3)]
    cols = ["processed_order", "url", "title", "content", "had_extraction_error"]

    wh_plain = WH(spark, str(tmp_path / "wh_plain"))
    r1 = CrawlRunner(
        spark, wh_plain, CorpusFetcher(corpus), SYNTH_SOURCE, CrawlOptions()
    )
    r1.seed(seeds)
    r1.run()

    wh_b = WH(
        spark,
        str(tmp_path / "wh_b"),
        bucket_spec={
            "pages": (NB, ["url_hash"]),
            "frontier_pending": (NB, ["url"]),
        },
    )
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

    a = sorted(map(tuple, wh_plain.read("pages").select(*cols).collect()))
    b = sorted(map(tuple, wh_b.read("pages").select(*cols).collect()))
    assert a == b and len(a) > 30
    # the bucketed layout is real on disk for every round's append
    pages_dirs = wh_b._tables()["pages"]
    for d in pages_dirs:
        parts = [f for f in os.listdir(d) if f.startswith("part-")]
        assert all("_000" in f for f in parts)
    # a fresh session (catalog wiped, no spec repeated) still reads it
    _wipe_catalog(spark)
    assert WH(spark, str(tmp_path / "wh_b")).read("pages").count() == len(a)


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


def test_auto_compact_on_commit(spark, tmp_path):
    """Bucketed tables auto-compact at commit once their dir count crosses
    the threshold (round-3 VERDICT item 4): a long crawl that never runs
    `maintain --compact` keeps the zero-exchange join property anyway.
    Plain (unbucketed) tables are left alone."""
    wh = Warehouse(
        spark,
        str(tmp_path / "wh_ac"),
        bucket_spec={"pages": (NB, ["url"])},
        auto_compact_dirs=3,
    )
    for i in range(4):
        wh.append(
            "pages",
            spark.range(i * 10, i * 10 + 10).select(
                F.concat(F.lit("https://h"), F.col("id") % 7,
                         F.lit("/p/"), F.col("id")).alias("url"),
                F.encode(F.lit("x"), "UTF-8").alias("html"),
            ),
        )
        wh.append("plain", spark.range(i, i + 1).select(F.col("id")))
        wh.commit(f"round-{i}")
    # 4 appends crossed the threshold at commit 4 -> compacted to one dir
    assert len(wh._manifest.tables["pages"]) == 1
    assert len(wh._manifest.tables["plain"]) == 4  # plain untouched
    assert wh.read("pages").count() == 40
    assert wh.read("plain").count() == 4
    # single-dir bucketed relation: the join property is back without any
    # manual maintenance
    other = _corpus(spark, 40)
    stage = str(tmp_path / "wh_ac_other")
    (
        other.repartition(NB, F.col("url")).write.mode("overwrite")
        .bucketBy(NB, "url").sortBy("url").option("path", stage)
        .saveAsTable("wh_ac_other_t")
    )
    j = wh.read("pages").join(spark.table("wh_ac_other_t"), "url")
    assert count_exchanges(j) == 0, formatted_plan(j)


def test_bucketed_seen_anti_join_big_side_no_exchange(spark, tmp_path):
    """J2 persistent dedup on a pages-bucketed warehouse: keying the
    anti-join on url lets the bucketed (big) side plan ZERO exchanges —
    only the candidate slice shuffles. The unbucketed layout shuffles
    both sides."""
    from ethos_spark.crawl.dedup import anti_join_seen

    cand = spark.range(500).select(
        F.concat(F.lit("https://h"), F.col("id") % 7, F.lit("/p/"),
                 F.col("id") + 2500).alias("url")
    )

    wh_b = Warehouse(
        spark, str(tmp_path / "wh_seen_b"), bucket_spec={"pages": (NB, ["url"])}
    )
    wh_b.append("pages", _corpus(spark, 3000))
    wh_b.commit("r1")
    import re

    def n_exch(df):
        # count Exchange node HEADERS (count_exchanges also counts the
        # tree rendering of each node, doubling)
        return len(re.findall(r"^\(\d+\) Exchange", formatted_plan(df), re.M))

    new_b, _ = anti_join_seen(cand, wh_b.read("pages").select("url"), key="url")
    n_b = n_exch(new_b)

    wh_p = Warehouse(spark, str(tmp_path / "wh_seen_p"))
    wh_p.append("pages", _corpus(spark, 3000))
    wh_p.commit("r1")
    new_p, _ = anti_join_seen(cand, wh_p.read("pages").select("url"), key="url")
    n_p = n_exch(new_p)

    assert n_b == 1, formatted_plan(new_b)   # candidate side only
    assert n_p == 2, formatted_plan(new_p)   # both sides shuffle
    # results identical either way
    assert sorted(r.url for r in new_b.collect()) == sorted(
        r.url for r in new_p.collect()
    )
