"""Politeness scheduler, robots gate, salting, bloom dedup units."""

import pytest
import pyspark.sql.functions as F

from ethos_spark.crawl.dedup import BloomFilter, anti_join_seen
from ethos_spark.crawl.politeness import host_topk, robots_gate, salt_hot_hosts
from ethos_spark.crawl.robots import parse_robots_txt, robots_table
from ethos_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-politeness", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def _pending(spark, n_per_host):
    rows = []
    for host, n in n_per_host.items():
        for i in range(n):
            rows.append(
                (f"https://{host}/p{i}", host, float(i % 3), f"h{host}{i:04d}")
            )
    return spark.createDataFrame(
        rows, "url string, host string, priority double, url_hash string"
    ).withColumn("discovered_ts", F.current_timestamp())


def test_politeness_budget_per_host(spark):
    pending = _pending(spark, {"a.com": 10, "b.com": 2})
    sched, overflow = host_topk(3)(pending)
    by_host = {r.host: r["count"] for r in sched.groupBy("host").count().collect()}
    assert by_host == {"a.com": 3, "b.com": 2}
    assert overflow.count() == 7
    # deterministic priority order: lowest priority value first
    a_rows = sched.where("host='a.com'").select("priority").collect()
    assert all(r.priority == 0.0 for r in a_rows)


def test_parse_robots():
    txt = """
    # comment
    User-agent: evilbot
    Disallow: /

    User-agent: *
    Disallow: /private/
    Disallow: /tmp
    Allow: /tmp/ok
    """
    assert parse_robots_txt(txt) == ["/private/", "/tmp"]
    assert parse_robots_txt(txt, agent="evilbot") == ["/"]
    assert parse_robots_txt("") == []


def test_robots_gate(spark):
    robots = robots_table(
        spark, {"a.com": "User-agent: *\nDisallow: /private/", "b.com": ""}
    )
    cand = spark.createDataFrame(
        [
            ("https://a.com/private/x", "a.com"),
            ("https://a.com/public/y", "a.com"),
            ("https://b.com/private/z", "b.com"),
            ("https://c.com/anything", "c.com"),  # host with no robots row
        ],
        "url string, host string",
    )
    allowed, blocked = robots_gate(cand, robots)
    assert {r.url for r in blocked.collect()} == {"https://a.com/private/x"}
    assert allowed.count() == 3


def test_salting_spreads_hot_host(spark):
    df = spark.createDataFrame(
        [(f"https://hot.com/{i}", "hot.com", 1, f"u{i:05d}") for i in range(400)],
        "url string, host string, host_hash long, url_hash string",
    )
    salted = salt_hot_hosts(df, n_partitions=8, salt_factor=8)
    widths = (
        salted.withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .count()
        .collect()
    )
    # one hot host must not land on a single partition
    assert len(widths) >= 4
    assert max(r["count"] for r in widths) < 400


def test_bloom_exactness(spark):
    seen = spark.createDataFrame(
        [(f"seen{i:04d}",) for i in range(2000)], "url_hash string"
    )
    cand = spark.createDataFrame(
        [(f"seen{i:04d}",) for i in range(0, 2000, 4)]
        + [(f"new{i:04d}",) for i in range(500)],
        "url_hash string",
    )
    bloom = BloomFilter.build(seen, "url_hash", expected=2000, fpp=0.01)
    new = anti_join_seen(cand, seen, bloom=bloom)
    # bloom is a prefilter only: results must be EXACT
    assert new.count() == 500
    assert {r.url_hash for r in new.collect()} == {f"new{i:04d}" for i in range(500)}


def test_jvm_canon_matches_python(spark):
    """CrawlRunner._with_url_cols (pure Column exprs) must agree with
    functions.urlfns.canonicalize_url on ports, query sorting, fragments,
    userinfo and default paths — they key the same seen set."""
    from ethos_spark.crawl.runner import CrawlRunner
    from ethos_spark.functions.urlfns import canonicalize_url

    urls = [
        "https://h.example.org/a/b",
        "http://h.example.org:8080/p",
        "http://h.example.org:80/p",
        "https://h.example.org:443/p",
        "https://h.example.org:8443/p?b=2&a=1",
        "HTTPS://News.Example.ORG/x?b=2&a=1#frag",
        "http://h.example.org",
        "http://h.example.org?z=1&y=2",
        "http://user:pw@h.example.org:8080/p#x",
        "https://h.example.org/p?b=2&a=1&a=0",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r.url: r.url_canon
        for r in CrawlRunner._with_url_cols(df).collect()
    }
    for u in urls:
        assert got[u] == canonicalize_url(u), u
    # the port distinction must separate seen-set keys
    assert got["http://h.example.org:8080/p"] != got["http://h.example.org:80/p"]
