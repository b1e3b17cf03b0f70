"""Evidence for the production claim in CorpusFetcher's docstring: when
the corpus and the candidate set are BUCKETED on the join key, the
big-round fetch join needs no shuffle at all — the plan shows zero
(non-broadcast) exchanges. This is the 10^10-URL layout: pages and
frontier bucketed by url(_hash), fetch joins co-located."""

import pytest
import pyspark.sql.functions as F

from tests.plan_explain import count_exchanges, formatted_plan
from ethos_spark.session import get_spark


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    wh = tmp_path_factory.mktemp("bucketwh")
    s = get_spark(
        "test-bucket",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": str(wh),
            "spark.sql.sources.bucketing.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold": "-1",  # force non-bcast
        },
    )
    yield s
    s.stop()


def test_bucketed_fetch_join_is_shuffle_free(spark):
    corpus = spark.range(2000).select(
        F.concat(F.lit("https://h/"), F.col("id")).alias("url"),
        F.encode(F.concat(F.lit("<html>"), F.col("id")), "UTF-8").alias("html"),
    )
    cand = spark.range(0, 2000, 3).select(
        F.concat(F.lit("https://h/"), F.col("id")).alias("url"),
        F.lit("h").alias("host"),
    )
    nb = 8
    corpus.write.bucketBy(nb, "url").sortBy("url").mode("overwrite").saveAsTable(
        "corpus_b"
    )
    cand.write.bucketBy(nb, "url").sortBy("url").mode("overwrite").saveAsTable(
        "cand_b"
    )
    joined = spark.table("corpus_b").join(spark.table("cand_b"), "url")
    # co-located buckets: zero shuffle exchanges even with broadcast off
    assert count_exchanges(joined) == 0, formatted_plan(joined)
    assert joined.count() == 667

    # control: the same join over NON-bucketed parquet shuffles both sides
    corpus.write.mode("overwrite").saveAsTable("corpus_p")
    cand.write.mode("overwrite").saveAsTable("cand_p")
    control = spark.table("corpus_p").join(spark.table("cand_p"), "url")
    assert count_exchanges(control) >= 2


def test_close_keeps_caller_supplied_stage_dir(spark, tmp_path):
    """ADVICE r4: close() must only rmtree a stage_dir the fetcher itself
    created (register_bucketed_corpus tempdir) — never a user-owned one."""
    from ethos_spark.crawl.fetcher import CorpusFetcher

    user_dir = tmp_path / "user_owned_stage"
    user_dir.mkdir()
    (user_dir / "keep.txt").write_text("user data")
    corpus = spark.createDataFrame(
        [("https://h/1", bytearray(b"<html>"))], "url string, html binary"
    )
    f = CorpusFetcher(corpus, stage_dir=str(user_dir))
    f.close()
    assert (user_dir / "keep.txt").read_text() == "user data"
