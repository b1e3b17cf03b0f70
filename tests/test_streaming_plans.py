"""Streaming surface + physical-plan quality checks."""

import pytest
import pyspark.sql.functions as F

from ethos_spark import schemas
from tests.plan_explain import (
    count_exchanges,
    read_schema_columns,
    scan_pushed_filters,
)
from ethos_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-streaming", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def test_metrics_stream_drains_rounds(spark, tmp_path):
    """File-source stream over the metrics table: two round commits → one
    availableNow drain sees both, aggregated per round with the A4 shape."""
    from ethos_spark.streaming.events_stream import drain_to_memory
    from ethos_spark.streaming.metrics_stream import (
        read_metrics_stream,
        rolling_crawl_counters,
    )

    wh = tmp_path / "wh"
    rows_r1 = [("s1", 1, 0, 10, 8, 2, 1, 3, 8, 12.5, 30.0)]
    rows_r2 = [
        ("s1", 2, 0, 6, 5, 1, 0, 1, 5, 8.0, 20.0),
        ("s1", 2, 1, 4, 4, 0, 0, 0, 4, 6.0, 15.0),
    ]
    for i, rows in enumerate([rows_r1, rows_r2]):
        spark.createDataFrame(rows, schemas.METRICS).write.parquet(
            str(wh / "metrics" / f"data-{i}")
        )
    counters = drain_to_memory(
        rolling_crawl_counters(read_metrics_stream(spark, str(wh)))
    )
    out = {
        (r.session_id, r["round"]): r.asDict() for r in counters.collect()
    }
    assert out[("s1", 1)]["items_processed"] == 8
    assert out[("s1", 2)]["items_processed"] == 9
    assert out[("s1", 2)]["contents_crawled"] == 9


def test_filter_and_projection_reach_scan(spark):
    """Serve-path filters must push to the parquet scan and prune columns
    (SURVEY.md §4.1: 'a scan that reads all columns for a 2-column
    projection is wrong')."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = docs.where((F.col("lang") == "en") & (F.col("n_chars") >= 200)).select(
        "doc_id", "source"
    )
    pushed = scan_pushed_filters(q)
    assert "lang" in pushed and "n_chars" in pushed, pushed
    cols = set(read_schema_columns(q))
    assert "text" not in cols, f"text not pruned from scan: {cols}"


def test_broadcast_join_no_shuffle(spark):
    """Tiny-dim enrichment must broadcast: zero shuffle exchanges."""
    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    r = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    q = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_name", "r_name"
    )
    assert count_exchanges(q) == 0, q._jdf.queryExecution().toString()[:500]
