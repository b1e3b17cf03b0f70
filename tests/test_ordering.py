"""The JVM order stamp of ``assign_sequential_order`` against a driver-side
sort-and-enumerate."""

import pytest
import pyspark.sql.functions as F

from ethos_spark.crawl.ordering import assign_sequential_order
from ethos_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-ordering", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


@pytest.mark.parametrize("col_name", ["processed_order", "_gseq"])
def test_stamp_equals_driver_enumeration(spark, col_name):
    """Skewed keys: 300 rows tie on one key, 5 rows have their own. The
    range bounds then end on the last key, so of the 7 range partitions
    the last one is empty. Rows that tie may take their ranks in any
    order, so the check compares (key, stamp) pairs."""
    rows = [("a", 0, i) for i in range(300)] + [("b", i, 300 + i) for i in range(5)]
    df = spark.createDataFrame(rows, "host string, pos long, id long").repartition(3)
    out, n = assign_sequential_order(
        df, ["host", "pos"], offset=41, col_name=col_name, n_parts=7
    )

    assert n == len(rows)
    occupied = {r[0] for r in out.groupBy(F.spark_partition_id()).count().collect()}
    assert out.rdd.getNumPartitions() == 7
    assert len(occupied) < 7  # at least one empty range partition
    got = sorted(((r.host, r.pos), r[col_name]) for r in out.collect())
    want = [
        (key, 41 + i + 1)
        for i, key in enumerate(sorted((host, pos) for host, pos, _ in rows))
    ]
    assert got == want
    # every input row is stamped exactly once, with its own columns intact
    assert sorted(r.id for r in out.collect()) == [r[2] for r in rows]
