"""Partitioned int8 IVF vector store (the 10^9-vector layout): probing
prunes PARTITIONS (directories), not rows, and the refined top-k keeps
recall on a 10x corpus."""

import pytest
import pyspark.sql.functions as F

from ethos_spark.ops.similarity import kmeans_centroids, with_cluster_structure
from tests.plan_explain import formatted_plan
from ethos_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-ivf-store", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def test_sq8_ivf_composition_pruned_scan_scaled_shortlist(spark, tmp_path):
    """VERDICT r4 item 3: the int8 code store in the IVF layout — probe
    prunes PARTITIONS of the code store (plan-asserted), the shortlist
    scales with probed-list size, and recall@10 >= 0.9 holds on a 10×
    corpus (where a fixed 5k shortlist multiplier was the flagged cliff)."""
    from ethos_spark.ops.similarity import (
        ann_recall_check,
        collect_query_vecs,
        sq8_ivf_topk,
        write_sq8_ivf_store,
    )

    # 10× corpus: shifted id copies re-clustered by with_cluster_structure
    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    big = with_cluster_structure(
        spark.range(10)
        .crossJoin(base)
        .select(
            (F.col("vec_id") + F.col("id") * 100000).alias("vec_id"),
            "embedding",
        ),
        n_clusters=8,
    ).cache()
    n_rows = big.count()
    assert n_rows == 10 * base.count()

    cents = kmeans_centroids(big, n_clusters=8, iters=3)
    path = str(tmp_path / "sq8_ivf_store")
    write_sq8_ivf_store(big, path, cents)

    queries = collect_query_vecs(big, list(range(10)))
    got = sq8_ivf_topk(
        spark, path, cents, queries, k=10, nprobe=3, refine_with=big
    )
    plan = formatted_plan(got)
    assert "PartitionFilters" in plan and "_list" in plan, plan
    # fewer directories actually READ than the store holds (executed
    # input_file_name is pruning ground truth; .inputFiles() lists the
    # unfiltered relation)
    n_all = spark.read.parquet(path).select(
        F.input_file_name()
    ).distinct().count()
    n_pruned = (
        spark.read.parquet(path)
        .where(F.col("_list").isin([0, 1, 2]))
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    assert n_pruned < n_all and n_pruned <= 3 * (n_all // 8 + 1)
    out = ann_recall_check(big, queries, got, k=10, min_recall=0.9).collect()
    assert out[0].recall_ok, out
    # the store really holds int8-range codes, not floats
    r0 = spark.read.parquet(path).first()
    assert all(-127 <= c <= 127 for c in r0.code)
    big.unpersist()
