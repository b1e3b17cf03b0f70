"""Every queries() entry must match its DuckDB oracle at sf0.001 — the
local mirror of the driver's CORRECTNESS gate."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as E  # noqa: E402
from oracle_harness import duck_connection, compare  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from ethos_spark.session import get_spark

    s = get_spark("test-oracle", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def con():
    return duck_connection(SF)


@pytest.mark.parametrize("name", sorted(E.queries().keys()))
def test_query_matches_oracle(spark, con, name):
    fn = E.queries()[name]
    oracles = E.oracle_sql()
    df = fn(spark, SF)
    if name not in oracles:
        assert df.count() >= 0  # rows-only contract for non-SQL ops
        return
    ok, msg = compare(df, con, oracles[name])
    assert ok, f"{name}: {msg}"


def test_store_backed_queries_inside_driver_window():
    """The external oracle gate checks only the first 50 queries() entries;
    the queries backed by derived artifact stores, the near-dup family
    that reads the shingle-set relation and the similarity family must
    stay inside them."""
    order = list(E.queries())
    assert len(order) == 53
    for name in (
        "similarity_topk",
        "embedding_near_dup",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_clusters",
        "pagerank_hosts",
        "decontaminate_docs",
        "similarity_lsh_recall",
        "similarity_ivf_recall",
        "similarity_sq_recall",
        "bpe_merges",
        "bpe_token_counts",
    ):
        assert order.index(name) < 50, (name, order.index(name))
    assert order.index("dedup_minhash_lsh") == 22


def test_ann_queries_leave_no_cache(spark):
    """The ANN top-ks cache nothing, and each recall entry owns the cache
    of its evaluation table: after them the session pins no more RDDs
    than before."""
    from ethos_spark.ops import similarity as sim

    jsc = spark.sparkContext._jsc
    cached_before = jsc.getPersistentRDDs().size()
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = sim.collect_query_vecs(emb, [0, 1, 2])
    assert sim.lsh_ann_topk(emb, queries, k=3).count() == 9
    assert sim.ivf_ann_topk(emb, queries, k=3, n_clusters=8, nprobe=2).count() == 9
    for name in (
        "similarity_lsh_recall",
        "similarity_ivf_recall",
        "similarity_sq_recall",
    ):
        assert E.queries()[name](spark, SF).count() == 1
    assert jsc.getPersistentRDDs().size() == cached_before


def test_iterative_queries_leave_no_cache(spark, con):
    """pagerank_hosts owns the node-set cache of pagerank_fixed and
    dedup_clusters the label checkpoints of dup_clusters: after each, the
    session pins no more RDDs than before, and the rows still match the
    oracle."""
    jsc = spark.sparkContext._jsc
    for name in ("pagerank_hosts", "dedup_clusters"):
        cached_before = jsc.getPersistentRDDs().size()
        df = E.queries()[name](spark, SF)
        assert jsc.getPersistentRDDs().size() == cached_before, name
        ok, msg = compare(df, con, E.oracle_sql()[name])
        assert ok, f"{name}: {msg}"
        assert jsc.getPersistentRDDs().size() == cached_before, name


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert set(df.columns) >= {"doc_id", "quality_score", "lang_pred"}
