"""Deterministic sampling ops: reproducible across runs and engines,
stable under corpus growth, disjoint splits, scan-side execution."""

import duckdb
import pytest
import pyspark.sql.functions as F

from ethos_spark.ops.sampling import (
    MOD,
    deterministic_sample,
    sample_bucket,
    split,
    stratified_sample,
)
from ethos_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-sampling", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 4).cast("string")).alias("source"),
    )


def test_bucket_matches_duckdb(spark, docs):
    """The Spark bucket and the DuckDB oracle expression are the same
    function — the cross-engine reproducibility claim, verified value-
    by-value."""
    got = {
        r.doc_id: r.b
        for r in docs.select(
            "doc_id", sample_bucket(F.col("doc_id"), "s9").alias("b")
        ).collect()
    }
    want = {
        i: b
        for i, b in duckdb.sql(
            "SELECT i, ('0x' || substr(md5('s9' || CAST(i AS VARCHAR)), 1, 14))"
            "::UBIGINT % 100000 FROM range(2000) t(i)"
        ).fetchall()
    }
    assert got == want


def test_deterministic_and_rate(spark, docs):
    a = deterministic_sample(docs, "doc_id", 25_000, salt="r1")
    b = deterministic_sample(docs, "doc_id", 25_000, salt="r1")
    ka = sorted(r.doc_id for r in a.collect())
    assert ka == sorted(r.doc_id for r in b.collect())
    assert 0.20 * 2000 < len(ka) < 0.30 * 2000  # ~25% ±5pt
    # independent draw under a different salt
    kc = set(
        r.doc_id
        for r in deterministic_sample(docs, "doc_id", 25_000, salt="r2").collect()
    )
    overlap = len(set(ka) & kc) / len(ka)
    assert 0.1 < overlap < 0.45  # ≈ rate, not ≈ 1


def test_stable_under_growth(spark, docs):
    """Appending rows never resamples old rows: membership depends only on
    the row's own key."""
    small = docs.where(F.col("doc_id") < 1000)
    in_small = set(
        r.doc_id
        for r in deterministic_sample(small, "doc_id", 30_000).collect()
    )
    in_full = set(
        r.doc_id
        for r in deterministic_sample(docs, "doc_id", 30_000).collect()
    )
    assert in_small == {i for i in in_full if i < 1000}


def test_stratified_rates(spark, docs):
    out = stratified_sample(
        docs,
        "source",
        "doc_id",
        {"src0": MOD, "src1": 50_000},
        default_per_100k=0,
        salt="m1",
    )
    per = {
        r.source: r.n
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert per["src0"] == 500  # keep-all stratum complete
    assert 175 < per["src1"] < 325  # ~50% of 500
    assert set(per) == {"src0", "src1"}  # default 0 drops the rest


def test_split_disjoint_and_complete(spark, docs):
    train, hold = split(docs, "doc_id", 20_000)
    t = set(r.doc_id for r in train.collect())
    h = set(r.doc_id for r in hold.collect())
    assert t.isdisjoint(h)
    assert len(t) + len(h) == 2000
    assert 0.15 * 2000 < len(h) < 0.25 * 2000


def test_sample_filter_reaches_scan(spark, tmp_path, docs):
    """The sample is a pure filter: no shuffle exchange in the plan."""
    from tests.plan_explain import count_exchanges

    p = str(tmp_path / "docs")
    docs.write.mode("overwrite").parquet(p)
    out = deterministic_sample(spark.read.parquet(p), "doc_id", 10_000)
    assert count_exchanges(out) == 0
