"""Salted two-stage LSH pair generation for wide buckets (VERDICT r3 item
7): identical output to the unsalted plan (recall 1.0 — the old
drop-based max_bucket lost every pair of a dropped bucket) while no
single self-join task holds a whole boilerplate cluster."""

import pytest
import pyspark.sql.functions as F

from ethos_spark.ops.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingle_sets,
    with_minhash,
)
from ethos_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-lsh-salted", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def docs(spark):
    # 40-doc boilerplate cluster (identical text -> one LSH bucket per
    # band, width 40) + near-dup pairs + unique docs
    boiler = "subscribe to our newsletter for the latest updates and offers " * 4
    rows = [(i, boiler) for i in range(40)]
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun"
    )
    rows += [(100, base), (101, base + " today"), (200, "completely different "
             "text about distributed query engines and shuffle planning "
             "strategies for large clusters")]
    df = spark.createDataFrame(rows, "doc_id long, text string").cache()
    df.count()
    return df


def test_salted_equals_unsalted_pairs(spark, docs):
    sets = with_minhash(shingle_sets(docs, "doc_id", "text", 5))
    plain = minhash_lsh_pairs(sets, 0.6).collect()
    salted = minhash_lsh_pairs(sets, 0.6, max_bucket=8).collect()
    as_set = lambda rs: {(r.doc_a, r.doc_b, r.jaccard) for r in rs}
    assert as_set(plain) == as_set(salted)
    # the boilerplate cluster's pairs are all present: C(40,2) = 780
    boiler_pairs = {p for p in as_set(salted) if p[0] < 40 and p[1] < 40}
    assert len(boiler_pairs) == 780
    # and they agree with the exact all-pairs oracle
    exact = ngram_jaccard_pairs(
        shingle_sets(docs, "doc_id", "text", 5), 0.6
    ).collect()
    assert as_set(salted) == as_set(exact)


def test_salted_single_wide_bucket_cell_bound(spark, docs):
    """No (band, sig, cell) group exceeds ~2*max_bucket rows after the
    salted fan-out — the skew bound the salting exists for."""
    from ethos_spark.ops.dedup import _salted_bucket_pairs  # noqa: F401
    # reconstruct the bucket rows the internal helper sees
    import ethos_spark.ops.dedup as dd

    mb = 8
    # drive through the public API but inspect the cell histogram via the
    # same salting expressions on a synthetic single-bucket frame
    bucket = spark.createDataFrame(
        [(0, "s", i) for i in range(40)], "band int, sig string, doc_id long"
    )
    widths = bucket.groupBy("band", "sig").agg(F.count("*").alias("w"))
    bw = bucket.join(widths, ["band", "sig"])
    n_salts = F.least(
        F.ceil(F.col("w") / F.lit(mb)).cast("int"), F.lit(dd._MAX_SALTS)
    )
    cells = (
        bw.withColumn("salt", F.pmod(F.xxhash64("doc_id"), n_salts).cast("int"))
        .select(
            "doc_id", "salt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_salts - 1),
                    lambda i: F.struct(
                        F.least(i, F.col("salt")).alias("ci"),
                        F.greatest(i, F.col("salt")).alias("cj"),
                    ),
                )
            ).alias("cell"),
        )
        .groupBy("cell.ci", "cell.cj")
        .count()
        .collect()
    )
    assert cells and all(r["count"] <= 2 * mb + mb for r in cells)
