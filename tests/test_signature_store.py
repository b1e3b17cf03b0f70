"""Incremental MinHash signature store (VERDICT r4 item 4): digest-keyed
persistence of the signature pass. Second run over an unchanged corpus
launches ZERO signature-kernel tasks (the kernel factory is poisoned and
must not be invoked), output byte-identical to the storeless path; an
edited document costs exactly one new store row."""

import pytest
import pyspark.sql.functions as F

from ethos_spark import artifacts
from ethos_spark.ops import dedup as dd
from ethos_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-sigstore", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def docs(spark):
    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where(F.col("doc_id") < 150)
        .select("doc_id", "text")
    )
    out = dd.with_near_dup_copies(d, "doc_id", "text").cache()
    out.count()
    return out


def _rows(df):
    return [(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()]


def test_store_parity_zero_kernel_second_run_incremental(
    spark, tmp_path, docs, monkeypatch
):
    path = str(tmp_path / "sigstore")
    base = _rows(
        dd.minhash_lsh_pairs(
            dd.with_minhash(dd.shingle_sets(docs, "doc_id", "text", 5)), 0.6
        )
    )
    assert base  # non-trivial pair set

    # run 1: cold store — kernel runs once, output identical to storeless
    store = dd.SignatureStore(spark, path)
    got1 = _rows(
        dd.minhash_lsh_pairs(
            store.signatures_for(docs, "doc_id", "text", 5), 0.6
        )
    )
    assert got1 == base
    n_versions = (
        docs.select("text").distinct().count()
    )  # digest is keyed by CONTENT, shared across duplicate docs
    n_store = spark.read.parquet(path).count()
    assert n_store == n_versions

    # run 2 — fresh store handle on the same path (session-restart
    # analogue), kernel factory poisoned: unchanged corpus must resolve
    # every signature from the store without ever touching the kernel
    def boom():
        raise AssertionError("signature kernel invoked on unchanged corpus")

    monkeypatch.setattr(dd, "_sig_udf", boom)
    store2 = dd.SignatureStore(spark, path)
    got2 = _rows(
        dd.minhash_lsh_pairs(
            store2.signatures_for(docs, "doc_id", "text", 5), 0.6
        )
    )
    assert got2 == base  # byte-identical across sessions
    assert spark.read.parquet(path).count() == n_store  # nothing appended
    monkeypatch.undo()

    # run 3: ONE edited document → exactly one new content version in the
    # store, everything else served incrementally
    edited = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") == 3, F.concat(F.col("text"), F.lit(" edited tail"))
        ).otherwise(F.col("text")),
    )
    dd.minhash_lsh_pairs(
        store2.signatures_for(edited, "doc_id", "text", 5), 0.6
    ).collect()
    assert spark.read.parquet(path).count() == n_store + 1


def test_store_refuses_mismatched_or_unrecorded_bucket_layout(
    spark, tmp_path, docs, monkeypatch
):
    """The bucket count is a layout property of the files on disk: a store
    written with 16 buckets must not be reopened as an 8-bucket table (the
    exchange-free join would hash rows into the wrong buckets), and a
    store dir with no layout sidecar is refused outright."""
    import os

    path = str(tmp_path / "sigstore_layout")
    small = docs.where(F.col("doc_id") < 20)
    dd.SignatureStore(spark, path).signatures_for(
        small, "doc_id", "text"
    ).count()
    assert os.path.isfile(os.path.join(path, artifacts.LAYOUT_FILE))

    monkeypatch.setattr(dd, "SIG_BUCKETS", 8)
    with pytest.raises(ValueError, match=r"'buckets': 16.*'buckets': 8"):
        dd.SignatureStore(spark, path).signatures_for(small, "doc_id", "text")
    monkeypatch.undo()

    os.remove(os.path.join(path, artifacts.LAYOUT_FILE))
    with pytest.raises(ValueError, match="sigstore_layout"):
        dd.SignatureStore(spark, path).signatures_for(small, "doc_id", "text")
