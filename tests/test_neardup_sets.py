"""The near-dup relation (doc_id, n_sh, shs, mh) as one immutable artifact
(``__spark_entry__._neardup_sets``): stored pairs equal the computed
producer's; a second call over the same documents runs no signature kernel
and writes nothing; edited documents get a new artifact dir and leave the
old one untouched; a dir without its layout sidecar, or recording another
schema, is refused."""

import json
import os
import tempfile

import pytest
import pyspark.sql.functions as F

import __spark_entry__ as E
from ethos_spark import artifacts
from ethos_spark.ops import dedup as dd
from ethos_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-neardup-sets", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def root(tmp_path, monkeypatch):
    """Artifact root under tmp_path (ArtifactStore defaults to the temp dir)."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    return tmp_path / "tmp" / "ethos-artifacts" / "neardup-sets"


def _write_docs(spark, sf_dir, edit_doc=None):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where(
        F.col("doc_id") < 150
    )
    if edit_doc is not None:
        d = d.withColumn(
            "text",
            F.when(
                F.col("doc_id") == edit_doc,
                F.concat(F.col("text"), F.lit(" edited tail")),
            ).otherwise(F.col("text")),
        )
    d.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    return str(sf_dir)


def _pairs(sets):
    def rows(df):
        return [(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()]

    return rows(dd.ngram_jaccard_pairs(sets, 0.6)), rows(
        dd.minhash_lsh_pairs(sets, 0.6)
    )


def _computed(spark, sf):
    return _pairs(
        dd.with_minhash(
            dd.shingle_sets(E._neardup_docs(spark, sf), "doc_id", "text", 5)
        )
    )


def _snapshot(path):
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(path)
        for f in fs
    }


def test_stored_pairs_equal_computed_and_second_call_runs_no_kernel(
    spark, tmp_path, root, monkeypatch
):
    sf = _write_docs(spark, tmp_path / "sf")
    ngram, lsh = _computed(spark, sf)
    assert ngram and ngram == lsh  # non-trivial, and LSH recall is 1 here

    assert _pairs(E._neardup_sets(spark, sf)) == (ngram, lsh)
    assert len(os.listdir(root)) == 1  # one published dir, no tmp left
    before = _snapshot(root)

    def boom():
        raise AssertionError("signature kernel invoked on unchanged documents")

    monkeypatch.setattr(dd, "_sig_udf", boom)
    assert _pairs(E._neardup_sets(spark, sf)) == (ngram, lsh)
    assert _snapshot(root) == before  # nothing written


def test_edited_documents_build_a_new_artifact(spark, tmp_path, root):
    sf = _write_docs(spark, tmp_path / "sf")
    E._neardup_sets(spark, sf)
    (old,) = os.listdir(root)
    before = _snapshot(root / old)

    edited = _write_docs(spark, tmp_path / "sf_edit", edit_doc=3)
    got = _pairs(E._neardup_sets(spark, edited))
    assert len(os.listdir(root)) == 2 and old in os.listdir(root)
    assert _snapshot(root / old) == before  # the old artifact is untouched
    assert got == _computed(spark, edited)


def test_artifact_without_or_with_other_layout_is_refused(spark, tmp_path, root):
    sf = _write_docs(spark, tmp_path / "sf")
    E._neardup_sets(spark, sf)
    (key,) = os.listdir(root)
    sidecar = root / key / artifacts.LAYOUT_FILE
    assert json.loads(sidecar.read_text()) == {"schema": dd.SETS_SCHEMA}

    sidecar.write_text(json.dumps({"schema": "doc_id bigint, shs array<bigint>"}))
    with pytest.raises(ValueError, match=key):
        E._neardup_sets(spark, sf)

    sidecar.unlink()
    with pytest.raises(ValueError, match=key):
        E._neardup_sets(spark, sf)
