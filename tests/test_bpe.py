"""Distributed BPE vocabulary learning (ops/bpe.py): hand-computed merge
table, run-greedy merge semantics (odd runs of a repeated symbol), and
the rank-greedy encoder."""

import pytest
import pyspark.sql.functions as F

from ethos_spark.ops.bpe import (
    bpe_encode_udf,
    learn_bpe,
    word_histogram,
)
from ethos_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-bpe", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def test_hand_computed_merges_and_run_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low low"),
            (2, "newer newest new newer"),
            (3, "aaaaa banana low"),
        ],
        "doc_id long, text string",
    )
    # hand-derivable: 'lo' appears in low(x4)+lower+lowest = 6 (the only
    # count-6 pair besides (o,w) — (l,o) wins the asc tie-break), then
    # ('lo','w') 6; 'aaaaa' contributes FOUR overlapping (a,a) pairs
    # (Sennrich get_stats counts overlapping adjacencies)
    merges = learn_bpe(docs, "text", 6)
    got = [(m["left"], m["right"], m["pair_count"]) for m in merges]
    assert got[:3] == [("l", "o", 6), ("lo", "w", 6), ("a", "a", 4)]
    # merge APPLICATION is left-to-right non-overlapping: after (a,a),
    # counting for later rounds sees aaaaa as [aa, aa, a]
    enc = bpe_encode_udf(merges)
    toks = {
        r.doc_id: r.toks
        for r in docs.select(
            "doc_id", enc(F.col("text")).alias("toks")
        ).collect()
    }
    assert toks[3][:3] == ["aa", "aa", "a"]
    assert toks[1][:2] == ["low", "low"]  # 'low' then 'lower'→low+er...


def test_histogram_is_the_only_corpus_pass(spark):
    """Scale shape: the corpus folds to (word, count) once; merges then
    operate on the histogram (vocabulary-sized, Heaps' law)."""
    docs = spark.createDataFrame(
        [(1, "To  the THE the")], "doc_id long, text string"
    )
    hist = {
        r.w: r["count"] for r in word_histogram(docs, "text").collect()
    }
    assert hist == {"to": 1, "the": 3}


def test_encoder_determinism_and_cache(spark):
    docs = spark.createDataFrame(
        [(i, f"token{i % 3} repeated repeated text") for i in range(50)],
        "doc_id long, text string",
    )
    merges = learn_bpe(docs, "text", 4)
    enc = bpe_encode_udf(merges)
    a = docs.select("doc_id", enc(F.col("text")).alias("t")).collect()
    b = docs.select("doc_id", enc(F.col("text")).alias("t")).collect()
    assert sorted((r.doc_id, tuple(r.t)) for r in a) == sorted(
        (r.doc_id, tuple(r.t)) for r in b
    )
    # every token is a substring chain of the original words
    joined = {r.doc_id: "".join(r.t) for r in a}
    for i in range(50):
        assert joined[i] == f"token{i % 3}repeatedrepeatedtext"


def test_merge_store_persist_once(spark, tmp_path, monkeypatch):
    """Merges as a JSON artifact (persist-once pattern): a second lookup
    with the same key loads the artifact with ZERO training — learn_bpe is
    poisoned and must not be invoked."""
    import ethos_spark.ops.bpe as bpe_mod
    from ethos_spark.artifacts import ArtifactStore

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low")], "doc_id long, text string"
    )

    def get_or_learn(store, key, n_merges):
        return store.json(
            "merges",
            (key, n_merges),
            lambda: bpe_mod.learn_bpe(docs, "text", n_merges),
        )

    store = ArtifactStore(str(tmp_path / "bpestore"))
    m1 = get_or_learn(store, "k1", 4)
    assert m1 and m1[0]["merged"] == "lo"

    def boom(*a, **k):
        raise AssertionError("learn_bpe invoked despite stored artifact")

    monkeypatch.setattr(bpe_mod, "learn_bpe", boom)
    store2 = ArtifactStore(str(tmp_path / "bpestore"))
    assert get_or_learn(store2, "k1", 4) == m1
    # different key or merge count DOES retrain (and the poison fires)
    import pytest as _pytest
    with _pytest.raises(AssertionError):
        get_or_learn(store2, "k2", 4)
    with _pytest.raises(AssertionError):
        get_or_learn(store2, "k1", 5)
