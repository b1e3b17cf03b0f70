"""Derived-artifact store (ethos_spark/artifacts.py): keys follow table
content, a failed build or compute publishes nothing, concurrent writers of
one key leave one artifact, and an artifact dir whose recorded layout
differs from the caller's (the sq8 code store assigned with other
centroids) is refused."""

import hashlib
import os
import shutil
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ethos_spark import artifacts
from ethos_spark.artifacts import ArtifactStore
from ethos_spark.ops import similarity as sim
from ethos_spark.session import get_spark

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E  # noqa: E402

SF = E.SF0001


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-artifacts", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def _sq8_layout(cents: np.ndarray) -> dict:
    sha = hashlib.sha1(cents.tobytes()).hexdigest()
    return {"centroids_sha1": sha, "n_clusters": len(cents), "schema": sim.SQ8_SCHEMA}


def test_fingerprint_follows_bytes_not_path_or_mtime(tmp_path):
    src = f"{SF}/documents.parquet"
    copy = tmp_path / "documents.parquet"
    shutil.copy(src, copy)
    os.utime(copy, (0, 0))
    assert artifacts.fingerprint(str(copy)) == artifacts.fingerprint(src)

    table = pq.read_table(src)
    texts = table.column("text").to_pylist()
    pq.write_table(table, copy)
    unchanged = artifacts.fingerprint(str(copy))
    texts[0] = texts[0] + " edited"
    i = table.column_names.index("text")
    pq.write_table(table.set_column(i, "text", pa.array(texts, pa.string())), copy)
    assert artifacts.fingerprint(str(copy)) != unchanged


def test_directory_datasets_fingerprint_and_emb_meta_without_jobs(spark, tmp_path):
    sf_dir = tmp_path / "sf"
    out = str(sf_dir / "embeddings.parquet")
    spark.read.parquet(f"{SF}/embeddings.parquet").repartition(3).write.parquet(out)
    assert len([f for f in os.listdir(out) if f.endswith(".parquet")]) > 1

    sc = spark.sparkContext
    sc.setJobGroup("artifact-meta", "fingerprint + _emb_meta")
    try:
        assert E._emb_meta(str(sf_dir)) == E._emb_meta(SF)
        fp = artifacts.fingerprint(out)
        shutil.copytree(out, tmp_path / "copy")
        assert artifacts.fingerprint(str(tmp_path / "copy")) == fp
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("artifact-meta")) == []


def test_sq8_dir_refuses_other_centroids(spark, tmp_path):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    vecs = np.asarray([r.embedding for r in emb.orderBy("vec_id").limit(8).collect()])
    cents_a, cents_b = vecs[:4], vecs[4:]
    store = ArtifactStore(str(tmp_path))
    parts = ("fp", 1)
    path = store.dir(
        "sq8", parts, _sq8_layout(cents_a),
        lambda tmp: sim.write_sq8_ivf_store(emb, tmp, cents_a),
    )
    assert spark.read.parquet(path).count() == emb.count()

    def rebuild(tmp):
        raise AssertionError("existing artifact dir rebuilt")

    assert store.dir("sq8", parts, _sq8_layout(cents_a), rebuild) == path
    with pytest.raises(ValueError, match="centroids_sha1"):
        store.dir("sq8", parts, _sq8_layout(cents_b), rebuild)


def test_failed_build_leaves_nothing_and_next_call_builds(tmp_path):
    store = ArtifactStore(str(tmp_path))
    layout = {"schema": "x int"}

    def broken(tmp):
        os.makedirs(tmp)
        Path(tmp, "part-0").write_text("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        store.dir("codes", ("k",), layout, broken)
    assert os.listdir(tmp_path / "codes") == []

    def good(tmp):
        os.makedirs(tmp)
        Path(tmp, "part-0").write_text("whole")

    path = store.dir("codes", ("k",), layout, good)
    assert Path(path, "part-0").read_text() == "whole"
    assert os.listdir(tmp_path / "codes") == [os.path.basename(path)]


def test_losing_writer_deletes_its_tmp_dir(tmp_path):
    store = ArtifactStore(str(tmp_path))
    layout = {"schema": "x int"}

    def writer(text):
        def build(tmp):
            os.makedirs(tmp)
            Path(tmp, "part-0").write_text(text)
        return build

    def slow(tmp):
        writer("slow")(tmp)
        # a concurrent session publishes the same key before this one
        store.dir("codes", ("k",), layout, writer("fast"))

    path = store.dir("codes", ("k",), layout, slow)
    assert Path(path, "part-0").read_text() == "fast"
    assert os.listdir(tmp_path / "codes") == [os.path.basename(path)]


def test_concurrent_writers_converge_on_one_artifact(tmp_path):
    """More writers than cores race on one key of each kind: no reader sees
    a partial artifact, every caller gets the same one (a JSON compute is
    deterministic, as its key names every input; a dir is the first
    publisher's) and no tmp file or dir survives."""
    store = ArtifactStore(str(tmp_path))
    layout = {"schema": "x int"}
    n = 4 * (os.cpu_count() or 1)
    barrier = threading.Barrier(n, timeout=30)

    def one(i):
        barrier.wait()
        value = store.json("merges", ("k",), lambda: list(range(10_000)))

        def build(tmp):
            os.makedirs(tmp)
            for j in range(5):
                Path(tmp, f"part-{j}").write_text(str(i))

        path = store.dir("codes", ("k",), layout, build)
        parts = {Path(path, f"part-{j}").read_text() for j in range(5)}
        return value, path, parts

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n) as pool:
            results = list(pool.map(one, range(n), timeout=60))
    finally:
        sys.setswitchinterval(switch)
    assert all(v == list(range(10_000)) for v, _, _ in results)
    assert len({p for _, p, _ in results}) == 1
    assert all(len(parts) == 1 for _, _, parts in results)  # one writer's files
    assert len(os.listdir(tmp_path / "merges")) == 1
    assert len(os.listdir(tmp_path / "codes")) == 1


def test_json_compute_that_raises_publishes_nothing(tmp_path):
    store = ArtifactStore(str(tmp_path))

    def boom():
        raise RuntimeError("compute failed")

    with pytest.raises(RuntimeError, match="compute failed"):
        store.json("merges", ("k", 6), boom)
    assert not (tmp_path / "merges").exists() or os.listdir(tmp_path / "merges") == []
    assert store.json("merges", ("k", 6), lambda: [{"step": 1}]) == [{"step": 1}]
    assert store.json("merges", ("k", 6), boom) == [{"step": 1}]
