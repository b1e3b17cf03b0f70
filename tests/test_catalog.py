"""Warehouse snapshot-catalog units: transactions (abort on exception,
one per object), crash-orphan GC, manifest row tables, compact/vacuum
maintenance, snapshot expiry, a vacuum from a stale object, loud reads of
a missing dir, schema-given reads and reading a manifest written by an
older tree."""

import json
import os
import shutil

import pytest

from ethos_spark.catalog import Warehouse
from ethos_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-catalog", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_orphan_gc_after_crash(spark, tmp_path):
    """append-without-commit (simulated crash) leaves an orphan dir that a
    reopened warehouse GCs; committed data and re-runs are unaffected."""
    path = str(tmp_path / "wh")
    wh = Warehouse(spark, path)
    df = spark.range(5).selectExpr("id")
    with wh.transaction():
        wh.append("t", df)
        wh.commit("c1")
    assert len(os.listdir(os.path.join(path, "t"))) == 1

    crasher = Warehouse(spark, path)
    crasher.transaction()  # opened, never committed nor aborted
    crasher.append("t", df)
    assert len(os.listdir(os.path.join(path, "t"))) == 2
    del crasher

    wh2 = Warehouse(spark, path)
    removed = wh2.gc_orphans()
    assert len(removed) == 1
    assert len(os.listdir(os.path.join(path, "t"))) == 1
    assert wh2.read("t").count() == 5
    # the re-run of the 'crashed' write commits cleanly, no duplicates
    with wh2.transaction():
        wh2.append("t", df)
        wh2.commit("c2")
    assert wh2.read("t").count() == 10


def _dirs(path, table):
    return sorted(os.listdir(os.path.join(path, table)))


def test_failed_transaction_aborts(spark, tmp_path):
    """An exception inside ``with wh.transaction()`` drops the staged
    manifest and deletes every dir the transaction named, also one whose
    write failed: the same object then reads the committed rows and its
    next commit publishes only its own writes."""
    path = str(tmp_path / "wha")
    wh = Warehouse(spark, path)
    with wh.transaction():
        wh.append("t", spark.range(3))
        wh.commit("c1")
    committed = _dirs(path, "t")

    with pytest.raises(RuntimeError, match="injected"):
        with wh.transaction():
            wh.append("t", spark.range(5))
            assert wh.read("t").count() == 8  # read-your-writes
            raise RuntimeError("injected")
    with pytest.raises(Exception, match="boom"):
        with wh.transaction():
            wh.append("t", spark.range(2).selectExpr("raise_error('boom') AS id"))
    assert _dirs(path, "t") == committed
    assert wh.read("t").count() == 3

    with pytest.raises(RuntimeError, match="no open transaction"):
        wh.append("t", spark.range(1))
    with wh.transaction():
        with pytest.raises(RuntimeError, match="a transaction is open"):
            wh.transaction()
        wh.append("t", spark.range(2))
        wh.commit("c2")
    assert Warehouse(spark, path).read("t").count() == 5


def test_vacuum_from_stale_object_keeps_head(spark, tmp_path):
    """A Warehouse opened before another object committed expires from
    HEAD on disk, not from the manifest it last saw: every dir HEAD lists
    survives and the table reads all its rows."""
    path = str(tmp_path / "whv")
    stale = Warehouse(spark, path)
    with stale.transaction():
        stale.append("t", spark.range(3))
        stale.commit("v1")
    other = Warehouse(spark, path)
    with other.transaction():
        other.append("t", spark.range(3, 7))
        other.commit("v2")

    stale.vacuum(keep_last=3)
    head = Warehouse(spark, path)._manifest
    assert head.version == 2 and len(head.tables["t"]) == 2
    assert all(os.path.exists(d) for d in head.tables["t"])
    assert Warehouse(spark, path).read("t").count() == 7
    assert stale.snapshot().read("t").count() == 7


def test_missing_data_dir_raises(spark, tmp_path):
    """A committed dir removed by hand makes the read fail loudly instead
    of returning the rows of the dirs that are left."""
    from pyspark.errors import AnalysisException

    path = str(tmp_path / "whx")
    wh = Warehouse(spark, path)
    for i in range(2):
        with wh.transaction():
            wh.append("t", spark.range(i * 3, i * 3 + 3))
            wh.commit(f"r{i}")
    shutil.rmtree(wh._manifest.tables["t"][0])
    for schema in (None, "id long"):
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            Warehouse(spark, path).read("t", schema)


def test_row_tables_roundtrip(spark, tmp_path):
    from datetime import datetime, timezone

    from ethos_spark import schemas  # registers the sessions row schema

    wh = Warehouse(spark, str(tmp_path / "whr"))
    t0 = datetime(2025, 7, 1, tzinfo=timezone.utc)
    wh.transaction()
    wh.upsert_rows(
        "sessions",
        {
            "id": "s1", "source_id": "x", "source_name": "X",
            "start_time": t0, "end_time": None,
            "metadata": "{}", "stopped_reason": None,
        },
        key="id",
    )
    wh.commit("one")
    # upsert same key replaces, new key appends; survives reopen
    wh.transaction()
    wh.upsert_rows(
        "sessions",
        {
            "id": "s1", "source_id": "x", "source_name": "X",
            "start_time": t0, "end_time": t0,
            "metadata": "{}", "stopped_reason": "max_pages",
        },
        key="id",
    )
    wh.upsert_rows(
        "sessions",
        {
            "id": "s2", "source_id": "y", "source_name": "Y",
            "start_time": t0, "end_time": None,
            "metadata": "{}", "stopped_reason": None,
        },
        key="id",
    )
    wh.commit("two")
    wh2 = Warehouse(spark, wh.path)
    rows = {r.id: r for r in wh2.read("sessions").collect()}
    assert set(rows) == {"s1", "s2"}
    assert rows["s1"].stopped_reason == "max_pages"
    assert rows["s1"].end_time is not None  # timestamp round-trip


def test_legacy_parquet_folds_into_row_table(spark, tmp_path):
    """A pre-row-table warehouse holds sessions as parquet dirs; the first
    upsert_rows must fold those rows into the manifest row table instead of
    shadowing them (ADVICE r2: catalog.py migration gap)."""
    from datetime import datetime, timezone

    from ethos_spark import schemas

    wh = Warehouse(spark, str(tmp_path / "whl"))
    t0 = datetime(2025, 7, 1, tzinfo=timezone.utc)
    legacy = spark.createDataFrame(
        [("old1", "x", "X", t0, t0, "{}", "max_pages")], schemas.SESSIONS
    )
    # simulate the legacy layout: sessions as a parquet append table
    with wh.transaction():
        wh.append("sessions", legacy)
        wh.commit("legacy")
    wh2 = Warehouse(spark, wh.path)
    # legacy rows visible through the fallthrough before any row write
    assert [r.id for r in wh2.read("sessions").collect()] == ["old1"]
    wh2.transaction()
    wh2.upsert_rows(
        "sessions",
        {
            "id": "new1", "source_id": "y", "source_name": "Y",
            "start_time": t0, "end_time": None,
            "metadata": "{}", "stopped_reason": None,
        },
        key="id",
    )
    wh2.commit("migrated")
    rows = {r.id: r for r in Warehouse(spark, wh.path).read("sessions").collect()}
    assert set(rows) == {"old1", "new1"}  # history preserved
    assert rows["old1"].stopped_reason == "max_pages"
    assert rows["old1"].start_time is not None


def test_compact_then_vacuum(spark, tmp_path):
    """compact() folds an append table's dirs into one with the same rows;
    vacuum(keep_last=1) then deletes the replaced dirs from disk."""
    path = str(tmp_path / "whc")
    wh = Warehouse(spark, path)
    for i in range(3):
        with wh.transaction():
            rows = spark.range(i * 10, i * 10 + 10).selectExpr("id", "id % 3 k")
            wh.append("t", rows)
            wh.commit(f"r{i}")
    old_dirs = list(wh._manifest.tables["t"])
    assert len(old_dirs) == 3
    want = sorted(map(tuple, wh.read("t").collect()))

    with wh.transaction():
        assert wh.compact("t") is True
        wh.commit("compact")
    (only_dir,) = wh._manifest.tables["t"]
    assert only_dir not in old_dirs
    assert sorted(map(tuple, wh.read("t").collect())) == want
    with wh.transaction():
        assert wh.compact("t") is False  # one dir: nothing to do

    wh.vacuum(keep_last=1)
    assert not any(os.path.exists(d) for d in old_dirs)
    assert os.listdir(os.path.join(path, "t")) == [os.path.basename(only_dir)]
    assert sorted(map(tuple, Warehouse(spark, path).read("t").collect())) == want


def test_vacuum_expires_old_manifests(spark, tmp_path):
    """vacuum(keep_last) deletes the manifests of expired snapshots, not
    only their data dirs: 100 commits leave 3 manifests, a reopened
    warehouse reads the same rows, and gc_orphans then removes no live
    dir."""
    path = str(tmp_path / "whm")
    wh = Warehouse(spark, path)
    one_row = spark.range(1)
    for i in range(100):
        with wh.transaction():
            wh.append("t", one_row.selectExpr(f"{i} AS id"))
            wh.set_prop("round", str(i))
            wh.commit(f"r{i}")

    def manifests():
        return sorted(f for f in os.listdir(path) if f.startswith("manifest-"))

    assert len(manifests()) == 100
    want = sorted(r.id for r in wh.read("t").collect())
    assert want == list(range(100))

    wh.vacuum(keep_last=3)
    assert manifests() == ["manifest-100.json", "manifest-98.json", "manifest-99.json"]
    live = set(wh._manifest.tables["t"])
    reopened = Warehouse(spark, path)
    assert sorted(r.id for r in reopened.read("t").collect()) == want
    assert reopened.props["round"] == "99"
    assert reopened.gc_orphans() == []
    assert all(os.path.exists(d) for d in live)
    assert sorted(r.id for r in Warehouse(spark, path).read("t").collect()) == want


def test_read_with_schema_runs_no_job_and_nulls_missing_columns(spark, tmp_path):
    """A schema-given read of parquet dirs infers nothing (zero Spark
    jobs), and a dir written before a column existed reads it as NULL."""
    path = str(tmp_path / "whs")
    wh = Warehouse(spark, path)
    with wh.transaction():
        wh.append("t", spark.range(3).selectExpr("id", "'a' AS s"))
        wh.append("t", spark.range(3, 5).selectExpr("id"))  # older layout: no s
        wh.commit("c")
    sc = spark.sparkContext
    sc.setJobGroup("schema-read", "schema-given reads")
    try:
        df = wh.read("t", "id long, s string")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("schema-read") == []
    assert sorted(map(tuple, df.collect())) == [
        (0, "a"), (1, "a"), (2, "a"), (3, None), (4, None)
    ]


def test_reads_manifest_with_buckets_entry(spark, tmp_path):
    """Older trees wrote some tables with bucketBy(...).saveAsTable and kept
    the layout in a manifest ``buckets`` entry. Such a warehouse still
    reads the same rows (bucketed part files are plain parquet), and the
    next commit's manifest no longer carries the entry."""
    path = str(tmp_path / "whb")
    data_dir = os.path.join(path, "pages", "data-0123456789ab")
    df = spark.range(40).selectExpr("concat('https://h/p/', id) AS url", "id AS n")
    df.write.bucketBy(4, "url").sortBy("url").option("path", data_dir).saveAsTable(
        "wh_b_compat"
    )
    spark.sql("DROP TABLE wh_b_compat")  # external: the files stay
    assert any("_0000" in f for f in os.listdir(data_dir) if f.startswith("part-"))
    with open(os.path.join(path, "manifest-1.json"), "w") as f:
        json.dump(
            {
                "version": 1,
                "tag": "round-1",
                "tables": {"pages": [data_dir]},
                "props": {"round": "1"},
                "rows": {},
                "buckets": {
                    "pages": {
                        "n": 4, "cols": ["url"], "ddl": "`url` string, `n` bigint"
                    }
                },
            },
            f,
        )
    with open(os.path.join(path, "HEAD"), "w") as f:
        f.write("1")

    wh = Warehouse(spark, path)
    assert sorted(map(tuple, wh.read("pages").collect())) == sorted(
        map(tuple, df.collect())
    )
    assert wh.props == {"round": "1"}
    more = spark.range(40, 45).selectExpr("concat('https://h/p/', id) url", "id n")
    with wh.transaction():
        wh.append("pages", more)
        v = wh.commit("round-2")
    with open(os.path.join(path, f"manifest-{v}.json")) as f:
        m = json.load(f)
    assert "buckets" not in m
    assert m["tables"]["pages"][0] == data_dir
    assert Warehouse(spark, path).read("pages").count() == 45


def test_snapshots_follow_concurrent_commits(spark, tmp_path):
    """Threads sharing one Warehouse take snapshots while another object
    commits: every snapshot loads (HEAD never names an unwritten manifest),
    is whole (its props name its own version), and no thread ever sees HEAD
    go back."""
    import sys
    import threading

    path = str(tmp_path / "whf")
    writer = Warehouse(spark, path)

    def commit(i):
        with writer.transaction():
            writer.set_prop("v", str(i))
            writer.commit(f"c{i}")

    commit(1)
    reader = Warehouse(spark, path)
    stop, bad = threading.Event(), []

    def follow():
        last = 0
        while not stop.is_set():
            try:
                snap = reader.snapshot()
            except Exception as e:  # e.g. HEAD naming an unwritten manifest
                bad.append(repr(e))
                return
            if snap.props["v"] != str(snap.version) or snap.version < last:
                bad.append((last, snap.version, snap.props["v"]))
            last = snap.version

    threads = [
        threading.Thread(target=follow)
        for _ in range(len(os.sched_getaffinity(0)) + 2)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for i in range(2, 300):
            commit(i)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not bad, bad[:5]
    assert reader.snapshot().version == 299
