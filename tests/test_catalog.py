"""Warehouse snapshot-catalog units: crash-orphan GC, manifest row
tables, compact/vacuum maintenance, snapshot expiry, schema-given reads
and reading a manifest written by an older tree."""

import json
import os

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
    wh.append("t", df)
    wh.commit("c1")
    assert len(os.listdir(os.path.join(path, "t"))) == 1

    crasher = Warehouse(spark, path)
    crasher.append("t", df)  # staged, never committed
    assert len(os.listdir(os.path.join(path, "t"))) == 2
    del crasher

    wh2 = Warehouse(spark, path)
    removed = wh2.gc_orphans()
    assert len(removed) == 1
    assert len(os.listdir(os.path.join(path, "t"))) == 1
    assert wh2.read("t").count() == 5
    # the re-run of the 'crashed' write commits cleanly, no duplicates
    wh2.append("t", df)
    wh2.commit("c2")
    assert wh2.read("t").count() == 10


def test_row_tables_roundtrip(spark, tmp_path):
    from datetime import datetime, timezone

    from ethos_spark import schemas  # registers the sessions row schema

    wh = Warehouse(spark, str(tmp_path / "whr"))
    t0 = datetime(2025, 7, 1, tzinfo=timezone.utc)
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
    # replace (admin-delete path) over a row table
    import pyspark.sql.functions as F

    wh2.replace("sessions", wh2.read("sessions").where(F.col("id") != "s1"))
    wh2.commit("del")
    assert [r.id for r in wh2.read("sessions").collect()] == ["s2"]


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
    wh.append("sessions", legacy)
    wh.commit("legacy")
    wh2 = Warehouse(spark, wh.path)
    # legacy rows visible through the fallthrough before any row write
    assert [r.id for r in wh2.read("sessions").collect()] == ["old1"]
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
        wh.append("t", spark.range(i * 10, i * 10 + 10).selectExpr("id", "id % 3 k"))
        wh.commit(f"r{i}")
    old_dirs = list(wh._manifest.tables["t"])
    assert len(old_dirs) == 3
    want = sorted(map(tuple, wh.read("t").collect()))

    assert wh.compact("t") is True
    wh.commit("compact")
    (only_dir,) = wh._manifest.tables["t"]
    assert only_dir not in old_dirs
    assert sorted(map(tuple, wh.read("t").collect())) == want
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
    wh.append("pages", more)
    v = wh.commit("round-2")
    with open(os.path.join(path, f"manifest-{v}.json")) as f:
        m = json.load(f)
    assert "buckets" not in m
    assert m["tables"]["pages"][0] == data_dir
    assert Warehouse(spark, path).read("pages").count() == 45
