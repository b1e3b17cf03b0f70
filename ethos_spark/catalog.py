"""Snapshot-manifest table catalog (Iceberg stand-in, SURVEY.md §7.0).

The north_rule targets Iceberg tables; the Iceberg runtime jar is not
available in this sandbox, so this module provides the same *guarantees* on
plain parquet, behind a thin interface the crawl loop uses exclusively —
swapping in Iceberg means reimplementing it with ``writeTo(...).append()``
/ MERGE and snapshot tags.

- **Snapshots**: a commit writes one manifest (``manifest-<v>.json``: the
  tables' parquet data dirs, props, tag ``round-7``) and renames HEAD to
  it — the per-round checkpoint a resumed crawl reopens (reference: WAL
  checkpoint after every listing page, MetadataTracker.ts:321-323).
  ``snapshot()`` re-reads HEAD from disk as an immutable ``Snapshot``; its
  dirs stay on disk until ``vacuum(keep_last)`` expires it (Iceberg
  ``expire_snapshots``). A long-lived reader (the HTTP app) re-resolves
  when ``version`` moves; a request racing a ``vacuum`` of the snapshot
  it resolved is not covered.
- **Transactions**: ``with wh.transaction():`` stages a copy of HEAD, one
  per ``Warehouse`` object. Appends add dirs, replaces write a fresh one
  (copy-on-write), the object's reads see its writes, and ``commit(tag)``
  publishes them at once. Leaving the block uncommitted aborts: the
  staged manifest is dropped and every dir it named is deleted. A write
  outside a transaction raises.
- **Single writer** per warehouse, not enforced (Iceberg's commit lock is
  the production analogue); ``gc_orphans`` reclaims the dirs of a writer
  process that died before it could abort.

Every data dir is plain parquet. A manifest written by an older tree may
carry a ``buckets`` entry (a bucketed-table tier since removed); the loader
ignores it, because bucketed part files are plain parquet too, and the next
commit drops it.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import uuid
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType


def _iso(row: dict) -> dict:
    """JSON-ready copy of a row: datetimes stored as ISO strings."""
    return {
        k: (v.isoformat() if isinstance(v, datetime) else v) for k, v in row.items()
    }


@dataclass
class _Manifest:
    version: int = 0
    tag: str = ""
    tables: dict[str, list[str]] = field(default_factory=dict)  # table → data dirs
    props: dict[str, str] = field(default_factory=dict)
    # tiny metadata tables stored INSIDE the manifest (Iceberg keeps the
    # same class of data — snapshot summaries — in table metadata): list of
    # JSON rows per table. Zero Spark jobs to maintain; upserted by key.
    rows: dict[str, list[dict]] = field(default_factory=dict)

    @classmethod
    def load(cls, path: str) -> _Manifest:
        with open(path) as f:
            d = json.load(f)
        return cls(
            d["version"], d["tag"], d["tables"], d.get("props", {}), d.get("rows", {})
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(vars(self), f)

    def staged(self) -> _Manifest:
        """Copy to stage writes on: fresh per-table lists, so appends never
        touch the committed snapshot. Rows themselves are shared — writers
        replace them, never mutate (``host_offsets`` can hold 10k)."""
        return _Manifest(
            self.version,
            self.tag,
            {t: list(ds) for t, ds in self.tables.items()},
            dict(self.props),
            {t: list(rs) for t, rs in self.rows.items()},
        )


@dataclass(frozen=True)
class Snapshot:
    """A read-only view of one manifest; committed ones never change."""

    spark: SparkSession
    manifest: _Manifest

    @property
    def version(self) -> int:
        return self.manifest.version

    @property
    def props(self) -> dict[str, str]:
        return dict(self.manifest.props)

    def read_rows(self, table: str) -> list[dict]:
        return list(self.manifest.rows.get(table, []))

    def is_row_table(self, table: str) -> bool:
        return table in self.manifest.rows

    def read(self, table: str, schema=None) -> DataFrame:
        """The table as of this manifest. A given ``schema`` is the read
        schema of parquet dirs too (no inference job; a column an older dir
        lacks reads as NULL). A missing dir raises ``PATH_NOT_FOUND``."""
        # row tables read from the manifest; a legacy warehouse's parquet
        # dirs of a registered row table are read until its first row write
        m, spark = self.manifest, self.spark
        if table in m.rows or (
            table in Warehouse.ROW_TABLE_SCHEMAS and not m.tables.get(table)
        ):
            return self._rows_df(
                m.rows.get(table, []), schema or Warehouse.ROW_TABLE_SCHEMAS[table]
            )
        dirs = m.tables.get(table)
        if not dirs:
            if schema is None:
                raise KeyError(f"table {table!r} empty and no schema given")
            return spark.createDataFrame([], schema)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*dirs)

    def _rows_df(self, rows: list[dict], schema: StructType) -> DataFrame:
        out = []
        for r in rows:
            vals = []
            for f in schema.fields:
                v = r.get(f.name)
                if v is not None and isinstance(f.dataType, TimestampType):
                    v = datetime.fromisoformat(v)
                vals.append(v)
            out.append(tuple(vals))
        return self.spark.createDataFrame(out, schema)


@dataclass
class Transaction:
    """A ``Warehouse`` object's one open write: a staged copy of HEAD and
    every data dir it named. Leaving its ``with`` block uncommitted aborts."""

    wh: Warehouse
    manifest: _Manifest
    dirs: list[str] = field(default_factory=list)

    def __enter__(self) -> Transaction:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if self.wh._tx is self:  # not committed: abort
            self.wh._tx = None
            for d in self.dirs:
                shutil.rmtree(d, ignore_errors=True)


class Warehouse:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        self._manifest = _Manifest()  # the last committed manifest seen
        self._head()
        self._tx: Transaction | None = None
        # pool threads write concurrently; staging mutations take the lock
        self._lock = threading.RLock()

    # -- manifest machinery ------------------------------------------------

    def _head_path(self) -> str:
        return os.path.join(self.path, "HEAD")

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self.path, f"manifest-{v}.json")

    def _head(self) -> _Manifest:
        """HEAD as on disk; the manifest is reloaded only when HEAD moved."""
        try:
            with open(self._head_path()) as f:
                v = int(f.read().strip())
        except FileNotFoundError:
            v = 0
        m = self._manifest  # one read: other threads may swap it
        if v != m.version:
            m = self._manifest = _Manifest.load(self._manifest_path(v))
        return m

    def snapshot(self) -> Snapshot:
        """HEAD as on disk now, as an immutable view."""
        return Snapshot(self.spark, self._head())

    def transaction(self) -> Transaction:
        """Open this object's one transaction, on HEAD as on disk."""
        with self._lock:
            if self._tx is not None:
                raise RuntimeError(f"warehouse {self.path}: a transaction is open")
            self._tx = Transaction(self, self._head().staged())
            return self._tx

    def _require_tx(self) -> Transaction:
        if self._tx is None:
            raise RuntimeError(f"warehouse {self.path}: no open transaction")
        return self._tx

    def commit(self, tag: str) -> int:
        """Atomically publish the open transaction as one snapshot."""
        with self._lock:
            m = self._require_tx().manifest
            m.version, m.tag = m.version + 1, tag
            m.dump(self._manifest_path(m.version))
            tmp = self._head_path() + ".tmp"
            with open(tmp, "w") as f:
                f.write(str(m.version))
            os.replace(tmp, self._head_path())  # atomic publish
            self._manifest, self._tx = m, None
        return m.version

    def _view(self) -> Snapshot:
        """The open transaction's manifest, else the last committed one."""
        tx = self._tx
        return Snapshot(self.spark, self._manifest if tx is None else tx.manifest)

    @property
    def props(self) -> dict[str, str]:
        return self._view().props

    def read(self, table: str, schema=None) -> DataFrame:
        return self._view().read(table, schema)

    def read_rows(self, table: str) -> list[dict]:
        return self._view().read_rows(table)

    def is_row_table(self, table: str) -> bool:
        return self._view().is_row_table(table)

    # -- row tables (metadata-sized, stored in the manifest) -----------------

    # schemas for row tables so schema-less read() keeps working; the crawl
    # engine registers "sessions" here (ethos_spark.schemas.SESSIONS)
    ROW_TABLE_SCHEMAS: dict[str, StructType] = {}

    def upsert_rows(self, table: str, row: dict, key: str) -> None:
        """Stage an insert-or-replace of one JSON row by ``row[key]`` —
        driver-side, no Spark job; datetimes are stored ISO. The first row
        write to a table that still has parquet dirs (a pre-row-table
        warehouse) folds their rows in first, so history isn't shadowed."""
        m = self._require_tx().manifest
        r = _iso(row)
        with self._lock:
            dirs = m.tables.get(table)
            if table not in m.rows and dirs:
                m.rows[table] = [
                    _iso(lr.asDict()) for lr in self.spark.read.parquet(*dirs).collect()
                ]
                m.tables[table] = []  # row table owns the data now
            cur = {x[key]: x for x in m.rows.get(table, [])}
            cur[r[key]] = r
            m.rows[table] = list(cur.values())

    def replace_rows(self, table: str, rows: list[dict]) -> None:
        """Stage a full replace into the manifest row tier, dropping any
        parquet dirs of the table — driver-side, zero Spark jobs."""
        m = self._require_tx().manifest
        conv = [_iso(r) for r in rows]
        with self._lock:
            m.rows[table] = conv
            if m.tables.get(table):
                m.tables[table] = []

    # -- table ops ----------------------------------------------------------

    def _new_data_dir(self, tx: Transaction, table: str, df: DataFrame) -> str:
        """Write ``df`` to a fresh data dir of its own (concurrent-safe),
        named in ``tx`` before the write starts, so an abort deletes it even
        when the write failed."""
        d = os.path.join(self.path, table, f"data-{uuid.uuid4().hex[:12]}")
        with self._lock:
            tx.dirs.append(d)
        df.write.mode("overwrite").parquet(d)
        return d

    def append(self, table: str, df: DataFrame) -> str:
        """Stage an append. Returns the data dir so a writer can re-read
        what it just wrote (column-pruned) before the commit."""
        tx = self._require_tx()
        d = self._new_data_dir(tx, table, df)
        with self._lock:
            tx.manifest.tables.setdefault(table, []).append(d)
        return d

    def replace(self, table: str, df: DataFrame) -> None:
        """Stage a full replace (copy-on-write) into the parquet tier,
        dropping any manifest-row copy of the table. Iceberg would MERGE;
        the pending set is small next to seen/pages (it shrinks every
        round), so CoW is the right shape."""
        tx = self._require_tx()
        d = self._new_data_dir(tx, table, df)
        with self._lock:
            tx.manifest.rows.pop(table, None)
            tx.manifest.tables[table] = [d]

    def compact(self, table: str) -> bool:
        """Stage a rewrite of a multi-dir append table into ONE data dir
        (Iceberg rewrite_data_files, run by ``cli maintain --compact``).
        Returns False when the table has ≤1 dir (nothing to do)."""
        tx = self._require_tx()
        with self._lock:
            dirs = list(tx.manifest.tables.get(table, []))
        if len(dirs) <= 1:
            return False
        d = self._new_data_dir(tx, table, self.spark.read.parquet(*dirs))
        with self._lock:
            tx.manifest.tables[table] = [d]
        return True

    def set_prop(self, key: str, value: str) -> None:
        m = self._require_tx().manifest
        with self._lock:
            m.props[key] = value

    def _manifest_versions(self) -> list[int]:
        """Versions of the manifest files on disk."""
        return [
            int(fn[len("manifest-") : -len(".json")])
            for fn in os.listdir(self.path)
            if fn.startswith("manifest-") and fn.endswith(".json")
        ]

    def gc_orphans(self) -> list[str]:
        """Delete the data dirs no manifest on disk names (expired, or of a
        writer process that died inside a transaction): queries never see
        them. Never call it while a transaction is open, here or in another
        writer. Returns the removed dirs."""
        live: set[str] = set()
        for v in self._manifest_versions():
            for ds in _Manifest.load(self._manifest_path(v)).tables.values():
                live.update(ds)
        on_disk = sorted(glob.glob(os.path.join(glob.escape(self.path), "*", "*")))
        removed = [d for d in on_disk if d not in live]
        for d in removed:
            shutil.rmtree(d, ignore_errors=True)
        return removed

    def vacuum(self, keep_last: int = 3) -> None:
        """Expire the snapshots older than the last ``keep_last`` of HEAD on
        disk (HEAD itself is kept): delete their manifests, then the data
        dirs no remaining manifest names, so no manifest ever names a
        deleted dir."""
        first = self._head().version - max(keep_last, 1) + 1
        for v in self._manifest_versions():
            if v < first:
                os.remove(self._manifest_path(v))
        self.gc_orphans()
