"""Snapshot-manifest table catalog (Iceberg stand-in, SURVEY.md §7.0).

The north_rule targets Iceberg tables; the Iceberg runtime jar is not
available in this sandbox, so this module provides the same *guarantees* on
plain parquet, behind a thin interface the crawl loop uses exclusively —
swapping in Iceberg later means reimplementing this class with
``writeTo(...).append()`` / MERGE and snapshot tags.

Guarantees provided:
- **Atomic snapshot commits**: writers stage parquet directories, then a
  single manifest JSON (``manifest-<v>.json``) + HEAD pointer rename makes
  them visible. Readers only ever see a committed manifest. This is the
  per-round checkpoint (reference analogue: WAL checkpoint after every
  listing page, MetadataDatabase.ts:118-120 / MetadataTracker.ts:321-323).
- **Append** tables accumulate data dirs (pages, seen, metrics, lineage).
- **Replace** tables (frontier working set) write a fresh version dir per
  round — copy-on-write like Iceberg's overwrite snapshots.
- **Tags**: every commit is tagged (``round-7``); a resumed crawl reopens
  HEAD, the last committed round (north_rule "checkpointed frontier
  snapshots", SURVEY.md §4.2.6).
- **Bounded history**: ``vacuum(keep_last)`` expires older snapshots —
  their manifest files and every data dir only they referenced — like
  Iceberg's ``expire_snapshots``.

Every data dir is plain parquet. A manifest written by an older tree may
carry a ``buckets`` entry (a bucketed-table tier since removed); the loader
ignores it, because bucketed part files are plain parquet too, and the next
commit drops it.
"""

from __future__ import annotations

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


class Warehouse:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        self._manifest = self._load_head()
        self._staged: _Manifest | None = None
        # guards staging mutations: the crawl loop submits its independent
        # lineage writes from a thread pool (parquet writes run
        # concurrently; only the dir registration needs the lock)
        self._lock = threading.RLock()

    # -- manifest machinery ------------------------------------------------

    def _head_path(self) -> str:
        return os.path.join(self.path, "HEAD")

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self.path, f"manifest-{v}.json")

    def _load_head(self) -> _Manifest:
        try:
            with open(self._head_path()) as f:
                v = int(f.read().strip())
            return _Manifest.load(self._manifest_path(v))
        except FileNotFoundError:
            return _Manifest()

    def _publish_head(self, v: int) -> None:
        tmp = self._head_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._head_path())  # atomic publish

    def _begin(self) -> _Manifest:
        with self._lock:
            if self._staged is None:
                self._staged = self._manifest.staged()
            return self._staged

    def _cur(self) -> _Manifest:
        """The staged snapshot while a write is open, else the committed one."""
        return self._staged if self._staged is not None else self._manifest

    def commit(self, tag: str, props: dict[str, str] | None = None) -> int:
        """Atomically publish all staged writes as one snapshot."""
        m = self._begin()
        if props:
            m.props.update(props)
        m.version, m.tag = self._manifest.version + 1, tag
        m.dump(self._manifest_path(m.version))
        self._publish_head(m.version)
        self._manifest = m
        self._staged = None
        return m.version

    @property
    def props(self) -> dict[str, str]:
        return dict(self._manifest.props)

    # -- row tables (metadata-sized, stored in the manifest) -----------------

    # schemas for row tables so schema-less read() keeps working; the crawl
    # engine registers "sessions" here (ethos_spark.schemas.SESSIONS)
    ROW_TABLE_SCHEMAS: dict[str, StructType] = {}

    def upsert_rows(self, table: str, row: dict, key: str) -> None:
        """Insert-or-replace one JSON row by ``row[key]`` — driver-side, no
        Spark job; visible after commit(). datetimes are stored ISO.

        Legacy migration: the FIRST row-write to a table that still has
        parquet data dirs (a pre-row-table warehouse) folds the parquet
        rows into the manifest row table first, so history isn't shadowed
        — the read() fallthrough only covers tables never row-written."""
        m = self._begin()
        r = _iso(row)
        with self._lock:
            if table not in m.rows and m.tables.get(table):
                dirs = [d for d in m.tables[table] if os.path.exists(d)]
                if dirs:
                    m.rows[table] = [
                        _iso(lr.asDict())
                        for lr in self.spark.read.parquet(*dirs).collect()
                    ]
                m.tables[table] = []  # row table owns the data now
            cur = {x[key]: x for x in m.rows.get(table, [])}
            cur[r[key]] = r
            m.rows[table] = list(cur.values())

    def read_rows(self, table: str) -> list[dict]:
        return list(self._cur().rows.get(table, []))

    def is_row_table(self, table: str) -> bool:
        """True when the table currently lives in the manifest row tier
        (committed or staged) — readers/writers use this to route."""
        return table in self._cur().rows

    def replace_rows(self, table: str, rows: list[dict]) -> None:
        """Replace a manifest row table wholesale — driver-side, zero Spark
        jobs; visible after commit(). Also claims the name from the parquet
        tier (any previously-registered data dirs are dropped from the
        snapshot), so a session-scoped reset migrates a legacy parquet
        table to the row tier in one call."""
        m = self._begin()
        conv = [_iso(r) for r in rows]
        with self._lock:
            m.rows[table] = conv
            if m.tables.get(table):
                m.tables[table] = []

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

    # -- table ops ----------------------------------------------------------

    def read(self, table: str, schema=None) -> DataFrame:
        """The table as of the current snapshot. A given ``schema`` is the
        read schema of parquet dirs too: no inference job, and a column an
        older dir lacks reads as NULL."""
        # row tables read from the manifest; a LEGACY warehouse that still
        # has parquet dirs for a registered row table (pre-migration
        # snapshot) falls through to the dirs until its first row write
        cur = self._cur()
        if table in cur.rows or (
            table in self.ROW_TABLE_SCHEMAS and not cur.tables.get(table)
        ):
            return self._rows_df(
                cur.rows.get(table, []), schema or self.ROW_TABLE_SCHEMAS[table]
            )
        dirs = [d for d in cur.tables.get(table, []) if os.path.exists(d)]
        if not dirs:
            if schema is None:
                raise KeyError(f"table {table!r} empty and no schema given")
            return self.spark.createDataFrame([], schema)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(*dirs)

    def _new_data_dir(self, table: str) -> str:
        return os.path.join(self.path, table, f"data-{uuid.uuid4().hex[:12]}")

    def append(self, table: str, df: DataFrame) -> str:
        """Stage an append; visible after commit(). Returns the data dir so
        a writer can immediately re-read what it just wrote (column-pruned)
        without waiting for the snapshot to publish."""
        m = self._begin()
        d = self._new_data_dir(table)
        df.write.mode("overwrite").parquet(d)  # concurrent-safe (own dir)
        with self._lock:
            m.tables.setdefault(table, []).append(d)
        return d

    def replace(self, table: str, df: DataFrame, force_parquet: bool = False) -> None:
        """Stage a full replace (copy-on-write); visible after commit().

        With Iceberg this would be MERGE / dynamic-partition overwrite; on a
        10^10-row frontier the working set is partitioned by host bucket so
        only dirty buckets rewrite — here the pending set is small relative
        to seen/pages (it shrinks every round), so CoW is the right shape.

        Replacing a ROW table (e.g. an admin delete over sessions) collects
        the DataFrame — metadata-sized by construction. ``force_parquet``
        pins a dual-tier table (host_offsets) to the distributed parquet
        tier, evicting any manifest-row copy of it.
        """
        m = self._begin()
        if force_parquet:
            with self._lock:
                m.rows.pop(table, None)
        elif table in m.rows or table in self.ROW_TABLE_SCHEMAS:
            rows = [_iso(r.asDict()) for r in df.collect()]
            with self._lock:
                m.rows[table] = rows
            return
        d = self._new_data_dir(table)
        df.write.mode("overwrite").parquet(d)
        with self._lock:
            m.tables[table] = [d]

    def compact(self, table: str) -> bool:
        """Rewrite a multi-dir append table into ONE data dir (staged;
        visible after commit()). Iceberg analogue: rewrite_data_files.

        Each append adds a dir, so a long crawl's tables read through many
        small dirs; ``cli maintain --compact`` folds them into one, on the
        same cadence as vacuum(). Returns False when the table already has
        ≤1 dir (nothing to do)."""
        m = self._begin()
        with self._lock:
            dirs = [d for d in m.tables.get(table, []) if os.path.exists(d)]
        if len(dirs) <= 1:
            return False
        d = self._new_data_dir(table)
        self.spark.read.parquet(*dirs).write.mode("overwrite").parquet(d)
        with self._lock:
            m.tables[table] = [d]
        return True

    def set_prop(self, key: str, value: str) -> None:
        m = self._begin()
        with self._lock:
            m.props[key] = value

    def _sweep(self, manifests: list[str]) -> list[str]:
        """Delete every table data dir that none of the given manifest
        files references; returns the removed dirs."""
        live: set[str] = set()
        for p in manifests:
            if os.path.exists(p):
                for ds in _Manifest.load(p).tables.values():
                    live.update(ds)
        removed: list[str] = []
        for table in sorted(os.listdir(self.path)):
            tdir = os.path.join(self.path, table)
            if not os.path.isdir(tdir):
                continue
            for d in os.listdir(tdir):
                full = os.path.join(tdir, d)
                if full not in live:
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(full)
        return removed

    def _manifest_versions(self) -> list[int]:
        """Versions of the manifest files on disk."""
        return [
            int(fn[len("manifest-") : -len(".json")])
            for fn in os.listdir(self.path)
            if fn.startswith("manifest-") and fn.endswith(".json")
        ]

    def gc_orphans(self) -> list[str]:
        """Delete data dirs referenced by NO manifest — leftovers of a
        writer that crashed between staging an append and committing the
        snapshot. Because reads only ever resolve through a committed
        manifest, orphans are invisible to queries (no double-append is
        possible); this reclaims the disk and keeps re-runs byte-clean.

        Call when (re)opening a warehouse for writing — never concurrently
        with a live writer (single-writer model; Iceberg's commit lock is
        the production analogue). Returns the removed dirs."""
        return self._sweep([self._manifest_path(v) for v in self._manifest_versions()])

    def vacuum(self, keep_last: int = 3) -> None:
        """Expire every snapshot older than the last ``keep_last`` (at least
        HEAD is kept): delete their manifest files, then every data dir
        that no kept snapshot references (Iceberg expire_snapshots
        analogue). Manifests go first, so no manifest left on disk ever
        names a deleted dir."""
        v = self._manifest.version
        first = max(1, v - max(keep_last, 1) + 1)
        for ver in self._manifest_versions():
            if ver < first:
                os.remove(self._manifest_path(ver))
        self._sweep([self._manifest_path(i) for i in range(first, v + 1)])
