"""Snapshot-versioned parquet table store (Iceberg-style).

The reference persists crawl state in append-only text files plus a
rewrite-on-mutation pending file (goldie_playwright_parallel.py:514-645).
We replace that with versioned tables giving the Iceberg properties the
north rule needs without an external catalog (no Iceberg jars in this
sandbox — on a real cluster this module is swapped for Iceberg tables and
``MERGE INTO``; the call sites are written against this narrow interface
so the swap is mechanical):

- atomic commits: data written to a staging dir, then a single
  manifest-file replace (os.replace) publishes the snapshot,
- append / overwrite ops, each producing a new immutable snapshot,
- time travel: read any historical version (resume-from-round),
- per-snapshot lineage metadata (round id, op, row counts, custom metrics).

Layout:
    <warehouse>/<table>/_versions.json       # manifest (current + history)
    <warehouse>/<table>/v<N>/part-*.parquet  # immutable snapshot data dirs
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_df(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema`` order) as a DataFrame
    Catalyst can see into. ``createDataFrame(list)`` parallelizes the rows
    into a Python-RDD scan that the optimizer cannot prune; an Arrow table
    becomes a ``LocalRelation`` up to
    ``spark.sql.execution.arrow.localRelationThreshold`` (and an RDD above
    it), so joins against an empty or tiny side fold away at plan time."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = list(rows)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type)
         for i, f in enumerate(arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


class SnapshotTable:
    def __init__(self, spark: SparkSession, warehouse: str, name: str,
                 schema: T.StructType | None = None):
        self.spark = spark
        self.name = name
        self.path = os.path.join(warehouse, name)
        self.schema = schema
        # serializes same-table snapshot commits, which may come from any
        # thread: the crawl engine commits from its round pool and from the
        # driver thread, and a table object may be shared by threads the
        # caller runs. Two unserialized commits would allocate the same
        # version (manifest read → v+1 → os.replace collision / manifest
        # lost-update). The engine itself joins every round's jobs before
        # the round returns, so it never overlaps commits to one table;
        # the lock keeps the table safe without relying on that. RLock
        # because upsert's read-modify-write spans an inner overwrite.
        # Writes to DIFFERENT tables still overlap freely. (On a real
        # cluster this is the table format's job — Iceberg commits via
        # optimistic retry.)
        self._write_lock = threading.RLock()
        os.makedirs(self.path, exist_ok=True)

    # -- manifest ------------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_versions.json")

    def _load_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"current": 0, "versions": []}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _commit_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic publish

    def current_version(self) -> int:
        return self._load_manifest()["current"]

    def history(self) -> list[dict]:
        return self._load_manifest()["versions"]

    # -- reads ---------------------------------------------------------------
    def _dirs_for_version(self, manifest: dict, version: int) -> list[str]:
        dirs: list[str] = []
        for v in manifest["versions"]:
            if v["v"] > version:
                break
            if v["op"] == "overwrite":
                dirs = []
            dirs.append(os.path.join(self.path, f"v{v['v']}"))
        return dirs

    def read(self, version: int | None = None) -> DataFrame:
        manifest = self._load_manifest()
        if version is None:
            version = manifest["current"]
        dirs = self._dirs_for_version(manifest, version)
        if not dirs:
            assert self.schema is not None, (
                f"empty table {self.name} needs a schema for empty reads"
            )
            return local_df(self.spark, [], self.schema)
        reader = self.spark.read
        if self.schema is not None:
            # schema-on-read: writes are checked against the declared
            # schema (_write_snapshot), so no footer-inference job is needed
            reader = reader.schema(self.schema)
        return reader.parquet(*dirs)

    def is_empty(self) -> bool:
        manifest = self._load_manifest()
        return not self._dirs_for_version(manifest, manifest["current"])

    # -- writes ---------------------------------------------------------------
    def _write_snapshot(self, df: DataFrame, op: str, meta: dict | None) -> int:
        if (self.schema is not None
                and df.schema.simpleString() != self.schema.simpleString()):
            raise ValueError(
                f"table {self.name}: written schema {df.schema.simpleString()}"
                f" differs from declared schema {self.schema.simpleString()}"
            )
        with self._write_lock:
            return self._write_snapshot_locked(df, op, meta)

    def _write_snapshot_locked(self, df: DataFrame, op: str,
                               meta: dict | None) -> int:
        manifest = self._load_manifest()
        new_v = manifest["current"] + 1
        staging = os.path.join(self.path, f"_staging_v{new_v}")
        final = os.path.join(self.path, f"v{new_v}")
        if os.path.exists(staging):
            shutil.rmtree(staging)
        if os.path.exists(final):
            # unpublished leftover from a rollback — safe to clear, the
            # manifest no longer references it
            shutil.rmtree(final)
        df.write.mode("overwrite").parquet(staging)
        os.replace(staging, final)
        manifest["versions"].append(
            {
                "v": new_v,
                "op": op,
                "committed_at": time.time(),
                "meta": meta or {},
            }
        )
        manifest["current"] = new_v
        self._commit_manifest(manifest)
        return new_v

    def append(self, df: DataFrame, meta: dict | None = None) -> int:
        return self._write_snapshot(df, "append", meta)

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> int:
        return self._write_snapshot(df, "overwrite", meta)

    def upsert(self, df: DataFrame, key: str, meta: dict | None = None) -> int:
        """MERGE-by-key (reference S7: INSERT … ON CONFLICT (url) DO UPDATE,
        db.py:494-528). Copy-on-write here; Iceberg MERGE INTO on a real
        cluster."""
        with self._write_lock:  # read-modify-write must be atomic
            current = self.read()
            kept = current.join(
                df.select(key), on=key, how="left_anti"
            ).select(*current.columns)  # the join moves the key first
            return self.overwrite(kept.unionByName(df), meta)

    def rollback_to(self, version: int) -> None:
        """Resume-from-round support: make ``version`` current again by
        truncating history (later snapshot dirs are retained on disk but
        unpublished)."""
        with self._write_lock:
            manifest = self._load_manifest()
            assert (
                any(v["v"] == version for v in manifest["versions"])
                or version == 0
            )
            manifest["versions"] = [
                v for v in manifest["versions"] if v["v"] <= version
            ]
            manifest["current"] = version
            self._commit_manifest(manifest)


class Warehouse:
    """A set of SnapshotTables rooted at one directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._tables: dict[str, SnapshotTable] = {}

    def table(self, name: str, schema: T.StructType | None = None) -> SnapshotTable:
        if name not in self._tables:
            self._tables[name] = SnapshotTable(self.spark, self.root, name, schema)
        elif schema is not None and self._tables[name].schema is None:
            self._tables[name].schema = schema
        return self._tables[name]
