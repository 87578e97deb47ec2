"""Parquet-backed table state store — the sandbox stand-in for an
Iceberg catalog.

In production the reconciliation algebra (operators/reconcile.py)
compiles to three sequential ``MERGE INTO`` statements against one
pinned Iceberg snapshot (SURVEY.md §2.1 M1-M4), with table sort order
and ``write.distribution-mode=hash`` on the key columns replacing
Mongo's secondary indexes. This container has no Iceberg runtime, so
the store provides the same contract over parquet directories:

- versioned writes (``v_<n>`` subdirs + a CURRENT pointer file) give
  snapshot pinning: a reader holding version n never sees version n+1
  mid-job (Q5's "read prior snapshot once" requirement);
- atomic publish via write-temp-then-rename + pointer flip;
- each version stores its schema as ``_schema.json``, so a read
  starts no schema-inference job;
- a rollback hook (point CURRENT at an older version) standing in for
  Iceberg snapshot rollback.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class ParquetStateStore:
    def __init__(self, root: str):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _table_dir(self, table: str) -> Path:
        return self.root / table

    def _pointer(self, table: str) -> Path:
        return self._table_dir(table) / "CURRENT"

    def current_version(self, table: str) -> int | None:
        ptr = self._pointer(table)
        if not ptr.exists():
            return None
        return json.loads(ptr.read_text())["version"]

    def exists(self, table: str) -> bool:
        return self.current_version(table) is not None

    def read(self, spark: SparkSession, table: str,
             version: int | None = None) -> DataFrame:
        """Read the pinned (or explicit) snapshot version. The schema
        ``publish`` stored beside the data spares the inference job; a
        version without it falls back to inference."""
        v = self.current_version(table) if version is None else version
        if v is None:
            raise FileNotFoundError(f"state table {table} has no versions")
        vdir = self._table_dir(table) / f"v_{v}"
        schema = vdir / "_schema.json"
        reader = spark.read
        if schema.exists():
            reader = reader.schema(StructType.fromJson(json.loads(schema.read_text())))
        return reader.parquet(str(vdir))

    def publish(self, df: DataFrame, table: str) -> int:
        """Write a new version and flip the CURRENT pointer atomically.
        Returns the new version number."""
        tdir = self._table_dir(table)
        tdir.mkdir(parents=True, exist_ok=True)
        v = (self.current_version(table) or 0) + 1
        tmp = tdir / f".tmp_v_{v}"
        if tmp.exists():
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(str(tmp))
        # Spark skips _-prefixed files when it reads the version back
        (tmp / "_schema.json").write_text(df.schema.json())
        final = tdir / f"v_{v}"
        if final.exists():
            shutil.rmtree(final)
        tmp.rename(final)
        ptr_tmp = tdir / ".CURRENT.tmp"
        ptr_tmp.write_text(json.dumps({"version": v}))
        ptr_tmp.replace(self._pointer(table))
        return v

    def rollback(self, table: str, version: int) -> None:
        if not (self._table_dir(table) / f"v_{version}").exists():
            raise FileNotFoundError(f"{table} v_{version} does not exist")
        ptr_tmp = self._table_dir(table) / ".CURRENT.tmp"
        ptr_tmp.write_text(json.dumps({"version": version}))
        ptr_tmp.replace(self._pointer(table))
