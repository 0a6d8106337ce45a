"""Table catalog: Iceberg when available, parquet otherwise.

The north rule targets partitioned Iceberg graph tables. The sandbox image
has no Iceberg runtime jars, so the catalog dispatches:

- if the session has an Iceberg catalog configured
  (``spark.sql.catalog.<name>`` set, jars on classpath) → ``writeTo``
  V2 API with ``MERGE INTO`` upserts;
- else → parquet under a warehouse dir with the same table
  semantics (upsert emulated as anti-join + union-rewrite). Each table
  directory also holds ``_schema.json``, the written frame's schema, so a
  read passes it to ``spark.read.schema`` and starts no schema-inference
  job (Spark's file index skips ``_``-prefixed files). A directory without
  it, from an older writer, is read with an inferred schema.

Every pipeline stage goes through this layer, so pointing the session at a
real Iceberg catalog changes storage without touching operator code.
"""

from __future__ import annotations

import json
import os
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SCHEMA_FILE = "_schema.json"


class TableCatalog:
    def __init__(self, spark: SparkSession, warehouse: str, iceberg_catalog: Optional[str] = None):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)
        self.iceberg_catalog = iceberg_catalog or self._detect_iceberg()

    def _detect_iceberg(self) -> Optional[str]:
        try:
            for key in ("graft", "iceberg", "spark_catalog"):
                impl = self.spark.conf.get(f"spark.sql.catalog.{key}", None)
                if impl and "Iceberg" in impl:
                    return key
        except Exception:
            pass
        return None

    # -- path/name helpers -----------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _qualified(self, name: str) -> str:
        return f"{self.iceberg_catalog}.db.{name}"

    def exists(self, name: str) -> bool:
        if self.iceberg_catalog:
            return self.spark.catalog.tableExists(self._qualified(name))
        p = self._path(name)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        )

    # -- IO ----------------------------------------------------------------
    def write(self, df: DataFrame, name: str, mode: str = "overwrite") -> DataFrame:
        """Write the table; → the table as written. Parquet stores the
        frame's schema beside the data and reads it back with that schema,
        which starts no schema-inference job."""
        if self.iceberg_catalog:
            writer = df.writeTo(self._qualified(name)).using("iceberg")
            if mode == "overwrite":
                writer.createOrReplace()
            else:
                writer.append()
            return self.read(name)
        df.write.mode(mode).parquet(self._path(name))
        with open(os.path.join(self._path(name), SCHEMA_FILE), "w") as fh:
            fh.write(df.schema.json())
        return self.spark.read.schema(df.schema).parquet(self._path(name))

    def read(self, name: str) -> DataFrame:
        """The table, lazily. Parquet with a stored schema starts no job."""
        if self.iceberg_catalog:
            return self.spark.read.table(self._qualified(name))
        path = self._path(name)
        try:
            with open(os.path.join(path, SCHEMA_FILE)) as fh:
                schema = StructType.fromJson(json.load(fh))
        except FileNotFoundError:
            return self.spark.read.parquet(path)
        return self.spark.read.schema(schema).parquet(path)

    def drop(self, name: str) -> None:
        if self.iceberg_catalog:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._qualified(name)}")
            return
        import shutil

        shutil.rmtree(self._path(name), ignore_errors=True)

    def upsert(self, name: str, source: DataFrame, keys: List[str]) -> None:
        """MERGE INTO on keys. Iceberg: real MERGE; parquet: anti-join the
        target against the source keys, union, rewrite (same end state).

        The parquet rewrite overwrites the table from a local checkpoint of
        the merged rows (parquet can't overwrite its own input), with no
        temp table. It is not atomic: until the write finishes, the
        checkpoint holds the only copy of the merged rows, so a crash
        during it loses the table."""
        if self.iceberg_catalog:
            source.createOrReplaceTempView("_upsert_src")
            cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
            self.spark.sql(
                f"MERGE INTO {self._qualified(name)} t USING _upsert_src s ON {cond} "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            )
            return
        if not self.exists(name):
            self.write(source, name)
            return
        target = self.read(name)
        # an anti-join never multiplies its left rows: no key dedup needed
        kept = target.join(source.select(*keys), on=keys, how="left_anti")
        merged = kept.unionByName(source.select(*target.columns))
        self.write(merged.localCheckpoint(eager=True), name)
