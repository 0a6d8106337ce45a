"""Table catalog: Iceberg when available, partitioned parquet otherwise.

The north rule targets partitioned Iceberg graph tables. The sandbox image
has no Iceberg runtime jars, so the catalog dispatches:

- if the session has an Iceberg catalog configured
  (``spark.sql.catalog.<name>`` set, jars on classpath) → ``writeTo``
  V2 API with ``MERGE INTO`` upserts;
- else → partitioned parquet under a warehouse dir with the same table
  semantics (upsert emulated as anti-join + union-rewrite).

Every pipeline stage goes through this layer, so pointing the session at a
real Iceberg catalog changes storage without touching operator code.
"""

from __future__ import annotations

import os
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession


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
    def write(self, df: DataFrame, name: str, partition_by: Optional[List[str]] = None,
              mode: str = "overwrite") -> DataFrame:
        """Write the table; → the table as written. Parquet reads it back
        with the frame's own schema, which starts no schema-inference job."""
        if self.iceberg_catalog:
            writer = df.writeTo(self._qualified(name)).using("iceberg")
            if mode == "overwrite":
                writer.createOrReplace()
            else:
                writer.append()
            return self.read(name)
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(name))
        return self.spark.read.schema(df.schema).parquet(self._path(name))

    def read(self, name: str) -> DataFrame:
        if self.iceberg_catalog:
            return self.spark.read.table(self._qualified(name))
        return self.spark.read.parquet(self._path(name))

    def drop(self, name: str) -> None:
        if self.iceberg_catalog:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._qualified(name)}")
            return
        import shutil

        shutil.rmtree(self._path(name), ignore_errors=True)

    def upsert(self, name: str, source: DataFrame, keys: List[str],
               partition_by: Optional[List[str]] = None) -> None:
        """MERGE INTO on keys. Iceberg: real MERGE; parquet: anti-join the
        target against the source keys, union, rewrite (same end state)."""
        if self.iceberg_catalog:
            source.createOrReplaceTempView("_upsert_src")
            cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
            self.spark.sql(
                f"MERGE INTO {self._qualified(name)} t USING _upsert_src s ON {cond} "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            )
            return
        if not self.exists(name):
            self.write(source, name, partition_by=partition_by)
            return
        target = self.read(name)
        kept = target.join(source.select(*keys).dropDuplicates(keys), on=keys, how="left_anti")
        merged = kept.unionByName(source.select(*target.columns))
        # rewrite through a temp dir: parquet can't overwrite its own input
        tmp = name + "__tmp"
        out = self.write(merged, tmp, partition_by=partition_by).localCheckpoint(eager=True)
        self.drop(name)
        self.write(out, name, partition_by=partition_by)
        self.drop(tmp)

    def delete_keys(self, name: str, keys_df: DataFrame, keys: List[str]) -> None:
        """DELETE FROM name WHERE key IN keys_df."""
        if not self.exists(name):
            return
        target = self.read(name)
        kept = target.join(keys_df.select(*keys).dropDuplicates(keys), on=keys, how="left_anti")
        tmp = name + "__tmp"
        out = self.write(kept, tmp).localCheckpoint(eager=True)
        self.drop(name)
        self.write(out, name)
        self.drop(tmp)
