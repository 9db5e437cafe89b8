"""Delta Lake binding for the TableStore contract.

The engine's dispositions program against :class:`TableStore`
(``table_store.py``); :class:`ParquetTableStore` emulates snapshot
semantics on plain parquet because no lakehouse runtime ships in this
container.  This module is the real binding: when ``delta-spark`` (and
its jars, via ``spark.jars.packages io.delta:delta-spark_2.13:x``) are
on the classpath, the same pipeline code gets Delta's transaction log,
time travel, OPTIMIZE, and concurrent-writer safety instead of the
pointer-file emulation.

Availability is detected at import time; constructing the store without
the runtime raises immediately with the configuration it needs, so this
is a hard gate, not a silent fallback.  ``tests/test_delta_store.py``
runs the full store contract when the runtime is present and skips
otherwise — the rest of the engine is exercised against the parquet
store either way (same interface, pinned by test_store_and_components).
"""

from __future__ import annotations

import os
import shutil
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

from .table_store import TableStore

try:  # gated: delta-spark is optional
    from delta.tables import DeltaTable  # type: ignore

    DELTA_AVAILABLE = True
except ImportError:
    DeltaTable = None  # type: ignore
    DELTA_AVAILABLE = False

_REQUIRED_CONFS = {
    "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
    "spark.sql.catalog.spark_catalog": "org.apache.spark.sql.delta.catalog.DeltaCatalog",
}


class DeltaTableStore(TableStore):
    """TableStore on Delta Lake paths (one Delta table per engine table).

    Differences from the parquet emulation, all for the better at scale:
    append/overwrite are single log commits (no pointer file), truncate
    is a logged ``DELETE``, readers get snapshot isolation and data
    skipping from the transaction log, and ``compact`` maps to
    ``OPTIMIZE``.
    """

    def __init__(self, spark: SparkSession, root: str, dataset: str = "default") -> None:
        if not DELTA_AVAILABLE:
            raise RuntimeError(
                "delta-spark is not installed; DeltaTableStore needs the "
                "delta runtime on the classpath and these session confs: "
                + ", ".join(f"{k}={v}" for k, v in _REQUIRED_CONFS.items())
            )
        self.spark = spark
        self.root = os.path.join(root, dataset)
        self.dataset = dataset
        os.makedirs(self.root, exist_ok=True)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return DeltaTable.isDeltaTable(self.spark, self._path(table))

    def read(self, table: str, version: Optional[int] = None) -> DataFrame:
        if not self.exists(table):
            raise FileNotFoundError(f"table {table!r} does not exist in {self.root}")
        r = self.spark.read.format("delta")
        if version is not None:
            r = r.option("versionAsOf", version)  # native Delta time travel
        return r.load(self._path(table))

    def append(self, df: DataFrame, table: str, partition_by: Optional[List[str]] = None, sort_by: Optional[List[str]] = None) -> None:
        # Delta does its own data skipping from the transaction log; the
        # sort_by hint is honored by the row clustering upstream
        w = df.write.format("delta").mode("append").option("mergeSchema", "true")
        if partition_by and not self.exists(table):
            w = w.partitionBy(*partition_by)  # spec is fixed at creation
        w.save(self._path(table))

    def append_rows(self, rows: List[dict], table: str, schema: "object" = None) -> None:
        # control-plane rows: still one small driver-built DataFrame, but
        # the commit goes through the Delta log like any other write
        import pyarrow as pa

        tbl = pa.Table.from_pylist(rows, schema=schema)
        df = self.spark.createDataFrame(tbl.to_pandas())
        self.append(df, table)

    def overwrite(self, df: DataFrame, table: str, partition_by: Optional[List[str]] = None, sort_by: Optional[List[str]] = None) -> None:
        w = (
            df.write.format("delta")
            .mode("overwrite")
            .option("overwriteSchema", "true")
        )
        if partition_by and not self.exists(table):
            w = w.partitionBy(*partition_by)
        w.save(self._path(table))

    def upsert(
        self,
        df: DataFrame,
        table: str,
        join_cols: List[str],
        when_matched_update_all: bool = True,
    ) -> None:
        """Row-level merge — ONE logged ``MERGE`` touching only the
        files holding matched keys (the load stage delegates upserts
        here instead of rewriting the table, and appends insert-only's
        new keys; see ``load.py``).  ``when_matched_update_all=False``
        is the insert-only strategy: matched rows stay untouched.  Reference
        semantics: ``dlt/destinations/sql_jobs.py`` gen_upsert_sql
        :742-903 / insert-only :762-773."""
        if not self.exists(table):
            self.append(df, table)
            return
        cond = " AND ".join(f"t.`{c}` = s.`{c}`" for c in join_cols)
        m = (
            DeltaTable.forPath(self.spark, self._path(table))
            .alias("t")
            .merge(df.alias("s"), cond)
        )
        if when_matched_update_all:
            m = m.whenMatchedUpdateAll()
        m.whenNotMatchedInsertAll().execute()

    def truncate(self, table: str) -> None:
        if self.exists(table):
            DeltaTable.forPath(self.spark, self._path(table)).delete()

    def drop(self, table: str) -> None:
        p = self._path(table)
        if os.path.exists(p):
            shutil.rmtree(p)

    def list_tables(self) -> List[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(t for t in os.listdir(self.root) if self.exists(t))

    def compact(self, table: str, target_partitions: Optional[int] = None) -> None:
        """OPTIMIZE: bin-pack small files (the real thing, not a rewrite)."""
        DeltaTable.forPath(self.spark, self._path(table)).optimize().executeCompaction()

    def vacuum(self, table: str, retention_hours: float = 168.0) -> None:
        """Reclaim unreferenced files past the retention window — the
        maintenance call the parquet store defers to ``_vacuum``."""
        DeltaTable.forPath(self.spark, self._path(table)).vacuum(retention_hours)
