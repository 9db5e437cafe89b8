"""Apache Iceberg binding for the TableStore contract.

The engine's dispositions program against :class:`TableStore`
(``table_store.py``); :class:`ParquetTableStore` emulates snapshot
semantics on plain parquet because no lakehouse runtime ships in this
container.  This module is the real Iceberg binding: when the
``iceberg-spark-runtime`` jar is on the classpath and a Spark catalog is
configured (``spark.sql.catalog.<name> =
org.apache.iceberg.spark.SparkCatalog`` plus its warehouse/catalog-impl
options), the same pipeline code gets Iceberg's snapshot log, time
travel, MERGE INTO row-level upserts, ``rewrite_data_files`` compaction
and ``expire_snapshots`` maintenance.

Behavioral reference (what to compute, not how):
``/root/reference/dlt/common/libs/pyiceberg.py`` — ``write_iceberg_table``
(:75 append / :83 overwrite), ``merge_iceberg_table`` (:91-120 upsert /
insert-only via ``table.upsert(join_cols, when_matched_update_all,
when_not_matched_insert_all=True)``), and the catalog management
(:300-360).  The reference drives pyiceberg row-by-batch from a single
process; this binding is Spark-native — the upsert is ONE distributed
``MERGE INTO`` planned by Catalyst against the Iceberg SparkCatalog, so
it scales with the cluster instead of the driver.

Availability is detected at construction; building the store without the
runtime raises immediately with the configuration it needs, so this is a
hard gate, not a silent fallback.  ``tests/test_iceberg_store.py`` pins
the exact call chains against a recording fake (and runs unchanged
against the real runtime when a jar appears) — the same treatment
``DeltaTableStore`` gets in ``tests/test_delta_store.py``.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

from .table_store import TableStore

_CATALOG_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_available(spark: SparkSession, catalog: str) -> bool:
    """True when the Iceberg Spark runtime is loadable AND the named
    Spark catalog is configured.  A module-level hook (not an import-time
    constant) because Iceberg ships as a JVM jar, not a Python package —
    there is nothing to ``import`` on the Python side."""
    try:
        if spark.conf.get(f"spark.sql.catalog.{catalog}", None) is None:
            return False
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(_CATALOG_CLASS)
        return True
    except Exception:
        return False


class IcebergTableStore(TableStore):
    """TableStore on Iceberg catalog tables (``catalog.namespace.table``).

    Differences from the parquet emulation, all for the better at scale:
    append/overwrite are single snapshot commits, truncate is a logged
    ``DELETE FROM``, merge dispositions can run as ONE distributed
    ``MERGE INTO`` (row-level deletes at 100 TB instead of a partition
    rewrite), readers get snapshot isolation + metadata pruning from the
    manifest tree, ``compact`` maps to the ``rewrite_data_files``
    procedure and ``vacuum`` to ``expire_snapshots``.
    """

    def __init__(
        self,
        spark: SparkSession,
        catalog: str = "iceberg",
        namespace: str = "default",
    ) -> None:
        if not iceberg_available(spark, catalog):
            raise RuntimeError(
                "the Iceberg Spark runtime is not available; "
                "IcebergTableStore needs the iceberg-spark-runtime jar on "
                "the classpath and a configured catalog, e.g. "
                f"spark.sql.catalog.{catalog}={_CATALOG_CLASS}, "
                f"spark.sql.catalog.{catalog}.type=hadoop, "
                f"spark.sql.catalog.{catalog}.warehouse=<path>"
            )
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        self.spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS `{catalog}`.`{namespace}`"
        )

    # identifiers -----------------------------------------------------

    def _ident(self, table: str) -> str:
        return f"`{self.catalog}`.`{self.namespace}`.`{table}`"

    def _proc_ident(self, table: str) -> str:
        # procedure args take the un-backquoted two-part name
        return f"{self.namespace}.{table}"

    # contract --------------------------------------------------------

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(
            f"{self.catalog}.{self.namespace}.{table}"
        )

    def read(self, table: str, version: Optional[int] = None) -> DataFrame:
        if not self.exists(table):
            raise FileNotFoundError(
                f"table {table!r} does not exist in "
                f"{self.catalog}.{self.namespace}"
            )
        r = self.spark.read.format("iceberg")
        if version is not None:
            # the TableStore contract (and Delta's versionAsOf) treats
            # version as a sequential ordinal (0, 1, 2, ...); Iceberg
            # time-travels by snapshot id, so map through the snapshot
            # history ordered by commit time
            r = r.option(
                "snapshot-id", self._snapshot_id_for_ordinal(table, version)
            )
        return r.load(f"{self.catalog}.{self.namespace}.{table}")

    def _snapshot_id_for_ordinal(self, table: str, ordinal: int) -> int:
        """Ordinal table version -> Iceberg snapshot id, via the
        ``<table>.snapshots`` metadata table ordered by ``committed_at``
        (ties broken by snapshot id for determinism)."""
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._ident(table)}.snapshots "
            "ORDER BY committed_at, snapshot_id"
        ).collect()
        if not (0 <= ordinal < len(rows)):
            raise ValueError(
                f"table {table!r} has {len(rows)} versions "
                f"(0..{len(rows) - 1}); requested version {ordinal}"
            )
        return rows[ordinal]["snapshot_id"]

    def append(
        self,
        df: DataFrame,
        table: str,
        partition_by: Optional[List[str]] = None,
        sort_by: Optional[List[str]] = None,
    ) -> None:
        # reference write_iceberg_table append (pyiceberg.py:75); Spark
        # side = one V2 snapshot commit with schema evolution on
        if self.exists(table):
            current = self.read(table)
            if set(df.columns) - set(current.columns):
                # a merge-schema append of a new column also needs the
                # table property write.spark.accept-any-schema (untested
                # here): rewrite the table as the by-name union instead
                self.overwrite(
                    current.unionByName(df, allowMissingColumns=True), table, partition_by
                )
                return
            df.writeTo(self._ident(table)).option(
                "merge-schema", "true"
            ).append()
            return
        from pyspark.sql import functions as F

        w = df.writeTo(self._ident(table)).using("iceberg")
        if partition_by:
            # spec is fixed at creation, like every table format
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.create()

    def append_rows(self, rows: List[dict], table: str, schema: "object" = None) -> None:
        # control-plane rows: one small driver-built DataFrame, but the
        # commit goes through the Iceberg snapshot log like any write
        import pyarrow as pa

        tbl = pa.Table.from_pylist(rows, schema=schema)
        df = self.spark.createDataFrame(tbl.to_pandas())
        self.append(df, table)

    def overwrite(
        self,
        df: DataFrame,
        table: str,
        partition_by: Optional[List[str]] = None,
        sort_by: Optional[List[str]] = None,
    ) -> None:
        # reference write_iceberg_table replace -> table.overwrite
        # (pyiceberg.py:83): data AND schema replaced in one commit
        from pyspark.sql import functions as F

        w = df.writeTo(self._ident(table)).using("iceberg")
        if partition_by:
            # createOrReplace replaces the FULL table definition —
            # partitionedBy must apply on every replace, or replacing an
            # existing partitioned table would silently drop its spec
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()

    def upsert(
        self,
        df: DataFrame,
        table: str,
        join_cols: List[str],
        when_matched_update_all: bool = True,
    ) -> None:
        """Row-level merge — reference ``merge_iceberg_table``
        (pyiceberg.py:91-120): ``upsert`` strategy updates matched rows
        and inserts new ones; ``insert-only`` (``when_matched_update_all
        =False``) inserts only unmatched rows.  The reference batches
        1000-row pyiceberg upserts on the driver; here it is ONE
        distributed ``MERGE INTO`` the Iceberg runtime executes with
        row-level deletes — no driver loop, no batching."""
        if not self.exists(table):
            self.append(df, table)
            return
        import re
        import uuid

        # sanitized + uuid-suffixed: table names with identifier-illegal
        # characters cannot break the view, concurrent merges on the same
        # table in one session cannot collide, and the finally guarantees
        # the view never leaks when the MERGE raises
        view = (
            f"_dlt_merge_src_{re.sub(r'[^A-Za-z0-9_]', '_', table)}"
            f"_{uuid.uuid4().hex[:12]}"
        )
        df.createOrReplaceTempView(view)
        try:
            on = " AND ".join(f"t.`{c}` = s.`{c}`" for c in join_cols)
            matched = (
                "WHEN MATCHED THEN UPDATE SET * " if when_matched_update_all else ""
            )
            self.spark.sql(
                f"MERGE INTO {self._ident(table)} t USING {view} s ON {on} "
                f"{matched}WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            self.spark.catalog.dropTempView(view)

    def truncate(self, table: str) -> None:
        if self.exists(table):
            # a logged row-level DELETE commit, never a file rewrite
            self.spark.sql(f"DELETE FROM {self._ident(table)}")

    def drop(self, table: str) -> None:
        self.spark.sql(
            f"DROP TABLE IF EXISTS {self._ident(table)} PURGE"
        )

    def list_tables(self) -> List[str]:
        rows = self.spark.sql(
            f"SHOW TABLES IN `{self.catalog}`.`{self.namespace}`"
        ).collect()
        return sorted(r["tableName"] for r in rows)

    def compact(self, table: str, target_partitions: Optional[int] = None) -> None:
        """Bin-pack small files via the ``rewrite_data_files`` procedure
        (the real thing, not a read-rewrite round trip)."""
        self.spark.sql(
            f"CALL `{self.catalog}`.system.rewrite_data_files("
            f"table => '{self._proc_ident(table)}')"
        )

    def vacuum(self, table: str, retention_hours: float = 168.0) -> None:
        """Expire snapshots past the retention window and delete their
        unreferenced files — Iceberg's maintenance equivalent of Delta
        VACUUM.  The cutoff is rendered as a TIMESTAMP literal because
        CALL procedure arguments must be constant."""
        import datetime as _dt

        cutoff = _dt.datetime.now(_dt.timezone.utc) - _dt.timedelta(
            hours=retention_hours
        )
        self.spark.sql(
            f"CALL `{self.catalog}`.system.expire_snapshots("
            f"table => '{self._proc_ident(table)}', "
            f"older_than => TIMESTAMP '{cutoff:%Y-%m-%d %H:%M:%S}')"
        )
