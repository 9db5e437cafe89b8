"""Dataset — read access to a loaded pipeline's tables.

Re-expression of ``dlt.dataset()`` (``dlt/dataset/dataset.py:52-457``):
table accessors return :class:`Relation`; ``query()`` accepts raw SQL
(transpiled to Spark dialect with sqlglot when available, else passed
through); ``row_counts()`` / ``loads_table()`` / ``load_ids`` mirror the
reference helpers.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..load import control
from ..schema.schema import Schema
from ..schema.typing import DLT_TABLES, LOADS_TABLE_NAME
from ..store.table_store import TableStore
from .relation import Relation


class Dataset:
    def __init__(
        self, spark: SparkSession, store: TableStore, schema: Optional[Schema] = None
    ) -> None:
        self.spark = spark
        self.store = store
        self.schema = schema

    # -- table access --

    def table(self, name: str, version: "int | None" = None) -> Relation:
        """``version=`` time-travels to that store snapshot (``VERSION AS
        OF`` analog; availability bounded by vacuum retention)."""
        if version is not None:
            return Relation(
                self.store.read(name, version=version), name, dataset=self
            )
        return Relation(self.store.read(name), name, dataset=self)

    def __getitem__(self, name: str) -> Relation:
        return self.table(name)

    def __getattr__(self, name: str) -> Relation:
        if name.startswith("_"):
            raise AttributeError(name)
        try:
            return self.table(name)
        except FileNotFoundError:
            raise AttributeError(name) from None

    def table_names(self, include_dlt: bool = False) -> List[str]:
        names = self.store.list_tables()
        if not include_dlt:
            names = [n for n in names if n not in DLT_TABLES]
        return names

    # -- raw SQL entry point (reference dataset.py:228-253) --

    def query(self, sql: str, dialect: Optional[str] = None) -> Relation:
        """Run SQL over the dataset's tables.  Registers each stored table
        as a temp view, transpiles the dialect with sqlglot when
        installed, and hands the statement to Catalyst."""
        if dialect and dialect != "spark":
            try:
                import sqlglot

                sql = sqlglot.transpile(sql, read=dialect, write="spark")[0]
            except ImportError:
                pass  # best effort: Spark SQL is close to ANSI
        for name in self.store.list_tables():
            self.store.read(name).createOrReplaceTempView(name)
        return Relation(self.spark.sql(sql), "query", dataset=self)

    # -- dlt system tables (reference dataset.py:285-360) --

    def loads_table(self) -> Relation:
        return self.table(LOADS_TABLE_NAME)

    def load_ids(self, status: Optional[int] = 0) -> List[str]:
        return control.load_ids(self.store, status)

    @property
    def latest_load_id(self) -> Optional[str]:
        ids = self.load_ids()
        return ids[-1] if ids else None

    def row_counts(
        self, table_names: Optional[List[str]] = None, load_id: Optional[str] = None
    ) -> Relation:
        """Per-table counts as one unioned DataFrame (reference
        ``dataset.py:305-360``) — counts run as one Spark job per table but
        stay fully distributed."""
        names = table_names or self.table_names()
        out: Optional[DataFrame] = None
        for n in names:
            df = self.store.read(n)
            if load_id is not None and "_dlt_load_id" in df.columns:
                df = df.filter(F.col("_dlt_load_id") == load_id)
            part = df.groupBy().agg(F.count(F.lit(1)).alias("row_count")).select(
                F.lit(n).alias("table_name"), F.col("row_count")
            )
            out = part if out is None else out.unionByName(part)
        if out is None:
            raise ValueError("no tables in dataset")
        return Relation(out, "row_counts", dataset=self)


    def optimize(
        self,
        table: str,
        zorder_by: "Optional[List[str]]" = None,
        num_files: int = 32,
        vacuum: bool = True,
    ) -> None:
        """Table maintenance in one call — the Delta ``OPTIMIZE
        [ZORDER BY]`` + ``VACUUM`` analog on the parquet store:

        - with ``zorder_by``, rewrite the table clustered along the
          Morton curve of those columns (manifest then prunes files on
          ANY of them — multi-dimensional data skipping);
        - otherwise fold the accumulated append generations into
          ``num_files`` partitions (small-file compaction);
        - ``vacuum`` drops unreferenced version directories afterwards.
        """
        if zorder_by:
            from ..store.zorder import zorder as _zorder

            df = self.store.read(table)
            self.store.overwrite(
                _zorder(df, zorder_by, num_files=num_files),
                table,
                sort_by=list(zorder_by),
            )
        else:
            self.store.compact(table, target_partitions=num_files)
        if vacuum and hasattr(self.store, "vacuum"):
            self.store.vacuum(table)


def dataset(
    destination: str,
    dataset_name: str = "default",
    spark: Optional[SparkSession] = None,
) -> Dataset:
    """Standalone dataset access without a pipeline (reference
    ``dlt.dataset(destination, dataset_name)``,
    ``dlt/dataset/dataset.py:457``): open the store read-only and restore
    the newest schema version from ``_dlt_version`` when present."""
    from ..store.table_store import ParquetTableStore

    spark = spark or SparkSession.builder.getOrCreate()
    store = ParquetTableStore(spark, destination, dataset_name)
    return Dataset(spark, store, control.newest_schema(store, dataset_name))
