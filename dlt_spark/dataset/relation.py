"""Relation — the lazy read-path query builder.

Re-expression of the reference Dataset/Relation layer
(``dlt/dataset/relation.py:66-900``, ``dataset.py:52-360``).  Where the
reference builds a sqlglot ``Select`` AST and ships SQL to a destination,
here the IR *is* the Catalyst logical plan: a Relation wraps a DataFrame
and every builder method returns a new Relation wrapping a transformed
DataFrame.  Lineage/column typing (reference ``lineage.py:82-161``) is
``df.schema`` for free; subquery merging / pruning is Catalyst's job.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..load import control
from ..schema.typing import C_DLT_ID, C_DLT_LOAD_ID, C_DLT_PARENT_ID, C_DLT_ROOT_ID

_OPS = {
    "eq": "=",
    "ne": "!=",
    "gt": ">",
    "lt": "<",
    "gte": ">=",
    "lte": "<=",
    "in": "in",
    "not_in": "not_in",
}


class Relation:
    """Lazy query over one (possibly derived) table.

    Builder methods mirror ``dlt.Relation``
    (``dlt/dataset/relation.py:312-587``): ``select``, ``where``/
    ``filter`` with the 8 comparison ops, ``order_by``, ``limit``/
    ``head``, ``min``/``max``, ``join``, plus fetch terminals ``df()``
    (pandas), ``arrow()``, ``fetchall()``, ``fetchone()``,
    ``fetchscalar()``, and ``spark_df()`` — the DataFrame escape hatch
    standing in for the reference's ``to_ibis()``.
    """

    def __init__(
        self,
        df: DataFrame,
        name: str = "relation",
        dataset: Optional["object"] = None,
    ) -> None:
        self._df = df
        self.name = name
        self._dataset = dataset

    # -- builders (each returns a new Relation; plan stays lazy) --

    def _wrap(self, df: DataFrame, name: Optional[str] = None) -> "Relation":
        return Relation(df, name or self.name, self._dataset)

    def select(self, *columns: str) -> "Relation":
        return self._wrap(self._df.select(*columns))

    def __getitem__(self, columns: Union[str, Sequence[str]]) -> "Relation":
        if isinstance(columns, str):
            return self.select(columns)
        return self.select(*columns)

    def where(
        self,
        column_or_expr: Union[str, Column],
        operator: Optional[str] = None,
        value: Any = None,
    ) -> "Relation":
        if operator is None:
            # raw SQL expression or Column (reference relation.py:476-587)
            cond = (
                F.expr(column_or_expr)
                if isinstance(column_or_expr, str)
                else column_or_expr
            )
            return self._wrap(self._df.filter(cond))
        op = operator.lower()
        if op not in _OPS:
            raise ValueError(f"unsupported operator {operator!r}; use one of {sorted(_OPS)}")
        c = F.col(column_or_expr)
        if op == "in":
            cond = c.isin(list(value))
        elif op == "not_in":
            cond = ~c.isin(list(value))
        else:
            cond = {
                "eq": c == F.lit(value),
                "ne": c != F.lit(value),
                "gt": c > F.lit(value),
                "lt": c < F.lit(value),
                "gte": c >= F.lit(value),
                "lte": c <= F.lit(value),
            }[op]
        return self._wrap(self._df.filter(cond))

    filter = where

    def order_by(self, column: str, direction: str = "asc") -> "Relation":
        col = F.col(column).desc() if direction.lower() == "desc" else F.col(column).asc()
        return self._wrap(self._df.orderBy(col))

    def limit(self, n: int) -> "Relation":
        return self._wrap(self._df.limit(n))

    def head(self, n: int = 5) -> "Relation":
        return self.limit(n)

    def max(self) -> Any:
        """Max of the single selected column (reference relation.py:445)."""
        return self._single_col_agg(F.max)

    def min(self) -> Any:
        return self._single_col_agg(F.min)

    def _single_col_agg(self, fn: Any) -> Any:
        cols = self._df.columns
        if len(cols) != 1:
            raise ValueError("min()/max() require exactly one selected column")
        return self._df.agg(fn(F.col(cols[0]))).collect()[0][0]

    def union(self, other: "Relation", distinct: bool = False) -> "Relation":
        """UNION ALL by column name (positional mismatches are schema
        bugs, not data); ``distinct=True`` adds the dedup shuffle of a
        plain SQL UNION."""
        out = self._df.unionByName(other._df)
        return self._wrap(out.distinct() if distinct else out)

    def intersect(self, other: "Relation") -> "Relation":
        """SQL INTERSECT (distinct row semantics)."""
        return self._wrap(self._df.intersect(other._df))

    def except_(self, other: "Relation") -> "Relation":
        """SQL EXCEPT (distinct row semantics; Spark ``subtract``)."""
        return self._wrap(self._df.subtract(other._df))

    def join(
        self,
        other: "Relation",
        kind: str = "inner",
        on: Optional[Union[str, Sequence[str], Column]] = None,
        alias: Optional[str] = None,
    ) -> "Relation":
        """Join with explicit ``on`` or an ON clause derived from the
        stored reference chain — parent/child/root/load links — like the
        reference's schema-reference join (``relation.py:361-440``,
        ``_join.py:62-125``)."""
        how = {"inner": "inner", "left": "left", "right": "right", "full": "full"}[kind]
        left, right = self._df, other._df
        # resolve the join columns as *names* first, so alias-renaming can
        # exclude them before the condition Columns are built
        derived: Optional[Tuple[str, str]] = None
        if on is None:
            derived = self._derive_on(other)
            if isinstance(derived, list):
                on = derived
                derived = None
        join_col_names = (
            set(on)
            if isinstance(on, (list, tuple))
            else ({on} if isinstance(on, str) else set())
        )
        if derived is not None:
            join_col_names = {derived[1]}
        if alias is not None:
            overlap = set(left.columns) & set(right.columns)
            for c in overlap - join_col_names:
                right = right.withColumnRenamed(c, f"{alias}__{c}")
        if derived is not None:
            lname, rname = derived
            cond = left[lname] == right[rname]
            joined = left.join(right, on=cond, how=how)
            # equi-joined link column appears twice; drop the right copy
            joined = joined.drop(right[rname])
            return self._wrap(joined)
        return self._wrap(left.join(right, on=on, how=how))

    def _derive_on(self, other: "Relation") -> Union[Tuple[str, str], List[str]]:
        """Derive the ON clause from the stored reference chain as column
        *names*: (left_col, right_col) for link joins, or a list of shared
        natural keys."""
        lcols, rcols = set(self._df.columns), set(other._df.columns)
        # child -> parent by _dlt_parent_id = parent._dlt_id
        if C_DLT_PARENT_ID in lcols and C_DLT_ID in rcols:
            return (C_DLT_PARENT_ID, C_DLT_ID)
        if C_DLT_ID in lcols and C_DLT_PARENT_ID in rcols:
            return (C_DLT_ID, C_DLT_PARENT_ID)
        # nested -> root by _dlt_root_id
        if C_DLT_ROOT_ID in lcols and C_DLT_ID in rcols:
            return (C_DLT_ROOT_ID, C_DLT_ID)
        if C_DLT_ID in lcols and C_DLT_ROOT_ID in rcols:
            return (C_DLT_ID, C_DLT_ROOT_ID)
        # any table -> loads by _dlt_load_id
        if C_DLT_LOAD_ID in lcols and "load_id" in rcols:
            return (C_DLT_LOAD_ID, "load_id")
        # declared table references (make_hints(references=...)) beat the
        # natural-key fallback: the schema records (columns ->
        # referenced_table.referenced_columns); single-column refs fit
        # the (left, right) link form
        ref = self._declared_reference(other)
        if ref is not None:
            return ref
        # fall back to shared natural keys (e.g. *_nationkey TPC-H style)
        shared = [c for c in self._df.columns if c in rcols and not c.startswith("_dlt_")]
        if shared:
            return shared
        raise ValueError(
            f"cannot derive join condition between {self.name!r} and {other.name!r};"
            " pass on=..."
        )


    def _declared_reference(self, other: "Relation"):
        """Single-column declared reference between self and other (in
        either direction), from the schema's ``references`` table hint."""
        schema = getattr(self._dataset, "schema", None) if self._dataset else None
        if schema is None:
            return None

        def _find(src_name, dst_name, flip):
            tbl = schema.tables.get(src_name) or {}
            for r in tbl.get("references") or []:
                if r.get("referenced_table") != dst_name:
                    continue
                cols = r.get("columns") or []
                rcols = r.get("referenced_columns") or []
                if len(cols) == 1 and len(rcols) == 1:
                    return (rcols[0], cols[0]) if flip else (cols[0], rcols[0])
            return None

        return _find(self.name, other.name, False) or _find(
            other.name, self.name, True
        )

    # -- load-visibility helpers (reference relation.py:590-621) --

    def from_loads(
        self, load_ids: Optional[Sequence[str]] = None, status: Optional[int] = 0
    ) -> "Relation":
        """Restrict to rows from the given (or all successfully completed)
        load packages — a semi-join against ``_dlt_loads``.  A nested
        table has no load id of its own: its rows follow their root's
        (:meth:`with_load_id_col`)."""
        if self._dataset is None:
            raise ValueError("from_loads requires a dataset-bound relation")
        loads = control.loads(self._dataset.store, status if load_ids is None else None)
        if load_ids is not None:
            loads = loads.filter(F.col("load_id").isin(list(load_ids)))
        nested = C_DLT_LOAD_ID not in self._df.columns
        df = self.with_load_id_col()._df if nested else self._df
        kept = df.join(
            F.broadcast(loads.select("load_id")),
            on=df[C_DLT_LOAD_ID] == loads["load_id"],
            how="left_semi",
        )
        return self._wrap(kept.drop(C_DLT_LOAD_ID) if nested else kept)

    def with_load_id_col(self, col_name: str = "_dlt_load_id") -> "Relation":
        """Expose the load id on any table of a chain (reference
        ``relation.py:590-620``): root tables carry it directly; nested
        tables recover it through the ``_dlt_root_id`` -> root join."""
        if C_DLT_LOAD_ID in self._df.columns:
            if col_name == C_DLT_LOAD_ID:
                return self
            return self._wrap(self._df.withColumn(col_name, F.col(C_DLT_LOAD_ID)))
        if self._dataset is None:
            raise ValueError("with_load_id_col on a nested table needs a dataset")
        if C_DLT_ROOT_ID not in self._df.columns and C_DLT_PARENT_ID not in self._df.columns:
            raise ValueError(f"{self.name!r} has no load id and no root/parent link")
        # find the root table owning our root ids
        root_name = self.name.split("__")[0]
        root = self._dataset.table(root_name)._df.select(
            F.col(C_DLT_ID).alias("__root_id"), F.col(C_DLT_LOAD_ID).alias(col_name)
        )
        link = C_DLT_ROOT_ID if C_DLT_ROOT_ID in self._df.columns else C_DLT_PARENT_ID
        # the id->load_id map is the whole root table projected to 2
        # columns; the planner picks the join strategy from its size
        joined = self._df.join(
            root, on=self._df[link] == root["__root_id"], how="left"
        ).drop("__root_id")
        return self._wrap(joined)

    # -- terminals --

    def spark_df(self) -> DataFrame:
        """The full-relational-algebra escape hatch: where the reference
        returns an ibis table (``to_ibis()``), we return the DataFrame."""
        return self._df

    def source_files(self) -> list:
        """Files this relation's plan reads — the physical provenance."""
        return list(self._df.inputFiles())

    def source_tables(self) -> list:
        """Table-level provenance (reference ``dlt/dataset/lineage.py:82``
        derives lineage via sqlglot; the Catalyst analog reads the
        resolved scan inputs).  Maps input files back through the
        store's ``<table>/v<N>/`` (and any hive ``k=v`` partition)
        layout to table names."""
        import os

        tables = set()
        for f in self.source_files():
            d = os.path.dirname(f)
            while "=" in os.path.basename(d):  # hive partition dirs
                d = os.path.dirname(d)
            base = os.path.basename(d)
            if base.startswith("v") and base[1:].lstrip("_").isdigit():  # store versions (v_00000000)
                d = os.path.dirname(d)
                base = os.path.basename(d)
            tables.add(base.removesuffix(".parquet"))
        return sorted(tables)

    def to_ibis(self):
        """API-parity port of ``Relation.to_ibis`` (reference
        ``dlt/dataset/relation.py:293``): hand the relation to ibis'
        pyspark backend as an unbound-then-bound table expression.  ibis
        is an optional dependency (not in this container) — the DataFrame
        from :meth:`spark_df` is the native escape hatch; this method
        exists so reference code calling ``to_ibis()`` ports unchanged
        where ibis IS installed."""
        try:
            import ibis  # noqa: F401
            import ibis.backends.pyspark  # noqa: F401
        except ImportError as exc:  # pragma: no cover - ibis absent here
            raise ImportError(
                "to_ibis() requires the optional 'ibis-framework[pyspark]' "
                "package; use spark_df() for the native DataFrame escape hatch"
            ) from exc
        con = ibis.pyspark.connect(self._df.sparkSession)  # pragma: no cover
        self._df.createOrReplaceTempView(f"_ibis_{self.name}")  # pragma: no cover
        return con.table(f"_ibis_{self.name}")  # pragma: no cover

    def df(self):
        return self._df.toPandas()

    def arrow(self):
        try:
            return self._df.toArrow()  # Spark 4
        except AttributeError:  # pragma: no cover
            import pyarrow as pa

            return pa.Table.from_pandas(self._df.toPandas())

    def fetchall(self) -> List[Tuple]:
        return [tuple(r) for r in self._df.collect()]

    def fetchmany(self, n: int) -> List[Tuple]:
        return [tuple(r) for r in self._df.limit(n).collect()]

    def fetchone(self) -> Optional[Tuple]:
        rows = self._df.take(1)
        return tuple(rows[0]) if rows else None

    def fetchscalar(self) -> Any:
        row = self.fetchone()
        if row is None:
            return None
        if len(row) != 1:
            raise ValueError("fetchscalar requires a single-column relation")
        return row[0]

    def iter_arrow(self, chunk_size: int = 100_000):
        """Chunked Arrow iteration (reference ``iter_arrow``)."""
        import pyarrow as pa

        for pdf in self.iter_df(chunk_size):
            yield pa.Table.from_pandas(pdf)

    def iter_fetch(self, chunk_size: int = 100_000):
        """Chunked tuple iteration (reference ``iter_fetch``)."""
        buf: List[Tuple] = []
        for row in self._df.toLocalIterator():
            buf.append(tuple(row))
            if len(buf) >= chunk_size:
                yield buf
                buf = []
        if buf:
            yield buf

    def iter_df(self, chunk_size: int = 100_000):
        """Chunked pandas iteration via toLocalIterator — streams partitions
        to the driver without materializing the whole result."""
        import pandas as pd

        buf: List[Any] = []
        for row in self._df.toLocalIterator():
            buf.append(row.asDict())
            if len(buf) >= chunk_size:
                yield pd.DataFrame(buf)
                buf = []
        if buf:
            yield pd.DataFrame(buf)

    @property
    def columns(self) -> List[str]:
        return self._df.columns

    @property
    def columns_schema(self) -> Dict[str, dict]:
        """Output schema with dlt types — lineage via Catalyst analyzer
        (the reference needs sqlglot ``annotate_types``; we read
        ``df.schema``)."""
        from ..schema.spark_types import from_spark_type

        return {f.name: from_spark_type(f.dataType) for f in self._df.schema.fields}

    def to_sql(self) -> str:
        """Render an equivalent logical plan description (Spark has no
        SQL un-parser; expose the optimized plan for inspection)."""
        return self._df._jdf.queryExecution().optimizedPlan().toString()

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode)

    def row_count(self) -> int:
        return self._df.count()

    # -- exports (reference jsonl/csv/parquet writers, SURVEY §2.B) --

    def write_parquet(self, path: str, mode: str = "overwrite") -> None:
        self._df.write.mode(mode).parquet(path)

    def write_jsonl(self, path: str, mode: str = "overwrite", compression: Optional[str] = None) -> None:
        w = self._df.write.mode(mode)
        if compression:
            w = w.option("compression", compression)
        w.json(path)

    def write_csv(self, path: str, mode: str = "overwrite", header: bool = True) -> None:
        self._df.write.mode(mode).option("header", str(header).lower()).csv(path)

    def write_orc(self, path: str, mode: str = "overwrite") -> None:
        """ORC export (beyond-reference format, Spark-native)."""
        self._df.write.mode(mode).orc(path)

    def write_xml(self, path: str, mode: str = "overwrite", row_tag: str = "row") -> None:
        """XML export (Spark 4 built-in xml source; beyond-reference)."""
        self._df.write.mode(mode).format("xml").option("rowTag", row_tag).save(path)

    def write_jdbc(self, url: str, table: str, mode: str = "append", **options: str) -> None:
        """INSERT-values path (reference insert_values writer) — Spark's
        batched JDBC writer."""
        self._df.write.mode(mode).options(**options).jdbc(url, table)
