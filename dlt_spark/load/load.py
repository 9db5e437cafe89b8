"""Load stage: schema evolution against the store, disposition dispatch
over table chains, and the atomic load-package commit protocol.

Re-expression of ``dlt/load/load.py`` (job scheduling ``:271-370``,
followup merge jobs ``:376``, ``complete_package:605``) minus the parts
Spark makes free: there are no file jobs or worker pools — each table's
write is one distributed Spark action.  What remains ours:

- **table-chain ordering** (root before nested, reference
  ``sql_jobs.py:48-75``), over tables normalized from one package that
  the pipeline pins once (reference ``dlt/extract/extract.py`` package
  storage) — every write reads the same rows and the same random ids;
- **one write path**: every table of a package is conformed to its
  stored table (:meth:`LoadStage.conform`) before the first write, then
  written by one disposition dispatch, a nested table under a
  disposition derived from its root's; a write that only adds rows is a
  ``store.append``, which evolves the stored schema by name;
- **nested rows follow their roots**: the pipeline decides a package's
  root rows before their lists explode (contracts, one row per merge
  key); a root write that drops more rows (hard deletes, insert-only's
  existing keys) returns the rows it lands, and nested rows follow
  exactly those roots by ``_dlt_root_id``;
- **variant columns**: when an incoming batch's column type conflicts
  with the stored table, rows that survive ``try_cast`` stay in the
  column and the rest land in ``col__v_<type>`` (reference
  ``jsonl.py:355-394``), in nested tables as in roots — implemented with
  ``try_cast`` + ``when/otherwise`` so the split is JVM-side and
  vectorized; the root's ``data_type`` contract governs them in every
  table of its chain (reference ``schema.py:331``);
- **atomic visibility**: data tables commit first, the ``_dlt_loads`` row
  last; readers that filter through ``from_loads`` never see a partial
  package (reference ``load.py:605``, ``utils.py:1352``).  The control
  rows' formats and the committed-load rule live in ``control.py``.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema.schema import Schema
from ..schema.spark_types import from_spark_type
from ..schema.typing import (
    C_DLT_ID,
    C_DLT_PARENT_ID,
    C_DLT_ROOT_ID,
    LOADS_TABLE_NAME,
    VERSION_TABLE_NAME,
    TTableSchema,
)
from ..store.table_store import TableStore
from . import control
from . import dispositions as D


def align_with_variants(df: DataFrame, existing: DataFrame) -> DataFrame:
    """Reconcile an incoming batch with the stored table's schema.

    For a column whose incoming Spark type differs from the stored type:
    values that cast cleanly stay; values that do not are nulled in the
    typed column and preserved (as text) in a ``col__v_<dlt_type>``
    sibling (reference variant mechanism, ``jsonl.py:355-394``).  New
    columns are kept (schema evolution); columns missing from the batch
    are filled with NULL.
    """
    existing_types = {f.name: f.dataType for f in existing.schema.fields}
    out_cols = []
    for f_in in df.schema.fields:
        name, in_t = f_in.name, f_in.dataType
        want = existing_types.get(name)
        if want is None or want == in_t:
            out_cols.append(F.col(name))
            continue
        casted = F.col(name).try_cast(want)
        out_cols.append(casted.alias(name))
        incoming_dlt = from_spark_type(in_t).get("data_type", "text")
        variant_name = f"{name}__v_{incoming_dlt}"
        out_cols.append(
            F.when(F.col(name).isNotNull() & casted.isNull(), F.col(name).cast("string"))
            .otherwise(F.lit(None).cast("string"))
            .alias(variant_name)
        )
    aligned = df.select(*out_cols)
    # fill stored columns absent from the batch with typed NULLs
    for name, want in existing_types.items():
        if name not in aligned.columns:
            aligned = aligned.withColumn(name, F.lit(None).cast(want))
    return aligned


class LoadStage:
    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        schema: Schema,
        json_as_variant: bool = False,
    ) -> None:
        self.spark = spark
        self.store = store
        self.schema = schema
        # opt-in Spark 4 VariantType storage for dlt `json` columns
        # (see schema/spark_types.py json branch for the portability
        # trade); silently stays text on runtimes without VariantType
        self.json_as_variant = json_as_variant

    def _cast_json_variant(self, df: DataFrame, table: TTableSchema) -> DataFrame:
        from ..schema.spark_types import variant_supported

        if not (self.json_as_variant and variant_supported()):
            return df
        casts = {}
        for cname, cschema in (table.get("columns") or {}).items():
            if cschema.get("data_type") != "json" or cname not in df.columns:
                continue
            if isinstance(df.schema[cname].dataType, T.StringType):
                casts[cname] = F.parse_json(F.col(cname))
        return df.withColumns(casts) if casts else df

    # -- single-table write with disposition --

    def conform(
        self, df: DataFrame, table: TTableSchema
    ) -> Tuple[DataFrame, Optional[DataFrame]]:
        """``df`` as the stored ``table`` takes it (json columns parsed,
        types aligned, the ``data_type`` contract applied, which may drop
        rows) and the stored table, if any.  Conforming twice changes
        nothing: under a ``discard_row`` contract the pipeline conforms
        root rows before deciding them."""
        df = self._cast_json_variant(df, table)
        name = table["name"]
        if not self.store.exists(name):
            return df, None
        dest = self.store.read(name)
        return self._apply_data_type_contract(align_with_variants(df, dest), dest, name), dest

    def write_table(
        self, df: DataFrame, dest: Optional[DataFrame], table: TTableSchema, load_id: str
    ) -> Optional[DataFrame]:
        """Write ``df``, already conformed to the stored ``dest``
        (:meth:`conform`), into ``table`` under its disposition.  Returns
        the rows of ``df`` this write lands when a merge's hard deletes or
        insert-only's key test drop some, else ``None`` (every row
        lands)."""
        name = table["name"]
        disposition = table.get("write_disposition", "append")
        partition_by = _hint_cols(table, "partition") or None

        # `cluster` hint (reference typing.py:76,188 — the BigQuery/
        # Snowflake clustering column) → GLOBAL range clustering at write
        # time: repartitionByRange gives files DISJOINT value ranges, so
        # the store's per-file min/max manifest prunes a point/range scan
        # to ~one file instead of "every file overlaps".  Costs one
        # range-exchange shuffle per load — the same trade BigQuery makes
        # on clustered ingest.  `sort` alone stays shuffle-free
        # (sortWithinPartitions): rows cluster inside each task's files.
        # `zorder` hint — multi-column pruning (Delta OPTIMIZE ZORDER
        # analog, applied at write time): files cover small hyper-boxes
        # in EVERY z-ordered dimension, where lexicographic `cluster`
        # prunes only on its leading column.  Takes precedence over
        # `cluster` when both are set.
        zorder_by = [c for c in _hint_cols(table, "zorder") if c in df.columns]
        cluster_by = [c for c in _hint_cols(table, "cluster") if c in df.columns]
        if zorder_by:
            from ..store.zorder import zorder

            df = zorder(
                df,
                zorder_by,
                num_files=df.sparkSession.sparkContext.defaultParallelism,
                # bits*cols must fit a BIGINT (62 usable bits) — a 4+
                # column hint is valid (Delta accepts any ZORDER arity),
                # so degrade per-column resolution instead of crashing.
                bits=min(16, 62 // max(len(zorder_by), 1)),
            )
            cluster_by = []
        elif cluster_by:
            df = df.repartitionByRange(*cluster_by)
        sort_by = _hint_cols(table, "sort")
        present_sort = None
        if sort_by or cluster_by:
            present_sort = [
                c for c in (sort_by or cluster_by) if c in df.columns
            ] or None
            if present_sort:
                df = df.sortWithinPartitions(*present_sort)

        if disposition == "append":
            self.store.append(df, name, partition_by=partition_by, sort_by=present_sort)
            return None
        if disposition == "replace":
            self.store.overwrite(
                D.replace_table(df), name, partition_by=partition_by, sort_by=present_sort
            )
            return None
        if disposition == "merge":
            strategy = table.get("x_merge_strategy", "delete-insert")
            pk = _hint_cols(table, "primary_key")
            mk = _hint_cols(table, "merge_key")
            dedup_sort = _first_hint_col(table, "dedup_sort")
            hard_delete = _first_hint_col(table, "hard_delete")
            if strategy in ("upsert", "insert-only") and not pk:
                raise ValueError(f"{strategy} on {name!r} requires a primary_key")
            if strategy == "insert-only":
                # the pipeline keeps one row per key: the rows of new keys
                # are all this write adds
                landed = None if dest is None else D.new_key_rows(dest, df, pk)
                self.store.append(
                    df if landed is None else landed, name,
                    partition_by=partition_by, sort_by=present_sort,
                )
                return landed
            landed = None
            if strategy in ("delete-insert", "upsert") and hard_delete:
                landed = D.apply_hard_delete(df, hard_delete)
            # lakehouse fast path: a store with row-level `upsert`
            # (Delta/Iceberg MERGE INTO) applies an upsert as ONE logged
            # merge touching only matched files, not a table rewrite.
            # Guarded to what MERGE shares with the generic path: no
            # hard-delete flag and no in-flight schema evolution.
            if (
                strategy == "upsert"
                and dest is not None
                and hard_delete is None
                and set(df.columns) == set(dest.columns)
                and hasattr(self.store, "upsert")
            ):
                self.store.upsert(df.select(*dest.columns), name, join_cols=pk)
                return None
            if dest is not None and set(df.columns) - set(dest.columns):
                # new columns appear as NULL on the stored rows
                dest = dest.unionByName(df.limit(0), allowMissingColumns=True)
            if strategy == "delete-insert":
                result = D.merge_delete_insert(
                    dest, df, primary_key=pk or None, merge_key=mk or None,
                    dedup_sort=dedup_sort, hard_delete_col=hard_delete,
                )
            elif strategy == "upsert":
                result = D.merge_upsert(
                    dest, df, primary_key=pk, dedup_sort=dedup_sort,
                    hard_delete_col=hard_delete,
                )
            elif strategy == "scd2":
                result = D.scd2_apply(
                    dest, df,
                    boundary_ts=table.get("x_boundary_timestamp") or load_id_to_ts(load_id),
                    merge_key=mk or None,
                )
            else:
                raise ValueError(f"unknown merge strategy {strategy!r}")
            write = self.store.append if dest is None else self.store.overwrite
            write(result, name, partition_by=partition_by)
            return landed
        raise ValueError(f"unknown write disposition {disposition!r}")

    def _apply_data_type_contract(
        self, df: DataFrame, dest: DataFrame, name: str
    ) -> DataFrame:
        """The ``data_type`` contract axis governs variant-column creation
        (reference F6: B3 sends price as text -> price__v_text under
        evolve, raises under freeze, filtered under discard_*)."""
        from ..schema.schema import SchemaContractViolation
        from ..schema.typing import new_column, new_table

        new_variants = [
            c for c in df.columns if "__v_" in c and c not in dest.columns
        ]
        if not new_variants:
            return df
        mode = self.schema.resolve_contract(name).get("data_type", "evolve")
        if mode == "freeze":
            raise SchemaContractViolation("data_type", name, new_variants[0], "freeze")
        if mode == "discard_row":
            cond = None
            for c in new_variants:
                is_null = F.col(c).isNull()
                cond = is_null if cond is None else cond & is_null
            return df.filter(cond).drop(*new_variants)
        if mode == "discard_value":
            return df.drop(*new_variants)
        # evolve: register the variant columns in the schema
        if name in self.schema.tables:
            cols = [
                new_column(c, data_type="text", variant=True) for c in new_variants
            ]
            self.schema.update_table(
                new_table(name, columns=cols), apply_contract=False
            )
        return df

    # -- chain write (root + nested tables, ordered) --

    def write_chain(
        self, tables: Dict[str, DataFrame], root_table: TTableSchema, load_id: str
    ) -> None:
        """Write a root table and its nested child tables in ancestry
        order.  ``tables`` are normalized from one pinned package whose
        root rows the pipeline already decided (contracts, one row per
        merge key), so every nested row belongs to exactly one root row.

        Every table is conformed before the first write, so a frozen
        contract anywhere raises with the store untouched; a nested row
        whose parent row ``discard_row`` dropped goes too.  A nested
        table is written under its root's disposition (:func:`_nested_table`)
        and keeps only the rows of the roots a root write lands.  For
        delete-insert and upsert merges, child rows of replaced roots are
        removed by ``_dlt_root_id`` first (reference root-key delete,
        ``sql_jobs.py:550-739``)."""
        root_name = root_table["name"]
        disposition = root_table.get("write_disposition", "append")
        if root_name not in tables or disposition == "skip":
            return  # whole batch discarded by a schema contract, or skipped
        strategy = root_table.get("x_merge_strategy", "delete-insert")
        discard_row = self.schema.resolve_contract(root_name).get("data_type") == "discard_row"
        conformed = {}
        for name, df in tables.items():  # ancestry order
            table = root_table if name == root_name else _nested_table(
                self.schema.tables[name], disposition, strategy
            )
            df, dest = self.conform(df, table)
            # a nested table is named `<parent>__<field>`; the root's rows
            # were decided before their lists exploded
            parent = max((p for p in conformed if name.startswith(p + "__")), key=len, default=None)
            if discard_row and parent not in (None, root_name):
                ids = conformed[parent][1].select(F.col(C_DLT_ID).alias(C_DLT_PARENT_ID))
                df = df.join(ids, on=C_DLT_PARENT_ID, how="left_semi")
            conformed[name] = (table, df, dest)
        _, root_df, root_dest = conformed.pop(root_name)

        deleted_root_ids: Optional[DataFrame] = None
        keys = _hint_cols(root_table, "primary_key") or _hint_cols(root_table, "merge_key")
        if (
            disposition == "merge" and strategy in ("delete-insert", "upsert")
            and keys and root_dest is not None
        ):
            # roots being replaced or deleted in this load
            deleted_root_ids = root_dest.join(
                root_df.select(*keys).distinct(), on=keys, how="left_semi"
            ).select("_dlt_id")

        landed = self.write_table(root_df, root_dest, root_table, load_id)

        for child_name, (child_table, child_df, dest) in conformed.items():
            if landed is not None and C_DLT_ROOT_ID in child_df.columns:
                ids = landed.select(F.col("_dlt_id").alias(C_DLT_ROOT_ID))
                child_df = child_df.join(ids, on=C_DLT_ROOT_ID, how="left_semi")
            if deleted_root_ids is not None and dest is not None and C_DLT_ROOT_ID in dest.columns:
                kept = D.delete_child_rows(dest, deleted_root_ids)
                self.store.overwrite(kept.unionByName(child_df, allowMissingColumns=True), child_name)
            else:
                self.write_table(child_df, dest, child_table, load_id)

    # -- commit protocol (row formats and commit rule: control.py) --

    def commit_load(self, load_id: str, status: int = 0) -> None:
        control.append(self.store, LOADS_TABLE_NAME, {
            "load_id": load_id,
            "schema_name": self.schema.name,
            "status": status,
            "schema_version_hash": self.schema.version_hash,
        })

    def commit_schema(self) -> None:
        control.append(self.store, VERSION_TABLE_NAME, {
            "version": self.schema.version,
            "version_hash": self.schema.version_hash,
            "schema_name": self.schema.name,
            "schema": self.schema.to_json(),
        })


def _hint_cols(table: TTableSchema, hint: str) -> List[str]:
    return [c["name"] for c in table.get("columns", {}).values() if c.get(hint)]


def _first_hint_col(table: TTableSchema, hint: str) -> Optional[str]:
    cols = _hint_cols(table, hint)
    return cols[0] if cols else None


def _nested_table(
    table: TTableSchema, root_disposition: str, root_strategy: str
) -> TTableSchema:
    """A registered nested table under the disposition its root's implies:
    replace replaces, scd2 inserts the rows whose ``_dlt_id`` (a content
    hash) is new, and every other disposition appends.  The nested rows
    of delete-insert and upsert roots are the one case ``write_chain``
    handles itself: those of replaced roots are dropped first."""
    if root_disposition == "replace":
        return dict(table, write_disposition="replace")
    if root_disposition == "merge" and root_strategy == "scd2":
        cols = {n: dict(c, primary_key=n == C_DLT_ID) for n, c in table["columns"].items()}
        return dict(table, columns=cols, write_disposition="merge",
                    x_merge_strategy="insert-only")
    return dict(table, write_disposition="append")


def load_id_to_ts(load_id: str) -> str:
    """A load id is an epoch-seconds string (reference load package ids);
    render it as an ISO timestamp for scd2 boundaries."""
    import datetime as dt

    try:
        ts = dt.datetime.fromtimestamp(float(load_id), tz=dt.timezone.utc)
    except ValueError:
        ts = dt.datetime.now(tz=dt.timezone.utc)
    return ts.strftime("%Y-%m-%d %H:%M:%S.%f")
