"""Load stage: schema evolution against the store, disposition dispatch
over table chains, and the atomic load-package commit protocol.

Re-expression of ``dlt/load/load.py`` (job scheduling ``:271-370``,
followup merge jobs ``:376``, ``complete_package:605``) minus the parts
Spark makes free: there are no file jobs or worker pools — each table's
write is one distributed Spark action.  What remains ours:

- **table-chain ordering** (root before nested, reference
  ``sql_jobs.py:48-75``);
- **variant columns**: when an incoming batch's column type conflicts
  with the stored table, rows that survive ``try_cast`` stay in the
  column and the rest land in ``col__v_<type>`` (reference
  ``jsonl.py:355-394``) — implemented with ``try_cast`` +
  ``when/otherwise`` so the split is JVM-side and vectorized;
- **atomic visibility**: data tables commit first, the ``_dlt_loads`` row
  last; readers that filter through ``from_loads`` never see a partial
  package (reference ``load.py:605``, ``utils.py:1352``).  The control
  rows' formats and the committed-load rule live in ``control.py``.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema.schema import Schema
from ..schema.spark_types import from_spark_type, to_spark_type
from ..schema.typing import (
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


def union_evolved(existing: DataFrame, batch: DataFrame) -> DataFrame:
    """Union with schema evolution: new columns appear as NULL on old rows."""
    return existing.unionByName(batch, allowMissingColumns=True)


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

    def write_table(
        self,
        df: DataFrame,
        table: TTableSchema,
        load_id: str,
        staging_of_chain: Optional[Dict[str, DataFrame]] = None,
    ) -> None:
        name = table["name"]
        disposition = table.get("write_disposition", "append")
        if disposition == "skip":
            return
        df = self._cast_json_variant(df, table)
        partition_by = _hint_cols(table, "partition") or None
        exists = self.store.exists(name)
        dest = self.store.read(name) if exists else None

        if dest is not None:
            df = align_with_variants(df, dest)
            df = self._apply_data_type_contract(df, dest, name)

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
            if dest is None:
                self.store.append(df, name, partition_by=partition_by, sort_by=present_sort)
            elif set(df.columns) != set(dest.columns):
                self.store.overwrite(
                    union_evolved(dest, df), name, partition_by=partition_by, sort_by=present_sort
                )
            else:
                self.store.append(
                    df.select(*dest.columns), name, partition_by=partition_by, sort_by=present_sort
                )
            return
        if disposition == "replace":
            self.store.overwrite(
                D.replace_table(df), name, partition_by=partition_by, sort_by=present_sort
            )
            return
        if disposition == "merge":
            strategy = table.get("x_merge_strategy", "delete-insert")
            pk = _hint_cols(table, "primary_key")
            mk = _hint_cols(table, "merge_key")
            dedup_sort = _first_hint_col(table, "dedup_sort")
            hard_delete = _first_hint_col(table, "hard_delete")
            evolved = dest is not None and bool(set(df.columns) - set(dest.columns))
            if evolved:
                dest = union_evolved(dest, df.limit(0))
            # lakehouse fast path: a store exposing row-level `upsert`
            # (Delta/Iceberg MERGE INTO) applies upsert/insert-only as
            # ONE logged merge touching only matched files — at 100 TB
            # the difference between a snapshot commit and rewriting the
            # whole table through overwrite().  Guarded to the cases
            # whose semantics the generic path and MERGE share exactly:
            # no hard-delete flag (needs WHEN MATCHED ... THEN DELETE)
            # and no in-flight schema evolution.
            if (
                strategy in ("upsert", "insert-only")
                and pk
                and dest is not None
                and not evolved
                and hard_delete is None
                and set(df.columns) == set(dest.columns)
                and hasattr(self.store, "upsert")
            ):
                staging = D.dedup_staging(
                    df.select(*dest.columns), pk, dedup_sort
                )
                self.store.upsert(
                    staging, name, join_cols=pk,
                    when_matched_update_all=(strategy == "upsert"),
                )
                return
            if strategy == "delete-insert":
                result = D.merge_delete_insert(
                    dest, df, primary_key=pk or None, merge_key=mk or None,
                    dedup_sort=dedup_sort, hard_delete_col=hard_delete,
                )
            elif strategy == "upsert":
                if not pk:
                    raise ValueError(f"upsert on {name!r} requires a primary_key")
                result = D.merge_upsert(
                    dest, df, primary_key=pk, dedup_sort=dedup_sort,
                    hard_delete_col=hard_delete,
                )
            elif strategy == "insert-only":
                if not pk:
                    raise ValueError(f"insert-only on {name!r} requires a primary_key")
                result = D.merge_insert_only(dest, df, primary_key=pk, dedup_sort=dedup_sort)
            elif strategy == "scd2":
                result = D.scd2_apply(
                    dest, df,
                    boundary_ts=table.get("x_boundary_timestamp") or load_id_to_ts(load_id),
                    merge_key=mk or None,
                )
            else:
                raise ValueError(f"unknown merge strategy {strategy!r}")
            if dest is None:
                self.store.append(result, name, partition_by=partition_by)
            else:
                self.store.overwrite(result, name, partition_by=partition_by)
            return
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
        order.  For delete-insert merges, child rows of replaced roots are
        removed by ``_dlt_root_id`` before the child batch is appended
        (reference root-key delete, ``sql_jobs.py:550-739``)."""
        root_name = root_table["name"]
        if root_name not in tables:
            return  # whole batch discarded by a schema contract
        disposition = root_table.get("write_disposition", "append")
        strategy = root_table.get("x_merge_strategy", "delete-insert")

        # Materialize the package ONCE before any multi-action consumption.
        # The normalized batch can carry a nondeterministic uuid() _dlt_id
        # (row_id_type='random'); below we evaluate the same lineage in
        # several independent actions (root write, surviving_root_ids, each
        # child write).  Without pinning, a task retry or shuffle-order
        # change re-rolls the uuids and children silently vanish through
        # the _dlt_root_id semi-join.  This is the Spark analog of the
        # reference materializing extracted packages to files before load
        # (dlt/extract/extract.py package storage).  localCheckpoint cuts
        # lineage and freezes the computed rows; on a real cluster set
        # spark.checkpoint.dir + use reliable checkpoints if executor loss
        # during a load is a concern.  Single-table chains evaluate the
        # batch in exactly one action, and content-hash ids (key_hash /
        # row_hash) are deterministic by construction — both skip the
        # checkpoint cost.
        if len(tables) > 1 and any(_has_nondeterministic_plan(v) for v in tables.values()):
            tables = {k: v.localCheckpoint(eager=True) for k, v in tables.items()}
        root_df = tables[root_name]

        deleted_root_ids: Optional[DataFrame] = None
        surviving_root_ids: Optional[DataFrame] = None
        if disposition == "merge" and strategy in ("delete-insert", "upsert", "insert-only"):
            pk = _hint_cols(root_table, "primary_key")
            keys = pk or _hint_cols(root_table, "merge_key")
            dedup_sort = _first_hint_col(root_table, "dedup_sort")
            hard_delete = _first_hint_col(root_table, "hard_delete")
            # the staging roots that actually land (post dedup + hard
            # delete) — only *their* children may be inserted (reference
            # gen_merge_sql inserts children via _dlt_root_id IN deduped)
            deduped = D.dedup_staging(root_df, pk, dedup_sort) if pk else root_df
            if strategy == "insert-only" and pk and self.store.exists(root_name):
                deduped = deduped.join(
                    self.store.read(root_name).select(*pk).distinct(),
                    on=pk, how="left_anti",
                )
            surviving_root_ids = D.apply_hard_delete(deduped, hard_delete).select(
                F.col("_dlt_id").alias(C_DLT_ROOT_ID)
            ).distinct()
            if keys and self.store.exists(root_name):
                dest_root = self.store.read(root_name)
                # roots being replaced or deleted in this load
                deleted_root_ids = (
                    dest_root.join(
                        D.broadcast_if_small(root_df.select(*keys).distinct()),
                        on=keys, how="left_semi",
                    ).select("_dlt_id")
                )

        self.write_table(root_df, root_table, load_id)

        for child_name, child_df in tables.items():
            if child_name == root_name:
                continue
            if disposition == "merge" and strategy in ("delete-insert", "upsert", "insert-only"):
                if surviving_root_ids is not None and C_DLT_ROOT_ID in child_df.columns:
                    child_df = child_df.join(
                        D.broadcast_if_small(surviving_root_ids),
                        on=C_DLT_ROOT_ID, how="left_semi",
                    ).dropDuplicates(["_dlt_id"])
                if self.store.exists(child_name):
                    dest_child = self.store.read(child_name)
                    if strategy != "insert-only" and deleted_root_ids is not None and C_DLT_ROOT_ID in dest_child.columns:
                        dest_child = D.delete_child_rows(dest_child, deleted_root_ids)
                    new_child = dest_child.unionByName(
                        child_df.select(*dest_child.columns), allowMissingColumns=False
                    ) if set(child_df.columns) == set(dest_child.columns) else union_evolved(dest_child, child_df)
                    self.store.overwrite(new_child, child_name)
                else:
                    self.store.append(child_df, child_name)
            elif disposition == "replace":
                self.store.overwrite(child_df, child_name)
            elif disposition == "merge" and strategy == "scd2":
                # nested tables are insert-only by row-hash id
                if self.store.exists(child_name):
                    dest_child = self.store.read(child_name)
                    fresh = child_df.join(
                        dest_child.select("_dlt_id"), on="_dlt_id", how="left_anti"
                    ).select(*dest_child.columns)
                    self.store.append(fresh, child_name)
                else:
                    self.store.append(child_df, child_name)
            else:
                self.write_table(child_df, {"name": child_name, "parent": root_name}, load_id)

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


def _has_nondeterministic_plan(df: DataFrame) -> bool:
    """True when the plan contains expressions that re-roll on
    re-evaluation (uuid/rand/monotonically_increasing_id) — only then is
    pinning via checkpoint required for multi-action consistency."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return True  # cannot prove determinism — pin to be safe
    return "uuid(" in plan or "rand(" in plan or "monotonically_increasing_id(" in plan


def _hint_cols(table: TTableSchema, hint: str) -> List[str]:
    return [c["name"] for c in table.get("columns", {}).values() if c.get(hint)]


def _first_hint_col(table: TTableSchema, hint: str) -> Optional[str]:
    cols = _hint_cols(table, hint)
    return cols[0] if cols else None


def load_id_to_ts(load_id: str) -> str:
    """A load id is an epoch-seconds string (reference load package ids);
    render it as an ISO timestamp for scd2 boundaries."""
    import datetime as dt

    try:
        ts = dt.datetime.fromtimestamp(float(load_id), tz=dt.timezone.utc)
    except ValueError:
        ts = dt.datetime.now(tz=dt.timezone.utc)
    return ts.strftime("%Y-%m-%d %H:%M:%S.%f")
