"""Write dispositions as pure DataFrame set operators.

Re-expression of the reference's load-stage SQL generation
(``dlt/destinations/sql_jobs.py`` — ``gen_merge_sql:550-739``,
``gen_upsert_sql:742-903``, ``gen_scd2_sql:904-1021``, dedup
``gen_select_from_dedup_sql:257-327``) as *functional* operators:
``(dest, staging, keys...) -> result``.  The caller (``load.py``) commits
the result via the :class:`~dlt_spark.store.table_store.TableStore`;
on Delta/Iceberg the same semantics map 1:1 to ``MERGE INTO`` (noted per
function) and avoid the full rewrite.

Scale design:

- key sets are projected to the key columns *before* joining, so the
  build side of every semi/anti join is narrow; the join strategy is
  left to the planner: Catalyst broadcasts a side whose estimate is under
  ``spark.sql.autoBroadcastJoinThreshold``, and AQE converts a shuffle
  join to broadcast at runtime when a key set turns out small — a
  full-backfill staging batch is never force-broadcast;
- dedup uses a single window (one shuffle on the key), identical to the
  reference's ``ROW_NUMBER() OVER (PARTITION BY pk ORDER BY dedup_sort)``;
- nothing ever collects to the driver.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..normalize.relational import row_hash
from ..schema.typing import (
    C_DLT_ID,
    C_DLT_ROOT_ID,
    C_DLT_VALID_FROM,
    C_DLT_VALID_TO,
)


def _key_cols(keys: Sequence[str]) -> List[Column]:
    return [F.col(k) for k in keys]


def dedup_staging(
    staging: DataFrame,
    primary_key: Sequence[str],
    dedup_sort: Optional[str] = None,
    sort_desc: bool = True,
) -> DataFrame:
    """Keep one row per key — latest by ``dedup_sort`` when given,
    arbitrary-but-deterministic otherwise (reference
    ``sql_jobs.py:257-327``: ``ROW_NUMBER ... ORDER BY dedup_sort`` with
    ``(SELECT NULL)`` fallback; we order by the key itself for
    determinism).

    ``staging`` may still carry its nested lists (the pipeline dedups a
    package before the normalizer explodes them): lists take part in the
    order like any other column, maps through their JSON text (Spark can
    neither sort nor hash a map)."""
    def sortable(c: str) -> Column:
        if "map<" in staging.schema[c].dataType.simpleString():
            return F.to_json(F.col(c))
        return F.col(c)

    if dedup_sort:
        order = [F.col(dedup_sort).desc() if sort_desc else F.col(dedup_sort).asc()]
        # tiebreak deterministically so reruns produce identical tables
        order += [sortable(c).asc() for c in staging.columns if c != dedup_sort]
    else:
        # the reference picks arbitrarily here (ORDER BY (SELECT NULL));
        # we pick deterministically but cheaply: one 8-byte hash sort key
        # over the row instead of a full multi-column sort tuple (the
        # wide tuple measurably slows the shuffle's UnsafeRow prefix at
        # scale).  _dlt system columns are excluded — _dlt_load_id (and
        # a random-strategy _dlt_id) change per run, and hashing them
        # would flip the winner between identical reruns.  Rows equal on
        # all data columns are interchangeable; the row id only breaks
        # their tie, so every evaluation over the same pinned package
        # keeps the same row (and hence the same nested rows).
        data_cols = [c for c in staging.columns if not c.startswith("_dlt_")]
        order = [F.xxhash64(*[sortable(c) for c in data_cols or staging.columns]).asc()]
        if C_DLT_ID in staging.columns:
            order.append(F.col(C_DLT_ID).asc())
    w = Window.partitionBy(*_key_cols(primary_key)).orderBy(*order)
    return (
        staging.withColumn("_dlt_rn", F.row_number().over(w))
        .filter(F.col("_dlt_rn") == 1)
        .drop("_dlt_rn")
    )


def apply_hard_delete(
    staging: DataFrame, hard_delete_col: Optional[str]
) -> DataFrame:
    """Drop rows flagged deleted from the to-insert set (reference
    ``sql_jobs.py:422-449``): a NULL flag means 'not deleted'."""
    if not hard_delete_col:
        return staging
    return staging.filter(
        F.col(hard_delete_col).isNull() | (F.col(hard_delete_col) == F.lit(False))
    )


def merge_delete_insert(
    dest: Optional[DataFrame],
    staging: DataFrame,
    primary_key: Optional[Sequence[str]] = None,
    merge_key: Optional[Sequence[str]] = None,
    dedup_sort: Optional[str] = None,
    hard_delete_col: Optional[str] = None,
) -> DataFrame:
    """Default merge strategy (reference ``gen_merge_sql``,
    ``sql_jobs.py:550-739``): delete destination rows whose key appears in
    staging, then insert the (deduped, non-hard-deleted) staging rows.

    Delta mapping: ``MERGE INTO dest USING keys ON ... WHEN MATCHED THEN
    DELETE`` + append, or a single multi-action MERGE.
    """
    keys = list(primary_key or merge_key or [])
    if primary_key:
        staging = dedup_staging(staging, primary_key, dedup_sort)
    insert = apply_hard_delete(staging, hard_delete_col)
    if dest is None:
        return insert
    insert = insert.select(*dest.columns)
    if not keys:
        # no key: merge degenerates to append (reference falls back to
        # deleting by _dlt_id never matching) — keep dest + staging
        return dest.unionByName(insert)
    staging_keys = staging.select(*keys).distinct()
    survivors = dest.join(staging_keys, on=keys, how="left_anti")
    return survivors.unionByName(insert)


def delete_child_rows(
    child_dest: DataFrame, deleted_root_ids: DataFrame
) -> DataFrame:
    """Remove nested-table rows belonging to replaced/deleted roots by
    ``_dlt_root_id`` (reference root-key delete, ``sql_jobs.py:200-236``).
    ``deleted_root_ids`` must have a single ``_dlt_root_id``-named (or
    ``_dlt_id``) column."""
    key = deleted_root_ids.columns[0]
    ids = deleted_root_ids.withColumnRenamed(key, C_DLT_ROOT_ID).distinct()
    return child_dest.join(ids, on=C_DLT_ROOT_ID, how="left_anti")


def merge_upsert(
    dest: Optional[DataFrame],
    staging: DataFrame,
    primary_key: Sequence[str],
    dedup_sort: Optional[str] = None,
    hard_delete_col: Optional[str] = None,
) -> DataFrame:
    """Upsert (reference ``gen_upsert_sql``, ``sql_jobs.py:742-903``):
    matched rows are replaced by the staging version (or deleted when the
    hard-delete flag is set), unmatched staging rows are inserted.

    Delta mapping: ``MERGE INTO ... WHEN MATCHED AND s.deleted THEN DELETE
    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``.
    """
    staging = dedup_staging(staging, primary_key, dedup_sort)
    upserts = apply_hard_delete(staging, hard_delete_col)
    if dest is None:
        return upserts
    upserts = upserts.select(*dest.columns)
    staging_keys = staging.select(*primary_key).distinct()
    untouched = dest.join(staging_keys, on=list(primary_key), how="left_anti")
    return untouched.unionByName(upserts)


def merge_insert_only(
    dest: Optional[DataFrame],
    staging: DataFrame,
    primary_key: Sequence[str],
    dedup_sort: Optional[str] = None,
) -> DataFrame:
    """Insert-only merge (reference ``sql_jobs.py:762-773``): keep existing
    rows untouched, insert only staging rows whose key is new.

    Delta mapping: ``MERGE ... WHEN NOT MATCHED THEN INSERT``.
    """
    staging = dedup_staging(staging, primary_key, dedup_sort)
    if dest is None:
        return staging
    return dest.unionByName(new_key_rows(dest, staging, primary_key).select(*dest.columns))


def new_key_rows(
    dest: DataFrame, staging: DataFrame, primary_key: Sequence[str]
) -> DataFrame:
    """The staging rows an insert-only merge inserts: those whose key is
    not in ``dest``."""
    return staging.join(
        dest.select(*primary_key).distinct(), on=list(primary_key), how="left_anti"
    )


def scd2_apply(
    dest: Optional[DataFrame],
    staging: DataFrame,
    boundary_ts: str,
    merge_key: Optional[Sequence[str]] = None,
    valid_from_col: str = C_DLT_VALID_FROM,
    valid_to_col: str = C_DLT_VALID_TO,
    row_hash_col: str = C_DLT_ID,
    active_literal: Optional[str] = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2 (reference ``gen_scd2_sql``,
    ``sql_jobs.py:904-1021``):

    1. **retire** — active destination rows whose row hash is absent from
       staging get ``valid_to = boundary_ts`` (scoped to staging's
       ``merge_key`` values when a merge key is configured, so partial
       snapshots only retire their own keys);
    2. **insert** — staging rows whose hash is not already active are
       appended with ``valid_from = boundary_ts`` and an open
       ``valid_to`` (NULL or ``active_literal``).

    Unchanged rows (hash present and active) are neither re-inserted nor
    touched.  Row identity is the whole-row content hash stored in
    ``_dlt_id`` (reference ``helpers.py:107-120``).  Anti-joins, never
    ``NOT IN`` — NULL-safe and skew-tolerant at scale.
    """
    active_to = F.lit(active_literal).cast("timestamp") if active_literal else F.lit(None).cast("timestamp")
    boundary = F.lit(boundary_ts).cast("timestamp")

    payload_cols = [
        c
        for c in staging.columns
        if c not in (valid_from_col, valid_to_col, row_hash_col)
    ]
    hashed = (
        staging.withColumn(row_hash_col, row_hash(payload_cols))
        .select(*payload_cols, row_hash_col)
        .dropDuplicates([row_hash_col])
    )

    new_version = (
        hashed.withColumn(valid_from_col, boundary)
        .withColumn(valid_to_col, active_to)
    )

    if dest is None:
        return new_version.select(*payload_cols, row_hash_col, valid_from_col, valid_to_col)

    is_active = (
        F.col(valid_to_col).isNull()
        if not active_literal
        else F.col(valid_to_col).eqNullSafe(active_to)
    )
    active = dest.filter(is_active)
    history = dest.filter(~is_active)

    staging_hashes = hashed.select(row_hash_col).distinct()

    # retire: active rows whose hash vanished from the snapshot
    to_retire = active.join(staging_hashes, on=row_hash_col, how="left_anti")
    if merge_key:
        staging_mk = hashed.select(*merge_key).distinct()
        to_retire = to_retire.join(staging_mk, on=list(merge_key), how="left_semi")
        kept_active = active.join(
            to_retire.select(row_hash_col), on=row_hash_col, how="left_anti"
        )
    else:
        kept_active = active.join(staging_hashes, on=row_hash_col, how="left_semi")
    retired = to_retire.withColumn(valid_to_col, boundary)

    active_hashes = active.select(row_hash_col).distinct()
    inserts = new_version.join(active_hashes, on=row_hash_col, how="left_anti")

    cols = dest.columns
    return (
        history.select(*cols)
        .unionByName(retired.select(*cols))
        .unionByName(kept_active.select(*cols))
        .unionByName(inserts.select(*cols))
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: the (large, skewed) left side gets a
    random-but-deterministic salt bucket from its own row content, the
    (smaller) right side is replicated ``salt``x — hot keys spread over
    ``salt`` tasks instead of one straggler.  Use when AQE's skew-join
    split is not enough (single mega-key).  Salt from a hash of all left
    columns, so reruns are deterministic."""
    on = list(on)
    lsalt = F.pmod(
        F.hash(*[F.col(c) for c in left.columns]), F.lit(salt)
    ).alias("_salt")
    lt = left.withColumn("_salt", lsalt)
    rt = right.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    return lt.join(rt, on=on + ["_salt"], how=how).drop("_salt")


def replace_table(staging: DataFrame) -> DataFrame:
    """Replace disposition: the result simply *is* the staging data.  The
    three reference strategies (truncate-and-insert / insert-from-staging /
    staging-optimized, ``sql_jobs.py:113-160``) differ only in commit
    atomicity — our store's pointer-flip overwrite (and Delta's
    ``CREATE OR REPLACE``) is always atomic, i.e. 'staging-optimized'."""
    return staging
