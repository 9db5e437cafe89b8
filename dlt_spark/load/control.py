"""Control plane: the ``_dlt_*`` tables that make a load package visible.

Re-expression of the reference's system tables (``_dlt_loads``,
``_dlt_version``, ``_dlt_pipeline_state``; ``dlt/common/schema/utils.py``)
and its commit order (``dlt/load/load.py:605``,
``dlt/pipeline/state_sync.py:95-139``).  This module is the one place that
knows their row formats and the rule that a load counts only once
``_dlt_loads`` holds a status-0 row for it:

- ``append`` writes one row from the driver (a pyarrow append, no Spark
  job — a one-row metadata write must not cost a cluster round-trip);
- ``load_ids`` lists the committed load ids, one collect of the tiny
  ``_dlt_loads`` table, sorted in Python (``loads`` is the same filter as
  a lazy plan, for ``Relation.from_loads``);
- ``newest`` returns the highest-``version`` row of a versioned control
  table (schemas, pipeline state).

A load package becomes visible when ``Pipeline.load`` appends its
``_dlt_loads`` row, after the data tables, the schema version and the
pipeline state: a crash anywhere before leaves rows that every reader
filtering through ``load_ids`` ignores.
"""

from __future__ import annotations

import datetime as dt
from typing import Any, Dict, List, Optional

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from ..schema.schema import Schema
from ..schema.typing import LOADS_TABLE_NAME, STATE_TABLE_NAME, VERSION_TABLE_NAME
from ..store.table_store import TableStore

LOADS_SCHEMA = pa.schema(
    [
        ("load_id", pa.string()),
        ("schema_name", pa.string()),
        ("status", pa.int32()),
        ("schema_version_hash", pa.string()),
        ("inserted_at", pa.timestamp("us", tz="UTC")),
    ]
)
VERSION_SCHEMA = pa.schema(
    [
        ("version", pa.int32()),
        ("version_hash", pa.string()),
        ("schema_name", pa.string()),
        ("schema", pa.string()),
        ("inserted_at", pa.timestamp("us", tz="UTC")),
    ]
)
STATE_SCHEMA = pa.schema(
    [
        ("version", pa.int32()),
        ("pipeline_name", pa.string()),
        ("state", pa.string()),
        ("_dlt_load_id", pa.string()),
        ("created_at", pa.timestamp("us", tz="UTC")),
    ]
)
# table -> (row schema, the time column ``append`` stamps)
_TABLES = {
    LOADS_TABLE_NAME: (LOADS_SCHEMA, "inserted_at"),
    VERSION_TABLE_NAME: (VERSION_SCHEMA, "inserted_at"),
    STATE_TABLE_NAME: (STATE_SCHEMA, "created_at"),
}


def append(store: TableStore, table: str, row: Dict[str, Any]) -> None:
    """Append one control row, stamped with the current UTC time."""
    schema, stamp = _TABLES[table]
    store.append_rows([{**row, stamp: dt.datetime.now(dt.timezone.utc)}], table, schema)


def loads(store: TableStore, status: Optional[int] = 0) -> DataFrame:
    """The ``_dlt_loads`` rows with ``status`` (``None``: every row), as a
    lazy plan for semi-joins."""
    df = store.read(LOADS_TABLE_NAME)
    return df if status is None else df.filter(F.col("status") == status)


def load_ids(store: TableStore, status: Optional[int] = 0) -> List[str]:
    """Sorted ids of the loads with ``status`` (``None``: every load);
    ``[]`` before the first commit."""
    if not store.exists(LOADS_TABLE_NAME):
        return []
    return sorted(r["load_id"] for r in loads(store, status).select("load_id").collect())


def newest(store: TableStore, table: str, where: Column) -> Optional[Row]:
    """The highest-``version`` row of ``table`` matching ``where``."""
    if not store.exists(table):
        return None
    rows = (
        store.read(table).filter(where).orderBy(F.col("version").desc()).limit(1).collect()
    )
    return rows[0] if rows else None


def newest_schema(store: TableStore, schema_name: str) -> Optional[Schema]:
    """The newest stored version of schema ``schema_name``."""
    row = newest(store, VERSION_TABLE_NAME, F.col("schema_name") == schema_name)
    return Schema.from_json(row["schema"]) if row else None
