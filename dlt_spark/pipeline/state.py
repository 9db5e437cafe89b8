"""Pipeline state persisted to the destination.

Re-expression of ``dlt/pipeline/state_sync.py:95-139`` and the
``_dlt_pipeline_state`` table (``dlt/common/schema/utils.py:1398``): a
versioned JSON blob appended once per state change; restore reads the
highest committed version.  The row format and the committed-load rule
live in ``load/control.py``.  Holds incremental cursors and arbitrary
``dlt.current.state()``-style user state.
"""

from __future__ import annotations

import json
from typing import Any, Dict, Optional

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..load import control
from ..schema.typing import STATE_TABLE_NAME
from ..store.table_store import TableStore


class PipelineState:
    def __init__(self, pipeline_name: str) -> None:
        self.pipeline_name = pipeline_name
        self.version = 0
        self.state: Dict[str, Any] = {"sources": {}}

    # -- accessors --

    def source_state(self, source: str) -> Dict[str, Any]:
        return self.state["sources"].setdefault(source, {})

    def resource_state(self, source: str, resource: str) -> Dict[str, Any]:
        return self.source_state(source).setdefault("resources", {}).setdefault(resource, {})

    # -- persistence --

    def persist(self, spark: SparkSession, store: TableStore, load_id: str) -> None:
        self.version += 1
        control.append(store, STATE_TABLE_NAME, {
            "version": self.version,
            "pipeline_name": self.pipeline_name,
            "state": json.dumps(self.state, default=str),
            "_dlt_load_id": load_id,
        })

    @classmethod
    def restore(
        cls, store: TableStore, pipeline_name: str
    ) -> Optional["PipelineState"]:
        """Restore the newest COMMITTED state: only rows whose
        ``_dlt_load_id`` is a committed load count.  A crash between the
        state append and the loads-row commit leaves an orphan state row;
        honoring it would advance the cursor past a package readers
        consider uncommitted, silently dropping those rows forever
        (reference keeps state inside the load package so the two commit
        together — this filter is the equivalent guarantee)."""
        row = control.newest(
            store, STATE_TABLE_NAME,
            (F.col("pipeline_name") == pipeline_name)
            & F.col("_dlt_load_id").isin(control.load_ids(store)),
        )
        if row is None:
            return None
        st = cls(pipeline_name)
        st.version = row["version"]
        st.state = json.loads(row["state"])
        return st
