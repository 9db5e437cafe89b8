"""Incremental / watermark extraction.

Re-expression of ``dlt.sources.incremental``
(``dlt/extract/incremental/__init__.py:92-180``, transforms
``transform.py:104-366``, lag ``lag.py:77-121``) as a DataFrame filter
factory plus persisted cursor state:

- the cursor predicate is a plain ``Column`` expression, so it reaches the
  parquet/JDBC scan as a **pushed filter** (check ``PushedFilters`` in
  ``.explain``) — the Spark analog of the reference rendering the cursor
  into the source WHERE clause (``incremental/sql.py``);
- ``lag`` widens the re-read window for late-arriving data;
- boundary dedup removes rows at exactly ``last_value`` that were already
  loaded, by primary-key hash anti-join against the stored boundary hash
  set (reference ``transform.py:104-117``) — the hash set is tiny (rows at
  one cursor value), so the anti-join broadcasts;
- state (cursor value + boundary hashes) round-trips through the
  ``_dlt_pipeline_state`` table via the pipeline (``state.py``).
"""

from __future__ import annotations

import datetime as dt
import math
from dataclasses import dataclass, field
from typing import Any, Callable, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..normalize.relational import key_hash

LAST_VALUE_FUNCS = {"max": max, "min": min}


@dataclass
class Incremental:
    """Declarative cursor over a column (``cursor_path``).

    Supports ``last_value_func`` max (ascending cursor, default) / min
    (descending); open/closed range edges via ``range_start``/``range_end``
    (reference ``incremental/__init__.py:92-180``); bounded backfill via
    ``end_value``; ``lag`` re-read window (seconds for
    timestamp cursors, absolute units otherwise); NULL-cursor policy via
    ``on_cursor_value_missing`` = raise | include | exclude.

    ``range_start`` defaults to ``"closed"`` like the reference: rows at
    exactly ``last_value`` are re-read on the next run and the ones already
    loaded are dropped by boundary-hash dedup (pk hash when ``primary_key``
    is set, whole-row hash otherwise — reference ``transform.py:104-117``).
    This avoids the late-tie data loss of an open start (a row arriving
    later with cursor == last_value would be silently skipped).
    """

    cursor_path: str
    initial_value: Any = None
    # "max" / "min" (Column pushdown fast path), or any custom monotone
    # callable over a value tuple like the reference
    # (``incremental/__init__.py:163``: ``last_value_func((row_value,
    # last_value))``).  Custom callables — including composite/tuple
    # cursors over an array column — run as a vectorized pandas UDF (no
    # SQL pushdown; the reference's JSON path is per-row Python too).
    last_value_func: Any = "max"
    end_value: Any = None
    row_order: Optional[str] = None
    on_cursor_value_missing: str = "raise"
    lag: Optional[float] = None
    range_start: str = "closed"  # first boundary: closed => >= (reference default), open => >
    range_end: str = "open"  # end_value edge: open => <, closed => <=
    primary_key: Optional[Sequence[str]] = None

    # runtime state
    last_value: Any = None
    boundary_hashes: List[str] = field(default_factory=list)
    # scale guard: past this many boundary hashes the set is spilled to a
    # parquet state table (``spill_path``) and dedup runs as an anti-join
    # instead of a driver-side ``isin`` list (SURVEY §2.D scale-safe form;
    # the reference keeps the full list in state,
    # ``dlt/extract/incremental/transform.py:104-117`` — driver OOM with a
    # coarse cursor at 100 TB)
    boundary_hash_limit: int = 10_000
    spill_path: Optional[str] = None
    boundary_spilled: bool = field(default=False, repr=False)

    def __post_init__(self) -> None:
        # builtins normalize to the pushdown fast path (reference
        # ``incremental/__init__.py:178-186`` does the reverse mapping)
        if self.last_value_func is max:
            self.last_value_func = "max"
        elif self.last_value_func is min:
            self.last_value_func = "min"
        if not callable(self.last_value_func) and self.last_value_func not in LAST_VALUE_FUNCS:
            raise ValueError(
                "last_value_func must be 'max', 'min', or a callable over a"
                " value tuple"
            )
        if callable(self.last_value_func):
            # a custom ordering cannot be rendered as a scan predicate:
            # the window filter runs as an Arrow-batched pandas UDF AFTER
            # a full-column scan (no PushedFilters, no codegen).  'max' /
            # 'min' keep the zero-shuffle pushed-scan fast path.
            import logging

            logging.getLogger(__name__).warning(
                "incremental cursor %r uses a custom last_value_func: the"
                " range filter runs as a pandas UDF and forfeits scan"
                " pushdown/codegen; use 'max'/'min' for the pushed-filter"
                " fast path",
                self.cursor_path,
            )
        if self.last_value is None:
            self.last_value = self.initial_value

    @property
    def _custom_func(self) -> Optional[Callable[[Sequence[Any]], Any]]:
        return self.last_value_func if callable(self.last_value_func) else None

    # -- predicate construction (pushdown-friendly) --

    def _start_bound(self) -> Any:
        start = self.last_value
        if start is None:
            return None
        if self.lag:
            if self._custom_func is not None:
                raise ValueError("lag requires last_value_func 'max' or 'min'")
            start = _apply_lag(start, self.lag, self.last_value_func)
        return start

    def filter_condition(self) -> Optional[Column]:
        c = F.col(self.cursor_path)
        if self._custom_func is not None:
            # custom ordering cannot be rendered as a pushdown predicate;
            # range filtering happens in apply() via a pandas UDF.  Only
            # the NULL policy is expressible here.
            if self.on_cursor_value_missing == "exclude":
                return c.isNotNull()
            return None
        conds: List[Column] = []
        start = self._start_bound()
        asc = self.last_value_func == "max"
        # when lag or end_value are active the boundary is re-read
        # (closed), matching reference lag/backfill semantics
        # (incremental/__init__.py:186-197)
        closed_start = self.range_start == "closed" or self.lag is not None
        if start is not None:
            if asc:
                conds.append(c >= F.lit(start) if closed_start else c > F.lit(start))
            else:
                conds.append(c <= F.lit(start) if closed_start else c < F.lit(start))
        if self.end_value is not None:
            if asc:
                conds.append(
                    c <= F.lit(self.end_value)
                    if self.range_end == "closed"
                    else c < F.lit(self.end_value)
                )
            else:
                conds.append(
                    c >= F.lit(self.end_value)
                    if self.range_end == "closed"
                    else c > F.lit(self.end_value)
                )
        if self.on_cursor_value_missing == "include":
            if conds:
                cond = conds[0]
                for x in conds[1:]:
                    cond = cond & x
                return c.isNull() | cond
            return None
        if self.on_cursor_value_missing == "exclude" and not conds:
            return c.isNotNull()
        out = None
        for x in conds:
            out = x if out is None else out & x
        return out

    def apply(self, df: DataFrame) -> DataFrame:
        """Filter ``df`` to the incremental window and drop boundary rows
        already seen in the previous run (pk-hash dedup)."""
        if self.on_cursor_value_missing == "raise":
            # surfaced lazily at scan time would be ideal; we validate the
            # schema eagerly (cursor column must exist)
            if self.cursor_path not in df.columns:
                raise KeyError(f"cursor column {self.cursor_path!r} missing")
        cond = self.filter_condition()
        out = df.filter(cond) if cond is not None else df
        if self._custom_func is not None and (
            self.last_value is not None or self.end_value is not None
        ):
            out = out.filter(self._custom_keep_udf()(F.col(self.cursor_path)))
        if self.last_value is not None and (self.boundary_hashes or self.boundary_spilled):
            keys = self._dedup_keys(out.columns)
            if self._custom_func is not None:
                at_boundary = self._at_boundary_udf()(F.col(self.cursor_path))
            else:
                at_boundary = F.col(self.cursor_path) == F.lit(self.last_value)
            hashed = out.withColumn(
                "_dlt_ih", key_hash(*[F.col(k) for k in keys])
            )
            if self.boundary_spilled:
                # large boundary set: anti-join against the spilled hash
                # table, restricted to rows at the boundary (a pk re-appearing
                # at a later cursor value is an update and must load).  AQE
                # broadcasts the hash side when it is small enough.
                seen_df = (
                    df.sparkSession.read.schema("h string")
                    .parquet(self.spill_path)
                    .select(F.col("h").alias("_dlt_seen"))
                )
                joined = hashed.join(
                    seen_df, hashed["_dlt_ih"] == seen_df["_dlt_seen"], "left"
                )
                out = joined.filter(
                    ~(at_boundary & F.col("_dlt_seen").isNotNull())
                ).drop("_dlt_ih", "_dlt_seen")
            else:
                seen = F.col("_dlt_ih").isin(self.boundary_hashes)
                out = hashed.filter(~(at_boundary & seen)).drop("_dlt_ih")
        return out

    # -- custom last_value_func (vectorized pandas UDF path) --

    def _custom_keep_udf(self):
        """Range predicate for a custom ``last_value_func``, mirroring the
        reference row filter (``transform.py:276-352``): a row survives iff
        it is not strictly "behind" start and not at/past end (per the
        custom ordering)."""
        import pandas as pd

        func = self._custom_func
        start = _norm_val(self.last_value)
        end = _norm_val(self.end_value)
        open_start = self.range_start == "open"
        closed_end = self.range_end == "closed"
        keep_null = self.on_cursor_value_missing != "exclude"

        def keep(s: pd.Series) -> pd.Series:
            def k(v):
                if _is_null(v):
                    return keep_null
                v = _norm_val(v)
                pv = _norm_val(func((v,)))
                if end is not None:
                    if _norm_val(func((v, end))) != end:
                        return False
                    if not closed_end and pv == end:
                        return False
                if start is not None:
                    nv = _norm_val(func((v, start)))
                    if nv == start and pv != start:
                        return False  # strictly behind the cursor
                    if open_start and pv == start:
                        return False
                return True

            return s.map(k)

        keep.__annotations__ = {"s": pd.Series, "return": pd.Series}
        return F.pandas_udf(keep, "boolean")

    def _at_boundary_udf(self):
        import pandas as pd

        func = self._custom_func
        last = _norm_val(self.last_value)

        def at_boundary(s: pd.Series) -> pd.Series:
            return s.map(
                lambda v: (not _is_null(v))
                and _norm_val(func((_norm_val(v),))) == last
            )

        at_boundary.__annotations__ = {"s": pd.Series, "return": pd.Series}
        return F.pandas_udf(at_boundary, "boolean")

    def _custom_reduce(self, df: DataFrame) -> tuple:
        """Distributed fold for a custom ``last_value_func``: each partition
        emits at most one candidate cursor value (same Spark type as the
        cursor column) via ``mapInPandas``; the driver folds the per-
        partition candidates — scale-free (one row per partition)."""
        import pandas as pd
        from pyspark.sql.types import StructField, StructType, LongType

        func = self._custom_func
        cur = self.cursor_path
        src = df.select(F.col(cur).alias("v"))
        out_schema = StructType(
            [src.schema.fields[0], StructField("nulls", LongType(), False)]
        )

        def reduce_partition(batches):
            cand = _NOTSET = object()
            cand = _NOTSET
            nulls = 0
            for pdf in batches:
                for v in pdf["v"]:
                    if _is_null(v):
                        nulls += 1
                        continue
                    vv = _norm_val(v)
                    cand = vv if cand is _NOTSET else _norm_val(func((vv, cand)))
            if cand is _NOTSET:
                yield pd.DataFrame({"v": pd.Series([None], dtype=object), "nulls": [nulls]})
            else:
                yield pd.DataFrame({"v": [_delist(cand)], "nulls": [nulls]})

        rows = src.mapInPandas(reduce_partition, out_schema).collect()
        nulls = sum(r["nulls"] for r in rows)
        cand = None
        for r in rows:
            v = _norm_val(r["v"])
            if v is None:
                continue
            cand = v if cand is None else _norm_val(func((v, cand)))
        return cand, nulls

    def _dedup_keys(self, columns: Sequence[str]) -> List[str]:
        """Boundary-dedup key set: declared primary key, else every data
        column (row-hash dedup, the reference's no-pk fallback)."""
        if self.primary_key:
            return list(self.primary_key)
        return [c for c in columns if c != "_dlt_ih"]

    # -- state update (an aggregation job, driver gets 1 row) --

    def update_state(self, df: DataFrame) -> "Incremental":
        """Compute the new ``last_value`` and boundary pk-hash set from the
        *loaded* window: the cursor aggregate collect, then (when boundary
        dedup is active) the boundary-hash collect.  In ``raise`` mode the
        NULL-cursor check rides the aggregate (reference raises on NULL
        cursor values, ``transform.py:249-299``)."""
        if self._custom_func is not None:
            new_last, nulls = self._custom_reduce(df)
            if self.on_cursor_value_missing == "raise" and nulls > 0:
                raise ValueError(
                    f"cursor column {self.cursor_path!r} has {nulls} NULL"
                    " values; set on_cursor_value_missing to 'include' or"
                    " 'exclude'"
                )
            if new_last is None:
                return self
            if self.last_value is not None:
                new_last = _norm_val(
                    self._custom_func((new_last, _norm_val(self.last_value)))
                )
        else:
            agg_fn = F.max if self.last_value_func == "max" else F.min
            aggs = [agg_fn(F.col(self.cursor_path)).alias("v")]
            if self.on_cursor_value_missing == "raise":
                aggs.append(
                    F.sum(F.col(self.cursor_path).isNull().cast("long")).alias("nulls")
                )
            row = df.agg(*aggs).collect()[0]
            if self.on_cursor_value_missing == "raise" and (row["nulls"] or 0) > 0:
                raise ValueError(
                    f"cursor column {self.cursor_path!r} has {row['nulls']} NULL"
                    " values; set on_cursor_value_missing to 'include' or 'exclude'"
                )
            new_last = row["v"]
            if new_last is None:
                return self
            if self.last_value is not None:
                keep = LAST_VALUE_FUNCS[self.last_value_func](new_last, self.last_value)
                new_last = keep
        self.last_value = new_last
        if self.primary_key or self.range_start == "closed" or self.lag is not None:
            keys = self._dedup_keys(df.columns)
            if self._custom_func is not None:
                at_boundary = self._at_boundary_udf()(F.col(self.cursor_path))
            else:
                at_boundary = F.col(self.cursor_path) == F.lit(new_last)
            hash_df = (
                df.filter(at_boundary)
                .select(key_hash(*[F.col(k) for k in keys]).alias("h"))
                .distinct()
            )
            # collect at most limit+1 — never the unbounded set
            sample = hash_df.limit(self.boundary_hash_limit + 1).collect()
            if len(sample) <= self.boundary_hash_limit:
                self.boundary_hashes = sorted(r["h"] for r in sample)
                self.boundary_spilled = False
            else:
                self._spill_boundary(hash_df)
        return self

    def _spill_boundary(self, hash_df: DataFrame) -> None:
        """Coarse cursor (e.g. a date column over billions of rows): spill
        the full hash set to parquet and dedup by anti-join.  Each batch
        writes a NEW generation directory: when two spilled batches run
        back to back, ``apply`` has put the previous generation into
        hash_df's READ lineage, and overwriting a path that is also being
        read is a Spark error (or corruption) — write-new-then-drop-old."""
        import os
        import shutil
        import tempfile

        prev = self.spill_path
        if prev and os.path.basename(prev).startswith("gen"):
            root = os.path.dirname(prev)
            gen = int(os.path.basename(prev)[3:]) + 1
        else:
            root = prev or tempfile.mkdtemp(prefix="dlt_inc_boundary_")
            gen = 0
        new_path = os.path.join(root, f"gen{gen}")
        hash_df.write.mode("overwrite").parquet(new_path)
        self.spill_path = new_path
        self.boundary_hashes = []
        self.boundary_spilled = True
        if prev and prev != new_path and os.path.basename(prev).startswith("gen"):
            shutil.rmtree(prev, ignore_errors=True)

    # -- state (de)serialization for _dlt_pipeline_state --

    def to_state(self) -> dict:
        import decimal

        def _ser(v):
            if isinstance(v, (dt.datetime, dt.date)):
                return v.isoformat()
            if isinstance(v, decimal.Decimal):
                return str(v)
            return v

        lv = self.last_value
        if isinstance(lv, (list, tuple)):
            # element types are serialized alongside values so a restart
            # rehydrates ('2026-08-14', 5) back to (date, int) — a custom
            # last_value_func comparing restored vs fresh tuples would
            # otherwise mix str with date/Decimal and TypeError
            elem_types = [type(x).__name__ for x in lv]
            lv = [_ser(x) for x in lv]
        else:
            elem_types = None
            lv = _ser(lv)
        return {
            "cursor_path": self.cursor_path,
            "last_value": lv,
            "last_value_type": type(self.last_value).__name__,
            "last_value_elem_types": elem_types,
            "boundary_hashes": list(self.boundary_hashes),
            "boundary_spilled": self.boundary_spilled,
            "boundary_path": self.spill_path if self.boundary_spilled else None,
        }

    def restore_state(self, state: dict) -> "Incremental":
        import decimal

        lv = state.get("last_value")
        t = state.get("last_value_type")
        if lv is not None and t == "datetime":
            lv = dt.datetime.fromisoformat(lv)
        elif lv is not None and t == "date":
            lv = dt.date.fromisoformat(lv)
        elif lv is not None and t == "Decimal":
            lv = decimal.Decimal(lv)
        elif lv is not None and t in ("tuple", "list"):
            def _de(v, et):
                if et == "datetime":
                    return dt.datetime.fromisoformat(v)
                if et == "date":
                    return dt.date.fromisoformat(v)
                if et == "Decimal":
                    return decimal.Decimal(v)
                return v

            ets = state.get("last_value_elem_types") or [None] * len(lv)
            lv = tuple(_de(v, et) for v, et in zip(lv, ets))
        self.last_value = lv
        self.boundary_hashes = list(state.get("boundary_hashes", []))
        self.boundary_spilled = bool(state.get("boundary_spilled", False))
        if self.boundary_spilled and state.get("boundary_path"):
            self.spill_path = state["boundary_path"]
        return self


def _is_null(v: Any) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _norm_val(v: Any) -> Any:
    """Normalize values crossing the Arrow/pandas boundary so equality is
    well-defined: numpy scalars → python, arrays/lists → tuples (tuple
    cursors), recursively."""
    if v is None:
        return None
    if hasattr(v, "item") and type(v).__module__ == "numpy" and getattr(v, "ndim", 0) == 0:
        return v.item()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm_val(x) for x in v)
    return v


def _delist(v: Any) -> Any:
    """Inverse of tuple-normalization for values returned to Spark rows
    (array columns want lists)."""
    if isinstance(v, tuple):
        return [_delist(x) for x in v]
    return v


def _apply_lag(value: Any, lag: float, last_value_func: str) -> Any:
    """Shift the boundary back (max) / forward (min) by the lag window
    (reference ``lag.py:77-121``)."""
    sign = -1 if last_value_func == "max" else 1
    if isinstance(value, dt.datetime):
        return value + dt.timedelta(seconds=sign * lag)
    if isinstance(value, dt.date):
        return value + dt.timedelta(days=sign * lag)
    if isinstance(value, (int, float)):
        out = value + sign * lag
        return type(value)(out) if isinstance(value, int) and float(lag).is_integer() else out
    raise TypeError(f"lag unsupported for cursor type {type(value)}")


def incremental(cursor_path: str, initial_value: Any = None, **kwargs: Any) -> Incremental:
    """Factory mirroring ``dlt.sources.incremental(...)``."""
    return Incremental(cursor_path=cursor_path, initial_value=initial_value, **kwargs)


def from_scheduler_window(
    cursor_path: str, interval_start: Any, interval_end: Any, **kwargs: Any
) -> Incremental:
    """External-scheduler sync (reference ``incremental/__init__.py:129-132``):
    adopt an orchestrator's data interval (e.g. Airflow
    ``data_interval_start/end``) as a closed-open backfill window — state
    is not consulted or advanced; the window IS the contract."""
    return Incremental(
        cursor_path=cursor_path,
        initial_value=interval_start,
        end_value=interval_end,
        range_start="closed",
        range_end="open",
        **kwargs,
    )
