"""Table substrate: versioned copy-on-write parquet tables.

The reference loads into 23 destinations (``dlt/destinations/impl/*``);
this engine targets **one**: Spark-managed tables.  In production that is
Delta or Iceberg (atomic MERGE/replace, snapshot isolation, file skipping).
Neither runtime jar ships in this container, so :class:`ParquetTableStore`
provides the same *contract* on plain parquet:

- each commit writes a fresh ``v_{n}`` directory (copy-on-write) and then
  atomically flips a ``_current`` pointer file — readers never observe a
  half-written table (the moral equivalent of the Delta transaction log,
  one snapshot deep... plus history);
- ``append`` adds files to a *new* version dir listing prior files via a
  manifest, so appends are O(new data), not O(table);
- read-modify-write (merge/upsert/scd2) reads snapshot N and commits
  snapshot N+1 — safe because the input files are immutable;
- every commit records the snapshot's Spark schema (``schema`` in the
  pointer and the log entry), exactly as a parquet read would infer it,
  and every read hands it to ``spark.read.schema(...)`` — so opening a
  table launches no footer-inference job, a string partition column
  keeps its type, and a column added by a later ``append`` is visible
  (NULL on older rows).  Snapshots committed without a ``schema`` field
  still read through inference.

Every operation is expressed through ``df.write.parquet`` /
``spark.read.parquet`` so swapping in Delta (``format("delta")`` +
``MERGE INTO``) or Iceberg is a one-class change — see
:class:`TableStore` for the interface the dispositions code against.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class TableStore:
    """Interface the load stage programs against (Delta/Iceberg bindable)."""

    def exists(self, table: str) -> bool:
        raise NotImplementedError

    def read(self, table: str, version: "Optional[int]" = None) -> DataFrame:
        """``version=`` time-travels to that snapshot; implementations
        without versioning must raise for non-None versions."""
        raise NotImplementedError

    def append(
        self,
        df: DataFrame,
        table: str,
        partition_by: Optional[List[str]] = None,
        sort_by: Optional[List[str]] = None,
    ) -> None:
        raise NotImplementedError

    def append_rows(self, rows: List[dict], table: str, schema: "object" = None) -> None:
        """Control-plane append: a handful of metadata rows (load commits,
        schema versions, pipeline state) written from the driver WITHOUT
        launching a distributed job — a single-row `_dlt_loads` commit
        must not cost a cluster round-trip.  ``schema`` is a
        ``pyarrow.Schema``.  On a SQL-backed store this is a plain INSERT
        (which is exactly what the reference emits, ``load.py:605``)."""
        raise NotImplementedError

    def overwrite(
        self,
        df: DataFrame,
        table: str,
        partition_by: Optional[List[str]] = None,
        sort_by: Optional[List[str]] = None,
    ) -> None:
        raise NotImplementedError

    def truncate(self, table: str) -> None:
        raise NotImplementedError

    def drop(self, table: str) -> None:
        raise NotImplementedError

    def list_tables(self) -> List[str]:
        raise NotImplementedError


def _json_stat(v):
    """Footer statistic -> JSON-able, comparison-stable form.  Numbers
    stay numeric; dates/timestamps/bytes become ISO/utf-8 strings (ISO
    compares lexically in the right order)."""
    import datetime as _dt

    if isinstance(v, (int, float, bool)) or v is None:
        return v
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return str(v)


def _ranges_overlap(stats: dict, where: List[tuple]) -> bool:
    """True if the file may contain rows in every requested range (files
    lacking stats for a predicate column always pass — safe side)."""
    for col, lo, hi in where:
        s = stats.get(col)
        if not s:
            continue
        lo_n = _json_stat(lo) if lo is not None else None
        hi_n = _json_stat(hi) if hi is not None else None
        if hi_n is not None and s["min"] is not None and s["min"] > hi_n:
            return False
        if lo_n is not None and s["max"] is not None and s["max"] < lo_n:
            return False
    return True


# -- recorded snapshot schemas --


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` as a parquet read reports it: every struct field, array
    element, map key and map value nullable (Spark's ``asNullable``)."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _snapshot_schema(
    schema: Optional[T.StructType],
    partition_by: Optional[List[str]],
    prev: Optional[dict] = None,
) -> Optional[dict]:
    """The JSON schema a commit records.  ``prev`` is the meta of the
    snapshot an append extends: its fields come first and new ones
    after (the by-name union), so rows in older files read a new column
    as NULL.  Partition columns go last, as partition discovery puts
    them.  ``None`` — the reader falls back to inference — when the
    schema is unknown, the extended snapshot recorded none, or a column
    changed type."""
    if schema is None:
        return None
    fields = _nullable(schema).fields
    if prev and prev.get("paths"):
        old = _recorded_schema(prev)
        if old is None:
            return None
        new = {f.name: f for f in fields}
        for f in old.fields:
            g = new.pop(f.name, None)
            if g is not None and g.dataType != f.dataType:
                return None
        fields = old.fields + [f for f in fields if f.name in new]
    by_name = {f.name: f for f in fields}
    parts = [c for c in partition_by or [] if c in by_name]
    fields = [f for f in fields if f.name not in parts] + [by_name[c] for c in parts]
    return T.StructType(fields).jsonValue()


def _recorded_schema(meta: dict) -> Optional[T.StructType]:
    s = meta.get("schema")
    return T.StructType.fromJson(s) if s else None


def _arrow_schema(schema, timestamp_ntz: bool) -> Optional[T.StructType]:
    """Spark schema of a pyarrow-written file as a parquet read infers
    it, or ``None`` when a type's read-back is not pinned here (a null
    column reads back as int, nanosecond timestamps and unsigned
    integers do not round-trip) — that snapshot then reads through
    inference."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    def pinned(t) -> bool:
        if pa.types.is_struct(t):
            return all(pinned(t.field(i).type) for i in range(t.num_fields))
        if pa.types.is_map(t):
            return pinned(t.key_type) and pinned(t.item_type)
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return pinned(t.value_type)
        if pa.types.is_timestamp(t):
            return t.unit != "ns"
        return (
            pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t)
            or pa.types.is_boolean(t) or pa.types.is_signed_integer(t)
            or pa.types.is_float32(t) or pa.types.is_float64(t)
            or pa.types.is_date32(t) or pa.types.is_decimal128(t)
        )

    if not all(pinned(f.type) for f in schema):
        return None
    return from_arrow_schema(schema, prefer_timestamp_ntz=timestamp_ntz)


class ParquetTableStore(TableStore):
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        dataset: str = "default",
        max_rows_per_file: int = 0,
    ) -> None:
        self.spark = spark
        self.root = os.path.join(root, dataset)
        self.dataset = dataset
        self.max_rows_per_file = max_rows_per_file
        os.makedirs(self.root, exist_ok=True)

    # -- layout helpers --

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_current")

    def _current_meta(self, table: str) -> Optional[dict]:
        p = self._pointer(table)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _commit(self, table: str, meta: dict) -> None:
        """Atomic pointer flip via rename on the same filesystem.  Every
        commit is also recorded in ``_log/{version}.json`` — the Delta-
        transaction-log analog that makes :meth:`read` with ``version=``
        (time travel), :meth:`history`, and :meth:`changes` possible.
        The pointer flip stays the atomicity point; the log entry is
        written first so a crash between the two leaves no committed
        version without a log record.

        ``meta["schema"]`` (from :func:`_snapshot_schema`) is the
        snapshot's Spark schema as JSON; it lands in both files, so the
        current read and a time-travel read open their files without
        inferring the schema from parquet footers."""
        d = self._table_dir(table)
        os.makedirs(d, exist_ok=True)
        log_dir = os.path.join(d, "_log")
        os.makedirs(log_dir, exist_ok=True)
        import time as _time

        entry = dict(meta, committed_at=_time.time())
        # tmp+rename like the pointer flip: a crash mid-dump must not
        # leave a truncated log JSON that poisons history()/time travel
        lfd, ltmp = tempfile.mkstemp(dir=log_dir, prefix="_entry.")
        with os.fdopen(lfd, "w") as f:
            json.dump(entry, f)
        os.replace(ltmp, os.path.join(log_dir, f"{meta['version']:08d}.json"))
        fd, tmp = tempfile.mkstemp(dir=d, prefix="_current.")
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._pointer(table))

    def _log_meta(self, table: str, version: int) -> Optional[dict]:
        p = os.path.join(self._table_dir(table), "_log", f"{version:08d}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _next_version(self, table: str) -> int:
        meta = self._current_meta(table)
        return (meta["version"] + 1) if meta else 0

    def _data_paths(self, table: str) -> List[str]:
        meta = self._current_meta(table)
        if not meta:
            raise FileNotFoundError(f"table {table!r} does not exist in {self.root}")
        return meta["paths"]

    # -- TableStore API --

    def exists(self, table: str) -> bool:
        meta = self._current_meta(table)
        return bool(meta and meta["paths"])

    def read(
        self,
        table: str,
        where: Optional[List[tuple]] = None,
        version: Optional[int] = None,
    ) -> DataFrame:
        """``where``: optional ``[(col, lo, hi), ...]`` range predicates
        used for manifest-driven FILE skipping (the Delta/Iceberg data-
        skipping analog): files whose recorded min/max for a ``sort``-
        hinted column don't overlap the range are never opened.  ``lo`` /
        ``hi`` of ``None`` mean unbounded.  Files without stats always
        scan (correctness over optimism).  The returned DataFrame still
        applies nothing row-level — add the real ``.filter`` on top; this
        only narrows the file list the scan starts from.

        ``version``: time travel — read the snapshot committed as that
        version (``VERSION AS OF`` analog).  Snapshots survive as long
        as their data dirs do: append chains keep full history; overwrite
        auto-vacuums to current+previous, and :meth:`vacuum` prunes to
        current — past that a versioned read raises."""
        if version is None:
            meta = self._current_meta(table)
            if not meta:
                raise FileNotFoundError(f"table {table!r} does not exist in {self.root}")
        else:
            meta = self._log_meta(table, version)
            if meta is None:
                raise FileNotFoundError(
                    f"table {table!r} has no commit log entry for version {version}"
                )
            missing = [p for p in meta["paths"] if not os.path.isdir(p)]
            if missing:
                raise FileNotFoundError(
                    f"version {version} of table {table!r} was vacuumed "
                    f"(missing {len(missing)} of {len(meta['paths'])} snapshot dirs)"
                )
        paths = meta["paths"]
        schema = _recorded_schema(meta)
        if not paths:
            if version is None:
                raise FileNotFoundError(f"table {table!r} is empty and schemaless")
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            return self._inferred_empty(table, version)
        partitioned = bool(meta.get("partition_by"))
        if where and version is None and not partitioned:
            pruned = self._prune_paths(paths, where)
            if pruned is not None:
                if not pruned:
                    # every file skipped: empty frame with the table schema
                    return self._scan(paths, schema).limit(0)
                return self._scan(pruned, schema)
        return self._scan(paths, schema, partitioned)

    def _scan(
        self, paths: List[str], schema: Optional[T.StructType], partitioned: bool = False
    ) -> DataFrame:
        """Open ``paths`` with the recorded schema (no inference job), or
        through footer inference when the snapshot recorded none."""
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        if partitioned and len(paths) > 1:
            # hive-partitioned version dirs: partition discovery needs one
            # root per read — union the snapshots
            out = reader.parquet(paths[0])
            for p in paths[1:]:
                out = out.unionByName(reader.parquet(p), allowMissingColumns=True)
            return out
        return reader.parquet(*paths)

    def _inferred_empty(self, table: str, version: int) -> DataFrame:
        """Empty snapshot committed without a recorded schema: serve an
        empty frame with the schema of whichever snapshot still has
        data."""
        cur = self._data_paths(table)
        if cur:
            return self.spark.read.parquet(*cur).limit(0)
        for h in reversed(self.history(table)):
            m = self._log_meta(table, h["version"]) or {}
            mp = [p for p in (m.get("paths") or []) if os.path.isdir(p)]
            if mp:
                return self.spark.read.parquet(*mp).limit(0)
        raise FileNotFoundError(
            f"version {version} of table {table!r} is empty and no"
            " snapshot with a readable schema remains"
        )

    def skipped_files(self, table: str, where: List[tuple]) -> tuple:
        """(total_files, files_after_pruning) — observability for tests
        and ops."""
        paths = self._data_paths(table)
        all_files = []
        for d in paths:
            all_files.extend(self._list_parquet(d))
        pruned = self._prune_paths(paths, where)
        return len(all_files), (len(pruned) if pruned is not None else len(all_files))

    def append(
        self,
        df: DataFrame,
        table: str,
        partition_by: Optional[List[str]] = None,
        sort_by: Optional[List[str]] = None,
    ) -> None:
        v = self._next_version(table)
        new_dir = os.path.join(self._table_dir(table), f"v_{v:08d}")
        prev = self._current_meta(table)
        partition_by = partition_by or (prev or {}).get("partition_by")
        sort_by = sort_by or (prev or {}).get("sort_by")
        self._write(df, new_dir, partition_by)
        if sort_by and not partition_by:
            self._write_manifest(new_dir, sort_by)
        paths = (prev["paths"] if prev else []) + [new_dir]
        self._commit(
            table,
            {"version": v, "paths": paths, "partition_by": partition_by,
             "sort_by": sort_by, "op": "append",
             "schema": _snapshot_schema(df.schema, partition_by, prev)},
        )

    def append_rows(self, rows: List[dict], table: str, schema: "object" = None) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.Table.from_pylist(rows, schema=schema)
        v = self._next_version(table)
        new_dir = os.path.join(self._table_dir(table), f"v_{v:08d}")
        os.makedirs(new_dir, exist_ok=True)
        pq.write_table(tbl, os.path.join(new_dir, "part-00000.parquet"))
        prev = self._current_meta(table)
        paths = (prev["paths"] if prev else []) + [new_dir]
        ntz = self.spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        partition_by = (prev or {}).get("partition_by")
        self._commit(
            table,
            {
                "version": v,
                "paths": paths,
                "partition_by": partition_by,
                "op": "append_rows",
                "schema": _snapshot_schema(
                    _arrow_schema(tbl.schema, ntz == "true"), partition_by, prev
                ),
            },
        )

    def overwrite(
        self,
        df: DataFrame,
        table: str,
        partition_by: Optional[List[str]] = None,
        sort_by: Optional[List[str]] = None,
    ) -> None:
        v = self._next_version(table)
        new_dir = os.path.join(self._table_dir(table), f"v_{v:08d}")
        prev = self._current_meta(table)
        partition_by = partition_by or (prev or {}).get("partition_by")
        sort_by = sort_by or (prev or {}).get("sort_by")
        self._write(df, new_dir, partition_by)
        if sort_by and not partition_by:
            self._write_manifest(new_dir, sort_by)
        # remember the full previous snapshot so vacuum never deletes dirs
        # that lazy DataFrames built from snapshot N-1 may still read
        # (a load package overwrites the root, then evaluates child plans
        # referencing the pre-overwrite root files)
        self._commit(
            table,
            {
                "version": v,
                "paths": [new_dir],
                "partition_by": partition_by,
                "sort_by": sort_by,
                "prev_paths": (prev or {}).get("paths", []),
                "op": "overwrite",
                "schema": _snapshot_schema(df.schema, partition_by),
            },
        )
        self._vacuum(table)

    # -- manifest min/max file skipping (Delta data-skipping analog) --

    MANIFEST = "_manifest.json"

    @staticmethod
    def _list_parquet(version_dir: str) -> List[str]:
        if not os.path.isdir(version_dir):
            return []
        return sorted(
            os.path.join(version_dir, f)
            for f in os.listdir(version_dir)
            if f.endswith(".parquet")
        )

    def _write_manifest(self, version_dir: str, sort_by: List[str]) -> None:
        """Per-file min/max of the sort columns, read from the parquet
        footers the write just produced (driver-side, O(files) footer
        reads — the same stats Delta records in its transaction log).
        The `sort` hint clusters rows per file, so the ranges are tight
        and file skipping actually bites."""
        import pyarrow.parquet as pq

        entries = []
        for f in self._list_parquet(version_dir):
            md = pq.ParquetFile(f).metadata
            # row-group columns are FLATTENED LEAVES: index by the leaf
            # path, not the Arrow top-level field index — with a nested
            # column ahead of a sort column the field index would read
            # another leaf's statistics (wrong pruning = missing rows)
            leaf_idx = {
                md.schema.column(i).path: i for i in range(md.num_columns)
            }
            stats: dict = {}
            for col in sort_by:
                idx = leaf_idx.get(col, -1)
                if idx < 0:
                    continue
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    s = md.row_group(rg).column(idx).statistics
                    if s is None or not s.has_min_max:
                        mins, maxs = [], []
                        break
                    mins.append(s.min)
                    maxs.append(s.max)
                if mins:
                    stats[col] = {
                        "min": _json_stat(min(mins)),
                        "max": _json_stat(max(maxs)),
                    }
            entries.append({"file": os.path.basename(f), "stats": stats})
        with open(os.path.join(version_dir, self.MANIFEST), "w") as fh:
            json.dump({"sort_by": sort_by, "files": entries}, fh)

    def _prune_paths(self, version_dirs: List[str], where: List[tuple]) -> Optional[List[str]]:
        """File list after manifest pruning; None = no manifest anywhere
        (caller falls back to full-dir scan)."""
        any_manifest = False
        out: List[str] = []
        for d in version_dirs:
            mpath = os.path.join(d, self.MANIFEST)
            if not os.path.exists(mpath):
                out.extend(self._list_parquet(d) or [d])
                continue
            any_manifest = True
            with open(mpath) as fh:
                manifest = json.load(fh)
            for entry in manifest.get("files", []):
                if _ranges_overlap(entry.get("stats", {}), where):
                    out.append(os.path.join(d, entry["file"]))
        return out if any_manifest else None

    def _write(self, df: DataFrame, path: str, partition_by: Optional[List[str]]) -> None:
        """Hive-partitioned layout when partition hints are set — readers
        get partition pruning on those columns for free (the parquet
        analog of Delta partitioning / Iceberg partition specs).

        ``max_rows_per_file`` (constructor arg) maps onto Spark's
        ``maxRecordsPerFile`` — the file-rotation dial of the reference's
        buffered writer (``dlt/common/storages/configuration.py``
        file_max_items / data_writer rotation), applied at the task level
        by the JVM writer instead of a Python buffering loop.  0 = off
        (Spark's task sizing decides)."""
        w = df.write.mode("overwrite")
        if self.max_rows_per_file:
            w = w.option("maxRecordsPerFile", int(self.max_rows_per_file))
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def truncate(self, table: str) -> None:
        meta = self._current_meta(table)
        if meta is not None:
            v = self._next_version(table)
            # keep the partitioning contract across truncation — the next
            # append re-resolves partition_by from this commit
            self._commit(
                table,
                {
                    "version": v,
                    "paths": [],
                    "partition_by": meta.get("partition_by"),
                    "prev_paths": meta.get("paths", []),
                    "op": "truncate",
                    # the empty snapshot keeps its columns for time travel
                    "schema": meta.get("schema"),
                },
            )

    def drop(self, table: str) -> None:
        d = self._table_dir(table)
        if os.path.exists(d):
            shutil.rmtree(d)

    def list_tables(self) -> List[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            t
            for t in os.listdir(self.root)
            if os.path.exists(self._pointer(t)) and self.exists(t)
        )

    def compact(self, table: str, target_partitions: Optional[int] = None) -> None:
        """Rewrite the table into a single snapshot with right-sized files
        (the OPTIMIZE analog): append-heavy tables accumulate one dir per
        load; compaction folds them so readers open O(partitions) files.
        On Delta/Iceberg this maps to OPTIMIZE / rewrite_data_files."""
        df = self.read(table)
        if target_partitions:
            df = df.repartition(target_partitions)
        meta = self._current_meta(table) or {}
        self.overwrite(df, table, partition_by=meta.get("partition_by"))

    def _vacuum(self, table: str) -> None:
        """Remove version dirs referenced by neither the current commit
        nor the immediately previous snapshot (best-effort).  Protecting
        one generation back keeps in-flight lazy plans built from the
        pre-overwrite snapshot readable — the analog of Delta's VACUUM
        retention window.  Use :meth:`vacuum` for a full history purge."""
        meta = self._current_meta(table)
        if not meta:
            return
        live = {os.path.basename(p) for p in meta["paths"]}
        live |= {os.path.basename(p) for p in meta.get("prev_paths", [])}
        d = self._table_dir(table)
        for v in sorted(v for v in os.listdir(d) if v.startswith("v_")):
            if v not in live:
                shutil.rmtree(os.path.join(d, v), ignore_errors=True)

    def history(self, table: str) -> List[dict]:
        """Commit history, oldest first: ``[{version, op, n_dirs,
        committed_at, readable}]`` — the ``DESCRIBE HISTORY`` analog.
        ``readable`` reports whether the snapshot's data dirs still
        exist (false once vacuumed)."""
        log_dir = os.path.join(self._table_dir(table), "_log")
        if not os.path.isdir(log_dir):
            return []
        out = []
        for f in sorted(os.listdir(log_dir)):
            if not f.endswith(".json"):
                continue
            with open(os.path.join(log_dir, f)) as fh:
                meta = json.load(fh)
            out.append(
                {
                    "version": meta["version"],
                    "op": meta.get("op", "commit"),
                    "n_dirs": len(meta.get("paths", [])),
                    "committed_at": meta.get("committed_at"),
                    "readable": all(os.path.isdir(p) for p in meta.get("paths", [])),
                }
            )
        return out

    def changes(self, table: str, from_version: int, to_version: int) -> DataFrame:
        """Row-level diff between two snapshots, the change-data-feed
        analog: multiset ``exceptAll`` both ways, each side tagged with a
        ``_change_type`` of ``insert`` / ``delete``.  An updated row
        appears as one delete + one insert.  For pure append chains the
        cheap path applies: only the version dirs added between the two
        commits are scanned (no diff against history at all)."""
        from pyspark.sql import functions as F

        old_meta = self._log_meta(table, from_version)
        new_meta = self._log_meta(table, to_version)
        if old_meta is None or new_meta is None:
            missing = from_version if old_meta is None else to_version
            raise FileNotFoundError(
                f"table {table!r} has no commit log entry for version {missing}"
            )
        old_paths, new_paths = old_meta["paths"], new_meta["paths"]
        if (
            len(old_paths) <= len(new_paths)
            and new_paths[: len(old_paths)] == old_paths
        ):
            added = new_paths[len(old_paths):]
            if not added:
                return self.read(table, version=to_version).limit(0).withColumn(
                    "_change_type", F.lit("insert")
                )
            return self._scan(
                added, _recorded_schema(new_meta), bool(new_meta.get("partition_by"))
            ).withColumn("_change_type", F.lit("insert"))
        new_df = self.read(table, version=to_version)
        old_df = self.read(table, version=from_version)
        return new_df.exceptAll(old_df).withColumn(
            "_change_type", F.lit("insert")
        ).unionByName(
            old_df.exceptAll(new_df).withColumn("_change_type", F.lit("delete"))
        )

    def vacuum(self, table: str) -> None:
        """Explicit maintenance purge: delete every version dir not in the
        CURRENT snapshot.  Call only when no reader holds plans against an
        older snapshot (Delta ``VACUUM ... RETAIN 0 HOURS`` analog)."""
        meta = self._current_meta(table)
        if not meta:
            return
        live = {os.path.basename(p) for p in meta["paths"]}
        d = self._table_dir(table)
        for v in sorted(v for v in os.listdir(d) if v.startswith("v_")):
            if v not in live:
                shutil.rmtree(os.path.join(d, v), ignore_errors=True)
