"""Pipeline — extract -> normalize -> load orchestration.

Re-expression of ``dlt.Pipeline`` (``dlt/pipeline/pipeline.py:428-774``)
collapsed to Spark's execution model (SURVEY §3.1 "Spark shape"): extract
and normalize are DataFrame construction + the relational normalizer (no
process pools — Spark tasks are the parallelism; the package is pinned
once with a local checkpoint instead of written to files); load is the
disposition write + the ``_dlt_loads`` commit.
The three-stage *API* (``extract()/normalize()/load()`` infos) is kept
for surface parity.
"""

from __future__ import annotations

import datetime as _dt
import os
import time
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession

from ..dataset.dataset import Dataset
from ..incremental import Incremental
from ..load import control
from ..load import dispositions as D
from ..load.load import LoadStage, _first_hint_col, _hint_cols
from ..normalize.relational import RelationalNormalizer
from ..schema.schema import Schema
from ..schema.spark_types import from_spark_type
from ..schema.typing import new_column, new_table
from ..store.table_store import ParquetTableStore, TableStore
from .resources import DltResource, DltSource
from .state import PipelineState


@dataclass
class LoadInfo:
    pipeline_name: str
    load_id: str
    dataset_name: str
    tables: List[str] = field(default_factory=list)
    row_counts: Dict[str, int] = field(default_factory=dict)

    def __str__(self) -> str:
        return (
            f"LoadInfo(pipeline={self.pipeline_name}, load_id={self.load_id},"
            f" tables={self.tables})"
        )


@dataclass
class ExtractInfo:
    """Extract-stage result (reference ``pipeline.extract()`` info): the
    materialized DataFrames per resource, not yet normalized."""

    resources: List = field(default_factory=list)  # [(DltResource, {table: DataFrame})]

    @property
    def resource_names(self) -> List[str]:
        return [r.name for r, _ in self.resources]


@dataclass
class NormalizeInfo:
    """Normalize-stage result: per root table, the normalized chain
    ({table: DataFrame}), the registered root schema and the pinned
    package the chain was normalized from (``None`` when unpinned).  A
    successful load unpins the packages and empties ``chains``;
    ``table_names`` stays."""

    chains: List = field(default_factory=list)  # [(DltResource, TTableSchema, {table: df}, package)]
    table_names: List[str] = field(default_factory=list)


class DataQualityError(RuntimeError):
    """A data-quality expectation failed and the caller asked for a
    hard stop (``Pipeline.check(raise_on_failure=True)``)."""


class Pipeline:
    def __init__(
        self,
        pipeline_name: str,
        destination: str,
        dataset_name: str = "default",
        spark: Optional[SparkSession] = None,
        dev_mode: bool = False,
        naming: str = "snake_case",
        max_identifier_length: int = 0,
        import_schema_path: Optional[str] = None,
        export_schema_path: Optional[str] = None,
            progress: "Optional[str]" = None,
        max_rows_per_file: int = 0,
        json_as_variant: bool = False,
    ) -> None:
        from ..schema.naming import naming_from_name

        self.pipeline_name = pipeline_name
        self.destination = destination
        # full construction config, kept for clone() — isolated pipelines
        # (helpers/scheduler.py parallel-isolated) must normalize/load with
        # the SAME naming/variant/rotation settings as the parent
        self._ctor_kwargs = dict(
            destination=destination,
            dataset_name=dataset_name,
            dev_mode=dev_mode,
            naming=naming,
            max_identifier_length=max_identifier_length,
            import_schema_path=import_schema_path,
            export_schema_path=export_schema_path,
            progress=progress,
            max_rows_per_file=max_rows_per_file,
            json_as_variant=json_as_variant,
        )
        self.progress = progress
        # progress collector (reference dlt/pipeline/progress.py):
        # resolved once; a NullCollector stays None-like (no per-step cost)
        from .progress import NullCollector, _from_name

        _c = _from_name(progress)
        self._collector = None if isinstance(_c, NullCollector) else _c
        # opt-in Spark 4 VariantType storage for `json` columns
        self.json_as_variant = json_as_variant
        self.dataset_name = dataset_name
        self.spark = spark or SparkSession.builder.getOrCreate()
        # max_rows_per_file: the reference buffered writer's rotation dial
        # (file_max_items), applied via Spark's maxRecordsPerFile
        self.store: TableStore = ParquetTableStore(
            self.spark, destination, dataset_name,
            max_rows_per_file=max_rows_per_file,
        )
        self.import_schema_path = import_schema_path
        self.export_schema_path = export_schema_path
        # import/export schema workflow (reference pipeline
        # import_schema_path/export_schema_path): a YAML schema checked
        # into git seeds the pipeline; every completed load re-exports it
        imported = self._import_schema()
        self.schema = imported or Schema(
            dataset_name, naming=naming_from_name(naming, max_identifier_length)
        )
        self.state = (
            PipelineState.restore(self.store, pipeline_name)
            or PipelineState(pipeline_name)
        )
        self._last_load_seq = 0.0
        self._pending_extract: Optional[ExtractInfo] = None
        self._pending_normalize: Optional[NormalizeInfo] = None
        self.last_trace = None  # PipelineTrace of the most recent run/step
        self._active_trace = None
        if dev_mode:
            for t in self.store.list_tables():
                self.store.drop(t)

    def clone(self, pipeline_name: str) -> "Pipeline":
        """A new Pipeline with this pipeline's full construction config
        (destination, dataset, naming, identifier length, variant mode,
        rotation, progress, schema import/export paths) under its own
        name — hence its own state and schema lineage.  ``dev_mode`` is
        deliberately NOT inherited: the parent already applied its drop at
        construction, and a clone re-drop would wipe tables that sibling
        clones loaded into the shared dataset."""
        kwargs = dict(self._ctor_kwargs, dev_mode=False)
        return type(self)(pipeline_name, spark=self.spark, **kwargs)

    def _schema_file(self, root: str) -> str:
        import os

        return os.path.join(root, f"{self.dataset_name}.schema.yaml")

    def _import_schema(self) -> Optional[Schema]:
        import os

        if not self.import_schema_path:
            return None
        p = self._schema_file(self.import_schema_path)
        if not os.path.isfile(p):
            return None
        with open(p, encoding="utf-8") as f:
            return Schema.from_yaml(f.read())

    def _export_schema(self) -> None:
        import os

        if not self.export_schema_path:
            return
        os.makedirs(self.export_schema_path, exist_ok=True)
        p = self._schema_file(self.export_schema_path)
        with open(p, "w", encoding="utf-8") as f:
            f.write(self.schema.to_pretty_yaml())

    def _trace_step(self, step: str):
        """Record ``step`` into the active trace — a standalone
        extract()/normalize()/load() call gets its own single-step trace
        (reference start_trace/end_trace merge semantics,
        ``trace.py:212-311``)."""
        from contextlib import contextmanager

        from .trace import TraceStep, start_trace

        @contextmanager
        def cm():
            owned = self._active_trace is None
            if owned:
                self._active_trace = start_trace(self.pipeline_name)
                self.last_trace = self._active_trace
            try:
                with TraceStep(self._active_trace, step, self.spark) as st:
                    yield st
                if self._collector is not None:
                    dur = (
                        (st.finished_at - st.started_at).total_seconds()
                        if st.finished_at and st.started_at
                        else 0.0
                    )
                    self._collector.on_step(self.pipeline_name, step, dur)
            finally:
                if owned:
                    self._active_trace.finished_at = self._active_trace.steps[-1].finished_at
                    self._active_trace = None

        return cm()

    def _save_trace(self) -> None:
        """Persist the last trace next to the dataset (best-effort) so
        the CLI's ``pipeline <name> trace`` works from another process
        (the reference keeps trace.json in the pipeline working dir)."""
        import json
        import os

        root = getattr(self.store, "root", None)
        if not root or self.last_trace is None:
            return
        try:
            with open(os.path.join(root, "_last_trace.json"), "w", encoding="utf-8") as f:
                json.dump(self.last_trace.asdict(), f, indent=2)
        except OSError:
            pass

    # -- public API (mirrors dlt.Pipeline.run, pipeline.py:639) --

    def run(
        self,
        data: Any,
        *,
        table_name: Optional[str] = None,
        write_disposition: Optional[str] = None,
        primary_key: Optional[Union[str, Sequence[str]]] = None,
        merge_key: Optional[Union[str, Sequence[str]]] = None,
        merge_strategy: Optional[str] = None,
        incremental: Optional[Incremental] = None,
        columns: Optional[dict] = None,
        max_table_nesting: Optional[int] = None,
        refresh: Optional[str] = None,
        boundary_timestamp: Optional[str] = None,
        load_id: Optional[str] = None,
    ) -> LoadInfo:
        from . import current as _current
        from .trace import start_trace

        self._active_trace = start_trace(self.pipeline_name)
        self.last_trace = self._active_trace
        _current._push(self)
        try:
            extract_info = self.extract(
                data,
                table_name=table_name,
                write_disposition=write_disposition,
                primary_key=primary_key,
                merge_key=merge_key,
                merge_strategy=merge_strategy,
                incremental=incremental,
                columns=columns,
                max_table_nesting=max_table_nesting,
                refresh=refresh,
            )
            norm_info = self.normalize(
                extract_info, boundary_timestamp=boundary_timestamp, load_id=load_id
            )
            return self.load(norm_info)
        finally:
            _current._pop()
            self._active_trace.finished_at = (
                self._active_trace.steps[-1].finished_at
                if self._active_trace.steps and self._active_trace.steps[-1].finished_at
                else _dt.datetime.now(_dt.timezone.utc)
            )
            self._active_trace = None
            self._save_trace()

    # -- three-stage API (reference pipeline.py:428/527/581) --

    def extract(self, data: Any, refresh: Optional[str] = None, **hints: Any) -> ExtractInfo:
        """Materialize resources into DataFrames (reference extract stage,
        ``pipeline.py:428``).  Lazy plans — nothing executes yet."""
        with self._trace_step("extract") as st:
            resources = self._as_resources(data, **hints)
            if refresh:
                self._apply_refresh(refresh, resources)
            info = ExtractInfo()
            for res in resources:
                info.resources.append((res, res.materialize(self.spark)))
            self._pending_extract = info
            st.step_info = info
        return info

    def normalize(
        self,
        extract_info: Optional[ExtractInfo] = None,
        boundary_timestamp: Optional[str] = None,
        load_id: Optional[str] = None,
    ) -> NormalizeInfo:
        """Relational normalization + schema registration (reference
        normalize stage, ``pipeline.py:527``).  An explicit ``load_id``
        makes the whole run idempotent-by-id (streaming replay)."""
        extract_info = extract_info or self._pending_extract
        if extract_info is None:
            raise ValueError("nothing extracted; call extract() first")
        with self._trace_step("normalize") as st:
            load_id = load_id or self._new_load_id()
            info = NormalizeInfo()
            for res, tables in extract_info.resources:
                for tname, df in tables.items():
                    root = self._normalize_and_register(res, tname, df, load_id, boundary_timestamp)
                    info.chains.append((res, root["schema"], root["__tables__"], root["package"]))
                    info.table_names.extend(root["__tables__"])
            info.load_id = load_id  # type: ignore[attr-defined]
            self._pending_normalize = info
            st.step_info = info
        return info

    def load(self, norm_info: Optional[NormalizeInfo] = None) -> LoadInfo:
        """Disposition writes + atomic package commit (reference load
        stage, ``pipeline.py:581``)."""
        norm_info = norm_info or self._pending_normalize
        if norm_info is None:
            raise ValueError("nothing normalized; call normalize() first")
        with self._trace_step("load") as st:
            load_id = getattr(norm_info, "load_id", None) or self._new_load_id()
            loader = LoadStage(
                self.spark, self.store, self.schema,
                json_as_variant=self.json_as_variant,
            )
            info = LoadInfo(self.pipeline_name, load_id, self.dataset_name)
            for res, root_schema, tables, package in norm_info.chains:
                loader.write_chain(tables, root_schema, load_id)
                info.tables.extend(tables.keys())
                if res.incremental is not None:
                    if res.incremental.spill_path is None:
                        store_root = getattr(self.store, "root", None)
                        if store_root is not None:
                            res.incremental.spill_path = os.path.join(
                                store_root, "_dlt_incremental_boundary", res.name
                            )
                    res.incremental.update_state(package)
                    rstate = self.state.resource_state(self.dataset_name, res.name)
                    rstate["incremental"] = res.incremental.to_state()
            self.schema.bump_version()
            loader.commit_schema()
            self.state.persist(self.spark, self.store, load_id)
            loader.commit_load(load_id, status=0)
            for *_, package in norm_info.chains:
                if package is not None:
                    _unpin(package)
            norm_info.chains.clear()
            self._pending_extract = None
            self._pending_normalize = None
            self._export_schema()
            st.step_info = info
        return info

    def dataset(self) -> Dataset:
        return Dataset(self.spark, self.store, self.schema)

    def check(
        self,
        table_name: str,
        checks: Sequence[dict],
        store_report: bool = True,
        raise_on_failure: bool = False,
    ):
        """Run data-quality expectations (``dlt_spark.dataops.
        expectations``) against a loaded table and return the report
        DataFrame ``(check, target, metric, passed)``.

        With ``store_report`` the report rows are appended to the
        ``_dlt_dq_reports`` system table, stamped with the table name,
        the dataset's latest load id, and the evaluation time — so DQ
        history accumulates next to ``_dlt_loads`` and drift alerts are
        one query over the report table.  ``raise_on_failure`` turns a
        failing check into a hard stop (contracts govern shape at
        extract time; this governs VALUES after load)."""
        from ..dataops.expectations import run_checks

        from ..dataops.expectations import persist_report

        report = run_checks(self.store.read(table_name), checks)
        rows = report.collect()  # tiny: one row per check
        if store_report:
            persist_report(self.store, rows, table_name, self.dataset().latest_load_id)
        if raise_on_failure:
            failed = [r for r in rows if not r["passed"]]
            if failed:
                detail = ", ".join(
                    f"{r['check']}({r['target']})={r['metric']}" for r in failed
                )
                raise DataQualityError(
                    f"{len(failed)} data-quality check(s) failed on"
                    f" '{table_name}': {detail}"
                )
        return report

    def drop(self) -> None:
        for t in self.store.list_tables():
            self.store.drop(t)

    # -- internals --

    def _apply_refresh(self, refresh: str, resources: List[DltResource]) -> None:
        """Refresh modes (reference ``dlt/pipeline/helpers.py:93-182``):
        ``drop_sources`` drops every table in the dataset;
        ``drop_resources`` drops the tables produced by the resources in
        this run (and their nested tables); ``drop_data`` truncates them
        but keeps schemas."""
        if refresh == "drop_sources":
            for t in self.store.list_tables():
                self.store.drop(t)
            self.schema = Schema(self.dataset_name)
            return
        targets: List[str] = []
        for r in resources:
            root = self.schema.naming.normalize_table_identifier(r._static_table_name())
            targets.append(root)
            targets.extend(
                t["name"] for t in self.schema.child_tables(root)
            ) if root in self.schema.tables else None
            # nested tables may exist in the store but not yet in schema
            targets.extend(
                t for t in self.store.list_tables() if t.startswith(root + "__")
            )
        for t in dict.fromkeys(targets):
            if refresh == "drop_resources":
                self.store.drop(t)
                self.schema.tables.pop(t, None)
            elif refresh == "drop_data":
                if self.store.exists(t):
                    self.store.truncate(t)
            else:
                raise ValueError(f"unknown refresh mode {refresh!r}")

    def _new_load_id(self) -> str:
        # strictly monotonic epoch string (reference load package ids)
        lid = max(time.time(), self._last_load_seq + 1e-6)
        self._last_load_seq = lid
        return f"{lid:.6f}"

    def _as_resources(self, data: Any, **hints: Any) -> List[DltResource]:
        incremental = hints.pop("incremental", None)
        clean = {k: v for k, v in hints.items() if v is not None}
        if isinstance(data, DltSource):
            out = data.selected_resources()
        elif isinstance(data, DltResource):
            out = [data]
        elif isinstance(data, (list, tuple)) and data and isinstance(data[0], DltResource):
            out = list(data)
        else:
            tname = clean.pop("table_name", None) or "content"
            out = [DltResource(data, name=tname, table_name=tname, **clean)]
            clean = {}
        for r in out:
            for k, v in clean.items():
                if k == "table_name":
                    r.table_name = v
                elif k in ("primary_key", "merge_key") and v is not None:
                    setattr(r, k, [v] if isinstance(v, str) else list(v))
                elif hasattr(r, k) and v is not None:
                    setattr(r, k, v)
            if incremental is not None and r.incremental is None:
                r.incremental = incremental
            # restore incremental cursor from pipeline state
            if r.incremental is not None:
                rstate = self.state.resource_state(self.dataset_name, r.name)
                if "incremental" in rstate:
                    r.incremental.restore_state(rstate["incremental"])
        return out

    def _normalize_and_register(
        self,
        res: DltResource,
        table_name: str,
        df: DataFrame,
        load_id: str,
        boundary_timestamp: Optional[str],
    ) -> Dict[str, Any]:
        # per-table hint overrides from `mark.with_hints` items take
        # precedence over the resource-level hints for THIS table
        _ov = getattr(res, "table_hint_overrides", {}).get(table_name, {})
        disposition = _ov.get("write_disposition") or res.write_disposition or "append"
        _pk = _ov.get("primary_key") or res.primary_key
        _mk = _ov.get("merge_key") or res.merge_key
        strategy = _ov.get("merge_strategy") or res.merge_strategy or (
            "delete-insert" if disposition == "merge" else None
        )
        if res.incremental is not None:
            df = res.incremental.apply(df)
        # the load package, evaluated once: when more than one action
        # reads it (the cursor update, a write per nested table) it is
        # pinned, so every action sees the same rows and random `_dlt_id`s
        # (reference: extract materializes each package to storage before
        # load); a flat package without a cursor is read by one write
        package = None
        if res.incremental is not None or "array<" in df.schema.simpleString():
            df = package = df.localCheckpoint(eager=True)
        root_name = self.schema.naming.normalize_table_identifier(table_name)
        _cols = {
            **(res.columns if isinstance(res.columns, dict) else {}),
            **(_ov.get("columns") or {}),
        }

        # row-id strategy per merge strategy (reference helpers.py:107-120:
        # delete-insert -> random, upsert -> key_hash, scd2 -> row_hash)
        row_id_type = "random"
        if strategy == "scd2":
            row_id_type = "row_hash"
        elif strategy in ("upsert", "insert-only") and _pk:
            row_id_type = "key_hash"

        normalizer = RelationalNormalizer(
            naming=self.schema.naming,
            max_nesting=res.max_table_nesting or self.schema.settings.get("max_nesting", 100),
            root_key=disposition == "merge",
        )
        rows = normalizer.root_rows(df, load_id=load_id, row_id_type=row_id_type, primary_key=_pk)
        tables = self._normalize_rows(normalizer, rows, table_name, root_name, res)

        cols = []
        root_df = tables[root_name]
        for f in root_df.schema.fields:
            c = new_column(f.name, **from_spark_type(f.dataType))
            c.update(self.schema.infer_hints(f.name))  # default hints by regex
            if _pk and f.name in _pk:
                c["primary_key"] = True
            if _mk and f.name in _mk:
                c["merge_key"] = True
            for user_col in _cols.values():
                if user_col.get("name") == f.name:
                    c.update(user_col)
            cols.append(c)
        refs = _ov.get("references") or getattr(res, "references", None) or None
        tbl = new_table(
            root_name,
            write_disposition=disposition,
            columns=cols,
            references=refs,
            x_merge_strategy=strategy,
            x_boundary_timestamp=boundary_timestamp,
            resource=res.name,
        )
        registered = self.schema.update_table(tbl)
        # the one decision of which root rows land, made before their
        # lists explode so that nested rows come from exactly these rows:
        # the root's contracts drop rows (`data_type` only under
        # discard_row; its other modes shape columns at load), then a
        # keyed merge keeps one row per key (the winner the merge's own
        # dedup keeps)
        decided = self._enforce_contract(rows, root_name, tables[root_name].columns)
        if decided is None:
            return {"schema": registered, "__tables__": {}, "package": package}
        if self.schema.resolve_contract(root_name)["data_type"] == "discard_row":
            loader = LoadStage(self.spark, self.store, self.schema, json_as_variant=self.json_as_variant)
            decided, _ = loader.conform(decided, registered)
        pk = _hint_cols(registered, "primary_key")
        if disposition == "merge" and strategy in ("delete-insert", "upsert", "insert-only") and pk:
            decided = D.dedup_staging(decided, pk, _first_hint_col(registered, "dedup_sort"))
        if decided is not rows:
            tables = self._normalize_rows(normalizer, decided, table_name, root_name, res)
        # columns derived after the decision (x_embed siblings) meet the
        # columns contract here
        tables[root_name] = self._enforce_contract(tables[root_name], root_name)
        # nested (child-table) hints: keys may be the nested path
        # relative to the root ("items", "items__sub") or the full
        # normalized child table name (reference make_hints nested_hints)
        nested = {}
        for k, v in (getattr(res, "nested_hints", None) or {}).items():
            kn = self.schema.naming.normalize_path(k)
            nested[kn] = v
            nested[f"{root_name}__{kn}"] = v
        for child_name, child_df in list(tables.items()):
            if child_name == root_name:
                continue
            ch = nested.get(child_name, {})
            ch_pk = ch.get("primary_key") or []
            ch_pk = [ch_pk] if isinstance(ch_pk, str) else list(ch_pk)
            ch_mk = ch.get("merge_key") or []
            ch_mk = [ch_mk] if isinstance(ch_mk, str) else list(ch_mk)
            ch_cols = ch.get("columns") or {}
            child_cols = []
            for f in child_df.schema.fields:
                cc = new_column(f.name, **from_spark_type(f.dataType))
                cc.update(self.schema.infer_hints(f.name))
                if f.name in ch_pk:
                    cc["primary_key"] = True
                if f.name in ch_mk:
                    cc["merge_key"] = True
                for user_col in ch_cols.values():
                    if user_col.get("name") == f.name:
                        cc.update(user_col)
                child_cols.append(cc)
            self.schema.update_table(
                new_table(child_name, parent=root_name, columns=child_cols)
            )
            child_enforced = self._enforce_contract(tables[child_name], child_name)
            if child_enforced is None:
                tables.pop(child_name)
            else:
                tables[child_name] = child_enforced
        return {"schema": registered, "__tables__": tables, "package": package}

    def _normalize_rows(self, normalizer: RelationalNormalizer, rows: DataFrame,
                        table_name: str, root_name: str, res: DltResource) -> Dict[str, DataFrame]:
        """Explode root rows into their table chain, with the root's
        x_embed siblings and the preferred column types applied."""
        tables = normalizer.normalize(rows, table_name)

        # x_embed column hints (vector_adapter): materialize
        # <col>__embedding siblings on the root before registration —
        # one projection, JVM-side, no shuffle
        embed_cols = [
            c.get("name")
            for c in (res.columns or {}).values()
            if isinstance(c, dict) and c.get("x_embed")
        ]
        if embed_cols:
            from ..dataops.vector import embed_columns, hash_embedding

            embedder = getattr(res, "_embedder", None) or hash_embedding
            tables[root_name] = embed_columns(tables[root_name], embed_cols, embedder)

        # preferred types by name regex -> cast before registration
        # (reference preferred_types, schema.py:626)
        if self.schema.settings.get("preferred_types"):
            from ..schema.spark_types import to_spark_type

            for tname_, df_ in list(tables.items()):
                casts = {}
                for f in df_.schema.fields:
                    pref = self.schema.preferred_type(f.name)
                    if pref:
                        want = to_spark_type({"data_type": pref})
                        if want != f.dataType:
                            casts[f.name] = df_[f.name].cast(want)
                if casts:
                    tables[tname_] = df_.withColumns(casts)
        return tables

    def _enforce_contract(
        self, df: DataFrame, table_name: str, data_cols: Optional[Sequence[str]] = None
    ):
        """Apply contract decisions to the *data* (reference
        ``schema.py:177-318`` applied in ``jsonl.py:89-215``):

        - unknown table under ``tables: discard_*`` -> the whole batch is
          dropped (returns None);
        - unregistered columns under ``columns: discard_value`` -> columns
          dropped; under ``discard_row`` -> rows carrying a non-NULL value
          in any offending column are dropped, then the columns.
        ``freeze`` already raised during registration.  ``data_cols``
        limits the check to the table's columns when ``df`` is a root's
        rows that still carry their nested lists."""
        contract = self.schema.resolve_contract(table_name)
        if table_name not in self.schema.tables:
            if contract["tables"] in ("discard_row", "discard_value"):
                return None
            return df
        reg_cols = set(self.schema.tables[table_name].get("columns", {}))
        extras = [
            c for c in df.columns
            if c not in reg_cols and (data_cols is None or c in data_cols)
        ]
        if not extras:
            return df
        mode = contract["columns"]
        if mode == "discard_row":
            from pyspark.sql import functions as SF

            cond = None
            for c in extras:
                is_null = SF.col(c).isNull()
                cond = is_null if cond is None else cond & is_null
            df = df.filter(cond)
        if mode in ("discard_row", "discard_value"):
            df = df.drop(*extras)
        return df


def _unpin(package: DataFrame) -> None:
    """Free the blocks a ``localCheckpoint`` pin holds on the executors.
    PySpark has no public call for it: the pinned plan is a
    ``LogicalRDD`` over the checkpointed RDD, which is unpersisted."""
    package._jdf.queryExecution().logical().rdd().unpersist(False)


class CannotAttachPipeline(Exception):
    """No restorable pipeline at the destination (reference
    ``CannotRestorePipelineException``)."""


def attach(
    pipeline_name: str,
    destination: str,
    dataset_name: str = "default",
    spark: Optional[SparkSession] = None,
) -> Pipeline:
    """Attach to a pipeline previously run against ``destination``
    (reference ``dlt.attach``, ``dlt/pipeline/__init__.py:185``): the
    schema comes back from the newest ``_dlt_version`` row and
    the state (incremental cursors, user state) from
    ``_dlt_pipeline_state`` — no sources need re-declaring; the next
    ``run()`` resumes exactly where the last one committed."""
    pipe = Pipeline(pipeline_name, destination, dataset_name, spark)
    schema = control.newest_schema(pipe.store, dataset_name)
    if schema is None:
        raise CannotAttachPipeline(
            f"no schema named {dataset_name!r} at {destination!r} —"
            " nothing to attach to"
        )
    pipe.schema = schema
    return pipe


def pipeline(
    pipeline_name: str = "dlt_spark_pipeline",
    destination: Optional[str] = None,
    dataset_name: Optional[str] = None,
    spark: Optional[SparkSession] = None,
    dev_mode: bool = False,
    naming: str = "snake_case",
    max_identifier_length: int = 0,
    import_schema_path: Optional[str] = None,
    export_schema_path: Optional[str] = None,
    progress: Optional[str] = None,
    max_rows_per_file: int = 0,
    json_as_variant: bool = False,
) -> Pipeline:
    """Pipeline factory.  ``destination`` / ``dataset_name`` omitted fall
    back to config (``pipelines.<name>.destination`` then bare keys —
    reference resolves pipeline settings the same way via its provider
    chain) before the hardcoded defaults."""
    from ..config import config as _cfg

    if destination is None:
        destination = _cfg.get(
            "destination", sections=("pipelines", pipeline_name)
        ) or "/tmp/dlt_spark_data"
    if dataset_name is None:
        dataset_name = _cfg.get(
            "dataset_name", sections=("pipelines", pipeline_name)
        ) or "default"
    return Pipeline(
        pipeline_name, destination, dataset_name, spark, dev_mode,
        naming=naming, max_identifier_length=max_identifier_length,
        import_schema_path=import_schema_path,
        export_schema_path=export_schema_path,
        progress=progress,
        max_rows_per_file=max_rows_per_file,
        json_as_variant=json_as_variant,
    )
