"""Layer map for the traced run: which public functions of each engine
layer get span recorders, and how the spans reduce to the per-layer
metrics.

Every per-layer number is per traced unit operation of the workload (one
batch load, one refresh cycle, one corpus pass) unless its name says it
is a ratio, a rate or a per-call mean; ``session.start_s``,
``store.stored_mb`` and the ``host.*`` numbers are per run.  A layer the
workload does not reach reports 0.
"""

from __future__ import annotations

import os
import statistics
from typing import Dict, List

from .workloads import CORPUS_OPS

# layers whose spans launch Spark work: each also reports these totals.
# extract, normalize and dispositions only build plans (their job and
# stage counts stay at zero) and nothing spills at these sizes, so those
# counters are left out.
SPARK_LAYERS = ("load", "store", "incremental", "dataset", "dataops")
SPARK_FIELDS = ("jobs", "stages", "executor_run_s", "executor_cpu_s", "shuffle_mb")


def _store_write_count(sp, _out, args, kwargs) -> None:
    store, table = args[0], args[2] if len(args) > 2 else kwargs["table"]
    meta = store._current_meta(table) or {}
    new_dir = meta.get("paths", [None])[-1]
    if new_dir and os.path.isdir(new_dir):
        files = [f for f in os.listdir(new_dir) if f.endswith(".parquet")]
        sp.counts["files_written"] = len(files)
        sp.counts["bytes_written_mb"] = sum(
            os.path.getsize(os.path.join(new_dir, f)) for f in files) / 1e6
    if sp.name.endswith("append_rows"):
        sp.counts["rows_written"] = len(args[1])


def _store_read_count(sp, _out, args, kwargs) -> None:
    if kwargs.get("version") is None:
        meta = args[0]._current_meta(args[1]) or {}
        sp.counts["paths"] = len(meta.get("paths", []))


def _exec_count(sp, _out, args, _kwargs) -> None:
    sp.counts["files_scanned"] = len(args[0]._df.inputFiles())


def _materialize_count(sp, _out, args, _kwargs) -> None:
    data = args[0]._data
    sp.counts["items"] = len(data) if isinstance(data, list) else 0


def _run_count(sp, _out, args, _kwargs) -> None:
    trace = args[0].last_trace
    sp.counts["step_jobs"] = sum(s.spark_jobs or 0 for s in trace.steps)


def install(tracer) -> None:
    from dlt_spark.dataset.dataset import Dataset
    from dlt_spark.dataset.relation import Relation
    from dlt_spark.incremental import Incremental
    from dlt_spark.load import dispositions
    from dlt_spark.load.load import LoadStage
    from dlt_spark.normalize.relational import RelationalNormalizer
    from dlt_spark.pipeline.pipeline import Pipeline
    from dlt_spark.pipeline.resources import DltResource
    from dlt_spark.pipeline.state import PipelineState
    from dlt_spark.schema.schema import Schema
    from dlt_spark.store.table_store import ParquetTableStore

    w = tracer.wrap
    w(Pipeline, "run", "pipeline", count=_run_count)
    w(DltResource, "materialize", "extract", count=_materialize_count)
    w(RelationalNormalizer, "normalize", "normalize",
      count=lambda sp, out, a, k: sp.counts.__setitem__("tables", len(out)))
    w(Schema, "update_table", "schema")
    w(Schema, "bump_version", "schema",
      count=lambda sp, out, a, k: sp.counts.__setitem__("versions", int(bool(out))))
    w(LoadStage, "write_chain", "load", "write")
    for f in ("commit_schema", "commit_load"):
        w(LoadStage, f, "load", "commit")
    w(PipelineState, "persist", "load", "commit")
    for f in ("dedup_staging", "merge_upsert", "merge_delete_insert", "scd2_apply"):
        w(dispositions, f, "dispositions")
    w(ParquetTableStore, "read", "store", "read", count=_store_read_count)
    for f in ("append", "overwrite", "append_rows"):
        w(ParquetTableStore, f, "store", "write", count=_store_write_count)
    w(Incremental, "apply", "incremental")
    w(Incremental, "update_state", "incremental", "update")
    for f in ("table", "query", "row_counts"):
        w(Dataset, f, "dataset", "build")
    for f in ("join", "from_loads"):
        w(Relation, f, "dataset", "build")
    for f in ("arrow", "fetchall", "df", "fetchone"):
        w(Relation, f, "dataset", "exec", count=_exec_count)


def names() -> List[str]:
    """Every per-layer metric, in output order."""
    out = [
        "session.start_s",
        "extract.self_s", "extract.items_per_s",
        "normalize.self_s", "normalize.tables_per_batch",
        "schema.self_s", "schema.versions",
        "load.write_s", "load.commit_s",
        "dispositions.self_s",
        "store.write_s", "store.read_s", "store.bytes_written_mb",
        "store.files_written", "store.write_amplification", "store.paths_per_read",
        "store.stored_mb",
        "incremental.self_s", "incremental.update_jobs", "incremental.rows_kept_ratio",
        "dataset.build_s", "dataset.exec_s", "dataset.files_scanned",
    ]
    out += [f"{layer}.{f}" for layer in SPARK_LAYERS for f in SPARK_FIELDS]
    out += [f"dataops.{q}.{f}" for q in CORPUS_OPS
            for f in ("construct_s", "construct_jobs", "exec_s", "shuffle_mb")]
    out += ["host.calibration_s", "host.loadavg_1m", "host.peak_rss_mb",
            "trace.overhead_ratio", "trace.step_jobs_ratio"]
    return out


UNITS = {"per_s": "items/s", "_s": "s", "_mb": "MB", "_ratio": "ratio",
         "loadavg_1m": "load"}


def _unit(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def metrics(tracer, traced: List[dict], untraced: List[dict], session_s: float,
            host: dict, stored_mb: float, workload: str) -> Dict[str, tuple]:
    from .tracing import by_layer

    n = max(1, len(traced))
    L = by_layer(tracer.spans)

    def g(key, field):
        return L.get(key, {}).get(field, 0.0)

    def ratio(a, b):
        return a / b if b else 0.0

    pkg_rows = sum(s["package_rows"] for s in traced)
    v = {
        "session.start_s": session_s,
        "extract.self_s": g("extract", "self_s") / n,
        "extract.items_per_s": ratio(g("extract", "items"), g("extract", "self_s")),
        "normalize.self_s": g("normalize", "self_s") / n,
        "normalize.tables_per_batch": ratio(g("normalize", "tables"), g("normalize", "calls")),
        "schema.self_s": g("schema", "self_s") / n,
        "schema.versions": g("schema", "versions") / n,
        "load.write_s": g("load:write", "incl_s") / n,
        "load.commit_s": g("load:commit", "incl_s") / n,
        "dispositions.self_s": g("dispositions", "self_s") / n,
        "store.write_s": g("store:write", "self_s") / n,
        "store.read_s": g("store:read", "self_s") / n,
        "store.bytes_written_mb": g("store", "bytes_written_mb") / n,
        "store.files_written": g("store", "files_written") / n,
        "store.write_amplification": ratio(
            g("store:write", "output_rows") + g("store:write", "rows_written"), pkg_rows),
        "store.paths_per_read": ratio(g("store:read", "paths"), g("store:read", "calls")),
        "store.stored_mb": stored_mb,
        "incremental.self_s": g("incremental", "self_s") / n,
        "incremental.update_jobs": g("incremental:update", "jobs") / n,
        "incremental.rows_kept_ratio": ratio(
            sum(s.get("kept_measured", 0) for s in traced),
            sum(s["rows"] for s in traced) if workload == "merge_refresh" else 0),
        "dataset.build_s": g("dataset:build", "self_s") / n,
        "dataset.exec_s": g("dataset:exec", "self_s") / n,
        "dataset.files_scanned": g("dataset:exec", "files_scanned") / n,
    }
    for layer in SPARK_LAYERS:
        for f in SPARK_FIELDS:
            v[f"{layer}.{f}"] = g(layer, f) / n
    for q in CORPUS_OPS:
        v[f"dataops.{q}.construct_s"] = g(f"dataops:{q}:construct", "self_s") / n
        v[f"dataops.{q}.construct_jobs"] = g(f"dataops:{q}:construct", "jobs") / n
        v[f"dataops.{q}.exec_s"] = g(f"dataops:{q}:exec", "self_s") / n
        v[f"dataops.{q}.shuffle_mb"] = (
            g(f"dataops:{q}:exec", "shuffle_mb") + g(f"dataops:{q}:construct", "shuffle_mb")
        ) / n
    t_on = [s["op"] for s in traced]
    t_off = [s["op"] for s in untraced]
    v["host.calibration_s"] = (host["calibration_before_s"] + host["calibration_after_s"]) / 2
    v["host.loadavg_1m"] = host["loadavg_before"][0]
    v["host.peak_rss_mb"] = host["peak_rss_mb"]
    v["trace.overhead_ratio"] = (
        statistics.median(t_on) / statistics.median(t_off) - 1 if t_on and t_off else 0.0)
    range_jobs = sum(sp.job_hi - sp.job_lo for sp in tracer.spans if sp.layer == "pipeline")
    v["trace.step_jobs_ratio"] = ratio(g("pipeline", "step_jobs"), range_jobs)
    return {k: (v[k], _unit(k)) for k in names()}
