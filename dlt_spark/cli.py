"""Operational CLI — the engine analog of the reference's ``dlt
pipeline`` command group (``dlt/_workspace/cli/_pipeline_command.py``):
inspect and manage a pipeline's dataset from the shell.

    python -m dlt_spark pipeline <name> <cmd> --destination DIR [--dataset DS]

Commands:
    info    tables + row counts + latest load id
    loads   the ``_dlt_loads`` commit log
    trace   last persisted run trace (no Spark session needed)
    schema  YAML schema export (checked-in-schema workflow)
    state   pipeline state JSON (cursors, user state)
    drop    drop every table in the dataset (requires ``--yes``)

Only ``info``/``loads``/``schema``/``state``/``drop`` start Spark; the
session is a small ``local[2]`` — the CLI is control-plane, the data
plane stays in the user's own jobs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark():
    """The caller's active session when there is one (an in-process call
    must not rewrite its confs), else a small local CLI session."""
    from pyspark.sql import SparkSession

    from .session import spark_session

    return SparkSession.getActiveSession() or spark_session(
        "dlt_spark_cli", master="local[2]", shuffle_partitions=2,
        overrides={"spark.ui.enabled": "false"},
    )


def _attach(args):
    from .pipeline.pipeline import attach

    return attach(args.name, args.destination, args.dataset, _spark())


def cmd_info(args) -> int:
    pipe = _attach(args)
    ds = pipe.dataset()
    counts = {r["table_name"]: r["row_count"] for r in ds.row_counts()._df.collect()}
    print(f"pipeline {args.name} @ {args.destination}/{args.dataset}")
    print(f"schema version: {pipe.schema.version}")
    latest = ds.latest_load_id
    print(f"latest load id: {latest}")
    for t in sorted(counts):
        print(f"  {t}: {counts[t]} rows")
    return 0


def cmd_loads(args) -> int:
    pipe = _attach(args)
    for r in pipe.dataset().loads_table()._df.orderBy("load_id").collect():
        print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
    return 0


def cmd_trace(args) -> int:
    p = os.path.join(args.destination, args.dataset, "_last_trace.json")
    if not os.path.isfile(p):
        print(f"no trace at {p}", file=sys.stderr)
        return 1
    with open(p, encoding="utf-8") as f:
        t = json.load(f)
    print(f"Run {t['pipeline_name']} ({t['transaction_id'][:8]}) "
          f"elapsed {t.get('elapsed'):.3f}s" if t.get("elapsed") is not None
          else f"Run {t['pipeline_name']} (incomplete)")
    for s in t["steps"]:
        state = "FAILED: " + s["step_exception"] if s["step_exception"] else "COMPLETED"
        el = f"{s['elapsed']:.3f}s" if s["elapsed"] is not None else "?"
        jobs = f", {s['spark_jobs']} spark jobs" if s.get("spark_jobs") else ""
        print(f"  {s['step']}: {state} in {el}{jobs}")
    return 0


def cmd_schema(args) -> int:
    pipe = _attach(args)
    print(pipe.schema.to_pretty_yaml())
    return 0


def cmd_state(args) -> int:
    pipe = _attach(args)
    print(json.dumps(
        {"pipeline_name": pipe.state.pipeline_name,
         "version": pipe.state.version,
         "state": pipe.state.state},
        indent=2, default=str,
    ))
    return 0


def cmd_drop(args) -> int:
    if not args.yes:
        print("refusing to drop without --yes", file=sys.stderr)
        return 1
    pipe = _attach(args)
    tables = pipe.store.list_tables()
    pipe.drop()
    print(f"dropped {len(tables)} tables from {args.destination}/{args.dataset}")
    return 0


def cmd_optimize(args) -> int:
    """`pipeline <name> optimize --table t [--zorder a,b]` — compaction
    / Z-order rewrite + vacuum via Dataset.optimize."""
    if not args.table:
        print("optimize requires --table", file=sys.stderr)
        return 1
    pipe = _attach(args)
    zcols = [c for c in (args.zorder or "").split(",") if c]
    pipe.dataset().optimize(args.table, zorder_by=zcols or None)
    mode = f"zorder by {zcols}" if zcols else "compacted"
    print(f"optimized {args.table}: {mode}")
    return 0


COMMANDS = {
    "info": cmd_info,
    "loads": cmd_loads,
    "trace": cmd_trace,
    "schema": cmd_schema,
    "state": cmd_state,
    "drop": cmd_drop,
    "optimize": cmd_optimize,
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="dlt_spark")
    sub = ap.add_subparsers(dest="group", required=True)
    pipe = sub.add_parser("pipeline", help="inspect/manage a pipeline dataset")
    pipe.add_argument("name")
    pipe.add_argument("cmd", choices=sorted(COMMANDS))
    pipe.add_argument("--destination", required=True)
    pipe.add_argument("--dataset", default="default")
    pipe.add_argument("--yes", action="store_true", help="confirm destructive ops")
    pipe.add_argument("--table", default=None, help="table for optimize")
    pipe.add_argument("--zorder", default=None, help="comma-separated zorder columns")
    args = ap.parse_args(argv)
    return COMMANDS[args.cmd](args)


if __name__ == "__main__":
    raise SystemExit(main())
