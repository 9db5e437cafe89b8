"""The three workloads.

Each workload has a ``setup`` (counted in ``setup_s``), a ``cycle`` that
performs one timed unit of work and returns its samples, and a ``check``
that verifies the engine's outputs after the timed loop.  All engine
calls go through its public API; the workload's seed only shapes the
inputs.

Samples a cycle returns:

- ``op``: seconds of the workload's unit operation (one batch load, one
  refresh's upsert load, one pass over the corpus operators);
- ``reads``: seconds of each read that followed (for ``merge_refresh``
  one dashboard view, its four reads together; for ``corpus_ops`` the
  pass's summed execute time);
- ``attempted`` / ``errors``: operations the cycle tried and the errors
  of those that raised;
- ``rows`` / ``package_rows``: source rows the first load of the cycle
  received, and root plus child rows of all its load packages.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Dict, List

import numpy as np

from . import gen
from .oracle import duckdb_views, frame_hash


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 1e6


def _loads_paths(pipe) -> int:
    """Snapshot dirs a reader of ``_dlt_loads`` lists today."""
    meta = pipe.store._current_meta("_dlt_loads") or {}
    return len(meta.get("paths", []))


class Workload:
    name = ""
    MIN_CYCLES = 1  # cycles a run makes even past its --seconds

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed
        self.work = ctx.work
        self.per_index: List[dict] = []  # per-cycle record for the details line
        self.phases: Dict[str, float] = {}  # set-up steps, for the details line

    def setup(self) -> None:
        raise NotImplementedError

    def cycle(self, i: int) -> dict:
        raise NotImplementedError

    def check(self) -> List[str]:
        raise NotImplementedError

    def stored_mb(self) -> float:
        return 0.0


# ---------------------------------------------------------------- ingest


class IngestNested(Workload):
    """Nested order documents appended batch by batch into an empty
    destination via ``pipeline.run``; new optional keys appear in later
    batches (schema evolution and the append path's rewrite)."""

    name = "ingest_nested"
    BATCH = 1500

    def setup(self) -> None:
        import dlt_spark

        # warm-up in a throw-away destination: batch shapes with new root
        # and child columns, at a tenth of the size
        warm = dlt_spark.pipeline(
            "ingest_warmup", os.path.join(self.work, "warm"), "shop", spark=self.spark
        )
        for b in (0, 1, 5):
            docs, _ = gen.order_docs(self.seed + 7919, b, self.BATCH // 10, b * self.BATCH)
            warm.run(docs, table_name="orders")
            warm.dataset().row_counts().fetchall()
        self.dest = os.path.join(self.work, "dest")
        self.pipe = dlt_spark.pipeline("ingest_nested", self.dest, "shop", spark=self.spark)
        self.expected: Dict[str, int] = {}
        self.batches = 0

    def cycle(self, i: int) -> dict:
        docs, counts = gen.order_docs(self.seed, i, self.BATCH, i * self.BATCH)
        op_s, _ = _timed(self.pipe.run, docs, table_name="orders")
        self.batches += 1
        for t, n in counts.items():
            self.expected[t] = self.expected.get(t, 0) + n
        read_s, _ = _timed(lambda: self.pipe.dataset().row_counts().fetchall())
        self.per_index.append({"batch": i, "load_s": op_s, "read_s": read_s})
        return {"op": op_s, "reads": [read_s], "attempted": 2, "errors": [],
                "rows": len(docs), "package_rows": sum(counts.values())}

    def check(self) -> List[str]:
        want = dict(self.expected, _dlt_loads=self.batches)
        got = dict(self.pipe.dataset().row_counts(list(want)).fetchall())
        return [
            f"{t}: {got.get(t)} rows, expected {n}"
            for t, n in want.items() if got.get(t) != n
        ]

    def stored_mb(self) -> float:
        return dir_mb(self.dest)


# ---------------------------------------------------------- merge refresh


DASHBOARD_SQL = (
    "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total"
    " FROM orders GROUP BY o_orderstatus"
)


class MergeRefresh(Workload):
    """A scheduled incremental refresh on a pre-populated store.  Each
    cycle loads a merge upsert behind an ``updated_at`` cursor (the
    cycle's unit operation), then the dashboard is viewed once, its four
    reads in a row.  In a traced run every other cycle also loads a
    delete-insert batch and an scd2 customer snapshot, so that their
    layers are measured; an untraced run leaves them out, because each
    load costs seconds and a run has room for a few cycles only."""

    name = "merge_refresh"
    N_ORDERS, N_CUSTOMERS = 500, 200
    CHANGED, NEW, STALE = 0.05, 20, 10
    # a cycle takes several seconds; the median of three rides out a
    # hiccup that would decide a single one
    MIN_CYCLES = 3

    def setup(self) -> None:
        import dlt_spark

        self.book = gen.OrderBook(self.seed, self.N_ORDERS, self.N_CUSTOMERS)
        self.dest = os.path.join(self.work, "dest")
        self.pipe = dlt_spark.pipeline("merge_refresh", self.dest, "shop", spark=self.spark)
        self.loads = 0
        self.phases["populate_orders"] = self._load_orders(self.book.snapshot_orders(), "upsert")
        self.phases["populate_customers"] = self._load_customers(self.book.snapshot_customers())
        # warm-up: one cycle (-1 is odd: in a traced run with all three
        # loads), untimed.  Without it the timed cycles pay the first
        # loads and dashboard reads, and measured both slower and less
        # steady.
        self.phases["warmup_cycle"], _ = _timed(self.cycle, -1, record=False)

    def _load_orders(self, rows, strategy: str) -> float:
        import dlt_spark

        s, info = _timed(
            self.pipe.run, rows, table_name="orders", write_disposition="merge",
            merge_strategy=strategy, primary_key="o_orderkey",
            incremental=dlt_spark.incremental("updated_at"),
        )
        self.loads += 1
        self.last_load_id = info.load_id
        return s

    def _load_customers(self, rows) -> float:
        s, _ = _timed(
            self.pipe.run, rows, table_name="customers", write_disposition="merge",
            merge_strategy="scd2",
        )
        self.loads += 1
        return s

    def _reads(self) -> List[float]:
        from dlt_spark import Relation
        from pyspark.sql import functions as F

        def join_agg(ds):
            joined = ds.table("orders__lineitems").join(ds.table("orders"))
            agg = joined.spark_df().groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum("l_extendedprice").alias("revenue"),
            )
            return Relation(agg, "dash_revenue", dataset=ds).fetchall()

        reads = (
            lambda ds: ds.row_counts().fetchall(),
            join_agg,
            lambda ds: ds.table("orders").from_loads([ds.latest_load_id]).arrow(),
            lambda ds: ds.query(DASHBOARD_SQL).fetchall(),
        )
        ds = self.pipe.dataset()
        return [_timed(read, ds)[0] for read in reads]

    def cycle(self, i: int, record: bool = True) -> dict:
        rows = self.book.change_batch(self.CHANGED, self.NEW, self.STALE)
        loads = {"upsert_s": self._load_orders(rows, "upsert")}
        kept_measured = self._rows_of_load(self.last_load_id)
        di_rows, customers = [], []
        if i % 2 and self.ctx.trace:
            di_rows = self.book.change_batch(self.CHANGED / 3, self.NEW // 4, 0)
            loads["delete_insert_s"] = self._load_orders(di_rows, "delete-insert")
            customers = self.book.change_customers(10)
            loads["scd2_s"] = self._load_customers(customers)
        reads = self._reads()
        if record:
            self.per_index.append({
                "load_index": self.loads, **loads, "read_s": reads,
                "loads_paths": _loads_paths(self.pipe),
            })
        return {"op": loads["upsert_s"], "reads": [sum(reads)],
                "attempted": len(loads) + len(reads), "errors": [],
                "rows": len(rows), "kept_measured": kept_measured,
                "package_rows": len(customers) + sum(
                    1 + len(r["lineitems"]) for r in rows + di_rows)}

    def _rows_of_load(self, load_id: str) -> int:
        """Root rows a load committed (traced cycles only, untraced and
        outside the op timer): the incremental cursor's kept rows."""
        tr = self.ctx.tracer
        if not tr.enabled:
            return 0
        from pyspark.sql import functions as F

        tr.enabled = False
        try:
            return self.pipe.store.read("orders").filter(
                F.col("_dlt_load_id") == load_id).count()
        finally:
            tr.enabled = True

    def check(self) -> List[str]:
        from pyspark.sql import functions as F

        ds = self.pipe.dataset()
        want = self.book.expected()
        orders = ds.table("orders").spark_df()
        lines = ds.table("orders__lineitems").spark_df()
        cust = ds.table("customers").spark_df()
        r = orders.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_orderkey").alias("keys"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
            F.sum((F.col("o_orderstatus") == "X").cast("int")).alias("stale"),
        ).collect()[0]
        n_lines = lines.count()
        orphans = lines.join(
            orders.select(F.col("_dlt_id").alias("_dlt_root_id")),
            "_dlt_root_id", "left_anti",
        ).count()
        open_rows = cust.filter(F.col("_dlt_valid_to").isNull())
        c = open_rows.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("c_custkey").alias("keys")
        ).collect()[0]
        n_loads = ds.loads_table().spark_df().count()
        errs = []
        if (r["n"], r["keys"]) != (want["orders"], want["orders"]):
            errs.append(f"orders: {r['n']} rows / {r['keys']} keys, expected {want['orders']}")
        if r["cents"] != want["totalprice_cents"]:
            errs.append("orders: o_totalprice does not match the source's latest versions")
        if r["stale"]:
            errs.append(f"orders: {r['stale']} stale rows passed the incremental cursor")
        if n_lines != want["orders__lineitems"]:
            errs.append(f"orders__lineitems: {n_lines} rows, expected {want['orders__lineitems']}")
        if orphans:
            errs.append(f"orders__lineitems: {orphans} child rows of replaced roots remain")
        if (c["n"], c["keys"]) != (want["customers"], want["customers"]):
            errs.append(f"customers: {c['n']} open scd2 rows / {c['keys']} keys, expected one per customer ({want['customers']})")
        if n_loads != self.loads:
            errs.append(f"_dlt_loads: {n_loads} rows, expected {self.loads}")
        return errs

    def stored_mb(self) -> float:
        return dir_mb(self.dest)


# ------------------------------------------------------------- corpus ops


# light registry corpus operators, one of each kind, so that a pass
# takes seconds on four cores: an interpreted higher-order function
# (repetition_signals), an Arrow kernel (similarity_topk), graph
# construction (pagerank) and text scans
CORPUS_OPS = (
    "repetition_signals", "rolling_fingerprint", "pii_redaction",
    "similarity_topk", "pagerank",
)
CORPUS_SCALE = {"documents": 200, "embeddings": 200, "events": 4000, "lineitem": 12000}


class CorpusOps(Workload):
    """Registry corpus operators over seeded corpus tables, each result
    written to a ``noop`` sink with construct, plan and execute timed
    apart.  The seed also permutes the operator order."""

    name = "corpus_ops"

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.data = os.path.join(self.work, "corpus")
        gen.write_corpus(self.seed, self.data, CORPUS_SCALE)
        self.fns = entry.queries()
        self.order = [CORPUS_OPS[k] for k in
                      np.random.default_rng([self.seed, 4]).permutation(len(CORPUS_OPS))]
        # warm-up, one operator per core: each operator's full result is
        # fetched once and kept for the oracle check
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            self.results = dict(zip(self.order, pool.map(
                lambda q: self.fns[q](self.spark, self.data).toPandas(), self.order)))

    def run_op(self, q: str) -> Dict[str, float]:
        tr = self.ctx.tracer
        with tr.span(f"dataops.{q}.construct", "dataops", f"{q}:construct"):
            c, df = _timed(self.fns[q], self.spark, self.data)
        with tr.span(f"dataops.{q}.plan", "dataops", f"{q}:plan"):
            p, _ = _timed(lambda: df._jdf.queryExecution().executedPlan())
        with tr.span(f"dataops.{q}.exec", "dataops", f"{q}:exec"):
            e, _ = _timed(lambda: df.write.format("noop").mode("overwrite").save())
        return {"construct_s": c, "plan_s": p, "exec_s": e}

    def cycle(self, i: int) -> dict:
        per, errors = {}, []
        for q in self.order:
            try:
                per[q] = self.run_op(q)
            except Exception as e:  # counted; the pass goes on
                errors.append(f"pass {i} {q}: {type(e).__name__}: {e}"[:500])
        total = sum(sum(v.values()) for v in per.values())
        exec_total = sum(v["exec_s"] for v in per.values())
        self.per_index.append({"pass": i, "total_s": total, "ops": per})
        return {"op": total, "reads": [exec_total], "attempted": len(self.order),
                "errors": errors, "rows": 0, "package_rows": 0}

    def check(self) -> List[str]:
        """Each operator's full result must hash equal to its DuckDB
        ``oracle_sql()`` twin over the same parquet."""
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb_views(self.data, CORPUS_SCALE)
        try:
            mismatches = []
            for q in self.order:
                a, b = frame_hash(self.results[q]), frame_hash(con.sql(oracles[q]).df())
                if a != b:
                    mismatches.append(
                        f"{q}: spark {a[0]} rows {a[2][:12]} vs oracle {b[0]} rows {b[2][:12]}")
                if a[0] == 0:
                    mismatches.append(f"{q}: empty result, the check is vacuous")
        finally:
            con.close()
        return mismatches


WORKLOADS = {w.name: w for w in (IngestNested, MergeRefresh, CorpusOps)}
