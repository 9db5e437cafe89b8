"""Seeded input generators.

Every input the benchmark feeds the engine comes from here, derived only
from the run's ``--seed``: the same seed gives byte-identical inputs.

- :func:`order_docs` — nested order documents for ``ingest_nested``.
- :class:`OrderBook` — the ``merge_refresh`` source system: an orders
  table with nested line items, a customer dimension, and the seeded
  change batches a scheduled refresh pulls from it.  It also keeps the
  expected final state the output checks compare against.
- :func:`write_corpus` — parquet tables in the shape the registry's
  corpus operators read (``documents``, ``embeddings``, ``events``,
  ``lineitem``).
"""

from __future__ import annotations

import os
from typing import Dict, List

import numpy as np

WORDS = (
    "a the data spark table row column key value join group agg filter scan"
    " sort hash merge batch stream window query order line part customer"
    " vector small big fast slow"
).split()
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
CODES = ["SPRING", "VIP", "BULK", "LOYAL", "CLEARANCE"]

# ingest_nested: batch index -> the optional key that first appears there
# (root column, customer struct field, item field, second root column)
EVOLUTION = {1: "coupon", 3: "customer.tier", 5: "items.gift_wrap", 7: "channel"}


def order_docs(seed: int, batch: int, size: int, first_id: int) -> tuple:
    """One ingest batch: ``size`` order documents, each with a
    ``customer`` struct and an ``items`` list whose elements carry a
    ``discounts`` list (two child-table levels).  Keys listed in
    :data:`EVOLUTION` appear from their batch on, in some documents only.
    Returns ``(docs, counts)`` with the per-table row counts the
    relational normalizer must produce."""
    rng = np.random.default_rng([seed, 1, batch])
    live = {k for b, k in EVOLUTION.items() if batch >= b}
    docs: List[dict] = []
    n_items = n_disc = 0
    n_items_per = rng.integers(1, 6, size)
    for i in range(size):
        oid = first_id + i
        customer = {
            "id": int(rng.integers(0, 5000)),
            "name": f"cust-{int(rng.integers(0, 5000))}",
            "segment": SEGMENTS[int(rng.integers(0, 5))],
        }
        if "customer.tier" in live and i % 3 == 0:
            customer["tier"] = int(rng.integers(1, 4))
        items = []
        for j in range(int(n_items_per[i])):
            discs = [
                {"code": CODES[int(rng.integers(0, 5))], "pct": float(rng.integers(1, 30))}
                for _ in range(int(rng.integers(0, 3)))
            ]
            item = {
                "sku": f"sku-{int(rng.integers(0, 20000))}",
                "qty": int(rng.integers(1, 10)),
                "price": round(float(rng.uniform(1, 500)), 2),
                "discounts": discs,
            }
            if "items.gift_wrap" in live and j == 0:
                item["gift_wrap"] = bool(i % 2)
            items.append(item)
            n_disc += len(discs)
        n_items += len(items)
        doc = {
            "order_id": oid,
            "created_at": 1_700_000_000 + oid,
            "status": STATUSES[int(rng.integers(0, 3))],
            "customer": customer,
            "items": items,
        }
        if "coupon" in live and i % 4 == 0:
            doc["coupon"] = CODES[int(rng.integers(0, 5))]
        if "channel" in live and i % 2 == 0:
            doc["channel"] = "web" if i % 4 else "store"
        docs.append(doc)
    counts = {
        "orders": size,
        "orders__items": n_items,
        "orders__items__discounts": n_disc,
    }
    return docs, counts


class OrderBook:
    """Source system of the ``merge_refresh`` workload.

    Holds the current version of every order (with its line items) and
    every customer, hands out seeded change batches, and tracks what the
    destination must contain once those batches are loaded."""

    T0 = 1_700_000_000

    def __init__(self, seed: int, n_orders: int, n_customers: int) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.n_customers = n_customers
        self.next_key = n_orders
        self.tick = 0  # strictly increasing cursor source
        self.orders: Dict[int, dict] = {}
        for k in range(n_orders):
            self.orders[k] = self._order(k)
        self.customers: Dict[int, dict] = {
            c: self._customer(c) for c in range(n_customers)
        }

    def _updated_at(self) -> int:
        self.tick += 1
        return self.T0 + self.tick

    def _order(self, key: int) -> dict:
        r = self.rng
        n = int(r.integers(1, 8))
        return {
            "o_orderkey": key,
            "o_custkey": int(r.integers(0, self.n_customers)),
            "o_orderstatus": STATUSES[int(r.integers(0, 3))],
            "o_totalprice": round(float(r.uniform(1000, 400000)), 2),
            "o_orderpriority": PRIORITIES[int(r.integers(0, 5))],
            "updated_at": self._updated_at(),
            "lineitems": [
                {
                    "l_linenumber": j + 1,
                    "l_partkey": int(r.integers(0, 2000)),
                    "l_quantity": int(r.integers(1, 50)),
                    "l_extendedprice": round(float(r.uniform(100, 90000)), 2),
                }
                for j in range(n)
            ],
        }

    def _customer(self, key: int) -> dict:
        r = self.rng
        return {
            "c_custkey": key,
            "c_name": f"Customer#{key:09d}",
            "c_mktsegment": SEGMENTS[int(r.integers(0, 5))],
            "c_acctbal": round(float(r.uniform(-999, 9999)), 2),
        }

    def snapshot_orders(self) -> List[dict]:
        return [dict(o) for o in self.orders.values()]

    def snapshot_customers(self) -> List[dict]:
        return [dict(c) for c in self.customers.values()]

    def change_batch(self, changed_frac: float, n_new: int, n_stale: int) -> List[dict]:
        """A refresh batch: ``changed_frac`` of existing orders re-issued
        with new totals and line items, ``n_new`` new orders, plus
        ``n_stale`` re-sends of old order versions whose cursor is below
        every loaded value (the incremental cursor must drop them)."""
        r = self.rng
        keys = np.array(sorted(self.orders))
        n_changed = max(1, int(len(keys) * changed_frac))
        changed = r.choice(keys, n_changed, replace=False)
        stale = [
            dict(self.orders[int(k)], updated_at=self.T0 - 1 - i,
                 o_orderstatus="X")
            for i, k in enumerate(r.choice(keys, n_stale, replace=False))
        ]
        rows = []
        for k in sorted(int(x) for x in changed):
            self.orders[k] = self._order(k)
            rows.append(self.orders[k])
        for _ in range(n_new):
            k = self.next_key
            self.next_key += 1
            self.orders[k] = self._order(k)
            rows.append(self.orders[k])
        rows = [dict(x) for x in rows] + stale
        return [rows[i] for i in r.permutation(len(rows))]

    def change_customers(self, n: int) -> List[dict]:
        """A full customer snapshot with ``n`` changed rows (scd2)."""
        for c in self.rng.choice(self.n_customers, n, replace=False):
            cur = self.customers[int(c)]
            self.customers[int(c)] = dict(
                cur, c_acctbal=round(cur["c_acctbal"] + 1.0, 2)
            )
        return self.snapshot_customers()

    def expected(self) -> dict:
        return {
            "orders": len(self.orders),
            "orders__lineitems": sum(len(o["lineitems"]) for o in self.orders.values()),
            "customers": self.n_customers,
            "totalprice_cents": sum(
                round(o["o_totalprice"] * 100) for o in self.orders.values()
            ),
        }


def write_corpus(seed: int, root: str, scale: dict) -> Dict[str, int]:
    """Write the corpus operators' input tables as single parquet files
    under ``root`` and return their row counts.  Column names and types
    follow the registry's test data; the text carries exact duplicates
    and near-duplicates so the dedup operators have pairs to find."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(root, exist_ok=True)
    words = np.array(WORDS)

    n_docs = scale["documents"]
    texts = []
    for i in range(n_docs):
        if i >= 20 and i % 25 == 0:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 20 and i % 25 == 7:  # near duplicate: two tokens swapped
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(2):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(10, 101)))))
    langs = np.array(["en", "en", "de", "fr", "es", "zh"])
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, len(langs), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n_vec, dim = scale["embeddings"], 64
    vecs = rng.normal(0, 0.15, (n_vec, dim)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })

    n_ev = scale["events"]
    ts = np.sort(rng.integers(0, 86_400 * 30 * 1_000_000, n_ev)) + 1_704_067_200_000_000
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_ev // 60), n_ev)),
        "event_type": pa.array(
            np.array(["signup", "purchase", "view", "click", "error"])[rng.integers(0, 5, n_ev)]
        ),
        "value": pa.array(np.round(rng.uniform(0, 200, n_ev), 2)),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    n_li = scale["lineitem"]
    n_ord = max(1, n_li // 4)
    li = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_li))),
        "l_partkey": pa.array(rng.integers(0, max(1, n_li // 30), n_li)),
        "l_suppkey": pa.array(rng.integers(0, max(1, n_li // 600), n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(
            rng.integers(694_224_000, 912_470_400, n_li) * 1_000_000, pa.timestamp("us")
        ),
    })

    tables = {"documents": docs, "embeddings": emb, "events": events, "lineitem": li}
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(root, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
