"""Graph scoring over edge tables: integer-exact PageRank.

Connected components (``dedup.dup_clusters``) resolves WHICH rows form
a group; PageRank ranks importance WITHIN a graph — canonical-document
selection by similarity-graph centrality, supplier/part criticality in
a supply graph, link-quality curation signals.

Engineered for engine-exactness and scale:

- ranks live as BIGINT **nano-units**; per-edge contributions are
  integer division by out-degree and damping is an integer ratio
  (``(num * s) div den``), so every aggregation is an order-independent
  BIGINT sum — bit-identical under any partitioning, and reproducible
  in ANSI SQL (the DuckDB oracle replays the exact iterations;
  documented rounding loss: total mass decays by the floor remainders
  and dangling-node mass, which is irrelevant for ranking);
- each iteration is one join + one aggregation; the rank/degree sides
  stay narrow (id, int64).  Fixed ``iters`` keeps the plan static —
  for convergence-driven runs wrap it in a loop with
  ``localCheckpoint`` every few iterations (same pattern as
  ``dup_clusters``) to truncate lineage.
"""

from __future__ import annotations

from fractions import Fraction
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NANO = 1_000_000_000

# closing-edge probes in the triangle family broadcast the oriented edge
# set when it is small enough (narrow (v, w) longs; ~16 B/row plus hash
# table overhead keeps 8M rows well under typical executor memory) —
# the probe side is the WEDGE table (C(d,2)-shaped, routinely 30-50x the
# edge count), so broadcasting the edges avoids shuffling the wedges at
# all.  Past the limit the join falls back to shuffle-hash/sort-merge,
# which is the right plan at 100 TB edge scale.
EDGE_BROADCAST_LIMIT = 8_000_000

# iterative scorers (pagerank / HITS / label propagation) broadcast the
# per-node score table into the edge join when the node count — known
# exactly, it is computed anyway — fits comfortably in a broadcast
# (narrow (id, int64) rows).  The edge table then never shuffles; only
# the per-iteration contribution aggregation does.
NODE_BROADCAST_LIMIT = 4_000_000


def _truncate(df: DataFrame) -> DataFrame:
    """Lazy lineage truncation at a multi-consumer reuse point: without
    it Spark re-expands (and re-executes) the whole upstream subtree at
    every consumer — exponential plan growth in iterative scorers.
    Module-level seam so an A/B probe can patch it to identity."""
    return df.localCheckpoint(eager=False)


# r10 added a 2x-shuffle-width repartition of the grouped-array table
# before the unbounded C(d,2) explosion, arguing AQE's byte-based
# coalescing under-parallelizes the blow-up stage.  REVERTED r11 on
# driver ground truth + a 12-session rotated cold A/B (VERDICT r10 #1):
# removing it is consistently faster cold (triangle_census median 6.39
# -> 5.53s, clustering_coeff 5.91 -> 5.36s; the driver had measured
# triangle_census x0.83 with it), and the scale-shape argument was
# backwards — byte-coalescing squeezes the explode into few tasks only
# when the array table is SMALL (sf0.1's ~11 MB); at 100 TB the array
# table spans thousands of advisory-size partitions and the explode
# parallelizes on its own, so the extra exchange buys nothing there
# either.  The C(d,2) skew of a single super-center is untouched by a
# center-keyed repartition anyway (same center = same partition); the
# capped path is the dial for that.


_PACK_MAX = (1 << 31) - 1  # both ids must fit 31 bits for an exact pack


def _pack_pair(lo_col, hi_col) -> "F.Column":
    """The single-long pair pack ``(lo << 32) | hi`` — a bijection on
    pairs of non-negative ids that fit 31 bits (gate on ``_PACK_MAX``
    before using it).  One shared definition so the pack scheme cannot
    drift between the wedge probe, the candidate-pair aggregation, and
    the existing-edge key (ADVICE r10).  Accepts column names or
    Column expressions."""
    lo = F.col(lo_col) if isinstance(lo_col, str) else lo_col
    hi = F.col(hi_col) if isinstance(hi_col, str) else hi_col
    return F.shiftleft(lo.cast("long"), 32) + hi.cast("long")


def _sym_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetrized distinct directed edge list ``(_s, _d)`` shared by
    k_core / label_propagation / degree_assortativity.  The input
    derivation is checkpointed BEFORE the two union branches (r11): the
    old inline form re-executed the caller's whole upstream plan once
    per branch — the kcore stage probe showed the entry's 97 MB
    lineitem scan + distinct running twice inside one action."""
    ein = (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .localCheckpoint(eager=False)
    )
    return (
        ein.unionAll(ein.select(F.col("_d").alias("_s"), F.col("_s").alias("_d")))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _closing_probe(
    wedges: DataFrame, oriented: DataFrame, how: str, with_flag: bool = False
) -> DataFrame:
    """Join the wedge table against the closing-edge set ``(v, w)``,
    broadcasting the edge side when it is measurably small.  ``oriented``
    must already be materialized (localCheckpoint) so the gate stats are
    a cheap cached-scan job, paid once per query and saving a full
    shuffle of the much larger wedge table.  ``with_flag`` attaches a
    ``_closed = 1`` marker for LEFT-join counting.

    Packed single-long key (r10): a broadcast hash join keyed on ONE
    long column builds a ``LongHashedRelation`` (primitive open-address
    map) instead of the two-key ``UnsafeHashedRelation`` (row hashing +
    bytes-map chain walk) — measured 0.19x on the 41M-wedge probe
    (noop-sunk gen+probe 4.42s -> 0.85s median, 6/6 cycles, identical
    match counts).  The pack ``(v << 32) | w`` is injective only when
    both ids are non-negative and fit 31 bits, so the SAME 1-row stats
    job that decides the broadcast also fetches min/max node id; non-
    integral or out-of-range ids fall back to the exact pair-key join
    (value-identical either way — the pack is a bijection on the gated
    domain).

    Invariant (ADVICE r10): the gate stats are computed on ``oriented``
    but the pack is also applied to ``wedges.v/w`` — callers must pass
    wedges whose endpoints are drawn from ``oriented``'s endpoints (true
    for every wedge the triangle family enumerates: each wedge leg IS an
    oriented edge)."""
    integral = all(
        oriented.schema[c].dataType.typeName()
        in ("long", "integer", "short", "byte")
        for c in ("u", "v")
    )
    lo = hi = None
    if integral:
        stats = oriented.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.least("u", "v")).alias("lo"),
            F.max(F.greatest("u", "v")).alias("hi"),
        ).collect()[0]
        n_edges, lo, hi = stats["n"], stats["lo"], stats["hi"]
    else:
        n_edges = oriented.count()
    if lo is not None and hi is not None and lo >= 0 and hi <= _PACK_MAX:
        pk = _pack_pair
        closing = oriented.select(pk("u", "v").alias("_pk"))
        if with_flag:
            closing = closing.withColumn("_closed", F.lit(1))
        if n_edges <= EDGE_BROADCAST_LIMIT:
            closing = F.broadcast(closing)
        return (
            wedges.withColumn("_pk", pk("v", "w"))
            .join(closing, "_pk", how)
            .drop("_pk")
        )
    closing = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    if with_flag:
        closing = closing.withColumn("_closed", F.lit(1))
    if n_edges <= EDGE_BROADCAST_LIMIT:
        closing = F.broadcast(closing)
    return wedges.join(closing, ["v", "w"], how)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 0,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge table.

    Returns ``(id, rank_nano, pagerank)`` for every node, where
    ``pagerank = rank_nano / 1e9``.  ``damping`` must be expressible as
    a small fraction (0.85 = 17/20) so the update stays integer.
    """
    frac = Fraction(damping).limit_denominator(1000)
    dnum, dden = frac.numerator, frac.denominator

    # the INPUT edge plan is consumed three times (nodes, out_deg, the
    # degree join) — truncate it first or the caller's whole edge
    # derivation re-executes per consumer (r10 probe: the entry's
    # distinct() shuffle ran three times per pagerank run)
    edges = edges.localCheckpoint(eager=False)
    # the node and degree-annotated edge tables are consumed once per
    # iteration — lazy localCheckpoint materializes each a single time
    # (and truncates their lineage out of every iteration's DAG; Spark
    # has no cross-join common-subplan elimination, so without this the
    # distinct + degree join re-executes per iteration: measured 5.6s ->
    # 3.9s at sf0.1/3 iters)
    nodes = (
        edges.select(F.col(src).alias("id"))
        .unionByName(edges.select(F.col(dst).alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()  # one driver scalar, like the IVF centroid count
    if n == 0:
        raise ValueError("empty edge table")
    init = NANO // n
    base = ((dden - dnum) * NANO) // (dden * n)

    # r11: the out-degree joins the NODE-sized rank table, not the edge
    # table — per-source contributions (rank div deg) are computed on n
    # rows and broadcast into the edge join, instead of materializing an
    # edge-sized (src, dst, deg) table at setup and evaluating the div
    # per EDGE row.  Same joins per iteration, one edge-wide join +
    # checkpoint fewer at setup, and the edge probe side stays 16 B/row.
    deg = (
        edges.groupBy(src)
        .agg(F.count(F.lit(1)).alias("_deg"))
        .select(F.col(src).alias("id"), "_deg")
        .localCheckpoint(eager=False)
    )
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    # the per-node score table is exactly n rows (n is already counted):
    # when it fits a broadcast, every iteration's edge join runs without
    # shuffling the edge table at all — the only shuffle left is the
    # contribution aggregation.  Past the gate (1e9-node graphs) the
    # joins fall back to shuffle, the right plan at that scale.
    bcast = n <= NODE_BROADCAST_LIMIT
    rank = nodes.select("id", F.lit(init).cast("bigint").alias("_r"))
    for i in range(iters):
        per_src = rank.join(F.broadcast(deg) if bcast else deg, "id").select(
            F.col("id").alias("_src"), F.expr("_r div _deg").alias("_c")
        )
        side = F.broadcast(per_src) if bcast else per_src
        contrib = (
            e.join(side, "_src")
            .select(F.col("_dst").alias("id"), "_c")
            .groupBy("id")
            .agg(F.sum("_c").alias("_s"))
        )
        contrib_side = F.broadcast(contrib) if bcast else contrib
        rank = nodes.join(contrib_side, "id", "left").select(
            "id",
            (
                F.lit(base)
                + F.expr(f"({dnum} * coalesce(_s, 0L)) div {dden}")
            ).cast("bigint").alias("_r"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            rank = rank.localCheckpoint(eager=True)
    return rank.select(
        "id",
        F.col("_r").alias("rank_nano"),
        (F.col("_r").cast("double") / F.lit(float(NANO))).alias("pagerank"),
    )


def _oriented_wedges(edges: DataFrame, src: str, dst: str) -> tuple:
    """Shared degree-ordered-orientation core for the triangle family:
    returns ``(und, deg, oriented, wedges)`` — canonical undirected
    edges, per-node degrees, edges oriented low->high ``(degree, id)``
    (bounding out-degree by O(sqrt(m)) under any skew), and the wedge
    table ``(u, v, w)`` with ``(v, w)`` in orientation order."""
    a, b = F.col(src), F.col(dst)
    und = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    e = (
        und.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = e.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint(eager=False)
    wedges = _wedge_fanout(oriented)
    return und, deg, oriented, wedges


def _wedge_fanout(kept: DataFrame, weighted: bool = False) -> DataFrame:
    """Per-center wedge enumeration ``(u; v, w)`` from oriented edges
    ``(u, v, dv[, _w6])`` — the explosion stage of the triangle family.

    Grouped-array fan-out instead of a self-join: ONE shuffle groups the
    out-neighborhood per center (``collect_list``), then both pair legs
    explode inside the same task (whole-stage codegen, no sort-merge, no
    second exchange — a self-join shuffles the edge table twice and
    sorts both sides; measured ~2x on the co-purchase graph).  Array
    size per row is the center's out-degree, which the degree-ordered
    orientation bounds by O(sqrt(m)) under any skew, so a single row
    stays megabytes even at 1e11 edges.  ``(v, w)`` keep orientation
    order (``dv < dw``, ties by id).  (An r10 explicit-width repartition
    before the explode was REVERTED r11 — see the note above
    :func:`_closing_probe` for the cold A/B receipts.)"""
    grp = ["u", "_w6"] if weighted else ["u"]
    arr = kept.groupBy(*grp).agg(
        F.collect_list(F.struct(F.col("v"), F.col("dv"))).alias("_ns")
    )
    lo = F.col("_i.v")
    out = (
        arr.select(*grp, F.explode("_ns").alias("_i"), F.col("_ns"))
        .select(*grp, "_i", F.explode("_ns").alias("_j"))
        .filter(
            (F.col("_i.dv") < F.col("_j.dv"))
            | ((F.col("_i.dv") == F.col("_j.dv")) & (lo < F.col("_j.v")))
        )
        .select(
            "u",
            F.col("_i.v").alias("v"),
            F.col("_j.v").alias("w"),
            *(["_w6"] if weighted else []),
        )
    )
    return out


def _wedge_cap_k(cap: int) -> int:
    """Largest ``k >= 2`` with ``C(k, 2) <= cap`` — the per-center
    neighbor budget implied by a wedge cap."""
    import math

    if cap < 1:
        raise ValueError("max_wedges_per_node must be >= 1")
    k = (1 + math.isqrt(1 + 8 * cap)) // 2
    while k * (k - 1) // 2 > cap:
        k -= 1
    return max(k, 2)


MICRO = 1_000_000


def _capped_wedges(edges: DataFrame, src: str, dst: str, cap: int) -> tuple:
    """Wedge enumeration with a per-center budget — the standard
    super-node dial (VERDICT r4 #6) on top of :func:`_oriented_wedges`'s
    degree-ordered orientation.

    Centers whose oriented out-degree ``d`` would exceed ``cap`` wedges
    (``C(d,2) > cap``) keep only ``k`` deterministically chosen
    out-neighbors (ranked by a sha256 hash of the edge — engine-portable,
    layout-independent), and each surviving wedge carries the integer
    MICRO-unit weight ``(C(d,2) * 1e6) div C(k,2)`` so closed-wedge sums
    estimate the uncapped counts without enumerating them.  Exact
    centers carry weight ``1e6``.  MICRO (not NANO) units keep
    ``C(d,2) * unit`` far from BIGINT overflow up to d ~ 4e6.

    Returns ``(und, deg, oriented, wedges, capped_centers)`` where
    ``wedges = (u, v, w, _w6)`` and ``capped_centers = (u)`` — the nodes
    whose own wedge enumeration was sampled (their triangle counts are
    estimates even when no sampled wedge closed)."""
    from pyspark.sql import Window

    und, deg, oriented, _ = _oriented_wedges(edges, src, dst)
    k = _wedge_cap_k(cap)
    ck2 = k * (k - 1) // 2
    dout = oriented.groupBy("u").agg(F.count(F.lit(1)).alias("_dout"))
    o2 = oriented.join(dout, "u")
    # rank ONLY the capped centers' edges: the window sort stays
    # proportional to the super-node edges, not the whole graph
    capped_centers = dout.filter(F.col("_dout") > k).select("u").localCheckpoint(
        eager=False
    )
    hash_order = F.sha2(
        F.concat_ws(":", F.col("u").cast("string"), F.col("v").cast("string")), 256
    )
    w = Window.partitionBy("u").orderBy(hash_order, F.col("v"))
    kept_capped = (
        o2.join(capped_centers, "u", "left_semi")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    kept = (
        o2.join(capped_centers, "u", "left_anti")
        .unionByName(kept_capped)
        .withColumn(
            "_w6",
            F.when(F.col("_dout") <= F.lit(k), F.lit(MICRO).cast("bigint")).otherwise(
                F.expr(f"((_dout * (_dout - 1)) div 2 * {MICRO}L) div {ck2}")
            ),
        )
        .localCheckpoint(eager=False)
    )
    # same grouped-array fan-out as _oriented_wedges — _w6 is constant
    # per center (a function of its out-degree), so it rides the group key
    wedges = _wedge_fanout(kept, weighted=True)
    return und, deg, oriented, wedges, capped_centers


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_wedges_per_node: "int | None" = None,
) -> DataFrame:
    """Global triangle census of an undirected graph: one row
    ``(n_nodes, n_edges, n_wedges, n_triangles)``.

    Scale design — the standard degree-ordered orientation (node-
    iterator++, shared core :func:`_oriented_wedges`): every undirected
    edge is oriented from its lower ``(degree, id)`` endpoint to the
    higher, which bounds each node's out-degree by O(sqrt(m)) regardless
    of skew (a celebrity node's star generates NO wedges at the celebrity
    because all its edges point INTO it).  Triangles are wedges (two
    out-edges of one node) matched against the oriented edge set; ONE
    pass over the wedge table yields both counts via a LEFT-join match
    flag (the oriented edges are distinct, so no row multiplication).

    Counts are plain BIGINTs — exact, order-independent, reproducible
    in ANSI SQL.

    ``max_wedges_per_node`` (default off = exact): per-center wedge
    budget (see :func:`_capped_wedges`).  ``n_wedges`` stays EXACT — it
    is ``sum C(d_out, 2)``, computable from out-degrees without
    enumeration — while ``n_triangles`` becomes the weighted estimate
    (HALF_UP of the MICRO-unit closed-wedge sum).
    """
    if max_wedges_per_node is None:
        und, deg, oriented, wedges = _oriented_wedges(edges, src, dst)
        marked = _closing_probe(wedges, oriented, "left", with_flag=True)
        wt = marked.agg(
            F.count(F.lit(1)).alias("n_wedges"),
            F.coalesce(
                F.sum(F.coalesce(F.col("_closed"), F.lit(0))), F.lit(0)
            ).cast("bigint").alias("n_triangles"),
        )
    else:
        und, deg, oriented, wedges, _ = _capped_wedges(
            edges, src, dst, max_wedges_per_node
        )
        closed6 = _closing_probe(wedges, oriented, "left_semi").agg(
            F.coalesce(F.sum("_w6"), F.lit(0)).alias("_t6")
        )
        true_wedges = (
            oriented.groupBy("u")
            .agg(F.count(F.lit(1)).alias("_d"))
            .agg(
                F.coalesce(
                    F.sum(F.expr("(_d * (_d - 1)) div 2")), F.lit(0)
                ).cast("bigint").alias("n_wedges")
            )
        )
        wt = true_wedges.crossJoin(closed6).select(
            "n_wedges",
            F.expr(f"(2 * _t6 + {MICRO}) div {2 * MICRO}")
            .cast("bigint")
            .alias("n_triangles"),
        )
    stats = (
        und.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
        .crossJoin(wt)
    )
    return stats.select("n_nodes", "n_edges", "n_wedges", "n_triangles")


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    checkpoint_every: int = 0,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999): hub and authority scores
    over a directed edge table — the link-curation companion to
    :func:`pagerank` (authorities = heavily-cited content, hubs =
    link aggregators; both are crawl-frontier / quality signals).

    Returns ``(id, authority_nano, hub_nano)``.  Scores live as BIGINT
    nano-units; each half-iteration is one edge join + one BIGINT-sum
    aggregation, then an L1 normalization by integer division against
    the 1-row total (broadcast) — order-independent and replayed
    exactly by the SQL oracle.  Scale: identical shape to pagerank —
    per-iteration cost is one shuffle of the (id, int64) score table
    against the edge list; lineage is truncated every
    ``checkpoint_every`` iterations.

    Overflow headroom: normalized scores sum to 1e9 total, so any
    aggregate of products/sums stays far below 2^63 even at 1e12 edges.
    """
    # r10: the distinct edge table is consumed six times across the
    # unrolled iterations (node derivation + every half-iteration join)
    # and each L1 normalization consumes its input twice (total + join)
    # — Spark has no common-subplan sharing across consumers, so without
    # lineage truncation the plan re-expands the whole upstream tree at
    # every consumer: ~2x per half-iteration, measured 88 parquet scans /
    # 446 exchanges at iters=2.  Lazy localCheckpoint at each reuse point
    # (same dial as pagerank's nodes/e) makes the plan linear in iters.
    e = _truncate(
        edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst")).distinct()
    )
    nodes = (
        e.select(F.col("_src").alias("id"))
        .unionByName(e.select(F.col("_dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("empty edge table")
    init = NANO // n
    hub = nodes.select("id", F.lit(init).cast("bigint").alias("_h"))
    # iters=0: the uniform start IS the result (pagerank's contract)
    auth = nodes.select("id", F.lit(init).cast("bigint").alias("_a"))

    def _l1_normalize(df: DataFrame, col: str) -> DataFrame:
        df = _truncate(df)
        tot = df.agg(F.sum(col).alias("_tot"))
        return df.join(F.broadcast(tot)).select(
            "id", F.expr(f"({col} * {NANO}L) div _tot").alias(col)
        )

    # same dial as pagerank: score tables are exactly n narrow rows —
    # under the gate they broadcast into every edge join, so the edge
    # table never shuffles
    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if n <= NODE_BROADCAST_LIMIT else df

    for i in range(iters):
        raw_auth = (
            e.join(_b(hub.withColumnRenamed("id", "_src")), "_src")
            .groupBy(F.col("_dst").alias("id"))
            .agg(F.sum("_h").alias("_a"))
        )
        auth = _l1_normalize(
            nodes.join(_b(raw_auth), "id", "left").select(
                "id", F.coalesce("_a", F.lit(0)).alias("_a")
            ),
            "_a",
        )
        raw_hub = (
            e.join(_b(auth.withColumnRenamed("id", "_dst")), "_dst")
            .groupBy(F.col("_src").alias("id"))
            .agg(F.sum("_a").alias("_h"))
        )
        hub = _l1_normalize(
            nodes.join(_b(raw_hub), "id", "left").select(
                "id", F.coalesce("_h", F.lit(0)).alias("_h")
            ),
            "_h",
        )
        # each score table is read by the next half-iteration AND the
        # final three-way join — truncate so it materializes once
        auth = _truncate(auth)
        hub = _truncate(hub)
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            auth = auth.localCheckpoint(eager=True)
            hub = hub.localCheckpoint(eager=True)
    # auth and hub each carry exactly one row per node by construction
    # (built from nodes left-joins) — the old nodes-join-auth-join-hub
    # re-derivation paid one redundant join (r11)
    return auth.join(hub, "id").select(
        "id", F.col("_a").alias("authority_nano"), F.col("_h").alias("hub_nano")
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_wedges_per_node: "int | None" = None,
) -> DataFrame:
    """Per-node local clustering coefficient: ``(id, degree, triangles,
    coefficient_nano)`` with ``coefficient = 2*T / (deg*(deg-1))`` —
    the link-farm / community-density signal (spam neighborhoods are
    dense; organic hubs are sparse).

    Shares :func:`_oriented_wedges` with :func:`triangle_count`, but
    each closed wedge keeps its full ``(u, v, w)`` triple so every
    triangle credits all three corners (one explode + one count).  The
    coefficient is integer-nano via exact BIGINT ratio — reproducible
    in SQL.  Isolated and degree-1 nodes report coefficient 0.

    ``max_wedges_per_node`` (default off = exact, bit-identical output):
    the super-node dial — the wedge table is the whole cost of this
    operator, and on dense graphs one hub can own millions of wedges.
    With the cap, centers over budget enumerate only ``C(k,2) <= cap``
    hash-sampled wedges whose closed hits are weight-scaled back
    (:func:`_capped_wedges`); ``triangles`` becomes the HALF_UP estimate,
    the denominator (true degree) stays exact, and an extra ``approx``
    boolean column flags every node whose count CAN deviate from exact:
    capped centers and every undirected neighbor of one (any triangle
    crediting a node through a capped center u has that node adjacent
    to u, so this is the complete deviation set — including nodes whose
    only triangles were sampled OUT and received no credit at all).
    ``approx = false`` therefore guarantees an exact row.  Deterministic
    and engine-portable: the sample ranking is a sha256 hash, all
    weights are integer MICRO units.
    """
    if max_wedges_per_node is None:
        _, deg, oriented, wedges = _oriented_wedges(edges, src, dst)
        tri = _closing_probe(wedges, oriented, "left_semi")
        per_node = (
            tri.select(F.explode(F.array("u", "v", "w")).alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("triangles"))
        )
        deg_named = deg.select("id", F.col("deg").alias("degree"))
        coeff = F.when(
            F.col("degree") >= 2,
            F.expr("(2 * triangles * 1000000000L) div (degree * (degree - 1))"),
        ).otherwise(F.lit(0)).cast("bigint")
        # coalesce triangles to 0 BEFORE the coefficient expression — a
        # degree>=2 node with no triangles would otherwise propagate the
        # left-join NULL through the div and report NULL instead of 0
        return (
            deg_named.join(per_node, "id", "left")
            .withColumn("triangles", F.coalesce("triangles", F.lit(0)))
            .select("id", "degree", "triangles", coeff.alias("coefficient_nano"))
        )
    und, deg, oriented, wedges, capped_centers = _capped_wedges(
        edges, src, dst, max_wedges_per_node
    )
    tri = _closing_probe(wedges, oriented, "left_semi")
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("id"), "_w6")
        .groupBy("id")
        .agg(F.sum("_w6").alias("_t6"))
    )
    deg_named = deg.select("id", F.col("deg").alias("degree"))
    # the complete may-deviate set: capped centers plus their undirected
    # neighbors (capped_centers is tiny — nodes with oriented out-degree
    # > k, O(m / k) of them — so both semi-joins broadcast)
    approx_ids = (
        capped_centers.select(F.col("u").alias("id"))
        .unionAll(
            und.join(
                capped_centers.select(F.col("u").alias("a")), "a", "left_semi"
            ).select(F.col("b").alias("id"))
        )
        .unionAll(
            und.join(
                capped_centers.select(F.col("u").alias("b")), "b", "left_semi"
            ).select(F.col("a").alias("id"))
        )
        .distinct()
    )
    out = (
        deg_named.join(per_node, "id", "left")
        .join(approx_ids.withColumn("_ap", F.lit(True)), "id", "left")
        .withColumn("_t6", F.coalesce("_t6", F.lit(0)))
    )
    # per-corner credits have sampling variance (the global mass is
    # conserved — mean coefficient stays exact — but one node's estimate
    # can overshoot its C(degree, 2) ceiling), so clamp at 1.0
    coeff = F.when(
        F.col("degree") >= 2,
        F.least(
            F.expr("(2 * _t6 * 1000) div (degree * (degree - 1))"),
            F.lit(NANO),
        ),
    ).otherwise(F.lit(0)).cast("bigint")
    return out.select(
        "id",
        "degree",
        F.expr(f"(2 * _t6 + {MICRO}) div {2 * MICRO}").cast("bigint").alias("triangles"),
        coeff.alias("coefficient_nano"),
        F.col("_ap").isNotNull().alias("approx"),
    )


def label_propagation(
    labels: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    label_col: str = "label",
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Semi-supervised label spreading over an undirected graph: seed
    labels stay clamped; each round every node adopts the MAJORITY
    label among its labeled neighbors (ties -> smallest label; a node
    with no labeled neighbors keeps its previous label).  The curation
    use case: spread a small set of human quality/domain labels to
    unlabeled near-duplicate / similarity neighbors.

    ``labels`` is ``(id_col, label_col)`` with NULL for unlabeled rows.
    Returns ``(id, label, is_seed)``; after ``iters`` rounds unreached
    nodes keep NULL.  Deterministic and engine-exact: votes are integer
    counts, tie-breaks total-ordered, no floats anywhere.

    Scale shape: per iteration one edge-to-labels join + one grouped
    vote count + a WindowGroupLimit majority pick — pagerank's cost
    profile; lineage truncated per round."""
    e = _sym_edges(edges, src, dst)
    seeds = labels.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("_seed")
    ).localCheckpoint(eager=False)
    cur = seeds.select("id", F.col("_seed").alias("_l"))
    from pyspark.sql import Window

    for _ in range(iters):
        votes = (
            e.join(
                cur.filter(F.col("_l").isNotNull()).select(
                    F.col("id").alias("_d"), F.col("_l").alias("_nl")
                ),
                "_d",
            )
            .groupBy(F.col("_s").alias("id"), F.col("_nl"))
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        # majority pick stays a row_number window (r11 probe: the
        # struct-min argmax alternative compiles to SortAggregate —
        # struct buffers are not hash-aggregable — i.e. TWO sorts for
        # the one the window already pays, and the window plan gets
        # map-side WindowGroupLimit top-1 pre-filtering anyway)
        w = Window.partitionBy("id").orderBy(F.col("_n").desc(), F.col("_nl").asc())
        best = (
            votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("id", F.col("_nl").alias("_best"))
        )
        # seeds IS the node table (one row per node, _seed NULL for
        # unlabeled) — the old nodes-join-seeds left join rebuilt it
        # from itself, one redundant join per iteration (r11)
        cur = (
            seeds.join(best, "id", "left")
            .join(cur.select("id", F.col("_l").alias("_prev")), "id", "left")
            .select(
                "id",
                F.coalesce(F.col("_seed"), F.col("_best"), F.col("_prev")).alias("_l"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        cur.join(seeds, "id")
        .select(
            "id",
            F.col("_l").alias(label_col),
            F.col("_seed").isNotNull().alias("is_seed"),
        )
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` synchronous rounds of
    "remove every node whose degree in the surviving subgraph is
    < ``k``".  Returns ``(id, removed_round)`` with ``removed_round``
    in ``1..rounds`` for peeled nodes and ``0`` for survivors — the
    standard coreness lower bound (a node surviving all rounds is in
    the k-core unless peeling had not yet converged; fixed ``rounds``
    keeps the plan static and the result engine-exact, same contract
    as ``pagerank(iters=...)``).

    Curation use: the k-core of a similarity / citation / co-purchase
    graph isolates the densely connected "core" documents; shells
    (low ``removed_round``) are near-isolated rows.

    Scale shape: per round two semi-joins of the edge table against
    the shrinking alive-node set (broadcast when under
    ``NODE_BROADCAST_LIMIT`` — the edge table then never shuffles)
    plus one grouped degree count; alive sets are checkpointed so each
    round's lineage is one join deep.  Purely integer — no floats.
    """
    if k < 1 or rounds < 1:
        raise ValueError("k_core requires k >= 1 and rounds >= 1")
    e = _sym_edges(edges, src, dst)
    alive = (
        e.select(F.col("_s").alias("id")).distinct().localCheckpoint(eager=False)
    )
    # broadcast gate decided ONCE: alive only shrinks, so if the initial
    # node set fits under the gate every later round's does too (and if
    # it does not, the first join must shuffle regardless — AQE can
    # still flip later rounds to runtime broadcasts as they shrink).
    # One driver count instead of one per round.
    n_alive = alive.count()
    bcast = n_alive <= NODE_BROADCAST_LIMIT
    removed = None
    for r in range(1, rounds + 1):
        a = F.broadcast(alive) if bcast else alive
        deg = (
            e.join(a.select(F.col("id").alias("_s")), "_s", "left_semi")
            .join(a.select(F.col("id").alias("_d")), "_d", "left_semi")
            .groupBy(F.col("_s").alias("id"))
            .agg(F.count(F.lit(1)).alias("_deg"))
        )
        # survivors is consumed TWICE (the peel anti-join of this round
        # and the next round's degree join) — checkpoint it so each
        # round's degree join computes once; un-checkpointed, the final
        # union's peeled branches re-executed every round's join a
        # second time.
        survivors = (
            deg.filter(F.col("_deg") >= k).select("id").localCheckpoint(eager=False)
        )
        peeled = alive.join(survivors, "id", "left_anti").select(
            "id", F.lit(r).alias("removed_round")
        )
        removed = peeled if removed is None else removed.unionAll(peeled)
        alive = survivors
    out = removed.unionAll(alive.select("id", F.lit(0).alias("removed_round")))
    return out


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient: the Pearson correlation of
    (degree(u), degree(v)) over the directed edge list of the
    symmetrized graph (Newman 2002, "Assortative mixing in networks"
    — public formula).  Positive = hubs link to hubs (social nets);
    negative = hub-and-spoke (supply/web graphs).  A one-number graph
    health check before investing in heavier graph curation.

    Engine-exact: all moment sums run as DECIMAL(38,0) integer
    aggregation (order-independent, overflow-safe); the only float ops
    are the final three IEEE-deterministic divisions/sqrt on exact
    integers, rounded to 6 places.

    Moment algebra (r10): on the SYMMETRIZED edge list every node
    appears as ``_s`` in exactly ``deg`` edges and as ``_d`` in exactly
    ``deg`` edges, so four of the five Newman moment sums collapse to
    degree-table aggregates —
    ``m = Σ deg``, ``sx = sy = Σ deg²``, ``sx2 = sy2 = Σ deg³`` —
    and only the cross moment ``sxy = Σ_edges deg(u)·deg(v)`` needs the
    edge-sized join.  The edge pass therefore carries ONE decimal
    multiply-accumulate instead of five, and the degree moments ride the
    same 1-row job that decides the broadcast gate (node-sized input).
    Value-identical by construction: every sum is the same exact
    integer, and ``vx == vy`` exactly, so ``sqrt(vx)*sqrt(vx)`` is the
    identical IEEE double the old ``sqrt(vx)*sqrt(vy)`` produced.

    Returns one row ``(m_edges, r_assort)``.
    """
    # NOT _sym_edges (r11): this entry's upstream is a bare column
    # select, so pre-checkpointing the input costs more than the one
    # re-scan it saves (warm A/B: 1.42/1.55 -> 1.59/1.58 with the
    # helper, both cycles) — the inline two-branch form stays
    e = (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .unionAll(
            edges.filter(F.col(src) != F.col(dst)).select(
                F.col(dst).alias("_s"), F.col(src).alias("_d")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = e.groupBy(F.col("_s").alias("id")).agg(
        F.count(F.lit(1)).alias("_deg")
    ).localCheckpoint(eager=False)
    dec = "decimal(38,0)"
    dd = F.col("_deg").cast(dec)
    mom = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce(F.sum(dd), F.lit(0).cast(dec)).alias("m"),
        F.sum(dd * dd).alias("sx"),
        F.sum(dd * dd * dd).alias("sx2"),
    ).collect()[0]
    d = F.broadcast(deg) if mom["n_nodes"] <= NODE_BROADCAST_LIMIT else deg
    sxy_df = (
        e.join(d.select(F.col("id").alias("_s"), F.col("_deg").alias("_dx")), "_s")
        .join(d.select(F.col("id").alias("_d"), F.col("_deg").alias("_dy")), "_d")
        .agg(
            F.sum(F.col("_dx").cast(dec) * F.col("_dy").cast(dec)).alias("sxy")
        )
    )
    m = F.lit(mom["m"]).cast(dec)
    sx = F.lit(mom["sx"]).cast(dec)
    sx2 = F.lit(mom["sx2"]).cast(dec)
    num = (m * F.col("sxy") - sx * sx).cast("double")
    vx = (m * sx2 - sx * sx).cast("double")
    den = F.sqrt(vx) * F.sqrt(vx)
    # regular graph -> zero degree variance -> r undefined: NULL, not
    # a divide-by-zero (ANSI mode errors on 0/0)
    r = F.when(den != F.lit(0.0), F.round(num / den, 6))
    return sxy_df.select(
        m.cast("bigint").alias("m_edges"),
        r.alias("r_assort"),
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    topk: int = 50,
    max_wedges_per_node: Optional[int] = None,
) -> DataFrame:
    """Resource-Allocation link prediction (Zhou/Lu/Zhang 2009): score
    each NON-adjacent node pair by ``sum over common neighbors z of
    1/deg(z)`` — the integer-exact cousin of Adamic-Adar (``1/log deg``
    needs libm, ``1/deg`` quantizes to micro-units exactly, and the two
    rank near-identically in the published benchmarks).

    Unlike the triangle family, EVERY wedge carries score mass — the
    degree-ordered orientation (which enumerates each wedge only at its
    degree-lowest endpoint) cannot be reused, so wedges enumerate over
    the full adjacency: per center ``z`` the fan-out is ``C(deg(z), 2)``
    and ``max_wedges_per_node`` is the scale dial that matters — capped
    centers keep ``k`` sha256-ranked neighbors (deterministic,
    layout-independent) and each surviving wedge carries the integer
    up-weight ``(C(d,2) * 1e6) div C(k,2)``, the same estimator as
    :func:`_capped_wedges`.  Each wedge ``(z; x, y)`` contributes
    ``w6 div deg(z)`` micro-units, summed per pair; existing edges leave
    via one anti-join (broadcast under ``EDGE_BROADCAST_LIMIT``); pair
    fan-out is a grouped-array explode per center (one shuffle, in-task
    codegen — see :func:`_wedge_fanout`) rather than a self-join.
    Top-k with full deterministic tie-break.

    Returns ``(x, y, n_common, ra_score_q6)`` — ``ra_score_q6`` is the
    RA score in integer micro-units (estimates under a wedge cap, exact
    otherwise).

    Behavioral reference: the reference engine exposes graph-adjacent
    scoring only through generic SQL; this is a Spark-native extension
    of the dataops graph family (SURVEY §2.L).
    """
    from pyspark.sql import Window

    a, b = F.col(src), F.col(dst)
    und = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    adj = und.select(F.col("a").alias("z"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("z"), F.col("a").alias("n"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(
        eager=False
    )
    # one node-sized stats job decides BOTH gates: the degree-table
    # broadcast and the packed pair key (r10, same bijective single-long
    # pack as _closing_probe: the candidate-pair aggregation shuffles
    # one 8-byte key instead of two, and the existing-edge anti-join
    # builds a LongHashedRelation).  z spans every node id (adj holds
    # both directions), so its min/max bound x and y below.
    id_type = und.schema["a"].dataType
    integral = id_type.typeName() in ("long", "integer", "short", "byte")
    if integral:
        _st = deg.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("z").alias("lo"),
            F.max("z").alias("hi"),
        ).collect()[0]
        n_nodes, _lo, _hi = _st["n"], _st["lo"], _st["hi"]
    else:
        n_nodes, _lo, _hi = deg.count(), None, None
    packable = _lo is not None and _hi is not None and _lo >= 0 and _hi <= _PACK_MAX
    d = F.broadcast(deg) if n_nodes <= NODE_BROADCAST_LIMIT else deg
    az = adj.join(d, "z")
    if max_wedges_per_node is not None:
        k = _wedge_cap_k(max_wedges_per_node)
        ck2 = k * (k - 1) // 2
        hash_order = F.sha2(
            F.concat_ws(
                ":", F.col("z").cast("string"), F.col("n").cast("string")
            ),
            256,
        )
        w = Window.partitionBy("z").orderBy(hash_order, F.col("n"))
        capped = az.filter(F.col("deg") > k)
        kept = (
            az.filter(F.col("deg") <= k)
            .unionByName(
                capped.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k)
                .drop("_rn")
            )
            .withColumn(
                "_w6",
                F.when(
                    F.col("deg") <= F.lit(k), F.lit(MICRO).cast("bigint")
                ).otherwise(
                    F.expr(f"((deg * (deg - 1)) div 2 * {MICRO}L) div {ck2}")
                ),
            )
        )
    else:
        kept = az.withColumn("_w6", F.lit(MICRO).cast("bigint"))
    # grouped-array pair fan-out (see _wedge_fanout): one shuffle groups
    # the kept neighborhood per center — deg and _w6 are per-center
    # constants so they ride the group key — then both pair legs explode
    # in-task.  Neighbor lists are distinct per center, so unordered
    # position pairs + least/greatest reproduce the value-ordered join.
    arr = kept.groupBy("z", "deg", "_w6").agg(
        F.collect_list("n").alias("_ns")
    )
    exploded = (
        arr.select(
            "deg", "_w6", F.posexplode("_ns").alias("_i", "_nv"), F.col("_ns")
        )
        .select("deg", "_w6", "_i", "_nv", F.posexplode("_ns").alias("_j", "_nw"))
        .filter(F.col("_i") < F.col("_j"))
    )
    c6 = F.expr("_w6 div deg").alias("_c6")
    n_edges = und.count()
    if packable:
        # single-long candidate key: least in the high 32 bits (bijective
        # on the gated 31-bit non-negative domain), unpacked after the
        # anti-join — identical groups, identical survivors, identical
        # (x, y) values/dtype
        pair_pk = _pack_pair(F.least("_nv", "_nw"), F.greatest("_nv", "_nw"))
        scores = (
            exploded.select(pair_pk.alias("_pk"), c6)
            .groupBy("_pk")
            .agg(
                F.count(F.lit(1)).alias("n_common"),
                F.sum("_c6").alias("ra_score_q6"),
            )
        )
        existing = und.select(_pack_pair("a", "b").alias("_pk"))
        if n_edges <= EDGE_BROADCAST_LIMIT:
            existing = F.broadcast(existing)
        cand = (
            scores.join(existing, "_pk", "left_anti")
            .select(
                F.shiftright(F.col("_pk"), 32).cast(id_type).alias("x"),
                (F.col("_pk") % F.lit(1 << 32)).cast(id_type).alias("y"),
                "n_common",
                "ra_score_q6",
            )
        )
        return cand.orderBy(
            F.desc("ra_score_q6"), F.col("x"), F.col("y")
        ).limit(topk)
    contrib = exploded.select(
        F.least("_nv", "_nw").alias("x"),
        F.greatest("_nv", "_nw").alias("y"),
        c6,
    )
    scores = contrib.groupBy("x", "y").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum("_c6").alias("ra_score_q6"),
    )
    existing = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    if n_edges <= EDGE_BROADCAST_LIMIT:
        existing = F.broadcast(existing)
    cand = scores.join(existing, ["x", "y"], "left_anti")
    return cand.orderBy(
        F.desc("ra_score_q6"), F.col("x"), F.col("y")
    ).limit(topk)
