"""As-of and range joins — operators Spark lacks as built-ins.

The reference delegates arbitrary joins (theta, as-of, range) to ibis on
the destination engine (``dlt/dataset/relation.py:293-310``); DuckDB has
``ASOF JOIN`` natively.  Here they are compositions of existing DataFrame
ops chosen for scale:

- :func:`asof_join` uses the **union + window** plan: tag both sides,
  union, one window partitioned by key ordered by time carrying the last
  right-side values forward, filter back to left rows.  Exactly ONE
  shuffle on the join key — versus the naive
  ``left.join(right, cond<=).groupBy(max)`` which shuffles twice and
  explodes the intermediate.  Skew dial: the key partitioning is the same
  as any groupBy — salt or AQE as usual.
- :func:`range_join` equi-joins on **bucketized ranges** before the
  precise interval filter: each right-side interval lands in the buckets
  it overlaps, each left row probes its bucket — turning the O(n*m)
  theta-join into an equi-join with bounded fan-out (the classic
  bucketed range-join optimization Databricks ships as a hint).
"""

from __future__ import annotations

import functools
from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Optional[Sequence[str]] = None,
    tolerance: Optional[str] = None,
    direction: str = "backward",
    right_prefix: str = "r_",
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right.on <= left.on`` (direction='backward'; 'forward' takes the
    next one) within optional ``tolerance`` (an INTERVAL literal string),
    matching per ``by`` keys.  DuckDB-oracle equivalent: ``ASOF JOIN``.
    """
    by = list(by or [])
    lcols = left.columns
    rpayload = [c for c in right.columns if c not in by and c != on]

    lt = left.withColumn("_side", F.lit(1))
    rt = right.select(
        *by,
        F.col(on),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"{right_prefix}{c}") for c in rpayload],
    )
    for c in lcols:
        if c not in by and c != on:
            rt = rt.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    for c in rpayload:
        lt = lt.withColumn(f"{right_prefix}{c}", F.lit(None).cast(right.schema[c].dataType))
    unioned = lt.unionByName(rt.select(*lt.columns))

    asc = direction == "backward"
    order = [F.col(on).asc() if asc else F.col(on).desc(), F.col("_side").asc()]
    w = Window.partitionBy(*[F.col(b) for b in by]).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    carried = unioned
    for c in rpayload:
        carried = carried.withColumn(
            f"{right_prefix}{c}", F.last(F.col(f"{right_prefix}{c}"), ignorenulls=True).over(w)
        )
    carried = carried.withColumn(
        "_match_ts", F.last(F.when(F.col("_side") == 0, F.col(on)), ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("_side") == 1)
    if tolerance is not None:
        if asc:
            in_tol = F.col("_match_ts") >= F.col(on) - F.expr(f"INTERVAL {tolerance}")
        else:
            in_tol = F.col("_match_ts") <= F.col(on) + F.expr(f"INTERVAL {tolerance}")
        for c in rpayload:
            out = out.withColumn(
                f"{right_prefix}{c}", F.when(in_tol, F.col(f"{right_prefix}{c}"))
            )
        out = out.withColumn("_match_ts", F.when(in_tol, F.col("_match_ts")))
    return out.drop("_side").withColumnRenamed("_match_ts", f"{right_prefix}{on}")


def range_join(
    left: DataFrame,
    point_col: str,
    right: DataFrame,
    range_start: str,
    range_end: str,
    bucket_width: Optional[Column] = None,
    bucket_seconds: Optional[int] = None,
    how: str = "inner",
) -> DataFrame:
    """Join left rows whose ``point_col`` falls in
    ``[right.range_start, right.range_end)`` via bucketized equi-join.

    ``bucket_seconds`` (timestamp ranges) controls the bucket width —
    pick ~ the median interval length so intervals span O(1) buckets.
    """
    if bucket_seconds is None:
        raise ValueError("bucket_seconds is required for timestamp ranges")
    b = F.lit(bucket_seconds)
    lb = (F.unix_timestamp(F.col(point_col)) / b).cast("long").alias("_bucket")
    lt = left.withColumn("_bucket", lb)
    start_b = (F.unix_timestamp(F.col(range_start)) / b).cast("long")
    end_b = (F.unix_timestamp(F.col(range_end)) / b).cast("long")
    rt = right.withColumn(
        "_bucket", F.explode(F.sequence(start_b, end_b))
    )
    joined = lt.join(rt, on="_bucket", how=how).filter(
        (F.col(point_col) >= F.col(range_start)) & (F.col(point_col) < F.col(range_end))
    )
    return joined.drop("_bucket")


def interval_overlap_join(
    left: DataFrame,
    left_start: str,
    left_end: str,
    right: DataFrame,
    right_start: str,
    right_end: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Join rows whose half-open intervals overlap
    (``l.start < r.end AND r.start < l.end``) without the quadratic
    theta-join: both sides explode to the time buckets their interval
    covers, pair up by bucket equi-join, dedup, and verify the exact
    predicate.  Pick ``bucket_seconds`` near the median interval length
    so each interval spans O(1) buckets — cost is overlap-output-sized,
    not |L|x|R|.  Columns must be disjointly named (alias beforehand).

    Row multiplicity matches the theta join exactly: a pair meeting in
    several buckets is emitted only from the FIRST bucket both intervals
    cover (``max`` of their start buckets) — a dedup that, unlike
    ``distinct()``, cannot collapse genuinely duplicate input rows."""
    b = F.lit(bucket_seconds)
    lb0 = (F.unix_timestamp(F.col(left_start)) / b).cast("long")
    rb0 = (F.unix_timestamp(F.col(right_start)) / b).cast("long")
    lt = left.withColumn("_b0_l", lb0).withColumn(
        "_bucket",
        F.explode(
            F.sequence(lb0, (F.unix_timestamp(F.col(left_end)) / b).cast("long"))
        ),
    )
    rt = right.withColumn("_b0_r", rb0).withColumn(
        "_bucket",
        F.explode(
            F.sequence(rb0, (F.unix_timestamp(F.col(right_end)) / b).cast("long"))
        ),
    )
    joined = (
        lt.join(rt, "_bucket")
        .filter(F.col("_bucket") == F.greatest(F.col("_b0_l"), F.col("_b0_r")))
        .filter(
            (F.col(left_start) < F.col(right_end))
            & (F.col(right_start) < F.col(left_end))
        )
        .drop("_bucket", "_b0_l", "_b0_r")
    )
    return joined


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    salt_col: str,
    num_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: spread each hot join key over
    ``num_salts`` shuffle partitions.

    The left (large, skewed) side gets a deterministic salt from
    ``salt_col`` (any high-cardinality column — a primary key; NOT the
    join key, whose whole problem is low entropy); the right side is
    replicated once per salt value.  Joining on ``on + [_salt]`` is
    row-for-row identical to the plain equi-join, but a key holding 30%
    of the table now lands on ``num_salts`` reducers instead of one.

    Use when AQE's skew-join split can't help: broadcast is too big,
    the skew is in a shuffled hash join, or the downstream needs the
    salted partitioning reused.  Cost: the right side shuffles
    ``num_salts``× its size — keep it the smaller input.  ``how``
    supports inner/left (right/full would need the unsalted right
    rows back)."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    on = list(on)
    lsalt = F.pmod(F.xxhash64(F.col(salt_col), F.lit("salt")), F.lit(num_salts))
    l = left.withColumn("_salt", lsalt)
    r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(num_salts)]))
    )
    return l.join(r, on + ["_salt"], how).drop("_salt")


def point_in_time_join(
    fact: DataFrame,
    dim: DataFrame,
    on: "Sequence[str]",
    ts_col: str,
    valid_from: str = "_dlt_valid_from",
    valid_to: str = "_dlt_valid_to",
    how: str = "inner",
    broadcast_dim: "bool | None" = None,
) -> DataFrame:
    """Join facts to the dimension version VALID AT each fact's
    timestamp — the canonical downstream read of an scd2 table
    (reference scd2 disposition writes `_dlt_valid_from`/`_dlt_valid_to`;
    an open `valid_to` IS NULL marks the current version).  Interval
    semantics are half-open ``[valid_from, valid_to)``, matching the
    scd2 writer's retirement boundary.

    Scale shape: dimensions are versions-per-key-sized — orders of
    magnitude smaller than facts — but "smaller" is not "broadcastable".
    ``broadcast_dim=None`` (default) and ``False`` both leave the choice
    to the planner: Catalyst broadcasts the dim when its size estimate is
    under ``spark.sql.autoBroadcastJoinThreshold`` and AQE can still
    convert at runtime, so an oversized scd2 dimension is never forced
    onto every executor.  Pass True to force the hint regardless of
    size.  Without a broadcast, the equi-key part of the predicate
    drives a shuffled join with the interval as a post-filter — never a
    cartesian."""
    if how not in ("inner", "left"):
        raise ValueError(f"point_in_time_join supports inner/left, got {how!r}")
    on = list(on)
    d = F.broadcast(dim) if broadcast_dim else dim
    cond = [fact[k] == d[k] for k in on]
    cond.append(fact[ts_col] >= d[valid_from])
    cond.append(d[valid_to].isNull() | (fact[ts_col] < d[valid_to]))
    joined = fact.join(d, functools.reduce(lambda a, b: a & b, cond), how)
    # drop the dim's duplicate key columns so the output is unambiguous
    for k in on:
        joined = joined.drop(d[k])
    return joined
