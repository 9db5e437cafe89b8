"""As-of / range join operator tests."""

import pytest
from pyspark.sql import functions as F

from dlt_spark.dataset.joins import asof_join, range_join


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [
            ("A", "2024-01-01 10:00:00", 100.0),
            ("A", "2024-01-01 10:05:00", 101.0),
            ("B", "2024-01-01 10:02:00", 50.0),
        ],
        "sym string, ts string, px double",
    ).withColumn("ts", F.to_timestamp("ts"))


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [
            ("A", "2024-01-01 10:03:00", 10),
            ("A", "2024-01-01 10:05:00", 20),  # tie: matches 10:05 quote
            ("A", "2024-01-01 09:00:00", 5),   # before any quote -> NULL
            ("B", "2024-01-01 10:10:00", 7),
        ],
        "sym string, ts string, qty int",
    ).withColumn("ts", F.to_timestamp("ts"))


def test_asof_backward(trades, quotes):
    out = asof_join(trades, quotes, on="ts", by=["sym"])
    rows = {(r["sym"], r["qty"]): r["r_px"] for r in out.collect()}
    assert rows[("A", 10)] == 100.0
    assert rows[("A", 20)] == 101.0  # inclusive tie
    assert rows[("A", 5)] is None
    assert rows[("B", 7)] == 50.0


def test_asof_tolerance(trades, quotes):
    out = asof_join(trades, quotes, on="ts", by=["sym"], tolerance="2 MINUTES")
    rows = {(r["sym"], r["qty"]): r["r_px"] for r in out.collect()}
    assert rows[("A", 10)] is None  # 10:03 vs 10:00 exceeds 2min
    assert rows[("A", 20)] == 101.0
    assert rows[("B", 7)] is None  # 10:10 vs 10:02


def test_asof_forward(trades, quotes):
    out = asof_join(trades, quotes, on="ts", by=["sym"], direction="forward")
    rows = {(r["sym"], r["qty"]): r["r_px"] for r in out.collect()}
    assert rows[("A", 5)] == 100.0  # next quote after 09:00
    assert rows[("A", 10)] == 101.0
    assert rows[("B", 7)] is None  # no later quote


def test_asof_single_shuffle(trades, quotes):
    out = asof_join(trades, quotes, on="ts", by=["sym"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join(spark):
    points = spark.createDataFrame(
        [(1, "2024-01-05 00:00:00"), (2, "2024-01-20 00:00:00"), (3, "2024-02-05 00:00:00")],
        "pid long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    ranges = spark.createDataFrame(
        [(100, "2024-01-01 00:00:00", "2024-01-10 00:00:00"),
         (200, "2024-01-01 00:00:00", "2024-02-01 00:00:00")],
        "rid long, start string, stop string",
    ).withColumn("start", F.to_timestamp("start")).withColumn("stop", F.to_timestamp("stop"))
    out = range_join(points, "ts", ranges, "start", "stop", bucket_seconds=7 * 86400)
    pairs = {(r["pid"], r["rid"]) for r in out.collect()}
    assert pairs == {(1, 100), (1, 200), (2, 200)}


def test_interval_overlap_join_matches_theta(spark):
    """Bucketized interval-overlap join == the naive theta join, at any
    bucket width (buckets only prune, never change the result)."""
    from dlt_spark.dataset.joins import interval_overlap_join
    from pyspark.sql import functions as F

    a = spark.createDataFrame(
        [(i, 1700000000 + i * 500, 1700000000 + i * 500 + 900) for i in range(50)],
        "aid long, s long, e long",
    ).select("aid", F.timestamp_seconds("s").alias("a_s"), F.timestamp_seconds("e").alias("a_e"))
    b = spark.createDataFrame(
        [(j, 1700000000 + j * 777, 1700000000 + j * 777 + 400) for j in range(40)],
        "bid long, s long, e long",
    ).select("bid", F.timestamp_seconds("s").alias("b_s"), F.timestamp_seconds("e").alias("b_e"))
    # include a duplicated right row: multiplicity must match the theta
    # join (a distinct()-based dedup would collapse it)
    b = b.unionAll(b.filter(F.col("bid") == 7))
    expected = sorted(
        (r["aid"], r["bid"])
        for r in a.crossJoin(b)
        .filter((F.col("a_s") < F.col("b_e")) & (F.col("b_s") < F.col("a_e")))
        .collect()
    )
    for width in (300, 1000, 5000):
        got = sorted(
            (r["aid"], r["bid"])
            for r in interval_overlap_join(a, "a_s", "a_e", b, "b_s", "b_e", width).collect()
        )
        assert got == expected, f"width={width}"


def test_point_in_time_join_versions(spark):
    """Facts pick the dimension version valid at their timestamp:
    half-open [from, to) intervals, NULL valid_to = current version,
    inner drops facts outside any interval / left keeps them."""
    from dlt_spark.dataset.joins import point_in_time_join

    dim = spark.createDataFrame(
        [
            (1, "bronze", "2024-01-01", "2024-02-01"),
            (1, "gold", "2024-02-01", None),
            (2, "silver", "2024-01-01", None),
        ],
        "k long, tier string, _dlt_valid_from string, _dlt_valid_to string",
    ).selectExpr(
        "k", "tier",
        "CAST(_dlt_valid_from AS TIMESTAMP) AS _dlt_valid_from",
        "CAST(_dlt_valid_to AS TIMESTAMP) AS _dlt_valid_to",
    )
    fact = spark.createDataFrame(
        [
            (10, 1, "2024-01-15"),  # bronze window
            (11, 1, "2024-02-01"),  # boundary: belongs to gold (half-open)
            (12, 2, "2024-03-01"),  # open current version
            (13, 1, "2023-12-31"),  # before any version
        ],
        "fid long, k long, ts string",
    ).selectExpr("fid", "k", "CAST(ts AS TIMESTAMP) AS ts")
    got = {
        r["fid"]: r["tier"]
        for r in point_in_time_join(fact, dim, ["k"], "ts").collect()
    }
    assert got == {10: "bronze", 11: "gold", 12: "silver"}
    left = point_in_time_join(fact, dim, ["k"], "ts", how="left")
    got_left = {r["fid"]: r["tier"] for r in left.collect()}
    assert got_left[13] is None and len(got_left) == 4


def test_point_in_time_join_broadcast_gate(spark):
    """broadcast_dim=None leaves the join strategy to the planner: a
    small dim is broadcast from Catalyst's own estimate with no hint, an
    over-threshold dim is not; True forces the hint regardless."""
    from dlt_spark.dataset.joins import point_in_time_join

    # dim must come from a source with REAL Catalyst stats (spark.range)
    # — a createDataFrame LogicalRDD reports Long.Max and the planner
    # never broadcasts it from its estimate
    dim = spark.range(2).selectExpr(
        "id AS k", "CAST(id AS STRING) AS tier",
        "TIMESTAMP'2024-01-01' AS _dlt_valid_from",
        "CAST(NULL AS TIMESTAMP) AS _dlt_valid_to",
    )
    fact = spark.createDataFrame(
        [(10, 1, "2024-02-01")], "fid long, k long, ts string"
    ).selectExpr("fid", "k", "CAST(ts AS TIMESTAMP) AS ts")

    def _opt(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    def _plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # small dim under default threshold: the planner broadcasts, unhinted
    small = point_in_time_join(fact, dim, ["k"], "ts")
    assert "strategy=broadcast" not in _opt(small), _opt(small)
    assert "BroadcastHashJoin" in _plan(small), _plan(small)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try:
        # over-threshold estimate: nothing forces a broadcast
        gated = point_in_time_join(fact, dim, ["k"], "ts")
        assert "strategy=broadcast" not in _opt(gated), _opt(gated)
        assert "BroadcastHashJoin" not in _plan(gated), _plan(gated)
        # explicit True still forces it
        forced = point_in_time_join(fact, dim, ["k"], "ts", broadcast_dim=True)
        assert "strategy=broadcast" in _opt(forced)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
