"""Incremental unit tests beyond the pipeline E2E — F5 fixture coverage
(reference tests/extract/test_incremental.py, test_lag.py)."""

import datetime as dt
import decimal

import pytest
from pyspark.sql import functions as F

from dlt_spark.incremental import Incremental, incremental


@pytest.fixture(scope="module")
def clicks(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (2, "2024-01-02 00:00:00", 2.0),
        (3, "2024-01-02 00:00:00", 3.0),  # boundary twin
        (4, "2024-01-03 00:00:00", 4.0),
        (5, None, 5.0),
    ]
    return spark.createDataFrame(
        rows, "id long, created_at string, value double"
    ).withColumn("created_at", F.to_timestamp("created_at"))


def test_open_vs_closed_range(clicks):
    base = dict(cursor_path="created_at", initial_value=dt.datetime(2024, 1, 2))
    open_inc = Incremental(**base, range_start="open")
    assert open_inc.apply(clicks).count() == 1  # only id=4
    closed_inc = Incremental(**base, range_start="closed")
    assert closed_inc.apply(clicks).count() == 3  # 2,3,4


def test_min_cursor(clicks):
    # default range_start='closed' (reference default): boundary included
    inc = Incremental("created_at", initial_value=dt.datetime(2024, 1, 2), last_value_func="min")
    assert inc.apply(clicks).count() == 3  # ids 1,2,3 (<= boundary)
    open_inc = Incremental(
        "created_at", initial_value=dt.datetime(2024, 1, 2),
        last_value_func="min", range_start="open",
    )
    assert open_inc.apply(clicks).count() == 1  # id=1 (strictly before)


def test_null_policy_include_exclude(clicks):
    inc = Incremental("created_at", initial_value=dt.datetime(2024, 1, 2), on_cursor_value_missing="include")
    ids = {r["id"] for r in inc.apply(clicks).collect()}
    assert 5 in ids and 4 in ids
    exc = Incremental("created_at", on_cursor_value_missing="exclude")
    assert 5 not in {r["id"] for r in exc.apply(clicks).collect()}


def test_null_policy_raise(clicks):
    inc = Incremental("created_at", on_cursor_value_missing="raise")
    with pytest.raises(ValueError, match="NULL"):
        inc.update_state(clicks)


def test_boundary_dedup_roundtrip(clicks):
    inc = Incremental("created_at", primary_key=["id"], range_start="closed")
    loaded = clicks.filter(F.col("created_at") <= "2024-01-02")
    inc.update_state(loaded)
    assert inc.last_value == dt.datetime(2024, 1, 2)
    assert len(inc.boundary_hashes) == 2  # ids 2,3 at boundary
    # next run re-reads from the boundary (closed) but drops seen rows
    out = inc.apply(clicks.filter(F.col("created_at").isNotNull()))
    assert {r["id"] for r in out.collect()} == {4}


def test_boundary_dedup_row_hash_no_pk(clicks):
    """Default path: no primary key declared — whole-row hash dedup at the
    boundary means a re-run over the same data loads nothing twice."""
    inc = Incremental("created_at")
    loaded = clicks.filter(F.col("created_at") <= "2024-01-02")
    inc.update_state(loaded)
    assert len(inc.boundary_hashes) == 2  # rows 2,3 at boundary (row hash)
    out = inc.apply(clicks.filter(F.col("created_at").isNotNull()))
    assert {r["id"] for r in out.collect()} == {4}
    # a genuinely NEW row at the same boundary value is kept
    extra = clicks.sparkSession.createDataFrame(
        [(99, "2024-01-02 00:00:00", 9.9)], "id long, created_at string, value double"
    ).withColumn("created_at", F.to_timestamp("created_at"))
    out2 = inc.apply(clicks.filter(F.col("created_at").isNotNull()).unionByName(extra))
    assert {r["id"] for r in out2.collect()} == {4, 99}


def test_state_serialization_roundtrip(clicks):
    inc = Incremental("created_at", primary_key=["id"], range_start="closed")
    inc.update_state(clicks.filter(F.col("created_at").isNotNull()))
    blob = inc.to_state()
    inc2 = Incremental("created_at", primary_key=["id"], range_start="closed").restore_state(blob)
    assert inc2.last_value == inc.last_value
    assert inc2.boundary_hashes == inc.boundary_hashes


def test_lag_numeric_and_datetime():
    inc = Incremental("x", initial_value=100, lag=10)
    cond = str(inc.filter_condition())
    assert "90" in cond  # lag widened the window
    inc_ts = Incremental(
        "ts", initial_value=dt.datetime(2024, 1, 1, 12, 0, 0), lag=3600.0
    )
    assert "11:00:00" in str(inc_ts.filter_condition())


def test_boundary_spill_date_cursor(spark, tmp_path):
    """Coarse date cursor: boundary covers 30% of the table -> hash set
    exceeds boundary_hash_limit and spills to a parquet state table; dedup
    then runs as an anti-join, never a driver-side list."""
    import datetime as dt

    n = 100
    rows = [
        (i, dt.date(2024, 1, 1) if i < 70 else dt.date(2024, 1, 2), float(i))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, d date, value double")
    spill = str(tmp_path / "boundary")
    inc = Incremental(
        "d", primary_key=["id"], range_start="closed",
        boundary_hash_limit=10, spill_path=spill,
    )
    inc.update_state(df)
    assert inc.last_value == dt.date(2024, 1, 2)
    assert inc.boundary_spilled and inc.boundary_hashes == []

    # next batch: re-reads boundary date; 30 old boundary rows must drop,
    # 5 new boundary rows and 5 post-boundary rows must survive
    rows2 = (
        [(i, dt.date(2024, 1, 2), float(i)) for i in range(70, 100)]  # seen
        + [(i, dt.date(2024, 1, 2), float(i)) for i in range(100, 105)]  # new @boundary
        + [(i, dt.date(2024, 1, 3), float(i)) for i in range(105, 110)]  # after
    )
    df2 = spark.createDataFrame(rows2, "id long, d date, value double")
    got = {r["id"] for r in inc.apply(df2).collect()}
    assert got == set(range(100, 110))

    # state round-trips the spill pointer (a generation dir under spill)
    state = inc.to_state()
    assert state["boundary_spilled"] and state["boundary_path"].startswith(spill)
    inc2 = Incremental("d", primary_key=["id"]).restore_state(state)
    got2 = {r["id"] for r in inc2.apply(df2).collect()}
    assert got2 == set(range(100, 110))

    # CONSECUTIVE spilled batches: update_state(apply(df2)) puts the
    # previous spill generation in the read lineage; the next spill must
    # write a new generation, not overwrite the path being read
    big2 = spark.createDataFrame(
        [(i, dt.date(2024, 1, 3), float(i)) for i in range(200, 240)],
        "id long, d date, value double",
    )
    inc.update_state(inc.apply(big2))
    assert inc.boundary_spilled
    df3 = spark.createDataFrame(
        [(i, dt.date(2024, 1, 3), float(i)) for i in range(200, 245)]
        + [(i, dt.date(2024, 1, 4), float(i)) for i in range(300, 305)],
        "id long, d date, value double",
    )
    got3 = {r["id"] for r in inc.apply(df3).collect()}
    assert got3 == set(range(240, 245)) | set(range(300, 305))


def test_boundary_spill_small_set_stays_inline(spark):
    import datetime as dt

    rows = [(i, dt.date(2024, 1, 1), float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "id long, d date, value double")
    inc = Incremental("d", primary_key=["id"], boundary_hash_limit=10)
    inc.update_state(df)
    assert not inc.boundary_spilled and len(inc.boundary_hashes) == 5


def test_custom_last_value_func_scalar(spark):
    """Custom monotone callable (dict-free reference parity:
    incremental/__init__.py:163) — ordering by absolute value."""
    rows = [(1, -50), (2, 10), (3, 30), (4, -5)]
    df = spark.createDataFrame(rows, "id long, v long")
    by_abs = lambda vals: max(vals, key=abs)
    inc = Incremental("v", last_value_func=by_abs, primary_key=["id"])
    inc.update_state(df)
    assert inc.last_value == -50
    # next batch: keep only rows with |v| >= 50 (closed start); drop the
    # already-seen boundary row by pk-hash dedup
    rows2 = [(1, -50), (5, 60), (6, 45), (7, -50)]
    df2 = spark.createDataFrame(rows2, "id long, v long")
    got = {r["id"] for r in inc.apply(df2).collect()}
    assert got == {5, 7}  # id=1 seen at boundary, id=6 behind, id=7 new tie

    # builtin callables normalize to the pushdown fast path
    assert Incremental("v", last_value_func=max).last_value_func == "max"
    assert Incremental("v", last_value_func=min).last_value_func == "min"


def test_custom_last_value_func_warns_about_pushdown(caplog):
    """A custom callable forfeits scan pushdown/codegen — construction
    must say so (VERDICT r4 wrong-list #1)."""
    import logging

    with caplog.at_level(logging.WARNING, logger="dlt_spark.incremental"):
        Incremental("v", last_value_func=lambda vals: max(vals, key=abs))
    assert any("forfeits scan" in r.getMessage() for r in caplog.records)

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="dlt_spark.incremental"):
        Incremental("v", last_value_func="max")
        Incremental("v", last_value_func=min)
    assert not caplog.records  # builtins stay silent


def test_custom_last_value_func_tuple_cursor(spark):
    """Composite (tuple) cursor over an array column; lexicographic custom
    ordering; state round-trips through JSON-able lists."""
    rows = [
        (1, [2024, 1]), (2, [2024, 3]), (3, [2023, 12]),
    ]
    df = spark.createDataFrame(rows, "id long, ym array<int>")
    lex = lambda vals: max(vals)
    inc = Incremental("ym", last_value_func=lex, primary_key=["id"])
    inc.update_state(df)
    assert inc.last_value == (2024, 3)

    state = inc.to_state()
    import json as _json
    _json.dumps(state)  # must be serializable
    inc2 = Incremental("ym", last_value_func=lex, primary_key=["id"]).restore_state(state)
    rows2 = [(2, [2024, 3]), (4, [2024, 2]), (5, [2024, 4]), (6, [2024, 3])]
    df2 = spark.createDataFrame(rows2, "id long, ym array<int>")
    got = {r["id"] for r in inc2.apply(df2).collect()}
    assert got == {5, 6}  # 2 seen at boundary, 4 behind, 6 new tie at boundary


def test_custom_func_end_value(spark):
    rows = [(i, i) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, v long")
    inc = Incremental(
        "v", last_value_func=lambda vals: max(vals),
        initial_value=2, end_value=7, range_end="open",
    )
    got = {r["id"] for r in inc.apply(df).collect()}
    assert got == {2, 3, 4, 5, 6}


def test_tuple_cursor_rehydrates_element_types(spark):
    """A (date, int) composite cursor must come back from state as
    (date, int), not (str, int) — a custom func comparing restored vs
    fresh tuples would otherwise TypeError inside the UDF."""
    import datetime as dt2

    lex = lambda vals: max(vals)
    inc = Incremental("c", last_value_func=lex, primary_key=["id"])
    inc.last_value = (dt2.date(2024, 2, 1), 5)
    state = inc.to_state()
    import json as _json
    _json.dumps(state)
    inc2 = Incremental("c", last_value_func=lex).restore_state(state)
    assert inc2.last_value == (dt2.date(2024, 2, 1), 5)
    assert isinstance(inc2.last_value[0], dt2.date)
    assert isinstance(inc2.last_value[1], int)


def test_update_state_on_empty_window_keeps_state(spark):
    inc = Incremental("v", primary_key=["id"], initial_value=5)
    inc.boundary_hashes = ["seen"]
    inc.update_state(spark.createDataFrame([], "id long, v long"))
    assert inc.last_value == 5
    assert inc.boundary_hashes == ["seen"]


def test_update_state_lag_window_behind_cursor(spark):
    """A lag re-read whose newest row is older than ``last_value`` never
    moves the cursor back; no window row sits at the cursor, so the
    boundary set is empty."""
    inc = Incremental("v", primary_key=["id"], initial_value=100, lag=10)
    inc.boundary_hashes = ["seen"]
    window = inc.apply(spark.createDataFrame([(1, 85), (2, 90), (3, 95)], "id long, v long"))
    assert {r["id"] for r in window.collect()} == {2, 3}
    inc.update_state(window)
    assert inc.last_value == 100
    assert inc.boundary_hashes == []


@pytest.mark.parametrize(
    "ddl, values",
    [
        ("date", [dt.date(2024, 1, d) for d in (1, 2, 2, 3)]),
        ("timestamp", [dt.datetime(2024, 1, 1, h) for h in (1, 2, 2, 3)]),
        ("decimal(10,2)", [decimal.Decimal(x) for x in ("1.10", "2.20", "2.20", "3.30")]),
    ],
)
def test_restored_cursor_types_update_state(spark, ddl, values):
    """date / datetime / Decimal cursors survive to_state -> JSON ->
    restore_state and keep advancing: the restored value filters the
    next window, dedups its boundary rows and compares with the new max."""
    import json

    df = spark.createDataFrame(list(enumerate(values)), f"id long, c {ddl}")
    first = Incremental("c", primary_key=["id"])
    first.update_state(df.filter(F.col("id") < 3))  # up to the tied middle value
    assert first.last_value == values[1] and len(first.boundary_hashes) == 2

    inc = Incremental("c", primary_key=["id"]).restore_state(
        json.loads(json.dumps(first.to_state()))
    )
    assert inc.last_value == values[1] and type(inc.last_value) is type(values[1])
    window = inc.apply(df)
    assert {r["id"] for r in window.collect()} == {3}
    inc.update_state(window)
    assert inc.last_value == values[3] and type(inc.last_value) is type(values[3])
    assert len(inc.boundary_hashes) == 1
