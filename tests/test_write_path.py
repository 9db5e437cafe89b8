"""Every table of a load package meets its stored table the same way: a
nested table takes a type change into a variant column and obeys the
root's `data_type` contract like the root does, a frozen contract on any
table of the package raises before any table is written, and a write
that only adds rows commits as an append."""

import json
import os

import pytest
from pyspark.sql import types as T

import dlt_spark
from dlt_spark.schema.schema import SchemaContractViolation

_HINTS = {
    "append": {},
    "replace": dict(write_disposition="replace"),
    "upsert": dict(write_disposition="merge", merge_strategy="upsert", primary_key="id"),
    "delete-insert": dict(write_disposition="merge", merge_strategy="delete-insert",
                          primary_key="id"),
    "scd2": dict(write_disposition="merge", merge_strategy="scd2"),
}


def _pipe(spark, tmp_path, name="wp", data_type=None):
    pipe = dlt_spark.pipeline(name, str(tmp_path / name), "ds", spark=spark)
    if data_type:
        pipe.schema.settings["schema_contract"] = {
            "tables": "evolve", "columns": "evolve", "data_type": data_type}
    return pipe


@pytest.mark.parametrize("disposition", list(_HINTS))
def test_nested_type_change_lands_in_a_variant(spark, tmp_path, disposition):
    """`{x:1}` then `{x:"abc"}` in a nested list: the nested table keeps
    `x bigint` and holds the text in `x__v_text`, as a root column does."""
    pipe = _pipe(spark, tmp_path)
    pipe.run([{"id": 1, "items": [{"x": 1}]}], table_name="orders", **_HINTS[disposition])
    pipe.run([{"id": 1, "items": [{"x": "abc"}]}], table_name="orders", **_HINTS[disposition])
    kids = pipe.dataset()["orders__items"].spark_df()
    assert kids.schema["x"].dataType == T.LongType()
    assert kids.schema["x__v_text"].dataType == T.StringType()
    rows = kids.collect()
    assert [r["x__v_text"] for r in rows if r["x"] is None] == ["abc"]
    assert pipe.schema.tables["orders__items"]["columns"]["x__v_text"].get("variant") is True


@pytest.mark.parametrize("strategy", ["upsert", "scd2"])
def test_nested_data_type_freeze_raises_before_any_write(spark, tmp_path, strategy):
    """A nested type change under `data_type: freeze` raises the contract
    violation; the root table and `_dlt_loads` are left as they were."""
    pipe = _pipe(spark, tmp_path, data_type="freeze")
    pipe.run([{"id": 1, "v": "a", "items": [{"x": 1}]}], table_name="orders", **_HINTS[strategy])
    root_version = pipe.store.history("orders")[-1]["version"]
    with pytest.raises(SchemaContractViolation):
        pipe.run([{"id": 2, "v": "b", "items": [{"x": "abc"}]}], table_name="orders",
                 **_HINTS[strategy])
    assert pipe.store.history("orders")[-1]["version"] == root_version
    assert len(pipe.dataset().load_ids()) == 1


@pytest.mark.parametrize("strategy", ["upsert", "scd2"])
def test_nested_data_type_discard_row_drops_only_that_row(spark, tmp_path, strategy):
    """Under `data_type: discard_row` the nested row whose value no longer
    fits is dropped with its own nested rows; its root and the other
    nested rows land."""
    pipe = _pipe(spark, tmp_path, data_type="discard_row")
    pipe.run([{"id": 1, "v": "a", "items": [{"x": 1, "tags": [{"t": "a"}]}]}],
             table_name="orders", **_HINTS[strategy])
    pipe.run(
        [{"id": 1, "v": "b", "items": [{"x": "abc", "tags": [{"t": "dropped"}]},
                                       {"x": 2, "tags": [{"t": "b"}]}]},
         {"id": 2, "v": "c", "items": [{"x": 3, "tags": [{"t": "c"}]}]}],
        table_name="orders", **_HINTS[strategy],
    )
    ds = pipe.dataset()
    kids = ds["orders__items"].spark_df()
    assert "x__v_text" not in kids.columns
    assert kids.schema["x"].dataType == T.LongType()
    expected = [2, 3] if strategy == "upsert" else [1, 2, 3]  # scd2 keeps history
    assert sorted(r["x"] for r in kids.collect()) == expected
    tags = sorted(r["t"] for r in ds["orders__items__tags"].spark_df().collect())
    assert tags == (["b", "c"] if strategy == "upsert" else ["a", "b", "c"])
    roots = ds["orders"].spark_df().collect()
    if strategy == "scd2":
        roots = [r for r in roots if r["_dlt_valid_to"] is None]
    assert {r["id"]: r["v"] for r in roots} == {1: "b", 2: "c"}


def _dir_listing(path):
    return sorted(
        (f, os.path.getmtime(os.path.join(path, f))) for f in os.listdir(path)
    )


def test_append_with_a_new_column_appends(spark, tmp_path):
    """An append that adds a column commits as an append: the earlier
    snapshot's files are untouched and its rows read the column as
    NULL."""
    pipe = _pipe(spark, tmp_path)
    pipe.run([{"id": 1}, {"id": 2}], table_name="t")
    (first_dir,) = pipe.store._current_meta("t")["paths"]
    before = _dir_listing(first_dir)
    pipe.run([{"id": 3, "note": "n"}], table_name="t")
    assert pipe.store.history("t")[-1]["op"] == "append"
    meta = pipe.store._current_meta("t")
    assert meta["paths"][0] == first_dir and len(meta["paths"]) == 2
    assert _dir_listing(first_dir) == before
    rows = {r["id"]: r["note"] for r in pipe.dataset()["t"].spark_df().collect()}
    assert rows == {1: None, 2: None, 3: "n"}


def test_new_column_reads_back_from_a_snapshot_without_a_recorded_schema(spark, tmp_path):
    """A table written before snapshots recorded their schema reads
    through footer inference; an append that adds a column keeps the
    column readable (inference merges every snapshot dir's footer)."""
    pipe = _pipe(spark, tmp_path)
    pipe.run([{"id": 1}], table_name="t")
    pipe.run([{"id": 2}], table_name="t")
    table_dir = os.path.join(pipe.store.root, "t")
    log_dir = os.path.join(table_dir, "_log")
    for f in [os.path.join(table_dir, "_current")] + [
        os.path.join(log_dir, n) for n in os.listdir(log_dir)
    ]:
        with open(f) as fh:
            meta = json.load(fh)
        meta.pop("schema", None)
        with open(f, "w") as fh:
            json.dump(meta, fh)
    pipe.run([{"id": 3, "note": "n"}], table_name="t")
    assert pipe.store.history("t")[-1]["op"] == "append"
    rows = {r["id"]: r["note"] for r in pipe.dataset()["t"].spark_df().collect()}
    assert rows == {1: None, 2: None, 3: "n"}


def test_insert_only_appends_root_and_children(spark, tmp_path):
    """Insert-only adds the rows of new keys only: the root and its nested
    table both commit as appends, and an existing key keeps its rows."""
    pipe = _pipe(spark, tmp_path)
    hints = dict(write_disposition="merge", merge_strategy="insert-only", primary_key="id")
    pipe.run([{"id": 1, "v": "a", "items": [{"x": 1}]}], table_name="orders", **hints)
    pipe.run(
        [{"id": 1, "v": "b", "items": [{"x": 10}]}, {"id": 2, "v": "c", "items": [{"x": 2}]}],
        table_name="orders", **hints,
    )
    for table in ("orders", "orders__items"):
        assert pipe.store.history(table)[-1]["op"] == "append", table
    ds = pipe.dataset()
    assert {r["id"]: r["v"] for r in ds["orders"].spark_df().collect()} == {1: "a", 2: "c"}
    assert sorted(r["x"] for r in ds["orders__items"].spark_df().collect()) == [1, 2]
