"""A load package is evaluated once and its root rows are decided once:
the extract runs a single time per load, every nested row follows the
root row that actually lands (deduplicated, contract-filtered or not),
the package is unpinned after its load, and readers of a nested table
can hide uncommitted packages."""

import pytest
from pyspark.sql import functions as F

import dlt_spark
from dlt_spark.load.load import LoadStage


def _pipe(spark, tmp_path, name="pkg"):
    return dlt_spark.pipeline(name, str(tmp_path / name), "ds", spark=spark)


def _orphans(ds, root="orders", child="orders__items"):
    """Child rows whose root is not in the root table."""
    roots = ds[root].spark_df().select(F.col("_dlt_id").alias("_r"))
    kids = ds[child].spark_df()
    link = "_dlt_root_id" if "_dlt_root_id" in kids.columns else "_dlt_parent_id"
    return kids.join(roots, kids[link] == roots["_r"], "left_anti").count()


def _children(ds, root="orders", child="orders__items", value="x"):
    """{root id column value: [child values in list order]}."""
    roots = ds[root].spark_df().select("id", F.col("_dlt_id").alias("_r"))
    kids = ds[child].spark_df()
    rows = kids.join(roots, kids["_dlt_root_id"] == roots["_r"]).select(
        "id", "_dlt_list_idx", value
    ).collect()
    out = {}
    for r in sorted(rows, key=lambda r: (r["id"], r["_dlt_list_idx"])):
        out.setdefault(r["id"], []).append(r[value])
    return out


def test_package_is_evaluated_once(spark, tmp_path):
    """The extract's Python UDF runs once per source row for an upsert
    with an incremental cursor and one child table — normalize, both
    table writes and the cursor update all read the pinned package."""
    calls = spark.sparkContext.accumulator(0)

    def seen(_id):
        calls.add(1)
        return True

    counted = F.udf(seen, "boolean")
    pipe = _pipe(spark, tmp_path)
    for day in (1, 2):
        rows = [
            (i, f"2024-01-0{day}T00:00:{i:02d}", [(i, day), (i + 1, day)])
            for i in range(1, 21)
        ]
        df = spark.createDataFrame(
            rows, "id long, updated_at string, items array<struct<x:long,d:long>>"
        ).filter(counted(F.col("id")))
        before = calls.value
        pipe.run(
            df, table_name="orders", write_disposition="merge",
            merge_strategy="upsert", primary_key="id",
            incremental=dlt_spark.incremental("updated_at", primary_key=["id"]),
        )
        assert calls.value - before == len(rows)
    ds = pipe.dataset()
    assert ds["orders"].row_count() == 20
    assert ds["orders__items"].row_count() == 40
    assert _orphans(ds) == 0


def test_delete_insert_random_ids_keep_children(spark, tmp_path):
    """Random `_dlt_id`s (delete-insert) over several loads: every child
    has its root and no child of a landed root goes missing."""
    pipe = _pipe(spark, tmp_path)
    expected = {}
    for load, ids in enumerate([range(0, 30), range(10, 40), range(5, 25)]):
        rows = [
            {"id": i, "v": f"{i}-{load}", "items": [{"x": i * 100 + load + k} for k in range(1 + i % 3)]}
            for i in ids
        ]
        pipe.run(rows, table_name="orders", write_disposition="merge",
                 merge_strategy="delete-insert", primary_key="id")
        expected.update({r["id"]: [it["x"] for it in r["items"]] for r in rows})
        ds = pipe.dataset()
        assert _orphans(ds) == 0
        assert _children(ds) == expected


@pytest.mark.parametrize("strategy", ["upsert", "delete-insert"])
def test_two_versions_of_a_key_keep_one_version_children(spark, tmp_path, strategy):
    """A batch with two versions of a key: the children written are
    exactly the items of the version whose root row was kept."""
    rows = []
    for i in range(1, 21):
        rows.append({"id": i, "v": "a", "items": [{"x": i}, {"x": i + 1}, {"x": i + 2}]})
        rows.append({"id": i, "v": "b", "items": [{"x": 10 * i}, {"x": 10 * i + 1}]})
    pipe = _pipe(spark, tmp_path)
    pipe.run(rows, table_name="orders", write_disposition="merge",
             merge_strategy=strategy, primary_key="id")
    ds = pipe.dataset()
    kept = {r["id"]: r["v"] for r in ds["orders"].spark_df().collect()}
    assert len(kept) == 20
    items = {(r["id"], r["v"]): [it["x"] for it in r["items"]] for r in rows}
    assert _children(ds) == {i: items[(i, v)] for i, v in kept.items()}


@pytest.mark.parametrize("disposition", ["upsert", "delete-insert", "append"])
def test_data_type_discard_row_drops_its_children(spark, tmp_path, disposition):
    """A root row dropped by the `data_type: discard_row` contract takes
    its nested rows with it."""
    pipe = _pipe(spark, tmp_path, "ct")
    pipe.schema.settings["schema_contract"] = {
        "tables": "evolve", "columns": "evolve", "data_type": "discard_row"}
    hints = {} if disposition == "append" else dict(
        write_disposition="merge", merge_strategy=disposition, primary_key="id")
    pipe.run([{"id": 1, "price": 10.5, "ts": 0, "items": [{"x": 1}]}], table_name="orders", **hints)
    # id 4 comes twice: the later version breaks the contract, so the
    # merge's dedup must choose among the valid versions only
    pipe.run(
        [{"id": 2, "price": "oops", "ts": 1, "items": [{"x": 2}, {"x": 3}]},
         {"id": 3, "price": 7.5, "ts": 1, "items": [{"x": 4}]},
         {"id": 4, "price": "oops", "ts": 2, "items": [{"x": 5}]},
         {"id": 4, "price": 6.5, "ts": 1, "items": [{"x": 6}]}],
        table_name="orders", columns={"ts": {"name": "ts", "dedup_sort": "desc"}}, **hints,
    )
    ds = pipe.dataset()
    roots = {r["id"]: r["price"] for r in ds["orders"].spark_df().collect()}
    assert roots == {1: 10.5, 3: 7.5, 4: 6.5}
    assert _orphans(ds) == 0
    assert sorted(r["x"] for r in ds["orders__items"].spark_df().collect()) == [1, 4, 6]


def test_columns_discard_row_keeps_children_of_an_existing_chain(spark, tmp_path):
    """A chain first loaded under `evolve`, then under `columns:
    discard_row`: the nested rows of the later loads still land, and
    only the root row with an unknown column is dropped, with its
    children."""
    pipe = _pipe(spark, tmp_path, "cols")
    pipe.run([{"id": 1, "items": [{"x": 1}]}], table_name="orders")
    pipe.schema.settings["schema_contract"] = {
        "tables": "evolve", "columns": "discard_row", "data_type": "evolve"}
    pipe.run(
        [{"id": 2, "items": [{"x": 2}, {"x": 3}]},
         {"id": 3, "extra": "new", "items": [{"x": 4}]}],
        table_name="orders",
    )
    ds = pipe.dataset()
    assert {r["id"] for r in ds["orders"].spark_df().collect()} == {1, 2}
    assert "extra" not in ds["orders"].spark_df().columns
    assert _orphans(ds) == 0
    assert sorted(r["x"] for r in ds["orders__items"].spark_df().collect()) == [1, 2, 3]


def test_load_unpins_its_packages(spark, tmp_path):
    """The pins of a package live from normalize to the end of its load:
    after the run no checkpointed blocks are left, and the trace keeps
    only the table names."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(dict(persistent()))
    pipe = _pipe(spark, tmp_path)
    pipe.run(
        [{"id": i, "updated_at": i, "items": [{"x": i}]} for i in range(10)],
        table_name="orders", write_disposition="merge", merge_strategy="upsert",
        primary_key="id", incremental=dlt_spark.incremental("updated_at"),
    )
    assert set(dict(persistent())) == before
    (norm,) = [s.step_info for s in pipe.last_trace.steps if s.step == "normalize"]
    assert norm.chains == []
    assert norm.table_names == ["orders", "orders__items"]


def test_from_loads_on_nested_table_hides_uncommitted(spark, tmp_path, monkeypatch):
    """A nested table has no `_dlt_load_id`; `from_loads` recovers it
    through the root, so a crashed package's children stay hidden."""
    pipe = _pipe(spark, tmp_path)
    pipe.run([{"id": 1, "items": [{"x": 1}, {"x": 2}]}], table_name="orders")

    def crash(self, load_id, status=0):
        raise RuntimeError("crash before the _dlt_loads row")

    with monkeypatch.context() as m:
        m.setattr(LoadStage, "commit_load", crash)
        with pytest.raises(RuntimeError, match="crash before"):
            pipe.run([{"id": 2, "items": [{"x": 3}]}], table_name="orders")
    ds = pipe.dataset()
    assert ds["orders__items"].row_count() == 3  # the crashed rows are stored
    committed = ds["orders__items"].from_loads()
    assert committed.spark_df().columns == ds["orders__items"].spark_df().columns
    assert sorted(r["x"] for r in committed.spark_df().collect()) == [1, 2]
    (first,) = ds.load_ids()
    assert ds["orders__items"].from_loads([first]).row_count() == 2


def test_keyed_merge_dedups_rows_with_lists_of_maps(spark, tmp_path):
    """The package dedup sees nested lists before they explode; a list of
    maps (which Spark can neither hash nor sort) still picks one version
    and its children."""
    df = spark.createDataFrame(
        [(1, "a", [{"k": "v"}]), (1, "b", [{"k": "w"}]), (2, "c", [{"k": "z"}])],
        "id long, v string, items array<map<string,string>>",
    )
    pipe = _pipe(spark, tmp_path)
    pipe.run(df, table_name="orders", write_disposition="merge",
             merge_strategy="upsert", primary_key="id")
    ds = pipe.dataset()
    kept = {r["id"]: r["v"] for r in ds["orders"].spark_df().collect()}
    items = {(1, "a"): ['{"k":"v"}'], (1, "b"): ['{"k":"w"}'], (2, "c"): ['{"k":"z"}']}
    assert _children(ds, value="value") == {i: items[(i, v)] for i, v in kept.items()}
