"""Recorded snapshot schemas: every store commit records the Spark schema
a parquet read would infer, and every read opens its files with it — so
a table open launches no Spark job."""

import datetime as dt
import decimal
import glob
import json
import os
import uuid

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from dlt_spark.dataset.dataset import Dataset
from dlt_spark.incremental import Incremental
from dlt_spark.store.table_store import ParquetTableStore, _recorded_schema


@pytest.fixture()
def store(spark, tmp_path):
    return ParquetTableStore(spark, str(tmp_path), "ds")


def _recorded(store, table, version=None):
    meta = (
        store._current_meta(table) if version is None
        else store._log_meta(table, version)
    )
    return _recorded_schema(meta)


def _inferred(spark, store, table):
    return spark.read.parquet(*store._current_meta(table)["paths"]).schema


_WIDE = T.StructType([
    T.StructField("i", T.IntegerType(), False),
    T.StructField("s", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("ntz", T.TimestampNTZType(), True),
    T.StructField("d", T.DateType(), True),
    T.StructField("dec", T.DecimalType(12, 3), True),
    T.StructField("arr", T.ArrayType(T.LongType(), False), False),
    T.StructField("m", T.MapType(T.StringType(), T.DoubleType(), False), True),
    T.StructField("st", T.StructType([
        T.StructField("x", T.ShortType(), False),
        T.StructField("y", T.ArrayType(
            T.StructType([T.StructField("z", T.BinaryType(), False)]), False
        )),
    ]), False),
    T.StructField("b", T.BooleanType(), True),
    T.StructField("f", T.FloatType(), True),
    T.StructField("by", T.ByteType(), True),
])


def _wide_df(spark, i):
    row = (
        i, "a", dt.datetime(2020, 1, 1), dt.datetime(2020, 1, 1),
        dt.date(2020, 1, 1), decimal.Decimal("1.5"), [1], {"k": 1.0},
        (1, [(b"z",)]), True, 1.0, 1,
    )
    return spark.createDataFrame([row], _WIDE)


def test_recorded_schema_equals_inferred_for_every_commit_path(spark, store):
    store.append(_wide_df(spark, 1), "w")
    assert _recorded(store, "w") == _inferred(spark, store, "w")
    store.append(_wide_df(spark, 2), "w", sort_by=["i"])
    assert _recorded(store, "w") == _inferred(spark, store, "w")
    store.overwrite(_wide_df(spark, 3), "w")
    assert _recorded(store, "w") == _inferred(spark, store, "w")

    store.append(
        spark.createDataFrame([(1, 10, "x")], "id int, zip int, name string"),
        "p", partition_by=["zip"],
    )
    assert _recorded(store, "p") == _inferred(spark, store, "p")
    assert _recorded(store, "p").fieldNames() == ["id", "name", "zip"]

    # append_rows: the control-plane tables' Arrow schemas, plus a
    # schema inferred from the rows themselves
    arrow = pa.schema([
        ("load_id", pa.string()), ("status", pa.int32()), ("n", pa.int64()),
        ("inserted_at", pa.timestamp("us", tz="UTC")),
        ("naive", pa.timestamp("us")), ("day", pa.date32()),
        ("amount", pa.decimal128(10, 2)), ("ok", pa.bool_()),
        ("tags", pa.list_(pa.string())),
        ("props", pa.struct([("x", pa.float64())])),
        ("kv", pa.map_(pa.string(), pa.int64())),
        ("big", pa.large_string()), ("raw", pa.binary()),
        ("i8", pa.int8()), ("i16", pa.int16()), ("f32", pa.float32()),
        ("blob", pa.large_binary()), ("ints", pa.large_list(pa.int32())),
        ("ms", pa.timestamp("ms", tz="UTC")),
    ])
    row = {
        "load_id": "1", "status": 0, "n": 5,
        "inserted_at": dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
        "naive": dt.datetime(2024, 1, 1), "day": dt.date(2024, 1, 1),
        "amount": decimal.Decimal("1.25"), "ok": True, "tags": ["a"],
        "props": {"x": 1.0}, "kv": [("a", 1)], "big": "q", "raw": b"r",
        "i8": 1, "i16": 2, "f32": 0.5, "blob": b"b", "ints": [1],
        "ms": dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
    }
    store.append_rows([row], "r", arrow)
    store.append_rows([row], "r", arrow)
    assert _recorded(store, "r") == _inferred(spark, store, "r")
    store.append_rows([{"_load_id": "1", "k": 2}], "q")
    assert _recorded(store, "q") == _inferred(spark, store, "q")

    # the log entry records the same schema as the pointer
    v = store._current_meta("r")["version"]
    assert _recorded(store, "r", version=v) == _recorded(store, "r")

    # truncate keeps the previous schema for the empty snapshot
    before = _recorded(store, "w")
    store.truncate("w")
    assert _recorded(store, "w") == before
    assert store.read("w", version=store._current_meta("w")["version"]).schema == before


def test_append_rows_with_unpinned_type_falls_back_to_inference(spark, store):
    # an all-None column is a pyarrow null type, which Spark reads back
    # as int: nothing is recorded and the read infers
    store.append_rows([{"a": "x", "b": None}], "n")
    assert _recorded(store, "n") is None
    assert store.read("n").schema == _inferred(spark, store, "n")
    # later appends cannot extend an unrecorded schema
    store.append_rows([{"a": "y", "b": None}], "n")
    assert _recorded(store, "n") is None


def test_string_partition_column_keeps_its_type(spark, store):
    df = spark.createDataFrame([(1, "01"), (2, "02")], "id int, zip string")
    store.append(df, "p", partition_by=["zip"])
    rows = sorted((r["id"], r["zip"]) for r in store.read("p").collect())
    assert rows == [(1, "01"), (2, "02")]
    assert store.read("p").schema["zip"].dataType == T.StringType()
    # the per-dir union of a multi-snapshot partitioned table, and time travel
    store.append(spark.createDataFrame([(3, "003")], "id int, zip string"), "p")
    assert sorted(r["zip"] for r in store.read("p").collect()) == ["003", "01", "02"]
    assert sorted(r["zip"] for r in store.read("p", version=0).collect()) == ["01", "02"]


def test_direct_append_keeps_a_new_column(spark, store):
    store.append(spark.createDataFrame([(1, "x")], "a int, b string"), "t")
    store.append(spark.createDataFrame([(2, "y", 7.5)], "a int, b string, c double"), "t")
    out = store.read("t")
    assert out.columns == ["a", "b", "c"]
    assert sorted(tuple(r) for r in out.collect()) == [(1, "x", None), (2, "y", 7.5)]
    # a later append without the column keeps it (NULL on the new rows)
    store.append(spark.createDataFrame([(3, "z")], "a int, b string"), "t")
    assert store.read("t").columns == ["a", "b", "c"]
    assert store.read("t").count() == 3
    ch = store.changes("t", 0, 1)
    assert [(r["a"], r["c"]) for r in ch.collect()] == [(2, 7.5)]


def test_append_changing_a_column_type_records_no_schema(spark, store):
    store.append(spark.createDataFrame([(1,)], "a int"), "t")
    store.append(spark.createDataFrame([("x",)], "a string"), "t")
    assert _recorded(store, "t") is None
    store.overwrite(spark.createDataFrame([("y",)], "a string"), "t")
    assert _recorded(store, "t") == _inferred(spark, store, "t")


def test_snapshots_without_a_recorded_schema_still_read(spark, store, tmp_path):
    store.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"), "t")
    store.append(spark.createDataFrame([(3, "c")], "id long, name string"), "t")
    # strip the field everywhere, as a store written before schemas were
    # recorded looks
    table_dir = os.path.join(str(tmp_path), "ds", "t")
    for f in [os.path.join(table_dir, "_current")] + glob.glob(
        os.path.join(table_dir, "_log", "*.json")
    ):
        with open(f) as fh:
            meta = json.load(fh)
        meta.pop("schema")
        with open(f, "w") as fh:
            json.dump(meta, fh)
    assert _recorded(store, "t") is None
    assert sorted(r["id"] for r in store.read("t").collect()) == [1, 2, 3]
    assert sorted(r["id"] for r in store.read("t", version=0).collect()) == [1, 2]
    assert [r["id"] for r in store.changes("t", 0, 1).collect()] == [3]
    assert store.read("t").columns == ["id", "name"]
    # a new append extends an unrecorded snapshot: still inferred
    store.append(spark.createDataFrame([(4, "d")], "id long, name string"), "t")
    assert _recorded(store, "t") is None
    assert store.read("t").count() == 4


def test_table_opens_launch_no_spark_job(spark, store, tmp_path):
    df = spark.createDataFrame([(i, f"n{i}") for i in range(20)], "id long, name string")
    store.append(df, "t", sort_by=["id"])
    store.append(df, "t")
    store.append(
        spark.createDataFrame([(1, "01")], "id int, zip string"), "p", partition_by=["zip"]
    )
    store.append(spark.createDataFrame([(2, "02")], "id int, zip string"), "p")
    store.append_rows(
        [{"load_id": "1", "status": 0}], "_dlt_loads",
        pa.schema([("load_id", pa.string()), ("status", pa.int64())]),
    )
    store.append(df, "e")
    store.truncate("e")
    ds = Dataset(spark, store)
    spill = str(tmp_path / "spill")
    df.selectExpr("sha2(name, 256) AS h").write.parquet(spill)
    inc = Incremental("id", primary_key=["id"], initial_value=0)
    inc.last_value, inc.boundary_spilled, inc.spill_path = 5, True, spill

    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in props}
    group = f"zero-job-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "table opens")
    try:
        store.read("t")
        store.read("t", where=[("id", 10, None)])
        store.read("t", where=[("id", 1_000, None)])
        store.read("t", version=0)
        store.read("p")
        store.read("p", version=0)
        store.read("e", version=1)
        ds.table("t")
        ds.table("t", version=0)
        ds.loads_table()
        ds.query("SELECT count(*) FROM t JOIN p USING (id)")
        store.changes("t", 0, 1)
        inc.apply(df)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    assert jobs == []


def test_pipeline_snapshots_record_the_inferred_schema(spark, tmp_path):
    import dlt_spark

    pipe = dlt_spark.pipeline(
        "schema_pipe", destination=str(tmp_path / "dest"), dataset_name="ds",
        spark=spark,
    )
    for day, extra in ((1, {}), (2, {"note": "n"})):
        rows = [
            {"id": i, "updated_at": f"2024-01-0{day}T00:00:0{i}", "amount": i * 1.5,
             "items": [{"sku": f"s{i}", "qty": i}], **extra}
            for i in range(1, 4)
        ]
        pipe.run(rows, table_name="orders", write_disposition="merge",
                 primary_key="id")
        pipe.run(rows, table_name="events", write_disposition="append")
        pipe.run([{"nk": day, "tier": f"t{day}"}], table_name="dim",
                 write_disposition="merge", merge_strategy="scd2")
    store = pipe.store
    checked = 0
    for table in store.list_tables():
        for h in store.history(table):
            meta = store._log_meta(table, h["version"])
            if not (h["readable"] and meta["paths"]):
                continue
            oracle = spark.read.option("mergeSchema", "true").parquet(*meta["paths"])
            assert _recorded_schema(meta) == oracle.schema, (
                table, h["version"],
            )
            checked += 1
    assert checked >= 15
    assert "note" in store.read("events").columns
