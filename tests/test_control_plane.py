"""The `_dlt_*` control plane (`dlt_spark/load/control.py`): a batch load
that crashes before its `_dlt_loads` row exposes nothing and re-runs to
the crash-free result, and the control-plane reads stay within a pinned
Spark job budget."""

import uuid

import pytest

import dlt_spark
from dlt_spark.load import control
from dlt_spark.load.load import LoadStage
from dlt_spark.pipeline.state import PipelineState


def _orders(ids, day):
    return [
        {"id": i, "updated_at": f"2024-01-{day:02d}T00:00:{i:02d}", "v": f"v{i}-{day}",
         "items": [{"sku": f"s{i}-{day}", "qty": i * day}] * (1 + i % 2)}
        for i in ids
    ]


def _load(pipe, rows):
    return pipe.run(
        rows, table_name="orders", write_disposition="merge",
        merge_strategy="upsert", primary_key="id",
        incremental=dlt_spark.incremental("updated_at", primary_key=["id"]),
    )


def _cursor(pipe):
    return pipe.state.resource_state("ds", "orders")["incremental"]["last_value"]


def _data(ds, table):
    df = ds.table(table).spark_df()
    cols = sorted(c for c in df.columns if not c.startswith("_dlt_"))
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_crash_before_commit_load_exposes_nothing(spark, tmp_path, monkeypatch):
    batch1, batch2 = _orders(range(1, 6), 1), _orders(range(3, 9), 2)
    dest = str(tmp_path / "crash")
    pipe = dlt_spark.pipeline("crash", dest, "ds", spark=spark)
    assert control.load_ids(pipe.store) == []
    _load(pipe, batch1)
    cursor = _cursor(pipe)

    crashed = []

    def crash(self, load_id, status=0):
        crashed.append(load_id)
        raise RuntimeError("crash before the _dlt_loads row")

    with monkeypatch.context() as m:
        m.setattr(LoadStage, "commit_load", crash)
        with pytest.raises(RuntimeError, match="crash before"):
            _load(pipe, batch2)
    (lid,) = crashed
    # the data tables, schema version and state row of the crashed load
    # were written; none of them counts
    assert pipe.store.read("orders").filter(f"_dlt_load_id = '{lid}'").count() > 0
    ds = pipe.dataset()
    assert lid not in control.load_ids(pipe.store)
    assert len(ds.load_ids()) == 1
    assert ds["orders"].from_loads().spark_df().filter(f"_dlt_load_id = '{lid}'").count() == 0
    assert _cursor(dlt_spark.pipeline("crash", dest, "ds", spark=spark)) == cursor
    assert _cursor(dlt_spark.attach("crash", dest, "ds", spark)) == cursor

    _load(dlt_spark.pipeline("crash", dest, "ds", spark=spark), batch2)
    twin = dlt_spark.pipeline("twin", str(tmp_path / "twin"), "ds", spark=spark)
    _load(twin, batch1)
    _load(twin, batch2)
    for table in ("orders", "orders__items"):
        assert _data(pipe.dataset(), table) == _data(twin.dataset(), table)
    assert len(pipe.dataset().load_ids()) == 2


def _jobs(spark, fn):
    """Spark jobs ``fn`` launches, counted under a test-owned job group."""
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in props}
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "control-plane reads")
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)


def test_control_plane_read_job_budget(spark, tmp_path):
    dest = str(tmp_path / "budget")
    pipe = dlt_spark.pipeline("budget", dest, "ds", spark=spark)
    for day in range(1, 4):
        _load(pipe, _orders(range(day, day + 4), day))
    ds = pipe.dataset()

    assert _jobs(spark, lambda: ds.latest_load_id) <= 1
    assert _jobs(spark, lambda: PipelineState.restore(pipe.store, "budget")) <= 2
    assert _jobs(spark, lambda: dlt_spark.attach("budget", dest, "ds", spark)) <= 3
    assert ds.latest_load_id == ds.load_ids()[-1]
    assert PipelineState.restore(pipe.store, "budget").version == 3
