"""CLI smoke tests: run a pipeline, then drive every `pipeline` command
in-process (the CLI reuses the caller's active Spark session)."""

import pytest

import dlt_spark
from dlt_spark.cli import main


@pytest.fixture()
def loaded(spark, tmp_path):
    dest = str(tmp_path / "dest")
    pipe = dlt_spark.pipeline("clip", destination=dest, dataset_name="ds", spark=spark)
    pipe.run([{"id": 1, "v": "a"}, {"id": 2, "v": "b"}], table_name="items")
    return dest


def test_cli_info(loaded, capsys):
    assert main(["pipeline", "clip", "info", "--destination", loaded, "--dataset", "ds"]) == 0
    out = capsys.readouterr().out
    assert "items: 2 rows" in out
    assert "latest load id:" in out


def test_cli_keeps_the_callers_session_confs(spark, loaded):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        assert main(["pipeline", "clip", "info", "--destination", loaded, "--dataset", "ds"]) == 0
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, before)


def test_cli_trace(loaded, capsys):
    assert main(["pipeline", "clip", "trace", "--destination", loaded, "--dataset", "ds"]) == 0
    out = capsys.readouterr().out
    assert "extract: COMPLETED" in out
    assert "load: COMPLETED" in out


def test_cli_schema_and_loads_and_state(loaded, capsys):
    assert main(["pipeline", "clip", "schema", "--destination", loaded, "--dataset", "ds"]) == 0
    assert "items" in capsys.readouterr().out
    assert main(["pipeline", "clip", "loads", "--destination", loaded, "--dataset", "ds"]) == 0
    assert "load_id" in capsys.readouterr().out
    assert main(["pipeline", "clip", "state", "--destination", loaded, "--dataset", "ds"]) == 0
    assert '"version": 1' in capsys.readouterr().out


def test_cli_drop_requires_yes(loaded, capsys):
    assert main(["pipeline", "clip", "drop", "--destination", loaded, "--dataset", "ds"]) == 1
    assert main([
        "pipeline", "clip", "drop", "--destination", loaded, "--dataset", "ds", "--yes"
    ]) == 0
    assert "dropped" in capsys.readouterr().out


def test_cli_optimize(spark, tmp_path, capsys):
    import dlt_spark
    from dlt_spark.cli import main

    pipe = dlt_spark.pipeline("cliopt", str(tmp_path / "c"), "ds", spark)
    for _ in range(3):
        pipe.run([{"a": i, "v": i * 2} for i in range(10)], table_name="t")
    rc = main([
        "pipeline", "cliopt", "optimize",
        "--destination", str(tmp_path / "c"), "--dataset", "ds",
        "--table", "t",
    ])
    assert rc == 0
    assert "optimized t" in capsys.readouterr().out
    assert pipe.dataset()["t"].row_count() == 30
