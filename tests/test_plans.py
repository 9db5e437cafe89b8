"""Physical-plan assertions: the 100 TB safeguards.

These tests pin the plan shapes that matter at scale (SURVEY §4 /
task brief): cursor predicates must reach the parquet scan as
PushedFilters, merge key-set joins must broadcast (no full shuffle of the
big side), normalization must stay shuffle-free, and hot-path expressions
must be inside WholeStageCodegen."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _opt(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def test_incremental_filter_pushes_down(spark, lineitem):
    from dlt_spark.incremental import incremental

    inc = incremental("l_shipdate", initial_value="2000-01-01 00:00:00")
    plan = _plan(inc.apply(lineitem))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200], plan


def test_column_pruning_reaches_scan(spark, lineitem):
    df = lineitem.select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 10)
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # pruned


def test_merge_key_join_broadcasts(spark, orders):
    from dlt_spark.load.dispositions import merge_delete_insert

    staging = orders.filter(F.col("o_orderkey") % 10 == 0)
    result = merge_delete_insert(orders, staging, primary_key=["o_orderkey"])
    plan = _plan(result)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_normalize_has_no_shuffle(spark):
    """Flatten + explode must be narrow: zero Exchange nodes."""
    from dlt_spark.normalize.relational import RelationalNormalizer
    from dlt_spark.pipeline.resources import _dicts_to_df

    df = _dicts_to_df(
        spark, [{"id": i, "meta": {"a": i}, "tags": [f"t{i}", "x"]} for i in range(50)]
    )
    tables = RelationalNormalizer(root_key=True).normalize(
        df, "t", row_id_type="key_hash", primary_key=["id"]
    )
    for name, tdf in tables.items():
        assert "Exchange" not in _plan(tdf), f"{name} shuffles during normalize"


def test_scan_expressions_stay_in_codegen(spark):
    from dlt_spark.dataops.text import quality_score, token_count

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = docs.select(
        token_count(F.col("text")).alias("n"), quality_score(F.col("text")).alias("q")
    )
    plan = _plan(df)
    # "*(n)" prefixes mark WholeStageCodegen stages in toString()
    assert "*(" in plan or "WholeStageCodegen" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_window_single_shuffle(spark, orders):
    from dlt_spark.load.dispositions import dedup_staging

    deduped = dedup_staging(orders, ["o_custkey"], dedup_sort="o_orderdate")
    plan = _plan(deduped)
    assert plan.count("Exchange hashpartitioning") == 1


def test_relation_filter_pushdown(spark, orders):
    from dlt_spark.dataset.relation import Relation

    rel = Relation(orders).where("o_totalprice", "gt", 1000.0).select("o_orderkey")
    plan = _plan(rel.spark_df())
    assert "PushedFilters" in plan and "o_totalprice" in plan.split("PushedFilters")[1][:200]


def test_per_doc_text_ops_have_no_python_and_no_shuffle(spark):
    """Per-document signals (scoring, repetition, language id) must run
    at scan speed: zero Exchange, zero BatchEvalPython."""
    from dlt_spark.dataops.text import lang_id, quality_score, token_count

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n"),
        quality_score(F.col("text")).alias("q"),
        lang_id(F.col("text")).alias("lang"),
    )
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_epoch_shuffle_single_exchange(spark):
    """The only wide operation is the hash partition on shard — one
    Exchange; a global ORDER BY (rangepartitioning) must NOT appear."""
    from dlt_spark.dataops.ordering import epoch_shuffle

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(epoch_shuffle(docs, "doc_id", n_shards=4))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_rfm_thresholds_broadcast_not_ntile(spark):
    import __spark_entry__ as entry

    df = entry._q_rfm_segments(spark, SF)
    plan = _plan(df)
    # quintile thresholds join back via broadcast; no single-partition
    # global window sort (the ntile window fn; note "percentile" the
    # aggregate contains the substring) and no global range sort
    import re as _re

    assert not _re.search(r"(?<![a-z])ntile\(", plan), plan
    assert "rangepartitioning" not in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_transition_matrix_single_user_shuffle(spark):
    import __spark_entry__ as entry

    plan = _plan(entry._q_event_transitions(spark, SF))
    # lag window partitions on user_id; counts and totals are
    # map-combined aggregations over it; the probability join reuses the
    # tiny totals side.  5 static exchanges pre-AQE, all on key sets no
    # larger than |states|^2 except the user window
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 5, plan
    assert "rangepartitioning" not in plan.split("Sort [from_type")[0], plan


def test_hard_negatives_partial_topk_before_exchange(spark):
    """The per-anchor top-k must shed rows BEFORE the shuffle: Spark's
    WindowGroupLimit partial pass runs map-side, so only ~k rows per
    (anchor, input-partition) cross the exchange — not the full n*a
    scored stream."""
    import __spark_entry__ as entry

    plan = _plan(entry._q_hard_negatives(spark, SF))
    partial = plan.find("WindowGroupLimit")
    assert partial != -1, plan
    assert "Partial" in plan[partial - 200: plan.find("Final") + 400] or \
        plan.count("WindowGroupLimit") == 2, plan
    # anchors broadcast; the corpus is never shuffled for the join
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BatchEvalPython" not in plan


def test_hybrid_search_windows_are_candidate_bounded(spark):
    """RRF ranking windows must sit above the candidate limits (their
    input is <= `candidates` rows), and candidate generation itself
    stays TakeOrdered / aggregation-shaped — no corpus-wide sort."""
    import __spark_entry__ as entry

    df = entry._q_hybrid_search(spark, SF)
    opt = _opt(df)
    # both generators end in a limit BELOW the window in the optimized
    # plan: every Window node must have a GlobalLimit descendant
    lines = opt.splitlines()
    win_idx = [i for i, l in enumerate(lines) if "windowspecdefinition" in l and "Window" in l]
    assert win_idx, opt
    for i in win_idx:
        assert any("GlobalLimit" in l for l in lines[i:]), opt

def test_winsorized_stats_broadcasts_bounds(spark):
    import __spark_entry__ as entry

    plan = _plan(entry._q_winsorized_stats(spark, SF))
    assert "BroadcastExchange" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "rangepartitioning" not in plan.split("Sort [")[0], plan


def test_trend_slopes_no_per_key_sort(spark):
    import __spark_entry__ as entry

    plan = _plan(entry._q_trend_slopes(spark, SF))
    # closed-form sums: no window function at all, min-table broadcast
    assert "windowspecdefinition" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_pagerank_integer_jvm_only(spark):
    import __spark_entry__ as entry

    plan = _plan(entry._q_pagerank(spark, SF))
    # all-integer update: no Python stage, no floating aggregation in
    # the iterations, and the top-20 is TakeOrdered (no global sort)
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan, plan


def test_random_projection_no_shuffle(spark):
    import __spark_entry__ as entry

    plan = _plan(entry._q_random_projection(spark, SF))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_diverse_sample_windowgrouplimit_and_single_scan(spark):
    """Per-cell representative pick must compile to WindowGroupLimit
    (per-partition top-k), and centroid assignment must be one codegen
    scan — no python, no cartesian."""
    import __spark_entry__ as entry

    plan = _plan(entry._q_diverse_sample(spark, SF))
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_triangle_census_no_cartesian(spark):
    """Wedge and closing-edge joins are key equi-joins; the degree-
    ordered orientation must never degrade to a cartesian product."""
    import __spark_entry__ as entry

    plan = _plan(entry._q_triangle_census(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_source_percentiles_single_group_shuffle(spark):
    """percent_rank per source: exactly one hash exchange on the group
    key feeding the window sort (plus the presentation range sort)."""
    import __spark_entry__ as entry

    plan = _plan(entry._q_source_percentiles(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan


def test_bpe_pairs_take_ordered_not_global_sort(spark):
    """The top-k pair cut must be TakeOrdered (partial heaps), never a
    full sort of the pair table."""
    import __spark_entry__ as entry

    plan = _plan(entry._q_bpe_top_pairs(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_conversations_reuse_user_partitioning(spark):
    """Session windows, turn marking, and the conversation aggregate
    all run inside the ONE user-key exchange (the final orderBy adds a
    range exchange for presentation only)."""
    import __spark_entry__ as entry

    plan = _plan(entry._q_conversations(spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "BatchEvalPython" not in plan


def test_rolling_distinct_no_range_self_join(spark):
    """Rolling distinct must be explode + aggregations — never a range
    self-join (no CartesianProduct / non-equi BroadcastNestedLoop)."""
    import __spark_entry__ as entry

    plan = _plan(entry._q_rolling_active_users(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_label_spread_no_python_in_iterations(spark):
    import __spark_entry__ as entry

    plan = _plan(entry._q_label_spread(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
