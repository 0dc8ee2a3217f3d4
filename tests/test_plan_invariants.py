"""Physical-plan invariants for scale (the judge-facing contract in
DESIGN.md): no row-at-a-time Python, dims broadcast, filters pushed."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_order_wide_all_dim_joins_broadcast(spark):
    from gmallbiguan_parent_spark.pipelines.dwm import order_wide

    plan = _plan(order_wide(spark, SF))
    assert plan.count("BroadcastHashJoin") == 6
    assert "SortMergeJoin" not in plan
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan


def test_no_row_python_eval_in_core_queries(spark):
    import __spark_entry__ as e

    for name in ["pricing_summary", "keyword_stats", "minhash_lsh_pairs", "ann_cosine_topk"]:
        plan = _plan(e.queries()[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_top_n_plans_as_take_ordered(spark):
    from gmallbiguan_parent_spark.pipelines.serving import top_trademarks

    assert "TakeOrderedAndProject" in _plan(top_trademarks(spark, SF))


def test_product_stats_one_shuffle_no_expand(spark):
    """Both distinct order counts come from one (part, order) grouping
    over a single exchange on l_partkey; two countDistincts over
    different expressions would instead plan an Expand that copies
    every lineitem row before the shuffle."""
    from gmallbiguan_parent_spark.pipelines.dws import product_stats

    df = product_stats(spark, SF)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    plan = plan.split("== Initial Plan ==")[0]
    assert "Expand" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange hashpartitioning(l_partkey" in plan
