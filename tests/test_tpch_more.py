"""Widened relational coverage (TPC-H and beyond) vs the DuckDB oracle."""

import pytest

from tests.conftest import run_and_compare

QUERIES = [
    "q4_order_priority",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q12_priority_by_linestatus",
    "q14_promo_revenue_share",
    "q18_large_volume_orders",
    "q19_disjunctive_revenue",
    "window_rank_family",
    "window_trailing_30d_spend",
    "pivot_status_revenue",
    "unpivot_returnflag_metrics",
    "array_hof_embedding_stats",
    "agg_corr_covar",
]


@pytest.mark.parametrize("name", QUERIES)
def test_matches_oracle(spark, duck, name):
    run_and_compare(spark, duck, name)


@pytest.mark.parametrize(
    "name",
    ["q4_order_priority", "q10_returned_items", "q18_large_volume_orders", "q19_disjunctive_revenue"],
)
def test_nonempty(spark, name):
    from minimapreduce_spark import queries as q

    assert q.queries()[name](spark, "/root/testdata/sf0.001").count() > 0, name


def test_q6_pushes_filters(spark):
    """Q6's predicates must reach the parquet scan (PushedFilters)."""
    from minimapreduce_spark import queries as q

    plan = q.queries()["q6_forecast_revenue"](spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
