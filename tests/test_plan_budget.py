"""Plan-shape budgets: upper bounds on shuffle count per headline query.

Every `Exchange hashpartitioning` is a full shuffle of that subtree's
data; at 100 TB an extra one is the difference between a report and an
outage. These budgets pin the CURRENT audited plan shapes (PLANS.md /
BENCHNOTES) so a refactor that quietly adds a shuffle — a lost broadcast
hint, a new non-aligned repartition, an optimizer-barrier expression —
fails here instead of in the next bench. Bounds are ≤, not ==: AQE may
legally REMOVE exchanges at runtime.
"""

from __future__ import annotations

import pytest

from stock_data_pipeline_spark.registry import get

# name -> (max hash exchanges, min broadcast exchanges)
PLAN_BUDGETS = {
    "flagship_event_dashboard": (2, 0),  # agg + rank window
    "b02_group_agg": (1, 0),
    "b03_ohlcv_bars": (1, 0),
    "b04_broadcast_join": (1, 1),        # dims must broadcast
    "b08_rank_in_group": (2, 0),
    "b09_moving_window": (1, 0),
    "b10_topk_orders": (0, 0),           # TakeOrdered, no full sort shuffle
    "b33_pricing_summary": (1, 0),       # TPC-H Q1: ONE agg exchange
    "b37_regional_revenue": (1, 4),      # star join: fact shuffles once, dims broadcast
    "b38_large_orders": (3, 0),
    "b42_shipping_priority": (1, 2),
    "b52_zscore_anomaly": (1, 0),        # one window partition exchange
    "b57_returned_items": (2, 2),
    "b58_volume_shipping": (2, 4),
    "c01_exact_dedup": (1, 0),
    "c04_decontaminate": (3, 1),
    # r13: verdicts shape — two fingerprint-unique aggs + shingle join +
    # two pair/verdict aggs + one fingerprint propagation join; the
    # verdict table broadcasts
    "c04_decontaminate_verdicts": (6, 2),
    "c04_top_tokens": (2, 0),
    # round 4: TPC-H completion — dims broadcast, fact shuffles at most
    # twice (agg + distribution / threshold join-back)
    "b63_q6_revenue_delta": (0, 0),      # pure scan + 1-row agg
    "b64_q4_priority_check": (1, 1),     # EXISTS -> semi join, one agg exchange
    "b65_q8_market_share": (1, 7),       # 8-table join: ONE fact exchange
    "b66_q9_product_profit": (1, 4),
    "b68_q12_priority_class": (1, 1),
    "b69_q13_order_distribution": (2, 1),
    "b70_q15_top_supplier": (1, 1),     # window-form MAX: one scan, one agg exchange
    "b71_q17_small_quantity": (1, 3),    # AVG threshold broadcasts back
    "b72_q19_disjunctive_revenue": (0, 1),
    "b76_q16_part_variety": (2, 2),      # distinct-agg two-phase
    # round 4: indicators — bars aggregate + one bar-grain window exchange
    "b78_bollinger": (2, 0),
    "b79_atr": (2, 0),
    "b81_obv": (2, 0),
    "b83_realized_vol": (2, 0),
    "b84_up_streaks": (2, 0),
    "b86_seasonal_decompose": (2, 0),    # ONE fact scan (window-form means)
    "c04_model_score": (1, 1),           # weight table broadcasts
    # round 9: the rotation re-promoted these into the driver window —
    # pin their audited shapes so a regression can't ride in with them
    "b05_large_join": (1, 1),            # orders broadcasts at test SF
    "b06_join_suite": (1, 3),            # outer/semi/anti: dims broadcast
    "b07_asof_join": (1, 0),             # one user-keyed window exchange
    "b12_set_ops": (4, 2),               # EXCEPT/INTERSECT two-phase aggs
    "b13_rollup_cube_sets": (1, 0),      # CUBE = ONE expand + one agg
    "b15_exact_percentiles": (1, 0),
    "b20_pivot": (2, 0),
    "b21_unpivot": (0, 0),               # pure scan + stack, no shuffle
}


@pytest.mark.parametrize("name", sorted(PLAN_BUDGETS))
def test_headline_plan_within_shuffle_budget(spark, sf_check_dir, name):
    df = get(name).fn(spark, sf_check_dir)
    if not hasattr(df, "_jdf"):
        pytest.skip("classic session required for executed-plan asserts")
    plan = df._jdf.queryExecution().executedPlan().toString()
    max_ex, min_bc = PLAN_BUDGETS[name]
    n_ex = plan.count("Exchange hashpartitioning")
    n_bc = plan.count("BroadcastExchange")
    assert n_ex <= max_ex, (
        f"{name}: {n_ex} hash exchanges (budget {max_ex}) — a shuffle "
        f"crept in; diff the plan against PLANS.md"
    )
    assert n_bc >= min_bc, (
        f"{name}: only {n_bc} broadcast exchanges (expected ≥{min_bc}) — "
        f"a dimension stopped broadcasting"
    )
