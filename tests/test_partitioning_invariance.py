"""Direct evidence for the engine's determinism claim: identical results
under different shuffle partitioning.

The README asserts every statistic is partitioning-independent (exact
fixed-point accumulation, content-hash sampling, unique-key tie-breaks).
This test RUNS that claim: the numerically interesting queries execute
under 32 and then 7 shuffle partitions and must produce bit-identical
rows — not approximately equal, identical. A float-accumulating
implementation fails this immediately (different partition counts sum in
different orders).
"""

from __future__ import annotations

import pytest

from stock_data_pipeline_spark.registry import get
from tests.oracle import normalize

# Exact-arithmetic-critical queries across the families: money rollups,
# window moments, correlation/beta/vol, shares, dedup, tf-idf ranks.
QUERIES = [
    "b02_group_agg",
    "b33_pricing_summary",
    "b51_pairwise_corr",
    "b52_zscore_anomaly",
    "b56_rolling_sharpe",
    "b65_q8_market_share",
    "b83_realized_vol",
    "b86_seasonal_decompose",
    "b48_share_of_total",
    "c01_exact_dedup",
    "c04_tfidf_terms",
    "c09_curriculum_order",
    # round-5 digest twins: the within-ε booleans must not flip under a
    # different partitioning (sketch insertion order varies; estimates
    # may move inside the ε budget but exact twins and claims may not)
    "b15_approx_aggregates",
    "b15_hll_union",
    "b60_sliding_distinct",
    # promoted percentile-family representative
    "b82_var_cvar",
    # c10 graph family: scaled-BIGINT fixed point IS the
    # partitioning-independence design — run the claim
    "c10_link_pagerank",
    "c10_link_prediction",
    "c10_kcore_peel",
    "c10_harmonic_centrality",
    # DSIR: 6-dp exact-decimal accumulation is the invariance design
    "c08_dsir_select",
]


@pytest.mark.parametrize("name", QUERIES)
def test_result_identical_under_different_shuffle_partitioning(
    spark, sf_dir, name
):
    fn = get(name).fn
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        a = normalize(fn(spark, sf_dir).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        b = normalize(fn(spark, sf_dir).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a.equals(b), f"{name}: results differ across partitionings"
