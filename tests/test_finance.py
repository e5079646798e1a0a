"""Invariant tests for the financial analytics layer (operators/finance.py).

Exact cross-engine parity is covered by test_oracle_parity (all five
queries are oracle-backed); these assert the domain invariants that a
value-hash can't express — range bounds, monotonicity, and symmetry.
"""

from __future__ import annotations

import math

from stock_data_pipeline_spark import registry


def _rows(spark, sf_dir, name):
    return registry.full_queries()[name](spark, sf_dir).collect()


def test_daily_returns_first_day_is_baseline(spark, sf_dir):
    rows = _rows(spark, sf_dir, "b49_daily_returns")
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r.bar_date)
        # first bar: no prior close -> NULL daily return, 0 cumulative
        assert series[0].daily_return is None
        assert series[0].cum_return == 0.0
        # cumulative return reconstructs the close from the first close
        first = series[0].close
        for r in series:
            if r.cum_return is not None and first:
                assert abs((1 + r.cum_return) * first - r.close) < first * 1e-5


def test_drawdown_is_nonpositive_and_trough_after_peak(spark, sf_dir):
    rows = _rows(spark, sf_dir, "b50_drawdown")
    assert rows, "expected one row per instrument"
    for r in rows:
        assert r.max_drawdown is None or r.max_drawdown <= 0.0
        assert r.trough_close <= r.peak_close


def test_pairwise_corr_bounded_and_upper_triangle(spark, sf_dir):
    rows = _rows(spark, sf_dir, "b51_pairwise_corr")
    assert rows
    seen = set()
    for r in rows:
        assert r.sym_a < r.sym_b  # strict upper triangle, no self-pairs
        assert (r.sym_a, r.sym_b) not in seen
        seen.add((r.sym_a, r.sym_b))
        assert -1.0 - 1e-6 <= r.price_corr <= 1.0 + 1e-6


def test_zscore_anomalies_exceed_threshold(spark, sf_dir):
    rows = _rows(spark, sf_dir, "b52_zscore_anomaly")
    for r in rows:
        assert abs(r.zscore) > 3.0 - 1e-6
        assert math.isfinite(r.zscore)


def test_beta_recovers_index_composition(spark, sf_dir):
    """Equal-weight index ⇒ the weighted mean of per-instrument betas is 1
    (OLS slope of the index on itself), up to series-alignment noise."""
    rows = _rows(spark, sf_dir, "b53_market_beta")
    assert rows
    betas = [r.beta for r in rows if r.beta is not None]
    assert betas
    mean_beta = sum(betas) / len(betas)
    assert 0.5 < mean_beta < 1.5
    for r in rows:
        assert math.isfinite(r.beta) and math.isfinite(r.alpha)


def test_hourly_series_memo_invalidation(spark, sf_dir):
    """The b51/b53/b88 shared hourly-series checkpoint is memoized per
    (session, sf_dir); `invalidate_hourly_series` is the staleness hook
    an ingest job calls after mutating the events source — the next call
    must rebuild (a NEW checkpoint object), and invalidating an
    untouched sf_dir reports False."""
    from stock_data_pipeline_spark.operators.finance import (
        _hourly_series_mat,
        invalidate_hourly_series,
    )

    first = _hourly_series_mat(spark, sf_dir)
    assert _hourly_series_mat(spark, sf_dir) is first  # memo hit
    assert invalidate_hourly_series(spark, sf_dir) is True
    assert invalidate_hourly_series(spark, sf_dir) is False  # already gone
    rebuilt = _hourly_series_mat(spark, sf_dir)
    assert rebuilt is not first
    # path-spelling variants resolve to one identity (abspath key)
    alias = sf_dir.rstrip("/") + "/."
    assert invalidate_hourly_series(spark, alias) is True
    # drop-all arm: other suites may have populated OTHER sf_dirs in the
    # shared session memo, so only assert it leaves nothing behind for
    # THIS sf_dir (the global return value is order-dependent)
    invalidate_hourly_series(spark)
    assert invalidate_hourly_series(spark, sf_dir) is False
