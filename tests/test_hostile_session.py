"""Hostile host-session robustness (.claude verify probe, SURVEY §5).

The verification driver constructs its own vanilla SparkSession and never
applies this engine's conf defaults — and nothing stops a host from
running with a non-UTC timezone or timestamp inference quirks. Every
registered query goes through ``catalog.load``, which re-pins the
semantics-critical runtime confs on WHATEVER session executes it; these
tests prove that healing works end-to-end."""

from __future__ import annotations

from stock_data_pipeline_spark.catalog import load
from stock_data_pipeline_spark.registry import get

# Timestamp-sensitive driver-facing queries: a timezone shift would move
# hour buckets, window frames, and date_trunc results.
PROBES = ("b01_filter_time_range", "b17_hourly_window_agg", "b03_ohlcv_bars")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_hostile_timezone_session_heals(spark, sf_dir):
    baseline = {n: _rows(get(n).fn(spark, sf_dir)) for n in PROBES}

    # sibling session: separate SQLConf, shared JVM (do not .stop() it)
    hostile = spark.newSession()
    hostile.conf.set("spark.sql.session.timeZone", "America/New_York")
    hostile.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    for n in PROBES:
        assert _rows(get(n).fn(hostile, sf_dir)) == baseline[n], n
    # load() must have re-pinned UTC on the hostile session
    assert hostile.conf.get("spark.sql.session.timeZone") == "UTC"


def test_sibling_sessions_do_not_share_catalog_memo(spark, sf_dir):
    """A DataFrame executes under the conf of the session that built it;
    the catalog memo must therefore never hand session A's frame to
    session B (sessions share an applicationId)."""
    df_main = load(spark, sf_dir, "events")
    sib = spark.newSession()
    df_sib = load(sib, sf_dir, "events")
    assert df_main is not df_sib
    # same session -> memo hit
    assert load(spark, sf_dir, "events") is df_main
    assert load(sib, sf_dir, "events") is df_sib


def test_mid_run_conf_flip_heals(spark, sf_dir):
    """A hostile conf.set AFTER a memo hit must trigger re-pinning on the
    next load (the sentinel-probe path in catalog._confs_intact)."""
    before = _rows(get("b17_hourly_window_agg").fn(spark, sf_dir))
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    after = _rows(get("b17_hourly_window_agg").fn(spark, sf_dir))
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert after == before


def test_series_memo_hit_heals_conf_poisoning(spark, sf_dir):
    """The finance hourly-series localCheckpoint memo must re-probe the
    conf sentinels on a HIT: b51 warms the memo, a hostile tz lands,
    then b88 — whose builder reads only `_hourly_series_mat` (a
    series-memo hit, no catalog.load) — must still execute and collect
    under re-pinned UTC. Regression for the r8 hostile-sweep find:
    b51/b53 mask a poisoned session tz (their pair-joins cancel a
    uniform bucket shift) while b88 exposes the bucket column; 628/628
    rows shifted."""
    from stock_data_pipeline_spark.operators.finance import (
        _hourly_series_mat,
        invalidate_hourly_series,
    )

    invalidate_hourly_series(spark)
    _hourly_series_mat(spark, sf_dir)  # warm the series memo (healed here)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    before = _rows(get("b88_pairs_spread").fn(spark, sf_dir))
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    after = _rows(get("b88_pairs_spread").fn(spark, sf_dir))
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert after == before
