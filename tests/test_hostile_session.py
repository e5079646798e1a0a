"""Hostile host-session robustness (.claude verify probe, SURVEY §5).

The verification driver constructs its own vanilla SparkSession and never
applies this engine's conf defaults — and nothing stops a host from
running with a non-UTC timezone or timestamp inference quirks. Every
registered query goes through ``catalog.load``, which re-pins the
semantics-critical runtime confs on WHATEVER session executes it; these
tests prove that healing works end-to-end."""

from __future__ import annotations

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


def test_mid_run_conf_flip_heals(spark, sf_dir):
    """A hostile conf.set between two calls must be re-pinned by the
    next call (catalog.load pins the runtime confs on every load)."""
    before = _rows(get("b17_hourly_window_agg").fn(spark, sf_dir))
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    after = _rows(get("b17_hourly_window_agg").fn(spark, sf_dir))
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert after == before


def test_series_memo_hit_heals_conf_poisoning(spark, sf_dir):
    """The finance hourly series (a per-call localCheckpoint that b51,
    b53 and b88 self-join) must be built and collected under re-pinned
    runtime confs: a hostile tz lands before each b88 call, and b88 —
    whose builder reaches the tables only through ``_hourly_series_mat``
    — must still return the same rows under UTC. Regression for the r8
    hostile-sweep find, made when the series was memoized per session
    and a memo hit skipped ``catalog.load``: b51/b53 mask a poisoned
    session tz (their pair-joins cancel a uniform bucket shift) while
    b88 exposes the bucket column; 628/628 rows shifted."""
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    before = _rows(get("b88_pairs_spread").fn(spark, sf_dir))
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    after = _rows(get("b88_pairs_spread").fn(spark, sf_dir))
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert after == before
