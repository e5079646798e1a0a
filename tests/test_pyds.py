"""Python Data Source (Spark 4) quote feed: batch + streaming semantics.

Mirrors the reference's ingestion contract (A4 sharding, A5 per-key fetch,
A6 row-level tolerance, A20 serialized micro-batches) through
``format("synthetic_quotes")``.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from pyspark.sql import functions as F

from stock_data_pipeline_spark.sources import pyds
from stock_data_pipeline_spark.sources.fetch import _stable_unit

SYMS = [f"S{i:03d}" for i in range(20)]


@pytest.fixture()
def registered(spark):
    pyds.register(spark)
    return spark


def _batch_df(spark, **opts):
    reader = (
        spark.read.format("synthetic_quotes")
        .option("symbols", ",".join(SYMS))
        .option("batch_time", "2024-03-01T00:00:00")
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def test_batch_read_rows_and_schema(registered):
    df = _batch_df(registered)
    assert [f.name for f in df.schema.fields] == [
        "symbol", "batch_time", "price", "volume", "fetch_error",
    ]
    rows = {r.symbol: r for r in df.collect()}
    assert set(rows) == set(SYMS)
    # Values equal the shared deterministic generator -> the mapInPandas
    # fetch path and the DataSource path produce identical feeds.
    bt = datetime.fromisoformat("2024-03-01T00:00:00")
    for sym in SYMS:
        assert rows[sym].price == round(_stable_unit(sym, "price", bt) * 1000, 4)
        assert rows[sym].fetch_error is None


def test_source_owned_partition_planning(registered):
    df = _batch_df(registered, num_partitions=5)
    assert df.rdd.getNumPartitions() == 5
    # shards are disjoint and complete
    assert df.count() == len(SYMS)
    df1 = _batch_df(registered, num_partitions=1)
    assert df1.rdd.getNumPartitions() == 1


def test_failed_symbols_become_quarantine_rows(registered):
    df = _batch_df(registered, fail_symbols="S003,S007")
    out = {r.symbol: r for r in df.collect()}
    assert len(out) == len(SYMS)  # nothing silently dropped (A6)
    assert out["S003"].fetch_error and out["S003"].price is None
    assert out["S001"].fetch_error is None


def test_source_rows_equal_fetch_batch_rows(registered):
    """Both ingestion paths run ``synthetic_quote_fetcher``: with failed
    symbols and nulled fields, the source and ``fetch_batch`` over a seed
    frame agree on symbol, price, volume and failure for every row."""
    from stock_data_pipeline_spark.schemas import TICKER_DATA
    from stock_data_pipeline_spark.sources.fetch import fetch_batch, synthetic_quote_fetcher
    from stock_data_pipeline_spark.sources.seed import seed_table

    fail = frozenset({"S003", "S007"})
    source = _batch_df(
        registered,
        fields="Price,Volume",
        fail_symbols=",".join(sorted(fail)),
        null_field_rate=0.3,
    )
    mapped = fetch_batch(
        seed_table(registered, SYMS),
        synthetic_quote_fetcher(("Price", "Volume"), fail_symbols=fail, null_field_rate=0.3),
        TICKER_DATA,
        datetime(2024, 3, 1),
    )
    a = {(r.symbol, r.Price, r.Volume, r.fetch_error is not None) for r in source.collect()}
    b = {(r.Ticker, r.Price, r.Volume, r.fetch_error is not None) for r in mapped.collect()}
    assert a == b
    assert len(a) == len(SYMS)
    assert {r[0] for r in a if r[3]} == fail
    # nulled fields on healthy symbols, so the null path is compared too
    assert any(r[1] is None or r[2] is None for r in a if not r[3])


def _drain_until(q, predicate, timeout_s=60):
    """Run a continuous-trigger stream until ``predicate()`` holds (Python
    stream sources do not support Trigger.AvailableNow in Spark 4.1 — the
    engine falls back to one batch per start — so tests poll instead)."""
    import time

    deadline = time.monotonic() + timeout_s
    try:
        while time.monotonic() < deadline:
            if predicate():
                return
            time.sleep(0.5)
        raise AssertionError("stream did not reach expected state in time")
    finally:
        q.stop()


def test_stream_drains_n_batches_and_resumes(registered, tmp_path):
    def start_stream():
        stream = (
            registered.readStream.format("synthetic_quotes")
            .option("symbols", ",".join(SYMS))
            .option("n_batches", 3)
            .load()
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", str(tmp_path / "sink"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    def n_rows():
        try:
            return registered.read.parquet(str(tmp_path / "sink")).count()
        except Exception:
            return 0

    q = start_stream()
    _drain_until(q, lambda: n_rows() >= 3 * len(SYMS))
    out = registered.read.parquet(str(tmp_path / "sink"))
    assert out.count() == 3 * len(SYMS)
    # one micro-batch per tick, each with its own deterministic batch_time
    assert out.select("batch_time").distinct().count() == 3

    # Restart from the same checkpoint: offsets are committed, so the
    # exhausted feed replays NOTHING (exactly-once without sink dedup).
    q2 = start_stream()
    import time

    time.sleep(3)
    q2.stop()
    assert registered.read.parquet(str(tmp_path / "sink")).count() == 3 * len(SYMS)


def test_stream_batch_times_follow_cadence(registered, tmp_path):
    stream = (
        registered.readStream.format("synthetic_quotes")
        .option("symbols", "A,B")
        .option("n_batches", 2)
        .option("interval_minutes", 30)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pyds_cadence")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _drain_until(
        q,
        lambda: registered.sql(
            "SELECT COUNT(DISTINCT batch_time) AS n FROM pyds_cadence"
        ).collect()[0].n >= 2,
    )
    ts = sorted(
        r.batch_time
        for r in registered.sql(
            "SELECT DISTINCT batch_time FROM pyds_cadence"
        ).collect()
    )
    assert ts == [datetime(2024, 1, 1, 0, 0), datetime(2024, 1, 1, 0, 30)]
