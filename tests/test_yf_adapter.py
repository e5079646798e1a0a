"""yfinance-shaped adapter: the reference's exact `.info`-dict field
mappings (financial_ratio_to_gcp.py:47, stock_data_to_gcp.py:47,
financial_statement_to_gcp.py:47) driven through the engine pipelines
with a recorded offline transport — missing keys and dead connections
must quarantine with reasons, never vanish (the reference's bare
``except: continue`` drops them silently)."""

from __future__ import annotations

from datetime import datetime

import pytest

from stock_data_pipeline_spark.pipelines.ingest import (
    RATIO_SPEC,
    TICKER_SPEC,
    IngestPipeline,
)
from stock_data_pipeline_spark.sources.yf_adapter import (
    YF_FIELD_MAP,
    recorded_transport,
    yfinance_fetcher,
)

T0 = datetime(2024, 3, 1, 9, 30, 0)

# Recorded `.info` pages: realistic key sets including keys the mappings
# ignore; GOOD has everything, PARTIAL is missing debtToEquity (the
# missing-info-key failure class), NULLY carries an explicit null.
PAGES = {
    "AAPL": {
        "currentPrice": 231.44, "volume": 54_118_200,
        "quickRatio": 0.83, "currentRatio": 0.95,
        "returnOnAssets": 0.285, "returnOnEquity": 1.47,
        "debtToEquity": 176.3, "freeCashflow": 101_900_000_000,
        "marketCap": 3_500_000_000_000, "beta": 1.24,  # unmapped extras
    },
    "MSFT": {
        "currentPrice": 512.07, "volume": 18_334_900,
        "quickRatio": 1.27, "currentRatio": 1.30,
        "returnOnAssets": 0.148, "returnOnEquity": 0.327,
        "debtToEquity": 33.7, "freeCashflow": 74_100_000_000,
    },
    "PARTIAL": {
        "currentPrice": 10.0, "volume": 1_000,
        "quickRatio": 1.0, "currentRatio": 1.1,
        "returnOnAssets": 0.05, "returnOnEquity": 0.08,
        # debtToEquity absent, freeCashflow absent
    },
    "NULLY": {
        "currentPrice": 55.5, "volume": None,
        "quickRatio": 2.0, "currentRatio": 2.1,
        "returnOnAssets": 0.2, "returnOnEquity": 0.3,
        "debtToEquity": None, "freeCashflow": 5_000_000,
    },
}
SYMBOLS = ["AAPL", "MSFT", "PARTIAL", "NULLY", "DEAD"]


def _pipeline(spec, tmp_path, fail=frozenset({"DEAD"})):
    transport = recorded_transport(PAGES, fail_symbols=fail)
    return IngestPipeline(
        spec,
        str(tmp_path),
        fetcher=yfinance_fetcher(spec.name, transport),
        symbols=SYMBOLS,
    )


def test_mappings_cover_spec_fields():
    from stock_data_pipeline_spark.pipelines.ingest import STATEMENT_SPEC

    for spec in (TICKER_SPEC, RATIO_SPEC, STATEMENT_SPEC):
        assert tuple(YF_FIELD_MAP[spec.name]) == spec.fields


def test_ticker_spec_through_adapter(spark, tmp_path):
    metrics = _pipeline(TICKER_SPEC, tmp_path).run_batch(spark, T0)
    assert (metrics.n_fetched, metrics.n_ok, metrics.n_quarantined) == (5, 4, 1)
    p = _pipeline(TICKER_SPEC, tmp_path)
    sink = {r.Ticker: r for r in p.read_sink(spark).collect()}
    assert sink["AAPL"].Price == pytest.approx(231.44)
    assert sink["AAPL"].Volume == pytest.approx(54_118_200.0)
    # PARTIAL has price+volume, so it lands fine on TICKER_SPEC
    assert sink["PARTIAL"].Price == pytest.approx(10.0)
    assert sink["NULLY"].Volume is None  # null value stays a null measure
    q = p.read_quarantine(spark).collect()
    assert {r.Ticker for r in q} == {"DEAD"}
    assert "ConnectionError" in q[0].fetch_error


def test_ratio_spec_missing_keys_quarantine(spark, tmp_path):
    p = _pipeline(RATIO_SPEC, tmp_path)
    metrics = p.run_batch(spark, T0)
    # PARTIAL joins DEAD in quarantine: mapped info keys absent
    assert (metrics.n_fetched, metrics.n_ok, metrics.n_quarantined) == (5, 3, 2)
    sink = {r.Ticker: r for r in p.read_sink(spark).collect()}
    assert sink["AAPL"].DebttoEquity == pytest.approx(176.3)
    assert sink["AAPL"].FCF == pytest.approx(101_900_000_000.0)
    assert sink["NULLY"].DebttoEquity is None
    q = {r.Ticker: r.fetch_error for r in p.read_quarantine(spark).collect()}
    assert set(q) == {"DEAD", "PARTIAL"}
    assert "debtToEquity" in q["PARTIAL"] and "freeCashflow" in q["PARTIAL"]


def test_unknown_spec_name_rejected():
    with pytest.raises(KeyError, match="no yfinance field mapping"):
        yfinance_fetcher("nope", recorded_transport(PAGES))


def test_live_transport_is_import_gated():
    from stock_data_pipeline_spark.sources.yf_adapter import (
        live_yfinance_transport,
    )

    try:
        import yfinance  # noqa: F401  # type: ignore[import-not-found]
    except ImportError:
        with pytest.raises(NotImplementedError, match="yfinance"):
            live_yfinance_transport()
    else:  # pragma: no cover - yfinance present
        assert callable(live_yfinance_transport())


@pytest.mark.parametrize("transport", ["recorded", "live"])
def test_live_single_ticker_fetch_opt_in(request, spark, transport):
    """ONE ticker through the direct adapter path — transport ->
    yfinance_fetcher -> fetch_batch over a ``seed_table`` frame —
    asserting a priced row or an explicit quarantine row (a dead market
    feed must not look like silent success). The recorded transport
    always runs; the live one is an opt-in smoke (`pytest --live`), and
    the import gate's actionable message is covered by
    test_live_transport_is_import_gated."""
    from stock_data_pipeline_spark.sources.fetch import fetch_batch
    from stock_data_pipeline_spark.sources.seed import seed_table
    from stock_data_pipeline_spark.sources.yf_adapter import (
        live_yfinance_transport,
    )

    if transport == "live":
        if not request.config.getoption("--live"):
            pytest.skip("live transport smoke runs only with --live")
        fetcher = yfinance_fetcher("ticker_data", live_yfinance_transport())
    else:
        fetcher = yfinance_fetcher("ticker_data", recorded_transport(PAGES))
    rows = fetch_batch(
        seed_table(spark, ["AAPL"]),
        fetcher,
        TICKER_SPEC.schema,
        datetime(2024, 1, 2, 9, 30),
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.Ticker == "AAPL"
    assert (r.fetch_error is None and r.Price is not None) or (
        r.fetch_error is not None
    )
    if transport == "recorded":
        assert r.fetch_error is None and r.Price == pytest.approx(231.44)
