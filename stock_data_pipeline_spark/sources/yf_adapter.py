"""yfinance-shaped adapter for the :data:`~.fetch.RowFetcher` contract.

The reference's four DAGs each hand-index a ``yf.Ticker(sym).info`` dict
into their sink columns (stock_data_to_gcp.py:47,
financial_ratio_to_gcp.py:47, financial_statement_to_gcp.py:47,
news_data_to_gcp.py:59). This module carries those exact field→info-key
mappings as data, and adapts ANY ``.info``-shaped source — the real
``yfinance`` client or a recorded fixture — into a ``RowFetcher`` that
returns one row per symbol, which ``fetch_batch`` stamps with the batch
time and ticker like any other fetcher's rows.

Error semantics, deliberately different from the reference: a missing
info key there raises inside a bare ``except: continue`` and the row
VANISHES (which is why every reference sink column is NULLABLE). Here
the missing key raises out of the fetcher, so ``fetch_batch`` lands the
row in the observable quarantine with the error message — same
row-level granularity, nothing silently dropped. An info key present
with value ``None`` stays a null measure (not an error), matching the
reference's nullable-column semantics.

The transport is injected so tests never touch the network
(SURVEY.md §7 non-goals); the live transport is import-gated exactly
like the live HTML seed scrape (sources/seed.py).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from datetime import datetime

from .fetch import RowFetcher

# symbol -> yfinance `.info`-shaped mapping
InfoTransport = Callable[[str], Mapping[str, object]]

# Sink column -> `.info` key, verbatim from the reference DAGs.
YF_FIELD_MAP: dict[str, dict[str, str]] = {
    # stock_data_to_gcp.py:47 (and news_data_to_gcp.py:59 price/volume)
    "ticker_data": {"Price": "currentPrice", "Volume": "volume"},
    # financial_ratio_to_gcp.py:47
    "fin_ratio_data": {
        "QuickRatio": "quickRatio",
        "CurrentRatio": "currentRatio",
        "ROA": "returnOnAssets",
        "ROE": "returnOnEquity",
        "DebttoEquity": "debtToEquity",
        "FCF": "freeCashflow",
    },
    # financial_statement_to_gcp.py:47
    "fin_stm_data": {
        "DividendYield": "dividendYield",
        "TotalCash": "totalCash",
        "TotalDebt": "totalDebt",
        "TotalRevenue": "totalRevenue",
        "RevPerShare": "revenuePerShare",
        "GrossProfits": "grossProfits",
        "OCF": "operatingCashflow",
    },
}


def yfinance_fetcher(spec_name: str, transport: InfoTransport) -> RowFetcher:
    """Adapt an ``.info``-shaped transport into a ``RowFetcher`` using the
    reference's field mapping for ``spec_name``.

    Raises (→ quarantine row, via ``fetch_batch``) when the transport
    itself fails OR when a mapped key is absent from the returned dict —
    the two failure classes the reference's bare except collapses.
    """
    try:
        mapping = YF_FIELD_MAP[spec_name]
    except KeyError:
        raise KeyError(
            f"no yfinance field mapping for spec {spec_name!r}; "
            f"expected one of {sorted(YF_FIELD_MAP)}"
        ) from None

    def fetch(symbol: str, batch_time: datetime) -> list[dict[str, object]]:
        info = transport(symbol)
        missing = [key for key in mapping.values() if key not in info]
        if missing:
            raise KeyError(
                f"info dict for {symbol} missing key(s) {missing}"
            )
        out: dict[str, object] = {}
        for field, key in mapping.items():
            value = info[key]
            out[field] = None if value is None else float(value)  # type: ignore[arg-type]
        return [out]

    return fetch


def recorded_transport(
    pages: Mapping[str, Mapping[str, object]],
    *,
    fail_symbols: frozenset[str] = frozenset(),
) -> InfoTransport:
    """Offline transport over recorded ``.info`` fixtures; symbols in
    ``fail_symbols`` raise like a dead connection would."""

    def get(symbol: str) -> Mapping[str, object]:
        if symbol in fail_symbols:
            raise ConnectionError(f"recorded transport failure for {symbol}")
        try:
            return pages[symbol]
        except KeyError:
            raise ConnectionError(f"no recorded page for {symbol}") from None

    return get


def live_yfinance_transport() -> InfoTransport:
    """The real client, import-gated (yfinance is absent in CI — tests
    use :func:`recorded_transport`; this exists so production wiring is
    one line)."""
    try:
        import yfinance  # type: ignore[import-not-found]
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "yfinance is not installed; inject recorded_transport(...) or "
            "install yfinance for live fetches"
        ) from exc

    def get(symbol: str) -> Mapping[str, object]:  # pragma: no cover - live
        return yfinance.Ticker(symbol).info

    return get
