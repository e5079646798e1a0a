"""Distributed per-key fetch (SURVEY.md §2 A5/A6/A13).

The reference loops ``yf.Ticker(sym).info`` sequentially inside each of 5
manually-sharded Airflow tasks (/root/reference/dags/stock_data_to_gcp.py:42-50).
Spark-first shape: the ticker universe is a DataFrame; the per-key HTTP/
scrape call runs inside ``mapInPandas`` over the ticker frame's own
partitions, so parallelism is the task scheduler's job: a seed frame from
``seed_table`` has one partition per task slot, hence one fetch task per
slot with no shuffle before it (at 500 keys this is trivia, at 5M keys
it's the same code).

Error tolerance (A6): the reference's bare ``except: continue`` silently
drops rows. Here a failed fetch yields a row with ``fetch_error`` set and
null measures; the pipeline splits that into an observable quarantine
stream instead of losing it.

Tests use deterministic synthetic fetchers (hash-derived values, injected
failures) — never the network (SURVEY.md §7 non-goals).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator
from datetime import datetime

import pandas as pd

from pyspark.sql import DataFrame

# A fetcher maps (symbol, batch_time) -> {field: float | None}; raising
# marks the whole row failed (quarantined), mirroring the reference's
# per-ticker try/except granularity.
RowFetcher = Callable[[str, datetime], dict[str, float | None]]


def _stable_unit(symbol: str, field: str, batch_time: datetime, salt: str = "") -> float:
    """Deterministic pseudo-random in [0,1) from (symbol, field, time)."""
    key = f"{symbol}|{field}|{batch_time.isoformat()}|{salt}".encode()
    return int.from_bytes(hashlib.sha256(key).digest()[:8], "big") / 2**64


def synthetic_quote_fetcher(
    fields: tuple[str, ...],
    *,
    fail_symbols: frozenset[str] = frozenset(),
    null_field_rate: float = 0.02,
) -> RowFetcher:
    """Deterministic stand-in for ``yf.Ticker(sym).info``.

    Values are hash-derived (reproducible across runs/partitions);
    ``fail_symbols`` raise (→ quarantine), and ~``null_field_rate`` of
    individual fields come back None (the reference's absent-info-key
    case, which is why every sink column is NULLABLE).
    """

    def fetch(symbol: str, batch_time: datetime) -> dict[str, float | None]:
        if symbol in fail_symbols:
            raise ConnectionError(f"synthetic fetch failure for {symbol}")
        out: dict[str, float | None] = {}
        for field in fields:
            if _stable_unit(symbol, field, batch_time, "null") < null_field_rate:
                out[field] = None
            else:
                out[field] = round(
                    _stable_unit(symbol, field, batch_time) * 1000, 4
                )
        return out

    return fetch


def fetch_batch(
    tickers: DataFrame,
    fetcher: RowFetcher,
    fields: tuple[str, ...],
    batch_time: datetime,
) -> DataFrame:
    """Run the fetcher across the partitions of ``tickers`` via mapInPandas.

    Output schema: Time, Ticker, <fields...>, fetch_error. One row per
    input symbol — failures carry the error message instead of measures.

    Scale: the partitions of ``tickers`` replace the reference's manual
    5-shard fan-out (A4), so the fan-out is set where the frame is built
    (``seed_table``: one partition per task slot). Each partition holds
    one long-lived fetch context (e.g. an HTTP session or headless
    browser for the A13 news scraper) across its Arrow batches, and every
    Python task pays a fixed worker setup, so more partitions than slots
    only add setup.
    """
    field_cols = ", ".join(f"`{f}` double" for f in fields)
    out_schema = f"Time timestamp_ntz, Ticker string, {field_cols}, fetch_error string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Per-partition setup would go here (session/browser reuse — the
        # Spark analog of the reference's per-task Chrome instance,
        # news_data_to_gcp.py:46-50).
        for pdf in batches:
            rows = []
            for symbol in pdf["Symbol"]:
                try:
                    measures = fetcher(symbol, batch_time)
                    rows.append(
                        {
                            "Time": batch_time,
                            "Ticker": symbol,
                            **{f: measures.get(f) for f in fields},
                            "fetch_error": None,
                        }
                    )
                except Exception as exc:  # noqa: BLE001 - quarantine semantics
                    rows.append(
                        {
                            "Time": batch_time,
                            "Ticker": symbol,
                            **{f: None for f in fields},
                            "fetch_error": f"{type(exc).__name__}: {exc}",
                        }
                    )
            yield pd.DataFrame(rows)

    return tickers.mapInPandas(run, out_schema)


def synthetic_news_fetcher(
    *, max_headlines: int = 5, fail_symbols: frozenset[str] = frozenset()
) -> Callable[[str, datetime], list[dict]]:
    """Deterministic stand-in for the CNBC headline scraper (A13).

    The reference XPath-scrapes ≤5 headlines per ticker
    (news_data_to_gcp.py:54-59); here headline count and dates are
    hash-derived. (The reference's own implementation is defective —
    SURVEY.md §0 — so the *intended* semantics are reproduced.)
    """

    def fetch(symbol: str, batch_time: datetime) -> list[dict]:
        if symbol in fail_symbols:
            raise ConnectionError(f"synthetic scrape failure for {symbol}")
        n = 1 + int(_stable_unit(symbol, "n_headlines", batch_time) * max_headlines)
        out = []
        for i in range(n):
            age_days = int(_stable_unit(symbol, f"age{i}", batch_time) * 30)
            out.append(
                {
                    "Title": f"{symbol} headline {i} on day -{age_days}",
                    "Date": pd.Timestamp(batch_time).normalize()
                    - pd.Timedelta(days=age_days),
                    "Price": round(_stable_unit(symbol, f"p{i}", batch_time) * 1000, 4),
                    "Volume": float(
                        int(_stable_unit(symbol, f"v{i}", batch_time) * 1e6)
                    ),
                }
            )
        return out

    return fetch


def fetch_news_batch(
    tickers: DataFrame,
    fetcher: Callable[[str, datetime], list[dict]],
    batch_time: datetime,
) -> DataFrame:
    """News variant of :func:`fetch_batch`: one row per headline (1:N)."""
    out_schema = (
        "CollectedAt timestamp_ntz, Date timestamp_ntz, Ticker string, "
        "Title string, Price double, Volume double, fetch_error string"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for symbol in pdf["Symbol"]:
                try:
                    for item in fetcher(symbol, batch_time):
                        rows.append(
                            {
                                "CollectedAt": batch_time,
                                "Ticker": symbol,
                                "fetch_error": None,
                                **item,
                            }
                        )
                except Exception as exc:  # noqa: BLE001
                    rows.append(
                        {
                            "CollectedAt": batch_time,
                            "Date": None,
                            "Ticker": symbol,
                            "Title": None,
                            "Price": None,
                            "Volume": None,
                            "fetch_error": f"{type(exc).__name__}: {exc}",
                        }
                    )
            yield pd.DataFrame(rows)

    return tickers.mapInPandas(run, out_schema)
