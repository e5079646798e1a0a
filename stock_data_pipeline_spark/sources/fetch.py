"""Distributed per-key fetch (SURVEY.md §2 A5/A6/A13).

The reference loops ``yf.Ticker(sym).info`` sequentially inside each of 5
manually-sharded Airflow tasks (/root/reference/dags/stock_data_to_gcp.py:42-50).
Spark-first shape: the ticker universe is a DataFrame; the per-key HTTP/
scrape call runs inside ``mapInPandas`` over the ticker frame's own
partitions, so parallelism is the task scheduler's job: a seed frame from
``seed_table`` has one partition per task slot, hence one fetch task per
slot with no shuffle before it (at 500 keys this is trivia, at 5M keys
it's the same code).

One entry point serves every table: :func:`fetch_batch` takes the sink
schema (``schemas.SINK_SCHEMAS``), stamps the collection time and ticker
itself, and leaves the row shape to the fetcher — one row per symbol for
quotes, one per headline for news.

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
from pyspark.sql import types as T

# A fetcher maps (symbol, batch_time) -> a list of rows, each a dict over
# the columns it fills (:func:`fetched_columns`): one row per quote, one
# per headline for news (1:N). Raising marks the symbol failed
# (quarantined), mirroring the reference's per-ticker try/except
# granularity.
RowFetcher = Callable[[str, datetime], list[dict[str, object]]]


def fetched_columns(schema: T.StructType) -> tuple[str, ...]:
    """The sink columns a fetcher fills: all but the leading collection
    time and ``Ticker``, which :func:`fetch_batch` sets itself."""
    return tuple(n for n in schema.names[1:] if n != "Ticker")


def with_fetch_error(schema: T.StructType) -> T.StructType:
    """``schema`` plus a nullable ``fetch_error`` string: the shape of a
    fetched batch and of the quarantine. Builds a new field list: the
    sink schemas are shared, and ``StructType.add`` would append to them."""
    return T.StructType([*schema.fields, T.StructField("fetch_error", T.StringType(), True)])


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
    """Deterministic stand-in for ``yf.Ticker(sym).info``: one row per symbol.

    Values are hash-derived (reproducible across runs/partitions);
    ``fail_symbols`` raise (→ quarantine), and ~``null_field_rate`` of
    individual fields come back None (the reference's absent-info-key
    case, which is why every sink column is NULLABLE).
    """

    def fetch(symbol: str, batch_time: datetime) -> list[dict[str, object]]:
        if symbol in fail_symbols:
            raise ConnectionError(f"synthetic fetch failure for {symbol}")
        out: dict[str, object] = {}
        for field in fields:
            if _stable_unit(symbol, field, batch_time, "null") < null_field_rate:
                out[field] = None
            else:
                out[field] = round(
                    _stable_unit(symbol, field, batch_time) * 1000, 4
                )
        return [out]

    return fetch


def fetch_batch(
    tickers: DataFrame,
    fetcher: RowFetcher,
    schema: T.StructType,
    batch_time: datetime,
) -> DataFrame:
    """Run the fetcher across the partitions of ``tickers`` via mapInPandas.

    Output schema: ``schema`` (a sink schema: collection time, ``Ticker``,
    the fetched columns) plus ``fetch_error``. Every row the fetcher
    returns for a symbol becomes one output row stamped with
    ``batch_time`` and the symbol; a symbol whose fetch raises yields one
    row carrying the error message instead of measures.

    Scale: the partitions of ``tickers`` replace the reference's manual
    5-shard fan-out (A4), so the fan-out is set where the frame is built
    (``seed_table``: one partition per task slot). Each partition holds
    one long-lived fetch context (e.g. an HTTP session or headless
    browser for the A13 news scraper) across its Arrow batches, and every
    Python task pays a fixed worker setup, so more partitions than slots
    only add setup.
    """
    out_schema = with_fetch_error(schema)
    columns = out_schema.names
    time_col = columns[0]
    # every column a row leaves unset is None, not absent: pandas fills an
    # absent one with float NaN, and Arrow will not cast an all-NaN double
    # column to the timestamp or string a failed batch's columns declare
    blank = dict.fromkeys(columns)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Per-partition setup would go here (session/browser reuse — the
        # Spark analog of the reference's per-task Chrome instance,
        # news_data_to_gcp.py:46-50).
        for pdf in batches:
            rows = []
            for symbol in pdf["Symbol"]:
                try:
                    for row in fetcher(symbol, batch_time):
                        rows.append(
                            {**blank, **row, time_col: batch_time, "Ticker": symbol}
                        )
                except Exception as exc:  # noqa: BLE001 - quarantine semantics
                    rows.append(
                        {
                            **blank,
                            time_col: batch_time,
                            "Ticker": symbol,
                            "fetch_error": f"{type(exc).__name__}: {exc}",
                        }
                    )
            # columns= fixes the order and drops keys outside the schema
            yield pd.DataFrame(rows, columns=columns)

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
