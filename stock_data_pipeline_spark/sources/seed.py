"""Ticker-universe seed source (SURVEY.md §2 A1-A3).

The reference scrapes the S&P-500 constituents table from Wikipedia with
``pandas.read_html``, projects the Symbol column, and drops two known-bad
tickers (/root/reference/dags/stock_data_to_gcp.py:26-37). The seed list is
a *dimension* — a few hundred keys — so fetching it on the driver and
parallelizing from a DataFrame is the right shape; the per-key heavy work
(quotes, statements) happens in executors (sources/fetch.py).

Tests and offline runs use :func:`synthetic_universe` — deterministic fake
symbols; live scraping is gated behind an import-try and never used in
tests (SURVEY.md §7 non-goals).
"""

from __future__ import annotations

import string

from pyspark.sql import DataFrame, SparkSession

# A3: the reference drops symbols whose Yahoo spelling differs
# (stock_data_to_gcp.py:34-35).
BAD_TICKERS = ("BF.B", "BRK.B")


def synthetic_universe(n: int = 500) -> list[str]:
    """Deterministic fake ticker symbols: AAA, AAB, ... (n of them),
    plus the two known-bad symbols so the A3 filter has work to do."""
    letters = string.ascii_uppercase
    out = []
    i = 0
    while len(out) < n:
        a, rem = divmod(i, 26 * 26)
        b, c = divmod(rem, 26)
        out.append(letters[a] + letters[b] + letters[c])
        i += 1
    return out + list(BAD_TICKERS)


def seed_table(
    spark: SparkSession, symbols: list[str] | None = None
) -> DataFrame:
    """Seed DataFrame of tickers with the bad-symbol filter applied (A2+A3).

    Its partitions set the fetch fan-out (sources/fetch.py):
    ``createDataFrame`` parallelizes the list into
    ``sparkContext.defaultParallelism`` slices, so a batch runs one fetch
    task per task slot, and slices left empty (fewer symbols than slots)
    run no fetch and write no file.
    """
    from pyspark.sql import functions as F

    symbols = symbols if symbols is not None else synthetic_universe()
    df = spark.createDataFrame([(s,) for s in symbols], "Symbol string")
    return df.filter(~F.col("Symbol").isin(*BAD_TICKERS))


def scrape_constituents(url: str) -> list[str]:
    """A1 live path: fetch an HTML constituents table (driver-side).

    Gated: the scraping libs may be absent and tests never hit the
    network; semantics mirror the reference's ``read_html(...)[0]
    ['Symbol']`` projection.
    """
    try:
        import pandas as pd
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError("pandas required for HTML scraping") from exc
    try:
        tables = pd.read_html(url)
    except Exception as exc:  # pragma: no cover - offline environment
        raise NotImplementedError(
            f"live constituent scraping unavailable here ({exc}); "
            "use synthetic_universe() or pass symbols explicitly"
        ) from exc
    return [str(s) for s in tables[0]["Symbol"].tolist()]
