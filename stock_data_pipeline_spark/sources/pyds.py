"""Spark 4 Python Data Source: the quote feed as a first-class ``format``.

The reference ingests quotes with an imperative per-ticker loop inside each
of 5 hand-sharded Airflow tasks (/root/reference/dags/stock_data_to_gcp.py:
42-50). ``sources/fetch.py`` already maps that onto ``mapInPandas``; this
module goes one step further using the Python Data Source API
(``pyspark.sql.datasource``, Spark 4): the feed becomes

    spark.dataSource.register(SyntheticQuoteDataSource)
    spark.read.format("synthetic_quotes")
         .option("symbols", "AAPL,MSFT,...").load()

with PARTITION PLANNING OWNED BY THE SOURCE — one ``InputPartition`` per
symbol shard, so a 1000-executor cluster fans the fetch out exactly like
any file scan, no manual shard lists. The same class exposes a
``SimpleDataSourceStreamReader`` so the identical feed also runs as a
Structured Streaming source (micro-batch per cron tick, A20), with offsets
giving exactly-once across restarts.

Row-level error tolerance (A6) lives INSIDE the source: a failing symbol
yields a row with ``fetch_error`` set and null measures — observable
quarantine, never a silent drop.

Determinism: rows come from the same ``synthetic_quote_fetcher`` the
mapInPandas path runs (values hash-derived from symbol, field and
batch_time; the same failed symbols and nulled fields), so both ingestion
paths produce identical rows for identical inputs.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .fetch import synthetic_quote_fetcher

DEFAULT_FIELDS = ("price", "volume")

# Streaming epoch: batch n carries batch_time = _EPOCH + n * interval.
_EPOCH = datetime(2024, 1, 1)


def _parse_options(options) -> dict:
    symbols = [s for s in str(options.get("symbols", "")).split(",") if s]
    if not symbols:
        raise ValueError("synthetic_quotes requires option 'symbols' (csv)")
    fields = tuple(
        f for f in str(options.get("fields", ",".join(DEFAULT_FIELDS))).split(",") if f
    )
    return {
        "symbols": symbols,
        "fields": fields,
        "batch_time": datetime.fromisoformat(
            str(options.get("batch_time", _EPOCH.isoformat()))
        ),
        "num_partitions": int(options.get("num_partitions", 4)),
        "fetcher": synthetic_quote_fetcher(
            fields,
            fail_symbols=frozenset(
                s for s in str(options.get("fail_symbols", "")).split(",") if s
            ),
            null_field_rate=float(options.get("null_field_rate", 0.0)),
        ),
        "n_batches": int(options.get("n_batches", 3)),
        "interval_minutes": int(options.get("interval_minutes", 60)),
    }


def _quote_schema(fields: tuple[str, ...]) -> T.StructType:
    return T.StructType(
        [T.StructField("symbol", T.StringType(), False),
         T.StructField("batch_time", T.TimestampNTZType(), False)]
        + [T.StructField(f, T.DoubleType(), True) for f in fields]
        + [T.StructField("fetch_error", T.StringType(), True)]
    )


def _fetch_row(symbol: str, batch_time: datetime, cfg: dict) -> tuple:
    """One quote row; failures become data (A6), never exceptions."""
    try:
        (values,) = cfg["fetcher"](symbol, batch_time)
    except Exception as exc:  # noqa: BLE001 - quarantine semantics
        return (symbol, batch_time, *(None for _ in cfg["fields"]), str(exc))
    return (symbol, batch_time, *(values[f] for f in cfg["fields"]), None)


class _ShardPartition(InputPartition):
    def __init__(self, symbols: list[str]):
        self.symbols = symbols


class SyntheticQuoteBatchReader(DataSourceReader):
    def __init__(self, cfg: dict):
        self.cfg = cfg

    def partitions(self):
        """Source-owned partition planning: symbols round-robin into
        ``num_partitions`` shards (the reference's 5-way shard list,
        generalized and scheduler-driven)."""
        n = max(1, min(self.cfg["num_partitions"], len(self.cfg["symbols"])))
        shards = [self.cfg["symbols"][i::n] for i in range(n)]
        return [_ShardPartition(s) for s in shards if s]

    def read(self, partition: _ShardPartition):
        for sym in partition.symbols:
            yield _fetch_row(sym, self.cfg["batch_time"], self.cfg)


class SyntheticQuoteStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch stream: offset = number of completed cron ticks.

    ``read(start)`` emits exactly one tick's worth of rows and advances the
    offset by one until ``n_batches`` ticks exist, then reports no new data
    (same offset back). Restarting from a checkpoint resumes at the
    committed tick — exactly-once without any sink-side dedup. (Python
    stream sources do not support ``Trigger.AvailableNow`` in Spark 4.1;
    run with the default micro-batch trigger and stop on quiescence.)
    """

    def __init__(self, cfg: dict):
        self.cfg = cfg

    def initialOffset(self):
        return {"tick": 0}

    def _rows_for_tick(self, tick: int):
        bt = _EPOCH + timedelta(minutes=tick * self.cfg["interval_minutes"])
        return [_fetch_row(s, bt, self.cfg) for s in self.cfg["symbols"]]

    def read(self, start: dict):
        tick = int(start["tick"])
        if tick >= self.cfg["n_batches"]:
            return iter([]), {"tick": tick}
        return iter(self._rows_for_tick(tick)), {"tick": tick + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Deterministic replay for recovery: regenerate the exact rows."""
        out = []
        for tick in range(int(start["tick"]), int(end["tick"])):
            out.extend(self._rows_for_tick(tick))
        return iter(out)


class SyntheticQuoteDataSource(DataSource):
    """``format("synthetic_quotes")`` — batch and streaming quote feed."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_quotes"

    def schema(self) -> T.StructType:
        return _quote_schema(_parse_options(self.options)["fields"])

    def reader(self, schema: T.StructType) -> SyntheticQuoteBatchReader:
        return SyntheticQuoteBatchReader(_parse_options(self.options))

    def simpleStreamReader(self, schema: T.StructType) -> SyntheticQuoteStreamReader:
        return SyntheticQuoteStreamReader(_parse_options(self.options))


def register(spark) -> None:
    spark.dataSource.register(SyntheticQuoteDataSource)
