"""Financial time-series analytics — the dashboard layer over the bars.

The reference lands 2-minute ticker snapshots and financial ratios and
promises "further analysis about the stock market" on top of them, delegated
wholesale to BigQuery (/root/reference/README.md:3,23;
/root/reference/dags/stock_data_to_gcp.py:43-47). These queries ARE that
analysis layer, re-expressed Spark-first over the ``events`` stand-in
(event_type = instrument, value = price): daily returns, drawdown, pairwise
correlation, rolling z-score anomalies, and market beta.

Determinism across engines (the registry contract) is handled WITHOUT
rounding slop: every statistic here is built from exact scaled-integer
moments (``SUM(CAST(FLOOR(x·10ˢ + 0.5) AS DECIMAL(18,0)))`` — associative,
order-independent) combined with only IEEE-exact double ops (+ − × ÷ sqrt,
all correctly rounded), and no transcendentals. Spark and DuckDB therefore
produce bit-identical doubles, and each query is ONE shared SQL text run on
both engines. Returns use arithmetic (not log) form for exactly this
reason: ``ln``/``exp`` are libm-dependent, ``close/prev − 1`` is not.

Scale: every query is one hash-aggregate on (instrument, bucket) followed
by windows partitioned by instrument — the aggregate shuffle carries
O(#instruments × #buckets) rows regardless of tick volume, and map-side
partial aggregation does the 100 TB → MB reduction before the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register_views
from ..registry import query

# Daily close bars shared by the returns/drawdown queries. max_by on the
# tick timestamp = "last trade of the day"; one shuffle at O(#bars).
# Known limitation: ties on ts resolve arbitrarily — these texts must be
# valid in BOTH SQL dialects, and no shared spelling expresses a
# struct/ordered tie-break (Spark max_by(struct) vs DuckDB ordered
# last() are mutually untranslatable). The registered B3 bars
# (operators/timeseries.py b03_ohlcv_bars) carry the deterministic
# event_id tie-break; the fixture has no equal-ts ticks.
_DAILY_BARS = """
    SELECT event_type,
           date_trunc('day', ts) AS bar_date,
           max_by(value, ts) AS close
    FROM events
    GROUP BY event_type, date_trunc('day', ts)
"""

# Hourly mark price per instrument: exact fixed-point mean (dec_avg shape,
# spelled inline so the text is engine-shared).
_HOURLY_SERIES = """
    SELECT event_type,
           date_trunc('hour', ts) AS bucket,
           (CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS DECIMAL(18,0)))
                 AS DOUBLE) / 100.0) / COUNT(value) AS px
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
"""


_B49_SQL = f"""
    WITH bars AS ({_DAILY_BARS})
    SELECT event_type, bar_date, close,
           floor((close / nullif(lag(close) OVER w, 0) - 1) * 1000000)
             / 1000000 AS daily_return,
           floor((close / nullif(first_value(close) OVER w, 0) - 1) * 1000000)
             / 1000000 AS cum_return
    FROM bars
    WINDOW w AS (PARTITION BY event_type ORDER BY bar_date)
"""


@query("b49_daily_returns", oracle=_B49_SQL, driver=False)
def b49_daily_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B49: daily simple returns + cumulative return since inception.

    ``lag``/``first_value`` over the per-instrument date order turn the
    bars into a return series with no self-join; cumulative return is the
    closed-form ``close/first − 1`` (a ratio of two exact window picks),
    NOT a running product/log-sum — no float accumulation anywhere, so the
    result is bit-stable under any partitioning. ``nullif`` guards a zero
    close (the driver's synthetic prices touch 0.0): ANSI floor(∞) would
    otherwise error. Both windows share one sort per instrument partition.
    """
    register_views(spark, sf_dir)
    return spark.sql(_B49_SQL)


_B50_SQL = f"""
    WITH bars AS ({_DAILY_BARS}),
    dd AS (
      SELECT event_type, bar_date, close,
             max(close) OVER (PARTITION BY event_type ORDER BY bar_date
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_peak
      FROM bars
    ),
    scored AS (
      SELECT event_type, bar_date, close, run_peak,
             floor((close / nullif(run_peak, 0) - 1) * 1000000) / 1000000
               AS drawdown,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY floor((close / nullif(run_peak, 0) - 1) * 1000000)
                          / 1000000 ASC NULLS LAST,
                        bar_date ASC
             ) AS rn
      FROM dd
    )
    SELECT event_type, drawdown AS max_drawdown, bar_date AS trough_date,
           run_peak AS peak_close, close AS trough_close
    FROM scored
    WHERE rn = 1
"""


# promoted r14: fresh oracle-backed rotation (VERDICT r13 task 8)
@query("b50_drawdown", oracle=_B50_SQL, driver=True)
def b50_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B50: maximum drawdown per instrument, with the trough row.

    Running peak is a prefix-MAX window (exact — no float summation), the
    drawdown ratio is one exact division, and the trough is picked by
    ``row_number`` with an explicit (drawdown, date) order — ``min_by``
    would tie-break arbitrarily, and Spark/DuckDB disagree on default null
    ordering, hence the spelled-out ``NULLS LAST``. Scale: windows run on
    the already-aggregated bar table (O(#instruments × #days) rows).
    """
    register_views(spark, sf_dir)
    return spark.sql(_B50_SQL)


# Exact scaled sums over a column at 1e4 scale, shared spelling.
def _s4(expr: str) -> str:
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * 10000.0 + 0.5) AS DECIMAL(18,0))) "
        f"AS DOUBLE) / 10000.0"
    )


# The hourly series is the self-join input of b51/b53. A CTE referenced
# twice is RE-EXPANDED by Spark (two full fact scans + two aggregates —
# the b86 trap, but unavoidable by window tricks here because both sides
# genuinely join). The engine therefore MATERIALIZES the aggregate once
# (``localCheckpoint`` — it is #instruments × #hours rows, MB at any tick
# volume) and self-joins the materialization; memoized per (session, sf)
# so repeated queries share it. The oracle keeps the CTE form — DuckDB
# materializes CTEs automatically, so its one-scan behavior needs no help.
import weakref as _weakref

_SERIES_MEMO: "_weakref.WeakKeyDictionary[SparkSession, dict[str, DataFrame]]"
_SERIES_MEMO = _weakref.WeakKeyDictionary()


def _hourly_series_mat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staleness contract: the memoized checkpoint reflects the events
    data under ``sf_dir`` AS OF the first b51/b53/b88 call in this
    session. A job that mutates the events source mid-session must call
    ``invalidate_hourly_series`` (mirroring ``result_cache.invalidate``)
    before re-querying, or it will be served the stale series."""
    import os as _os

    # Same sentinel probe as catalog.load: a series-memo HIT skips
    # register_views/catalog.load, so a hostile conf.set since the
    # checkpoint was built would otherwise go unhealed at the CONSUMER's
    # execution/collection time (b51/b53 mask a poisoned session tz —
    # their pair-joins cancel a uniform bucket shift — but b88 exposes
    # the bucket column directly; caught by the r8 hostile sweep).
    from ..catalog import _confs_intact
    from ..session import apply_runtime_confs

    if not _confs_intact(spark):
        apply_runtime_confs(spark)

    key = _os.path.abspath(sf_dir)  # same identity rule as catalog.load
    try:
        per_session = _SERIES_MEMO.setdefault(spark, {})
    except TypeError:
        per_session = {}
    if key not in per_session:
        register_views(spark, sf_dir)
        per_session[key] = spark.sql(_HOURLY_SERIES).localCheckpoint()
    return per_session[key]


def invalidate_hourly_series(
    spark: SparkSession, sf_dir: str | None = None
) -> bool:
    """Drop the memoized hourly-series checkpoint for ``sf_dir`` (or for
    ALL sf_dirs when None) so the next b51/b53/b88 call rebuilds it from
    the current source data. Returns whether anything was dropped — the
    hook an ingest job calls after landing a batch that touches events.

    Dropped checkpoints are unpersisted (best-effort) so executor blocks
    free now rather than at some future GC.
    """
    import os as _os

    def _free(df):
        try:
            df.unpersist()
        except Exception:
            pass

    try:
        per_session = _SERIES_MEMO.get(spark)
    except TypeError:  # unhashable session object (same guard as the memo)
        return False
    if not per_session:
        return False
    if sf_dir is None:
        dropped = bool(per_session)
        for df in per_session.values():
            _free(df)
        per_session.clear()
        return dropped
    df = per_session.pop(_os.path.abspath(sf_dir), None)
    if df is None:
        return False
    _free(df)
    return True


_B51_BODY = f"""
    WITH pairs AS (
      SELECT a.event_type AS sym_a, b.event_type AS sym_b,
             a.px AS xa, b.px AS xb
      FROM {{series}} a
      JOIN {{series}} b
        ON a.bucket = b.bucket AND a.event_type < b.event_type
    ),
    moments AS (
      SELECT sym_a, sym_b, COUNT(*) AS n,
             {_s4('xa')} AS sx, {_s4('xb')} AS sy,
             {_s4('xa * xa')} AS sxx, {_s4('xb * xb')} AS syy,
             {_s4('xa * xb')} AS sxy
      FROM pairs
      GROUP BY sym_a, sym_b
    )
    SELECT sym_a, sym_b, n AS n_buckets,
           floor((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 1000000) / 1000000 AS price_corr
    FROM moments
    WHERE (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
"""

_B51_ORACLE = (
    f"WITH hourly_series AS ({_HOURLY_SERIES}), "
    + _B51_BODY.format(series="hourly_series").lstrip().removeprefix("WITH ")
)


@query("b51_pairwise_corr", oracle=_B51_ORACLE, driver=False)
def b51_pairwise_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B51: pairwise price correlation matrix (upper triangle).

    Hourly mark series per instrument, equi-joined on the time bucket for
    the K(K−1)/2 instrument pairs, then Pearson r from the five exact
    scaled-integer moments — not the engines' ``corr()`` aggregate, whose
    float accumulation order differs between Spark and DuckDB. From exact
    moments, the remaining ops (×, −, ÷, sqrt) are IEEE-correctly-rounded,
    so both engines emit identical doubles. The variance guards drop
    constant series (exact comparison, no epsilon).

    Scale: the join input is the AGGREGATED series (#instruments × #hours
    rows), so even at 100 TB of ticks the pair join is MB-sized; for
    K in the thousands, broadcast the series side. The moments then
    reduce to one row per pair in a single hash aggregate. The series is
    materialized once (see ``_hourly_series_mat``) — the self-joined CTE
    form would rescan the fact table twice.
    """
    series = _hourly_series_mat(spark, sf_dir)
    series.createOrReplaceTempView("hourly_series_mat")
    return spark.sql(_B51_BODY.format(series="hourly_series_mat"))


_B52_SQL = """
    WITH scaled AS (
      SELECT event_id, event_type, ts,
             CAST(FLOOR(value * 100.0 + 0.5) AS DECIMAL(18,0)) AS v2
      FROM events
    ),
    win AS (
      SELECT event_id, event_type, ts,
             CAST(v2 AS DOUBLE) / 100.0 AS px,
             CAST(SUM(v2) OVER w AS DOUBLE) / 100.0 AS sv,
             CAST(SUM(v2 * v2) OVER w AS DOUBLE) / 10000.0 AS svv,
             COUNT(*) OVER w AS n
      FROM scaled
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
    ),
    stats AS (
      SELECT event_id, event_type, ts, px,
             sv / n AS mu,
             (svv - sv * sv / n) / (n - 1) AS variance,
             n
      FROM win
      WHERE n >= 30
    )
    SELECT event_id, event_type, ts, px,
           floor(mu * 1000000) / 1000000 AS rolling_mean,
           floor((px - mu) / sqrt(variance) * 1000000) / 1000000 AS zscore
    FROM stats
    WHERE variance > 0 AND abs((px - mu) / sqrt(variance)) > 3.0
"""


@query("b52_zscore_anomaly", oracle=_B52_SQL, driver=False)
def b52_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B52: rolling z-score spike detection over the raw tick stream.

    100-tick trailing window per instrument; mean and variance come from
    the two exact integer window sums (Σv, Σv²) — DuckDB evaluates window
    aggregates with a segment tree and Spark streams them in order, so a
    DOUBLE window SUM would differ in the low bits; DECIMAL(18,0) sums are
    associative and identical under both strategies. The |z| > 3 cut
    compares bit-identical doubles, so the flagged set itself (not just
    rounded display values) matches across engines. Ticks are ordered by
    (ts, event_id): the unique id breaks timestamp ties deterministically.

    Scale: one shuffle+sort per instrument partition; state is O(window)
    per task. Skewed instruments are the one hazard — shard hot keys by
    day first if a single instrument exceeds a task (the streaming twin in
    streaming/jobs.py handles unbounded arrival orders with watermarks).
    """
    register_views(spark, sf_dir)
    return spark.sql(_B52_SQL)


_B53_BODY = f"""
    WITH market AS (
      SELECT bucket,
             (CAST(SUM(CAST(FLOOR(px * 10000.0 + 0.5) AS DECIMAL(18,0)))
                   AS DOUBLE) / 10000.0) / COUNT(px) AS mkt
      FROM {{series}}
      GROUP BY bucket
    ),
    joined AS (
      SELECT s.event_type, s.px AS y, m.mkt AS x
      FROM {{series}} s JOIN market m ON s.bucket = m.bucket
    ),
    moments AS (
      SELECT event_type, COUNT(*) AS n,
             {_s4('x')} AS sx, {_s4('y')} AS sy,
             {_s4('x * x')} AS sxx, {_s4('x * y')} AS sxy
      FROM joined
      GROUP BY event_type
    )
    SELECT event_type, n AS n_buckets,
           floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000000)
             / 1000000 AS beta,
           floor(((sy / n) - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                  * (sx / n)) * 1000000) / 1000000 AS alpha
    FROM moments
    WHERE (n * sxx - sx * sx) > 0
"""

_B53_ORACLE = (
    f"WITH hourly_series AS ({_HOURLY_SERIES}), "
    + _B53_BODY.format(series="hourly_series").lstrip().removeprefix("WITH ")
)


_B56_SQL = f"""
    WITH bars AS ({_DAILY_BARS}),
    rets AS (
      -- lag over ALL bars, THEN the penny guard on BOTH endpoints: a
      -- pre-window filter would make returns BRIDGE excluded days,
      -- reporting a multi-day move as one daily return
      SELECT event_type, bar_date,
             CAST(FLOOR((close / prev - 1) * 10000.0
                        + 0.5) AS DECIMAL(18,0)) AS r4
      FROM (
        SELECT event_type, bar_date, close,
               lag(close) OVER (PARTITION BY event_type
                                ORDER BY bar_date) AS prev
        FROM bars
      )
      WHERE close >= 1.0 AND prev >= 1.0
    ),
    win AS (
      SELECT event_type, bar_date,
             CAST(SUM(r4) OVER v AS DOUBLE) / 10000.0 AS sr,
             CAST(SUM(r4 * r4) OVER v AS DOUBLE) / 100000000.0 AS srr,
             COUNT(r4) OVER v AS n
      FROM rets
      WHERE r4 IS NOT NULL
      WINDOW v AS (PARTITION BY event_type ORDER BY bar_date
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, bar_date, n AS n_days,
           floor(sr / n * 1000000) / 1000000 AS mean_return,
           floor((sr / n)
                 / sqrt((srr - sr * sr / n) / (n - 1))
                 * 1000000) / 1000000 AS sharpe
    FROM win
    WHERE n >= 5 AND (srr - sr * sr / n) > 0
"""


# rotated out r13 (driver-green r12); B9 frame family rep is the
# re-promoted b09_moving_window (+ b79_atr for the finance-frame shape)
@query("b56_rolling_sharpe", oracle=_B56_SQL, driver=False)
def b56_rolling_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B56: 10-day rolling Sharpe ratio (mean/σ of daily returns).

    Chains the b49 return derivation with the b52 exact-moment machinery:
    returns are ROUND-scaled to 1e-4 integers (DECIMAL(18,0)), the
    trailing window keeps Σr and Σr² exactly, and the ratio is formed
    from the same IEEE ops on both engines. The risk-free rate is taken
    as zero (a constant subtraction would be just as deterministic).
    Sub-1.0 closes are excluded from the return series: near-zero marks
    make the ratio unbounded (a 0.01→560 move is a 5.6e6× "return"),
    which both distorts the statistic and overflows the exact
    DECIMAL(18,0) square — the penny-stock filter every real Sharpe
    screen applies anyway, here also the overflow guard.

    Scale: bars then windows — both partitioned by instrument; the
    expensive input (ticks→bars) is one map-combined aggregate shuffle,
    the two window layers share sorts on the bar-grain table.
    """
    register_views(spark, sf_dir)
    return spark.sql(_B56_SQL)


@query("b53_market_beta", oracle=_B53_ORACLE, driver=False)
def b53_market_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B53: per-instrument beta/alpha vs the equal-weight market index.

    The index is the exact fixed-point cross-sectional mean of the hourly
    marks (a DOUBLE AVG over instruments would be summation-order-
    dependent); beta is the OLS slope from exact scaled moments, alpha the
    matching intercept. Joining each instrument's series back to the index
    is a time-bucket equi-join between two aggregate-sized tables.

    Scale: the index table is O(#hours) rows — broadcast it; the moment
    aggregate is one map-side-combined shuffle keyed on instrument. The
    series is materialized once (``_hourly_series_mat``): it feeds both
    the index aggregate and the join, and the CTE form would rescan the
    fact table for each.
    """
    series = _hourly_series_mat(spark, sf_dir)
    series.createOrReplaceTempView("hourly_series_mat")
    return spark.sql(_B53_BODY.format(series="hourly_series_mat"))


_B61_SQL = """
    WITH monthly AS (
      SELECT o_orderpriority,
             date_trunc('month', o_orderdate) AS month,
             (CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
                   AS DECIMAL(18,0))) AS DOUBLE) / 100.0) AS revenue,
             COUNT(*) AS n_orders
      FROM orders
      GROUP BY o_orderpriority, date_trunc('month', o_orderdate)
    )
    SELECT o_orderpriority, month, revenue, n_orders,
           floor((revenue / nullif(lag(revenue) OVER w, 0) - 1) * 1000000)
             / 1000000 AS mom_growth,
           floor(revenue / nullif(first_value(revenue) OVER w, 0) * 1000000)
             / 1000000 AS index_vs_first
    FROM monthly
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)
"""


@query("b61_mom_growth", oracle=_B61_SQL, driver=False)  # demoted in the r12 rotation (r11-green); B2 family rep now b02_group_agg
def b61_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B61: month-over-month growth and indexed level per priority class —
    the period-over-period report every revenue dashboard opens with.
    One exact fixed-point aggregate to month grain, then lag/first_value
    ratios on the aggregate-sized table (b49's closed-form discipline:
    division only, no float accumulation, nullif guards). Shared SQL text
    on both engines.
    """
    register_views(spark, sf_dir)
    return spark.sql(_B61_SQL)


_OHLC_BARS = """
    SELECT event_type, date_trunc('day', ts) AS bar_date,
           min_by(value, ts) AS open, MAX(value) AS high,
           MIN(value) AS low, max_by(value, ts) AS close
    FROM events
    GROUP BY event_type, date_trunc('day', ts)
"""


_B62_SQL = f"""
    WITH bars AS ({_OHLC_BARS}),
    lagged AS (
      SELECT event_type, bar_date, open, high, low, close,
             lag(open) OVER w AS p_open,
             lag(close) OVER w AS p_close,
             lag(high) OVER w AS p_high
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bar_date)
    ),
    flagged AS (
      SELECT event_type, bar_date, open, high, low, close,
             (high > low AND abs(close - open) <= 0.1 * (high - low))
               AS is_doji,
             coalesce(p_close < p_open AND close > open
                      AND open <= p_close AND close >= p_open, false)
               AS is_bullish_engulfing,
             coalesce(low > p_high, false) AS is_gap_up
      FROM lagged
    )
    SELECT * FROM flagged
    WHERE is_doji OR is_bullish_engulfing OR is_gap_up
"""


@query("b62_candle_patterns", oracle=_B62_SQL, driver=False)  # rotated out r10 (r9-green)
def b62_candle_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B62: candlestick pattern screen over the daily bars — doji
    (indecision: body within 10% of the range), bullish engulfing
    (green body swallowing the prior red body), and gap-up (low above
    the prior high). Pure lag-window comparisons on the exact
    min_by/max_by bar values: no float accumulation, so the flagged SET
    is cross-engine identical, not approximately so. First-bar pattern
    flags are ``coalesce``d to false (Spark and DuckDB would otherwise
    disagree only on NULL display, but a screen should never emit
    three-valued logic).

    Scale: bars-grain windows after one map-combined aggregate shuffle
    — the b49/b50 skeleton; the screen itself is free.
    """
    register_views(spark, sf_dir)
    return spark.sql(_B62_SQL)


# OHLC daily bars shared by the indicator queries (b62's bar CTE).
_B78_SQL = f"""
    WITH bars AS ({_DAILY_BARS}),
    k AS (
      SELECT event_type, bar_date, close,
             CAST(FLOOR(close * 100.0 + 0.5) AS DECIMAL(18,0)) AS kc
      FROM bars
    ),
    w AS (
      SELECT event_type, bar_date, close,
             CAST(SUM(kc) OVER v AS DOUBLE) AS sk,
             CAST(SUM(kc * kc) OVER v AS DOUBLE) AS skk,
             COUNT(*) OVER v AS n
      FROM k
      WINDOW v AS (PARTITION BY event_type ORDER BY bar_date
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, bar_date, close,
           floor(sk / n / 100.0 * 1000000) / 1000000 AS mid_band,
           floor((sk / n + 2 * sqrt(greatest(skk - sk * sk / n, 0.0) / n))
                 / 100.0 * 1000000) / 1000000 AS upper_band,
           floor((sk / n - 2 * sqrt(greatest(skk - sk * sk / n, 0.0) / n))
                 / 100.0 * 1000000) / 1000000 AS lower_band,
           close > (sk / n + 2 * sqrt(greatest(skk - sk * sk / n, 0.0) / n))
                 / 100.0 AS breakout_up,
           close < (sk / n - 2 * sqrt(greatest(skk - sk * sk / n, 0.0) / n))
                 / 100.0 AS breakout_down
    FROM w
    WHERE n = 5
"""


# rotated out r13 (driver-green r12); the band/volatility shape stays
# in-window via the re-promoted b79_atr
@query("b78_bollinger", oracle=_B78_SQL, driver=False)
def b78_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B78: Bollinger bands (5-day mean ± 2σ) with breakout flags.

    The b52/b56 exact-moment machinery applied to the band screen: closes
    are 1e-2-scaled integers, the trailing window keeps Σk and Σk² exactly
    (DECIMAL accumulation — associative, so bit-stable under any
    partitioning), and mean/σ/bands are the same IEEE expression tree on
    both engines, making the breakout flag SET cross-engine identical.
    ``greatest(·, 0)`` guards the zero-variance window where rounding
    would otherwise hand sqrt a −ε. Scale: ticks→bars is the one
    map-combined shuffle; the window runs at bar grain.
    """
    register_views(spark, sf_dir)
    return spark.sql(_B78_SQL)


_B79_SQL = f"""
    WITH bars AS ({_OHLC_BARS}),
    lagged AS (
      SELECT event_type, bar_date, high, low, close,
             lag(close) OVER (PARTITION BY event_type ORDER BY bar_date)
               AS p_close
      FROM bars
    ),
    tr AS (
      SELECT event_type, bar_date,
             CAST(FLOOR(greatest(high - low, abs(high - p_close),
                                 abs(low - p_close)) * 100.0 + 0.5)
                  AS DECIMAL(18,0)) AS tr2
      FROM lagged
      WHERE p_close IS NOT NULL
    )
    SELECT event_type, bar_date,
           CAST(tr2 AS DOUBLE) / 100.0 AS true_range,
           floor(CAST(SUM(tr2) OVER v AS DOUBLE)
                 / (100.0 * COUNT(*) OVER v) * 1000000) / 1000000 AS atr
    FROM tr
    WINDOW v AS (PARTITION BY event_type ORDER BY bar_date
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


# re-promoted r13 rotation (driver-green r9, stale since): the
# greatest-of-lags true-range frame returns in-window
@query("b79_atr", oracle=_B79_SQL, driver=True)
def b79_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B79: Average True Range (5-day simple mean of the true range).

    True range per bar is ``greatest(high−low, |high−prev_close|,
    |low−prev_close|)`` — pure comparisons and subtractions on the exact
    min/max/max_by bar values, then 1e-2-scaled to integers so the
    rolling mean is an exact integer window sum (the Wilder EMA variant
    is a recurrence — deliberately avoided here for the same reason b49
    uses closed forms; b29 covers the EMA machinery). First bars (no
    prior close) are excluded rather than special-cased. Scale: bar-grain
    windows after one aggregate shuffle.
    """
    register_views(spark, sf_dir)
    return spark.sql(_B79_SQL)


_B80_SQL = f"""
    WITH bars AS ({_OHLC_BARS}),
    w AS (
      SELECT event_type, bar_date, close,
             MAX(high) OVER v AS hh, MIN(low) OVER v AS ll,
             COUNT(*) OVER v AS n
      FROM bars
      WINDOW v AS (PARTITION BY event_type ORDER BY bar_date
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ),
    k AS (
      SELECT event_type, bar_date,
             floor((close - ll) / nullif(hh - ll, 0) * 1000000) / 10000
               AS pct_k
      FROM w
      WHERE n = 7
    )
    SELECT event_type, bar_date, pct_k,
           floor(CAST(SUM(CAST(FLOOR(pct_k * 10000.0 + 0.5)
                               AS DECIMAL(18,0))) OVER u AS DOUBLE)
                 / (10000.0 * COUNT(pct_k) OVER u) * 1000000) / 1000000
             AS pct_d,
           COALESCE(pct_k > 80.0, FALSE) AS overbought,
           COALESCE(pct_k < 20.0, FALSE) AS oversold
    FROM k
    WINDOW u AS (PARTITION BY event_type ORDER BY bar_date
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


@query("b80_stochastic", oracle=_B80_SQL, driver=False)
def b80_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B80: stochastic oscillator — %K over a 7-day high/low channel and
    the 3-day %D smoothing, with overbought/oversold flags.

    The channel extremes are exact window MIN/MAX; %K is one division
    truncated to a 4-dp rational, which makes the %D mean expressible as
    an exact integer window sum (re-scale, sum in DECIMAL, divide once).
    Partial channels (first 6 bars) are excluded — an indicator over a
    short window is a different statistic, not a degenerate case of this
    one. The flag comparisons sit on the truncated rational, so the
    flagged set is engine-identical.
    """
    register_views(spark, sf_dir)
    return spark.sql(_B80_SQL)


_B81_SQL = """
    WITH bars AS (
      SELECT event_type, date_trunc('day', ts) AS bar_date,
             max_by(value, ts) AS close, COUNT(*) AS n_trades
      FROM events
      GROUP BY event_type, date_trunc('day', ts)
    ),
    flow AS (
      SELECT event_type, bar_date,
             (CASE WHEN lag(close) OVER w IS NULL THEN NULL
                   WHEN close > lag(close) OVER w THEN 1
                   WHEN close < lag(close) OVER w THEN -1
                   ELSE 0 END) * n_trades AS signed_flow
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bar_date)
    )
    SELECT event_type, bar_date,
           CAST(signed_flow AS BIGINT) AS daily_flow,
           CAST(SUM(signed_flow) OVER (PARTITION BY event_type
                                       ORDER BY bar_date) AS BIGINT) AS obv
    FROM flow
    WHERE signed_flow IS NOT NULL
"""


@query("b81_obv", oracle=_B81_SQL, driver=False)
def b81_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B81: on-balance volume — the cumulative sum of volume signed by
    the day's price direction. Adaptation: the events feed carries no
    share volume, so the per-day trade count stands in (the reference's
    ticker feed has a Volume column — stock_data_to_gcp.py:43 — and this
    query is written so that column drops straight in). Everything is
    integer arithmetic: direction ∈ {−1,0,1}, counts are BIGINT, the
    running OBV is an integer prefix sum — exact at any scale and under
    any partitioning. The first bar (no direction) is excluded; window
    SUMs are cast to BIGINT on both engines (DuckDB sums integers to
    HUGEINT).
    """
    register_views(spark, sf_dir)
    return spark.sql(_B81_SQL)


# b82 cannot share one SQL text: exact interpolated percentiles are
# spelled `percentile` in Spark and `quantile_cont` in DuckDB (the
# b15_exact_percentiles parity pair).
_B82_BODY = """
    WITH bars AS (""" + _DAILY_BARS + """),
    rets AS (
      -- endpoint guard AFTER the lag: see b56 (no gap-bridged returns)
      SELECT event_type, bar_date,
             floor((close / prev - 1) * 1000000) / 1000000 AS r
      FROM (
        SELECT event_type, bar_date, close,
               lag(close) OVER (PARTITION BY event_type
                                ORDER BY bar_date) AS prev
        FROM bars
      )
      WHERE close >= 1.0 AND prev >= 1.0
    ),
    scored AS (
      SELECT event_type, r,
             {PCTL} OVER (PARTITION BY event_type) AS var95
      FROM rets
      WHERE r IS NOT NULL
    )
    SELECT event_type,
           COUNT(r) AS n_days,
           floor(MAX(var95) * 1000000) / 1000000 AS var95,
           CAST(SUM(CASE WHEN r <= var95
                         THEN CAST(FLOOR(r * 1000000.0 + 0.5)
                                   AS DECIMAL(18,0)) END) AS DOUBLE)
             / 1000000.0
             / COUNT(CASE WHEN r <= var95 THEN 1 END) AS cvar95
    FROM scored
    GROUP BY event_type
"""


@query(
    "b82_var_cvar",
    oracle=_B82_BODY.replace("{PCTL}", "quantile_cont(r, 0.05)"),
    driver=False,
)
def b82_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B82: historical 95% Value-at-Risk and conditional VaR (expected
    shortfall) per instrument. VaR is the exact interpolated 5th
    percentile of the daily-return history (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``); CVaR is the mean of the tail returns at
    or below it, accumulated fixed-point so the mean is summation-order
    independent. Returns reuse b49's closed form with b56's penny-close
    guard. The tail membership test compares 6-dp rational returns to
    the interpolated threshold — equality between the two is measure-
    zero, so the tail set is engine-stable. Scale: var95 is the
    percentile aggregate evaluated AS A WINDOW over the instrument
    partition of the bar-grain return table, so the tail aggregation
    reads the same rows in the same pass — ONE fact scan (the
    aggregate-plus-join-back form re-scanned the events: the b86 trap).
    """
    register_views(spark, sf_dir)
    return spark.sql(_B82_BODY.replace("{PCTL}", "percentile(r, 0.05)"))


_B83_SQL = f"""
    WITH series AS ({_HOURLY_SERIES}),
    rets AS (
      -- endpoint guard AFTER the lag: see b56 (no gap-bridged returns)
      SELECT event_type, bucket,
             date_trunc('day', bucket) AS trade_date,
             CAST(FLOOR(least(greatest(
                    px / prev - 1, -1.0), 1.0)
                  * 1000000.0 + 0.5) AS DECIMAL(18,0)) AS r6
      FROM (
        SELECT event_type, bucket, px,
               lag(px) OVER (PARTITION BY event_type
                             ORDER BY bucket) AS prev
        FROM series
      )
      WHERE px >= 1.0 AND prev >= 1.0
    )
    SELECT event_type, trade_date,
           COUNT(r6) AS n_rets,
           floor(sqrt(CAST(SUM(r6 * r6) AS DOUBLE)) / 1000000.0
                 * 1000000) / 1000000 AS realized_vol
    FROM rets
    WHERE r6 IS NOT NULL
    GROUP BY event_type, trade_date
"""


@query("b83_realized_vol", oracle=_B83_SQL, driver=False)
def b83_realized_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B83: daily realized volatility — sqrt of the sum of squared
    intraday (hourly) returns, the standard high-frequency vol
    estimator. Returns are winsorized to ±100% before scaling (the
    synthetic feed's marks are not a random walk, so raw hour-to-hour
    "returns" can be extreme; the clamp also bounds the 1e-6-scaled
    square at 1e12, far inside exact BIGINT/DECIMAL range — the b56
    overflow lesson applied preemptively). Σr² accumulates as exact
    integers; the only float ops are the per-row ratio, one sqrt, and
    one division — IEEE-identical on both engines. Scale: one aggregate
    to hour grain, a bar-grain window, one aggregate to day grain.
    """
    register_views(spark, sf_dir)
    return spark.sql(_B83_SQL)


_B84_SQL = f"""
    WITH bars AS ({_DAILY_BARS}),
    flags AS (
      SELECT event_type, bar_date,
             CASE WHEN close > lag(close)
                    OVER (PARTITION BY event_type ORDER BY bar_date)
                  THEN 1 ELSE 0 END AS up
      FROM bars
    ),
    isl AS (
      SELECT event_type, bar_date, up,
             SUM(1 - up) OVER (PARTITION BY event_type ORDER BY bar_date)
               AS grp
      FROM flags
    ),
    runs AS (
      SELECT event_type, grp, CAST(SUM(up) AS BIGINT) AS streak_len
      FROM isl
      GROUP BY event_type, grp
    )
    SELECT event_type,
           CAST(MAX(streak_len) AS BIGINT) AS max_up_streak,
           CAST(SUM(streak_len) AS BIGINT) AS n_up_days
    FROM runs
    GROUP BY event_type
"""


@query("b84_up_streaks", oracle=_B84_SQL, driver=False)
def b84_up_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B84: longest run of consecutive up-days per instrument — the
    gaps-and-islands pattern (b54's SCD machinery pointed at momentum
    screening). A down/flat day increments the island id via an integer
    prefix sum; island sizes and their max are plain integer aggregates,
    so the whole query is exact end-to-end. Scale: the windows and both
    aggregates run at bar grain after the one ticks→bars shuffle.
    """
    register_views(spark, sf_dir)
    return spark.sql(_B84_SQL)


def bollinger_over_bars(
    bars: DataFrame, *, window: int = 5, n_sigma: float = 2.0
) -> DataFrame:
    """b78's Bollinger math over ANY (event_type, bar_date, close) bar
    frame — in particular the continuously-maintained bar store
    (streaming/jobs.py::read_bars), which is how a live dashboard serves
    indicators without rescanning ticks: the streamed partials merge to
    bars, this function runs at bar grain on top.

    The expression sequence mirrors _B78_SQL operation-for-operation
    (scaled-integer DECIMAL window moments, identical IEEE ops), so the
    output over batch-derived bars is BIT-EQUAL to the b78 registered
    query — asserted in tests/test_streaming.py against a 3-micro-batch
    ingest.
    """
    from pyspark.sql import Window

    from ..functions.exact import trunc6

    kc = F.floor(F.col("close") * 100.0 + 0.5).cast("decimal(18,0)")
    v = (
        Window.partitionBy("event_type")
        .orderBy("bar_date")
        .rowsBetween(-(window - 1), 0)
    )
    w = bars.select(
        "event_type",
        "bar_date",
        "close",
        F.sum(kc).over(v).cast("double").alias("sk"),
        F.sum(kc * kc).over(v).cast("double").alias("skk"),
        F.count("*").over(v).alias("n"),
    )
    sk, skk, n = F.col("sk"), F.col("skk"), F.col("n")
    sd_scaled = F.sqrt(F.greatest(skk - sk * sk / n, F.lit(0.0)) / n)
    upper = (sk / n + n_sigma * sd_scaled) / 100.0
    lower = (sk / n - n_sigma * sd_scaled) / 100.0
    return w.filter(n == window).select(
        "event_type",
        "bar_date",
        "close",
        trunc6(sk / n / 100.0).alias("mid_band"),
        trunc6(upper).alias("upper_band"),
        trunc6(lower).alias("lower_band"),
        (F.col("close") > upper).alias("breakout_up"),
        (F.col("close") < lower).alias("breakout_down"),
    )


_B86_SQL = f"""
    WITH series AS ({_HOURLY_SERIES}),
    k AS (
      SELECT event_type, bucket,
             CAST(FLOOR(px * 100.0 + 0.5) AS DECIMAL(18,0)) AS kpx
      FROM series
    ),
    d AS (
      SELECT event_type, bucket, kpx,
             CAST(SUM(kpx) OVER v AS DOUBLE) / (COUNT(*) OVER v) AS trend_s,
             COUNT(*) OVER v AS n_window,
             CAST(SUM(kpx) OVER h AS DOUBLE) / (COUNT(*) OVER h) AS hod_mean,
             CAST(SUM(kpx) OVER g AS DOUBLE) / (COUNT(*) OVER g) AS g_mean
      FROM k
      WINDOW v AS (PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING),
             h AS (PARTITION BY event_type,
                   CAST(EXTRACT(hour FROM bucket) AS INT)),
             g AS (PARTITION BY event_type)
    )
    SELECT event_type, bucket,
           CAST(kpx AS DOUBLE) / 100.0 AS px,
           floor(trend_s / 100.0 * 1000000) / 1000000 AS trend,
           floor((hod_mean - g_mean) / 100.0 * 1000000) / 1000000
             AS seasonal,
           floor((CAST(kpx AS DOUBLE) - trend_s - (hod_mean - g_mean))
                 / 100.0 * 1000000) / 1000000 AS residual,
           n_window
    FROM d
"""


@query("b86_seasonal_decompose", oracle=_B86_SQL, driver=False)
def b86_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B86: additive seasonal decomposition of the hourly series —
    px = trend + seasonal + residual, the pre-processing step behind any
    seasonality-aware anomaly detector (a raw z-score like b52 flags
    every market open; the residual here is what should feed it).

    STL-lite with every component exact: trend is a centered 25-bucket
    window mean of the 1e-2-scaled integers, the seasonal index is the
    hour-of-day mean minus the instrument mean, the residual the same
    integers recombined — all bit-identical cross-engine and summing
    back to px by construction (up to the shared truncation).

    The means come from frameless WINDOW partitions rather than
    aggregate+join-back CTEs deliberately: Spark re-EXPANDS a CTE at
    every reference (no automatic materialization), so the join-back
    formulation scanned the fact table three times — the window form
    scans it ONCE and pays only aggregate-grain exchanges for the two
    extra partitionings (plan-audited; the three-scan version is the
    trap). Window edges use the available buckets (n_window < 25 flags
    them).
    """
    register_views(spark, sf_dir)
    return spark.sql(_B86_SQL)


_B87_SQL = f"""
    WITH bars AS ({_DAILY_BARS}),
    monthly AS (
      SELECT event_type,
             date_trunc('month', bar_date) AS month,
             min_by(close, bar_date) AS first_close,
             max_by(close, bar_date) AS last_close
      FROM bars
      GROUP BY event_type, date_trunc('month', bar_date)
    ),
    rets AS (
      SELECT event_type, month,
             floor((last_close / first_close - 1) * 1000000)
               / 1000000 AS mom_return
      FROM monthly
      WHERE first_close >= 1.0
    )
    SELECT event_type, month, mom_return,
           CAST(rank() OVER (PARTITION BY month
                             ORDER BY mom_return DESC, event_type ASC)
                AS INT) AS mom_rank,
           CASE
             WHEN rank() OVER (PARTITION BY month
                               ORDER BY mom_return DESC, event_type ASC) <= 2
               THEN 'winner'
             WHEN rank() OVER (PARTITION BY month
                               ORDER BY mom_return ASC, event_type ASC) <= 2
               THEN 'loser'
             ELSE 'neutral'
           END AS bucket
    FROM rets
"""


@query(
    "b87_momentum_rank",
    # re-promoted r13 rotation (driver-green r8, stale since): B8's
    # in-window rep; b08_rank_in_group rotated out this round
    driver=True,
    oracle=_B87_SQL,
)
def b87_momentum_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B87: cross-sectional momentum ranking — each instrument's monthly
    return ranked against the rest of the universe, bucketed into the
    winner/loser legs a momentum portfolio trades. The cross-SECTIONAL
    window (partition by month, not by instrument) is the complement of
    every other window query here; both rank directions share the
    deterministic (return, name) tie-break so the leg assignment is
    engine-identical. Returns use the b49 closed form with the b56 penny
    guard. Scale: window at universe × months grain — MB at any tick
    volume.
    """
    register_views(spark, sf_dir)
    return spark.sql(_B87_SQL)


def atr_over_bars(bars: DataFrame, *, window: int = 5) -> DataFrame:
    """b79's ATR math over any (event_type, bar_date, high, low, close)
    bar frame — the second indicator served from the streamed bar store
    (``read_bars`` exposes exactly these columns). Mirrors _B79_SQL
    operation-for-operation; bit-equality with the batch query over
    streamed bars is asserted in tests/test_streaming.py."""
    from pyspark.sql import Window

    from ..functions.exact import trunc6

    lagw = Window.partitionBy("event_type").orderBy("bar_date")
    lagged = bars.select(
        "event_type",
        "bar_date",
        "high",
        "low",
        "close",
        F.lag("close").over(lagw).alias("p_close"),
    ).filter(F.col("p_close").isNotNull())
    tr2 = F.floor(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - F.col("p_close")),
            F.abs(F.col("low") - F.col("p_close")),
        )
        * 100.0
        + 0.5
    ).cast("decimal(18,0)")
    v = (
        Window.partitionBy("event_type")
        .orderBy("bar_date")
        .rowsBetween(-(window - 1), 0)
    )
    with_tr = lagged.select("event_type", "bar_date", tr2.alias("tr2"))
    return with_tr.select(
        "event_type",
        "bar_date",
        (F.col("tr2").cast("double") / 100.0).alias("true_range"),
        trunc6(
            F.sum("tr2").over(v).cast("double")
            / (100.0 * F.count("*").over(v))
        ).alias("atr"),
    )


def obv_over_bars(bars: DataFrame) -> DataFrame:
    """b81's on-balance volume over any (event_type, bar_date, close,
    n_ticks) bar frame — ``read_bars``' trade count is b81's volume
    stand-in, so the streamed bar store serves OBV directly. Integer
    arithmetic end to end; bit-equality with batch b81 asserted in
    tests/test_streaming.py."""
    from pyspark.sql import Window

    lagw = Window.partitionBy("event_type").orderBy("bar_date")
    flow = (
        F.when(F.lag("close").over(lagw).isNull(), F.lit(None).cast("long"))
        .when(F.col("close") > F.lag("close").over(lagw), F.lit(1))
        .when(F.col("close") < F.lag("close").over(lagw), F.lit(-1))
        .otherwise(F.lit(0))
        * F.col("n_ticks")
    )
    staged = bars.select(
        "event_type", "bar_date", flow.cast("long").alias("signed_flow")
    ).filter(F.col("signed_flow").isNotNull())
    cum = Window.partitionBy("event_type").orderBy("bar_date")
    return staged.select(
        "event_type",
        "bar_date",
        F.col("signed_flow").alias("daily_flow"),
        F.sum("signed_flow").over(cum).cast("bigint").alias("obv"),
    )


_B88_BODY = f"""
    WITH pair AS (
      SELECT a.bucket, a.px AS ya, b.px AS yb
      FROM {{series}} a
      JOIN {{series}} b ON a.bucket = b.bucket
      WHERE a.event_type = 'view' AND b.event_type = 'click'
    ),
    moments AS (
      SELECT COUNT(*) AS n,
             {_s4('yb')} AS sx, {_s4('ya')} AS sy,
             {_s4('yb * yb')} AS sxx, {_s4('ya * yb')} AS sxy
      FROM pair
    ),
    hedged AS (
      SELECT p.bucket, p.ya, p.yb,
             (m.n * m.sxy - m.sx * m.sy) / (m.n * m.sxx - m.sx * m.sx)
               AS hedge_beta
      FROM pair p CROSS JOIN moments m
      WHERE (m.n * m.sxx - m.sx * m.sx) > 0
    ),
    spread AS (
      SELECT bucket, hedge_beta,
             CAST(FLOOR((ya - hedge_beta * yb) * 10000.0 + 0.5)
                  AS DECIMAL(18,0)) AS s4
      FROM hedged
    ),
    scored AS (
      SELECT bucket, hedge_beta, s4,
             CAST(SUM(s4) OVER () AS DOUBLE) AS ss,
             CAST(SUM(s4 * s4) OVER () AS DOUBLE) AS sss,
             COUNT(*) OVER () AS n
      FROM spread
    )
    SELECT bucket,
           floor(hedge_beta * 1000000) / 1000000 AS hedge_beta,
           CAST(s4 AS DOUBLE) / 10000.0 AS spread,
           floor((CAST(s4 AS DOUBLE) - ss / n)
                 / sqrt(greatest(sss / n - (ss / n) * (ss / n), 1e-12) * 100000000.0)
                 * 10000.0 * 1000000) / 1000000 AS spread_z,
           abs((CAST(s4 AS DOUBLE) - ss / n)
               / sqrt(greatest(sss / n - (ss / n) * (ss / n), 1e-12) * 100000000.0)
               * 10000.0) > 2.0 AS divergence
    FROM scored
"""

_B88_ORACLE = (
    f"WITH hourly_series AS ({_HOURLY_SERIES}), "
    + _B88_BODY.format(series="hourly_series").lstrip().removeprefix("WITH ")
)


@query("b88_pairs_spread", oracle=_B88_ORACLE, driver=False)  # rotated out r10 (r9-green)
def b88_pairs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B88: pairs-trading spread monitor — hedge one instrument against
    another with the OLS ratio (the b53 exact-moment machinery pointed
    at a pair), then z-score the hedged spread and flag divergences
    beyond 2σ (the classic stat-arb entry signal; a cointegration test
    would gate the pair choice upstream).

    Exactness chain: the hedge beta comes from exact scaled moments; the
    spread is re-scaled to integers BEFORE its mean/σ so the global
    window sums are exact; the z denominator guards zero variance with
    an epsilon INSIDE sqrt (spelled identically cross-engine). The
    materialized hourly series keeps this one fact scan (pair CTE
    self-join — the b51 discipline).

    Scale: everything after the bars aggregate runs at bucket grain; the
    single-partition windows are over #hours rows.
    """
    series = _hourly_series_mat(spark, sf_dir)
    series.createOrReplaceTempView("hourly_series_mat")
    return spark.sql(_B88_BODY.format(series="hourly_series_mat"))
