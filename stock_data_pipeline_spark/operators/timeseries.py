"""Tier B time-series operators (SURVEY.md §2 B3, B7, B8, B9 + flagship).

The reference's data model is a keyed time series — (ingest-ts, ticker,
measures) appended every 2 minutes (/root/reference/dags/stock_data_to_gcp.py:43-47,87).
The driver's ``events`` table (event-ts, user_id, measures) stands in for that
stream; these operators are the dashboard queries the reference promises but
delegates to BigQuery (README.md:3,23): bar resampling, latest-per-key
snapshots, as-of alignment, rankings, and moving windows.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exact import dec_sum, sql_dec_sum, sql_trunc6, trunc6
from ..registry import query


# --------------------------------------------------------------------------
# Flagship — B1 + B3 + B8 in one statement (entry() runs this)
# --------------------------------------------------------------------------
@query(
    "flagship_event_dashboard",
    oracle=f"""
    SELECT * FROM (
      SELECT
        event_type,
        date_trunc('hour', ts) AS bucket,
        COUNT(*) AS n_events,
        {sql_dec_sum('value')} AS sum_value,
        ROW_NUMBER() OVER (
          PARTITION BY event_type
          ORDER BY COUNT(*) DESC, date_trunc('hour', ts) ASC
        ) AS busy_rank
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
      GROUP BY event_type, date_trunc('hour', ts)
    ) WHERE busy_rank <= 5
    """,
)
def flagship_event_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: hourly activity bars + top-5 busiest hours per event type.

    Composition: pushdown filter → time-bucket hash aggregate → ranking
    window. Scale: the aggregate shuffles #buckets×#types rows (map-side
    combined); the window then partitions by event_type — low cardinality,
    but its input is already aggregate-sized, so the second shuffle is tiny.
    """
    events = load(spark, sf_dir, "events")
    hourly = (
        events.filter(F.col("ts") >= F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count("*").alias("n_events"), dec_sum("value").alias("sum_value"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"), F.asc("bucket"))
    return hourly.withColumn("busy_rank", F.row_number().over(w)).filter(
        F.col("busy_rank") <= 5
    )


# --------------------------------------------------------------------------
# B3 — OHLCV time-bucket resample
# --------------------------------------------------------------------------
@query(
    "b03_ohlcv_bars",
    oracle=f"""
    SELECT
      event_type,
      date_trunc('day', ts) AS bar_date,
      first(value ORDER BY ts, event_id) AS open,
      MAX(value) AS high,
      MIN(value) AS low,
      last(value ORDER BY ts, event_id) AS close,
      COUNT(*) AS n_ticks,
      {sql_dec_sum('value')} AS volume
    FROM events
    GROUP BY event_type, date_trunc('day', ts)
    """,
    driver=True,
)
def b03_ohlcv_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: OHLCV bars — the resample of 2-min ticks into daily bars that the
    reference's dashboard needs over ``ticker_data``.

    open/close are ``min_by/max_by(value, ts)`` — single-pass, no
    self-join, no window sort. Scale: one hash-aggregate shuffle keyed on
    (entity, bucket); at 100 TB this is the canonical rollup pattern and
    partial aggregation keeps the exchange at O(#bars).
    """
    events = load(spark, sf_dir, "events")
    return events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("bar_date")
    ).agg(
        # tie-break on the unique event_id (struct ordering): two ticks
        # sharing a timestamp must yield ONE deterministic open/close —
        # bare min_by(value, ts) returns whichever the partial-agg merge
        # saw first, unstable under repartitioning and engine-dependent
        F.min_by("value", F.struct("ts", "event_id")).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", F.struct("ts", "event_id")).alias("close"),
        F.count("*").alias("n_ticks"),
        dec_sum("value").alias("volume"),
    )


# --------------------------------------------------------------------------
# B7a — latest row per key ("current price" snapshot)
# --------------------------------------------------------------------------
@query(
    "b07_latest_per_key",
    oracle="""
    SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
    FROM (
      SELECT *,
        ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    driver=False,  # rotated out r13 (driver-green r12); B7 family rep is the re-promoted b07_asof_join
)
def b07_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7a: latest event per key — the "current price per ticker" snapshot
    (the reference reads this off its append-only log downstream).

    Scale: row_number-over-desc + rn=1 is one shuffle on the key; Spark
    rewrites the rn=1 filter into a per-partition top-1 (WindowGroupLimit),
    so no full per-key sort materializes.
    """
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    )


# --------------------------------------------------------------------------
# B7b — as-of join (align each purchase with the latest prior click)
# --------------------------------------------------------------------------
@query(
    "b07_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.ts AS asof_click_ts, c.value AS asof_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    # re-promoted r13 rotation (driver-green r9-r10, stale since): B7's
    # in-window rep; b07_latest_per_key rotated out this round
    driver=True,
)
def b07_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7b: as-of join — for every purchase, the most recent click by the
    same user at or before the purchase timestamp.

    Spark has no native ASOF JOIN; the scalable formulation is the
    union-and-carry-forward pattern: tag both streams, sort within each
    key partition by (ts, side), and carry the last click's columns
    forward with ``last(..., ignorenulls=True)``. One shuffle on the key,
    O(n log n/partition) sort, zero state beyond the window — versus the
    naive range-join which is O(n·m) per key. DuckDB's native ASOF JOIN is
    the oracle.

    Tie rule: a click at exactly the purchase ts matches (sort places
    side=0 clicks before side=1 purchases at equal ts).
    """
    events = load(spark, sf_dir, "events")
    tagged = events.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("side"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
        F.when(F.col("event_type") == "click", F.col("value")).alias("click_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("side"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("asof_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .withColumn(
            "asof_click_value", F.last("click_value", ignorenulls=True).over(w)
        )
        .filter(F.col("side") == 1)
        .select(
            "event_id", "user_id", "ts", "value", "asof_click_ts", "asof_click_value"
        )
    )


# --------------------------------------------------------------------------
# B7c — tolerance-bounded as-of join (stale quotes must NOT match)
# --------------------------------------------------------------------------
@query(
    "b07_asof_tolerance",
    # demoted in the round-9 rotation: driver-green r8; B7 rep is the re-promoted b07_asof_join;
    # stays on the full bench/oracle-parity surface
    driver=False,
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, p.value,
           CASE WHEN c.ts >= p.ts - INTERVAL 2 HOUR THEN c.ts END
             AS asof_click_ts,
           CASE WHEN c.ts >= p.ts - INTERVAL 2 HOUR THEN c.value END
             AS asof_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def b07_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7c: as-of join with a staleness tolerance — the latest prior click
    matches only if it is at most 2 hours old at purchase time (kdb's
    ``wj`` / QuestDB ``ASOF ... TOLERANCE`` semantics: a quote that
    predates the trade by a day is stale data, not a match).

    Same one-shuffle carry-forward as b07_asof_join; the tolerance is a
    pure post-window predicate, so the plan (and its 100 TB behavior) is
    identical — no extra join, no range explosion.
    """
    base = b07_asof_join(spark, sf_dir)
    fresh = F.col("asof_click_ts") >= F.col("ts") - F.expr("INTERVAL 2 HOURS")
    return base.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(fresh, F.col("asof_click_ts")).alias("asof_click_ts"),
        F.when(fresh, F.col("asof_click_value")).alias("asof_click_value"),
    )


# --------------------------------------------------------------------------
# B7d — nearest-direction as-of join (pandas merge_asof direction='nearest')
# --------------------------------------------------------------------------
@query(
    "b07_asof_nearest",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         c AS (SELECT * FROM events WHERE event_type = 'click'),
         j AS (
           SELECT p.event_id, p.user_id, p.ts, p.value,
                  b.ts AS back_ts, b.value AS back_value,
                  f.ts AS fwd_ts,  f.value AS fwd_value
           FROM p
           ASOF LEFT JOIN c b ON p.user_id = b.user_id AND p.ts >= b.ts
           ASOF LEFT JOIN c f ON p.user_id = f.user_id AND p.ts <= f.ts
         )
    SELECT event_id, user_id, ts, value,
      CASE WHEN fwd_ts IS NULL THEN back_ts
           WHEN back_ts IS NULL THEN fwd_ts
           WHEN ts - back_ts <= fwd_ts - ts THEN back_ts
           ELSE fwd_ts END AS near_click_ts,
      CASE WHEN fwd_ts IS NULL THEN back_value
           WHEN back_ts IS NULL THEN fwd_value
           WHEN ts - back_ts <= fwd_ts - ts THEN back_value
           ELSE fwd_value END AS near_click_value
    FROM j
    """,
    driver=False,
)
def b07_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7d: nearest-neighbor as-of — each purchase matches the click
    closest in time in EITHER direction (pandas ``merge_asof
    direction='nearest'``), ties broken toward the prior click.

    Same single union-and-carry pass as b07_asof_join, run through two
    windows over the one sorted exchange: the ascending window carries
    the last prior click forward, the descending window carries the next
    future click backward (at equal ts the click sorts before the
    purchase in BOTH directions, so an exact-time click is visible to
    each). Nearest-pick is a row-local CASE. Still exactly ONE shuffle on
    the key — the naive formulation is two range joins. Oracle: DuckDB's
    bidirectional ASOF (>= and <=) plus the same CASE.
    """
    events = load(spark, sf_dir, "events")
    tagged = events.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("side"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
        F.when(F.col("event_type") == "click", F.col("value")).alias("click_value"),
    )
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("side"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # event_id ASC in the reversed scan so equal-ts future clicks
    # resolve to the LARGEST event_id — the SAME tie convention as the
    # backward carry (asc scan, last seen wins); desc here would pick
    # the smallest, an inconsistent tie rule between the two directions
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.asc("side"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_both = (
        tagged.withColumn("back_ts", F.last("click_ts", ignorenulls=True).over(w_back))
        .withColumn("back_value", F.last("click_value", ignorenulls=True).over(w_back))
        .withColumn("fwd_ts", F.last("click_ts", ignorenulls=True).over(w_fwd))
        .withColumn("fwd_value", F.last("click_value", ignorenulls=True).over(w_fwd))
        .filter(F.col("side") == 1)
    )
    # interval comparison, not cast("long"): the long cast truncates to
    # whole seconds and mis-breaks ties at microsecond precision
    back_wins = F.col("fwd_ts").isNull() | (
        F.col("back_ts").isNotNull()
        & (F.col("ts") - F.col("back_ts") <= F.col("fwd_ts") - F.col("ts"))
    )
    return with_both.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(back_wins, F.col("back_ts")).otherwise(F.col("fwd_ts")).alias(
            "near_click_ts"
        ),
        F.when(back_wins, F.col("back_value"))
        .otherwise(F.col("fwd_value"))
        .alias("near_click_value"),
    )


# --------------------------------------------------------------------------
# B28 — time-bucket gap fill (hypertable-style continuous aggregate)
# --------------------------------------------------------------------------
@query(
    "b28_gap_fill",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             {sql_trunc6(sql_dec_sum('value', 6) + ' / COUNT(value)')} AS hour_avg
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    spine AS (
      SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      FROM (SELECT event_type,
                   date_trunc('hour', MIN(ts)) AS lo,
                   date_trunc('hour', MAX(ts)) AS hi
            FROM events GROUP BY event_type)
    )
    SELECT s.event_type, s.bucket,
           h.hour_avg IS NULL AS is_gap,
           last_value(h.hour_avg IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_avg
    FROM spine s LEFT JOIN hourly h
      ON s.event_type = h.event_type AND s.bucket = h.bucket
    """,
    driver=False,  # demoted in the r12 rotation (r11-green)
)
def b28_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28: gap-filled hourly series — generate the dense per-key hour spine
    and carry the last observed hourly average forward (LOCF), the
    timescale-style ``time_bucket_gapfill`` the reference's 2-minute tick
    stream needs whenever a batch window is missed (retry gaps,
    /root/reference/dags/stock_data_to_gcp.py:82).

    Delegates to :func:`gap_fill_hourly` with no guards — exactly the
    unbounded SQL semantics the oracle defines. Production callers pass
    ``bounds`` / ``max_buckets_per_key`` (round-11 API promotion of the
    r10 docstring's caller-discipline guard).
    """
    return gap_fill_hourly(load(spark, sf_dir, "events"))


def gap_fill_hourly(
    events: DataFrame,
    *,
    bounds: "tuple[str, str] | None" = None,
    max_buckets_per_key: "int | None" = None,
) -> DataFrame:
    """Gap-filled hourly LOCF series with enforceable spine guards.

    Scale: the spine is #keys × #buckets rows generated from a tiny
    per-key min/max aggregate (never from the raw stream); the join back
    is aggregate-sized on both sides, and the LOCF window sorts buckets
    within each key only. The 100-TB footgun: the spine size is set by
    each key's raw min/max bucket, so a single corrupt outlier timestamp
    (an epoch-zero tick, a year-9999 sentinel) inflates that key's
    ``sequence()`` by millions of buckets. Two guards, both optional so
    the default reproduces the oracle's unbounded SQL semantics:

    - ``bounds=(lo, hi)``: timestamp strings; a pushdown ts-range
      pre-filter on the events scan — the analysis window. Outliers never
      reach the aggregate, so the spine is bounded by construction.
    - ``max_buckets_per_key``: hard cap embedded IN THE PLAN — a per-key
      ``raise_error`` fires at execution time naming the key, its bucket
      count, and the cap, instead of silently exploding the scaffold.
      Plan-embedded (not an eager driver check) so the builder stays a
      pure plan constructor: an eager check would run a job before the
      caller asks and freeze the data it read.

    The hourly aggregate is persisted (lazy, MEMORY_AND_DISK —
    bucket-grain, MB at any tick volume) because it feeds both the spine
    and the join: Spark re-expands a twice-referenced frame (the b86 CTE
    trap), which would scan and aggregate the raw stream twice.

    Cache lifetime (ADVICE r11): that persist is a CacheManager entry
    that OUTLIVES the returned Python handle — dropping the DataFrame
    frees the py4j binding, not the cached blocks. The registered-query
    path is bounded because Spark's CacheManager reuses an identical
    cached plan, so a repeat call on the same ``sf_dir`` adds no entry
    (tests/test_persist_bound.py), but
    ad-hoc callers issuing repeated direct calls with varying
    ``events``/``bounds``/``max_buckets_per_key`` would accumulate one
    session-lifetime cache entry per call. The persisted frame is
    therefore exposed as ``returned_df.hourly_cache`` — release it when
    done::

        filled = gap_fill_hourly(events, bounds=(lo, hi))
        ...consume filled...
        filled.hourly_cache.unpersist()

    ``hourly_cache`` is a plain Python attribute on the DIRECTLY returned
    object only (ADVICE r12): any transformation (``filter``/``select``)
    returns a NEW DataFrame without it, so capture the handle before
    composing — ``filled.filter(...).hourly_cache`` raises
    AttributeError rather than silently leaking the cache. It would also
    shadow a real ``hourly_cache`` column's attribute accessor; none of
    this operator's outputs carry that name.
    """
    from pyspark import StorageLevel

    if bounds is not None:
        lo_b, hi_b = bounds
        events = events.filter(
            (F.col("ts") >= F.lit(lo_b).cast("timestamp_ntz"))
            & (F.col("ts") <= F.lit(hi_b).cast("timestamp_ntz"))
        )
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        # the SHARED scaled-integer sum (functions/exact.py), matching
        # the oracle's sql_dec_sum arithmetic exactly — the naive
        # DECIMAL(18,6) cast half-rounds differently on values like
        # 0.0002465 (double 0.0002464999...)
        trunc6(
            dec_sum("value", 6) / F.count("value")
        ).alias("hour_avg")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # persist (lazy), not localCheckpoint (eager): the builder must stay
    # a pure plan constructor — an eager checkpoint runs a full scan at
    # PLAN BUILD time, before the caller asks, and freezes the data it
    # read; the cache still computes the twice-referenced aggregate once
    # Spine bounds come from the hourly AGGREGATE, not a second raw scan —
    # min/max of the bucket column equal the truncated raw min/max.
    key_span = hourly.groupBy("event_type").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    if max_buckets_per_key is not None:
        n_buckets = F.timestamp_diff("HOUR", F.col("lo"), F.col("hi")) + F.lit(1)
        # raise_error inside otherwise(): evaluated only on violating rows,
        # and referenced through the spine's hi column so pruning can't
        # drop the guard. Message names the key, count, and cap.
        key_span = key_span.withColumn(
            "hi",
            F.when(n_buckets <= F.lit(max_buckets_per_key), F.col("hi")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("gap-fill spine overflow: key '"),
                        F.col("event_type"),
                        F.lit("' spans "),
                        n_buckets.cast("string"),
                        F.lit(
                            f" hourly buckets > max_buckets_per_key="
                            f"{max_buckets_per_key}; an outlier timestamp is "
                            "likely — pre-filter with bounds=(lo, hi) or "
                            "raise the cap"
                        ),
                    )
                ).cast("timestamp_ntz")
            ),
        )
    spine = key_span.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        spine.join(hourly, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.col("hour_avg").isNull().alias("is_gap"),
            F.last("hour_avg", ignorenulls=True).over(w).alias("filled_avg"),
        )
    )
    # Unpersist hook — see "Cache lifetime" in the docstring.
    out.hourly_cache = hourly
    return out


# --------------------------------------------------------------------------
# B31 — volume-weighted average price (VWAP), the canonical stock rollup
# --------------------------------------------------------------------------
@query(
    "b31_vwap",
    oracle="""
    SELECT
      l_returnflag,
      CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS bucket,
      CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS vwap,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY l_returnflag, date_trunc('month', l_shipdate)
    """,
    driver=True,  # promoted r14: fresh oracle-backed rotation (VERDICT r13 task 8)
)
def b31_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31: VWAP — quantity-weighted average price per entity per time
    bucket, the headline number on every trading dashboard the reference
    feeds (price×volume over `ticker_data`, README.md:3; here the lineitem
    price/quantity pair at monthly grain).

    The price×qty product is computed in DOUBLE (exact here: ≤2-dp prices ×
    small quantities stay far under 2^53) then accumulated in DECIMAL, so
    the quotient is engine- and partition-order-exact (functions/exact.py;
    a decimal×decimal product would overflow the oracle's 18-digit width).
    Scale: single hash aggregate, map-side combined — the same shape as B3.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy(
        "l_returnflag", F.date_trunc("month", "l_shipdate").alias("bucket")
    ).agg(
        (
            F.sum(
                (F.col("l_extendedprice") * F.col("l_quantity")).cast(
                    "decimal(18,6)"
                )
            ).cast("double")
            / F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
        ).alias("vwap"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias(
            "total_qty"
        ),
    )


# --------------------------------------------------------------------------
# B30 — range / interval join (clicks within 1 hour before each purchase)
# --------------------------------------------------------------------------
@query(
    "b30_range_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           COUNT(c.event_id) AS n_clicks_1h,
           CAST(SUM(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >  p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    GROUP BY p.event_id, p.user_id, p.ts
    """,
    driver=True,  # re-promoted r13 rotation (driver-green r10, stale since): range-join shape returns in-window
)
def b30_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30: interval join — per purchase, count/sum the same user's clicks
    in the preceding hour (attribution-window shape).

    A naive range join is O(n·m) per user (nested loop). The scalable
    formulation: clicks carry their hour bucket; each purchase PROBES the
    two buckets its 1-hour window can touch (explode), so the range
    condition rides on an EQUI-join (user_id, bucket) — shuffle-hash-able,
    AQE-skew-splittable — with the interval predicate folded into the join
    condition (not a post-filter, preserving left-outer zero rows). Each
    click lands in exactly one probed bucket: no double counting.
    """
    events = load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.col("user_id"), F.col("ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_event_id"),
        F.col("value").alias("c_value"),
        F.date_trunc("hour", "ts").alias("c_bucket"),
    )
    probes = purchases.select(
        "event_id",
        "user_id",
        "ts",
        F.explode(
            F.array(
                F.date_trunc("hour", "ts"),
                F.date_trunc("hour", F.col("ts") - F.expr("INTERVAL 1 HOUR")),
            )
        ).alias("c_bucket"),
    )
    joined = probes.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (probes["c_bucket"] == clicks["c_bucket"])
        & (F.col("c_ts") > F.col("ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("ts")),
        "left",
    )
    return joined.groupBy("event_id", "user_id", "ts").agg(
        F.count("c_event_id").alias("n_clicks_1h"),
        F.sum(F.col("c_value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_click_value"),
    )


# --------------------------------------------------------------------------
# B29 — technical indicators (EMA / RSI) via Arrow-batched applyInPandas
# --------------------------------------------------------------------------

_INDICATOR_SCHEMA = (
    "user_id bigint, event_id bigint, ts timestamp_ntz, value double,"
    " ema double, rsi double"
)
EMA_ALPHA = 0.2
RSI_PERIOD = 14


N_INDICATOR_SHARDS = 256


def _indicators(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-key EMA + Wilder RSI, computed on one key's ordered history.

    Reference implementation (single key) — used as the test ground truth;
    the distributed path runs :func:`_indicators_shard` over many keys.
    """
    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    pdf["ema"] = pdf["value"].ewm(alpha=EMA_ALPHA, adjust=True).mean()
    delta = pdf["value"].diff()
    gain = delta.clip(lower=0.0).ewm(alpha=1.0 / RSI_PERIOD, adjust=False).mean()
    loss = (-delta.clip(upper=0.0)).ewm(alpha=1.0 / RSI_PERIOD, adjust=False).mean()
    rs = gain / loss
    pdf["rsi"] = (100.0 - 100.0 / (1.0 + rs)).where(loss > 0, 100.0)
    pdf.loc[delta.isna(), "rsi"] = None
    return pdf[["user_id", "event_id", "ts", "value", "ema", "rsi"]]


def _indicators_shard(pdf: pd.DataFrame) -> pd.DataFrame:
    """EMA/RSI for a SHARD of keys at once.

    One Python call per shard, not per key: inside, pandas' cython
    ``groupby.ewm`` / ``groupby.diff`` compute every key's recurrence
    vectorized. Per-key ``applyInPandas`` measured ~10× slower here —
    ~0.5 ms of Python/pandas overhead per group dwarfs the μs of math for
    short per-key histories.
    """
    pdf = pdf.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    g = pdf.groupby("user_id", sort=False)
    pdf["ema"] = g["value"].ewm(alpha=EMA_ALPHA, adjust=True).mean().droplevel(0)
    delta = g["value"].diff()
    pdf["_gain"] = delta.clip(lower=0.0)
    pdf["_loss"] = -delta.clip(upper=0.0)
    g2 = pdf.groupby("user_id", sort=False)
    gain = g2["_gain"].ewm(alpha=1.0 / RSI_PERIOD, adjust=False).mean().droplevel(0)
    loss = g2["_loss"].ewm(alpha=1.0 / RSI_PERIOD, adjust=False).mean().droplevel(0)
    rs = gain / loss
    pdf["rsi"] = (100.0 - 100.0 / (1.0 + rs)).where(loss > 0, 100.0)
    pdf.loc[delta.isna(), "rsi"] = None
    return pdf[["user_id", "event_id", "ts", "value", "ema", "rsi"]]


def with_indicators(events: DataFrame) -> DataFrame:
    """EMA/RSI per key — the custom "RSI indicator" UDAF surface of
    SURVEY.md §2 B20, as grouped Arrow-batched pandas.

    EMA/RSI are sequential recurrences (each row depends on the previous
    smoothed value), which no built-in window aggregate expresses — the
    textbook ``applyInPandas`` case. Grouping is by hash SHARD of the key
    (not the key itself): one Arrow batch and one Python call cover many
    keys, with the per-key math still isolated by the in-shard groupby.
    Scale: one shuffle on the shard key; shard count bounds per-task state
    exactly like a shuffle partition; keys are never split across shards.
    """
    shard = F.pmod(F.xxhash64("user_id"), F.lit(N_INDICATOR_SHARDS)).cast("int")
    # Explicit repartition on the shard key: AQE's byte-based coalescing
    # would pack these Python-CPU-heavy groups into a couple of tasks
    # (bytes are small, compute isn't); a user-specified partition count
    # both satisfies the groupBy distribution (no second exchange) and is
    # exempt from coalescing. Measured 2.2× on local[32].
    from ..functions.partitioning import session_parallelism

    n_part = min(N_INDICATOR_SHARDS, session_parallelism(events.sparkSession))
    return (
        events.select("user_id", "event_id", "ts", "value")
        .withColumn("_shard", shard)
        .repartition(n_part, "_shard")
        .groupBy("_shard")
        .applyInPandas(
            lambda pdf: _indicators_shard(pdf.drop(columns=["_shard"])),
            schema=_INDICATOR_SCHEMA,
        )
    )


EMA_TRUNC_WINDOW = 150  # (1-α)^150 ≈ 2.9e-15 at α=0.2: below double ulp


def _ema_trunc_window(alpha: float) -> int:
    """Window length where the truncated tail weight (1-α)^W drops below
    double ulp (~1e-15) — DERIVED from alpha, because a fixed 150 is
    calibrated for α=0.2 only: at α=0.01, (0.99)^150 ≈ 0.22 would
    silently discard 22% of the weight mass."""
    import math as _math

    c = 1.0 - alpha
    if c <= 0.0:
        return 1
    return max(1, _math.ceil(_math.log(1e-15) / _math.log(c)))


def _ema_windowed_fold(col: str, w: Window, alpha: float) -> F.Column:
    """Adjust-corrected EMA as a truncated-window weighted fold (shared
    by ema_windowed and with_indicators_windowed — one copy of the
    weight-ladder arithmetic). NULL-safe: collect_list skips nulls, so a
    frame with no non-null values gives n=0, guarded to NULL instead of
    an illegal sequence(-1, 0, -1)."""
    c = 1.0 - alpha
    hist = F.collect_list(col).over(w)
    n = F.size(hist)
    weights = F.transform(
        F.sequence(n - F.lit(1), F.lit(0), F.lit(-1)),
        lambda i: F.pow(F.lit(c), i.cast("double")),
    )
    num = F.aggregate(
        F.zip_with(hist, weights, lambda x, p: x * p),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    den = F.aggregate(weights, F.lit(0.0), lambda acc, p: acc + p)
    return F.when(n > 0, num / den)


def ema_windowed(events: DataFrame, *, alpha: float = EMA_ALPHA) -> DataFrame:
    """JVM-only EMA twin: truncated-window weighted sum, no Python workers.

    The adjust-corrected EMA is ema_t = Σᵢ(1-α)ⁱ·x_{t-i} / Σᵢ(1-α)ⁱ; at
    α=0.2 the weight of lag 150 is ~2.9e-15, below double precision
    relative to the head of the sum, so the window — DERIVED from alpha
    via ``_ema_trunc_window`` (150 at α=0.2, longer for smaller α) — is
    exact to ~1e-12 absolute (and EXACT for rows with fewer predecessors
    than the window, i.e. every series shorter than it). Formulation:
    ``collect_list`` over the ordered frame, then a higher-order
    ``zip_with``/``aggregate`` fold against the weight ladder — all
    whole-stage-codegen-eligible expressions, zero Python.

    Trade-off vs :func:`with_indicators` (the applyInPandas recurrence):
    this does O(window) arithmetic PER ROW (the affine-scan structure a
    recurrence exploits is not expressible with built-in window
    aggregates), but stays on the JVM — no Python worker pool, no Arrow
    hop, no pandas. Measured ~6× SLOWER than the pandas path at sf0.1
    under full materialization (a ``count()`` benchmark lies here:
    Catalyst prunes the unused fold entirely), so this is the fallback
    for clusters where Python workers are unavailable or prohibited,
    not the fast path. Both are asserted equal to the pandas ``ewm``
    ground truth.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-(_ema_trunc_window(alpha) - 1), 0)
    )
    return events.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        _ema_windowed_fold("value", w, alpha).alias("ema"),
    )


RSI_TRUNC_WINDOW = 512  # (13/14)^512 ≈ 4e-17: below double ulp


def _wilder_windowed(col: str, w: Window, alpha: float) -> F.Column:
    """Truncated-window form of the adjust=False (recursive) EWM:
    y_t = c·y_{t-1} + α·x_t with y seeded at the first value. Closed
    form y_t = c^t·x_0 + α·Σ c^i·x_{t-i}; the oldest in-frame element
    takes weight c^(n-1) WITHOUT the α factor — exactly the seed when
    the frame reaches the series start, and a ≤c^(W-1)≈4e-17 error when
    it doesn't. ``collect_list`` skips nulls, so leading null deltas
    drop out and the seed lands on the first real value, matching
    pandas' NaN handling.
    """
    c = 1.0 - alpha
    hist = F.collect_list(col).over(w)
    n = F.size(hist)
    exps = F.sequence(n - F.lit(1), F.lit(0), F.lit(-1))  # exponent per slot
    weighted = F.zip_with(
        hist,
        exps,
        lambda x, e: x
        * F.pow(F.lit(c), e.cast("double"))
        * F.when(e == n - F.lit(1), F.lit(1.0)).otherwise(F.lit(alpha)),
    )
    return F.when(
        n > 0, F.aggregate(weighted, F.lit(0.0), lambda acc, v: acc + v)
    )


def with_indicators_windowed(events: DataFrame) -> DataFrame:
    """EMA(α=0.2) + Wilder RSI(14), entirely JVM-side — the windowed twin
    of :func:`with_indicators` with NO Python workers.

    Both recurrences have geometrically-decaying memory, so a truncated
    window is exact to double precision: EMA weights vanish by lag 150,
    Wilder weights (α=1/14) by lag 512. Each indicator is a
    ``collect_list`` over its ordered frame folded against the weight
    ladder with ``zip_with``/``aggregate`` — whole-stage-codegen
    expressions, one sort per key partition shared by all three windows.

    Trade-off: O(window) arithmetic per row instead of O(1) — but no
    Python worker pool, no Arrow hop. Under FULL materialization this is
    ~6× slower than the pandas path at sf0.1 (3.0 s vs 0.49 s noop-write;
    an earlier 3.3×-faster reading came from a ``count()`` benchmark
    whose plan had the folds pruned away — Window operators don't change
    cardinality, so Catalyst deletes them under count). Use this ONLY
    where running Python on executors is not an option; the serving path
    for b29 is :func:`with_indicators`. Equal to the pandas ``ewm``
    ground truth within 1e-9 (tests/test_sampling.py).
    """
    key = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    ema_w = key.rowsBetween(-(EMA_TRUNC_WINDOW - 1), 0)
    rsi_w = key.rowsBetween(-(RSI_TRUNC_WINDOW - 1), 0)

    ema = _ema_windowed_fold("value", ema_w, EMA_ALPHA)

    delta = F.col("value") - F.lag("value").over(key)
    base = events.select("user_id", "event_id", "ts", "value").withColumns(
        {
            "ema": ema,
            # keep the first row's delta NULL: greatest(NULL, 0.0) is 0.0
            # in Spark, which would inject a spurious 0-gain seed —
            # collect_list must skip the warm-up row like pandas skips NaN
            "_gain": F.when(delta.isNotNull(), F.greatest(delta, F.lit(0.0))),
            "_loss": F.when(delta.isNotNull(), F.greatest(-delta, F.lit(0.0))),
            "_warm": delta.isNotNull(),
        }
    )
    alpha_r = 1.0 / RSI_PERIOD
    gain = _wilder_windowed("_gain", rsi_w, alpha_r)
    loss = _wilder_windowed("_loss", rsi_w, alpha_r)
    rsi = (
        F.when(~F.col("_warm"), F.lit(None).cast("double"))
        .when(loss > 0, F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + gain / loss))
        .otherwise(F.lit(100.0))
    )
    return base.withColumn("rsi", rsi).select(
        "user_id", "event_id", "ts", "value", "ema", "rsi"
    )


# The b29 oracle replays pandas' ewm C loop STEP FOR STEP in a DuckDB
# recursive CTE: each iteration advances every key's recurrence state by
# one row (rec at step i joins the row-numbered events at i+1), carrying
# (weighted_avg, old_wt) for the adjust=True EMA and the two adjust=False
# Wilder means. The arithmetic matches pandas' aggregations.pyx exactly —
# same parenthesization, same ((old_wt·c)·avg + new_wt·x)/((old_wt·c)+new_wt)
# update, and crucially the same `weighted_avg != cur` SHORT-CIRCUIT (pandas
# skips the divide when the incoming value equals the running mean; always
# dividing drifts the bits). IEEE doubles make each op correctly rounded on
# both engines, so identical op order ⇒ bit-identical output: verified
# equal on every row at sf0.001/0.01/0.1. Oracle assumes the fixture's
# no-NULL `value` column (asserted in tests/test_timeseries_oracle.py);
# pandas' NaN decay branch is deliberately not replicated. Cost: max
# per-key series length iterations (≤99 at sf0.1) over a working table of
# #keys rows — fine for an oracle, and exactly why the ENGINE side uses
# applyInPandas instead of SQL recursion.
_B29_SQL = f"""
WITH RECURSIVE
ev AS (
  SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
  FROM events
),
rec AS (
  SELECT user_id, i, value,
         value AS ema_avg, CAST(1.0 AS DOUBLE) AS ema_oldwt,
         CAST(NULL AS DOUBLE) AS gain_avg, CAST(NULL AS DOUBLE) AS loss_avg
  FROM ev WHERE i = 1
  UNION ALL
  SELECT e.user_id, e.i, e.value,
         CASE WHEN r.ema_avg = e.value THEN r.ema_avg
              ELSE ((r.ema_oldwt * (1.0 - {EMA_ALPHA})) * r.ema_avg
                    + 1.0 * e.value)
                   / ((r.ema_oldwt * (1.0 - {EMA_ALPHA})) + 1.0)
         END,
         (r.ema_oldwt * (1.0 - {EMA_ALPHA})) + 1.0,
         CASE WHEN r.gain_avg IS NULL
              THEN greatest(e.value - r.value, 0.0)
              WHEN r.gain_avg = greatest(e.value - r.value, 0.0)
              THEN r.gain_avg
              ELSE ((1.0 - 1.0/{RSI_PERIOD}.0) * r.gain_avg
                    + (1.0/{RSI_PERIOD}.0) * greatest(e.value - r.value, 0.0))
                   / ((1.0 - 1.0/{RSI_PERIOD}.0) + (1.0/{RSI_PERIOD}.0))
         END,
         CASE WHEN r.loss_avg IS NULL
              THEN greatest(r.value - e.value, 0.0)
              WHEN r.loss_avg = greatest(r.value - e.value, 0.0)
              THEN r.loss_avg
              ELSE ((1.0 - 1.0/{RSI_PERIOD}.0) * r.loss_avg
                    + (1.0/{RSI_PERIOD}.0) * greatest(r.value - e.value, 0.0))
                   / ((1.0 - 1.0/{RSI_PERIOD}.0) + (1.0/{RSI_PERIOD}.0))
         END
  FROM rec r JOIN ev e ON e.user_id = r.user_id AND e.i = r.i + 1
)
SELECT e.user_id, e.event_id, e.ts, e.value,
       r.ema_avg AS ema,
       CASE WHEN r.i = 1 THEN NULL
            WHEN r.loss_avg > 0.0
            THEN 100.0 - 100.0 / (1.0 + r.gain_avg / r.loss_avg)
            ELSE 100.0 END AS rsi
FROM rec r JOIN ev e ON e.user_id = r.user_id AND e.i = r.i
"""


# rotated out r14 (r13-green; still registered+oracle-backed)
@query("b29_ema_rsi", oracle=_B29_SQL, driver=False)
def b29_ema_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29: per-user EMA(α=0.2) and RSI(14) over the event stream — the
    custom technical indicators the reference's dashboard roadmap implies
    (/root/reference/README.md:23). Served by the sharded applyInPandas
    recurrence (O(1) per row); :func:`with_indicators_windowed` is the
    JVM-only fallback for Python-less clusters (~6× slower under full
    materialization — see its docstring for the count()-pruning trap).

    Oracle-backed since round 7 via the recursive-CTE replay of pandas'
    ewm loop (see ``_B29_SQL``) — bit-exact, not tolerance-compared.
    Driver-verified since the r12 rotation. The ORACLE's iteration count
    is the longest per-key chain, so skew-regime sweeps substitute it
    (tools/window_sweep.py) and the engine's skew behavior is pinned by
    tests/test_timeseries_oracle.py::test_engine_matches_pandas_on_skewed_chain.
    """
    return with_indicators(load(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# B8 — ranking windows (top movers)
# --------------------------------------------------------------------------
@query(
    "b08_rank_in_group",
    oracle="""
    SELECT c_nationkey, c_custkey, c_name, c_acctbal, bal_rank, bal_dense
    FROM (
      SELECT c_nationkey, c_custkey, c_name, c_acctbal,
        ROW_NUMBER() OVER (
          PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC
        ) AS bal_rank,
        CAST(DENSE_RANK() OVER (
          PARTITION BY c_nationkey ORDER BY round(c_acctbal, 0) DESC
        ) AS INT) AS bal_dense
      FROM customer
    ) WHERE bal_rank <= 3
    """,
    # rotated out r13 (driver-green r12); B8 family rep is the promoted
    # b87_momentum_rank (dense-rank deciles, bigger shape)
    driver=False,
)
def b08_rank_in_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8: top-3 customers by balance within each nation ("top movers").

    row_number with an explicit unique tie-break key is the deterministic
    top-k; dense_rank over rounded balances shows gap-free ranking. Scale:
    rank<=k is rewritten by Spark into per-partition top-k before the
    exchange (WindowGroupLimit) — the shuffle carries k rows per key.
    """
    cust = load(spark, sf_dir, "customer")
    w_rn = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    w_dense = Window.partitionBy("c_nationkey").orderBy(
        F.desc(F.round("c_acctbal", 0))
    )
    return (
        cust.select(
            "c_nationkey",
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.row_number().over(w_rn).alias("bal_rank"),
            F.dense_rank().over(w_dense).cast("int").alias("bal_dense"),
        )
        .filter(F.col("bal_rank") <= 3)
    )


# --------------------------------------------------------------------------
# B9 — analytic windows with frames (moving average, lag, running total)
# --------------------------------------------------------------------------
@query(
    "b09_moving_window",
    oracle=f"""
    SELECT
      user_id,
      event_id,
      ts,
      value,
      LAG(value) OVER w AS prev_value,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
        w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
      ) AS DOUBLE) / COUNT(value) OVER (
        w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
      ) AS mov_avg_5,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
        w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS DOUBLE) AS running_total
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
    driver=True,  # re-promoted r13 rotation (driver-green r9, stale since): B9's ROWS-frame rep; b56/b78 rotated out this round
)
def b09_moving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9: lag / 5-row moving average / running total per key.

    These are the "moving average & returns" dashboard columns over the
    tick stream. Decimal-exact accumulation keeps the running totals
    engine- and partitioning-independent. Scale: one shuffle on user_id;
    all three windows share the same (partition, order) so Spark computes
    them in a single Window operator over one sort.
    """
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    frame5 = w.rowsBetween(-4, Window.currentRow)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec_val = F.col("value").cast("decimal(18,6)")
    return events.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        (F.sum(dec_val).over(frame5).cast("double") / F.count("value").over(frame5)).alias(
            "mov_avg_5"
        ),
        F.sum(dec_val).over(run).cast("double").alias("running_total"),
    )


# --------------------------------------------------------------------------
# B34 — time-weighted average (TWAP): interval-weighted rollup
# --------------------------------------------------------------------------
@query(
    "b34_twap",
    oracle="""
    WITH spans AS (
      SELECT user_id, value,
        (epoch_us(LEAD(ts) OVER w) - epoch_us(ts)) / 1000000.0 AS dur_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    )
    SELECT user_id,
      floor(
        CAST(SUM(CAST(value * dur_s AS DECIMAL(18,6))) AS DOUBLE)
        / CAST(SUM(CAST(dur_s AS DECIMAL(18,6))) AS DOUBLE) * 1000000)
        / 1000000 AS twap,
      COUNT(dur_s) AS n_spans
    FROM spans
    WHERE dur_s IS NOT NULL
    GROUP BY user_id
    """,
    driver=False,  # demoted in the r12 rotation (r11-green); stays a bench headline
)
def b34_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34: time-weighted average value per key — each observation weighted
    by how long it remained current (until the key's next event). The
    irregular-sampling companion to B31's VWAP: 2-minute ticks are only
    *nominally* regular (retry gaps, /root/reference/dags/stock_data_to_gcp.py:82),
    so an unweighted AVG over-counts dense bursts.

    Durations come from LEAD over (ts, event_id) — one shuffle on the key,
    one sort per partition; the weighted products are IEEE-identical in
    both engines and accumulate in DECIMAL so the rollup is
    partitioning-exact. The last observation per key carries no duration
    and is excluded (standard TWAP half-open convention).
    """
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    spans = events.select(
        "user_id", "value", "ts", F.lead("ts").over(w).alias("next_ts")
    ).select(
        "user_id",
        "value",
        (
            F.expr("timestampdiff(MICROSECOND, ts, next_ts)") / 1000000.0
        ).alias("dur_s"),
    )
    return (
        spans.filter(F.col("dur_s").isNotNull())
        .groupBy("user_id")
        .agg(
            trunc6(
                F.sum((F.col("value") * F.col("dur_s")).cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.sum(F.col("dur_s").cast("decimal(18,6)")).cast("double")
            ).alias("twap"),
            F.count("dur_s").alias("n_spans"),
        )
    )


# --------------------------------------------------------------------------
# B40 — time-based RANGE window frame (trailing 1-hour per-row aggregate)
# --------------------------------------------------------------------------
_HOUR_US = 3_600_000_000


@query(
    "b40_trailing_hour_window",
    oracle="""
    SELECT user_id, event_id, ts,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h,
      CAST(COUNT(value) OVER w AS BIGINT) AS n_1h
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY ts
      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
    )
    """,
    driver=False,  # rotated out r14 (r13-green; still registered+oracle-backed)
)
def b40_trailing_hour_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B40: per-event trailing-hour rollup — a TIME-based RANGE frame
    (B9's ROWS frames count rows; a tick stream with gaps needs wall-clock
    framing). Spark's rangeBetween needs a numeric sort key, so the frame
    rides on microseconds-since-epoch with interval-sized bounds —
    semantics identical to the oracle's RANGE INTERVAL frame, including
    equal-timestamp peers (RANGE includes all peers on both engines).

    Scale: one shuffle on the key, one sort per partition; the frame is
    evaluated with a sliding accumulator over the sorted run (no per-row
    rescan), and decimal accumulation keeps sliding sums exact.
    """
    events = load(spark, sf_dir, "events")
    ts_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us.alias("_ts_us"))
        .rangeBetween(-_HOUR_US, 0)
    )
    dec_val = F.col("value").cast("decimal(18,6)")
    return events.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(dec_val).over(w).cast("double").alias("sum_1h"),
        F.count("value").over(w).cast("bigint").alias("n_1h"),
    )
