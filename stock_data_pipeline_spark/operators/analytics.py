"""Tier B analytics extensions: pivot/unpivot, distribution windows,
grouping sets, SQL-API entry, correlated subqueries, list aggregation,
and sliding windows.

Second coverage wave over SURVEY.md §2 — the dashboard/reporting shapes
(B8/B9/B13/B14 generalizations). These are the queries behind the
dashboard the reference promises over its BigQuery tables but never
builds (/root/reference/README.md:3,23). Same determinism contract as
registry.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, register_views
from ..functions.exact import dec_sum, sql_dec_sum, sql_trunc6, trunc6
from ..functions.partitioning import rebalance
from ..registry import query


# --------------------------------------------------------------------------
# Pivot / unpivot
# --------------------------------------------------------------------------
@query(
    "b20_pivot",
    oracle=f"""
    SELECT
      l_returnflag,
      {sql_dec_sum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_open,
      {sql_dec_sum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_filled,
      COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    driver=False,
)
def b20_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: line status → columns. ``pivot`` with an explicit value list
    (no extra distinct-scan job, stable output schema — mandatory at scale)."""
    li = load(spark, sf_dir, "lineitem")
    # ONE scan: the row count rides the same pivot aggregate (a second
    # groupBy + join would re-scan the fact table — the b86 trap)
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dec_sum("l_quantity").alias("qty"), F.count(F.lit(1)).alias("n"))
        .select(
            "l_returnflag",
            F.col("O_qty").alias("qty_open"),
            F.col("F_qty").alias("qty_filled"),
            (F.col("O_n") + F.col("F_n")).alias("n"),
        )
    )


@query(
    "b21_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure_name, measure_value FROM (
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure_name,
             l_quantity AS measure_value FROM lineitem WHERE l_orderkey % 100 = 0
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      FROM lineitem WHERE l_orderkey % 100 = 0
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      FROM lineitem WHERE l_orderkey % 100 = 0
    )
    """,
    driver=False,
)
def b21_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide measures → (name, value) rows — one pass,
    no self-union of the fact table (the oracle's UNION ALL shape re-scans
    the input once per measure; ``unpivot`` does not)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure_name",
        "measure_value",
    )


# --------------------------------------------------------------------------
# Distribution window functions / first-last-nth
# --------------------------------------------------------------------------
@query(
    "b22_window_distribution",
    oracle="""
    SELECT
      c_mktsegment,
      c_custkey,
      c_acctbal,
      floor(PERCENT_RANK() OVER w * 1000000) / 1000000 AS pct_rank,
      floor(CUME_DIST() OVER w * 1000000) / 1000000 AS cume,
      CAST(NTILE(4) OVER w AS INT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
    """,
    driver=True,
)
def b22_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / ntile — dashboard distribution stats.
    Ordering includes the unique key so NTILE bucket boundaries are
    deterministic under ties."""
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("c_acctbal"), F.asc("c_custkey")
    )
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        trunc6(F.percent_rank().over(w)).alias("pct_rank"),
        trunc6(F.cume_dist().over(w)).alias("cume"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@query(
    "b23_first_last_value",
    oracle="""
    SELECT DISTINCT
      user_id,
      FIRST_VALUE(value) OVER w AS first_value,
      LAST_VALUE(value) OVER w AS last_value,
      NTH_VALUE(value, 2) OVER w AS second_value
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
    driver=True,
)
def b23_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value over the full-partition frame (constant per
    key → DISTINCT collapses to one row per user). The explicit UNBOUNDED
    FOLLOWING frame matters: the default frame would make last_value mean
    'current row'."""
    events = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return events.select(
        "user_id",
        F.first("value").over(w).alias("first_value"),
        F.last("value").over(w).alias("last_value"),
        F.nth_value("value", 2).over(w).alias("second_value"),
    ).distinct()


# --------------------------------------------------------------------------
# SQL API entry (TPC-H Q3 shape) + grouping sets + correlated subquery
# --------------------------------------------------------------------------
_Q3_SQL = f"""
SELECT
  o.o_orderkey,
  o.o_orderdate,
  o.o_orderpriority,
  {sql_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey ASC
LIMIT 10
"""


@query("b24_sql_api", oracle=_Q3_SQL, driver=False)
def b24_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point: the engine's tables as temp views + ANSI SQL
    through ``spark.sql`` (TPC-H Q3 shape). Catalyst produces the same
    plan as the DataFrame API — one declarative surface, two dialects;
    the oracle runs the *identical* SQL text on DuckDB.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q3_SQL)


@query(
    "b26_grouping_sets",
    oracle=f"""
    SELECT
      c_mktsegment,
      c_nationkey,
      COUNT(*) AS n,
      {sql_dec_sum('c_acctbal')} AS bal
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey), (c_mktsegment), ())
    """,
    driver=False,
)
def b26_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube) via
    the SQL surface — the B13 family completed."""
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT
          c_mktsegment,
          c_nationkey,
          COUNT(*) AS n,
          {sql_dec_sum('c_acctbal')} AS bal
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey), (c_mktsegment), ())
        """
    )


@query(
    "b27_correlated_subquery",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal
    FROM customer c
    WHERE c_acctbal > (
      SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      FROM customer c2
      WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
    driver=False,
)
def b27_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: customers above their nation's mean
    balance. Catalyst decorrelates this into an aggregate + join — the
    plan a hand-written join would give, but declared as the user thinks
    it. Decimal-exact mean keeps the > comparison engine-identical."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM customer c
        WHERE c_acctbal > (
          SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          FROM customer c2
          WHERE c2.c_nationkey = c.c_nationkey
        )
        """
    )


@query(
    "b25_listagg",
    oracle="""
    SELECT
      c_nationkey,
      string_agg(c_name, ',' ORDER BY c_name) AS names,
      COUNT(*) AS n
    FROM customer
    WHERE c_custkey % 50 = 0
    GROUP BY c_nationkey
    """,
    driver=True,
)
def b25_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG WITHIN GROUP) — deterministic
    because the ORDER BY is total. Scale note: list aggregation is
    unbounded per group; cap group size upstream (here a key filter)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT
          c_nationkey,
          listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name) AS names,
          COUNT(*) AS n
        FROM customer
        WHERE c_custkey % 50 = 0
        GROUP BY c_nationkey
        """
    )


# --------------------------------------------------------------------------
# Sliding-window bars (B3/B17 sliding variant)
# --------------------------------------------------------------------------
@query(
    "b03_sliding_bars",
    oracle="""
    SELECT window_start, event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM (
      SELECT date_trunc('hour', ts) AS window_start, event_type, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value FROM events
    )
    GROUP BY window_start, event_type
    """, driver=False)
def b03_sliding_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (2h duration / 1h slide): every event lands in two
    overlapping bars — the moving-bar dashboard view. ``F.window`` expands
    rows window-count times before the hash aggregate (exactly what the
    oracle's UNION ALL spells out)."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("win"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# B32 — histogram / fixed-width binning (dashboard distribution card)
# --------------------------------------------------------------------------
_HIST_WIDTH = 50_000.0


@query(
    "b32_histogram",
    oracle=f"""
    SELECT
      CAST(floor(o_totalprice / {_HIST_WIDTH}) AS BIGINT) AS bin,
      round(floor(o_totalprice / {_HIST_WIDTH}) * {_HIST_WIDTH}, 2) AS bin_lo,
      COUNT(*) AS n_orders,
      round(MIN(o_totalprice), 2) AS min_price,
      round(MAX(o_totalprice), 2) AS max_price
    FROM orders
    GROUP BY floor(o_totalprice / {_HIST_WIDTH})
    """,
    driver=False,
)
def b32_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B32: fixed-width histogram of order totals — the distribution card
    behind every dashboard. floor-division binning (not width_bucket) so
    the oracle is dialect-portable and the bin id is integer-exact.

    Scale: one hash aggregate on a derived integer key; bin count is
    bounded by the value range, so the shuffle is O(bins) after map-side
    combine no matter the corpus size.
    """
    orders = load(spark, sf_dir, "orders")
    bin_col = F.floor(F.col("o_totalprice") / _HIST_WIDTH)
    return (
        orders.groupBy(bin_col.cast("bigint").alias("bin"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .select(
            "bin",
            F.round(F.col("bin") * _HIST_WIDTH, 2).alias("bin_lo"),
            "n_orders",
            "min_price",
            "max_price",
        )
    )


# --------------------------------------------------------------------------
# B33 — full pricing summary (TPC-H Q1 shape): the max-width hash aggregate
# --------------------------------------------------------------------------
@query(
    "b33_pricing_summary",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {sql_dec_sum('l_quantity')} AS sum_qty,
      {sql_dec_sum('l_extendedprice')} AS sum_base_price,
      {sql_dec_sum('l_extendedprice * (1 - l_discount)', 6)} AS sum_disc_price,
      {sql_dec_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)}
        AS sum_charge,
      {sql_trunc6(sql_dec_sum('l_quantity') + ' / COUNT(l_quantity)')} AS avg_qty,
      {sql_trunc6(sql_dec_sum('l_extendedprice') + ' / COUNT(l_extendedprice)')}
        AS avg_price,
      {sql_trunc6(sql_dec_sum('l_discount', 6) + ' / COUNT(l_discount)')} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    driver=False,
)
def b33_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33: the TPC-H Q1 pricing summary — 8 simultaneous aggregates over a
    pushdown-filtered scan, the canonical "wide dashboard rollup" the
    reference's BigQuery layer would serve (README.md:3).

    All money sums accumulate in DECIMAL (functions/exact.py) so results
    are identical under any partitioning; the derived products are
    computed in DOUBLE first (both engines do the identical IEEE multiply)
    then fixed-point-accumulated. Scale: one hash aggregate with map-side
    partials; the exchange carries #flag×#status ≈ 6 rows per task no
    matter the corpus size, and the shipdate filter reaches the parquet
    scan (PushedFilters). No ``rebalance`` (removed r14): widening the
    raw fact rows through a round-robin exchange was the plan's only
    corpus-sized shuffle, paid locally for trivially cheap per-row math
    and a no-op at production scan width (guide §2.3).
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            dec_sum(disc_price, 6).alias("sum_disc_price"),
            dec_sum(charge, 6).alias("sum_charge"),
            trunc6(dec_sum("l_quantity") / F.count("l_quantity")).alias(
                "avg_qty"
            ),
            trunc6(
                dec_sum("l_extendedprice") / F.count("l_extendedprice")
            ).alias("avg_price"),
            trunc6(dec_sum("l_discount", 6) / F.count("l_discount")).alias(
                "avg_disc"
            ),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# B35 — ordered conversion funnel (view → click → purchase)
# --------------------------------------------------------------------------
@query(
    "b35_funnel",
    oracle="""
    WITH fv AS (
      SELECT user_id, ts, event_type,
        MIN(CASE WHEN event_type = 'view' THEN ts END)
          OVER (PARTITION BY user_id) AS t_view
      FROM events
    ), fc AS (
      SELECT *,
        MIN(CASE WHEN event_type = 'click' AND ts >= t_view THEN ts END)
          OVER (PARTITION BY user_id) AS t_click
      FROM fv
    ), fp AS (
      SELECT user_id, t_view, t_click,
        MIN(CASE WHEN event_type = 'purchase' AND ts >= t_click THEN ts END)
          OVER (PARTITION BY user_id) AS t_purchase
      FROM fc
    ), per_user AS (
      SELECT user_id, MAX(t_view) AS t_view, MAX(t_click) AS t_click,
             MAX(t_purchase) AS t_purchase
      FROM fp GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(t_view) AS n_viewed,
           COUNT(t_click) AS n_clicked_after_view,
           COUNT(t_purchase) AS n_purchased_after_click
    FROM per_user
    """,
    driver=False,
)
def b35_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35: strictly-ordered conversion funnel — users whose first view
    precedes a click which precedes a purchase. The product-analytics
    staple over an event log (the reference's append-only stream is
    exactly this shape, SURVEY.md §1.1).

    Formulated as three chained unordered windows over the SAME partition
    key: Catalyst plans ONE Exchange on user_id and evaluates all three
    Window operators on co-located data — no self-joins, no repeated
    scans of the raw log. The final per-user reduce and global count are
    aggregate-sized. Scale: single shuffle of the (projected) log.
    """
    events = load(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    t_view = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(wu)
    staged = events.select("user_id", "ts", "event_type").withColumn(
        "t_view", t_view
    )
    t_click = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")),
            F.col("ts"),
        )
    ).over(wu)
    staged = staged.withColumn("t_click", t_click)
    t_purchase = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.col("t_click")),
            F.col("ts"),
        )
    ).over(wu)
    staged = staged.withColumn("t_purchase", t_purchase)
    per_user = staged.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_after_view"),
        F.count("t_purchase").alias("n_purchased_after_click"),
    )


# --------------------------------------------------------------------------
# B36 — weekly cohort retention
# --------------------------------------------------------------------------
@query(
    "b36_retention",
    oracle="""
    WITH cohorts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      FROM events
    )
    SELECT CAST(c.cohort_week AS TIMESTAMP) AS cohort_week,
           CAST(a.active_week AS TIMESTAMP) AS active_week,
           COUNT(*) AS n_users
    FROM cohorts c JOIN activity a USING (user_id)
    GROUP BY c.cohort_week, a.active_week
    """,
    driver=False,
)
def b36_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36: weekly cohort retention — users bucketed by first-seen week,
    counted in every week they return. The second product-analytics
    staple over the reference's append-only event log.

    Scale: ONE raw-log scan — the distinct (user, week) activity table
    is the only fact-sized pass (map-side pre-distinct before its
    shuffle), and the cohort week is a window MIN over that user-grain
    table rather than a second aggregate of the log (the separate-CTE
    form would re-scan the events: the b86 trap). The final rollup is
    #cohorts×#weeks.
    """
    events = load(spark, sf_dir, "events")
    # user_id IS NOT NULL: the oracle's cohorts JOIN activity
    # USING(user_id) drops NULL users, while a window partitionBy would
    # group them into one phantom "anonymous" cohort — filter explicitly
    # so both engines (and the semantics: cohorting is per-identity)
    # agree even when the corpus contains anonymous events
    activity = events.filter(F.col("user_id").isNotNull()).select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    cohorted = activity.withColumn(
        "cohort_week",
        F.min("active_week").over(Window.partitionBy("user_id")),
    )
    return cohorted.groupBy("cohort_week", "active_week").agg(
        F.count("*").alias("n_users")
    )


# --------------------------------------------------------------------------
# B39 — distinct-count rollup via the skew-proof two-phase rewrite
# --------------------------------------------------------------------------
@query(
    "b39_distinct_users",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_user_id
    FROM events
    GROUP BY event_type
    """,
    driver=False,
)
def b39_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B39: distinct users per event type — executed with the two-phase
    (pre-distinct on the composite key, then count) rewrite from
    functions/skew.py, so a hot event type never funnels its raw rows
    into one reducer. Same result as COUNT(DISTINCT ...), skew-proof plan.
    """
    from ..functions.skew import two_phase_count_distinct

    events = load(spark, sf_dir, "events")
    return two_phase_count_distinct(events, "event_type", "user_id")


# --------------------------------------------------------------------------
# B42 — shipping-priority top-k (TPC-H Q3 shape: 3-way join + agg + top-k)
# --------------------------------------------------------------------------
@query(
    "b42_shipping_priority",
    oracle=f"""
    SELECT
      l_orderkey,
      {sql_dec_sum("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
      o_orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
    driver=True)
def b42_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B42: the TPC-H Q3 shape — urgent-segment orders taken before the
    cutoff whose lineitems shipped after it, ranked by pending revenue.

    Scale: the customer filter broadcasts into orders (dimension-sized
    after the segment cut); the surviving orders broadcast into the
    lineitem scan, so the fact table is never shuffled before its
    aggregate; the aggregate is orderkey-grain (map-side partials), and
    the final ranking is a TakeOrdered top-10, never a global sort. Ties
    broken by (o_orderdate, l_orderkey) for cross-engine determinism.
    """
    cutoff = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


# --------------------------------------------------------------------------
# B44 — one-pass table profiling (the ANALYZE/data-quality surface)
# --------------------------------------------------------------------------
_PROFILE_NUM_COLS = ("o_orderkey", "o_custkey", "o_totalprice")
# counts-only group: strings and timestamps (min/max stay NULL — no
# cross-engine-stable double encoding for them)
_PROFILE_STR_COLS = ("o_orderstatus", "o_orderpriority", "o_orderdate")


@query(
    "b44_table_profile",
    driver=False,
    oracle=f"""
    {" UNION ALL ".join(
        f'''SELECT '{c}' AS column_name, COUNT(*) AS n,
            CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
            CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
            CAST(MIN({c}) AS DOUBLE) AS min_val,
            CAST(MAX({c}) AS DOUBLE) AS max_val
            FROM orders''' for c in _PROFILE_NUM_COLS
    )}
    UNION ALL
    {" UNION ALL ".join(
        f'''SELECT '{c}' AS column_name, COUNT(*) AS n,
            CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
            CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
            CAST(NULL AS DOUBLE) AS min_val,
            CAST(NULL AS DOUBLE) AS max_val
            FROM orders''' for c in _PROFILE_STR_COLS
    )}
    """,
)
def b44_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B44: per-column profiling — row/null/distinct counts plus numeric
    min/max — the ANALYZE-style data-quality summary a warehouse user
    runs before trusting a table (and the stats a cost-based optimizer
    wants).

    Scale: ONE scan, one aggregate row carrying every statistic
    (count-distincts expand to the standard multi-count rewrite), then a
    constant-width ``stack`` unpivot to the long (column, stats) layout.
    The oracle spells it as per-column UNION ALL scans — same result,
    deliberately different plan, which is exactly what a differential
    check wants.
    """
    orders = load(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_NUM_COLS:
        aggs += [
            (F.count("*") - F.count(c)).cast("bigint").alias(f"{c}__nn"),
            F.countDistinct(c).cast("bigint").alias(f"{c}__nd"),
            F.min(F.col(c).cast("double")).alias(f"{c}__mn"),
            F.max(F.col(c).cast("double")).alias(f"{c}__mx"),
        ]
    for c in _PROFILE_STR_COLS:
        aggs += [
            (F.count("*") - F.count(c)).cast("bigint").alias(f"{c}__nn"),
            F.countDistinct(c).cast("bigint").alias(f"{c}__nd"),
        ]
    wide = orders.agg(F.count("*").alias("n"), *aggs)
    stack_args = []
    for c in _PROFILE_NUM_COLS:
        stack_args.append(
            f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx"
        )
    for c in _PROFILE_STR_COLS:
        stack_args.append(
            f"'{c}', {c}__nn, {c}__nd, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
        )
    n_cols = len(_PROFILE_NUM_COLS) + len(_PROFILE_STR_COLS)
    return wide.selectExpr(
        "n",
        f"stack({n_cols}, {', '.join(stack_args)}) "
        "AS (column_name, n_null, n_distinct, min_val, max_val)",
    ).select("column_name", "n", "n_null", "n_distinct", "min_val", "max_val")


# --------------------------------------------------------------------------
# B9++ — numeric RANGE window frame (value-distance neighborhood)
# --------------------------------------------------------------------------
_NUMERIC_RANGE_SQL = """
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_near,
           CAST(MAX(o_totalprice) OVER w - MIN(o_totalprice) OVER w
                AS DOUBLE) AS near_spread
    FROM orders
    WHERE o_orderkey % 20 = 0
    WINDOW w AS (
      PARTITION BY o_orderpriority ORDER BY o_totalprice
      RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING
    )
"""


@query("b47_numeric_range_frame", oracle=_NUMERIC_RANGE_SQL, driver=False)
def b47_numeric_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9++: RANGE frame bounded by VALUE distance (±1000 of each order's
    own total) rather than row count or time — the price-neighborhood /
    similar-size-cohort window. Identical SQL text runs on DuckDB.

    Complements b09 (ROWS frame) and b40 (time RANGE): the three frame
    kinds exhaust Spark's window-frame surface. Scale: one shuffle on the
    partition key; the frame is evaluated over the per-key sort with a
    sliding two-pointer, not a per-row rescan.
    """
    register_views(spark, sf_dir)
    return spark.sql(_NUMERIC_RANGE_SQL)


@query(
    "b48_share_of_total",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           floor(o_totalprice / (CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
                 AS DECIMAL(18,0))) OVER (PARTITION BY o_orderpriority)
                 AS DOUBLE) / 100.0) * 1000000) / 1000000
             AS share_of_priority,
           (CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS DECIMAL(18,0)))
                 OVER (PARTITION BY o_orderpriority) AS DOUBLE) / 100.0)
             AS priority_total
    FROM orders
    WHERE o_orderkey % 40 = 0
    """,
    driver=False,
)
def b48_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B48: ratio-to-report — each order's share of its priority class's
    total, the denominator computed as an unframed partition window (no
    self-join back to an aggregate). The window SUM uses the same
    fixed-point accumulation as dec_sum (floor-scaled DECIMAL(18,0)):
    a plain double window SUM is summation-order-dependent and the two
    engines order partitions differently, so the low bits — and then the
    trunc6 boundary — would diverge. Identical SQL text both engines.

    Scale: one shuffle on the partition key; both window aggregates share
    one sort. The naive formulation (groupBy total + rejoin) is two
    shuffles and a join.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               floor(o_totalprice / (CAST(SUM(CAST(FLOOR(o_totalprice * 100.0
                     + 0.5) AS DECIMAL(18,0))) OVER (PARTITION BY
                     o_orderpriority) AS DOUBLE) / 100.0) * 1000000) / 1000000
                 AS share_of_priority,
               (CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
                     AS DECIMAL(18,0))) OVER (PARTITION BY o_orderpriority)
                     AS DOUBLE) / 100.0) AS priority_total
        FROM orders
        WHERE o_orderkey % 40 = 0
        """
    )


# --------------------------------------------------------------------------
# B55 — winsorization: robust-stats outlier capping per group
# --------------------------------------------------------------------------
@query(
    "b55_winsorize",
    oracle=f"""
    WITH bounds AS (
      SELECT o_orderpriority,
             round(quantile_cont(o_totalprice, 0.05), 6) AS lo,
             round(quantile_cont(o_totalprice, 0.95), 6) AS hi
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN o_totalprice < lo OR o_totalprice > hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           {sql_dec_sum('o_totalprice')} / COUNT(*) AS mean_raw,
           {sql_dec_sum('greatest(lo, least(hi, o_totalprice))')} / COUNT(*)
             AS mean_winsorized
    FROM orders o JOIN bounds b USING (o_orderpriority)
    GROUP BY o.o_orderpriority
    """,
    driver=False,
)
def b55_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B55: per-group winsorized mean — cap values at the group's exact
    [p05, p95] (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, the b15
    parity) and compare the robust mean against the raw one. The outlier
    treatment a price feed needs before any of the rolling statistics
    (b52's z-scores flag spikes; this bounds their influence).

    Two aggregates over the fact table with a BROADCAST join between
    them: bounds are one row per group (KB-sized at any scale), so the
    clamp pass is map-side — no second shuffle of the facts. At 100 TB
    swap the exact percentile for ``approx_percentile`` (same plan
    shape); the exact form is kept here because it is oracle-checkable.
    """
    orders = load(spark, sf_dir, "orders")
    bounds = orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.05)), 6).alias("lo"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 6).alias("hi"),
    )
    clamped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("o_totalprice")))
    out_of_bounds = (F.col("o_totalprice") < F.col("lo")) | (
        F.col("o_totalprice") > F.col("hi")
    )
    return (
        orders.join(F.broadcast(bounds), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(out_of_bounds, 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped"),
            (dec_sum("o_totalprice") / F.count("*")).alias("mean_raw"),
            (dec_sum(clamped) / F.count("*")).alias("mean_winsorized"),
        )
    )


# --------------------------------------------------------------------------
# B57 — returned-item reporting (TPC-H Q10 shape)
# --------------------------------------------------------------------------
@query(
    "b57_returned_items",
    driver=False,
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {sql_dec_sum("l.l_extendedprice * (1 - l.l_discount)", 4)}
             AS revenue_lost,
           COUNT(*) AS n_lines
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_lost DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def b57_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B57 (TPC-H Q10 shape): customers who returned the most revenue —
    the churn-risk report. Fact-side filter (returnflag pushed to the
    lineitem scan) before the join chain; customer and nation broadcast;
    orders↔lineitem is the one big join, keyed on orderkey. Top-20 by
    the decimal-exact revenue with the unique custkey as tiebreak, so
    the LIMIT frontier is deterministic cross-engine.
    """
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # customer grows with scale factor — let AQE pick its strategy
        # (auto-broadcasts under the 32 MB threshold locally); a forced
        # broadcast of a multi-GB dimension OOMs executors at 100 TB.
        # nation is constant-size (25 rows): hint it.
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue_lost"),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.desc("revenue_lost"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# B58 — volume shipping between nation pairs (TPC-H Q7 shape)
# --------------------------------------------------------------------------
@query(
    "b58_volume_shipping",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
           {sql_dec_sum("l.l_extendedprice * (1 - l.l_discount)", 4)}
             AS volume,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    WHERE ns.n_name < nc.n_name
    GROUP BY ns.n_name, nc.n_name, CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT)
    """, driver=False)
def b58_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B58 (TPC-H Q7 shape): trade volume between distinct nation pairs
    per ship year. Six-table join where only orders↔lineitem is
    fact×fact; customer, supplier, and both nation aliases broadcast, so
    the fact table is shuffled exactly once (on orderkey) and the
    nation-pair predicate prunes before aggregation. The pair is ordered
    (supp < cust) to one row per unordered pair.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # customer/supplier scale with SF — AQE decides (see b57 note);
        # the two 25-row nation aliases stay hinted
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("volume"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# B59 — median absolute deviation (robust dispersion per group)
# --------------------------------------------------------------------------
@query(
    "b59_mad",
    driver=False,
    oracle="""
    WITH med AS (
      SELECT c_mktsegment,
             round(quantile_cont(c_acctbal, 0.5), 6) AS median_bal
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_mktsegment, COUNT(*) AS n, m.median_bal,
           round(quantile_cont(abs(c.c_acctbal - m.median_bal), 0.5), 6)
             AS mad
    FROM customer c
    JOIN med m ON c.c_mktsegment = m.c_mktsegment
    GROUP BY c.c_mktsegment, m.median_bal
    """,
)
def b59_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B59: per-group median absolute deviation — the robust dispersion
    partner of b55's winsorized mean (MAD ignores outliers entirely;
    stddev is quadratic in them). Two percentile passes with a BROADCAST
    median join between them — same plan skeleton as b55, and the same
    exact-percentile parity (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``; the rounded median is subtracted identically on
    both engines, and |x − med| feeds the second percentile bit-equal).
    At 100 TB swap both percentiles for ``approx_percentile``.
    """
    cust = load(spark, sf_dir, "customer")
    med = cust.groupBy("c_mktsegment").agg(
        F.round(F.percentile("c_acctbal", F.lit(0.5)), 6).alias("median_bal")
    )
    return (
        cust.join(F.broadcast(med), "c_mktsegment")
        .groupBy("c_mktsegment", "median_bal")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.percentile(
                    F.abs(F.col("c_acctbal") - F.col("median_bal")), F.lit(0.5)
                ),
                6,
            ).alias("mad"),
        )
    )
