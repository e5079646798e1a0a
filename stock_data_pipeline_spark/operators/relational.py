"""Tier B relational core (SURVEY.md §2 B1-B16).

The reference delegates its whole analytical surface to BigQuery
(/root/reference/dags/stock_data_to_gcp.py:123-136 — data is append-loaded,
queries happen downstream); this module supplies that surface natively.
Every query is a declarative DataFrame program (Catalyst handles pushdown,
pruning, join strategy, AQE re-planning) paired with a DuckDB oracle.

Scale notes are on each builder: what shuffles, what broadcasts, what the
plan must look like at 100 TB.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exact import dec_avg, dec_sum, sql_dec_avg, sql_dec_sum
from ..registry import query


# --------------------------------------------------------------------------
# B1 — predicate filter (time range + set membership)
# --------------------------------------------------------------------------
@query(
    "b01_filter_time_range",
    oracle="""
    SELECT event_id, ts, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts <  TIMESTAMP '2024-01-12 00:00:00'
      AND event_type IN ('click', 'view')
      AND value > 250.0
    """,
)
def b01_filter_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: range + membership predicates on the event stream.

    Scale: all four predicates are plain comparisons on scan columns, so
    Catalyst pushes them into the parquet reader (PushedFilters) and row
    groups outside the time range are skipped via min/max stats. No shuffle.
    """
    events = load(spark, sf_dir, "events")
    return events.filter(
        (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp_ntz"))
        & (F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp_ntz"))
        & F.col("event_type").isin("click", "view")
        & (F.col("value") > 250.0)
    ).select("event_id", "ts", "event_type", "value")


# --------------------------------------------------------------------------
# B2 — hash aggregate with group-by (TPC-H Q1 shape)
# --------------------------------------------------------------------------
@query(
    "b02_group_agg",
    driver=True,  # promoted r12: stale representative (last driver row r<=9)
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {sql_dec_sum('l_quantity')} AS sum_qty,
      {sql_dec_sum('l_extendedprice')} AS sum_base_price,
      {sql_dec_sum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
      {sql_dec_avg('l_quantity')} AS avg_qty,
      {sql_dec_avg('l_discount', 4)} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def b02_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: multi-aggregate group-by (the TPC-H Q1 pricing-summary shape).

    Scale: partial (map-side) aggregation means the shuffle carries only
    #groups × #partitions rows, not the fact table; with 6 groups this is
    O(partitions). Decimal accumulation keeps the result identical under any
    partitioning (see functions/exact.py). No ``rebalance`` here (removed
    r14): the per-row work after the scan is a handful of long ops, so a
    widening round-robin of the RAW fact rows — the plan's only
    corpus-sized exchange — cost more locally than the single-digit-
    partition scan it parallelized, and at production width it was a
    no-op anyway (guide §2.3: aggregate before you shuffle).
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "sum_disc_price"
            ),
            dec_avg("l_quantity").alias("avg_qty"),
            dec_avg("l_discount", 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# B4 — broadcast hash join (fact × small dims)
# --------------------------------------------------------------------------
@query(
    "b04_broadcast_join",
    oracle=f"""
    SELECT
      r.r_name AS region_name,
      n.n_name AS nation_name,
      COUNT(*) AS n_orders,
      {sql_dec_sum('o.o_totalprice')} AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def b04_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: star-schema join, every dimension broadcast.

    Scale: customer/nation/region are dimensions (≤ millions of rows at
    100 TB) — broadcasting them turns the whole join tree into a single
    map-side pipeline over the orders scan; the only shuffle is the final
    tiny group-by. Explicit ``F.broadcast`` pins the strategy so a stale
    size estimate can never flip it to sort-merge.
    """
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
        )
        .agg(F.count("*").alias("n_orders"), dec_sum("o_totalprice").alias("revenue"))
    )


# --------------------------------------------------------------------------
# B5 — large × large join (shuffle / sort-merge, AQE-planned)
# --------------------------------------------------------------------------
@query(
    "b05_large_join",
    driver=True,  # re-promoted r13 rotation (driver-green r9, stale since; B5 AQE shuffle-join rep returns in-window)
    oracle=f"""
    SELECT
      o.o_orderpriority,
      COUNT(*) AS n_items,
      {sql_dec_sum('l.l_quantity')} AS sum_qty,
      {sql_dec_avg('l.l_discount', 4)} AS avg_disc
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 1000.0
    GROUP BY o.o_orderpriority
    """,
)
def b05_large_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: fact × fact equi-join on the shared key.

    Scale: both sides shuffle on l_orderkey/o_orderkey; AQE picks
    sort-merge vs shuffled-hash from runtime sizes and splits skewed
    partitions (skewJoin enabled in session defaults). The o_totalprice
    filter is pushed below the join so the shuffled build side shrinks
    first. At 100 TB the durable win is bucketing both tables on orderkey
    at write time, which removes this shuffle entirely.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 1000.0)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            dec_sum("l_quantity").alias("sum_qty"),
            dec_avg("l_discount", 4).alias("avg_disc"),
        )
    )


# --------------------------------------------------------------------------
# B5b — the same join, exchange-free via bucketed tables
# --------------------------------------------------------------------------
_BUCKETED_READY: set[str] = set()


@query(
    "b05_bucketed_join",
    oracle=f"""
    SELECT
      o.o_orderpriority,
      COUNT(*) AS n_items,
      {sql_dec_sum('l.l_quantity')} AS sum_qty,
      {sql_dec_avg('l.l_discount', 4)} AS avg_disc
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 1000.0
    GROUP BY o.o_orderpriority
    """,
    driver=False,  # rotated out r13 (driver-green r12); B5 family rep is the re-promoted b05_large_join
)
def b05_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 on the 100 TB growth path: identical semantics to b05_large_join,
    but both fact tables are bucketed on the join key at write time
    (sources/bucketed.py), so every subsequent join on orderkey reads
    co-located buckets — no per-query shuffle of either side. The
    write-once cost amortizes across all downstream orderkey joins/aggs.

    Plan shape (asserted in tests/test_bucketing.py): SortMergeJoin whose
    inputs come straight from bucketed scans, no Exchange. Bucket count is
    sized for the test SF; at 1 TB+ use O(1000) buckets (~100-500 MB
    each).
    """
    import hashlib
    import os
    import tempfile

    from ..sources.bucketed import read_table, write_bucketed

    # tag includes the pid: the bucketed materialization lives in shared
    # /tmp, and two concurrent test/verify PROCESSES keyed only by sf_dir
    # would overwrite each other's files mid-read (observed: a parallel
    # parity run deleted the suite's orders buckets under its catalog —
    # FILE_NOT_EXIST). Per-process paths keep intra-process reuse via
    # _BUCKETED_READY while making cross-process clobbering impossible.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8] + f"_{os.getpid()}"
    o_t, l_t = f"orders_bkt_{tag}", f"lineitem_bkt_{tag}"
    if tag not in _BUCKETED_READY or not spark.catalog.tableExists(o_t):
        import atexit
        import shutil

        base = os.path.join(tempfile.gettempdir(), f"spark_graft_bkt_{tag}")
        # pid-keyed dirs are never reused by another process: reap ours at
        # exit so concurrent/aborted runs don't accumulate in /tmp.
        # Register once per tag (first creation only): re-entry here with
        # tag already in _BUCKETED_READY means a NEW session in the same
        # process lost the catalog table — the rewrite reuses the same
        # base dir, and a duplicate registration would silently stack.
        if tag not in _BUCKETED_READY:
            atexit.register(shutil.rmtree, base, ignore_errors=True)
        write_bucketed(
            load(spark, sf_dir, "orders"), o_t,
            bucket_by="o_orderkey", n_buckets=8, sort_by="o_orderkey",
            path=os.path.join(base, "orders"),
        )
        write_bucketed(
            load(spark, sf_dir, "lineitem"), l_t,
            bucket_by="l_orderkey", n_buckets=8, sort_by="l_orderkey",
            path=os.path.join(base, "lineitem"),
        )
        _BUCKETED_READY.add(tag)
    li = read_table(spark, l_t)
    orders = read_table(spark, o_t).filter(F.col("o_totalprice") > 1000.0)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            dec_sum("l_quantity").alias("sum_qty"),
            dec_avg("l_discount", 4).alias("avg_disc"),
        )
    )


# --------------------------------------------------------------------------
# B6 — outer / semi / anti joins
# --------------------------------------------------------------------------
@query(
    "b06_left_outer_join",
    oracle=f"""
    SELECT
      c.c_custkey,
      c.c_name,
      COUNT(o.o_orderkey) AS n_orders,
      COALESCE({sql_dec_sum('o.o_totalprice')}, 0.0) AS total_spent
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    driver=False,
)
def b06_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6a: left outer join preserving customers with no orders.

    Scale: orders is the big probe side; customer (dimension) broadcasts.
    COUNT(col) counts only matched rows, so no-order customers report 0.
    """
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dec_sum("o_totalprice"), F.lit(0.0)).alias("total_spent"),
        )
    )


@query(
    "b06_semi_join",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    """,
    driver=False,
)
def b06_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6b: left-semi join = EXISTS; emits each qualifying customer once."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


@query(
    "b06_anti_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
    )
    """,
    driver=False,
)
def b06_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6c: left-anti join = NOT EXISTS; customers with no orders at all."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "b06_join_suite",
    oracle="""
    SELECT 'left_outer' AS join_kind, c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS n_orders
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    UNION ALL
    SELECT 'semi', c_custkey, c_name, CAST(NULL AS BIGINT)
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    UNION ALL
    SELECT 'anti', c_custkey, c_name, CAST(NULL AS BIGINT)
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
    )
    """,
    driver=True,  # promoted r12: stale representative (last driver row r<=9)
)
def b06_join_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6: outer + semi + anti joins, one driver-verified representative.

    The three variants above stay on the full surface (oracle-parity
    sweep); this tagged union is the single B6 row inside the driver's
    50-name verification window. Each branch keeps its canonical plan:
    dimension-side broadcast, EXISTS → left-semi, NOT EXISTS → left-anti.
    """
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    outer = (
        customer.join(orders, orders.o_custkey == customer.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .select(F.lit("left_outer").alias("join_kind"), "c_custkey", "c_name",
                "n_orders")
    )
    f_orders = orders.filter(F.col("o_orderstatus") == "F")
    semi = (
        customer.join(f_orders, customer.c_custkey == f_orders.o_custkey,
                      "left_semi")
        .select(F.lit("semi").alias("join_kind"), "c_custkey", "c_name",
                F.lit(None).cast("bigint").alias("n_orders"))
    )
    anti = (
        customer.join(orders, customer.c_custkey == orders.o_custkey,
                      "left_anti")
        .select(F.lit("anti").alias("join_kind"), "c_custkey", "c_name",
                F.lit(None).cast("bigint").alias("n_orders"))
    )
    return outer.unionAll(semi).unionAll(anti)


# --------------------------------------------------------------------------
# B10 — sort / limit / top-k
# --------------------------------------------------------------------------
@query(
    "b10_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
    driver=False,  # rotated out r13 (driver-green r12); B10 family rep is the promoted b42_shipping_priority (TakeOrderedAndProject, bigger shape)
)
def b10_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: global top-k by price (tie-broken by key for determinism).

    Scale: orderBy+limit compiles to TakeOrderedAndProject — each task
    keeps a 25-row heap and the driver merges #tasks × 25 rows; no global
    sort is ever materialized.
    """
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


# --------------------------------------------------------------------------
# B11 — distinct / duplicate elimination (re-run dedup semantics)
# --------------------------------------------------------------------------
@query(
    "b11_dedup_pairs",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n_first_seen
    FROM (SELECT DISTINCT user_id, event_type, event_id FROM events)
    GROUP BY user_id, event_type
    """,
)
def b11_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: distinct on a key subset, then a per-pair count.

    Motivated by the reference's WRITE_APPEND + retries which can
    double-load a batch (stock_data_to_gcp.py:82,134) — dedup on the
    natural key is the repair. Scale: distinct is a hash aggregate on the
    key columns; one shuffle, map-side combined.
    """
    events = load(spark, sf_dir, "events")
    return (
        events.select("user_id", "event_type", "event_id")
        .distinct()
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n_first_seen"))
    )


# --------------------------------------------------------------------------
# B12 — set operations
# --------------------------------------------------------------------------
@query(
    "b12_set_ops",
    oracle="""
    SELECT 'customer_only' AS side, x AS nationkey FROM (
      SELECT DISTINCT c_nationkey AS x FROM customer
      EXCEPT
      SELECT DISTINCT s_nationkey AS x FROM supplier)
    UNION ALL
    SELECT 'both' AS side, x AS nationkey FROM (
      SELECT DISTINCT c_nationkey AS x FROM customer
      INTERSECT
      SELECT DISTINCT s_nationkey AS x FROM supplier)
    """,
    # re-promoted in the round-9 rotation (VERDICT r8 task 2): stale core
    # representative whose last driver-green row predates r7
    driver=True,
)
def b12_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12: EXCEPT / INTERSECT / UNION ALL over two key sets.

    Scale: set ops hash-shuffle both inputs on the full row; here the
    inputs are already-distinct key columns so the shuffle is tiny.
    """
    cust_nations = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("x")
    ).distinct()
    supp_nations = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("x")
    ).distinct()
    only = cust_nations.subtract(supp_nations).select(
        F.lit("customer_only").alias("side"), F.col("x").alias("nationkey")
    )
    both = cust_nations.intersect(supp_nations).select(
        F.lit("both").alias("side"), F.col("x").alias("nationkey")
    )
    return only.unionByName(both)


@query(
    "b12_set_ops_all",
    # demoted in the round-9 rotation: driver-green r8; B12 rep is the re-promoted b12_set_ops;
    # stays on the full bench/oracle-parity surface
    driver=False,
    oracle="""
    SELECT 'both_all' AS side, user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT ALL
      SELECT user_id FROM events WHERE event_type = 'purchase')
    UNION ALL
    SELECT 'click_surplus' AS side, user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      EXCEPT ALL
      SELECT user_id FROM events WHERE event_type = 'purchase')
    """,
)
def b12_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12b: MULTISET set ops — ``intersectAll`` keeps min(multiplicity)
    copies per value, ``exceptAll`` keeps the count difference; the
    distinct-variant twin of b12_set_ops, exercised on a key column that
    genuinely repeats (one row per event, not per user).

    Scale: same hash-shuffle-both-sides shape as the distinct variants,
    but the exchange carries full multiplicity — at 100 TB pre-aggregate
    to (key, count) and reconstruct when multiplicities are large; here
    the raw form IS the test of the operator.
    """
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    both = clicks.intersectAll(purchases).select(
        F.lit("both_all").alias("side"), "user_id"
    )
    surplus = clicks.exceptAll(purchases).select(
        F.lit("click_surplus").alias("side"), "user_id"
    )
    return both.unionByName(surplus)


# --------------------------------------------------------------------------
# B13 — rollup / cube (grouping sets)
# --------------------------------------------------------------------------
@query(
    "b13_rollup",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      COUNT(*) AS n,
      {sql_dec_sum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    driver=False,  # rotated out r13 (driver-green r12); B13 family rep is the re-promoted b13_cube
)
def b13_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13a: ROLLUP — per-(flag,status), per-flag subtotals, grand total.

    Scale: Spark expands grouping sets before the exchange; the shuffle
    carries one row per (group × set), still O(groups).
    """
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dec_sum("l_quantity").alias("sum_qty")
    )


@query(
    "b13_cube",
    # re-promoted r13 rotation (driver-green r8, stale since): B13's
    # in-window rep; b13_rollup rotated out this round
    driver=True,
    oracle=f"""
    SELECT
      o_orderstatus,
      o_orderpriority,
      COUNT(*) AS n,
      {sql_dec_sum('o_totalprice')} AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def b13_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13b: CUBE — all 2² grouping combinations in one pass."""
    orders = load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), dec_sum("o_totalprice").alias("revenue")
    )


@query(
    "b13_rollup_cube_sets",
    oracle=f"""
    SELECT
      o_orderstatus,
      o_orderpriority,
      GROUPING(o_orderstatus) AS g_status,
      GROUPING(o_orderpriority) AS g_priority,
      COUNT(*) AS n,
      {sql_dec_sum('o_totalprice')} AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    # re-promoted in the round-9 rotation (VERDICT r8 task 2): stale core
    # representative whose last driver-green row predates r7
    driver=False,
)
def b13_rollup_cube_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13: one driver-verified representative for rollup/cube/grouping
    sets. CUBE's 2² sets are a strict superset of ROLLUP's, and the
    GROUPING() markers exercise the grouping-id surface that
    distinguishes a real subtotal row from a NULL-valued group.

    Scale: Spark expands grouping sets map-side before the exchange; the
    shuffle stays O(groups × sets).
    """
    orders = load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
        F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
        F.count("*").alias("n"),
        dec_sum("o_totalprice").alias("revenue"),
    )


# --------------------------------------------------------------------------
# B14 — scalar string / date / math functions (row-level, codegen'd)
# --------------------------------------------------------------------------
@query(
    "b14_scalar_funcs",
    oracle="""
    SELECT
      l_orderkey,
      l_linenumber,
      lower(l_returnflag) || '/' || lower(l_linestatus) AS flag_status,
      substr(l_returnflag || l_linestatus, 1, 1) AS first_char,
      CAST(year(l_shipdate) AS INT) AS ship_year,
      CAST(month(l_shipdate) AS INT) AS ship_month,
      l_shipdate + INTERVAL 30 DAY AS due_date,
      l_extendedprice * (1 - l_discount) AS disc_price,
      round(ln(l_extendedprice), 6) AS ln_price,
      CAST(round(l_quantity, 0) AS BIGINT) AS qty_rounded
    FROM lineitem
    WHERE l_linenumber <= 2
    """,
)
def b14_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14: the scalar-function surface (A14-A17 generalized).

    All expressions are built-in ``pyspark.sql.functions`` — they stay
    inside WholeStageCodegen; no Python boundary is crossed.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_linenumber") <= 2).select(
        "l_orderkey",
        "l_linenumber",
        F.concat_ws(
            "/", F.lower("l_returnflag"), F.lower("l_linestatus")
        ).alias("flag_status"),
        F.substring(F.concat(F.col("l_returnflag"), F.col("l_linestatus")), 1, 1).alias(
            "first_char"
        ),
        F.year("l_shipdate").cast("int").alias("ship_year"),
        F.month("l_shipdate").cast("int").alias("ship_month"),
        (F.col("l_shipdate") + F.expr("INTERVAL 30 DAY")).alias("due_date"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
        F.round("l_quantity", 0).cast("bigint").alias("qty_rounded"),
    )


# --------------------------------------------------------------------------
# B15 — approximate aggregates (no SQL oracle: HLL/GK sketches are
# engine-specific; the registered projection is a DIGEST — exact twin
# columns the oracle reproduces plus within-ε boolean claims computed
# from the sketch estimates, so the driver hash-checks the error
# contract (the C5 scalar-digest pattern); raw estimates stay on the
# _full variant for the pytest error-bound tests)
# --------------------------------------------------------------------------
def approx_aggregates_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15 full surface: approx_count_distinct (HyperLogLog++) + approx
    percentiles NEXT TO their exact twins and the bracketing claims.

    Scale: the sketches are THE dashboard aggregates at 100 TB —
    fixed-size, partition-mergeable, no exact-distinct shuffle. The
    exact twins (exact distinct + exact interpolated quantiles at the
    bracket ranks) ride the SAME single groupBy at test SF to ground
    the claims; production dashboards would project only the sketch
    columns.
    """
    li = load(spark, sf_dir, "lineitem")
    qa = F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10000)
    # bracket ranks around each target quantile: approx_percentile's
    # rank error (~1/accuracy = 1e-4) is far inside the ±0.02 bracket
    qe = F.percentile(
        "l_extendedprice", F.array(*[F.lit(x) for x in
                                     [0.48, 0.5, 0.52, 0.93, 0.95, 0.97, 0.98, 0.99, 1.0]])
    )
    # Flatten arrays to scalar columns: the verification driver's pandas
    # canonicalizer cannot hash array cells — round-1 driver err.
    g = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            qa.alias("_qa"),
            qe.alias("_qe"),
            F.count("*").alias("n"),
        )
    )
    within = (
        F.abs(F.col("approx_parts") - F.col("exact_parts"))
        <= 0.05 * F.col("exact_parts")
    )
    bracket = (
        (F.col("_qe")[0] <= F.col("_qa")[0]) & (F.col("_qa")[0] <= F.col("_qe")[2])
        & (F.col("_qe")[3] <= F.col("_qa")[1]) & (F.col("_qa")[1] <= F.col("_qe")[5])
        & (F.col("_qe")[6] <= F.col("_qa")[2]) & (F.col("_qa")[2] <= F.col("_qe")[8])
    )
    return g.select(
        "l_returnflag",
        "approx_parts",
        "exact_parts",
        F.col("_qa")[0].alias("p50_price"),
        F.col("_qa")[1].alias("p95_price"),
        F.col("_qa")[2].alias("p99_price"),
        F.round(F.col("_qe")[1], 6).alias("p50_exact"),
        F.round(F.col("_qe")[4], 6).alias("p95_exact"),
        F.round(F.col("_qe")[7], 6).alias("p99_exact"),
        "n",
        within.alias("approx_parts_within_5pct"),
        bracket.alias("approx_quantiles_bracketed"),
    )


@query(
    "b15_approx_aggregates",
    # demoted in the round-9 rotation: driver-green r8; B15 rep is the re-promoted b15_exact_percentiles;
    # stays on the full bench/oracle-parity surface
    driver=False,
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
           round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_exact,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_exact,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS approx_parts_within_5pct,
           TRUE AS approx_quantiles_bracketed
    FROM lineitem GROUP BY l_returnflag
    """
)
def b15_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15: sketch aggregates, digest-verified. The registered output is
    the exact twin columns (which DuckDB reproduces bit-for-bit: Spark
    ``percentile`` ≡ ``quantile_cont``, both R-7) plus boolean claims
    computed FROM the sketch estimates — approx distinct within 5 % of
    exact, each approx quantile inside its ±0.02-rank exact bracket. The
    oracle spells the claims as TRUE literals, so a sketch drifting out
    of contract hash-mismatches in the driver. Raw estimates:
    :func:`approx_aggregates_full` (error bounds also asserted in
    tests/test_relational.py).
    """
    return approx_aggregates_full(spark, sf_dir).select(
        "l_returnflag",
        "exact_parts",
        "p50_exact",
        "p95_exact",
        "p99_exact",
        "n",
        "approx_parts_within_5pct",
        "approx_quantiles_bracketed",
    )


# --------------------------------------------------------------------------
# B15b — exact percentiles (interpolated), the oracle-checked complement
# --------------------------------------------------------------------------
@query(
    "b15_exact_percentiles",
    oracle="""
    SELECT
      c_mktsegment,
      COUNT(*) AS n,
      round(quantile_cont(c_acctbal, 0.5), 6) AS median_bal,
      round(quantile_cont(c_acctbal, 0.9), 6) AS p90_bal,
      round(MAX(c_acctbal) - MIN(c_acctbal), 6) AS bal_range
    FROM customer
    GROUP BY c_mktsegment
    """,
    # re-promoted r13 rotation (driver-green r9-r10, stale since): B15's
    # in-window rep; b15_topk_sketch rotated out this round
    driver=True,
)
def b15_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15b: exact linear-interpolated percentiles per group — Spark
    ``percentile`` ≡ DuckDB ``quantile_cont`` (both the classic R-7
    definition), so the values match bit-for-bit after rounding.

    Scale note: exact percentile shuffles the group's values; use it for
    grouped/moderate cardinality and B15's sketches for corpus-wide
    dashboard cards.
    """
    cust = load(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.round(F.percentile("c_acctbal", F.lit(0.5)), 6).alias("median_bal"),
        F.round(F.percentile("c_acctbal", F.lit(0.9)), 6).alias("p90_bal"),
        F.round(F.max("c_acctbal") - F.min("c_acctbal"), 6).alias("bal_range"),
    )


# --------------------------------------------------------------------------
# B15c — mergeable HLL sketches (Datasketches), the re-aggregation path
# --------------------------------------------------------------------------
def hll_union_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15c full surface: persistable distinct-count sketches —
    ``hll_sketch_agg`` per event type, then ``hll_union_agg`` to roll
    the partial sketches up to a corpus total WITHOUT rescanning rows.
    This is the continuous-aggregate pattern at 100 TB: store one ~KB
    sketch per (day, type) partition, answer any distinct-users rollup
    by unioning sketches. ``approx_count_distinct``
    (b15_approx_aggregates) gives numbers only; the Datasketches form is
    what makes incremental refresh possible (sources/maintenance.py uses
    the same mergeable-partial-state idea).

    Output is atomic (estimates as BIGINT); the sketch binaries never
    leave the plan. Union-of-partials equals the direct whole-corpus
    sketch exactly (HLL insertion is deterministic and merge is lossless
    at fixed lgConfigK) — asserted in tests. The exact twins ride the
    same aggregates (exact-distinct shuffle is affordable at test SF;
    production projects only the sketch columns).
    """
    ev = load(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count("*").alias("n_events"),
    )
    per_type = sk.select(
        "event_type",
        F.hll_sketch_estimate("sk").cast("bigint").alias("approx_users"),
        "exact_users",
        "n_events",
    )
    # exact corpus total as a LAZY 1-row frame crossJoined in (broadcast
    # of a scalar): an eager .first() here would run a full events scan
    # at plan-construction time — breaking the registry's pure-builder
    # contract — and freeze the count as a literal that goes stale if
    # the source changes before the plan runs
    exact_total = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    total = (
        sk.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("bigint")
            .alias("approx_users"),
            F.sum("n_events").alias("n_events"),
        )
        .crossJoin(F.broadcast(exact_total))
        .select(
            F.lit("__all__").alias("event_type"),
            "approx_users",
            "exact_users",
            "n_events",
        )
    )
    return per_type.unionByName(total)


@query(
    "b15_hll_union",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__',
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           TRUE
    FROM events
    """,
    driver=False,
)
def b15_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15c digest: the per-type and unioned-total rows with EXACT
    distinct counts (oracle-reproducible) plus a boolean claim that the
    sketch estimate — per-type direct, total via ``hll_union_agg`` over
    the partials — lands within 5 % of exact. A lossy merge or drifting
    sketch flips the boolean and hash-mismatches against the oracle's
    TRUE literal. Raw estimates + the exact union==direct mergeability
    assert: :func:`hll_union_full` / tests/test_relational.py.
    """
    out = hll_union_full(spark, sf_dir)
    within = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        <= 0.05 * F.col("exact_users")
    )
    return out.select(
        "event_type",
        "exact_users",
        "n_events",
        within.alias("approx_within_5pct"),
    )


@query(
    "b15_topk_sketch",
    oracle="""
    SELECT user_id, n, user_rank FROM (
      SELECT user_id, COUNT(*) AS n,
        ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id ASC) AS user_rank
      FROM events GROUP BY user_id
    ) WHERE user_rank <= 20
    """,
    driver=False,  # rotated out r13 (driver-green r12); B15 family rep is the re-promoted b15_exact_percentiles
)
def b15_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15d: mergeable heavy-hitters — ``approx_top_k_accumulate`` builds
    one bounded sketch per event-type partition, ``approx_top_k_combine``
    merges the partial states WITHOUT rescanning rows, and
    ``approx_top_k_estimate`` reads the merged state. Same
    store-partials / merge-on-read shape as b15_hll_union: at 100 TB keep
    one ~100 KB sketch per (day, type) partition and answer "top users
    overall" by combining sketches. The sketch tracks 65 536 items; while
    the distinct-key count stays below that the estimates are EXACT
    (sketch degradation only begins past capacity), which is what lets a
    plain GROUP BY/ORDER BY oracle verify this query at test scale. Final
    ranking re-sorts with an explicit (count DESC, user_id ASC) tie-break
    because the sketch's own tie order is unspecified.
    """
    ev = load(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.expr("approx_top_k_accumulate(user_id, 65536)").alias("sk")
    )
    # approx_top_k_combine's buffer hits `scala.MatchError: null` when its
    # input relation is EMPTY (zero groups upstream). Seed the combine
    # with one NULL-item sketch so it always sees >=1 state; the null item
    # can never collide with a real key and is dropped after estimation.
    seed = spark.sql(
        "SELECT approx_top_k_accumulate(CAST(NULL AS BIGINT), 65536) AS sk"
    )
    merged = (
        per_type.select("sk")
        .unionByName(seed)
        .agg(F.expr("approx_top_k_combine(sk, 65536)").alias("sk"))
    )
    est = (
        merged.select(
            F.explode(F.expr("approx_top_k_estimate(sk, 65536)")).alias("e")
        )
        .filter(F.col("e.item").isNotNull())
        .select(
            F.col("e.item").alias("user_id"),
            F.col("e.count").cast("bigint").alias("n"),
        )
    )
    w = Window.orderBy(F.desc("n"), F.asc("user_id"))
    return (
        est.withColumn("user_rank", F.row_number().over(w))
        .filter(F.col("user_rank") <= 20)
    )


# --------------------------------------------------------------------------
# B16 — null handling
# --------------------------------------------------------------------------
@query(
    "b16_null_handling",
    # re-promoted r8 as the B16 rep so COALESCE/NULLIF/<=> semantics are
    # driver-verified directly (ADVICE r7); b45_try_arithmetic rotated out
    oracle=f"""
    SELECT
      COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(suppressed)') AS segment,
      COUNT(*) AS n_customers,
      COUNT(NULLIF(c_mktsegment, 'BUILDING')) AS n_non_null,
      CAST(SUM(CASE WHEN NULLIF(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_null_safe_matches,
      {sql_dec_sum('c_acctbal')} AS sum_bal
    FROM customer
    GROUP BY COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(suppressed)')
    """,
)
def b16_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B16: NULLIF / COALESCE / null-safe equality (<=>), null-skipping COUNT.

    The reference declares every sink field NULLABLE and silently drops
    failed fetches (stock_data_to_gcp.py:48-50,128-133); nulls are part of
    the data model, so the engine's null algebra is exercised explicitly.
    """
    cust = load(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return (
        cust.select(
            F.coalesce(seg, F.lit("(suppressed)")).alias("segment"),
            seg.alias("seg_nullable"),
            "c_acctbal",
        )
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_customers"),
            F.count("seg_nullable").alias("n_non_null"),
            F.sum(
                F.when(F.col("seg_nullable").eqNullSafe(F.lit(None)), 1).otherwise(0)
            ).cast("bigint").alias("n_null_safe_matches"),
            dec_sum("c_acctbal").alias("sum_bal"),
        )
    )


# --------------------------------------------------------------------------
# A10 — the reference's one multi-input operator: UNION ALL of shards
# --------------------------------------------------------------------------
@query(
    "a10_union_shards",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n, {sql_dec_sum('o_totalprice')} AS revenue
    FROM (
      SELECT * FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL SELECT * FROM orders WHERE o_orderkey % 5 = 1
      UNION ALL SELECT * FROM orders WHERE o_orderkey % 5 = 2
      UNION ALL SELECT * FROM orders WHERE o_orderkey % 5 = 3
      UNION ALL SELECT * FROM orders WHERE o_orderkey % 5 = 4
    )
    GROUP BY o_orderstatus
    """,
)
def a10_union_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: 5-way shard union (the reference's ``join_all_stocks``,
    stock_data_to_gcp.py:57-71 — a bag union of identically-shaped shards).

    Scale: ``unionByName`` is plan-level concatenation — zero shuffle,
    partitions of the children are simply appended. The reference's manual
    5-way shard split (stock_data_to_gcp.py:42) is reproduced as 5
    modulo-filtered scans purely to prove union semantics; a real Spark
    pipeline never splits in the first place.
    """
    orders = load(spark, sf_dir, "orders")
    shards = [orders.filter(F.col("o_orderkey") % 5 == i) for i in range(5)]
    unioned = reduce(DataFrame.unionByName, shards)
    return unioned.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), dec_sum("o_totalprice").alias("revenue")
    )


# --------------------------------------------------------------------------
# B37 — star-schema multi-join rollup (TPC-H Q5 shape)
# --------------------------------------------------------------------------
@query(
    "b37_regional_revenue",
    oracle=f"""
    SELECT
      n.n_name,
      {sql_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 6)} AS revenue,
      COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    driver=False,  # demoted in the r12 rotation (r11-green); stays a bench headline
)
def b37_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B37: the TPC-H Q5 local-supplier-volume shape — a 6-table star join
    (fact × fact × 4 dims) with a region filter and same-nation predicate.

    Join-order intent at 100 TB: region→nation prunes FIRST (broadcast,
    cuts supplier to one region's), supplier/customer broadcast into the
    two fact joins, and the only big shuffle is lineitem⋈orders on
    orderkey — Catalyst + AQE reorder and pick broadcast strategies from
    runtime sizes; the date filter pushes to the orders scan. The explicit
    broadcasts mark every dimension below the threshold.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
    )
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asian_nations = F.broadcast(
        nat.join(reg, nat.n_regionkey == reg.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    asian_supp = F.broadcast(
        supp.join(asian_nations, supp.s_nationkey == F.col("n_nationkey")).select(
            "s_suppkey", "s_nationkey", "n_name"
        )
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(asian_supp, li.l_suppkey == F.col("s_suppkey"))
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == F.col("s_nationkey")),
        )
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("n_name").agg(
        dec_sum(revenue, 6).alias("revenue"),
        F.count("*").alias("n_items"),
    )


# --------------------------------------------------------------------------
# B38 — aggregate-filtered semi-join (TPC-H Q18 shape)
# --------------------------------------------------------------------------
_Q18_MIN_QTY = 150


@query(
    "b38_large_orders",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
           o.o_totalprice,
           {sql_dec_sum('l.l_quantity')} AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING {sql_dec_sum('l_quantity')} > {_Q18_MIN_QTY}
    )
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
    driver=False,  # rotated out r14 (r13-green; still registered+oracle-backed)
)
def b38_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B38: the TPC-H Q18 large-volume-customer shape — orders whose total
    quantity exceeds a threshold, re-joined to their lines and customers.

    The HAVING subquery becomes an aggregate whose output is REUSED:
    lineitem rolls up to order grain once (map-side partials, one shuffle
    on orderkey) and the >threshold survivors carry their qty with them.
    Because the final grouping is at order grain, re-joining lineitem and
    re-summing would reproduce exactly that qty — so the textbook
    semi-join-then-reaggregate plan's second lineitem scan + shuffle join
    is dead work and is eliminated. Survivors are a tiny fraction of
    orders, so AQE broadcasts them into the orders join; customers
    broadcast explicitly. Net: ONE big-table scan, one shuffle, for a
    query whose naive plan has two of each — the dominant saving at
    100 TB, where lineitem is the table that doesn't fit anywhere.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(dec_sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > _Q18_MIN_QTY)
    )
    return (
        orders.join(big_orders, orders.o_orderkey == big_orders.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
    )


# --------------------------------------------------------------------------
# B41 — promo revenue share (TPC-H Q14 shape; completes `part` coverage)
# --------------------------------------------------------------------------
@query(
    "b41_promo_revenue",
    driver=False,  # rotated out r14 (r13-green; still registered+oracle-backed)
    oracle=f"""
    SELECT
      p.p_brand,
      COUNT(*) AS n_items,
      {sql_dec_sum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) END", 4)}
        AS promo_revenue,
      {sql_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS total_revenue,
      floor(
        COALESCE({sql_dec_sum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) END", 4)}, 0.0)
        / {sql_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 4)}
        * 1000000) / 1000000 AS promo_share
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY p.p_brand
    """,
)
def b41_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B41 (TPC-H Q14 shape): promotional revenue share per brand —
    conditional aggregation over a fact ⋈ dimension join.

    Scale: part is a dimension (millions of rows at 100 TB) — broadcast,
    so the only shuffle is the O(brands) final aggregate; the shipdate
    range predicate pushes into the lineitem scan. Decimal-exact sums and
    a floor-truncated ratio keep the share engine-identical.
    """
    from ..functions.exact import trunc6

    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    part = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev)
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return (
        joined.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            dec_sum(promo_rev, 4).alias("promo_revenue"),
            dec_sum(rev, 4).alias("total_revenue"),
        )
        .select(
            "p_brand",
            "n_items",
            "promo_revenue",
            "total_revenue",
            trunc6(
                F.coalesce(F.col("promo_revenue"), F.lit(0.0))
                / F.col("total_revenue")
            ).alias("promo_share"),
        )
    )


# --------------------------------------------------------------------------
# B45 — ANSI-safe arithmetic (try_* surface for dirty data)
# --------------------------------------------------------------------------
@query(
    "b45_try_arithmetic",
    driver=False,  # rotated out r14 (r13-green; still registered+oracle-backed)
    oracle="""
    SELECT
      event_id,
      CASE WHEN user_id % 10 = 0 THEN NULL
           ELSE CAST(event_id AS DOUBLE) / (user_id % 10) END AS safe_ratio,
      TRY_CAST(event_type AS DOUBLE) AS bad_cast,
      TRY_CAST(CAST(user_id AS VARCHAR) AS DOUBLE) AS good_cast,
      str_split(event_type, 'i')[3] AS oob_element
    FROM events
    WHERE event_id % 97 = 0
    """,
)
def b45_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B45: the ANSI-mode safety surface. Spark 4 runs ANSI on by default,
    so a division by zero, an invalid cast, or an out-of-bounds element
    access is a JOB-KILLING error — correct for catching bugs, wrong for
    a 100 TB scan where one dirty row must not fail the batch. The
    ``try_*`` family degrades exactly those rows to NULL (which then
    flows to the B16 null-handling / quarantine machinery) while every
    clean row keeps full ANSI semantics. The oracle mirrors each
    NULL-on-failure case with DuckDB's TRY_CAST / guarded CASE /
    1-based-NULL-OOB list access.
    """
    ev = load(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") % 97 == 0).select(
        "event_id",
        F.try_divide(F.col("event_id"), F.col("user_id") % 10).alias("safe_ratio"),
        F.col("event_type").try_cast("double").alias("bad_cast"),
        F.col("user_id").cast("string").try_cast("double").alias("good_cast"),
        F.try_element_at(F.split("event_type", "i"), F.lit(3)).alias("oob_element"),
    )


# --------------------------------------------------------------------------
# B46 — correlated LATERAL subquery (per-row dependent top-k)
# --------------------------------------------------------------------------
_LATERAL_TOPK_SQL = """
    SELECT o.o_orderkey, o.o_orderpriority,
           l.l_linenumber, l.l_extendedprice
    FROM orders o JOIN LATERAL (
      SELECT l_linenumber, l_extendedprice
      FROM lineitem
      WHERE l_orderkey = o.o_orderkey
      ORDER BY l_extendedprice DESC, l_linenumber ASC
      LIMIT 2
    ) l ON TRUE
    WHERE o.o_orderkey % 50 = 0
"""


@query("b46_lateral_topk", oracle=_LATERAL_TOPK_SQL, driver=False)  # demoted in the r12 rotation (r11-green); B10 family rep now b10_topk_orders
def b46_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B46: LATERAL correlated subquery — the two most expensive line
    items PER ORDER, written as a per-row dependent subquery. The
    IDENTICAL SQL text runs on DuckDB as the oracle.

    Catalyst decorrelates this into the same plan the window formulation
    produces (join + per-key rank, WindowGroupLimit pruning) — it never
    executes one subquery per outer row, which is what makes LATERAL
    usable at 100 TB. The surface matters because analysts write the
    correlated form; the engine's job is making it the fast form.
    """
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_TOPK_SQL)


# --------------------------------------------------------------------------
# B60 — sliding-window distinct counts via mergeable HLL partials
# --------------------------------------------------------------------------
def sliding_distinct_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B60 full surface: distinct users in the TRAILING 24 hours, per
    hour and event type — the sliding-distinct query that has no
    scalable exact form (COUNT(DISTINCT) cannot be a window function,
    and a 24-way self-join rescans the fact table per offset).

    The mergeable-partial formulation: ONE scan builds an hourly HLL
    sketch per (type, hour) — KB-sized state per bucket regardless of
    row count — then a ROWS window collects the trailing 24 sketches and
    folds them with the binary ``hll_union``; ``hll_sketch_estimate``
    yields the count. Adding an hour of data touches one bucket; the
    window fold runs over the bucket-grain table (#types × #hours rows),
    never the facts. This is the streaming-dashboard shape: store the
    hourly sketches, answer ANY trailing-window distinct question by
    unioning them.

    The exact twins (collect_set per bucket, distinct-flatten over the
    same ROWS frame) ride the same scan; they are user-set-sized per
    bucket — fine at test SF, and exactly what production would NOT
    materialize (that's the sketches' job).
    """
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.collect_set("user_id").alias("us"),
        F.count("*").alias("n_events"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-23, 0)
    )
    sketches = F.collect_list("sk").over(w)
    trailing = F.aggregate(
        F.slice(sketches, 2, 10_000),
        F.element_at(sketches, 1),
        lambda acc, s: F.hll_union(acc, s),
    )
    exact_trailing = F.size(
        F.array_distinct(F.flatten(F.collect_list("us").over(w)))
    )
    return hourly.select(
        "event_type",
        "bucket",
        "n_events",
        F.hll_sketch_estimate(F.col("sk")).alias("distinct_hour"),
        F.hll_sketch_estimate(trailing).alias("distinct_trailing_24h"),
        F.size("us").cast("bigint").alias("exact_hour"),
        exact_trailing.cast("bigint").alias("exact_trailing_24h"),
    )


@query(
    "b60_sliding_distinct",
    oracle="""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_hour
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY bucket) AS rn
      FROM h
    ),
    u AS (
      SELECT DISTINCT event_type, date_trunc('hour', ts) AS bucket, user_id
      FROM events
    )
    SELECT a.event_type, a.bucket, a.n_events, a.exact_hour,
           (SELECT CAST(COUNT(DISTINCT u.user_id) AS BIGINT)
            FROM ranked b JOIN u
              ON u.event_type = b.event_type AND u.bucket = b.bucket
            WHERE b.event_type = a.event_type
              AND b.rn BETWEEN a.rn - 23 AND a.rn) AS exact_trailing_24h,
           TRUE AS hour_within_5pct,
           TRUE AS trailing_within_5pct
    FROM ranked a
    """,
    driver=False,
)
def b60_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B60 digest: exact hourly and trailing-24-bucket distinct counts
    (the oracle rebuilds the ROWS-frame semantics with a rank-range
    correlated subquery) plus boolean claims that the HLL estimates —
    hourly sketch and the window-folded ``hll_union`` of 24 partials —
    land within 5 % of exact. Raw estimates:
    :func:`sliding_distinct_full` / tests/test_relational.py.
    """
    out = sliding_distinct_full(spark, sf_dir)

    def within(est, exact):
        return F.abs(F.col(est) - F.col(exact)) <= 0.05 * F.col(exact)

    return out.select(
        "event_type",
        "bucket",
        "n_events",
        "exact_hour",
        "exact_trailing_24h",
        within("distinct_hour", "exact_hour").alias("hour_within_5pct"),
        within("distinct_trailing_24h", "exact_trailing_24h").alias(
            "trailing_within_5pct"
        ),
    )
