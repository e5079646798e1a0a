"""Relational-operator behavior beyond oracle parity: approx-sketch error
bounds, plan-shape assertions (broadcast chosen, filters pushed down, no
Python in codegen paths) — the 100-TB design checks from SURVEY.md §2."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_data_pipeline_spark.catalog import load
from stock_data_pipeline_spark.registry import get


def test_approx_count_distinct_within_rsd(spark, sf_check_dir):
    from stock_data_pipeline_spark.operators.relational import (
        approx_aggregates_full,
    )

    got = {
        r.l_returnflag: r
        for r in approx_aggregates_full(spark, sf_check_dir).collect()
    }
    li = load(spark, sf_check_dir, "lineitem")
    exact = {
        r.l_returnflag: r.exact
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("exact"))
        .collect()
    }
    for flag, row in got.items():
        rel_err = abs(row.approx_parts - exact[flag]) / exact[flag]
        assert rel_err < 0.05, (flag, row.approx_parts, exact[flag])


def test_percentile_approx_ordered_and_bounded(spark, sf_check_dir):
    from stock_data_pipeline_spark.operators.relational import (
        approx_aggregates_full,
    )

    rows = approx_aggregates_full(spark, sf_check_dir).collect()
    li = load(spark, sf_check_dir, "lineitem")
    lo, hi = li.agg(F.min("l_extendedprice"), F.max("l_extendedprice")).first()
    for r in rows:
        assert lo <= r.p50_price <= r.p95_price <= r.p99_price <= hi


def test_broadcast_join_plan_has_broadcast(spark, sf_check_dir):
    plan = get("b04_broadcast_join").fn(spark, sf_check_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_parquet_scan(spark, sf_check_dir):
    df = get("b01_filter_time_range").fn(spark, sf_check_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "IsNotNull(value)" in plan or "GreaterThan(value" in plan


def test_column_pruning_reads_only_needed_columns(spark, sf_check_dir):
    df = load(spark, sf_check_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "l_extendedprice" not in plan  # unprojected column absent from scan


# Oracle-backed queries that run Python by design; every other
# oracle-backed query must stay JVM-side.
PYTHON_EXEMPT = {
    # mapInPandas by design (C5 codec surface)
    "c05_multimodal_features",
    "c05_image_decode",
    "c05_audio_energy",
    "c05_audio_header",
    "c05_frame_sample",
    "c05_resize_thumbnail",
    # applyInPandas O(1)-per-row recurrence by design (B20 surface);
    # its oracle is the recursive-CTE replay, not a JVM plan
    "b29_ema_rsi",
    # the FFD packer (applyInPandas, sequential by nature); its
    # oracle is the recursive-CTE packing replay
    "c09_sequence_packing",
}


def _executed_plan(spark, sf_dir, name):
    return (
        get(name).fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )


def test_no_python_udf_in_relational_plans(spark, sf_check_dir):
    """EVERY oracle-backed query must stay JVM-side (whole-stage codegen
    territory): no BatchEvalPython / ArrowEvalPython / FlatMapsInPandas.
    Python is reserved for the explicitly-pandas operators (fetch UDFs,
    multimodal decode, sequence packing, EMA recurrence); the
    oracle-backed ones among them are listed in PYTHON_EXEMPT."""
    from stock_data_pipeline_spark.registry import full_oracles

    for name in full_oracles():
        if name in PYTHON_EXEMPT:
            continue
        plan = _executed_plan(spark, sf_check_dir, name)
        assert "EvalPython" not in plan and "InPandas" not in plan, name


def test_python_exempt_has_no_stale_entries(spark, sf_check_dir):
    """Every exempt name must still be an oracle-backed query whose plan
    still runs Python — otherwise the entry hides a regression."""
    from stock_data_pipeline_spark.registry import full_oracles

    oracles = full_oracles()
    unknown = sorted(n for n in PYTHON_EXEMPT if n not in oracles)
    assert not unknown, f"exempt names are not oracle-backed queries: {unknown}"
    jvm_only = sorted(
        n
        for n in PYTHON_EXEMPT
        if not any(
            op in _executed_plan(spark, sf_check_dir, n)
            for op in ("InPandas", "EvalPython")
        )
    )
    assert not jvm_only, f"exempt queries no longer run Python: {jvm_only}"


def test_topk_uses_take_ordered(spark, sf_check_dir):
    plan = get("b10_topk_orders").fn(spark, sf_check_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_aqe_coalesces_oversized_shuffle_partitions(spark, sf_check_dir):
    """With shuffle.partitions deliberately oversized (the cluster-tuned
    value is always wrong for a small stage), AQE must coalesce the
    aggregate's output to far fewer partitions at runtime — the property
    that makes one conf work from local tests to a 1000-executor job."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        df = get("b02_group_agg").fn(spark, sf_check_dir)
        df.collect()
        assert df.rdd.getNumPartitions() < 20
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_topk_sketch_exact_below_capacity(spark, sf_check_dir):
    """Merged approx_top_k partials must reproduce exact per-user counts
    while distinct keys fit inside the sketch capacity, and the combine
    path must equal a single whole-corpus accumulate."""
    got = {
        r.user_id: (r.n, r.user_rank)
        for r in get("b15_topk_sketch").fn(spark, sf_check_dir).collect()
    }
    ev = load(spark, sf_check_dir, "events")
    exact = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert len(got) == 20
    for uid, (n, _) in got.items():
        assert exact[uid] == n, uid
    # every reported count must be >= the 20th-highest exact count
    kth = sorted(exact.values(), reverse=True)[19]
    assert all(n >= kth for n, _ in got.values())

    direct = {
        r.e.item: r.e["count"]
        for r in ev.agg(F.expr("approx_top_k_accumulate(user_id, 65536)").alias("sk"))
        .select(F.explode(F.expr("approx_top_k_estimate(sk, 65536)")).alias("e"))
        .collect()
    }
    merged_all = {
        r.e.item: r.e["count"]
        for r in ev.groupBy("event_type")
        .agg(F.expr("approx_top_k_accumulate(user_id, 65536)").alias("sk"))
        .agg(F.expr("approx_top_k_combine(sk, 65536)").alias("sk"))
        .select(F.explode(F.expr("approx_top_k_estimate(sk, 65536)")).alias("e"))
        .collect()
    }
    assert merged_all == direct


def test_hll_union_mergeability_and_error(spark, sf_check_dir):
    """Union-of-partial-sketches must equal the direct whole-corpus sketch
    (lossless merge), and every estimate must be within HLL error bounds
    of the exact distinct count."""
    from stock_data_pipeline_spark.operators.relational import hll_union_full

    rows = {
        r.event_type: r for r in hll_union_full(spark, sf_check_dir).collect()
    }
    ev = load(spark, sf_check_dir, "events")

    direct_total = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("bigint").alias("e")
    ).first().e
    assert rows["__all__"].approx_users == direct_total

    exact_total = ev.agg(F.countDistinct("user_id").alias("e")).first().e
    assert abs(rows["__all__"].approx_users - exact_total) / exact_total < 0.05

    exact_per = {
        r.event_type: r.e
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("e"))
        .collect()
    }
    for etype, exact in exact_per.items():
        assert abs(rows[etype].approx_users - exact) / exact < 0.05, etype
    assert rows["__all__"].n_events == sum(r.n_events for k, r in rows.items() if k != "__all__")


def test_runtime_bloom_filter_prunes_large_join(spark, sf_check_dir):
    """100 TB join pruning: with broadcast off (both sides 'big'), the
    optimizer injects a runtime bloom filter built from the selective side
    into the fact-side scan (`might_contain` below the SortMergeJoin), so
    non-matching fact rows die before the shuffle. Thresholds are lowered
    test-locally because the trigger is scan-size-based; on a real cluster
    the defaults (10 GB application side) fire on their own."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        orders = load(spark, sf_check_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load(spark, sf_check_dir, "lineitem")
        joined = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        qe = joined._jdf.queryExecution()
        assert "might_contain" in qe.optimizedPlan().toString()
        phys = qe.executedPlan().toString()
        assert "SortMergeJoin" in phys and "might_contain" in phys
        pruned = {r.o_orderpriority: r["count"] for r in joined.collect()}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    plain = (
        load(spark, sf_check_dir, "lineitem")
        .join(
            load(spark, sf_check_dir, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .count()
    )
    assert pruned == {r.o_orderpriority: r["count"] for r in plain.collect()}


def test_sliding_distinct_sketches_near_exact_and_mergeable(spark, sf_dir):
    """b60's trailing-24-bucket HLL estimates must track the exact
    trailing distinct counts (same ROWS-window semantics, computed in
    plain Python) within HLL error, and the hourly estimates must be
    exact at this cardinality (HLL is exact well below sketch capacity)."""
    from collections import defaultdict

    from stock_data_pipeline_spark.operators.relational import (
        sliding_distinct_full,
    )

    got = {
        (r.event_type, r.bucket): (r.distinct_hour, r.distinct_trailing_24h)
        for r in sliding_distinct_full(spark, sf_dir).collect()
    }

    ev = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("bucket"), "user_id"
    )
    sets = defaultdict(set)
    for r in ev.collect():
        sets[(r.event_type, r.bucket)].add(r.user_id)
    by_type = defaultdict(list)
    for (et, b) in sets:
        by_type[et].append(b)
    checked = 0
    for et, buckets in by_type.items():
        buckets.sort()
        for i, b in enumerate(buckets):
            exact_hour = len(sets[(et, b)])
            exact_trail = len(
                set().union(*(sets[(et, bb)] for bb in buckets[max(0, i - 23): i + 1]))
            )
            gh, gt = got[(et, b)]
            assert gh == exact_hour  # tiny per-hour sets: HLL exact
            assert abs(gt - exact_trail) <= max(2, 0.05 * exact_trail)
            checked += 1
    assert checked == len(got) > 0
