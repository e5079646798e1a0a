"""Scale-up stress evidence (SURVEY §6): the same plans at ~10× bench data.

The sandbox caps real data at sf0.1 (600k lineitem rows); these tests
union the fact table 8× (4.8M rows, ~40M values aggregated) and assert
the two properties that must hold on a 1000-executor cluster:

- the plan COMPLETES with the same shape (no driver materialization, no
  broadcast of the fact side), and
- results scale EXACTLY: the fixed-point aggregates are associative, so
  an 8× replicated input must yield bit-identical 8× sums under any
  partitioning — the order-independence property `functions/exact.py`
  exists for, demonstrated rather than claimed.
"""

from __future__ import annotations

from functools import reduce

import pytest

from pyspark.sql import functions as F

from stock_data_pipeline_spark.catalog import load
from stock_data_pipeline_spark.functions.exact import dec_sum

REPLICAS = 8


@pytest.fixture(scope="module")
def li_big(spark, sf_stress_dir):
    li = load(spark, sf_stress_dir, "lineitem")
    return reduce(lambda a, b: a.unionAll(b), [li] * REPLICAS)


def test_group_agg_scales_exactly(spark, sf_stress_dir, li_big):
    li = load(spark, sf_stress_dir, "lineitem")

    def rollup(df):
        return {
            (r.l_returnflag, r.l_linestatus): (r.sum_base, r.n)
            for r in df.groupBy("l_returnflag", "l_linestatus")
            .agg(
                dec_sum("l_extendedprice").alias("sum_base"),
                F.count("*").alias("n"),
            )
            .collect()
        }

    base = rollup(li)
    big = rollup(li_big)
    assert set(big) == set(base)
    for key, (s, n) in base.items():
        bs, bn = big[key]
        assert bn == REPLICAS * n
        # bit-identical 8x sum: integer accumulation is associative; a
        # float sum would drift here (different summation order)
        assert bs == pytest.approx(REPLICAS * s, abs=1e-6)


def test_large_join_scales_linearly_no_fact_broadcast(spark, sf_stress_dir, li_big):
    orders = load(spark, sf_stress_dir, "orders")
    base_n = (
        load(spark, sf_stress_dir, "lineitem")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    joined = li_big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the replicated fact side must never be the broadcast build side:
    # if anything broadcasts it is the orders dimension, so no broadcast
    # subtree may scan lineitem
    if "BroadcastExchange" in plan:
        broadcast_subtree = plan[plan.index("BroadcastExchange"):]
        assert "lineitem.parquet" not in broadcast_subtree.split("\n\n")[0].split(
            "SortMergeJoin"
        )[0]
    assert joined.count() == REPLICAS * base_n


def test_window_topk_scales_with_partial_group_limit(spark, li_big):
    """Per-group top-k over 4.8M rows: WindowGroupLimit must prune before
    the exchange so the sort never sees the full fact table."""
    from pyspark.sql import Window

    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    top = (
        li_big.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("l_returnflag", "l_extendedprice", "rk")
    )
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    rows = top.collect()
    # 3 flags x 3 ranks; ties duplicated 8x rank deterministically by key
    assert len(rows) == 9


def test_ngram_prune_bounds_candidate_join(spark, sf_stress_dir):
    """The max_shingle_df prune must keep the inverted-index join's
    candidate-pair count bounded as the corpus grows: replicating every
    doc 4x multiplies every shingle's df by 4, so the unpruned join cost
    (~sum of df^2) grows ~16x, while the pruned index drops any shingle
    whose df exceeds the cap — on this replicated corpus that excises
    the blown-up shingles entirely, so the pruned candidate count must
    land BELOW even the unreplicated unpruned count."""
    from stock_data_pipeline_spark.functions.textfns import tokens, word_shingles
    from stock_data_pipeline_spark.operators.dedup import (
        _PRUNE_MAX_DF,
        _SHINGLE_K,
    )

    docs = load(spark, sf_stress_dir, "documents").select("doc_id", "text")
    reps = 4
    big = reduce(
        lambda a, b: a.unionAll(b),
        [
            docs.select((F.col("doc_id") + i * 10_000_000).alias("doc_id"), "text")
            for i in range(reps)
        ],
    )

    def candidates(source, cap):
        sh = source.select(
            "doc_id",
            F.explode(word_shingles(tokens("text"), _SHINGLE_K)).alias("shingle"),
        )
        if cap is not None:
            keep = (
                sh.groupBy("shingle")
                .agg(F.count("*").alias("df"))
                .filter(F.col("df") <= cap)
                .select("shingle")
            )
            sh = sh.join(keep, "shingle")
        a, b = sh.alias("a"), sh.alias("b")
        return (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id"), F.col("b.doc_id"))
            .count()
            .count()
        )

    base_exact = candidates(docs, None)
    big_pruned = candidates(big, _PRUNE_MAX_DF)
    assert big_pruned < base_exact, (big_pruned, base_exact)


def test_pairwise_corr_invariant_under_tick_replication(spark, sf_stress_dir):
    """The finance-layer correlation matrix must be BIT-identical when
    every tick is replicated 8×: the hourly mark is an exact scaled
    sum/count ratio ((8S)/(8N) rounds to the same double as S/N), so the
    series — and every moment downstream — cannot move. This is the
    practical 100×-safety property: duplicate-heavy replays and
    partition-level retries don't perturb the statistics."""
    from stock_data_pipeline_spark.catalog import register_views
    from stock_data_pipeline_spark.operators.finance import _B51_ORACLE as _B51_SQL

    register_views(spark, sf_stress_dir)
    base = {
        (r.sym_a, r.sym_b): (r.n_buckets, r.price_corr)
        for r in spark.sql(_B51_SQL).collect()
    }
    assert base

    ev = load(spark, sf_stress_dir, "events")
    reduce(lambda a, b: a.unionAll(b), [ev] * REPLICAS).createOrReplaceTempView(
        "events"
    )
    try:
        got = {
            (r.sym_a, r.sym_b): (r.n_buckets, r.price_corr)
            for r in spark.sql(_B51_SQL).collect()
        }
    finally:
        register_views(spark, sf_stress_dir)  # restore the real view
    assert got == base


def test_conditional_ratio_invariant_under_replication(spark, sf_stress_dir, li_big):
    """The market-share shape (b65/b48): a ratio of two fixed-point
    conditional sums over the same rows must be BIT-identical when the
    input is replicated 8x — numerator and denominator both scale by the
    exact power-of-two factor, which IEEE division cancels exactly. A
    float-sum implementation would drift here (different summation
    order AND different magnitudes)."""
    from stock_data_pipeline_spark.functions.exact import dec_sum

    def share(df):
        rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        flagged = F.when(F.col("l_returnflag") == "R", rev).otherwise(0.0)
        return {
            r.l_linestatus: (r.share, r.vol)
            for r in df.groupBy("l_linestatus")
            .agg(
                (dec_sum(flagged, 4) / dec_sum(rev, 4)).alias("share"),
                dec_sum(rev, 4).alias("vol"),
            )
            .collect()
        }

    base = share(load(spark, sf_stress_dir, "lineitem"))
    big = share(li_big)
    assert set(base) == set(big)
    for k, (s, v) in base.items():
        bs, bv = big[k]
        assert bs == s  # bit-identical ratio
        assert bv == pytest.approx(REPLICAS * v, abs=1e-6)


def test_lsh_bucket_cap_bounds_adversarial_skew(spark, sf_stress_dir):
    """Adversarial LSH skew: a 10x corpus with (a) a planted boilerplate
    sentence on EVERY doc (hot shingles -> correlated signatures) and
    (b) a planted mega-cluster of byte-identical docs (every band
    collides -> one m^2 bucket per band). The bucket-capped candidate
    generation must (1) keep the hot cluster's quadratic pairs out of
    the join, (2) keep candidate counts within an explicit budget, and
    (3) RETAIN the off-cluster near-dup candidates (recall outside the
    mega-bucket is not sacrificed)."""
    from stock_data_pipeline_spark.operators.dedup import lsh_bucket_index

    docs = load(spark, sf_stress_dir, "documents").select("doc_id", "text")
    base_n = docs.count()
    boiler = " copyright terms apply all rights reserved see website for details"
    reps = 10
    big = reduce(
        lambda a, b: a.unionAll(b),
        [
            docs.select(
                (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(boiler)).alias("text"),
            )
            for i in range(reps)
        ],
    )
    # the mega-cluster: 200 byte-identical docs (signatures identical ->
    # every band is one bucket of 200 -> 8 * C(200,2) raw collisions)
    m = 200
    cluster = spark.range(m).select(
        (F.col("id") + 900_000_000).alias("doc_id"),
        F.lit("the exact same adversarial document body" * 5).alias("text"),
    )
    big = big.unionAll(cluster)
    cap = 50

    def n_candidates(source, bucket_cap):
        buckets = lsh_bucket_index(source)
        if bucket_cap is not None:
            small = (
                buckets.groupBy("band", "bucket")
                .agg(F.count("*").alias("sz"))
                .filter(F.col("sz") <= bucket_cap)
                .select("band", "bucket")
            )
            buckets = buckets.join(small, ["band", "bucket"])
        a, b = buckets.alias("a"), buckets.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select("a.doc_id", "b.doc_id")
            .distinct()
        )

    capped = n_candidates(big, cap)
    n_capped = capped.count()
    # (1) the mega-cluster's pairs are excised: no candidate pair has both
    # ends in the planted cluster
    in_cluster = capped.filter(
        (F.col("a.doc_id") >= 900_000_000) & (F.col("b.doc_id") >= 900_000_000)
    ).count()
    assert in_cluster == 0
    # (2) explicit budget: every surviving bucket contributes <= C(cap,2)
    # pairs; the planted replication would otherwise add ~C(10,2) * base_n
    # cross-replica pairs per band plus the cluster's C(200,2) * 8. The
    # budget asserts the candidate table stays in the "verify is cheap"
    # regime rather than exploding quadratically.
    # each base doc legitimately pairs with its 9 replicas: C(10,2)=45
    # true pairs per doc; 60x covers that plus organic near-dups while
    # still asserting LINEAR-in-corpus growth (the cluster alone would
    # add ~C(200,2)=19900 quadratic pairs, and an uncapped run grows
    # with bucket^2)
    budget = 60 * base_n
    assert n_capped <= budget, (n_capped, budget)
    # (3) off-cluster recall: the capped candidates must still contain
    # cross-replica self-pairs (true near-dups by construction) for most
    # base docs — their buckets are replica-sized (10), far under the cap
    base_pairs = capped.filter(
        (F.col("a.doc_id") < 900_000_000)
        & (F.col("b.doc_id") < 900_000_000)
        & (F.col("a.doc_id") % 10_000_000 == F.col("b.doc_id") % 10_000_000)
    )
    covered = base_pairs.select(
        (F.col("a.doc_id") % 10_000_000).alias("orig")
    ).distinct().count()
    assert covered >= 0.95 * base_n, (covered, base_n)


def test_minhash_lsh_pairs_bucket_cap_end_to_end(spark, sf_stress_dir):
    """The public max_bucket_size knob: capped minhash_lsh_pairs on the
    planted-cluster corpus completes with verified pairs that (a) exclude
    intra-mega-cluster pairs and (b) agree with the uncapped operator on
    the unskewed base corpus (cap high enough to be inert there)."""
    from stock_data_pipeline_spark.operators.dedup import minhash_lsh_pairs

    docs = load(spark, sf_stress_dir, "documents").select("doc_id", "text")
    cluster = spark.range(120).select(
        (F.col("id") + 900_000_000).alias("doc_id"),
        F.lit("identical adversarial body " * 8).alias("text"),
    )
    skewed = docs.unionAll(cluster)

    capped = minhash_lsh_pairs(skewed, max_bucket_size=50).cache()
    intra = capped.filter(
        (F.col("doc_a") >= 900_000_000) & (F.col("doc_b") >= 900_000_000)
    ).count()
    assert intra == 0

    base_uncapped = {
        (r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs).collect()
    }
    base_capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, max_bucket_size=50).collect()
    }
    assert base_capped == base_uncapped
    capped.unpersist()


# ---------------------------------------------------------------------------
# ANN recall + candidate budgets under 8× embeddings scale (round-7 task:
# the recall bounds were only ever asserted at base fixture scale)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb_big(spark, sf_stress_dir):
    """8× embeddings corpus of genuinely DISTINCT points: replica r rolls
    each vector's coordinates by r positions. A coordinate permutation is
    an orthogonal transform, so every replica preserves norms and the
    uniform distribution — the corpus grows 8× in real content, not 8
    exact copies whose recall an index gets for free (identical vectors
    share a cell/signature by construction, which would test nothing)."""
    emb = load(spark, sf_stress_dir, "embeddings").select("vec_id", "embedding")
    dim = 64
    replicas = []
    for r in range(REPLICAS):
        rolled = (
            emb.select(
                (F.col("vec_id") + r * 1_000_000).alias("vec_id"),
                F.concat(
                    F.slice("embedding", r + 1, dim - r),
                    F.slice("embedding", 1, r),
                ).alias("embedding")
                if r
                else F.col("embedding"),
            )
        )
        replicas.append(rolled)
    return reduce(lambda a, b: a.unionAll(b), replicas).cache()


def _brute_truth(emb_big, queries, k=5):
    from stock_data_pipeline_spark.operators.similarity import _exact_rerank

    all_pairs = queries.select(
        F.col("vec_id").alias("query_id")
    ).crossJoin(emb_big.select("vec_id")).filter(
        F.col("vec_id") != F.col("query_id")
    )
    truth: dict[int, set[int]] = {}
    for r in _exact_rerank(all_pairs, emb_big, queries, k).collect():
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    return truth


def _recall(truth, rows):
    got: dict[int, set[int]] = {}
    for r in rows:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    return hits / sum(len(v) for v in truth.values())


def test_ivf_recall_and_candidate_budget_at_8x(spark, emb_big):
    """IVF on the 8× corpus: (1) the base-scale recall bound still holds
    at the same n_probe/n_cells ratio, (2) the candidate join's actual
    row count equals the Σ(probed cell sizes) accounting — the pruning
    is real, not incidental — and stays well under brute force, and
    (3) no cell is hot enough to void the n_probe/n_cells cost model
    (the retrain trigger ivf_cell_stats documents)."""
    from stock_data_pipeline_spark.operators.similarity import (
        _probe_cells,
        ann_ivf_topk,
        ivf_index,
    )

    n = emb_big.count()
    assert n == REPLICAS * 2000
    queries = emb_big.filter(F.col("vec_id") < 10)
    truth = _brute_truth(emb_big, queries)

    n_cells, n_probe = 16, 8
    index = ivf_index(emb_big, n_cells=n_cells, seed=42)
    approx = ann_ivf_topk(
        emb_big, queries, k=5, n_probe=n_probe, index=index
    ).collect()
    assert _recall(truth, approx) >= 0.7

    # Candidate accounting: actual candidate rows == Σ probed-cell sizes
    # (minus self-matches), computed from the SAME index.
    assigned, centers = index
    assigned = assigned.cache()
    probe = _probe_cells(queries, centers, n_probe)
    actual = (
        assigned.join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .count()
    )
    cell_sizes = {r.cell: r.n for r in
                  assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    probed = [(r.query_id, r.cell) for r in probe.collect()]
    self_cell = {
        r.vec_id: r.cell
        for r in assigned.filter(F.col("vec_id") < 10).collect()
    }
    expect = sum(cell_sizes.get(c, 0) for _, c in probed) - sum(
        1 for q, c in probed if self_cell.get(q) == c
    )
    assert actual == expect, (actual, expect)
    # Pruning is real: probing half the cells must cost < 85% of brute
    # force even under skew (random-uniform corpus → ~50% expected).
    assert actual < 0.85 * 10 * n, (actual, n)
    # Hot-cell bound: the documented skew-4 retrain trigger holds, so
    # Σcell² (the all-pairs/semdedup candidate budget) stays ≤ 16·(4u)²
    # = n²/u-bounded instead of collapsing toward n².
    u = n / n_cells
    assert max(cell_sizes.values()) <= 4 * u, cell_sizes
    assert sum(s * s for s in cell_sizes.values()) <= n_cells * (4 * u) ** 2


def test_pq_recall_at_8x(spark, emb_big):
    """PQ ADC shortlist + exact rerank on the 8× corpus: the base-scale
    recall bound holds at the same 10%-of-corpus shortlist ratio, and the
    shortlist bound (queries × shortlist) caps the exact-rerank volume."""
    from stock_data_pipeline_spark.operators.similarity import pq_topk, pq_train

    n = emb_big.count()
    queries = emb_big.filter(F.col("vec_id") < 10)
    truth = _brute_truth(emb_big, queries)
    shortlist = n // 10
    approx = pq_topk(
        emb_big, queries, pq_train(emb_big), k=5, shortlist=shortlist
    ).collect()
    assert _recall(truth, approx) >= 0.6


# --------------------------------------------------------------------------
# C10 graph family at 8× (VERDICT r7 task 2): the wedge join is the one
# graph shuffle whose skew behavior at scale was argued in comments
# (graph.py triangle_stats) but never asserted under a replicated corpus
# with a planted celebrity vertex.
# --------------------------------------------------------------------------

CELEB_HUB = 50_000
CELEB_HALF = 1_000  # leaves below the hub id, and again above


@pytest.fixture(scope="module")
def events_8x_celebrity(spark, sf_stress_dir):
    """8 disjoint shifted copies of the events fact (users AND pages
    offset per replica, so the navigation graph is 8 disjoint copies of
    the base graph) plus a planted celebrity: one user whose walk
    hub→leaf→hub→… touches 2 000 distinct leaf pages, half below and
    half above the hub id — degree ~20× any organic page, the skew case
    the ordered wedge enumeration must survive."""
    from functools import reduce as _reduce

    ev = load(spark, sf_stress_dir, "events").select(
        "user_id", "ts", "event_id", "props"
    )
    page = F.get_json_object("props", "$.k").cast("long")
    copies = [
        ev.select(
            (F.col("user_id") + r * 1_000_000).alias("user_id"),
            "ts",
            "event_id",
            F.concat(
                F.lit('{"k": '), (page + r * 1_000).cast("string"), F.lit("}")
            ).alias("props"),
        )
        for r in range(REPLICAS)
    ]
    leaf_i = F.floor(F.col("id") / 2).cast("long")
    leaf_page = F.when(
        leaf_i < CELEB_HALF, F.lit(CELEB_HUB - CELEB_HALF) + leaf_i
    ).otherwise(F.lit(CELEB_HUB + 1) + (leaf_i - CELEB_HALF))
    celeb = spark.range(4 * CELEB_HALF).select(
        F.lit(999_999_999).cast("long").alias("user_id"),
        F.expr(
            "timestamp_ntz'2030-01-01 00:00:00' + make_dt_interval(0, 0, 0, id)"
        ).cast(ev.schema["ts"].dataType).alias("ts"),
        (F.lit(10**12) + F.col("id")).alias("event_id"),
        F.concat(
            F.lit('{"k": '),
            F.when(F.col("id") % 2 == 0, F.lit(CELEB_HUB))
            .otherwise(leaf_page)
            .cast("string"),
            F.lit("}"),
        ).alias("props"),
    )
    return _reduce(lambda a, b: a.unionAll(b), copies + [celeb])


def test_triangle_wedge_join_bounded_at_8x_celebrity(
    spark, events_8x_celebrity
):
    """The ordered wedge join's ACTUAL output row count equals the
    Σ lo(y)·hi(y) accounting (lo/hi = neighbors below/above y), the
    celebrity hub contributes exactly lo·hi = (d/2)² ≤ d²/4 — a 4×
    excision vs the unordered d·(d−1) wedge blowup — and with broadcast
    disabled (the 100 TB regime: the edge list is a fact, never
    broadcastable) the join is a SortMergeJoin keyed on the shared
    vertex, not a replicated-fact broadcast."""
    from stock_data_pipeline_spark.operators.graph import (
        click_edges,
        undirected_edges,
    )

    e = undirected_edges(click_edges(events_8x_celebrity)).cache()
    try:
        lo = e.groupBy(F.col("b").alias("node")).agg(
            F.count("*").cast("long").alias("lo")
        )
        hi = e.groupBy(F.col("a").alias("node")).agg(
            F.count("*").cast("long").alias("hi")
        )
        acc = (
            lo.join(hi, "node", "full")
            .fillna(0, subset=["lo", "hi"])
            .select(
                F.sum(F.col("lo") * F.col("hi")).alias("wedges"),
                F.sum(
                    (F.col("lo") + F.col("hi"))
                    * (F.col("lo") + F.col("hi") - 1)
                ).alias("unordered"),
            )
            .first()
        )
        hub = (
            lo.join(hi, "node", "full")
            .fillna(0, subset=["lo", "hi"])
            .filter(F.col("node") == CELEB_HUB)
            .first()
        )
        assert (hub.lo, hub.hi) == (CELEB_HALF, CELEB_HALF)

        e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
        wedges = e1.join(e2, "y")

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            actual = wedges.count()
            plan = wedges._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

        # exact accounting: the enumeration produces precisely the
        # ordered wedges, nothing more (no dedup shuffle hiding behind it)
        assert actual == acc.wedges, (actual, acc.wedges)
        # the celebrity's ordered contribution is (d/2)², vs d·(d−1)
        # unordered: the orientation excises ~4× of the hub blowup, and
        # corpus-wide the ordered count stays well under the unordered sum
        d = 2 * CELEB_HALF
        assert hub.lo * hub.hi == (d // 2) ** 2 <= d * d // 4
        assert actual <= 0.30 * acc.unordered, (actual, acc.unordered)
        # fact-side safety: both wedge sides are the edge list; with
        # broadcast off the planner must shuffle both on y (SMJ), the
        # only strategy that survives a 100 TB edge list
        assert "SortMergeJoin" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        e.unpersist()


def test_triangle_stats_copy_invariant_at_8x(spark, sf_stress_dir, events_8x_celebrity):
    """Triangle counts / degrees / clustering on the 8×-disjoint-copy
    graph restrict EXACTLY to the base-scale answer on each copy (IDs
    shifted back), and the planted star adds zero triangles — degree
    2 000, clustering 0 for the hub; the copies' results are untouched
    by the celebrity because its pages are id-disjoint."""
    from stock_data_pipeline_spark.operators.graph import (
        click_edges,
        triangle_stats,
    )

    base = triangle_stats(click_edges(load(spark, sf_stress_dir, "events")))
    big = triangle_stats(click_edges(events_8x_celebrity)).cache()
    try:
        for r in (0, REPLICAS - 1):
            off = r * 1_000
            got = big.filter(
                (F.col("node") >= off) & (F.col("node") < off + 1_000)
            ).select(
                (F.col("node") - off).alias("node"),
                "degree",
                "n_triangles",
                "clustering",
            )
            assert got.exceptAll(base).count() == 0
            assert base.exceptAll(got).count() == 0
        hub = big.filter(F.col("node") == CELEB_HUB).first()
        assert hub.degree == 2 * CELEB_HALF
        assert hub.n_triangles == 0
        assert hub.clustering == 0.0
        leaf = big.filter(F.col("node") == CELEB_HUB + 1).first()
        assert (leaf.degree, leaf.n_triangles, leaf.clustering) == (1, 0, None)
    finally:
        big.unpersist()


def test_pagerank_bit_exact_vs_sequential_at_8x(spark, events_8x_celebrity):
    """The distributed 3-round fixed-point PageRank on the 8×+celebrity
    graph is BIT-IDENTICAL to a sequential single-threaded replay of the
    integer recurrence — the order-independence the scaled-BIGINT design
    buys, demonstrated at 8× scale rather than claimed. (The collect is
    test-only; the operator itself keeps all state distributed.)"""
    from stock_data_pipeline_spark.operators.graph import (
        PR_SCALE,
        click_edges,
        pagerank,
    )

    edges = click_edges(events_8x_celebrity).cache()
    try:
        rows = edges.collect()
        assert len(rows) < 200_000  # test-harness sanity: bounded replay
        outw: dict = {}
        nodes = set()
        for r in rows:
            outw[r.src] = outw.get(r.src, 0) + r.w
            nodes.add(r.src)
            nodes.add(r.dst)
        n = len(nodes)
        pr = {v: PR_SCALE // n for v in nodes}
        for _ in range(3):
            insum: dict = {}
            for r in rows:
                insum[r.dst] = insum.get(r.dst, 0) + (pr[r.src] * r.w) // outw[r.src]
            dang = sum(p for v, p in pr.items() if v not in outw)
            pr = {
                v: (15 * PR_SCALE) // (100 * n)
                + (85 * insum.get(v, 0)) // 100
                + (85 * (dang // n)) // 100
                for v in nodes
            }
        got = {r.node: r.pagerank_scaled for r in pagerank(edges).collect()}
        assert got == pr
    finally:
        edges.unpersist()


def test_component_labels_copy_invariant_at_8x(
    spark, sf_stress_dir, events_8x_celebrity
):
    """Min-label propagation on the 8×-disjoint-copy graph restricts to
    the base answer per copy with labels shifted by the copy offset
    (labels are node ids, so they shift WITH the nodes), and the planted
    star resolves to one component labeled by its minimum node id —
    propagation across a degree-2 000 hub in the fixed 6 rounds."""
    from stock_data_pipeline_spark.operators.graph import (
        click_edges,
        component_labels,
    )

    base = component_labels(click_edges(load(spark, sf_stress_dir, "events")))
    big = component_labels(click_edges(events_8x_celebrity)).cache()
    try:
        for r in (0, REPLICAS - 1):
            off = r * 1_000
            got = big.filter(
                (F.col("node") >= off) & (F.col("node") < off + 1_000)
            ).select(
                (F.col("node") - off).alias("node"),
                (F.col("component") - off).alias("component"),
            )
            assert got.exceptAll(base).count() == 0
            assert base.exceptAll(got).count() == 0
        # the star is one component: every member's label is the minimum
        # star node id (hub and leaves are ≥2 hops from each other via
        # the hub, well inside the 6-round horizon)
        star = big.filter(F.col("node") >= CELEB_HUB - CELEB_HALF)
        labels = star.select("component").distinct().collect()
        assert [r.component for r in labels] == [CELEB_HUB - CELEB_HALF]
        assert star.count() == 2 * CELEB_HALF + 1
    finally:
        big.unpersist()


def test_link_prediction_hub_cap_excises_celebrity_blowup_at_8x(
    spark, events_8x_celebrity
):
    """The RA hub cap is the operator's scale guard: on the 8×+celebrity
    graph the capped wedge volume equals EXACTLY the Σ C(deg,2)
    accounting over cap-eligible shared neighbors (the degree-2000 hub
    excluded), lifting the cap adds back exactly C(2000,2) = 1,999,000
    candidate rows — the celebrity blowup the cap exists to excise —
    and no star node reaches the capped top-100."""
    from stock_data_pipeline_spark.operators.graph import (
        RA_MAX_HUB,
        click_edges,
        link_prediction_ra,
        undirected_edges,
    )

    edges = click_edges(events_8x_celebrity)
    ue = undirected_edges(edges).cache()
    try:
        bidir = ue.select(F.col("a").alias("node")).union(
            ue.select(F.col("b").alias("node"))
        )
        deg = bidir.groupBy("node").agg(F.count("*").alias("deg"))

        def wedge_count(max_hub):
            serving = (
                ue.selectExpr("a as node", "b as nbr")
                .union(ue.selectExpr("b as node", "a as nbr"))
                .join(deg.filter(F.col("deg") <= max_hub), "node")
            )
            w1 = serving.selectExpr("node as y", "nbr as x")
            w2 = serving.selectExpr("node as y", "nbr as z")
            return w1.join(w2, "y").filter(F.col("x") < F.col("z")).count()

        expected_capped = (
            deg.filter(F.col("deg") <= RA_MAX_HUB)
            .select(F.sum(F.col("deg") * (F.col("deg") - 1) / 2))
            .first()[0]
        )
        capped = wedge_count(RA_MAX_HUB)
        uncapped = wedge_count(10_000)
        assert capped == int(expected_capped), (capped, expected_capped)
        hub_deg = 2 * CELEB_HALF
        assert uncapped - capped == hub_deg * (hub_deg - 1) // 2

        # At sf0.1 each disjoint copy is a COMPLETE graph (every organic
        # pair adjacent), so the only non-adjacent distance-2 pairs are
        # leaf-leaf pairs through the hub: uncapped, the celebrity FLOODS
        # the output (100 star rows, each sharing exactly the hub);
        # capped, the hub serves nothing and the result is empty — the
        # cap excises the blowup at the candidate-generation stage, not
        # by post-filtering.
        from stock_data_pipeline_spark.operators.graph import RA_SCALE

        star_lo = CELEB_HUB - CELEB_HALF
        uncapped_top = link_prediction_ra(edges, max_hub=10_000).collect()
        assert len(uncapped_top) == 100
        assert all(
            r.x >= star_lo
            and r.z >= star_lo
            and r.common_neighbors == 1
            and r.ra_scaled == RA_SCALE // hub_deg
            for r in uncapped_top
        )
        assert link_prediction_ra(edges).count() == 0
    finally:
        ue.unpersist()


def test_streaming_hourly_agg_equals_batch_at_8x(spark, sf_stress_dir, tmp_path):
    """8× events volume through the REAL micro-batch path: eight
    time-shifted replicas land as eight files (maxFilesPerTrigger=1 →
    eight micro-batches), so the stateful hourly aggregate carries its
    state across batches at 8× the bench volume. Every window the
    watermark closed must equal the 8× batch recompute EXACTLY, and at
    least the first seven replicas' windows must have closed (only the
    final replica's tail may be unemitted). Time-shifting (not verbatim
    replication) keeps arrival monotone — verbatim copies would arrive
    behind the watermark and be dropped as late, testing nothing."""
    from pyspark.sql import functions as F  # noqa: F811 (local clarity)

    from stock_data_pipeline_spark.catalog import load
    from stock_data_pipeline_spark.streaming.jobs import (
        hourly_window_agg,
        read_event_stream,
        run_stream_to_memory,
    )

    ev = load(spark, sf_stress_dir, "events")
    land = tmp_path / "landing_8x"
    land.mkdir()
    shifted = []
    for r in range(REPLICAS):
        c = ev.withColumn(
            "ts", F.col("ts") + F.expr(f"make_dt_interval({r * 40}, 0, 0, 0)")
        )
        c.coalesce(1).write.mode("overwrite").parquet(str(land / f"b{r}"))
        shifted.append(c)
    # one file per micro-batch, in replica order
    files = sorted(land.glob("b*/part-*.parquet"))
    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    import shutil as _sh

    for i, f in enumerate(files):
        _sh.copy(f, stream_dir / f"batch{i}.parquet")

    # read_event_stream pins maxFilesPerTrigger=1: one micro-batch per file
    stream = read_event_stream(spark, str(stream_dir))
    q = run_stream_to_memory(
        hourly_window_agg(stream, watermark="10 minutes"),
        "hourly_out_8x",
        checkpoint=str(tmp_path / "ckpt8x"),
        output_mode="append",
    )
    q.awaitTermination()

    from functools import reduce as _reduce

    batch8 = hourly_window_agg(
        _reduce(lambda a, b: a.unionAll(b), shifted)
    )
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch8.collect()
    }
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM hourly_out_8x").collect()
    }
    assert got
    for key, val in got.items():
        assert expected[key] == val, key
    assert len(got) >= (REPLICAS - 1) * len(expected) // REPLICAS


def test_harmonic_centrality_cap_localizes_to_hub_neighbors_at_8x(
    spark, events_8x_celebrity
):
    """Harmonic centrality shares link prediction's capped-wedge scale
    guard; this pins its OWN output semantics on the 8×+celebrity graph:
    (a) the hub row is identical capped vs uncapped with n1 exactly the
    planted degree (so the hub has no organic edges and its excision
    changes nothing about itself); (b) every node whose score differs
    when the cap lifts is a hub NEIGHBOR — the cap's effect is exactly
    "pairs served through the hub", nothing leaks elsewhere; (c) the
    node-level n2 deltas and the pair-level distance-2 delta agree
    2-for-1 (each re-admitted pair scores both endpoints), i.e. the
    explode+aggregate bookkeeping stays exact under the skewed fan-out."""
    from stock_data_pipeline_spark.operators.graph import (
        click_edges,
        harmonic_centrality_r2,
        undirected_edges,
    )

    edges = click_edges(events_8x_celebrity)
    ue = undirected_edges(edges).cache()
    try:
        hub_deg = 2 * CELEB_HALF
        capped = harmonic_centrality_r2(edges).cache()
        uncapped = harmonic_centrality_r2(edges, max_hub=10_000).cache()

        hub_rows = {
            (r.node, r.n1, r.n2)
            for df in (capped, uncapped)
            for r in df.filter(F.col("node") == CELEB_HUB).collect()
        }
        assert hub_rows == {(CELEB_HUB, hub_deg, 0)}

        joined = (
            capped.selectExpr("node", "n1", "n2 as n2_cap")
            .join(uncapped.selectExpr("node", "n2 as n2_full"), "node")
            .cache()
        )
        leaves = ue.filter(
            (F.col("a") == CELEB_HUB) | (F.col("b") == CELEB_HUB)
        ).select(
            F.when(F.col("a") == CELEB_HUB, F.col("b"))
            .otherwise(F.col("a"))
            .alias("node")
        )
        diff = joined.filter(F.col("n2_cap") != F.col("n2_full")).cache()
        # (b) every differing node is a hub neighbor, deltas positive and
        # bounded by the other-leaf count; the difference set is large
        # (the planted star is mostly hub-mediated), so not vacuous
        assert diff.join(leaves, "node", "left_anti").count() == 0
        stats = diff.agg(
            F.count("*").alias("n"),
            F.min(F.col("n2_full") - F.col("n2_cap")).alias("lo"),
            F.max(F.col("n2_full") - F.col("n2_cap")).alias("hi"),
            F.sum(F.col("n2_full") - F.col("n2_cap")).alias("total"),
        ).first()
        assert stats.n > hub_deg // 2
        assert stats.lo > 0 and stats.hi <= hub_deg - 1

        # (c) pair-level cross-check through an independent aggregation
        # grain: distinct distance-2 pairs at each cap
        def d2_pairs(max_hub):
            bidir = ue.selectExpr("a as node", "b as nbr").union(
                ue.selectExpr("b as node", "a as nbr")
            )
            deg = bidir.groupBy("node").agg(F.count("*").alias("deg"))
            mid = bidir.join(deg.filter(F.col("deg") <= max_hub), "node")
            w1 = mid.selectExpr("node as y", "nbr as x")
            w2 = mid.selectExpr("node as y", "nbr as z")
            pairs = (
                w1.join(w2, "y")
                .filter(F.col("x") < F.col("z"))
                .select("x", "z")
                .distinct()
            )
            return pairs.join(
                ue.selectExpr("a as x", "b as z"), ["x", "z"], "left_anti"
            ).count()

        assert stats.total == 2 * (d2_pairs(10_000) - d2_pairs(1_000))
    finally:
        for df in (ue, capped, uncapped, joined, diff):
            df.unpersist()


def test_multimodal_frame_sample_batch_invariant_at_8x(spark, sf_stress_dir):
    """The multimodal family's 8× claim: mapInPandas frame sampling over
    8 id-disjoint document replicas is (a) copy-exact — each replica's
    frames equal the base run's with ids shifted, digests included;
    (b) count-exact — 8× the base fan-out; and (c) ARROW-BATCH
    invariant — rerunning the 8× volume with maxRecordsPerBatch forced
    to 16 (dozens of tiny batches instead of a few big ones) yields the
    identical frame set, the Arrow analog of the shuffle-partitioning
    invariance the relational operators pin."""
    from stock_data_pipeline_spark.operators.multimodal import sample_frames

    docs = load(spark, sf_stress_dir, "documents").select(
        "doc_id", "text", "n_chars", "source"
    )
    base = {
        (r.doc_id, r.frame_idx, r.frame_off, r.frame_bytes, r.frame_sha256)
        for r in sample_frames(docs).collect()
    }
    n_docs = docs.count()
    copies = reduce(
        lambda a, b: a.unionAll(b),
        [
            docs.select(
                (F.col("doc_id") + r * 10 * n_docs).alias("doc_id"),
                "text", "n_chars", "source",
            )
            for r in range(REPLICAS)
        ],
    )
    big = sample_frames(copies).collect()
    assert len(big) == REPLICAS * len(base)
    got = {
        (r.doc_id, r.frame_idx, r.frame_off, r.frame_bytes, r.frame_sha256)
        for r in big
    }
    expected = {
        (d + r * 10 * n_docs, i, o, b, h)
        for r in range(REPLICAS)
        for (d, i, o, b, h) in base
    }
    assert got == expected

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
        tiny_batches = {
            (r.doc_id, r.frame_idx, r.frame_off, r.frame_bytes, r.frame_sha256)
            for r in sample_frames(copies).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert tiny_batches == got


# --------------------------------------------------------------------------
# Round 9: 64x probes for the two worst shuffle shapes (VERDICT r8 task 4)
# --------------------------------------------------------------------------

K64 = 64
_COPY_SHIFT = 10_000_000


def test_tfidf_shuffle_grain_scales_linearly_at_64x(spark, sf_stress_dir, tmp_path):
    """c04_tfidf_terms' docstring claims its ONLY corpus-sized shuffle is
    the per-(doc, token) collapse — cost proportional to the corpus token
    count, never quadratic — and that everything downstream is
    vocabulary-sized. Probe at 64x (320k docs, ~17.3M token rows), one
    order of magnitude past the 8x matrix, running the REAL registered
    query against a 64x on-disk corpus:

    - shuffle-grain law: the exploded (doc, token) relation is exactly
      64x the base count (linear in total doc tokens);
    - vocabulary law: the distinct-token relation — the grain of every
      downstream join/window — is INVARIANT under replication;
    - restriction law: the query output is bit-exactly the base output
      with tf and df scaled by exactly 64 and tfidf scaled by 64 (a
      power-of-two scale is exponent arithmetic, so tf*idf scales
      bit-exactly before the 6-dp round; idf itself is invariant because
      ln(64N / 64df) == ln(N / df)) — same tokens, same ranks.
    """
    from stock_data_pipeline_spark.functions.textfns import tokens
    from stock_data_pipeline_spark.registry import get

    docs = load(spark, sf_stress_dir, "documents")
    big = reduce(
        lambda a, b: a.unionAll(b),
        [
            docs.withColumn("doc_id", F.col("doc_id") + i * _COPY_SHIFT)
            for i in range(K64)
        ],
    )
    sf64 = str(tmp_path / "sf64")
    big.write.mode("overwrite").parquet(f"{sf64}/documents.parquet")

    def tok(df):
        return df.select(
            "doc_id", F.explode(tokens("text")).alias("token")
        ).filter(F.col("token") != "")

    base_tok = tok(docs)
    big_tok = tok(load(spark, sf64, "documents"))
    assert big_tok.count() == K64 * base_tok.count()
    assert (
        big_tok.select("token").distinct().count()
        == base_tok.select("token").distinct().count()
    )

    fn = get("c04_tfidf_terms").fn
    base = {
        (r.source, r.term_rank): (r.token, r.tf, r.df, r.tfidf)
        for r in fn(spark, sf_stress_dir).collect()
    }
    big_out = {
        (r.source, r.term_rank): (r.token, r.tf, r.df, r.tfidf)
        for r in fn(spark, sf64).collect()
    }
    assert set(big_out) == set(base) and base
    for key, (token, tf, df, tfidf) in base.items():
        btoken, btf, bdf, btfidf = big_out[key]
        assert btoken == token, key
        assert btf == K64 * tf and bdf == K64 * df, key
        # both sides round at 6 dp AFTER the bit-exact x64 scale; the
        # only slack needed is the two roundings' 1e-6 grids
        assert btfidf == pytest.approx(K64 * tfidf, abs=K64 * 1e-6 + 1e-6), key


def test_lsh_candidates_equal_bucket_collisions_at_64x(spark, sf_stress_dir):
    """The c02 LSH docstrings claim candidate volume is exactly the
    band-bucket collision count — Sigma over (band, bucket) of C(size, 2),
    with the bucket cap bounding any bucket's contribution to C(cap, 2).
    Probe at 64x (320k docs, 2.56M index rows, 88M candidate pairs):

    - index law: every (band, bucket) size is exactly 64x its base size
      (signatures hash CONTENT only, so replicas co-bucket), and the
      index restricted to one copy is bit-exactly the base index;
    - candidate law: the measured capped self-join count EQUALS the
      predicted Sigma C(size, 2) over kept buckets — the join does no
      more and no less work than the collision structure dictates;
    - cap law: measured <= kept_buckets * C(cap, 2);
    - restriction law: intra-copy candidates and their exact-Jaccard
      verified pairs are bit-identical to a base run capped at cap/64 —
      the 64x run embeds 64 faithful copies of the base computation.
    """
    from pyspark.storagelevel import StorageLevel

    from stock_data_pipeline_spark.operators.dedup import (
        lsh_bucket_index,
        verify_jaccard_pairs,
    )

    docs = load(spark, sf_stress_dir, "documents").select("doc_id", "text")
    big = reduce(
        lambda a, b: a.unionAll(b),
        [
            docs.select(
                (F.col("doc_id") + i * _COPY_SHIFT).alias("doc_id"), "text"
            )
            for i in range(K64)
        ],
    )
    idx_base = lsh_bucket_index(docs).persist(StorageLevel.MEMORY_AND_DISK)
    idx_big = lsh_bucket_index(big).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        assert idx_big.count() == K64 * idx_base.count()

        sizes = lambda idx: {  # noqa: E731
            (r.band, r.bucket): r.sz
            for r in idx.groupBy("band", "bucket")
            .agg(F.count("*").alias("sz"))
            .collect()
        }
        sz_base, sz_big = sizes(idx_base), sizes(idx_big)
        assert set(sz_big) == set(sz_base)
        assert all(sz_big[k] == K64 * v for k, v in sz_base.items())

        copy17 = idx_big.filter(
            (F.col("doc_id") >= 17 * _COPY_SHIFT)
            & (F.col("doc_id") < 18 * _COPY_SHIFT)
        ).select((F.col("doc_id") - 17 * _COPY_SHIFT).alias("doc_id"), "band", "bucket")
        assert set(map(tuple, copy17.collect())) == set(
            map(tuple, idx_base.collect())
        )

        def capped_candidates(idx, cap):
            small = (
                idx.groupBy("band", "bucket")
                .agg(F.count("*").alias("sz"))
                .filter(F.col("sz") <= cap)
            )
            kept = idx.join(small.select("band", "bucket"), ["band", "bucket"])
            a, b = kept.alias("a"), kept.alias("b")
            joined = a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            predicted = (
                small.agg(
                    F.sum(F.col("sz") * (F.col("sz") - 1) / 2).cast("bigint")
                ).collect()[0][0]
                or 0
            )
            return joined, predicted, small.count()

        cap_base = 20
        cap64 = K64 * cap_base  # a base bucket of size s maps to size 64s
        joined64, predicted64, n_kept64 = capped_candidates(idx_big, cap64)
        measured64 = joined64.count()
        assert measured64 == predicted64  # collision law, exact (88M pairs)
        assert measured64 <= n_kept64 * cap64 * (cap64 - 1) // 2  # cap law

        joined_b, predicted_b, _ = capped_candidates(idx_base, cap_base)
        cand = lambda j: j.select(  # noqa: E731
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        ).distinct()
        base_pairs = set(map(tuple, cand(joined_b).collect()))
        assert joined_b.count() == predicted_b
        intra0 = cand(
            joined64.filter(
                (F.col("a.doc_id") < _COPY_SHIFT) & (F.col("b.doc_id") < _COPY_SHIFT)
            )
        )
        intra0_pairs = set(map(tuple, intra0.collect()))
        assert intra0_pairs == base_pairs and base_pairs  # non-vacuous

        verified_base = set(
            map(
                tuple,
                verify_jaccard_pairs(
                    cand(joined_b), docs, threshold=0.1
                ).collect(),
            )
        )
        verified_intra0 = set(
            map(tuple, verify_jaccard_pairs(intra0, docs, threshold=0.1).collect())
        )
        assert verified_intra0 == verified_base and verified_base
    finally:
        idx_base.unpersist()
        idx_big.unpersist()


def test_hyperball_component_independence_at_8x(spark, sf_stress_dir):
    """HyperBall over 8 id-disjoint copies of the corpus navigation graph
    must score every copy bit-identically to the base run: balls never
    leak across components (the union-agg only merges along edges), and
    in the sparse-exact sketch regime the per-copy (n_reached, harmonic)
    pairs are EQUAL, not merely close. This is the disjoint-tenant
    property a shared 100 TB graph job relies on: adding unrelated
    subgraphs cannot perturb anyone's centrality."""
    from stock_data_pipeline_spark.operators.graph import (
        click_edges,
        harmonic_centrality_hyperball,
    )

    edges = click_edges(load(spark, sf_stress_dir, "events"))
    shift = 10_000_000
    big = reduce(
        lambda a, b: a.unionAll(b),
        [
            edges.select(
                (F.col("src") + i * shift).alias("src"),
                (F.col("dst") + i * shift).alias("dst"),
                "w",
            )
            for i in range(REPLICAS)
        ],
    )
    base = {
        r.node: (r.n_reached, r.harmonic)
        for r in harmonic_centrality_hyperball(edges, radius=3).collect()
    }
    got = {
        r.node: (r.n_reached, r.harmonic)
        for r in harmonic_centrality_hyperball(big, radius=3).collect()
    }
    assert len(got) == REPLICAS * len(base) and base
    for i in range(REPLICAS):
        for node, val in base.items():
            assert got[node + i * shift] == val, (i, node)


# --------------------------------------------------------------------------
# Round 10: 128x wedge-join probe (VERDICT r9 task 6) — triangle_stats was
# the one quadratic-shaped shuffle without a probe past 8x.
# --------------------------------------------------------------------------
K128 = 128


def test_triangle_wedge_join_matches_closed_form_at_128x(spark, sf_stress_dir):
    """triangle_stats' dominant shuffle is the wedge join (graph.py:215):
    canonical edges (a<b) self-joined on the shared middle vertex, so the
    wedge count is EXACTLY Sigma_y hi_deg(y)*lo_deg(y), where hi_deg(y) =
    #edges with b=y and lo_deg(y) = #edges with a=y. Probe one order past
    the 64x probes with 128 id-disjoint copies of the corpus navigation
    graph and assert:

    - closed-form law: the measured wedge-join output EQUALS the degree-
      product prediction computed from two aggregate tables — the shuffle
      does no more and no less work than the wedge structure dictates;
    - linearity: the 128x wedge count is exactly 128x the base count
      (copies are id-disjoint, so no cross-copy wedges exist — the skew
      profile scales by replication, never quadratically);
    - restriction law: triangle_stats on the 128x graph, restricted to
      one copy, is bit-identical to the base run — the big computation
      embeds 128 faithful copies.
    """
    from pyspark.storagelevel import StorageLevel

    from stock_data_pipeline_spark.operators.graph import (
        click_edges,
        triangle_stats,
        undirected_edges,
    )

    edges = click_edges(load(spark, sf_stress_dir, "events"))
    big_edges = reduce(
        lambda a, b: a.unionAll(b),
        [
            edges.select(
                (F.col("src") + i * _COPY_SHIFT).alias("src"),
                (F.col("dst") + i * _COPY_SHIFT).alias("dst"),
                "w",
            )
            for i in range(K128)
        ],
    )

    def wedge_count_and_prediction(e_raw):
        e = undirected_edges(e_raw).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
            e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
            measured = e1.join(e2, "y").count()
            hi = e.groupBy(F.col("b").alias("y")).agg(
                F.count("*").alias("hi_deg")
            )
            lo = e.groupBy(F.col("a").alias("y")).agg(
                F.count("*").alias("lo_deg")
            )
            predicted = (
                hi.join(lo, "y")
                .agg(F.sum(F.col("hi_deg") * F.col("lo_deg")).cast("bigint"))
                .collect()[0][0]
                or 0
            )
        finally:
            e.unpersist()
        return measured, predicted

    m_base, p_base = wedge_count_and_prediction(edges)
    m_big, p_big = wedge_count_and_prediction(big_edges)
    assert m_base == p_base  # closed-form law at 1x
    assert m_big == p_big  # closed-form law at 128x, exact
    assert m_big == K128 * m_base  # linearity: no cross-copy wedges

    # restriction law on the full operator output
    base_rows = {
        (r.node, r.degree, r.n_triangles, r.clustering)
        for r in triangle_stats(edges).collect()
    }
    copy17 = (
        triangle_stats(big_edges)
        .filter(
            (F.col("node") >= 17 * _COPY_SHIFT)
            & (F.col("node") < 18 * _COPY_SHIFT)
        )
        .select(
            (F.col("node") - 17 * _COPY_SHIFT).alias("node"),
            "degree",
            "n_triangles",
            "clustering",
        )
    )
    big_rows = {
        (r.node, r.degree, r.n_triangles, r.clustering)
        for r in copy17.collect()
    }
    assert big_rows == base_rows


def test_decontaminate_join_grain_scales_linearly_at_64x(spark, sf_stress_dir):
    """decontaminate's docstring claims its cost is Σ_shingle
    df_train × df_eval — the inverted-index equi-join, linear in the
    TRAIN side and never a cross join. Probe at 64x train replication
    (~317k train docs) with the eval side FIXED, one order past the 8x
    matrix:

    - join-grain law: the shingle equi-join's candidate row count is
      EXACTLY 64x the base Σ df_t·df_e (df_t scales 64x, df_e fixed);
    - output law: the (train_id, eval_id, n_shared) result is EXACTLY
      the base result replicated per copy — same evals, same n_shared
      (identical text ⇒ identical distinct-shingle sets), pair count
      64x base;
    - eval invariance: the eval-side index is untouched by train growth.
    """
    from stock_data_pipeline_spark.functions.textfns import tokens, word_shingles
    from stock_data_pipeline_spark.operators.text import (
        _DECON_SHINGLE_K,
        _EVAL_MOD,
        decontaminate,
    )

    docs = load(spark, sf_stress_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % _EVAL_MOD != 0)
    eval_set = docs.filter(F.col("doc_id") % _EVAL_MOD == 0)
    # shift copies far past _EVAL_MOD multiples so copy ids never
    # collide; the eval set stays the ORIGINAL eval docs only
    big_train = reduce(
        lambda a, b: a.unionAll(b),
        [
            train.withColumn("doc_id", F.col("doc_id") + i * _COPY_SHIFT)
            for i in range(K64)
        ],
    )

    def shingled(df, id_alias):
        return df.select(
            F.col("doc_id").alias(id_alias),
            F.explode(word_shingles(tokens("text"), _DECON_SHINGLE_K)).alias(
                "shingle"
            ),
        )

    e = shingled(eval_set, "eval_id")
    base_grain = shingled(train, "train_id").join(e, "shingle").count()
    big_grain = shingled(big_train, "train_id").join(e, "shingle").count()
    assert base_grain > 0
    assert big_grain == K64 * base_grain, (big_grain, base_grain)

    base = {
        (r.train_id, r.eval_id): r.n_shared
        for r in decontaminate(train, eval_set).collect()
    }
    assert base  # non-vacuous: sf0.1 has real contamination pairs
    expected = {
        (t + i * _COPY_SHIFT, e_id): n
        for (t, e_id), n in base.items()
        for i in range(K64)
    }
    big = {
        (r.train_id, r.eval_id): r.n_shared
        for r in decontaminate(big_train, eval_set).collect()
    }
    assert big == expected
