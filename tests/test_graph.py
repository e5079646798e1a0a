"""Link-graph PageRank: planted-graph agreement with a sequential
integer-recurrence model, hub ranking, and degenerate inputs."""

from __future__ import annotations

import json
from datetime import datetime

import pytest

from stock_data_pipeline_spark.operators.graph import (
    PR_SCALE,
    click_edges,
    pagerank,
)


def _events(spark, rows):
    """rows: (user_id, second, k) → events-shaped frame."""
    data = [
        (i, datetime(2024, 1, 1, 0, 0, sec), uid, "view", 1.0,
         json.dumps({"k": k}))
        for i, (uid, sec, k) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )


def _model_pagerank(edge_weights: dict, iterations: int = 3) -> dict:
    """Sequential replay of the exact integer recurrence in graph.py."""
    nodes = sorted({u for u, _ in edge_weights} | {v for _, v in edge_weights})
    n = len(nodes)
    outw = {}
    for (u, _), w in edge_weights.items():
        outw[u] = outw.get(u, 0) + w
    pr = {v: PR_SCALE // n for v in nodes}
    for _ in range(iterations):
        insum = {v: 0 for v in nodes}
        for (u, v), w in edge_weights.items():
            insum[v] += (pr[u] * w) // outw[u]
        dang = sum(pr[v] for v in nodes if v not in outw)
        pr = {
            v: (15 * PR_SCALE) // (100 * n)
            + (85 * insum[v]) // 100
            + (85 * (dang // n)) // 100
            for v in nodes
        }
    return pr


def test_pagerank_matches_sequential_integer_model(spark):
    """Planted navigation graph: users 1-3 funnel into hub page 9 from
    pages 1-4; page 5 is a dangling sink reached once. Spark's unrolled
    fixed-point must equal the sequential model bit-for-bit, and the
    hub must out-rank every feeder page."""
    rows = [
        # user 1: 1 -> 9 -> 2 -> 9
        (1, 0, 1), (1, 1, 9), (1, 2, 2), (1, 3, 9),
        # user 2: 3 -> 9 -> 4 -> 9 -> 5 (5 dangles)
        (2, 0, 3), (2, 1, 9), (2, 2, 4), (2, 3, 9), (2, 4, 5),
        # user 3: 1 -> 9 twice (parallel edge weight 2 via two visits)
        (3, 0, 1), (3, 1, 9), (3, 2, 1), (3, 3, 9),
    ]
    ev = _events(spark, rows)
    edges = {
        (r.src, r.dst): r.w for r in click_edges(ev).collect()
    }
    assert edges[(1, 9)] == 3 and edges[(9, 5)] == 1  # weights mined
    got = {r.node: r.pagerank_scaled for r in pagerank(click_edges(ev)).collect()}
    want = _model_pagerank(edges)
    assert got == want
    hub = got[9]
    assert all(hub > got[v] for v in got if v != 9)


def test_pagerank_empty_transitions_yields_empty_frame(spark):
    """One event per user → no transitions → no graph, no rows, no error."""
    ev = _events(spark, [(1, 0, 7), (2, 0, 8)])
    assert pagerank(click_edges(ev)).count() == 0


def test_pagerank_dangling_mass_is_redistributed(spark):
    """Pure chain 1→2→3: node 3 dangles; its mass must flow back
    uniformly rather than vanish — after 3 iterations every node keeps
    a rank strictly above the bare teleport floor."""
    ev = _events(spark, [(1, 0, 1), (1, 1, 2), (1, 2, 3)])
    got = {r.node: r.pagerank_scaled for r in pagerank(click_edges(ev)).collect()}
    teleport_floor = (15 * PR_SCALE) // (100 * 3)
    assert set(got) == {1, 2, 3}
    assert all(v > teleport_floor for v in got.values())
    want = _model_pagerank({(1, 2): 1, (2, 3): 1})
    assert got == want


def test_triangle_stats_on_planted_graph(spark):
    """K4 on {1,2,3,4} plus pendant 5-1: every K4 corner sits in 3
    triangles; adding the pendant dilutes node 1's clustering to
    2*3/(4*3) = 0.5; the pendant has no wedge, so NULL clustering."""
    from stock_data_pipeline_spark.operators.graph import triangle_stats

    und = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5)]
    # feed as messy directed edges: reversed duplicates + a self-loop
    rows = [(b, a, 1) for a, b in und] + [(a, b, 2) for a, b in und]
    rows.append((3, 3, 9))
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    got = {r.node: (r.degree, r.n_triangles, r.clustering)
           for r in triangle_stats(edges).collect()}
    assert got[1] == (4, 3, 0.5)
    assert got[2] == (3, 3, 1.0)
    assert got[3] == (3, 3, 1.0)
    assert got[4] == (3, 3, 1.0)
    assert got[5] == (1, 0, None)


def test_component_labels_fixed_horizon_and_true_cc(spark):
    """Two planted components: a 9-node path 10-11-...-18 (min label 10
    reaches the far end only after 8 rounds — beyond the 6-round
    horizon, so node 17 gets 11 and 18 gets 12, exactly the documented
    distance-6 spec) and a triangle {1,2,3} (converges round 1)."""
    from stock_data_pipeline_spark.operators.graph import component_labels

    path = [(n, n + 1) for n in range(10, 18)]
    tri = [(1, 2), (2, 3), (3, 1)]
    edges = spark.createDataFrame(
        [(a, b, 1) for a, b in path + tri], "src long, dst long, w long"
    )
    got = {r.node: r.component for r in component_labels(edges).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[16] == 10 and got[17] == 11 and got[18] == 12
    assert all(got[n] == 10 for n in range(10, 17))


def test_component_labels_converge_to_true_cc_on_corpus(spark, sf_dir):
    """On the real mined navigation graph the 6-round horizon must cover
    every component (else the registered spec silently diverges from
    true CC): compare against a union-find over the collected edge
    list. The edge list is node-bounded (pages), so collecting it here
    is a test-only convenience, not an operator pattern."""
    from stock_data_pipeline_spark.catalog import load
    from stock_data_pipeline_spark.operators.graph import (
        click_edges,
        component_labels,
        undirected_edges,
    )

    ev = load(spark, sf_dir, "events")
    edges = click_edges(ev)
    pairs = [(r.a, r.b) for r in undirected_edges(edges).collect()]
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for a, b in pairs:
        want[a], want[b] = find(a), find(b)
    # canonical representative must be the component minimum
    mins: dict = {}
    for n, r in want.items():
        mins[r] = min(mins.get(r, n), n)
    want = {n: mins[r] for n, r in want.items()}
    got = {r.node: r.component for r in component_labels(edges).collect()}
    assert got == want


def test_kcore_peel_planted_cascade(spark):
    """Triangle 0−1−2 + pendant path 0−10−11−12, k=2: the path cascades
    inward exactly one node per round — 12 (degree 1) peels in round 1,
    which drops 11 to degree 1 for round 2, which exposes 10 for round
    3 — while the triangle (degree 2 throughout) survives. The exact
    peel-round trace IS the cascade the fixed-round spec must capture;
    a simultaneous-only peel (no cascading) would put every path node
    in round 1."""
    from stock_data_pipeline_spark.operators.graph import kcore_peel

    walk = [0, 1, 2, 0, 10, 11, 12]
    ev = _events(spark, [(1, s, k) for s, k in enumerate(walk)])
    got = {
        r.node: (r.degree0, r.peel_round)
        for r in kcore_peel(click_edges(ev), k=2, rounds=4).collect()
    }
    assert got == {
        0: (3, None),
        1: (2, None),
        2: (2, None),
        10: (2, 3),
        11: (2, 2),
        12: (1, 1),
    }


def _optimized_plan_lines(df) -> int:
    if not hasattr(df, "_jdf"):
        pytest.skip("Connect session: optimized plan unavailable")
    return df._jdf.queryExecution().optimizedPlan().toString().count("\n")


def test_fixed_round_plans_grow_linearly_in_rounds(spark):
    """component_labels and kcore_peel read their round state once per
    round, so doubling the rounds at most about doubles the optimized
    plan. A round that read its state twice (labels ⋈ adjacency plus
    labels ∪ that) or three times (two survivor semi-joins plus an
    anti-join) grows it as 2^rounds or 3^rounds: 16.5× and 5.2× over
    these doublings. The plans are built and optimized, never run."""
    from stock_data_pipeline_spark.operators.graph import (
        component_labels,
        kcore_peel,
    )

    walk = [0, 1, 2, 0, 10, 11, 12]
    edges = click_edges(_events(spark, [(1, s, k) for s, k in enumerate(walk)]))
    cases = {
        "component_labels": (lambda r: component_labels(edges, rounds=r), 4),
        "kcore_peel": (lambda r: kcore_peel(edges, k=2, rounds=r), 2),
    }
    for name, (build, rounds) in cases.items():
        small = _optimized_plan_lines(build(rounds))
        big = _optimized_plan_lines(build(2 * rounds))
        assert big <= 2.5 * small, (name, rounds, small, big)


def test_kcore_peel_fixpoint_on_corpus(spark, sf_dir):
    """The fixed 4-round peel has CONVERGED on the corpus graph: a 5th
    round changes nothing, so the fixed-round spec equals the true
    k-core/peel trace (the component_labels convergence check, for
    peeling)."""
    from stock_data_pipeline_spark.operators.graph import (
        KCORE_K,
        KCORE_ROUNDS,
        kcore_peel,
    )
    from stock_data_pipeline_spark.catalog import load

    edges = click_edges(load(spark, sf_dir, "events"))
    a = kcore_peel(edges, k=KCORE_K, rounds=KCORE_ROUNDS)
    b = kcore_peel(edges, k=KCORE_K, rounds=KCORE_ROUNDS + 1)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_link_prediction_ra_planted_ranking(spark):
    """Hand-computed RA ranking on a planted graph: (1,3) shares three
    low-degree neighbors and must rank first; the (2,4)/(2,5)/(4,5)
    pairs tie exactly (two degree-3 neighbors each) and must emerge in
    deterministic (x, z) order; adjacent pairs never appear. With the
    hub cap at 2, node 2 (degree 3) stops serving as a shared neighbor
    and every score recomputes accordingly."""
    from stock_data_pipeline_spark.operators.graph import (
        RA_SCALE,
        link_prediction_ra,
    )

    walks = [(1, 2), (2, 3), (1, 4), (4, 3), (1, 5), (5, 3), (6, 2)]
    ev = _events(
        spark,
        [(u, s, k) for u, (a, b) in enumerate(walks) for s, k in ((0, a), (1, b))],
    )
    edges = click_edges(ev)
    S = RA_SCALE
    got = [
        (r.x, r.z, r.common_neighbors, r.ra_scaled)
        for r in link_prediction_ra(edges, max_hub=1000, top_k=10).collect()
    ]
    third = S // 3
    assert got == [
        (1, 3, 3, third + S // 2 + S // 2),
        (2, 4, 2, 2 * third),
        (2, 5, 2, 2 * third),
        (4, 5, 2, 2 * third),
        (1, 6, 1, third),
        (3, 6, 1, third),
    ]
    capped = [
        (r.x, r.z, r.common_neighbors, r.ra_scaled)
        for r in link_prediction_ra(edges, max_hub=2, top_k=10).collect()
    ]
    assert capped == [(1, 3, 2, S // 2 + S // 2)]


def test_harmonic_centrality_r2_on_path_graph(spark):
    """Path 1-2-3-4-5: degrees and exact-distance-2 counts are known in
    closed form; harmonic_x2 = 2*n1 + n2."""
    from stock_data_pipeline_spark.operators.graph import (
        harmonic_centrality_r2,
    )

    # one user walking 1->2->3->4->5 yields path edges
    ev = _events(spark, [(1, s, k) for s, k in enumerate([1, 2, 3, 4, 5])])
    got = {
        r.node: (r.n1, r.n2, r.harmonic_x2)
        for r in harmonic_centrality_r2(click_edges(ev)).collect()
    }
    assert got == {
        1: (1, 1, 3),
        2: (2, 1, 5),
        3: (2, 2, 6),
        4: (2, 1, 5),
        5: (1, 1, 3),
    }


def test_harmonic_centrality_hub_cap_excludes_high_degree_middles(spark):
    """Star 0-(1,2,3): with max_hub below the hub degree, no distance-2
    pair is served (the cap IS the spec), so every leaf scores n2=0;
    with the cap above, each leaf sees the other two at distance 2."""
    from stock_data_pipeline_spark.operators.graph import (
        harmonic_centrality_r2,
    )

    ev = _events(
        spark,
        [(u, s, k) for u, (a, b) in enumerate(
            [(0, 1), (0, 2), (0, 3)]
        ) for s, k in ((0, a), (1, b))],
    )
    edges = click_edges(ev)
    capped = {
        r.node: (r.n1, r.n2, r.harmonic_x2)
        for r in harmonic_centrality_r2(edges, max_hub=2).collect()
    }
    assert capped == {
        0: (3, 0, 6),
        1: (1, 0, 2),
        2: (1, 0, 2),
        3: (1, 0, 2),
    }
    full = {
        r.node: (r.n1, r.n2, r.harmonic_x2)
        for r in harmonic_centrality_r2(edges, max_hub=1000).collect()
    }
    assert full == {
        0: (3, 0, 6),
        1: (1, 2, 4),
        2: (1, 2, 4),
        3: (1, 2, 4),
    }


def test_hyperball_exact_on_path_graph(spark):
    """Path 1-2-3-4-5 at radius 4: every ball is tiny, so the HLL stays
    in exact (sparse) mode and HyperBall must reproduce the closed-form
    truncated harmonic centrality H4 = sum over d<=4 of 1/d, including
    the shells beyond the wedge join's radius-2 horizon."""
    from stock_data_pipeline_spark.operators.graph import (
        harmonic_centrality_hyperball,
    )

    ev = _events(spark, [(1, s, k) for s, k in enumerate([1, 2, 3, 4, 5])])
    got = {
        r.node: (r.n_reached, r.harmonic)
        for r in harmonic_centrality_hyperball(
            click_edges(ev), radius=4
        ).collect()
    }
    exact = {
        1: 1 + 1 / 2 + 1 / 3 + 1 / 4,
        2: 2 + 1 / 2 + 1 / 3,
        3: 2 + 2 / 2,
        4: 2 + 1 / 2 + 1 / 3,
        5: 1 + 1 / 2 + 1 / 3 + 1 / 4,
    }
    assert set(got) == set(exact)
    for node, h in exact.items():
        n_reached, harmonic = got[node]
        assert n_reached == 5, node  # whole path within radius 4
        assert harmonic == pytest.approx(h, abs=1e-6), node

    # monotonicity in radius: H_2 <= H_4 per node, strictly greater for
    # the path ends (they gain shells at distance 3 and 4)
    r2 = {
        r.node: r.harmonic
        for r in harmonic_centrality_hyperball(
            click_edges(ev), radius=2
        ).collect()
    }
    assert all(r2[n] <= got[n][1] + 1e-9 for n in r2)
    assert r2[1] < got[1][1] and r2[5] < got[5][1]


def test_hyperball_within_error_bound_vs_exact_r2_on_corpus_graph(
    spark, sf_check_dir
):
    """The documented epsilon: HyperBall at radius 2 vs the exact
    (uncapped) wedge-join harmonic centrality on the corpus navigation
    graph — per-node relative error <= 5% (lgConfigK=12 gives 1.6% RSE;
    the corpus graph's balls sit below the sparse-mode threshold, so
    the observed error here is 0, but the bound is what the operator
    promises at any scale)."""
    from stock_data_pipeline_spark.catalog import load
    from stock_data_pipeline_spark.operators.graph import (
        click_edges,
        harmonic_centrality_hyperball,
        harmonic_centrality_r2,
    )

    edges = click_edges(load(spark, sf_check_dir, "events"))
    exact = {
        r.node: r.harmonic_x2 / 2.0
        for r in harmonic_centrality_r2(edges, max_hub=10**9).collect()
    }
    got = {
        r.node: r.harmonic
        for r in harmonic_centrality_hyperball(edges, radius=2).collect()
    }
    assert set(got) == set(exact) and exact
    for node, ex in exact.items():
        assert got[node] == pytest.approx(ex, rel=0.05), node


def test_hyperball_dense_sketch_regime_on_star_graph(spark):
    """Force the sketches PAST the sparse-mode threshold (a 5000-leaf
    star: every radius-2 ball holds 5001 nodes, far beyond 2^12 sparse
    capacity) and pin the estimator's error: hub and leaf harmonic
    scores and reach within 5% of closed form (observed ~0.3%)."""
    from pyspark.sql import functions as F

    from stock_data_pipeline_spark.operators.graph import (
        harmonic_centrality_hyperball,
    )

    n = 5000
    star = spark.range(1, n + 1).select(
        F.lit(0).alias("src"), F.col("id").alias("dst"), F.lit(1).alias("w")
    )
    got = {
        r.node: (r.n_reached, r.harmonic)
        for r in harmonic_centrality_hyperball(star, radius=2).collect()
    }
    hub_reach, hub_h = got[0]
    assert hub_reach == pytest.approx(n + 1, rel=0.05)
    assert hub_h == pytest.approx(n, rel=0.05)  # n leaves at distance 1
    leaf_reach, leaf_h = got[1]
    assert leaf_reach == pytest.approx(n + 1, rel=0.05)
    # 1 hub at d1 + (n-1) siblings at d2
    assert leaf_h == pytest.approx(1 + (n - 1) / 2, rel=0.05)
