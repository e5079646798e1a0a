"""Link-graph analytics: navigation-graph construction and PageRank.

Web-corpus curation pipelines weight documents by link-graph centrality
(the CommonCrawl/C4 lineage uses harmonic centrality / PageRank as a
quality prior before sampling). The reference pipeline has no graph
stage — this family is a north-star extension in the spirit of
SURVEY.md §2 Tier C: the same events fact table the funnel/retention
queries read (reference: dags/queries delegate such rollups to the
warehouse) also yields a navigation graph, and PageRank over it is the
canonical "iterative algorithm as repeated join+aggregate" workload.

Design for 100 TB:
- The graph is built with ONE window pass over the fact table
  (lag-per-user transitions), aggregated to a weighted edge list, and
  persisted — every PageRank iteration reads the cache, so the fact
  scan happens once no matter how many iterations run.
- Each iteration is one node-keyed equi-join (ranks ⋈ edges on src)
  plus one dst-keyed partial-combining aggregate — the textbook
  vertex-partitioned PR step. Nothing is ever collected to the driver;
  the only driver-visible scalars are two 1-row aggregates (node count,
  dangling mass) broadcast back per iteration.
- Fixed-point arithmetic, not floats: ranks are BIGINTs scaled by 1e12
  and every step uses integer multiply + integer division (``div`` /
  ``//``). Float PR would make the result depend on partition-level
  summation order; the scaled-integer form is bit-identical across
  partitionings AND across engines, so the whole 3-iteration fixed
  point is differentially verifiable against DuckDB (same discipline as
  the limb-decomposed exact sums in functions/exact.py).
- A fixed-round loop reads its round state ONCE per round, so the
  unrolled plan grows linearly in rounds: component labels and k-core
  peeling join a self-looped adjacency (each node is also its own
  neighbour) to the previous state and aggregate by node. A state read
  twice per round doubles the plan every round even though the cache
  dedupes execution. PageRank's ranks are read twice per iteration (the
  second read is the global dangling-mass scalar), so its plan doubles
  per iteration; it runs three. HyperBall reads its state twice and
  localCheckpoints every round.

Semantics (classic damped PageRank, d = 0.85, dangling mass
redistributed uniformly), with explicit floor at every division so both
engines agree bit-for-bit:

    pr_0(v)   = SCALE div N
    contrib   = (pr_i(u) * w(u,v)) div outw(u)
    pr_{i+1}(v) = (15 * SCALE) div (100 * N)
                + (85 * insum(v)) div 100
                + (85 * (dangling_i div N)) div 100

Mass is conserved only up to the floors (deterministically), which is
fine: the operator is a ranking prior, and the fixed truncation is what
buys cross-engine exactness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..catalog import load
from ..functions.exact import sql_trunc6, trunc6
from ..registry import query

# Fixed-point scale for ranks: 1e12 keeps 12 significant decimal digits
# while 85 * SCALE and SCALE * max-edge-weight stay far inside BIGINT.
PR_SCALE = 10**12
PR_ITERATIONS = 3


def click_edges(events: DataFrame) -> DataFrame:
    """Weighted navigation edges from the events fact table: per user,
    time-ordered consecutive pages (``props.$.k``) form a src→dst
    transition; the edge weight is the corpus-wide transition count.

    One window pass (shuffle by user) then one edge-keyed aggregate —
    both partial-combine. Ties on ``ts`` are broken by ``event_id`` so
    the transition sequence is deterministic.
    """
    page = F.get_json_object("props", "$.k").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(F.col("user_id"), F.col("ts"), F.col("event_id"),
                      page.alias("dst"))
        .select(F.lag("dst").over(w).alias("src"), "dst")
        .filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("w"))
    )


def pagerank(edges: DataFrame, iterations: int = PR_ITERATIONS) -> DataFrame:
    """Damped PageRank (d=0.85) over a weighted edge list, in scaled
    BIGINT fixed-point (see module docstring for the exact recurrence).
    Returns ``(node, pagerank_scaled)`` — ranks × 1e12, exact integers.

    The edge list is persisted once; iterations are unrolled into one
    lazy plan whose per-iteration cost is a src-keyed join + dst-keyed
    aggregate. Dangling nodes' mass is redistributed uniformly via a
    1-row broadcast aggregate per iteration.
    """
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    outw = edges.groupBy("src").agg(F.sum("w").cast("long").alias("outw"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ncnt = nodes.agg(F.count("*").cast("long").alias("n"))

    ranks = nodes.crossJoin(F.broadcast(ncnt)).select(
        "node", F.expr(f"{PR_SCALE} div n").alias("pr")
    )
    for _ in range(iterations):
        contrib = (
            ranks.join(edges, ranks["node"] == edges["src"])
            .join(outw, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(pr * w) div outw").alias("c"),
            )
        )
        insum = contrib.groupBy("node").agg(
            F.sum("c").cast("long").alias("insum")
        )
        dang = (
            ranks.join(outw, ranks["node"] == outw["src"], "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0)).cast("long").alias("dang"))
        )
        ranks = (
            nodes.join(insum, "node", "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(ncnt))
            .select(
                "node",
                (
                    F.expr(f"(15 * {PR_SCALE}) div (100 * n)")
                    + F.expr("(85 * coalesce(insum, 0)) div 100")
                    + F.expr("(85 * (dang div n)) div 100")
                ).cast("long").alias("pr"),
            )
        )
    return ranks.select("node", F.col("pr").alias("pagerank_scaled"))


# The graph every c10 oracle replays: seq/trans/edges are click_edges,
# ue is undirected_edges, bidir _adjacency and deg _degrees.
_GRAPH_SQL = """seq AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
      FROM events
    ),
    trans AS (
      SELECT LAG(dst) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
             dst
      FROM seq
    ),
    edges AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM trans WHERE src IS NOT NULL GROUP BY src, dst
    ),
    ue AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM edges WHERE src <> dst
    ),
    bidir AS (
      SELECT a AS node, b AS nbr FROM ue UNION ALL SELECT b, a FROM ue
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM bidir GROUP BY node
    )"""


def _unrolled(ctes: list[str], select: str) -> str:
    """An unrolled-CTE oracle: :data:`_GRAPH_SQL`, then ``ctes``, then
    ``select``."""
    return "WITH " + ",\n    ".join([_GRAPH_SQL, *ctes]) + "\n" + select


def _pagerank_oracle(iterations: int) -> str:
    """Unrolled-CTE DuckDB replay of click_edges + pagerank: the same
    integer recurrence, floor division spelled ``//``."""
    ctes = [
        """outw AS (
      SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM edges GROUP BY src
    )""",
        """nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    )""",
        "nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)",
        f"""r0 AS (
      SELECT node, CAST({PR_SCALE} // n AS BIGINT) AS pr
      FROM nodes CROSS JOIN nc
    )""",
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"""ins{i} AS (
      SELECT e.dst AS node,
             CAST(SUM((r.pr * e.w) // o.outw) AS BIGINT) AS insum
      FROM r{i - 1} r
      JOIN edges e ON r.node = e.src
      JOIN outw o ON e.src = o.src
      GROUP BY e.dst
    )""")
        ctes.append(f"""dang{i} AS (
      SELECT CAST(COALESCE(SUM(r.pr), 0) AS BIGINT) AS dang
      FROM r{i - 1} r LEFT JOIN outw o ON r.node = o.src
      WHERE o.src IS NULL
    )""")
        ctes.append(f"""r{i} AS (
      SELECT nodes.node,
             CAST((15 * {PR_SCALE}) // (100 * nc.n)
                  + (85 * COALESCE(i.insum, 0)) // 100
                  + (85 * (d.dang // nc.n)) // 100 AS BIGINT) AS pr
      FROM nodes
      LEFT JOIN ins{i} i ON nodes.node = i.node
      CROSS JOIN dang{i} d CROSS JOIN nc
    )""")
    return _unrolled(ctes, f"SELECT node, pr AS pagerank_scaled FROM r{iterations}")


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected simple edges from a weighted directed edge
    list: self-loops dropped, endpoints ordered ``a < b``, parallel /
    reverse duplicates collapsed. One distinct (edge-keyed shuffle)."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


def _adjacency(edges: DataFrame) -> DataFrame:
    """The bidirectional ``(node, nbr)`` rows of :func:`undirected_edges`,
    each undirected edge once per direction, persisted: the one artifact
    every round or wedge of a builder rereads, so the fact table is
    scanned once per builder. ``node < nbr`` on it is the canonical
    ``a < b`` edge set. One ``inline``, not a union: each union branch
    would scan the fact table, and ``DataFrame.union`` flattens a cached
    union child into its parent, out of the cache."""
    return (
        undirected_edges(edges)
        .select(F.inline(F.array(
            F.struct(F.col("a").alias("node"), F.col("b").alias("nbr")),
            F.struct(F.col("b").alias("node"), F.col("a").alias("nbr")),
        )))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _with_self_rows(adj: DataFrame) -> DataFrame:
    """``adj`` plus one ``(u, u)`` row per node. Joined on ``nbr`` to a
    per-node state, the self row puts the node's own state in the same
    ``node`` group as its neighbours', so a round reads the state once."""
    nodes = adj.select("node").distinct()
    return adj.union(nodes.select("node", F.col("node").alias("nbr")))


def _degrees(adj: DataFrame) -> DataFrame:
    return adj.groupBy("node").agg(F.count("*").cast("long").alias("deg"))


def _probe_edges(pairs: DataFrame, adj: DataFrame, how: str) -> DataFrame:
    """``how``-join (``left_semi``/``left_anti``) of ``(x, z)`` pairs with
    ``x < z`` against the canonical edge set ``node < nbr`` of ``adj``."""
    canonical = adj.filter(F.col("node") < F.col("nbr"))
    return pairs.join(
        canonical.select(F.col("node").alias("x"), F.col("nbr").alias("z")),
        ["x", "z"],
        how,
    )


def _capped_wedges(adj: DataFrame, deg: DataFrame, max_hub: int) -> DataFrame:
    """Wedges ``x − y − z`` with ``x < z`` whose middle ``y`` has degree
    ``deg`` ≤ ``max_hub``: rows ``(y, x, z, deg)``.

    Middles above the cap are dropped BEFORE the self-join keyed on
    ``y``. The unordered wedge blowup through y is deg(y)², so the cap
    bounds the join output at Σ min(deg,cap)² — without it one celebrity
    vertex at 100 TB would dominate the whole shuffle. Both callers lose
    ~nothing to it: a super-hub carries ~zero RA signal (1/deg ≈ 0), and
    harmonic centrality's spec is "distance 2 through a ≤cap-degree
    middle"."""
    mid = adj.join(deg.filter(F.col("deg") <= max_hub), "node")
    return (
        mid.select(F.col("node").alias("y"), F.col("nbr").alias("x"), "deg")
        .join(mid.select(F.col("node").alias("y"), F.col("nbr").alias("z")), "y")
        .filter(F.col("x") < F.col("z"))
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle count, degree, and local clustering coefficient
    over the undirected simple graph of ``edges``.

    Triangles are enumerated once each via the ordered form: for the
    canonical edge list (a < b), wedge (a,b)⋈(b,c) gives the open path
    a < b < c and a left-semi probe of edge (a,c) closes it. The
    ``a < b < c`` ordering IS the orientation that makes the classic
    compact-forward algorithm skew-tolerant: every triangle is produced
    exactly once, from its lowest vertex, so no post-hoc dedup shuffle.
    Each closed triangle then contributes one count to all three
    corners (explode + node-keyed aggregate, partial-combining).

    The clustering coefficient 2T / (d·(d−1)) is an exact-integer
    rational truncated at 6 dp (:func:`trunc6` — cross-engine stable),
    NULL for degree-1 nodes.

    Scale: the wedge join is the dominant shuffle, keyed on the shared
    vertex; skew on celebrity vertices is bounded by the ordering (a
    vertex only fans out to HIGHER-numbered neighbors) and AQE skew
    handling. All arithmetic is integer until the final ratio.
    """
    adj = _adjacency(edges)
    e = adj.filter(F.col("node") < F.col("nbr"))
    e1 = e.select(F.col("node").alias("x"), F.col("nbr").alias("y"))
    e2 = e.select(F.col("node").alias("y"), F.col("nbr").alias("z"))
    wedges = e1.join(e2, "y")
    closed = _probe_edges(wedges, adj, "left_semi")
    per_node = (
        closed.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    # coalesce BEFORE the ratio: a degree>=2 node with zero triangles has
    # clustering 0, not NULL (the planted-star case the 8x stress covers;
    # the oracle's CASE already reads the coalesced count)
    clustering = trunc6(
        F.when(
            F.col("degree") >= 2,
            2.0 * F.col("n_triangles")
            / (F.col("degree").cast("double") * (F.col("degree") - 1)),
        )
    )
    return (
        _degrees(adj).join(per_node, "node", "left")
        .select(
            "node",
            F.col("deg").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )
        .select("node", "degree", "n_triangles", clustering.alias("clustering"))
    )


_TRIANGLE_ORACLE = f"""
WITH {_GRAPH_SQL},
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM ue e1
  JOIN ue e2 ON e1.b = e2.a
  WHERE EXISTS (SELECT 1 FROM ue e3 WHERE e3.a = e1.a AND e3.b = e2.b)
),
per_node AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  )
  GROUP BY node
)
SELECT deg.node, deg.deg AS degree,
       CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.deg >= 2 THEN {sql_trunc6(
           "2.0 * COALESCE(p.n_triangles, 0)"
           " / (CAST(deg.deg AS DOUBLE) * (deg.deg - 1))"
       )} END AS clustering
FROM deg LEFT JOIN per_node p ON deg.node = p.node
"""


CC_ROUNDS = 6


def component_labels(edges: DataFrame, rounds: int = CC_ROUNDS) -> DataFrame:
    """Fixed-round min-label propagation over the undirected simple
    graph of ``edges``: after ``rounds`` synchronous rounds each node's
    label is the MINIMUM node id within graph distance ``rounds`` — a
    deterministic, engine-replayable spec that equals true connected
    components whenever every component's diameter from its minimum
    node is ≤ ``rounds`` (asserted on the real corpus in tests; the
    converging pointer-jumping variant lives in operators/dedup.py,
    reference: the dedup cluster machinery).

    Per round: one join of the labels onto the self-looped adjacency
    (:func:`_with_self_rows`; the self row carries the node's own
    label) and one node-keyed min-aggregate — both partial-combining,
    no driver-side state. The adjacency is persisted once.
    """
    looped = _with_self_rows(_adjacency(edges))
    labels = looped.filter(F.col("node") == F.col("nbr")).select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        labels = (
            looped.join(labels.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
    return labels.select("node", F.col("label").alias("component"))


def _components_oracle(rounds: int) -> str:
    """Unrolled-CTE DuckDB replay of component_labels."""
    ctes = [
        """l0 AS (
      SELECT node, node AS label FROM (SELECT DISTINCT node FROM bidir)
    )"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(f"""l{i} AS (
      SELECT node, MIN(label) AS label FROM (
        SELECT node, label FROM l{i - 1}
        UNION ALL
        SELECT b.node, l.label
        FROM l{i - 1} l JOIN bidir b ON l.node = b.nbr
      ) GROUP BY node
    )""")
    return _unrolled(ctes, f"SELECT node, label AS component FROM l{rounds}")


@query(
    "c10_component_labels",
    driver=True,
    oracle=_components_oracle(CC_ROUNDS),
)
def c10_component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: connected-component labels (6-round min-label propagation)
    over the undirected navigation graph mined from ``events`` — the
    partitioning primitive for per-community rollups and mirror-site
    collapsing in web-corpus curation. Deterministic fixed-round spec
    (min id within distance 6), replayed round-for-round by the DuckDB
    oracle; a test asserts the rounds suffice for true-CC convergence
    on the corpus graph.
    """
    return component_labels(click_edges(load(spark, sf_dir, "events")))


@query("c10_triangle_clustering", oracle=_TRIANGLE_ORACLE, driver=False)
def c10_triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: per-node triangle count + local clustering coefficient over
    the undirected navigation graph mined from ``events`` — the graph
    cohesion signal (spam subgraphs cluster abnormally) beside the
    PageRank prior. Ordered compact-forward enumeration: each triangle
    produced once from its lowest vertex via one wedge join + one
    semi-join probe, integer arithmetic until the final trunc6 ratio.
    The DuckDB oracle replays transition mining, canonicalization, the
    same ordered enumeration (EXISTS probe), and the ratio.
    """
    return triangle_stats(click_edges(load(spark, sf_dir, "events")))


@query("c10_link_pagerank", oracle=_pagerank_oracle(PR_ITERATIONS), driver=True)
def c10_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: damped PageRank over the user-navigation graph mined from
    ``events`` — the link-graph quality prior of web-corpus curation,
    run as 3 unrolled join+aggregate rounds in scaled-BIGINT fixed
    point (bit-exact across engines and partitionings). The DuckDB
    oracle replays the whole pipeline — transition mining, edge
    weights, dangling redistribution, and all three iterations — as
    unrolled CTEs with the identical integer recurrence.
    """
    return pagerank(click_edges(load(spark, sf_dir, "events")))


# --------------------------------------------------------------------------
# k-core peeling: cohesion filtering for curation (spam/link-farm subgraphs
# survive high-k cores; organic periphery peels off).
# --------------------------------------------------------------------------

KCORE_K = 85
KCORE_ROUNDS = 4


def kcore_peel(
    edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """Fixed-round k-core peeling over the undirected simple graph of
    ``edges``: each round removes every node whose degree in the
    CURRENT surviving subgraph is < ``k`` (cascading — a removal lowers
    its neighbors' degrees for the next round). Returns one row per
    node: ``(node, degree0, peel_round)`` where ``degree0`` is the
    initial degree and ``peel_round`` is the 1-based round the node was
    peeled, NULL for survivors.

    Like :func:`component_labels`, the FIXED unroll is the spec: after
    ``rounds`` rounds the survivors are a superset of the true k-core,
    equal whenever peeling converges within the horizon (asserted on
    the corpus in tests via a rounds+1 fixpoint check). Determinism +
    integer-only state make it differentially replayable in unrolled
    DuckDB CTEs.

    Per round: one join of the state ``(node, degree0, peel_round)``
    onto the self-looped adjacency (:func:`_with_self_rows`) and one
    node-keyed aggregate. The self row gives the node's own
    ``peel_round``; its other rows whose ``peel_round`` is NULL count
    its degree among survivors, and a survivor below ``k`` peels in
    this round. No driver state, no broadcast of the edge list.
    """
    adj = _adjacency(edges)
    looped = _with_self_rows(adj)
    own = F.col("node") == F.col("nbr")
    state = _degrees(adj).select(
        "node",
        F.col("deg").alias("degree0"),
        F.lit(None).cast("int").alias("peel_round"),
    )
    for r in range(1, rounds + 1):
        state = (
            looped.join(state.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node")
            .agg(
                F.max(F.when(own, F.col("degree0"))).alias("degree0"),
                F.max(F.when(own, F.col("peel_round"))).alias("peeled"),
                F.count(F.when(~own & F.col("peel_round").isNull(), 1))
                .alias("deg"),
            )
            .select(
                "node",
                "degree0",
                F.coalesce("peeled", F.when(F.col("deg") < k, F.lit(r)))
                .alias("peel_round"),
            )
        )
    return state


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled-CTE DuckDB replay of kcore_peel: the same per-round
    restrict → count → threshold cascade."""
    ctes = ["alive0 AS (SELECT node FROM deg)"]
    for i in range(1, rounds + 1):
        ctes.append(f"""deg{i} AS (
      SELECT b.node, COUNT(*) AS deg
      FROM bidir b
      JOIN alive{i - 1} s ON b.node = s.node
      JOIN alive{i - 1} t ON b.nbr = t.node
      GROUP BY b.node
    )""")
        ctes.append(f"""alive{i} AS (
      SELECT node FROM deg{i} WHERE deg >= {k}
    )""")
        ctes.append(f"""peel{i} AS (
      SELECT a.node, CAST({i} AS INTEGER) AS peel_round
      FROM alive{i - 1} a
      WHERE NOT EXISTS (SELECT 1 FROM alive{i} s WHERE s.node = a.node)
    )""")
    peels = "\n      UNION ALL ".join(
        f"SELECT node, peel_round FROM peel{i}" for i in range(1, rounds + 1)
    )
    ctes.append(f"""outcome AS (
      {peels}
      UNION ALL SELECT node, CAST(NULL AS INTEGER) FROM alive{rounds}
    )""")
    return _unrolled(ctes, """SELECT d.node, d.deg AS degree0, o.peel_round
    FROM deg d JOIN outcome o ON d.node = o.node""")


@query(
    "c10_kcore_peel",
    oracle=_kcore_oracle(KCORE_K, KCORE_ROUNDS),
    driver=False,
)
def c10_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: fixed-round k-core peeling (k=85, 4 rounds) over the
    navigation graph mined from ``events`` — the graph-cohesion
    curation filter complementing PageRank (quality prior) and
    clustering (cohesion score): link-farm/spam subgraphs survive
    high-k cores after the organic periphery cascades away. Output is
    the full peel trace ``(node, degree0, peel_round)``; the DuckDB
    oracle replays every restrict→count→threshold round."""
    return kcore_peel(click_edges(load(spark, sf_dir, "events")))


# --------------------------------------------------------------------------
# Link prediction: Resource-Allocation index over distance-2 pairs.
# --------------------------------------------------------------------------

RA_SCALE = 10**12
RA_MAX_HUB = 1_000
RA_TOP_K = 100


def link_prediction_ra(
    edges: DataFrame,
    max_hub: int = RA_MAX_HUB,
    top_k: int = RA_TOP_K,
) -> DataFrame:
    """Top-``top_k`` NON-adjacent node pairs by the Resource-Allocation
    index RA(x,z) = Σ_{y ∈ N(x)∩N(z)} 1/deg(y) (Zhou/Lü/Zhang 2009 —
    the exact-rational cousin of Adamic-Adar), in scaled-BIGINT fixed
    point: each shared neighbor contributes ``RA_SCALE div deg(y)``, so
    the score is an exact integer — bit-identical across partitionings
    and engines, same discipline as :func:`pagerank`.

    Shared neighbors with degree > ``max_hub`` are excluded before the
    wedge join (:func:`_capped_wedges`): the published practice and the
    scale guard.

    One wedge self-join keyed on the shared neighbor, one pair-keyed
    aggregate, one anti-join against the existing edge set, one top-k.
    Ties rank deterministically by (ra_scaled DESC, x, z).
    """
    adj = _adjacency(edges)
    pairs = (
        _capped_wedges(adj, _degrees(adj), max_hub)
        .groupBy("x", "z")
        .agg(
            F.count("*").cast("long").alias("common_neighbors"),
            F.sum(F.expr(f"{RA_SCALE} div deg")).cast("long").alias("ra_scaled"),
        )
    )
    return _probe_edges(pairs, adj, "left_anti").orderBy(
        F.desc("ra_scaled"), F.asc("x"), F.asc("z")
    ).limit(top_k)


def _wedge_sql(max_hub: int) -> str:
    """Oracle text of :func:`_capped_wedges`, to follow :data:`_GRAPH_SQL`."""
    return f"""wedge AS (
      SELECT w1.node AS y, w1.nbr AS x, w2.nbr AS z, d.deg
      FROM bidir w1
      JOIN deg d ON w1.node = d.node
      JOIN bidir w2 ON w1.node = w2.node
      WHERE d.deg <= {max_hub} AND w1.nbr < w2.nbr
    )"""


def _link_prediction_oracle(max_hub: int, top_k: int) -> str:
    return f"""
    WITH {_GRAPH_SQL},
    {_wedge_sql(max_hub)},
    pairs AS (
      SELECT x, z, CAST(COUNT(*) AS BIGINT) AS common_neighbors,
             CAST(SUM({RA_SCALE} // deg) AS BIGINT) AS ra_scaled
      FROM wedge GROUP BY x, z
    )
    SELECT p.x, p.z, p.common_neighbors, p.ra_scaled
    FROM pairs p
    WHERE NOT EXISTS (
      SELECT 1 FROM ue WHERE ue.a = p.x AND ue.b = p.z
    )
    ORDER BY p.ra_scaled DESC, p.x ASC, p.z ASC
    LIMIT {top_k}
    """


# --------------------------------------------------------------------------
# Harmonic centrality (radius-2 truncation): the web-corpus quality prior.
# --------------------------------------------------------------------------

HC_MAX_HUB = 1_000


def harmonic_centrality_r2(
    edges: DataFrame, max_hub: int = HC_MAX_HUB
) -> DataFrame:
    """Radius-2 truncated harmonic centrality over the undirected simple
    graph of ``edges``: H₂(v) = Σ_{u: d(v,u)≤2} 1/d(v,u) = n1(v) + n2(v)/2,
    where n1 is the degree and n2 the count of nodes at distance exactly 2.
    Harmonic centrality is the quality prior the CommonCrawl curation
    lineage ranks hosts by (Boldi/Vigna 2014 — "Axioms for centrality");
    the radius-2 truncation is its exact, shuffle-bounded core.

    Everything is exact integers: the returned ``harmonic_x2`` is
    2·n1 + n2 — twice the truncated centrality — so the score is
    bit-identical across partitionings and engines (same discipline as
    :func:`pagerank` / :func:`link_prediction_ra`).

    Distance-2 pairs come from the hub-capped wedge join
    (:func:`_capped_wedges`), so the spec is "distance 2 through a
    ≤cap-degree middle". At 100 TB with radius > 2 the published scale
    path is the HyperBall HLL-sketch neighborhood function; radius 2 is
    the largest horizon with an exact bounded-shuffle plan, which is why
    it is the one offered as a differentially-verifiable query.

    One wedge self-join keyed on the middle, one distinct (pair-keyed),
    one anti-join against the edge set (distance exactly 2, not 1), one
    explode + node-keyed partial-combining aggregate. No driver state.
    """
    adj = _adjacency(edges)
    deg = _degrees(adj)
    pairs = _capped_wedges(adj, deg, max_hub).select("x", "z").distinct()
    d2 = _probe_edges(pairs, adj, "left_anti")
    n2 = (
        d2.select(F.explode(F.array("x", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n2"))
    )
    return (
        deg.join(n2, "node", "left")
        .select(
            "node",
            F.col("deg").alias("n1"),
            F.coalesce("n2", F.lit(0)).cast("long").alias("n2"),
        )
        .select(
            "node",
            "n1",
            "n2",
            (2 * F.col("n1") + F.col("n2")).cast("long").alias("harmonic_x2"),
        )
    )


def _harmonic_oracle(max_hub: int) -> str:
    return f"""
    WITH {_GRAPH_SQL},
    {_wedge_sql(max_hub)},
    pairs AS (SELECT DISTINCT x, z FROM wedge),
    d2 AS (
      SELECT x, z FROM pairs p
      WHERE NOT EXISTS (SELECT 1 FROM ue WHERE ue.a = p.x AND ue.b = p.z)
    ),
    n2 AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n2
      FROM (SELECT x AS node FROM d2 UNION ALL SELECT z FROM d2)
      GROUP BY node
    )
    SELECT d.node, d.deg AS n1,
           CAST(COALESCE(n2.n2, 0) AS BIGINT) AS n2,
           CAST(2 * d.deg + COALESCE(n2.n2, 0) AS BIGINT) AS harmonic_x2
    FROM deg d LEFT JOIN n2 ON d.node = n2.node
    """


@query(
    "c10_harmonic_centrality",
    oracle=_harmonic_oracle(HC_MAX_HUB),
    driver=False,
)
def c10_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: radius-2 truncated harmonic centrality over the navigation
    graph mined from ``events`` — the CommonCrawl-lineage quality prior
    (the module docstring's "harmonic centrality / PageRank" pair is now
    complete), as exact integers (``harmonic_x2`` = 2·n1 + n2). Hub-capped
    wedge join bounds the distance-2 enumeration (see
    :func:`harmonic_centrality_r2`); the DuckDB oracle replays transition
    mining, canonicalization, the capped wedge, the exact-distance-2
    anti-join, and the scoring."""
    return harmonic_centrality_r2(click_edges(load(spark, sf_dir, "events")))


# DataSketches HLL lgConfigK of the HyperBall sketches (error bound below).
HLL_LG_K = 12


def harmonic_centrality_hyperball(
    edges: DataFrame, *, radius: int = 4
) -> DataFrame:
    """HyperBall harmonic centrality beyond radius 2 — the documented
    100 TB scale path of :func:`harmonic_centrality_r2` (Boldi & Vigna
    2013, "In-core computation of geometric centralities with
    HyperBall"; public algorithm, re-expressed on Spark's built-in
    DataSketches HLL columns).

    Per node v keep one HLL sketch B_t(v) of the ball of radius t,
    seeded with {v}. Each round is one register-merge step over the
    persisted undirected edge list:

        B_t(v) = B_{t-1}(v) ∪ ⋃_{(v,w)∈E} B_{t-1}(w)

    spelled as an edge-keyed equi-join (neighbor sketches) + a
    node-keyed ``hll_union_agg`` (map-side combining register-max) + a
    two-sketch ``hll_union`` with the node's own ball. Harmonic
    centrality accumulates the estimated shell sizes:

        H_r(v) = Σ_{t=1..r} (|B_t(v)| − |B_{t-1}(v)|) / t

    Error bound ε: a DataSketches HLL with lgConfigK = ``HLL_LG_K`` = 12 has
    relative standard error 1.04/√2¹² ≈ 1.6% per ball estimate (and is
    EXACT below the sparse-mode promotion threshold, so small
    neighborhoods — the overwhelming majority of nodes in a power-law
    graph — carry no error at all). Shell sizes difference two such
    estimates; register-max unions only grow registers, and a negative
    estimate delta (possible in the dense regime when the composite
    estimator jitters) is clamped to 0, keeping H monotone in t. The
    error-bound test pins max relative error ≤ 5% vs the exact radius-2
    wedge join on the corpus graph.

    Scale: state is ONE sketch per node (≤ 2¹²·6 bits ≈ 3 KB dense,
    bytes in sparse mode) — radius-independent, versus the exact wedge
    join's Σ min(deg,cap)² pair enumeration that makes radius > 2
    intractable. Each round costs one shuffle join + one
    partial-combining aggregate. The state frame is
    ``localCheckpoint``-ed per round, NOT merely persisted: every round
    reads the previous state TWICE (the neighbor join and the
    self-union), so without lineage truncation the plan doubles per
    round (module docstring; measured: radius 6 at sf0.1 took 55.8 s
    persisted vs 3.0 s checkpointed; radius 12 is 3.9 s — constant
    ~0.3 s/round). On a multi-executor cluster where executor loss must
    be survivable, swap ``localCheckpoint`` for a reliable
    ``checkpoint`` directory — same plan, durable blocks. Nothing
    collects to the driver.

    Returns ``(node, n_reached, harmonic)``: the estimated ball size at
    ``radius`` and the truncated harmonic centrality (double, 6 dp).
    """
    adj = _adjacency(edges)
    state = (
        adj.groupBy("node")
        .agg(F.hll_sketch_agg("node", F.lit(HLL_LG_K)).alias("sk"))
        .select("node", "sk", F.lit(1.0).alias("est"), F.lit(0.0).alias("hsum"))
        .localCheckpoint()
    )
    for t in range(1, radius + 1):
        nbr_union = (
            adj.join(
                state.select(F.col("node").alias("nbr"), F.col("sk").alias("nsk")),
                "nbr",
            )
            .groupBy("node")
            .agg(F.hll_union_agg("nsk").alias("nbru"))
        )
        grown = state.join(nbr_union, "node", "left").select(
            "node",
            F.when(F.col("nbru").isNull(), F.col("sk"))
            .otherwise(F.hll_union("sk", "nbru"))
            .alias("sk"),
            "est",
            "hsum",
        )
        # eager localCheckpoint: materializes the round AND truncates
        # lineage, so the next round's plan starts from a scan of these
        # blocks instead of a 2x-deeper tree (see docstring)
        state = grown.select(
            "node",
            "sk",
            F.hll_sketch_estimate("sk").cast("double").alias("est"),
            (
                F.col("hsum")
                + F.greatest(
                    F.hll_sketch_estimate("sk").cast("double") - F.col("est"),
                    F.lit(0.0),
                )
                / F.lit(float(t))
            ).alias("hsum"),
        ).localCheckpoint()
    # Safe to release now: state is a materialized localCheckpoint, so the
    # returned frame no longer reads adj's cached blocks. Without this,
    # repeated calls in one session accumulate MEMORY_AND_DISK blocks for
    # the session lifetime (the checkpointed per-round state is still
    # caller-visible only through the final frame, which owns its blocks).
    adj.unpersist()
    return state.select(
        "node",
        # round, don't truncate: cast('long') on a dense-regime estimate of
        # 4999.97 would report 4999 and bias reach down by up to 1
        F.round("est").cast("long").alias("n_reached"),
        F.round("hsum", 6).alias("harmonic"),
    )


@query(
    "c10_link_prediction",
    oracle=_link_prediction_oracle(RA_MAX_HUB, RA_TOP_K),
    driver=False,
)
def c10_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: top-100 predicted links on the navigation graph by the
    exact fixed-point Resource-Allocation index — "pages that share
    many low-degree neighbors but are not yet linked", the
    related-content / recommendation primitive beside the PageRank
    prior. Hub-capped wedge join (see :func:`link_prediction_ra` for
    the Σ min(deg,cap)² bound); DuckDB oracle replays the whole
    pipeline including the cap and the deterministic tie order."""
    return link_prediction_ra(click_edges(load(spark, sf_dir, "events")))
