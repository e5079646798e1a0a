"""Tier C similarity search (SURVEY.md §2 C3): cosine top-k over embeddings.

Every search scores its candidates with the exact cosine and keeps the
top k (:func:`_top_k`); the paths differ in where candidates come from:
brute force (exact; the oracle-checkable baseline and the recall ground
truth), random-hyperplane LSH buckets, IVF k-means cells, a PQ ADC
shortlist, and IVF-PQ (ADC over a persisted index's probed cells).
SemDeDup reuses the IVF cells to bound its pairwise comparisons.
Indexes are built by :func:`ivf_index` / :func:`pq_train` and passed to
the search functions, which never train one. Vector math is pure
higher-order built-ins (``zip_with``/``aggregate``) — JVM-side, no
Python in the scoring loop.
"""

from __future__ import annotations

import json

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exact import trunc6
from ..functions.partitioning import rebalance
from ..registry import query

_N_QUERIES = 10
_TOP_K = 5


def cosine(a, b) -> F.Column:
    """Cosine similarity of two array<float> columns, computed in double."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return dot / (norm(a) * norm(b))


def _top_k(
    scored: DataFrame, k: int, score: str = "cos_sim", rank: str = "sim_rank"
) -> DataFrame:
    """The ``k`` best rows per ``query_id`` by ``score`` (ties broken by
    vec_id, so the top-k set is stable across engines), numbered in
    ``rank``. Spark rewrites it into a per-partition top-k before the
    exchange."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("vec_id"))
    return scored.withColumn(rank, F.row_number().over(w)).filter(
        F.col(rank) <= k
    )


# --------------------------------------------------------------------------
# C3a — exact brute-force top-k (oracle-checked)
# --------------------------------------------------------------------------
@query(
    "c03_cosine_topk",
    oracle=f"""
    SELECT query_id, vec_id, cos_sim, sim_rank FROM (
      SELECT
        q.vec_id AS query_id,
        c.vec_id AS vec_id,
        round(list_cosine_similarity(
          list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
          list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 6) AS cos_sim,
        ROW_NUMBER() OVER (
          PARTITION BY q.vec_id
          ORDER BY round(list_cosine_similarity(
            list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
            list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 6) DESC,
          c.vec_id ASC
        ) AS sim_rank
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_N_QUERIES}
    ) WHERE sim_rank <= {_TOP_K}
    """,
    driver=False,
)
def c03_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3a: exact top-k nearest neighbors by cosine for a query set.

    The query side is filtered *then broadcast*, so "brute force" is a
    broadcast nested-loop over one scan of the corpus — no corpus×corpus
    cross join, no shuffle of the big side. Ranking is on the *rounded*
    similarity with a vec_id tie-break, making the top-k set stable across
    engines (raw float ranking can flip near-ties between Spark and the
    oracle). Scale: O(|corpus| × |queries| × dim) map-side work; the only
    shuffle is the per-query top-k window over |corpus| rows per query —
    rewritten by Spark into per-partition top-k before the exchange.
    """
    emb = load(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    )
    scored = (
        rebalance(emb)
        .join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("q_emb"), F.col("embedding")), 6).alias("cos_sim"),
        )
    )
    return _top_k(scored, _TOP_K).select("query_id", "vec_id", "cos_sim", "sim_rank")


# The round-6 exact rerank of a ``cand(query_id, vec_id)`` CTE — the
# tail every ANN oracle shares (the DuckDB mirror of :func:`_exact_rerank`).
_RERANK_SQL = f"""SELECT query_id, vec_id, cos_sim, sim_rank FROM (
      SELECT cand.query_id, cand.vec_id,
             round(list_cosine_similarity(
               list_transform(qe.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(ce.embedding, x -> CAST(x AS DOUBLE))), 6)
               AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY cand.query_id
               ORDER BY round(list_cosine_similarity(
                 list_transform(qe.embedding, x -> CAST(x AS DOUBLE)),
                 list_transform(ce.embedding, x -> CAST(x AS DOUBLE))), 6)
                 DESC,
               cand.vec_id ASC
             ) AS sim_rank
      FROM cand
      JOIN embeddings qe ON qe.vec_id = cand.query_id
      JOIN embeddings ce ON ce.vec_id = cand.vec_id
    ) WHERE sim_rank <= {_TOP_K}
    """


# --------------------------------------------------------------------------
# C3b — random-hyperplane LSH bucketed ANN (the scale path)
# --------------------------------------------------------------------------
def _plane_literals(n_tables: int, n_planes: int, dim: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim)).tolist()


def _lsh_oracle_sql(n_tables: int = 4, n_planes: int = 8, dim: int = 64) -> str:
    """DuckDB oracle for c03_ann_lsh — the full LSH pipeline in SQL.

    The hyperplanes are SEEDED DRIVER LITERALS (no RNG at execution), so
    the oracle embeds the very same literals (repr round-trips the exact
    doubles into both parsers) and recomputes each signature dot product
    with the identical left-fold order Spark's ``aggregate(zip_with(...))``
    uses — ``0.0 + e[1]·p1 + e[2]·p2 + …`` is left-associative in SQL, so
    every sign decision, hence every bucket, hence the candidate SET, is
    bit-for-bit the engine's. Rerank then reuses the c03_cosine_topk
    oracle's proven round-6 ``list_cosine_similarity`` convention.
    ~110 KB of generated SQL, <1 s in DuckDB at sf0.1.
    """
    planes = _plane_literals(n_tables, n_planes, dim)

    def dot(plane: list[float]) -> str:
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {float(v)!r}"
            for i, v in enumerate(plane)
        )
        return f"(0.0 + {terms})"

    def sig(table: list[list[float]]) -> str:
        return "(" + " + ".join(
            f"(CASE WHEN {dot(p)} > 0.0 THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(table)
        ) + ")"

    sig_cols = ",\n         ".join(
        f"{sig(t)} AS s{ti}" for ti, t in enumerate(planes)
    )
    case_sig = (
        "CASE t.table_id "
        + " ".join(f"WHEN {i} THEN s{i}" for i in range(n_tables - 1))
        + f" ELSE s{n_tables - 1} END"
    )
    values = ",".join(f"({i})" for i in range(n_tables))
    return f"""
    WITH sigs AS (
      SELECT vec_id,
             {sig_cols}
      FROM embeddings
    ),
    expl AS (
      SELECT vec_id, t.table_id, {case_sig} AS sig
      FROM sigs, (VALUES {values}) t(table_id)
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
      FROM expl c JOIN expl q ON c.table_id = q.table_id AND c.sig = q.sig
      WHERE q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
    )
    {_RERANK_SQL}"""


@query(
    "c03_ann_lsh",
    driver=False,
    oracle=_lsh_oracle_sql(),
)
def c03_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3b: approximate top-k via random-hyperplane LSH.

    Signature = sign bits of dot(v, r_i) for ``n_planes`` fixed random
    hyperplanes (seeded, generated once on the driver, shipped as a column
    literal — no executor-side RNG, no closure capture of numpy state).
    Multiple independent tables raise recall. Candidates share a (table,
    signature) bucket → equi-join; exact cosine re-ranks within candidates.
    Oracle-backed since round 7: :func:`_lsh_oracle_sql` replays the whole
    pipeline (same plane literals, same fold order → same buckets) in
    DuckDB; recall vs C3a additionally asserted in tests/test_similarity.py.
    Scale: the cross join disappears — cost concentrates in
    Σ_bucket |bucket|², controlled by n_planes.
    """
    emb = load(spark, sf_dir, "embeddings")
    return ann_lsh_topk(
        emb,
        emb.filter(F.col("vec_id") < _N_QUERIES),
        k=_TOP_K,
        n_planes=8,
        n_tables=4,
    )


def lsh_signatures(
    df: DataFrame,
    *,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table, sig) — one row per hash table per vector."""
    planes = _double_arrays(_plane_literals(n_tables, n_planes, dim), 3)
    bits = F.array(*(F.lit(1 << p) for p in range(n_planes)))
    df = rebalance(df)

    def _dot(plane: F.Column) -> F.Column:  # left fold from 0.0, as the oracle
        return F.aggregate(
            F.zip_with(F.col(vec_col), plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def _sig(table: F.Column) -> F.Column:
        return F.aggregate(
            F.zip_with(
                table, bits, lambda plane, b: F.when(_dot(plane) > 0.0, b).otherwise(0)
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )

    sig_arr = F.transform(planes, _sig)
    # All tables' signatures in one projection + posexplode: the vector is
    # scanned once total, not once per table.
    return df.select(
        F.col(id_col), F.posexplode(sig_arr).alias("table_id", "sig")
    )


def _exact_rerank(
    candidates: DataFrame, corpus: DataFrame, queries: DataFrame, k: int
) -> DataFrame:
    """Exact cosine re-rank of (query_id, vec_id) candidate pairs → top-k."""
    q_vec = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c_vec = corpus.select("vec_id", "embedding")
    scored = (
        candidates.join(F.broadcast(q_vec), "query_id")
        .join(c_vec, "vec_id")
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("q_emb"), F.col("embedding")), 6).alias("cos_sim"),
        )
    )
    return _top_k(scored, k).select("query_id", "vec_id", "cos_sim", "sim_rank")


def _shortlist_rerank(
    approx: DataFrame, corpus: DataFrame, queries: DataFrame, k: int,
    shortlist: int,
) -> DataFrame:
    """The ADC tail of the PQ searches: the ``shortlist`` best
    (query_id, vec_id, approx_sim) rows per query, exact-reranked."""
    cand = _top_k(approx, shortlist, "approx_sim", "r").select("query_id", "vec_id")
    return _exact_rerank(cand, corpus, queries, k)


def _no_candidates(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """The search result of an empty index: no rows, the top-k schema
    (probe and ADC expressions cannot analyze over zero-length centroid
    or codebook literals, so an empty index never reaches them)."""
    empty = corpus.select(F.col("vec_id").alias("query_id"), "vec_id").limit(0)
    return _exact_rerank(empty, corpus, queries, k)


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: LSH candidate generation + exact re-rank.

    ``dim`` must match the embedding dimension: shorter hyperplanes
    would null-pad in ``zip_with`` and zero EVERY signature — all
    vectors land in one bucket and the candidate join silently
    degenerates to the corpus×queries cross product the LSH path exists
    to avoid (results stay correct via the exact rerank, so nothing
    alerts). Exposed here so non-64-dim corpora can use the operator at
    all.
    """
    corpus_sig = lsh_signatures(
        corpus, n_planes=n_planes, n_tables=n_tables, dim=dim
    )
    query_sig = lsh_signatures(
        queries, n_planes=n_planes, n_tables=n_tables, dim=dim
    ).select(
        F.col("vec_id").alias("query_id"), "table_id", "sig"
    )
    candidates = (
        corpus_sig.join(F.broadcast(query_sig), ["table_id", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    return _exact_rerank(candidates, corpus, queries, k)


# --------------------------------------------------------------------------
# C3c — IVF (inverted-file) partitioned ANN: coarse k-means quantization
# --------------------------------------------------------------------------
def _kmeans_numpy(
    x: np.ndarray, n_cells: int, seed: int, iters: int = 8
) -> np.ndarray:
    """Seeded Lloyd iterations on the driver-side training sample.

    A coarse quantizer needs rough cells, not optimal ones: a handful of
    iterations suffice, and the sample is bounded so the dense distance
    matrix stays tiny. The seeding is k-means++ (each next center drawn
    with probability ∝ squared distance to the nearest chosen one):
    a uniform random init can put two starting centers in one cluster
    and leave Lloyd at an optimum that merges two far-apart clusters.
    """
    rng = np.random.default_rng(seed)
    k = min(n_cells, len(x))
    centers = x[[rng.integers(len(x))]].copy()
    d2 = ((x - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        i = rng.choice(len(x), p=d2 / d2.sum()) if d2.sum() > 0 else 0
        centers = np.vstack([centers, x[i]])
        d2 = np.minimum(d2, ((x - x[i]) ** 2).sum(axis=1))
    for _ in range(iters):
        d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                centers[j] = members.mean(axis=0)
    return centers


def _train_sample(
    corpus: DataFrame, cap: int, seed: int, train_fraction: float | None
) -> np.ndarray:
    """The bounded driver-side training sample of every quantizer: at
    most ``cap`` embeddings as a float64 matrix, drawn at
    ``train_fraction`` (seeded) before the cap when it is set."""
    src = corpus.select("embedding")
    if train_fraction is not None:
        src = src.sample(fraction=train_fraction, seed=seed)
    sample = src.limit(cap).toPandas()
    return np.asarray([np.asarray(e, dtype=np.float64) for e in sample["embedding"]])


def _double_arrays(values: list, depth: int) -> F.Column:
    """A ``depth``-level nested array<double> literal (centroid tables,
    PQ codebooks) as ONE string literal through ``from_json``.

    No SQL parse and a fixed number of py4j calls: an ``array(...)``
    SQL literal of 8×64 doubles is ~10k characters through the ANTLR
    parser per use, and nested ``F.lit`` costs a round trip per element.
    ConstantFolding evaluates the ``from_json`` once on the driver, so
    the optimized plan holds a plain literal; json.dumps writes each
    float with ``repr`` and Jackson parses it back, so the numpy float64
    values round-trip bit-for-bit.
    """
    ddl = "array<" * depth + "double" + ">" * depth
    return F.from_json(F.lit(json.dumps(values)), ddl)


def _sq_dist(a: F.Column, b: F.Column) -> F.Column:
    """Squared L2 distance of a float vector ``a`` and a double vector
    ``b``, summed left to right from 0.0 (the oracles' fold order)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _argmin_cell(vec: F.Column, centers: list[list[float]]) -> F.Column:
    """0-based index of the nearest centroid (first one on ties)."""
    dists = F.transform(_double_arrays(centers, 2), lambda c: _sq_dist(vec, c))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def ivf_index(
    corpus: DataFrame,
    *,
    n_cells: int = 16,
    seed: int = 42,
    train_fraction: float | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Build the IVF index: (vec_id → cell) assignments + centroid list.

    Training and assignment are split the way a 100 TB IVF build must be:
    the coarse quantizer trains on a BOUNDED sample pulled to the driver
    (IVF practice: O(√N) · n_cells points suffice; a few MB of floats no
    matter the corpus size) with seeded numpy Lloyd iterations — no
    distributed iteration, no ML-pipeline job storm. ASSIGNMENT of the
    full corpus is one map-side expression pass: centroids ship as a
    broadcast-style literal array and each row takes an argmin over
    n_cells JVM-codegen distance expressions. No shuffle anywhere.
    """
    feats = rebalance(corpus).select("vec_id", "embedding")
    # Train straight off the scan, NOT the rebalanced plan: the sample is
    # ≤256·n_cells rows, so routing it through a repartition shuffle only
    # adds a full-table exchange before the limit.
    x = _train_sample(corpus, 256 * n_cells, seed, train_fraction)
    if len(x) == 0:
        # Empty corpus/partition (routine at scale): empty index, no cells.
        empty = feats.select(
            "vec_id", F.lit(0).cast("int").alias("cell")
        ).limit(0)
        return empty, []
    centers = _kmeans_numpy(x, n_cells, seed)
    centers_list = [list(map(float, c)) for c in centers]
    return assign_to_cells(feats, centers_list), centers_list


def _probe_cells(
    queries: DataFrame,
    centers: list[list[float]],
    n_probe: int,
    *,
    keep_q_emb: bool = False,
) -> DataFrame:
    """(query_id[, q_emb], cell): the n_probe nearest coarse cells per
    query — literal-centroid distances, no join; shared by the IVF and
    IVF-PQ search paths so a fix to the probe logic cannot miss one."""
    probes = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.posexplode(_double_arrays(centers, 2)).alias("cell", "centroid"),
    )
    sq_dist = _sq_dist(F.col("q_emb"), F.col("centroid"))
    w = Window.partitionBy("query_id").orderBy(F.asc("cell_dist"), F.asc("cell"))
    cols = ["query_id", "cell"] + (["q_emb"] if keep_q_emb else [])
    return (
        probes.withColumn("cell_dist", sq_dist)
        .withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= n_probe)
        .select(*cols)
    )


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    index: "tuple[DataFrame, list[list[float]]]",
    *,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k via IVF: probe the ``n_probe`` nearest cells per
    query, exact-rerank only vectors in probed cells. ``index`` is the
    ``(assigned, centers)`` pair of :func:`ivf_index`,
    :func:`load_ivf_index` or a fixed quantizer's :func:`assign_to_cells`.

    Complements the LSH path (data-independent hashing) with a
    data-DEPENDENT partitioning — clustered corpora get much tighter
    candidate sets. Scale: candidate volume ≈ |corpus| · n_probe / n_cells
    per query; the probe-cell computation is |queries| × n_cells distances
    against a literal centroid array — no join, no shuffle on the corpus
    side beyond the candidate equi-join on ``cell``.
    """
    assigned, centers = index
    if not centers:
        return _no_candidates(corpus, queries, k)
    probe_cells = _probe_cells(queries, centers, n_probe)
    candidates = (
        assigned.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    return _exact_rerank(candidates, corpus, queries, k)


def _save_cells(
    cells: DataFrame, centers: list[list[float]], path: str, table: str
) -> None:
    """Write a per-vector table partitioned BY CELL under ``path/table``
    (a probe reads only its n_probe partitions — partition pruning does
    the candidate restriction at the file level) and the n_cells×dim
    centroid table under ``path/centroids`` (a few KB). Shared by the
    IVF and IVF-PQ indexes."""
    # partitionBy on a zero-row frame writes NO files (an unreadable
    # directory); an empty index lands unpartitioned so the schema
    # survives and load/search degrade to empty results, not crashes
    writer = cells.write.mode("overwrite")
    if cells.limit(1).count() > 0:
        writer = writer.partitionBy("cell")
    writer.parquet(f"{path}/{table}")
    cells.sparkSession.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centers)],
        "cell INT, centroid ARRAY<DOUBLE>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def _load_cells(
    spark: SparkSession, path: str, table: str, *cols: str
) -> "tuple[DataFrame, list[list[float]]]":
    """The per-vector table :func:`_save_cells` wrote, as a lazy
    (cell-partitioned, so probes prune) scan, and its centroid list —
    n_cells rows, the only part collected to the driver."""
    cells = spark.read.parquet(f"{path}/{table}").select(
        "vec_id", F.col("cell").cast("int").alias("cell"), *cols
    )
    rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    return cells, [list(map(float, r.centroid)) for r in rows]


def save_ivf_index(
    index: "tuple[DataFrame, list[list[float]]]", path: str
) -> None:
    """Persist an IVF index: the (vec_id, cell) assignments under
    ``assignments/`` and the centroids under ``centroids/``
    (:func:`_save_cells`).

    This is the cross-session / cross-job half of build-once-query-many:
    the quantizer training and the corpus assignment pass run in the
    offline build job; every search job afterwards just reads the index.
    """
    assigned, centers = index
    _save_cells(assigned, centers, path, "assignments")


def assign_to_cells(
    vectors: DataFrame, centers: list[list[float]]
) -> DataFrame:
    """(vec_id, cell) for ``vectors`` against a FIXED centroid list — the
    map-side argmin expression shared by index build and incremental
    ingest. No shuffle, no Python."""
    return vectors.select(
        "vec_id", _argmin_cell(F.col("embedding"), centers).alias("cell")
    )


_IVF_FIXED_CELLS, _IVF_FIXED_PROBE, _IVF_FIXED_SEED = 8, 4, 7


def _fixed_centroids(n_cells: int = _IVF_FIXED_CELLS, dim: int = 64,
                     seed: int = _IVF_FIXED_SEED):
    """Seeded random coarse centroids — a DEGENERATE but valid IVF
    quantizer (no training). Lower recall than kmeans cells, but fully
    deterministic literals, which is what buys the oracle below."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_cells, dim)).tolist()


def _sq_dist_sql(center: list[float], offset: int = 0) -> str:
    """DuckDB twin of :func:`_sq_dist` for the oracles: squared L2
    distance of ``embedding[offset + 1 …]`` to a literal ``center``,
    folded left from 0.0."""
    terms = " + ".join(
        f"(CAST(embedding[{offset + i + 1}] AS DOUBLE) - {float(v)!r})"
        f" * (CAST(embedding[{offset + i + 1}] AS DOUBLE) - {float(v)!r})"
        for i, v in enumerate(center)
    )
    return f"(0.0 + {terms})"


def _ivf_fixed_oracle() -> str:
    """DuckDB oracle for c03_ivf_fixed_centroids — the complete IVF
    SEARCH machinery in SQL: argmin cell assignment (same left-fold
    squared-distance order as ``assign_to_cells``; CASE-chain first-min
    tie-break ≡ Spark's ``array_position(d, array_min(d))``), n_probe
    nearest cells per query (ROW_NUMBER over (dist, cell) ≡
    ``_probe_cells``), candidate equi-join on cell, round-6 cosine
    rerank (the c03_cosine_topk convention). With the c03_ann_lsh
    oracle this leaves exactly ONE piece of the ANN stack outside
    cross-engine verification: the kmeans trainer itself (iterative,
    not SQL-expressible) — everything the trained and fixed quantizers
    SHARE is now differentially checked."""
    centers = _fixed_centroids()
    n_cells = len(centers)

    d_cols = ",\n    ".join(
        f"{_sq_dist_sql(centers[j])} AS d{j}" for j in range(n_cells)
    )
    least = "least(" + ",".join(f"d{j}" for j in range(n_cells)) + ")"
    argmin = (
        "CASE "
        + " ".join(f"WHEN d{j} = dm THEN {j}" for j in range(n_cells))
        + " END"
    )
    case_cd = (
        "CASE j.j "
        + " ".join(f"WHEN {j} THEN d{j}" for j in range(n_cells - 1))
        + f" ELSE d{n_cells - 1} END"
    )
    vals = ",".join(f"({j})" for j in range(n_cells))
    return f"""
    WITH d AS (
      SELECT vec_id,
        {d_cols}
      FROM embeddings
    ),
    m AS (SELECT *, {least} AS dm FROM d),
    assigned AS (SELECT vec_id, {argmin} AS cell FROM m),
    pd AS (
      SELECT m.vec_id AS query_id, j.j AS cell, {case_cd} AS cd
      FROM m, (VALUES {vals}) j(j)
      WHERE m.vec_id < {_N_QUERIES}
    ),
    probe AS (
      SELECT query_id, cell FROM (
        SELECT query_id, cell,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY cd ASC, cell ASC) AS pr
        FROM pd
      ) WHERE pr <= {_IVF_FIXED_PROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM assigned a JOIN probe p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    )
    {_RERANK_SQL}"""


@query(
    "c03_ivf_fixed_centroids", oracle=_ivf_fixed_oracle(), driver=True)
def c03_ivf_fixed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3c': IVF search over a FIXED seeded coarse quantizer — the
    oracle-backed twin of c03_ann_ivf. Identical engine machinery
    (``assign_to_cells`` argmin pass, ``_probe_cells``,
    ``_exact_rerank`` through ``ann_ivf_topk``); only the
    quantizer differs (seeded literals instead of kmeans — lower
    recall, fully verifiable). Hash-parity at sf0.001/0.01/0.1, 50
    rows each. The kmeans-trained path keeps its recall tests; this
    twin pins everything the two paths share against DuckDB.
    """
    emb = load(spark, sf_dir, "embeddings")
    centers = _fixed_centroids()
    assigned = assign_to_cells(
        rebalance(emb).select("vec_id", "embedding"), centers
    )
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return ann_ivf_topk(
        emb, queries, (assigned, centers), k=_TOP_K, n_probe=_IVF_FIXED_PROBE
    )


def append_ivf_batch(
    spark: SparkSession,
    new_vectors: DataFrame,
    path: str,
    *,
    index: "tuple[DataFrame, list[list[float]]] | None" = None,
) -> None:
    """Incremental IVF maintenance for one ingest batch: assign the NEW
    vectors against the PERSISTED centroids (loaded once — n_cells rows)
    and append their (vec_id, cell) rows to the cell-partitioned
    assignment table. No retraining; per batch the cost is one map-side
    argmin pass over the batch plus one anti-join against the existing
    assignments (vec_id is the identity, so the append is IDEMPOTENT:
    a crash-replayed foreachBatch — at-least-once by contract — or a
    duplicate id within the batch re-appends NOTHING, where a bare
    append would double-count cell stats and surface the same vec_id
    twice in search top-k).

    The quantizer is deliberately frozen: IVF practice retrains the
    coarse centroids OFFLINE when drift makes cells imbalanced (monitor
    with a per-cell count over the manifest-cheap assignments table),
    because retraining invalidates every existing assignment. Frozen
    centroids keep incremental assignment exactly equal to what a full
    rebuild with the same centroids would produce (asserted in tests).
    ``index`` lets a caller that already loaded the index (the streaming
    monitor) avoid a second load.
    """
    assigned, centers = index if index is not None else load_ivf_index(spark, path)
    fresh = (
        assign_to_cells(new_vectors.dropDuplicates(["vec_id"]), centers)
        .join(assigned.select("vec_id"), "vec_id", "left_anti")
    )
    fresh.write.mode("append").partitionBy("cell").parquet(
        f"{path}/assignments"
    )


def ivf_cell_stats(assigned: DataFrame, *, n_cells: int | None = None) -> DataFrame:
    """Per-cell occupancy of an IVF assignment table plus the imbalance
    signal that schedules offline retraining: ``share`` (fraction of the
    corpus in the cell) and ``skew`` (cell count / ideal uniform count).
    One count aggregate over the ~5 B/vector assignments — cheap enough
    to run after every :func:`append_ivf_batch`.

    ``n_cells`` is the CONFIGURED cell count (``len(centers)``) — pass
    it whenever known. The ideal uniform count must divide by the cells
    the quantizer HAS, not the cells that happen to be occupied:
    counting occupied cells makes total collapse into one cell read as
    skew 1.0 (perfectly balanced), exactly the hot-cell drift the
    monitor exists to catch. Without ``n_cells`` the occupied count is
    used as a lower-bound fallback (skew is then an underestimate —
    documented, not silent).

    Retrain policy (documented, not automated — retraining invalidates
    every assignment so it is an operator decision): when ``max(skew)``
    grows past ~4, probes of hot cells rerank a growing slice of the
    corpus and the n_probe/n_cells cost model drifts; rebuild with
    :func:`ivf_index` and :func:`save_ivf_index` offline.
    """
    counts = assigned.groupBy("cell").agg(F.count("*").alias("n_vectors"))
    totals = counts.agg(
        F.sum("n_vectors").alias("total"),
        (
            F.lit(n_cells) if n_cells is not None else F.count("*")
        ).alias("n_cells"),
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "cell",
        "n_vectors",
        (F.col("n_vectors") / F.col("total")).alias("share"),
        (
            F.col("n_vectors")
            / (F.col("total") / F.col("n_cells"))
        ).alias("skew"),
    )


def retrain_ivf_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    *,
    n_cells: int | None = None,
    seed: int = 43,
    train_fraction: float | None = None,
) -> list[list[float]]:
    """The offline retrain job :func:`ivf_cell_stats` schedules: rebuild
    the coarse quantizer from a bounded sample of the CURRENT corpus,
    reassign every vector with the existing map-side argmin pass, and
    atomically swap the persisted index — the "retrain offline on
    drift" half of the append/monitor/retrain lifecycle whose other two
    parts are :func:`append_ivf_batch` and :func:`ivf_cell_stats`.

    Retraining invalidates every existing assignment (the cells
    themselves move), so the job rebuilds the WHOLE index — never a
    partial patch — into a staging directory and swaps it in with the
    same rename discipline as ``sources/maintenance.compact``: readers
    see the old index or the new one, never a mix, and a crash before
    the swap leaves the live index untouched (the orphaned staging dir
    is re-listable garbage, not corruption).

    Cost at 100 TB: quantizer training stays the bounded driver-side
    sample of :func:`ivf_index` (≤256·n_cells rows no matter the corpus
    size); reassignment is the one shuffle-free argmin scan over the
    corpus; the swap is metadata. ``n_cells`` defaults to the live
    index's cell count; ``seed`` defaults to a DIFFERENT seed than the
    initial build so a retrain on an unchanged corpus still draws a
    fresh sample.

    Sampling: when ``train_fraction`` is None the job derives one from
    ``corpus.count()`` so that ``fraction ≈ cap / N`` — a uniform draw
    over the WHOLE current corpus whose expected size fills
    :func:`ivf_index`'s 256·n_cells cap. Without this, ``ivf_index``'s
    bare ``limit(cap)`` takes a partition-prefix, and drift concentrated
    in later partitions (the common append-at-end case) would be absent
    from training, reproducing the old centroids. The extra
    ``count()`` is one aggregate — negligible for an offline retrain.
    Pass ``train_fraction`` explicitly only to override the draw rate.

    Returns the new centroid list (what callers holding an in-memory
    ``(assigned, centers)`` handle must refresh to — their old handle
    still reads the swapped-away assignments' lineage and must be
    reloaded via :func:`load_ivf_index`).
    """
    import uuid

    from ..sources.maintenance import _atomic_swap

    if n_cells is None:
        _, old_centers = load_ivf_index(spark, path)
        n_cells = max(1, len(old_centers))
    if train_fraction is None:
        # Uniform draw across the CURRENT corpus with expected size equal
        # to ivf_index's 256·n_cells cap, so the downstream limit(cap)
        # keeps (essentially) the whole draw — never a partition prefix.
        # No oversampling headroom on purpose: extra rows beyond the cap
        # would be cut by limit() from the tail partitions, reintroducing
        # the prefix bias; a small binomial undershoot (~√cap rows) just
        # trains k-means on marginally fewer points.
        n = corpus.count()
        cap = 256 * n_cells
        train_fraction = min(1.0, cap / n) if n > 0 else 1.0
    index = ivf_index(
        corpus, n_cells=n_cells, seed=seed, train_fraction=train_fraction
    )
    staging = path.rstrip("/") + f"._staging_{uuid.uuid4().hex[:8]}"
    save_ivf_index(index, staging)  # fully materialized before the swap
    _atomic_swap(staging, path.rstrip("/"))
    return index[1]


def load_ivf_index(
    spark: SparkSession, path: str
) -> "tuple[DataFrame, list[list[float]]]":
    """Load a persisted IVF index (see :func:`_load_cells`)."""
    return _load_cells(spark, path, "assignments")


@query("c03_ann_ivf", driver=False)
def c03_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3c: IVF-partitioned approximate nearest neighbors (16 cells,
    probe 4); each call trains its index on a seeded 25% sample. No SQL
    oracle (k-means isn't SQL-expressible); recall vs the exact C3a top-k
    is asserted in tests/test_similarity.py."""
    emb = load(spark, sf_dir, "embeddings")
    return ann_ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < _N_QUERIES),
        ivf_index(emb, train_fraction=0.25),
        k=_TOP_K,
    )


# --------------------------------------------------------------------------
# C3e — embedding normalization + int8 quantization (index storage prep)
# --------------------------------------------------------------------------
_Q_SCALE = 127


def quantize_embeddings(vecs: DataFrame, col: str = "embedding") -> DataFrame:
    """L2 norm + symmetric int8 quantization of unit-normalized values —
    the storage/serving preparation in front of the ANN index: int8
    vectors are 4× smaller than float32 (64 dims: 256 B → 64 B/vector,
    ~6.4 TB → 1.6 TB per 100 B vectors), and cosine against them needs
    only the int dot product because the norm is carried alongside.

    q_i = floor(x_i / ‖x‖ · 127) ∈ [-128, 127]. All math is double-IEEE
    on float32 inputs — deterministic per engine and, because both
    engines fold the squared sum in array order, byte-identical across
    Spark and the DuckDB oracle. Pure higher-order built-ins: no Python,
    no shuffle — a map-only pass that scales with the scan.
    """
    xd = F.transform(col, lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate("xd", F.lit(0.0), lambda acc, x: acc + x * x)
    )
    q = F.transform(
        "xd",
        lambda x: F.floor(x / F.col("norm") * _Q_SCALE)
        .cast("int")
        .cast("string"),
    )
    return (
        vecs.select("vec_id", xd.alias("xd"))
        .withColumn("norm", norm)
        .select(
            "vec_id",
            trunc6(F.col("norm")).alias("norm6"),
            F.when(F.col("norm") > 0, F.array_join(q, ",")).alias("q8"),
        )
    )


@query(
    "c03_embedding_quantize",
    driver=False,
    oracle=f"""
    WITH xd AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, v,
             sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))
               AS norm
      FROM xd
    )
    SELECT vec_id,
           floor(norm * 1000000) / 1000000 AS norm6,
           CASE WHEN norm > 0 THEN
             array_to_string(list_transform(
               v, x -> CAST(CAST(floor(x / norm * {_Q_SCALE}) AS INT)
                            AS VARCHAR)), ',')
           END AS q8
    FROM n
    """,
)
def c03_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3e: per-vector L2 norm + int8-quantized unit vector (emitted as a
    comma-joined string so the differential harness can sort/hash rows)."""
    return quantize_embeddings(load(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# C3f — filtered vector search (metadata predicate + top-k)
# --------------------------------------------------------------------------
@query(
    "c03_filtered_topk",
    oracle=f"""
    SELECT query_id, vec_id, label, cos_sim, sim_rank FROM (
      SELECT
        q.vec_id AS query_id,
        c.vec_id AS vec_id,
        c.label,
        round(list_cosine_similarity(
          list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
          list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 6) AS cos_sim,
        ROW_NUMBER() OVER (
          PARTITION BY q.vec_id
          ORDER BY round(list_cosine_similarity(
            list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
            list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 6) DESC,
          c.vec_id ASC
        ) AS sim_rank
      FROM embeddings q
      JOIN embeddings c
        ON c.vec_id <> q.vec_id AND c.label <> q.label
      WHERE q.vec_id < {_N_QUERIES}
    ) WHERE sim_rank <= {_TOP_K}
    """,
    driver=False,
)
def c03_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3f: filtered vector search — top-k cosine neighbors restricted by
    a metadata predicate (here: a different class label than the query's,
    the "cross-domain nearest neighbor" probe). The filter is part of the
    JOIN condition, so candidates are pruned BEFORE any similarity math —
    pre-filtering, the semantics every vector store's metadata filter
    promises (post-filtering top-k then discarding can return < k rows).
    Same broadcast-queries / rounded-rank / tie-break discipline as
    c03_cosine_topk; at scale the predicate composes with the IVF cell
    pruning (filter first, then probe cells).
    """
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    scored = (
        rebalance(emb)
        .join(
            F.broadcast(queries),
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") != F.col("q_label")),
        )
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round(cosine(F.col("q_emb"), F.col("embedding")), 6).alias("cos_sim"),
        )
    )
    return _top_k(scored, _TOP_K).select(
        "query_id", "vec_id", "label", "cos_sim", "sim_rank"
    )


# --------------------------------------------------------------------------
# C3 — SemDeDup: semantic deduplication via quantizer cells
# --------------------------------------------------------------------------
_SEMDEDUP_THRESHOLD = 0.4


def semantic_dedup(
    corpus: DataFrame,
    index: "tuple[DataFrame, list[list[float]]]",
    *,
    threshold: float = _SEMDEDUP_THRESHOLD,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the IVF coarse
    quantizer, compare vectors pairwise ONLY within their cell, and drop
    every vector that has a higher-similarity-than-threshold neighbor
    with a smaller vec_id (one deterministic keeper per duplicate
    neighborhood — the paper keeps a random representative; smallest-id
    is the reproducible choice).

    Scale shape: the pair space is Σ_cell |cell|² instead of n² — the
    same bucketed-candidates discipline as MinHash-LSH dedup
    (operators/dedup.py) applied to vectors, and the cell assignment is
    the map-side argmin pass from :func:`ivf_index` (no shuffle). Cross-
    cell near-duplicates are missed by construction; that recall loss is
    the documented SemDeDup trade (mitigate with more probe-like overlap
    or a second pass at lower n_cells). Precision is exact: every drop
    has a genuine within-cell neighbor above threshold. Only the
    assignments of ``index`` (an :func:`ivf_index` pair) are read.
    """
    assigned, _ = index
    vecs = corpus.select("vec_id", "embedding").join(assigned, "vec_id")
    a = vecs.select(
        "cell", F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb")
    )
    b = vecs.select(
        F.col("cell").alias("b_cell"),
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
    )
    pairs = a.join(
        b, (F.col("cell") == F.col("b_cell")) & (F.col("a_id") < F.col("b_id"))
    )
    sim = F.round(cosine(F.col("a_emb"), F.col("b_emb")), 6)
    drops = (
        pairs.select("a_id", "b_id", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return corpus.join(drops, "vec_id", "left_anti")


@query("c03_semdedup", driver=False)
def c03_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: SemDeDup survivors over the embeddings corpus (cell-bounded
    candidate generation — the scale path). No SQL oracle (the k-means
    quantizer isn't SQL-expressible); checked against the exact twin
    ``c03_semdedup_exact`` in tests: precision 1.0 by construction
    (every celled drop is a genuine drop) and recall asserted on
    planted duplicates."""
    emb = load(spark, sf_dir, "embeddings")
    survivors = semantic_dedup(emb, ivf_index(emb, train_fraction=0.25))
    return survivors.select("vec_id", "label")


@query(
    "c03_semdedup_exact",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
    SELECT d.vec_id, d.label
    FROM e d
    WHERE NOT EXISTS (
      SELECT 1 FROM e x
      WHERE x.vec_id < d.vec_id
        AND round(list_cosine_similarity(x.v, d.v), 6)
              >= {_SEMDEDUP_THRESHOLD}
    )
    """,
    driver=False,
)
def c03_semdedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: exact semantic-dedup ground truth — drop every vector with ANY
    smaller-id neighbor at cos ≥ threshold, across the whole corpus (no
    cells). O(n²) pair space: this is the oracle-checkable twin that
    measures the celled path's recall, exactly the c02_ngram_jaccard ↔
    minhash_lsh_pairs relationship for vectors. The pairs come from one
    broadcast upper-triangle join, so the pair space never shuffles."""
    emb = load(spark, sf_dir, "embeddings")
    a = rebalance(emb).select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb")
    )
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"))
    sim = F.round(cosine(F.col("a_emb"), F.col("b_emb")), 6)
    drops = (
        a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= _SEMDEDUP_THRESHOLD)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return emb.join(drops, "vec_id", "left_anti").select("vec_id", "label")


# --------------------------------------------------------------------------
# C3 — Product Quantization (PQ): compressed-domain ANN
# --------------------------------------------------------------------------
_PQ_N_SUB = 8
_PQ_N_CODES = 16


def pq_train(
    corpus: DataFrame,
    *,
    n_sub: int = _PQ_N_SUB,
    n_codes: int = _PQ_N_CODES,
    seed: int = 42,
    sample_cap: int = 4096,
    train_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Train PQ codebooks (Jégou et al. 2011, "Product Quantization for
    Nearest Neighbor Search"): split the vector into ``n_sub`` contiguous
    subvectors and k-means each subspace independently to ``n_codes``
    centroids. Like the IVF coarse quantizer, training runs on a BOUNDED
    driver-side sample (codebooks are n_sub·n_codes·d_sub floats — KB —
    regardless of corpus size); the full-corpus work is all map-side.

    ``train_fraction`` samples BEFORE the cap — at corpus scale a bare
    ``limit`` is a storage-order PREFIX (typically one partition / one
    time shard), and codebooks fit to a correlated prefix quantize the
    rest of the corpus badly. Same knob and rationale as
    :func:`ivf_index`'s ``train_fraction``; the default stays prefix
    (exact and cheap at test SF, where the fixture is unordered).
    """
    x = _train_sample(corpus, sample_cap, seed, train_fraction)
    if len(x) == 0:
        # Empty corpus/partition (routine at scale): no codebooks — the
        # encode/search paths degrade to empty, same as ivf_index.
        return []
    dim = x.shape[1]
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d_sub = dim // n_sub
    books: list[list[list[float]]] = []
    for m in range(n_sub):
        sub = np.ascontiguousarray(x[:, m * d_sub : (m + 1) * d_sub])
        centers = _kmeans_numpy(sub, n_codes, seed + m)
        books.append([list(map(float, c)) for c in centers])
    return books


def _recon_expr(books: list[list[list[float]]]) -> F.Column:
    """Reconstruction of a ``pq_codes`` column from the codebooks —
    shared by pq_reconstruct and the IVF-PQ ADC pass (1-based
    element_at over 0-based codes)."""
    lit = _double_arrays(books, 3)
    return F.flatten(
        F.transform(
            "pq_codes",
            lambda c, i: F.element_at(F.element_at(lit, i + 1), c + 1),
        )
    )


def pq_encode(
    vectors: DataFrame, books: list[list[list[float]]]
) -> DataFrame:
    """(vec_id, pq_codes array<int>) — each subvector replaced by the id
    of its nearest codebook centroid. One codegen expression per
    subvector (the assign_to_cells argmin shape applied per block); no
    Python, no shuffle. Storage: n_sub small ints per vector — for
    64-dim float32 embeddings that is 256 B → 8 codes (4 bits each
    packable), a 32-64× compression, the difference between 25 TB and
    sub-TB of index for 100 B vectors.
    """
    if not books:
        return vectors.select(
            "vec_id",
            F.expr("array()").cast("array<int>").alias("pq_codes"),
        ).limit(0)
    d_sub = len(books[0][0])
    codes = F.array(*(
        _argmin_cell(F.slice("embedding", m * d_sub + 1, d_sub), book)
        for m, book in enumerate(books)
    ))
    return vectors.select("vec_id", codes.alias("pq_codes"))


def pq_reconstruct(encoded: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """(vec_id, recon array<double>) — concatenation of each code's
    centroid; the decompression half of PQ, again a pure map expression."""
    if not books:
        return encoded.select(
            "vec_id",
            F.expr("array()").cast("array<double>").alias("recon"),
        ).limit(0)
    return encoded.select("vec_id", _recon_expr(books).alias("recon"))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    *,
    k: int = 5,
    shortlist: int = 50,
) -> DataFrame:
    """Asymmetric-distance PQ search: score the UNQUANTIZED query against
    each corpus vector's reconstruction (ADC) to build a per-query
    shortlist, then exact-rerank the shortlist against the original
    vectors. The scan side touches only the codes table (n_sub ints per
    vector — this is why PQ exists: the approximate pass reads 1/30th
    the bytes); the exact pass touches ``shortlist`` vectors per query.
    ``books`` come from :func:`pq_train` (or a fixed literal set).
    """
    if not books:
        return _no_candidates(corpus, queries, k)
    recon = pq_reconstruct(pq_encode(corpus, books), books)
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    approx = (
        recon.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("q_emb"), F.col("recon")).alias("approx_sim"),
        )
    )
    return _shortlist_rerank(approx, corpus, queries, k, shortlist)


@query("c03_pq_topk", driver=False)
def c03_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: PQ compressed-domain top-k (8 subvectors × 16 codes, ADC
    shortlist 50, exact rerank). No SQL oracle (subspace k-means isn't
    SQL-expressible); recall vs the exact c03_cosine_topk is asserted in
    tests, and the final scores are exact because the rerank uses the
    original vectors."""
    emb = load(spark, sf_dir, "embeddings")
    return pq_topk(
        emb, emb.filter(F.col("vec_id") < _N_QUERIES), pq_train(emb), k=_TOP_K
    )


_PQ_FIXED_SEED, _PQ_FIXED_SHORTLIST = 11, 50


def _fixed_pq_books(seed: int = _PQ_FIXED_SEED):
    """Seeded random PQ codebooks — degenerate (untrained) but valid,
    deterministic literals; the PQ analogue of :func:`_fixed_centroids`."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((_PQ_N_SUB, _PQ_N_CODES, _PQ_N_SUB)).tolist()


def _pq_fixed_oracle() -> str:
    """DuckDB oracle for c03_pq_fixed_books — the complete PQ search
    machinery in SQL: per-subspace argmin ENCODE (same left-fold squared
    distances and first-min tie-break as ``pq_encode``), RECONSTRUCT via
    16-branch CASE per dimension, UNROUNDED ADC cosine whose 64-term
    left-fold reproduces the engine's ``cosine()`` bit for bit (the
    shortlist ordering is raw-double ranked — replicated order means
    replicated bits means replicated shortlist), then the round-6 exact
    rerank. With the LSH and IVF oracles, every ANN search path is now
    differentially verified end to end; only the kmeans/codebook
    TRAINERS remain outside SQL (iterative by nature). ~175 KB of
    generated SQL; sub-second in DuckDB at sf0.1."""
    books = _fixed_pq_books()
    n_sub, n_codes = len(books), len(books[0])
    d_sub = len(books[0][0])
    dim = n_sub * d_sub

    dist_cols = [
        f"{_sq_dist_sql(books[m][c], m * d_sub)} AS pd{m}_{c}"
        for m in range(n_sub) for c in range(n_codes)
    ]
    code_cols = []
    for m in range(n_sub):
        least = (
            "least(" + ",".join(f"pd{m}_{c}" for c in range(n_codes)) + ")"
        )
        case = (
            "CASE "
            + " ".join(
                f"WHEN pd{m}_{c} = {least} THEN {c}" for c in range(n_codes)
            )
            + " END"
        )
        code_cols.append(f"{case} AS c{m}")
    recon_cols = []
    for i in range(dim):
        m, d = i // d_sub, i % d_sub
        case = (
            f"CASE c{m} "
            + " ".join(
                f"WHEN {c} THEN {float(books[m][c][d])!r}"
                for c in range(n_codes)
            )
            + " END"
        )
        recon_cols.append(f"{case} AS r{i + 1}")
    dot = "(0.0 + " + " + ".join(
        f"CAST(q.embedding[{i + 1}] AS DOUBLE) * e.r{i + 1}"
        for i in range(dim)
    ) + ")"
    qn2 = "(0.0 + " + " + ".join(
        f"CAST(q.embedding[{i + 1}] AS DOUBLE)"
        f" * CAST(q.embedding[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    ) + ")"
    rn2 = "(0.0 + " + " + ".join(
        f"e.r{i + 1} * e.r{i + 1}" for i in range(dim)
    ) + ")"
    nl = ",\n    "
    return f"""
    WITH pd AS (
      SELECT vec_id,
        {nl.join(dist_cols)}
      FROM embeddings
    ),
    codes AS (
      SELECT vec_id,
        {nl.join(code_cols)}
      FROM pd
    ),
    recon AS (
      SELECT vec_id,
        {nl.join(recon_cols)}
      FROM codes
    ),
    approx AS (
      SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
             {dot} / (sqrt({qn2}) * sqrt({rn2})) AS approx_sim
      FROM recon e
      JOIN embeddings q ON q.vec_id < {_N_QUERIES} AND e.vec_id <> q.vec_id
    ),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY approx_sim DESC, vec_id ASC) AS r
        FROM approx
      ) WHERE r <= {_PQ_FIXED_SHORTLIST}
    )
    {_RERANK_SQL}"""


@query(
    "c03_pq_fixed_books",
    driver=False,
    oracle=_pq_fixed_oracle(),
)
def c03_pq_fixed_books(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3': the oracle-backed PQ — seeded literal codebooks run through
    the PRODUCTION ``pq_topk`` (encode → reconstruct → ADC shortlist →
    exact rerank, unchanged code); only the trainer is bypassed, because
    literal codebooks are what a DuckDB oracle can replay. Hash parity
    at sf0.001/0.01/0.1 including the raw-double shortlist ordering.
    The kmeans-trained ``c03_pq_topk`` keeps its recall tests."""
    emb = load(spark, sf_dir, "embeddings")
    return pq_topk(
        emb,
        emb.filter(F.col("vec_id") < _N_QUERIES),
        _fixed_pq_books(),
        k=_TOP_K,
        shortlist=_PQ_FIXED_SHORTLIST,
    )


# --------------------------------------------------------------------------
# C3 — IVF-PQ: the composed billion-scale index (cells prune, codes score)
# --------------------------------------------------------------------------
def save_pq_index(
    corpus: DataFrame,
    path: str,
    *,
    n_cells: int = 16,
    n_sub: int = _PQ_N_SUB,
    n_codes: int = _PQ_N_CODES,
    seed: int = 42,
    train_fraction: float | None = None,
) -> None:
    """Persist an IVF-PQ index: (vec_id, pq_codes) rows partitioned BY
    CELL (probes prune at the file level, exactly like save_ivf_index)
    plus the two KB-scale driver artifacts — coarse centroids and PQ
    codebooks — as parquet. The serving footprint per vector is the cell
    partition key + n_sub code ints; the original vectors are needed
    only by the final rerank (and can live in cold storage).

    Set ``train_fraction`` on real corpora so both quantizers train on a
    sample, not a storage-order prefix (see :func:`ivf_index`).
    """
    assigned, centers = ivf_index(
        corpus, n_cells=n_cells, seed=seed, train_fraction=train_fraction
    )
    books = pq_train(
        corpus, n_sub=n_sub, n_codes=n_codes, seed=seed,
        train_fraction=train_fraction,
    )
    cells = assigned.join(pq_encode(corpus, books), "vec_id")
    _save_cells(cells, centers, path, "cells")
    corpus.sparkSession.createDataFrame(
        [
            (m, c, [float(v) for v in book[c]])
            for m, book in enumerate(books)
            for c in range(len(book))
        ],
        "sub INT, code INT, centroid ARRAY<DOUBLE>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def load_pq_index(
    spark: SparkSession, path: str
) -> "tuple[DataFrame, list[list[float]], list[list[list[float]]]]":
    """(cell-partitioned codes scan, coarse centroids, PQ codebooks).
    Only the two KB artifacts are collected; codes stay a lazy scan."""
    cells, centers = _load_cells(spark, path, "cells", "pq_codes")
    book_rows = (
        spark.read.parquet(f"{path}/codebooks").orderBy("sub", "code").collect()
    )
    # empty index (routine for a fresh/filtered-out corpus): no codebooks
    n_sub = 1 + max((r.sub for r in book_rows), default=-1)
    books: list[list[list[float]]] = [[] for _ in range(n_sub)]
    for r in book_rows:
        books[r.sub].append(list(map(float, r.centroid)))
    return cells, centers, books


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    index_path: str,
    *,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 50,
) -> DataFrame:
    """Composed IVF-PQ search against a persisted index — the canonical
    billion-vector serving stack (Jégou 2011 §IV: coarse quantizer
    restricts the scan, product codes score it, originals rerank it):

    1. probe: n_probe nearest coarse cells per query (literal-centroid
       distances, no join) — partition pruning limits the codes scan to
       n_probe/n_cells of the files;
    2. ADC: reconstruct-and-score ONLY the probed cells' codes (bytes
       read per candidate: n_sub ints, not the full vector);
    3. rerank: exact cosine on the originals for the shortlist.

    At 100 TB the three tiers touch KB (centroids+codebooks), GB (probed
    code partitions), and MB (shortlist vectors) respectively.
    """
    cells, centers, books = load_pq_index(corpus.sparkSession, index_path)
    if not centers or not books:
        return _no_candidates(corpus, queries, k)
    probe_cells = _probe_cells(queries, centers, n_probe, keep_q_emb=True)
    recon = _recon_expr(books)
    adc = (
        cells.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("q_emb"), recon).alias("approx_sim"),
        )
    )
    return _shortlist_rerank(adc, corpus, queries, k, shortlist)
