"""Tier C deduplication (SURVEY.md §2 C1/C2): exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Motivated twice over: the reference's WRITE_APPEND + retry semantics can
double-load batches (/root/reference/dags/stock_data_to_gcp.py:82,134 — exact
dedup is the repair), and the north-star training-data pipeline needs
near-duplicate removal over a document corpus.

Scale design (the whole point of these implementations):
- never all-pairs over the corpus — candidates come from equi-joins on
  shingle / band / chunk keys, which shuffle-partition by key;
- hot keys (stop-shingles shared by half the corpus) are the skew hazard:
  the exact-Jaccard operator takes a ``max_shingle_df`` frequency cutoff,
  the standard document-frequency prune;
- MinHash signatures are fixed-width (k columns) per doc — state is O(docs),
  band buckets are O(docs × bands).
"""

from __future__ import annotations

import random

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exact import trunc6
from ..functions.partitioning import rebalance
from ..functions.textfns import sql_tokens, sql_word_shingles, tokens, word_shingles
from ..registry import query

# Mersenne prime modulus and 31-bit hash domain for the MinHash permutation
# family h_i(x) = (a_i * x + b_i) mod P — universal hashing, overflow-free
# in 64-bit arithmetic because a_i, x < 2^31.
_MERSENNE_P = (1 << 31) - 1


def canonical_text(text_col: "str | F.Column" = "text") -> F.Column:
    """The canonical form the fingerprint hashes: lowercased, trimmed,
    whitespace runs collapsed to single spaces. Exposed separately
    (r13) because tokenization is INVARIANT under it —
    ``tokens(x) == tokens(canonical_text(x))`` structurally, since
    :func:`~..functions.textfns.tokens` is ``split(lower(trim(.)),
    '\\s+')`` — so shingle-based operators may substitute the canonical
    text for any raw text of the same fingerprint group without
    changing a single shingle (decontaminate_verdicts relies on this to
    dedup with a plain hash aggregate instead of a min_by sort)."""
    return F.lower(F.regexp_replace(F.trim(text_col), r"\s+", " "))


def canonical_fingerprint(text_col: "str | F.Column" = "text") -> F.Column:
    """THE exact-dedup identity: md5 of the lowercased,
    whitespace-normalized text (:func:`canonical_text`). One definition
    shared by c01/c09 batch dedup, the corpus prep chain
    (operators/sampling.py), and the streaming cross-batch dedup sinks
    (streaming/jobs.py) — the cross-pipeline dedup joins are only
    correct because every producer uses THIS expression, so it must not
    be re-spelled inline."""
    return F.md5(canonical_text(text_col))


def _perm_coeffs(k: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P))
        for _ in range(k)
    ]


# --------------------------------------------------------------------------
# C1 — exact dedup via content fingerprint
# --------------------------------------------------------------------------
@query(
    "c01_exact_dedup",
    oracle="""
    SELECT
      md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
      MIN(doc_id) AS keeper_doc_id,
      COUNT(*) AS n_copies,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
    """,
    driver=False,  # rotated out r13 (driver-green r12); C1 family rep is the re-promoted c01_dedup_keep_best
)
def c01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: exact dedup — group by content hash, keep the smallest doc_id.

    Group-by-hash + min(key) (not ``dropDuplicates``) so the surviving row
    is *deterministic* — dropDuplicates keeps whichever row a task sees
    first, which is partitioning-dependent and unreproducible at scale.
    Scale: the shuffle key is a 128-bit hash, uniformly distributed — no
    skew; the shuffle carries (hash, id, n_chars), not the document text.
    """
    docs = load(spark, sf_dir, "documents")
    fp = canonical_fingerprint("text")
    return (
        docs.select(fp.alias("fingerprint"), "doc_id", "n_chars")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@query(
    "c01_dedup_keep_best",
    oracle="""
    SELECT fingerprint, keeper_doc_id, keeper_chars, n_copies FROM (
      SELECT
        md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
        doc_id AS keeper_doc_id,
        CAST(n_chars AS BIGINT) AS keeper_chars,
        COUNT(*) OVER (
          PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
        ) AS n_copies,
        ROW_NUMBER() OVER (
          PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
          ORDER BY n_chars DESC, doc_id ASC
        ) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    # re-promoted r13 rotation (driver-green r10, stale since): C1's
    # in-window rep (quality-keeper rule); c01_exact_dedup rotated out
    driver=True)
def c01_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1b: exact dedup with a QUALITY keeper rule — within each content
    group keep the longest document (ties to smallest doc_id), the usual
    pretraining policy when near-identical copies differ in completeness
    (truncated mirrors, boilerplate-stripped variants).

    Scale: one shuffle on the uniform hash key; the rn=1 filter compiles
    to WindowGroupLimit (per-partition top-1 before the exchange), so no
    per-group sort materializes. Deterministic: the order key includes
    the unique doc_id.
    """
    docs = load(spark, sf_dir, "documents")
    fp = canonical_fingerprint("text")
    sized = docs.select(fp.alias("fingerprint"), "doc_id", "n_chars")
    w = Window.partitionBy("fingerprint").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        sized.withColumn("n_copies", F.count("*").over(Window.partitionBy("fingerprint")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "fingerprint",
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("n_chars").cast("bigint").alias("keeper_chars"),
            "n_copies",
        )
    )


# --------------------------------------------------------------------------
# C2a — exact n-gram Jaccard similarity (the ground truth for near-dup)
# --------------------------------------------------------------------------
_JACCARD_THRESHOLD = 0.1
_SHINGLE_K = 3


@query(
    "c02_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({sql_word_shingles(sql_tokens('text'), _SHINGLE_K)}) AS shingle
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           floor(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) * 1000000)
             / 1000000 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= {_JACCARD_THRESHOLD}
    """,
    driver=False,
)
def c02_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2a: exact pairwise n-gram Jaccard over shingle inverted index.

    Pairs come from the equi-join on shingle (inverted-index join), never
    from a cross join: cost is Σ_shingle df² — bounded in practice by
    pruning stop-shingles (see :func:`ngram_jaccard_pairs`'s
    ``max_shingle_df``; the registered query keeps exact semantics to
    match the oracle). Serves as ground truth for the MinHash recall test.
    """
    docs = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=_JACCARD_THRESHOLD)


_PRUNE_MAX_DF = 20


@query(
    "c02_ngram_jaccard_pruned",
    # rotated out late r7 (driver row r6 green); the C2 near-dup family
    # stays in-window via c02_simhash_portable
    driver=False,
    oracle=f"""
    WITH sh0 AS (
      SELECT doc_id, unnest({sql_word_shingles(sql_tokens('text'), _SHINGLE_K)}) AS shingle
      FROM documents
    ),
    keep AS (
      SELECT shingle FROM sh0 GROUP BY shingle
      HAVING COUNT(*) <= {_PRUNE_MAX_DF}
    ),
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           floor(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) * 1000000)
             / 1000000 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= {_JACCARD_THRESHOLD}
    """,
)
def c02_ngram_jaccard_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2a at scale: the SAME inverted-index Jaccard with the
    ``max_shingle_df`` stop-shingle prune ON — the variant that actually
    runs on a 100 TB corpus, where the unpruned join's Σ_shingle df² cost
    is unbounded under stop-shingle skew. Shingles appearing in more
    instances than the df cap are dropped from BOTH the index join and the size
    denominators (so Jaccard is exact over the pruned shingle space — a
    well-defined semantics the oracle spells identically, not an
    approximation with unchecked error). tests/test_scale_stress.py shows
    the candidate count staying bounded under 8× corpus replication while
    the exact variant's grows ×64.
    """
    docs = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, threshold=_JACCARD_THRESHOLD, max_shingle_df=_PRUNE_MAX_DF
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    threshold: float = 0.1,
    k: int = _SHINGLE_K,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard pairs ≥ threshold. ``max_shingle_df`` drops shingles
    appearing in more than that many docs (document-frequency prune — the
    standard way to bound the inverted-index join at corpus scale; ~exact
    for high thresholds because stop-shingles contribute little)."""
    sh = rebalance(docs).select(
        "doc_id", F.explode(word_shingles(tokens("text"), k)).alias("shingle")
    )
    return _jaccard_pairs_from_index(
        sh, threshold=threshold, max_shingle_df=max_shingle_df
    )


def _jaccard_pairs_from_index(
    sh: DataFrame,
    *,
    threshold: float,
    max_shingle_df: int | None,
) -> DataFrame:
    """Inverted-index Jaccard join over a prebuilt (doc_id, shingle) index.

    Split out of :func:`ngram_jaccard_pairs` (r13) so callers that already
    hold the shingles — e.g. :func:`near_dedup_corpus`, whose survivor
    checkpoint carries the shingle ARRAY — can skip re-tokenizing: Spark
    does not share a subplan referenced from several join inputs, so the
    index subtree here is planned four times (hot set, sizes, both
    self-join sides) and any per-row work in it is paid four times."""
    if max_shingle_df is not None:
        # Prune as an anti-join against the HOT (stop-shingle) set, not an
        # inner join against the rare set: df <= cap is the complement of
        # df > cap over a null-free key, so the rows are identical, but the
        # broadcast side is the Zipf HEAD (58 shingles at sf0.1) instead of
        # the near-full vocabulary (27k), which grows with the corpus and is
        # rebuilt once per index-subtree copy. Same law as
        # text.boilerplate: join against the small offending set.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    if max_shingle_df is not None:
        # Pruned path (r14): candidate pairs from POSTING LISTS instead of
        # the index self-join. The df cap bounds every post-prune posting
        # list at ``max_shingle_df`` ids, so collect_list is safe (state
        # per key <= cap) and the intra-list combinations are <= C(cap, 2)
        # structs per shingle — the same Σ min(df, cap)² work the
        # self-join did, but with ONE shingle-keyed exchange instead of
        # the SortMergeJoin's two sorted exchanges of the exploded index
        # (guide §2.4: remove shuffles outright; the sorts go with them).
        # sort_array makes doc_a < doc_b by construction, exactly the
        # a.doc_id < b.doc_id join condition over unique (doc, shingle)
        # rows. ONLY valid under a df cap: an unpruned stop-shingle would
        # make collect_list buffer an unbounded posting list, which is
        # why the uncapped path below keeps the join.
        posting = sh.groupBy("shingle").agg(
            F.sort_array(F.collect_list("doc_id")).alias("docs")
        )
        cand = F.flatten(
            F.transform(
                F.col("docs"),
                lambda x, i: F.transform(
                    F.slice(F.col("docs"), i + 2, max_shingle_df),
                    lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                ),
            )
        )
        inter = (
            posting.filter(F.size("docs") >= 2)
            .select(F.explode(cand).alias("p"))
            .groupBy(
                F.col("p.doc_a").alias("doc_a"),
                F.col("p.doc_b").alias("doc_b"),
            )
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count("*").alias("n_inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", trunc6(jac).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# C2b — MinHash + LSH banding (approximate near-dup at scale)
# --------------------------------------------------------------------------
@query("c02_minhash_lsh", driver=False)
def c02_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2b: MinHash(k=32) + LSH(8 bands × 4 rows) candidate generation,
    then exact Jaccard verification on candidates only.

    No SQL oracle (the permutation family isn't reasonably expressible in
    DuckDB); correctness = recall vs the exact C2a pairs, asserted in
    tests/test_dedup.py. Scale: signatures are 32 ints per doc computed in
    ONE groupBy pass (32 min-aggregates over the shingle explode); band
    buckets equi-join — only docs sharing a band collide, so the join is
    O(bucket²) per bucket instead of O(corpus²).
    """
    docs = load(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=_JACCARD_THRESHOLD)


def minhash_signatures(
    docs: DataFrame, *, k: int = 32, shingle_k: int = _SHINGLE_K
) -> DataFrame:
    """(doc_id, mh0..mh{k-1}) MinHash signature table, one shuffle."""
    coeffs = _perm_coeffs(k)
    sh = rebalance(docs).select(
        "doc_id", F.explode(word_shingles(tokens("text"), shingle_k)).alias("shingle")
    )
    # 31-bit base hash keeps a*h + b < 2^62: safe under ANSI arithmetic.
    h = F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE_P)).alias("h")
    sh = sh.select("doc_id", h)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % _MERSENNE_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_bucket_index(
    docs: DataFrame, *, k: int = 32, bands: int = 8
) -> DataFrame:
    """(doc_id, band, bucket) LSH index rows for ``docs``.

    One projection + posexplode emits all (band, bucket) rows in a single
    pass over the signatures — no per-band re-read, no 8-way union. The
    index is k ints + 1 bucket hash per doc (~200 B/doc): the canonical
    "persist the index, not the corpus" LSH shape, and the table an
    incremental ingest pipeline appends to per batch
    (:func:`probe_near_dup_batch`).
    """
    rows = k // bands
    sig = minhash_signatures(docs, k=k)
    band_hashes = F.array(
        *[
            F.xxhash64(*[f"mh{band * rows + r}" for r in range(rows)])
            for band in range(bands)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_hashes).alias("band", "bucket"))


def verify_jaccard_pairs(
    candidates: DataFrame,
    texts: DataFrame,
    *,
    threshold: float,
    shingle_k: int = _SHINGLE_K,
) -> DataFrame:
    """Exact-Jaccard verification of (doc_a, doc_b) candidates — per PAIR,
    with JVM array ops. ``word_shingles`` returns the distinct shingle
    SET, so size(array_intersect)/size-union is exact set Jaccard; no
    explode, no inverted-index re-join, no groupBy. Only candidate docs
    are ever re-shingled (two key-joins against ``texts``), so
    verification cost is O(candidates × doc_len) — at a ~1% near-dup rate
    that's negligible next to the signature pass, and at 100 TB the
    candidate table is the small side by construction."""
    texts = texts.select("doc_id", "text")
    pairs = candidates.join(
        texts.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")),
        "doc_a",
    ).join(
        texts.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")),
        "doc_b",
    )
    shingled = pairs.select(
        "doc_a",
        "doc_b",
        word_shingles(tokens("text_a"), shingle_k).alias("sha"),
        word_shingles(tokens("text_b"), shingle_k).alias("shb"),
    ).select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("sha", "shb")).alias("n_inter"),
        F.size("sha").alias("na"),
        F.size("shb").alias("nb"),
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    )
    return shingled.filter(jac >= threshold).select(
        "doc_a", "doc_b", trunc6(jac).alias("jaccard")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    threshold: float = 0.1,
    k: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash, verified with exact Jaccard.

    ``max_bucket_size`` is the adversarial-skew guard for 100 TB runs:
    the bucket self-join is Σ_bucket |bucket|², so ONE hot bucket — a
    mega-cluster of identical documents, or an adversarial corpus
    engineered to collide a band — degrades the whole stage to O(n²).
    With the cap, (band, bucket) groups above the cap are dropped before
    the self-join, bounding every bucket's contribution to cap². Recall
    contract: a pair losing a capped band still collides on its other
    ``bands−1`` bands unless the docs are so similar that EVERY band is
    a mega-bucket — i.e. the pair sits inside a duplicate mega-cluster,
    which exact dedup (C1) removes more cheaply than pairwise LSH; the
    skew stress test pins both the bound and the retained off-cluster
    recall. Default None preserves the registered query's semantics.
    """
    # Persist the bucket table: the LSH self-join reads it from BOTH sides,
    # and with AQE broadcasting one side there is no common shuffle exchange
    # for ReuseExchange to share — without a cache the whole shingle-explode
    # + 32-min-aggregate signature pass runs twice (observed 2.6 s -> 0.8 s
    # at sf0.1). Spark's CacheManager dedupes repeat calls by
    # canonicalized plan.
    # persist BEFORE the size-filter derivation: `small` aggregates the
    # bucket table and the self-join reads it twice more — without the
    # cache the signature pass would run three times on the capped path
    buckets = lsh_bucket_index(docs, k=k, bands=bands).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if max_bucket_size is not None:
        small = (
            buckets.groupBy("band", "bucket")
            .agg(F.count("*").alias("sz"))
            .filter(F.col("sz") <= max_bucket_size)
            .select("band", "bucket")
        )
        buckets = buckets.join(small, ["band", "bucket"])
    a = buckets.alias("a")
    b = buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return verify_jaccard_pairs(candidates, docs, threshold=threshold)


def probe_near_dup_batch(
    new_docs: DataFrame,
    index: DataFrame,
    corpus_texts: DataFrame,
    *,
    threshold: float = 0.1,
    k: int = 32,
    bands: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup detection for ONE ingest batch.

    ``index`` is the persisted (doc_id, band, bucket) LSH table covering
    every previously ingested document; ``corpus_texts`` must serve
    (doc_id, text) for both old and new docs. Returns ``(pairs,
    new_buckets)``: the verified near-dup pairs that involve at least one
    NEW document (cross-batch and within-batch), and the bucket rows to
    append to the index.

    This is the 100 TB ingest shape: signatures are computed ONLY for the
    new batch (the expensive shingle+min-agg pass never re-reads the
    corpus), the probe is a bucket-keyed equi-join of the small new-batch
    index against the big append-only one (AQE broadcasts the new side),
    and the index grows by ~200 B/doc/band. Determinism: the permutation
    family is seeded, so a doc's signature is identical whichever batch
    it arrives in — incremental pairs across batches exactly equal the
    full-corpus recompute (asserted in tests/test_dedup.py).
    """
    new_buckets = lsh_bucket_index(new_docs, k=k, bands=bands).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    both = index.unionByName(new_buckets)
    a = new_buckets.alias("a")
    b = both.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    pairs = verify_jaccard_pairs(candidates, corpus_texts, threshold=threshold)
    return pairs, new_buckets


# --------------------------------------------------------------------------
# C2c — SimHash (64-bit, stored as two 32-bit halves) + chunk blocking
# --------------------------------------------------------------------------
@query("c02_simhash", driver=False)
def c02_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2c: 64-bit SimHash near-dup pairs with Hamming distance ≤ 3.

    Signature: bit b = sign of Σ_tokens (±1 by bit b of xxhash64(token)).
    Stored as two 32-bit halves (hi/lo) so assembling bits never overflows
    64-bit signed arithmetic under ANSI mode. Blocking: split the 64 bits
    into 4 × 16-bit chunks — by pigeonhole any pair with Hamming ≤ 3 shares
    at least one exact chunk, so the equi-join on (chunk_index, chunk_value)
    has perfect recall at this radius (a larger radius needs more chunks).
    No oracle (bit-level SQL would re-implement the operator); behavior is
    tested in tests/test_dedup.py with planted near-duplicates.
    """
    docs = load(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=3)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sim_lo, sim_hi) — 64-bit SimHash as two 32-bit halves."""
    tok = rebalance(docs).select("doc_id", F.explode(tokens("text")).alias("token"))
    tok = tok.filter(F.col("token") != "").select(
        "doc_id", F.xxhash64("token").alias("h")
    )
    bit_aggs = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(64)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_aggs)
    lo = None
    hi = None
    for b in range(32):
        term_lo = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        term_hi = F.when(F.col(f"s{b + 32}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        lo = term_lo if lo is None else lo + term_lo
        hi = term_hi if hi is None else hi + term_hi
    return sums.select(
        "doc_id", lo.cast("bigint").alias("sim_lo"), hi.cast("bigint").alias("sim_hi")
    )


def simhash_pairs(docs: DataFrame, *, max_hamming: int = 6) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, chunk-blocked."""
    sig = simhash_signatures(docs)
    chunk_exprs = []
    for j in range(4):
        half = F.col("sim_lo") if j < 2 else F.col("sim_hi")
        shift = 16 * (j % 2)
        chunk_exprs.append(F.shiftright(half, shift).bitwiseAND(F.lit(0xFFFF)))
    blocked = sig.select(
        "doc_id",
        "sim_lo",
        "sim_hi",
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_idx", "chunk"),
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    hamming = F.bit_count(
        F.col("a.sim_lo").bitwiseXOR(F.col("b.sim_lo"))
    ) + F.bit_count(F.col("a.sim_hi").bitwiseXOR(F.col("b.sim_hi")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --------------------------------------------------------------------------
# C2f — fuzzy entity join: edit-distance ≤ 1 via deletion-neighborhood
# blocking (FastSS; record linkage without the n² cross join)
# --------------------------------------------------------------------------
_FUZZY_JOIN_SQL = """
WITH blocked AS (
  SELECT c_custkey, c_name, u.k
  FROM (
    SELECT c_custkey, c_name,
           list_distinct(list_append(list_transform(
             generate_series(1, len(c_name)),
             i -> substr(c_name, 1, i - 1)
                  || substr(c_name, i + 1, len(c_name))),
             c_name)) AS ks
    FROM customer
  ), UNNEST(ks) AS u(k)
),
cand AS (
  SELECT DISTINCT a.c_custkey AS cust_a, a.c_name AS name_a,
                  b.c_custkey AS cust_b, b.c_name AS name_b
  FROM blocked a JOIN blocked b
    ON a.k = b.k AND a.c_custkey < b.c_custkey
)
SELECT cust_a, cust_b,
       CAST(levenshtein(name_a, name_b) AS INT) AS edit_distance
FROM cand WHERE levenshtein(name_a, name_b) <= 1
"""


def fuzzy_join_dist1(
    df: DataFrame, id_col: str, name_col: str
) -> DataFrame:
    """(id_a, id_b, edit_distance) — all pairs within Levenshtein
    distance 1, with PERFECT recall and no cross join.

    Blocking is the FastSS deletion neighborhood: each row emits its
    name plus every single-character deletion as join keys. Any pair at
    distance ≤ 1 shares a key — equal names share the name itself, a
    substitution at position i shares both names' delete-at-i, an
    insertion/deletion shares the shorter name (it IS a deletion of the
    longer and its own identity key) — so the equi-join on keys is a
    complete candidate generator and ``levenshtein`` verifies exactly.
    Scale: keys per row = len+1 (~19 for these names); candidate volume
    is Σ_bucket |bucket|² over near-collision buckets, never n²; the
    verify runs only on blocked pairs. The classic record-linkage /
    entity-resolution shape (the deletion dictionary is what a 100 TB
    spell-join materializes instead of a cross join).
    """
    keys = F.expr(
        f"array_union(array({name_col}), "
        f"transform(sequence(1, length({name_col})), "
        f"i -> concat(substring({name_col}, 1, i-1), "
        f"substring({name_col}, i+1, length({name_col})))))"
    )
    blocked = df.select(
        F.col(id_col), F.col(name_col), F.explode(keys).alias("k")
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"a.{name_col}").alias("name_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"b.{name_col}").alias("name_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("edit_distance", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_distance") <= 1)
        .select(
            F.col("id_a").alias("cust_a"),
            F.col("id_b").alias("cust_b"),
            "edit_distance",
        )
    )


@query(
    "c02_fuzzy_name_join",
    # demoted in the round-9 rotation: ledger-closed one-shot (driver-green r8); c02 stays in-window via c02_simhash_portable;
    # stays on the full bench/oracle-parity surface
    driver=False,
    oracle=_FUZZY_JOIN_SQL,
)
def c02_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2f: customer names within edit distance 1 — fuzzy entity
    resolution via :func:`fuzzy_join_dist1`. Oracle replays the same
    deletion-neighborhood blocking and ``levenshtein`` verify in DuckDB;
    equality with the unblocked brute-force distance join is pinned in
    tests/test_dedup.py (perfect recall, also checked on
    insertion/deletion cases the fixture lacks)."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return fuzzy_join_dist1(cust, "c_custkey", "c_name")


# --------------------------------------------------------------------------
# C2b' — portable-hash MinHash+LSH twin (oracle-backed)
# --------------------------------------------------------------------------
_MP_K, _MP_BANDS, _MP_ROWS, _MP_THRESH = 32, 8, 4, 0.1


def _minhash_portable_oracle() -> str:
    """DuckDB oracle for c02_minhash_portable — banded MinHash + LSH +
    exact-Jaccard verify, re-implemented end to end in SQL.

    Portable because the twin's k hash functions are salted md5 digests
    (``md5('mh<i>:' || shingle)``): a fixed-length lowercase-hex string
    whose LEXICOGRAPHIC min is its numeric 128-bit min, so ``MIN(str)``
    IS the minhash — no modular arithmetic, no 64-bit multiply, nothing
    either engine spells differently. Band buckets are md5 over the
    concatenated row mins; candidates come from the (band, bucket)
    self-join; verification is exact set Jaccard over 3-word shingles
    (list ops in DuckDB ≡ array ops in Spark) with the trunc6 output
    convention."""
    mh_aggs = ",\n      ".join(
        f"MIN(md5('mh{i}:' || shingle)) AS mh{i}" for i in range(_MP_K)
    )
    bucket_select = " UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, md5(concat_ws('|', "
        + ",".join(f"mh{band * _MP_ROWS + r}" for r in range(_MP_ROWS))
        + ")) AS bucket FROM sig"
        for band in range(_MP_BANDS)
    )
    shingles = (
        "CASE WHEN len({tk}) >= 3 THEN list_distinct(list_transform("
        "generate_series(1, len({tk}) - 2), "
        "i -> array_to_string(list_slice({tk}, i, i + 2), ' '))) "
        "ELSE [] END"
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id, s.shingle
      FROM (SELECT doc_id, {shingles.format(tk="tk")} AS shingles FROM t),
           UNNEST(shingles) AS s(shingle)
    ),
    sig AS (
      SELECT doc_id,
          {mh_aggs}
      FROM sh GROUP BY doc_id
    ),
    buckets AS ({bucket_select}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    jc AS (
      SELECT cand.doc_a, cand.doc_b,
             len(list_intersect({shingles.format(tk="ta.tk")},
                                {shingles.format(tk="tb.tk")})) AS n_inter,
             len({shingles.format(tk="ta.tk")}) AS na,
             len({shingles.format(tk="tb.tk")}) AS nb
      FROM cand
      JOIN t ta ON ta.doc_id = cand.doc_a
      JOIN t tb ON tb.doc_id = cand.doc_b
    )
    SELECT doc_a, doc_b,
           floor((CAST(n_inter AS DOUBLE) / (na + nb - n_inter)) * 1000000)
             / 1000000 AS jaccard
    FROM jc
    WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= {_MP_THRESH}
    """


def minhash_portable_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH rows from salted-md5 minhashes — same
    one-pass shape as :func:`lsh_bucket_index`, hash family swapped for
    the cross-engine-portable one. md5 costs more per shingle than
    xxhash64 (why the production index keeps xxhash64); string mins ride
    the same partial-aggregated groupBy."""
    sh = rebalance(docs).select(
        "doc_id",
        F.explode(word_shingles(tokens("text"), _SHINGLE_K)).alias("shingle"),
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"mh{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(_MP_K)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    band_hashes = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[f"mh{band * _MP_ROWS + r}" for r in range(_MP_ROWS)],
                )
            )
            for band in range(_MP_BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_hashes).alias("band", "bucket"))


@query(
    "c02_minhash_portable",
    # demoted in the round-9 rotation: ledger-closed one-shot (driver-green r8); c02 stays in-window via c02_simhash_portable;
    # stays on the full bench/oracle-parity surface
    driver=True,  # promoted r14: fresh oracle-backed rotation (VERDICT r13 task 8)
    oracle=_minhash_portable_oracle(),
)
def c02_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2b': the oracle-backed MinHash — salted-md5 hash family so the
    ENTIRE banded-LSH pipeline (shingle → 32 string-min hashes → 8×4
    band buckets → candidate self-join → exact-Jaccard verify) re-runs
    independently in DuckDB. ``c02_minhash_lsh`` (xxhash64 + Mersenne
    permutations) remains the production path with its recall tests;
    verification reuses the production :func:`verify_jaccard_pairs`.
    Hash parity at sf0.001/0.01/0.1 (28/25/256 pairs)."""
    docs = load(spark, sf_dir, "documents")
    buckets = minhash_portable_buckets(docs)
    a = buckets.alias("a")
    b = buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return verify_jaccard_pairs(candidates, docs, threshold=_MP_THRESH)


# --------------------------------------------------------------------------
# C2c' — portable-hash SimHash twin (oracle-backed)
# --------------------------------------------------------------------------
def _simhash_portable_oracle() -> str:
    """DuckDB oracle for c02_simhash_portable — the ENTIRE SimHash
    pipeline re-implemented independently in SQL. Possible because the
    portable variant derives its 64 bit-hashes from md5 hex digits
    (available in both engines, byte-identical on utf-8 text) instead of
    Spark's xxhash64 (which DuckDB lacks — the reason c02_simhash itself
    stays no-oracle). Same token definition as every text oracle
    (string_split_regex ≡ functions/textfns.tokens, proven by the c08
    oracles), same two-halves signature layout, same 4×16-bit pigeonhole
    blocking, same Hamming≤3 verify."""

    def digit(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(hx, {i + 1}, 1)) - 1)"

    sum_cols = ",\n      ".join(
        f"SUM(CASE WHEN (({digit(b // 4)} >> {b % 4}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS s{b}"
        for b in range(64)
    )
    lo = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32)
    )
    hi = " + ".join(
        f"(CASE WHEN s{b + 32} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(32)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, t.token
      FROM documents,
           UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS t(token)
      WHERE t.token <> ''
    ),
    h AS (SELECT doc_id, md5(token) AS hx FROM tok),
    sums AS (
      SELECT doc_id,
          {sum_cols}
      FROM h GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, CAST({lo} AS BIGINT) AS sig_lo,
                   CAST({hi} AS BIGINT) AS sig_hi FROM sums),
    blocked AS (
      SELECT doc_id, sig_lo, sig_hi, j.j AS chunk_idx,
             ((CASE WHEN j.j < 2 THEN sig_lo ELSE sig_hi END)
              >> (16 * (j.j % 2))) & 65535 AS chunk
      FROM sig, (VALUES (0),(1),(2),(3)) j(j)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig_lo, b.sig_lo))
                + bit_count(xor(a.sig_hi, b.sig_hi)) AS INT) AS hamming
    FROM blocked a
    JOIN blocked b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
                  AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig_lo, b.sig_lo))
          + bit_count(xor(a.sig_hi, b.sig_hi)) <= 3
    """


def simhash_portable_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig_lo, sig_hi) — 64-bit SimHash whose per-token bit
    source is the md5 hex digest instead of xxhash64.

    Same algorithm, same layout, same scale story as
    :func:`simhash_signatures`; only the hash family differs. md5 is
    ~3-4× more CPU per token than xxhash64 (why the DEFAULT simhash
    keeps xxhash64), but it exists in DuckDB, which buys this variant a
    full independent SQL re-implementation as its oracle — the
    cross-engine-verifiable member of the SimHash family.
    """
    tok = rebalance(docs).select(
        "doc_id", F.explode(tokens("text")).alias("token")
    )
    tok = tok.filter(F.col("token") != "").select(
        "doc_id",
        *[
            F.expr(
                f"instr('0123456789abcdef', substring(md5(token), {i + 1}, 1)) - 1"
            ).alias(f"d{i}")
            for i in range(16)
        ],
    )
    bit_aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col(f"d{b // 4}"), b % 4).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(64)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_aggs)
    lo = hi = None
    for b in range(32):
        term_lo = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        term_hi = F.when(F.col(f"s{b + 32}") > 0, F.lit(1 << b)).otherwise(
            F.lit(0)
        )
        lo = term_lo if lo is None else lo + term_lo
        hi = term_hi if hi is None else hi + term_hi
    return sums.select(
        "doc_id",
        lo.cast("bigint").alias("sig_lo"),
        hi.cast("bigint").alias("sig_hi"),
    )


def simhash_portable_pairs(docs: DataFrame, *, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs from the portable signatures — chunk-blocked
    exactly like :func:`simhash_pairs` (4×16-bit pigeonhole, perfect
    recall at Hamming ≤ 3)."""
    sig = simhash_portable_signatures(docs)
    chunk_exprs = []
    for j in range(4):
        half = F.col("sig_lo") if j < 2 else F.col("sig_hi")
        chunk_exprs.append(
            F.shiftright(half, 16 * (j % 2)).bitwiseAND(F.lit(0xFFFF))
        )
    blocked = sig.select(
        "doc_id",
        "sig_lo",
        "sig_hi",
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_idx", "chunk"),
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    hamming = F.bit_count(
        F.col("a.sig_lo").bitwiseXOR(F.col("b.sig_lo"))
    ) + F.bit_count(F.col("a.sig_hi").bitwiseXOR(F.col("b.sig_hi")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


@query("c02_simhash_portable", oracle=_simhash_portable_oracle(), driver=False)
def c02_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2c': the oracle-backed SimHash — md5-hex bit source so the full
    pipeline (tokenize → 64 bit-majorities → two-halves signature →
    pigeonhole chunk blocking → Hamming≤3 verify) re-runs independently
    in DuckDB. The xxhash64 ``c02_simhash`` remains the production fast
    path; this twin pins the ALGORITHM cross-engine the way
    c03_semdedup_exact pins the celled semdedup. Hash-parity verified at
    sf0.001/0.01/0.1 (23/12/312 pairs)."""
    docs = load(spark, sf_dir, "documents")
    return simhash_portable_pairs(docs, max_hamming=3)


# --------------------------------------------------------------------------
# C2e — dedup clusters: connected components over near-dup pairs
# --------------------------------------------------------------------------
def dedup_clusters(pairs: DataFrame, *, max_iters: int = 20) -> DataFrame:
    """(doc_id, cluster_id) connected components over (doc_a, doc_b) edges —
    cluster_id = the smallest doc_id in the component (the canonical
    keeper, matching C1's deterministic min-id rule).

    Near-dup dedup is transitive in practice (A≈B, B≈C → drop two of
    three), so pairs must fold into components before rows can be
    dropped. Algorithm: min-label propagation WITH pointer jumping — each
    round every node takes the min over its own, its neighbors', and its
    label's label (path compression). Propagation alone needs
    O(diameter) rounds; the jumping step halves pointer depth per round,
    so deep chains converge in ~O(log n) rounds (a 200-node chain closes
    in <10 — asserted in tests/test_dedup.py). Near-dup clusters are
    shallow hub-and-spoke anyway, so typical corpora converge in 3-5.

    Scale notes: each round is one equi-join (edges ⋈ labels, shuffled on
    the node key) + aggregate — no cross joins, state is O(nodes).
    ``localCheckpoint`` truncates the lineage each round: without it the
    plan doubles per iteration and Catalyst analysis, not the data, becomes
    the bottleneck (the standard iterative-algorithm discipline on Spark).
    Convergence is checked by counting changed labels with an
    ``Observation`` attached to the round's eager checkpoint (r13,
    session 5): the checkpoint materialization is already a full pass
    over the round's labels, so the observed ``sum(_changed)`` rides
    that job for free — previously a separate ``count()`` job per round
    (cheap per round, but it is pure fixed cost that repeats every
    iteration and at every scale).
    """
    labels, _ = _cluster_labels_with_drop_count(pairs, max_iters=max_iters)
    return labels


def _cluster_labels_with_drop_count(
    pairs: DataFrame, *, max_iters: int = 20
) -> "tuple[DataFrame, int]":
    """Implementation of :func:`dedup_clusters` that also returns the
    number of non-keeper nodes (``label != node`` in the final labels) —
    observed on the final round's checkpoint job, so callers that need
    the drop-set size for a broadcast decision (``near_dedup_corpus``)
    do not pay a separate ``count()`` job over the result."""
    edge_obs = Observation()
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
        .observe(edge_obs, F.count(F.lit(1)).alias("n_edges"))
        .localCheckpoint(eager=True)
    )
    # Checkpoint leaves carry no size statistics, so every per-round join
    # (edges ⋈ labels, propagated ⋈ parent) plans as an exchange-backed
    # join even when the edge set is a few hundred candidate pairs —
    # pure fixed cost repeated every round. The edge count rides the
    # checkpoint job above for free; when the graph is small enough that
    # a node-table broadcast is safely bounded (rows ≤ 2·n_edges ≤ 2·cap
    # of (long, long) pairs — the 1M-edge default is ≤ ~32 MB raw per
    # side), hint the per-round build sides broadcast and the rounds run
    # exchange-free. Above the cap the rounds keep the bounded-memory
    # shuffled plan (same size-gated adaptivity as the drop-set
    # broadcast below). Conf is a ROW COUNT of directed edges, not
    # bytes.
    n_edges = edge_obs.get["n_edges"] or 0
    max_bcast_edges = int(
        pairs.sparkSession.conf.get(
            "spark.spark_graft.dedupclusters.broadcastMaxEdges", "1000000"
        )
    )
    _b = F.broadcast if n_edges <= max_bcast_edges else (lambda df: df)
    labels = None
    n_changed = n_drops = 0
    for _ in range(max_iters):
        if labels is None:
            # Round 1 specialized (r14): the initial labels are the
            # identity (node = own id), so the neighbor join degenerates
            # to ONE aggregate over the checkpointed edges — min neighbor
            # per node, label = least(own, neighbor-min). The symmetric
            # edge set guarantees every node appears as ``src``, so no
            # separate distinct-node frame is needed (the r13 lazy-init
            # version planned that distinct twice per round-1 reference;
            # this removes it and the join outright).
            propagated = (
                edges.groupBy("src")
                .agg(F.min("dst").alias("nlabel"))
                .select(
                    F.col("src").alias("node"),
                    F.least(F.col("src"), F.col("nlabel")).alias("label"),
                    F.col("src").alias("prev"),
                )
            )
        else:
            neighbor_min = (
                edges.join(_b(labels), edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("label").alias("nlabel"))
            )
            propagated = labels.join(
                _b(neighbor_min), labels.node == neighbor_min.src, "left"
            ).select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias(
                    "label"
                ),
                F.col("label").alias("prev"),
            )
        # Pointer jumping (path compression): label[u] ← label[label[u]].
        # Neighbor propagation alone moves a label ONE hop per round
        # (O(diameter) rounds on a chain); chasing the label's own label
        # halves pointer depth each round, giving ~O(log n) convergence —
        # the shortcutting idea behind large-star/small-star contraction
        # without re-deriving the edge set every round.
        parent = propagated.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        updated = propagated.join(
            _b(parent), propagated.label == parent.p_node, "left"
        ).select(
            "node",
            F.least(F.col("label"), F.coalesce("p_label", "label")).alias(
                "label"
            ),
            (
                F.least(F.col("label"), F.coalesce("p_label", "label"))
                < F.col("prev")
            ).alias("_changed"),
        )
        # The eager checkpoint is the round's one job; the convergence
        # metric rides it (CollectMetrics is evaluated during the
        # checkpoint materialization), so no second count() job runs.
        # The non-keeper count rides the same job: when the loop breaks
        # (n_changed == 0) the labels are final and the last round's
        # n_drops is exactly count(label != node) over the result.
        changed_obs = Observation()
        updated = updated.observe(
            changed_obs,
            F.sum(F.col("_changed").cast("long")).alias("n_changed"),
            F.sum(
                (F.col("node") != F.col("label")).cast("long")
            ).alias("n_drops"),
        ).localCheckpoint(eager=True)
        metrics = changed_obs.get
        n_changed = metrics["n_changed"] or 0
        n_drops = metrics["n_drops"] or 0
        labels = updated.drop("_changed")
        if n_changed == 0:
            break
    else:
        # Exhausting max_iters without a fixed point means some component
        # has diameter > max_iters; returning split clusters would make a
        # dedup pass silently under-drop duplicates. Fail loudly instead.
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds "
            f"({n_changed} labels still changing); raise max_iters or use "
            "star-contraction for deep-chain graphs"
        )
    return (
        labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
        ),
        n_drops,
    )


# Shared oracle prefix: exact-Jaccard edge set -> transitive closure via
# recursive CTE (UNION-distinct terminates: finite reachable-label space),
# cluster id = min reachable node.
_CLOSURE_CTE = f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, unnest({sql_word_shingles(sql_tokens('text'), _SHINGLE_K)}) AS shingle
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)
            >= {_JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, label) AS (
      SELECT DISTINCT src AS node, src AS label FROM edges
      UNION
      SELECT e.src AS node, r.label AS label
      FROM edges e JOIN reach r ON r.node = e.dst
    )
"""


@query(
    "c02_dedup_clusters",
    # Connected components ARE SQL-expressible when the edge set is (the
    # exact Jaccard pairs above): see _CLOSURE_CTE.
    oracle=_CLOSURE_CTE
    + """
    SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
    """,
    driver=False,
)
def c02_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2e: connected components over the exact near-dup pairs — the
    cluster table a dedup pass drops rows against (keeper = min doc_id).

    The oracle computes the same components by transitive closure
    (recursive CTE, min reachable id); the Spark side uses pointer-jumping
    label propagation because closure materializes O(Σ comp²) state —
    fine for an sf0.01 oracle, not for a 100 TB corpus."""
    docs = load(spark, sf_dir, "documents")
    return dedup_clusters(ngram_jaccard_pairs(docs, threshold=_JACCARD_THRESHOLD))


# Pruned closure prefix (r13): the SCALE-SAFE near-dedup composition's
# oracle. Exact-dedup first (min-doc_id keeper per content fingerprint —
# the pinned law, tests/test_scalegen_recipe.py), then the inverted-index
# Jaccard join over SURVIVORS with the max_shingle_df stop-shingle prune
# ON, then transitive closure. Every stage is spelled identically to the
# Spark composition so the driver hash compare pins the full pipeline.
_PRUNED_CLOSURE_CTE = f"""
    WITH RECURSIVE surv AS (
      SELECT doc_id, source, n_chars, text FROM (
        SELECT doc_id, source, n_chars, text,
               ROW_NUMBER() OVER (
                 PARTITION BY
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                 ORDER BY doc_id
               ) AS rn
        FROM documents
      ) WHERE rn = 1
    ),
    sh0 AS (
      SELECT doc_id, unnest({sql_word_shingles(sql_tokens('text'), _SHINGLE_K)}) AS shingle
      FROM surv
    ),
    keepsh AS (
      SELECT shingle FROM sh0 GROUP BY shingle
      HAVING COUNT(*) <= {_PRUNE_MAX_DF}
    ),
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keepsh USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)
            >= {_JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, label) AS (
      SELECT DISTINCT src AS node, src AS label FROM edges
      UNION
      SELECT e.src AS node, r.label AS label
      FROM edges e JOIN reach r ON r.node = e.dst
    )
"""


def near_dedup_corpus(
    docs: DataFrame,
    *,
    threshold: float = _JACCARD_THRESHOLD,
    max_shingle_df: "int | None" = _PRUNE_MAX_DF,
) -> DataFrame:
    """The production near-dedup composition: exact-dedup FIRST, then
    df-pruned near-dup pairs over the survivors, then connected
    components, then anti-join the non-keepers away.

    Stage order is the scale contract (the pinned law,
    tests/test_scalegen_recipe.py): exact copies are the bulk of any raw
    crawl's duplication and each exact-dup family of size m would
    otherwise contribute m² rows to EVERY shingle bucket it touches —
    dedup-first removes that mass for the price of one hash-keyed window.
    The surviving pair stage runs with ``max_shingle_df`` ON, so its
    inverted-index join cost is Σ_shingle min(df, cap)² — bounded under
    stop-shingle skew where the unpruned join's Σ df² is not
    (tests/test_scale_stress.py: ×64 candidate growth under 8× corpus
    replication for the unpruned join, bounded for this one).

    Per-stage scale shape: (1) exact keeper = row_number over the content
    fingerprint — compiles to WindowGroupLimit, partial top-1 before the
    exchange, so dup-heavy corpora shrink map-side; (2) pruned pairs =
    equi-join on the capped shingle index, never all-pairs; (3) clusters
    = pointer-jumping over candidate-sized edges; (4) the only remaining
    corpus-sized work is one LEFT ANTI hash join on doc_id — the drop set
    broadcasts at any realistic duplicate rate.

    The survivor frame feeds TWO consumers — the pair index and the final
    anti-join probe — and the cluster stage in between is eager
    (``dedup_clusters`` checkpoints per round), so without materialization
    the scan+fingerprint+window subtree executes once per consumer. The
    slim projection (only the output columns plus the derived shingle
    array) followed by a lazy ``localCheckpoint`` computes survivors
    once: at corpus scale the second consumer re-reads survivor-sized
    blocks instead of re-scanning the raw corpus, and locally it is the
    faster plan (r13 min-of-4 at sf0.1: 3.87 s vs 4.24 s recompute; a
    FULL-width checkpoint loses — 4.75 s — which is why the projection
    precedes it). Storage trade, stated plainly: the composition pins
    TWO local checkpoints in executor storage — the eager full-width
    base (including text) and this lazy survivor frame whose
    ``_shingles`` array is roughly 3× the survivor TEXT bytes (k-word
    shingles overlap) — non-fault-tolerant storage that is still
    survivor-sized and df-bounded, measured a win at sf10, unlike the
    ~10×-corpus exploded-index checkpoint that was measured and
    rejected in r13.

    The survivor checkpoint carries ``word_shingles(tokens(text))``
    INSTEAD of ``text`` (r13, session 5): nothing downstream needs the
    raw text — the pair stage needs only the shingles and the final
    probe only the ids — and the pair stage's index subtree is planned
    FOUR times (hot set, sizes, both self-join sides), so shingling from
    text paid the regex tokenize + slide + distinct four times per
    composition. Deriving the array once makes each index build a cheap
    explode over stored arrays (measured at sf0.1: one index build
    0.465 s from text vs 0.165 s from the array). The rows are identical
    by construction: the expression moved, not changed.

    The shingle projection must run WIDE: AQE right-sizes the fingerprint
    window's exchange by BYTES, and at fixture scale that coalesces to
    one partition — which would serialize the per-row shingling (the one
    expensive expression) onto a single core inside the checkpoint job
    (measured: 6.98 s single-partition vs 0.80 s wide at sf0.1). So the
    window output is checkpointed first (eager — this composition is
    already an eager builder via the cluster stage), ``rebalance``-d
    (widens iff under-parallelized: locally yes, a no-op on a
    production-width shuffle), and only then shingled into the lazy
    survivor checkpoint that the index and the probe consume.
    """
    survivors = _exact_dedup_survivors(docs)
    sh = survivors.select("doc_id", F.explode("_shingles").alias("shingle"))
    pairs = _jaccard_pairs_from_index(
        sh, threshold=threshold, max_shingle_df=max_shingle_df
    )
    return _drop_non_keepers(survivors, pairs)


def _exact_dedup_survivors(docs: DataFrame) -> DataFrame:
    """Exact-dedup keeper per content fingerprint, checkpointed, with the
    derived ``_shingles`` array (see :func:`near_dedup_corpus` docstring
    for the width/ordering rationale). Shared by the exact df-pruned and
    the banded-LSH near-dedup compositions."""
    fp = canonical_fingerprint("text")
    w = Window.partitionBy("_fp").orderBy("doc_id")
    base = (
        docs.select("doc_id", "source", "n_chars", "text")
        .withColumn("_fp", fp)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
        .localCheckpoint(eager=True)
    )
    return (
        rebalance(base)
        .select(
            "doc_id",
            "source",
            "n_chars",
            word_shingles(tokens("text"), _SHINGLE_K).alias("_shingles"),
        )
        .localCheckpoint(eager=False)
    )


def _drop_non_keepers(survivors: DataFrame, pairs: DataFrame) -> DataFrame:
    """Cluster the near-dup pairs and anti-join the non-keepers away.

    The final anti-join probes the corpus-sized survivor checkpoint
    against the drop set. Checkpoint leaves carry NO size statistics
    (ExistingRDD defaults to "huge"), so the planner picks a
    SortMergeJoin and the SURVIVORS pay a full doc_id shuffle + sort —
    even though the drop set is tiny at any realistic near-dup rate
    among exact-dedup survivors. The drop-set size was observed on the
    cluster stage's final checkpoint job (r14 — previously a separate
    scalar count() job per composition); broadcast iff it fits
    comfortably (guide §3.1: broadcast replaces the shuffle of the
    large side). The cap is a ROW COUNT conf, not bytes (the hashed
    relation costs roughly 3-5x the ~8 B/id raw payload per executor
    — the 2M default is ~16 MB of ids, well under broadcast-hazard
    territory), and NOT unconditional: a pathological corpus where
    most survivors are near-dups of each other falls back to the
    bounded-memory sort-merge plan instead of an over-the-cap
    broadcast (same size-gated adaptivity as the decontamination
    materialize gate).
    """
    clusters, n_drops = _cluster_labels_with_drop_count(pairs)
    drops = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    max_bcast = int(
        survivors.sparkSession.conf.get(
            "spark.spark_graft.neardedup.broadcastMaxDrops", "2000000"
        )
    )
    if n_drops <= max_bcast:
        drops = F.broadcast(drops)
    return survivors.join(drops, "doc_id", "left_anti").select(
        "doc_id", "source", "n_chars"
    )


@query(
    "c02_near_dedup_corpus",
    oracle=_PRUNED_CLOSURE_CTE
    + """
    , clusters AS (
      SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM surv d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    """,
    driver=True,
)
def c02_near_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2g: the DEDUPED CORPUS itself — the query every upstream operator
    in the C2 family exists to serve, recomposed in r13 as the
    SCALE-SAFE plan (VERDICT r12 task 1): exact-dedup first, then
    df-pruned pairs, then components, then anti-join (see
    :func:`near_dedup_corpus` for the per-stage scale argument). The
    previous composition — pairs from the UNPRUNED exact index join,
    whose Σ df² cost is unbounded under stop-shingle skew — survives as
    the named diagnostic ``c02_near_dedup_exactpairs`` below, still
    oracle-backed.
    """
    docs = load(spark, sf_dir, "documents")
    return near_dedup_corpus(docs)


@query(
    "c02_near_dedup_exactpairs",
    oracle=_CLOSURE_CTE
    + """
    , clusters AS (
      SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    """,
    driver=False,
)
def c02_near_dedup_exactpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2g-diagnostic: the r12 headline composition — near-dup corpus with
    the pair stage on the UNPRUNED exact index join (no dedup-first, no
    df cap). Kept registered and oracle-backed as ground truth for the
    pruned composition's quality tests and as a named bench diagnostic
    (like c02_minhash_lsh), NOT as the production path: its Σ df² join
    cost is unbounded under stop-shingle skew (dedup.py:223,
    tests/test_scale_stress.py)."""
    docs = load(spark, sf_dir, "documents")
    clusters = dedup_clusters(
        ngram_jaccard_pairs(docs, threshold=_JACCARD_THRESHOLD)
    )
    drops = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    return docs.join(drops, "doc_id", "left_anti").select(
        "doc_id", "source", "n_chars"
    )


def _banded_closure_oracle() -> str:
    """DuckDB oracle for c02_near_dedup_banded: the FULL banded
    composition replayed in SQL — exact-dedup-first (same surv block as
    the pruned-closure oracle), salted-md5 MinHash signatures and band
    buckets over the SURVIVORS (the portable hash family of
    c02_minhash_portable: lexicographic MIN of fixed-length hex IS the
    numeric 128-bit min), bucket-collision candidates, exact-Jaccard
    verify over the survivors' shingle sets, transitive closure, keeper
    anti-join."""
    mh_aggs = ",\n      ".join(
        f"MIN(md5('mh{i}:' || shingle)) AS mh{i}" for i in range(_MP_K)
    )
    bucket_select = " UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, md5(concat_ws('|', "
        + ",".join(f"mh{band * _MP_ROWS + r}" for r in range(_MP_ROWS))
        + ")) AS bucket FROM sig"
        for band in range(_MP_BANDS)
    )
    return f"""
    WITH RECURSIVE surv AS (
      SELECT doc_id, source, n_chars, text FROM (
        SELECT doc_id, source, n_chars, text,
               ROW_NUMBER() OVER (
                 PARTITION BY
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                 ORDER BY doc_id
               ) AS rn
        FROM documents
      ) WHERE rn = 1
    ),
    shn AS (
      SELECT doc_id,
             {sql_word_shingles(sql_tokens('text'), _SHINGLE_K)} AS shingles
      FROM surv
    ),
    sh AS (
      SELECT doc_id, s.shingle FROM shn, UNNEST(shingles) AS s(shingle)
    ),
    sig AS (
      SELECT doc_id,
      {mh_aggs}
      FROM sh GROUP BY doc_id
    ),
    buckets AS ({bucket_select}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    jc AS (
      SELECT cand.doc_a, cand.doc_b,
             len(list_intersect(sa.shingles, sb.shingles)) AS n_inter,
             len(sa.shingles) AS na,
             len(sb.shingles) AS nb
      FROM cand
      JOIN shn sa ON sa.doc_id = cand.doc_a
      JOIN shn sb ON sb.doc_id = cand.doc_b
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM jc
      WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter)
            >= {_JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, label) AS (
      SELECT DISTINCT src AS node, src AS label FROM edges
      UNION
      SELECT e.src AS node, r.label AS label
      FROM edges e JOIN reach r ON r.node = e.dst
    ),
    clusters AS (
      SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM surv d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    """


def near_dedup_corpus_banded(
    docs: DataFrame, *, threshold: float = _JACCARD_THRESHOLD
) -> DataFrame:
    """Banded-LSH near-dedup composition (r14, VERDICT r13 task 4): the
    same exact-dedup-first / cluster / anti-join frame as
    :func:`near_dedup_corpus`, with the PAIR STAGE swapped from the exact
    df-pruned inverted-index join to MinHash banding (32 salted-md5
    string-min hashes, 8 bands × 4 rows) + exact-Jaccard verify over the
    candidates.

    Scale rationale: the exact pair stage's cost is Σ_shingle min(df,
    cap)², which grows with vocabulary; banding's candidate mass is
    Σ_bucket C(|bucket|, 2), which after exact-dedup-first is driven by
    the TRUE near-dup rate, not the vocabulary — the composition the
    uncapped c02_minhash_lsh diagnostic proves quadratic on RAW
    dup-heavy corpora becomes bounded once exact copies are collapsed
    first (the r11 law, tests/test_scalegen_recipe.py). Recall < 1 by
    construction (a missed band is a missed pair): this is a DIFFERENT
    declared contract, shipped as its own named query beside the exact
    composition — never a silent replacement. Precision IS 1: every
    emitted pair is exact-verified on the survivors' stored shingle
    arrays (``array_intersect`` on the checkpointed ``_shingles`` —
    per-pair in-row work, no re-tokenize), so the output pairs are a
    subset of the exact composition's unpruned pair set (pinned in
    tests/test_dedup.py).
    """
    survivors = _exact_dedup_survivors(docs)
    pairs = _banded_pairs(survivors, threshold=threshold)
    return _drop_non_keepers(survivors, pairs)


def _banded_pairs(survivors: DataFrame, *, threshold: float) -> DataFrame:
    """The banded composition's pair stage over exact-dedup survivors:
    MinHash band collisions as candidates, then exact Jaccard on the
    stored ``_shingles`` arrays. Returns ``(doc_a, doc_b)`` with
    ``doc_a < doc_b``."""
    sh = survivors.select("doc_id", F.explode("_shingles").alias("shingle"))
    aggs = [
        F.min(
            F.md5(F.concat(F.lit(f"mh{i}:"), F.col("shingle")))
        ).alias(f"mh{i}")
        for i in range(_MP_K)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    band_hashes = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[f"mh{band * _MP_ROWS + r}" for r in range(_MP_ROWS)],
                )
            )
            for band in range(_MP_BANDS)
        ]
    )
    buckets = sig.select(
        "doc_id", F.posexplode(band_hashes).alias("band", "bucket")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = survivors.select(
        F.col("doc_id").alias("doc_a"), F.col("_shingles").alias("_sa")
    )
    sb = survivors.select(
        F.col("doc_id").alias("doc_b"), F.col("_shingles").alias("_sb")
    )
    n_inter = F.size(F.array_intersect("_sa", "_sb"))
    jac = n_inter.cast("double") / (
        F.size("_sa") + F.size("_sb") - n_inter
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b")
    )


@query(
    "c02_near_dedup_banded",
    oracle=_banded_closure_oracle(),
    driver=False,  # new in r14; its own contract (recall < 1 vs the exact
    # composition) — bench headline + oracle-parity surface, not a window
    # replacement for the declared c02_near_dedup_corpus
)
def c02_near_dedup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2g-banded: the near-dedup corpus with a banded-LSH candidate
    stage and exact verify (see :func:`near_dedup_corpus_banded`). The
    pair stage this replaces is the exact composition's scale tail
    (VERDICT r13 task 4); recall < 1 makes it a NEW named contract, and
    its DuckDB oracle replays the full composition — dedup-first,
    portable MinHash banding, candidate join, exact verify, closure —
    so the driver-style hash pins every stage."""
    docs = load(spark, sf_dir, "documents")
    return near_dedup_corpus_banded(docs)


# --------------------------------------------------------------------------
# C2f — exact substring-duplicate spans (duplicated token windows)
# --------------------------------------------------------------------------
SPAN_TOKENS = 16


def duplicate_span_stats(docs: DataFrame, *, window: int = SPAN_TOKENS) -> DataFrame:
    """Per-document duplicated-span statistics: how much of each document
    consists of ``window``-token runs that occur more than once anywhere
    in the corpus. This is the window-hash formulation of exact substring
    dedup (the suffix-array pass of "Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022): every length-``window``
    token run is hashed, and a run is duplicated iff its hash occurs >1
    time corpus-wide (within- or cross-document).

    Scale: the fan-out is sequence+explode inside codegen (no Python);
    positions collapse to per-(doc, hash) counts before any shuffle, the
    global occurrence count is one hash-keyed aggregate over that
    collapsed frame, and the dup flag comes back via a hash-keyed
    equi-join (inverted index) — never an all-pairs compare. State is
    O(distinct windows), the same budget as the shingle index the
    Jaccard/MinHash operators already carry.
    """
    tok = tokens("text")
    wins = (
        docs.select("doc_id", tok.alias("tok"))
        .filter(F.size("tok") >= window)
        .select(
            "doc_id",
            "tok",
            F.explode(
                F.sequence(F.lit(1), F.size("tok") - (window - 1))
            ).alias("start"),
        )
        .select(
            "doc_id",
            F.md5(
                F.array_join(F.slice("tok", F.col("start"), window), " ")
            ).alias("h"),
        )
    )
    counted = wins.groupBy("doc_id", "h").agg(F.count("*").alias("c"))
    totals = counted.groupBy("h").agg(F.sum("c").alias("total"))
    per_doc = (
        counted.join(totals, "h")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_windows"),
            F.sum(F.when(F.col("total") > 1, F.col("c")).otherwise(0)).alias(
                "n_dup"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).cast("int").alias("n_windows"),
            F.coalesce("n_dup", F.lit(0)).cast("int").alias("n_dup_windows"),
            F.when(
                F.col("n_windows") > 0,
                trunc6(F.col("n_dup") / F.col("n_windows")),
            ).alias("dup_frac"),
        )
    )


@query(
    "c02_substring_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {{tokens}} AS tok FROM documents
    ), wins AS (
      SELECT doc_id,
             md5(array_to_string(
               tok[start : start + {SPAN_TOKENS - 1}], ' ')) AS h
      FROM (
        SELECT doc_id, tok,
               unnest(generate_series(1, len(tok) - {SPAN_TOKENS - 1})) AS start
        FROM toks WHERE len(tok) >= {SPAN_TOKENS}
      )
    ), counted AS (
      SELECT doc_id, h, COUNT(*) AS c FROM wins GROUP BY doc_id, h
    ), totals AS (
      SELECT h, SUM(c) AS total FROM counted GROUP BY h
    ), per_doc AS (
      SELECT doc_id, SUM(c) AS n_windows,
             SUM(CASE WHEN total > 1 THEN c ELSE 0 END) AS n_dup
      FROM counted JOIN totals USING (h) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_windows, 0) AS INT) AS n_windows,
           CAST(COALESCE(n_dup, 0) AS INT) AS n_dup_windows,
           CASE WHEN n_windows > 0 THEN
             floor(CAST(n_dup AS DOUBLE) / CAST(n_windows AS DOUBLE)
                   * 1000000) / 1000000
           END AS dup_frac
    FROM documents d LEFT JOIN per_doc USING (doc_id)
    """.replace(
        "{tokens}", "string_split_regex(lower(trim(text)), '\\s+')"
    ),
    driver=False,
)
def c02_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2f: exact duplicated-span detection — per-doc count and fraction
    of 16-token windows whose content occurs more than once corpus-wide
    (window-hash formulation of suffix-array substring dedup)."""
    return duplicate_span_stats(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# LSH banding calculator — pick (bands, rows) for a target threshold
# --------------------------------------------------------------------------
def lsh_tuning(
    threshold: float, k: int = 32
) -> "tuple[int, int, float]":
    """Choose the (bands, rows) factorization of a ``k``-permutation
    MinHash signature whose S-curve threshold best matches ``threshold``.

    The probability two docs with Jaccard ``s`` share at least one band
    bucket is ``1 - (1 - s^r)^b``; its inflection sits near
    ``(1/b)^(1/r)``. Scanning the divisor pairs of ``k`` and minimizing
    the distance of that inflection to the target keeps candidate
    generation aligned with the verification threshold — bands too wide
    flood the verifier with false candidates, too narrow and recall
    collapses BEFORE verification can save it (verification only ever
    removes pairs). Returns ``(bands, rows, inflection)``.

    Driver-side arithmetic over ≤ a few dozen divisor pairs — use it to
    parameterize :func:`minhash_lsh_pairs` / :func:`lsh_bucket_index`
    when the dedup threshold changes, instead of hand-tuning.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    for rows in range(1, k + 1):
        if k % rows:
            continue
        bands = k // rows
        inflection = (1.0 / bands) ** (1.0 / rows)
        score = abs(inflection - threshold)
        if best is None or score < best[3]:
            best = (bands, rows, inflection, score)
    bands, rows, inflection, _ = best
    return bands, rows, inflection


# --------------------------------------------------------------------------
# C1 — cross-dataset dedup with a bloom-filter pre-filter
# --------------------------------------------------------------------------
def dedup_against(
    new_docs: DataFrame,
    reference_docs: DataFrame,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Rows of ``new_docs`` whose normalized content does NOT appear in
    ``reference_docs`` — the cross-dataset exact dedup every multi-source
    corpus build runs (drop from the new crawl whatever the curated set
    already has).

    Scale shape: a Bloom filter over the REFERENCE fingerprints
    (functions/bloom.py — built with one explode + bit_or aggregate,
    probed with codegen arithmetic over a 1-row broadcast; ~1.2 MB per
    million reference docs) clears the overwhelming majority of new rows
    MAP-SIDE; only suspects (true duplicates + the ~1% false positives)
    reach the exact anti-join shuffle. False positives are resolved by
    that join, so the result equals a plain anti-join bit-for-bit
    (asserted in tests) — the bloom cuts shuffle volume, never changes
    the answer.
    """
    from ..functions.bloom import bloom_build, with_bloom_probe

    fp = canonical_fingerprint(text_col)
    new_fp = new_docs.withColumn("_fp", fp)
    ref_fp = reference_docs.select(fp.alias("_fp"))
    words, m_bits = bloom_build(ref_fp, "_fp")
    probed = with_bloom_probe(new_fp, "_fp", words, m_bits, out_col="_maybe")
    clear = probed.filter(~F.col("_maybe")).drop("_maybe", "_fp")
    suspects = probed.filter(F.col("_maybe")).drop("_maybe")
    verified_new = suspects.join(ref_fp, "_fp", "left_anti").drop("_fp")
    return clear.unionByName(verified_new)
