"""Training-data sampling, splitting, and sequence-packing operators.

Extends the Tier C north-star surface (SURVEY.md §2) with the dataset-prep
operations a pretraining pipeline runs after dedup/quality filtering
(operators/dedup.py, operators/text.py): deterministic train/val/test
splitting, stratified downsampling, and token-budget sequence packing.
The reference's analog is its append-only corpus of scraped rows
(/root/reference/dags/stock_data_to_gcp.py:43-47) that downstream consumers
must sample reproducibly.

Design rules for 100 TB:
- Split/sample assignment is a pure per-row hash — no shuffle, no state, no
  RNG; re-running on a re-partitioned corpus yields the identical split
  (rerun-safety the reference's WRITE_APPEND retries need).
- Packing is partition-local greedy first-fit — bins never cross a pack
  group, so the only shuffle is the groupBy on the hashed group key and
  state per task is O(open bins), not O(corpus).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, register_views
from ..functions.exact import sql_dec_sum
from ..registry import query
from .dedup import canonical_fingerprint

# --------------------------------------------------------------------------
# Deterministic hash bucketing (shared by split + stratified sample)
# --------------------------------------------------------------------------
# bucket(doc_id) ∈ [0, 100): first 8 hex chars of md5 of the decimal string,
# as an integer, mod 100. md5 is identical in Spark and DuckDB, so the
# assignment is engine-independent — unlike rand(seed) or xxhash64, whose
# streams are engine-private.


# the canonical spelling lives in functions/partitioning.py (a layer both
# this module and sources/export.py can import); these are local aliases
from ..functions.partitioning import hash_bucket as _hash_bucket  # noqa: E402
from ..functions.partitioning import sql_hash_bucket as _sql_hash_bucket  # noqa: E402


def with_split(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Append a deterministic 80/10/10 train/val/test ``split`` column."""
    b = _hash_bucket(key)
    return docs.withColumn(
        "split",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test"),
    )


_SQL_SPLIT = f"""
    CASE WHEN {_sql_hash_bucket('doc_id')} < 80 THEN 'train'
         WHEN {_sql_hash_bucket('doc_id')} < 90 THEN 'val'
         ELSE 'test' END
"""


@query(
    "c08_hash_split",
    oracle=f"""
    SELECT
      split,
      COUNT(*) AS n_docs,
      CAST(SUM(doc_id) AS BIGINT) AS doc_id_checksum,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (SELECT doc_id, n_chars, {_SQL_SPLIT} AS split FROM documents)
    GROUP BY split
    """,
    driver=False,
)
def c08_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8a: deterministic 80/10/10 train/val/test split by content-stable
    hash of the document key.

    The checksum column pins the exact per-row assignment (not just the
    counts) in the differential hash. Scale: pure map-side projection —
    the split of a 100 TB corpus costs one scan and zero shuffles, and is
    reproducible across engines, runs, and repartitionings.
    """
    docs = with_split(load(spark, sf_dir, "documents"))
    return docs.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("doc_id_checksum"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# Per-stratum keep-rates for the downsampling demo: heavily downsample the
# dominant stratum, keep the tails — the standard corpus-rebalancing move.
_STRATUM_RATES = {"en": 40}
_DEFAULT_RATE = 90


def stratified_sample(docs: DataFrame, rates: dict[str, int], default: int) -> DataFrame:
    """Deterministic per-stratum downsample: keep row iff bucket < rate%.

    The hash-threshold formulation of ``df.sampleBy`` — same expected
    fractions, but reproducible (no RNG stream) and engine-independent.
    """
    b = _hash_bucket("doc_id")
    rate = F.lit(default)
    for stratum, r in rates.items():
        rate = F.when(F.col("lang") == stratum, F.lit(r)).otherwise(rate)
    return docs.filter(b < rate)


@query(
    "c08_stratified_sample",
    oracle=f"""
    SELECT
      lang,
      COUNT(*) AS n_kept,
      CAST(SUM(doc_id) AS BIGINT) AS doc_id_checksum,
      {sql_dec_sum('n_chars', 0)} AS kept_chars
    FROM (
      SELECT * FROM documents
      WHERE {_sql_hash_bucket('doc_id')} <
            (CASE WHEN lang = 'en' THEN {_STRATUM_RATES['en']}
                  ELSE {_DEFAULT_RATE} END)
    )
    GROUP BY lang
    """,
    driver=True,
)
def c08_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8b: stratified corpus rebalancing — keep 40% of 'en' docs, 90% of
    every other language, chosen by the same deterministic hash bucket as
    the split (so sample ⊆ corpus is stable under reruns).

    Scale: a scan-side filter; no shuffle, and the predicate is codegen'd.
    """
    docs = stratified_sample(
        load(spark, sf_dir, "documents"), _STRATUM_RATES, _DEFAULT_RATE
    )
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("doc_id_checksum"),
        F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("double").alias(
            "kept_chars"
        ),
    )


# --------------------------------------------------------------------------
# C9 — token-budget sequence packing (greedy first-fit-decreasing per group)
# --------------------------------------------------------------------------

PACK_BUDGET = 512
N_PACK_GROUPS = 32

_PACK_SCHEMA = (
    "doc_id bigint, pack_group int, bin_id bigint, n_tokens int, bin_fill int"
)


def _pack_group(pdf: pd.DataFrame, budget: int) -> pd.DataFrame:
    """Greedy first-fit-decreasing packing of one pack group (one pandas
    frame in, one out — the applyInPandas per-group contract).

    First fit = the LOWEST-index open bin whose residual capacity takes
    the doc. A linear scan of the bin list is O(#bins) per doc and the
    bin count grows with the group, so the group packs in O(n²) — the
    r13 sf10 floor probe read 13.8x wall for 10x docs on exactly this
    loop. The scan is replaced by a segment tree over bin residuals
    (max residual per index range; descend left-first for the leftmost
    leaf >= ntok), which is the SAME first-fit bin in O(log #bins) —
    assignments are bit-identical, only the lookup is cheaper. State
    stays O(#bins) — never the docs.
    """
    pdf = pdf.sort_values(["n_tokens", "doc_id"], ascending=[False, True])
    fills: list[int] = []  # fill level per bin
    assign: list[int] = []
    cap = 1  # leaf capacity (power of two); leaves beyond #bins hold -1
    tree = [-1, -1]  # tree[cap + i] = budget - fills[i]; internal = max
    for ntok in pdf["n_tokens"]:
        # NULL text -> NULL n_tokens -> NaN in pandas; pack as a
        # zero-token doc instead of ValueError-ing the whole task
        ntok = 0 if pd.isna(ntok) else int(ntok)
        if tree[1] >= ntok:
            node = 1  # leftmost leaf with residual >= ntok: go left first
            while node < cap:
                node *= 2
                if tree[node] < ntok:
                    node += 1
            i = node - cap
            fills[i] += ntok
            tree[node] = budget - fills[i]
        else:
            # no bin fits (oversize docs land in a fresh singleton bin,
            # residual possibly negative — matches fill+ntok<=budget)
            i = len(fills)
            fills.append(ntok)
            if i >= cap:  # grow: double leaves, full bottom-up rebuild
                cap *= 2
                tree = [-1] * (2 * cap)
                for j, f in enumerate(fills):
                    tree[cap + j] = budget - f
                for j in range(cap - 1, 0, -1):
                    lo, hi = tree[2 * j], tree[2 * j + 1]
                    tree[j] = lo if lo >= hi else hi
                assign.append(i)
                continue  # tree fully consistent; skip path re-aggregate
            node = cap + i
            tree[node] = budget - ntok
        assign.append(i)
        node //= 2
        while node:  # re-aggregate maxima up the path
            lo, hi = tree[2 * node], tree[2 * node + 1]
            tree[node] = lo if lo >= hi else hi
            node //= 2
    out = pdf[["doc_id", "pack_group", "n_tokens"]].copy()
    out["bin_id"] = assign
    out["bin_fill"] = [fills[i] for i in assign]
    return out[["doc_id", "pack_group", "bin_id", "n_tokens", "bin_fill"]]


def pack_sequences(docs: DataFrame) -> DataFrame:
    """Pack documents into ≤``PACK_BUDGET``-token bins, greedily within
    each of ``N_PACK_GROUPS`` hash-partitioned pack groups.

    Packing is inherently order-dependent, so global optimality is traded
    for partition-local determinism: group assignment is a stable hash,
    and within a group FFD order is fixed by (n_tokens desc, doc_id). At
    100 TB each group packs independently in one task — no global sort, no
    driver state; bin_ids are group-local (globally unique as the pair).
    The group is the last two hex digits of md5(doc_id) — md5 exists in
    DuckDB, so the whole packing trace replays in the oracle.
    """
    from ..functions.textfns import tokens

    digits = F.substring(F.md5(F.col("doc_id").cast("string")), 31, 2)
    sized = docs.select(
        "doc_id",
        (F.conv(digits, 16, 10).cast("int") % N_PACK_GROUPS).alias("pack_group"),
        F.size(tokens("text")).cast("int").alias("n_tokens"),
    )
    return sized.groupBy("pack_group").applyInPandas(
        lambda pdf: _pack_group(pdf, PACK_BUDGET),
        schema=_PACK_SCHEMA,
    )


def _pack_oracle() -> str:
    """DuckDB oracle for c09_sequence_packing — greedy
    first-fit-decreasing BIN PACKING replayed exactly in a recursive CTE.

    The recursion carries each pack group's OPEN-BIN FILL LIST as list
    state and advances every group one document per iteration (FFD order
    = n_tokens DESC NULLS LAST, doc_id — pandas sorts NaN last, matching
    NULLS LAST): first fitting bin via ``list_position`` over a
    fits-mask (DuckDB returns 0, not NULL, on no-match — guard with
    > 0), slot update via an indexed-lambda ``list_transform``, overflow
    via ``list_append``. ``bin_fill`` is the bin's FINAL fill, so the
    last iteration's state is unnested (struct-transform — DuckDB lacks
    WITH ORDINALITY) and joined back per assignment. The md5 group digits
    are spelled independently of the engine's ``conv``. This pins the
    exact packing TRACE cross-engine, complementing the exactly-once and
    budget invariant tests."""
    return f"""
    WITH RECURSIVE
    sized AS (
      SELECT doc_id,
             CAST(((strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
              + (strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1))
              % {N_PACK_GROUPS} AS INT) AS pack_group,
             CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
               AS INT) AS n_tokens
      FROM documents
    ),
    ordered AS (
      SELECT *, ROW_NUMBER() OVER (
          PARTITION BY pack_group
          ORDER BY n_tokens DESC NULLS LAST, doc_id ASC) AS rn,
          COALESCE(n_tokens, 0) AS x
      FROM sized
    ),
    rec AS (
      SELECT pack_group, rn, doc_id, n_tokens, [x] AS fills, 1 AS pos
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.pack_group, o.rn, o.doc_id, o.n_tokens,
             CASE WHEN COALESCE(fit.p, 0) > 0
                  THEN list_transform(r.fills, (f, i) ->
                         CASE WHEN i = fit.p THEN f + o.x ELSE f END)
                  ELSE list_append(r.fills, o.x) END,
             CASE WHEN COALESCE(fit.p, 0) > 0 THEN fit.p
                  ELSE len(r.fills) + 1 END
      FROM rec r
      JOIN ordered o ON o.pack_group = r.pack_group AND o.rn = r.rn + 1
      CROSS JOIN LATERAL (SELECT list_position(
          list_transform(r.fills, f -> f + o.x <= {PACK_BUDGET}), true)
          AS p) fit
    ),
    final_state AS (
      SELECT pack_group, fills,
             ROW_NUMBER() OVER (
               PARTITION BY pack_group ORDER BY rn DESC) AS rr
      FROM rec
    ),
    final_fills AS (
      SELECT pack_group, u.s.idx - 1 AS bin_id, u.s.fill AS bin_fill
      FROM (SELECT pack_group, fills FROM final_state WHERE rr = 1),
           UNNEST(list_transform(fills, (f, i) -> {{'fill': f, 'idx': i}}))
             AS u(s)
    )
    SELECT r.doc_id, r.pack_group, CAST(r.pos - 1 AS BIGINT) AS bin_id,
           r.n_tokens, CAST(ff.bin_fill AS INT) AS bin_fill
    FROM rec r
    JOIN final_fills ff
      ON ff.pack_group = r.pack_group AND ff.bin_id = r.pos - 1
    """


@query("c09_sequence_packing", oracle=_pack_oracle(), driver=False)
def c09_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: sequence packing — batch documents into fixed token budgets for
    training, first-fit-decreasing within hash-partitioned groups. The
    oracle replays the packing trace (hash parity at sf0.001/0.01/0.1:
    500/500/5000 assignments).
    """
    return pack_sequences(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# C8c — weighted source mixing (curriculum / domain-proportion control)
# --------------------------------------------------------------------------
def source_mix(docs: DataFrame, rates: dict[str, int], default: int) -> DataFrame:
    """Deterministic per-source downsample to target mixture proportions.

    Same engine-independent md5 bucket as the split/sample operators, but
    salted with a distinct prefix so mixing is statistically independent
    of the train/val/test assignment (an unsalted reuse would correlate:
    every kept doc would also skew toward the 'train' buckets).
    """
    b = _hash_bucket("doc_id", salt="mix:")
    rate = F.lit(default)
    for src, r in rates.items():
        rate = F.when(F.col("source") == src, F.lit(r)).otherwise(rate)
    return docs.withColumn("_keep", b < rate)


# --------------------------------------------------------------------------
# C9b — context-window chunking (split long docs into overlapping windows)
# --------------------------------------------------------------------------
CHUNK_SIZE = 32
CHUNK_STRIDE = 24  # overlap = CHUNK_SIZE - CHUNK_STRIDE = 8 tokens


def chunk_documents(
    docs: DataFrame, *, chunk_size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """One row per (doc, window): ``chunk_size``-token windows every
    ``stride`` tokens — the standard long-document → context-window
    preparation (tail chunks shorter; a start is emitted only while it
    adds uncovered tokens).

    Scale: sequence+explode+slice are all JVM expressions — the fan-out is
    computed inside codegen with no Python and no shuffle; downstream
    consumers group the CHUNKS, never the raw docs.
    """
    from ..functions.textfns import tokens

    tok = tokens("text")
    n = F.size(tok)
    last_start = F.greatest(n - (chunk_size - stride), F.lit(1))
    starts = F.sequence(F.lit(1), last_start, F.lit(stride))
    chunk = F.slice("tok", F.col("start"), chunk_size)
    return (
        docs.select(
            "doc_id", tok.alias("tok"), n.alias("n_tokens"),
            F.explode(starts).alias("start"),
        )
        .select(
            "doc_id",
            F.floor((F.col("start") - 1) / stride).cast("int").alias("chunk_idx"),
            F.col("start").cast("int").alias("start"),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.size(chunk).cast("int").alias("chunk_len"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


@query(
    "c09_doc_chunking",
    oracle=f"""
    SELECT
      doc_id,
      CAST((start - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
      CAST(start AS INT) AS start,
      CAST(n_tokens AS INT) AS n_tokens,
      CAST(len(tok[start : start + {CHUNK_SIZE - 1}]) AS INT) AS chunk_len,
      array_to_string(tok[start : start + {CHUNK_SIZE - 1}], ' ') AS chunk_text
    FROM (
      SELECT doc_id, tok, len(tok) AS n_tokens,
             unnest(generate_series(
               1, greatest(len(tok) - {CHUNK_SIZE - CHUNK_STRIDE}, 1),
               {CHUNK_STRIDE})) AS start
      FROM (SELECT doc_id, {{tokens}} AS tok FROM documents)
    )
    """.replace("{tokens}", "string_split_regex(lower(trim(text)), '\\s+')"),
    driver=False,
)
def c09_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9b: context-window chunking — every document split into 32-token
    windows with 8-token overlap (stride 24), the long-document
    preparation step feeding tokenize/pack. Fully SQL-expressible, so the
    whole fan-out is oracle-verified including the reassembled window
    text."""
    return chunk_documents(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# C8d — deterministic global shuffle (reproducible training-data ordering)
# --------------------------------------------------------------------------
_SHUFFLE_SEED = "seed42:"


def shuffled(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Attach a seeded deterministic shuffle key and sort by it.

    Training runs need the corpus in a *reproducible* pseudorandom order —
    ``rand()`` reshuffles per run and per retry, so the standard trick is
    ordering by a seeded hash of the record key. ``ORDER BY`` compiles to
    a range exchange + per-partition sort (sample-based range partitioner
    → balanced output files), which scales to any corpus size; changing
    the seed string yields an independent permutation per epoch.
    """
    shuffle_key = F.md5(
        F.concat(F.lit(_SHUFFLE_SEED), F.col(key).cast("string"))
    ).alias("shuffle_key")
    # keep the PAYLOAD: the production path writes this ordering out as
    # the training corpus, and a key-only projection would force every
    # consumer into an extra full-corpus re-join to get the text back
    return docs.withColumn("shuffle_key", shuffle_key).orderBy("shuffle_key")


@query(
    "c08_global_shuffle",
    driver=False,
    oracle=f"""
    SELECT doc_id,
           md5('{_SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
    ORDER BY shuffle_key
    LIMIT 100
    """,
)
def c08_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8d: seeded deterministic corpus shuffle — the verified query
    materializes the head of the permutation (a TakeOrdered, no global
    sort on the driver); the production path (:func:`shuffled`) writes
    the full range-partitioned ordering. md5 is engine-independent, so
    the permutation is identical in Spark and the oracle, unlike
    ``rand(seed)`` whose stream is engine-private. The registered
    projection keeps the hashable columns; :func:`shuffled` itself
    carries the full payload."""
    return (
        shuffled(load(spark, sf_dir, "documents"))
        .select("doc_id", "shuffle_key")
        .limit(100)
    )


# --------------------------------------------------------------------------
# C8e — token-budget fill (take documents per source up to a token budget)
# --------------------------------------------------------------------------
_BUDGET_SEED = "budget42:"
TOKEN_BUDGET = 600


def token_budget_sample(
    docs: DataFrame,
    *,
    budget: int = TOKEN_BUDGET,
    key: str = "doc_id",
    group: str = "source",
) -> DataFrame:
    """Per-``group`` greedy fill: walk documents in seeded-hash order and
    keep them while the running token total stays within ``budget`` —
    the "N tokens of web, M tokens of code" recipe step of assembling a
    pretraining mix. The seeded md5 order makes the selected set a
    deterministic function of (corpus, seed, budget): re-runs, retries,
    and repartitioning all pick the identical documents.

    Scale: one hash exchange on ``group`` + a per-group sort for the
    cumulative sum. Sources are few and huge at 100 TB, so this exact
    variant is for curated/small mixes; for whole-corpus mixes compute
    per-source token totals first (one tiny aggregate) and convert the
    budget to a keep-rate over the same hash key (:func:`source_mix`) —
    rate filtering needs no per-group sort at all.
    """
    from ..functions.textfns import n_tokens

    sample_key = F.md5(
        F.concat(F.lit(_BUDGET_SEED), F.col(key).cast("string"))
    )
    w = Window.partitionBy(group).orderBy("sample_key")
    return (
        docs.select(
            group,
            key,
            n_tokens("text").alias("n_tokens"),
            sample_key.alias("sample_key"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
        .select(
            group,
            key,
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        )
    )


@query(
    "c08_token_budget",
    oracle=f"""
    WITH base AS (
      SELECT source, doc_id,
             len({{tokens}}) AS n_tokens,
             md5('{_BUDGET_SEED}' || CAST(doc_id AS VARCHAR)) AS sample_key
      FROM documents
    ), cum AS (
      SELECT *,
             SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY sample_key
             ) AS cum_tokens
      FROM base
    )
    SELECT source, doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM cum WHERE cum_tokens <= {TOKEN_BUDGET}
    """.replace("{tokens}", "string_split_regex(lower(trim(text)), '\\s+')"),
    driver=False,
)
def c08_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8e: deterministic token-budget fill — up to 600 tokens of
    documents per source, selected in seeded-hash order (the data-mix
    assembly step between source weighting and sequence packing)."""
    return token_budget_sample(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# C9c — end-to-end corpus-prep pipeline (the operators composed)
# --------------------------------------------------------------------------
_PREP_MIN_TOKENS = 20
_PREP_MIN_QUALITY = 0.35


def prep_pipeline(
    docs: DataFrame,
    *,
    min_tokens: int = _PREP_MIN_TOKENS,
    min_quality: float = _PREP_MIN_QUALITY,
) -> DataFrame:
    """The standard pretraining corpus-prep chain as ONE lazy plan:
    score → quality gate → exact dedup (keep-min per fingerprint) →
    train/val/test split. Demonstrates that the Tier C operators compose
    into the pipeline a user actually runs, with Catalyst fusing the
    whole thing: scoring and gating live in the scan stage (filters
    before any exchange), dedup is the only shuffle (hash on the
    16-byte fingerprint), and split assignment is a map-side hash.

    Stage order matters at 100 TB: the quality gate runs BEFORE dedup so
    rejected documents never enter the fingerprint exchange.
    """
    from ..functions.exact import trunc6
    from ..functions.textfns import quality_expr, stopword_count, tokens

    tok = tokens("text")
    scored = docs.select(
        "doc_id",
        "source",
        F.size(tok).alias("n_tokens"),
        stopword_count(tok).alias("n_stop"),
        "n_chars",
        canonical_fingerprint("text").alias("fingerprint"),
    ).withColumn(
        "quality_score",
        trunc6(
            quality_expr(F.col("n_tokens"), F.col("n_stop"), F.col("n_chars"))
        ),
    )
    gated = scored.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("quality_score") >= min_quality)
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    deduped = (
        gated.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "n_stop", "n_chars")
    )
    return with_split(deduped).select(
        "doc_id",
        "source",
        "split",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "quality_score",
        "fingerprint",
    )


@query(
    "c09_prep_pipeline",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             len({{tokens}}) AS n_tokens,
             {{stops}} AS n_stop,
             n_chars,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
               AS fingerprint
      FROM documents
    ), gated AS (
      SELECT *,
             floor({{quality}} * 1000000) / 1000000 AS quality_score
      FROM scored
      WHERE n_tokens >= {_PREP_MIN_TOKENS}
    ), quality_gated AS (
      SELECT * FROM gated WHERE quality_score >= {_PREP_MIN_QUALITY}
    ), deduped AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY fingerprint ORDER BY doc_id) AS rn
      FROM quality_gated
    )
    SELECT doc_id, source,
           CASE
             WHEN bucket < 80 THEN 'train'
             WHEN bucket < 90 THEN 'val'
             ELSE 'test'
           END AS split,
           CAST(n_tokens AS INT) AS n_tokens,
           quality_score, fingerprint
    FROM (
      SELECT *,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 100) AS bucket
      FROM deduped WHERE rn = 1
    )
    """.replace(
        "{tokens}", "string_split_regex(lower(trim(text)), '\\s+')"
    ).replace(
        "{stops}",
        # sql_stopword_count over the same token list
        "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),"
        " t -> t IN ('the', 'a', 'an', 'of', 'and', 'to', 'in', 'is',"
        " 'it', 'for')))",
    ).replace(
        "{quality}",
        "(0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)"
        " + 0.3 * (CAST(n_stop AS DOUBLE) / n_tokens)"
        " + 0.3 * least(CAST(n_chars AS DOUBLE) / n_tokens / 10.0, 1.0))",
    ),
    driver=False,
)
def c09_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9c: the end-to-end corpus-prep composite — quality scoring, the
    token/quality gate, exact dedup, and split assignment fused into one
    Catalyst plan (one shuffle, on the fingerprint)."""
    return prep_pipeline(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# C8g — quantile bucketization (feature discretization for training prep)
# --------------------------------------------------------------------------
@query(
    "c08_quantile_bucketize",
    oracle="""
    WITH cuts AS (
      SELECT quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.5)  AS q2,
             quantile_cont(value, 0.75) AS q3
      FROM events
    )
    SELECT event_type,
           CASE WHEN value <= q1 THEN 0
                WHEN value <= q2 THEN 1
                WHEN value <= q3 THEN 2
                ELSE 3 END AS bucket,
           COUNT(*) AS n,
           MIN(value) AS min_v,
           MAX(value) AS max_v
    FROM events, cuts
    GROUP BY event_type,
           CASE WHEN value <= q1 THEN 0
                WHEN value <= q2 THEN 1
                WHEN value <= q3 THEN 2
                ELSE 3 END
    """, driver=False)
def c08_quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8e: discretize a numeric feature into corpus-quantile buckets —
    the standard feature-engineering step before stratified balancing or
    per-bucket quota sampling of training data.

    Cutpoints use EXACT interpolated percentiles (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``, the equivalence b15_exact_percentiles
    pins), computed as a 1-row aggregate that broadcasts into a map-side
    CASE — the corpus scans twice (once for cutpoints, once for
    assignment) but never shuffles rows; both aggregates are map-side
    partial. At 100 TB swap the exact percentile for
    ``approx_percentile`` and the plan shape is unchanged.
    """
    ev = load(spark, sf_dir, "events")
    cuts = ev.agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.5)").alias("q2"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    bucket = (
        F.when(F.col("value") <= F.col("q1"), 0)
        .when(F.col("value") <= F.col("q2"), 1)
        .when(F.col("value") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        ev.crossJoin(F.broadcast(cuts))
        .select("event_type", "value", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
    )


# --------------------------------------------------------------------------
# C9e — deterministic shard-interleaved read order (data-loader order)
# --------------------------------------------------------------------------
# Shared with sources/export.py so the read order computed here maps 1:1
# onto the exported shard directories (same hash, same modulus).
from ..sources.export import DEFAULT_N_SHARDS as _N_INTERLEAVE_SHARDS


@query(
    "c09_interleave_order",
    oracle=f"""
    WITH sharded AS (
      SELECT doc_id,
        CAST((CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % {_N_INTERLEAVE_SHARDS}) AS INT) AS shard,
        md5('order:' || CAST(doc_id AS VARCHAR)) AS ord_key
      FROM documents
    ),
    seqd AS (
      SELECT doc_id, shard,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY shard ORDER BY ord_key ASC, doc_id ASC
        ) - 1 AS BIGINT) AS seq
      FROM sharded
    )
    SELECT doc_id, shard, seq,
           seq * {_N_INTERLEAVE_SHARDS} + shard AS global_order
    FROM seqd
    """, driver=False)
def c09_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9e: the canonical data-loader read order over sharded exports —
    each shard is internally shuffled by a seeded content hash, and the
    global training order round-robins across shards
    (``global_order = seq·n_shards + shard``), so no source/shard runs
    in a long contiguous block. Engine-independent: both the shard
    assignment (the export layout of sources/export.py) and the
    within-shard order derive from md5 of the doc id, so a reader in ANY
    engine reconstructs the identical curriculum.

    Scale: one shuffle (the per-shard window); at a fixed shard count
    the rank state is O(rows/shard) per task and the order is stable
    under any input partitioning.
    """
    docs = load(spark, sf_dir, "documents")
    shard = _hash_bucket("doc_id", salt="shard:", mod=_N_INTERLEAVE_SHARDS)
    ord_key = F.md5(F.concat(F.lit("order:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy(F.asc("ord_key"), F.asc("doc_id"))
    return (
        docs.select(
            "doc_id",
            shard.cast("int").alias("shard"),
            ord_key.alias("ord_key"),
        )
        .withColumn("seq", (F.row_number().over(w) - 1).cast("bigint"))
        .select(
            "doc_id",
            "shard",
            "seq",
            (F.col("seq") * _N_INTERLEAVE_SHARDS + F.col("shard")).alias(
                "global_order"
            ),
        )
    )


# --------------------------------------------------------------------------
# C8h — cross-split leakage audit (train→eval contamination)
# --------------------------------------------------------------------------
# Prefix fingerprint, not whole-document: boilerplate/templated documents
# that share an opening (the dominant leakage class in scraped corpora)
# are caught even when their tails differ; exact duplicates are caught a
# fortiori whenever they share the prefix window.
_LEAK_PREFIX = 80
_SQL_FP = f"md5(lower(substr(trim(text), 1, {_LEAK_PREFIX})))"


@query(
    "c08_split_leakage",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, {_SQL_FP} AS fingerprint, {_SQL_SPLIT} AS split
      FROM documents
    )
    SELECT t.split AS eval_split,
           COUNT(*) AS n_leaked_docs,
           COUNT(DISTINCT t.fingerprint) AS n_leaked_contents,
           CAST(SUM(t.doc_id) AS BIGINT) AS leaked_id_checksum
    FROM tagged t
    JOIN (SELECT DISTINCT fingerprint FROM tagged WHERE split = 'train') tr
      ON t.fingerprint = tr.fingerprint
    WHERE t.split <> 'train'
    GROUP BY t.split
    """,
)
def c08_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8e: train→eval leakage audit — val/test documents whose content
    PREFIX fingerprint (normalized first 80 chars — the boilerplate/
    template signature) also appears in train. The check every split
    pipeline must run AFTER splitting: a hash split is random over
    doc_ids, so shared content lands on both sides and silently
    inflates eval scores. (The fix is upstream — dedup before split,
    c01/c02 — this query is the auditor that proves it happened.)

    Scale: semi-join on the 128-bit fingerprint — uniform key, no skew;
    the shuffle carries (fingerprint, id, split), never document text.
    The checksum column pins the exact leaked-row set in the hash.
    """
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.substring(F.trim("text"), 1, _LEAK_PREFIX)))
    tagged = with_split(docs).select(
        "doc_id", fp.alias("fingerprint"), "split"
    )
    train_fp = (
        tagged.filter(F.col("split") == "train").select("fingerprint").distinct()
    )
    return (
        tagged.filter(F.col("split") != "train")
        .join(train_fp, "fingerprint", "left_semi")
        .groupBy(F.col("split").alias("eval_split"))
        .agg(
            F.count("*").alias("n_leaked_docs"),
            F.count_distinct("fingerprint").alias("n_leaked_contents"),
            F.sum("doc_id").cast("bigint").alias("leaked_id_checksum"),
        )
    )


# --------------------------------------------------------------------------
# C8i — distribution drift between dataset versions (exact TV distance)
# --------------------------------------------------------------------------
_DRIFT_SQL = """
    WITH bucketed AS (
      SELECT event_type,
             CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 1 ELSE 2 END AS half,
             CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket
      FROM events
    ),
    counts AS (
      SELECT event_type, bucket,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM bucketed
      GROUP BY event_type, bucket
    ),
    tot AS (
      SELECT event_type,
             CAST(SUM(n1) AS BIGINT) AS total1,
             CAST(SUM(n2) AS BIGINT) AS total2
      FROM counts GROUP BY event_type
    )
    SELECT c.event_type,
           t.total1 AS n_first_half,
           t.total2 AS n_second_half,
           COUNT(*) AS n_buckets,
           floor(CAST(SUM(abs(c.n1 * t.total2 - c.n2 * t.total1)) AS DOUBLE)
                 / (2.0 * t.total1 * t.total2) * 1000000) / 1000000
             AS tv_distance
    FROM counts c
    JOIN tot t ON c.event_type = t.event_type
    GROUP BY c.event_type, t.total1, t.total2
"""


@query("c08_distribution_drift", oracle=_DRIFT_SQL, driver=False)
def c08_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8f: distribution drift between two dataset versions — exact total
    variation distance over fixed-width value histograms, first half of
    the month vs second (the "did the new crawl/feed shift?" monitor a
    training pipeline runs before mixing a new dump in).

    TVD = ½·Σ|p₁ᵢ − p₂ᵢ| is computed WITHOUT forming the float shares:
    the numerator Σ|n1ᵢ·N2 − n2ᵢ·N1| is pure integer arithmetic (exact,
    order-independent — the float-sum-of-ratios form would be neither)
    and one final division scales it. Unlike PSI/KL there is no log, so
    the statistic is cross-engine bit-deterministic and handles empty
    buckets without smoothing.

    Scale: one histogram aggregate (map-side combined, O(#types ×
    #buckets) rows out), a broadcast-sized totals join, one tiny
    aggregate. The fact table is scanned once.
    """
    register_views(spark, sf_dir)
    return spark.sql(_DRIFT_SQL)


# --------------------------------------------------------------------------
# C9f — curriculum ordering: difficulty bands + shard-interleaved order
# --------------------------------------------------------------------------
from ..functions.exact import trunc6 as _trunc6
from ..functions.exact import sql_trunc6 as _sql_trunc6
from ..functions.textfns import (
    quality_expr as _quality_expr,
    sql_quality_expr as _sql_quality_expr,
    sql_stopword_count as _sql_stopword_count,
    sql_tokens as _sql_tokens,
    stopword_count as _stopword_count,
    tokens as _tokens,
)


@query(
    "c09_curriculum_order",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(least(floor(({_sql_trunc6(_sql_quality_expr('nt', 'ns', 'n_chars'))}) * 4), 3) AS INT)
               AS difficulty_bucket,
             CAST((CAST(('0x' || substr(md5('cshard:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % {8}) AS INT) AS shard,
             md5('corder:' || CAST(doc_id AS VARCHAR)) AS ord_key
      FROM (
        SELECT doc_id, n_chars,
               len({_sql_tokens('text')}) AS nt,
               {_sql_stopword_count(_sql_tokens('text'))} AS ns
        FROM documents
      )
    )
    SELECT doc_id, difficulty_bucket, shard,
           CAST((row_number() OVER (
                   PARTITION BY difficulty_bucket, shard
                   ORDER BY ord_key, doc_id) - 1) * {8} + shard AS BIGINT)
             AS pos_in_bucket
    FROM scored
    """,
    driver=True,
)
def c09_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9f: curriculum read order — documents banded by ABSOLUTE quality
    score (4 fixed-width difficulty buckets; easy → hard is the standard
    curriculum-learning schedule) and, within each band, interleaved
    round-robin across content-hash shards with a seeded within-shard
    shuffle (the c09_interleave_order machinery applied per band). A
    loader walks buckets in order and positions within a bucket by
    ``pos_in_bucket`` — fully engine-independent (quality expression,
    shard hash, and order hash are all shared spellings).

    Fixed-width bands rather than quantiles deliberately: quantile cuts
    need a percentile pass (see c08_quantile_bucketize when relative
    bands are wanted), while absolute bands keep this a SINGLE tokenize
    pass plus band-and-shard-partitioned windows — no global sort, rank
    state O(rows/(bands·shards)) per task.
    """
    docs = load(spark, sf_dir, "documents")
    tok = _tokens("text")
    score = _trunc6(
        _quality_expr(F.size(tok), _stopword_count(tok), F.col("n_chars"))
    )
    bucket = F.least(F.floor(score * 4), F.lit(3)).cast("int")
    shard = _hash_bucket("doc_id", salt="cshard:", mod=8).cast("int")
    ord_key = F.md5(F.concat(F.lit("corder:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("difficulty_bucket", "shard").orderBy(
        F.asc("ord_key"), F.asc("doc_id")
    )
    return (
        docs.select(
            "doc_id",
            bucket.alias("difficulty_bucket"),
            shard.alias("shard"),
            ord_key.alias("ord_key"),
        )
        .withColumn(
            "pos_in_bucket",
            ((F.row_number().over(w) - 1) * 8 + F.col("shard")).cast("bigint"),
        )
        .select("doc_id", "difficulty_bucket", "shard", "pos_in_bucket")
    )


# --------------------------------------------------------------------------
# C8j — weighted sampling without replacement (Efraimidis–Spirakis)
# --------------------------------------------------------------------------
_WS_SEED = "wsamp:"
_WS_K = 100


@query(
    "c08_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             (CAST(('0x' || substr(md5('{_WS_SEED}' || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) + 1.0) / 4294967297.0 AS u
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars,
           CAST(floor((-ln(u) / n_chars) * 1000000000000.0) AS BIGINT)
             AS sample_key
    FROM keyed
    ORDER BY CAST(floor((-ln(u) / n_chars) * 1000000000000.0) AS BIGINT) ASC,
             doc_id ASC
    LIMIT {_WS_K}
    """,
    driver=True,
)
def c08_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8f: weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    2006: take the k items with the largest u^(1/w), equivalently the
    SMALLEST −ln(u)/w — one pass, no rejection loop, inclusion
    probability ∝ weight). Here weight = document length, the standard
    length-proportional corpus subsample.

    Determinism: u is hash-derived from the doc id (the engine's no-RNG
    rule — reruns, repartitions, and the DuckDB oracle all see the same
    "randomness"), and the sort key is floor-scaled to a 1e-12 grid
    with a doc_id tie-break so the top-k frontier survives last-ulp libm
    differences between engines' ln. Scale: a map-side key expression
    and a TakeOrdered top-k — no shuffle beyond the k-row reduction; at
    cluster scale every partition keeps its local top-k before the
    single merge.
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_WS_SEED), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / 4294967297.0
    sample_key = F.floor((-F.log(u) / F.col("n_chars")) * 1e12).cast("bigint")
    return (
        docs.select("doc_id", "source", "n_chars", sample_key.alias("sample_key"))
        .orderBy(F.asc("sample_key"), F.asc("doc_id"))
        .limit(_WS_K)
    )


# --------------------------------------------------------------------------
# C8k — source-mixture solver: target proportions under a token budget
# --------------------------------------------------------------------------
def plan_source_mix(
    docs: DataFrame,
    targets: dict[str, float],
    token_budget: int,
    *,
    token_col: str = "n_chars",
) -> dict[str, dict]:
    """Solve the data-mixture plan: how many tokens to take from each
    source so the kept corpus matches ``targets`` (relative proportions)
    within ``token_budget`` — with WATERFALL REDISTRIBUTION when a source
    cannot supply its share (the universal mixture-planning wrinkle: if
    the high-quality source is small, its shortfall is re-split across
    the sources that still have headroom, preserving their relative
    targets).

    One aggregate over the corpus (per-source token totals — the only
    distributed work; the solver itself iterates over ≤ #sources rows on
    the driver). Returns, per source: available tokens, allocated
    tokens, and the integer percent keep-rate to feed
    :func:`source_mix`. Deterministic: pure arithmetic on exact counts.
    """
    totals = {
        r.source: r.total
        for r in docs.groupBy("source")
        .agg(F.sum(F.col(token_col)).cast("long").alias("total"))
        .collect()
    }
    weight_sum = sum(targets.values())
    norm = {s: w / weight_sum for s, w in targets.items()}
    alloc = {s: 0 for s in targets}
    remaining_budget = token_budget
    open_sources = {s for s in targets if totals.get(s, 0) > 0}
    # waterfall: give every open source its proportional share; sources
    # that cap out at their available tokens close, and their unmet share
    # re-splits across the still-open sources next round.
    while remaining_budget > 0 and open_sources:
        w = sum(norm[s] for s in open_sources)
        round_alloc = {
            s: int(remaining_budget * norm[s] / w) for s in open_sources
        }
        progressed = False
        for s in sorted(open_sources):
            take = min(round_alloc[s], totals.get(s, 0) - alloc[s])
            if take > 0:
                alloc[s] += take
                remaining_budget -= take
                progressed = True
            if alloc[s] >= totals.get(s, 0):
                open_sources = open_sources - {s}
        if not progressed:
            break  # integer rounding exhausted meaningful progress
    return {
        s: {
            "available": totals.get(s, 0),
            "allocated": alloc[s],
            # ceil for POSITIVE allocations: round() collapses any
            # allocation under ~0.5% of its source to rate 0 — the mix
            # would then keep NOTHING of a source the plan allocated
            # tokens to. Ceiling overshoots by <1% of the source, which
            # the budget note documents; a zero allocation stays 0.
            "keep_rate_pct": (
                min(100, math.ceil(100 * alloc[s] / totals[s]))
                if totals.get(s, 0) and alloc[s] > 0
                else 0
            ),
        }
        for s in targets
    }


# --------------------------------------------------------------------------
# C8i — DSIR-style importance-weighted data selection
# --------------------------------------------------------------------------

DSIR_TARGET_LANG = "en"
DSIR_TOP_K = 100


def _dsir_oracle() -> str:
    from ..functions.exact import sql_trunc6
    from ..functions.textfns import sql_tokens

    return f"""
    WITH td AS (
      SELECT doc_id, lang, token, COUNT(*) AS cnt
      FROM (SELECT doc_id, lang, unnest({sql_tokens('text')}) AS token
            FROM documents)
      WHERE token <> ''
      GROUP BY doc_id, lang, token
    ),
    sfreq AS (
      SELECT token, CAST(SUM(cnt) AS BIGINT) AS sc FROM td GROUP BY token
    ),
    tfreq AS (
      SELECT token, CAST(SUM(cnt) AS BIGINT) AS tc
      FROM td WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY token
    ),
    consts AS (
      SELECT CAST(SUM(sc) AS BIGINT) AS s_n,
             (SELECT CAST(COALESCE(SUM(tc), 0) AS BIGINT) FROM tfreq) AS t_n,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM sfreq
    ),
    ratio AS (
      SELECT s.token,
             CAST(FLOOR((ln((COALESCE(t.tc, 0) + 1.0) / (c.t_n + c.v))
                         - ln((s.sc + 1.0) / (c.s_n + c.v)))
                        * 1000000.0 + 0.5) AS BIGINT) AS lr6
      FROM sfreq s LEFT JOIN tfreq t ON s.token = t.token
      CROSS JOIN consts c
    ),
    score AS (
      SELECT td.doc_id,
             CAST(SUM(td.cnt) AS BIGINT) AS n_tokens,
             {sql_trunc6(
                 "(CAST(SUM(td.cnt * r.lr6) AS DOUBLE) / 1000000.0)"
                 " / SUM(td.cnt)"
             )} AS avg_log_ratio
      FROM td JOIN ratio r ON td.token = r.token
      WHERE td.lang <> '{DSIR_TARGET_LANG}'
      GROUP BY td.doc_id
    )
    SELECT doc_id, n_tokens, avg_log_ratio
    FROM score
    ORDER BY avg_log_ratio DESC, doc_id ASC
    LIMIT {DSIR_TOP_K}
    """


@query(
    "c08_dsir_select",
    oracle=_dsir_oracle(),
    driver=False,
)
def c08_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8i: DSIR-style importance-weighted data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling") — score every out-of-domain document by the smoothed
    unigram log-likelihood RATIO between the in-domain target (here
    ``lang = 'en'``) and the full source corpus, and keep the top-k.
    This is the exact-unigram variant of DSIR's hashed-n-gram features:
    same estimator, vocabulary-exact, hence differentially verifiable.

    Determinism: the log-ratio quantizes ONCE per vocabulary token to a
    6-dp fixed-point BIGINT (``floor(lr·1e6 + 0.5)``, spelled identically
    in both engines), so every per-(doc,token) product and per-doc sum is
    exact integer arithmetic — partition-order-independent, with a single
    ULP-boundary site per token (p ≈ 2⁻⁴⁵) rather than one per summand.
    The per-doc average truncates at 6 dp and the top-k orders by
    (avg_log_ratio DESC, doc_id) — a total order.

    Scale: ONE tokenize+explode pass collapsed to (doc, lang, token)
    counts and PERSISTED; the target/source frequency tables, the
    1-row smoothing constants (broadcast), and the scoring join all
    reuse the collapsed index. The scoring join is token-keyed against
    the vocabulary-grain ratio table; the final top-k is a
    TakeOrdered, never a global sort. At 100 TB the ratio table is
    vocabulary-sized (shuffle-free to broadcast when it fits) and the
    per-doc aggregate partial-combines.
    """
    from pyspark.storagelevel import StorageLevel

    from ..functions.exact import trunc6
    from ..functions.partitioning import rebalance
    from ..functions.textfns import tokens

    docs = load(spark, sf_dir, "documents")
    td = (
        rebalance(docs)
        .select("doc_id", "lang", F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "lang", "token")
        .agg(F.count("*").alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sfreq = td.groupBy("token").agg(F.sum("cnt").cast("bigint").alias("sc"))
    tfreq = (
        td.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("token")
        .agg(F.sum("cnt").cast("bigint").alias("tc"))
    )
    consts = (
        sfreq.agg(
            F.sum("sc").cast("bigint").alias("s_n"),
            F.count("*").cast("bigint").alias("v"),
        )
        .crossJoin(
            F.broadcast(
                tfreq.agg(
                    F.coalesce(F.sum("tc"), F.lit(0))
                    .cast("bigint")
                    .alias("t_n")
                )
            )
        )
    )
    # Quantize the log-ratio ONCE per vocabulary token — lr6 = the 6-dp
    # fixed-point integer floor(lr·1e6 + 0.5), the dec_sum spelling —
    # so every downstream per-(doc,token) product and per-doc sum is
    # EXACT integer arithmetic. The engines' ln() can differ in the last
    # ULP; quantizing at the vocabulary grain leaves one boundary-flip
    # site per token (p ≈ 2⁻⁴⁵ each) instead of amplifying the exposure
    # across every rounded cnt·lr summand (ADVICE r8).
    ratio = (
        sfreq.join(tfreq, "token", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "token",
            F.floor(
                (
                    F.log(
                        (F.coalesce(F.col("tc"), F.lit(0)) + 1.0)
                        / (F.col("t_n") + F.col("v"))
                    )
                    - F.log(
                        (F.col("sc") + 1.0) / (F.col("s_n") + F.col("v"))
                    )
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lr6"),
        )
    )
    return (
        td.filter(F.col("lang") != DSIR_TARGET_LANG)
        .join(ratio, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            trunc6(
                (
                    F.sum(F.col("cnt") * F.col("lr6")).cast("double")
                    / F.lit(1000000.0)
                )
                / F.sum("cnt")
            ).alias("avg_log_ratio"),
        )
        .orderBy(F.desc("avg_log_ratio"), F.asc("doc_id"))
        .limit(DSIR_TOP_K)
    )
