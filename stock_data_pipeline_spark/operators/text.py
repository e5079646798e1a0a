"""Tier C text analysis (SURVEY.md §2 C4): token stats, quality scoring,
language-ID heuristic, document fingerprinting.

Inputs: the driver's ``documents`` table (and, in the pipeline tier, the
reference's scraped ``news_data.Title`` column —
/root/reference/dags/news_data_to_gcp.py:45). Everything here is built-in
string/array functions — the hot path stays in WholeStageCodegen; there is
deliberately no Python in any of these operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exact import sql_dec_avg, sql_dec_sum, sql_trunc6, trunc6
from ..functions.partitioning import hash_bucket, sql_hash_bucket
from ..functions.textfns import (
    BPE_TOKEN_RE,
    quality_expr,
    sql_word_shingles,
    sql_quality_expr,
    sql_stopword_count,
    sql_tokens,
    stopword_count,
    tokens,
)
from ..registry import query


@query(
    "c04_text_metrics",
    oracle=f"""
    SELECT
      doc_id,
      CAST(n_tokens AS BIGINT) AS n_tokens,
      CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
      {sql_trunc6('CAST(n_chars AS DOUBLE) / n_tokens')} AS avg_token_len,
      {sql_trunc6('CAST(n_stop AS DOUBLE) / n_tokens')} AS stopword_ratio,
      {sql_trunc6('CAST(n_cjk AS DOUBLE) / greatest(n_chars, 1)')} AS cjk_score,
      CASE
        WHEN CAST(n_cjk AS DOUBLE) / greatest(n_chars, 1) > 0.2 THEN 'zh'
        WHEN CAST(n_stop AS DOUBLE) / n_tokens >= 0.03 THEN 'en'
        ELSE 'unknown'
      END AS predicted_lang,
      {sql_trunc6(sql_quality_expr('n_tokens', 'n_stop', 'n_chars'))}
        AS quality_score,
      md5(lower(norm)) AS fingerprint,
      CAST(length(norm) AS BIGINT) AS norm_len
    FROM (
      SELECT doc_id, n_chars,
             len({sql_tokens('text')}) AS n_tokens,
             {sql_stopword_count(sql_tokens('text'))} AS n_stop,
             length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g'))
               AS n_cjk,
             len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS bpe_tokens,
             regexp_replace(trim(text), '\\s+', ' ', 'g') AS norm
      FROM documents
    )
    """,
    driver=False,
)
def c04_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: the per-document text-analysis panel, all from ONE scan of
    ``documents``:

    - token counts: whitespace tokens and the BPE-ish pre-tokenizer count;
    - quality score: length / stopword-density / word-length heuristics,
      the standard pretraining-data filter shape;
    - language-ID heuristic: EN function-word density (``stopword_ratio``)
      plus CJK-script character density, no model. The synthetic corpus
      is English-like for every label, so label accuracy is asserted on
      crafted samples in tests/test_text.py;
    - the canonical fingerprint: md5 over whitespace-normalized,
      lowercased text, the exact-dedup join key (operators/dedup.py C1).

    Ratios are truncated to 6 dp with floor(x·1e6)/1e6, NOT round(): the
    per-row doubles are bit-identical across engines but round() is not —
    Spark half-rounds the exact binary value while the oracle rounds its
    shortest decimal rendering, and a score landing on a .xxxxxx5 boundary
    (1 doc in 5000 at sf0.1) splits them.

    Scale: map-only — every metric is a built-in string/array expression
    over scan columns (one tokenize pass reused by four metrics), so the
    whole panel pipelines with the parquet scan in WholeStageCodegen. No
    shuffle, no Python.
    """
    from ..functions.partitioning import rebalance

    docs = rebalance(load(spark, sf_dir, "documents"))
    tok = tokens("text")
    norm = F.regexp_replace(F.trim("text"), r"\s+", " ")
    base = docs.select(
        "doc_id",
        "n_chars",
        F.size(tok).alias("n_tokens"),
        stopword_count(tok).alias("n_stop"),
        F.length(F.regexp_replace("text", r"[^一-鿿]", "")).alias("n_cjk"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), 0)).alias(
            "bpe_tokens"
        ),
        norm.alias("norm"),
    )
    n_chars_d = F.col("n_chars").cast("double")
    n_stop_d = F.col("n_stop").cast("double")
    cjk_score = F.col("n_cjk").cast("double") / F.greatest(
        F.col("n_chars"), F.lit(1).cast("bigint")
    )
    return base.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("bpe_tokens").cast("bigint").alias("bpe_tokens"),
        trunc6(n_chars_d / F.col("n_tokens")).alias("avg_token_len"),
        trunc6(n_stop_d / F.col("n_tokens")).alias("stopword_ratio"),
        trunc6(cjk_score).alias("cjk_score"),
        F.when(cjk_score > 0.2, "zh")
        .when(n_stop_d / F.col("n_tokens") >= 0.03, "en")
        .otherwise("unknown")
        .alias("predicted_lang"),
        trunc6(
            quality_expr(
                F.col("n_tokens"), F.col("n_stop"), F.col("n_chars")
            )
        ).alias("quality_score"),
        F.md5(F.lower("norm")).alias("fingerprint"),
        F.length("norm").cast("bigint").alias("norm_len"),
    )


@query(
    "c04_text_stats",
    oracle=f"""
    SELECT
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      {sql_dec_avg('len(' + sql_tokens('text') + ')', 6)} AS avg_tokens,
      {sql_dec_sum('len(' + sql_tokens('text') + ')', 0)} AS total_tokens
    FROM documents
    GROUP BY lang
    """,
    driver=False,
)
def c04_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4a: corpus-level token statistics per language.

    Scale: tokenization is per-row; the group-by on ``lang`` (≤ tens of
    values) is a trivially small shuffle after map-side combine.
    """
    from ..functions.exact import dec_avg, dec_sum

    docs = load(spark, sf_dir, "documents")
    ntok = F.size(tokens("text"))
    # the SHARED exact spellings (functions/exact.py), matching the
    # oracle's sql_dec_avg/sql_dec_sum arithmetic exactly — a hand-rolled
    # DECIMAL(18,6) sum agrees only while total*1e6 <= 2^53, which a
    # 100 TB language bucket exceeds
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        dec_avg(ntok, 6).alias("avg_tokens"),
        dec_sum(ntok, 0).alias("total_tokens"),
    )


@query(
    "c04_top_tokens",
    oracle=f"""
    SELECT token, COUNT(*) AS freq
    FROM (SELECT unnest({sql_tokens('text')}) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY freq DESC, token ASC
    LIMIT 20
    """,
    driver=False,
)
def c04_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4b: global top-20 token frequencies (explode → count → top-k).

    Scale: explode multiplies rows by avg tokens/doc, but partial
    aggregation collapses counts before the shuffle, and the final top-k
    is TakeOrderedAndProject. This is the word-count shape at 100 TB.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
    )


@query(
    "c04_tfidf_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, token
      FROM (SELECT doc_id, source, unnest({sql_tokens('text')}) AS token
            FROM documents)
      WHERE token <> ''
    ),
    doc_freq AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
    ),
    corpus AS (SELECT COUNT(*) AS n_docs FROM documents),
    term_freq AS (
      SELECT source, token, COUNT(*) AS tf FROM toks GROUP BY source, token
    )
    SELECT source, token, tf, df, tfidf, term_rank FROM (
      SELECT
        t.source, t.token,
        CAST(t.tf AS BIGINT) AS tf,
        CAST(d.df AS BIGINT) AS df,
        round(t.tf * ln(CAST(c.n_docs AS DOUBLE) / d.df), 6) AS tfidf,
        ROW_NUMBER() OVER (
          PARTITION BY t.source
          ORDER BY round(t.tf * ln(CAST(c.n_docs AS DOUBLE) / d.df), 6) DESC,
                   t.token ASC
        ) AS term_rank
      FROM term_freq t JOIN doc_freq d ON t.token = d.token CROSS JOIN corpus c
    ) WHERE term_rank <= 5
    """,
    driver=True,
)
def c04_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4f: top-5 characteristic terms per source by TF-IDF — the standard
    corpus-profiling / domain-tagging primitive.

    Scale: per-doc token counts are computed in-row (sorted-array run
    lengths), so NO corpus-sized rows ever cross an exchange — the one
    (token, source) aggregate map-side-combines to vocabulary grain
    before its shuffle, df is a window over that vocabulary-sized frame,
    and the 1-row corpus count is a broadcast nested-loop. idf uses
    integer counts only, so the double math is engine-identical.
    """
    from ..functions.partitioning import rebalance

    docs = load(spark, sf_dir, "documents")
    # Per-doc (token, in-doc count) pairs computed IN-ROW (r14): the old
    # groupBy(doc_id, source, token) existed only to collapse a doc's
    # repeated tokens — but a doc's tokens live in one cell, so the
    # collapse needs no shuffle at all. sort_array + run-length encoding
    # over the token array (boundary positions where the sorted value
    # changes; run length = gap to the next boundary) yields the same
    # (token, tf_doc) pairs with O(n log n) per-row work in codegen, and
    # the explode emits DISTINCT-token grain (fewer rows than the old
    # per-occurrence explode). That removes the plan's only CORPUS-SIZED
    # exchange — the remaining shuffles all carry vocabulary-grain rows
    # after map-side partial aggregation (guide §2.3/§2.4).
    # The sorted array and the boundary-position array are materialized as
    # PROJECTED COLUMNS, not inlined expressions: a lambda that indexes an
    # inline array expression re-evaluates that whole expression per
    # element (O(n²) per doc — measured 25 s vs 0.9 s at sf0.1 on the
    # first cut of this change), while indexing an attribute is O(1).
    # CollapseProject will not merge these projects because each array is
    # referenced more than once and is non-cheap.
    st = F.col("_st")
    n = F.size(st)
    # sequence(1, n) counts DOWN when n < 1 — empty/whitespace-only docs
    # must yield no runs, not a [1, 0] index array.
    seq = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    bp = F.col("_bp")
    runs = F.transform(
        bp,
        lambda p, j: F.struct(
            F.get(st, p - 1).alias("token"),
            (F.coalesce(F.get(bp, j + 1), n + 1) - p).alias("tf_doc"),
        ),
    )
    runs_df = (
        rebalance(docs)
        .select(
            "source",
            F.sort_array(
                F.filter(tokens("text"), lambda t: t != F.lit(""))
            ).alias("_st"),
        )
        .select(
            "source",
            "_st",
            F.filter(
                seq,
                lambda i: (i == F.lit(1))
                | (F.get(st, i - 1) != F.get(st, i - 2)),
            ).alias("_bp"),
        )
        .select("source", F.explode(runs).alias("r"))
        .select(
            "source",
            F.col("r.token").alias("token"),
            F.col("r.tf_doc").alias("tf_doc"),
        )
    )
    # Each (doc, token) contributes exactly one run, so COUNT(*) rows per
    # (token, source) is the per-source distinct-doc count (df_part) and
    # SUM(tf_doc) is the occurrence count (tf) — identical to the old
    # two-level aggregate; the token-level document frequency is still a
    # window SUM over this vocabulary-sized frame (each doc has exactly
    # one source, so per-(token, source) distinct-doc counts sum to df).
    ts = runs_df.groupBy("token", "source").agg(
        F.count("*").alias("df_part"),
        F.sum("tf_doc").alias("tf"),
    )
    corpus = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        ts.withColumn("df", F.sum("df_part").over(Window.partitionBy("token")))
        .crossJoin(F.broadcast(corpus))
        .select(
            "source",
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 5)
    )


# --------------------------------------------------------------------------
# C4g — PII redaction (regex scrub, the pre-training hygiene pass)
# --------------------------------------------------------------------------
# Conservative patterns shared verbatim by both engines (Java regex and
# DuckDB RE2 agree on this subset: char classes, +, {n,}, alternation).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PHONE_RE = "[+]?[0-9][0-9()\\- ]{6,}[0-9]"


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Emails/phones replaced with typed placeholders + per-doc match
    counts. Pure ``regexp_replace``/``regexp_count`` — JVM codegen, no
    Python; at 100 TB this is a map-only pass that pipelines with the
    scan."""
    c = F.col(text_col)
    # phones are counted on the EMAIL-REDACTED intermediate — the same
    # text the phone replacement actually runs on — so n_phones equals
    # the number of <PHONE> placeholders in the output (a digit run
    # inside an email address is consumed by the email pass and must not
    # be reported as a phantom phone redaction)
    emailless = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return docs.select(
        "doc_id",
        F.regexp_replace(emailless, PHONE_RE, "<PHONE>").alias("redacted"),
        F.regexp_count(c, F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(emailless, F.lit(PHONE_RE)).cast("int").alias("n_phones"),
    )


@query(
    "c04_redact_pii",
    oracle=f"""
    SELECT
      doc_id,
      regexp_replace(
        regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
        '{PHONE_RE}', '<PHONE>', 'g') AS redacted,
      CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INT) AS n_emails,
      CAST(len(regexp_extract_all(
        regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
        '{PHONE_RE}')) AS INT) AS n_phones
    FROM documents
    """,
    driver=True,
)
def c04_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4g: PII redaction — emails/phones scrubbed to placeholders with
    match counts, the standard pre-training hygiene pass. Behavior on
    crafted PII-bearing strings is asserted in tests/test_text.py; the
    oracle proves engine parity of the regex dialect subset used."""
    return redact_pii(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# C4h — decontamination: n-gram overlap against a held-out eval set
# --------------------------------------------------------------------------
_DECON_SHINGLE_K = 3
_DECON_MIN_SHARED = 3
_EVAL_MOD = 97  # doc_id % 97 == 0 → the stand-in benchmark/eval subset


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    *,
    k: int = _DECON_SHINGLE_K,
    min_shared: int = _DECON_MIN_SHARED,
) -> DataFrame:
    """(train_id, eval_id, n_shared) for every train doc sharing ≥
    ``min_shared`` distinct k-gram shingles with an eval doc.

    The canonical pre-training decontamination join: both sides explode to
    an inverted shingle index and meet in an equi-join on the shingle —
    never a cross join. Scale: cost is Σ_shingle df_train × df_eval; the
    eval side is tiny by construction, so the join is effectively a
    semi-probe of the train index; skewed stop-shingles are bounded by the
    distinct-set shingling (each doc contributes a shingle once).
    """
    from ..functions.partitioning import rebalance
    from ..functions.textfns import word_shingles

    # Shingling is CPU-heavy per row; a single-file scan would otherwise
    # run it in one task (see functions/partitioning.py).
    t = rebalance(train).select(
        F.col("doc_id").alias("train_id"),
        F.explode(word_shingles(tokens("text"), k)).alias("shingle"),
    )
    e = rebalance(eval_set).select(
        F.col("doc_id").alias("eval_id"),
        F.explode(word_shingles(tokens("text"), k)).alias("shingle"),
    )
    return (
        t.join(e, "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


_DECON_SH_SQL = sql_word_shingles(sql_tokens("text"), _DECON_SHINGLE_K)


@query(
    "c04_decontaminate",
    oracle=f"""
    WITH sh_t AS (
      SELECT doc_id AS train_id,
             unnest({_DECON_SH_SQL}) AS shingle
      FROM documents WHERE doc_id % {_EVAL_MOD} <> 0
    ), sh_e AS (
      SELECT doc_id AS eval_id,
             unnest({_DECON_SH_SQL}) AS shingle
      FROM documents WHERE doc_id % {_EVAL_MOD} = 0
    )
    SELECT train_id, eval_id, COUNT(*) AS n_shared
    FROM sh_t JOIN sh_e USING (shingle)
    GROUP BY train_id, eval_id
    HAVING COUNT(*) >= {_DECON_MIN_SHARED}
    """,
    driver=False,
)
def c04_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4h: decontamination — training docs sharing ≥3 distinct 3-gram
    shingles with the held-out eval subset (doc_id % 97 == 0), via the
    inverted-index equi-join (never a cross join)."""
    docs = load(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % _EVAL_MOD != 0)
    eval_set = docs.filter(F.col("doc_id") % _EVAL_MOD == 0)
    return decontaminate(train, eval_set)


def decontaminate_verdicts(
    train: DataFrame,
    eval_set: DataFrame,
    *,
    k: int = _DECON_SHINGLE_K,
    min_shared: int = _DECON_MIN_SHARED,
) -> DataFrame:
    """Per-TRAIN-DOC contamination verdicts — the output a production
    decontamination pass actually consumes (drop/keep per row), LINEAR in
    the corpus at any duplicate rate, unlike the (train, eval) PAIR LIST
    (:func:`decontaminate`), whose row count is inherently quadratic in
    the per-text copy factor (r13 three-decade probe: the pair list grew
    102× for 10× data on the 100-copy twin — output cardinality, not a
    plan defect; this shape is the remedy).

    Scale composition (the c02 dedup-first law applied to
    decontamination): both sides collapse to one representative per
    content fingerprint BEFORE shingling — identical texts have identical
    shingle sets, hence identical verdicts, so collapsing is
    semantics-preserving, and the inverted-index join cost
    Σ_shingle df_t·df_e becomes independent of the duplicate factor.
    Verdicts propagate back to every train copy by fingerprint
    (hash-keyed equi-join), and ``n_eval_hits`` counts eval DOCS (copies
    included) by carrying each eval fingerprint's group size through the
    pair stage — bit-identical to running the pair list on the raw
    corpus and aggregating, which is exactly what the DuckDB oracle does.

    Plan shape (r13 optimization round, measured at sf0.1/1/10):

    - Each side is projected to ``(id, canonical_text, fp)`` ONCE and
      ``localCheckpoint(eager=False)``-ed — IFF the input scan is big
      enough that rebuilding the subtree costs more than materializing
      it. The raw scan and the canonicalization regex — 3.9 s of the
      11.0 s sf10 reading, paid per reference before — then run a
      single time per side instead of once per consumer (train side has
      two consumers: the unique-text agg and the per-doc propagation
      probe); measured −40% at sf10 (interleaved A/B 12.09 → 7.29 s).
      At fixture scale the SAME checkpoint is pure fixed overhead
      (interleaved 3-arm A/B at sf0.1: old 1.185 s / canon-no-ckpt
      1.222 s / ckpt 2.116 s — the corpus is 0.6 MB and task-launch +
      block-store IO dwarf the ~ms of avoided recompute), so the gate
      reads the scan's stat-able bytes
      (:func:`~..functions.partitioning.local_scan_bytes`) against
      ``spark.spark_graft.decon.materializeMinBytes`` (default 16 MiB);
      unknown size (remote/object-store input — i.e. production) takes
      the materialize branch, the scale-safe default. Same
      materialize-once pattern as ``near_dedup_corpus`` (whose window
      subtree is expensive enough that its checkpoint wins at EVERY
      scale, hence stays unconditional); pinned both ways by
      tests/test_scan_budget.py::test_decontaminate_verdicts_materialize_gate.
    - The representative text is derived from the CANONICAL text, not a
      min_by-chosen raw copy. Theorem: same fingerprint ⟹ same raw
      TOKEN LIST (the canonical text encodes the words plus
      leading/trailing-whitespace markers as edge spaces, and
      ``tokens()`` is determined by exactly that information), and that
      token list is recovered bit-exactly as ``split(canon, ' ')`` —
      including the edge EMPTY tokens a text with leading/trailing
      non-space whitespace produces, which ``tokens(canon)`` itself
      would LOSE because ``trim`` strips the canon's edge-space markers
      (pinned by tests/test_text.py::test_tokens_invariant...). Feeding
      the shingler ``translate(canon, ' ', '\\t')`` makes its
      ``tokens()`` reproduce that list verbatim (tabs are not trimmed;
      single separators keep edge empties). Dedup therefore becomes a
      plain hash-aggregable ``groupBy(fp, canon_text)`` — canon_text is
      functionally determined by the fingerprint. The previous
      ``min_by(text, id)`` forced a SortAggregate (string-valued agg
      buffer has no hash path): two full corpus sorts, both gone
      (plans/r13, 4 SortAggregate → 0; sf10 interleaved A/B
      12.1 s → 7.3 s).
    """
    from ..functions.partitioning import local_scan_bytes, rebalance
    from .dedup import canonical_text

    spark = train.sparkSession
    min_bytes = int(
        spark.conf.get(
            "spark.spark_graft.decon.materializeMinBytes",
            str(16 * 1024 * 1024),
        )
    )
    nbytes = local_scan_bytes(train)
    materialize = nbytes is None or nbytes >= min_bytes

    canon = canonical_text("text")

    def _base(side: DataFrame, id_out: str) -> DataFrame:
        # rebalance BEFORE the canon projection when materializing: the
        # regex+md5 pass is the CPU cost on a big corpus, and a
        # single-file scan would run it in one task (no-op on real
        # multi-file inputs — functions/partitioning.py). When the scan
        # is fixture-sized the repartition+checkpoint pair is skipped
        # wholesale (see the gate rationale in the docstring).
        src = rebalance(side) if materialize else side
        base = src.select(F.col("doc_id").alias(id_out), canon.alias("text"))
        base = base.withColumn("_fp", F.md5("text"))  # == fp of the RAW text
        return base.localCheckpoint(eager=False) if materialize else base

    t_base = _base(train, "train_id")
    e_base = _base(eval_set, "eval_id")
    # Uniques via hash AGG, not a row_number window or min_by: the
    # partial (map-side) aggregate collapses same-text copies before the
    # exchange, so the shuffle carries one text per distinct content —
    # on a dup-heavy corpus that is the difference between shuffling the
    # corpus and shuffling its unique set. The pair stage is keyed by
    # the FINGERPRINT itself (no rep-id indirection): each unique frame
    # is built from the checkpointed base, so Catalyst re-expansion (the
    # b86 twice-referenced-CTE trap) re-reads checkpoint blocks, never
    # the corpus, and the verdict propagation is one fingerprint-keyed
    # join of the fingerprint-sized verdict table — which broadcasts (via
    # AQE runtime stats) at any realistic contamination rate.
    t_uniq = t_base.select("_fp", "text").distinct()
    e_uniq = e_base.groupBy("_fp", "text").agg(
        F.count("*").alias("_n_copies")
    )
    # translate(canon, ' ', '\t'): tokens() of THIS string is the raw
    # token list bit-exactly (see the theorem above) — tabs survive
    # trim, and the canon's single-space separators become single-tab
    # separators, so edge empty tokens are preserved.
    shingle_form = F.translate(F.col("text"), " ", "\t").alias("text")
    pairs = decontaminate(
        t_uniq.select(F.col("_fp").alias("doc_id"), shingle_form),
        e_uniq.select(F.col("_fp").alias("doc_id"), shingle_form),
        k=k,
        min_shared=min_shared,
    )
    fp_verdicts = (
        pairs.join(
            e_uniq.select(F.col("_fp").alias("eval_id"), "_n_copies"),
            "eval_id",
        )
        .groupBy("train_id")
        .agg(
            F.sum("_n_copies").cast("bigint").alias("n_eval_hits"),
            F.max("n_shared").cast("bigint").alias("max_shared"),
        )
        .withColumnRenamed("train_id", "_fp")
    )
    return (
        t_base.select("train_id", "_fp")
        .join(fp_verdicts, "_fp", "left")
        .select(
            "train_id",
            F.coalesce("n_eval_hits", F.lit(0)).cast("bigint").alias(
                "n_eval_hits"
            ),
            F.col("max_shared").cast("bigint").alias("max_shared"),
            (F.coalesce("n_eval_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


@query(
    "c04_decontaminate_verdicts",
    oracle=f"""
    WITH sh_t AS (
      SELECT doc_id AS train_id,
             unnest({_DECON_SH_SQL}) AS shingle
      FROM documents WHERE doc_id % {_EVAL_MOD} <> 0
    ), sh_e AS (
      SELECT doc_id AS eval_id,
             unnest({_DECON_SH_SQL}) AS shingle
      FROM documents WHERE doc_id % {_EVAL_MOD} = 0
    ), pairs AS (
      SELECT train_id, eval_id, COUNT(*) AS n_shared
      FROM sh_t JOIN sh_e USING (shingle)
      GROUP BY train_id, eval_id
      HAVING COUNT(*) >= {_DECON_MIN_SHARED}
    ), v AS (
      SELECT train_id,
             CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
             CAST(MAX(n_shared) AS BIGINT) AS max_shared
      FROM pairs GROUP BY train_id
    )
    SELECT d.doc_id AS train_id,
           CAST(COALESCE(v.n_eval_hits, 0) AS BIGINT) AS n_eval_hits,
           v.max_shared AS max_shared,
           COALESCE(v.n_eval_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN v ON v.train_id = d.doc_id
    WHERE d.doc_id % {_EVAL_MOD} <> 0
    """,
    driver=False,
)
def c04_decontaminate_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4h': decontamination VERDICTS — per-train-doc (n_eval_hits,
    max_shared, contaminated) over the same eval split as
    c04_decontaminate. The production output shape (linear rows at any
    duplicate rate); the engine side runs dedup-first with fingerprint
    propagation (:func:`decontaminate_verdicts`), the oracle replays the
    raw pair list + aggregate — identical results because identical
    texts have identical shingle sets."""
    docs = load(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % _EVAL_MOD != 0)
    eval_set = docs.filter(F.col("doc_id") % _EVAL_MOD == 0)
    return decontaminate_verdicts(train, eval_set)


# --------------------------------------------------------------------------
# C4i — repetition-based quality filter (Gopher-style repetition rules)
# --------------------------------------------------------------------------
_TTR_MIN = 0.45  # keep docs with type-token ratio >= this
_TOP_BG_MAX = 0.06  # ...and most-frequent-bigram share <= this


@query(
    "c04_repetition_filter",
    driver=False,
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
             list_transform(generate_series(1, len(ws) - 1),
                            i -> ws[i] || ' ' || ws[i + 1]) AS bgs
      FROM w
    ), e AS (
      SELECT doc_id, n_words, n_distinct, unnest(bgs) AS bg FROM m
    ), c AS (
      SELECT doc_id, n_words, n_distinct, bg, COUNT(*) AS c
      FROM e GROUP BY ALL
    ), a AS (
      SELECT doc_id, n_words, n_distinct,
             MAX(c) AS top_bigram_n, SUM(c) AS n_bigrams
      FROM c GROUP BY doc_id, n_words, n_distinct
    )
    SELECT doc_id, n_words, n_distinct,
           {sql_trunc6('n_distinct * 1.0 / n_words')} AS ttr,
           {sql_trunc6('top_bigram_n * 1.0 / n_bigrams')} AS top_bigram_frac,
           ({sql_trunc6('n_distinct * 1.0 / n_words')} >= {_TTR_MIN}
            AND {sql_trunc6('top_bigram_n * 1.0 / n_bigrams')} <= {_TOP_BG_MAX})
             AS keep
    FROM a
    """,
)
def c04_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4i: repetition-based quality filtering, the Gopher repetition
    rules (Rae et al. 2021 §A1.1) adapted to single-line documents —
    type-token ratio (distinct words / words) and the share of all word
    bigrams taken by the single most frequent bigram. Low TTR or a
    dominant bigram marks boilerplate/spam; ``keep`` applies both
    thresholds. Docs too short to form a bigram drop out in both engines
    (explode/unnest of an empty list).

    Scale: TTR is pure codegen (``array_distinct`` on the word array, no
    shuffle). The bigram mode needs per-(doc, bigram) counts — an
    explode + two hash aggregates keyed by doc_id(+bigram), so every
    shuffle key is document-local and uniformly distributed; state per
    doc is O(distinct bigrams), never global. Both ratios are
    floor-truncated (functions/exact.py::trunc6) before the threshold
    compare so the keep flag is bit-identical cross-engine.
    """
    from ..functions.partitioning import rebalance

    docs = rebalance(load(spark, sf_dir, "documents"))
    m = docs.select(
        "doc_id",
        F.split("text", " ").alias("ws"),
    ).select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_words"),
        F.size(F.array_distinct("ws")).cast("bigint").alias("n_distinct"),
        F.expr(
            "transform(slice(ws, 1, size(ws) - 1),"
            " (x, i) -> concat(x, ' ', ws[i + 1]))"
        ).alias("bgs"),
    )
    counts = (
        m.select("doc_id", "n_words", "n_distinct", F.explode("bgs").alias("bg"))
        .groupBy("doc_id", "n_words", "n_distinct", "bg")
        .count()
    )
    agg = counts.groupBy("doc_id", "n_words", "n_distinct").agg(
        F.max("count").alias("top_bigram_n"),
        F.sum("count").alias("n_bigrams"),
    )
    ttr = trunc6(F.col("n_distinct") / F.col("n_words"))
    top_frac = trunc6(F.col("top_bigram_n") / F.col("n_bigrams"))
    return agg.select(
        "doc_id",
        "n_words",
        "n_distinct",
        ttr.alias("ttr"),
        top_frac.alias("top_bigram_frac"),
        ((ttr >= _TTR_MIN) & (top_frac <= _TOP_BG_MAX)).alias("keep"),
    )


# --------------------------------------------------------------------------
# C4j — winnowing fingerprints (MOSS local document fingerprinting)
# --------------------------------------------------------------------------
WINNOW_K = 5  # tokens per k-gram
WINNOW_W = 4  # k-gram hashes per winnowing window


def winnow_fingerprints(
    docs: DataFrame, *, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """One row per (doc, selected fingerprint): the winnowing scheme of
    Schleimer/Wilkerson/Aiken (MOSS, SIGMOD 2003) — hash every k-token
    gram, slide a window of w consecutive hashes, keep each window's
    minimum. Guarantees any shared run of k+w-1 tokens yields at least
    one shared fingerprint, while storing only ~2/(w+1) of the hashes —
    the sub-linear index behind plagiarism/overlap detection at corpus
    scale.

    Scale: gram hashing and window minima are higher-order expressions
    over the token array — the whole selection runs inside codegen with
    no shuffle; only the ~m/w selected fingerprints are exploded. The
    downstream overlap join is an equi-join on the fingerprint (same
    inverted-index shape as c02/c04_decontaminate), never all-pairs.
    """
    n = F.size("tok")
    gram_idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        gram_idx, lambda i: F.md5(F.array_join(F.slice("tok", i, k), " "))
    )
    base = docs.select("doc_id", tokens("text").alias("tok")).select(
        "doc_id", grams.alias("grams")
    )
    m = F.size("grams")
    win_idx = F.when(m >= w, F.sequence(F.lit(1), m - (w - 1))).otherwise(
        F.array().cast("array<int>")
    )
    selected = F.array_distinct(
        F.transform(win_idx, lambda j: F.array_min(F.slice("grams", j, w)))
    )
    return base.select(
        "doc_id", F.explode(selected).alias("fingerprint")
    )


@query(
    "c04_winnowing",
    driver=True,
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(tok) - {WINNOW_K - 1}, 0) + 1),
               i -> md5(array_to_string(tok[i:i+{WINNOW_K - 1}], ' '))
             ) AS g
      FROM (SELECT doc_id, {sql_tokens('text')} AS tok FROM documents)
    )
    SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(g) - {WINNOW_W - 1}, 0) + 1),
             j -> list_min(g[j:j+{WINNOW_W - 1}])))) AS fingerprint
    FROM grams
    """,
)
def c04_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4j: winnowing (MOSS) document fingerprints — per-window minimum
    of k-gram hashes, the guaranteed-overlap sub-linear fingerprint set."""
    return winnow_fingerprints(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# C4k — per-document unigram log-likelihood (LM-based quality signal)
# --------------------------------------------------------------------------
@query(
    "c04_unigram_logprob",
    driver=False,
    oracle=f"""
    WITH td AS (
      SELECT doc_id, token, COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest({sql_tokens('text')}) AS token
            FROM documents)
      WHERE token <> ''
      GROUP BY doc_id, token
    ),
    freq AS (SELECT token, CAST(SUM(cnt) AS BIGINT) AS c FROM td GROUP BY token),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM td)
    SELECT
      td.doc_id,
      CAST(SUM(td.cnt) AS BIGINT) AS n_tokens,
      {sql_trunc6(
          "(" + sql_dec_sum(
              "td.cnt * -ln(CAST(freq.c AS DOUBLE) / tot.n)", 6
          ) + " / SUM(td.cnt))"
      )} AS avg_neg_logprob
    FROM td JOIN freq ON td.token = freq.token CROSS JOIN tot
    GROUP BY td.doc_id
    """,
)
def c04_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4k: mean negative log-likelihood of each document under the
    corpus's own unigram LM — the classical model-based quality filter
    (gibberish and boilerplate-repetition outliers score far from the
    corpus mode; cf. the perplexity gates in CCNet/Gopher-style
    pipelines, here with the corpus itself as the LM so no external
    model ships).

    Scale: ONE tokenize+explode pass collapsed to per-(doc, token)
    counts, then PERSISTED — frequency table, corpus total, and the
    scoring join all reuse the collapsed index instead of re-tokenizing
    (same persist-the-index shape as MinHash LSH; ~tokens/2 rows, two
    ints each). The scoring join is keyed on token against the
    vocabulary-sized frequency table; -ln weights accumulate through
    dec_sum so the score is partition-order-independent.
    """
    from pyspark.storagelevel import StorageLevel

    from ..functions.exact import dec_sum
    from ..functions.partitioning import rebalance

    docs = load(spark, sf_dir, "documents")
    td = (
        rebalance(docs)
        .select("doc_id", F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    freq = td.groupBy("token").agg(F.sum("cnt").cast("bigint").alias("c"))
    tot = td.agg(F.sum("cnt").cast("bigint").alias("n"))
    neg_logprob = F.col("cnt") * -F.log(
        F.col("c").cast("double") / F.col("n")
    )
    return (
        td.join(freq, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            trunc6(dec_sum(neg_logprob, 6) / F.sum("cnt")).alias(
                "avg_neg_logprob"
            ),
        )
    )


# --------------------------------------------------------------------------
# C4l — corpus length distribution (log2-bucket histogram)
# --------------------------------------------------------------------------
@query(
    "c04_length_histogram",
    driver=False,
    oracle=f"""
    SELECT
      CAST(floor(ln(greatest(n_tok, 1)) / ln(2)) AS BIGINT) AS log2_bucket,
      COUNT(*) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
      CAST(MIN(n_tok) AS BIGINT) AS min_tokens,
      CAST(MAX(n_tok) AS BIGINT) AS max_tokens
    FROM (SELECT len({sql_tokens('text')}) AS n_tok FROM documents)
    GROUP BY CAST(floor(ln(greatest(n_tok, 1)) / ln(2)) AS BIGINT)
    """,
)
def c04_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4l: document-length distribution in log2 buckets — the first
    chart anyone makes of a training corpus (too-short and too-long
    tails drive the chunking/filter thresholds in c09/c04).

    Scale: map-only token count + one tiny hash aggregate (≤ ~40
    buckets); identical-double ln/floor arithmetic on integer token
    counts keeps the bucketing engine-exact.
    """
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text"))
    bucket = F.floor(
        F.log(F.greatest(n_tok, F.lit(1)).cast("double")) / F.log(F.lit(2.0))
    ).cast("bigint")
    return (
        docs.select(n_tok.alias("n_tok"), bucket.alias("log2_bucket"))
        .groupBy("log2_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.min("n_tok").cast("bigint").alias("min_tokens"),
            F.max("n_tok").cast("bigint").alias("max_tokens"),
        )
    )


# --------------------------------------------------------------------------
# C4 — hashed-feature linear classifier scoring (quality-model shape)
# --------------------------------------------------------------------------
_N_FEATURE_BUCKETS = 1024


@query(
    "c04_model_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({sql_tokens('text')}) AS token
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             {sql_hash_bucket('token', mod=_N_FEATURE_BUCKETS)} AS bucket
      FROM toks WHERE token <> ''''
    )
    SELECT doc_id,
           COUNT(*) AS n_feats,
           floor(CAST(SUM(bucket % 201 - 100) AS DOUBLE)
                 / (100.0 * COUNT(*)) * 1000000) / 1000000 AS model_score,
           CAST(SUM(bucket % 201 - 100) AS DOUBLE)
             / (100.0 * COUNT(*)) > 0.0 AS keep_doc
    FROM feats
    GROUP BY doc_id
    """,
    driver=False,
)
def c04_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: linear text-classifier scoring via the hashing trick
    (Weinberger et al. 2009) — the fastText-style quality-model pass
    every pretraining pipeline runs over its corpus. Tokens hash into
    {_N_FEATURE_BUCKETS} feature buckets (the engine-independent md5
    spelling shared with c08_hash_split); each bucket carries a weight
    from a BROADCAST weight table; a doc's score is its mean feature
    weight and ``keep_doc`` is the sign gate.

    The weight table here is synthesized deterministically from the
    bucket id ((b mod 201 − 100)/100 ∈ [−1, 1]) so the DuckDB oracle can
    recompute the ENTIRE path — tokenize → hash → weight lookup → exact
    fixed-point mean — by formula; a trained model drops in by replacing
    the synthesized table with real weights (same plan). Weights are 2-dp
    rationals, so the per-doc sum accumulates as exact integers and the
    score is bit-identical cross-engine, flags included.

    Scale: ONE tokenize+explode pass, a broadcast hash join against the
    KB-sized weight table (never a shuffle of the token stream by
    bucket), then a map-side-combined aggregate back to doc grain — the
    plan is Python-free end to end.
    """
    docs = load(spark, sf_dir, "documents")
    weights = spark.range(_N_FEATURE_BUCKETS).select(
        F.col("id").alias("bucket"),
        ((F.col("id") % 201 - 100) / 100.0).alias("weight"),
        (F.col("id") % 201 - 100).cast("long").alias("weight_c"),
    )
    feats = (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
        .select(
            "doc_id",
            hash_bucket("token", mod=_N_FEATURE_BUCKETS).alias("bucket"),
        )
    )
    scored = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_feats"),
            (
                F.sum("weight_c").cast("double")
                / (100.0 * F.count("*"))
            ).alias("raw_score"),
        )
    )
    return scored.select(
        "doc_id",
        "n_feats",
        trunc6(F.col("raw_score")).alias("model_score"),
        (F.col("raw_score") > 0.0).alias("keep_doc"),
    )


# --------------------------------------------------------------------------
# C4 — boilerplate line removal (the CCNet/web-corpus cleaning step)
# --------------------------------------------------------------------------
def boilerplate_lines(lines: DataFrame, max_line_df: int) -> DataFrame:
    """The SMALL side: lines whose corpus-wide DOCUMENT frequency
    exceeds ``max_line_df`` — navigation chrome, cookie banners, and
    license footers repeat across many documents; body text does not.
    Output cardinality is the number of OFFENDING distinct lines (tiny
    relative to the corpus), which is why the rebuild pass joins against
    THIS set rather than the keep-set complement (corpus-sized)."""
    return (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > max_line_df)
        .select("line")
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    *,
    max_line_df: int = 5,
    text_col: str = "text",
    sep: str = "\n",
    chunk_tokens: int | None = None,
) -> DataFrame:
    """(doc_id, n_lines, n_kept, cleaned): drop boilerplate lines —
    lines appearing in more than ``max_line_df`` documents — and
    reassemble each document from its surviving lines in order.

    Line definition: split on ``sep`` (newline for real web corpora).
    ``chunk_tokens`` instead segments the token stream into fixed-size
    chunks — the mode for corpora without line structure (and the one
    the registered query verifies against DuckDB, since the synthetic
    fixture is single-line).

    Scale: TWO corpus passes, the c08_quantile_bucketize shape — pass 1
    aggregates line document-frequencies down to the (small) offending
    boilerplate set; pass 2 re-explodes, marks each line by a left join
    against that set (broadcastable — its size is #offending lines, not
    corpus), and reassembles per doc in ONE grouped aggregate computing
    n_lines / n_kept / cleaned together (``array_sort`` of (pos, line)
    structs — no window). Every document yields ≥1 line (NULL text
    coalesces to '' first — splitting even an empty string gives one
    element), so doc coverage needs no third scan and NULL-text docs
    are RETAINED as empty-cleaned rows, never silently dropped.
    Documents whose every line is boilerplate likewise survive as empty
    strings (n_kept = 0) — dropping them is the caller's explicit gate,
    not a silent side effect.

    ``sep`` is a LITERAL separator: Spark's ``split`` takes a regex, so
    it is ``\\Q…\\E``-quoted here — ``sep='.'`` splits on dots, it does
    not regex-match every character — keeping split and the reassembly
    joiner symmetric.
    """
    base = docs.select(
        "doc_id", F.coalesce(F.col(text_col), F.lit("")).alias("__t")
    )
    if chunk_tokens is None:
        # Pattern.quote: literal match for any separator, incl. regex
        # metachars; an embedded \E ends the quote, so re-open around it
        quoted = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
        lines = base.select(
            "doc_id", F.posexplode(F.split("__t", quoted)).alias("pos", "line")
        )
        joiner = sep
    else:
        toks = F.split("__t", " ")
        n_chunks = F.ceil(F.size(toks) / F.lit(float(chunk_tokens))).cast("int")
        idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
            F.array().cast("array<int>")
        )
        lines = base.select(
            "doc_id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.array_join(
                            F.slice(toks, i * chunk_tokens + 1, chunk_tokens),
                            " ",
                        ).alias("line"),
                    ),
                )
            ).alias("pl"),
        ).select("doc_id", F.col("pl.pos").alias("pos"), F.col("pl.line").alias("line"))
        joiner = " "
    bl = boilerplate_lines(lines, max_line_df).withColumn(
        "__bl", F.lit(True)
    )
    # explicit broadcast: bl's size (an aggregation output) is unknown at
    # planning time, and without the hint the pre-AQE plan can shuffle
    # the corpus-sized line table on 'line' instead
    marked = lines.join(F.broadcast(bl), "line", "left").select(
        "doc_id",
        "pos",
        "line",
        F.col("__bl").isNull().alias("keep"),
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_lines"),
        F.count(F.when(F.col("keep"), 1)).cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("pos", "line", "keep"))),
                    lambda s: s.keep,
                ),
                lambda s: s.line,
            ),
            joiner,
        ).alias("cleaned"),
    )


@query(
    "c04_boilerplate_removal",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS toks
               FROM documents),
    lines AS (
      SELECT t.doc_id, g.i AS pos,
             array_to_string(t.toks[2*g.i+1:2*g.i+2], ' ') AS line
      FROM t, LATERAL (SELECT unnest(range(
        0, CAST(ceil(len(t.toks) / 2.0) AS BIGINT))) AS i) g
    ),
    df AS (
      SELECT line FROM lines GROUP BY line
      HAVING COUNT(DISTINCT doc_id) <= 5
    ),
    kept AS (SELECT l.* FROM lines l JOIN df USING (line)),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(line, ' ' ORDER BY pos) AS body
      FROM kept GROUP BY doc_id
    ),
    nl AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(nl.n_lines, 0) AS INT) AS n_lines,
           CAST(COALESCE(agg.n_kept, 0) AS INT) AS n_kept,
           sha256(COALESCE(agg.body, '')) AS cleaned_sha
    FROM documents d
    LEFT JOIN nl ON nl.doc_id = d.doc_id
    LEFT JOIN agg ON agg.doc_id = d.doc_id
    """,
    driver=False,
)
def c04_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: corpus-level boilerplate removal — the web-corpus cleaning
    step (CCNet-style): segment each document, drop segments whose
    document frequency across the corpus exceeds a cap (repeated
    chrome/footer/banner text), reassemble the survivors in order.

    The fixture corpus is single-line, so the registered query runs the
    token-chunk mode (2-token segments, max_df=5) — high-frequency
    chunks really are removed on this corpus, exercising the prune
    path, and DuckDB reproduces the entire pipeline (chunking, distinct-
    doc DF, ordered reassembly, sha256 of the rebuilt text). Newline
    mode — the production default — is unit-tested with crafted
    multi-line documents in tests/test_text.py.
    """
    out = remove_boilerplate_lines(
        load(spark, sf_dir, "documents"), max_line_df=5, chunk_tokens=2
    )
    return out.select(
        "doc_id", "n_lines", "n_kept", F.sha2("cleaned", 256).alias("cleaned_sha")
    )


# --------------------------------------------------------------------------
# C4o — corpus collocation mining (bigram PMI)
# --------------------------------------------------------------------------

# Bigrams rarer than this carry no stable PMI signal and would blow up the
# output toward the distinct-bigram count; the floor bounds the result to
# the (much smaller) recurring-collocation set.
PMI_MIN_COUNT = 3


def bigram_pmi(
    docs: DataFrame, text_col: str = "text", min_count: int = PMI_MIN_COUNT
) -> DataFrame:
    """Corpus-level collocation mining: pointwise mutual information of
    adjacent token pairs, ``ln(p(x,y) / (p(x)·p(y)))``, over the whole
    corpus — the classical phrase-mining signal used to pick multi-word
    vocabulary entries for tokenizers and to profile corpus idiom.

    Returns one row per bigram seen at least ``min_count`` times:
    ``(x, y, pair_count, pmi)``.

    Scale: ONE tokenize pass — the filtered token array is persisted and
    both count passes (adjacent-pair explode → groupBy(x, y); token
    explode → groupBy(token)) read the cache, so the parquet scan and the
    tokenizer run once. Both aggregates partial-combine map-side; the
    unigram table is vocabulary-sized and the PMI joins are keyed on
    token, so AQE picks broadcast vs shuffle by its real size (at web
    scale a multi-billion-token vocabulary must NOT be force-broadcast).
    The two corpus totals are 1-row broadcasts. Bigrams are formed with
    slice+zip_with inside codegen — no posexplode self-join on position,
    which would shuffle the exploded token stream. No Python anywhere.
    PMI itself is a single ln over exact integer counts cast to double —
    the identical expression tree in both engines, no float accumulation.
    """
    from pyspark.storagelevel import StorageLevel

    from ..functions.partitioning import rebalance

    tl = F.filter(tokens(text_col), lambda t: t != "")
    base = (
        rebalance(docs)
        .select(tl.alias("tl"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pair_len = F.greatest(F.size("tl") - 1, F.lit(0))
    bgc = (
        base.select(
            F.explode(
                F.zip_with(
                    F.slice("tl", F.lit(1), pair_len),
                    F.slice("tl", F.lit(2), pair_len),
                    lambda a, b: F.struct(a.alias("x"), b.alias("y")),
                )
            ).alias("p")
        )
        .select("p.x", "p.y")
        .groupBy("x", "y")
        .agg(F.count("*").alias("c_xy"))
    )
    uni = (
        base.select(F.explode("tl").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("n"))
    btot = bgc.agg(F.sum("c_xy").cast("bigint").alias("nb"))
    pmi = F.log(
        (F.col("c_xy").cast("double") / F.col("nb"))
        / (
            (F.col("cx").cast("double") / F.col("n"))
            * (F.col("cy").cast("double") / F.col("n"))
        )
    )
    return (
        bgc.filter(F.col("c_xy") >= min_count)
        .join(uni.select(F.col("token").alias("x"), F.col("c").alias("cx")), "x")
        .join(uni.select(F.col("token").alias("y"), F.col("c").alias("cy")), "y")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select(
            "x",
            "y",
            F.col("c_xy").cast("bigint").alias("pair_count"),
            trunc6(pmi).alias("pmi"),
        )
    )


@query(
    "c04_bigram_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT list_filter({sql_tokens('text')}, t -> t <> '') AS tl
      FROM documents
    ),
    bg AS (
      SELECT tl[i] AS x, tl[i + 1] AS y
      FROM (SELECT tl, unnest(generate_series(1, len(tl) - 1)) AS i FROM toks)
    ),
    bgc AS (SELECT x, y, COUNT(*) AS c_xy FROM bg GROUP BY x, y),
    uni AS (
      SELECT token, COUNT(*) AS c
      FROM (SELECT unnest(tl) AS token FROM toks)
      GROUP BY token
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    btot AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS nb FROM bgc)
    SELECT bgc.x, bgc.y, CAST(bgc.c_xy AS BIGINT) AS pair_count,
      {sql_trunc6(
          "ln((CAST(bgc.c_xy AS DOUBLE) / btot.nb)"
          " / ((CAST(ux.c AS DOUBLE) / tot.n)"
          " * (CAST(uy.c AS DOUBLE) / tot.n)))"
      )} AS pmi
    FROM bgc
    JOIN uni ux ON bgc.x = ux.token
    JOIN uni uy ON bgc.y = uy.token
    CROSS JOIN tot CROSS JOIN btot
    WHERE bgc.c_xy >= {PMI_MIN_COUNT}
    """,
    driver=True)
def c04_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4o: bigram PMI collocation mining over ``documents`` — the
    corpus-profiling / phrase-vocabulary primitive (tokenizer vocab
    selection and idiom detection in pretraining pipelines). The DuckDB
    oracle replays the whole pipeline: 1-based adjacent pairing via
    ``generate_series``, both count tables, and the identical
    single-``ln`` PMI expression over exact integer counts (no float
    accumulation → cross-engine bit-stable inside the 6-dp truncation).
    """
    return bigram_pmi(load(spark, sf_dir, "documents"))
