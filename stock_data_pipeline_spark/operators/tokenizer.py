"""Distributed BPE tokenizer training (C4: the tokenizer-construction half
of the token-counting surface).

Byte-pair encoding (Sennrich et al. 2016, arXiv:1508.07909) trains by
repeatedly merging the most frequent adjacent symbol pair. The naive
formulation rescans the corpus per merge; the scalable formulation —
used here — operates on the WORD FREQUENCY table: one corpus pass
aggregates (word, freq) [vocabulary-sized, shrinking-returns small no
matter the corpus], and every merge iteration is then

  1. explode adjacent symbol pairs weighted by word freq,
  2. one vocabulary-sized aggregate → the argmax pair (a 1-row collect),
  3. a map-side array fold applying the merge to every word's symbols,
  4. ``localCheckpoint`` to cut the growing lineage (the same per-round
     barrier the connected-components loop in operators/dedup.py uses).

At 100 TB the corpus is touched ONCE; the loop runs on a table of
~10⁵-10⁶ rows regardless of corpus size. Encoding new text with the
trained merge list is per-doc sequential by nature, so it ships to
Arrow-batched pandas workers (the same judgment call as c09 packing:
Python only where semantics demand it, and then batched).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.textfns import tokens
from ..registry import query

_END = "</w>"  # word-boundary marker, per the original BPE formulation


def _word_symbols(token: Column) -> Column:
    """Initial symbol sequence of a word: its characters + the end mark."""
    chars = F.filter(F.split(token, ""), lambda s: s != "")
    return F.concat(chars, F.array(F.lit(_END)))


def _merge_pair(syms: Column, a: str, b: str, merged: str) -> Column:
    """Leftmost-first merge of adjacent (a, b) → merged in one array fold.

    The fold appends each symbol unless the accumulator ends with ``a``
    and the incoming symbol is ``b`` — then the tail is replaced by the
    merged symbol. On runs like aaa with pair (a,a) this reproduces
    BPE's leftmost-first pairing: [aa, a], never [a, aa].
    """
    return F.aggregate(
        syms,
        F.expr("array()").cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, F.size(acc)) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq): the one corpus-sized pass. Map-side combine collapses
    counts before the single shuffle (the c04_top_tokens shape)."""
    return (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _select_batch(
    rows, *, limit: int, min_freq: int, truncated_tail_freq: int | None
) -> list[tuple[str, str, int]]:
    """Greedy prefix of the sorted pair list that is PROVABLY the next
    merges sequential BPE would make, without recomputing counts.

    Soundness argument (what makes batched == sequential, exactly):
    - Accepted pairs are a gap-free prefix of the (freq desc, left,
      right) order, all pairwise symbol-disjoint; the batch CLOSES at
      the first pair sharing a symbol with an accepted one. Pairs whose
      counts a batch merge can DECREASE are exactly the symbol-sharing
      ones, and they all sort at/after the close point — a decreased
      pair can therefore never overtake an accepted pair (ties resolve
      to the accepted pair, which sorted strictly above).
    - Pairs a batch merge CREATES (those containing a merged symbol)
      have count bounded by the old count of some symbol-sharing pair,
      i.e. by the close-point frequency. A created pair could only
      contest an accepted pair that TIES that bound, so the batch is
      truncated to pairs STRICTLY above the close frequency — except
      the leader, which no created pair can precede (none exist before
      the first merge applies).
    - If the scan exhausts the collected top-``limit`` rows without
      closing, unseen pairs bound the created counts instead
      (``truncated_tail_freq``), with the same strict truncation.
    """
    batch: list[tuple[str, str, int]] = []
    used: set[str] = set()
    close_freq: int | None = truncated_tail_freq
    for r in rows:
        if r.pair_freq < min_freq:
            close_freq = None  # sequential stops here; nothing below matters
            break
        if r.left in used or r.right in used:
            close_freq = r.pair_freq
            break
        batch.append((r.left, r.right, r.pair_freq))
        used.add(r.left)
        used.add(r.right)
        if len(batch) >= limit:
            # unscanned pairs have freq <= this one
            close_freq = r.pair_freq
            break
    # if the loop ran out of rows without closing, close_freq keeps its
    # initial value: the tail bound when the collected list was truncated,
    # None when it was the complete pair list (no bound needed)
    if close_freq is not None:
        batch = batch[:1] + [p for p in batch[1:] if p[2] > close_freq]
    return batch


def _sequential_bpe(
    word_freqs: dict[str, int], n_merges: int, min_freq: int
) -> list[tuple[str, str, str]]:
    """Exact sequential BPE over a collected word-frequency table —
    the driver-side fast path. Same argmax and (freq desc, lex) tie
    break as the distributed loop; tests hold it equal to an
    independently-written reference implementation."""
    vocab: dict[tuple, int] = {}
    for w, f in word_freqs.items():
        key = tuple([*w, _END])
        vocab[key] = vocab.get(key, 0) + f
    merges: list[tuple[str, str, str]] = []
    for _ in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pc[syms[i], syms[i + 1]] = pc.get((syms[i], syms[i + 1]), 0) + f
        if not pc:
            break
        (a, b), f = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if f < min_freq:
            break
        m = a + b
        merges.append((a, b, m))
        newv: dict[tuple, int] = {}
        for syms, fr in vocab.items():
            ns: list[str] = []
            for x in syms:
                if ns and ns[-1] == a and x == b:
                    ns[-1] = m
                else:
                    ns.append(x)
            key = tuple(ns)
            newv[key] = newv.get(key, 0) + fr
        vocab = newv
    return merges


def bpe_train(
    docs: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 20,
    min_freq: int = 2,
    batch_size: int = 32,
    driver_vocab_cap: int = 1_000_000,
    stats: dict | None = None,
) -> list[tuple[str, str, str]]:
    """Train BPE merges; returns [(left, right, merged), ...] in merge
    order. Deterministic: the argmax pair breaks frequency ties on
    (left, right) lexicographically, so any cluster/partitioning yields
    the identical merge list (pair counts are exact integer sums).

    Two execution strategies, both EXACTLY the sequential merge list:

    - **Driver fast path** (vocabulary ≤ ``driver_vocab_cap`` rows):
      collect the aggregated (word, freq) table once and run the
      sequential trainer driver-side — ONE Spark round for any
      n_merges. This is the honest scale architecture: Spark's job is
      the 100 TB → vocabulary-sized reduction; the merge loop itself is
      vocabulary-bound (the same bounded-driver-state pattern as the
      IVF centroid/codebook collects). 10⁶ (word, freq) rows ≈ tens of
      MB on the driver.
    - **Distributed loop** (vocabulary above the cap, e.g. raw web
      text): per Spark round take up to ``batch_size`` merges chosen by
      ``_select_batch``, whose close-frequency guard keeps the batch
      provably equal to sequential selection. Batches close early when
      top pairs share symbols, so rounds ≈ n_merges / observed-batch
      (~2-8× fewer rounds, corpus-dependent). The tempting stronger
      relaxation — skip symbol-sharing pairs and keep scanning — is
      UNSOUND: merging a pair changes the counts that ranked the pairs
      below it, and on the fixture corpus it reorders the merge list at
      index 1 (test_tokenizer.py pins this as a regression trap).

    ``batch_size=1`` with ``driver_vocab_cap=0`` degenerates to the
    classic one-argmax-per-round loop. All merges of a distributed
    round apply as ONE chained projection (the folds compose
    left-to-right in merge order; symbol-disjointness makes the
    composition equal to sequential application).
    """
    wf = word_freq_table(docs, text_col)
    if driver_vocab_cap > 0:
        # cheap bounded probe: limit(cap+1) never materializes more than
        # cap+1 rows driver-side regardless of true vocabulary size
        head = wf.limit(driver_vocab_cap + 1).collect()
        if len(head) <= driver_vocab_cap:
            if stats is not None:
                stats["rounds"] = 1
                stats["strategy"] = "driver"
            return _sequential_bpe(
                {r.word: r.freq for r in head}, n_merges, min_freq
            )
    vocab = (
        wf.select(_word_symbols(F.col("word")).alias("syms"), "freq")
        .localCheckpoint()
    )
    merges: list[tuple[str, str, str]] = []
    scan_cap = max(batch_size * 8, 256)
    rounds = 0
    while len(merges) < n_merges:
        rounds += 1
        pair_idx = F.sequence(F.lit(1), F.size("syms") - 1)
        top = (
            vocab.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.transform(
                        pair_idx,
                        lambda i: F.struct(
                            F.element_at("syms", i).alias("left"),
                            F.element_at("syms", i + 1).alias("right"),
                        ),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
            .agg(F.sum("freq").cast("long").alias("pair_freq"))
            .orderBy(F.desc("pair_freq"), F.asc("left"), F.asc("right"))
            .limit(scan_cap)
            .collect()
        )
        if not top or top[0].pair_freq < min_freq:
            break
        batch = _select_batch(
            top,
            limit=min(batch_size, n_merges - len(merges)),
            min_freq=min_freq,
            truncated_tail_freq=(
                top[-1].pair_freq if len(top) == scan_cap else None
            ),
        )
        syms = F.col("syms")
        for a, b, _freq in batch:
            merges.append((a, b, a + b))
            syms = _merge_pair(syms, a, b, a + b)
        vocab = vocab.select(syms.alias("syms"), "freq").localCheckpoint()
    if stats is not None:
        stats["rounds"] = rounds
        stats["strategy"] = "distributed"
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str, str]],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, n_words): encode each doc with the trained merges.

    Sequential merge application per word is inherently imperative, so it
    runs in Arrow-batched pandas workers with the merge list broadcast as
    a rank dict (apply the LOWEST-rank applicable merge first — the
    standard BPE encode order, which reproduces training segmentation).
    """
    ranks = {(a, b): (i, m) for i, (a, b, m) in enumerate(merges)}

    def encode_word(word: str) -> int:
        syms = list(word) + [_END]
        while len(syms) >= 2:
            best = None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r[0] < best[0]):
                    best = (r[0], i, r[1])
            if best is None:
                break
            _, i, m = best
            syms[i : i + 2] = [m]
        return len(syms)

    import pandas as pd

    def run(batches):
        for pdf in batches:
            # fillna first: NULL text otherwise propagates NaN through the
            # .str chain and the per-row iteration raises in the Arrow
            # worker, failing the whole job — a null doc is (0 tokens,
            # 0 words)
            words = (
                pdf[text_col].fillna("").str.lower().str.strip().str.split(r"\s+")
            )
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_tokens": [
                        sum(encode_word(w) for w in ws if w) for ws in words
                    ],
                    "n_words": [sum(1 for w in ws if w) for ws in words],
                }
            )
            yield out

    return docs.select(id_col, text_col).mapInPandas(
        run, f"{id_col} long, n_tokens long, n_words long"
    )


# Fixed literal merge list for the oracle-backed BPE-application twin:
# plausible English merges, CASCADING on purpose (t+h -> th, th+e -> the,
# the+</w>) so the sequential order is load-bearing, not decorative.
_FIXED_MERGES: list[tuple[str, str, str]] = [
    ("t", "h", "th"), ("th", "e", "the"), ("e", "</w>", "e</w>"),
    ("a", "n", "an"), ("i", "n", "in"), ("o", "n", "on"),
    ("r", "e", "re"), ("s", "</w>", "s</w>"), ("d", "</w>", "d</w>"),
    ("an", "d", "and"), ("the", "</w>", "the</w>"), ("in", "g", "ing"),
]


def _bpe_fixed_oracle() -> str:
    """DuckDB oracle for c04_bpe_apply_fixed — sequential BPE merge
    application replayed with chained string ``replace``s.

    The engine applies each merge with :func:`_merge_pair`'s
    leftmost-first array fold; on a SPACE-JOINED symbol string with
    boundary pads, SQL ``replace(s, ' a b ', ' m ')`` has the identical
    semantics (non-overlapping, left-to-right, scan resumes after the
    replacement — so runs like ``a a a`` merge to ``aa a``, never
    ``a aa``, and the re-supplied trailing space lets adjacent matches
    chain). Symbols never contain spaces (words are whitespace-split;
    merged symbols are concatenations), so the delimiter is safe; the
    fixture corpus is ASCII (pinned in tests/test_multimodal.py), so
    per-character splitting agrees across engines."""
    expr = (
        "' ' || array_to_string(list_transform("
        "string_split(word, ''), c -> c), ' ') || ' </w> '"
    )
    for a, b, m in _FIXED_MERGES:
        expr = f"replace({expr}, ' {a} {b} ', ' {m} ')"
    return f"""
    WITH w AS (
      SELECT doc_id, t.word
      FROM documents,
           UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS t(word)
      WHERE t.word <> ''
    ),
    enc AS (
      SELECT doc_id,
             len(string_split_regex(trim({expr}), ' ')) AS n_syms
      FROM w
    )
    SELECT doc_id, CAST(SUM(n_syms) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM enc GROUP BY doc_id
    """


@query(
    "c04_bpe_apply_fixed",
    driver=False,
    oracle=_bpe_fixed_oracle(),
)
def c04_bpe_apply_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4': oracle-backed BPE merge application — the PRODUCTION
    :func:`_merge_pair` fold (the JVM inner loop every training round
    runs) applying a fixed literal merge list in sequence, per-doc token
    counts out. Only the trained merge LIST is replaced by literals,
    because a literal list is what a DuckDB oracle can replay (see
    :func:`_bpe_fixed_oracle`); the trained path keeps its
    sequential-reference equality tests. Hash parity at
    sf0.001/0.01/0.1. With this twin the BPE family's distributed
    machinery is differentially verified; only vocabulary TRAINING
    (iterative argmax) stays outside SQL."""
    from ..functions.textfns import tokens as _tokens

    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(_tokens("text")).alias("word")
    ).filter(F.col("word") != "")
    syms = _word_symbols(F.col("word"))
    for a, b, m in _FIXED_MERGES:
        syms = _merge_pair(syms, a, b, m)
    return (
        words.select("doc_id", F.size(syms).alias("n_syms"))
        .groupBy("doc_id")
        .agg(
            F.sum("n_syms").alias("n_tokens"),
            F.count("*").alias("n_words"),
        )
    )


@query("c04_bpe_merges", driver=False)
def c04_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: the first 20 BPE merges trained on the documents corpus —
    (rank, left, right, merged). No SQL oracle (the training loop is
    iterative argmax, not one query); tests assert exact equality with a
    sequential reference implementation on the same word-frequency table
    plus the classic-corpus merge sequence."""
    merges = bpe_train(load(spark, sf_dir, "documents"), n_merges=20)
    return spark.createDataFrame(
        [(i, a, b, m) for i, (a, b, m) in enumerate(merges)],
        "merge_rank INT, left STRING, right STRING, merged STRING",
    )


@query("c04_bpe_token_counts", driver=False)
def c04_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: per-doc token counts under the corpus-trained BPE tokenizer —
    the real-tokenizer upgrade of the regex approximation in
    c04_text_metrics' ``bpe_tokens``. Rows-only (training + sequential encode aren't
    SQL-expressible); invariants tested: n_tokens is bounded below by
    n_words (every word is ≥1 token) and above by character count + words
    (no merges at all)."""
    docs = load(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=20)
    return bpe_encode(docs, merges)
