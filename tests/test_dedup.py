"""Dedup behavior tests: planted near-duplicates, recall of the
approximate operators vs exact Jaccard ground truth (SURVEY.md §7 "LSH
similarity — test via recall threshold, not hash equality")."""

from __future__ import annotations

import random

import pytest

from stock_data_pipeline_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_signatures,
)

VOCAB = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango",
]


def _corpus(n_base: int = 30, words_per_doc: int = 60, seed: int = 7):
    """Random docs + planted near-duplicates (1-2 word substitutions)."""
    rng = random.Random(seed)
    docs = []
    for i in range(n_base):
        docs.append((i, " ".join(rng.choice(VOCAB) for _ in range(words_per_doc))))
    planted = []
    for i in range(8):  # doc 100+i is a near-dup of doc i
        words = docs[i][1].split()
        for _ in range(2):
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        planted.append((100 + i, " ".join(words)))
    return docs + planted


@pytest.fixture(scope="module")
def doc_df(spark):
    return spark.createDataFrame(_corpus(), "doc_id long, text string")


def test_exact_jaccard_finds_planted_pairs(spark, doc_df):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(doc_df, threshold=0.5).collect()
    }
    for i in range(8):
        assert (i, 100 + i) in pairs, f"planted pair {i} missed"
        assert pairs[(i, 100 + i)] > 0.5
    # unrelated random docs must not collide at this threshold
    assert all(b - a == 100 for (a, b) in pairs)


def test_minhash_recall_vs_exact(spark, doc_df):
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(doc_df, threshold=0.5).collect()
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(doc_df, threshold=0.5).collect()
    }
    assert exact, "ground truth empty — fixture broken"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall} below bound"
    # verification step guarantees precision = 1.0 (every emitted pair is
    # exact-Jaccard-checked)
    assert approx <= exact


def test_minhash_signatures_deterministic(spark, doc_df):
    a = {tuple(r) for r in minhash_signatures(doc_df).collect()}
    b = {tuple(r) for r in minhash_signatures(doc_df).collect()}
    assert a == b


def test_simhash_identical_docs_distance_zero(spark):
    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: (r.sig_lo, r.sig_hi) for r in simhash_signatures(df).collect()}
    assert sigs[0] == sigs[1]
    pairs = simhash_pairs(df, max_hamming=0).collect()
    assert [(p.doc_a, p.doc_b, p.hamming) for p in pairs] == [(0, 1, 0)]


def test_simhash_near_dup_within_radius(spark, doc_df):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(doc_df, max_hamming=10).collect()}
    found_planted = sum(1 for i in range(8) if (i, 100 + i) in pairs)
    # 2-word substitution in 60 words barely moves the weighted bit sums.
    assert found_planted >= 6, f"only {found_planted}/8 planted pairs within radius"


def test_df_prune_keeps_high_jaccard_pairs(spark, doc_df):
    full = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(doc_df, threshold=0.5).collect()
    }
    pruned = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(
            doc_df, threshold=0.5, max_shingle_df=10
        ).collect()
    }
    # the planted pairs' shingles are rare (unique base docs) → survive
    assert full <= pruned or len(full & pruned) / len(full) >= 0.9


def test_df_prune_is_hot_set_anti_join(spark, doc_df):
    """r13: the df-prune must join against the small HOT (stop-shingle)
    set as a LeftAnti, never against the vocabulary-sized rare set as an
    inner join — the rare set grows with the corpus and was rebuilt as a
    broadcast once per index-subtree copy (4× in the pair plan). Pins
    both the rows (vs the inline rare-inner-join complement, on a corpus
    where the cap actually bites) and the plan shape."""
    from pyspark.sql import functions as F

    from stock_data_pipeline_spark.functions.textfns import tokens, word_shingles

    cap = 2
    pruned = ngram_jaccard_pairs(doc_df, threshold=0.05, max_shingle_df=cap)

    # reference: the old rare-set inner-join formulation, spelled inline
    sh = doc_df.select(
        "doc_id", F.explode(word_shingles(tokens("text"), 3)).alias("shingle")
    )
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= cap)
        .select("shingle")
    )
    kept = sh.join(rare, "shingle")
    # the cap must actually bite on this corpus or the test proves nothing
    assert kept.count() < sh.count()
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = kept.alias("a"), kept.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    ref = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .filter(
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")) >= 0.05
        )
        .select("doc_a", "doc_b")
    )
    got = {(r.doc_a, r.doc_b) for r in pruned.select("doc_a", "doc_b").collect()}
    want = {(r.doc_a, r.doc_b) for r in ref.collect()}
    assert got == want

    if hasattr(pruned, "_jdf"):
        plan = pruned._jdf.queryExecution().optimizedPlan().toString()
        assert "LeftAnti" in plan, "df-prune lost its hot-set anti-join shape"
        assert f"<= {cap})" not in plan, (
            "a rare-set (df <= cap) join-back reappeared in the prune"
        )


def test_dedup_clusters_transitive_chain(spark):
    from stock_data_pipeline_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert out == {
        1: 1, 2: 1, 3: 1, 4: 1,          # diameter-3 chain folds to min id
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_dedup_clusters_star_and_reversed_edges(spark):
    from stock_data_pipeline_spark.operators.dedup import dedup_clusters

    # hub-and-spoke with edges in arbitrary orientation
    pairs = spark.createDataFrame(
        [(5, 9), (9, 2), (9, 7), (8, 9)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert set(out.values()) == {2}
    assert set(out) == {2, 5, 7, 8, 9}


def test_dedup_clusters_empty_edges_terminates(spark):
    """Zero pairs → zero labels → the convergence metric (an Observation
    riding the round's eager checkpoint, r13 session 5) must read as 0 —
    an aggregate over no rows is NULL, and a job with no rows must still
    post its metrics — so the loop exits on round 1 with an empty result
    instead of hanging on Observation.get or iterating to max_iters."""
    from stock_data_pipeline_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup_clusters(pairs).collect() == []


def test_near_dedup_corpus_no_duplicates_passthrough(spark):
    """A corpus with no exact or near duplicates must come back whole:
    exercises the composition's empty-pair path end-to-end (survivor
    checkpoint → empty index join → empty clusters → anti-join drops
    nothing) with the r13 session-5 internals (pre-shingled survivor
    checkpoint, Observation-fused convergence)."""
    from stock_data_pipeline_spark.operators.dedup import near_dedup_corpus

    rows = [
        (1, "a", 30, "alpha bravo charlie delta echo"),
        (2, "a", 28, "foxtrot golf hotel india juliet"),
        (3, "b", 26, "kilo lima mike november oscar"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars int, text string"
    )
    out = near_dedup_corpus(docs, threshold=0.3, max_shingle_df=5)
    assert sorted(r.doc_id for r in out.collect()) == [1, 2, 3]


def test_near_dedup_corpus_drop_probe_is_size_gated_broadcast(spark):
    """r13 session-5 pin, BOTH branches of the gated final anti-join:
    checkpoint leaves carry no size stats, so without the hint the
    planner sort-merges the corpus-sized survivor side against a tiny
    drop set (full doc_id shuffle + sort of the survivors). The drop
    count is already materialized by the eager cluster stage, so the
    composition broadcasts the drop set iff it is under
    spark.spark_graft.neardedup.broadcastMaxDrops, and falls back to
    the sort-merge plan (bounded memory) on a pathological corpus
    where it is not. Rows must be identical on both branches."""
    from pyspark.sql import functions as F

    from stock_data_pipeline_spark.operators.dedup import near_dedup_corpus

    base = "alpha bravo charlie delta echo foxtrot golf hotel india"
    rows = [(i, "s", len(base), base + f" tail{i // 3}") for i in range(12)]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars int, text string"
    )
    conf = "spark.spark_graft.neardedup.broadcastMaxDrops"

    def plan_str(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    spark.conf.set(conf, "10000000")
    try:
        bcast = near_dedup_corpus(docs, threshold=0.3, max_shingle_df=None)
        s = plan_str(bcast)
        assert "BroadcastHashJoin LeftAnti" in s and "SortMergeJoin" not in s
        spark.conf.set(conf, "0")
        smj = near_dedup_corpus(docs, threshold=0.3, max_shingle_df=None)
        s0 = plan_str(smj)
        assert "BroadcastHashJoin LeftAnti" not in s0
        pa = bcast.toPandas().sort_values("doc_id").reset_index(drop=True)
        pb = smj.toPandas().sort_values("doc_id").reset_index(drop=True)
        assert pa.equals(pb)
    finally:
        spark.conf.unset(conf)


def test_dedup_clusters_raises_on_non_convergence(spark):
    """A 5-node chain has diameter 4; max_iters=1 cannot converge and must
    fail loudly instead of returning split clusters."""
    import pytest

    from stock_data_pipeline_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iters=1).collect()


def test_dedup_clusters_deep_chain_converges_logarithmically(spark):
    """A 200-node chain has diameter 199; pure label propagation would
    need ~199 rounds. Pointer jumping must close it within the default
    max_iters=20 (~O(log n))."""
    from stock_data_pipeline_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 200)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(chain).collect()}
    assert len(out) == 200
    assert set(out.values()) == {1}


def test_dedup_clusters_random_graph_matches_union_find(spark):
    """Seeded random edges: the Spark components must equal a local
    union-find ground truth exactly."""
    import random

    from stock_data_pipeline_spark.operators.dedup import dedup_clusters

    rng = random.Random(42)
    edges = [
        (rng.randrange(0, 400), rng.randrange(0, 400)) for _ in range(300)
    ]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(400))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {n for e in edges for n in e}
    want = {n: find(n) for n in touched}

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == want


def test_dedup_clusters_broadcast_gate_counts_nodes(spark, monkeypatch):
    """The per-round broadcast is gated on the NODE count (the build
    sides are node tables), observed on round 1's checkpoint: a 20-node
    clique has 380 directed edges, so a cap of 100 admits it by nodes
    even though an edge-count gate would refuse it. Round 1 broadcasts
    nothing; round 2 hints all three node-table joins. A cap under the
    node count hints none, and both branches give the same clusters."""
    from stock_data_pipeline_spark.operators import dedup

    real = dedup.F.broadcast
    calls = []

    def counting_broadcast(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(dedup.F, "broadcast", counting_broadcast)
    pairs = spark.createDataFrame(
        [(a, b) for a in range(20) for b in range(a + 1, 20)],
        "doc_a long, doc_b long",
    )
    conf = "spark.spark_graft.dedupclusters.broadcastMaxNodes"
    try:
        spark.conf.set(conf, "100")
        hinted = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(pairs).collect()}
        assert len(calls) == 3  # round 2: labels, neighbor mins, parents
        calls.clear()
        spark.conf.set(conf, "19")
        plain = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(pairs).collect()}
        assert calls == []
    finally:
        spark.conf.unset(conf)
    assert hinted == plain == {n: 0 for n in range(20)}


def test_duplicate_spans_planted_and_clean(spark):
    from stock_data_pipeline_spark.operators.dedup import duplicate_span_stats

    span = " ".join(f"w{i}" for i in range(16))  # the shared 16-token run
    uniq_a = " ".join(f"a{i}" for i in range(8))
    uniq_b = " ".join(f"b{i}" for i in range(8))
    clean = " ".join(f"c{i}" for i in range(20))
    short = "tiny doc"
    df = spark.createDataFrame(
        [
            (1, f"{uniq_a} {span}"),   # 9 windows, last is the span
            (2, f"{span} {uniq_b}"),   # 9 windows, first is the span
            (3, clean),                # 5 windows, all unique
            (4, short),                # < 16 tokens -> no windows
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in duplicate_span_stats(df).collect()}
    assert out[1].n_windows == 9 and out[1].n_dup_windows == 1
    assert out[2].n_windows == 9 and out[2].n_dup_windows == 1
    assert out[3].n_windows == 5 and out[3].n_dup_windows == 0
    assert out[4].n_windows == 0 and out[4].dup_frac is None
    assert abs(out[1].dup_frac - 1 / 9) < 1e-6


def test_duplicate_spans_within_document_repeat_counts(spark):
    """A run repeated inside ONE document is a duplicate too (total
    occurrences > 1), matching suffix-array semantics."""
    from stock_data_pipeline_spark.operators.dedup import duplicate_span_stats

    span = " ".join(f"w{i}" for i in range(16))
    df = spark.createDataFrame(
        [(1, f"{span} {span}")], "doc_id long, text string"
    )
    row = duplicate_span_stats(df).collect()[0]
    # 17 windows total; the two clean copies of the span hash equal.
    assert row.n_windows == 17
    assert row.n_dup_windows >= 2


def test_incremental_lsh_probe_equals_full_recompute(spark, doc_df):
    """Ingest the corpus in two batches: batch-2 probe pairs + batch-1
    pairs must exactly equal the full-corpus recompute (seeded
    permutations make a doc's signature batch-independent)."""
    from pyspark.sql import functions as F

    from stock_data_pipeline_spark.operators.dedup import (
        lsh_bucket_index,
        minhash_lsh_pairs,
        probe_near_dup_batch,
    )

    # split so planted dups straddle the batches: originals (doc_id < 100)
    # land in batch 1, near-dup copies (100+) in batch 2
    batch1 = doc_df.filter(F.col("doc_id") < 100)
    batch2 = doc_df.filter(F.col("doc_id") >= 100)

    index1 = lsh_bucket_index(batch1)
    pairs1 = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(batch1, threshold=0.1).collect()
    }
    probe_pairs, new_buckets = probe_near_dup_batch(
        batch2, index1, doc_df, threshold=0.1
    )
    pairs2 = {(r.doc_a, r.doc_b): r.jaccard for r in probe_pairs.collect()}

    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(doc_df, threshold=0.1).collect()
    }
    assert not set(pairs1) & set(pairs2)  # probe only emits NEW-doc pairs
    combined = {**pairs1, **pairs2}
    assert combined == full

    # planted cross-batch dups must be found by the probe, not batch 1
    found_cross = sum(1 for i in range(8) if (i, 100 + i) in pairs2)
    assert found_cross >= 6  # same recall bar as test_minhash_recall_vs_exact

    # the appended index rows cover exactly the new docs
    new_ids = {r.doc_id for r in new_buckets.select("doc_id").distinct().collect()}
    assert new_ids == {r.doc_id for r in batch2.select("doc_id").collect()}


# --------------------------------------------------------------------------
# Cross-dataset dedup with the expression-level bloom prefilter (round 4)
# --------------------------------------------------------------------------
from pyspark.sql import functions as F
from stock_data_pipeline_spark.catalog import load


def test_bloom_has_no_false_negatives_and_bounded_fp_rate(spark):
    from stock_data_pipeline_spark.functions.bloom import (
        bloom_build,
        with_bloom_probe,
    )

    keys = spark.range(1000).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    words, m = bloom_build(keys, "k")
    probed = with_bloom_probe(keys, "k", words, m)
    # a bloom NEVER misses a member
    assert probed.filter(~F.col("bloom_maybe")).count() == 0
    # ~1% fp at 10 bits/key with k=5 (measured 0.96%); generous bound
    others = spark.range(1000, 11000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k")
    )
    fp = with_bloom_probe(others, "k", words, m).filter("bloom_maybe").count()
    assert fp / 10000 < 0.03, fp
    # the probe is pure codegen — no Python workers at any scale
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_dedup_against_equals_plain_anti_join(spark, sf_dir):
    """The bloom prefilter must be invisible in the RESULT: bit-equal to
    the exact anti-join on normalized fingerprints (false positives are
    resolved by the verify join; false negatives cannot exist)."""
    from stock_data_pipeline_spark.operators.dedup import dedup_against

    docs = load(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 0)
    got = {r.doc_id for r in dedup_against(new, ref).select("doc_id").collect()}
    fp = F.md5(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")))
    want = {
        r.doc_id
        for r in new.withColumn("_fp", fp)
        .join(ref.select(fp.alias("_fp")), "_fp", "left_anti")
        .collect()
    }
    assert got == want
    # non-vacuous: the slices genuinely overlap
    assert len(got) < new.count()


def test_dedup_against_empty_reference_keeps_everything(spark, sf_dir):
    from stock_data_pipeline_spark.operators.dedup import dedup_against

    docs = load(spark, sf_dir, "documents")
    empty = docs.filter(F.lit(False))
    assert dedup_against(docs, empty).count() == docs.count()


def test_sharded_bloom_no_false_negatives_and_bounded_fp(spark):
    """The beyond-broadcast bloom: per-shard sparse-map filters probed
    through a shard equi-join — same guarantees as the broadcast form."""
    from stock_data_pipeline_spark.functions.bloom import (
        bloom_build_sharded,
        with_sharded_bloom_probe,
    )

    keys = spark.range(2000).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    tbl, m = bloom_build_sharded(keys, "k")
    probed = with_sharded_bloom_probe(keys, "k", tbl, m)
    assert probed.filter(~F.col("bloom_maybe")).count() == 0
    others = spark.range(2000, 22000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k")
    )
    fp = with_sharded_bloom_probe(others, "k", tbl, m).filter("bloom_maybe").count()
    assert fp / 20000 < 0.03, fp
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    # empty-shard keys are definitively absent (left join -> null map)
    empty_ref = spark.range(0).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    tbl0, m0 = bloom_build_sharded(empty_ref, "k")
    got = with_sharded_bloom_probe(keys, "k", tbl0, m0).filter("bloom_maybe").count()
    assert got == 0


def test_minhash_portable_agrees_with_xxhash_variant_on_planted(spark, doc_df):
    """Both MinHash hash families run the same banded-LSH algorithm and
    the same exact-Jaccard verify, so on the planted 2-word-substitution
    near-dups (Jaccard far above threshold, every band likely to
    collide) they must land essentially the same verified pairs."""
    from stock_data_pipeline_spark.operators.dedup import (
        _band_candidates,
        _md5_lsh_buckets,
        _shingle_rows,
        verify_jaccard_pairs,
    )

    prod = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(doc_df, threshold=0.5).collect()
    }
    # c02_minhash_portable's stages over the same frame
    cand = _band_candidates(_md5_lsh_buckets(_shingle_rows(doc_df)))
    port = {
        (r.doc_a, r.doc_b)
        for r in verify_jaccard_pairs(cand, doc_df, threshold=0.5).collect()
    }
    planted = {(i, 100 + i) for i in range(8)}
    assert len(planted & prod) >= 6
    assert len(planted & port) >= 6
    # verified sets agree except for genuine candidate-recall noise
    sym = prod ^ port
    assert len(sym) <= max(2, len(prod | port) // 5), (sorted(sym), len(prod), len(port))


def test_fuzzy_join_blocking_has_perfect_recall(spark):
    """Deletion-neighborhood blocking must equal the brute-force
    distance-1 join on names exercising ALL edit kinds — substitution,
    insertion, deletion, equality — plus distance-2 decoys it must NOT
    return."""
    from pyspark.sql import functions as F

    from stock_data_pipeline_spark.operators.dedup import fuzzy_join_dist1

    names = [
        (0, "martha"), (1, "marta"),    # deletion
        (2, "martha"),                  # duplicate (distance 0)
        (3, "marsha"),                  # substitution vs martha
        (4, "marthas"),                 # insertion vs martha
        (5, "mxrsha"),                  # dist 2 from martha — decoy
        (6, "zz"),                      # unrelated
    ]
    df = spark.createDataFrame(names, "c_custkey long, c_name string")
    got = {
        (r.cust_a, r.cust_b, r.edit_distance)
        for r in fuzzy_join_dist1(df, "c_custkey", "c_name").collect()
    }
    a = df.select(F.col("c_custkey").alias("ia"), F.col("c_name").alias("na"))
    b = df.select(F.col("c_custkey").alias("ib"), F.col("c_name").alias("nb"))
    brute = {
        (r.ia, r.ib, r.d)
        for r in a.join(b, F.col("ia") < F.col("ib"))
        .select("ia", "ib", F.levenshtein("na", "nb").alias("d"))
        .filter(F.col("d") <= 1)
        .collect()
    }
    assert got == brute
    assert (0, 2, 0) in got and (0, 1, 1) in got
    assert (0, 3, 1) in got and (0, 4, 1) in got
    # mxrsha is distance 2 from martha (absent) but 1 from marsha (present)
    assert (0, 5, 2) not in got and not any(
        (x, y) in {(0, 5), (2, 5)} for x, y, _ in got
    )
    assert (3, 5, 1) in got


# --------------------------------------------------------------------------
# near_dedup_corpus — the r13 scale-safe composition (VERDICT r12 task 1)
# --------------------------------------------------------------------------
def test_near_dedup_corpus_exact_first_beats_prune_blindness(spark):
    """Exact copies must be dropped even when the df prune would hide
    them from the PAIR stage: 30 verbatim copies of one doc push every
    one of its shingles past max_shingle_df, so a pairs-only pipeline
    (prune before exact dedup) would keep all 30. The composition's
    dedup-first stage removes 29 before shingling — the ordering law
    the recomposition exists to enforce."""
    from pyspark.sql import functions as F

    from stock_data_pipeline_spark.operators.dedup import near_dedup_corpus

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [(i, "dup", len(base), base) for i in range(30)]
    rows += [(100, "solo", 41, "kilo lima mike november oscar papa quebec")]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars int, text string"
    )
    out = near_dedup_corpus(docs, threshold=0.5, max_shingle_df=5)
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [0, 100]  # min-id keeper per exact family + the solo


def test_near_dedup_corpus_transitive_near_dups_collapse(spark, doc_df):
    """Planted near-dup pairs (i, 100+i) collapse to the min-id keeper;
    whitespace/case variants collapse at the EXACT stage (canonical
    fingerprint), so they never reach the pair join."""
    from pyspark.sql import functions as F

    from stock_data_pipeline_spark.operators.dedup import near_dedup_corpus

    docs = doc_df.select(
        "doc_id",
        F.lit("t").alias("source"),
        F.length("text").cast("int").alias("n_chars"),
        "text",
    )
    # add a case/whitespace variant of doc 0: exact-stage duplicate
    variant = docs.filter(F.col("doc_id") == 0).select(
        F.lit(500).cast("long").alias("doc_id"),
        "source",
        "n_chars",
        F.upper(F.concat(F.lit("  "), F.col("text"))).alias("text"),
    )
    out = near_dedup_corpus(
        docs.unionByName(variant), threshold=0.5, max_shingle_df=None
    )
    kept = {r.doc_id for r in out.collect()}
    assert 500 not in kept  # exact variant dropped before pairing
    for i in range(8):
        assert i in kept and (100 + i) not in kept  # near-dup keeper = min id


def test_banded_pairs_are_verified_subset_of_exact(spark):
    """r14: the banded-LSH composition's pair stage must have precision 1
    (every emitted pair exact-verified >= threshold, hence a SUBSET of the
    unpruned exact pair set over the survivors) — recall < 1 is the
    declared contract, silent extra pairs are not. Also pins that the
    banded composition never drops a doc the exact composition keeps
    unpaired (docs with no shingles can never be candidates)."""
    from pyspark.sql import functions as F

    from stock_data_pipeline_spark.operators.dedup import (
        _banded_pairs,
        _exact_dedup_survivors,
        _jaccard_pairs_from_index,
        near_dedup_corpus,
        near_dedup_corpus_banded,
    )

    base = "alpha bravo charlie delta echo foxtrot golf hotel india"
    rows = [(i, "s", len(base), base + f" tail{i // 3} x{i % 3}") for i in range(24)]
    rows.append((900, "s", 2, "xy"))  # < k tokens: no shingles, must be kept
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars int, text string"
    )

    banded = near_dedup_corpus_banded(docs, threshold=0.3)
    kept_banded = {r.doc_id for r in banded.collect()}
    assert 900 in kept_banded

    surv = _exact_dedup_survivors(docs)
    sh = surv.select("doc_id", F.explode("_shingles").alias("shingle"))
    exact_pairs = {
        (r.doc_a, r.doc_b)
        for r in _jaccard_pairs_from_index(
            sh, threshold=0.3, max_shingle_df=None
        )
        .select("doc_a", "doc_b")
        .collect()
    }
    assert exact_pairs  # the fixture's near-dup families make pairs
    # the same pair stage near_dedup_corpus_banded runs, over the same
    # survivors: precision 1 means every banded pair is an exact pair
    banded_pairs = {
        (r.doc_a, r.doc_b)
        for r in _banded_pairs(surv, threshold=0.3).collect()
    }
    assert banded_pairs <= exact_pairs
    # banded keeps a SUPERSET of the exact composition's keepers (missed
    # pairs can only merge fewer clusters -> fewer drops)
    kept_exact = {
        r.doc_id
        for r in near_dedup_corpus(
            docs, threshold=0.3, max_shingle_df=None
        ).collect()
    }
    assert kept_exact <= kept_banded
