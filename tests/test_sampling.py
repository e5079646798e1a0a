"""Behavior tests for sampling/splitting/packing and technical indicators
(operators/sampling.py, operators/timeseries.py B29) — the registered
queries without a SQL oracle, checked by invariant here instead."""

from __future__ import annotations

import pandas as pd
import pytest

from stock_data_pipeline_spark.catalog import load
from stock_data_pipeline_spark.operators.sampling import (
    PACK_BUDGET,
    pack_sequences,
    with_split,
)
from stock_data_pipeline_spark.operators.timeseries import (
    EMA_ALPHA,
    RSI_PERIOD,
    with_indicators,
)

# Target keep-rates per source for the source_mix checks. The strata are
# REAL sources of the fixture corpus (src0..src19) — a review found the
# original web/wiki/news labels matched nothing, so every per-source branch
# was dead and only the default rate ever ran.
_MIX_RATES = {"src0": 35, "src1": 95, "src2": 70}
_MIX_DEFAULT = 50


def test_hash_split_is_deterministic_and_partition_invariant(spark, sf_check_dir):
    docs = load(spark, sf_check_dir, "documents")
    a = with_split(docs).select("doc_id", "split").toPandas()
    b = (
        with_split(docs.repartition(13, "lang"))
        .select("doc_id", "split")
        .toPandas()
    )
    merged = a.merge(b, on="doc_id", suffixes=("_a", "_b"))
    assert len(merged) == len(a)
    assert (merged["split_a"] == merged["split_b"]).all()


def test_hash_split_fractions_near_nominal(spark, sf_check_dir):
    docs = load(spark, sf_check_dir, "documents")
    counts = with_split(docs).groupBy("split").count().toPandas()
    frac = dict(zip(counts["split"], counts["count"] / counts["count"].sum()))
    assert frac["train"] == pytest.approx(0.80, abs=0.06)
    assert frac["val"] == pytest.approx(0.10, abs=0.05)
    assert frac["test"] == pytest.approx(0.10, abs=0.05)


def test_packing_covers_every_doc_exactly_once(spark, sf_check_dir):
    docs = load(spark, sf_check_dir, "documents")
    packed = pack_sequences(docs).toPandas()
    assert packed["doc_id"].is_unique
    assert len(packed) == docs.count()


def test_packing_respects_token_budget(spark, sf_check_dir):
    docs = load(spark, sf_check_dir, "documents")
    packed = pack_sequences(docs).toPandas()
    fills = packed.groupby(["pack_group", "bin_id"]).agg(
        total=("n_tokens", "sum"), n_docs=("n_tokens", "size")
    )
    # A bin over budget is allowed only as a singleton oversize document.
    over = fills[fills["total"] > PACK_BUDGET]
    assert (over["n_docs"] == 1).all()
    # The reported bin_fill matches the actual bin content.
    joined = packed.merge(
        fills.reset_index(), on=["pack_group", "bin_id"], how="left"
    )
    assert (joined["bin_fill"] == joined["total"]).all()


def test_packing_is_reasonably_dense(spark, sf_check_dir):
    """FFD should waste little: mean fill of multi-doc bins ≥ 50% budget."""
    docs = load(spark, sf_check_dir, "documents")
    packed = pack_sequences(docs).toPandas()
    fills = packed.groupby(["pack_group", "bin_id"])["n_tokens"].sum()
    # All but the last (residual) bin per group should be well-filled on
    # average; assert the corpus-wide mean utilization clears 50%.
    assert fills.mean() >= PACK_BUDGET * 0.5


def _indicators(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-key EMA + Wilder RSI on one key's ordered history: the
    single-key ground truth for the sharded ``with_indicators``."""
    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    pdf["ema"] = pdf["value"].ewm(alpha=EMA_ALPHA, adjust=True).mean()
    delta = pdf["value"].diff()
    gain = delta.clip(lower=0.0).ewm(alpha=1.0 / RSI_PERIOD, adjust=False).mean()
    loss = (-delta.clip(upper=0.0)).ewm(alpha=1.0 / RSI_PERIOD, adjust=False).mean()
    rs = gain / loss
    pdf["rsi"] = (100.0 - 100.0 / (1.0 + rs)).where(loss > 0, 100.0)
    pdf.loc[delta.isna(), "rsi"] = None
    return pdf[["user_id", "event_id", "ts", "value", "ema", "rsi"]]


def test_ema_rsi_matches_pandas_ground_truth(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    got = (
        with_indicators(events)
        .toPandas()
        .sort_values(["user_id", "event_id"])
        .reset_index(drop=True)
    )
    raw = events.select("user_id", "event_id", "ts", "value").toPandas()
    want = (
        raw.groupby("user_id", group_keys=False)[raw.columns]
        .apply(_indicators)
        .sort_values(["user_id", "event_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=False, rtol=1e-12)


def test_rsi_bounds_and_warmup_null(spark, sf_dir):
    got = with_indicators(load(spark, sf_dir, "events")).toPandas()
    first = got.sort_values(["user_id", "ts", "event_id"]).groupby("user_id").head(1)
    assert first["rsi"].isna().all()  # no delta on the first row of a key
    rest = got["rsi"].dropna()
    assert ((rest >= 0.0) & (rest <= 100.0)).all()


def test_chunking_covers_every_token_with_exact_overlap(spark, sf_dir):
    """Chunk invariants on real data: (1) concatenating each doc's chunks
    at stride offsets reconstructs the full token sequence — no token
    lost, none duplicated outside the overlap; (2) consecutive full
    chunks overlap by exactly CHUNK_SIZE - CHUNK_STRIDE tokens."""
    from stock_data_pipeline_spark.operators.sampling import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        chunk_documents,
    )

    docs = load(spark, sf_dir, "documents").limit(50)
    chunks = {}
    for r in chunk_documents(docs).collect():
        chunks.setdefault(r.doc_id, []).append(r)
    raw = {r.doc_id: r.text for r in docs.collect()}
    assert set(chunks) == set(raw)
    for doc_id, rows in chunks.items():
        rows.sort(key=lambda r: r.chunk_idx)
        want_tokens = raw[doc_id].strip().lower().split()
        if not want_tokens:
            want_tokens = [""]
        # starts advance by exactly the stride
        for i, r in enumerate(rows):
            assert r.start == 1 + i * CHUNK_STRIDE
        # reconstruction: first chunk + the non-overlapping tail of each
        # subsequent chunk = the original token sequence
        rebuilt = rows[0].chunk_text.split(" ") if rows[0].chunk_text else [""]
        for r in rows[1:]:
            toks = r.chunk_text.split(" ")
            rebuilt.extend(toks[CHUNK_SIZE - CHUNK_STRIDE:])
        assert rebuilt == want_tokens, doc_id
        # every chunk except possibly the last is full-size
        for r in rows[:-1]:
            assert r.chunk_len == CHUNK_SIZE


def test_source_mix_is_independent_of_split_assignment(spark, sf_dir):
    """The mix bucket is salted, so kept docs must not correlate with the
    train/val/test buckets: the kept fraction inside 'train' and outside
    it should both track the target rate (within a loose tolerance)."""
    from stock_data_pipeline_spark.operators.sampling import (
        source_mix,
        with_split,
    )

    from pyspark.sql import functions as F

    docs = with_split(load(spark, sf_dir, "documents"))
    mixed = source_mix(docs, _MIX_RATES, _MIX_DEFAULT)
    rows = mixed.groupBy("source", "split").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("kept"),
    ).collect()
    for r in rows:
        if r.n < 30:
            continue  # too small for a rate estimate
        target = _MIX_RATES.get(r.source, _MIX_DEFAULT) / 100.0
        assert abs(r.kept / r.n - target) < 0.25, (r.source, r.split)


def test_token_budget_respected_and_partition_invariant(spark, sf_check_dir):
    from stock_data_pipeline_spark.operators.sampling import (
        TOKEN_BUDGET,
        token_budget_sample,
    )

    from pyspark.sql import functions as F

    docs = load(spark, sf_check_dir, "documents")
    picked = token_budget_sample(docs)
    per_source = picked.groupBy("source").agg(
        F.max("cum_tokens").alias("total"), F.count("*").alias("n")
    )
    rows = per_source.collect()
    assert rows, "no source filled any documents"
    for r in rows:
        assert r.total <= TOKEN_BUDGET, (r.source, r.total)
    # Deterministic under physical layout: a repartitioned corpus yields
    # the identical selected set (seeded hash order, not task order).
    again = token_budget_sample(docs.repartition(13))
    a = {(r.source, r.doc_id) for r in picked.collect()}
    b = {(r.source, r.doc_id) for r in again.collect()}
    assert a == b


def test_token_budget_selects_a_prefix_of_hash_order(spark, sf_check_dir):
    """The kept set per source must be a PREFIX of the seeded-hash
    ordering — i.e. greedy fill, not an arbitrary subset summing under
    budget."""
    from pyspark.sql import functions as F

    from stock_data_pipeline_spark.operators.sampling import (
        TOKEN_BUDGET,
        _BUDGET_SEED,
        token_budget_sample,
    )

    docs = load(spark, sf_check_dir, "documents")
    picked = {
        (r.source, r.doc_id) for r in token_budget_sample(docs).collect()
    }
    ordered = (
        docs.select(
            "source",
            "doc_id",
            F.md5(
                F.concat(F.lit(_BUDGET_SEED), F.col("doc_id").cast("string"))
            ).alias("k"),
        )
        .orderBy("source", "k")
        .collect()
    )
    seen_cut = set()
    for r in ordered:
        if (r.source, r.doc_id) not in picked:
            seen_cut.add(r.source)
        else:
            assert r.source not in seen_cut, (
                f"non-prefix pick in source {r.source}: {r.doc_id}"
            )


def test_prep_pipeline_invariants(spark, sf_check_dir):
    """Gate thresholds hold, fingerprints are unique after dedup, and the
    composite plan contains exactly one exchange (the fingerprint
    shuffle) before the final projection."""
    from pyspark.sql import functions as F

    from stock_data_pipeline_spark.operators.sampling import (
        _PREP_MIN_QUALITY,
        _PREP_MIN_TOKENS,
        prep_pipeline,
    )

    out = prep_pipeline(load(spark, sf_check_dir, "documents"))
    rows = out.collect()
    assert rows
    assert all(r.n_tokens >= _PREP_MIN_TOKENS for r in rows)
    assert all(r.quality_score >= _PREP_MIN_QUALITY for r in rows)
    fps = [r.fingerprint for r in rows]
    assert len(fps) == len(set(fps)), "duplicate fingerprints survived"
    assert {r.split for r in rows} <= {"train", "val", "test"}


def test_curriculum_order_invariants(spark, sf_dir):
    from pyspark.sql import functions as F

    """Buckets are monotone in the quality score (fixed-width bands) and
    within-bucket positions are the round-robin interleave: distinct,
    and congruent to the shard id mod the shard count."""
    from stock_data_pipeline_spark.functions.exact import trunc6
    from stock_data_pipeline_spark.functions.textfns import (
        quality_expr,
        stopword_count,
        tokens,
    )
    from stock_data_pipeline_spark.registry import get

    out = get("c09_curriculum_order").fn(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    tok = tokens("text")
    scored = docs.select(
        "doc_id",
        trunc6(
            quality_expr(F.size(tok), stopword_count(tok), F.col("n_chars"))
        ).alias("score"),
    )
    rows = out.join(scored, "doc_id").collect()
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r.difficulty_bucket, []).append(r)
    buckets = sorted(by_bucket)
    # monotone bands
    for lo, hi in zip(buckets, buckets[1:]):
        assert max(r.score for r in by_bucket[lo]) <= min(
            r.score for r in by_bucket[hi]
        ) + 1e-12
    # round-robin positions: unique within bucket, congruent to shard
    for b, rs in by_bucket.items():
        pos = [r.pos_in_bucket for r in rs]
        assert len(pos) == len(set(pos))
        assert all(r.pos_in_bucket % 8 == r.shard for r in rs)


def test_weighted_sample_overrepresents_heavy_docs(spark, sf_dir):
    from pyspark.sql import functions as F

    """Efraimidis–Spirakis with weight = n_chars must overrepresent long
    documents: the sampled mean length exceeds the corpus mean
    (deterministic here — the 'randomness' is hash-derived)."""
    from stock_data_pipeline_spark.registry import get

    sampled = get("c08_weighted_sample").fn(spark, sf_dir)
    corpus_mean = (
        load(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    sample_mean = sampled.agg(F.avg("n_chars")).collect()[0][0]
    assert sample_mean > corpus_mean
    # rerun-deterministic
    a = sorted(r.doc_id for r in sampled.collect())
    b = sorted(r.doc_id for r in get("c08_weighted_sample").fn(spark, sf_dir).collect())
    assert a == b


def test_plan_source_mix_waterfall(spark, sf_dir):
    from pyspark.sql import functions as F

    """The mixture solver: proportional allocation under a budget, with a
    capped-out source's shortfall redistributed to sources that still
    have headroom — and the rates it emits feed source_mix directly."""
    from stock_data_pipeline_spark.operators.sampling import (
        plan_source_mix,
        source_mix,
    )

    docs = load(spark, sf_dir, "documents")
    totals = {
        r.source: r.t
        for r in docs.groupBy("source").agg(F.sum("n_chars").alias("t")).collect()
    }
    srcs = sorted(totals)
    assert len(srcs) >= 2

    # overweight the smallest source far beyond what it can supply: it
    # must cap at its available tokens and the shortfall must land on
    # the other sources (the waterfall)
    small = min(srcs, key=lambda s: totals[s])
    budget = int(sum(totals.values()) * 0.8)
    targets = {s: (10.0 if s == small else 1.0) for s in srcs}
    plan = plan_source_mix(docs, targets, budget)
    assert plan[small]["allocated"] == totals[small]  # capped at available
    assert sum(p["allocated"] for p in plan.values()) <= budget
    # budget nearly exhausted (integer rounding slack only)
    assert sum(p["allocated"] for p in plan.values()) > budget - 100 * len(srcs)
    # the shortfall went to the open sources, beyond their naive share
    naive = {s: int(budget * targets[s] / sum(targets.values())) for s in srcs}
    others = [s for s in srcs if s != small]
    assert all(plan[s]["allocated"] > naive[s] for s in others)

    # tight budget, no source caps -> allocations track the targets
    tight = int(min(totals.values()) * len(srcs) * 0.5)
    plan2 = plan_source_mix(docs, {s: 1.0 for s in srcs}, tight)
    allocs = [plan2[s]["allocated"] for s in srcs]
    assert max(allocs) - min(allocs) <= max(allocs) * 0.05 + 100

    # determinism + the rates drive source_mix
    plan3 = plan_source_mix(docs, targets, budget)
    assert plan3 == plan
    rates = {s: plan[s]["keep_rate_pct"] for s in srcs}
    mixed = source_mix(docs, rates, default=0).filter("_keep")
    kept = {
        r.source: r.t
        for r in mixed.groupBy("source").agg(F.sum("n_chars").alias("t")).collect()
    }
    # kept token mass lands near the allocation (hash-bucket sampling noise)
    for s in srcs:
        if plan[s]["allocated"]:
            assert kept.get(s, 0) > 0


def test_source_mix_rates_actually_differentiate_strata(spark, sf_check_dir):
    """Regression trap for dead strata: the configured per-source rates
    must target sources that EXIST (a review found the original
    web/wiki/news labels matched nothing, so every branch silently fell
    to the default). Achieved rates must track each configured target
    and differ from the default for the configured strata."""
    from stock_data_pipeline_spark.operators.sampling import source_mix

    from pyspark.sql import functions as F

    docs = load(spark, sf_check_dir, "documents")
    docs_sources = {
        r.source for r in docs.select("source").distinct().collect()
    }
    missing = set(_MIX_RATES) - docs_sources
    assert not missing, f"configured mix strata absent from corpus: {missing}"

    rates = {
        r.source: r.achieved_rate
        for r in source_mix(docs, _MIX_RATES, _MIX_DEFAULT)
        .groupBy("source")
        .agg(F.avg(F.col("_keep").cast("double")).alias("achieved_rate"))
        .collect()
    }
    for src, target in _MIX_RATES.items():
        assert abs(rates[src] - target / 100.0) < 0.12, (src, rates[src])
        if abs(target - _MIX_DEFAULT) >= 20:
            # a stratum configured far from the default must not look
            # like the default (the dead-branch failure mode)
            assert abs(rates[src] - _MIX_DEFAULT / 100.0) > 0.05, src


def test_plan_source_mix_small_allocation_keeps_nonzero_rate(spark):
    """A source allocated a sliver of its available tokens must get a
    POSITIVE keep rate — round() collapsed anything under ~0.5% to rate
    0, so the mix would keep nothing of a source the plan explicitly
    allocated tokens to. Ceiling overshoots by <1% of the source, which
    is the documented quantization."""
    from stock_data_pipeline_spark.operators.sampling import plan_source_mix

    rows = [(i, "curated", 10_000) for i in range(10)] + [
        (100 + i, "crawl", 100) for i in range(4)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars int")
    plan = plan_source_mix(
        docs, targets={"curated": 0.004, "crawl": 0.996}, token_budget=800
    )
    assert plan["curated"]["allocated"] > 0
    assert plan["curated"]["keep_rate_pct"] >= 1  # was 0 with round()
    # a genuinely zero allocation still reports rate 0
    plan2 = plan_source_mix(
        docs, targets={"curated": 1.0, "crawl": 0.0}, token_budget=500
    )
    assert plan2["crawl"]["allocated"] == 0
    assert plan2["crawl"]["keep_rate_pct"] == 0


def test_dsir_select_ranks_target_like_documents_first(spark, tmp_path):
    """Planted DSIR check: with an English target corpus about one topic,
    the out-of-domain doc sharing the target's vocabulary must outrank
    the doc made of source-common filler, and the selection excludes the
    target documents themselves. Runs the registered query end-to-end on
    a synthetic sf_dir so the whole pipeline (tokenize → frequencies →
    smoothing → ratio join → top-k) is exercised."""
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                "spark query engine spark query engine",   # target en
                "query engine plan query engine plan",     # target en
                "spark query engine plan",                 # es: target-like
                "banana banana banana banana",             # es: filler
                "banana banana spark banana",              # de: mixed
            ],
            "lang": ["en", "en", "es", "es", "de"],
            "source": ["s0"] * 5,
            "n_chars": [38, 36, 23, 27, 26],
        }
    )
    sf = tmp_path / "sfdsir"
    sf.mkdir()
    docs.to_parquet(sf / "documents.parquet")

    from stock_data_pipeline_spark.registry import get

    rows = get("c08_dsir_select").fn(spark, str(sf)).collect()
    got = {r.doc_id: r.avg_log_ratio for r in rows}
    assert set(got) == {2, 3, 4}, "selection pool is exactly the non-target docs"
    assert got[2] > got[4] > got[3], (
        "target-vocabulary doc must outscore mixed, mixed must outscore "
        f"filler: {got}"
    )
    assert got[2] > 0 > got[3], (
        "target-like scores positive, source-common filler negative"
    )


def test_pack_group_segment_tree_matches_linear_first_fit():
    """r13: _pack_group's first-fit lookup moved from an O(#bins) linear
    scan to a segment tree over bin residuals (leftmost bin with
    residual >= n_tokens in O(log #bins)) — the sf10 floor probe read
    13.8x wall for 10x docs on the linear scan. First-fit is a
    deterministic tie-breaking rule, so the rewrite must reproduce the
    linear scan's assignment BIT-IDENTICALLY, including the edge cases:
    oversize docs (singleton bins with negative residual), zero-token
    docs (land in the first non-overfull bin), NULL n_tokens (packed as
    zero), exact-budget fills, and the tree's grow/rebuild path."""
    import random

    from stock_data_pipeline_spark.operators.sampling import _pack_group

    def linear_ref(pdf: pd.DataFrame, budget: int) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        )
        bins: list[int] = []
        assign: list[int] = []
        for ntok in pdf["n_tokens"]:
            ntok = 0 if pd.isna(ntok) else int(ntok)
            for i, fill in enumerate(bins):
                if fill + ntok <= budget:
                    bins[i] = fill + ntok
                    assign.append(i)
                    break
            else:
                bins.append(ntok)
                assign.append(len(bins) - 1)
        out = pdf[["doc_id", "pack_group", "n_tokens"]].copy()
        out["bin_id"] = assign
        out["bin_fill"] = [bins[i] for i in assign]
        return out[
            ["doc_id", "pack_group", "bin_id", "n_tokens", "bin_fill"]
        ]

    rng = random.Random(20260817)
    cases = [
        [
            rng.choice(
                [0, 1, 7, 100, 255, 256, 257, 511, 512, 513, 600,
                 rng.randint(0, 700), None]
            )
            for _ in range(rng.randint(0, 400))
        ]
        for _ in range(60)
    ]
    # adversarial: all oversize / all zero / exact budget / heavy ties /
    # all NULL / empty
    cases += [[600] * 300, [0] * 300, [512] * 300, [256] * 301,
              [None] * 50, []]
    for ci, toks in enumerate(cases):
        pdf = pd.DataFrame(
            {
                "doc_id": range(len(toks)),
                "pack_group": 7,
                "n_tokens": pd.array(toks, dtype="Int64").astype("float"),
            }
        )
        a = linear_ref(pdf.copy(), 512).reset_index(drop=True)
        b = _pack_group(pdf.copy(), 512).reset_index(drop=True)
        assert a.equals(b), f"first-fit divergence in case {ci}"
