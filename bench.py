"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR.

The LAST stdout line is the compact headline JSON:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <sf>}

The two-scale evidence (small-SF timings + large/small ratios) is emitted
on an EARLIER stdout line and written to ``BENCH_DETAIL.json`` next to this
script: round 8's driver artifact captured only a fixed-size tail of
stdout, and a two_scale payload inside the final line truncated the
headline's head (BENCH_r08.json ``"parsed": null``). Keeping the last line
compact — and silencing console stage-progress spam — makes the headline
machine-readable regardless of tail size.

Each query is forced end-to-end with the noop sink (full evaluation of
every output column — ``count()`` alone would let Spark skip projections).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stock_data_pipeline_spark import registry
from stock_data_pipeline_spark.session import get_spark

HEADLINE_QUERIES = [
    "flagship_event_dashboard",
    "b02_group_agg",
    "b03_ohlcv_bars",
    "b04_broadcast_join",
    "b05_large_join",
    "b07_asof_join",
    "b08_rank_in_group",
    "b09_moving_window",
    "b17_hourly_window_agg",
    "b19_sessionization",
    "b28_gap_fill",
    "b29_ema_rsi",
    "b33_pricing_summary",
    "b34_twap",
    "b37_regional_revenue",
    "b38_large_orders",
    "c01_exact_dedup",
    # c02: the PRODUCTION near-dup path — since r13 the SCALE-SAFE
    # composition (VERDICT r12 task 1): exact-dedup first, df-pruned
    # pairs, connected components, anti-join (operators/dedup.py
    # near_dedup_corpus). The anti-pattern variants c02_minhash_lsh
    # (uncapped single-stage LSH, quadratic candidate mass on dup-heavy
    # corpora — left the headline in r12) and c02_near_dedup_exactpairs
    # (the r12 headline composition, whose unpruned pair join is
    # unbounded under stop-shingle skew — left the headline in r13) stay
    # registered but are not timed.
    "c02_near_dedup_corpus",
    "c03_cosine_topk",
    "c03_ann_ivf",
    "c04_top_tokens",
    "c04_tfidf_terms",
    # c04 decontamination: r13 ADDS the VERDICTS shape (per-train-doc
    # contaminated flag, dedup-first + fingerprint propagation) — the
    # r13 three-decade probe showed the (train, eval) PAIR LIST's row
    # count is inherently quadratic in the per-text copy factor (102x
    # rows for 10x data on the 100-copy sf10 twin; engine wall 16.4x =
    # SUB-output-linear, so the plan was fine but the output contract
    # wasn't). The pair list STAYS a headline entry (the bench contract
    # adds queries, never removes them) — its sf0.1 reading is benign;
    # the scale hazard is its output cardinality on dup-heavy corpora,
    # which the verdicts entry is the remedy for.
    "c04_decontaminate",
    "c04_decontaminate_verdicts",
    # r14 ADDS the banded-LSH near-dedup composition (VERDICT r13 task 4):
    # the exact composition's pair stage costs Σ min(df, cap)² which grows
    # with vocabulary; banding's candidate mass follows the true near-dup
    # rate instead. Recall < 1 vs the exact pair set, so it is a NEW named
    # query with its own full-composition DuckDB oracle —
    # c02_near_dedup_corpus keeps the declared headline slot unchanged.
    "c02_near_dedup_banded",
    "c05_multimodal_features",
    "c06_json_extract",
    "c08_hash_split",
    "c09_sequence_packing",
]

def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    # showConsoleProgress is a SparkContext-creation-time conf: stage
    # progress bars write \r-spam to stdout, which can displace the final
    # JSON line inside a fixed-size tail capture.
    spark = get_spark(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )

    # Warmup outside the timed region: run every headline query once at the
    # smallest SF so the timed section measures steady-state execution at
    # the target SF — not JIT/codegen, Arrow init, Python-worker spinup, or
    # ML class loading (measured ~2-4 s of one-time cost per cold path).
    # Falls back to warming at sf_dir itself when the tiny fixture is
    # absent (ADVICE r12) — slower warm-up, but the run still completes.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    spark.range(1000).selectExpr("sum(id)").collect()
    for name in HEADLINE_QUERIES:
        registry.get(name).fn(spark, warm_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Three timed passes, keep the per-query MIN: single-shot local
    # timings swing ±25% with machine noise (whole-run swings of ±15%
    # observed between back-to-back identical runs); the min is the
    # steady-state number and makes round-over-round comparisons
    # meaningful. Each call builds its plan fresh, so every reading
    # includes plan-build time as well as execution.
    timings: dict[str, float] = {}
    for _ in range(3):
        for name in HEADLINE_QUERIES:
            fn = registry.get(name).fn
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)

    total = round(sum(timings.values()), 3)
    record = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }

    detail: dict = {"headline": record}

    def _time_set(names: list[str], at_dir: str, passes: int) -> dict[str, float]:
        out: dict[str, float] = {}
        for _ in range(passes):
            for name in names:
                fn = registry.get(name).fn
                t0 = time.perf_counter()
                fn(spark, at_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = round(time.perf_counter() - t0, 3)
                out[name] = min(out.get(name, dt), dt)
        return out

    # Two-scale evidence (standing artifact since r8): the same queries at
    # a 10x-smaller SF, with per-query large/small ratios. A scan-bound
    # plan reads ~linear-in-bytes (ratio → data factor as fixed costs
    # amortize); a bounded-work design (index probe, map-side cap) reads
    # ~1.0; a super-linear ratio is a shuffle/spill cliff. Regenerated
    # every round so the scale argument never goes stale.
    small_dir = os.environ.get(
        "SPARK_GRAFT_SMALL_SF_DIR", "/root/testdata/sf0.01"
    )
    if (
        os.environ.get("SPARK_GRAFT_TWO_SCALE", "1") != "0"
        and os.path.isdir(small_dir)
        and os.path.abspath(small_dir) != os.path.abspath(sf_dir)
    ):
        try:
            small_sf = float(
                os.path.basename(small_dir.rstrip("/")).removeprefix("sf")
                or "0"
            )
        except ValueError:  # e.g. SPARK_GRAFT_SMALL_SF_DIR=/data/small
            small_sf = None
        small = _time_set(HEADLINE_QUERIES, small_dir, 2)
        small_total = round(sum(small.values()), 3)
        two_scale = {
            "small_sf": small_sf,
            "small_total": small_total,
            "queries_small": small,
            "ratios": {
                n: round(timings[n] / small[n], 2) if small[n] > 0 else None
                for n in HEADLINE_QUERIES
            },
            "suite_ratio": (
                round(total / small_total, 2) if small_total > 0 else None
            ),
        }
        detail["two_scale"] = two_scale
        # Earlier stdout line (NOT last).
        print(json.dumps({"two_scale": two_scale}))

    # Third scale point (round 11; hoisted out of the two_scale branch and
    # keyed neutrally in r12 — ADVICE r11): when the sf1 replication twin
    # exists (tools/scalegen.py -> /tmp/scaledata/sf1, ~6M lineitem), time
    # the same headline set there so BENCH_DETAIL.json carries a
    # three-point scaling table. The ratio denominators are whatever SF
    # this run's primary dir was — recorded as base_sf, NOT assumed 0.1.
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/scaledata/sf1")
    if (
        os.environ.get("SPARK_GRAFT_THREE_SCALE", "1") != "0"
        and os.path.isdir(sf1_dir)
        and os.path.abspath(sf1_dir) != os.path.abspath(sf_dir)
    ):
        big = _time_set(HEADLINE_QUERIES, sf1_dir, 2)
        big_total = round(sum(big.values()), 3)
        detail["three_scale"] = {
            "sf1_dir": sf1_dir,
            "base_sf": sf,
            "sf1_total": big_total,
            "queries_sf1": big,
            "ratios_sf1_over_base": {
                n: round(big[n] / timings[n], 2) if timings[n] > 0 else None
                for n in HEADLINE_QUERIES
            },
            "suite_ratio_sf1_over_base": (
                round(big_total / total, 2) if total > 0 else None
            ),
        }
        # Earlier stdout line, like two_scale: BENCHNOTES prose must quote
        # figures from the SHIPPED artifact (VERDICT r12 finding 2 — the
        # r12 notes quoted 3.95/9.9x from a pre-regeneration run while the
        # JSON said 3.52/8.24x), so the run emits them where the log and
        # the file can't diverge.
        print(json.dumps({"three_scale_summary": {
            "sf1_total": big_total,
            "suite_ratio_sf1_over_base": detail["three_scale"][
                "suite_ratio_sf1_over_base"
            ],
        }}))

    # detail always carries the headline, so the write is
    # unconditional by design (the r12 `len(detail) > 1` guard was dead —
    # ADVICE r12). Scale sections are present iff their fixture dirs are.
    # The unix stamp ties any BENCHNOTES prose to THIS generation run
    # (VERDICT r12 finding 2: quote shipped figures, or stamp the run).
    detail["generated_at_unix"] = int(time.time())
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:  # read-only checkout: the stdout lines still have it
        pass

    # The compact headline MUST be the very last stdout line (see module
    # docstring). Flush so nothing Spark buffers can land after it.
    print(json.dumps(record), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
