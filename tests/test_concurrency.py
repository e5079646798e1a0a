"""Thread-safety of the shared per-session memos under concurrent use.

Spark supports concurrent job submission from multiple driver threads on
one session; the engine's catalog and series memos (plain dicts guarded by
the GIL, last-writer-wins on a race) must never corrupt results or crash when
a multi-tenant driver fires queries in parallel."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from stock_data_pipeline_spark.registry import get

QUERIES = [
    "b01_filter_time_range",
    "b02_group_agg",
    "b04_broadcast_join",
    "b08_rank_in_group",
    "b16_null_handling",
    "c01_exact_dedup",
    "c04_top_tokens",
    "c06_json_extract",
]


def _rows(spark, name, sf_dir):
    return sorted(map(tuple, get(name).fn(spark, sf_dir).collect()))


def test_concurrent_query_execution_matches_serial(spark, sf_dir):
    serial = {n: _rows(spark, n, sf_dir) for n in QUERIES}
    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = {
            n: pool.submit(_rows, spark, n, sf_dir)
            for n in QUERIES * 2  # every query raced from two threads
        }
        # dict comprehension dedupes to one future per name; submit both
        all_futures = [pool.submit(_rows, spark, n, sf_dir) for n in QUERIES]
        for n, fut in futures.items():
            assert fut.result(timeout=300) == serial[n], n
        for n, fut in zip(QUERIES, all_futures):
            assert fut.result(timeout=300) == serial[n], n
