"""Repeat registry calls must not pile up persisted data.

Every ``registry.get(name).fn(spark, sf_dir)`` call builds its plan fresh.
The builders below persist an intermediate at build time (a lazy
``persist`` or an eager ``localCheckpoint``), so each call asks Spark to
cache something again. What bounds that is Spark's CacheManager: a
``persist`` of a plan identical to one already cached reuses the existing
entry. Pinned here: calling and executing each builder a second time
leaves the session's persistent-RDD count where the first call left it.
"""

from __future__ import annotations

import pytest

from stock_data_pipeline_spark.registry import get

PERSISTING_BUILDERS = [
    "b28_gap_fill",
    "c04_unigram_logprob",
    "c04_bigram_pmi",
    "c08_dsir_select",
    "c10_link_pagerank",
    "c10_triangle_clustering",
    "c10_component_labels",
    "c10_kcore_peel",
    "c10_harmonic_centrality",
    "c10_link_prediction",
]


def _run_and_count(spark, name: str, sf_dir: str) -> int:
    get(name).fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", PERSISTING_BUILDERS)
def test_repeat_call_adds_no_persisted_rdd(spark, sf_dir, name):
    if not hasattr(spark, "_jsc"):
        pytest.skip("classic session required to list persistent RDDs")
    first = _run_and_count(spark, name, sf_dir)
    second = _run_and_count(spark, name, sf_dir)
    assert second <= first, (
        f"{name}: persistent RDDs grew {first} -> {second} on a repeat "
        "call; a build-time persist is no longer reused by the "
        "CacheManager, so every call leaks a session-lifetime cache entry"
    )
