"""Repeat calls of a query shape reuse their generated classes.

Spark keeps one JVM-wide LRU cache of Janino-compiled whole-stage-codegen
classes. A pass over more classes than the cache holds misses on every
lookup, so every call recompiles (Janino, then the JIT again). The 13
perfbench ``cold_sweep`` queries need about 170 classes against Spark's
default of 100; ``session.get_spark`` sizes the cache for the registry.
"""

from __future__ import annotations

import json
import os

from stock_data_pipeline_spark import registry
from stock_data_pipeline_spark.session import CODEGEN_CACHE_ENTRIES

WORKLOADS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "perfbench", "workloads.json"
)


def _cold_sweep_names() -> list[str]:
    with open(WORKLOADS) as fh:
        return json.load(fh)["workloads"]["cold_sweep"]["queries"]


def test_second_pass_of_cold_sweep_compiles_nothing(spark, sf_dir):
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    count = lambda: compiles.METRIC_COMPILATION_TIME().getCount()  # noqa: E731
    names = _cold_sweep_names()
    assert len(names) == 13

    per_pass = []
    for _ in range(2):
        before = count()
        for name in names:
            registry.get(name).fn(spark, sf_dir).toPandas()
        per_pass.append(count() - before)

    # The first pass compiles whatever this JVM has not generated yet
    # (about 170 classes when it is the first thing the session runs);
    # every class of the second pass must come from the cache.
    assert per_pass[1] == 0, f"compiles per pass: {per_pass}"

    # The builder conf took effect and covers the set this test walked.
    max_entries = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert max_entries == CODEGEN_CACHE_ENTRIES
    assert max_entries >= per_pass[0]
