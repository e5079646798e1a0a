"""SparkSession factory with scale-aware defaults.

The reference repo achieves parallelism with a manual 5-way ticker shard fanned
out over Celery workers (/root/reference/dags/stock_data_to_gcp.py:42,93-104).
Here Spark's scheduler owns parallelism; this module centralizes the session
configuration that makes the same programs work from ``local[32]`` tests up to
a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting, dynamic
  broadcast selection) so plans self-tune as data scales.
- Arrow on for every pandas interchange (fetch UDFs, multimodal decode).
- UTC session timezone so timestamp semantics are environment-independent
  (and match the DuckDB oracle used by the tests).
- Shuffle partitions default to a CPU-derived value locally; on a real
  cluster AQE coalescing makes the initial number far less sensitive.
- A whole-stage-codegen class cache that holds the registry's working set
  (``CODEGEN_CACHE_ENTRIES``). The cache is JVM-wide and LRU; at Spark's
  default of 100 classes a pass over more shapes than that recompiles
  every class on every call. Its size is a static conf, read once when
  the JVM's first session is built, so it is a builder conf and not a
  ``RUNTIME_CONFS`` entry (a live ``conf.set`` raises, and
  ``apply_runtime_confs`` would swallow that). Sessions this module did
  not build keep Spark's 100.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime (SQLConf) settings that must hold for correctness / oracle parity
# no matter who constructed the session. Safe to set on a live session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet naive timestamps (isAdjustedToUTC=false, as written by
    # pandas/pyarrow) load as TIMESTAMP_NTZ: no session-tz shifting ever.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # Recursive-CTE depth = longest per-key chain (b19_sessionize_recursive
    # walks one event per level; the default 100 fails past ~99 events per
    # user). Pinned here — not conf.set inside the query — so the setting
    # is owned by the same pin/heal machinery as every other conf instead
    # of leaking into the host session as a query side effect.
    "spark.sql.cteRecursionLevelLimit": "100000",
    # The recursion ROW limit caps total rows accumulated across all
    # levels — the walk CTE emits one row per event, so the 1M default
    # trips at exactly sf1 (1M events; found by the r11 sf1 sweep:
    # RECURSION_ROW_LIMIT_EXCEEDED). 100M covers sf100's event count;
    # the real hostile-input guard is recursive_sessionize's max_rounds
    # plan-embedded raise_error (r12), not this backstop.
    "spark.sql.cteRecursionRowLimit": "100000000",
    # spark.sql.files.maxPartitionBytes deliberately stays at the 128 MB
    # default. Finer local splits (3-way → 6-32-way scans on the ~11 MB
    # fixtures) were tested in round 5 AND re-tested in round 7 with an
    # interleaved same-session A/B: net ≈ 0 at sf0.1 (the apparent −30%
    # from a sequential A/B was JVM warm-up bias — BENCHNOTES round 7).
    # Packing fewer bytes per task is also the wrong default for the
    # 100 TB cluster profile this engine targets.
}


# Entries of Spark's JVM-wide generated-class cache
# (spark.sql.codegen.cache.maxEntries, default 100). Janino compiles
# (CodegenMetrics.METRIC_COMPILATION_TIME count) in the first pass of a
# query set at local[2], sf0.001 / sf0.01 / sf0.1 (BENCHNOTES "Round 21"):
# the 13 perfbench cold_sweep queries 170 at each scale; the 50-query
# driver window 1,837 / 1,979 / 2,015; the whole registry 3,350 / 3,551
# at sf0.001 / sf0.01. The cache evicts in LRU order, so at 100 entries a
# second cold_sweep pass recompiled 165-167 classes; at this size it
# compiles none. 770-805 of the registry's classes compile again on every
# pass even at 8192 entries (their generated code differs between
# identical calls), so the size follows the largest set the cache can
# serve: the smallest power of two at least twice the window's 2,015.
CODEGEN_CACHE_ENTRIES = 4096


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(1, int(cpus))
    return os.cpu_count() or 8


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Pin the runtime confs this engine's semantics rely on.

    Called by the table catalog so even a session we did not construct
    (e.g. the verification driver's) evaluates queries identically.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf locked by the host
            pass
    return spark


def get_spark(
    app_name: str = "stock_data_pipeline_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a session with the engine's defaults applied."""
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    try:
        spark.sparkContext.setLogLevel("WARN")
    except Exception:  # pragma: no cover - Connect session: no SparkContext
        pass
    return apply_runtime_confs(spark)
