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
    # Spark has no TIMESTAMP(NANOS) type; read ns columns as raw int64 and
    # let the catalog convert to TIMESTAMP_NTZ at µs precision (lossless for
    # this corpus — ns remainders are zero; see catalog._normalize).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
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
