"""Table-maintenance operators: keyed upsert (merge) and small-file
compaction.

The reference's tables are append-only BigQuery loads
(/root/reference/dags/stock_data_to_gcp.py:134 — ``WRITE_APPEND``); any
correction or late re-statement implies the BigQuery MERGE the reference
would run downstream. This module supplies that capability natively over
parquet, plus the compaction pass every micro-batch landing zone needs
(the streaming sink writes one partition per batch —
streaming/jobs.py::write_batch_idempotent under run_foreach_batch — which
at a 2-minute cadence is 720 small partitions/day).

Both operators follow the same atomicity discipline: write the new table
image to a staging directory, then swap directories — readers never see a
half-written table, and a crash mid-rewrite leaves the old image intact.
(On a real object store the swap is a metastore pointer flip / format-
native commit; the filesystem rename stands in for it here.)
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _atomic_swap(new_dir: str, target_dir: str) -> None:
    old = target_dir.rstrip("/") + f"._old_{uuid.uuid4().hex[:8]}"
    os.rename(target_dir, old)
    os.rename(new_dir, target_dir)
    shutil.rmtree(old)


def merge_upsert(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    *,
    keys: list[str],
    version_col: str,
) -> None:
    """MERGE: upsert ``updates`` into the parquet table at ``target_dir``.

    Row identity is ``keys``; when both sides carry a key, the row with the
    greater ``version_col`` wins (ties go to the update — a re-statement of
    the same version replaces). Implemented as union + latest-per-key
    window, the shuffle-minimal formulation: ONE exchange on the key,
    no join, no second pass. At 100 TB the same code runs per key-range
    partition (partitionBy on the sink) so only affected partitions
    rewrite; format-native MERGE (Delta/Iceberg) replaces the directory
    swap without changing the plan shape.
    """
    target = spark.read.parquet(target_dir)
    # Column sets must agree exactly: silently projecting the target to
    # the updates' columns would permanently DROP any column the updates
    # frame lacks (data loss in a maintenance op). Same discipline as
    # pipelines/ingest.enforce_schema: mismatch is an error, not a guess.
    missing = set(target.columns) - set(updates.columns)
    extra = set(updates.columns) - set(target.columns)
    if missing or extra:
        raise ValueError(
            f"merge_upsert column mismatch: updates missing {sorted(missing)}, "
            f"updates carry unknown {sorted(extra)}"
        )
    target = target.select(*updates.columns)
    # side=1 (update) sorts above side=0 at equal versions → update wins.
    tagged = target.withColumn("_side", F.lit(0)).unionByName(
        updates.withColumn("_side", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(
        F.desc(version_col), F.desc("_side")
    )
    merged = (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_side")
    )
    staging = target_dir.rstrip("/") + f"._staging_{uuid.uuid4().hex[:8]}"
    merged.write.parquet(staging)
    _atomic_swap(staging, target_dir)


def compact(
    spark: SparkSession,
    table_dir: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a many-small-files table into ~``target_file_bytes`` files.

    Returns the new file count. File count comes from the table's actual
    on-disk bytes (cheap driver-side listing of metadata, never data), and
    the rewrite is one repartition pass. At 100 TB this runs per partition
    directory on a schedule, and the 128 MB default matches the scan split
    size so one task reads one file.
    """
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(table_dir)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(table_dir)
    staging = table_dir.rstrip("/") + f"._staging_{uuid.uuid4().hex[:8]}"
    df.repartition(n_files).write.parquet(staging)
    _atomic_swap(staging, table_dir)
    return n_files


def refresh_hourly_rollup(
    spark: SparkSession,
    rollup_dir: str,
    increment: DataFrame,
) -> None:
    """Incrementally maintain an hourly (event_type, bucket) rollup —
    the continuous-aggregate pattern: aggregate ONLY the new micro-batch,
    then merge partial states into the stored rollup.

    The stored state is mergeable partials — n (count) and a decimal-exact
    sum — so refresh cost is O(increment + touched buckets), never a
    rescan of the raw log (which at a 2-minute cadence over years is the
    whole lake). Derived columns (averages) are computed at READ time from
    the partials; storing them would make states non-mergeable.
    Idempotence is the caller's concern: feed increments through the
    exactly-once sink (streaming/jobs.py) so a batch is never merged
    twice.
    """
    part = increment.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
    )
    if os.path.isdir(rollup_dir):
        existing = spark.read.parquet(rollup_dir)
        merged = (
            existing.unionByName(part)
            .groupBy("event_type", "bucket")
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_value")
                .cast("decimal(18,6)")
                .alias("sum_value"),
            )
        )
        staging = rollup_dir.rstrip("/") + f"._staging_{uuid.uuid4().hex[:8]}"
        merged.write.parquet(staging)
        _atomic_swap(staging, rollup_dir)
    else:
        part.write.parquet(rollup_dir)


def read_hourly_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Read-time view over the partial states: derived avg from (sum, n)."""
    r = spark.read.parquet(rollup_dir)
    return r.select(
        "event_type",
        "bucket",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        (F.col("sum_value").cast("double") / F.col("n")).alias("avg_value"),
    )


def _ohlcv_partials(ticks: DataFrame) -> DataFrame:
    """Per-(instrument, day) mergeable bar state over a tick slice.

    count/sum/min/max merge trivially; open and close do NOT — they are
    argmin/argmax by time, so the stored state is the (ts, value) STRUCT
    and struct min/max (lexicographic, ts first) is the merge operator.
    A timestamp tie would fall to the value, deterministically — unlike
    ``min_by(value, ts)``, whose tie pick is engine-arbitrary.
    """
    tv = F.struct(F.col("ts").alias("t"), F.col("value").alias("v"))
    return ticks.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("bar_date")
    ).agg(
        F.min(tv).alias("open_p"),
        F.max(tv).alias("close_p"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.count("*").alias("n_ticks"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("volume"),
    )


def merge_bar_partials(partials: DataFrame) -> DataFrame:
    """Merge bar states across slices: the commutative/associative
    combine for :func:`_ohlcv_partials` outputs."""
    return partials.groupBy("event_type", "bar_date").agg(
        F.min("open_p").alias("open_p"),
        F.max("close_p").alias("close_p"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.sum("n_ticks").alias("n_ticks"),
        F.sum("volume").cast("decimal(18,6)").alias("volume"),
    )


def refresh_ohlcv_bars(
    spark: SparkSession,
    bars_dir: str,
    increment: DataFrame,
) -> None:
    """Incrementally maintain daily OHLCV bars from tick micro-batches —
    the continuous-aggregate form of the B3 resample (operators/
    timeseries.py::b03_ohlcv_bars).

    Each refresh aggregates ONLY the new ticks to partial bars, then
    merges states: min/max on the (ts, value) structs re-derive open and
    close even when a batch arrives out of order or splits a day across
    batches — commutative and associative, so ANY batch arrival order
    yields the recompute-from-scratch result (asserted in
    tests/test_maintenance.py). Cost per refresh is O(increment +
    touched bars); the raw tick log is never rescanned. Idempotence is
    the caller's concern: feed batches through the exactly-once sink
    (streaming/jobs.py) so none merges twice.
    """
    part = _ohlcv_partials(increment)
    if os.path.isdir(bars_dir):
        existing = spark.read.parquet(bars_dir)
        merged = merge_bar_partials(existing.unionByName(part))
        staging = bars_dir.rstrip("/") + f"._staging_{uuid.uuid4().hex[:8]}"
        merged.write.parquet(staging)
        _atomic_swap(staging, bars_dir)
    else:
        part.write.parquet(bars_dir)


def read_ohlcv_bars(spark: SparkSession, bars_dir: str) -> DataFrame:
    """Read-time bar view: open/close extracted from the struct partials."""
    r = spark.read.parquet(bars_dir)
    return r.select(
        "event_type",
        "bar_date",
        F.col("open_p.v").alias("open"),
        "high",
        "low",
        F.col("close_p.v").alias("close"),
        "n_ticks",
        F.col("volume").cast("double").alias("volume"),
    )
