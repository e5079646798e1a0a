"""Adaptive partition rebalancing for CPU-heavy per-row operators.

Motivation (measured, see BENCH history): the local test tables are single
row-group parquet files, so scans yield ONE partition and shingling/hashing
/vector-scoring serialize on one core — 4× slower than necessary on 32.
At cluster scale the same operators read thousands of partitions and a
blind ``repartition()`` would be a catastrophic full-corpus shuffle.

:func:`rebalance` therefore widens ONLY when the input has fewer
partitions than the session's parallelism — a no-op exactly when the scan
is already parallel. Safe on every operator whose output is
partitioning-independent (all registered queries are, by the determinism
contract in registry.py).

The under-parallelized check reads the scan's file listing + sizes rather
than ``df.rdd.getNumPartitions()``: materializing the RDD forces a full
physical-planning pass on the driver per invocation, while
``inputFiles()`` is a metadata lookup.
"""

from __future__ import annotations

import os
import re
from urllib.parse import urlparse

from pyspark.sql import DataFrame

_BYTE_SIZE = re.compile(r"(\d+)([kmgtp]?)b?")


def conf_bytes(spark, key: str, default: str) -> int:
    """Read a byte-size conf the way Spark parses it: a bare integer is
    bytes, and ``k``/``m``/``g``/``t``/``p`` (optionally followed by
    ``b``, any case) are binary multiples — ``64k``, ``4m``, ``128mb``,
    ``1g``. Anything else raises ``ValueError`` naming ``key``.

    Pure Python on purpose: Spark Connect sessions have no JVM handle to
    call Spark's own parser through."""
    raw = str(spark.conf.get(key, default))
    m = _BYTE_SIZE.fullmatch(raw.strip().lower())
    if m is None:
        raise ValueError(
            f"{key}={raw!r} is not a byte size (expected e.g. 134217728, "
            "64k, 4m, 128mb, 1g)"
        )
    digits, unit = m.groups()
    return int(digits) * 1024 ** ("kmgtp".index(unit) + 1 if unit else 0)


def session_parallelism(spark) -> int:
    """Target task parallelism for the session.

    Classic: ``sparkContext.defaultParallelism``. Spark Connect clients
    have no SparkContext, so fall back to the shuffle-partition conf —
    the same order of magnitude, and only used to decide whether a widen
    is worthwhile."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:  # pragma: no cover - Connect client
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


def _rdd_partitions_or(df: DataFrame, default: int) -> int:
    """Exact RDD partition count, or ``default`` where ``.rdd`` does not
    exist (Spark Connect). The callers use this when file sizes are not
    stat-able; returning ``default`` (= the target) makes ``rebalance`` a
    NO-OP there — the conservative choice, since a blind repartition of
    an unknown-size source is the catastrophic path at scale."""
    try:
        return df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - Connect client
        return default


def _estimated_scan_partitions(df: DataFrame, target: int) -> int:
    """Estimate the scan's partition count from file count + sizes.

    Mirrors Spark's real file-split math (``FilePartition.maxSplitBytes``):
    the split size is ``min(maxPartitionBytes, max(openCostInBytes,
    (Σ size + n·openCost) / minPartitionNum))`` — NOT a flat
    bytes/maxPartitionBytes, which the r13 version used and which
    under-estimated a 110 MB single-file scan as 1 partition when Spark
    actually splits it ~27 ways (the divisor term: Spark targets
    ``minPartitionNum`` ≈ default parallelism splits whenever files allow).
    The under-estimate made ``rebalance`` fire a full-data round-robin
    shuffle on scans that were already wide. Falls back to the exact (but
    planning-heavy) RDD partition count when the files aren't locally
    stat-able or the frame has no file source.
    """
    files = df.inputFiles()
    if len(files) >= target:
        return len(files)
    if not files:
        return _rdd_partitions_or(df, target)
    spark = df.sparkSession
    mpb = conf_bytes(spark, "spark.sql.files.maxPartitionBytes", "134217728")
    open_cost = conf_bytes(spark, "spark.sql.files.openCostInBytes", "4194304")
    try:
        # no default arg: conf.get validates defaults against the conf
        # spec, and minPartitionNum rejects the "unset" sentinel
        min_pn = int(spark.conf.get("spark.sql.files.minPartitionNum"))
    except Exception:
        min_pn = 0
    if min_pn <= 0:
        min_pn = max(target, 1)
    total_padded = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("file", ""):
            return _rdd_partitions_or(df, target)
        try:
            total_padded += os.path.getsize(parsed.path) + open_cost
        except OSError:
            return _rdd_partitions_or(df, target)
    max_split = min(mpb, max(open_cost, total_padded // min_pn))
    return max(1, -(-total_padded // max_split))


def local_scan_bytes(df: DataFrame) -> int | None:
    """Total byte size of ``df``'s file-source inputs when every file is
    a stat-able local path; ``None`` when unknown (no file source, remote
    scheme, or stat failure).

    Used for recompute-vs-materialize decisions (the checkpoint gate in
    ``operators/text.py::decontaminate_verdicts``): a plan subtree that
    is cheap to rebuild from a kilobyte-scale local fixture is expensive
    to rebuild from a terabyte-scale production scan, and the only
    honest way to pick per-run is to look at the input, the same way
    :func:`rebalance` does. ``None`` (remote/unknown) deliberately reads
    as "assume big": at cluster scale inputs are object-store URIs, and
    the materialize branch is the scale-safe default."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("file", ""):
            return None
        try:
            total += os.path.getsize(parsed.path)
        except OSError:
            return None
    return total


def rebalance(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff the frame is under-parallelized."""
    target = min_partitions or session_parallelism(df.sparkSession)
    if _estimated_scan_partitions(df, target) >= target:
        return df
    return df.repartition(target)


# --------------------------------------------------------------------------
# Deterministic md5 hash bucketing — THE shared spelling for every salted
# bucket/shard assignment (train/val/test split, source mixing, export
# shards, interleaved read order). md5 is identical in Spark and DuckDB,
# so assignments are engine-independent; a single drifting re-spelling of
# the substring/conv arithmetic would silently desynchronize producers
# (e.g. the exported shard directories vs the reader's computed shard).
# --------------------------------------------------------------------------
def hash_bucket(col: str, *, salt: str = "", mod: int = 100):
    from pyspark.sql import functions as F

    keyed = F.col(col).cast("string")
    if salt:
        keyed = F.concat(F.lit(salt), keyed)
    return (
        F.conv(F.substring(F.md5(keyed), 1, 8), 16, 10).cast("bigint") % mod
    )


def sql_hash_bucket(expr: str, *, salt: str = "", mod: int = 100) -> str:
    keyed = (
        f"'{salt}' || CAST({expr} AS VARCHAR)" if salt
        else f"CAST({expr} AS VARCHAR)"
    )
    return (
        f"(CAST(('0x' || substr(md5({keyed}), 1, 8)) AS BIGINT) % {mod})"
    )
