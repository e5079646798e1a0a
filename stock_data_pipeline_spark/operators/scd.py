"""Slowly-changing-dimension (Type 2) tracking over snapshot feeds.

The reference's ingest is exactly the SCD input shape: every batch lands a
FULL per-ticker snapshot of slowly-moving attributes (financial ratios,
statement fields — /root/reference/dags/financial_ratio_to_gcp.py:44-52)
into an append-only table, and any "what was the ratio when?" question is
left to BigQuery. This module supplies both halves of the standard answer:

- :func:`b54_scd2_history` — batch reconstruction: collapse the appended
  snapshots into validity intervals (gaps-and-islands) in one pass.
- :func:`scd2_apply` — incremental maintenance: fold ONE new snapshot into
  an existing history table (close changed rows, open new versions), the
  per-batch form a ``foreachBatch`` sink would call. The two are proved
  equivalent in tests/test_scd.py (fold N snapshots == rebuild from all N).

Scale: the batch form is one aggregate + windows partitioned by entity
(shuffle carries snapshot-grain rows, map-side combined); the incremental
form is one equi-join per batch on the dimension key — broadcast the
snapshot side (a dimension batch is small by definition) so maintaining a
billion-row history never shuffles it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register_views
from ..registry import query

_B54_SQL = """
    WITH snap AS (
      SELECT user_id,
             date_trunc('day', ts) AS d,
             CAST(FLOOR(max_by(value, ts) / 100.0) AS BIGINT) AS tier
      FROM events
      GROUP BY user_id, date_trunc('day', ts)
    ),
    flagged AS (
      SELECT user_id, d, tier,
             CASE WHEN lag(tier) OVER w IS NULL
                    OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
      FROM snap
      WINDOW w AS (PARTITION BY user_id ORDER BY d)
    ),
    grp AS (
      SELECT user_id, d, tier,
             CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY d
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS version
      FROM flagged
    )
    SELECT user_id, version, tier,
           MIN(d) AS valid_from, MAX(d) AS valid_to,
           COUNT(*) AS n_days
    FROM grp
    GROUP BY user_id, version, tier
"""


@query("b54_scd2_history", oracle=_B54_SQL, driver=False)
def b54_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B54: SCD2 history rebuild — gaps-and-islands over daily snapshots.

    Each entity's daily attribute (here: the closing price tier) is
    collapsed into validity intervals: a change flag from ``lag``, a
    running-sum version id (integer window SUM — exact under DuckDB's
    segment tree and Spark's streaming evaluation alike), then one
    aggregate per (entity, version). Three window passes share one
    partition sort; the final shuffle is island-grain.

    This is the batch ground truth that :func:`scd2_apply` maintains
    incrementally — equivalence is asserted in tests/test_scd.py.
    """
    register_views(spark, sf_dir)
    return spark.sql(_B54_SQL)


def scd2_current(history: DataFrame) -> DataFrame:
    """The dimension's current view: open rows only."""
    return history.filter(F.col("is_current"))


def scd2_apply(
    history: DataFrame | None,
    snapshot: DataFrame,
    *,
    keys: list[str],
    attrs: list[str],
    as_of_col: str = "as_of",
    coalesce_to: int | None = None,
) -> DataFrame:
    """Fold one full snapshot into an SCD2 history table.

    ``history`` columns: ``keys + attrs + [valid_from, valid_to,
    is_current]`` (``None`` bootstraps an empty history); ``snapshot``
    columns: ``keys + attrs + [as_of_col]``, one row per key.

    Semantics per key:
    - unchanged attributes (null-safe comparison) → history untouched;
    - changed attributes → current row closed (``valid_to = as_of``),
      new open row inserted;
    - key absent from history → new open row;
    - key absent from the snapshot → untouched (a full-snapshot feed that
      drops a key is a delete — out of SCD2 scope, keep the row open).

    Plan shape: closed (non-current) rows pass through without touching
    the join; only current rows join the snapshot, on the dimension key.
    Broadcast ``snapshot`` when it is batch-sized. One shuffle-free pass
    over history + one join = O(|history|) work per batch, no windows.

    ``coalesce_to`` bounds the output partition count (narrow, no
    shuffle). Set it when folding MANY batches through an in-memory
    history (checkpoint chains): the result is a 3-way union, so each
    application otherwise ADDS its branches' partitions — measured ~+100
    per fold with checkpoint materialization bypassing AQE coalescing,
    i.e. O(batches²) scheduled tasks across a backfill. A history landed
    to storage between batches re-reads at file grain and doesn't need it.
    """
    as_of = F.col(as_of_col)
    open_new = snapshot.select(
        *keys,
        *attrs,
        as_of.alias("valid_from"),
        F.lit(None).cast(snapshot.schema[as_of_col].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    if history is None:
        return open_new

    closed = history.filter(~F.col("is_current"))
    current = history.filter(F.col("is_current"))

    snap = snapshot.select(
        *[F.col(k).alias(f"__s_{k}") for k in keys],
        *[F.col(a).alias(f"__s_{a}") for a in attrs],
        as_of.alias("__s_as_of"),
    )
    cond = [F.col(k) == F.col(f"__s_{k}") for k in keys]
    j = current.join(snap, cond, "left")

    same = F.lit(True)
    for a in attrs:
        same = same & F.col(a).eqNullSafe(F.col(f"__s_{a}"))
    matched = F.col(f"__s_{keys[0]}").isNotNull()

    hist_cols = [*keys, *attrs, "valid_from", "valid_to", "is_current"]
    # current rows: close when the snapshot changed them, else pass through
    kept_current = j.select(
        *keys,
        *attrs,
        F.col("valid_from"),
        F.when(matched & ~same, F.col("__s_as_of")).otherwise(
            F.col("valid_to")
        ).alias("valid_to"),
        F.when(matched & ~same, F.lit(False)).otherwise(
            F.col("is_current")
        ).alias("is_current"),
    )
    # snapshot rows open a new version unless the key is current AND
    # unchanged: that complement covers both changed keys and new keys
    unchanged_keys = j.filter(matched & same).select(*keys)
    new_opens = open_new.join(unchanged_keys, keys, "left_anti")
    out = closed.select(*hist_cols).unionByName(kept_current).unionByName(new_opens)
    if coalesce_to is not None:
        out = out.coalesce(coalesce_to)
    return out


# --------------------------------------------------------------------------
# B85 — point-in-time-correct enrichment (the feature-store join)
# --------------------------------------------------------------------------
_B85_BODY = """
    SELECT e.event_id, e.user_id, h.tier, h.version
    FROM events e
    JOIN {history} h
      ON h.user_id = e.user_id
     AND date_trunc('day', e.ts) BETWEEN h.valid_from AND h.valid_to
    WHERE e.event_type = 'purchase'
"""

_B85_ORACLE = (
    f"WITH scd2_history AS ({_B54_SQL})"
    + _B85_BODY.format(history="scd2_history")
)


@query("b85_point_in_time", oracle=_B85_ORACLE, driver=False)
def b85_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B85: point-in-time-correct join — each fact enriched with the
    dimension VERSION that was valid at the fact's event time, the
    feature-store discipline that prevents training-serving skew (a
    plain join to the current dimension would leak future attribute
    values into historical facts).

    Built on the b54 SCD2 history: islands partition each entity's
    timeline, so every fact matches exactly ONE version row and the join
    is lossless. Plan shape: hash join on the entity key with the
    interval predicate as a post-join filter — the history side is
    version-grain (dimension-sized), so broadcast it; never an interval
    cross product. The history is MATERIALIZED before the join
    (``localCheckpoint``): in production it IS a maintained table
    (``scd2_apply``), and deriving it inline as a CTE would re-scan the
    event log for the history build on top of the fact-side scan (the
    b86 re-expansion trap).
    """
    register_views(spark, sf_dir)
    history = spark.sql(_B54_SQL).localCheckpoint()
    return spark.sql(_B85_BODY, history=history)
