"""Streaming operators (SURVEY.md §2 B17-B19) in unified batch/stream form.

The reference's "streaming" is Airflow cron micro-batches with strict
serialization (`max_active_runs=1`, `depends_on_past=True`, the
reference's dags/stock_data_to_gcp.py:76,87,90); Structured Streaming's
micro-batch loop is the native replacement (trigger ↔ cron, checkpoint ↔
Airflow metadata DB, `availableNow` ↔ catch-up run).

Design: every streaming computation is written as a pure
``DataFrame -> DataFrame`` transformation. Applied to a batch frame it is
oracle-checkable (registered below); applied to ``readStream`` input it is
the production streaming job (exercised with ``trigger(availableNow=True)``
in tests/test_streaming.py). One definition, two execution modes — that is
exactly the unification Structured Streaming promises.

Sinks: :func:`run_stream_to_memory` for tests, and one production runner,
:func:`run_foreach_batch`, which drives a ``write_batch_*`` body per
micro-batch (idempotent partitions, OHLCV bar partials, exact or near
corpus dedup, corpus prep, IVF index append) at a cron-like cadence or
as an ``availableNow`` catch-up run.
"""

from __future__ import annotations

import math
from collections import deque

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import FIXTURE_SCHEMAS, load
from ..registry import query

# On-disk schema: ts is TIMESTAMP(MICROS) parquet without timezone →
# TIMESTAMP_NTZ; read_event_stream casts it to event-time TIMESTAMP (LTZ)
# for watermarks (session tz pinned UTC, so the cast is wall-clock
# identity).
EVENTS_RAW_SCHEMA = FIXTURE_SCHEMAS["events"]


# --------------------------------------------------------------------------
# Transformations (shared by batch oracle-checks and streaming jobs)
# --------------------------------------------------------------------------
def hourly_window_agg(events: DataFrame, *, watermark: str | None = None) -> DataFrame:
    """B17: tumbling 1-hour window aggregate per event type."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_replayed(events: DataFrame, *, watermark: str | None = None) -> DataFrame:
    """B18: drop replayed rows by natural key.

    Batch: dropDuplicates on event_id. Streaming: the watermarked variant
    (``dropDuplicatesWithinWatermark``) bounds the dedup state — exactly
    the fix for the reference's retry double-append
    (stock_data_to_gcp.py:82,134) without unbounded state at 100 TB.
    """
    if watermark:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def sessionize(events: DataFrame, *, gap_minutes: int = 30) -> DataFrame:
    """B19: gap-based sessionization per user (batch formulation).

    A new session starts when the gap to the previous event exceeds
    ``gap_minutes``. Window-lag + running-sum of session starts — one
    shuffle on user_id. The streaming twin uses ``session_window`` (see
    :func:`stream_session_agg`); both yield (user, session) aggregates.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    # Pure timestamp comparison (no epoch conversion): exact and identical
    # across engines even for fractional-second gaps.
    is_new = F.when(
        prev_ts.isNull()
        | (F.col("ts") > prev_ts + F.expr(f"INTERVAL {gap_minutes} MINUTE")),
        1,
    ).otherwise(0)
    return (
        events.withColumn("is_new", is_new)
        .withColumn("session_seq", F.sum("is_new").over(run).cast("bigint"))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# Oracle-checked batch registrations of the streaming semantics
# --------------------------------------------------------------------------
@query(
    "b17_hourly_window_agg",
    oracle="""
    SELECT
      date_trunc('hour', ts) AS window_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def b17_hourly_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B17 (batch check): the tumbling-window aggregate; 1-hour aligned
    windows coincide with date_trunc('hour'), which is the oracle."""
    return hourly_window_agg(load(spark, sf_dir, "events"))


@query(
    "b18_dedup_replay",
    oracle="""
    SELECT event_type, COUNT(*) AS n_unique,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def b18_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18 (batch check): a fully replayed batch (union of the stream with
    itself — the retry scenario) deduplicated on event_id must equal the
    original stream. Rows in a replay are byte-identical, so key-dedup is
    value-deterministic."""
    events = load(spark, sf_dir, "events")
    replayed = events.unionByName(events)
    return (
        dedup_replayed(replayed)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_unique"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


@query(
    "b19_sessionization",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
               OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    numbered AS (
      SELECT user_id, ts,
        CAST(SUM(is_new) OVER (
          PARTITION BY user_id ORDER BY ts ASC, event_id ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_seq
    """,
    driver=False,
)
def b19_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19 (batch check): 30-minute-gap sessions per user."""
    return sessionize(load(spark, sf_dir, "events"), gap_minutes=30)


#: Default recursion-round budget for :func:`recursive_sessionize`. The
#: uniform fixtures' longest per-user chain is 99 (sf0.1); the
#: celebrity-skew twin's is ~8,600 — each round is a full self-join
#: stage, so an uncapped walk on hostile data spins for hours
#: (observed: no completion in 10+ min on the skew fixture,
#: BENCHNOTES round 10) rather than erroring. 256 clears every sane
#: chain with ~2.5x headroom while failing FAST on pathological ones.
MAX_RECURSION_ROUNDS_DEFAULT = 256

# One text for both engines: the DuckDB oracle renders `{rn}` as `rn`,
# Spark renders it as _RN_GUARD. The recursion reads from the `guarded`
# projection, so the guard's per-row CASE raises (Spark `raise_error`)
# the moment any non-NULL user's chain position exceeds {max_rounds}.
# The guard is IN THE PLAN — evaluated during the anchor's first scan,
# BEFORE any recursive self-join stage launches — mirroring
# gap_fill_hourly's plan-embedded spine cap, so the builder stays a pure
# plan constructor (the r11 eager groupBy+collect pre-check both ran a
# Spark job before the caller asked and froze the measurement at build
# time).
# NULL users are exempt by construction: the recursive join condition
# `o.user_id = w.user_id` never matches NULL, so a NULL-user chain of
# any length contributes exactly its rn=1 anchor row and adds no
# recursion depth — capping it would reject data the walk terminates on.
_RECURSIVE_SESSION_SQL = """
    WITH RECURSIVE ordered AS (
      SELECT user_id, ts, event_id,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ) AS rn
      FROM events
    ),
    guarded AS (
      SELECT user_id, ts, {rn} AS rn
      FROM ordered
    ),
    walk(user_id, rn, ts, session_seq) AS (
      SELECT user_id, rn, ts, CAST(1 AS BIGINT) AS session_seq
      FROM guarded WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.rn, o.ts,
             w.session_seq + CASE WHEN o.ts > w.ts + INTERVAL 30 MINUTE
                                  THEN 1 ELSE 0 END
      FROM guarded o
      JOIN walk w ON o.user_id = w.user_id AND o.rn = w.rn + 1
    )
    SELECT user_id, session_seq,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM walk
    GROUP BY user_id, session_seq
"""

_RN_GUARD = """CASE WHEN user_id IS NULL OR rn <= {max_rounds} THEN rn
                  ELSE CAST(raise_error(CONCAT(
                    'recursive sessionization: user ',
                    CAST(user_id AS STRING),
                    ' has an event chain of at least ',
                    CAST(rn AS STRING),
                    ' events > max_rounds={max_rounds}; each recursion ',
                    'round is a full self-join stage, so an uncapped walk ',
                    'spins for hours instead of erroring. Use the window ',
                    'formulation (streaming.jobs.sessionize / ',
                    'b19_sessionization), which handles any chain length ',
                    'in one shuffle, or raise max_rounds explicitly if ',
                    'you accept the cost.'
                  )) AS INT) END"""


def recursive_sessionize(
    spark: SparkSession, sf_dir: str, *, max_rounds: int = MAX_RECURSION_ROUNDS_DEFAULT
) -> DataFrame:
    """Recursive-CTE sessionization with a plan-embedded round budget.

    The returned plan's ``guarded`` projection raises at EXECUTION time —
    during the anchor's first scan, before any recursive self-join stage
    launches — if any non-NULL user's chain exceeds ``max_rounds``. The
    builder itself runs no job (pure plan constructor), and because the
    guard rides the plan it re-measures on every execution instead of
    freezing a driver-side pre-check at build time.
    On clean data the CASE is the identity on ``rn``, so results are
    bit-identical to the oracle's rendering of the same text.
    """
    from ..catalog import register_views

    # Recursion depth limit is pinned in session.RUNTIME_CONFS (which
    # every catalog.load re-pins on the calling session), not set here: a
    # query must not mutate host-session conf as a side effect.
    register_views(spark, sf_dir)
    guard = _RN_GUARD.format(max_rounds=int(max_rounds))
    return spark.sql(_RECURSIVE_SESSION_SQL.format(rn=guard))


@query(
    "b19_sessionize_recursive", oracle=_RECURSIVE_SESSION_SQL.format(rn="rn")
)
def b19_sessionize_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19 twin on the Spark 4 recursive-CTE surface (WITH RECURSIVE,
    UNION ALL): walk each user's event chain in ts order, bumping the
    session counter when the 30-minute gap is exceeded. The same SQL
    text, without the round guard, runs on DuckDB as the oracle.

    Driver-verified (in the window since r10) but deliberately
    non-headline in bench.py: recursion is the SQL-surface
    demonstration, not the scale path — each recursion level is a
    self-join, and depth equals the longest per-user chain, so the
    window formulation in :func:`sessionize` (one shuffle, any chain
    length) is what runs at 100 TB. Recursion on acyclic chains only:
    Spark rejects UNION-distinct recursion
    ([UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE]), so cyclic-graph closure
    (c02_dedup_clusters) stays on iterative pointer-jumping.

    Bounded (round 11, plan-embedded round 12): delegates to
    :func:`recursive_sessionize`, whose ``max_rounds`` guard now rides
    the plan itself — a per-row ``raise_error`` in the recursion's
    input projection fails fast at the anchor's first scan on hostile
    chains (the skew twin's 8,600-event hot user) instead of spinning
    through thousands of self-join stages.
    """
    return recursive_sessionize(spark, sf_dir)


# --------------------------------------------------------------------------
# Streaming runners (used by tests and as production entry points)
# --------------------------------------------------------------------------
def read_event_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over a landing DIRECTORY of events parquet files
    (schema pinned, no inference) — new files become new micro-batches,
    the Spark-native analog of the reference's per-cron-run CSV drops.

    ``maxFilesPerTrigger=1`` gives one micro-batch per file.
    """
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    # Watermarks only accept TIMESTAMP (LTZ) event time, not NTZ; with the
    # session tz pinned UTC the wall-clock values match the batch catalog.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_session_agg(events: DataFrame, *, gap: str = "30 minutes") -> DataFrame:
    """B19 streaming twin: native session_window with watermarked state."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def enrich_stream(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich each micro-batch with a dimension table.

    The streaming analog of B4 — the static side is re-resolved per
    micro-batch and broadcast (dimension-sized by contract), so the stream
    side never shuffles. This is how the reference's prices⋈fundamentals
    dashboard join runs against the live tick stream. Left join: a tick
    whose entity is missing from the dimension must still flow (nulls,
    B16 semantics), never be dropped.
    """
    return events.join(F.broadcast(dim), on, "left")


def stream_running_ema(events: DataFrame, *, alpha: float = 0.2) -> DataFrame:
    """Custom stateful operator: per-key running EMA across micro-batches
    via ``applyInPandasWithState`` (SURVEY.md §2 B19/B20 — the "custom
    indicator over a live tick stream" the reference's dashboard implies).

    State per key is three scalars — the numerator/denominator of the
    adjust-corrected EMA (num_t = x_t + (1-α)·num_{t-1},
    den_t = 1 + (1-α)·den_{t-1}) and the row count — so a 10⁸-key stream
    holds O(keys) state, never history. Emits one snapshot row per key per
    micro-batch (outputMode=update). The recurrence is identical to
    pandas ``ewm(alpha, adjust=True)``, which the batch twin
    (operators/timeseries.py::with_indicators) and the stream==batch test
    rely on.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    one_minus = 1.0 - alpha

    def update(key, pdf_iter, state: GroupState):
        num, den, n = state.get if state.exists else (0.0, 0.0, 0)
        # One key's batch may arrive as several Arrow chunks; the recurrence
        # needs the whole batch in event order, so concat before sorting.
        batch = pd.concat(list(pdf_iter), ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        for v in batch["value"]:
            num = float(v) + one_minus * num
            den = 1.0 + one_minus * den
            n += 1
        state.update((num, den, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ema": [num / den]}
        )

    return events.select("user_id", "event_id", "ts", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, ema double",
        stateStructType="num double, den double, n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _zscore_ring(event_type: str, ring: list[int], ticks, window: int):
    """One key's step of the b52 rolling z-score (operators/finance.py),
    shared by both streaming detectors: push each in-order tick
    ``(ts, event_id, v2)`` — ``v2`` the cent-scaled integer price —
    through the last-``window`` ring and keep those with |z| > 3.
    Returns the new ring and the anomaly frame.

    The ring's Σv and Σv² are EXACT integers maintained incrementally
    (add the entering tick, subtract the leaving one): bit-identical to
    re-summing the ring but O(1) per row instead of O(window). The
    statistics then follow the batch SQL's expression sequence (integer
    sums, then the identical IEEE double ops), so in-order input yields
    the batch query's flagged set and z-scores bit-for-bit.
    """
    import pandas as pd

    ring = deque(ring)
    sv_i = sum(ring)
    svv_i = sum(b * b for b in ring)
    out = {"event_id": [], "event_type": [], "ts": [], "px": [], "zscore": []}
    for ts, event_id, v2 in ticks:
        ring.append(v2)
        sv_i += v2
        svv_i += v2 * v2
        if len(ring) > window:
            gone = ring.popleft()
            sv_i -= gone
            svv_i -= gone * gone
        n = len(ring)
        if n >= 30:
            sv = float(sv_i) / 100.0
            svv = float(svv_i) / 10000.0
            px = float(v2) / 100.0
            mu = sv / n
            var = (svv - sv * sv / n) / (n - 1)
            if var > 0:
                z = (px - mu) / math.sqrt(var)
                if abs(z) > 3.0:
                    out["event_id"].append(event_id)
                    out["event_type"].append(event_type)
                    out["ts"].append(ts)
                    out["px"].append(px)
                    out["zscore"].append(math.floor(z * 1000000) / 1000000)
    return list(ring), pd.DataFrame(out)


def _cents(value) -> int:
    """A tick price as the scaled integer the b52 SQL sums exactly."""
    return math.floor(float(value) * 100.0 + 0.5)


_ZSCORE_OUTPUT = (
    "event_id bigint, event_type string, ts timestamp, px double, zscore double"
)


def stream_zscore_anomalies(events: DataFrame, *, window: int = 100) -> DataFrame:
    """Streaming twin of the batch b52 spike detector (operators/
    finance.py): per-instrument rolling z-score over the last ``window``
    ticks, emitted as anomalies arrive (outputMode=append).

    State per key is the ring buffer of the last ``window`` SCALED-INTEGER
    ticks — bounded O(keys × window), never history. The statistics come
    from :func:`_zscore_ring`, so on in-order input the flagged set and
    z-scores EQUAL the batch query bit-for-bit (asserted in
    tests/test_streaming.py). Ordering caveat: rows are sorted
    (ts, event_id) within each micro-batch, but cross-batch out-of-order
    arrival is not re-buffered — on a disordered feed the live edge is
    approximate and the batch query is the authority (re-running it is
    the repair path, same rule as b18 replay).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        (ring,) = state.get if state.exists else ([],)
        batch = pd.concat(list(pdf_iter), ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        ring, out = _zscore_ring(
            key[0],
            ring,
            (
                (row.ts, row.event_id, _cents(row.value))
                for row in batch.itertuples(index=False)
            ),
            window,
        )
        state.update((ring,))
        yield out

    return events.select("event_type", "event_id", "ts", "value").groupBy(
        "event_type"
    ).applyInPandasWithState(
        update,
        outputStructType=_ZSCORE_OUTPUT,
        stateStructType="buf array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_zscore_anomalies_ordered(
    events: DataFrame, *, window: int = 100, watermark: str = "1 hour"
) -> DataFrame:
    """Disorder-tolerant twin of :func:`stream_zscore_anomalies`: rows are
    BUFFERED until the event-time watermark passes them, then processed
    in strict (ts, event_id) order — so any arrival disorder within the
    watermark delay yields exactly the batch b52 result, at the price of
    watermark-delay latency (the undelayed twin is the live edge,
    approximate under disorder; this is the correct-under-disorder path).

    State per key: the pending buffer (rows newer than the watermark,
    bounded by delay × arrival rate — the same bound every watermarked
    stateful op carries) plus the 100-tick ring of processed history.
    ``GroupState.getCurrentWatermarkMs`` gates the flush; note Spark
    computes the watermark from the PREVIOUS batch's max event time, so
    emission lags one micro-batch behind arrival (asserted in the test
    by cutting the batch comparison at the final watermark).

    Liveness: EventTimeTimeout (set to the oldest pending row) flushes a
    key whose pending rows the watermark has passed even when the key
    receives NO further data — under NoTimeout a key that goes quiet
    while other keys advance the watermark would hold its confirmed
    anomalies in state forever.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            p_ts, p_eid, p_v2, ring = state.get
        else:
            p_ts, p_eid, p_v2, ring = (
                state.get if state.exists else ([], [], [], [])
            )
        pend = list(zip(p_ts, p_eid, p_v2))
        chunks = [] if state.hasTimedOut else list(pdf_iter)
        if chunks:
            batch = pd.concat(chunks, ignore_index=True)
            for row in batch.itertuples(index=False):
                ts_us = int(pd.Timestamp(row.ts).value // 1000)
                pend.append((ts_us, int(row.event_id), _cents(row.value)))
        wm_us = state.getCurrentWatermarkMs() * 1000
        pend.sort()  # (ts, event_id) order — the batch query's order
        ready = [r for r in pend if r[0] <= wm_us]
        pend = [r for r in pend if r[0] > wm_us]

        ring, out = _zscore_ring(
            key[0],
            ring,
            ((pd.Timestamp(ts_us * 1000), eid, v2) for ts_us, eid, v2 in ready),
            window,
        )
        state.update((
            [r[0] for r in pend], [r[1] for r in pend], [r[2] for r in pend],
            ring,
        ))
        if pend:
            # wake this key when the watermark passes its oldest pending
            # row, data or no data (must be strictly beyond the current
            # watermark per the EventTimeTimeout contract)
            state.setTimeoutTimestamp(
                max(pend[0][0] // 1000, state.getCurrentWatermarkMs() + 1)
            )
        yield out

    return events.withWatermark("ts", watermark).select(
        "event_type", "event_id", "ts", "value"
    ).groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=_ZSCORE_OUTPUT,
        stateStructType=(
            "pend_ts array<bigint>, pend_eid array<bigint>, "
            "pend_v2 array<bigint>, ring array<bigint>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_stream_to_memory(
    df: DataFrame, name: str, *, checkpoint: str, output_mode: str = "append"
):
    """Drive a streaming frame to a memory sink with availableNow (tests)."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_foreach_batch(
    df: DataFrame, body, *, checkpoint: str, cadence: str | None = None
):
    """Drive ``body(batch_df, batch_id)`` once per micro-batch of ``df``:
    every production sink below is one of the ``write_batch_*`` bodies,
    its extra arguments bound with ``functools.partial``.

    ``cadence=None`` drains what has landed and stops (``availableNow``,
    the catch-up run). A string is a ``processingTime`` interval, and the
    query keeps polling the source every interval: this is what consumes
    ``PipelineSpec.cadence`` ("120 seconds" for the ticker feed, "1 hour"
    for ratios/statements; SURVEY §1.1 maps the reference's cron
    schedules), the Structured Streaming replacement for the reference's
    Airflow ``schedule_interval``.
    """
    trigger = (
        {"availableNow": True} if cadence is None else {"processingTime": cadence}
    )
    return (
        df.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint)
        .trigger(**trigger)
        .start()
    )


# --------------------------------------------------------------------------
# Exactly-once append sink (fixes the reference's WRITE_APPEND replay bug)
# --------------------------------------------------------------------------
BATCH_COL = "_batch_id"


def write_batch_idempotent(df: DataFrame, batch_id: int, sink_dir: str) -> None:
    """One micro-batch → one sink partition, idempotently.

    The reference append-loads with ``WRITE_APPEND`` under ``retries: 2``
    (the reference's dags/stock_data_to_gcp.py:82,134): a task that wrote
    then failed before commit double-loads on retry. Here a replayed batch
    OVERWRITES its own ``_batch_id`` partition (dynamic partition
    overwrite touches only that partition), so write-then-crash-then-retry
    converges to exactly one copy. As a :func:`run_foreach_batch` body the
    checkpoint's offset log gives at-least-once batch delivery and this
    writer upgrades it to exactly-once table contents. At 100 TB dynamic
    overwrite rewrites a micro-batch's worth of files, never the table.
    """
    (
        df.withColumn(BATCH_COL, F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(sink_dir)
    )


def latest_batch_id(spark, sink_dir: str) -> int:
    """Highest landed ``_batch_id`` — the current snapshot version.
    Resolved from the partition listing (no data read: the scan projects
    only the partition column, so the job touches footers, not rows)."""
    row = (
        spark.read.parquet(sink_dir)
        .agg(F.max(BATCH_COL).alias("v"))
        .first()
    )
    if row is None or row.v is None:
        raise ValueError(f"no batches landed under {sink_dir}")
    return int(row.v)


def read_as_of(spark, sink_dir: str, batch_id: int) -> DataFrame:
    """Snapshot read of the idempotent sink AS OF ``batch_id`` — the
    reproducible-training-set primitive: a run that pins its snapshot
    version reads the same rows forever, no matter how many batches land
    after it (and no matter how often earlier batches are crash-replayed,
    because replays OVERWRITE their own partition — see
    :func:`write_batch_idempotent`).

    ``_batch_id`` is a PARTITION column, so the predicate resolves at
    planning time: the scan lists only partitions ≤ the snapshot
    (non-empty ``PartitionFilters``, asserted in tests). At 100 TB this
    is "read the first N micro-batches", never "scan and filter the
    table" — the same pruning contract as ``read_sink_day``. The
    returned frame drops the version column: consumers see the logical
    table, versioning stays a storage concern.
    """
    return (
        spark.read.parquet(sink_dir)
        .filter(F.col(BATCH_COL) <= F.lit(int(batch_id)))
        .drop(BATCH_COL)
    )


def write_batch_bars(ticks: DataFrame, batch_id: int, partials_dir: str) -> None:
    """foreachBatch body: continuously maintained OHLCV bars, exactly-once,
    no merge ledger.

    Each micro-batch is aggregated to PARTIAL bar states (mergeable
    argmin/argmax structs + count/sum — sources/maintenance.py::
    _ohlcv_partials) and landed in its own ``_batch_id`` partition via the
    idempotent writer: a replayed batch overwrites itself, so the partials
    table is exactly-once WITHOUT a processed-batch ledger — the
    merge-then-mark designs have a crash window between merge and mark
    that double-counts; landing idempotent partials and merging at READ
    (:func:`read_bars`) has none. Periodic compaction
    (sources/maintenance.py::compact) bounds the partition count; the
    read-side merge touches O(#bars × #batches-since-compaction) rows,
    never raw ticks.
    """
    from ..sources.maintenance import _ohlcv_partials

    write_batch_idempotent(_ohlcv_partials(ticks), batch_id, partials_dir)


def read_bars(spark: SparkSession, partials_dir: str) -> DataFrame:
    """Bar view over the streamed partials: merge states, extract O/C."""
    from ..sources.maintenance import merge_bar_partials

    merged = merge_bar_partials(
        spark.read.parquet(partials_dir).drop(BATCH_COL)
    )
    return merged.select(
        "event_type",
        "bar_date",
        F.col("open_p.v").alias("open"),
        "high",
        "low",
        F.col("close_p.v").alias("close"),
        "n_ticks",
        F.col("volume").cast("double").alias("volume"),
    )


# --------------------------------------------------------------------------
# Stream-stream join: watermarked purchase↔click attribution
# --------------------------------------------------------------------------
def attribute_purchases(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-STREAM inner join: each purchase paired with the same user's
    clicks in the preceding hour (the streaming twin of the B30 range
    join).

    Both sides carry watermarks so the state store can evict: a buffered
    click can only match purchases up to 1 h later, so once the purchase
    watermark passes click_ts + 1 h the click is dropped — state is
    bounded by (watermark window × arrival rate), never unbounded. The
    join condition carries BOTH the equi-key (shuffle partitioning) and
    the time range (state pruning).
    """
    c = (
        clicks.withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    p = purchases.withWatermark("ts", "2 hours").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    return p.join(
        c,
        F.expr(
            "c_user = user_id AND "
            "c_ts > ts - INTERVAL 1 HOUR AND c_ts <= ts"
        ),
        "inner",
    ).select("purchase_id", "click_id", "user_id", "ts", "c_ts")


# --------------------------------------------------------------------------
# Continuous corpus ingestion with cross-batch exact dedup
# --------------------------------------------------------------------------
def _read_sink(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet dataset at ``path``, or None while nothing has landed
    there: a missing directory (``PATH_NOT_FOUND``) or an empty one
    (``UNABLE_TO_INFER_SCHEMA``). Every other analysis error is raised —
    read as "first batch" it would skip dedup against a sink that does
    exist and permanently append duplicates. Callers select columns from
    the returned frame, outside this check."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def _exact_new(
    batch_df: DataFrame, sink: DataFrame | None, key: str = "doc_id"
) -> DataFrame:
    """The exact-dedup stage of the corpus sinks: one keeper per canonical
    fingerprint within the batch (min ``key``, deterministic, matching
    the batch dedup operators; one window over the fingerprint exchange),
    then a fingerprint anti-join against ``sink`` (None: nothing landed)."""
    from pyspark.sql import Window

    from ..operators.dedup import canonical_fingerprint

    w = Window.partitionBy("fingerprint").orderBy(key)
    batch = (
        batch_df.withColumn("fingerprint", canonical_fingerprint())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if sink is None:
        return batch
    return batch.join(sink.select("fingerprint"), "fingerprint", "left_anti")


def write_batch_deduped(
    batch_df: DataFrame, batch_id: int, sink_dir: str, *, key: str = "doc_id"
) -> None:
    """foreachBatch body: exact-dedup one micro-batch against itself AND
    against everything already ingested, then append the survivors.

    Why not streaming ``dropDuplicates``: cross-batch dedup state for a
    corpus is unbounded (every fingerprint ever seen, forever), which the
    state store must hold in executor memory/RocksDB and replay through
    checkpoints. Keeping the "state" in the sink table itself makes it
    exactly as durable as the data, costs one column-pruned scan of
    fingerprints per batch, and at 100 TB the sink is laid out by
    fingerprint prefix so the anti-join prunes to matching files. The
    anti-join also makes replays idempotent: a batch re-delivered after a
    mid-write crash finds its already-written rows in the sink and drops
    them — append-only convergence without a batch-id partition.

    Within-batch keeper is min(``key``) per fingerprint
    (:func:`_exact_new`).
    """
    sink = _read_sink(batch_df.sparkSession, sink_dir)
    _exact_new(batch_df, sink, key).write.mode("append").parquet(sink_dir)


# --------------------------------------------------------------------------
# Continuous corpus ingestion with cross-batch NEAR-dedup (MinHash/LSH)
# --------------------------------------------------------------------------
_LSH_INDEX_SCHEMA = "doc_id BIGINT, band INT, bucket BIGINT"


def write_batch_near_deduped(
    batch_df: DataFrame,
    batch_id: int,
    sink_dir: str,
    index_dir: str,
    *,
    threshold: float = 0.5,
) -> None:
    """foreachBatch body: land one micro-batch of documents with BOTH
    exact and near-duplicate suppression against the full ingest history.

    Stages (all lazily composed, two actions per batch):

    1. Exact pass — within-batch min-doc_id keeper per normalized
       fingerprint, then a fingerprint anti-join against the sink (this
       is also what makes crash-replays of the same batch idempotent:
       the near-dup probe alone cannot catch a replay because a pair
       needs two distinct doc_ids).
    2. Near pass — :func:`operators.dedup.probe_near_dup_batch` computes
       MinHash signatures for the BATCH ONLY and probes the append-only
       (doc_id, band, bucket) index table at ``index_dir``. Verified
       pairs feed connected components
       (:func:`operators.dedup.dedup_clusters`): a cluster touching any
       already-ingested doc drops all its new members (the corpus is
       append-only — first ingested wins); an all-new cluster keeps its
       min doc_id.
    3. Survivors' bucket rows append to the index FIRST, then survivors'
       rows append to the sink — dropped docs never pollute the index.
       Crash-safety of the two non-atomic appends: if the crash lands
       between them, replay re-runs the whole batch (the fingerprint
       anti-join removes nothing because the sink append never happened),
       the ghost index rows are inert during the re-run (a bucket
       collision needs two DISTINCT doc_ids), and the idempotent
       doc_id anti-join below skips re-appending them. The reverse order
       would lose the batch's index rows forever: replay's fingerprint
       anti-join would drop every row, so the index append would write
       nothing and future cross-batch near-dup recall against those docs
       would silently degrade.

    Scale: the corpus is never re-signatured — per batch the expensive
    shingle+min-agg pass touches only new docs; the probe is a
    bucket-keyed equi-join with the small batch side broadcast by AQE;
    cluster propagation runs on the (tiny) verified-pair graph. The
    "state" — fingerprints, texts, index — lives in the sink tables
    themselves, exactly as durable as the data, no streaming state store.
    """
    from pyspark.sql import Window

    from ..operators.dedup import dedup_clusters, probe_near_dup_batch

    spark = batch_df.sparkSession

    # -- 1. exact pass (within-batch + vs sink) ---------------------------
    corpus = _read_sink(spark, sink_dir)
    batch = _exact_new(batch_df, corpus)
    # CORRECTNESS, not just lineage-trimming: the sink-append below happens
    # between two actions that both consume `batch` (survivor write, then
    # index write). Without pinning, the second action would re-run the
    # fingerprint anti-join against the sink WE JUST APPENDED TO — every
    # batch row would vanish, emptying `drops` and letting dropped docs'
    # buckets into the index. The lazy localCheckpoint materializes on the
    # first action (dedup_clusters' internal counts, before any write), so
    # later actions replay the pinned pre-append snapshot. It also cuts
    # the re-evaluated window+anti-join lineage, but that's the bonus.
    batch = batch.localCheckpoint(eager=False)

    # -- 2. near pass (vs index + within batch) ---------------------------
    index = _read_sink(spark, index_dir)
    if index is None:
        index = spark.createDataFrame([], _LSH_INDEX_SCHEMA)
    texts = batch.select("doc_id", "text")
    if corpus is not None:
        texts = corpus.select("doc_id", "text").unionByName(texts)
    pairs, new_buckets = probe_near_dup_batch(
        batch, index, texts, threshold=threshold
    )
    new_ids = batch.select("doc_id")
    clustered = dedup_clusters(pairs)  # (doc_id, cluster_id) for paired docs
    cluster_has_old = (
        clustered.join(new_ids, "doc_id", "left_anti")
        .select("cluster_id")
        .distinct()
        .withColumn("_has_old", F.lit(True))
    )
    new_clustered = clustered.join(new_ids, "doc_id")  # new docs in any pair
    keeper = Window.partitionBy("cluster_id").orderBy("doc_id")
    drops = (
        new_clustered.join(cluster_has_old, "cluster_id", "left")
        .withColumn("_rn", F.row_number().over(keeper))
        .filter(F.col("_has_old").isNotNull() | (F.col("_rn") > 1))
        .select("doc_id")
    )
    survivors = batch.join(drops, "doc_id", "left_anti")

    # -- 3. append index rows, THEN survivors (crash-safe order) ----------
    # Index first: a crash before the sink append replays the batch, and
    # the doc_id anti-join vs the pre-append index snapshot makes the
    # index append idempotent (no duplicate bucket rows on replay).
    (
        new_buckets.join(drops, "doc_id", "left_anti")
        .join(index.select("doc_id").distinct(), "doc_id", "left_anti")
        .write.mode("append")
        .parquet(index_dir)
    )
    survivors.write.mode("append").parquet(sink_dir)
    new_buckets.unpersist()


# --------------------------------------------------------------------------
# Streaming ANN ingest: quote feed → feature vectors → incremental IVF index
# --------------------------------------------------------------------------
VECTOR_DIM = 64  # must equal the dimension of the index's corpus/centroids


def quotes_to_vectors(quotes: DataFrame, *, dim: int = VECTOR_DIM) -> DataFrame:
    """Deterministic feature embedding per quote row, all JVM-side — the
    stand-in for a real encoder at the stream→vector boundary (swap this
    for a Pandas-UDF model call; everything downstream is unchanged).
    ``dim`` MUST match the persisted index's centroid dimension —
    zip_with against a shorter vector null-pads and poisons every
    distance.

    vec_id is the content hash of (Ticker, batch_time) — stable across
    replays, which is what makes the sink's vec_id anti-join idempotent
    (a replayed batch re-derives the SAME ids and appends nothing; see
    append_ivf_batch). Components are per-dimension hashes scaled to
    [0, 1).
    """
    components = [
        (
            F.abs(F.xxhash64(F.col("symbol"), F.col("batch_time"), F.lit(i)))
            % 1_000_000
            / 1_000_000.0
        ).cast("float")
        for i in range(dim)
    ]
    return quotes.select(
        F.xxhash64(F.col("symbol"), F.col("batch_time")).alias("vec_id"),
        F.array(*components).alias("embedding"),
    )


def write_batch_ivf(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    *,
    skew_threshold: float = 4.0,
) -> None:
    """foreachBatch body: assign one micro-batch of vectors against the
    persisted (frozen) centroids, append to the cell-partitioned
    assignment table, then run the drift monitor and append one health
    row — ``retrain_needed`` flips when cell skew passes the threshold.
    Search jobs see the batch on their next index load: the streaming
    half of build-once-query-many.

    The monitor FLAGS retraining rather than performing it: retraining
    the coarse quantizer invalidates every existing assignment, so it is
    an offline operator action (operators/similarity.py::ivf_cell_stats);
    the flag is the automation hook. Driver-side state: one aggregated
    row per batch. The pre-append index load is SHARED by the dimension
    check and the idempotent append (no load inside append_ivf_batch);
    the monitor re-reads after the append because the parquet file
    listing is captured at read time and must include the new files.
    """
    from ..operators.similarity import (
        append_ivf_batch,
        ivf_cell_stats,
        load_ivf_index,
    )

    spark = batch_df.sparkSession
    index = load_ivf_index(spark, index_path)
    _, centers = index
    if centers:
        # fail FAST on a producer/index dimension mismatch: zip_with over
        # mismatched lengths null-pads, every distance goes NULL, and the
        # poisoned assignments would be appended permanently
        head = batch_df.select(F.size("embedding").alias("d")).first()
        if head is not None and head.d != len(centers[0]):
            raise ValueError(
                f"embedding dim {head.d} != index dim {len(centers[0])}; "
                "refusing to append poisoned assignments"
            )
    append_ivf_batch(spark, batch_df, index_path, index=index)
    assigned, _ = load_ivf_index(spark, index_path)
    agg = (
        # denominator = CONFIGURED cells: collapse into one hot cell must
        # read as skew == n_cells, not as a balanced single-cell index
        ivf_cell_stats(assigned, n_cells=len(centers))
        .agg(
            F.max("skew").alias("max_skew"),
            F.sum("n_vectors").alias("n_vectors"),
        )
        .collect()[0]
    )
    # empty index + empty batch: a zero-row health record, not a TypeError
    n_vectors = int(agg.n_vectors) if agg.n_vectors is not None else 0
    max_skew = float(agg.max_skew) if agg.max_skew is not None else 0.0
    spark.createDataFrame(
        [
            (
                int(batch_id),
                n_vectors,
                max_skew,
                bool(max_skew > skew_threshold),
            )
        ],
        "batch_id BIGINT, n_vectors BIGINT, max_skew DOUBLE,"
        " retrain_needed BOOLEAN",
    ).coalesce(1).write.mode("append").parquet(f"{index_path}/health")


# --------------------------------------------------------------------------
# Stream-static point-in-time enrichment (B85's serving half)
# --------------------------------------------------------------------------
def enrich_point_in_time(stream: DataFrame, history: DataFrame) -> DataFrame:
    """Live facts joined to the dimension version valid AT EVENT TIME —
    the serving twin of b85_point_in_time (the feature-store pattern:
    the same point-in-time semantics in training backfill and online
    enrichment, so features never skew between the two).

    ``history`` is the SCD2 interval table (entity key + attributes +
    valid_from/valid_to); it is dimension-sized, so the stream-static
    join broadcasts it and the interval predicate filters per event.
    Equality with the batch b85 rows across micro-batches is asserted in
    tests/test_streaming.py.

    valid_to convention: BOTH conventions are accepted — a closed upper
    bound (b54-style islands history) and ``valid_to IS NULL`` on the
    open current row (``scd2_apply``-maintained histories). An event in
    the current version window matches via the ``IS NULL`` arm; without
    it every such event would evaluate NULL and be silently dropped.
    """
    h = history.select(
        F.col("user_id").alias("h_user_id"),
        "tier",
        "version",
        "valid_from",
        "valid_to",
    )
    return (
        stream.filter(F.col("event_type") == "purchase")
        .join(
            F.broadcast(h),
            (F.col("user_id") == F.col("h_user_id"))
            & (F.date_trunc("day", F.col("ts")) >= F.col("valid_from"))
            & (
                F.col("valid_to").isNull()
                | (F.date_trunc("day", F.col("ts")) <= F.col("valid_to"))
            ),
        )
        .select("event_id", "user_id", "tier", "version")
    )


# --------------------------------------------------------------------------
# Streaming corpus prep: gate → dedup (cross-batch exact) → split, per batch
# --------------------------------------------------------------------------
def write_batch_prepped(
    batch_df: DataFrame,
    batch_id: int,
    sink_dir: str,
    *,
    min_tokens: int | None = None,
    min_quality: float | None = None,
) -> None:
    """foreachBatch body: the c09_prep_pipeline chain applied to one
    micro-batch, extended with CROSS-BATCH exact dedup — the continuous
    form of corpus preparation (each arriving crawl slice is scored,
    gated, deduplicated against everything already landed, and split,
    so the prepped corpus is always ready to train on).

    Cross-batch semantics: a fingerprint anti-join against the sink's
    PRIOR batches (the current ``_batch_id`` partition is excluded from
    the reference set, so a crash-replay that overwrites its own
    partition does not anti-join itself into an empty batch — the
    replay-self-erasure trap). First landed wins, matching the batch
    pipeline's min-doc_id keeper within a batch.
    """
    from ..operators.sampling import prep_pipeline

    kwargs = {}
    if min_tokens is not None:
        kwargs["min_tokens"] = min_tokens
    if min_quality is not None:
        kwargs["min_quality"] = min_quality
    prepped = prep_pipeline(batch_df, **kwargs)
    sink = _read_sink(batch_df.sparkSession, sink_dir)
    if sink is not None:
        prior = (
            sink.filter(F.col(BATCH_COL) != batch_id)
            .select("fingerprint")
            .distinct()
        )
        prepped = prepped.join(prior, "fingerprint", "left_anti")
    write_batch_idempotent(prepped, batch_id, sink_dir)
