"""Tier A pipeline tests: ingest → quarantine → append → rerun-dedup.

Models the reference's operational semantics (SURVEY.md §5.5): exact sink
schemas, per-row error tolerance, append-only accumulation, retry-replay
repair — with deterministic synthetic fetchers (never the network).
"""

from __future__ import annotations

from datetime import datetime

import pytest

from stock_data_pipeline_spark.pipelines.ingest import (
    NEWS_SPEC,
    RATIO_SPEC,
    TICKER_SPEC,
    IngestPipeline,
    enforce_schema,
)
from stock_data_pipeline_spark.schemas import SINK_SCHEMAS
from stock_data_pipeline_spark.sources.fetch import synthetic_quote_fetcher
from stock_data_pipeline_spark.sources.seed import BAD_TICKERS, seed_table

T0 = datetime(2024, 3, 1, 9, 30, 0)
T1 = datetime(2024, 3, 1, 9, 32, 0)

SYMBOLS = [f"SYM{i:03d}" for i in range(40)] + list(BAD_TICKERS)
FAILING = frozenset({"SYM003", "SYM017"})


@pytest.fixture()
def pipeline(tmp_path):
    return IngestPipeline(
        TICKER_SPEC,
        str(tmp_path),
        fetcher=synthetic_quote_fetcher(TICKER_SPEC.fields, fail_symbols=FAILING),
        symbols=SYMBOLS,
    )


def test_seed_filters_bad_tickers(spark):
    seeded = seed_table(spark, SYMBOLS)
    symbols = {r.Symbol for r in seeded.collect()}
    assert symbols.isdisjoint(BAD_TICKERS)
    assert len(symbols) == 40


def test_batch_metrics_and_quarantine(spark, pipeline):
    metrics = pipeline.run_batch(spark, T0)
    assert metrics.n_fetched == 40
    assert metrics.n_quarantined == 2
    assert metrics.n_ok == 38

    sink = pipeline.read_sink(spark)
    assert sink.count() == 38
    quarantined = pipeline.read_quarantine(spark)
    rows = quarantined.collect()
    assert {r.Ticker for r in rows} == set(FAILING)
    assert all("ConnectionError" in r.fetch_error for r in rows)


def test_fetch_fans_out_one_task_per_slot(spark, tmp_path):
    """A clean batch writes one ok file per fetch task, and fetch runs on
    the seed frame's own partitions: one per task slot, capped by the
    symbol count. A fixed ``repartition(8)`` before the fetch wrote 8
    files here, so this fails on every session but an 8-slot one."""
    import glob
    import os

    p = IngestPipeline(
        TICKER_SPEC,
        str(tmp_path),
        fetcher=synthetic_quote_fetcher(TICKER_SPEC.fields),
        symbols=SYMBOLS[:40],  # no bad tickers: no slice filters to empty
    )
    metrics = p.run_batch(spark, T0)
    assert (metrics.n_ok, metrics.n_quarantined) == (40, 0)
    day_dir = f"{p.sink_path}/ingest_date={T0.date().isoformat()}"
    files = glob.glob(f"{day_dir}/*.parquet")
    assert len(files) == min(40, spark.sparkContext.defaultParallelism)
    assert not os.path.exists(p.quarantine_path)


def test_sink_schema_matches_reference_declaration(spark, pipeline):
    pipeline.run_batch(spark, T0)
    got = pipeline.read_sink(spark).schema
    assert got == SINK_SCHEMAS["ticker_data"]


def test_append_accumulates_batches(spark, pipeline):
    pipeline.run_batch(spark, T0)
    pipeline.run_batch(spark, T1)
    sink = pipeline.read_sink(spark)
    assert sink.count() == 76
    times = {r.Time for r in sink.select("Time").distinct().collect()}
    assert times == {T0, T1}


def test_rerun_replay_is_repaired_by_dedup(spark, pipeline):
    pipeline.run_batch(spark, T0)
    pipeline.run_batch(spark, T0)  # the retry double-append
    assert pipeline.read_sink(spark).count() == 76
    deduped = pipeline.read_sink_deduped(spark)
    assert deduped.count() == 38  # natural key (Time, Ticker) wins


def test_fetch_determinism_across_runs(spark, tmp_path):
    p1 = IngestPipeline(TICKER_SPEC, str(tmp_path / "a"), symbols=SYMBOLS)
    p2 = IngestPipeline(TICKER_SPEC, str(tmp_path / "b"), symbols=SYMBOLS)
    p1.run_batch(spark, T0)
    p2.run_batch(spark, T0)
    a = {tuple(r) for r in p1.read_sink(spark).collect()}
    b = {tuple(r) for r in p2.read_sink(spark).collect()}
    assert a == b


def test_null_fields_survive_to_sink(spark, tmp_path):
    p = IngestPipeline(RATIO_SPEC, str(tmp_path), symbols=SYMBOLS)
    p.run_batch(spark, T0)
    sink = p.read_sink(spark)
    # synthetic fetcher nulls ~2% of fields — with 40×6 values some nulls
    # must exist, and the sink schema keeps them (all-NULLABLE semantics).
    n_nulls = sum(
        sink.filter(sink[f].isNull()).count() for f in RATIO_SPEC.fields
    )
    assert n_nulls > 0


def test_news_pipeline_one_row_per_headline(spark, tmp_path):
    p = IngestPipeline(NEWS_SPEC, str(tmp_path), symbols=SYMBOLS[:10])
    metrics = p.run_batch(spark, T0)
    sink = p.read_sink(spark)
    assert metrics.n_quarantined == 0
    assert sink.count() == metrics.n_ok
    per_ticker = sink.groupBy("Ticker").count().collect()
    assert all(1 <= r["count"] <= 5 for r in per_ticker)
    assert sink.schema == SINK_SCHEMAS["news_data"]


def test_enforce_schema_rejects_wrong_columns(spark):
    df = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError, match="schema mismatch"):
        enforce_schema(df, SINK_SCHEMAS["ticker_data"])


def test_sink_read_prunes_date_partitions(spark, pipeline):
    """The ingest_date partition layout must turn date filters into
    PartitionFilters (directory pruning) — at a 2-minute cadence over
    years of history this is the difference between scanning one day and
    scanning the lake."""
    from datetime import datetime

    import pyspark.sql.functions as F

    pipeline.run_batch(spark, datetime(2024, 3, 1, 9, 30))
    pipeline.run_batch(spark, datetime(2024, 3, 2, 9, 30))
    df = spark.read.parquet(pipeline.sink_path).filter(
        F.col("ingest_date") == "2024-03-01"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "ingest_date" in plan.split("PartitionFilters: [", 1)[1].split("]")[0]
    days = {r.ingest_date.isoformat() for r in df.select("ingest_date").distinct().collect()}
    assert days == {"2024-03-01"}


def test_retry_then_alert_on_batch_failure(spark, tmp_path):
    """Whole-batch failures retry (reference: retries=2) and fire the
    alert hook exactly once with the final exception; a healthy batch
    never alerts."""
    from stock_data_pipeline_spark.pipelines.ingest import PipelineSpec

    # a spec whose sink schema doesn't exist fails every attempt
    broken = IngestPipeline(
        PipelineSpec("no_such_table", "1 hour"),
        str(tmp_path),
        fetcher=synthetic_quote_fetcher(("Price",)),
        symbols=SYMBOLS[:5],
    )
    alerts, retries = [], []
    with pytest.raises(KeyError):
        broken.run_batch_with_retry(
            spark,
            T0,
            retries=2,
            on_failure=lambda exc, name, t: alerts.append((type(exc).__name__, name, t)),
            on_retry=lambda attempt, exc: retries.append(attempt),
        )
    assert retries == [0, 1]           # two retries observed
    assert alerts == [("KeyError", "no_such_table", T0)]  # one final alert

    healthy = IngestPipeline(
        TICKER_SPEC,
        str(tmp_path / "ok"),
        fetcher=synthetic_quote_fetcher(TICKER_SPEC.fields),
        symbols=SYMBOLS[:5],
    )
    ok_alerts = []
    m = healthy.run_batch_with_retry(
        spark, T0, on_failure=lambda *a: ok_alerts.append(a)
    )
    assert m.n_ok == 5 and ok_alerts == []


def test_transient_failure_recovers_within_retries(spark, tmp_path):
    """A fetcher whose whole batch fails once then succeeds must recover
    on retry with no alert."""
    # per-row tolerance catches fetcher exceptions into quarantine, so a
    # whole-batch failure needs the sink to break instead: simulate by
    # making the first attempt's sink root an existing FILE
    sink_root = tmp_path / "sink"
    p = IngestPipeline(
        TICKER_SPEC,
        str(sink_root),
        fetcher=synthetic_quote_fetcher(TICKER_SPEC.fields),
        symbols=SYMBOLS[:5],
    )
    blocker = sink_root / TICKER_SPEC.name
    sink_root.mkdir()
    blocker.write_text("not a directory")  # first attempt fails to write

    attempts = []

    def on_retry(attempt, exc):
        attempts.append(attempt)
        blocker.unlink()  # outage clears before the retry

    alerts = []
    m = p.run_batch_with_retry(
        spark, T0, retries=2,
        on_failure=lambda *a: alerts.append(a), on_retry=on_retry,
    )
    assert m.n_ok == 5
    assert attempts == [0]
    assert alerts == []


def test_fetch_schema_is_sink_schema_plus_error_for_every_spec(spark, tmp_path):
    """Every spec's fetch output is its sink schema plus ``fetch_error``
    (names and types), and running a batch leaves the shared sink schemas
    untouched — building the fetch schema by appending to a sink schema's
    field list would add ``fetch_error`` to the sink table itself."""
    import copy

    from pyspark.sql import types as T

    from stock_data_pipeline_spark.pipelines.ingest import STATEMENT_SPEC
    from stock_data_pipeline_spark.sources.fetch import fetch_batch

    before = copy.deepcopy(SINK_SCHEMAS)
    for spec in (TICKER_SPEC, RATIO_SPEC, STATEMENT_SPEC, NEWS_SPEC):
        p = IngestPipeline(spec, str(tmp_path), symbols=SYMBOLS[:5])
        got = fetch_batch(seed_table(spark, SYMBOLS[:5]), p.fetcher, spec.schema, T0)
        want = [*SINK_SCHEMAS[spec.name].fields, T.StructField("fetch_error", T.StringType())]
        assert [(f.name, f.dataType) for f in got.schema.fields] == [
            (f.name, f.dataType) for f in want
        ], spec.name
        p.run_batch(spark, T0)
        assert SINK_SCHEMAS == before, spec.name


def test_sink_reads_survive_an_outage_batch(spark, tmp_path):
    """A batch in which every symbol fails writes no sink data file;
    the sink reads then return no rows instead of failing to infer a
    schema from an empty directory."""
    p = IngestPipeline(
        TICKER_SPEC,
        str(tmp_path),
        fetcher=synthetic_quote_fetcher(TICKER_SPEC.fields, fail_symbols=frozenset(SYMBOLS)),
        symbols=SYMBOLS[:5],
    )
    metrics = p.run_batch(spark, T0)
    assert (metrics.n_ok, metrics.n_quarantined) == (0, 5)
    deduped = p.read_sink_deduped(spark)
    assert deduped.schema == SINK_SCHEMAS["ticker_data"]
    assert deduped.count() == 0
    assert p.read_sink_day(spark, T0.date().isoformat()).count() == 0
    assert p.read_quarantine_deduped(spark).count() == 5


def test_quarantine_reads_empty_on_a_healthy_pipeline(spark, tmp_path):
    """Clean batches skip the quarantine write, so its directory never
    exists; reading it yields an empty frame of the quarantine schema."""
    p = IngestPipeline(TICKER_SPEC, str(tmp_path), symbols=SYMBOLS[:5])
    assert p.run_batch(spark, T0).n_quarantined == 0
    q = p.read_quarantine_deduped(spark)
    assert q.columns == [*SINK_SCHEMAS["ticker_data"].names, "fetch_error"]
    assert q.count() == 0


def test_backfill_day_accepts_sink_frames_and_rejects_empty(spark, tmp_path):
    """The documented read->fix->write repair flow must work with
    read_sink_day output verbatim (ingest_date is recomputed), and an
    empty repair frame must FAIL LOUDLY instead of silently leaving the
    bad day in place (dynamic overwrite of zero partitions deletes
    nothing)."""
    import pytest as _pytest

    from stock_data_pipeline_spark.pipelines.ingest import (
        TICKER_SPEC,
        IngestPipeline,
    )

    p = IngestPipeline(TICKER_SPEC, str(tmp_path), symbols=SYMBOLS[:5])
    p.run_batch(spark, datetime(2024, 3, 2, 9, 30))
    day = "2024-03-02"

    from pyspark.sql import functions as F

    fixed = p.read_sink_day(spark, day).withColumn(
        "Price", F.col("Price") * 0 + 1.0
    )
    p.backfill_day(fixed, day)  # ingest_date column accepted, not rejected
    assert {r.Price for r in p.read_sink_day(spark, day).collect()} == {1.0}

    with _pytest.raises(ValueError, match="no rows"):
        p.backfill_day(fixed.filter(F.lit(False)), day)


def test_retry_negative_retries_rejected(spark):
    from stock_data_pipeline_spark.pipelines.ingest import (
        TICKER_SPEC,
        IngestPipeline,
    )

    p = IngestPipeline(TICKER_SPEC, "/tmp/never-used", symbols=SYMBOLS[:2])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="retries"):
        p.run_batch_with_retry(spark, datetime(2024, 1, 2), retries=-1)
