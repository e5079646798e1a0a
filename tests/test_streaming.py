"""Structured Streaming tests (SURVEY.md §2 B17-B19, §5.4).

Deterministic pattern: file source + ``trigger(availableNow=True)`` + memory
sink; the stream drains synchronously and results compare against the batch
formulation of the same transformation (unified semantics).
"""

from __future__ import annotations

import shutil
from functools import partial

import pytest

from pyspark.sql import functions as F

from stock_data_pipeline_spark.catalog import load, table_path
from stock_data_pipeline_spark.streaming.jobs import (
    dedup_replayed,
    hourly_window_agg,
    read_event_stream,
    run_stream_to_memory,
    sessionize,
    stream_session_agg,
)


def _drain(query):
    query.awaitTermination(300)
    assert not query.isActive


@pytest.fixture()
def events_dir(sf_dir, tmp_path):
    """Landing directory holding one events parquet file."""
    src = tmp_path / "events_landing"
    src.mkdir()
    shutil.copy(table_path(sf_dir, "events"), src / "batch0.parquet")
    return str(src)


def test_streaming_hourly_agg_equals_batch(spark, sf_dir, events_dir, tmp_path):
    stream = read_event_stream(spark, events_dir)
    agg = hourly_window_agg(stream, watermark="10 minutes")
    q = run_stream_to_memory(
        agg, "hourly_out", checkpoint=str(tmp_path / "ckpt"), output_mode="append"
    )
    _drain(q)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM hourly_out").collect()
    }
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in hourly_window_agg(load(spark, sf_dir, "events")).collect()
    }
    # availableNow + watermark: every window closed by the final watermark
    # must match batch exactly; unemitted tail windows are the only gap.
    assert got
    for key, val in got.items():
        assert expected[key] == val
    emitted_ratio = len(got) / len(expected)
    assert emitted_ratio > 0.9


def test_streaming_dedup_replay(spark, sf_dir, tmp_path):
    # Two identical files → two micro-batches, the second a full replay
    # (the reference's retry double-append, stock_data_to_gcp.py:82,134).
    src = tmp_path / "stream_src"
    src.mkdir()
    shutil.copy(table_path(sf_dir, "events"), src / "batch0.parquet")
    shutil.copy(table_path(sf_dir, "events"), src / "batch1.parquet")

    from pyspark.sql import functions as F  # noqa: F811
    from stock_data_pipeline_spark.streaming.jobs import EVENTS_RAW_SCHEMA

    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    events = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    deduped = dedup_replayed(events, watermark="1 minute")
    q = run_stream_to_memory(
        deduped, "dedup_out", checkpoint=str(tmp_path / "ckpt2")
    )
    _drain(q)
    n_out = spark.sql("SELECT COUNT(*) AS n FROM dedup_out").collect()[0].n
    n_distinct = (
        load(spark, sf_dir, "events").select("event_id").distinct().count()
    )
    assert n_out == n_distinct


def test_streaming_session_window_subset_of_batch(spark, sf_dir, events_dir, tmp_path):
    stream = read_event_stream(spark, events_dir)
    sessions = stream_session_agg(stream, gap="30 minutes")
    q = run_stream_to_memory(
        sessions, "sessions_out", checkpoint=str(tmp_path / "ckpt3")
    )
    _drain(q)
    emitted = spark.sql("SELECT * FROM sessions_out").collect()
    assert emitted
    batch = {
        (r.user_id, r.session_start): r.n_events
        for r in sessionize(load(spark, sf_dir, "events"), gap_minutes=30).collect()
    }
    # Every emitted (closed) session must exist in the batch formulation
    # with identical membership count — the two definitions agree.
    for r in emitted:
        assert batch[(r.user_id, r.session_start)] == r.n_events


def test_stateful_running_ema_across_restarts(spark, sf_dir, tmp_path):
    """Custom stateful operator: EMA state must carry across micro-batches
    AND across query restarts (checkpoint recovery), and the final per-key
    value must equal the batch EMA over the full history."""
    from stock_data_pipeline_spark.operators.timeseries import with_indicators
    from stock_data_pipeline_spark.streaming.jobs import stream_running_ema

    events = load(spark, sf_dir, "events")
    median_us = events.select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    ).approxQuantile("us", [0.5], 0.0)[0]
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    src = tmp_path / "ema_src"
    src.mkdir()
    ckpt = str(tmp_path / "ema_ckpt")

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.select(
            "event_id",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        ).coalesce(1).write.parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.suffix == ".parquet")
        shutil.copy(part, src / f"{name}.parquet")

    out = str(tmp_path / "ema_out")

    def run_once():
        # foreachBatch sink: supports checkpoint recovery (memory does not).
        q = (
            stream_running_ema(read_event_stream(spark, str(src)))
            .writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)

    # Run 1: first half of the stream by event time, to completion.
    land(events.filter(ts_us <= median_us), "b0")
    run_once()
    # Run 2: land the second half, restart from the SAME checkpoint —
    # state must resume from the first run, not reset.
    land(events.filter(ts_us > median_us), "b1")
    run_once()

    # Latest snapshot per user across all emitted micro-batch outputs
    # (n_events strictly increases per key).
    snapshots = spark.read.parquet(out)
    snapshots.createOrReplaceTempView("ema_snapshots")
    final = {
        r.user_id: (r.n_events, r.ema)
        for r in spark.sql(
            """SELECT user_id, n_events, ema FROM (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY n_events DESC) rn
                 FROM ema_snapshots) WHERE rn = 1"""
        ).collect()
    }
    want = {
        r.user_id: (r.n, r.ema)
        for r in with_indicators(events)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.max_by("ema", "ts").alias("ema"))
        .collect()
    }
    assert set(final) == set(want)
    for uid, (n, ema) in want.items():
        assert final[uid][0] == n
        assert final[uid][1] == pytest.approx(ema, rel=1e-9)


def test_stream_static_enrichment_equals_batch(spark, sf_dir, events_dir, tmp_path):
    """Stream-static broadcast join: streamed result == batch left join,
    including stream rows with no dimension match (null columns kept)."""
    from stock_data_pipeline_spark.streaming.jobs import enrich_stream

    dim = (
        load(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .filter(F.col("user_id") % 2 == 0)  # half the keys unmatched
        .withColumn("segment", F.concat(F.lit("seg-"), F.col("user_id") % 3))
    )
    stream = read_event_stream(spark, events_dir)
    q = run_stream_to_memory(
        enrich_stream(stream, dim, "user_id"),
        "enriched_out",
        checkpoint=str(tmp_path / "ckpt_enrich"),
    )
    _drain(q)
    got = {
        (r.event_id): (r.user_id, r.segment)
        for r in spark.sql("SELECT * FROM enriched_out").collect()
    }
    batch = load(spark, sf_dir, "events")
    want = {
        (r.event_id): (r.user_id, r.segment)
        for r in enrich_stream(batch, dim, "user_id").collect()
    }
    assert got == want
    assert any(v[1] is None for v in want.values())  # unmatched rows kept


def test_csv_roundtrip_with_declared_schema(spark, sf_dir, tmp_path):
    """A8/A9: CSV sink + scan with an explicit schema (never inferred)
    round-trips the orders table losslessly."""
    orders = load(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_csv")
    orders.write.option("header", True).csv(path)
    back = spark.read.schema(orders.schema).option("header", True).csv(path)
    assert back.schema == orders.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, orders.collect())
    )


def test_stream_is_incremental_not_batch(spark, sf_dir, events_dir):
    stream = read_event_stream(spark, events_dir)
    assert stream.isStreaming
    agg = hourly_window_agg(stream, watermark="10 minutes")
    assert agg.isStreaming


def test_idempotent_sink_survives_batch_replay(spark, tmp_path):
    """Replaying a batch (crash-after-write, retry before checkpoint
    commit) must not double-load — the reference's WRITE_APPEND+retries
    defect, fixed by per-batch dynamic partition overwrite."""
    from stock_data_pipeline_spark.streaming.jobs import (
        BATCH_COL,
        write_batch_idempotent,
    )

    sink = str(tmp_path / "sink")
    batch = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
    write_batch_idempotent(batch, 7, sink)
    write_batch_idempotent(batch, 7, sink)  # the retry
    out = spark.read.parquet(sink)
    assert out.count() == 100
    assert out.select(BATCH_COL).distinct().collect()[0][0] == 7
    # a different batch id APPENDS (new partition), never clobbers
    write_batch_idempotent(spark.range(100, 150).selectExpr("id", "id*2 AS v"), 8, sink)
    assert spark.read.parquet(sink).count() == 150


def test_stream_to_parquet_incremental_batches(spark, tmp_path):
    """File-source stream → idempotent parquet sink: each new landed file
    becomes a batch; totals are exactly-once across restarts."""
    import shutil

    from stock_data_pipeline_spark.catalog import load
    from stock_data_pipeline_spark.streaming.jobs import (
        read_event_stream,
        run_foreach_batch,
        write_batch_idempotent,
    )

    land = tmp_path / "landing"; land.mkdir()
    sink = str(tmp_path / "sink"); ckpt = str(tmp_path / "ckpt")
    shutil.copy("/root/testdata/sf0.001/events.parquet", land / "drop1.parquet")
    n1 = spark.read.parquet(str(land / "drop1.parquet")).count()

    stream = read_event_stream(spark, str(land))
    q = run_foreach_batch(
        stream, partial(write_batch_idempotent, sink_dir=sink), checkpoint=ckpt
    )
    q.awaitTermination(120)
    assert spark.read.parquet(sink).drop("_batch_id").count() == n1

    # second landing + RESTARTED query (same checkpoint): only the new
    # file is processed, totals stay exactly-once
    shutil.copy("/root/testdata/sf0.001/events.parquet", land / "drop2.parquet")
    stream2 = read_event_stream(spark, str(land))
    q2 = run_foreach_batch(
        stream2, partial(write_batch_idempotent, sink_dir=sink), checkpoint=ckpt
    )
    q2.awaitTermination(120)
    out = spark.read.parquet(sink)
    assert out.count() == 2 * n1
    assert out.select("_batch_id").distinct().count() == 2


def test_stream_stream_join_matches_batch_range_join(spark, tmp_path):
    """Watermarked stream-stream purchase↔click attribution must emit
    exactly the pairs the batch range join finds."""
    import shutil

    from pyspark.sql import functions as F

    from stock_data_pipeline_spark.catalog import load
    from stock_data_pipeline_spark.streaming.jobs import (
        attribute_purchases,
        read_event_stream,
        run_stream_to_memory,
    )

    land = tmp_path / "landing"; land.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", land / "e.parquet")

    stream = read_event_stream(spark, str(land))
    joined = attribute_purchases(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
    )
    q = run_stream_to_memory(
        joined, "ss_attr", checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = {
        (r.purchase_id, r.click_id)
        for r in spark.sql("SELECT * FROM ss_attr").collect()
    }

    ev = load(spark, "/root/testdata/sf0.001", "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    want = {
        (r.purchase_id, r.click_id)
        for r in p.join(
            c,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("c_ts") > F.col("ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") <= F.col("ts")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_dedup_ingest_across_batches_and_replay(spark, tmp_path):
    """Cross-batch exact dedup through the sink: overlapping document
    batches land exactly once, and a replayed foreachBatch call appends
    nothing (idempotence without a batch-id partition)."""
    from stock_data_pipeline_spark.streaming.jobs import (
        run_foreach_batch,
        write_batch_deduped,
    )

    landing = tmp_path / "docs_landing"
    landing.mkdir()
    sink = str(tmp_path / "corpus_sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "alpha  beta gamma ")],
        schema,
    )  # doc 3 is a whitespace-variant dup of doc 1
    b1.coalesce(1).write.parquet(str(landing / "b1"))
    stream = spark.readStream.schema(schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(landing))
    q = run_foreach_batch(
        stream, partial(write_batch_deduped, sink_dir=sink), checkpoint=ckpt
    )
    q.awaitTermination(300)

    first = spark.read.parquet(sink).collect()
    assert sorted(r.doc_id for r in first) == [1, 2]  # min-doc_id keeper

    b2 = spark.createDataFrame(
        [(4, "delta epsilon"), (5, "zeta eta theta")], schema
    )  # doc 4 duplicates doc 2 from the PREVIOUS batch
    b2.coalesce(1).write.parquet(str(landing / "b2"))
    q = run_foreach_batch(
        stream, partial(write_batch_deduped, sink_dir=sink), checkpoint=ckpt
    )
    q.awaitTermination(300)

    rows = spark.read.parquet(sink).collect()
    assert sorted(r.doc_id for r in rows) == [1, 2, 5]
    fps = [r.fingerprint for r in rows]
    assert len(fps) == len(set(fps))

    # Replay: re-delivering batch 2 appends nothing.
    write_batch_deduped(b2, 99, sink)
    assert sorted(
        r.doc_id for r in spark.read.parquet(sink).collect()
    ) == [1, 2, 5]


@pytest.mark.parametrize("body", ["deduped", "prepped", "near_deduped"])
def test_sink_without_fingerprint_raises(spark, sf_dir, tmp_path, body):
    """A sink that exists but cannot be deduped against (no
    ``fingerprint`` column) must fail the batch. Read as "first batch",
    it would append every doc with no dedup at all."""
    from pyspark.errors import AnalysisException

    from stock_data_pipeline_spark.streaming.jobs import (
        write_batch_deduped,
        write_batch_idempotent,
        write_batch_near_deduped,
        write_batch_prepped,
    )

    write = {
        "deduped": write_batch_deduped,
        "prepped": write_batch_prepped,
        "near_deduped": partial(
            write_batch_near_deduped, index_dir=str(tmp_path / "index")
        ),
    }[body]
    docs = load(spark, sf_dir, "documents").limit(5)
    sink = str(tmp_path / "sink")
    write_batch_idempotent(docs.select("doc_id", "text"), 0, sink)
    with pytest.raises(AnalysisException, match="fingerprint"):
        write(docs, 1, sink)
    assert spark.read.parquet(sink).count() == 5  # nothing appended


def test_empty_sink_dir_reads_as_first_batch(spark, tmp_path):
    """An empty sink directory (created, nothing landed yet) is the one
    error besides a missing directory that means "no sink yet"."""
    from stock_data_pipeline_spark.streaming.jobs import write_batch_deduped

    sink = tmp_path / "sink"
    sink.mkdir()
    write_batch_deduped(_mk_docs(spark, [(1, "a b"), (2, "a  b")]), 0, str(sink))
    assert [r.doc_id for r in spark.read.parquet(str(sink)).collect()] == [1]


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_near_dedup_ingest_cross_batch(spark, tmp_path):
    """Continuous corpus ingestion with exact AND near-dup suppression:
    cross-batch near-dups drop, within-batch clusters keep min doc_id,
    exact replays are idempotent, dropped docs never enter the index."""
    from stock_data_pipeline_spark.streaming.jobs import write_batch_near_deduped

    sink = str(tmp_path / "corpus")
    index = str(tmp_path / "lsh_index")

    base = ("spark shuffle partition broadcast join window aggregate "
            "column row schema parquet bucket sort merge hash " * 4)
    b1 = [
        (1, base + "alpha bravo charlie"),
        (2, "totally different tiny text about nothing in particular "
            "with many unique words one two three four five six seven " * 3),
        (3, "third document body with its own distinct vocabulary "
            "lorem ipsum dolor sit amet consectetur adipiscing elit " * 3),
    ]
    write_batch_near_deduped(_mk_docs(spark, b1), 0, sink, index)
    assert {r.doc_id for r in spark.read.parquet(sink).collect()} == {1, 2, 3}

    b2 = [
        (10, base + "alpha bravo delta"),              # near-dup of doc 1 -> drop
        (11, "genuinely novel content nowhere else present foo bar baz "
             "qux quux corge grault garply waldo fred plugh xyzzy " * 3),  # keep
        (12, "twin texts example same words repeated here exactly "
             "november oscar papa quebec romeo sierra tango uniform " * 3),  # keep (min of 12/13)
        (13, "twin texts example same words repeated here exactly "
             "november oscar papa quebec romeo sierra tango whiskey " * 3),  # near-dup of 12 -> drop
        (14, b1[1][1]),                                # exact copy of doc 2 -> drop
    ]
    write_batch_near_deduped(_mk_docs(spark, b2), 1, sink, index)
    got = {r.doc_id for r in spark.read.parquet(sink).collect()}
    assert got == {1, 2, 3, 11, 12}

    # dropped docs must not pollute the index
    idx_ids = {r.doc_id for r in spark.read.parquet(index).select("doc_id").distinct().collect()}
    assert idx_ids == {1, 2, 3, 11, 12}

    # replaying batch 2 (crash-retry) adds nothing: exact pass catches it
    write_batch_near_deduped(_mk_docs(spark, b2), 1, sink, index)
    assert {r.doc_id for r in spark.read.parquet(sink).collect()} == {1, 2, 3, 11, 12}


def test_near_dedup_ingest_streaming_wiring(spark, tmp_path):
    """write_batch_near_deduped under run_foreach_batch drains a
    file-source landing zone with availableNow and produces the
    near-deduped corpus + index."""
    from stock_data_pipeline_spark.streaming.jobs import (
        run_foreach_batch,
        write_batch_near_deduped,
    )

    land = tmp_path / "landing"; land.mkdir()
    doc_text = ("streaming ingest corpus document with enough words to "
                "shingle properly alpha bravo charlie delta echo foxtrot " * 3)
    _mk_docs(spark, [(1, doc_text), (2, doc_text + " tail variation golf")]).coalesce(1)\
        .write.parquet(str(tmp_path / "stage"))
    import shutil
    part = next(p for p in (tmp_path / "stage").iterdir() if p.suffix == ".parquet")
    shutil.copy(part, land / "b0.parquet")

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(land))
    q = run_foreach_batch(
        stream,
        partial(
            write_batch_near_deduped,
            sink_dir=str(tmp_path / "corpus"),
            index_dir=str(tmp_path / "idx"),
        ),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    out = spark.read.parquet(str(tmp_path / "corpus"))
    # docs 1 and 2 are near-dups of each other: min doc_id kept
    assert {r.doc_id for r in out.collect()} == {1}


def test_processing_time_cadence_end_to_end(spark, sf_dir, tmp_path):
    """A REAL timed trigger, not availableNow: the query stays alive and
    polls the landing dir every interval, so a file dropped AFTER start
    becomes a later micro-batch — the reference's cron loop as a
    processingTime cadence (PipelineSpec.cadence's consumption path)."""
    import time

    from stock_data_pipeline_spark.streaming.jobs import (
        run_foreach_batch,
        write_batch_idempotent,
    )

    src = tmp_path / "landing"
    src.mkdir()
    shutil.copy(table_path(sf_dir, "events"), src / "batch0.parquet")

    stream = read_event_stream(spark, str(src))
    sink = str(tmp_path / "sink")
    q = run_foreach_batch(
        stream,
        partial(write_batch_idempotent, sink_dir=sink),
        checkpoint=str(tmp_path / "ckpt"),
        cadence="1 seconds",
    )

    def batch_ids():
        try:
            return {
                r._batch_id
                for r in spark.read.parquet(sink).select("_batch_id").distinct().collect()
            }
        except Exception:
            return set()

    deadline = time.monotonic() + 60
    try:
        while time.monotonic() < deadline and not batch_ids():
            time.sleep(0.5)
        assert batch_ids(), "first micro-batch never landed"
        # drop a second file while the query is live: only a ticking
        # trigger picks it up (availableNow would have terminated)
        shutil.copy(table_path(sf_dir, "events"), src / "batch1.parquet")
        while time.monotonic() < deadline and len(batch_ids()) < 2:
            time.sleep(0.5)
        assert len(batch_ids()) >= 2, "cadence trigger did not poll new files"
        assert q.isActive  # still ticking — cadence, not availableNow
    finally:
        q.stop()


def test_spec_cadence_strings_are_valid_trigger_intervals(spark, sf_dir, tmp_path):
    """Every PipelineSpec cadence string must be a parseable
    processingTime interval (trigger() validates eagerly)."""
    from stock_data_pipeline_spark.pipelines.ingest import (
        NEWS_SPEC,
        RATIO_SPEC,
        STATEMENT_SPEC,
        TICKER_SPEC,
    )

    stream = read_event_stream(spark, str(tmp_path))
    for spec in (TICKER_SPEC, RATIO_SPEC, STATEMENT_SPEC, NEWS_SPEC):
        stream.writeStream.trigger(processingTime=spec.cadence)


def test_streamed_bar_partials_equal_batch_bars(spark, sf_dir, tmp_path):
    """write_batch_bars lands per-batch OHLCV partials exactly-once; the
    read-side merge must equal a from-scratch bar aggregate, across
    multiple micro-batches AND after a simulated batch replay."""
    from stock_data_pipeline_spark.sources.maintenance import _ohlcv_partials
    from stock_data_pipeline_spark.streaming.jobs import (
        read_bars,
        run_foreach_batch,
        write_batch_bars,
        write_batch_idempotent,
    )

    # land the feed as 3 files -> 3 micro-batches (maxFilesPerTrigger=1)
    land = tmp_path / "ticks"
    land.mkdir()
    events = load(spark, sf_dir, "events")
    for i, pred in enumerate(
        [F.dayofmonth("ts") <= 10,
         (F.dayofmonth("ts") > 10) & (F.dayofmonth("ts") <= 20),
         F.dayofmonth("ts") > 20]
    ):
        events.filter(pred).coalesce(1).write.parquet(str(tmp_path / f"s{i}"))
        import glob, shutil as sh
        part = glob.glob(str(tmp_path / f"s{i}" / "*.parquet"))[0]
        sh.copy(part, land / f"batch{i}.parquet")

    partials_dir = str(tmp_path / "bar_partials")
    stream = read_event_stream(spark, str(land))
    q = run_foreach_batch(
        stream,
        partial(write_batch_bars, partials_dir=partials_dir),
        checkpoint=str(tmp_path / "ck"),
    )
    q.awaitTermination(300)
    assert not q.isActive

    # replay batch 1 (crash-after-write, retry): must overwrite, not add
    replayed = events.filter(
        (F.dayofmonth("ts") > 10) & (F.dayofmonth("ts") <= 20)
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    write_batch_idempotent(_ohlcv_partials(replayed), 1, partials_dir)

    got = {
        (r.event_type, r.bar_date): (
            r.open, r.high, r.low, r.close, r.n_ticks, round(r.volume, 6)
        )
        for r in read_bars(spark, partials_dir).collect()
    }
    full = _ohlcv_partials(
        events.withColumn("ts", F.col("ts").cast("timestamp"))
    )
    want = {
        (r.event_type, r.bar_date): (
            r.open_p.v, r.high, r.low, r.close_p.v, r.n_ticks,
            round(float(r.volume), 6),
        )
        for r in full.collect()
    }
    assert got == want


def test_stream_zscore_anomalies_equal_batch_b52(spark, sf_dir, tmp_path):
    """The stateful streaming spike detector must flag exactly the batch
    b52 set with bit-equal z-scores when ticks arrive in order across
    micro-batches (same scaled-int + IEEE expression sequence)."""
    import time

    from stock_data_pipeline_spark import registry
    from stock_data_pipeline_spark.streaming.jobs import stream_zscore_anomalies

    land = tmp_path / "ticks"
    land.mkdir()
    events = load(spark, sf_dir, "events")
    for i, pred in enumerate(
        [F.dayofmonth("ts") <= 10,
         (F.dayofmonth("ts") > 10) & (F.dayofmonth("ts") <= 20),
         F.dayofmonth("ts") > 20]
    ):
        import glob
        events.filter(pred).coalesce(1).write.parquet(str(tmp_path / f"z{i}"))
        part = glob.glob(str(tmp_path / f"z{i}" / "*.parquet"))[0]
        shutil.copy(part, land / f"batch{i}.parquet")
        time.sleep(1.1)  # file-source ordering is by modification time

    stream = read_event_stream(spark, str(land))
    q = run_stream_to_memory(
        stream_zscore_anomalies(stream),
        "zscore_out",
        checkpoint=str(tmp_path / "ck"),
        output_mode="append",
    )
    _drain(q)
    got = {
        r.event_id: (r.event_type, r.px, r.zscore)
        for r in spark.sql("SELECT * FROM zscore_out").collect()
    }

    batch = registry.full_queries()["b52_zscore_anomaly"](spark, sf_dir).collect()
    want = {r.event_id: (r.event_type, r.px, r.zscore) for r in batch}
    assert got == want
    assert got  # non-vacuous: the feed contains spikes


def test_stream_zscore_ordered_correct_under_disorder(spark, sf_dir, tmp_path):
    """Out-of-order arrival within the watermark delay must still produce
    exactly the batch b52 anomalies for every tick the final watermark
    closed — the watermark-buffered detector re-establishes event-time
    order before scoring."""
    import glob
    import time

    from stock_data_pipeline_spark import registry
    from stock_data_pipeline_spark.streaming.jobs import (
        stream_zscore_anomalies_ordered,
    )

    land = tmp_path / "ticks"
    land.mkdir()
    events = load(spark, sf_dir, "events")
    # overlapping, internally-shuffled slices: days 1-12, 8-22, 18-30
    slices = [
        events.filter(F.dayofmonth("ts") <= 12).orderBy(F.md5(F.col("event_id").cast("string"))),
        events.filter((F.dayofmonth("ts") >= 8) & (F.dayofmonth("ts") <= 22) & (F.dayofmonth("ts") > 12)),
        events.filter(F.dayofmonth("ts") > 22),
    ]
    for i, s in enumerate(slices):
        s.coalesce(1).write.parquet(str(tmp_path / f"d{i}"))
        part = glob.glob(str(tmp_path / f"d{i}" / "*.parquet"))[0]
        shutil.copy(part, land / f"batch{i}.parquet")
        time.sleep(1.1)

    stream = read_event_stream(spark, str(land))
    q = run_stream_to_memory(
        stream_zscore_anomalies_ordered(stream, watermark="10 days"),
        "zscore_ord_out",
        checkpoint=str(tmp_path / "ck"),
        output_mode="append",
    )
    _drain(q)
    got = {
        r.event_id: (r.event_type, r.px, r.zscore)
        for r in spark.sql("SELECT * FROM zscore_ord_out").collect()
    }

    # the FINAL watermark is all batches' max event time minus the delay;
    # the EventTimeTimeout flush closes the old one-batch emission lag,
    # so every tick the final watermark passed must be emitted — even for
    # keys that received no rows in the last micro-batch (the liveness
    # property the timeout exists for)
    import datetime

    max_all = events.agg(F.max("ts").alias("m")).collect()[0].m
    cutoff = max_all - datetime.timedelta(days=10)
    batch = registry.full_queries()["b52_zscore_anomaly"](spark, sf_dir).collect()
    want = {
        r.event_id: (r.event_type, r.px, r.zscore)
        for r in batch
        if r.ts <= cutoff
    }
    assert got == want
    assert got  # non-vacuous


def test_stream_zscore_ordered_survives_restart(spark, sf_dir, tmp_path):
    """The watermark-buffered detector's state (pending buffer + ring)
    must survive a checkpoint restart: stopping after the early batches
    and restarting for the rest must yield the same anomaly set as the
    uninterrupted run (itself pinned to batch b52 by the disorder test).
    Memory sinks don't support checkpoint recovery, so both runs land in
    the exactly-once parquet sink."""
    import glob
    import time

    from stock_data_pipeline_spark.streaming.jobs import (
        run_foreach_batch,
        stream_zscore_anomalies_ordered,
        write_batch_idempotent,
    )

    events = load(spark, sf_dir, "events")
    preds = [
        F.dayofmonth("ts") <= 12,
        (F.dayofmonth("ts") > 12) & (F.dayofmonth("ts") <= 22),
        F.dayofmonth("ts") > 22,
    ]
    parts = []
    for i, pred in enumerate(preds):
        events.filter(pred).coalesce(1).write.parquet(str(tmp_path / f"r{i}"))
        parts.append(glob.glob(str(tmp_path / f"r{i}" / "*.parquet"))[0])

    def start(land_dir, sink, ckpt):
        return run_foreach_batch(
            stream_zscore_anomalies_ordered(
                read_event_stream(spark, str(tmp_path / land_dir)),
                watermark="10 days",
            ),
            partial(write_batch_idempotent, sink_dir=str(tmp_path / sink)),
            checkpoint=str(tmp_path / ckpt),
        )

    def land(land_dir, files):
        d = tmp_path / land_dir
        d.mkdir(exist_ok=True)
        for p_ in files:
            shutil.copy(p_, d / (p_.split("/")[-2] + ".parquet"))
            time.sleep(1.05)

    # uninterrupted baseline
    land("land_base", parts)
    _drain(start("land_base", "sink_base", "ck_base"))
    want = {
        r.event_id: (r.px, r.zscore)
        for r in spark.read.parquet(str(tmp_path / "sink_base")).collect()
    }

    # interrupted: batches 0-1, stop, restart same checkpoint with batch 2
    land("land_rs", parts[:2])
    _drain(start("land_rs", "sink_rs", "ck_rs"))
    land("land_rs", parts[2:])
    _drain(start("land_rs", "sink_rs", "ck_rs"))
    got = {
        r.event_id: (r.px, r.zscore)
        for r in spark.read.parquet(str(tmp_path / "sink_rs")).collect()
    }
    assert got == want and got


def test_bollinger_served_from_streamed_bars_equals_batch_b78(
    spark, sf_dir, tmp_path
):
    """The live-dashboard path: ticks stream into the bar store
    (write_batch_bars partials), indicators are computed over the merged
    bars — and must be BIT-EQUAL to the batch b78 query over the same
    feed (same scaled-integer moments, same IEEE expression order)."""
    import glob
    import shutil as sh

    from stock_data_pipeline_spark import registry
    from stock_data_pipeline_spark.operators.finance import bollinger_over_bars
    from stock_data_pipeline_spark.streaming.jobs import (
        read_bars,
        read_event_stream,
        run_foreach_batch,
        write_batch_bars,
    )

    land = tmp_path / "ticks"
    land.mkdir()
    events = load(spark, sf_dir, "events")
    for i, pred in enumerate(
        [F.dayofmonth("ts") <= 10,
         (F.dayofmonth("ts") > 10) & (F.dayofmonth("ts") <= 20),
         F.dayofmonth("ts") > 20]
    ):
        events.filter(pred).coalesce(1).write.parquet(str(tmp_path / f"bs{i}"))
        part = glob.glob(str(tmp_path / f"bs{i}" / "*.parquet"))[0]
        sh.copy(part, land / f"batch{i}.parquet")

    partials_dir = str(tmp_path / "bar_partials")
    q = run_foreach_batch(
        read_event_stream(spark, str(land)),
        partial(write_batch_bars, partials_dir=partials_dir),
        checkpoint=str(tmp_path / "ck_boll"),
    )
    q.awaitTermination(300)
    assert not q.isActive

    served = bollinger_over_bars(read_bars(spark, partials_dir))
    got = {
        (r.event_type, r.bar_date): (
            r.close, r.mid_band, r.upper_band, r.lower_band,
            r.breakout_up, r.breakout_down,
        )
        for r in served.collect()
    }
    want = {
        (r.event_type, r.bar_date): (
            r.close, r.mid_band, r.upper_band, r.lower_band,
            r.breakout_up, r.breakout_down,
        )
        for r in registry.get("b78_bollinger").fn(spark, sf_dir).collect()
    }
    assert got == want


def test_point_in_time_enrichment_stream_equals_batch(spark, sf_dir, tmp_path):
    """Stream-static PIT join: events streamed in 3 micro-batches and
    joined to the SCD2 history must produce exactly the batch b85 rows —
    same version attribution for every purchase."""
    import glob
    import shutil as sh

    from stock_data_pipeline_spark import registry
    from stock_data_pipeline_spark.streaming.jobs import (
        enrich_point_in_time,
        read_event_stream,
        run_stream_to_memory,
    )

    land = tmp_path / "ticks"
    land.mkdir()
    events = load(spark, sf_dir, "events")
    for i, pred in enumerate(
        [F.dayofmonth("ts") <= 10,
         (F.dayofmonth("ts") > 10) & (F.dayofmonth("ts") <= 20),
         F.dayofmonth("ts") > 20]
    ):
        events.filter(pred).coalesce(1).write.parquet(str(tmp_path / f"ps{i}"))
        part = glob.glob(str(tmp_path / f"ps{i}" / "*.parquet"))[0]
        sh.copy(part, land / f"batch{i}.parquet")

    history = registry.get("b54_scd2_history").fn(spark, sf_dir).select(
        "user_id", "tier", "version", "valid_from", "valid_to"
    )
    q = run_stream_to_memory(
        enrich_point_in_time(read_event_stream(spark, str(land)), history),
        "pit_enriched",
        checkpoint=str(tmp_path / "ck_pit"),
    )
    q.awaitTermination(300)
    assert not q.isActive

    got = {
        (r.event_id, r.user_id, r.tier, r.version)
        for r in spark.sql("SELECT * FROM pit_enriched").collect()
    }
    want = {
        (r.event_id, r.user_id, r.tier, r.version)
        for r in registry.get("b85_point_in_time").fn(spark, sf_dir).collect()
    }
    assert got == want and want


def test_atr_and_obv_served_from_streamed_bars_equal_batch(
    spark, sf_dir, tmp_path
):
    """The remaining served indicators: ATR and OBV computed over the
    streamed bar store must be bit-equal to the batch b79/b81 queries."""
    import glob
    import shutil as sh

    from stock_data_pipeline_spark import registry
    from stock_data_pipeline_spark.operators.finance import (
        atr_over_bars,
        obv_over_bars,
    )
    from stock_data_pipeline_spark.streaming.jobs import (
        read_bars,
        read_event_stream,
        run_foreach_batch,
        write_batch_bars,
    )

    land = tmp_path / "ticks"
    land.mkdir()
    events = load(spark, sf_dir, "events")
    for i, pred in enumerate(
        [F.dayofmonth("ts") <= 10,
         (F.dayofmonth("ts") > 10) & (F.dayofmonth("ts") <= 20),
         F.dayofmonth("ts") > 20]
    ):
        events.filter(pred).coalesce(1).write.parquet(str(tmp_path / f"as{i}"))
        part = glob.glob(str(tmp_path / f"as{i}" / "*.parquet"))[0]
        sh.copy(part, land / f"batch{i}.parquet")

    q = run_foreach_batch(
        read_event_stream(spark, str(land)),
        partial(write_batch_bars, partials_dir=str(tmp_path / "bar_partials")),
        checkpoint=str(tmp_path / "ck_ind"),
    )
    q.awaitTermination(300)
    bars = read_bars(spark, str(tmp_path / "bar_partials"))

    got_atr = {
        (r.event_type, r.bar_date): (r.true_range, r.atr)
        for r in atr_over_bars(bars).collect()
    }
    want_atr = {
        (r.event_type, r.bar_date): (r.true_range, r.atr)
        for r in registry.get("b79_atr").fn(spark, sf_dir).collect()
    }
    assert got_atr == want_atr and want_atr

    got_obv = {
        (r.event_type, r.bar_date): (r.daily_flow, r.obv)
        for r in obv_over_bars(bars).collect()
    }
    want_obv = {
        (r.event_type, r.bar_date): (r.daily_flow, r.obv)
        for r in registry.get("b81_obv").fn(spark, sf_dir).collect()
    }
    assert got_obv == want_obv and want_obv


def test_metrics_listener_records_every_micro_batch(spark, sf_dir, tmp_path):
    """The A11 streaming analog: a StreamingQueryListener captures one
    structured record per micro-batch — input rows sum to the source
    size, batch ids are consecutive, and the JSONL ops log matches the
    in-memory records."""
    import glob
    import json
    import shutil as sh
    import time

    from stock_data_pipeline_spark.streaming.jobs import (
        read_event_stream,
        run_stream_to_memory,
    )
    from stock_data_pipeline_spark.streaming.monitor import attach_metrics

    land = tmp_path / "ticks"
    land.mkdir()
    events = load(spark, sf_dir, "events")
    for i, pred in enumerate(
        [F.dayofmonth("ts") <= 10,
         (F.dayofmonth("ts") > 10) & (F.dayofmonth("ts") <= 20),
         F.dayofmonth("ts") > 20]
    ):
        events.filter(pred).coalesce(1).write.parquet(str(tmp_path / f"ms{i}"))
        part = glob.glob(str(tmp_path / f"ms{i}" / "*.parquet"))[0]
        sh.copy(part, land / f"batch{i}.parquet")

    jsonl = str(tmp_path / "metrics.jsonl")
    listener = attach_metrics(spark, jsonl)
    try:
        q = run_stream_to_memory(
            read_event_stream(spark, str(land)).select("event_id"),
            "metrics_probe",
            checkpoint=str(tmp_path / "ck_metrics"),
        )
        q.awaitTermination(300)
        # listener bus is async; give it a moment to drain
        deadline = time.time() + 30
        want_total = events.count()
        while time.time() < deadline:
            if listener.log.total_input_rows() >= want_total:
                break
            time.sleep(0.5)
        recs = [r for r in listener.log.records if r.num_input_rows > 0]
        assert listener.log.total_input_rows() == want_total
        assert len(recs) == 3  # one per landed file (maxFilesPerTrigger=1)
        assert sorted(r.batch_id for r in recs) == [r.batch_id for r in recs]
        assert listener.log.io_error is None
        with open(jsonl) as f:
            on_disk = [json.loads(line) for line in f]
        assert sum(r["num_input_rows"] for r in on_disk) >= want_total
    finally:
        spark.streams.removeListener(listener)


def test_corpus_prep_ingest_equals_batch_modulo_arrival_order(
    spark, sf_dir, tmp_path
):
    """Streaming corpus prep: 3 micro-batches through gate→dedup→split
    must keep exactly the batch c09_prep_pipeline's survivor SET when
    batch boundaries don't split duplicate groups — and in general keep
    one survivor per fingerprint with first-landed-wins semantics.
    Replaying a batch must change nothing (the self-erasure guard)."""
    import glob
    import shutil as sh

    from stock_data_pipeline_spark.operators.sampling import prep_pipeline
    from stock_data_pipeline_spark.streaming.jobs import (
        run_foreach_batch,
        write_batch_prepped,
    )

    land = tmp_path / "docs_landing"
    land.mkdir()
    docs = load(spark, sf_dir, "documents")
    # split by doc_id ranges; duplicates in the synthetic corpus can
    # cross batches - that's the cross-batch semantics under test
    n = docs.count()
    bounds = [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n + 1)]
    for i, (lo, hi) in enumerate(bounds):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.parquet(str(tmp_path / f"cp{i}"))
        part = glob.glob(str(tmp_path / f"cp{i}" / "*.parquet"))[0]
        sh.copy(part, land / f"batch{i}.parquet")

    sink = str(tmp_path / "prepped")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    q = run_foreach_batch(
        stream,
        partial(write_batch_prepped, sink_dir=sink),
        checkpoint=str(tmp_path / "ck_prep"),
    )
    q.awaitTermination(300)
    assert not q.isActive

    landed = spark.read.parquet(sink)
    batch_ref = prep_pipeline(docs)

    # same fingerprint UNIVERSE as the batch pipeline, one survivor each
    got_fps = sorted(r.fingerprint for r in landed.select("fingerprint").collect())
    want_fps = sorted(r.fingerprint for r in batch_ref.select("fingerprint").collect())
    assert got_fps == want_fps  # implies per-fingerprint uniqueness too

    # split/quality columns agree with the batch pipeline per fingerprint
    got = {r.fingerprint: (r.split, r.quality_score) for r in landed.collect()}
    want = {r.fingerprint: (r.split, r.quality_score) for r in batch_ref.collect()}
    for fp, (split, qs) in got.items():
        # split is a content hash of doc_id: survivors may differ across
        # arrival orders only within a duplicate group; quality matches
        # because duplicates share text
        assert qs == want[fp][1]

    # crash-replay of the middle batch changes nothing
    before = sorted(map(tuple, landed.drop("_batch_id").collect()))
    replay = docs.filter(
        (F.col("doc_id") >= bounds[1][0]) & (F.col("doc_id") < bounds[1][1])
    )
    write_batch_prepped(replay, 1, sink)
    after = sorted(
        map(tuple, spark.read.parquet(sink).drop("_batch_id").collect())
    )
    assert after == before


def test_snapshot_read_as_of_is_stable_and_pruned(spark, tmp_path):
    """Dataset versioning over the idempotent sink: read_as_of(v) must
    return exactly the rows of batches <= v, stay BIT-STABLE after later
    batches land AND after an earlier batch is crash-replayed, and prune
    partitions at planning time (PartitionFilters on _batch_id, never a
    full-table filter)."""
    from stock_data_pipeline_spark.streaming.jobs import (
        latest_batch_id,
        read_as_of,
        write_batch_idempotent,
    )

    sink = str(tmp_path / "versioned")
    for bid in range(3):
        write_batch_idempotent(
            spark.range(bid * 10, bid * 10 + 10).withColumn(
                "payload", F.col("id") * 2
            ),
            bid,
            sink,
        )
    assert latest_batch_id(spark, sink) == 2

    snap1 = {r.id for r in read_as_of(spark, sink, 1).collect()}
    assert snap1 == set(range(20))

    # later batch lands: snapshot 1 unchanged
    write_batch_idempotent(
        spark.range(30, 40).withColumn("payload", F.col("id") * 2), 3, sink
    )
    assert {r.id for r in read_as_of(spark, sink, 1).collect()} == snap1

    # crash-replay of batch 1 (same content): snapshot 1 still identical,
    # not doubled — replay overwrites its own partition
    write_batch_idempotent(
        spark.range(10, 20).withColumn("payload", F.col("id") * 2), 1, sink
    )
    assert {r.id for r in read_as_of(spark, sink, 1).collect()} == snap1
    assert read_as_of(spark, sink, 1).count() == 20

    # planning-time pruning: the snapshot predicate is a PartitionFilter
    df = read_as_of(spark, sink, 1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_batch_id" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]


def test_crash_mid_stream_replay_is_exactly_once(spark, tmp_path):
    """Kill-mid-stream recovery for the production ingest sink
    (write_batch_idempotent under run_foreach_batch, the A19/A20 path):
    simulate a crash AFTER a micro-batch's data landed in the sink but
    BEFORE its checkpoint commit — the exact at-least-once window the WAL
    leaves open — by deleting the batch's entry from ``<ckpt>/commits/``.
    Restarting on the same checkpoint must replay that batch (at-least-once
    delivery), and the idempotent partition-overwrite writer must land it
    exactly once, so the final sink equals the BATCH-mode read of the
    landing directory row-for-row. This is the reference's retry semantics
    (stock_data_to_gcp.py:82,134 — WRITE_APPEND under retries: 2, a
    double-load defect) done right at engine scale.

    A negative control replays the identical crash into a naive
    append-mode foreachBatch sink and asserts it DOES double-load — proof
    the commit-log truncation really re-runs the batch, so the green
    assertion above is not vacuous."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from stock_data_pipeline_spark.streaming.jobs import (
        read_event_stream,
        run_foreach_batch,
        write_batch_idempotent,
    )

    # three single-file drops with disjoint rows (event_id % 3 slices)
    src = pq.read_table("/root/testdata/sf0.001/events.parquet")
    pdf = src.to_pandas()
    land = tmp_path / "landing"
    land.mkdir()
    import pyarrow as pa

    for i in range(2):  # first two drops land before the crash
        pq.write_table(
            pa.Table.from_pandas(
                pdf[pdf["event_id"] % 3 == i], schema=src.schema,
                preserve_index=False,
            ),
            str(land / f"drop{i}.parquet"),
        )
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    q = run_foreach_batch(
        read_event_stream(spark, str(land)),
        partial(write_batch_idempotent, sink_dir=sink),
        checkpoint=ckpt,
    )
    q.awaitTermination(120)
    committed = sorted(
        int(f) for f in os.listdir(os.path.join(ckpt, "commits"))
        if f.isdigit()
    )
    assert committed == [0, 1]  # one batch per file (maxFilesPerTrigger=1)

    # the crash: batch 1's data is in the sink, its commit marker is not.
    # Remove the marker AND its ChecksumFileSystem shadow (.1.crc) — a real
    # crash-before-commit leaves neither; a stale crc alone would make the
    # restart's commit rename fail with FileAlreadyExists.
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    # a third drop lands while the job is down
    pq.write_table(
        pa.Table.from_pandas(
            pdf[pdf["event_id"] % 3 == 2], schema=src.schema,
            preserve_index=False,
        ),
        str(land / "drop2.parquet"),
    )

    # restart on the same checkpoint: batch 1 replays, drop2 becomes batch 2
    q2 = run_foreach_batch(
        read_event_stream(spark, str(land)),
        partial(write_batch_idempotent, sink_dir=sink),
        checkpoint=ckpt,
    )
    q2.awaitTermination(120)

    out = spark.read.parquet(sink).drop("_batch_id")
    batch_oracle = spark.read.parquet(str(land))
    assert out.count() == batch_oracle.count() == len(pdf)
    assert sorted(r.event_id for r in out.select("event_id").collect()) == sorted(
        r.event_id for r in batch_oracle.select("event_id").collect()
    )
    assert (
        spark.read.parquet(sink).select("_batch_id").distinct().count() == 3
    )

    # ---- negative control: naive append sink double-loads on the same crash
    land2 = tmp_path / "landing2"
    land2.mkdir()
    for i in range(2):
        shutil.copy(str(land / f"drop{i}.parquet"), str(land2 / f"drop{i}.parquet"))
    sink2 = str(tmp_path / "sink2")
    ckpt2 = str(tmp_path / "ckpt2")

    def naive_append(bdf, bid):  # the reference's WRITE_APPEND shape
        bdf.write.mode("append").parquet(sink2)

    qn = (
        read_event_stream(spark, str(land2))
        .writeStream.foreachBatch(naive_append)
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True)
        .start()
    )
    qn.awaitTermination(120)
    n_two_drops = spark.read.parquet(sink2).count()
    os.remove(os.path.join(ckpt2, "commits", "1"))
    crc2 = os.path.join(ckpt2, "commits", ".1.crc")
    if os.path.exists(crc2):
        os.remove(crc2)
    qn2 = (
        read_event_stream(spark, str(land2))
        .writeStream.foreachBatch(naive_append)
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True)
        .start()
    )
    qn2.awaitTermination(120)
    n_batch1 = len(pdf[pdf["event_id"] % 3 == 1])
    assert spark.read.parquet(sink2).count() == n_two_drops + n_batch1
