"""Streaming at sf1 (round 12, VERDICT r11 task 5).

The crash-recovery / exactly-once / stream==batch parity tests run on
small fixtures; this module drives the b17/b18/b19 STREAMING runners
over the sf1 events table (1M rows — tools/scalegen.py replication twin,
regenerated here when the /tmp twin has vanished) with
``trigger(availableNow=True)`` and asserts parity with the batch oracle
one order of magnitude above the design scale.

The landing directory is the sf1 events split into 4 ts-ordered files →
4 micro-batches in arrival order, so watermark progression across
batches is actually exercised (one file = one batch = no cross-batch
state at all). State-store sizes per watermark are printed per run and
recorded in BENCHNOTES.md (round 12).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from stock_data_pipeline_spark.catalog import load
from stock_data_pipeline_spark.streaming.jobs import (
    dedup_replayed,
    hourly_window_agg,
    read_event_stream,
    run_stream_to_memory,
    sessionize,
    stream_session_agg,
)

_SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/scaledata/sf1")
_SCALEGEN = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "scalegen.py")
_N_CHUNKS = 4


def _drain(query):
    query.awaitTermination(600)
    assert not query.isActive


def _state_note(query, label):
    prog = query.lastProgress
    ops = (prog or {}).get("stateOperators") or []
    for op in ops:
        print(
            f"STATE[{label}] {op.get('operatorName')}: "
            f"numRowsTotal={op.get('numRowsTotal')} "
            f"memoryUsedBytes={op.get('memoryUsedBytes')}",
            flush=True,
        )
    return ops


@pytest.fixture(scope="module")
def sf1_dir(tmp_path_factory):
    """The sf1 replication twin; regenerated when the /tmp copy has
    vanished (host restart) — same recipe the sweeps use."""
    if not os.path.isfile(os.path.join(_SF1, "events.parquet")):
        proc = subprocess.run(
            [sys.executable, _SCALEGEN, "0.1", "10", _SF1],
            capture_output=True,
            text=True,
            timeout=900,
        )
        assert proc.returncode == 0, proc.stdout + proc.stderr
        assert "GEN_OK" in proc.stdout
    return _SF1


@pytest.fixture(scope="module")
def sf1_landing(sf1_dir, tmp_path_factory):
    """sf1 events split into _N_CHUNKS ts-ordered parquet files, written
    in ascending-ts order so the file source's mtime ordering delivers
    micro-batches in event-time order (files are the arrival unit; rows
    within a file may still arrive 'late' relative to the watermark)."""
    d = tmp_path_factory.mktemp("sf1_events_landing")
    tb = pq.read_table(os.path.join(sf1_dir, "events.parquet"))
    tb = tb.take(pc.sort_indices(tb, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]))
    n = tb.num_rows
    step = (n + _N_CHUNKS - 1) // _N_CHUNKS
    for i in range(_N_CHUNKS):
        pq.write_table(
            tb.slice(i * step, step), str(d / f"batch{i}.parquet")
        )
    return str(d)


def test_sf1_stream_hourly_agg_equals_batch(spark, sf1_dir, sf1_landing, tmp_path):
    """b17 at sf1: every window the stream closes must match the batch
    formulation exactly, and with ts-ordered arrival the final watermark
    closes nearly all of them."""
    stream = read_event_stream(spark, sf1_landing)
    agg = hourly_window_agg(stream, watermark="10 minutes")
    q = run_stream_to_memory(
        agg,
        "sf1_hourly_out",
        checkpoint=str(tmp_path / "ckpt_b17"),
        output_mode="append",
    )
    _drain(q)
    _state_note(q, "b17@sf1")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM sf1_hourly_out").collect()
    }
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in hourly_window_agg(load(spark, sf1_dir, "events")).collect()
    }
    assert got
    for key, val in got.items():
        assert expected[key] == val, key
    assert len(got) / len(expected) > 0.9
    spark.catalog.dropTempView("sf1_hourly_out")


def test_sf1_stream_dedup_replay_is_exactly_once(spark, sf1_dir, sf1_landing, tmp_path):
    """b18 at sf1: a full replay of the FIRST chunk arriving after the
    whole stream (the reference's retry double-append at 1M-row scale)
    must not inflate the output — replayed rows are either deduped
    within the watermark or dropped as late; both keep exactly-once."""
    src = tmp_path / "landing_with_replay"
    src.mkdir()
    for i in range(_N_CHUNKS):
        shutil.copy(
            os.path.join(sf1_landing, f"batch{i}.parquet"),
            src / f"batch{i}.parquet",
        )
    shutil.copy(
        os.path.join(sf1_landing, "batch0.parquet"),
        src / f"batch{_N_CHUNKS}_replay.parquet",
    )
    stream = read_event_stream(spark, str(src))
    deduped = dedup_replayed(stream, watermark="1 minute")
    q = run_stream_to_memory(
        deduped, "sf1_dedup_out", checkpoint=str(tmp_path / "ckpt_b18")
    )
    _drain(q)
    _state_note(q, "b18@sf1")
    n_out = spark.sql("SELECT COUNT(*) AS n FROM sf1_dedup_out").collect()[0].n
    n_distinct = (
        load(spark, sf1_dir, "events").select("event_id").distinct().count()
    )
    assert n_out == n_distinct
    spark.catalog.dropTempView("sf1_dedup_out")


def test_sf1_stream_sessions_subset_of_batch(spark, sf1_dir, sf1_landing, tmp_path):
    """b19 at sf1: every session the native session_window operator
    closes must exist in the batch window formulation with identical
    membership count."""
    stream = read_event_stream(spark, sf1_landing)
    sessions = stream_session_agg(stream, gap="30 minutes")
    q = run_stream_to_memory(
        sessions, "sf1_sessions_out", checkpoint=str(tmp_path / "ckpt_b19")
    )
    _drain(q)
    _state_note(q, "b19@sf1")
    emitted = spark.sql("SELECT * FROM sf1_sessions_out").collect()
    assert emitted
    batch = {
        (r.user_id, r.session_start): r.n_events
        for r in sessionize(
            load(spark, sf1_dir, "events"), gap_minutes=30
        ).collect()
    }
    for r in emitted:
        assert batch[(r.user_id, r.session_start)] == r.n_events
    # ts-ordered arrival must close the overwhelming majority of sessions
    assert len(emitted) / len(batch) > 0.9
    spark.catalog.dropTempView("sf1_sessions_out")
