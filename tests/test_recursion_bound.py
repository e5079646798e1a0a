"""b19_sessionize_recursive round budget (round-11 hardening, round-12
plan embedding).

The recursive-CTE sessionization's depth equals the longest per-user
event chain; each level is a self-join stage, so on hostile data
(celebrity-skew twin: one 8,600-event user) an uncapped walk spins for
hours instead of erroring (BENCHNOTES round 10). Round 11 guarded this
with an eager driver-side pre-check (groupBy+collect at plan-build
time); round 12 moved the guard INTO the plan — a per-row
``raise_error`` in the recursion's input projection, mirroring
gap_fill_hourly's spine cap — so the builder is a pure plan constructor
(it runs no job before the caller asks and freezes no data it read) and
the guard re-measures on every execution.

Pinned here:
1. a hostile chain fails FAST at execution with the actionable message
   (during the anchor's first scan, not after N self-join stages);
2. building the plan runs NO Spark job (the pure-builder invariant the
   r11 eager check broke — ADVICE r11);
3. raising ``max_rounds`` explicitly re-admits the same data, and the
   result matches the window formulation exactly;
4. the uniform driver fixture is bit-unchanged under the default cap
   (recursive == window formulation row-for-row on sf0.001);
5. NULL-user chains are exempt: the recursive join (`o.user_id =
   w.user_id`) never walks NULL users, so a long NULL chain terminates
   after the anchor round regardless — capping it would reject data the
   recursion handles fine (latent defect flagged in ADVICE r11).
"""

from __future__ import annotations

import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from stock_data_pipeline_spark.catalog import load, table_path
from stock_data_pipeline_spark.streaming.jobs import (
    MAX_RECURSION_ROUNDS_DEFAULT,
    recursive_sessionize,
    sessionize,
)

_SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r.user_id, r.session_seq, r.session_start, r.session_end, r.n_events)
        for r in df.collect()
    )


def _write_events(tmp_path_factory, rows, name):
    """Write an events fixture with the real fixture's arrow schema (the
    catalog's declared one); link the untouched catalog tables beside it."""
    import os

    from stock_data_pipeline_spark.catalog import TABLES

    src = pq.read_table(table_path(_SF, "events"))
    pdf = pd.DataFrame(rows)
    d = tmp_path_factory.mktemp(name)
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=src.schema, preserve_index=False),
        str(d / "events.parquet"),
    )
    for t in TABLES:
        if t != "events":
            os.symlink(table_path(_SF, t), str(d / f"{t}.parquet"))
    return str(d)


def _chain(uid, n, *, base=None, minutes=40):
    """n events for user uid (None allowed), spaced `minutes` apart —
    40-minute spacing > the 30-minute gap, so every event opens a new
    session and session counts are trivially predictable."""
    base = base or pd.Timestamp("2024-03-01 09:00:00")
    key = 9_999_000 if uid is None else uid * 1000
    return [
        {
            "event_id": key + i,
            "ts": base + pd.Timedelta(minutes=minutes * i),
            "user_id": uid,
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory):
    """One 40-event chain (user 1) + one 5-event chain (user 2)."""
    return _write_events(
        tmp_path_factory, _chain(1, 40) + _chain(2, 5), "hostile_sf"
    )


@pytest.fixture(scope="module")
def null_user_dir(tmp_path_factory):
    """One 40-event NULL-user chain + one 5-event chain (user 2): under
    max_rounds=10 the NULL chain must NOT trip the guard (the recursion
    never walks it), while the same-length user-1 chain in hostile_dir
    does."""
    return _write_events(
        tmp_path_factory, _chain(None, 40) + _chain(2, 5), "nulluser_sf"
    )


def test_hostile_chain_fails_fast_with_actionable_message(spark, hostile_dir):
    df = recursive_sessionize(spark, hostile_dir, max_rounds=10)
    t0 = time.monotonic()
    with pytest.raises(Exception) as exc:
        df.collect()
    elapsed = time.monotonic() - t0
    msg = str(exc.value)
    assert "max_rounds=10" in msg
    assert "user 1" in msg  # the violating key is named
    assert "b19_sessionization" in msg  # the scale-path alternative is named
    # Fail-fast means the guard fires in the anchor's first scan, not
    # after 40 self-join stages.
    assert elapsed < 30


def test_plan_build_runs_no_job(spark, hostile_dir):
    """The builder must be a pure plan constructor (registry
    invariant): constructing the guarded plan — even over data that
    VIOLATES the cap — must neither run a job nor raise; the guard
    belongs to execution."""
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    df = recursive_sessionize(spark, hostile_dir, max_rounds=10)
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert df is not None
    assert len(after) == len(before), "plan construction launched a Spark job"


def test_null_user_chain_is_exempt_from_the_cap(spark, null_user_dir):
    """A 40-event NULL-user chain under max_rounds=10: the guard must
    pass it (recursion never walks NULL users — they contribute exactly
    their anchor row), and the result must match the identical unguarded
    SQL text's semantics: one 1-event session for NULL, 5 sessions for
    user 2."""
    got = [
        (r.user_id, r.session_seq, r.n_events)
        for r in recursive_sessionize(
            spark, null_user_dir, max_rounds=10
        ).collect()
    ]
    null_rows = [r for r in got if r[0] is None]
    user2_rows = [r for r in got if r[0] == 2]
    assert len(null_rows) == 1 and null_rows[0][2] == 1
    assert len(user2_rows) == 5


def test_explicit_max_rounds_readmits_and_matches_window_form(spark, hostile_dir):
    got = _rows(recursive_sessionize(spark, hostile_dir, max_rounds=64))
    want = _rows(sessionize(load(spark, hostile_dir, "events"), gap_minutes=30))
    assert got == want
    # 40-minute spacing: every event is its own session.
    assert len(got) == 45


def test_uniform_fixture_unchanged_under_default_cap(spark):
    got = _rows(recursive_sessionize(spark, _SF))
    want = _rows(sessionize(load(spark, _SF, "events"), gap_minutes=30))
    assert got == want


def test_default_cap_clears_all_uniform_sfs_with_headroom():
    """The default must clear the real fixtures' longest chain (99 at
    sf0.1, FIXTURES.md) with headroom — a regression here means a fixture
    regeneration silently outgrew the cap."""
    import duckdb

    longest = duckdb.sql(
        "SELECT max(c) FROM (SELECT count(*) AS c FROM "
        "'/root/testdata/sf0.1/events.parquet' GROUP BY user_id)"
    ).fetchone()[0]
    assert longest * 2 <= MAX_RECURSION_ROUNDS_DEFAULT
