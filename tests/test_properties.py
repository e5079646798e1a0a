"""Property-based tests (hypothesis) for operator invariants that must hold
on ANY input, not just the driver fixtures (SURVEY.md §5.4).

One shared SparkSession; small generated frames; deadline disabled (Spark
job latency is not the code-under-test)."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from stock_data_pipeline_spark.functions.exact import dec_sum
from stock_data_pipeline_spark.streaming.jobs import sessionize

_SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

amounts = st.lists(
    st.decimals(
        min_value="-99999.99", max_value="99999.99", places=2
    ).map(float),
    min_size=1,
    max_size=40,
)


@settings(**_SETTINGS)
@given(values=amounts, n_parts=st.integers(min_value=1, max_value=7))
def test_dec_sum_is_partitioning_invariant(spark, values, n_parts):
    """Decimal-exact SUM must not change under any repartitioning — the
    reproducibility property plain float SUM lacks."""
    df = spark.createDataFrame([(v,) for v in values], "v double")
    a = df.agg(dec_sum("v").alias("s")).collect()[0].s
    b = df.repartition(n_parts).agg(dec_sum("v").alias("s")).collect()[0].s
    assert a == b


@settings(**_SETTINGS)
@given(
    gaps_minutes=st.lists(
        st.integers(min_value=1, max_value=120), min_size=1, max_size=30
    )
)
def test_sessionize_partitions_events_and_respects_gap(spark, gaps_minutes):
    """Sessions must (a) cover every event exactly once and (b) start a new
    session exactly when the inter-event gap exceeds the threshold."""
    t0 = datetime(2024, 1, 1)
    ts, cur = [], t0
    for g in gaps_minutes:
        cur = cur + timedelta(minutes=g)
        ts.append(cur)
    rows = [(1, i, t) for i, t in enumerate(ts)]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz"
    )
    sessions = sessionize(df, gap_minutes=30).collect()
    # (a) every event in exactly one session
    assert sum(s.n_events for s in sessions) == len(ts)
    # (b) session count == 1 + number of gaps > 30 min
    expected_sessions = 1 + sum(1 for g in gaps_minutes[1:] if g > 30)
    assert len(sessions) == expected_sessions
    # (c) sessions don't overlap and are gap-separated
    spans = sorted((s.session_start, s.session_end) for s in sessions)
    for (_, end_a), (start_b, _) in zip(spans, spans[1:]):
        assert start_b > end_a + timedelta(minutes=30)


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_categories=["Cs"]),
            max_size=80,
        ),
        min_size=1,
        max_size=25,
    )
)
def test_exact_dedup_fingerprint_groups_cover_all_docs(spark, texts):
    """C1 invariant on arbitrary unicode: fingerprint groups partition the
    corpus (Σ n_copies == N) and keeper ids are members of their group."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = F.md5(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")))
    out = (
        df.select(fp.alias("f"), "doc_id")
        .groupBy("f")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n"))
        .collect()
    )
    assert sum(r.n for r in out) == len(texts)
    assert all(0 <= r.keeper < len(texts) for r in out)


@settings(**_SETTINGS)
@given(values=amounts)
def test_dec_sum_matches_duckdb_spelling_on_adversarial_values(spark, values):
    """The Spark dec_sum expression and the DuckDB sql_dec_sum spelling
    must agree on ANY doubles — including .xx5 rounding boundaries —
    because both reduce to the same IEEE ops: x*100.0, +0.5, floor,
    integer sum, /100.0. Python floats ARE IEEE doubles, so the local
    recompute is a third independent implementation of the contract."""
    import math

    import duckdb

    from stock_data_pipeline_spark.functions.exact import sql_dec_sum

    df = spark.createDataFrame([(v,) for v in values], "v double")
    got_spark = df.agg(dec_sum("v").alias("s")).collect()[0].s

    con = duckdb.connect()
    con.execute("CREATE TABLE t(v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
    got_duck = con.execute(f"SELECT {sql_dec_sum('v')} FROM t").fetchone()[0]

    want = sum(math.floor(v * 100.0 + 0.5) for v in values) / 100.0
    assert got_spark == got_duck == want


# --------------------------------------------------------------------------
# SCD2 incremental fold vs a pure-Python reference model
# --------------------------------------------------------------------------
_scd_feeds = st.lists(  # per day: {entity: attribute}, attribute may be None
    st.dictionaries(
        st.integers(min_value=0, max_value=3),
        st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
        max_size=4,
    ),
    min_size=1,
    max_size=6,
)


@settings(**_SETTINGS)
@given(feed=_scd_feeds)
def test_scd2_apply_matches_python_model(spark, feed):
    """Folding arbitrary snapshot sequences (absent keys, null attributes,
    re-appearing values) must match a dict-based SCD2 model exactly."""
    from datetime import date

    from stock_data_pipeline_spark.operators.scd import scd2_apply

    # reference model: per key, list of [attr, from, to, current]
    model: dict[int, list] = {}
    history = None
    for i, snap in enumerate(feed):
        day = date(2024, 1, 1 + i)
        for k, v in snap.items():
            versions = model.setdefault(k, [])
            if versions and versions[-1][3]:
                if versions[-1][0] != v:  # null-safe: None != "a"
                    versions[-1][2] = day
                    versions[-1][3] = False
                    versions.append([v, day, None, True])
            else:
                versions.append([v, day, None, True])

        rows = [(k, v, day) for k, v in snap.items()]
        snap_df = spark.createDataFrame(
            rows, "id int, grade string, as_of date"
        ) if rows else spark.createDataFrame([], "id int, grade string, as_of date")
        history = scd2_apply(
            history, snap_df, keys=["id"], attrs=["grade"], coalesce_to=4
        )
        history = history.localCheckpoint(eager=True)

    got = {
        (r.id, r.grade, r.valid_from, r.valid_to, r.is_current)
        for r in history.collect()
    }
    want = {
        (k, ver[0], ver[1], ver[2], ver[3])
        for k, versions in model.items()
        for ver in versions
    }
    assert got == want


# --------------------------------------------------------------------------
# OHLCV partial-state merge: invariant under arbitrary slicing
# --------------------------------------------------------------------------
_tick_feeds = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),       # instrument
        st.integers(min_value=0, max_value=10**6),   # offset seconds
        st.decimals(min_value="0.01", max_value="999.99", places=2).map(float),
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda t: (t[0], t[1]),  # unique (key, ts): argmin/argmax defined
)


@settings(**_SETTINGS)
@given(ticks=_tick_feeds, cuts=st.lists(st.integers(0, 29), max_size=3))
def test_ohlcv_partials_merge_slicing_invariant(spark, ticks, cuts):
    """Splitting the tick feed at ANY cut points and merging the per-slice
    partials must equal the single-pass aggregate — the property that
    makes the streamed bar table equal the batch bars for every batch
    boundary the source happens to pick."""
    from stock_data_pipeline_spark.sources.maintenance import (
        _ohlcv_partials,
        merge_bar_partials,
    )

    rows = [
        (i, datetime(2024, 1, 1) + timedelta(seconds=off), f"sym{key}", val)
        for i, (key, off, val) in enumerate(ticks)
    ]
    schema = "event_id long, ts timestamp_ntz, event_type string, value double"
    full = spark.createDataFrame(rows, schema)

    bounds = sorted({0, len(rows), *[c % (len(rows) + 1) for c in cuts]})
    slices = [
        spark.createDataFrame(rows[a:b], schema)
        for a, b in zip(bounds, bounds[1:])
        if b > a
    ]
    merged = merge_bar_partials(
        _ohlcv_partials(slices[0])
        if len(slices) == 1
        else slices[0].sparkSession.createDataFrame(
            _ohlcv_partials(slices[0]).collect()
            + [r for s in slices[1:] for r in _ohlcv_partials(s).collect()],
            _ohlcv_partials(slices[0]).schema,
        )
    )

    def canon(df):
        return {
            (r.event_type, r.bar_date): (
                r.open_p, r.close_p, r.high, r.low, r.n_ticks, float(r.volume)
            )
            for r in df.collect()
        }

    assert canon(merged) == canon(merge_bar_partials(_ohlcv_partials(full)))


# --------------------------------------------------------------------------
# Technical-indicator invariants (round 4)
# --------------------------------------------------------------------------
price_series = st.lists(
    st.floats(min_value=1.0, max_value=500.0, allow_nan=False, width=32),
    min_size=2,
    max_size=25,
)


@settings(**_SETTINGS)
@given(closes=price_series)
def test_up_streaks_match_python_reference(spark, closes):
    """b84's gaps-and-islands streak length must equal the obvious
    sequential scan on any series."""
    from stock_data_pipeline_spark.operators.finance import _B84_SQL

    rows = [
        ("x", datetime(2024, 1, 1) + timedelta(days=i), float(c))
        for i, c in enumerate(closes)
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    df.createOrReplaceTempView("events")
    try:
        # one tick per day -> daily close == the value itself
        out = {r.event_type: (r.max_up_streak, r.n_up_days)
               for r in spark.sql(_B84_SQL).collect()}
    finally:
        spark.catalog.dropTempView("events")

    best = cur = ups = 0
    for prev, nxt in zip(closes, closes[1:]):
        if nxt > prev:
            cur += 1
            ups += 1
            best = max(best, cur)
        else:
            cur = 0
    assert out["x"] == (best, ups)


@settings(**_SETTINGS)
@given(closes=price_series)
def test_obv_is_prefix_sum_of_signed_flow(spark, closes):
    """b81: with one tick per day, every day's flow is ±1/0 and OBV is
    its prefix sum — against any generated series."""
    from stock_data_pipeline_spark.operators.finance import (
        _OHLC_BARS,
        obv_over_bars,
    )

    rows = [
        ("x", datetime(2024, 1, 1) + timedelta(days=i), float(c))
        for i, c in enumerate(closes)
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    df.createOrReplaceTempView("events")
    try:
        got = [
            (r.daily_flow, r.obv)
            for r in obv_over_bars(spark.sql(_OHLC_BARS))
            .orderBy("bar_date")
            .collect()
        ]
    finally:
        spark.catalog.dropTempView("events")

    want, acc = [], 0
    for prev, nxt in zip(closes, closes[1:]):
        flow = 1 if nxt > prev else (-1 if nxt < prev else 0)
        acc += flow
        want.append((flow, acc))
    assert got == want


def test_dec_sum_limb_recombination_at_extreme_magnitudes(spark):
    """The round-7 limb decomposition must stay exact where the limbs
    get large: values up to ~1e13 (scaled ints ~1e15, hi-limbs ~1.5e10)
    mixed with negatives and sub-cent noise. Reference is exact Python
    integer arithmetic — any wraparound or sign bug in the shift/mask
    recombination shows up as a hard inequality."""
    import math

    import duckdb

    from stock_data_pipeline_spark.functions.exact import dec_sum, sql_dec_sum

    values = [
        9.87654321e12, -9.87654321e12, 1.23456789e13, -42.005, 42.005,
        0.005, -0.005, 1e-3, -1e-3, 65535.99, -65536.01, 7.0,
    ]
    want = sum(math.floor(v * 100.0 + 0.5) for v in values) / 100.0

    df = spark.createDataFrame([(v,) for v in values], "v double")
    got_spark = df.agg(dec_sum("v").alias("s")).collect()[0].s
    got_spark_7 = df.repartition(7).agg(dec_sum("v").alias("s")).collect()[0].s

    con = duckdb.connect()
    con.execute("CREATE TABLE t(v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
    got_duck = con.execute(f"SELECT {sql_dec_sum('v')} FROM t").fetchone()[0]

    assert got_spark == got_spark_7 == got_duck == want
