"""Run the 50-query driver window vs DuckDB at a given sf dir under a named
physical regime. Usage: python window_sweep.py <regime> [sf_dir]
regimes: default | skew | nosmj (AQE-off/broadcast-off all-SMJ) | tz (hostile
timezone poisoned before EVERY query) | parts (shuffle.partitions 1 vs 200,
hash must be identical AND oracle-green at both)."""
import sys, hashlib
sys.path.insert(0, "/root/repo")
regime = sys.argv[1]
sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

from pyspark.sql import SparkSession
import duckdb, pandas as pd

builder = SparkSession.builder.master("local[8]")
# Vanilla 1g heap by default (the driver's own configuration). 50-query
# single-session sweeps at 10x driver scale PLUS a 64-file split layout
# can exhaust it late in the session (a broadcast-build OOM on b73 at
# query ~25, round 10 — same plan/rows pass alone in a fresh 1g session:
# harness capacity, not an engine defect). Set SWEEP_DRIVER_MEM=6g for
# those oversized sweeps, mirroring the r8 full-surface rule.
import os as _os
if _os.environ.get("SWEEP_DRIVER_MEM"):
    builder = builder.config(
        "spark.driver.memory", _os.environ["SWEEP_DRIVER_MEM"])
if regime == "nosmj":
    builder = (
        builder.config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.join.preferSortMergeJoin", "true")
    )
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e
qs, os_ = e.queries(), e.oracle_sql()
con = duckdb.connect()
from stock_data_pipeline_spark.catalog import TABLES
for t in TABLES:
    p = f"{sf}/{t}.parquet"
    # split-layout fixtures (tools/splitgen.py) store each table as a
    # DIRECTORY of part files; Spark reads that path as-is, DuckDB globs
    if _os.path.isdir(p):
        p = f"{p}/*.parquet"
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

# Recurrence-oracle cost probe (r13, VERDICT r12 task 5) — replaces the
# old hand-listed per-REGIME substitutions. A query whose DuckDB oracle
# replays a per-row recurrence as a recursive CTE over `events` has
# ORACLE cost proportional to the LONGEST per-user chain in the fixture
# (one CTE level per chain position, each level re-joining the working
# table): tractable on uniform fixtures (<=~100-event chains),
# intractable on a celebrity-skew twin (9,900+ at sf0.01-skew, ~99k at
# sf1-skew). The ENGINE side of both queries is chain-length-safe by
# construction (session_window / sharded applyInPandas; bit-exact
# hot-chain parity pinned in tests/test_timeseries_oracle.py and
# tests/test_recursion_bound.py), so when the probe trips the sweep
# mechanically swaps in the declared same-family twin — for ANY regime
# or sf, not a per-regime hand list.
RECURRENCE_ORACLE_TWINS = {
    "b19_sessionize_recursive": "b19_sessionization",
    "b29_ema_rsi": "b09_moving_window",
}
MAX_ORACLE_CHAIN = 1000
_present = [n for n in RECURRENCE_ORACLE_TWINS if n in qs]
if _present:
    max_chain = con.execute(
        "SELECT COALESCE(MAX(c), 0) FROM "
        "(SELECT COUNT(*) AS c FROM events GROUP BY user_id)"
    ).fetchone()[0]
    if max_chain > MAX_ORACLE_CHAIN:
        from stock_data_pipeline_spark import registry
        qs = dict(qs); os_ = dict(os_)
        for _name in _present:
            _twin = RECURRENCE_ORACLE_TWINS[_name]
            del qs[_name]; os_.pop(_name, None)
            qs[_twin] = registry.full_queries()[_twin]
            os_[_twin] = registry.full_oracles()[_twin]
            print(
                f"SUBSTITUTE {_name} -> {_twin}: fixture max per-key chain "
                f"{max_chain} > {MAX_ORACLE_CHAIN} makes the recursive-CTE "
                "oracle intractable (engine skew-safety pinned in-suite)",
                flush=True,
            )

def vhash(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
    return hashlib.md5("\n".join(sorted(map(str,
        pdf.itertuples(index=False, name=None)))).encode()).hexdigest()

bad = []
for name in sorted(qs):
    try:
        if regime == "tz":
            spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        if name in os_:
            d = con.execute(os_[name]).df()
        if regime == "parts":
            hs = {}
            for p in ("1", "200"):
                spark.conf.set("spark.sql.shuffle.partitions", p)
                hs[p] = vhash(qs[name](spark, sf).toPandas())
            ok = hs["1"] == hs["200"]
            if name in os_:
                ok = ok and hs["1"] == vhash(d)
        else:
            s = qs[name](spark, sf).toPandas()
            ok = (vhash(s) == vhash(d)) if name in os_ else (len(s) >= 0)
        if not ok:
            bad.append(name)
        print(name, "ok:", ok, flush=True)
    except Exception as ex:
        bad.append(name)
        print(name, "ERR:", repr(ex)[:300], flush=True)
print("REGIME:", regime, "SF:", sf, "BAD:", bad)
print("SWEEP_OK" if not bad else "SWEEP_FAIL")
