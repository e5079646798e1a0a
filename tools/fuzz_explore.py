"""Exploration sweep over ALL differential-fuzz shapes: fresh-seed random
plans beyond the derandomized suite corpus (BENCHNOTES rounds 8-10
protocol, now one checked-in runner for the 14 single-SQL-text shapes AND
the param shapes 15-16: as-of join, pivot, unpivot).

Usage: python tools/fuzz_explore.py <sf_dir> <n_per_shape> <seed> [shape...]
With no shape names, sweeps every shape. Prints one "<shape>: N plans OK"
line per shape and a final EXPLORE_OK line.
"""
import os
import sys

# Explore the checkout this file is in: the driver imports the package via
# sys.path, the Python UDF workers from their working directory.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
SF = os.path.abspath(sys.argv[1])
os.chdir(ROOT)
N = int(sys.argv[2])
SEED = int(sys.argv[3])
ONLY = set(sys.argv[4:])

from hypothesis import HealthCheck, given, seed, settings
from pyspark.sql import SparkSession

builder = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
)
# Per-row-output shapes (window, asof) hash the WHOLE result. Through
# r11 that was a single toPandas collect, and at sf1 a 6M-row collect
# blew the default 1g heap (java.lang.OutOfMemoryError mid-collect, JVM
# death, hypothesis then spinning on ConnectionRefused). r12 (VERDICT
# r11 task 7): the compare path now streams one partition at a time
# (tests/oracle.collect_pdf under FUZZ_STREAM_COLLECT=1, defaulted ON
# here), so the JVM never holds the full result — the r11 OOM class
# (window/asof collects at sf1) runs at the DEFAULT heap. The remaining
# 1g boundary is EXECUTION memory, not collect: a 6M-row shuffle/sort
# inside the single local-mode JVM can still OOM a heavy shape
# (observed r12: null_semantics at sf1), so FULL-shape sf1 sweeps still
# set SWEEP_DRIVER_MEM=6g; FUZZ_STREAM_COLLECT=0 restores the
# single-collect path.
import os as _os

_os.environ.setdefault("FUZZ_STREAM_COLLECT", "1")

# Per-shape EXECUTION-heap floors at sf1-class fixtures (r13, VERDICT r12
# task 7 — the requirement is self-documenting, no hand-remembered env
# vars). These are the shapes whose generated plans can shuffle/sort the
# full fact table inside the single local-mode JVM; every shape absent
# from this table ran green at the DEFAULT 1g heap at sf1 in the r13
# per-shape isolation probe (2-10 fresh plans each, /tmp/r13_floor*.log
# — the streamed compare path already removed the COLLECT hazard, so
# these floors are execution memory only). Floors are draw-dependent
# empirics, not proofs: null_semantics and window both PASSED 2-plan
# probes at 1g and OOM'd at 10 plans (a heavier generated plan trips
# it), so a new OOM on an unlisted shape means "add its floor here",
# not "set an env var and move on". The tool sizes the session to the
# max floor among SELECTED shapes when the fixture is sf1-class; an
# explicit SWEEP_DRIVER_MEM always wins.
SHAPE_HEAP_FLOORS_GB = {
    "null_semantics": 6,
    "window": 6,
}
_SF1_CLASS_EVENT_ROWS = 500_000


def _fixture_is_sf1_class(sf_dir):
    try:
        import pyarrow.parquet as _pq

        p = _os.path.join(sf_dir, "events.parquet")
        if _os.path.isdir(p):
            import glob as _glob

            return (
                sum(
                    _pq.ParquetFile(f).metadata.num_rows
                    for f in _glob.glob(_os.path.join(p, "*.parquet"))
                )
                >= _SF1_CLASS_EVENT_ROWS
            )
        return _pq.ParquetFile(p).metadata.num_rows >= _SF1_CLASS_EVENT_ROWS
    except Exception:
        return False  # unknown layout: keep default heap, fail loudly later


if _os.environ.get("SWEEP_DRIVER_MEM"):
    builder = builder.config(
        "spark.driver.memory", _os.environ["SWEEP_DRIVER_MEM"]
    )
elif _fixture_is_sf1_class(SF):
    _sel = ONLY if ONLY else set(SHAPE_HEAP_FLOORS_GB)
    _need = max(
        (SHAPE_HEAP_FLOORS_GB[s] for s in _sel if s in SHAPE_HEAP_FLOORS_GB),
        default=0,
    )
    if _need:
        print(
            f"heap floor: {_need}g (sf1-class fixture + shapes "
            f"{sorted(s for s in _sel if s in SHAPE_HEAP_FLOORS_GB)})",
            flush=True,
        )
        builder = builder.config("spark.driver.memory", f"{_need}g")
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import tests.test_differential_fuzz as fz

fz._ensure_views(spark, SF)

S = dict(
    max_examples=N,
    deadline=None,
    database=None,
    derandomize=False,
    suppress_health_check=list(HealthCheck),
)

# (name, strategy factory, check taking the drawn value). The SQL-text
# shapes all run the suite's _assert_engines_agree except grouping_sets,
# which uses the divergence-aware twin — the exploration sweep must
# absorb the pinned empty-input grand-total divergence exactly like the
# suite does, no more and no less.
def _sql(check=None):
    check = check or fz._assert_engines_agree
    return lambda sql: check(spark, SF, sql)


SHAPES = [
    ("single_table", fz._single_table_query, _sql()),
    ("join", fz._join_query, _sql()),
    ("window", fz._window_query, _sql()),
    ("setop", fz._setop_query, _sql()),
    ("exists", fz._exists_query, _sql()),
    ("subquery_pred", fz._subquery_pred_query, _sql()),
    ("string", fz._documents_query, _sql()),
    ("temporal", fz._temporal_query, _sql()),
    ("range_join", fz._range_join_query, _sql()),
    ("nested_agg", fz._nested_agg_query, _sql()),
    ("grouping_sets", fz._grouping_sets_query,
     _sql(fz._assert_grouping_sets_agree)),
    ("null_semantics", fz._null_semantics_query, _sql()),
    ("topk", fz._topk_query, _sql()),
    ("join_topk", fz._join_topk_query, _sql()),
    ("asof", fz._asof_params,
     lambda p: fz._assert_frame_matches_oracle(
         fz._asof_spark_frame(spark, p), fz._asof_oracle_sql(p), SF)),
    ("pivot", fz._pivot_params,
     lambda p: fz._assert_frame_matches_oracle(
         fz._pivot_spark_frame(spark, p), fz._pivot_oracle_sql(p), SF)),
    ("unpivot", fz._unpivot_params,
     lambda p: fz._assert_frame_matches_oracle(
         fz._unpivot_spark_frame(spark, p), fz._unpivot_oracle_sql(p), SF)),
    ("gapfill", fz._gapfill_params,
     lambda p: fz._assert_frame_matches_oracle(
         fz._gapfill_spark_frame(spark, p), fz._gapfill_oracle_sql(p), SF)),
    ("chained_window", fz._chained_window_query, _sql()),
    ("recursive_chain", fz._recursive_chain_query, _sql()),
]

_KNOWN = {name for name, _, _ in SHAPES}
_unknown = ONLY - _KNOWN
if _unknown:
    sys.exit(
        f"unknown shape name(s) {sorted(_unknown)}; known: {sorted(_KNOWN)}"
    )

counts = {}
total = 0
for i, (name, strat, check) in enumerate(SHAPES):
    if ONLY and name not in ONLY:
        continue
    counts[name] = 0

    def make_body(_name, _check):
        # no default args on the decorated fn: @given rejects defaults
        def body(drawn):
            counts[_name] += 1
            _check(drawn)

        return body

    sweep = seed(SEED + i)(settings(**S)(given(drawn=strat())(make_body(name, check))))
    sweep()
    total += counts[name]
    print(f"{name}: {counts[name]} plans OK", flush=True)

if ONLY and total == 0:
    sys.exit("no plans ran despite explicit shape selection; refusing EXPLORE_OK")
print("EXPLORE_OK", SF, "total_plans", total, "seed", SEED)
