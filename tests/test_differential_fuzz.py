"""Differential query fuzzing: hypothesis-generated relational queries run
on BOTH engines (SURVEY.md §5.4 extended).

The per-query oracles in ``tests/test_oracle_parity.py`` verify the
hand-written query/oracle pairs; this module closes the complementary gap —
systematic coverage of the *composition space* (filter × group × aggregate ×
join) that hand-written queries sample only pointwise. Each example builds a
random query AST, renders it to ONE SQL text in the ANSI subset both engines
parse identically, executes it via ``spark.sql`` over the parquet views AND
via DuckDB over the same files, and asserts the driver's exact protocol
(normalized frames + md5 value hash).

Determinism rules (the registry contract, applied generatively):
- aggregates are exact-integer (COUNT, SUM of integral casts / cents) or
  order-free (MIN/MAX), never float summations;
- every aggregate is COALESCE'd so an empty filter match yields the same
  typed sentinel in both engines (NULL would surface as float64-NaN in one
  pandas conversion and object-None in the other);
- every computed column carries the same alias on both sides by construction
  (one SQL text);
- ``derandomize=True`` so CI failures reproduce.

The suite runs at sf0.001 for latency; the (then-)identical corpus was
also swept at sf0.01 (10× rows, the driver's correctness scale) with zero
divergence, and two seeded EXPLORATION runs beyond the fixed corpus —
100/shape (@seed(20260815), 1,100 plans) then 300/shape across all twelve
then-current shapes (@seed(818181), 3,600 plans) — also found zero
(round 9 added two more shapes — ORDER BY+LIMIT top-k and window-top-k
over a join, fourteen total — and ran two more exploration sweeps:
200/shape @sf0.01 seed 515151 and 400/shape @sf0.001 seed 626262,
zero new divergences, one rediscovery of the pinned empty-ROLLUP case;
round 10 added the two driver-green-but-never-fuzzed compositions —
shape 15: as-of join, the engine's carry-forward DataFrame rewrite vs
DuckDB's NATIVE ASOF JOIN; shape 16: pivot/unpivot, Spark pivot()/
unpivot() vs conditional-aggregation / UNION ALL SQL — sixteen total,
explored at 350/shape @sf0.001 seed 909090 + 150/shape @sf0.01 seed
919191, zero divergences).
Round 8,
/tmp/fuzz_sf001.log and /tmp/fuzz_explore*.log protocols: rebuild each
strategy's examples, assert per plan in one session (~5,500 total plan
executions, five real divergences found and pinned, none unexplained).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from stock_data_pipeline_spark.catalog import TABLES, load

from .oracle import _driver_hash, collect_pdf, normalize, run_oracle

_SETTINGS = dict(
    max_examples=40,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# --------------------------------------------------------------------------
# Predicate atoms per table: each strategy yields a SQL fragment valid in
# both dialects over the driver's pre-registered view names.
# --------------------------------------------------------------------------

_CMP = st.sampled_from(["<", "<=", "=", ">", ">=", "<>"])


def _lineitem_atoms() -> st.SearchStrategy[str]:
    return st.one_of(
        st.tuples(_CMP, st.integers(1, 50)).map(
            lambda t: f"l_quantity {t[0]} {t[1]}"
        ),
        st.tuples(st.integers(0, 8), st.integers(0, 8)).map(
            lambda t: "l_discount BETWEEN 0.0{} AND 0.0{}".format(
                min(t), max(t)
            )
        ),
        st.tuples(_CMP, st.integers(1992, 1998), st.integers(1, 12)).map(
            lambda t: "l_shipdate {} TIMESTAMP '{}-{:02d}-15 00:00:00'".format(
                t[0], t[1], t[2]
            )
        ),
        st.lists(
            st.sampled_from(["'A'", "'N'", "'R'"]), min_size=1, max_size=3,
            unique=True,
        ).map(lambda v: f"l_returnflag IN ({', '.join(sorted(v))})"),
        st.sampled_from(["l_linestatus = 'O'", "l_linestatus = 'F'"]),
        st.tuples(_CMP, st.integers(1, 7)).map(
            lambda t: f"l_linenumber {t[0]} {t[1]}"
        ),
    )


def _orders_atoms() -> st.SearchStrategy[str]:
    return st.one_of(
        st.sampled_from(
            ["o_orderstatus = 'O'", "o_orderstatus = 'F'",
             "o_orderstatus <> 'P'"]
        ),
        st.tuples(_CMP, st.integers(1, 300)).map(
            lambda t: f"o_totalprice {t[0]} {t[1] * 1000}"
        ),
        st.tuples(_CMP, st.integers(1992, 1998)).map(
            lambda t: f"o_orderdate {t[0]} TIMESTAMP '{t[1]}-06-01 00:00:00'"
        ),
        st.integers(1, 5).map(
            lambda p: f"o_orderpriority LIKE '{p}-%'"
        ),
    )


def _predicates(atoms: st.SearchStrategy[str]) -> st.SearchStrategy[str]:
    """Random boolean tree (depth <= 3) over the table's atoms."""
    return st.recursive(
        atoms,
        lambda kids: st.one_of(
            st.tuples(kids, st.sampled_from(["AND", "OR"]), kids).map(
                lambda t: f"({t[0]} {t[1]} {t[2]})"
            ),
            kids.map(lambda p: f"(NOT {p})"),
        ),
        max_leaves=4,
    )


# --------------------------------------------------------------------------
# Aggregates: exact-integer or order-free only, all COALESCE'd, fixed
# aliases agg0..aggN so the two engines' schemas match by construction.
# --------------------------------------------------------------------------

_LINEITEM_AGGS = [
    "CAST(COUNT(*) AS BIGINT)",
    "CAST(COALESCE(SUM(CAST(l_quantity AS BIGINT)), 0) AS BIGINT)",
    "CAST(COALESCE(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)), 0)"
    " AS BIGINT)",
    "CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)",
    "COALESCE(MIN(l_returnflag), '')",
    "COALESCE(MAX(l_shipdate), TIMESTAMP '1970-01-01 00:00:00')",
    "CAST(COALESCE(MIN(l_linenumber), 0) AS BIGINT)",
]

_GROUP_KEYS = [
    "l_returnflag",
    "l_linestatus",
    "l_linenumber",
    "EXTRACT(YEAR FROM l_shipdate)",
]


def _render(
    keys: list[str], aggs: list[str], table_expr: str, where: str,
    having_min_count: int | None,
) -> str:
    key_cols = [f"{k} AS key{i}" for i, k in enumerate(keys)]
    agg_cols = [f"{a} AS agg{i}" for i, a in enumerate(aggs)]
    sql = f"SELECT {', '.join(key_cols + agg_cols)} FROM {table_expr}"
    sql += f" WHERE {where}"
    if keys:
        sql += f" GROUP BY {', '.join(keys)}"
        if having_min_count is not None:
            sql += f" HAVING COUNT(*) >= {having_min_count}"
    return sql


@st.composite
def _single_table_query(draw) -> str:
    keys = draw(
        st.lists(st.sampled_from(_GROUP_KEYS), max_size=3, unique=True)
    )
    aggs = draw(
        st.lists(st.sampled_from(_LINEITEM_AGGS), min_size=1, max_size=4,
                 unique=True)
    )
    where = draw(_predicates(_lineitem_atoms()))
    having = draw(st.one_of(st.none(), st.integers(1, 5))) if keys else None
    return _render(keys, aggs, "lineitem", where, having)


# Window shape: deterministic by construction — every OVER clause ends in
# a tie-break tail that makes the ordering TOTAL. The fuzzer's first
# window corpus caught that the synthetic lineitem (unlike real TPC-H)
# does NOT have unique (l_orderkey, l_linenumber) — nor even a unique
# (orderkey, linenumber, partkey, suppkey) at sf0.001 — so frames over
# that order are engine-divergent; the 6-column tail below is verified
# unique at sf0.001/0.01/0.1. Window SUM/COUNT are CAST BIGINT at the
# expression root (the b54 lesson: DuckDB surfaces integer window sums
# as HUGEINT→float64).

_WIN_TIEBREAK = (
    "l_orderkey, l_linenumber, l_partkey, l_suppkey, l_shipdate, "
    "l_extendedprice"
)
_WIN_ORDER = st.sampled_from(
    [_WIN_TIEBREAK, f"l_quantity, {_WIN_TIEBREAK}",
     f"l_shipdate DESC, {_WIN_TIEBREAK}"]
)
_WIN_PARTITION = st.lists(
    st.sampled_from(["l_returnflag", "l_linestatus"]), max_size=2,
    unique=True,
)


def _window_exprs(over: str) -> st.SearchStrategy[str]:
    return st.one_of(
        st.just(f"ROW_NUMBER() OVER ({over})"),
        st.just(f"RANK() OVER ({over})"),
        st.integers(1, 5).map(
            lambda k: "CAST(SUM(CAST(l_quantity AS BIGINT)) OVER "
            f"({over} ROWS BETWEEN {k} PRECEDING AND CURRENT ROW)"
            " AS BIGINT)"
        ),
        st.just(
            f"CAST(COUNT(*) OVER ({over} ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND CURRENT ROW) AS BIGINT)"
        ),
        st.integers(1, 3).map(
            lambda n: "COALESCE(CAST(LAG(CAST(l_quantity AS BIGINT), "
            f"{n}) OVER ({over}) AS BIGINT), -1)"
        ),
        st.integers(1, 4).map(
            lambda k: "CAST(MAX(CAST(ROUND(l_extendedprice * 100) AS"
            f" BIGINT)) OVER ({over} ROWS BETWEEN CURRENT ROW AND {k}"
            " FOLLOWING) AS BIGINT)"
        ),
    )


@st.composite
def _window_query(draw) -> str:
    part = draw(_WIN_PARTITION)
    order = draw(_WIN_ORDER)
    over = (f"PARTITION BY {', '.join(part)} " if part else "") + \
        f"ORDER BY {order}"
    n_exprs = draw(st.integers(1, 2))
    exprs = [
        f"{draw(_window_exprs(over))} AS win{i}" for i in range(n_exprs)
    ]
    where = draw(_predicates(_lineitem_atoms()))
    return (
        "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, "
        + ", ".join(exprs)
        + f" FROM lineitem WHERE {where}"
    )


def _customer_atoms() -> st.SearchStrategy[str]:
    return st.one_of(
        st.sampled_from(
            ["c_mktsegment = 'BUILDING'", "c_mktsegment <> 'AUTOMOBILE'",
             "c_mktsegment IN ('MACHINERY', 'HOUSEHOLD')"]
        ),
        st.tuples(_CMP, st.integers(-9, 99)).map(
            lambda t: f"c_acctbal {t[0]} {t[1] * 100}"
        ),
        st.tuples(_CMP, st.integers(0, 24)).map(
            lambda t: f"c_nationkey {t[0]} {t[1]}"
        ),
    )


@st.composite
def _join_query(draw) -> str:
    """lineitem⋈orders, optionally extended to the 3-way star with
    customer — the dimension side Catalyst should broadcast."""
    with_customer = draw(st.booleans())
    keys = draw(
        st.lists(
            st.sampled_from(
                _GROUP_KEYS
                + ["o_orderstatus", "o_orderpriority"]
                + (["c_mktsegment"] if with_customer else [])
            ),
            max_size=2, unique=True,
        )
    )
    aggs = draw(
        st.lists(st.sampled_from(_LINEITEM_AGGS), min_size=1, max_size=3,
                 unique=True)
    )
    wl = draw(_predicates(_lineitem_atoms()))
    wo = draw(_predicates(_orders_atoms()))
    table = "lineitem JOIN orders ON l_orderkey = o_orderkey"
    where = f"({wl} AND {wo})"
    if with_customer:
        table += " JOIN customer ON o_custkey = c_custkey"
        where += f" AND {draw(_predicates(_customer_atoms()))}"
    return _render(keys, aggs, table, where, None)


# Set-operation shape: two independently-filtered projections of the same
# grain combined with UNION / UNION ALL / INTERSECT [ALL] / EXCEPT [ALL] —
# multiset semantics are exactly what the sorted-hash compare measures.


@st.composite
def _setop_query(draw) -> str:
    op = draw(st.sampled_from(
        ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL",
         "EXCEPT", "EXCEPT ALL"]
    ))
    proj = draw(st.sampled_from(
        ["l_returnflag, l_linestatus",
         "l_returnflag, l_linenumber",
         "l_linestatus, EXTRACT(YEAR FROM l_shipdate) AS y"]
    ))
    p1 = draw(_predicates(_lineitem_atoms()))
    p2 = draw(_predicates(_lineitem_atoms()))
    return (
        f"SELECT {proj} FROM lineitem WHERE {p1} "
        f"{op} SELECT {proj} FROM lineitem WHERE {p2}"
    )


# Correlated-subquery shape: [NOT] EXISTS over the orderkey correlation —
# the decorrelation path (semi/anti join rewrite) in both engines.


@st.composite
def _exists_query(draw) -> str:
    neg = draw(st.booleans())
    wo = draw(_predicates(_orders_atoms()))
    wl = draw(_predicates(_lineitem_atoms()))
    kw = "NOT EXISTS" if neg else "EXISTS"
    return (
        "SELECT o_orderkey, o_orderstatus FROM orders o "
        f"WHERE {wo} AND {kw} (SELECT 1 FROM lineitem l "
        f"WHERE l.l_orderkey = o.o_orderkey AND {wl})"
    )


# Temporal shape: the dual-dialect calendar subset, probed before
# inclusion (see test_known_engine_divergences for the excluded ops).
# Every date-typed result is CAST AS TIMESTAMP: DATE columns are NOT
# driver-comparable — Spark's toPandas yields object-dtype datetime.date
# ("1999-09-01") while DuckDB's yields datetime64 ("1999-09-01 00:00:00"),
# a value-hash mismatch with identical semantics (this fuzzer's temporal
# corpus caught that). EXTRACT(DOW) is excluded outright (Sunday=0 in
# DuckDB, 1-based in Spark). Month/year interval arithmetic clamps
# month-ends identically (probed: Jan-31 + 1 MONTH → Feb-28 in both).


def _temporal_exprs() -> st.SearchStrategy[str]:
    return st.one_of(
        st.sampled_from(["month", "year", "quarter", "week"]).map(
            lambda g: f"CAST(DATE_TRUNC('{g}', l_shipdate) AS TIMESTAMP)"
        ),
        st.sampled_from(
            ["YEAR", "MONTH", "DAY", "QUARTER", "DOY", "WEEK"]
        ).map(lambda f: f"CAST(EXTRACT({f} FROM l_shipdate) AS BIGINT)"),
        st.tuples(
            st.sampled_from(["+", "-"]), st.integers(1, 90),
            st.sampled_from(["DAY", "MONTH"]),
        ).map(lambda t: f"l_shipdate {t[0]} INTERVAL {t[1]} {t[2]}"),
        st.just("CAST(LAST_DAY(l_shipdate) AS TIMESTAMP)"),
        st.integers(1, 30).map(
            lambda k: f"CAST(CAST(l_shipdate AS DATE) + {k} AS TIMESTAMP)"
        ),
        st.integers(1994, 1997).map(
            lambda y: "GREATEST(l_shipdate, "
            f"TIMESTAMP '{y}-06-15 00:00:00')"
        ),
    )


@st.composite
def _temporal_query(draw) -> str:
    n_exprs = draw(st.integers(1, 3))
    exprs = [f"{draw(_temporal_exprs())} AS t{i}" for i in range(n_exprs)]
    where = draw(_predicates(_lineitem_atoms()))
    return (
        "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, "
        + ", ".join(exprs)
        + f" FROM lineitem WHERE {where}"
    )


# Equi+range join shape: the orderkey equi-join narrowed by a random
# shipdate-within-window range predicate — the inequality-join path
# (Spark evaluates the range residual on the equi-join output; at 100 TB
# this is the shape the b07 as-of machinery optimizes, here fuzzed for
# semantics, not plan).


@st.composite
def _range_join_query(draw) -> str:
    days = draw(st.integers(5, 400))
    neg = draw(st.booleans())
    between = (
        f"l_shipdate {'NOT ' if neg else ''}BETWEEN o_orderdate AND "
        f"o_orderdate + INTERVAL {days} DAY"
    )
    aggs = draw(
        st.lists(st.sampled_from(_LINEITEM_AGGS), min_size=1, max_size=2,
                 unique=True)
    )
    wo = draw(_predicates(_orders_atoms()))
    agg_cols = [f"{a} AS agg{i}" for i, a in enumerate(aggs)]
    return (
        f"SELECT o_orderkey, {', '.join(agg_cols)} "
        f"FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        f"AND {between} WHERE {wo} GROUP BY o_orderkey"
    )


# Nested-aggregation shape over events: a per-(user, type) CTE grain
# re-aggregated to the type grain — two-level aggregation trees through
# both optimizers. Monetary values go through the house FLOOR(x·m + 0.5)
# spelling: bare CAST(double AS BIGINT) is a pinned divergence (DuckDB
# rounds, Spark truncates — see test_known_engine_divergences).


def _events_atoms() -> st.SearchStrategy[str]:
    return st.one_of(
        st.lists(
            st.sampled_from(["'click'", "'view'", "'purchase'"]),
            min_size=1, max_size=2, unique=True,
        ).map(lambda v: f"event_type IN ({', '.join(sorted(v))})"),
        st.tuples(_CMP, st.integers(0, 100)).map(
            lambda t: f"value {t[0]} {t[1]}"
        ),
        st.tuples(st.integers(2, 9), st.integers(0, 8)).map(
            lambda t: f"user_id % {t[0]} = {t[1] % t[0]}"
        ),
        st.tuples(_CMP, st.integers(0, 23)).map(
            lambda t: f"EXTRACT(HOUR FROM ts) {t[0]} {t[1]}"
        ),
    )


@st.composite
def _nested_agg_query(draw) -> str:
    w1 = draw(_predicates(_events_atoms()))
    min_n = draw(st.integers(1, 4))
    outer_aggs = draw(
        st.lists(
            st.sampled_from(
                [
                    "CAST(COUNT(*) AS BIGINT)",
                    "CAST(COALESCE(SUM(n), 0) AS BIGINT)",
                    "CAST(COALESCE(MAX(v_cents), 0) AS BIGINT)",
                    "CAST(COALESCE(MIN(n), 0) AS BIGINT)",
                ]
            ),
            min_size=1, max_size=3, unique=True,
        )
    )
    agg_cols = [f"{a} AS agg{i}" for i, a in enumerate(outer_aggs)]
    return (
        "WITH per_user AS ("
        "SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(COALESCE(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)), 0)"
        " AS BIGINT) AS v_cents "
        f"FROM events WHERE {w1} GROUP BY user_id, event_type) "
        f"SELECT event_type, {', '.join(agg_cols)} FROM per_user "
        f"WHERE n >= {min_n} GROUP BY event_type"
    )


# Multi-grain aggregation shape: ROLLUP / CUBE / random GROUPING SETS
# over 2-3 keys with GROUPING() indicators — the NULL-placeholder
# semantics both engines must agree on (a super-aggregate NULL must
# hash identically to a data NULL only via the GROUPING() column).


@st.composite
def _grouping_sets_query(draw) -> str:
    keys = draw(
        st.lists(st.sampled_from(_GROUP_KEYS), min_size=2, max_size=3,
                 unique=True)
    )
    aggs = draw(
        st.lists(st.sampled_from(_LINEITEM_AGGS), min_size=1, max_size=2,
                 unique=True)
    )
    mode = draw(st.sampled_from(["ROLLUP", "CUBE", "SETS"]))
    if mode == "SETS":
        # the full key set is always one grouping set: Spark requires
        # every GROUPING(col) column to appear in at least one set
        subset_idx = [list(range(len(keys)))] + draw(
            st.lists(
                st.lists(
                    st.integers(0, len(keys) - 1), max_size=len(keys) - 1,
                    unique=True,
                ),
                max_size=3, unique_by=lambda s: tuple(sorted(s)),
            )
        )
        sets = ", ".join(
            "(" + ", ".join(keys[i] for i in sorted(s)) + ")"
            for s in subset_idx
        )
        grouping = f"GROUPING SETS ({sets})"
    else:
        grouping = f"{mode} ({', '.join(keys)})"
    key_cols = [f"{k} AS key{i}" for i, k in enumerate(keys)]
    ind_cols = [
        f"CAST(GROUPING({k}) AS BIGINT) AS grp{i}" for i, k in enumerate(keys)
    ]
    agg_cols = [f"{a} AS agg{i}" for i, a in enumerate(aggs)]
    where = draw(_predicates(_lineitem_atoms()))
    return (
        f"SELECT {', '.join(key_cols + ind_cols + agg_cols)} "
        f"FROM lineitem WHERE {where} GROUP BY {grouping}"
    )


# NULL-semantics shape: the synthetic tables carry no NULLs, so inject
# them (NULLIF / CASE) and fuzz the three-valued logic surface — NULL
# group keys (both engines group NULLs together), NULL-skipping
# aggregates, and windows ordered by nullable keys. Nullable ORDER BY
# keys ALWAYS carry an explicit NULLS FIRST/LAST: the engine DEFAULTS
# diverge (Spark ASC is NULLS FIRST, DuckDB ASC is NULLS LAST — pinned
# in test_known_engine_divergences).


def _nullable_key() -> st.SearchStrategy[str]:
    return st.one_of(
        st.sampled_from(["'A'", "'N'", "'R'"]).map(
            lambda v: f"NULLIF(l_returnflag, {v})"
        ),
        st.integers(10, 40).map(
            lambda k: f"CASE WHEN l_quantity > {k} THEN NULL"
            " ELSE l_linestatus END"
        ),
    )


def _nullable_val() -> st.SearchStrategy[str]:
    return st.one_of(
        st.integers(1, 50).map(
            lambda q: f"NULLIF(CAST(l_quantity AS BIGINT), {q})"
        ),
        st.integers(1, 7).map(
            lambda n: f"CASE WHEN l_linenumber = {n} THEN NULL"
            " ELSE CAST(l_linenumber AS BIGINT) END"
        ),
    )


@st.composite
def _null_semantics_query(draw) -> str:
    where = draw(_predicates(_lineitem_atoms()))
    if draw(st.booleans()):
        key = draw(_nullable_key())
        val = draw(_nullable_val())
        return (
            f"SELECT nk AS key0, CAST(COUNT(nv) AS BIGINT) AS agg0, "
            "CAST(COUNT(*) AS BIGINT) AS agg1, "
            "CAST(COALESCE(SUM(nv), 0) AS BIGINT) AS agg2, "
            "COALESCE(CAST(MIN(nv) AS BIGINT), -1) AS agg3 "
            f"FROM (SELECT {key} AS nk, {val} AS nv FROM lineitem "
            f"WHERE {where}) GROUP BY nk"
        )
    val = draw(_nullable_val())
    placement = draw(st.sampled_from(["NULLS FIRST", "NULLS LAST"]))
    direction = draw(st.sampled_from(["ASC", "DESC"]))
    return (
        "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, "
        f"ROW_NUMBER() OVER (ORDER BY {val} {direction} {placement}, "
        f"{_WIN_TIEBREAK}) AS rn "
        f"FROM lineitem WHERE {where}"
    )


# Subquery-predicate shape: [NOT] IN over the correlation key, or a
# comparison against a scalar aggregate subquery — the remaining
# rewrite paths (semi/anti on IN, single-row join on scalar).


@st.composite
def _subquery_pred_query(draw) -> str:
    wo = draw(_predicates(_orders_atoms()))
    which = draw(st.sampled_from(["in", "not_in", "scalar"]))
    if which == "scalar":
        # compare against a global scalar aggregate of the other table
        frac = draw(st.integers(2, 10))
        pred = (
            "o_totalprice > (SELECT COALESCE(SUM(CAST(l_quantity AS "
            f"BIGINT)), 0) / {frac} FROM lineitem WHERE "
            f"{draw(_predicates(_lineitem_atoms()))})"
        )
    else:
        kw = "IN" if which == "in" else "NOT IN"
        pred = (
            f"o_orderkey {kw} (SELECT l_orderkey FROM lineitem WHERE "
            f"{draw(_predicates(_lineitem_atoms()))})"
        )
    return (
        "SELECT o_orderkey, o_orderpriority FROM orders "
        f"WHERE {wo} AND {pred}"
    )


# String-expression shape over documents: the dual-dialect scalar-function
# subset backing the c04 text operators (LENGTH/SUBSTR/REPLACE/POSITION/
# TRIM/LEFT/||/CASE/NULLIF), row-level with the unique doc_id carried.
# ASCII corpus, so binary-collation MIN/MAX and LIKE agree by construction.

_WORDS = ["data", "query", "row", "spark", "join", "the"]


def _doc_exprs() -> st.SearchStrategy[str]:
    return st.one_of(
        st.just("CAST(LENGTH(text) AS BIGINT)"),
        st.sampled_from(_WORDS).map(
            lambda w: f"CAST(POSITION('{w}' IN text) AS BIGINT)"
        ),
        st.tuples(st.integers(1, 20), st.integers(0, 20)).map(
            lambda t: f"SUBSTR(text, {t[0]}, {t[1]})"
        ),
        st.sampled_from("aeiou").map(
            lambda c: f"CAST(LENGTH(REPLACE(text, '{c}', '')) AS BIGINT)"
        ),
        st.just("UPPER(lang) || '-' || LOWER(source)"),
        st.integers(1, 15).map(lambda n: f"LEFT(TRIM(text), {n})"),
        st.integers(100, 400).map(
            lambda k: f"CASE WHEN n_chars > {k} THEN 'long' ELSE 'short' END"
        ),
        st.sampled_from(["en", "es", "zh", "de"]).map(
            lambda l: f"COALESCE(NULLIF(lang, '{l}'), 'OTHER')"
        ),
    )


def _doc_atoms() -> st.SearchStrategy[str]:
    return st.one_of(
        st.lists(
            st.sampled_from(["'en'", "'es'", "'zh'", "'de'", "'fr'"]),
            min_size=1, max_size=3, unique=True,
        ).map(lambda v: f"lang IN ({', '.join(sorted(v))})"),
        st.integers(0, 4).map(lambda k: f"source = 'src{k}'"),
        st.tuples(_CMP, st.integers(50, 500)).map(
            lambda t: f"n_chars {t[0]} {t[1]}"
        ),
        st.sampled_from(_WORDS).map(lambda w: f"text LIKE '%{w}%'"),
        st.tuples(st.integers(2, 7), st.integers(0, 6)).map(
            lambda t: f"LENGTH(text) % {t[0]} = {t[1] % t[0]}"
        ),
    )


@st.composite
def _documents_query(draw) -> str:
    n_exprs = draw(st.integers(1, 3))
    exprs = [f"{draw(_doc_exprs())} AS ex{i}" for i in range(n_exprs)]
    where = draw(_predicates(_doc_atoms()))
    return (
        "SELECT doc_id, " + ", ".join(exprs)
        + f" FROM documents WHERE {where}"
    )


# --------------------------------------------------------------------------
# Harness
# --------------------------------------------------------------------------

_VIEWS_READY: set[int] = set()


def _ensure_views(spark, sf_dir: str) -> None:
    token = id(spark._jsparkSession) if hasattr(spark, "_jsparkSession") else 0
    if token in _VIEWS_READY:
        return
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_READY.add(token)


def _oracle_or_skip(sql: str, sf_dir: str):
    """Run the DuckDB side; on a DuckDB INTERNAL error (an oracle-engine
    bug, not an engine divergence) skip the example. The one known
    instance in this environment's DuckDB 1.0.0 — identical duplicated
    OR branches of (timestamp-equality AND BETWEEN) crash its OR-filter
    rewrite — is pinned in test_known_engine_divergences so the skip
    stays justified."""
    import duckdb

    from hypothesis import assume

    try:
        return run_oracle(sql, sf_dir)
    except duckdb.Error as e:
        if "INTERNAL Error" in str(e):
            assume(False)
        raise


def _assert_engines_agree(spark, sf_dir: str, sql: str) -> None:
    spark_pdf = normalize(collect_pdf(spark.sql(sql)))
    duck_pdf = normalize(_oracle_or_skip(sql, sf_dir))
    assert len(spark_pdf) == len(duck_pdf), (
        f"row count {len(spark_pdf)} vs {len(duck_pdf)}\nSQL: {sql}"
    )
    assert _driver_hash(spark_pdf) == _driver_hash(duck_pdf), (
        f"value-hash mismatch\nSQL: {sql}\n"
        f"spark head:\n{spark_pdf.head()}\nduck head:\n{duck_pdf.head()}"
    )


@pytest.fixture(scope="module")
def fuzz_spark(spark, sf_dir):
    _ensure_views(spark, sf_dir)
    return spark


@settings(**_SETTINGS)
@given(sql=_single_table_query())
def test_fuzz_filter_group_aggregate(fuzz_spark, sf_dir, sql):
    """Random filter×group×aggregate over lineitem: both engines must
    produce hash-identical results for every generated plan."""
    _assert_engines_agree(fuzz_spark, sf_dir, sql)


@settings(**_SETTINGS)
@given(sql=_join_query())
def test_fuzz_join_filter_aggregate(fuzz_spark, sf_dir, sql):
    """Random two-sided-filtered join + aggregate over lineitem⋈orders."""
    _assert_engines_agree(fuzz_spark, sf_dir, sql)


@settings(**_SETTINGS)
@given(sql=_window_query())
def test_fuzz_window_functions(fuzz_spark, sf_dir, sql):
    """Random rank/frame/offset window expressions over a total order:
    the per-row outputs must be hash-identical across engines."""
    _assert_engines_agree(fuzz_spark, sf_dir, sql)


@settings(**_SETTINGS)
@given(sql=_setop_query())
def test_fuzz_set_operations(fuzz_spark, sf_dir, sql):
    """Random UNION/INTERSECT/EXCEPT (incl. ALL multiset variants) of
    independently-filtered projections."""
    _assert_engines_agree(fuzz_spark, sf_dir, sql)


@settings(**_SETTINGS)
@given(sql=_exists_query())
def test_fuzz_correlated_exists(fuzz_spark, sf_dir, sql):
    """Random correlated [NOT] EXISTS: both engines' decorrelation must
    agree row-for-row."""
    _assert_engines_agree(fuzz_spark, sf_dir, sql)


@settings(**_SETTINGS)
@given(sql=_subquery_pred_query())
def test_fuzz_subquery_predicates(fuzz_spark, sf_dir, sql):
    """Random [NOT] IN and scalar-aggregate subquery predicates."""
    _assert_engines_agree(fuzz_spark, sf_dir, sql)


@settings(**_SETTINGS)
@given(sql=_documents_query())
def test_fuzz_string_expressions(fuzz_spark, sf_dir, sql):
    """Random scalar string expressions over documents: the
    dual-dialect function subset must evaluate identically per row."""
    _assert_engines_agree(fuzz_spark, sf_dir, sql)


@settings(**_SETTINGS)
@given(sql=_temporal_query())
def test_fuzz_temporal_functions(fuzz_spark, sf_dir, sql):
    """Random calendar expressions from the probed dual-dialect subset."""
    _assert_engines_agree(fuzz_spark, sf_dir, sql)


@settings(**_SETTINGS)
@given(sql=_range_join_query())
def test_fuzz_range_join(fuzz_spark, sf_dir, sql):
    """Random equi+range joins (shipdate within an order-date window)."""
    _assert_engines_agree(fuzz_spark, sf_dir, sql)


@settings(**_SETTINGS)
@given(sql=_nested_agg_query())
def test_fuzz_nested_aggregation(fuzz_spark, sf_dir, sql):
    """Random two-level aggregation trees (CTE grain re-aggregated)."""
    _assert_engines_agree(fuzz_spark, sf_dir, sql)


@settings(**_SETTINGS)
@given(sql=_grouping_sets_query())
def test_fuzz_grouping_sets(fuzz_spark, sf_dir, sql):
    """Random ROLLUP/CUBE/GROUPING SETS with GROUPING() indicators.

    One REAL divergence is pinned in _assert_grouping_sets_agree because
    the fuzzer found it: over ZERO matching rows, DuckDB emits the
    SQL-standard grand-total row for each empty-capable () grouping set
    (COUNT 0, every key NULL, every GROUPING() = 1) while Spark emits
    nothing. When row counts differ, the only acceptable shape is
    exactly that."""
    _assert_grouping_sets_agree(fuzz_spark, sf_dir, sql)


def _assert_grouping_sets_agree(spark, sf_dir: str, sql: str) -> None:
    """The grouping-sets twin of _assert_engines_agree: absorbs ONLY the
    pinned empty-input grand-total divergence (module-level so the
    exploration runner in tools/fuzz_explore.py sweeps the same check
    the suite asserts)."""
    spark_pdf = normalize(collect_pdf(spark.sql(sql)))
    duck_pdf = normalize(_oracle_or_skip(sql, sf_dir))
    if len(spark_pdf) != len(duck_pdf):
        assert len(spark_pdf) == 0, (
            f"row-count mismatch on NON-empty input\nSQL: {sql}"
        )
        grp = [c for c in duck_pdf.columns if c.startswith("grp")]
        key = [c for c in duck_pdf.columns if c.startswith("key")]
        assert (duck_pdf[grp] == 1).all().all() and (
            duck_pdf[key].isna().all().all()
        ), f"unexpected rows beyond the grand-total divergence\nSQL: {sql}"
        return
    assert _driver_hash(spark_pdf) == _driver_hash(duck_pdf), (
        f"value-hash mismatch\nSQL: {sql}"
    )


@settings(**_SETTINGS)
@given(sql=_null_semantics_query())
def test_fuzz_null_semantics(fuzz_spark, sf_dir, sql):
    """Random NULL-injected group keys, NULL-skipping aggregates, and
    nullable window orderings with explicit NULLS placement."""
    _assert_engines_agree(fuzz_spark, sf_dir, sql)


# Top-k shape: ORDER BY <expr> <dir> LIMIT k over raw lineitem rows. The
# ordering is made TOTAL by appending the verified-unique column tail
# (FIXTURES.md: synthetic lineitem is NOT keyed on (orderkey, linenumber);
# the 6-column tail below is verified dup-free at sf0.001/0.01/0.1 — the
# SFs this fuzzer runs at; re-verify per FIXTURES.md before pointing the
# fuzzer at a larger SF, or a duplicate tail would make the ORDER BY
# non-total and fake a divergence), so TakeOrdered on the
# Spark side and the sort-limit on the DuckDB side must return the
# identical row SET — no sampled/unstable-sort escape hatch.

_LI_UNIQUE_TAIL = (
    "l_orderkey, l_linenumber, l_partkey, l_suppkey, l_shipdate, "
    "l_extendedprice"
)

_TOPK_ORDER_EXPRS = [
    "l_extendedprice",
    "l_quantity",
    "l_discount",
    "l_shipdate",
    "l_extendedprice * (1 - l_discount)",
]


@st.composite
def _topk_query(draw) -> str:
    expr = draw(st.sampled_from(_TOPK_ORDER_EXPRS))
    direction = draw(st.sampled_from(["ASC", "DESC"]))
    k = draw(st.integers(1, 50))
    where = draw(_predicates(_lineitem_atoms()))
    return (
        f"SELECT {_LI_UNIQUE_TAIL}, {expr} AS ord0 "
        f"FROM lineitem WHERE {where} "
        f"ORDER BY ord0 {direction}, {_LI_UNIQUE_TAIL} "
        f"LIMIT {k}"
    )


# Window-over-join shape: per-group top-k on the result of a fact x dim
# join — the WindowGroupLimit composition (rank inside a subquery, outer
# rank filter). Ordering is total (o_totalprice then unique o_orderkey),
# so both engines must keep the identical rows per group.


@st.composite
def _join_topk_query(draw) -> str:
    part_key = draw(st.sampled_from(
        ["c_nationkey", "c_mktsegment", "o_orderstatus", "o_orderpriority"]
    ))
    direction = draw(st.sampled_from(["ASC", "DESC"]))
    k = draw(st.integers(1, 5))
    wo = draw(_predicates(_orders_atoms()))
    wc = draw(_predicates(_customer_atoms()))
    return (
        f"SELECT * FROM ("
        f"SELECT {part_key} AS key0, o_orderkey, "
        f"CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents, "
        f"CAST(ROW_NUMBER() OVER (PARTITION BY {part_key} "
        f"ORDER BY o_totalprice {direction}, o_orderkey ASC) AS BIGINT) AS rn "
        f"FROM orders JOIN customer ON o_custkey = c_custkey "
        f"WHERE ({wo} AND {wc})"
        f") WHERE rn <= {k}"
    )


@settings(**_SETTINGS)
@given(sql=_topk_query())
def test_fuzz_order_limit_topk(fuzz_spark, sf_dir, sql):
    """Random ORDER BY + LIMIT with a total (unique-tail) order: Spark's
    TakeOrderedAndProject and DuckDB's sort-limit must return the
    identical row set."""
    _assert_engines_agree(fuzz_spark, sf_dir, sql)


@settings(**_SETTINGS)
@given(sql=_join_topk_query())
def test_fuzz_window_topk_over_join(fuzz_spark, sf_dir, sql):
    """Random per-group top-k over a fact x dim join (rank in a subquery,
    outer rank filter) — the WindowGroupLimit composition."""
    _assert_engines_agree(fuzz_spark, sf_dir, sql)


def test_known_engine_divergences(fuzz_spark, sf_dir):
    """Pin the engine-boundary facts the fuzz generators are built
    around, so the exclusions stay justified (if an engine changes
    convention, this fails and the generator should be revisited):
    (a) EXTRACT(DOW): DuckDB is Sunday=0/Saturday=6, Spark is
    Sunday=1/Saturday=7 — related by spark = duck + 1 on every row;
    (b) DATE-typed columns are not driver-comparable: Spark's toPandas
    yields object-dtype datetime.date, DuckDB's yields datetime64 —
    same value, different stringification — hence the CAST AS TIMESTAMP
    on every date-typed generator output (and the standing registry rule
    that driver-facing queries emit TIMESTAMP or string, never DATE);
    (c) default NULL placement in ASC ordering diverges — Spark sorts
    NULLS FIRST, DuckDB NULLS LAST — so any ordering over a nullable key
    must spell the placement explicitly (the NULL-semantics generator
    always does);
    (d) ROLLUP/CUBE over ZERO matching rows: DuckDB emits the
    SQL-standard grand-total row (COUNT 0, GROUPING()=1), Spark emits
    no rows — a registered query whose oracle uses ROLLUP must never
    allow an empty input grain (the fuzz property checks the exact
    shape inline);
    (e) CAST(double AS BIGINT) ROUNDS in DuckDB but TRUNCATES toward
    zero in Spark — which is why every monetary/scaled integerization
    in this repo spells FLOOR(x·m + 0.5) (functions/exact.py) instead
    of a bare cast;
    (f) this environment's DuckDB 1.0.0 has an optimizer bug (found by
    the sf0.01 exploration sweep): identical duplicated OR branches of
    a (timestamp-equality AND BETWEEN) conjunction raise INTERNAL Error
    in its OR-filter rewrite — an ORACLE bug, not a divergence, so the
    fuzz harness skips examples whose oracle run dies with INTERNAL
    Error (see _oracle_or_skip). If a DuckDB upgrade fixes this, this
    pin fails and both it and the skip can be retired."""
    sql = "SELECT CAST(EXTRACT(DOW FROM l_shipdate) AS BIGINT) AS dow FROM lineitem"
    s = normalize(fuzz_spark.sql(sql).toPandas())
    d = normalize(run_oracle(sql, sf_dir))
    assert (s["dow"].to_numpy() == d["dow"].to_numpy() + 1).all()
    assert set(d["dow"]) <= set(range(7)) and set(s["dow"]) <= set(
        range(1, 8)
    )

    trunc = (
        "SELECT CAST(DATE_TRUNC('month', l_shipdate) AS DATE) AS m "
        "FROM lineitem"
    )
    import pandas as pd

    s_t = fuzz_spark.sql(trunc).toPandas()["m"]
    d_t = run_oracle(trunc, sf_dir)["m"]
    assert s_t.dtype == object and all(
        type(v).__name__ == "date" for v in s_t.dropna()
    )
    assert pd.api.types.is_datetime64_any_dtype(d_t)

    rn = (
        "SELECT x, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM "
        "(SELECT 1 AS x, NULL AS v UNION ALL SELECT 2, 10 "
        "UNION ALL SELECT 3, 5)"
    )
    s_rn = {r.x: r.rn for r in fuzz_spark.sql(rn).collect()}
    d_rn = dict(run_oracle(rn, sf_dir).itertuples(index=False, name=None))
    assert s_rn[1] == 1 and d_rn[1] == 3  # NULL first vs last under ASC

    rollup = (
        "SELECT l_returnflag AS k, CAST(COUNT(*) AS BIGINT) AS c "
        "FROM lineitem WHERE l_quantity < 0 GROUP BY ROLLUP (l_returnflag)"
    )
    assert fuzz_spark.sql(rollup).count() == 0
    d_r = run_oracle(rollup, sf_dir)
    assert len(d_r) == 1 and d_r["c"].iloc[0] == 0 and d_r["k"].isna().all()

    cast_sql = "SELECT CAST(1233.99 AS BIGINT) AS a, CAST(-1233.99 AS BIGINT) AS b"
    s_c = fuzz_spark.sql(cast_sql).collect()[0]
    d_c = run_oracle(cast_sql, sf_dir).iloc[0]
    assert (s_c.a, s_c.b) == (1233, -1233)  # Spark truncates toward zero
    assert (d_c["a"], d_c["b"]) == (1234, -1234)  # DuckDB rounds

    import duckdb
    import pytest as _pytest

    dup_or = (
        "SELECT COUNT(*) FROM lineitem WHERE "
        "(l_shipdate = TIMESTAMP '1992-01-15 00:00:00' AND "
        "l_discount BETWEEN 0.00 AND 0.02) OR "
        "(l_shipdate = TIMESTAMP '1992-01-15 00:00:00' AND "
        "l_discount BETWEEN 0.00 AND 0.02)"
    )
    assert fuzz_spark.sql(dup_or).collect()[0][0] >= 0  # Spark is fine
    with _pytest.raises(duckdb.Error, match="INTERNAL Error"):
        run_oracle(dup_or, sf_dir)


def test_fuzz_harness_detects_divergence(fuzz_spark, sf_dir):
    """Negative control: the compare must FAIL when the engines genuinely
    disagree (here: seeded by running different predicates on each side),
    so a green fuzz run certifies agreement, not a vacuous gate."""
    a = "SELECT CAST(COUNT(*) AS BIGINT) AS agg0 FROM lineitem WHERE l_quantity > 10"
    b = "SELECT CAST(COUNT(*) AS BIGINT) AS agg0 FROM lineitem WHERE l_quantity > 11"
    spark_pdf = normalize(fuzz_spark.sql(a).toPandas())
    duck_pdf = normalize(run_oracle(b, sf_dir))
    assert _driver_hash(spark_pdf) != _driver_hash(duck_pdf)


# --------------------------------------------------------------------------
# Shape 15 (round 10): as-of join — the engine's union-and-carry-forward
# compilation (the b07 family's rewrite, timeseries.py:155-274) vs DuckDB's
# NATIVE ASOF JOIN. This is the one driver-green composition the fuzzer had
# never stressed: the Spark side is built with the DataFrame API (Spark has
# no ASOF syntax), the oracle side renders the same parameters as real
# ASOF LEFT JOIN SQL. Generates both directions (backward l.ts >= r.ts,
# forward l.ts <= r.ts), optional staleness tolerance (the b07c post-window
# predicate), inner vs left semantics, and random predicates on BOTH
# streams. Determinism: the right stream is pre-aggregated per
# (user_id, ts) with MAX(value) so the matched payload is unique even when
# multiple right events share a timestamp, and the carried columns ride ONE
# struct through last(..., ignorenulls=True) so (ts, value) can never come
# from different rows.
# --------------------------------------------------------------------------

_ASOF_TYPES = ["view", "click", "purchase"]


@st.composite
def _asof_params(draw):
    left = draw(st.sampled_from(_ASOF_TYPES))
    right = draw(st.sampled_from([t for t in _ASOF_TYPES if t != left]))
    direction = draw(st.sampled_from(["backward", "forward"]))
    inner = draw(st.booleans())
    tol_hours = draw(st.one_of(st.none(), st.integers(1, 48)))
    wl = draw(_predicates(_events_atoms()))
    wr = draw(_predicates(_events_atoms()))
    return (left, right, direction, inner, tol_hours, wl, wr)


def _asof_spark_frame(spark, params):
    """The engine's carry-forward as-of compilation, parameterized."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    left, right, direction, inner, tol, wl, wr = params
    ev = spark.table("events")
    l = ev.filter((F.col("event_type") == left) & F.expr(wl)).select(
        "event_id", "user_id", "ts", "value"
    )
    r = (
        ev.filter((F.col("event_type") == right) & F.expr(wr))
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("rvalue"))
    )
    struct_t = "struct<rts:timestamp_ntz,rv:double>"
    tagged = l.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lit(1).alias("side"),
        F.lit(None).cast(struct_t).alias("r"),
    ).unionByName(
        r.select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            "ts",
            F.lit(None).cast("double").alias("value"),
            F.lit(0).alias("side"),
            F.struct(
                F.col("ts").alias("rts"), F.col("rvalue").alias("rv")
            ).alias("r"),
        )
    )
    # at equal ts the right row sorts first (side 0 < 1) -> inclusive match,
    # same as DuckDB's >= / <= ASOF inequality
    order = (
        [F.asc("ts"), F.asc("side")]
        if direction == "backward"
        else [F.desc("ts"), F.asc("side")]
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = F.last("r", ignorenulls=True).over(w)
    carried = (
        tagged.withColumn("m", m)
        .filter(F.col("side") == 1)
        .select("event_id", "user_id", "ts", "value", "m.rts", "m.rv")
    )
    if tol is None:
        fresh = F.col("rts").isNotNull()
    elif direction == "backward":
        fresh = F.col("rts") >= F.col("ts") - F.expr(f"INTERVAL {tol} HOURS")
    else:
        fresh = F.col("rts") <= F.col("ts") + F.expr(f"INTERVAL {tol} HOURS")
    out = carried.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(fresh, F.col("rts")).alias("asof_ts"),
        F.when(fresh, F.col("rv")).alias("asof_value"),
    )
    if inner:
        out = out.filter(F.col("asof_ts").isNotNull())
    return out


def _asof_oracle_sql(params) -> str:
    left, right, direction, inner, tol, wl, wr = params
    op = ">=" if direction == "backward" else "<="
    if tol is None:
        fresh = "r.ts IS NOT NULL"
    elif direction == "backward":
        fresh = f"r.ts >= l.ts - INTERVAL {tol} HOUR"
    else:
        fresh = f"r.ts <= l.ts + INTERVAL {tol} HOUR"
    core = (
        f"WITH l AS (SELECT event_id, user_id, ts, value FROM events "
        f"WHERE event_type = '{left}' AND ({wl})), "
        f"r AS (SELECT user_id, ts, MAX(value) AS rvalue FROM events "
        f"WHERE event_type = '{right}' AND ({wr}) GROUP BY user_id, ts) "
        f"SELECT l.event_id AS event_id, l.user_id AS user_id, "
        f"l.ts AS ts, l.value AS value, "
        f"CASE WHEN {fresh} THEN r.ts END AS asof_ts, "
        f"CASE WHEN {fresh} THEN r.rvalue END AS asof_value "
        f"FROM l ASOF LEFT JOIN r "
        f"ON l.user_id = r.user_id AND l.ts {op} r.ts"
    )
    if inner:
        return f"SELECT * FROM ({core}) WHERE asof_ts IS NOT NULL"
    return core


def _assert_frame_matches_oracle(spark_df, sql: str, sf_dir: str) -> None:
    """The driver protocol for shapes whose Spark side is a DataFrame
    composition rather than one shared SQL text."""
    spark_pdf = normalize(collect_pdf(spark_df))
    duck_pdf = normalize(_oracle_or_skip(sql, sf_dir))
    assert len(spark_pdf) == len(duck_pdf), (
        f"row count {len(spark_pdf)} vs {len(duck_pdf)}\nSQL: {sql}"
    )
    assert _driver_hash(spark_pdf) == _driver_hash(duck_pdf), (
        f"value-hash mismatch\nSQL: {sql}\n"
        f"spark head:\n{spark_pdf.head()}\nduck head:\n{duck_pdf.head()}"
    )


@settings(**_SETTINGS)
@given(params=_asof_params())
def test_fuzz_asof_join(fuzz_spark, sf_dir, params):
    """Random as-of joins: the engine's one-shuffle carry-forward rewrite
    must agree with DuckDB's native ASOF JOIN on direction, tie-at-equal-ts
    inclusion, staleness tolerance, and inner-vs-left semantics."""
    _assert_frame_matches_oracle(
        _asof_spark_frame(fuzz_spark, params), _asof_oracle_sql(params), sf_dir
    )


# --------------------------------------------------------------------------
# Shape 16 (round 10): pivot / unpivot — Spark's pivot() with an explicit
# value list (the b20 plan: ONE scan, no distinct-scan job) vs DuckDB
# conditional aggregation, and DataFrame.unpivot vs the UNION ALL
# rendering. The second never-fuzzed driver-green composition.
# --------------------------------------------------------------------------

_PIVOT_VALUES = {"l_linestatus": ["O", "F"], "l_returnflag": ["A", "N", "R"]}
# (kind, SQL template with {cond}) — exact/order-free aggregates only
_PIVOT_AGGS = [
    ("count", "CAST(COUNT(CASE WHEN {cond} THEN 1 END) AS BIGINT)"),
    (
        "sum_cents",
        "CAST(SUM(CASE WHEN {cond} THEN "
        "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) END) AS BIGINT)",
    ),
    ("min_qty", "MIN(CASE WHEN {cond} THEN l_quantity END)"),
    ("max_qty", "MAX(CASE WHEN {cond} THEN l_quantity END)"),
]


@st.composite
def _pivot_params(draw):
    group_key = draw(
        st.sampled_from(["l_returnflag", "l_linestatus", "l_linenumber"])
    )
    pivot_col = "l_linestatus" if group_key != "l_linestatus" else "l_returnflag"
    all_vals = _PIVOT_VALUES[pivot_col]
    vals = sorted(
        draw(
            st.lists(
                st.sampled_from(all_vals),
                min_size=1,
                max_size=len(all_vals),
                unique=True,
            )
        )
    )
    agg_i = draw(st.integers(0, len(_PIVOT_AGGS) - 1))
    where = draw(_predicates(_lineitem_atoms()))
    return (group_key, pivot_col, vals, agg_i, where)


def _pivot_spark_frame(spark, params):
    from pyspark.sql import functions as F

    gk, pc, vals, agg_i, where = params
    kind = _PIVOT_AGGS[agg_i][0]
    if kind == "count":
        agg = F.count(F.lit(1))
    elif kind == "sum_cents":
        agg = F.sum(
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        )
    elif kind == "min_qty":
        agg = F.min("l_quantity")
    else:
        agg = F.max("l_quantity")
    out = (
        spark.table("lineitem")
        .filter(F.expr(where))
        .groupBy(gk)
        .pivot(pc, vals)
        .agg(agg)
    )
    cols = [F.col(gk)]
    for v in vals:
        c = F.col(f"`{v}`")
        if kind == "count":
            # Spark pivot yields NULL for an absent (group, value) cell;
            # conditional COUNT yields 0 — align on the COUNT convention
            c = F.coalesce(c, F.lit(0))
        cols.append(c.alias(f"p_{v}"))
    return out.select(*cols)


def _pivot_oracle_sql(params) -> str:
    gk, pc, vals, agg_i, where = params
    tmpl = _PIVOT_AGGS[agg_i][1]
    aggs = ", ".join(
        tmpl.format(cond=f"{pc} = '{v}'") + f" AS p_{v}" for v in vals
    )
    return (
        f"SELECT {gk}, {aggs} FROM lineitem WHERE {where} GROUP BY {gk}"
    )


@settings(**_SETTINGS)
@given(params=_pivot_params())
def test_fuzz_pivot(fuzz_spark, sf_dir, params):
    """Random pivots with explicit value lists: Spark's pivot() must agree
    with DuckDB conditional aggregation cell-for-cell, including absent
    (group, value) cells (NULL for sum/min/max, 0 for count)."""
    _assert_frame_matches_oracle(
        _pivot_spark_frame(fuzz_spark, params), _pivot_oracle_sql(params), sf_dir
    )


_UNPIVOT_MEASURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_UNPIVOT_IDS = [
    "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_shipdate",
    "l_extendedprice",
]


@st.composite
def _unpivot_params(draw):
    measures = sorted(
        draw(
            st.lists(
                st.sampled_from(_UNPIVOT_MEASURES),
                min_size=1,
                max_size=4,
                unique=True,
            )
        )
    )
    modulus = draw(st.integers(50, 200))
    where = draw(_predicates(_lineitem_atoms()))
    return (measures, modulus, where)


def _unpivot_spark_frame(spark, params):
    from pyspark.sql import functions as F

    measures, modulus, where = params
    df = spark.table("lineitem").filter(
        F.expr(f"l_orderkey % {modulus} = 0 AND ({where})")
    )
    return df.unpivot(
        _UNPIVOT_IDS, measures, "measure_name", "measure_value"
    )


def _unpivot_oracle_sql(params) -> str:
    measures, modulus, where = params
    ids = ", ".join(_UNPIVOT_IDS)
    parts = [
        f"SELECT {ids}, '{m}' AS measure_name, {m} AS measure_value "
        f"FROM lineitem WHERE l_orderkey % {modulus} = 0 AND ({where})"
        for m in measures
    ]
    return " UNION ALL ".join(parts)


@settings(**_SETTINGS)
@given(params=_unpivot_params())
def test_fuzz_unpivot(fuzz_spark, sf_dir, params):
    """Random unpivots (melt): DataFrame.unpivot must agree with the
    UNION ALL relational rendering row-for-row. The id tail is the
    verified-unique 6-column lineitem key, so row identity is exact."""
    _assert_frame_matches_oracle(
        _unpivot_spark_frame(fuzz_spark, params),
        _unpivot_oracle_sql(params),
        sf_dir,
    )


# --------------------------------------------------------------------------
# Shape 17 (round 10): gap-fill / date-scaffold — the b28 compilation
# (timeseries.py:348): dense per-key time spine via sequence()+explode on
# the Spark side vs generate_series()+unnest on DuckDB, LEFT JOIN back to
# the bucket aggregate, then one of three fill policies (LOCF via
# last(..., IGNORE NULLS), typed zero-fill, or bare NULL + is_gap flag).
# Spine bounds come from the AGGREGATE's min/max bucket (never a second
# raw scan), mirroring the production operator. Determinism: (k, bucket)
# is unique in the spine by construction and the metrics are exact
# (COUNT) or order-free (MIN/MAX of double), so every fill is total.
# --------------------------------------------------------------------------


@st.composite
def _gapfill_params(draw):
    unit = draw(st.sampled_from(["hour", "day"]))
    keymod = draw(st.integers(2, 6))  # key = user_id % keymod
    where = draw(_predicates(_events_atoms()))
    fill = draw(st.sampled_from(["locf", "zero", "null"]))
    agg = draw(st.sampled_from(["cnt", "vmin", "vmax"]))
    return (unit, keymod, where, fill, agg)


def _gapfill_spark_frame(spark, params):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    unit, keymod, where, fill, agg = params
    metric = {
        "cnt": F.count("*").cast("long"),
        "vmin": F.min("value"),
        "vmax": F.max("value"),
    }[agg]
    keyed = (
        spark.table("events")
        .filter(F.expr(where))
        .select(
            (F.col("user_id") % keymod).alias("k"),
            F.date_trunc(unit, "ts").alias("bucket"),
            "value",
        )
    )
    per_bucket = keyed.groupBy("k", "bucket").agg(metric.alias("m0"))
    spine = (
        per_bucket.groupBy("k")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "k",
            F.explode(
                F.sequence("lo", "hi", F.expr(f"INTERVAL 1 {unit.upper()}"))
            ).alias("bucket"),
        )
    )
    j = spine.join(per_bucket, ["k", "bucket"], "left")
    is_gap = F.col("m0").isNull().alias("is_gap")
    if fill == "locf":
        w = (
            Window.partitionBy("k")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        m = F.last("m0", ignorenulls=True).over(w)
    elif fill == "zero":
        zero = F.lit(0).cast("long") if agg == "cnt" else F.lit(0.0)
        m = F.coalesce(F.col("m0"), zero)
    else:
        m = F.col("m0")
    return j.select("k", "bucket", is_gap, m.alias("m"))


def _gapfill_oracle_sql(params) -> str:
    unit, keymod, where, fill, agg = params
    metric = {
        "cnt": "CAST(COUNT(*) AS BIGINT)",
        "vmin": "MIN(value)",
        "vmax": "MAX(value)",
    }[agg]
    if fill == "locf":
        m = (
            "last_value(j.m0 IGNORE NULLS) OVER (PARTITION BY j.k "
            "ORDER BY j.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "CURRENT ROW)"
        )
    elif fill == "zero":
        zero = "CAST(0 AS BIGINT)" if agg == "cnt" else "CAST(0.0 AS DOUBLE)"
        m = f"COALESCE(j.m0, {zero})"
    else:
        m = "j.m0"
    return f"""
    WITH per_bucket AS (
      SELECT user_id % {keymod} AS k,
             date_trunc('{unit}', ts) AS bucket,
             {metric} AS m0
      FROM events WHERE ({where})
      GROUP BY user_id % {keymod}, date_trunc('{unit}', ts)
    ),
    spine AS (
      SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 {unit.upper()}))
               AS bucket
      FROM (SELECT k, MIN(bucket) AS lo, MAX(bucket) AS hi
            FROM per_bucket GROUP BY k)
    ),
    j AS (
      SELECT s.k, s.bucket, p.m0
      FROM spine s LEFT JOIN per_bucket p
        ON s.k = p.k AND s.bucket = p.bucket
    )
    SELECT j.k AS k, j.bucket AS bucket, j.m0 IS NULL AS is_gap,
           {m} AS m
    FROM j
    """


@settings(**_SETTINGS)
@given(params=_gapfill_params())
def test_fuzz_gap_fill(fuzz_spark, sf_dir, params):
    """Random gap-filled series: the sequence()+explode spine, the
    aggregate-bounded lo/hi, the LEFT JOIN back, and all three fill
    policies must agree with DuckDB's generate_series rendering."""
    _assert_frame_matches_oracle(
        _gapfill_spark_frame(fuzz_spark, params),
        _gapfill_oracle_sql(params),
        sf_dir,
    )


# --------------------------------------------------------------------------
# Shape 18 (round 11): chained-window analytics — the b35/b36 composition
# class (multiple window functions over the same partition key feeding an
# aggregate). Promoted to the driver window in r10 but never generatively
# covered: the existing window shape draws SINGLE independent window
# expressions, not windows whose CASE conditions reference a PREVIOUS
# window's output (the funnel chain) or a window MIN feeding a grouped
# rollup (the cohort chain). One SQL text, both dialects.
# --------------------------------------------------------------------------
@st.composite
def _chained_window_query(draw) -> str:
    kind = draw(st.sampled_from(["funnel", "retention"]))
    where = draw(_predicates(_events_atoms()))
    if kind == "retention":
        unit = draw(st.sampled_from(["day", "week", "month"]))
        return f"""
        WITH activity AS (
          SELECT DISTINCT user_id, date_trunc('{unit}', ts) AS active_b
          FROM events WHERE ({where}) AND user_id IS NOT NULL
        ),
        cohorted AS (
          SELECT user_id, active_b,
                 MIN(active_b) OVER (PARTITION BY user_id) AS cohort_b
          FROM activity
        )
        SELECT CAST(cohort_b AS TIMESTAMP) AS cohort_b,
               CAST(active_b AS TIMESTAMP) AS active_b,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM cohorted GROUP BY cohort_b, active_b
        """
    # funnel: 2- or 3-stage chain of conditional-MIN windows, each stage's
    # CASE referencing the previous stage's window output
    n_stages = draw(st.integers(2, 3))
    stages = draw(st.permutations(["'view'", "'click'", "'purchase'"]))[:n_stages]
    cmp_op = draw(st.sampled_from([">=", ">"]))
    pk = draw(st.sampled_from(["user_id", "user_id % 5", "user_id % 11"]))
    out = draw(st.sampled_from(["per_key", "counts"]))
    ctes = [
        f"""s0 AS (
          SELECT {pk} AS k, ts, event_type,
            MIN(CASE WHEN event_type = {stages[0]} THEN ts END)
              OVER (PARTITION BY {pk}) AS t0
          FROM events WHERE ({where})
        )"""
    ]
    for i in range(1, n_stages):
        ctes.append(
            f"""s{i} AS (
          SELECT *,
            MIN(CASE WHEN event_type = {stages[i]} AND ts {cmp_op} t{i - 1}
                     THEN ts END)
              OVER (PARTITION BY k) AS t{i}
          FROM s{i - 1}
        )"""
        )
    ts_cols = [f"t{i}" for i in range(n_stages)]
    per_key = (
        "per_key AS (SELECT k, "
        + ", ".join(f"MAX({t}) AS {t}" for t in ts_cols)
        + f" FROM s{n_stages - 1} GROUP BY k)"
    )
    if out == "per_key":
        final = "SELECT k, " + ", ".join(ts_cols) + " FROM per_key"
    else:
        final = (
            "SELECT CAST(COUNT(*) AS BIGINT) AS n_keys, "
            + ", ".join(
                f"CAST(COUNT({t}) AS BIGINT) AS n{i}"
                for i, t in enumerate(ts_cols)
            )
            + " FROM per_key"
        )
    return "WITH " + ", ".join(ctes + [per_key]) + " " + final


@settings(**_SETTINGS)
@given(sql=_chained_window_query())
def test_fuzz_chained_windows(fuzz_spark, sf_dir, sql):
    """Random funnel/retention compositions: chained conditional-MIN
    windows over one partition key (each stage's condition reading the
    previous window's output) and window-MIN-feeding-aggregate cohort
    rollups must agree across engines row-for-row."""
    _assert_engines_agree(fuzz_spark, sf_dir, sql)


# --------------------------------------------------------------------------
# Shape 19 (round 12): recursive-CTE chains — b19_sessionize_recursive is
# the only recursion consumer and its SQL is one pinned text; Spark 4's
# cteRecursionRowLimit bit at sf1 (r11), so the recursion surface gets
# generative coverage: bounded-depth acyclic chains, one SQL text, both
# dialects. Three sub-shapes: a table-free arithmetic generator (depth,
# affine + modular accumulators drawn), a per-user gap-walk over events
# (the b19 family generalized: gap, depth cap, user slice, and a second
# parity accumulator drawn), and a per-order linenumber walk over
# lineitem (a REAL FK chain, depth <= 7). Integer accumulators only —
# float accumulation plays no part, and double→BIGINT goes through the
# house FLOOR(x + 0.5) spelling (bare CAST is a pinned divergence).
# --------------------------------------------------------------------------
@st.composite
def _recursive_chain_query(draw) -> str:
    kind = draw(st.sampled_from(["generator", "events_walk", "lineitem_walk"]))
    if kind == "generator":
        depth = draw(st.integers(2, 60))
        a = draw(st.integers(0, 9))
        b = draw(st.integers(1, 7))
        c = draw(st.integers(0, 5))
        m = draw(st.sampled_from([3, 5, 7, 11]))
        return f"""
        WITH RECURSIVE seq(n, acc, accm) AS (
          SELECT CAST(1 AS BIGINT), CAST({a} AS BIGINT), CAST(1 AS BIGINT)
          UNION ALL
          SELECT n + 1, acc + n * {b} + {c}, (accm * {m} + n) % 97
          FROM seq WHERE n < {depth}
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(acc) AS BIGINT) AS sum_acc,
               CAST(MAX(acc) AS BIGINT) AS max_acc,
               CAST(SUM(accm) AS BIGINT) AS sum_accm
        FROM seq
        """
    if kind == "events_walk":
        gap = draw(st.sampled_from([5, 15, 30, 45, 90]))
        max_rn = draw(st.integers(5, 40))
        u = draw(st.sampled_from([3, 7, 17, 31]))
        where = draw(_predicates(_events_atoms()))
        return f"""
        WITH RECURSIVE ordered AS (
          SELECT user_id, ts, event_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ) AS rn
          FROM events
          WHERE user_id IS NOT NULL AND user_id % 101 < {u} AND ({where})
        ),
        walk(user_id, rn, ts, sessions, parity) AS (
          SELECT user_id, rn, ts, CAST(1 AS BIGINT), CAST(0 AS BIGINT)
          FROM ordered WHERE rn = 1
          UNION ALL
          SELECT o.user_id, o.rn, o.ts,
                 w.sessions + CASE WHEN o.ts > w.ts + INTERVAL {gap} MINUTE
                                   THEN 1 ELSE 0 END,
                 (w.parity + o.rn) % 2
          FROM ordered o
          JOIN walk w ON o.user_id = w.user_id AND o.rn = w.rn + 1
          WHERE o.rn <= {max_rn}
        )
        SELECT user_id,
               CAST(MAX(sessions) AS BIGINT) AS n_sessions,
               CAST(COUNT(*) AS BIGINT) AS n_steps,
               CAST(SUM(parity) AS BIGINT) AS parity_mass
        FROM walk GROUP BY user_id
        """
    # lineitem_walk: follow l_linenumber 1,2,3,... within each order —
    # a genuine FK chain whose depth the data caps at 7.
    p = draw(st.sampled_from([7, 13, 29]))
    where = draw(_predicates(_lineitem_atoms()))
    out = draw(st.sampled_from(["per_order", "global"]))
    final = (
        "SELECT l_orderkey, CAST(MAX(qty_acc) AS BIGINT) AS qty_run, "
        "CAST(MAX(l_linenumber) AS BIGINT) AS chain_len "
        "FROM walk GROUP BY l_orderkey"
        if out == "per_order"
        else "SELECT CAST(COUNT(*) AS BIGINT) AS n_steps, "
        "CAST(SUM(qty_acc) AS BIGINT) AS qty_mass, "
        "CAST(MAX(l_linenumber) AS BIGINT) AS max_chain "
        "FROM walk"
    )
    return f"""
    WITH RECURSIVE base AS (
      SELECT l_orderkey, l_linenumber,
             CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_orderkey % {p} = 0 AND ({where})
    ),
    walk(l_orderkey, l_linenumber, qty_acc) AS (
      SELECT l_orderkey, l_linenumber, qty FROM base WHERE l_linenumber = 1
      UNION ALL
      SELECT b.l_orderkey, b.l_linenumber, w.qty_acc + b.qty
      FROM base b
      JOIN walk w ON b.l_orderkey = w.l_orderkey
                 AND b.l_linenumber = w.l_linenumber + 1
    )
    {final}
    """


@settings(**_SETTINGS)
@given(sql=_recursive_chain_query())
def test_fuzz_recursive_chains(fuzz_spark, sf_dir, sql):
    """Random bounded-depth recursive CTEs: arithmetic generators,
    per-user gap walks over events, and per-order linenumber walks over
    lineitem must agree across engines row-for-row."""
    _assert_engines_agree(fuzz_spark, sf_dir, sql)
