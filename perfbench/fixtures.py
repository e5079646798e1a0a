"""Seeded generator for the parquet tables the registered queries read.

Writes ``{out_dir}/{table}.parquet`` for the ten tables of
``stock_data_pipeline_spark.catalog.TABLES``: a TPC-H-like star schema,
an ``events`` stream, a text corpus with exact and near duplicates, and
unit-norm embeddings. The same ``(sf, seed)`` always writes the same
tables. ``compare`` checks them against an existing fixture directory:

    python3 perfbench/fixtures.py --compare REF_SF_DIR --sf 0.01
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _write(out_dir: str, name: str, columns: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    days = rng.integers(lo, hi, n)
    return pa.array(EPOCH_1995 + days * np.timedelta64(1, "D"), pa.timestamp("us"))


def _corpus(rng: np.random.Generator, n: int) -> list[str]:
    """Random word texts; 5% are an earlier text plus a ``dup`` token
    (near duplicates) and 0.2% are verbatim copies (exact duplicates)."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def generate(out_dir: str, sf: float, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = round(150_000 * sf)
    n_supp = round(10_000 * sf)
    n_part = round(200_000 * sf)
    n_ord = round(1_500_000 * sf)
    n_li = round(6_000_000 * sf)
    n_ev = round(1_000_000 * sf)
    n_users = round(15_000 * sf)
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))
    i32 = pa.int32()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    partkeys = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(partkeys),
        "p_name": pa.array([
            f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
            )
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (partkeys % 1000) / 10, 1)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _days(rng, 0, 2405, n_ord),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li)),
        "l_discount": pa.array(_money(rng, 0, 0.1, n_li)),
        "l_tax": pa.array(_money(rng, 0, 0.08, n_li)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _days(rng, 1, 2500, n_li),
    })
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = _corpus(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    })


def _profile(col: pa.ChunkedArray) -> tuple:
    """What a query's plan and selectivity depend on: the null count and,
    for strings with few values, the value set; else the 5th, 50th and
    95th percentiles (of lengths, for other strings and for lists)."""
    if pa.types.is_list(col.type):
        col = pc.list_value_length(col)
    elif pa.types.is_string(col.type):
        values = pc.unique(col)
        if len(values) <= 100:
            return col.null_count, set(values.to_pylist())
        col = pc.utf8_length(col)
    elif pa.types.is_timestamp(col.type):
        col = col.cast(pa.int64())
    return col.null_count, tuple(pc.quantile(col, q=[0.05, 0.5, 0.95]).to_pylist())


def compare(gen_dir: str, ref_dir: str) -> list[str]:
    """Differences between generated tables and a reference fixture: the
    parquet schema, the row count, each column's null count, and either
    90% overlap of its value set or percentiles within 15% of the
    reference's 5th-95th percentile span."""
    from stock_data_pipeline_spark.catalog import TABLES

    diffs = []
    for t in TABLES:
        gen = pq.read_table(os.path.join(gen_dir, f"{t}.parquet")).replace_schema_metadata()
        ref = pq.read_table(os.path.join(ref_dir, f"{t}.parquet")).replace_schema_metadata()
        if gen.schema != ref.schema or gen.num_rows != ref.num_rows:
            diffs.append(f"{t}: {gen.num_rows} rows {gen.schema} vs {ref.num_rows} rows {ref.schema}")
            continue
        for c in ref.column_names:
            (g_nulls, g), (r_nulls, r) = _profile(gen[c]), _profile(ref[c])
            if isinstance(r, set):
                same = len(g & r) >= 0.9 * len(g | r)
            else:
                same = all(abs(a - b) <= 0.15 * (r[2] - r[0]) for a, b in zip(g, r))
            if g_nulls != r_nulls or not same:
                diffs.append(f"{t}.{c}: generated {g_nulls} nulls, {g} vs {r_nulls}, {r}")
    return diffs


if __name__ == "__main__":
    p = argparse.ArgumentParser(description="compare generated tables with a fixture dir")
    p.add_argument("--compare", required=True, metavar="REF_SF_DIR")
    p.add_argument("--sf", type=float, required=True)
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with tempfile.TemporaryDirectory() as out:
        generate(out, args.sf, args.seed)
        diffs = compare(out, args.compare)
    print("\n".join(diffs) or "generated tables match the reference's schemas and profiles")
    sys.exit(1 if diffs else 0)
