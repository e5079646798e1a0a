"""Generate an sf1-class fixture (10x of sf0.1, ~6M lineitem) at
/tmp/scaledata/sf1 by FK-consistent surrogate-key replication — the same
twin technique as skewgen/splitgen, one order of magnitude up. The driver
recipe itself is not in this repo, so sf1 is a REPLICATION twin: identical
schemas and value domains, 10x the rows, every join/uniqueness contract
preserved. Correctness at sf1 is still Spark-vs-DuckDB on the SAME data,
so twin-vs-driver generation differences cannot produce false greens.

Recipe (seed-free, fully deterministic):
- region/nation: fixed dimensions, copied as-is (TPC-H semantics).
- customer/supplier/part/orders/lineitem: K=10 copies; copy k offsets
  every PK and FK column by k*(max_key+1) of its base table, so copy k of
  lineitem references copy k of orders/part/supplier and copy k of orders
  references copy k of customer. The 6-column lineitem ordering tail
  (FIXTURES.md) stays unique because l_orderkey is offset per copy.
- events: K=10 copies with fresh event_id AND offset user_id — per-user
  chain lengths stay <=99, so the b19 recursion bound (256) still clears.
- documents: K=10 copies, fresh doc_id, text BYTE-IDENTICAL (each text
  gains a 10-member exact-dup family, which c01/c02 handle by design).
- embeddings: K=4 copies (matching the driver's own 0.01->0.1 embedding
  ratio of 4x), fresh vec_id, vectors identical (top-k ties broken by
  vec_id per the registry determinism contract).

Usage: python tools/scalegen.py [src_sf] [K] [dst]
  defaults: 0.1 10 /tmp/scaledata/sf1
"""
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC_SF = sys.argv[1] if len(sys.argv) > 1 else "0.1"
K = int(sys.argv[2]) if len(sys.argv) > 2 else 10
DST = sys.argv[3] if len(sys.argv) > 3 else "/tmp/scaledata/sf1"
SRC = f"/root/testdata/sf{SRC_SF}"
os.makedirs(DST, exist_ok=True)

# key column -> owning table whose max defines the offset stride
PK = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
}
FK = {
    "orders": {"o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
}

strides = {}
for t, cols in PK.items():
    tb = pq.read_table(f"{SRC}/{t}.parquet", columns=cols)
    strides[t] = int(pc.max(tb.column(cols[0])).as_py()) + 1


def replicate(name, copies, offset_cols):
    """offset_cols: {column -> stride}; copy k adds k*stride to column."""
    tb = pq.read_table(f"{SRC}/{name}.parquet")
    chunks = [tb]
    for k in range(1, copies):
        cols = []
        for i, field in enumerate(tb.schema):
            col = tb.column(i)
            if field.name in offset_cols:
                col = pc.add(col, pa.scalar(k * offset_cols[field.name], type=field.type))
            cols.append(col)
        chunks.append(pa.Table.from_arrays(cols, schema=tb.schema))
    out = pa.concat_tables(chunks)
    pq.write_table(out, f"{DST}/{name}.parquet")
    print(name, tb.num_rows, "->", out.num_rows, flush=True)
    return out.num_rows


for t in ("region", "nation"):
    tb = pq.read_table(f"{SRC}/{t}.parquet")
    pq.write_table(tb, f"{DST}/{t}.parquet")
    print(t, "copied", tb.num_rows, flush=True)

replicate("customer", K, {"c_custkey": strides["customer"]})
replicate("supplier", K, {"s_suppkey": strides["supplier"]})
replicate("part", K, {"p_partkey": strides["part"]})
replicate(
    "orders", K, {"o_orderkey": strides["orders"], "o_custkey": strides["customer"]}
)
replicate(
    "lineitem",
    K,
    {
        "l_orderkey": strides["orders"],
        "l_partkey": strides["part"],
        "l_suppkey": strides["supplier"],
    },
)

ev = pq.read_table(f"{SRC}/events.parquet", columns=["event_id", "user_id"])
ev_stride = int(pc.max(ev.column("event_id")).as_py()) + 1
user_stride = int(pc.max(ev.column("user_id")).as_py()) + 1
replicate("events", K, {"event_id": ev_stride, "user_id": user_stride})

doc = pq.read_table(f"{SRC}/documents.parquet", columns=["doc_id"])
replicate("documents", K, {"doc_id": int(pc.max(doc.column("doc_id")).as_py()) + 1})

emb = pq.read_table(f"{SRC}/embeddings.parquet", columns=["vec_id"])
replicate("embeddings", 4, {"vec_id": int(pc.max(emb.column("vec_id")).as_py()) + 1})

# Contract checks mirror FIXTURES.md's uniqueness traps.
import duckdb

con = duckdb.connect()
checks = {
    "events event_id unique": "SELECT count(*) = count(DISTINCT event_id) "
    f"FROM '{DST}/events.parquet'",
    "orders o_orderkey unique": "SELECT count(*) = count(DISTINCT o_orderkey) "
    f"FROM '{DST}/orders.parquet'",
    "lineitem 6-col tail unique": "SELECT count(*) = count(DISTINCT "
    "(l_orderkey, l_linenumber, l_partkey, l_suppkey, l_shipdate, "
    f"l_extendedprice)) FROM '{DST}/lineitem.parquet'",
    "lineitem->orders FK closed": "SELECT count(*) = 0 FROM "
    f"'{DST}/lineitem.parquet' l LEFT JOIN '{DST}/orders.parquet' o "
    "ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL",
    "orders->customer FK closed": "SELECT count(*) = 0 FROM "
    f"'{DST}/orders.parquet' o LEFT JOIN '{DST}/customer.parquet' c "
    "ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL",
    "max user chain <= 128": "SELECT max(c) <= 128 FROM (SELECT count(*) c "
    f"FROM '{DST}/events.parquet' GROUP BY user_id)",
}
ok = True
for label, sql in checks.items():
    good = con.execute(sql).fetchone()[0]
    print("check:", label, "->", good, flush=True)
    ok = ok and bool(good)
print("GEN_OK" if ok else "GEN_FAIL")
sys.exit(0 if ok else 1)
