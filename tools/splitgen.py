"""Generate a many-small-files twin of an sf fixture dir at
/tmp/splitdata/sf{sf}-split{K}: byte-identical ROWS, same schemas, but
each table's single parquet file becomes a DIRECTORY of up to K part
files (row slices in original order). The file-layout-invariance regime:
at 100 TB every table IS thousands of files, and mapper granularity
(split planning, per-file row groups, partial-agg boundaries) must never
change query results. Spark reads the directory transparently via the
same catalog path; the DuckDB oracle side globs it.

Usage: python tools/splitgen.py [sf] [K]   (defaults 0.01, 64)
"""
import os
import sys

import pyarrow.parquet as pq

_SF = sys.argv[1] if len(sys.argv) > 1 else "0.01"
K = int(sys.argv[2]) if len(sys.argv) > 2 else 64
# Optional src/dst overrides (r11): split a derived twin, e.g.
#   python tools/splitgen.py 1 64 /tmp/scaledata/sf1 /tmp/splitdata/sf1-split64
SRC = sys.argv[3] if len(sys.argv) > 3 else f"/root/testdata/sf{_SF}"
DST = sys.argv[4] if len(sys.argv) > 4 else f"/tmp/splitdata/sf{_SF}-split{K}"

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from stock_data_pipeline_spark.catalog import TABLES  # noqa: E402

for t in TABLES:
    tb = pq.read_table(f"{SRC}/{t}.parquet")
    d = f"{DST}/{t}.parquet"
    os.makedirs(d, exist_ok=True)
    n = tb.num_rows
    k = min(K, max(1, n))
    step = -(-n // k)  # ceil
    parts = 0
    for i in range(0, n, step):
        pq.write_table(tb.slice(i, step), f"{d}/part-{i // step:05d}.parquet")
        parts += 1
    print(t, n, "rows ->", parts, "files")
print("GEN_OK")
