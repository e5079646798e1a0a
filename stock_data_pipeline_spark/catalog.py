"""Table catalog over the driver-provided parquet test tables.

The canonical tables (TESTDATA.md) live at ``{sf_dir}/{name}.parquet``, and
:data:`FIXTURE_SCHEMAS` is the one declaration of their columns (the way
``schemas.SINK_SCHEMAS`` declares the ingest tables). Every query builder
goes through :func:`load`, which

- pins the runtime confs required for deterministic semantics on whatever
  session is in use (:func:`session.apply_runtime_confs`),
- reads with the declared schema — no inference job per load — after a
  driver-side footer check that the file holds exactly the declared
  columns (a declared read would turn a missing column into NULLs), and
- returns a plain parquet scan, so Catalyst keeps full predicate pushdown /
  column pruning / partition pruning on it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .session import apply_runtime_confs


def _table(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype, True) for name, dtype in fields])


INT, BIGINT, DOUBLE, STRING = (
    T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType()
)
TS = T.TimestampNTZType()  # parquet TIMESTAMP(MICROS), isAdjustedToUTC=false

FIXTURE_SCHEMAS: dict[str, T.StructType] = {
    "region": _table(("r_regionkey", INT), ("r_name", STRING)),
    "nation": _table(
        ("n_nationkey", INT), ("n_name", STRING), ("n_regionkey", INT),
    ),
    "customer": _table(
        ("c_custkey", BIGINT), ("c_name", STRING), ("c_nationkey", INT),
        ("c_acctbal", DOUBLE), ("c_mktsegment", STRING),
    ),
    "supplier": _table(
        ("s_suppkey", BIGINT), ("s_name", STRING), ("s_nationkey", INT),
        ("s_acctbal", DOUBLE),
    ),
    "part": _table(
        ("p_partkey", BIGINT), ("p_name", STRING), ("p_brand", STRING),
        ("p_type", STRING), ("p_size", INT), ("p_retailprice", DOUBLE),
    ),
    "orders": _table(
        ("o_orderkey", BIGINT), ("o_custkey", BIGINT), ("o_orderstatus", STRING),
        ("o_totalprice", DOUBLE), ("o_orderdate", TS), ("o_orderpriority", STRING),
    ),
    "lineitem": _table(
        ("l_orderkey", BIGINT), ("l_partkey", BIGINT), ("l_suppkey", BIGINT),
        ("l_linenumber", INT), ("l_quantity", DOUBLE), ("l_extendedprice", DOUBLE),
        ("l_discount", DOUBLE), ("l_tax", DOUBLE), ("l_returnflag", STRING),
        ("l_linestatus", STRING), ("l_shipdate", TS),
    ),
    "events": _table(
        ("event_id", BIGINT), ("ts", TS), ("user_id", BIGINT),
        ("event_type", STRING), ("value", DOUBLE), ("props", STRING),
    ),
    "documents": _table(
        ("doc_id", BIGINT), ("text", STRING), ("lang", STRING),
        ("source", STRING), ("n_chars", BIGINT),
    ),
    "embeddings": _table(
        ("vec_id", BIGINT), ("embedding", T.ArrayType(T.FloatType())), ("label", INT),
    ),
}

TABLES = tuple(FIXTURE_SCHEMAS)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one canonical table as a DataFrame (lazy parquet scan)."""
    if name not in FIXTURE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    import pyarrow.dataset as ds

    path = table_path(sf_dir, name)
    schema = FIXTURE_SCHEMAS[name]
    # one footer read on the driver; handles a file or a directory of parts
    found = ds.dataset(path, format="parquet").schema.names
    if set(found) != set(schema.fieldNames()):
        raise ValueError(
            f"{path}: columns {found} do not match the declared "
            f"{name} columns {schema.fieldNames()}"
        )
    apply_runtime_confs(spark)
    return spark.read.schema(schema).parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL entry points)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
