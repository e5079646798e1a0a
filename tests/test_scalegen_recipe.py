"""Durable pins for the r11 sf1 replication recipe (tools/scalegen.py).

The one-order-up scale evidence (50/50 hash-green at sf1, the three-point
bench table, the sf1 skew/split stacks) lives in /tmp twins regenerated
per session; what must survive in-suite is the RECIPE's correctness:

1. scalegen's contract checks hold on a fresh twin (uniqueness, FK
   closure, bounded chains) — run here at sf0.001 x 4 so the suite stays
   fast;
2. replication with surrogate keys preserves QUERY SEMANTICS: a grouped
   aggregate over the twin equals the base aggregate with counts/sums
   scaled exactly K-fold (keys that don't mention surrogate ids), and a
   twin-vs-DuckDB differential on a representative query is hash-green —
   i.e. correctness checking on twins can't false-green;
3. the dedup-first law found by the sf1 LSH audit: exact-dedup
   representatives of a K-replicated corpus are exactly the base corpus
   (by text), so LSH candidate work after exact dedup is INVARIANT under
   replication — the pipeline-level answer to the measured 98x/1094x
   quadratic candidate growth (BENCHNOTES round 11).
"""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from stock_data_pipeline_spark.catalog import TABLES, load

_K = 4
_SCALEGEN = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "scalegen.py")
_SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def twin_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("scalegen_twin"))
    proc = subprocess.run(
        [sys.executable, _SCALEGEN, "0.001", str(_K), d],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "GEN_OK" in proc.stdout  # the generator's own contract checks
    return d


def test_row_counts_scale_exactly(twin_dir):
    con = duckdb.connect()
    for t in TABLES:
        base = con.execute(f"SELECT count(*) FROM '{_SRC}/{t}.parquet'").fetchone()[0]
        twin = con.execute(
            f"SELECT count(*) FROM '{twin_dir}/{t}.parquet'"
        ).fetchone()[0]
        want = base if t in ("region", "nation") else base * (
            4 if t == "embeddings" else _K
        )
        assert twin == want, (t, base, twin)


def test_grouped_aggregate_scales_k_fold(spark, twin_dir):
    """Groups keyed off non-surrogate columns must see counts and sums
    multiply by exactly K — the replication is semantically a K-fold
    multiset union."""
    def agg(sf):
        return {
            r["l_returnflag"]: (r["n"], r["s"])
            for r in load(spark, sf, "lineitem")
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("s"),
            )
            .collect()
        }

    base, twin = agg(_SRC), agg(twin_dir)
    assert set(base) == set(twin)
    for k, (n, s) in base.items():
        assert twin[k][0] == n * _K
        assert twin[k][1] == s * _K


def test_twin_differential_is_hash_green(spark, twin_dir):
    """Spark-vs-DuckDB on the twin for a representative join+agg query:
    the twin is a first-class differential fixture, not just a row pile."""
    from tests.oracle import _driver_hash, normalize

    sql = """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
    """
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{twin_dir}/{t}.parquet'")
    for t in ("orders", "lineitem"):
        load(spark, twin_dir, t).createOrReplaceTempView(t)
    spark_pdf = normalize(spark.sql(sql).toPandas())
    duck_pdf = normalize(con.execute(sql).df())
    assert _driver_hash(spark_pdf) == _driver_hash(duck_pdf)


def test_exact_dedup_first_makes_lsh_invariant_under_replication(
    spark, twin_dir
):
    """The sf1 LSH audit's law, pinned at suite scale: replication keeps
    texts byte-identical, so distinct-text representatives of the twin
    equal the base corpus and the LSH bucket-pair bound — Σ C(|bucket|,2),
    the stage's actual work — is IDENTICAL after exact-dedup-first, while
    the uncapped twin's bound grows ~K² (here C(4,2)·base-families at
    minimum). Near-dup belongs AFTER exact dedup in the pipeline."""
    from stock_data_pipeline_spark.operators.dedup import lsh_bucket_index

    def pair_bound(docs):
        sz = lsh_bucket_index(docs).groupBy("band", "bucket").agg(
            F.count("*").alias("s")
        )
        return (
            sz.agg(F.sum(F.expr("s*(s-1)/2")).cast("long")).collect()[0][0]
            or 0
        )

    base = load(spark, _SRC, "documents")
    twin = load(spark, twin_dir, "documents")
    w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    reps = twin.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")

    base_bound = pair_bound(base)
    reps_bound = pair_bound(reps)
    twin_bound = pair_bound(twin)
    assert reps_bound == base_bound  # dedup-first: invariant under replication
    # every base doc becomes a 4-family: C(4,2)=6 pairs per family floor
    assert twin_bound >= 6 * base.count()
    assert twin_bound > 10 * base_bound  # the quadratic blowup is real
