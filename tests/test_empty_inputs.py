"""Empty-input robustness: every registered query must run (not crash)
over a dataset where all ten tables exist but hold zero rows — the
empty-partition / empty-day case that 100 TB jobs hit routinely."""

from __future__ import annotations

import glob
import shutil

import pytest

from stock_data_pipeline_spark import registry

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def empty_sf_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        df = spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet").limit(0)
        tmp = str(root / f"tmp_{t}")
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, str(root / f"{t}.parquet"))
        shutil.rmtree(tmp)
    return str(root)


def test_every_query_survives_empty_tables(spark, empty_sf_dir):
    failures = {}
    for name, fn in registry.full_queries().items():
        try:
            fn(spark, empty_sf_dir).limit(5).collect()
        except Exception as ex:  # noqa: BLE001 - collecting a report
            failures[name] = str(ex).split("\n")[0][:160]
    assert not failures, failures


def test_bollinger_over_short_series_is_empty_not_wrong(spark):
    """Fewer bars than the window: the indicator must emit nothing (a
    5-day band over 3 days is a different statistic), not partial rows."""
    from stock_data_pipeline_spark.operators.finance import bollinger_over_bars

    bars = spark.createDataFrame(
        [("a", "2024-01-0%d" % i, 10.0 + i) for i in range(1, 4)],
        "event_type string, bar_date string, close double",
    )
    assert bollinger_over_bars(bars).count() == 0


def test_semantic_dedup_empty_corpus(spark):
    from stock_data_pipeline_spark.operators.similarity import (
        ivf_index,
        semantic_dedup,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert semantic_dedup(empty, ivf_index(empty)).count() == 0


def test_pq_train_rejects_indivisible_dim(spark):
    import pytest as _pytest

    from stock_data_pipeline_spark.operators.similarity import pq_train

    vecs = spark.createDataFrame(
        [(0, [1.0] * 6)], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError):
        pq_train(vecs, n_sub=4)


def test_pq_tiny_corpus_codebooks_still_encode(spark):
    """Fewer sample vectors than codes: k-means caps k at the sample size
    and encode still produces valid (smaller-range) codes."""
    from stock_data_pipeline_spark.operators.similarity import pq_encode, pq_train

    vecs = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    books = pq_train(vecs, n_sub=2, n_codes=16)
    rows = pq_encode(vecs, books).collect()
    assert len(rows) == 3
    n_codes = len(books[0])
    assert all(0 <= c < n_codes for r in rows for c in r.pq_codes)
