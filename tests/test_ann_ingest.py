"""Streaming ANN-index maintenance: the Python Data Source quote feed
drives feature vectors into the persisted IVF index via foreachBatch
(streaming/jobs.py::write_batch_ivf under run_foreach_batch), and the
drift monitor appends a health row per batch that flags offline
retraining on cell skew."""

from __future__ import annotations

import time
from functools import partial

import pytest

from pyspark.sql import functions as F

from stock_data_pipeline_spark.catalog import load
from stock_data_pipeline_spark.operators.similarity import (
    ann_ivf_topk,
    assign_to_cells,
    ivf_index,
    load_ivf_index,
    save_ivf_index,
)
from stock_data_pipeline_spark.sources import pyds
from stock_data_pipeline_spark.streaming.jobs import (
    quotes_to_vectors,
    run_foreach_batch,
    write_batch_ivf,
)

SYMS = [f"V{i:03d}" for i in range(25)]
N_TICKS = 2


def _quote_stream(spark):
    pyds.register(spark)
    return (
        spark.readStream.format("synthetic_quotes")
        .option("symbols", ",".join(SYMS))
        .option("n_batches", N_TICKS)
        .load()
    )


def _quote_batch(spark):
    """Deterministic batch twin of the stream: same rows, same hashes."""
    pyds.register(spark)
    frames = [
        spark.read.format("synthetic_quotes")
        .option("symbols", ",".join(SYMS))
        .option("batch_time", bt)
        .load()
        # stream ticks are _EPOCH + n * interval (default 60 min)
        for bt in ("2024-01-01T00:00:00", "2024-01-01T01:00:00")
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


def test_stream_ingest_then_search_sees_new_vectors(spark, sf_dir, tmp_path):
    base = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    save_ivf_index(ivf_index(base, n_cells=16), str(tmp_path / "ivf"))
    n_base = base.count()

    vectors = quotes_to_vectors(_quote_stream(spark))
    q = run_foreach_batch(
        vectors,
        partial(write_batch_ivf, index_path=str(tmp_path / "ivf")),
        checkpoint=str(tmp_path / "ckpt"),
        cadence="0 seconds",
    )
    def n_health():
        try:
            return spark.read.parquet(str(tmp_path / "ivf" / "health")).count()
        except Exception:
            return 0

    # poll on the HEALTH row (written last in write_batch_ivf) so the
    # stream never gets stopped mid-batch with a partial index append
    deadline = time.monotonic() + 90
    try:
        while time.monotonic() < deadline:
            if n_health() >= N_TICKS:
                break
            time.sleep(0.5)
        else:
            pytest.fail("stream did not ingest expected vector count")
    finally:
        q.stop()

    index = load_ivf_index(spark, str(tmp_path / "ivf"))
    assigned, centers = index
    assert assigned.count() == n_base + N_TICKS * len(SYMS)

    # incremental assignment == frozen-centroid recompute (cross-batch)
    streamed = quotes_to_vectors(_quote_batch(spark))
    expect = {
        (r.vec_id, r.cell) for r in assign_to_cells(streamed, centers).collect()
    }
    got = {
        (r.vec_id, r.cell)
        for r in assigned.join(
            streamed.select("vec_id"), "vec_id"
        ).collect()
    }
    assert got == expect and len(got) == N_TICKS * len(SYMS)

    # search over the PERSISTED index must see a streamed vector: a query
    # with an identical embedding ranks it top-1 at cosine 1
    target = streamed.limit(1).collect()[0]
    queries = spark.createDataFrame(
        [(-1, target.embedding)], "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    corpus = base.unionByName(streamed)
    top = ann_ivf_topk(corpus, queries, k=1, n_probe=2, index=index).collect()
    assert len(top) == 1
    assert top[0].vec_id == target.vec_id

    # health rows: one per micro-batch, no drift on a hash-uniform feed
    health = spark.read.parquet(str(tmp_path / "ivf" / "health"))
    assert health.count() == N_TICKS
    assert health.filter(F.col("retrain_needed")).count() == 0


def test_skewed_batch_flags_retrain(spark, sf_dir, tmp_path):
    base = load(spark, sf_dir, "embeddings").select("vec_id", "embedding").limit(64)
    save_ivf_index(ivf_index(base, n_cells=8), str(tmp_path / "ivf"))

    # 512 copies of one embedding -> one cell swallows the corpus
    pivot = base.limit(1).collect()[0]
    skewed = spark.createDataFrame(
        [(10_000 + i, pivot.embedding) for i in range(512)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    write_batch_ivf(skewed, 0, str(tmp_path / "ivf"), skew_threshold=4.0)

    health = spark.read.parquet(str(tmp_path / "ivf" / "health")).collect()
    assert len(health) == 1
    assert health[0].batch_id == 0
    assert health[0].n_vectors == 64 + 512
    assert health[0].max_skew > 4.0
    assert health[0].retrain_needed is True


def test_replayed_ivf_batch_appends_nothing(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: a crash-replayed micro-batch must
    NOT duplicate (vec_id, cell) assignment rows — duplicates would
    double-count the drift monitor's n_vectors/skew and rank the same
    vec_id twice in search top-k. The vec_id anti-join makes the append
    idempotent; a duplicate id WITHIN one batch is also collapsed."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 40)
    path = str(tmp_path / "ivf_replay")
    save_ivf_index(ivf_index(base, n_cells=4), path)
    n0 = load_ivf_index(spark, path)[0].count()

    newv = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60))
    write_batch_ivf(newv, 1, path)
    n1 = load_ivf_index(spark, path)[0].count()
    assert n1 == n0 + 20

    # replay the SAME batch (crash-after-write, retry-before-commit)
    write_batch_ivf(newv, 1, path)
    assert load_ivf_index(spark, path)[0].count() == n1

    # intra-batch duplicate ids collapse too
    write_batch_ivf(newv.unionAll(newv).filter(F.col("vec_id") == 40), 2, path)
    assigned = load_ivf_index(spark, path)[0]
    assert assigned.filter(F.col("vec_id") == 40).count() == 1


def test_ivf_batch_dimension_mismatch_fails_fast(spark, sf_dir, tmp_path):
    """A producer misconfigured to a different embedding width must be
    REFUSED (zip_with null-pads and the poisoned assignments would land
    permanently), not silently appended."""
    emb = load(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_dim")
    save_ivf_index(ivf_index(emb.filter(F.col("vec_id") < 40), n_cells=4), path)
    bad = spark.createDataFrame(
        [(999, [0.1, 0.2, 0.3])], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(ValueError, match="dim"):
        write_batch_ivf(bad, 9, path)
