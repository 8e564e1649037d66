"""Streaming k-means domain maintenance: the drained multi-batch state
equals the batch kernel applied to (training corpus, arriving batches),
and epoch replay is idempotent."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.operators import clustering as C
from near_real_time_data_warehouse_spark.streaming import kmeans_stream as ks
from near_real_time_data_warehouse_spark.streaming.fold import run_fold

from .conftest import SF_SMALL
from .fixtures import land_batches

_SPLIT = 400  # standing corpus trains; later vec_ids arrive as batches


def _assign_set(df):
    return {(r.vec_id, r.cluster_id, r.dist_sq) for r in df.collect()}


def _batch_grown(spark):
    """Batch twin: domains trained on the standing corpus only, old +
    arriving vectors assigned against that frozen state."""
    emb = C._emb(spark, SF_SMALL).select("vec_id", "embedding")
    old = emb.filter(F.col("vec_id") < _SPLIT)
    new = emb.filter(F.col("vec_id") >= _SPLIT)
    ids, m = C._train_state_on(old)
    grown = C._assign_frame(old, ids, m).unionByName(C._assign_frame(new, ids, m))
    return (ids, m), _assign_set(grown)


def test_streaming_kmeans_equals_batch(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("kmeans_stream")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    src = base / "stream"
    src.mkdir()
    splits = [(0, _SPLIT), (_SPLIT, _SPLIT + 50), (_SPLIT + 50, 10**9)]
    land_batches(
        [emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)) for lo, hi in splits],
        src,
    )

    state = str(base / "state")
    run_fold(
        spark, ks.merge_kmeans_batch, f"{src}/*", emb.schema, state,
        str(base / "ckpt"),
    )

    (ids_want, m_want), want = _batch_grown(spark)
    ids_got, m_got = ks._load_state(spark, f"{state}/centroids")
    assert np.array_equal(ids_got, ids_want)
    assert np.array_equal(m_got, m_want), "stored centroid state drifted"
    got = _assign_set(ks.read_kmeans_state(spark, state))
    assert got == want
    assert len(got) == emb.count()


def test_streaming_kmeans_epoch_replay_idempotent(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("kmeans_replay")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    state = str(base / "state")
    b1 = emb.filter(F.col("vec_id") < _SPLIT)
    b2 = emb.filter(F.col("vec_id") >= _SPLIT)
    ks.merge_kmeans_batch(spark, b1, state, epoch_id=0)
    ks.merge_kmeans_batch(spark, b2, state, epoch_id=1)
    before = _assign_set(ks.read_kmeans_state(spark, state))
    # crash-after-write, restart re-delivers epoch 1
    ks.merge_kmeans_batch(spark, b2, state, epoch_id=1)
    after = _assign_set(ks.read_kmeans_state(spark, state))
    assert after == before
    _, want = _batch_grown(spark)
    assert before == want


def test_streaming_kmeans_empty_batch_noop(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("kmeans_empty")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    state = str(base / "state")
    ks.merge_kmeans_batch(spark, emb.limit(0), state, epoch_id=0)
    from near_real_time_data_warehouse_spark.sources.maintenance import path_exists

    assert not path_exists(spark, f"{state}/centroids")
    ks.merge_kmeans_batch(spark, emb, state, epoch_id=1)
    assert len(_assign_set(ks.read_kmeans_state(spark, state))) == emb.count()
