"""Streaming IVF index maintenance: the drained multi-batch state equals
the batch incremental build's grown index (same stored-centroid state,
same assignments), and epoch replay is idempotent."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.operators import similarity as S
from near_real_time_data_warehouse_spark.streaming import ivf_stream as ivs
from near_real_time_data_warehouse_spark.streaming.fold import run_fold

from .conftest import SF_SMALL
from .fixtures import land_batches


def _assign_set(df):
    return {(r.neighbor_id, r.centroid) for r in df.collect()}


def _batch_grown_assignments(spark):
    """The batch twin: centroids trained on the standing corpus only,
    old + batch assigned against that stored state
    (operators/similarity.ann_ivf_incremental's index-side kernel)."""
    emb = S._emb(spark, SF_SMALL)
    old = emb.filter(F.col("vec_id") < S.IVF_INCR_SPLIT)
    batch = emb.filter(F.col("vec_id") >= S.IVF_INCR_SPLIT)
    cmat = S._train_centroids_on_sample(old)
    grown = S._assign_lists(spark, old, cmat).unionByName(
        S._assign_lists(spark, batch, cmat)
    )
    return cmat, _assign_set(grown)


def test_streaming_ivf_equals_batch_incremental(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("ivf_stream")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    src = base / "stream"
    src.mkdir()
    # file 0 = the standing corpus (trains the centroids), later files =
    # arriving batches folded against the stored state
    splits = [(0, S.IVF_INCR_SPLIT), (S.IVF_INCR_SPLIT, S.IVF_INCR_SPLIT + 50),
              (S.IVF_INCR_SPLIT + 50, 10**9)]
    land_batches(
        [emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)) for lo, hi in splits],
        src,
    )

    state = str(base / "state")
    run_fold(
        spark, ivs.merge_ivf_batch, f"{src}/*", emb.schema, state,
        str(base / "ckpt"),
    )

    cmat_want, want = _batch_grown_assignments(spark)
    cmat_got = ivs._load_centroids(spark, f"{state}/centroids")
    assert np.array_equal(cmat_got, cmat_want), "stored centroid state drifted"
    got = _assign_set(ivs.read_ivf_state(spark, state))
    assert got == want
    assert len(got) == emb.count()


def test_streaming_ivf_epoch_replay_idempotent(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("ivf_replay")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    state = str(base / "state")
    b1 = emb.filter(F.col("vec_id") < S.IVF_INCR_SPLIT)
    b2 = emb.filter(F.col("vec_id") >= S.IVF_INCR_SPLIT)
    ivs.merge_ivf_batch(spark, b1, state, epoch_id=0)
    ivs.merge_ivf_batch(spark, b2, state, epoch_id=1)
    before = _assign_set(ivs.read_ivf_state(spark, state))
    # crash-after-write, restart re-delivers epoch 1
    ivs.merge_ivf_batch(spark, b2, state, epoch_id=1)
    after = _assign_set(ivs.read_ivf_state(spark, state))
    assert after == before
    _, want = _batch_grown_assignments(spark)
    assert before == want
