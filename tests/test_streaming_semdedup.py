"""Streaming SemDedup maintenance: the drained multi-batch pair set
equals the batch kernel applied to (training corpus, arriving batches),
and epoch replay is idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.operators import clustering as C
from near_real_time_data_warehouse_spark.streaming import semdedup_stream as ss
from near_real_time_data_warehouse_spark.streaming.fold import run_fold

from .conftest import SF_SMALL
from .fixtures import land_batches

_SPLIT = 400  # standing corpus trains; later vec_ids arrive as batches


def _pair_set(df):
    return {(r.vec_a, r.vec_b, r.cluster_id, r.cosine) for r in df.collect()}


def _batch_twin(spark):
    """Batch twin: domains trained on the standing corpus only, the
    whole union paired within those frozen clusters."""
    emb = C._emb(spark, SF_SMALL).select("vec_id", "embedding")
    ids, m = C._train_state_on(emb.filter(F.col("vec_id") < _SPLIT))
    return _pair_set(C.semdedup_pairs_on(emb, ids, m))


def test_streaming_semdedup_equals_batch(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("semdedup_stream")
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
        spark, ss.merge_semdedup_batch, f"{src}/*", emb.schema, state,
        str(base / "ckpt"),
    )
    got = _pair_set(ss.read_semdedup_pairs(spark, state))
    want = _batch_twin(spark)
    assert got, "no pairs drained — the fold is vacuous at this SF"
    assert got == want
    # cross-batch pairs must exist, or the old-member leg is untested
    assert any(a < _SPLIT <= b for a, b, _, _ in got), "no cross-batch pair"


def test_streaming_semdedup_epoch_replay_idempotent(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("semdedup_replay")
    emb = C._emb(spark, SF_SMALL).select("vec_id", "embedding")
    first = emb.filter(F.col("vec_id") < _SPLIT)
    second = emb.filter(F.col("vec_id") >= _SPLIT)
    state = str(base / "state")
    ss.merge_semdedup_batch(spark, first, state, epoch_id=0)
    ss.merge_semdedup_batch(spark, second, state, epoch_id=1)
    once = _pair_set(ss.read_semdedup_pairs(spark, state))
    ss.merge_semdedup_batch(spark, second, state, epoch_id=1)  # re-delivery
    twice = _pair_set(ss.read_semdedup_pairs(spark, state))
    assert once == twice
    members = spark.read.parquet(f"{state}/members")
    assert members.count() == members.select("vec_id").distinct().count()


def test_streaming_semdedup_empty_batch_noop(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("semdedup_empty")
    emb = C._emb(spark, SF_SMALL).select("vec_id", "embedding")
    state = str(base / "state")
    ss.merge_semdedup_batch(spark, emb.filter(F.col("vec_id") < _SPLIT), state, 0)
    before = _pair_set(ss.read_semdedup_pairs(spark, state))
    ss.merge_semdedup_batch(spark, emb.filter(F.lit(False)), state, 1)
    assert _pair_set(ss.read_semdedup_pairs(spark, state)) == before


def test_streaming_semdedup_sharded_groups_equal_batch(
    spark, tmp_path_factory, monkeypatch
):
    """Skew guard parity in the fold: with the cluster cap forced below
    the cluster sizes, every per-cluster group splits into block pairs —
    the drained pair set must still equal the (unsharded) batch twin."""
    want = _batch_twin(spark)
    from near_real_time_data_warehouse_spark.operators import clustering as C_mod

    monkeypatch.setattr(C_mod, "SEMDEDUP_CLUSTER_CAP", 16)
    base = tmp_path_factory.mktemp("semdedup_sharded")
    emb = C._emb(spark, SF_SMALL).select("vec_id", "embedding")
    state = str(base / "state")
    ss.merge_semdedup_batch(spark, emb.filter(F.col("vec_id") < _SPLIT), state, 0)
    ss.merge_semdedup_batch(spark, emb.filter(F.col("vec_id") >= _SPLIT), state, 1)
    got = _pair_set(ss.read_semdedup_pairs(spark, state))
    assert got == want
