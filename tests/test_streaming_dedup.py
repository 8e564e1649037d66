"""Streaming dedup graph maintenance: the drained multi-batch state
equals the from-scratch batch build, and epoch replay is idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.operators import dedup
from near_real_time_data_warehouse_spark.streaming import dedup_stream as ds
from near_real_time_data_warehouse_spark.streaming.fold import run_fold

from .conftest import SF_SMALL
from .fixtures import land_batches


def _labels_set(df):
    return {(r.doc_id, r.component) for r in df.collect()}


def test_streaming_dedup_equals_batch_build(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("dedup_stream")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select("doc_id", "text")
    src = base / "stream"
    src.mkdir()
    land_batches(
        [
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            for lo, hi in [(0, 170), (170, 340), (340, 10**9)]
        ],
        src,
    )

    state = str(base / "state")
    run_fold(
        spark, ds.merge_dedup_batch, f"{src}/*", docs.schema, state,
        str(base / "ckpt"),
    )
    got = _labels_set(spark.read.parquet(f"{state}/labels"))
    want = _labels_set(dedup.dedup_components_minhash(spark, SF_SMALL))
    assert got == want
    # and the state holds every doc's shingles/bands exactly once
    n_docs = docs.count()
    assert spark.read.parquet(f"{state}/bands").select("doc_id").distinct().count() == n_docs
    assert len(got) == n_docs


def test_streaming_dedup_epoch_replay_idempotent(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("dedup_replay")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select("doc_id", "text")
    state = str(base / "state")
    b1 = docs.filter(F.col("doc_id") < 250)
    b2 = docs.filter(F.col("doc_id") >= 250)
    ds.merge_dedup_batch(spark, b1, state, epoch_id=0)
    ds.merge_dedup_batch(spark, b2, state, epoch_id=1)
    before = _labels_set(spark.read.parquet(f"{state}/labels"))
    n_bands = spark.read.parquet(f"{state}/bands").count()
    # crash-after-write, restart re-delivers epoch 1
    ds.merge_dedup_batch(spark, b2, state, epoch_id=1)
    after = _labels_set(spark.read.parquet(f"{state}/labels"))
    assert after == before
    assert spark.read.parquet(f"{state}/bands").count() == n_bands
    assert before == _labels_set(dedup.dedup_components_minhash(spark, SF_SMALL))
