"""Streaming substring-dedup maintenance: the drained multi-batch profile
equals the from-scratch batch build, epoch replay is idempotent, and a
later batch UPDATES an old doc's profile (the unique→duplicated window
transition the pair-graph folds never face)."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.operators import dedup
from near_real_time_data_warehouse_spark.streaming import substring_stream as ss
from near_real_time_data_warehouse_spark.streaming.fold import run_fold

from .conftest import SF_SMALL
from .fixtures import land_batches


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_streaming_substring_equals_batch_build(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("substr_stream")
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
        spark, ss.merge_substring_batch, f"{src}/*", docs.schema, state,
        str(base / "ckpt"),
    )
    got = _rows(ss.read_substring_profile(spark, state))
    want = _rows(dedup.substring_spans_df(docs))
    assert got == want and got


def test_streaming_substring_replay_idempotent_and_updates_old_docs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("substr_replay")
    state = str(base / "state")
    shared = " ".join(f"w{i}" for i in range(10))
    b1 = spark.createDataFrame(
        [(1, shared + " xtail0 xtail1"), (2, " ".join(f"u{i}" for i in range(12)))],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "ylead0 ylead1 " + shared)], "doc_id long, text string"
    )
    ss.merge_substring_batch(spark, b1, state, epoch_id=0)
    # after batch 1 nothing is duplicated
    assert ss.read_substring_profile(spark, state).count() == 0
    ss.merge_substring_batch(spark, b2, state, epoch_id=1)
    prof = {r["doc_id"]: r for r in ss.read_substring_profile(spark, state).collect()}
    # batch 2 creates a dup span in the NEW doc and retroactively in doc 1
    assert set(prof) == {1, 3}
    assert prof[1]["dup_tokens"] == 10 and prof[3]["dup_tokens"] == 10
    # replaying epoch 1 re-derives the identical state
    before = _rows(ss.read_substring_profile(spark, state))
    hashes_before = _rows(
        spark.read.parquet(f"{state}/winhashes").drop("_epoch")
    )
    ss.merge_substring_batch(spark, b2, state, epoch_id=1)
    assert _rows(ss.read_substring_profile(spark, state)) == before
    assert _rows(spark.read.parquet(f"{state}/winhashes").drop("_epoch")) == hashes_before
    # empty batch is a no-op
    assert ss.merge_substring_batch(
        spark, spark.createDataFrame([], "doc_id long, text string"), state, 2
    ) is None
    assert _rows(ss.read_substring_profile(spark, state)) == before
