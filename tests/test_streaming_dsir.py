"""Streaming DSIR screen: every drained batch's scores equal the batch
kernel run against exactly the prior epochs' documents, and epoch replay
is idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.operators import text as T
from near_real_time_data_warehouse_spark.streaming import dsir_stream as ds
from near_real_time_data_warehouse_spark.streaming.fold import run_fold

from .conftest import SF_SMALL
from .fixtures import land_batches


def _rows(df):
    return {(r.doc_id, r.n_features, r.score_bits) for r in df.collect()}


def _expected(spark, batch, standing):
    """Direct batch computation from DOCS: the state fold must preserve
    exactly these statistics."""
    stats = T.dsir_fx(standing).groupBy("bucket", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    langs = standing.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    scored = T.dsir_score_with_stats(T.dsir_fx(batch), stats, langs)
    return (
        batch.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_features", F.lit(0)).cast("long").alias("n_features"),
            F.coalesce("score_bits", F.lit(0)).cast("long").alias("score_bits"),
        )
    )


def _doc_batches(spark, bounds):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    return docs, [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        for lo, hi in bounds
    ]


def test_streaming_dsir_scores_match_batch_kernel(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("dsir_stream")
    docs, batches = _doc_batches(
        spark, [(0, 170), (170, 340), (340, 10**9)]
    )
    state = str(base / "state")
    for epoch, b in enumerate(batches):
        ds.merge_dsir_batch(spark, b, state, epoch_id=epoch)
    scores = ds.read_dsir_scores(spark, state)
    # epoch 0 is the documented cold start: real feature counts, score 0
    e0 = scores.filter(F.col("_epoch") == 0)
    assert e0.count() == batches[0].count()
    assert e0.filter(F.col("score_bits") != 0).count() == 0
    assert e0.filter(F.col("n_features") > 0).count() > 0
    # each later epoch == batch kernel against the prior epochs' docs
    for epoch in (1, 2):
        standing = docs.filter(
            F.col("doc_id") < (170 if epoch == 1 else 340)
        )
        want = _rows(_expected(spark, batches[epoch], standing))
        got = _rows(scores.filter(F.col("_epoch") == epoch).drop("_epoch"))
        assert got == want, f"epoch {epoch}"
    # scores genuinely discriminate (not all equal)
    distinct_scores = scores.select("score_bits").distinct().count()
    assert distinct_scores > 3


def test_streaming_dsir_drain_and_replay(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("dsir_drain")
    docs, batches = _doc_batches(spark, [(0, 250), (250, 10**9)])
    src = base / "stream"
    src.mkdir()
    land_batches(batches, src)
    state = str(base / "state")
    run_fold(
        spark, ds.merge_dsir_batch, f"{src}/*", docs.schema, state,
        str(base / "ckpt"),
    )
    drained = ds.read_dsir_scores(spark, state)
    assert drained.select("doc_id").distinct().count() == docs.count()

    # replaying the last epoch recomputes the identical state
    last_epoch = drained.agg(F.max("_epoch")).collect()[0][0]
    before = _rows(drained.drop("_epoch"))
    replay_batch = drained.filter(F.col("_epoch") == last_epoch).select("doc_id")
    ds.merge_dsir_batch(
        spark,
        docs.join(replay_batch, "doc_id", "left_semi"),
        state,
        epoch_id=last_epoch,
    )
    after = _rows(ds.read_dsir_scores(spark, state).drop("_epoch"))
    assert after == before
