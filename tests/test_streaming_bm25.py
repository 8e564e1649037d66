"""Streaming BM25 router: every drained batch's routing equals the batch
kernel run against exactly the prior epochs' statistics, and epoch
replay is idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.operators import text as T
from near_real_time_data_warehouse_spark.streaming import bm25_stream as bs
from near_real_time_data_warehouse_spark.streaming.fold import run_fold

from .conftest import SF_SMALL
from .fixtures import land_batches


def _rows(df):
    return {
        (r.query_id, r.rank, r.doc_id, r.score_scaled, r.score, r.n_hit_terms)
        for r in df.collect()
    }


def _expected(spark, batch, standing):
    """Direct kernel computation from the standing DOCS: the state fold
    must preserve exactly these statistics."""
    st = T.bm25_batch_tfdl(standing)
    df_st = st.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = standing.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        st.agg(F.sum("tf").alias("t_tokens"))
    ).select("n_docs", F.expr("t_tokens DIV n_docs").alias("avgdl"))
    return T.bm25_score_with_stats(T.bm25_batch_tfdl(batch), df_st, stats)


def _doc_batches(spark, bounds):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    return docs, [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        for lo, hi in bounds
    ]


def test_streaming_bm25_routes_match_batch_kernel(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bm25_stream")
    docs, batches = _doc_batches(spark, [(0, 170), (170, 340), (340, 10**9)])
    state = str(base / "state")
    for epoch, b in enumerate(batches):
        bs.merge_bm25_batch(spark, b, state, epoch_id=epoch)
    scores = bs.read_bm25_scores(spark, state)
    # epoch 0 is the documented cold start: no standing queries → no rows
    assert scores.filter(F.col("_epoch") == 0).count() == 0
    # each later epoch == batch kernel against the prior epochs' docs
    for epoch in (1, 2):
        standing = docs.filter(F.col("doc_id") < (170 if epoch == 1 else 340))
        want = _rows(_expected(spark, batches[epoch], standing))
        got = _rows(scores.filter(F.col("_epoch") == epoch).drop("_epoch"))
        assert got == want, f"epoch {epoch}"
        assert got  # the router actually routed something
    # ranks are contiguous from 1 within each (epoch, query)
    per_group: dict[tuple, list[int]] = {}
    for r in scores.collect():
        per_group.setdefault((r["_epoch"], r["query_id"]), []).append(r["rank"])
    for ranks in per_group.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_streaming_bm25_drain_and_replay(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bm25_drain")
    docs, batches = _doc_batches(spark, [(0, 250), (250, 10**9)])
    src = base / "stream"
    src.mkdir()
    land_batches(batches, src)
    state = str(base / "ckpt_src")
    run_fold(
        spark, bs.merge_bm25_batch, f"{src}/*", docs.schema, state,
        str(base / "ckpt"),
    )
    drained = bs.read_bm25_scores(spark, state)
    assert drained.count() > 0

    # replaying the last epoch recomputes the identical state
    last_epoch = drained.agg(F.max("_epoch")).collect()[0][0]
    before = _rows(drained.drop("_epoch"))
    # the replayed batch is the same doc set that epoch originally saw
    replay_docs = docs.filter(F.col("doc_id") >= 250)
    bs.merge_bm25_batch(spark, replay_docs, state, epoch_id=last_epoch)
    after = _rows(bs.read_bm25_scores(spark, state).drop("_epoch"))
    assert after == before
