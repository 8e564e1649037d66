"""Streaming PCA maintenance: every drained batch's projections equal
the driver-side merged-Gram computation over exactly the prior epochs'
vectors plus the batch (the emb_pca_incremental semantics), and epoch
replay is idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.operators import similarity as sim
from near_real_time_data_warehouse_spark.streaming import pca_stream as ps
from near_real_time_data_warehouse_spark.streaming.fold import run_fold

from .conftest import SF_SMALL
from .fixtures import land_batches


def _rows(df):
    return {(r.vec_id, r.label, r.proj_num, r.proj) for r in df.collect()}


def _expected(spark, batch, prior):
    """Direct computation: Gram of prior ∪ batch, eigvec, project batch."""
    parts = [sim._gram_agg(prior).collect(), sim._gram_agg(batch).collect()]
    v, sums, n = sim._pca_eigvec_ints(ps._merged_cov_rows(parts))
    const = sum(v[j] * sums[j] for j in range(sim.EMB_DIM))
    den = float(n * sim.QUANT * sim.PCA_SCALE)
    q = sim._quantized(batch)
    pn = (F.lit(n).cast("long") * sim._dot("q", "v")).cast("long") - F.lit(
        const
    ).cast("long")
    return q.withColumn(
        "v", F.array([F.lit(x).cast("long") for x in v])
    ).select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        pn.alias("proj_num"),
        (pn.cast("double") / F.lit(den)).alias("proj"),
    )


def _vec_batches(spark, bounds):
    vecs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    return vecs, [
        vecs.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        for lo, hi in bounds
    ]


def test_streaming_pca_matches_merged_gram(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("pca_stream")
    vecs, batches = _vec_batches(spark, [(0, 60), (60, 130), (130, 10**9)])
    state = str(base / "state")
    for epoch, b in enumerate(batches):
        ps.merge_pca_batch(spark, b, state, epoch_id=epoch)
    scores = ps.read_pca_scores(spark, state)
    assert scores.select("vec_id").distinct().count() == vecs.count()
    for epoch, lo in ((1, 60), (2, 130)):
        prior = vecs.filter(F.col("vec_id") < lo)
        want = _rows(_expected(spark, batches[epoch], prior))
        got = _rows(scores.filter(F.col("_epoch") == epoch).drop("_epoch"))
        assert got == want, f"epoch {epoch}"
    # projections genuinely vary
    assert scores.select("proj_num").distinct().count() > 3


def test_streaming_pca_drain_and_replay(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("pca_drain")
    vecs, batches = _vec_batches(spark, [(0, 100), (100, 10**9)])
    src = base / "stream"
    src.mkdir()
    land_batches(batches, src)
    state = str(base / "state")
    run_fold(
        spark, ps.merge_pca_batch, f"{src}/*", vecs.schema, state,
        str(base / "ckpt"),
    )
    drained = ps.read_pca_scores(spark, state)
    assert drained.select("vec_id").distinct().count() == vecs.count()

    last_epoch = drained.agg(F.max("_epoch")).collect()[0][0]
    before = _rows(drained.drop("_epoch"))
    replay_ids = drained.filter(F.col("_epoch") == last_epoch).select("vec_id")
    ps.merge_pca_batch(
        spark,
        vecs.join(replay_ids, "vec_id", "left_semi"),
        state,
        epoch_id=last_epoch,
    )
    after = _rows(ps.read_pca_scores(spark, state).drop("_epoch"))
    assert after == before
