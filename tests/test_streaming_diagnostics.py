"""Streaming graph-diagnostics maintenance: the drained multi-batch
state (triangles + PageRank folded per batch over touched components
only) equals the from-scratch banded batch build, and epoch replay is
idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.operators import dedup
from near_real_time_data_warehouse_spark.streaming import diagnostics_stream as gs
from near_real_time_data_warehouse_spark.streaming.fold import run_fold

from .conftest import SF_SMALL
from .fixtures import land_batches


def _tri_set(df):
    return {(r.doc_id, r.degree, r.n_triangles, r.clustering_coeff) for r in df.collect()}


def _pr_set(df):
    return {(r.doc_id, r.degree, r.rank) for r in df.collect()}


def test_streaming_diagnostics_equals_batch_build(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("diag_stream")
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
        spark, gs.merge_diagnostics_batch, f"{src}/*", docs.schema, state,
        str(base / "ckpt"),
    )
    tri, pr = gs.read_diagnostics_state(spark, state)
    assert _tri_set(tri) == _tri_set(dedup.dedup_triangles_banded(spark, SF_SMALL))
    assert _pr_set(pr) == _pr_set(dedup.dedup_pagerank_banded(spark, SF_SMALL))
    # pagerank covers the whole doc universe, triangles only endpoints
    assert pr.count() == docs.count()
    assert tri.count() < docs.count()


def test_first_batch_with_zero_pairs_does_not_wedge(spark, tmp_path_factory):
    """ADVICE r5 (high): a first non-empty batch that yields zero verified
    near-dup pairs leaves the pairs store as a directory with only
    _SUCCESS (no parquet footers). The fold must read that as empty —
    not raise from schema inference, which under checkpoint replay would
    re-deliver the epoch and permanently wedge the stream."""
    base = tmp_path_factory.mktemp("diag_zero_pairs")
    state = str(base / "state")
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    uniq = [
        (i, " ".join(f"{w}{i}x{j}" for j, w in enumerate(words * 3)))
        for i in range(4)
    ]
    b1 = spark.createDataFrame(uniq, "doc_id long, text string")
    # zero-pair first batch: must not raise, state must be readable
    gs.merge_diagnostics_batch(spark, b1, state, epoch_id=0)
    tri, pr = gs.read_diagnostics_state(spark, state)
    assert tri.count() == 0
    # every doc is a singleton at the closed-form base rank
    assert {r.rank for r in pr.collect()} == {dedup.PR_BASE}
    assert pr.count() == 4
    # a later batch with a real near-dup pair still folds correctly
    dup_text = " ".join(words * 5)
    b2 = spark.createDataFrame(
        [(100, dup_text), (101, dup_text)], "doc_id long, text string"
    )
    gs.merge_diagnostics_batch(spark, b2, state, epoch_id=1)
    tri2, pr2 = gs.read_diagnostics_state(spark, state)
    assert {r.doc_id for r in tri2.collect()} == {100, 101}
    assert pr2.count() == 6
    ranked = {r.doc_id: r.rank for r in pr2.collect()}
    assert ranked[100] == ranked[101] and ranked[100] != dedup.PR_BASE


def test_streaming_diagnostics_epoch_replay_idempotent(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("diag_replay")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select("doc_id", "text")
    state = str(base / "state")
    b1 = docs.filter(F.col("doc_id") < 250)
    b2 = docs.filter(F.col("doc_id") >= 250)
    gs.merge_diagnostics_batch(spark, b1, state, epoch_id=0)
    gs.merge_diagnostics_batch(spark, b2, state, epoch_id=1)
    tri1, pr1 = gs.read_diagnostics_state(spark, state)
    before_tri, before_pr = _tri_set(tri1), _pr_set(pr1)
    n_pairs = spark.read.parquet(f"{state}/pairs").count()
    # crash-after-write, restart re-delivers epoch 1
    gs.merge_diagnostics_batch(spark, b2, state, epoch_id=1)
    tri2, pr2 = gs.read_diagnostics_state(spark, state)
    assert _tri_set(tri2) == before_tri
    assert _pr_set(pr2) == before_pr
    assert spark.read.parquet(f"{state}/pairs").count() == n_pairs
    # end state still equals the from-scratch build
    assert before_tri == _tri_set(dedup.dedup_triangles_banded(spark, SF_SMALL))
    assert before_pr == _pr_set(dedup.dedup_pagerank_banded(spark, SF_SMALL))
