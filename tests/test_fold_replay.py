"""Crash replay for every streaming fold: exactly-once end to end.

Each fold drains three one-file epochs through ``fold.run_fold`` twice
from empty state. The clean run goes straight through. The crashed run
raises right after epoch 1's merge returns — the state writes have
landed, the checkpoint commit has not — and is then rerun on the same
checkpoint, which replays epoch 1 and goes on to epoch 2 over the
replayed state. Every state table of the crashed run, read as a
multiset of rows with ``_epoch`` included, must equal the clean run's:
a replayed epoch may only rewrite its own rows, never add to them.
"""

from __future__ import annotations

import os
from collections import Counter
from functools import partial

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from near_real_time_data_warehouse_spark.sources.testdata import load_table
from near_real_time_data_warehouse_spark.streaming import (
    bm25_stream,
    containment_stream,
    dedup_stream,
    diagnostics_stream,
    dsir_stream,
    ivf_stream,
    kmeans_stream,
    linkage_stream,
    pca_stream,
    quality_stream,
    semdedup_stream,
    substring_stream,
)
from near_real_time_data_warehouse_spark.streaming.fold import run_fold

from .conftest import SF_SMALL
from .fixtures import land_batches

_DOCS = ("documents", ("doc_id", "text"), "doc_id", [0, 170, 340, 10**9])
# the first vector epoch is the standing corpus the centroid folds train on
_VECS = ("embeddings", ("vec_id", "embedding"), "vec_id", [0, 400, 450, 10**9])

# fold -> (merge, input table, input columns, split column, epoch cuts)
FOLDS = {
    "bm25": (bm25_stream.merge_bm25_batch, *_DOCS),
    "containment": (containment_stream.merge_containment_batch, *_DOCS),
    "dedup": (dedup_stream.merge_dedup_batch, *_DOCS),
    "diagnostics": (diagnostics_stream.merge_diagnostics_batch, *_DOCS),
    "dsir": (
        dsir_stream.merge_dsir_batch,
        "documents",
        ("doc_id", "lang", "text"),
        "doc_id",
        [0, 170, 340, 10**9],
    ),
    "ivf": (ivf_stream.merge_ivf_batch, *_VECS),
    "kmeans": (kmeans_stream.merge_kmeans_batch, *_VECS),
    "linkage": (
        linkage_stream.merge_linkage_batch,
        "part",
        ("p_partkey", "p_name"),
        "p_partkey",
        [0, 70, 140, 10**9],
    ),
    "pca": (
        pca_stream.merge_pca_batch,
        "embeddings",
        ("vec_id", "embedding", "label"),
        "vec_id",
        [0, 170, 340, 10**9],
    ),
    # every lineitem column: the stream carries the whole table
    "quality": (
        quality_stream.merge_quality_batch,
        "lineitem",
        ("*",),
        "l_orderkey",
        [0, 500, 1000, 10**9],
    ),
    "semdedup": (semdedup_stream.merge_semdedup_batch, *_VECS),
    "substring": (substring_stream.merge_substring_batch, *_DOCS),
}


def _crash_once_after_epoch_1(merge):
    """``merge`` that raises once, right after epoch 1's merge returns:
    its state is written, its checkpoint commit is not."""
    crashed = []

    def merge_then_crash(spark, batch, *, state_dir, epoch_id):
        out = merge(spark, batch, state_dir=state_dir, epoch_id=epoch_id)
        if epoch_id == 1 and not crashed:
            crashed.append(epoch_id)
            raise RuntimeError("injected crash between state write and commit")
        return out

    return merge_then_crash


def _recording(merge, seen):
    def merge_and_record(spark, batch, *, state_dir, epoch_id):
        seen.append(epoch_id)
        return merge(spark, batch, state_dir=state_dir, epoch_id=epoch_id)

    return merge_and_record


def _state_tables(spark, state_dir):
    """Every table under ``state_dir`` as a multiset of its rows, with the
    partition columns (``_epoch`` among them) included. A partitioned
    write of an empty frame leaves only _SUCCESS and reads as empty."""
    tables = {}
    for name in sorted(os.listdir(state_dir)):
        try:
            rows = spark.read.parquet(os.path.join(state_dir, name)).collect()
        except AnalysisException:
            rows = []
        tables[name] = Counter(repr(r) for r in rows)
    return tables


@pytest.mark.parametrize("fold", sorted(FOLDS))
def test_crash_between_state_write_and_commit_replays_exactly_once(
    spark, tmp_path_factory, fold
):
    merge, table, cols, key, cuts = FOLDS[fold]
    frame = spark.read.parquet(f"{SF_SMALL}/{table}.parquet").select(*cols)
    if fold == "quality":
        merge = partial(merge, orders=load_table(spark, SF_SMALL, "orders"))
    base = tmp_path_factory.mktemp(f"replay_{fold}")
    src = base / "stream"
    src.mkdir()
    land_batches(
        [
            frame.filter((F.col(key) >= lo) & (F.col(key) < hi))
            for lo, hi in zip(cuts, cuts[1:])
        ],
        src,
    )

    def run(merge, name):
        run_fold(
            spark, merge, f"{src}/*", frame.schema, str(base / name),
            str(base / f"{name}_ckpt"),
        )

    run(merge, "clean")

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run(_crash_once_after_epoch_1(merge), "crashed")
    commits = base / "crashed_ckpt" / "commits"
    assert (commits / "0").exists()
    assert not (commits / "1").exists()

    rerun = []
    run(_recording(merge, rerun), "crashed")
    assert rerun == [1, 2], "the rerun must replay epoch 1, then run epoch 2"

    clean = _state_tables(spark, str(base / "clean"))
    assert clean, "the clean run wrote no state"
    assert _state_tables(spark, str(base / "crashed")) == clean
