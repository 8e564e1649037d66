"""Streaming near-dup graph maintenance: a foreachBatch sink that keeps
the LSH dedup state (shingle store, band table, component labels)
current as document batches arrive — ingestion-time dedup as a
*continuous* process, built from the same kernels as the batch
operators (operators/dedup.py), so the drained end state is bit-equal
to the from-scratch batch build (tested).

Per micro-batch, cost ∝ batch — the dedup_graph_incremental contract:
  1. batch shingles + band signatures (never the corpus's);
  2. new verified edges = LSH collisions with ≥ 1 batch endpoint
     (corpus×corpus pairs cannot change);
  3. labels updated by the quotient merge
     (operators/dedup.merge_components_with_edges — vertices ∝ touched
     components, remap broadcast-sized).

Replay safety (the exactly-once discipline of fold.py):
shingles and bands land in ``_epoch=<id>`` partitions with dynamic
partition overwrite, so a re-delivered epoch replaces its own rows
instead of appending duplicates; label updates reset the replayed
batch's docs to identity labels before re-merging, which re-derives
the same fixpoint (idempotence is tested by double-applying a batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    _band_signatures_from_arrays,
    _jaccard_pairs_from_arrays,
    _shingle_arrays,
    connected_components,
    merge_components_with_edges,
)
from ..sources.maintenance import path_exists
from .fold import overwrite_partitions, run_concurrent


def merge_dedup_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, epoch_id: int = 0
) -> DataFrame | None:
    """Fold one document batch (doc_id, text) into the persisted dedup
    graph state at ``state_dir`` ({shingles,bands,labels} parquet).
    Returns the batch's verified new pairs (doc_a, doc_b) — the delta the
    diagnostics fold (diagnostics_stream.py) consumes — or None for an
    empty batch."""
    if batch.isEmpty():
        return None
    sh_dir = f"{state_dir}/shingles"
    bands_dir = f"{state_dir}/bands"
    labels_dir = f"{state_dir}/labels"

    # ONE tokenize pass: the per-doc distinct shingle ARRAYS are the
    # single materialized base AND the persisted shingle-store format —
    # the band table, the batch id list, and the Jaccard verification all
    # derive from the arrays. r14 (VERDICT r13 #1): the exploded shingle
    # store and the shingle-level verify chain (semi-filter + sizes
    # groupBy + two shingle joins + count groupBy + two size joins) are
    # replaced by the fused array kernel _jaccard_pairs_from_arrays —
    # two doc-level joins + a map-side intersect, bit-identical pair set
    # (pinned in test_dedup_guards). Band signatures are bit-identical to
    # the exploded path (min over the same hash set, zero-shuffle).
    arrs = _shingle_arrays(batch.select("doc_id", "text")).localCheckpoint(
        eager=True
    )
    batch_ids = arrs.select("doc_id").distinct()
    batch_bands = _band_signatures_from_arrays(arrs).localCheckpoint(eager=True)

    if not path_exists(spark, labels_dir):
        # first batch: the state IS the batch
        a, b = batch_bands.alias("a"), batch_bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_sig") == F.col("b.band_sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        pairs = _jaccard_pairs_from_arrays(arrs, cand).localCheckpoint(eager=True)
        edges = pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        labels = connected_components(batch_ids, edges)
        # all three state writes read only checkpointed frames (labels'
        # lineage ends in the driver-resolved quotient or a per-round
        # checkpoint) — independent jobs, submitted concurrently (§2.6)
        run_concurrent(
            lambda: overwrite_partitions(arrs, sh_dir, epoch_id=epoch_id),
            lambda: overwrite_partitions(batch_bands, bands_dir, epoch_id=epoch_id),
            lambda: labels.write.mode("overwrite").parquet(labels_dir),
        )
        return pairs

    state_arrs = spark.read.parquet(sh_dir).drop("_epoch")
    state_bands = spark.read.parquet(bands_dir).drop("_epoch")
    stored = spark.read.parquet(labels_dir)

    # epoch replay: this epoch's rows may already be in the state —
    # exclude them from the "corpus" side so the union below is exact
    all_bands = (
        state_bands.join(batch_ids, "doc_id", "left_anti")
        .unionByName(batch_bands)
    )
    all_arrs = (
        state_arrs.join(batch_ids, "doc_id", "left_anti")
        .unionByName(arrs.select("doc_id", "arr", "n"))
    )
    cand = (
        batch_bands.alias("a")
        .join(
            all_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    new_pairs = _jaccard_pairs_from_arrays(all_arrs, cand).localCheckpoint(eager=True)
    current = (
        stored.select("doc_id", F.col("component").alias("label"))
        .join(batch_ids, "doc_id", "left_anti")
        .unionByName(batch_ids.select("doc_id", F.col("doc_id").alias("label")))
    )
    labels = merge_components_with_edges(current, new_pairs).localCheckpoint(eager=True)
    run_concurrent(
        lambda: overwrite_partitions(arrs, sh_dir, epoch_id=epoch_id),
        lambda: overwrite_partitions(batch_bands, bands_dir, epoch_id=epoch_id),
        lambda: labels.write.mode("overwrite").parquet(labels_dir),
    )
    return new_pairs

