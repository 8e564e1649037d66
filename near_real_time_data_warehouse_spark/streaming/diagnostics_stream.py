"""Streaming maintenance of the near-dup graph DIAGNOSTICS (triangle
counts / clustering coefficients and PageRank) — the last stage of the
curation story that was still nightly-recompute-only (VERDICT r4 #2, the
streaming half): SCD2, the dedup graph, rollups, IVF, linkage and
containment all had continuous folds; this gives the diagnostics one.

Builds ON TOP of the dedup-graph fold (dedup_stream.py): each
micro-batch first updates {shingles, bands, labels} through
``merge_dedup_batch`` (which returns the batch's verified new pairs),
then folds the diagnostics:

  1. the new pairs land in an ``_epoch=<id>`` partition of the standing
     ``pairs`` store (dynamic partition overwrite — replay-safe, like
     shingles/bands);
  2. touched components = components of the new pairs' endpoints under
     the UPDATED labels — the only components whose diagnostics can
     change (triangles' three edges live inside one component; PageRank
     mass only flows along edges);
  3. the kernels (operators/dedup.triangle_stats / pagerank_stats)
     re-run on the touched components' edge subgraph only; untouched
     components keep their stored rows. Compute cost ∝ touched
     components + batch, never corpus — the dedup_graph_incremental
     contract.

State is endpoint-only: singleton docs carry no stored rows (their
PageRank is the closed-form base constant, their triangle count zero);
``read_diagnostics_state`` materializes the full per-doc PageRank view
by unioning the labels' doc universe with that constant — so per-fold
state writes stay graph-sized, not corpus-sized.

Replay safety: a re-delivered epoch overwrites its own pairs partition
and re-derives the identical touched-component recompute — idempotent
(tested by double-applying a batch)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import PR_BASE, pagerank_stats, triangle_stats
from .dedup_stream import merge_dedup_batch
from .fold import overwrite_partitions, read_state

_TRI_SCHEMA = "doc_id long, degree long, n_triangles long, clustering_coeff double"
_PR_SCHEMA = "doc_id long, degree long, rank long"


def merge_diagnostics_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, epoch_id: int = 0
) -> None:
    """Fold one document batch (doc_id, text) into the dedup-graph state
    AND its diagnostics at ``state_dir``
    ({shingles,bands,labels,pairs,triangles,pagerank} parquet)."""
    new_pairs = merge_dedup_batch(spark, batch, state_dir, epoch_id)
    if new_pairs is None:  # empty batch
        return
    pairs_dir = f"{state_dir}/pairs"
    tri_dir = f"{state_dir}/triangles"
    pr_dir = f"{state_dir}/pagerank"

    overwrite_partitions(new_pairs, pairs_dir, epoch_id=epoch_id)
    # the standing pair set (distinct: a replayed epoch's rows collapse).
    # read_state, NOT bare read.parquet: if the first non-empty batch
    # yields zero verified pairs the epoch write leaves a directory with
    # only _SUCCESS (no footers), schema inference would raise, and
    # checkpoint replay would re-deliver the epoch and crash again —
    # permanently wedging the stream (the read_linkage_state trap).
    all_pairs = (
        read_state(spark, pairs_dir, "doc_a long, doc_b long, _epoch long")
        .select("doc_a", "doc_b").distinct()
        .localCheckpoint(eager=True)
    )
    labels = spark.read.parquet(f"{state_dir}/labels")

    endpoints = (
        new_pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(new_pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    touched_comps = (
        labels.join(endpoints, "doc_id", "left_semi").select("component").distinct()
    )
    touched = (
        labels.join(touched_comps, "component", "left_semi")
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    touched_pairs = all_pairs.join(
        touched.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi"
    ).localCheckpoint(eager=True)

    stored_tri = read_state(spark, tri_dir, _TRI_SCHEMA)
    new_tri = (
        stored_tri.join(touched, "doc_id", "left_anti")
        .unionByName(triangle_stats(touched_pairs))
        .localCheckpoint(eager=True)
    )
    stored_pr = read_state(spark, pr_dir, _PR_SCHEMA)
    new_pr = (
        stored_pr.join(touched, "doc_id", "left_anti")
        .unionByName(pagerank_stats(touched, touched_pairs))
        .localCheckpoint(eager=True)
    )
    new_tri.write.mode("overwrite").parquet(tri_dir)
    new_pr.write.mode("overwrite").parquet(pr_dir)


def read_diagnostics_state(
    spark: SparkSession, state_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(triangles, pagerank): triangles covers edge-endpoint docs (the
    full-rebuild kernels' output shape); pagerank is materialized to the
    full doc universe — stored endpoint rows plus the closed-form base
    rank for singleton docs."""
    tri = read_state(spark, f"{state_dir}/triangles", _TRI_SCHEMA)
    stored_pr = read_state(spark, f"{state_dir}/pagerank", _PR_SCHEMA)
    labels = spark.read.parquet(f"{state_dir}/labels")
    passive = (
        labels.select("doc_id")
        .join(stored_pr.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.lit(0).cast("long").alias("degree"),
            F.lit(PR_BASE).cast("long").alias("rank"),
        )
    )
    return tri, stored_pr.unionByName(passive)

