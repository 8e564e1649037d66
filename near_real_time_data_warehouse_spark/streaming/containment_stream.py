"""Streaming containment-dedup maintenance: fold document batches into
a persisted rare-shingle posting state and a monotone log of verified
containment pairs — ingestion-time excerpt/quote detection, built from
the batch kernel (operators/dedup.containment_pairs' stages).

Contract (deliberately different from the other streaming twins):
containment candidate generation depends on GLOBAL document frequency
("rare" shingles), and df only grows as the corpus does — so a pair
discovered when its shingle was rare stays discovered even if the
shingle later crosses RARE_DF_MAX. The maintained pair set is therefore
a MONOTONE DISCOVERY LOG:

- **precision is exact**: every logged pair is verified with exact
  shingle counts at discovery time over the full standing corpus, and
  containment ratios of a fixed pair never change (documents are
  immutable);
- **recall ⊇ the one-shot batch build**: any pair the batch build finds
  shares a shingle with final df ∈ [RARE_DF_MIN, RARE_DF_MAX]; when the
  pair's later endpoint arrived, that shingle's df was ≥ 2 (both docs
  present) and ≤ its final value, hence rare — so the stream had the
  same candidate. Tested as a superset property, not equality.

Per batch, cost ∝ batch: batch shingles, candidates = batch postings ×
standing postings on currently-rare shingles, exact verification
semi-filtered to candidate-touched docs. Replay-safe via per-epoch
dynamic partition overwrite; the state side excludes the current
epoch's own partition so a re-delivered batch re-derives identical
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    RARE_DF_MAX,
    RARE_DF_MIN,
    _shingle_arrays,
    verified_containment_from_arrays,
)
from .fold import drain, overwrite_partitions, parquet_stream, read_state, run_concurrent


def _verified_pairs(arrs_all: DataFrame, cand: DataFrame) -> DataFrame:
    """The shared batch-kernel verification stage — the array twin of
    dedup.verified_containment (bit-identical counts and ratios, pinned
    in test_dedup_guards) — projected to the streamed link columns."""
    return verified_containment_from_arrays(arrs_all, cand).select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b"
    )


def merge_containment_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, epoch_id: int = 0
) -> None:
    """Fold one document batch (doc_id, text) into the containment state
    at ``state_dir`` ({shingles,links} parquet). The shingle store keeps
    per-doc distinct-shingle ARRAYS (r14): the posting lists explode
    from them scan-side, and verification is the fused array kernel —
    one tokenize pass, one corpus-side materialization, and a doc-level
    verify instead of the exploded five-stage chain (VERDICT r13 #2)."""
    from ..sources.maintenance import path_exists

    if batch.isEmpty():
        return
    sh_dir = f"{state_dir}/shingles"
    links_dir = f"{state_dir}/links"

    arrs = _shingle_arrays(batch.select("doc_id", "text")).localCheckpoint(eager=True)

    if path_exists(spark, sh_dir):
        state_arrs = (
            spark.read.parquet(sh_dir)
            .filter(F.col("_epoch") != epoch_id)  # replay: never self-pair
            .select("doc_id", "arr", "n")
            # replay may re-deliver docs already in older epochs too
            .join(arrs.select("doc_id").distinct(), "doc_id", "left_anti")
        )
        all_arrs = state_arrs.unionByName(arrs).localCheckpoint(eager=True)
    else:
        # cold start: the union IS the (already checkpointed) batch —
        # a second checkpoint would just copy it (opt guide §1.2)
        all_arrs = arrs

    # the inverted-index legs are narrow explodes of the materialized
    # array frames (no separately-checkpointed exploded tables): the
    # BATCH leg explodes the batch checkpoint — keeping it a small,
    # broadcastable join side — and both legs semi-join the same `rare`
    # subtree
    batch_sh = arrs.select("doc_id", F.explode("arr").alias("shingle"))
    all_sh = all_arrs.select("doc_id", F.explode("arr").alias("shingle"))
    df_ = all_sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = df_.filter(
        (F.col("df") >= RARE_DF_MIN) & (F.col("df") <= RARE_DF_MAX)
    ).select("shingle")
    batch_posting = batch_sh.join(rare, "shingle", "left_semi")
    all_posting = all_sh.join(rare, "shingle", "left_semi")
    cand = (
        batch_posting.alias("a")
        .join(
            all_posting.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    # links' lineage reads only the LOCALLY-CHECKPOINTED all_arrs/arrs,
    # never sh_dir — so it needs no checkpoint of its own before the state
    # overwrite; and the two state writes are independent jobs (§2.6).
    links = _verified_pairs(all_arrs, cand)

    run_concurrent(
        lambda: overwrite_partitions(links, links_dir, epoch_id=epoch_id),
        lambda: overwrite_partitions(arrs, sh_dir, epoch_id=epoch_id),
    )


_LINKS_SCHEMA = "doc_a long, doc_b long, n_common long, n_a long, n_b long"


def read_containment_links(spark: SparkSession, state_dir: str) -> DataFrame:
    """The discovered pair log, distinct (pairs re-derived by replay or
    by later batches of the same docs collapse). An all-empty log — the
    partitioned write of an empty links frame leaves only _SUCCESS, and
    schema inference would fail — reads as an empty frame (review
    finding)."""
    return (
        read_state(spark, f"{state_dir}/links", _LINKS_SCHEMA)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
        .distinct()
    )


def run_streaming_containment(
    spark: SparkSession,
    docs_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain the available document files (availableNow), folding each
    micro-batch into the containment state."""
    drain(
        parquet_stream(spark, docs_dir, schema, max_files_per_trigger),
        checkpoint_dir,
        lambda s, batch, epoch_id: merge_containment_batch(s, batch, state_dir, epoch_id),
    )
