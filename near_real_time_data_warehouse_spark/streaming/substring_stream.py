"""Streaming substring-dedup maintenance: a foreachBatch fold that keeps
the per-document duplicated-span profile (docs_exact_substring_dedup's
output) current as document batches arrive, built from the same kernels
as the batch operator (operators/dedup._positional_shingles /
_spans_profile) so the drained end state is bit-equal to the
from-scratch batch build (tested).

The substring profile has a property the pair-graph folds don't: a new
batch can flip an OLD document's window from unique to duplicated
(count 1 → 2), changing that old document's profile. The fold therefore
re-profiles the TOUCHED old docs — any standing doc holding a window
hash the batch also carries — alongside the batch itself; untouched
docs keep their stored rows. Cost per batch ∝ batch tokens + occurrences
of batch-touched hashes, never the corpus.

Replay safety (the exactly-once discipline of fold.py): window
hashes land in ``_epoch=<id>`` partitions with dynamic partition
overwrite, and the standing side always excludes the incoming batch's
doc_ids, so re-delivering an epoch re-derives the identical state
(idempotence tested by double-applying a batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _positional_shingles, _spans_profile, substring_spans_df
from .fold import drain, overwrite_partitions, parquet_stream, read_state


def merge_substring_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, epoch_id: int = 0
) -> DataFrame | None:
    """Fold one document batch (doc_id, text) into the persisted
    substring-dedup state at ``state_dir`` ({winhashes,profile} parquet).
    Returns the re-profiled docs' span rows (batch + touched old docs) —
    or None for an empty batch."""
    from ..sources.maintenance import path_exists

    if batch.isEmpty():
        return None
    sh_dir = f"{state_dir}/winhashes"
    prof_dir = f"{state_dir}/profile"

    batch = batch.select("doc_id", "text").localCheckpoint(eager=True)
    batch_sh = _positional_shingles(batch).localCheckpoint(eager=True)

    if not path_exists(spark, prof_dir):
        prof = substring_spans_df(batch).localCheckpoint(eager=True)
        overwrite_partitions(batch_sh, sh_dir, epoch_id=epoch_id)
        prof.write.mode("overwrite").parquet(prof_dir)
        return prof

    batch_docs = batch_sh.select("doc_id").distinct()
    state_sh = (
        spark.read.parquet(sh_dir)
        .drop("_epoch")
        .join(batch_docs, "doc_id", "left_anti")  # epoch replay exclusion
    )
    all_sh = state_sh.unionByName(batch_sh)
    # Old docs whose profile the batch can change: holders of any window
    # hash the batch carries (the unique→duplicated transition; holders
    # already duplicated re-derive the same rows — idempotent).
    touched_old = (
        state_sh.join(batch_sh.select("h").distinct(), "h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    re_docs = touched_old.unionByName(batch_docs).distinct().localCheckpoint(eager=True)
    re_sh = all_sh.join(re_docs, "doc_id", "left_semi")
    # Global counts, computed only for hashes the re-profiled docs hold.
    counts = (
        all_sh.join(re_sh.select("h").distinct(), "h", "left_semi")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dup = re_sh.join(counts.filter(F.col("cnt") >= 2).select("h"), "h").select(
        "doc_id", "n_tokens", "pos"
    )
    prof_new = _spans_profile(dup).localCheckpoint(eager=True)
    stored = spark.read.parquet(prof_dir)
    merged = (
        stored.join(re_docs, "doc_id", "left_anti")
        .unionByName(prof_new)
        .localCheckpoint(eager=True)
    )
    overwrite_partitions(batch_sh, sh_dir, epoch_id=epoch_id)
    merged.write.mode("overwrite").parquet(prof_dir)
    return prof_new


def read_substring_profile(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained per-document span profile (empty-safe)."""
    return read_state(
        spark,
        f"{state_dir}/profile",
        "doc_id long, n_tokens int, n_dup_spans long, dup_tokens int, "
        "longest_span int, dup_fraction double",
    )


def run_streaming_substring(
    spark: SparkSession,
    docs_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain the available document files (availableNow), folding each
    micro-batch into the substring-dedup state."""
    drain(
        parquet_stream(spark, docs_dir, schema, max_files_per_trigger),
        checkpoint_dir,
        lambda s, batch, epoch_id: merge_substring_batch(s, batch, state_dir, epoch_id),
    )
