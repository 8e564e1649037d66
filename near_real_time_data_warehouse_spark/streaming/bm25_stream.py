"""Streaming BM25 ingestion router: a foreachBatch fold that scores each
arriving document batch against the STANDING index statistics (the
operators/text.bm25_score_with_stats kernel — df table + n_docs/avgdl,
query workload derived from the standing df ranking), then folds the
batch's own postings statistics into the state so the next batch sees
it. This is text_bm25_incremental's production mode made continuous: no
batch ever re-reads standing text, and the state is two bounded-per-
epoch tables (per-term df partials + one (n_docs, t_tokens) row).

Replay safety (the fold.py exactly-once discipline): df/total
partials and batch scores all land in ``_epoch=<id>`` partitions with
dynamic partition overwrite, and the standing side always excludes the
CURRENT epoch's partitions — so re-delivering an epoch recomputes scores
against the identical standing state and overwrites its own partitions
with identical rows (idempotence tested).

Cold start: the first batch has no standing index, hence no query
workload — it records no scores (a router without standing queries has
nothing to route to), but its statistics fold in, exactly as a search
pipeline bootstraps its index before serving.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import bm25_batch_tfdl, bm25_score_with_stats
from .fold import (
    overwrite_partitions,
    read_epoch,
    read_standing,
    read_state,
    run_concurrent,
)

SCORE_SCHEMA = (
    "query_id long, rank long, doc_id long, score_scaled long, "
    "score double, n_hit_terms long"
)


def merge_bm25_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, epoch_id: int = 0
) -> DataFrame | None:
    """Fold one document batch (doc_id, text, …) into the BM25 index
    state at ``state_dir`` ({df,totals,scores} parquet). Returns the
    batch's per-query top-k routing — or None for an empty / cold-start
    batch."""
    if batch.isEmpty():
        return None
    tfdl = bm25_batch_tfdl(batch).localCheckpoint(eager=True)
    df_dir, tot_dir = f"{state_dir}/df", f"{state_dir}/totals"
    scores_dir = f"{state_dir}/scores"
    st_df = read_standing(spark, df_dir, epoch_id)
    st_tot = read_standing(spark, tot_dir, epoch_id)
    scores = None
    if st_df is not None and st_tot is not None and not st_tot.isEmpty():
        df_st = st_df.groupBy("term").agg(F.sum("df").alias("df"))
        stats = st_tot.agg(
            F.sum("n_docs").alias("n_docs"), F.sum("t_tokens").alias("t_tokens")
        ).select("n_docs", F.expr("t_tokens DIV n_docs").alias("avgdl"))
        # scores' lineage reads only the LOCALLY-CHECKPOINTED tfdl and
        # OTHER epochs' standing partitions, and this write lands before
        # the df/totals folds below — so no checkpoint is needed; the
        # returned frame is a scan of the just-written epoch partition
        # (one materialization instead of checkpoint + write + recompute,
        # opt guide §1.2).
        overwrite_partitions(
            bm25_score_with_stats(tfdl, df_st, stats), scores_dir, epoch_id=epoch_id
        )
        scores = read_epoch(spark, scores_dir, epoch_id, SCORE_SCHEMA)
    # fold the batch's own statistics in (df is additive across epochs —
    # document sets are disjoint; totals are plain sums). The two folds
    # write DIFFERENT state dirs and read only the checkpointed tfdl —
    # independent jobs, submitted concurrently (§2.6); the scores write
    # above stays sequential because it READS these dirs' standing
    # partitions.
    run_concurrent(
        lambda: overwrite_partitions(
            tfdl.groupBy("term").agg(F.count(F.lit(1)).alias("df")),
            df_dir,
            epoch_id=epoch_id,
        ),
        lambda: overwrite_partitions(
            batch.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
                tfdl.agg(F.sum("tf").alias("t_tokens"))
            ),
            tot_dir,
            epoch_id=epoch_id,
        ),
    )
    return scores


def read_bm25_scores(spark: SparkSession, state_dir: str) -> DataFrame:
    """All routed batches so far (per-epoch per-query top-k)."""
    return read_state(spark, f"{state_dir}/scores", SCORE_SCHEMA + ", _epoch int")

