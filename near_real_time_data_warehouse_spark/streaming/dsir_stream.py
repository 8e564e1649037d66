"""Streaming DSIR maintenance: a foreachBatch fold that scores each
arriving document batch against the STANDING corpus's persisted bucket
statistics (the operators/text.dsir_score_with_stats kernel), then folds
the batch's own statistics into the state — so the next batch sees it.
This is docs_dsir_incremental's production mode made continuous: no
batch ever rescans history, and the state is two bounded tables
(≤ DSIR_BUCKETS × languages stat rows + one row per language per epoch).

Replay safety (the fold.py exactly-once discipline): bucket/lang
partials and batch scores all land in ``_epoch=<id>`` partitions with
dynamic partition overwrite, and the standing side always excludes the
CURRENT epoch's partitions — so re-delivering an epoch recomputes scores
against the identical standing state and overwrites its own partitions
with identical rows (idempotence tested).

Cold start: the first batch has no standing distribution to compare
against, so its scores are recorded as 0 with the real feature counts —
documented, deterministic, and what a production screen does before its
reference statistics exist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import dsir_fx, dsir_score_with_stats
from .fold import (
    overwrite_partitions,
    read_epoch,
    read_standing,
    read_state,
    run_concurrent,
)

SCORE_SCHEMA = "doc_id long, n_features long, score_bits long"


def merge_dsir_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, epoch_id: int = 0
) -> DataFrame | None:
    """Fold one document batch (doc_id, lang, text) into the DSIR state
    at ``state_dir`` ({stats,langs,scores} parquet). Returns the batch's
    scores — or None for an empty batch."""
    if batch.isEmpty():
        return None
    batch = batch.select("doc_id", "lang", "text").localCheckpoint(eager=True)
    fx = dsir_fx(batch).localCheckpoint(eager=True)
    stats_dir, langs_dir = f"{state_dir}/stats", f"{state_dir}/langs"
    scores_dir = f"{state_dir}/scores"
    st = read_standing(spark, stats_dir, epoch_id)
    lt = read_standing(spark, langs_dir, epoch_id)
    if st is None or lt is None or lt.isEmpty():
        scores = batch.join(
            fx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_features")),
            "doc_id",
            "left",
        ).select(
            "doc_id",
            F.coalesce("n_features", F.lit(0)).cast("long").alias("n_features"),
            F.lit(0).cast("long").alias("score_bits"),
        )
    else:
        stats = st.groupBy("bucket", "lang").agg(F.sum("c").alias("c"))
        langs = lt.groupBy("lang").agg(F.sum("n").alias("n"))
        scores = dsir_score_with_stats(fx, stats, langs)
        # zero-feature docs still get a (0-score) row, as the cold path
        scores = (
            batch.select("doc_id")
            .join(scores, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_features", F.lit(0)).cast("long").alias("n_features"),
                F.coalesce("score_bits", F.lit(0)).cast("long").alias("score_bits"),
            )
        )
    # scores' lineage reads only locally-checkpointed inputs (batch, fx)
    # and OTHER epochs' standing partitions, and this write lands before
    # the stats/langs folds below — write directly and return a scan of
    # the just-written epoch partition (opt guide §1.2).
    overwrite_partitions(scores, scores_dir, epoch_id=epoch_id)
    scores = read_epoch(spark, scores_dir, epoch_id, SCORE_SCHEMA)
    # the two statistics folds write DIFFERENT state dirs and read only
    # the checkpointed fx/batch — independent jobs, submitted
    # concurrently (§2.6); the scores write above stays sequential
    # because it READS these dirs' standing partitions.
    run_concurrent(
        lambda: overwrite_partitions(
            fx.groupBy("bucket", "lang").agg(F.count(F.lit(1)).alias("c")),
            stats_dir,
            epoch_id=epoch_id,
        ),
        lambda: overwrite_partitions(
            batch.groupBy("lang").agg(F.count(F.lit(1)).alias("n")),
            langs_dir,
            epoch_id=epoch_id,
        ),
    )
    return scores


def read_dsir_scores(spark: SparkSession, state_dir: str) -> DataFrame:
    """All scored batches so far (doc_id, n_features, score_bits, epoch)."""
    return read_state(spark, f"{state_dir}/scores", SCORE_SCHEMA + ", _epoch int")

