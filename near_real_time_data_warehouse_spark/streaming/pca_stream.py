"""Streaming PCA maintenance: a foreachBatch fold over the ADDITIVE
integer Gram state (the emb_pca_incremental discipline made continuous).
Each arriving vector batch reduces to its 2080-row int64 Gram/sum
partial (operators/similarity._gram_agg — one Arrow matmul per batch),
the standing partials from prior epochs merge with it driver-side (32 KB
of integers), the 64×64 eigenproblem re-solves with the exact-integer
power iteration, and the BATCH rows project onto the refreshed
component. No batch ever rescans history; the state is one bounded
table (2080 rows per epoch, additive across epochs because document
sets are disjoint and Gram sums are linear).

Replay safety (the fold.py exactly-once discipline): Gram
partials and batch projections land in ``_epoch=<id>`` partitions with
dynamic partition overwrite, and the standing side always excludes the
CURRENT epoch — re-delivering an epoch recomputes the identical
component from the identical standing state and overwrites its own
partitions with identical rows (idempotence tested).

Cold start: the first batch's statistics ARE the corpus statistics — it
projects onto the component of its own Gram state, exactly what a
pipeline bootstrapping its whitening stats does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    EMB_DIM,
    PCA_SCALE,
    QUANT,
    _dot,
    _gram_agg,
    _pca_eigvec_ints,
    _quantized,
)
from .fold import (
    overwrite_partitions,
    read_epoch,
    read_standing,
    read_state,
    run_concurrent,
)

SCORE_SCHEMA = "vec_id long, label long, proj_num long, proj double"


def _merged_cov_rows(parts) -> list[dict]:
    merged: dict[tuple[int, int], tuple[int, int, int, int]] = {}
    for rows in parts:
        for r in rows:
            k = (r["i"], r["j"])
            n, si, sj, sp = merged.get(k, (0, 0, 0, 0))
            merged[k] = (
                n + r["n"],
                si + r["sum_i"],
                sj + r["sum_j"],
                sp + r["sum_prod"],
            )
    return [
        {
            "i": i,
            "j": j,
            "n": n,
            "sum_i": si,
            "sum_j": sj,
            "cov_num": n * sp - si * sj,
        }
        for (i, j), (n, si, sj, sp) in merged.items()
    ]


def merge_pca_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, epoch_id: int = 0
) -> DataFrame | None:
    """Fold one vector batch (vec_id, embedding, label) into the PCA
    state at ``state_dir`` ({gram,scores} parquet). Returns the batch's
    projections onto the refreshed top component — None for an empty
    batch."""
    if batch.isEmpty():
        return None
    batch = batch.select("vec_id", "embedding", "label").localCheckpoint(
        eager=True
    )
    gram_dir, scores_dir = f"{state_dir}/gram", f"{state_dir}/scores"
    standing = read_standing(spark, gram_dir, epoch_id)
    if standing is not None:
        # the batch's Gram reduction and the standing-state merge are
        # independent Spark jobs (checkpointed batch vs. gram parquet) —
        # collect them concurrently so the second doesn't queue behind
        # the first's stage tail (§2.6; both are 2080-row bounded)
        standing = (
            standing.groupBy("i", "j")
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_i").alias("sum_i"),
                F.sum("sum_j").alias("sum_j"),
                F.sum("sum_prod").alias("sum_prod"),
            )
        )
        parts = run_concurrent(_gram_agg(batch).collect, standing.collect)
        batch_rows = parts[0]
    else:
        batch_rows = _gram_agg(batch).collect()  # 2080 rows, bounded
        parts = [batch_rows]
    v, sums, n = _pca_eigvec_ints(_merged_cov_rows(parts))
    const = sum(v[j] * sums[j] for j in range(EMB_DIM))
    den = float(n * QUANT * PCA_SCALE)
    q = _quantized(batch)
    proj_num = (F.lit(n).cast("long") * _dot("q", "v")).cast("long") - F.lit(
        const
    ).cast("long")
    # scores' lineage reads only the locally-checkpointed batch; write
    # directly and return a scan of the just-written epoch partition
    # (one materialization instead of checkpoint + write, opt guide §1.2).
    gram_batch = spark.createDataFrame(
        [
            (r["i"], r["j"], r["n"], r["sum_i"], r["sum_j"], r["sum_prod"])
            for r in batch_rows
        ],
        "i int, j int, n long, sum_i long, sum_j long, sum_prod long",
    )
    # the projection write reads only the checkpointed batch + driver
    # state, the Gram write only the driver-side partial rows — two
    # independent jobs on different dirs, submitted concurrently (§2.6)
    run_concurrent(
        lambda: overwrite_partitions(
            q.withColumn("v", F.array([F.lit(x).cast("long") for x in v])).select(
                "vec_id",
                F.col("label").cast("long").alias("label"),
                proj_num.alias("proj_num"),
                (proj_num.cast("double") / F.lit(den)).alias("proj"),
            ),
            scores_dir,
            epoch_id=epoch_id,
        ),
        lambda: overwrite_partitions(gram_batch, gram_dir, epoch_id=epoch_id),
    )
    return read_epoch(spark, scores_dir, epoch_id, SCORE_SCHEMA)


def read_pca_scores(spark: SparkSession, state_dir: str) -> DataFrame:
    """All projected batches so far (vec_id, label, proj_num, proj, epoch)."""
    return read_state(spark, f"{state_dir}/scores", SCORE_SCHEMA + ", _epoch int")

