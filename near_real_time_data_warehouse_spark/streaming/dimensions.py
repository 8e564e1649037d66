"""Streaming SCD2 dimension maintenance: a foreachBatch sink that keeps
a type-2 history table current from a change-feed stream.

Storage is hash-bucketed on the dimension key (``bucket`` partition
column); each micro-batch touches only the buckets its keys fall in —
read those partitions, merge via operators/scd.scd2_apply_increment,
dynamically overwrite the same partitions. Cost per batch ∝ touched
buckets, never the full history (the rollup sink's pattern, applied to
dimensions). Batches must arrive time-partitioned per key — the
ordinary CDC cadence and exactly the increment contract (see
scd2_apply_increment's docstring); the end state then equals the
from-scratch batch recompute, asserted in tests/test_streaming_scd2.py.

Merged partitions are materialized (localCheckpoint) before the
overwrite: the merge plan lazily reads the same files the write
replaces — the read-overwrite-same-path hazard the rollup sink also
guards against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scd import scd2_apply_increment, scd2_versions
from .fold import drain, overwrite_partitions, parquet_stream

N_BUCKETS = 16


def _bucket(key: str) -> F.Column:
    return F.pmod(F.xxhash64(F.col(key)), F.lit(N_BUCKETS))


def _merge_batch(
    spark: SparkSession,
    batch: DataFrame,
    out_dir: str,
    key: str,
    ts: str,
    attr: str,
    tie: str,
    current_dir: str | None = None,
    changes_dir: str | None = None,
    epoch_id: int = 0,
) -> None:
    from ..sources.maintenance import path_exists

    if batch.isEmpty():  # file sources can deliver marker-only batches
        return
    # Hadoop-FS probe, not os.path: on HDFS/S3A warehouses a local-path
    # check would answer False forever and re-initialize every batch.
    if not path_exists(spark, out_dir):
        hist = scd2_versions(batch, key, ts, attr, tie).withColumn("bucket", _bucket(key))
        hist = hist.localCheckpoint(eager=True)
        hist.write.partitionBy("bucket").parquet(out_dir)
        if current_dir is not None:
            overwrite_partitions(hist.filter(F.col("is_current")), current_dir, "bucket")
        if changes_dir is not None:
            hist.drop("bucket").withColumn("_epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).parquet(changes_dir)
        return

    touched = [r.b for r in batch.select(_bucket(key).alias("b")).distinct().collect()]
    if not touched:
        return
    existing = (
        spark.read.parquet(out_dir).filter(F.col("bucket").isin(touched)).drop("bucket")
    )
    merged = (
        scd2_apply_increment(existing, batch, key, ts, attr, tie)
        .withColumn("bucket", _bucket(key))
        .localCheckpoint(eager=True)
    )
    if changes_dir is not None:
        # Change-data feed (the CDF analog): exactly the history rows
        # this epoch created or rewrote — merged minus the pre-merge
        # state of the touched buckets, stamped with the epoch. History
        # rows are never deleted (valid_to/is_current just flip), so the
        # multiset difference IS the complete delta, and a consumer
        # reconstructs any point-in-time history as "latest row per
        # (key, version_no) up to that epoch" (tested).
        delta = merged.drop("bucket").exceptAll(existing).withColumn(
            "_epoch", F.lit(epoch_id)
        )
        delta.write.mode("append").parquet(changes_dir)
    overwrite_partitions(merged, out_dir, "bucket")
    if current_dir is not None:
        # Read-optimized serving snapshot: exactly one row per key, the
        # open version — what a fact enrichment join actually wants.
        # Same touched-bucket overwrite; rows come from the checkpointed
        # merge, so no read-overwrite hazard on current_dir either.
        overwrite_partitions(merged.filter(F.col("is_current")), current_dir, "bucket")


def run_streaming_scd2(
    spark: SparkSession,
    feed_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    key: str,
    ts: str,
    attr: str,
    tie: str,
    max_files_per_trigger: int = 1,
    current_dir: str | None = None,
    changes_dir: str | None = None,
) -> None:
    """Drain the available change-feed files (availableNow), maintaining
    the bucketed SCD2 history one micro-batch at a time. With
    ``current_dir``, also maintains the current-version-only snapshot;
    with ``changes_dir``, appends each epoch's created/rewritten history
    rows as a change-data feed."""
    drain(
        parquet_stream(spark, feed_dir, schema, max_files_per_trigger),
        checkpoint_dir,
        lambda s, batch, epoch_id: _merge_batch(
            s, batch, out_dir, key, ts, attr, tie, current_dir, changes_dir, epoch_id
        ),
    )
