"""Continuous aggregate (hypertable-style rollup): an hourly pre-aggregate
table maintained incrementally by the stream.

Each micro-batch computes partial aggregates (count + decimal sum — both
re-mergeable), merges them with the stored partials for ONLY the hours the
batch touched, and rewrites exactly those hour partitions via dynamic
partition overwrite. Cost per batch ∝ touched hours, never the table's
history — the property that makes continuous aggregates viable at 100 TB:
a day's late data rewrites 24 partitions, not 3 years of rollup.

The result equals the from-scratch batch aggregation (asserted in
tests/test_rollup.py) because (count, sum) partials form a monoid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.maintenance import path_exists
from .fold import drain, overwrite_partitions, parquet_stream

_HOUR_US = 3_600_000_000
_DAY_S = 86_400


def _hourly_partial(events: DataFrame) -> DataFrame:
    """Partial (re-mergeable) hourly aggregate of one slice of events."""
    from ..functions.eventtime import us_expr

    return (
        events.withColumn("us", us_expr(events))
        .groupBy(
            F.expr(f"us div {_HOUR_US} * 3600").alias("hour_epoch_s"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_value"),
        )
    )


def _merge_into(spark: SparkSession, partial: DataFrame, out_dir: str) -> list[int]:
    """Merge a batch's partials into the stored rollup: read ONLY the
    touched hour partitions, re-aggregate, dynamically overwrite them.
    Returns the touched hour keys so a chained rollup can refresh from
    them."""
    touched = [r.hour_epoch_s for r in partial.select("hour_epoch_s").distinct().collect()]
    if not touched:
        return touched
    merged = partial
    if path_exists(spark, out_dir):
        existing = spark.read.parquet(out_dir).filter(F.col("hour_epoch_s").isin(touched))
        merged = partial.unionByName(existing)
    result = (
        merged.groupBy("hour_epoch_s", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").alias("total_value"),
        )
        # Materialize BEFORE the overwrite: `merged` lazily reads out_dir,
        # and writing a path that the same job reads is the classic
        # "cannot overwrite a path being read from" hazard — a mid-write
        # failure could otherwise lose the touched hours' stored partials.
        # The slice is bounded (touched hours only), so this is cheap; at
        # cluster scale a staging-dir + swap plays the same role.
        .localCheckpoint(eager=True)
    )
    overwrite_partitions(result, out_dir, "hour_epoch_s")
    return touched


def _refresh_day_rollup(
    spark: SparkSession, touched_hours: list[int], hour_dir: str, day_dir: str
) -> None:
    """Second-level rollup (hour → day), maintained in the same pass —
    rollup chaining: the day table is derived from the HOUR table's
    partials, never from raw events, so each touched day costs ≤24 hour
    rows per event_type to recompute. A fully-recomputed day partition is
    idempotent under replay (no merge-with-self needed), and reading the
    hour table while overwriting the day table avoids the
    read-overwrite-same-path hazard entirely."""
    touched_days = sorted({h // _DAY_S * _DAY_S for h in touched_hours})
    if not touched_days:
        return
    result = (
        spark.read.parquet(hour_dir)
        .withColumn("day_epoch_s", F.expr(f"hour_epoch_s div {_DAY_S} * {_DAY_S}"))
        # Partition pruning on hour_epoch_s: each day is 24 contiguous keys.
        .filter(F.col("day_epoch_s").isin(touched_days))
        .groupBy("day_epoch_s", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").alias("total_value"),
        )
    )
    overwrite_partitions(result, day_dir, "day_epoch_s")


def run_continuous_rollup(
    spark: SparkSession,
    events_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    day_dir: str | None = None,
) -> None:
    """Maintain the hourly rollup from a file stream of events; drains the
    available input (availableNow) with one merge per micro-batch. With
    `day_dir`, also maintains a chained day-level rollup refreshed from
    the hour table for only the days the batch touched."""

    def sink(s: SparkSession, batch: DataFrame, epoch_id: int) -> None:  # noqa: ARG001
        touched = _merge_into(s, _hourly_partial(batch), out_dir)
        if day_dir is not None:
            _refresh_day_rollup(s, touched, out_dir, day_dir)

    drain(
        parquet_stream(spark, events_dir, schema, max_files_per_trigger),
        checkpoint_dir,
        sink,
    )
