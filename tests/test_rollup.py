"""Continuous aggregate: the incrementally-maintained hourly rollup must
equal the from-scratch batch aggregation, across multiple micro-batches
(including a batch that revisits already-written hours)."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.streaming.rollup import (
    _hourly_partial,
    run_continuous_rollup,
)

from .conftest import SF_SMALL
from .fixtures import land_batches


def test_incremental_rollup_equals_batch(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("rollup")
    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")

    # Three overlapping slices (odd/even/first-200) so later batches
    # revisit hours already written by earlier ones.
    slices = (
        events.filter(F.col("event_id") % 2 == 0),
        events.filter(F.col("event_id") % 2 == 1),
        events.filter(F.col("event_id") < 200),
    )
    src = base / "stream"
    src.mkdir()
    land_batches(slices, src)  # file order = modification time

    out, ckpt = str(base / "rollup_out"), str(base / "ckpt")
    day_out = str(base / "rollup_day_out")
    run_continuous_rollup(spark, f"{src}/*", events.schema, out, ckpt, day_dir=day_out)

    got = {
        (r.hour_epoch_s, r.event_type): (r.n_events, float(r.total_value))
        for r in spark.read.parquet(out).collect()
    }
    union = slices[0].unionByName(slices[1]).unionByName(slices[2])
    want = {
        (r.hour_epoch_s, r.event_type): (r.n_events, float(r.total_value))
        for r in _hourly_partial(union).collect()
    }
    assert got == want

    # Chained day rollup (maintained from the hour table, one refresh per
    # micro-batch) must equal the from-scratch day aggregation of all events.
    got_day = {
        (r.day_epoch_s, r.event_type): (r.n_events, float(r.total_value))
        for r in spark.read.parquet(day_out).collect()
    }
    want_day = {
        (r.day_epoch_s, r.event_type): (r.n_events, float(r.total_value))
        for r in (
            _hourly_partial(union)
            .groupBy(
                F.expr("hour_epoch_s div 86400 * 86400").alias("day_epoch_s"),
                "event_type",
            )
            .agg(F.sum("n_events").alias("n_events"), F.sum("total_value").alias("total_value"))
            .collect()
        )
    }
    assert got_day == want_day
