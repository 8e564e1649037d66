"""Streaming window/stateful operators equal their batch twins."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.functions import eventtime
from near_real_time_data_warehouse_spark.operators import events as batch_events
from near_real_time_data_warehouse_spark.streaming import windows as sw

from .conftest import SF_SMALL
from .fixtures import land_batches


def test_hourly_window_stream_equals_batch(spark):
    # complete mode: append would (correctly) hold back the final
    # still-open windows past the watermark; equivalence needs them all.
    stream = sw.read_event_stream(spark, SF_SMALL)
    sw.run_to_memory(sw.hourly_by_type(stream), "hourly_out", "complete")
    streamed = {
        (r.hour_epoch_s, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM hourly_out").collect()
    }
    batch = {
        (r.hour_epoch_s, r.event_type): (r.n_events, r.total_value)
        for r in batch_events.tumbling_hourly(spark, SF_SMALL)
        .drop("mean_value")
        .collect()
    }
    assert streamed == batch


def test_sliding_window_stream_equals_batch(spark):
    """The native sliding window (4h/1h) emits exactly the batch
    overlap-explode's windows — count AND decimal-exact value sums."""
    stream = sw.read_event_stream(spark, SF_SMALL)
    sw.run_to_memory(sw.sliding_by_type(stream), "sliding_out", "complete")
    streamed = {
        (r.window_start_s, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM sliding_out").collect()
    }
    batch = {
        (r.window_start_s, r.event_type): (r.n_events, r.total_value)
        for r in batch_events.sliding_hourly(spark, SF_SMALL)
        .drop("mean_value", "window_end_s")
        .collect()
    }
    assert streamed == batch


def test_running_user_totals_state(spark):
    stream = sw.read_event_stream(spark, SF_SMALL)
    sw.run_to_memory(sw.running_user_totals(stream), "user_totals_out", "update")
    # last update per user is the final running total
    out = spark.sql(
        "SELECT user_id, n_events FROM user_totals_out"
    ).groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    streamed = {(r.user_id, r.n_events) for r in out.collect()}
    batch = {
        (r.user_id, r.n)
        for r in spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert streamed == batch


def test_session_window_stream_equals_batch_sessionize(spark):
    """Native streaming session_window produces the same per-user session
    structure (session count + per-session sizes) as the batch
    lag/running-sum sessionization in operators/events.py."""
    stream = sw.read_event_stream(spark, SF_SMALL)
    sw.run_to_memory(sw.session_windows(stream), "sessions_out", "complete")
    streamed = {
        (r.user_id, r.n_sessions, r.n_events, r.longest)
        for r in spark.sql("SELECT * FROM sessions_out")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n").alias("n_events"),
            F.max("n").alias("longest"),
        )
        .collect()
    }
    batch = {
        (r.user_id, r.n_sessions, r.n_events, r.longest_session_events)
        for r in batch_events.sessionize(spark, SF_SMALL).collect()
    }
    assert streamed == batch


def test_stream_stream_interval_join_equals_batch(spark):
    """The stream-stream interval join emits exactly the pairs the batch
    join over the same condition produces."""
    stream = sw.read_event_stream(spark, SF_SMALL)
    sw.run_to_memory(sw.clicks_with_recent_errors(stream), "ss_join_out", "append")
    streamed = {
        (r.click_id, r.error_id) for r in spark.sql("SELECT * FROM ss_join_out").collect()
    }
    e = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    e = e.withColumn("event_time", eventtime.event_time_expr(e))
    clicks = e.filter(e.event_type == "click").selectExpr(
        "event_id AS click_id", "user_id", "event_time AS click_time"
    )
    errors = e.filter(e.event_type == "error").selectExpr(
        "event_id AS error_id", "user_id AS err_user_id", "event_time AS error_time"
    )
    batch = {
        (r.click_id, r.error_id)
        for r in clicks.join(
            errors,
            (F.col("user_id") == F.col("err_user_id"))
            & (F.col("error_time") <= F.col("click_time"))
            & (F.col("error_time") >= F.col("click_time") - F.expr("INTERVAL 10 MINUTES")),
        ).collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_streaming_bucketed_range_join_equals_batch(spark):
    """The NO-equi-key incident range join, streamed: the bucketed
    rewrite (the same one the batch operator uses) is what makes it a
    legal stream-stream join, and the drained stream must emit exactly
    the naive batch range-join pair set."""
    stream = sw.read_event_stream(spark, SF_SMALL)
    sw.run_to_memory(sw.incident_window_matches(stream), "range_join_out", "append")
    streamed = {
        (r.event_id, r.incident_id)
        for r in spark.sql("SELECT * FROM range_join_out").collect()
    }
    e = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    e = e.withColumn("us", eventtime.us_expr(e))
    inc = e.filter(e.event_type == "error").selectExpr(
        "event_id AS incident_id", "us AS w_start"
    )
    batch = {
        (r.event_id, r.incident_id)
        for r in e.select("event_id", "us")
        .join(
            inc,
            (F.col("us") >= F.col("w_start"))
            & (F.col("us") < F.col("w_start") + F.lit(600_000_000))
            & (F.col("event_id") != F.col("incident_id")),
        )
        .collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_watermark_drops_late_data(spark, tmp_path_factory):
    """Late-data semantics: an event older than the watermark is dropped
    from the windowed aggregation; on-time windows emit exactly once in
    append mode. (The watermark a batch FILTERS with is the one committed
    at the end of the batch before it, so the late file arrives two
    batches after the watermark-advancing data.)"""
    import datetime as dt

    import pyspark.sql.types as T

    base = tmp_path_factory.mktemp("late_events")
    schema = T.StructType(
        [T.StructField("event_time", T.TimestampType()), T.StructField("v", T.LongType())]
    )

    def frame(times):
        return spark.createDataFrame([(t, 1) for t in times], schema)

    d = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    # file-source ordering is by modification time
    land_batches(
        [
            frame([d(10, 1), d(10, 11), d(10, 21), d(10, 31), d(10, 58)]),
            frame([d(10, 59)]),  # advances nothing new; watermark now active
            frame([d(9, 5)]),  # 9:05 < watermark (10:48) -> dropped
        ],
        base,
    )

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        f"{base}/*"
    )
    agg = (
        stream.withWatermark("event_time", "10 minutes")
        .groupBy(F.window("event_time", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("window.start", "HH:mm").alias("w"), "n")
    )
    sw.run_to_memory(agg, "late_out", "append")
    emitted = {(r.w, r.n) for r in spark.sql("SELECT * FROM late_out").collect()}
    # the four windows closed by the watermark emit once each; the late
    # 09:00 window and the still-open 10:50 window do not
    assert emitted == {("10:00", 1), ("10:10", 1), ("10:20", 1), ("10:30", 1)}


def test_dedup_within_watermark_suppresses_resends(spark, tmp_path_factory):
    """dropDuplicatesWithinWatermark: a key re-sent within the watermark
    horizon is suppressed; state is bounded by the horizon (the scale
    property), and the kept-per-key count matches the batch dedup's key
    count over the same data."""
    import datetime as dt

    import pyspark.sql.types as T

    base = tmp_path_factory.mktemp("dedup_events")
    schema = T.StructType(
        [
            T.StructField("event_time", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )

    d = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    land_batches(
        [
            spark.createDataFrame([(d(10, 0), 1, "click"), (d(10, 1), 2, "view")], schema),
            # duplicates of both keys within the horizon + one new key
            spark.createDataFrame(
                [(d(10, 2), 1, "click"), (d(10, 3), 2, "view"), (d(10, 4), 3, "click")], schema
            ),
        ],
        base,
    )

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{base}/*")
    deduped = sw.dedup_within_watermark(stream, ["user_id", "event_type"], "1 hour")
    sw.run_to_memory(deduped, "dedup_ww_out", "append")
    out = spark.sql("SELECT user_id, event_type, event_time FROM dedup_ww_out").collect()
    kept = {(r.user_id, r.event_type) for r in out}
    assert kept == {(1, "click"), (2, "view"), (3, "click")}
    assert len(out) == 3  # exactly one survivor per key — re-sends suppressed
    # first-arrival wins: user 1's kept event is the 10:00 original
    t1 = [r.event_time for r in out if r.user_id == 1][0]
    assert t1.minute == 0


def test_sliding_window_mass_conservation(spark):
    """Every event lands in exactly LENGTH/SLIDE sliding windows, so the
    sliding aggregate's total event mass is exactly 4x the stream's."""
    from pyspark.sql import functions as F

    from near_real_time_data_warehouse_spark.operators.events import (
        SLIDE_LEN_H,
        SLIDE_STEP_H,
        _events,
        sliding_hourly,
    )

    sf = "/root/testdata/sf0.001"
    n_stream = _events(spark, sf).count()
    n_windowed = sliding_hourly(spark, sf).agg(F.sum("n_events")).collect()[0][0]
    assert n_windowed == n_stream * (SLIDE_LEN_H // SLIDE_STEP_H)


def test_hourly_dense_spine_is_complete_and_gap_flagged(spark):
    """The densified series covers every (hour, type) cell between stream
    min/max with no holes; gap rows are zero-filled and flagged."""
    from pyspark.sql import functions as F

    from near_real_time_data_warehouse_spark.operators.events import hourly_dense

    d = hourly_dense(spark, "/root/testdata/sf0.001").cache()
    try:
        bounds = d.agg(
            F.min("hour_epoch_s").alias("lo"),
            F.max("hour_epoch_s").alias("hi"),
            F.countDistinct("event_type").alias("ntypes"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        expected_hours = (bounds.hi - bounds.lo) // 3600 + 1
        assert bounds.n == expected_hours * bounds.ntypes
        bad_gap = d.filter(
            F.col("is_gap") & ((F.col("n_events") != 0) | (F.col("total_value") != 0.0))
        ).count()
        assert bad_gap == 0
    finally:
        d.unpersist()


def test_transform_with_state_equals_old_api_and_batch(spark):
    """Spark 4's transformWithStateInPandas (typed named state, RocksDB
    provider) must produce the same final running totals as both the
    applyInPandasWithState operator and the batch aggregate. Probe-gated:
    the TWS driver worker needs google.protobuf, which this container's
    broken namespace package cannot provide (worker crashes at import --
    verified by running it); un-skips automatically on a capable
    runtime."""
    import pytest

    if not sw.tws_available():
        pytest.skip("no usable google.protobuf -> TWS driver worker cannot start")
    s2 = spark.newSession()
    for k, v in sw.rocksdb_state_confs().items():
        s2.conf.set(k, v)
    stream = sw.read_event_stream(s2, SF_SMALL)
    sw.run_to_memory(sw.running_user_totals_tws(stream), "tws_out", "update")
    out = (
        s2.sql("SELECT user_id, n_events FROM tws_out")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    streamed = {(r.user_id, r.n_events) for r in out.collect()}
    batch = {
        (r.user_id, r.n)
        for r in s2.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert streamed == batch
