"""The stateful streaming anomaly monitor's final emissions equal the
batch operator bit for bit — including the float baseline columns."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.functions import eventtime
from near_real_time_data_warehouse_spark.operators import events as batch_events
from near_real_time_data_warehouse_spark.streaming import windows as sw
from near_real_time_data_warehouse_spark.streaming.monitor import (
    streaming_hourly_anomalies,
)

from .conftest import SF_SMALL
from .fixtures import land_batches


def test_streaming_anomalies_equal_batch(spark):
    stream = sw.read_event_stream(spark, SF_SMALL)
    stream = stream.withColumn("us", eventtime.us_expr(stream))
    sw.run_to_memory(streaming_hourly_anomalies(stream), "anomalies_out", "update")

    out = spark.sql("SELECT * FROM anomalies_out")
    # last emission per (type, hour) reflects the fully-drained state
    from pyspark.sql import Window

    w = Window.partitionBy("event_type", "hour_epoch_s").orderBy(F.desc("emit_seq"))
    final = (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "emit_seq")
    )
    streamed = {
        (r.event_type, r.hour_epoch_s): (
            r.n_events, r.total_value, r.baseline_mean, r.baseline_std, r.is_anomaly
        )
        for r in final.collect()
    }
    batch = {
        (r.event_type, r.hour_epoch_s): (
            r.n_events, r.total_value, r.baseline_mean, r.baseline_std, r.is_anomaly
        )
        for r in batch_events.hourly_anomalies(spark, SF_SMALL).collect()
    }
    assert streamed == batch
    # sf0.001 is too calm to fire a 3σ flag (the sf0.01 oracle entry
    # does, 73 of 3385); here assert the baselines were actually
    # evaluated, i.e. flags are decided (non-null) where history suffices
    assert any(v[4] is not None for v in streamed.values())


def _dense_events(spark, n_hours=90, per_hour=3):
    """Deterministic dense stream: every hour populated for every type,
    so nearly all hours reach the b_n >= 12 baseline threshold and
    eviction-clipped baselines WOULD change non-None means/flags (the
    vacuity the round-2 advisor flagged in the sf0.001 variant).
    Periodic spikes make some 3σ flags true, not just decided."""
    rows = []
    for etype in ("click", "error"):
        for h in range(n_hours):
            for i in range(per_hour):
                v = float((h * 7 + i * 13) % 50) + (200.0 if h % 17 == 0 else 0.0)
                rows.append((etype, h * 3_600_000_000 + i * 1_000_000, v))
    return spark.createDataFrame(rows, "event_type STRING, us LONG, value DOUBLE")


def test_monitor_dense_eviction_equals_batch(spark, tmp_path_factory):
    """90 dense hours in 3 time-ordered micro-batches: eviction engages
    (state horizon is 48h), most hours have full 24h baselines, and the
    final emission per hour must still equal the batch operator bit for
    bit. Guards the round-2 advisor's high finding: hours whose baseline
    was partially evicted must NOT be re-emitted with degraded
    baselines (update mode: latest emission wins)."""
    base = tmp_path_factory.mktemp("monitor_dense")
    e = _dense_events(spark)
    src = base / "stream"
    src.mkdir()
    land_batches(
        [
            e.filter((F.col("us") >= lo * 3_600_000_000) & (F.col("us") < hi * 3_600_000_000))
            for lo, hi in [(0, 30), (30, 60), (60, 90)]
        ],
        src,
    )

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    sw.run_to_memory(streaming_hourly_anomalies(stream), "anomalies_dense_out", "update")

    from pyspark.sql import Window

    out = spark.sql("SELECT * FROM anomalies_dense_out")
    w = Window.partitionBy("event_type", "hour_epoch_s").orderBy(F.desc("emit_seq"))
    final = (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "emit_seq")
    )
    streamed = {
        (r.event_type, r.hour_epoch_s): (
            r.n_events, r.total_value, r.baseline_mean, r.baseline_std, r.is_anomaly
        )
        for r in final.collect()
    }
    batch = {
        (r.event_type, r.hour_epoch_s): (
            r.n_events, r.total_value, r.baseline_mean, r.baseline_std, r.is_anomaly
        )
        for r in batch_events.hourly_anomalies_from(e).collect()
    }
    assert streamed == batch
    # the property is only pinned if eviction-era hours carry real
    # baselines: every hour from 12 on (b_n >= 12 in a dense stream)
    # must have a decided flag, and some flags must actually fire
    decided = [k for k, v in streamed.items() if v[4] is not None]
    assert len(decided) == 2 * (90 - 12)
    assert any(v[4] for v in streamed.values())


def test_monitor_eviction_multi_batch_still_equals_batch(spark, tmp_path_factory):
    """Time-ordered micro-batches spanning far beyond the 25-hour state
    horizon: eviction engages between batches, yet the last emission per
    hour still equals the batch operator — an evicted hour's final flag
    was emitted while it was live and nothing after it can change it."""
    base = tmp_path_factory.mktemp("monitor_evict")
    e = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    e = e.withColumn("us", eventtime.us_expr(e))
    lo, hi = e.agg(F.min("us"), F.max("us")).first()
    third = (hi - lo) // 3
    src = base / "stream"
    src.mkdir()
    land_batches(
        [
            e.filter(
                (F.col("us") >= lo + i * third)
                & (F.col("us") < (lo + (i + 1) * third if i < 2 else hi + 1))
            )
            for i in range(3)
        ],
        src,
    )

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    sw.run_to_memory(streaming_hourly_anomalies(stream), "anomalies_evict_out", "update")

    from pyspark.sql import Window

    out = spark.sql("SELECT * FROM anomalies_evict_out")
    w = Window.partitionBy("event_type", "hour_epoch_s").orderBy(F.desc("emit_seq"))
    final = (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "emit_seq")
    )
    streamed = {
        (r.event_type, r.hour_epoch_s): (
            r.n_events, r.total_value, r.baseline_mean, r.baseline_std, r.is_anomaly
        )
        for r in final.collect()
    }
    batch = {
        (r.event_type, r.hour_epoch_s): (
            r.n_events, r.total_value, r.baseline_mean, r.baseline_std, r.is_anomaly
        )
        for r in batch_events.hourly_anomalies(spark, SF_SMALL).collect()
    }
    assert streamed == batch


def test_monitor_drops_beyond_horizon_late_events(spark, tmp_path_factory):
    """The in-operator watermark analog: an event more than LATE_HOURS
    behind its type's pre-batch max hour must be dropped — its hour's
    final flag is already out and re-opening it from zero would emit
    garbage. Verified by streaming two batches where the second carries
    one such event: final emissions equal the stream WITHOUT it."""
    from near_real_time_data_warehouse_spark.streaming.monitor import LATE_HOURS

    def write_batches(base, with_late):
        src = base / "stream"
        src.mkdir()
        b1 = [("click", h * 3_600_000_000, float(h % 10)) for h in range(40)]
        b2 = [("click", h * 3_600_000_000, float(h % 7)) for h in range(40, 50)]
        if with_late:
            # hour 5 is 44 hours behind the pre-batch max (39) > LATE_HOURS
            assert 39 - 5 > LATE_HOURS
            b2.append(("click", 5 * 3_600_000_000 + 1, 99.0))
        schema = "event_type STRING, us LONG, value DOUBLE"
        land_batches([spark.createDataFrame(rows, schema) for rows in (b1, b2)], src)
        return src, schema

    def final_emissions(tag, src, schema):
        stream = (
            spark.readStream.schema(spark.createDataFrame([], schema).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        sw.run_to_memory(streaming_hourly_anomalies(stream), f"late_{tag}", "update")
        from pyspark.sql import Window

        out = spark.sql(f"SELECT * FROM late_{tag}")
        w = Window.partitionBy("event_type", "hour_epoch_s").orderBy(F.desc("emit_seq"))
        return {
            (r.event_type, r.hour_epoch_s): (r.n_events, r.total_value, r.is_anomaly)
            for r in out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .collect()
        }

    src_a, schema = write_batches(tmp_path_factory.mktemp("late_with"), True)
    src_b, _ = write_batches(tmp_path_factory.mktemp("late_without"), False)
    assert final_emissions("with", src_a, schema) == final_emissions("without", src_b, schema)
