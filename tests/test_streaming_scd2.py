"""The streamed, bucket-partitioned SCD2 history equals the batch
recompute over the whole feed, across micro-batches that revisit keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.operators.scd import _orders_feed, scd2_versions
from near_real_time_data_warehouse_spark.streaming.dimensions import run_streaming_scd2

from .conftest import SF_SMALL
from .fixtures import land_batches


def test_streaming_scd2_equals_batch(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("scd2_stream")
    feed = _orders_feed(spark, SF_SMALL)

    # Time-partitioned slices (the increment contract): each file strictly
    # later than the previous, many customers revisited.
    cuts = ["1994-01-01", "1996-06-01"]
    slices = (
        feed.filter(F.col("change_date") < cuts[0]),
        feed.filter((F.col("change_date") >= cuts[0]) & (F.col("change_date") < cuts[1])),
        feed.filter(F.col("change_date") >= cuts[1]),
    )
    src = base / "stream"
    src.mkdir()
    land_batches(slices, src)  # file order = modification time

    out, ckpt = str(base / "hist"), str(base / "ckpt")
    cur, chg = str(base / "current"), str(base / "changes")
    args = ("o_custkey", "change_date", "o_orderpriority", "o_orderkey")
    run_streaming_scd2(
        spark, f"{src}/*", feed.schema, out, ckpt, *args,
        current_dir=cur, changes_dir=chg,
    )

    got = spark.read.parquet(out).drop("bucket")
    want = scd2_versions(feed, *args)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # serving snapshot: exactly the open versions, one row per key
    got_cur = spark.read.parquet(cur).drop("bucket")
    want_cur = want.filter(F.col("is_current"))
    assert got_cur.select("o_custkey").distinct().count() == got_cur.count()
    assert got_cur.exceptAll(want_cur).count() == 0 and want_cur.exceptAll(got_cur).count() == 0

    # change feed: replaying "latest row per (key, version) by epoch"
    # reconstructs the final history exactly
    from pyspark.sql import Window

    chg_df = spark.read.parquet(chg)
    assert chg_df.count() > want.count()  # rewrites present, not just inserts
    w = Window.partitionBy("o_custkey", "version_no").orderBy(F.desc("_epoch"))
    replayed = (
        chg_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_epoch")
    )
    assert replayed.exceptAll(want).count() == 0 and want.exceptAll(replayed).count() == 0
