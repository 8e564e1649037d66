"""Streaming quality gate: the drained multi-batch state equals the
batch expectations gate over the same data (every rule, including the
cross-batch PK-uniqueness rule), and epoch replay is idempotent."""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.operators.quality import (
    lineitem_expectations,
)
from near_real_time_data_warehouse_spark.sources.testdata import load_table
from near_real_time_data_warehouse_spark.streaming import quality_stream as qs
from near_real_time_data_warehouse_spark.streaming.fold import run_fold

from .conftest import SF_SMALL
from .fixtures import land_batches


def _rows(df):
    return {
        r["rule"]: (r["n_violations"], r["sample_key"]) for r in df.collect()
    }


def test_streaming_quality_equals_batch_gate(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("quality_stream")
    li = load_table(spark, SF_SMALL, "lineitem")
    orders = load_table(spark, SF_SMALL, "orders")
    src = base / "stream"
    src.mkdir()
    # split on the order key so PK duplicates can span batch boundaries
    cut = li.agg(F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_orderkey)")).collect()[0][0]
    splits = [li.filter(F.col("l_orderkey") <= cut),
              li.filter(F.col("l_orderkey") > cut)]
    land_batches(splits, src)

    state = str(base / "state")
    run_fold(
        spark, partial(qs.merge_quality_batch, orders=orders), f"{src}/*",
        li.schema, state, str(base / "ckpt"),
    )
    got = _rows(qs.read_quality_state(spark, state, orders))
    want = _rows(lineitem_expectations(spark, SF_SMALL))
    assert got == want
    assert want["pk_unique_orderkey_linenumber"][0] > 0  # rule really fires


def test_streaming_quality_replay_idempotent(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("quality_replay")
    li = load_table(spark, SF_SMALL, "lineitem")
    orders = load_table(spark, SF_SMALL, "orders")
    state = str(base / "state")
    b1 = li.filter(F.col("l_orderkey") % 2 == 0)
    b2 = li.filter(F.col("l_orderkey") % 2 == 1)
    qs.merge_quality_batch(spark, b1, orders, state, epoch_id=0)
    qs.merge_quality_batch(spark, b2, orders, state, epoch_id=1)
    before = _rows(qs.read_quality_state(spark, state, orders))
    qs.merge_quality_batch(spark, b2, orders, state, epoch_id=1)  # re-delivery
    after = _rows(qs.read_quality_state(spark, state, orders))
    assert after == before
    assert before == _rows(lineitem_expectations(spark, SF_SMALL))
