"""Streaming record linkage: the drained multi-batch state equals the
from-scratch batch build (same link set, same name multiplicities), and
epoch replay is idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.operators.linkage import part_fuzzy_matches
from near_real_time_data_warehouse_spark.streaming import linkage_stream as ls
from near_real_time_data_warehouse_spark.streaming.fold import run_fold

from .conftest import SF_SMALL
from .fixtures import land_batches


def _links_set(df):
    return {(r.block, r.name_a, r.name_b, r.distance) for r in df.collect()}


def _batch_truth(spark):
    batch = part_fuzzy_matches(spark, SF_SMALL).select(
        "block", "name_a", "name_b", "distance"
    )
    names = (
        spark.read.parquet(f"{SF_SMALL}/part.parquet")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    return _links_set(batch), {(r.p_name, r.n_parts) for r in names.collect()}


def test_streaming_linkage_equals_batch_build(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("linkage_stream")
    parts = spark.read.parquet(f"{SF_SMALL}/part.parquet").select(
        "p_partkey", "p_name"
    )
    src = base / "stream"
    src.mkdir()
    n = parts.count()
    cuts = [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, 10**9)]
    land_batches(
        [parts.filter((F.col("p_partkey") >= lo) & (F.col("p_partkey") < hi)) for lo, hi in cuts],
        src,
    )

    state = str(base / "state")
    run_fold(
        spark, ls.merge_linkage_batch, f"{src}/*", parts.schema, state,
        str(base / "ckpt"),
    )

    names, links = ls.read_linkage_state(spark, state)
    want_links, want_names = _batch_truth(spark)
    assert _links_set(links) == want_links
    assert {(r.p_name, r.n_parts) for r in names.collect()} == want_names


def test_streaming_linkage_linkless_state_reads_empty(spark, tmp_path_factory):
    """A history that never discovered a link leaves no links dir (the
    dynamic partition overwrite of an empty frame writes nothing) —
    read_linkage_state must return an empty frame with the links schema,
    not raise (ADVICE r4, mirroring read_containment_links)."""
    base = tmp_path_factory.mktemp("linkage_nolinks")
    state = str(base / "state")
    batch = spark.createDataFrame(
        [(1, "solitary widget"), (2, "unrelated gizmo")], "p_partkey long, p_name string"
    )
    ls.merge_linkage_batch(spark, batch, state, epoch_id=0)
    names, links = ls.read_linkage_state(spark, state)
    assert links.count() == 0
    assert links.columns == ["block", "name_a", "name_b", "distance"]
    assert names.count() == 2


def test_streaming_linkage_epoch_replay_idempotent(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("linkage_replay")
    parts = spark.read.parquet(f"{SF_SMALL}/part.parquet").select(
        "p_partkey", "p_name"
    )
    state = str(base / "state")
    b1 = parts.filter(F.col("p_partkey") % 2 == 0)
    b2 = parts.filter(F.col("p_partkey") % 2 == 1)
    ls.merge_linkage_batch(spark, b1, state, epoch_id=0)
    ls.merge_linkage_batch(spark, b2, state, epoch_id=1)
    names1, links1 = ls.read_linkage_state(spark, state)
    before_links = _links_set(links1)
    before_names = {(r.p_name, r.n_parts) for r in names1.collect()}
    # crash-after-write, restart re-delivers epoch 1
    ls.merge_linkage_batch(spark, b2, state, epoch_id=1)
    names2, links2 = ls.read_linkage_state(spark, state)
    assert _links_set(links2) == before_links
    assert {(r.p_name, r.n_parts) for r in names2.collect()} == before_names
    want_links, want_names = _batch_truth(spark)
    assert before_links == want_links
    assert before_names == want_names
