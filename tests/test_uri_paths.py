"""State kept under a ``file://`` URI is the same state as under its bare
path: the sinks probe existence through the Hadoop FileSystem, so a URI
warehouse or rollup is merged into, never re-initialized, and nothing is
created relative to the working directory."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark import etl
from near_real_time_data_warehouse_spark.streaming.rollup import (
    _hourly_partial,
    run_continuous_rollup,
)

from .conftest import SF_SMALL
from .fixtures import write_fixture_csvs


def _load_fixture(spark, tmp_path, wh: str, epochs: tuple[int, ...]) -> None:
    paths = write_fixture_csvs(tmp_path / "fixture")
    cust = etl.read_customer_master(spark, str(paths["customer"]))
    prod = etl.read_product_master(spark, str(paths["product"]))
    enriched = etl.enrich(etl.read_transactions(spark, str(paths["transactions"])), cust, prod)
    for epoch_id in epochs:
        etl.load_star_batch(spark, enriched, cust, prod, wh, epoch_id=epoch_id)


def test_rollup_into_file_uri_merges_every_batch(spark, tmp_path):
    """Two micro-batches (even and odd events) into a ``file://`` rollup:
    the second merges with the first's hours instead of overwriting them
    with its own partials."""
    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    src = tmp_path / "stream"
    for k in (0, 1):
        events.filter(F.col("event_id") % 2 == k).coalesce(1).write.parquet(
            f"{src}/part{k}"
        )
    out = f"file://{tmp_path}/rollup"
    run_continuous_rollup(spark, f"{src}/*", events.schema, out, str(tmp_path / "ckpt"))

    got = {
        (r.hour_epoch_s, r.event_type): (r.n_events, r.total_value)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.hour_epoch_s, r.event_type): (r.n_events, r.total_value)
        for r in _hourly_partial(events).collect()
    }
    assert sum(n for n, _ in got.values()) == events.count()
    assert got == want


def test_load_into_file_uri_warehouse_keeps_first_writer_wins(spark, tmp_path):
    """A batch loaded as epochs 0 and 1 into a ``file://`` warehouse finds
    its own keys in the star the second time: one dimension row per key."""
    wh = f"file://{tmp_path}/wh"
    _load_fixture(spark, tmp_path, wh, (0, 1))
    star = etl.read_star(spark, wh)
    for dim, key in (
        ("customer_dim", "customer_id"),
        ("product_dim", "product_id"),
        ("time_dim", "date_id"),
    ):
        rows = star[dim]
        assert rows.count() == rows.select(key).distinct().count() > 0, dim


def test_load_into_file_uri_warehouse_creates_no_stray_dir(spark, tmp_path, monkeypatch):
    """Loading into a ``file://`` warehouse creates nothing relative to the
    working directory (no ``file:`` directory beside it)."""
    work = tmp_path / "work"
    work.mkdir()
    monkeypatch.chdir(work)
    _load_fixture(spark, tmp_path, f"file://{tmp_path}/wh", (0,))
    assert list(work.iterdir()) == []
    assert etl.read_star(spark, str(tmp_path / "wh"))["salefact"].count() > 0
