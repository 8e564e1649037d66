"""ETL property tests (SURVEY.md §5.3) and batch≡stream equivalence (§5.4)."""

from __future__ import annotations

import gc
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from near_real_time_data_warehouse_spark import etl
from near_real_time_data_warehouse_spark.streaming.monitor import EvictionLedger
from near_real_time_data_warehouse_spark.streaming.pipeline import run_streaming_etl

from .fixtures import write_fixture_csvs


@pytest.fixture(scope="module")
def paths(tmp_path_factory):
    base = tmp_path_factory.mktemp("etl_fixture")
    return write_fixture_csvs(base)


@pytest.fixture(scope="module")
def star(spark, paths, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    return etl.run_batch_etl(
        spark,
        str(paths["transactions"]),
        str(paths["customer"]),
        str(paths["product"]),
        wh,
    )


def test_fk_integrity(star):
    """Every fact row must join all three dims (starSchema.sql:43-45)."""
    fact = star["salefact"]
    for dim, key in (
        ("customer_dim", "customer_id"),
        ("product_dim", "product_id"),
        ("time_dim", "date_id"),
    ):
        if dim == "product_dim":
            # product leg is LEFT: unknown products keep the fact row
            continue
        orphans = fact.join(star[dim], key, "left_anti").count()
        assert orphans == 0, f"{orphans} fact rows orphaned on {dim}"


def test_eviction_inner_join_semantics(spark, star, paths):
    """Facts = stream rows with known Customer_ID (J1, hybrid_join.py:229-231)."""
    txns = etl.read_transactions(spark, str(paths["transactions"]))
    cust = etl.read_customer_master(spark, str(paths["customer"]))
    expected = txns.join(
        cust.select(F.col("customer_id").alias("Customer_ID")), "Customer_ID", "inner"
    ).count()
    assert star["salefact"].count() == expected


def test_purchase_amount_derivation(star):
    """purchase_amount == round(quantity * master price, 2)
    (hybrid_join.py:451-453); null price (unknown product) → null amount."""
    f = star["salefact"].join(star["product_dim"], "product_id", "left")
    bad = f.filter(
        F.col("price").isNotNull()
        & (F.col("purchase_amount") != F.round(F.col("quantity") * F.col("price"), 2))
    ).count()
    assert bad == 0
    missing_price_nonnull = f.filter(
        F.col("price").isNull() & F.col("purchase_amount").isNotNull()
    ).count()
    assert missing_price_nonnull == 0


def test_time_dim_unique_and_derived(star):
    """time_dim unique on full_date (hybrid_join.py:381-388) with the
    reference's derivations (:429-444)."""
    td = star["time_dim"]
    assert td.count() == td.select("full_date").distinct().count()
    assert td.count() == td.select("date_id").distinct().count()
    bad_season = td.filter(
        ~(
            (F.month("full_date").isin(12, 1, 2) & (F.col("season") == "Winter"))
            | (F.month("full_date").isin(3, 4, 5) & (F.col("season") == "Spring"))
            | (F.month("full_date").isin(6, 7, 8) & (F.col("season") == "Summer"))
            | (F.month("full_date").isin(9, 10, 11) & (F.col("season") == "Autumn"))
        )
    ).count()
    assert bad_season == 0
    bad_dow = td.filter(F.col("day_of_week") != F.date_format("full_date", "EEEE")).count()
    assert bad_dow == 0


def test_age_lower_bound(star):
    """Age buckets stored as int lower bound ('55+'→55, hybrid_join.py:402)."""
    ages = {r.age for r in star["customer_dim"].select("age").distinct().collect()}
    assert ages <= {0, 18, 26, 36, 46, 51, 55}


def test_dim_upsert_idempotent_under_replay(spark, star, paths, tmp_path_factory):
    """Replaying the same batch must not duplicate dimension rows (S5
    first-writer-wins, hybrid_join.py:365-378)."""
    wh = str(tmp_path_factory.mktemp("warehouse_replay"))
    for _ in range(2):
        etl.run_batch_etl(
            spark,
            str(paths["transactions"]),
            str(paths["customer"]),
            str(paths["product"]),
            wh,
        )
    replayed = etl.read_star(spark, wh)
    for dim, key in (
        ("customer_dim", "customer_id"),
        ("product_dim", "product_id"),
        ("time_dim", "date_id"),
    ):
        total = replayed[dim].count()
        distinct = replayed[dim].select(key).distinct().count()
        assert total == distinct, f"{dim}: {total} rows, {distinct} keys after replay"
    # facts are append-only: replay doubles them (at-least-once without
    # checkpoint; the streaming path's checkpoint prevents this)
    assert replayed["salefact"].count() == 2 * star["salefact"].count()


def test_stream_equals_batch(spark, star, paths, tmp_path_factory):
    """Structured Streaming (availableNow) produces the same star schema
    as the batch path (SURVEY.md §5.4)."""
    wh = str(tmp_path_factory.mktemp("warehouse_stream"))
    ckpt = str(tmp_path_factory.mktemp("checkpoint"))
    run_streaming_etl(
        spark,
        str(paths["transactions"]),
        str(paths["customer"]),
        str(paths["product"]),
        wh,
        ckpt,
    )
    streamed = etl.read_star(spark, wh)
    for name in etl.STAR_TABLES:
        b = {tuple(str(v) for v in r) for r in star[name].collect()}
        s = {tuple(str(v) for v in r) for r in streamed[name].collect()}
        assert b == s, f"{name}: batch and stream diverge"


def test_fact_year_partition_pruning(spark, paths, tmp_path_factory):
    """The year-partitioned fact layout must prune partitions at the scan
    for the reference's year-filtered query class (P3/P4)."""
    wh = str(tmp_path_factory.mktemp("warehouse_pruned"))
    etl.run_batch_etl(
        spark,
        str(paths["transactions"]),
        str(paths["customer"]),
        str(paths["product"]),
        wh,
    )
    fact = spark.read.parquet(f"{wh}/salefact")
    years = sorted(r.sale_year for r in fact.select("sale_year").distinct().collect())
    plan = (
        fact.filter(F.col("sale_year") == years[0])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "sale_year" in plan
    # the filter must NOT appear as a post-scan data filter on year
    assert "PartitionFilters: []" not in plan


def test_streaming_restart_exactly_once(spark, paths, tmp_path_factory):
    """T5: re-running the streaming ETL on the same checkpoint must not
    duplicate facts (crash-restart = rerun); new source files afterwards
    are picked up incrementally, exactly once."""
    import shutil

    base = tmp_path_factory.mktemp("restart")
    txn_dir = base / "txns"
    txn_dir.mkdir()
    src = Path(paths["transactions"]) / "transactions.csv"
    lines = src.read_text().splitlines()
    header, rows = lines[0], lines[1:]
    half = len(rows) // 2
    (txn_dir / "t1.csv").write_text("\n".join([header] + rows[:half]) + "\n")

    wh = str(base / "wh")
    ckpt = str(base / "ckpt")
    args = (str(txn_dir), str(paths["customer"]), str(paths["product"]), wh, ckpt)

    run_streaming_etl(spark, *args)
    n1 = spark.read.parquet(f"{wh}/salefact").count()

    # restart with no new data: nothing reprocessed
    run_streaming_etl(spark, *args)
    assert spark.read.parquet(f"{wh}/salefact").count() == n1

    # add the second half: only the delta is appended
    (txn_dir / "t2.csv").write_text("\n".join([header] + rows[half:]) + "\n")
    run_streaming_etl(spark, *args)
    n3 = spark.read.parquet(f"{wh}/salefact").count()
    run_streaming_etl(spark, *args)  # idempotent again
    assert spark.read.parquet(f"{wh}/salefact").count() == n3
    assert n3 > n1


def test_fact_epoch_replay_idempotent(spark, paths, tmp_path_factory):
    """A replayed micro-batch (same epoch_id — foreachBatch's crash-replay
    contract) must rewrite its fact directory, not duplicate rows; a new
    epoch_id appends."""
    wh = str(tmp_path_factory.mktemp("warehouse_epoch"))
    cust = etl.read_customer_master(spark, str(paths["customer"]))
    prod = etl.read_product_master(spark, str(paths["product"]))
    txns = etl.read_transactions(spark, str(paths["transactions"]))
    enriched = etl.enrich(txns, cust, prod)

    etl.load_star_batch(spark, enriched, cust, prod, wh, epoch_id=0)
    n1 = spark.read.parquet(f"{wh}/salefact").count()
    etl.load_star_batch(spark, enriched, cust, prod, wh, epoch_id=0)  # replay
    assert spark.read.parquet(f"{wh}/salefact").count() == n1
    etl.load_star_batch(spark, enriched, cust, prod, wh, epoch_id=1)  # next batch
    assert spark.read.parquet(f"{wh}/salefact").count() == 2 * n1
    # read_star hides the idempotence partition from the star schema
    assert "epoch" not in etl.read_star(spark, wh)["salefact"].columns


def test_sql_text_runs_over_warehouse_views(spark, star):
    """EVERY spark.sql query text must run against views registered from
    the LOADED warehouse (read_star) — reference-style STRING ids
    ('P00000010'), the sale_year partition column, the reference timeline
    (latest year 2020). Year constants are rewritten to the fixture
    timeline as demo.py does, so the queries actually see rows: a query
    that only "passes" on an empty input hides type errors (regression:
    q17's integer -1 sentinel ANSI-cast-failed on string product ids,
    invisible while the year filter matched nothing)."""
    from near_real_time_data_warehouse_spark.plans import analysis

    analysis.register_views(star)
    nonempty = 0
    for name in analysis.QUERIES:
        sql = analysis.spark_sql_text(name)
        if sql is None:
            continue
        sql = sql.replace(f"= {analysis.CURRENT_YEAR}", "= 2020").replace(
            analysis.CURRENT_DATE, "2020-12-31"
        )
        rows = spark.sql(sql).collect()  # must analyze and execute cleanly
        nonempty += bool(rows)
    assert nonempty >= 15  # the fixture timeline feeds rows to most queries


def test_streaming_eviction_metric_equals_anti_join(
    spark, star, paths, tmp_path_factory
):
    """The per-batch eviction ledger (reference prints these counts,
    hybrid_join.py:208,236,354): total evicted across micro-batches must
    equal the batch anti-join cardinality, total loaded must equal the
    fact count, and the metered star must equal the default-path star."""
    from near_real_time_data_warehouse_spark.streaming.monitor import (
        EvictionLedger,
    )

    wh = str(tmp_path_factory.mktemp("warehouse_metered"))
    ckpt = str(tmp_path_factory.mktemp("checkpoint_metered"))
    ledger = EvictionLedger()
    run_streaming_etl(
        spark,
        str(paths["transactions"]),
        str(paths["customer"]),
        str(paths["product"]),
        wh,
        ckpt,
        metrics=ledger,
    )
    txns = etl.read_transactions(spark, str(paths["transactions"]))
    cust = etl.read_customer_master(spark, str(paths["customer"]))
    expected_evicted = etl.orphan_transactions(txns, cust).count()
    assert expected_evicted > 0  # fixture genuinely evicts (~5% unknown)
    assert ledger.batches, "no micro-batch was recorded"
    assert ledger.total_evicted == expected_evicted
    streamed = etl.read_star(spark, wh)
    assert ledger.total_loaded == streamed["salefact"].count()
    for name in etl.STAR_TABLES:
        b = {tuple(str(v) for v in r) for r in star[name].collect()}
        s = {tuple(str(v) for v in r) for r in streamed[name].collect()}
        assert b == s, f"{name}: metered stream diverges from batch"


# --- one-pass micro-batch load ----------------------------------------------

DIMS = ("customer_dim", "product_dim", "time_dim")
WARM_BATCH_JOBS = 5
KNOWN_KEYS_BATCH_JOBS = 3
WARM_CALL_ROUND_TRIPS = 500
ORPHAN_CID = 9999999  # the fixture's unknown-customer id (~5% of orders)


class _RunIds(StreamingQueryListener):
    """Records each started query's run id: the job group its micro-batch
    jobs run under."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []

    def onQueryStarted(self, event) -> None:  # noqa: ANN001, N802
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:  # noqa: ANN001, N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: ANN001, N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: ANN001, N802
        pass


def _write_parts(paths, txn_dir: Path, parts: int) -> list[list[str]]:
    """The fixture's transactions as ``parts`` CSV files; returns their
    row texts per part (header excluded). Modification times increase by
    part, so a one-file-per-trigger stream reads part k as epoch k (the
    file source orders files by modification time)."""
    import time

    src = Path(paths["transactions"]) / "transactions.csv"
    header, *rows = src.read_text().splitlines()
    n = -(-len(rows) // parts)
    chunks = [rows[k * n:(k + 1) * n] for k in range(parts)]
    txn_dir.mkdir()
    now = time.time()
    for k, chunk in enumerate(chunks):
        path = txn_dir / f"t{k}.csv"
        path.write_text("\n".join([header] + chunk) + "\n")
        os.utime(path, (now - parts + k, now - parts + k))
    return chunks


def _dim_files(wh: str) -> dict[str, list[str]]:
    return {d: sorted(os.listdir(f"{wh}/{d}")) for d in DIMS}


def _star_sets(spark, wh: str) -> dict[str, set]:
    star = etl.read_star(spark, wh)
    return {t: {tuple(str(v) for v in r) for r in star[t].collect()} for t in etl.STAR_TABLES}


def test_replayed_batch_appends_no_dimension_file(spark, paths, tmp_path_factory):
    """A batch whose keys are all in the star already (here a replayed
    epoch) writes no dimension file; only the fact epoch is rewritten."""
    wh = str(tmp_path_factory.mktemp("warehouse_known_keys"))
    cust = etl.read_customer_master(spark, str(paths["customer"]))
    prod = etl.read_product_master(spark, str(paths["product"]))
    txns = etl.read_transactions(spark, str(paths["transactions"]))
    enriched = etl.enrich(txns, cust, prod)

    first = etl.load_star_batch(spark, enriched, cust, prod, wh, epoch_id=0)
    files = _dim_files(wh)
    assert all(files.values())
    star = _star_sets(spark, wh)
    replay = etl.load_star_batch(spark, enriched, cust, prod, wh, epoch_id=0)
    assert _dim_files(wh) == files
    assert _star_sets(spark, wh) == star
    assert replay == first
    assert first["evicted"] == etl.orphan_transactions(txns, cust).count()


def test_warm_metered_microbatch_job_count(spark, paths, tmp_path_factory):
    """Pins the Spark job count of a warm metered micro-batch, taken by
    the query's job group (its run id). Before the one-pass loader a warm
    batch ran 23 jobs: a separate count aggregate, a schema-inference
    read and an append per dimension, empty or not. A batch of known keys
    adds no dimension file and runs fewer jobs still."""
    base = tmp_path_factory.mktemp("warm_jobs")
    txn = base / "txns"
    chunks = _write_parts(paths, txn, 2)
    for f in txn.iterdir():  # landed one at a time below
        f.rename(base / f.name)
    wh, ckpt = str(base / "wh"), str(base / "ckpt")
    sc = spark.sparkContext
    ledger = EvictionLedger()
    listener = _RunIds()
    spark.streams.addListener(listener)

    def call() -> int:
        run_streaming_etl(
            spark, str(txn), str(paths["customer"]), str(paths["product"]), wh, ckpt,
            metrics=ledger,
        )
        # Job events reach the status tracker through the listener bus.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(listener.run_ids[-1]))

    try:
        (base / "t0.csv").rename(txn / "t0.csv")
        call()  # cold
        (base / "t1.csv").rename(txn / "t1.csv")
        warm = call()
        files = _dim_files(wh)
        header = (txn / "t0.csv").read_text().splitlines()[0]
        (txn / "t2.csv").write_text("\n".join([header] + chunks[0]) + "\n")
        known = call()  # every key of this batch is in the star already
    finally:
        spark.streams.removeListener(listener)
    assert _dim_files(wh) == files
    assert [b["epoch_id"] for b in ledger.batches] == [0, 1, 2]
    assert ledger.batches[2]["loaded"] == ledger.batches[0]["loaded"]
    assert (warm, known) == (WARM_BATCH_JOBS, KNOWN_KEYS_BATCH_JOBS)


@pytest.fixture(scope="module")
def clean_three_epochs(spark, paths, tmp_path_factory):
    """A clean metered run over three one-file epochs: its star and
    ledger are what a crash-and-rerun must reproduce."""
    base = tmp_path_factory.mktemp("clean_epochs")
    _write_parts(paths, base / "txns", 3)
    wh = str(base / "wh")
    ledger = EvictionLedger()
    run_streaming_etl(
        spark, str(base / "txns"), str(paths["customer"]), str(paths["product"]), wh,
        str(base / "ckpt"), max_files_per_trigger=1, metrics=ledger,
    )
    assert len(ledger.batches) == 3
    return _star_sets(spark, wh), ledger.batches


@pytest.mark.parametrize("failing", ["salefact", "customer_dim"])
def test_crash_in_concurrent_write_then_rerun_equals_clean(
    spark, paths, tmp_path_factory, monkeypatch, clean_three_epochs, failing
):
    """One of the concurrent star writes of epoch 1 raises. The failure
    reaches the caller, epoch 1 is not committed, and a rerun on the same
    checkpoint leaves the star and the ledger equal to a clean run's."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    from near_real_time_data_warehouse_spark.streaming import pipeline

    base = tmp_path_factory.mktemp(f"crash_{failing}")
    _write_parts(paths, base / "txns", 3)
    wh, ckpt = str(base / "wh"), str(base / "ckpt")
    args = (str(base / "txns"), str(paths["customer"]), str(paths["product"]), wh, ckpt)
    target = f"{wh}/salefact/epoch=1" if failing == "salefact" else f"{wh}/{failing}"
    state = {"epoch": None, "fired": False}
    load, parquet = pipeline.load_star_batch, DataFrameWriter.parquet

    def load_tracking_epoch(*a, **kw):  # noqa: ANN002, ANN003, ANN202
        state["epoch"] = kw["epoch_id"]
        return load(*a, **kw)

    def parquet_failing_once(self, path, *a, **kw):  # noqa: ANN001, ANN002, ANN003, ANN202
        if state["epoch"] == 1 and path == target and not state["fired"]:
            state["fired"] = True
            raise RuntimeError(f"injected crash writing {failing}")
        return parquet(self, path, *a, **kw)

    monkeypatch.setattr(pipeline, "load_star_batch", load_tracking_epoch)
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet_failing_once)
    ledger = EvictionLedger()
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run_streaming_etl(spark, *args, max_files_per_trigger=1, metrics=ledger)
    assert state["fired"]
    assert os.path.exists(f"{ckpt}/commits/0")
    assert not os.path.exists(f"{ckpt}/commits/1")

    run_streaming_etl(spark, *args, max_files_per_trigger=1, metrics=ledger)
    clean_star, clean_batches = clean_three_epochs
    assert _star_sets(spark, wh) == clean_star
    assert ledger.batches == clean_batches


def test_retry_sink_crash_after_load_then_rerun_equals_clean(
    spark, paths, tmp_path_factory, monkeypatch
):
    """``run_streaming_etl_with_retry``: the load of epoch 1 raises after
    its star writes, before the parked rows are rewritten. The failure
    reaches the caller, epoch 1 is not committed, and a rerun on the same
    checkpoint and orphans dir leaves the star and the parked rows equal
    to a clean run's."""
    from pyspark.errors import StreamingQueryException

    from near_real_time_data_warehouse_spark.streaming import pipeline

    def drain(base: Path) -> None:
        pipeline.run_streaming_etl_with_retry(
            spark, str(base / "txns"), str(paths["customer"]), str(paths["product"]),
            str(base / "wh"), str(base / "ckpt"), str(base / "orphans"),
            max_files_per_trigger=1,
        )

    def parked(base: Path) -> list[tuple]:
        rows = spark.read.parquet(str(base / "orphans")).collect()
        return sorted(tuple(str(v) for v in r) for r in rows)

    clean = tmp_path_factory.mktemp("retry_clean")
    _write_parts(paths, clean / "txns", 3)
    drain(clean)

    base = tmp_path_factory.mktemp("retry_crash")
    _write_parts(paths, base / "txns", 3)
    load, fired = pipeline.load_star_batch, []

    def load_then_crash(*a, **kw):  # noqa: ANN002, ANN003, ANN202
        counts = load(*a, **kw)
        if kw["epoch_id"] == 1 and not fired:
            fired.append(True)
            raise RuntimeError("injected crash after the star writes")
        return counts

    monkeypatch.setattr(pipeline, "load_star_batch", load_then_crash)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        drain(base)
    assert fired
    assert os.path.isdir(f"{base}/wh/salefact/epoch=1")
    assert os.path.exists(f"{base}/ckpt/commits/0")
    assert not os.path.exists(f"{base}/ckpt/commits/1")

    drain(base)
    assert _star_sets(spark, str(base / "wh")) == _star_sets(spark, str(clean / "wh"))
    assert parked(base) == parked(clean)
    assert parked(clean)  # the fixture's unknown customer stays parked


def test_ledger_counts_a_replayed_epoch_once():
    """foreachBatch is at-least-once: an epoch replayed after its record
    but before its checkpoint commit replaces its entry."""
    ledger = EvictionLedger()
    ledger.record(0, loaded=5, evicted=1)
    ledger.record(1, loaded=7, evicted=2)
    ledger.record(1, loaded=7, evicted=2)  # replay
    assert [b["epoch_id"] for b in ledger.batches] == [0, 1]
    assert (ledger.total_loaded, ledger.total_evicted) == (12, 3)


# --- resident masters and the star key index ---------------------------------


def _customers(rows: list[str]) -> set[int]:
    """The master customers (the fixture's unknown one excluded) named by
    transaction CSV lines."""
    return {int(r.split(",")[1]) for r in rows} - {ORPHAN_CID}


def test_warm_call_round_trips(spark, paths, tmp_path_factory, monkeypatch):
    """Pins the Py4J round trips one warm ``run_streaming_etl`` call makes
    (every driver-side plan operation, column and FileSystem probe costs
    one or more), object releases excluded. Before the resident masters
    and with PySpark's call-site capture on, a warm call made about
    1,900."""
    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME

    base = tmp_path_factory.mktemp("round_trips")
    _write_parts(paths, base / "txns", 2)
    (base / "txns" / "t1.csv").rename(base / "t1.csv")
    args = (str(base / "txns"), str(paths["customer"]), str(paths["product"]),
            str(base / "wh"), str(base / "ckpt"))
    run_streaming_etl(spark, *args)  # cold
    (base / "t1.csv").rename(base / "txns" / "t1.csv")
    gc.collect()  # earlier garbage would release its JVM objects inside the count
    trips, send = [0], ClientServerConnection.send_command

    def counting(self, command):  # noqa: ANN001, ANN202
        # Object releases follow the Python garbage collector's timing, not
        # what the call builds, so they are not counted.
        trips[0] += not command.startswith(MEMORY_COMMAND_NAME)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    run_streaming_etl(spark, *args)
    monkeypatch.undo()
    assert 0 < trips[0] <= WARM_CALL_ROUND_TRIPS


def test_master_append_between_calls_loads_the_new_customer(spark, tmp_path_factory):
    """A customer appended to the master between two calls is in the
    resident master of the second: its rows load instead of being
    evicted, and its dimension row is appended once."""
    base = tmp_path_factory.mktemp("master_append")
    paths = write_fixture_csvs(base / "fixture")
    header, *rows = (paths["transactions"] / "transactions.csv").read_text().splitlines()
    orphan = [r for r in rows if int(r.split(",")[1]) == ORPHAN_CID]
    txn = base / "txns"
    txn.mkdir()
    (txn / "t0.csv").write_text("\n".join([header] + rows) + "\n")
    wh = str(base / "wh")
    args = (str(txn), str(paths["customer"]), str(paths["product"]), wh, str(base / "ckpt"))
    ledger = EvictionLedger()
    run_streaming_etl(spark, *args, metrics=ledger)
    assert ledger.batches[0]["evicted"] == len(orphan) > 0

    with open(paths["customer"], "a", newline="") as f:
        f.write(f"{ORPHAN_CID},M,26-35,7,B,2,0\r\n")
    (txn / "t1.csv").write_text("\n".join([header] + orphan) + "\n")
    run_streaming_etl(spark, *args, metrics=ledger)
    assert (ledger.batches[1]["loaded"], ledger.batches[1]["evicted"]) == (len(orphan), 0)
    star = etl.read_star(spark, wh)
    assert star["salefact"].filter(F.col("customer_id") == ORPHAN_CID).count() == len(orphan)
    assert star["customer_dim"].filter(F.col("customer_id") == ORPHAN_CID).count() == 1


def test_deleted_dimension_file_reseeds_the_key_index(spark, paths, tmp_path_factory):
    """A customer_dim file deleted between calls invalidates the key
    index: the next batch re-seeds it from disk and appends the lost keys
    it names again, once each."""
    base = tmp_path_factory.mktemp("deleted_dim_file")
    chunks = _write_parts(paths, base / "txns", 2)
    (base / "txns" / "t1.csv").rename(base / "t1.csv")
    wh = str(base / "wh")
    args = (str(base / "txns"), str(paths["customer"]), str(paths["product"]), wh,
            str(base / "ckpt"))
    run_streaming_etl(spark, *args)
    lost = _customers(chunks[0])
    dim_dir = Path(wh) / "customer_dim"
    parts = [f for f in dim_dir.iterdir() if f.name.startswith("part-")]
    assert len(parts) == 1  # the first batch's customers, all of them
    parts[0].unlink()

    (base / "t1.csv").rename(base / "txns" / "t1.csv")
    run_streaming_etl(spark, *args)
    assert lost & _customers(chunks[1])  # the second batch names lost keys
    dim = [r.customer_id for r in etl.read_star(spark, wh)["customer_dim"].collect()]
    assert sorted(dim) == sorted(_customers(chunks[1]))


def test_crash_in_dimension_write_drops_the_key_index(
    spark, paths, tmp_path_factory, monkeypatch, clean_three_epochs
):
    """A dimension write of epoch 1 raises: the warehouse's key index is
    dropped with the failure, and the rerun re-seeds it from disk once
    and leaves the star equal to a clean run's."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    from near_real_time_data_warehouse_spark import memo

    base = tmp_path_factory.mktemp("crash_drops_index")
    _write_parts(paths, base / "txns", 3)
    wh = str(base / "wh")
    args = (str(base / "txns"), str(paths["customer"]), str(paths["product"]), wh,
            str(base / "ckpt"))
    written, parquet = [], DataFrameWriter.parquet

    def parquet_failing_once(self, path, *a, **kw):  # noqa: ANN001, ANN002, ANN003, ANN202
        if path == f"{wh}/customer_dim":
            written.append(path)
            if len(written) == 2:  # epoch 1's customer append
                raise RuntimeError("injected crash writing customer_dim")
        return parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet_failing_once)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run_streaming_etl(spark, *args, max_files_per_trigger=1)
    assert not [k for k in memo._ENTRIES if k[0] == "star_keys" and k[2:] == (wh,)]

    seeds, known_keys = [], etl._known_keys

    def counting_seed(*a):  # noqa: ANN002, ANN202
        seeds.append(a)
        return known_keys(*a)

    monkeypatch.setattr(etl, "_known_keys", counting_seed)
    run_streaming_etl(spark, *args, max_files_per_trigger=1)
    assert len(seeds) == 1
    assert _star_sets(spark, wh) == clean_three_epochs[0]
