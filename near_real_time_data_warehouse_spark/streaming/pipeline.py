"""Near-real-time path: Structured Streaming ETL into the Parquet star.

The reference's threaded producer/consumer machinery (hybrid_join.py:
142-166 producer, :168-311 join thread, thread-safe queue + lock-guarded
hash table) collapses into one streaming query:

    readStream(csv) → stream-static broadcast joins → foreachBatch(star loader)

Stream-static joins re-read the static side per micro-batch — strictly
better than the reference, which loads master data once at startup
(:59-60) and never refreshes. ``Trigger.AvailableNow`` gives the same
drain-and-stop semantics as the reference's EOF shutdown (:162-163,
:209-211). End-to-end exactly-once comes from checkpointed offsets plus
an idempotent sink (foreachBatch alone is at-least-once): dim upserts
append only keys not yet in the star (replay-safe) and the fact append
overwrites a per-epoch_id directory, so a replayed batch rewrites rather
than duplicates — vs the reference's commit/rollback-per-batch
at-least-once (:465-471, T5 in SURVEY.md §2.6).

Both sinks enrich with the one flagged join (``etl.enrich``: customer
leg LEFT plus ``cust_matched``) and make one ``etl.load_star_batch``
call per micro-batch: one aggregate over the persisted batch yields its
key sets (bounded by the masters) and its loaded/evicted counts; only
matched rows load, and the fact write and the appends of dimensions
with new keys then run concurrently. ``streaming.fold.drain`` runs the
query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..etl import (
    enrich,
    load_star_batch,
    orphan_transactions,
    read_customer_master,
    read_product_master,
    read_transactions,
)
from ..sources.maintenance import path_exists
from .fold import drain
from .monitor import EvictionLedger


def run_streaming_etl(
    spark: SparkSession,
    transactions_dir: str,
    customer_master_path: str,
    product_master_path: str,
    warehouse_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    metrics: EvictionLedger | None = None,
) -> None:
    """Replay transaction CSVs as a stream and load the star schema;
    blocks until the source is drained (availableNow).

    With a ``metrics`` ledger each batch's loaded and evicted counts —
    the reference's per-batch eviction counters
    (hybrid_join.py:208,236,354) — are recorded there."""
    cust = read_customer_master(spark, customer_master_path)
    prod = read_product_master(spark, product_master_path)
    stream = read_transactions(
        spark, transactions_dir, streaming=True, max_files_per_trigger=max_files_per_trigger
    )

    def sink(s: SparkSession, batch: DataFrame, epoch_id: int) -> None:
        # epoch_id keys the fact write's overwrite directory: foreachBatch
        # alone is at-least-once, and a crash between the fact append and
        # the checkpoint commit would replay the batch; the per-epoch
        # overwrite (+ first-writer-wins dim upserts) makes the replay
        # idempotent. load_star_batch is looked up in this module at call
        # time, so a caller may wrap it (the traced benchmark run does).
        counts = load_star_batch(s, batch, cust, prod, warehouse_dir, epoch_id=epoch_id)
        if metrics is not None:
            metrics.record(epoch_id, **counts)

    drain(enrich(stream, cust, prod), checkpoint_dir, sink)


def run_streaming_etl_with_retry(
    spark: SparkSession,
    transactions_dir: str,
    customer_master_path: str,
    product_master_path: str,
    warehouse_dir: str,
    checkpoint_dir: str,
    orphans_dir: str,
    max_files_per_trigger: int | None = None,
    on_batch=None,
) -> None:
    """Streaming ETL with late-arriving-dimension handling: transactions
    whose customer has no master row are PARKED (raw shape) instead of
    evicted, and every micro-batch retries batch ∪ parked against a
    freshly-read master — so a master refresh between drains rescues
    previously-orphaned facts (the reference drops them forever).

    Facts stay exactly-once (per-epoch overwrite in load_star_batch).
    The parked set is recomputed and overwritten each batch from
    deterministic inputs; under a crash between the orphan write and the
    checkpoint commit, the replayed union can double a parked line until
    it loads — production would key parked rows by (source file, offset)
    to close that window.

    ``on_batch(epoch_id)``, if given, runs at the top of every
    micro-batch — the injection seam the mid-query master-refresh test
    uses to swap the master file between batches of ONE streaming
    query. Production needs no hook: masters are ordinary files that
    change on disk, and this path re-reads them per batch, so an SCD
    update published mid-query flows into the very next batch's
    stream-static join."""
    stream = read_transactions(
        spark, transactions_dir, streaming=True, max_files_per_trigger=max_files_per_trigger
    )

    def sink(s: SparkSession, batch: DataFrame, epoch_id: int) -> None:
        if on_batch is not None:
            on_batch(epoch_id)
        # Re-read masters per batch: the refresh is what rescues orphans.
        cust = read_customer_master(s, customer_master_path)
        prod = read_product_master(s, product_master_path)
        full = batch
        if path_exists(s, orphans_dir):
            full = batch.unionByName(s.read.schema(batch.schema).parquet(orphans_dir))
        # Materialize BEFORE overwriting orphans_dir (read-overwrite hazard).
        orphans = orphan_transactions(full, cust).localCheckpoint(eager=True)
        load_star_batch(s, enrich(full, cust, prod), cust, prod, warehouse_dir, epoch_id=epoch_id)
        orphans.write.mode("overwrite").parquet(orphans_dir)

    drain(stream, checkpoint_dir, sink)
