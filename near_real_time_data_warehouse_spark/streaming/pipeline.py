"""Near-real-time path: Structured Streaming ETL into the Parquet star.

The reference's threaded producer/consumer machinery (hybrid_join.py:
142-166 producer, :168-311 join thread, thread-safe queue + lock-guarded
hash table) collapses into one streaming query:

    readStream(csv) → foreachBatch(enrich against the resident masters
                                   → star loader)

Enrichment runs inside the sink. Each micro-batch fetches the resident
masters (``etl.read_customer_master`` / ``read_product_master``): parsed
once per file version and re-checked with one FileSystem stat per batch,
so they stay resident like the reference's hash table (:59-60), yet a
master refreshed on disk flows into the very next batch, which the
reference never allows. ``Trigger.AvailableNow`` gives the same
drain-and-stop semantics as the reference's EOF shutdown (:162-163,
:209-211). End-to-end exactly-once comes from checkpointed offsets plus
an idempotent sink (foreachBatch alone is at-least-once): dim upserts
append only keys not yet in the star (replay-safe) and the fact append
overwrites a per-epoch_id directory, so a replayed batch rewrites rather
than duplicates — vs the reference's commit/rollback-per-batch
at-least-once (:465-471, T5 in SURVEY.md §2.6).

Both sinks enrich with the one flagged join (``etl.enrich``: customer
leg LEFT plus ``cust_matched``) and make one ``etl.load_star_batch``
call per micro-batch: the fact write observes the batch's key sets
(bounded by the masters) and its loaded/evicted counts, the warehouse's
resident key index names the new keys, and only matched rows load.
``streaming.fold.drain`` runs the query.
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
    stream = read_transactions(
        spark, transactions_dir, streaming=True, max_files_per_trigger=max_files_per_trigger
    )

    def sink(s: SparkSession, batch: DataFrame, epoch_id: int) -> None:
        # The resident masters, re-checked against their files per batch.
        cust = read_customer_master(s, customer_master_path)
        prod = read_product_master(s, product_master_path)
        # epoch_id keys the fact write's overwrite directory: foreachBatch
        # alone is at-least-once, and a crash between the fact append and
        # the checkpoint commit would replay the batch; the per-epoch
        # overwrite (+ first-writer-wins dim upserts) makes the replay
        # idempotent. load_star_batch is looked up in this module at call
        # time, so a caller may wrap it (the traced benchmark run does).
        counts = load_star_batch(
            s, enrich(batch, cust, prod), cust, prod, warehouse_dir, epoch_id=epoch_id
        )
        if metrics is not None:
            metrics.record(epoch_id, **counts)

    drain(stream, checkpoint_dir, sink)


def run_streaming_etl_with_retry(
    spark: SparkSession,
    transactions_dir: str,
    customer_master_path: str,
    product_master_path: str,
    warehouse_dir: str,
    checkpoint_dir: str,
    orphans_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming ETL with late-arriving-dimension handling: transactions
    whose customer has no master row are PARKED (raw shape) instead of
    evicted, and every micro-batch retries batch ∪ parked against the
    current master — so a master refresh between drains rescues
    previously-orphaned facts (the reference drops them forever).

    Masters are ordinary files that change on disk, and every batch
    re-checks the resident masters against their files, so an SCD update
    published mid-query flows into the very next batch's join.

    The parked set is recomputed and overwritten each batch. A crash
    after the parked write and before the checkpoint commit breaks
    exactly-once: the replay reads the already-rewritten parked set, so
    the rows that epoch rescued are missing from its overwritten fact
    partition (lost), and the orphans it parked are parked twice.
    Keying parked rows by (source file, line), or writing them per
    epoch, closes it."""
    stream = read_transactions(
        spark, transactions_dir, streaming=True, max_files_per_trigger=max_files_per_trigger
    )

    def sink(s: SparkSession, batch: DataFrame, epoch_id: int) -> None:
        # The resident masters, re-checked against their files per batch:
        # a refresh is what rescues orphans.
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
