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

Per micro-batch the sink makes one ``etl.load_star_batch`` call: one
aggregate over the persisted batch yields its key sets (bounded by the
masters) and, on the metered path, the loaded/evicted counts; the fact
write and the appends of dimensions with new keys then run concurrently.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..etl import (
    enrich,
    enrich_flagged,
    load_star_batch,
    orphan_transactions,
    read_customer_master,
    read_product_master,
    read_transactions,
)
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

    With a ``metrics`` ledger the enrichment keeps the customer leg as a
    flagged LEFT join (``enrich_flagged``): the loader's one aggregate over
    the already-joined batch also counts loaded vs evicted rows, and only
    the matched rows are loaded — facts are bit-identical to the default
    path, and the reference's per-batch eviction counters
    (hybrid_join.py:208,236,354) become observable."""
    cust = read_customer_master(spark, customer_master_path)
    prod = read_product_master(spark, product_master_path)
    stream = read_transactions(
        spark, transactions_dir, streaming=True, max_files_per_trigger=max_files_per_trigger
    )
    enriched = (
        enrich(stream, cust, prod) if metrics is None
        else enrich_flagged(stream, cust, prod)
    )

    def sink(batch_df, epoch_id: int) -> None:  # noqa: ANN001
        # epoch_id keys the fact write's overwrite directory: foreachBatch
        # alone is at-least-once, and a crash between the fact append and
        # the checkpoint commit would replay the batch; the per-epoch
        # overwrite (+ first-writer-wins dim upserts) makes the replay
        # idempotent. load_star_batch is looked up in this module at call
        # time, so a caller may wrap it (the traced benchmark run does).
        counts = load_star_batch(
            batch_df.sparkSession, batch_df, cust, prod, warehouse_dir, epoch_id=epoch_id
        )
        if metrics is not None:
            metrics.record(epoch_id, **counts)

    query = (
        enriched.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


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

    def sink(batch_df, epoch_id: int) -> None:  # noqa: ANN001
        if on_batch is not None:
            on_batch(epoch_id)
        s = batch_df.sparkSession
        # Re-read masters per batch: the refresh is what rescues orphans.
        cust = read_customer_master(s, customer_master_path)
        prod = read_product_master(s, product_master_path)
        from ..sources.maintenance import path_exists

        full = batch_df
        if path_exists(s, orphans_dir):
            full = batch_df.unionByName(s.read.schema(batch_df.schema).parquet(orphans_dir))
        # Materialize BEFORE overwriting orphans_dir (read-overwrite hazard).
        orphans = orphan_transactions(full, cust).localCheckpoint(eager=True)
        load_star_batch(s, enrich(full, cust, prod), cust, prod, warehouse_dir, epoch_id=epoch_id)
        orphans.write.mode("overwrite").parquet(orphans_dir)

    query = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
