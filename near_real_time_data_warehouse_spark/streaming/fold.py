"""The one owner of how a micro-batch sink reads its source, runs, and
reads and writes its state.

Every continuous process in the package — the ETL sinks, the SCD2
dimension, the rollup, the snapshot sink and the twelve folds — is the
same Structured Streaming query (SIGMOD 2018): a file stream, one
``foreachBatch`` sink per micro-batch, checkpointed offsets, drained by
``availableNow``. ``foreachBatch`` alone is at-least-once: a crash
between the sink's writes and the checkpoint commit replays the epoch.
Exactly-once therefore comes from the sink's state writes, which are
per-write dynamic partition overwrites — with ``_epoch`` among the
partition columns a replayed epoch replaces its own rows instead of
appending duplicates.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..sources.maintenance import path_exists


def parquet_stream(
    spark: SparkSession, source_dir: str, schema, max_files_per_trigger: int
) -> DataFrame:
    """A parquet file stream over ``source_dir`` with the declared
    schema, at most ``max_files_per_trigger`` files per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def drain(
    stream: DataFrame,
    checkpoint_dir: str,
    sink: Callable[[SparkSession, DataFrame, int], object],
) -> None:
    """Run ``sink(spark, batch, epoch_id)`` on every micro-batch of
    ``stream`` until the input available at start is drained
    (availableNow), with offsets checkpointed in ``checkpoint_dir``.
    Blocks until the drain ends; a sink failure is re-raised here and
    leaves its epoch uncommitted, so a rerun replays it."""

    def each(batch: DataFrame, epoch_id: int) -> None:
        sink(batch.sparkSession, batch, epoch_id)

    (
        stream.writeStream.foreachBatch(each)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_fold(
    spark: SparkSession,
    merge: Callable[..., object],
    source_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain the parquet files available under ``source_dir``
    (availableNow), folding each micro-batch into ``state_dir`` with
    ``merge(spark, batch, state_dir=state_dir, epoch_id=epoch_id)``.
    ``state_dir`` and ``epoch_id`` go by keyword, so a fold with further
    inputs binds them with ``functools.partial``."""
    drain(
        parquet_stream(spark, source_dir, schema, max_files_per_trigger),
        checkpoint_dir,
        lambda s, batch, epoch_id: merge(
            s, batch, state_dir=state_dir, epoch_id=epoch_id
        ),
    )


def overwrite_partitions(
    df: DataFrame, out_dir: str, *partition_cols: str, epoch_id: int | None = None
) -> None:
    """Replace only the partitions of ``out_dir`` that ``df`` holds rows
    for. With ``epoch_id`` the rows are stamped with ``_epoch``, the last
    partition column, so a replayed epoch rewrites its own rows.

    partitionOverwriteMode is a PER-WRITE option (it takes precedence
    over the session conf) instead of a set-conf/try/finally toggle:
    sinks submit independent state writes concurrently
    (``run_concurrent``), and a session-global toggle would race — one
    thread's ``finally`` restoring "static" while another thread's write
    is still resolving the mode."""
    if epoch_id is not None:
        df = df.withColumn("_epoch", F.lit(epoch_id))
        partition_cols += ("_epoch",)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(out_dir)
    )


def run_concurrent(*thunks) -> list:
    """Submit independent Spark actions concurrently (opt guide §2.6):
    a fold's per-epoch state writes are independent jobs once their
    shared inputs are locally checkpointed, so one write's task tail
    back-fills with the next write's stages instead of each write paying
    its own full AQE stage-wave latency in sequence.

    Each thunk runs with a copy of the caller's Spark local properties,
    so inside foreachBatch its jobs stay in the streaming query's job
    group (and are cancelled with it). Returns the thunks' results in
    order; the first failure is re-raised after every thunk has ended."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    if len(thunks) == 1:
        return [thunks[0]()]
    session = SparkSession.active()
    with ThreadPoolExecutor(len(thunks)) as pool:
        futures = [pool.submit(inheritable_thread_target(session)(t)) for t in thunks]
        return [f.result() for f in futures]


def read_epoch(
    spark: SparkSession, out_dir: str, epoch_id: int, schema: str
) -> DataFrame:
    """The just-written epoch's rows back from a state dir — the cheap
    return frame for folds whose output IS their state write. An
    all-empty partitioned write leaves only _SUCCESS (no schema), which
    reads as an empty frame of the declared schema.

    INVARIANT (ADVICE r13): dynamic partition overwrite replaces NOTHING
    when the written frame is empty, so if a REPLAYED epoch could ever
    produce zero rows where the original produced some, this read-back
    would return the stale prior partition instead of the empty result.
    Safe here because folds are deterministic functions of (batch,
    standing state minus this epoch): a replayed epoch recomputes the
    identical frame, so "was non-empty, replays empty" cannot happen —
    any caller relaxing that determinism must delete the epoch partition
    before an empty write."""
    try:
        return (
            spark.read.parquet(out_dir)
            .filter(F.col("_epoch") == epoch_id)
            .drop("_epoch")
        )
    except AnalysisException:
        return spark.createDataFrame([], schema)


def read_standing(spark: SparkSession, path: str, epoch_id: int) -> DataFrame | None:
    """The standing side of an ``_epoch``-partitioned state dir: every
    OTHER epoch's rows, ``_epoch`` dropped — so a replayed epoch sees
    exactly the state its first delivery saw and never pairs with
    itself. None when the dir does not exist yet (cold start)."""
    if not path_exists(spark, path):
        return None
    return spark.read.parquet(path).filter(F.col("_epoch") != epoch_id).drop("_epoch")


def read_state(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """A state table, or an empty frame of the declared ``schema`` when
    there is none yet: the path does not exist, or a partitioned write
    of an empty frame left only _SUCCESS (no footers to infer a schema
    from). The existence probe goes through the Hadoop FileSystem, so
    any URI scheme works."""
    if not path_exists(spark, path):
        return spark.createDataFrame([], schema)
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return spark.createDataFrame([], schema)
