"""Streaming IVF index maintenance: a foreachBatch sink that keeps the
ANN index state (centroid matrix + inverted-list assignments) current as
embedding batches arrive — the streaming twin of
``operators/similarity.ann_ivf_incremental``, completing the "every
incremental kernel has a streaming form" set (SCD2, dedup graph, rollup,
and now IVF).

State layout at ``state_dir``:
  - ``centroids/``  — the trained centroid matrix as exact-integer rows
    (centroid, dim, value): written ONCE by the first batch (bounded
    deterministic sample, integer Lloyd — bit-reproducible), then never
    retrained. Stale-centroid retrieval quality is the batch entry's
    recall gate; the stream only maintains the lists.
  - ``assignments/`` — (neighbor_id, centroid) inverted-list membership,
    landed in ``_epoch=<id>`` partitions with dynamic partition
    overwrite so a re-delivered epoch replaces its own rows instead of
    appending duplicates (the fold.py exactly-once discipline).

Per micro-batch cost ∝ batch: one Arrow-batched assignment pass against
the broadcast centroid block — never a corpus re-scan, never a retrain.
The drained end state is bit-equal to the from-scratch batch build over
the same data (tested: stream ≡ batch, double-applied epoch ≡ once).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import _assign_lists, _train_centroids_on_sample
from ..sources.maintenance import path_exists
from .fold import overwrite_partitions, run_concurrent


def _save_centroids(spark: SparkSession, cmat: np.ndarray, path: str) -> None:
    rows = [
        (int(c), int(d), int(cmat[c, d]))
        for c in range(cmat.shape[0])
        for d in range(cmat.shape[1])
    ]
    spark.createDataFrame(rows, "centroid int, dim int, value long").write.mode(
        "overwrite"
    ).parquet(path)


def _load_centroids(spark: SparkSession, path: str) -> np.ndarray:
    pdf = spark.read.parquet(path).toPandas()
    n_c = int(pdf["centroid"].max()) + 1
    n_d = int(pdf["dim"].max()) + 1
    cmat = np.zeros((n_c, n_d), dtype=np.int64)
    cmat[pdf["centroid"].to_numpy(), pdf["dim"].to_numpy()] = pdf["value"].to_numpy(
        np.int64
    )
    return cmat


def merge_ivf_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, epoch_id: int = 0
) -> None:
    """Fold one embedding batch (vec_id, embedding) into the persisted
    IVF state at ``state_dir``. First batch trains the centroids
    (bounded sample); every batch — including the first — is assigned
    against the stored state at cost ∝ batch."""
    if batch.isEmpty():
        return
    cent_dir = f"{state_dir}/centroids"
    assign_dir = f"{state_dir}/assignments"

    batch = batch.select("vec_id", "embedding")
    if not path_exists(spark, cent_dir):
        # cold start: the batch feeds TWO consumers (training + the
        # assignment write) — materialize it once
        batch = batch.localCheckpoint(eager=True)
        cmat = _train_centroids_on_sample(batch)
        # the centroid write and the assignment write are independent
        # jobs once cmat is on the driver — submit concurrently (§2.6)
        assigned = _assign_lists(spark, batch, cmat)
        run_concurrent(
            lambda: _save_centroids(spark, cmat, cent_dir),
            lambda: overwrite_partitions(assigned, assign_dir, epoch_id=epoch_id),
        )
        return

    # warm path: the batch feeds exactly ONE consumer (the assignment
    # write scans it once) — skip the checkpoint (r14, guide §1.2)
    cmat = _load_centroids(spark, cent_dir)
    assigned = _assign_lists(spark, batch, cmat)
    overwrite_partitions(assigned, assign_dir, epoch_id=epoch_id)


def read_ivf_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained inverted-list membership (neighbor_id, centroid)."""
    return spark.read.parquet(f"{state_dir}/assignments").select(
        "neighbor_id", "centroid"
    )

