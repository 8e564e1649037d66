"""Streaming k-means domain maintenance: a foreachBatch sink that keeps
the domain-assignment state current as embedding batches arrive — the
streaming twin of ``operators/clustering``, extending the "every
incremental kernel has a streaming form" set (SCD2, dedup graph,
rollup, IVF, and now the k-means domains).

State layout at ``state_dir``:
  - ``centroids/`` — the trained integer-microunit centroid state as
    (cluster_id, dim, value) rows: written ONCE by the first batch
    (the standing corpus trains the domains via the full exact Lloyd
    loop — bit-reproducible), then never retrained. Domain drift is a
    retraining decision, not something a fold should do silently.
  - ``assignments/`` — (vec_id, cluster_id, dist_sq) domain membership,
    landed in ``_epoch=<id>`` partitions with dynamic partition
    overwrite so a re-delivered epoch replaces its own rows instead of
    appending duplicates (the fold.py exactly-once discipline).

Per micro-batch cost ∝ batch: one Arrow-batched exact-int64 assignment
pass against the broadcast K×64 centroid state — never a corpus
re-scan, never a retrain. The drained end state is bit-equal to the
batch kernel applied to (train corpus, arriving batches) — tested:
stream ≡ batch, double-applied epoch ≡ once.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..operators.clustering import _assign_frame, _train_state_on
from ..sources.maintenance import path_exists
from .fold import overwrite_partitions, run_concurrent


def _save_state(
    spark: SparkSession, ids: np.ndarray, m: np.ndarray, path: str
) -> None:
    rows = [
        (int(ids[c]), int(d), int(m[c, d]))
        for c in range(len(ids))
        for d in range(m.shape[1])
    ]
    spark.createDataFrame(rows, "cluster_id long, dim int, value long").write.mode(
        "overwrite"
    ).parquet(path)


def _load_state(spark: SparkSession, path: str) -> tuple[np.ndarray, np.ndarray]:
    """Surviving cluster ids (sorted) + their centroid matrix — empty
    clusters dropped at training stay dropped, so the dense max+1 trick
    would fabricate zero centroids."""
    pdf = spark.read.parquet(path).toPandas()
    ids = np.sort(pdf["cluster_id"].unique()).astype(np.int64)
    pos = {int(c): i for i, c in enumerate(ids)}
    m = np.zeros((len(ids), int(pdf["dim"].max()) + 1), dtype=np.int64)
    for cid, d, v in zip(pdf["cluster_id"], pdf["dim"], pdf["value"]):
        m[pos[int(cid)], int(d)] = int(v)
    return ids, m


def merge_kmeans_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, epoch_id: int = 0
) -> None:
    """Fold one embedding batch (vec_id, embedding) into the persisted
    domain state. First batch trains the centroids (full exact Lloyd
    loop on that batch — the standing corpus); every batch, including
    the first, is assigned against the stored state at cost ∝ batch."""
    if batch.isEmpty():
        return
    cent_dir = f"{state_dir}/centroids"
    assign_dir = f"{state_dir}/assignments"

    batch = batch.select("vec_id", "embedding")
    if not path_exists(spark, cent_dir):
        # cold start: the batch feeds TWO consumers (training + the
        # assignment write) — materialize it once
        batch = batch.localCheckpoint(eager=True)
        ids, m = _train_state_on(batch)
        # the centroid-state write and the assignment write are
        # independent jobs once (ids, m) is on the driver (§2.6)
        assigned = _assign_frame(batch, ids, m)
        run_concurrent(
            lambda: _save_state(spark, ids, m, cent_dir),
            lambda: overwrite_partitions(assigned, assign_dir, epoch_id=epoch_id),
        )
        return

    # warm path: the batch feeds exactly ONE consumer (the assignment
    # write scans it once) — a checkpoint would materialize it only to
    # re-read it once, a whole wasted job per merge (r14, guide §1.2)
    ids, m = _load_state(spark, cent_dir)
    assigned = _assign_frame(batch, ids, m)
    overwrite_partitions(assigned, assign_dir, epoch_id=epoch_id)


def read_kmeans_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained domain membership (vec_id, cluster_id, dist_sq)."""
    return spark.read.parquet(f"{state_dir}/assignments").select(
        "vec_id", "cluster_id", "dist_sq"
    )

