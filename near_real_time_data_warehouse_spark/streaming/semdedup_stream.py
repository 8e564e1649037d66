"""Streaming SemDedup maintenance: a foreachBatch fold that keeps the
within-cluster semantic near-dup pair set current as embedding batches
arrive — the streaming twin of ``operators/clustering.semdedup_pairs``
(the "every incremental kernel has a streaming form" set: SCD2, dedup
graph, rollup, IVF, k-means domains, and now SemDedup).

State layout at ``state_dir``:
  - ``centroids/`` — kmeans_stream's integer-microunit centroid state,
    trained ONCE by the first batch (the standing corpus), never
    retrained silently (domain drift is a retraining decision).
  - ``members/`` — (cluster_id, vec_id, embedding), partitioned by
    (cluster_id, _epoch): cluster first so a batch's pair pass reads
    ONLY its touched clusters' partitions (partition pruning), epoch
    second so a re-delivered batch overwrites its own member rows.
  - ``pairs/`` — (vec_a, vec_b, cluster_id, cosine) in ``_epoch``
    partitions with dynamic overwrite (replay-idempotent).

Per micro-batch cost ∝ |batch| × |touched clusters' members|: the batch
assigns against the broadcast K×64 state (one Arrow pass), the pair
kernel computes the NEW×(old ∪ new) cosine block per touched cluster —
never all-pairs over the standing members, never a corpus re-scan. The
old-member read excludes the current epoch's own partitions, so a
replayed epoch reproduces exactly its original pairs. Every cosine is
the same exact-int64-dot / sqrt·sqrt chain as the batch kernel
(multiplication order differences are IEEE-commutative), so the drained
pair set is bit-equal to the batch twin — tested.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.clustering import (
    ASSIGN_CARRY_SCHEMA,
    SEMDEDUP_COSINE,
    _assign_carry_fn,
    _shard_counts,
    _train_state_on,
)
from ..operators.similarity import _quant_np
from ..sources.maintenance import path_exists
from .fold import overwrite_partitions, read_standing, run_concurrent
from .kmeans_stream import _load_state, _save_state

_PAIR_SCHEMA = "vec_a long, vec_b long, cluster_id long, cosine double"


def merge_semdedup_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, epoch_id: int = 0
) -> None:
    """Fold one embedding batch (vec_id, embedding) into the persisted
    SemDedup state. First batch trains the centroids (full exact Lloyd
    loop on that batch); every batch is assigned against the stored
    state, paired against its clusters' standing members plus itself,
    and appended to the member store."""
    if batch.isEmpty():
        return
    cent_dir = f"{state_dir}/centroids"
    mem_dir = f"{state_dir}/members"
    pair_dir = f"{state_dir}/pairs"

    batch = batch.select("vec_id", "embedding")
    cold_start = not path_exists(spark, cent_dir)
    if cold_start:
        # two consumers (training + the assignment pass) — materialize once
        batch = batch.localCheckpoint(eager=True)
        ids, m = _train_state_on(batch)
    else:
        # warm path: the batch feeds exactly ONE consumer (the assignment
        # pass, which is itself checkpointed) — skip the batch checkpoint
        # (r14, guide §1.2)
        ids, m = _load_state(spark, cent_dir)

    assigned = batch.mapInPandas(
        _assign_carry_fn(ids, m), ASSIGN_CARRY_SCHEMA
    ).localCheckpoint(eager=True)

    new_flagged = assigned.withColumn("is_new", F.lit(True))
    standing = read_standing(spark, mem_dir, epoch_id)
    if standing is not None:
        # the touched-cluster list is only needed to prune the standing
        # member read — on cold start (no members yet) skip its collect
        touched = [
            r["cluster_id"]
            for r in assigned.select("cluster_id").distinct().collect()
        ]
        old = (
            standing.filter(F.col("cluster_id").isin(touched))
            .select("cluster_id", "vec_id", "embedding")
            .withColumn("is_new", F.lit(False))
        )
        union = new_flagged.unionByName(old)
    else:
        union = new_flagged

    def _pairs_block(key_cluster: int, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        q = _quant_np(pdf["embedding"])
        vids = pdf["vec_id"].to_numpy(np.int64)
        nrm = np.sqrt((q * q).sum(axis=1).astype(np.float64))
        is_new = pdf["is_new"].to_numpy(bool)
        qn, idn, nn = q[is_new], vids[is_new], nrm[is_new]
        # NEW × (old ∪ new) block — cost ∝ batch members, not |cluster|²
        cos = (qn @ q.T) / (nn[:, None] * nrm[None, :])
        # old partners always emit (canonical a<b); new-new pairs emit
        # once, from the smaller-id row
        keep = (
            (cos >= SEMDEDUP_COSINE)
            & (idn[:, None] != vids[None, :])
            & ~(is_new[None, :] & (idn[:, None] > vids[None, :]))
        )
        ii, jj = np.nonzero(keep)
        return pd.DataFrame(
            {
                "vec_a": np.minimum(idn[ii], vids[jj]),
                "vec_b": np.maximum(idn[ii], vids[jj]),
                "cluster_id": np.full(len(ii), key_cluster, dtype=np.int64),
                "cosine": cos[ii, jj],
            },
            columns=["vec_a", "vec_b", "cluster_id", "cosine"],
        )

    def _build_pairs() -> DataFrame:
        # Same executor-memory guard as the batch kernel: a skew-hot
        # cluster's union (standing members + batch) above the cap is
        # hash-split into block pairs; each group holds ≤ 2·cap rows. The
        # NEW×partner emission rule is per-pair, so it is split-invariant —
        # a (new, x) pair lives in exactly one (shard_new, shard_x) group.
        shards = _shard_counts(union)
        if all(v == 1 for v in shards.values()):

            def per_cluster(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
                return _pairs_block(int(key[0]), pdf)

            return union.groupBy("cluster_id").applyInPandas(
                per_cluster, _PAIR_SCHEMA
            )

        def explode_blocks(it):
            for pdf in it:
                if pdf.empty:
                    continue
                out = []
                for cid, vid, emb, new in zip(
                    pdf["cluster_id"].astype("int64"),
                    pdf["vec_id"].astype("int64"),
                    pdf["embedding"],
                    pdf["is_new"],
                ):
                    n_sh = shards[int(cid)]
                    sh = int(vid) % n_sh
                    for t in range(n_sh):
                        out.append(
                            {
                                "cluster_id": int(cid),
                                "bi": min(sh, t),
                                "bj": max(sh, t),
                                "vec_id": int(vid),
                                "embedding": emb,
                                "is_new": bool(new),
                            }
                        )
                yield pd.DataFrame(out)

        exploded = union.mapInPandas(
            explode_blocks,
            "cluster_id long, bi int, bj int, vec_id long, "
            "embedding array<float>, is_new boolean",
        )

        def per_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            cid, bi, bj = key
            if bi == bj:
                return _pairs_block(int(cid), pdf)
            # cross-block: only pairs whose members sit in DIFFERENT
            # shards belong here — restrict the partner axis per row
            pdf = pdf.sort_values("vec_id")
            shard = pdf["vec_id"].to_numpy(np.int64) % shards[int(cid)]
            q = _quant_np(pdf["embedding"])
            vids = pdf["vec_id"].to_numpy(np.int64)
            nrm = np.sqrt((q * q).sum(axis=1).astype(np.float64))
            is_new = pdf["is_new"].to_numpy(bool)
            rows_i = is_new & (shard == bi)
            rows_j = is_new & (shard == bj)
            frames = []
            for rmask, pmask in ((rows_i, shard == bj), (rows_j, shard == bi)):
                if not rmask.any() or not pmask.any():
                    continue
                qn, idn, nn = q[rmask], vids[rmask], nrm[rmask]
                qp, idp, np_, newp = q[pmask], vids[pmask], nrm[pmask], is_new[pmask]
                cos = (qn @ qp.T) / (nn[:, None] * np_[None, :])
                keep = (
                    (cos >= SEMDEDUP_COSINE)
                    & (idn[:, None] != idp[None, :])
                    & ~(newp[None, :] & (idn[:, None] > idp[None, :]))
                )
                ii, jj = np.nonzero(keep)
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_a": np.minimum(idn[ii], idp[jj]),
                            "vec_b": np.maximum(idn[ii], idp[jj]),
                            "cluster_id": np.full(len(ii), cid, dtype=np.int64),
                            "cosine": cos[ii, jj],
                        },
                        columns=["vec_a", "vec_b", "cluster_id", "cosine"],
                    )
                )
            if not frames:
                return pd.DataFrame(
                    {"vec_a": [], "vec_b": [], "cluster_id": [], "cosine": []}
                ).astype(
                    {"vec_a": "int64", "vec_b": "int64", "cluster_id": "int64", "cosine": "float64"}
                )
            return pd.concat(frames, ignore_index=True)

        return exploded.groupBy("cluster_id", "bi", "bj").applyInPandas(
            per_block, _PAIR_SCHEMA
        )

    if cold_start:
        # no standing members yet: the pair pass AND the shard-count
        # probe read only the assigned checkpoint, so the centroid-state
        # write, the member write, and the whole count→pair→write chain
        # are three independent jobs (§2.6) — the shard-count collect
        # now overlaps the other two writes instead of gating them (r14)
        run_concurrent(
            lambda: _save_state(spark, ids, m, cent_dir),
            lambda: overwrite_partitions(_build_pairs(), pair_dir, epoch_id=epoch_id),
            lambda: overwrite_partitions(
                assigned, mem_dir, "cluster_id", epoch_id=epoch_id
            ),
        )
    else:
        # warm path stays sequential: the shard probe and the pair pass
        # READ mem_dir (the standing members) while the member write
        # REWRITES this epoch's partitions of the same store —
        # overlapping them would race the reader's file listing against
        # the writer's partition commit
        overwrite_partitions(_build_pairs(), pair_dir, epoch_id=epoch_id)
        overwrite_partitions(assigned, mem_dir, "cluster_id", epoch_id=epoch_id)


def read_semdedup_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained pair set (vec_a, vec_b, cluster_id, cosine)."""
    return spark.read.parquet(f"{state_dir}/pairs").select(
        "vec_a", "vec_b", "cluster_id", "cosine"
    )

